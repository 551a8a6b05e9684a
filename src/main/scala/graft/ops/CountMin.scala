package graft.ops

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.Session.table
import graft.functions.SeedExprs

/** Count-Min sketch — the mergeable frequency sketch (Cormode & Muthu-
  * krishnan, "An improved data stream summary: the count-min sketch and its
  * applications", J. Algorithms 2005). d×w counters; row j counts rows whose
  * salted hash lands in its column; a key's estimate is the MIN over rows —
  * never an undercount, over by at most the collision mass (≤ εN w.h.p.).
  * Unlike Misra–Gries/SpaceSaving, the counters are PURE SUMS: partial
  * aggregation, merge-order-freedom, and an exact DuckDB replay all come for
  * free, which is why this is the heavy-hitter tier the engine ships.
  *
  * Scale shape: the build is one hash aggregation whose exchange carries at
  * most d·w cells per partition (the Expand for the d rows is map-side); the
  * estimate pass broadcasts the d·w-cell matrix (8 KB here) and never
  * shuffles the keys. Salted-mix hashing (mix(key ^ salt_j) & (w−1), w a
  * power of two) keeps insert and probe ANSI-safe and bit-identical to the
  * oracle's replay — the same hash-family discipline as BloomJoin.
  */
object CountMin {

  /** The sketch shape q97 runs: rows and counters per row; its oracle reads both. */
  val Depth = 4
  val Width = 256

  private def salt(j: Int): Long = (j + 1).toLong * 0x9E3779B97F4A7C15L

  private def colOf(key: Column, j: Int, w: Int): Column =
    SeedExprs.mix64(key.cast("long").bitwiseXOR(lit(salt(j))))
      .bitwiseAND(lit((w - 1).toLong))

  /** The d×w counter matrix of `keyCol` occurrences: (j, col, c). */
  def counters(df: DataFrame, keyCol: String, d: Int, w: Int): DataFrame = {
    require(Integer.bitCount(w) == 1, s"w must be a power of 2, got $w")
    df.select((0 until d).map(j => colOf(col(keyCol), j, w).as(s"c$j")): _*)
      .select(explode(array((0 until d).map(j =>
        struct(lit(j).as("j"), col(s"c$j").as("col"))): _*)).as("jc"))
      .groupBy(col("jc.j").as("j"), col("jc.col").as("col"))
      .agg(count(lit(1)).as("c"))
  }

  /** Gate query (q97): CMS(d=4, w=256) over lineitem partkey occurrences,
    * then the estimate (min over rows) for EVERY distinct partkey — each
    * estimate ≥ the true count, over only by collision mass. The counter
    * matrix is broadcast; keys never shuffle for the lookup. */
  def partkeyFreq(spark: SparkSession, dir: String, d: Int = Depth, w: Int = Width): DataFrame = {
    val li = table(spark, dir, "lineitem")
    val cm = counters(li, "l_partkey", d, w)
    val keys = li.select(col("l_partkey")).distinct()
      .select(col("l_partkey") +:
        (0 until d).map(j => colOf(col("l_partkey"), j, w).as(s"c$j")): _*)
    val probes = keys.select(col("l_partkey"),
      explode(array((0 until d).map(j =>
        struct(lit(j).as("j"), col(s"c$j").as("col"))): _*)).as("jc"))
    probes.join(broadcast(cm),
        probes("jc.j") === cm("j") && probes("jc.col") === cm("col"))
      .groupBy(col("l_partkey"))
      .agg(min(col("c")).as("est_n"))
  }
}
