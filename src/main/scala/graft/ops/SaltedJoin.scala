package graft.ops

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.Session.table

/** Salted replicated join — the hot-key defence for shuffle joins. When one
  * join key carries a disproportionate share of the fact rows, a plain
  * hash-partitioned join sends that key's entire volume to ONE reducer; the
  * fix is to widen the key: fact rows get a deterministic salt in [0, S)
  * derived from a non-key attribute, the (small-but-not-broadcastable) dim
  * side is replicated S×, and the join runs on (key, salt) — the hot key's
  * rows now spread across S reducers at the cost of S copies of the dim
  * rows. Exactly-once matching holds because each fact row carries ONE salt
  * and the dim carries ALL salts: every (fact, dim) pair meets exactly once.
  *
  * AQE's skew-join split handles MODERATE skew at runtime by splitting
  * oversized partitions, but it cannot split a single key; salting is the
  * static rewrite that can, and the one you reach for at 100 TB when one
  * partkey is 10% of the fact table. The tile pipeline uses the same trick
  * on hot cell prefixes (spatial/TileAssign.scala, SkewSpec); this operator
  * is the join-shaped form, gated against the UNSALTED relation: the DuckDB
  * oracle runs the plain join — salting must be invisible to the result.
  * SaltedJoinSpec asserts the executed plan's exchange actually partitions
  * on (key, salt) and that the merge hint kept broadcast out (a broadcast
  * would make the salt a no-op).
  */
object SaltedJoin {

  /** Gate query (q85): revenue by part type through a salted S=8 join of
    * lineitem (salted on l_linenumber, a non-join attribute) against part
    * replicated 8×. */
  def revenueByType(spark: SparkSession, dir: String): DataFrame = {
    val fact = table(spark, dir, "lineitem")
      .select(col("l_partkey"), col("l_extendedprice"),
        pmod(col("l_linenumber"), lit(8)).as("salt"))
    val dim = table(spark, dir, "part").select(col("p_partkey"), col("p_type"))
      .withColumn("salt", explode(array((0 until 8).map(lit): _*)))
    fact.hint("merge")
      .join(dim, col("l_partkey") === col("p_partkey") &&
        fact("salt") === dim("salt"))
      .groupBy(col("p_type"))
      .agg(count(lit(1)).as("n_items"),
        sum(floor(col("l_extendedprice") * lit(100.0) + lit(0.5)).cast("long"))
          .as("revenue_cents"))
  }
}
