package graft.ops
// (bitmap-index operator appended at the bottom of this file — q140)

import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.Session.table
import graft.functions.SeedExprs

/** KMV (k-minimum-values) distinct-count sketch — the mergeable sketch tier
  * for COUNT(DISTINCT) at 100 TB. The sketch is the k smallest DISTINCT
  * splitmix64 hash values of the key in unsigned order; the estimator is the
  * classic unbiased KMV form n̂ = (k−1)·2⁶⁴ / h₍ₖ₎ (Bar-Yossef et al.,
  * "Counting distinct elements in a data stream", RANDOM 2002). Everything
  * is integer-exact and order-free: the hash is the engine's one hash family
  * (splitmix64, already SQL-replicated by OracleSql.mix), unsigned order is
  * signed order on h XOR Long.MinValue, and the estimate is one 128-bit
  * integer floor-division — so the DuckDB oracle reproduces the ENTIRE
  * sketch, ranks, and estimate bit-for-bit (no FP, no merge-order terms).
  *
  * Scale shape: one hash projection, one int-only distinct exchange (8-byte
  * rows — the exact-dedup shape), then TakeOrderedAndProject (per-partition
  * top-k heaps, k rows to the driver). The driver math is O(k). Sketches
  * merge by union-and-retruncate ([[merge]]), which SketchSpec pins against
  * the sketch of the union — the property that makes per-partition /
  * per-day sketches composable into a global estimate without a rescan.
  */
object Sketches {

  private val Mask64 = (BigInt(1) << 64) - 1

  /** HLL precision: m = 2^HllP registers (q87, q99, q103 and their oracles). */
  val HllP = 6
  /** KMV sizes of q83 and q96 and q96's ship-date split (their oracles read them). */
  val DistinctK = 64
  val IntersectK = 256
  val IntersectCut = "1998-06-01"

  /** The k minimum distinct hash values (unsigned order) of `keyCol`. */
  def kmvHashes(df: DataFrame, keyCol: String, k: Int): Array[Long] =
    df.select(SeedExprs.mix64(col(keyCol)).as("h")).distinct()
      .withColumn("uh", col("h").bitwiseXOR(lit(Long.MinValue)))
      .orderBy("uh").limit(k)
      .select("h").collect().map(_.getLong(0))

  /** KMV estimate from a sorted-unsigned sketch: exact integer floor-div;
    * a sketch that never filled (n < k) has seen every value → exact n. */
  def estimate(hashes: Array[Long], k: Int): Long = {
    val u = hashes.map(h => BigInt(h) & Mask64).sorted
    if (u.length < k) u.length.toLong
    else ((BigInt(k - 1) << 64) / u.last).toLong
  }

  /** Merge two sketches: union of distinct hashes, re-truncate to k. */
  def merge(a: Array[Long], b: Array[Long], k: Int): Array[Long] =
    (a ++ b).distinct.sortBy(h => BigInt(h) & Mask64).take(k)

  // ---- HyperLogLog -------------------------------------------------------

  /** HLL registers of `keyCol` under splitmix64, p bits of bucket: for each
    * of m = 2^p buckets, the max over rows of ρ = 1 + clz(h << p) (59 = p+1
    * past the register width when the remaining bits are all zero). Unlike
    * KMV this needs NO distinct pass — duplicates cannot move a max — so
    * the only exchange is the (bucket → partial-max) rollup: m rows. Empty
    * buckets surface with r = 0 via the range(m) left join. */
  def hllRegisters(df: DataFrame, keyCol: String): DataFrame = {
    val regs = df.select(hllCell(col(keyCol)): _*).groupBy("bucket").agg(max("rho").as("r"))
    df.sparkSession.range(1 << HllP).select(col("id").as("bucket"))
      .join(regs, Seq("bucket"), "left").na.fill(0L, Seq("r"))
  }

  /** A key's register `bucket` (the top HllP bits of its splitmix64) and
    * `rho`, the register value it offers — the HLL row derivation of q87,
    * q99 and q103. */
  private[ops] def hllCell(key: Column): Seq[Column] = {
    val rest = shiftleft(SeedExprs.mix64(key), HllP)
    Seq(shiftrightunsigned(SeedExprs.mix64(key), 64 - HllP).as("bucket"),
      when(rest === 0L, lit((64 - HllP + 1).toLong))
        .otherwise(SeedExprs.clz64(rest) + lit(1L)).as("rho"))
  }

  /** Raw HLL estimate from the m register values, exact-integer: with
    * α_64 = 709/1000 (the Flajolet et al. constant for m = 64) and the
    * harmonic sum S = Σ 2^(59−ρ_b) kept as a BigInt, the estimate is ONE
    * integer floor division ⌊709·m²·2^59 / (1000·S)⌋ — merge-order-free,
    * so the DuckDB oracle replays it digit-for-digit (HUGEINT `//`).
    * Deliberately NO small/large-range corrections here: they need ln(),
    * which is not IEEE-pinned cross-engine; SketchSpec applies the
    * linear-counting correction Scala-side for the accuracy envelope. */
  def hllEstimate(registers: Array[Long]): Long = {
    val m = 1 << HllP
    val rmax = 64 - HllP + 1
    val s = registers.map(r => BigInt(1) << (rmax - r.toInt)).sum
    ((BigInt(709) * m * m * (BigInt(1) << rmax)) / (BigInt(1000) * s)).toLong
  }

  /** Gate query (q87): the 64 HLL registers of l_partkey with the raw
    * estimate on every row. */
  def hllDistinct(spark: SparkSession, dir: String): DataFrame = {
    val regs = hllRegisters(table(spark, dir, "lineitem"), "l_partkey")
      .collect().map(r => (r.getLong(0), r.getLong(1))).sortBy(_._1)
    val est = hllEstimate(regs.map(_._2))
    val rows = regs.map { case (b, r) => Row(b, r, est) }
    spark.createDataFrame(
      spark.sparkContext.parallelize(rows.toIndexedSeq, 1),
      StructType(Seq(StructField("bucket", LongType, nullable = false),
        StructField("r", LongType, nullable = false),
        StructField("est_distinct", LongType, nullable = false))))
  }

  /** Gate query (q99): HLL sketches AS GROUP COLUMNS — per event_type, the
    * raw-estimate distinct-user count from a per-group m=64 register file.
    * One hash aggregation keyed (group, bucket) builds every group's
    * registers at once (the shuffle carries ≤ groups·m rows); the BigInt
    * estimate math runs on the collected groups·m scalars. This is the
    * sketch-column pattern (per-dimension approximate distincts in one
    * pass) that replaces G sequential countDistinct jobs at 100 TB. */
  def hllDistinctPerGroup(spark: SparkSession, dir: String): DataFrame = {
    val regs = table(spark, dir, "events").select(col("event_type"), col("user_id"))
      .select(col("event_type") +: hllCell(col("user_id")): _*)
      .groupBy(col("event_type"), col("bucket")).agg(max(col("rho")).as("r"))
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2)))
    val rows = regs.groupBy(_._1).toSeq.map { case (etype, bs) =>
      val full = new Array[Long](1 << HllP)
      bs.foreach { case (_, b, r) => full(b.toInt) = r }
      Row(etype, hllEstimate(full))
    }
    spark.createDataFrame(
      spark.sparkContext.parallelize(rows, 1),
      StructType(Seq(StructField("event_type", StringType, nullable = false),
        StructField("est_users", LongType, nullable = false))))
  }

  /** Gate query (q83): the k=64 sketch of DISTINCT l_partkey with its rank
    * and the resulting estimate (same value on every row). */
  def kmvDistinct(spark: SparkSession, dir: String): DataFrame = {
    val hashes = kmvHashes(table(spark, dir, "lineitem"), "l_partkey", DistinctK)
    val sorted = hashes.sortBy(h => BigInt(h) & Mask64)
    val est = estimate(sorted, DistinctK)
    val rows = sorted.zipWithIndex.map { case (h, i) => Row(i + 1, h, est) }
    spark.createDataFrame(
      spark.sparkContext.parallelize(rows.toIndexedSeq, 1),
      StructType(Seq(StructField("rank", IntegerType, nullable = false),
        StructField("h", LongType, nullable = false),
        StructField("est_distinct", LongType, nullable = false))))
  }

  /** KMV set-operation estimates (Beyer et al., "On synopses for distinct-
    * value estimation under multiset operations", SIGMOD 2007): from the two
    * per-side sketches alone — no rescan — estimate |A∪B| via the merged
    * sketch and |A∩B| via ρ/k · n̂(A∪B), where ρ counts members of the
    * union sketch present in BOTH side sketches. This is the composability
    * story that matters at 100 TB: per-shard/per-day sketches (k longs each)
    * answer cross-set cardinality questions without touching the data
    * again. Integer-exact end to end: unsigned compares, one HUGEINT-style
    * floor division per estimate (BigInt on the Scala side), so the oracle
    * replays every number digit-for-digit.
    *
    * Gate query (q96): A = orderkeys shipping before [[IntersectCut]], B = after;
    * output one row (rho, est_union, est_inter). If the union sketch never
    * filled, both side sketches are their full sets and ρ IS |A∩B|. */
  def kmvIntersect(spark: SparkSession, dir: String): DataFrame = {
    val li = table(spark, dir, "lineitem").select(col("l_orderkey"), col("l_shipdate"))
    val cutTs = lit(IntersectCut).cast("timestamp")
    val a = kmvHashes(li.filter(col("l_shipdate") < cutTs), "l_orderkey", IntersectK)
    val b = kmvHashes(li.filter(col("l_shipdate") >= cutTs), "l_orderkey", IntersectK)
    val u = merge(a, b, IntersectK)
    val estU = estimate(u, IntersectK)
    val aSet = a.toSet; val bSet = b.toSet
    val rho = u.count(h => aSet(h) && bSet(h)).toLong
    val estI = if (u.length < IntersectK) rho else (BigInt(rho) * BigInt(estU) / IntersectK).toLong
    spark.createDataFrame(
      spark.sparkContext.parallelize(Seq(Row(rho, estU, estI)), 1),
      StructType(Seq(StructField("rho", LongType, nullable = false),
        StructField("est_union", LongType, nullable = false),
        StructField("est_inter", LongType, nullable = false))))
  }

  /** Gate query (q140): BITMAP-INDEX intersection — per event type, the
    * user universe packs into 64-bit words (`bit_or` of shifted bits, a
    * partial-aggregating sum-like op), and co-active cardinality between
    * every pair of types is `bit_count(a & b)` summed over aligned words.
    * The roaring-bitmap shape: set-intersection cardinality over N types
    * costs O(types² · words), independent of event count, and the word
    * relation IS the index a BI engine materializes. Activity is a sparse
    * deterministic sample (event_id % 13) so the per-type universes
    * genuinely differ (54–68 co-active of 150 — spec-asserted
    * non-degenerate). Exact integers end to end. */
  def bitmapIntersect(spark: SparkSession, dir: String): DataFrame = {
    import graft.Session.table
    import org.apache.spark.sql.functions._
    val b = table(spark, dir, "events")
      .where(col("event_id") % 13 === 0)
      .select(col("event_type"), expr("user_id div 64").as("wi"),
        expr("shiftleft(1L, cast(user_id % 64 as int))").as("bit"))
      .groupBy("event_type", "wi")
      .agg(expr("bit_or(bit)").as("w"))
    val r = b.select(col("event_type").as("tb"), col("wi"),
      col("w").as("wb"))
    b.join(r, b("wi") === r("wi") && b("event_type") < col("tb"))
      .select(b("event_type").as("ta"), col("tb"),
        expr("bit_count(w & wb)").cast("long").as("c"))
      .groupBy("ta", "tb").agg(sum(col("c")).as("n_both"))
  }
}
