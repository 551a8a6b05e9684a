package graft.ops

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.Session.table

/** Mergeable equi-width histogram quantiles — the integer-exact sketch tier
  * for percentiles at 100 TB. An exact quantile needs a global sort; the
  * histogram needs one hash aggregation: bin = value div W, per-bin counts
  * partial-merge (bin-wise sum — associative, merge-order-free), and the
  * quantile estimate is the lower edge of the first bin whose cumulative
  * count reaches ⌈q·N⌉ — within W of the exact value by construction
  * (HistQuantileSpec pins both the bound against Spark's exact sort-based
  * percentile and bin-wise-sum mergeability). Everything is 64-bit integer
  * arithmetic (cents, counts, basis points), so the DuckDB oracle replays
  * the ENTIRE sketch — bins, cumulative ranks, estimates — digit-for-digit.
  *
  * Scale shape: one partial+final agg over ≤ domain/W bins (~220 here),
  * the ungrouped [[OrderStats.distribution]] of `bin`; its cumulative and
  * total windows run on the BIN table (hundreds of rows, one partition —
  * deliberate: the data-sized exchange is the histogram agg, never a sort
  * of the input), and the data is scanned once. Spark's own
  * percentile_approx offers the same trade with data-adaptive bins; this
  * is the from-scratch form whose answer is provable cross-engine.
  */
object HistQuantile {

  /** Bin width (cents) and the quantiles (basis points) of q95. */
  private val WidthCents = 50000L
  private val QBps = Seq(5000, 9000, 9900)

  /** Gate query (q95): p50/p90/p99 of lineitem extendedprice (cents) from a
    * W = 50 000-cent histogram. Output: (q_bp, bin, est_cents). */
  def quantiles(spark: SparkSession, dir: String): DataFrame = {
    val bins = table(spark, dir, "lineitem")
      .select(floor(col("l_extendedprice") * lit(100.0) + lit(0.5)).cast("long")
        .as("cents"))
      .select(expr(s"cents div $WidthCents").as("bin"))
    import spark.implicits._
    val q = QBps.map(_.toLong).toDF("q_bp")
    // first bin whose cumulative rank reaches ceil(q·N/10^4) =
    // (q_bp·N + 9999) div 10^4, i.e. cum_n·10^4 ≥ q_bp·N (exact in 64-bit)
    OrderStats.distribution(bins, Nil, "bin", "n" -> lit(1L))
      .crossJoin(broadcast(q))
      .groupBy(col("q_bp"))
      .agg(OrderStats.atRank(col("bin"), col("cum_n"),
        expr("(q_bp * tot_n + 9999) div 10000")).as("bin"))
      .withColumn("est_cents", col("bin") * lit(WidthCents))
  }

  /** DuckDB replay of the identical sketch (shared by SparkEntry.oracleSql). */
  def oracle: String =
    s"""WITH c AS (SELECT floor(l_extendedprice * 100.0 + 0.5)::BIGINT AS cents FROM lineitem),
       |h AS (SELECT cents // $WidthCents AS bin, count(*)::BIGINT AS n FROM c GROUP BY 1),
       |cu AS (SELECT bin, sum(n) OVER (ORDER BY bin ROWS UNBOUNDED PRECEDING) AS cum_n FROM h),
       |t AS (SELECT count(*)::BIGINT AS total FROM c),
       |q AS (SELECT unnest([${QBps.mkString(", ")}])::BIGINT AS q_bp)
       |SELECT q_bp, min(bin)::BIGINT AS bin, (min(bin) * $WidthCents)::BIGINT AS est_cents
       |FROM cu, t, q WHERE cum_n * 10000 >= q_bp * total GROUP BY 1""".stripMargin
}
