package graft.ops

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.Session.table

/** Change-point detection and rank statistics — the monitoring leg next to
  * q163's drift metric.
  */
object Changepoint {

  /** Gate query (q168) — one-sided CUSUM per event_type over daily counts,
    * kept exact: deviations are cleared of the mean WITHOUT division
    * (d_t = nd·x_t − total, which sums to zero), and the recursive
    * s_t = max(0, s_{t−1} + d_t) is rewritten with the prefix identity
    * s_t = P_t − min(0, min_{j≤t} P_j) — two window functions instead of a
    * sequential fold, so the scan distributes. Emits the change magnitude
    * (max_t s_t, scaled by nd) and the earliest day attaining it. */
  def cusum(spark: SparkSession, dir: String): DataFrame = {
    val daily = table(spark, dir, "events")
      .select(col("event_type"),
        datediff(col("ts").cast("date"), lit("2024-01-01").cast("date"))
          .cast("long").as("day"))
      .groupBy("event_type", "day").agg(count(lit(1)).as("x"))
    val tot = daily.groupBy("event_type")
      .agg(sum(col("x")).as("total"), count(lit(1)).as("nd"))
    val wOrd = Window.partitionBy("event_type").orderBy("day")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val s = daily.join(broadcast(tot), Seq("event_type"))
      .withColumn("d", col("nd") * col("x") - col("total"))
      .withColumn("p", sum(col("d")).over(wOrd))
      .withColumn("s", col("p") - least(lit(0L), min(col("p")).over(wOrd)))
    val cm = s.groupBy("event_type").agg(max(col("s")).as("cusum_max"))
    s.join(broadcast(cm), Seq("event_type"))
      .where(col("s") === col("cusum_max"))
      .groupBy("event_type")
      .agg(max(col("cusum_max")).as("cusum_max"), min(col("day")).as("peak_day"),
        max(col("nd")).as("nd"))
  }

  /** Gate query (q188) — lag-k autocorrelation of the daily count series
    * per event_type (k = 1 and 7: day-over-day persistence and weekly
    * seasonality — the two numbers a forecasting pipeline checks first).
    * Pearson over the (x_t, x_{t+k}) pair relation with q166's discipline:
    * integer moments, n-scaled covariance/variances exact, FP only in the
    * final floor(·10⁶/(√·√)+0.5). Pairs come from a lead window over the
    * tiny daily rollup — consecutive CALENDAR days (day+k present), gaps
    * drop the pair rather than spanning them. */
  def autocorr(spark: SparkSession, dir: String): DataFrame = {
    val daily = table(spark, dir, "events")
      .select(col("event_type"),
        datediff(col("ts").cast("date"), lit("2024-01-01").cast("date"))
          .cast("long").as("day"))
      .groupBy("event_type", "day").agg(count(lit(1)).as("x"))
    val right = daily.select(col("event_type").as("retype"),
      col("day").as("rday"), col("x").as("y"))
    val lags = Seq(1L, 7L)
    import daily.sparkSession.implicits._
    val lagDf = lags.toDF("lag")
    daily.crossJoin(broadcast(lagDf))
      .join(right, col("retype") === col("event_type") &&
        col("rday") === col("day") + col("lag"))
      .groupBy("event_type", "lag")
      .agg(count(lit(1)).as("n"), sum(col("x")).as("sx"), sum(col("y")).as("sy"),
        sum(col("x") * col("x")).as("sxx"), sum(col("y") * col("y")).as("syy"),
        sum(col("x") * col("y")).as("sxy"))
      .select(col("event_type"), col("lag"), col("n"),
        (col("n") * col("sxy") - col("sx") * col("sy")).as("cov_n"),
        floor((col("n") * col("sxy") - col("sx") * col("sy")).cast("double") * 1000000.0 /
          (sqrt((col("n") * col("sxx") - col("sx") * col("sx")).cast("double")) *
           sqrt((col("n") * col("syy") - col("sy") * col("sy")).cast("double")))
          + 0.5).cast("long").as("ac_e6"))
  }

  /** Gate query (q169) — exact Spearman rank correlation between line price
    * and quantity: doubled mid-ranks (2·below + at + 1, the q160 tie
    * treatment) centered by their exact integer mean (n+1), so the
    * correlation is Σc_x·c_y / √(Σc_x²·Σc_y²) with every sum an exact
    * integer — no n-scaling, no overflow through sf0.1, and the single FP
    * tail is the q154 discipline. Each rank map is the ungrouped
    * [[OrderStats.distribution]] of one column, whose total gives n. */
  def spearman(spark: SparkSession, dir: String): DataFrame = {
    val base = table(spark, dir, "lineitem").select(
      floor(col("l_extendedprice") / 100.0 + 0.5).cast("long").as("vx"),
      floor(col("l_quantity") + 0.5).cast("long").as("vy"))
    // centered doubled mid-rank: 2·below + at + 1 − (n + 1)
    def rankMap(v: String): DataFrame =
      OrderStats.distribution(base, Nil, v, "c" -> lit(1L))
        .select(col(v), col("tot_c").as(s"n_$v"),
          (lit(2L) * (col("cum_c") - col("c")) + col("c") + 1L - (col("tot_c") + 1L)).as(s"c_$v"))
    val joined = base
      .join(rankMap("vx"), Seq("vx"))
      .join(rankMap("vy"), Seq("vy"))
    joined.agg(max(col("n_vx")).as("n"),
        sum(col("c_vx") * col("c_vy")).as("sxy"),
        sum(col("c_vx") * col("c_vx")).as("sxx"),
        sum(col("c_vy") * col("c_vy")).as("syy"))
      .select(col("n"), col("sxy"), col("sxx"), col("syy"),
        floor(col("sxy").cast("double") * 1000000.0 /
          (sqrt(col("sxx").cast("double")) * sqrt(col("syy").cast("double")))
          + 0.5).cast("long").as("spearman_e6"))
  }
}
