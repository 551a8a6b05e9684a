package graft.ops

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.Session.table

/** Distribution-shift monitoring — the op a training pipeline runs between
  * data snapshots before trusting a refresh.
  */
object Drift {

  /** Gate query (q163) — total-variation drift: per event_type, the TV
    * distance between the value-bucket distributions of the first and
    * second half-month, kept EXACT: TV = Σ|c_a·n_b − c_b·n_a| over buckets,
    * scaled to e6 by div (2·n_a·n_b) — the common-denominator trick that
    * clears both normalizations without FP (PSI/KL need logs and would not
    * hash cross-engine; TV is the metric that stays rational).
    *
    * Scale shape: (type, bucket) counts aggregate map-side in one exchange;
    * the per-type totals are a tiny relation broadcast back; the fold is
    * over O(types·buckets) rows. */
  def tvDrift(spark: SparkSession, dir: String): DataFrame = {
    val bc = table(spark, dir, "events").select(
        col("event_type"),
        expr("floor(value * 100 + 0.5) div 5000").as("bucket"),
        when(col("ts") < lit("2024-01-16").cast("timestamp"), 1L).otherwise(0L)
          .as("in_a"))
      .groupBy("event_type", "bucket")
      .agg(sum(col("in_a")).as("ca"), sum(lit(1L) - col("in_a")).as("cb"))
    val tot = bc.groupBy("event_type")
      .agg(sum(col("ca")).as("na"), sum(col("cb")).as("nb"))
    bc.join(broadcast(tot), Seq("event_type"))
      .groupBy("event_type")
      .agg(max(col("na")).as("na"), max(col("nb")).as("nb"),
        count(lit(1)).as("n_buckets"),
        sum(abs(col("ca") * col("nb") - col("cb") * col("na"))).as("l1_num"))
      .select(col("event_type"), col("na"), col("nb"), col("n_buckets"),
        expr("(l1_num * 1000000) div (2 * na * nb)").as("tv_e6"))
  }

  /** Gate query (q182) — exact two-sample Kolmogorov–Smirnov statistic per
    * event_type (first vs second half-month over raw cents values): the
    * SUP-norm sibling of q163's TV, kept integer the same way —
    * KS·n_a·n_b = max over the merged value domain of |cumA·n_b − cumB·n_a|
    * (running counts, common denominator, no FP CDFs). Reports ks_e6 and
    * the value attaining it (smallest on ties, the argmax by max-struct of
    * (dev, −cents)). The per-type [[OrderStats.distribution]] weighted by
    * half-month A and by half-month B runs its windows over the distinct
    * values, never the events, and its one exchange serves the rollup. */
  def ksDrift(spark: SparkSession, dir: String): DataFrame = {
    val rows = table(spark, dir, "events").select(
        col("event_type"),
        floor(col("value") * 100.0 + 0.5).cast("long").as("cents"),
        when(col("ts") < lit("2024-01-16").cast("timestamp"), 1L).otherwise(0L)
          .as("in_a"))
    OrderStats.distribution(rows, Seq("event_type"), "cents",
        "a" -> col("in_a"), "b" -> (lit(1L) - col("in_a")))
      .withColumn("dev", abs(col("cum_a") * col("tot_b") - col("cum_b") * col("tot_a")))
      .groupBy("event_type")
      .agg(max(col("tot_a")).as("na"), max(col("tot_b")).as("nb"),
        max(struct(col("dev"), (-col("cents")).as("nc"))).as("m"))
      .select(col("event_type"), col("na"), col("nb"), (-col("m.nc")).as("ks_at_cents"),
        expr("(m.dev * 1000000) div (na * nb)").as("ks_e6"))
  }
}
