package graft.ops

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.Session.table

/** Gap-based sessionization — the batch form of what Structured Streaming's
  * session windows compute incrementally: per user, a new session starts at
  * the first event and at every event whose gap from its predecessor
  * exceeds 30 minutes; the session id is the running count of session starts.
  *
  * Scale shape: ONE exchange total. The lag flag, the running sum, and the
  * final (user, session) rollup all key on `user_id` — Spark's
  * EnsureRequirements recognizes that HashPartitioning(user_id) satisfies
  * the clustered distribution of the two-key groupBy (same-key rows are
  * already co-located), so the windows and the aggregation share the single
  * shuffle (SessionizeSpec counts the exchanges). Per-user state is a sort
  * within the partition, not driver state — 10^9 users parallelize flat.
  */
object Sessionize {

  /** q118's segment-break step; its oracle reads it. */
  val StayRadiusKm = 6000.0

  /** Gate query (q90): 30-minute-gap sessions over the events table.
    * Output: one row per (user, session) with span, size, and value sum
    * (cents — integer, merge-order-free). */
  def sessions(spark: SparkSession, dir: String): DataFrame = {
    val ev = table(spark, dir, "events")
      .select(col("user_id"), unix_micros(col("ts").cast("timestamp")).as("us"),
        col("value"))
    // (user_id, ts) is unique (pinned by AsofSpec) — `us` totally orders
    // each user's events, so the lag/running-sum frames are deterministic
    val w = Window.partitionBy("user_id").orderBy("us")
    ev.withColumn("prev_us", lag(col("us"), 1).over(w))
      .withColumn("new_sess",
        when(col("prev_us").isNull || col("us") - col("prev_us") > 30L * 60 * 1000000, 1L)
          .otherwise(0L))
      .withColumn("sid", sum(col("new_sess")).over(w))
      .groupBy(col("user_id"), col("sid"))
      .agg(min(col("us")).as("start_us"), max(col("us")).as("end_us"),
        count(lit(1)).as("n_events"),
        sum(floor(col("value") * lit(100.0) + lit(0.5)).cast("long"))
          .as("value_cents"))
  }

  /** Gate query (q143): interval coalescing (merge-overlaps) — each event
    * opens a 10-minute interval; per user, overlapping/touching intervals
    * merge into islands (a new island starts where `start` exceeds the
    * running max of previous ends — the gaps-and-islands idiom that handles
    * CONTAINED intervals, which a lag-on-end comparison gets wrong). Emits
    * islands count and exact covered span per user. Same one-exchange shape
    * as [[sessions]]. */
  def intervalCoalesce(spark: SparkSession, dir: String): DataFrame = {
    val iv = table(spark, dir, "events")
      .select(col("user_id"),
        unix_micros(col("ts").cast("timestamp")).as("s"))
      .withColumn("e", col("s") + 600000000L)
    val order = Window.partitionBy("user_id").orderBy(col("s"), col("e"))
    val stepped = iv
      .withColumn("pmax", max(col("e")).over(
        order.rowsBetween(Window.unboundedPreceding, -1)))
      .withColumn("brk",
        when(col("pmax").isNull || col("s") > col("pmax"), 1L).otherwise(0L))
      .withColumn("isl", sum(col("brk")).over(order))
    stepped.groupBy("user_id", "isl")
      .agg((max(col("e")) - min(col("s"))).as("cov"))
      .groupBy("user_id")
      .agg(count(lit(1)).as("n_islands"), sum(col("cov")).as("covered_us"))
  }

  /** Gate query (q118): SPATIAL sessionization (trajectory segmentation /
    * stay-point detection) — per user, a new segment starts at the first
    * point and at every point farther than [[StayRadiusKm]] (haversine) from its
    * predecessor. Same one-exchange shape as [[sessions]] (lag, running
    * sum, and rollup all key on user_id); the geometry rides the q20 FP
    * discipline — the haversine Column algebra is replicated term-for-term
    * in the oracle, and the per-step kms are e6-floored BEFORE summing so
    * the per-segment path length is an exact integer in any merge order. */
  def staySegments(spark: SparkSession, dir: String): DataFrame = {
    // the q20 point cloud, re-derived inline with the event timestamp
    val pts = table(spark, dir, "events")
      .select(col("user_id"), unix_micros(col("ts").cast("timestamp")).as("us"),
        (col("value") % 360.0 - 180.0).as("lon"),
        (col("user_id") % 181 - 90).cast("double").as("lat"))
    val w = Window.partitionBy("user_id").orderBy("us")
    val stepped = pts
      .withColumn("plon", lag(col("lon"), 1).over(w))
      .withColumn("plat", lag(col("lat"), 1).over(w))
      .withColumn("step_km", graft.spatial.SpatialQueries.haversineKmCol(
        col("plat"), col("plon"), col("lat"), col("lon")))
      .withColumn("brk",
        when(col("plon").isNull || col("step_km") > StayRadiusKm, 1L).otherwise(0L))
      .withColumn("sid", sum(col("brk")).over(w))
    stepped.groupBy(col("user_id"), col("sid"))
      .agg(count(lit(1)).as("n_points"),
        min(col("us")).as("start_us"), max(col("us")).as("end_us"),
        sum(when(col("brk") === 0L,
          floor(col("step_km") * 1000000.0 + 0.5).cast("long")).otherwise(0L))
          .as("km_e6"))
  }
}
