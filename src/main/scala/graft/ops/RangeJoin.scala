package graft.ops

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.Session.table

/** Binned range join — the scale-path rewrite of `key-equality AND ts in
  * [t−W, t)` from a non-equi theta-join (Catalyst: BroadcastNestedLoopJoin,
  * O(L·R) per key) into an EQUI join on (key, bin) with bin = ts div W.
  * Because the window length equals the bin width, a window [t−W, t) spans
  * exactly two bins, so each left row explodes to bins {b−1, b} and each
  * right row keeps its single bin — every true pair meets in exactly one
  * bin (the right row's own), so the post-join exact range filter never
  * double-counts. This is the standard interval-binning technique (e.g. the
  * range-join optimization in Spark-based lakehouses and in postGIS-style
  * bin indexes), expressed purely in DataFrame algebra: Catalyst plans a
  * shuffled sort-merge join on (user, bin), AQE coalesces, and the 2×
  * left-side blow-up is the entire overhead — vs the nested-loop's R-per-key.
  *
  * Gate query (q84): for each `error` event, the count and cent-exact value
  * sum of the SAME user's events in the strictly-preceding 24 h window.
  * The DuckDB oracle runs the honest inequality join (its IEJoin handles
  * it) — a different join algorithm entirely; RangeJoinSpec additionally
  * pins the binned plan against Spark's own naive theta-join at sf0.001 and
  * asserts the executed plan is a real equi-join (no nested loop).
  */
object RangeJoin {

  /** 24 h in microseconds — bin width AND window length. */
  val WindowUs: Long = 24L * 3600L * 1000000L

  /** The binned equi-join. */
  def priorActivity(spark: SparkSession, dir: String): DataFrame = {
    val ev = table(spark, dir, "events")
    val right = ev.select(col("user_id").as("p_uid"),
        unix_micros(col("ts").cast("timestamp")).as("p_us"), col("value").as("p_value"))
      .withColumn("pbin", expr(s"p_us div $WindowUs"))
    val left = ev.filter(col("event_type") === "error")
      .select(col("event_id"), col("user_id").as("e_uid"),
        unix_micros(col("ts").cast("timestamp")).as("e_us"))
      .withColumn("ebin", expr(s"e_us div $WindowUs"))
      .withColumn("bin", explode(array(col("ebin") - 1, col("ebin"))))
    left.hint("merge")
      .join(right, col("p_uid") === col("e_uid") && col("bin") === col("pbin"))
      .filter(col("p_us") >= col("e_us") - WindowUs && col("p_us") < col("e_us"))
      .groupBy(col("event_id"))
      .agg(count(lit(1)).as("n_prior"),
        sum(floor(col("p_value") * lit(100.0) + lit(0.5)).cast("long"))
          .as("prior_value_cents"))
  }
}
