package graft.ops

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.Session.table

/** Reporting/semantics operators: watermark accounting, top-N + OTHERS,
  * weighted median.
  */
object Lateness {

  /** The tiles' named buckets in q177; its oracle reads it. */
  val TopN = 2
  /** The watermark lag of q176 (12 h in µs); its oracle reads it. */
  val LagUs = 43200000000L

  /** Gate query (q176) — watermark late-data accounting, batch-replayed:
    * per user stream (arrival order = event_id), a row is LATE iff its
    * event time is older than (running-max event time over prior arrivals)
    * − W. This is exactly Structured Streaming's per-key watermark drop
    * rule, gated under the DuckDB hash so the semantics are pinned
    * cross-engine, not just asserted. Emits per-user late/total counts and the worst
    * disorder observed. One window exchange on the stream key. */
  def watermarkAudit(spark: SparkSession, dir: String,
                     lagUs: Long = LagUs): DataFrame = {
    // the synthetic events are generated in event-time order, so the
    // identity arrival order has ZERO disorder (measured) — a deterministic
    // hash-permuted arrival order simulates the network reordering the
    // watermark rule exists for
    val w = Window.partitionBy("user_id").orderBy("ak", "event_id")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow - 1)
    table(spark, dir, "events").select(
        col("user_id"), col("event_id"),
        ((col("event_id") * 2654435761L) % 1099511627776L).as("ak"),
        unix_micros(col("ts").cast("timestamp")).as("us"))
      .withColumn("hwm", max(col("us")).over(w))
      .groupBy("user_id")
      .agg(count(lit(1)).as("n_total"),
        sum(when(col("hwm").isNotNull && col("us") < col("hwm") - lagUs, 1L)
          .otherwise(0L)).as("n_late"),
        max(when(col("hwm").isNotNull, greatest(col("hwm") - col("us"), lit(0L)))
          .otherwise(0L)).as("max_disorder_us"))
  }

  /** Gate query (q177) — top-N + OTHERS rollup per tile: the reporting
    * contract every dashboard needs (never more than N+1 rows per group,
    * nothing silently dropped — the tail is CONSERVED in OTHERS).
    * Deterministic rank: count desc, then name. Counts aggregate map-side
    * before the (tile, type) exchange; the rank window runs on the rollup
    * relation, never the events. */
  def topNOthers(spark: SparkSession, dir: String): DataFrame = {
    val counts = table(spark, dir, "events").select(
        floor((col("value") % 360.0) / 360.0 * 8.0).cast("long").as("tile"),
        col("event_type"))
      .groupBy("tile", "event_type").agg(count(lit(1)).as("n"))
    val w = Window.partitionBy("tile").orderBy(col("n").desc, col("event_type"))
    val ranked = counts.withColumn("rk", row_number().over(w))
    val top = ranked.where(col("rk") <= TopN)
      .select(col("tile"), col("rk"), col("event_type").as("bucket"), col("n"))
    val others = ranked.where(col("rk") > TopN)
      .groupBy("tile")
      .agg(sum(col("n")).as("n"))
      .select(col("tile"), lit(TopN + 1).as("rk"), lit("OTHERS").as("bucket"), col("n"))
    top.unionByName(others)
  }

  /** Gate query (q178) — exact weighted median (lower): per return flag,
    * the smallest price p with 2·cumweight(p) ≥ total weight, weights =
    * integer quantity units — the per-flag [[OrderStats.distribution]]
    * weighted by quantity, read at rank (tw+1) div 2: the data is touched
    * once, the windows touch only the value domain. */
  def weightedMedian(spark: SparkSession, dir: String): DataFrame = {
    val g = table(spark, dir, "lineitem").select(
        col("l_returnflag").as("flag"),
        floor(col("l_extendedprice") * 100.0 + 0.5).cast("long").as("cents"),
        floor(col("l_quantity") + 0.5).cast("long").as("wt"))
    OrderStats.distribution(g, Seq("flag"), "cents", "w" -> col("wt"))
      .groupBy("flag")
      .agg(OrderStats.atRank(col("cents"), col("cum_w"), expr("(tot_w + 1) div 2"))
        .as("wmedian_cents"), max(col("tot_w")).as("total_w"))
  }
}
