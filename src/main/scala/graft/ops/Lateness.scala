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

  /** Gate query (q176) — watermark late-data accounting, batch-replayed:
    * per user stream (arrival order = event_id), a row is LATE iff its
    * event time is older than (running-max event time over prior arrivals)
    * − W. This is exactly Structured Streaming's per-key watermark drop
    * rule, gated under the DuckDB hash so the semantics are pinned
    * cross-engine, not just asserted. Emits per-user late/total counts and the worst
    * disorder observed. One window exchange on the stream key. */
  def watermarkAudit(spark: SparkSession, dir: String,
                     lagUs: Long = 43200000000L): DataFrame = {
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
    * integer quantity units. Distributes by aggregating to the distinct-
    * value relation first (map-side), then one window cumsum over THAT —
    * the q160/q169 pattern: the data is touched once, the window touches
    * only the value domain. */
  def weightedMedian(spark: SparkSession, dir: String): DataFrame = {
    // ONE exchange end to end (guide §2.4): hash-partitioning by flag alone
    // satisfies the (flag, cents) aggregation (subset of its grouping keys),
    // the flag-keyed windows, AND the final flag rollup — the round-5 plan
    // paid three exchanges for the same pipeline. Parallelism is bounded by
    // the flag cardinality either way (the windows' own partition key).
    val g = table(spark, dir, "lineitem").select(
        col("l_returnflag").as("flag"),
        floor(col("l_extendedprice") * 100.0 + 0.5).cast("long").as("cents"),
        floor(col("l_quantity") + 0.5).cast("long").as("wt"))
      .repartition(spark.sparkContext.defaultParallelism, col("flag"))
      .groupBy("flag", "cents").agg(sum(col("wt")).as("w"))
    val win = Window.partitionBy("flag").orderBy("cents")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val tot = Window.partitionBy("flag")
    g.withColumn("cw", sum(col("w")).over(win))
      .withColumn("tw", sum(col("w")).over(tot))
      .where(lit(2L) * col("cw") >= col("tw"))
      .groupBy("flag")
      .agg(min(col("cents")).as("wmedian_cents"), max(col("tw")).as("total_w"))
  }
}
