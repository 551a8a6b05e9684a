package graft.ops

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.CacheOps
import graft.Session.table
import graft.spatial.ZOrder

/** Weighted shortest paths and time-weighted measures — the distance leg of
  * the graph family (q63/q67 connectivity, q109 PageRank, q125 k-core,
  * q142 pointer jumping gave reachability/centrality/coreness; this adds
  * COST).
  */
object Sssp {

  /** Gate query (q173) — bounded-hop single-source shortest path by
    * distributed Bellman-Ford: `hops` min-plus relaxation rounds over the
    * event-derived weighted digraph (src = user_id,
    * dst = (event_id·1103515245) mod 1000, w = 1 + event_id mod 97).
    * Integer weights, so distances are exact. One shuffle per round (join
    * on the frontier key + min-combine) on [[CacheOps.Scope.fixpoint]], one
    * eager distance checkpoint per round. The DuckDB oracle unrolls the
    * same rounds as MATERIALIZED CTEs. */
  def boundedSssp(spark: SparkSession, dir: String, hops: Int = 6): DataFrame =
    CacheOps.scope { s =>
      require(hops >= 1, s"boundedSssp needs hops >= 1, got hops=$hops")
      val edges = s.checkpoint(table(spark, dir, "events").select(
          col("user_id").as("src"),
          ((col("event_id") * 1103515245L) % 1000L).as("dst"),
          (col("event_id") % 97L + 1L).as("w"))
        .groupBy("src", "dst").agg(min(col("w")).as("w"))) // parallel edges: keep min
      import spark.implicits._
      s.fixpoint("boundedSssp", hops, s.checkpoint(Seq((0L, 0L)).toDF("node", "d"))) {
        (dist, k) =>
          (s.checkpoint(dist.join(edges, col("node") === col("src"))
            .select(col("dst").as("node"), (col("d") + col("w")).as("d"))
            .unionByName(dist)
            .groupBy("node").agg(min(col("d")).as("d"))), k == hops)
      }
    }

  /** Gate query (q174) — time-weighted average value (TWAP) per user: each
    * value holds from its event to the next (step function), integrated
    * exactly in (cents × µs) integer arithmetic; the last event of a user
    * carries no interval. Emits the integral pieces and twap_cents =
    * num div dur so the gate is pure integers. One window exchange on the
    * user key. */
  def twap(spark: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy("user_id").orderBy("us", "event_id")
    table(spark, dir, "events").select(
        col("user_id"), col("event_id"),
        unix_micros(col("ts").cast("timestamp")).as("us"),
        floor(col("value") * 100.0 + 0.5).cast("long").as("cents"))
      .withColumn("next_us", lead(col("us"), 1).over(w))
      .where(col("next_us").isNotNull)
      .groupBy("user_id")
      .agg(sum(col("cents") * (col("next_us") - col("us"))).as("num"),
        sum(col("next_us") - col("us")).as("dur"),
        count(lit(1)).as("n_intervals"))
      .select(col("user_id"), col("num"), col("dur"), col("n_intervals"),
        expr("num div dur").as("twap_cents"))
  }

  /** Gate query (q175) — duration-weighted tile occupancy: every
    * inter-event interval of a user is charged to the tile of its STARTING
    * point — "where does time get spent", the dwell-time surface (the
    * temporal sibling of q113's count density). Same one-exchange window
    * shape as q174, then one tile aggregation. */
  def tileOccupancy(spark: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy("user_id").orderBy("us", "event_id")
    table(spark, dir, "events").select(
        col("user_id"), col("event_id"),
        unix_micros(col("ts").cast("timestamp")).as("us"),
        // the eventPoints lon/lat recipe, inlined to keep this one scan
        (col("value") % 360.0 - 180.0).as("lon"),
        (col("user_id") % 181 - 90).cast("double").as("lat"))
      .select(col("user_id"), col("event_id"), col("us"),
        ZOrder.gridX(col("lon"), 6).as("tx"),
        ZOrder.gridY(col("lat"), 6).as("ty"))
      .withColumn("next_us", lead(col("us"), 1).over(w))
      .where(col("next_us").isNotNull)
      .groupBy("tx", "ty")
      .agg(sum(col("next_us") - col("us")).as("dwell_us"),
        count(lit(1)).as("n_intervals"))
  }
}
