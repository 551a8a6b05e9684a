package graft.ops

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.Session.table

/** Incremental re-aggregation — the algebra that makes epoch-partitioned
  * ingestion (q64's layout) cheap: per-batch PARTIAL states merge into the
  * same relation a full recompute produces, without rescanning old epochs.
  * Counts and integer sums merge by +; distinct counts are NOT algebraic,
  * which is exactly why the partial state carries HLL registers instead
  * (merge = elementwise max — q87's spec-pinned property). The partial
  * state per (day, bucket) is (n, Σcents, max ρ): one row per register,
  * every measure mergeable, so N epochs fold together associatively in any
  * order.
  *
  * The gate computes the two halves' partials SEPARATELY (disjoint
  * event_id parity — stands in for two ingestion epochs), merges them, and
  * must hash-match the DuckDB oracle computed DIRECTLY over the whole
  * table: merged-partial ≡ full-recompute as a relation, not a spec
  * assertion. IncrementalSpec additionally pins merge-order/associativity
  * on the partial states themselves.
  */
object Incremental {

  /** Per-(day, bucket) partial state of `pred`'s slice. */
  private def partial(ev: DataFrame, pred: org.apache.spark.sql.Column): DataFrame = {
    ev.filter(pred)
      .select((col("day") +: Sketches.hllCell(col("user_id"))) :+ col("vc"): _*)
      .groupBy(col("day"), col("bucket"))
      .agg(count(lit(1)).as("n"), sum(col("vc")).as("cents"), max(col("rho")).as("r"))
  }

  /** Gate query (q103): merged two-epoch daily rollup — (day, n_events,
    * value_cents, est_users) where est_users is the raw per-day HLL
    * estimate from the MERGED register files. */
  def mergedDailyRollup(spark: SparkSession, dir: String): DataFrame = {
    val m = 1 << Sketches.HllP
    val ev = table(spark, dir, "events")
      .select(col("user_id"), col("event_id"),
        floor(floor(unix_timestamp(col("ts"))) / lit(86400)).cast("long").as("day"),
        floor(col("value") * lit(100.0) + lit(0.5)).cast("long").as("vc"))
    val merged = partial(ev, col("event_id") % 2 === 0)
      .unionByName(partial(ev, col("event_id") % 2 =!= 0))
      .groupBy(col("day"), col("bucket"))
      .agg(sum(col("n")).as("n"), sum(col("cents")).as("cents"), max(col("r")).as("r"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4)))
    val rows = merged.groupBy(_._1).toSeq.map { case (day, cells) =>
      val regs = new Array[Long](m)
      cells.foreach { case (_, b, _, _, r) => regs(b.toInt) = r }
      Row(day, cells.map(_._3).sum, cells.map(_._4).sum, Sketches.hllEstimate(regs))
    }
    spark.createDataFrame(
      spark.sparkContext.parallelize(rows, 1),
      StructType(Seq(StructField("day", LongType, nullable = false),
        StructField("n_events", LongType, nullable = false),
        StructField("value_cents", LongType, nullable = false),
        StructField("est_users", LongType, nullable = false))))
  }
}
