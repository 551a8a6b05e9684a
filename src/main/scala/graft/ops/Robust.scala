package graft.ops

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.Session.table

/** Robust statistics over groups — mode, tail expectation, winsorization:
  * the aggregates that survive skew and outliers, all exact (nearest-rank
  * percentiles, integer tail sums, deterministic tiebreaks).
  */
object Robust {

  /** Gate query (q183) — exact grouped mode: the most frequent cents value
    * per order priority, ties to the smallest value. Two hash aggs (value
    * counts, then argmax via max-struct); no window, no sort of the data. */
  def groupedMode(spark: SparkSession, dir: String): DataFrame = {
    val counts = table(spark, dir, "orders").select(
        col("o_orderpriority").as("grp"),
        floor(col("o_totalprice") * 100.0 + 0.5).cast("long").as("cents"))
      .groupBy("grp", "cents").agg(count(lit(1)).as("c"))
    // argmax by (count, -value): max(struct) picks highest count, then the
    // SMALLEST value via the negated component
    counts.groupBy("grp")
      .agg(max(struct(col("c"), (-col("cents")).as("nv"))).as("m"),
        sum(col("c")).as("n"))
      .select(col("grp"), (-col("m.nv")).as("mode_cents"),
        col("m.c").as("mode_n"), col("n"))
  }

  /** Gate query (q184) — expected shortfall (CVaR): the exact mean of the
    * top-5% tail per group — nearest-rank cutoff over the per-group
    * [[OrderStats.distribution]], tail sum/count exact integers, mean as
    * div. The risk aggregate that a mean or p95 alone understates. */
  def tailShortfall(spark: SparkSession, dir: String): DataFrame = {
    val g = table(spark, dir, "orders").select(
        col("o_orderpriority").as("grp"),
        floor(col("o_totalprice") * 100.0 + 0.5).cast("long").as("cents"))
    // tail = the k = ceil(n/20) largest rows: a value is in it iff fewer
    // than k rows lie strictly above it (tot − cum), and a value group
    // straddling the cutoff contributes only its in-tail multiplicity
    OrderStats.distribution(g, Seq("grp"), "cents", "c" -> lit(1L))
      .withColumn("k", expr("(tot_c + 19) div 20"))
      .withColumn("above", col("tot_c") - col("cum_c"))
      .where(col("above") < col("k"))
      .withColumn("take", least(col("c"), col("k") - col("above")))
      .groupBy("grp")
      .agg(max(col("k")).as("tail_n"), sum(col("take") * col("cents")).as("tail_sum"))
      .select(col("grp"), col("tail_n"), col("tail_sum"),
        expr("tail_sum div tail_n").as("es_cents"))
  }

  /** Gate query (q185) — winsorized statistics: clamp each value to the
    * group's exact nearest-rank [p5, p95] band, emit the winsorized sum and
    * the clamped-row counts. The cutoffs are [[OrderStats.atRank]] over the
    * per-group [[OrderStats.distribution]]; clamping is a broadcast join of
    * the tiny per-group band relation back onto that distribution — the
    * data is scanned once. */
  def winsorized(spark: SparkSession, dir: String): DataFrame = {
    val g = table(spark, dir, "orders").select(
        col("o_orderpriority").as("grp"),
        floor(col("o_totalprice") * 100.0 + 0.5).cast("long").as("cents"))
    val d = OrderStats.distribution(g, Seq("grp"), "cents", "c" -> lit(1L))
    val bands = d.groupBy("grp")
      .agg(OrderStats.atRank(col("cents"), col("cum_c"), expr("(tot_c + 19) div 20")).as("p5"),
        OrderStats.atRank(col("cents"), col("cum_c"), expr("(19 * tot_c + 19) div 20")).as("p95"))
    d.join(broadcast(bands), Seq("grp"))
      .withColumn("wv", greatest(col("p5"), least(col("p95"), col("cents"))))
      .groupBy("grp")
      .agg(max(col("p5")).as("p5"), max(col("p95")).as("p95"),
        sum(col("c") * col("wv")).as("winsor_sum"),
        sum(when(col("cents") < col("p5"), col("c")).otherwise(0L)).as("n_lo"),
        sum(when(col("cents") > col("p95"), col("c")).otherwise(0L)).as("n_hi"))
  }
}
