package graft.ops

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.Session.table

/** Model-evaluation operators — the metrics leg of a training pipeline
  * (threshold sweeps and ranking quality), exact in integer arithmetic so
  * they gate cross-engine (no FP ratios: every rate is an e6 rational via
  * integer division).
  *
  * Label convention for the synthetic gate: positive = purchase events,
  * score = exact cents of `value` (floor(v·100+0.5), the repo-wide cents
  * discipline).
  */
object MlEval {

  private def scored(spark: SparkSession, dir: String): DataFrame =
    table(spark, dir, "events").select(
      floor(col("value") * 100.0 + 0.5).cast("long").as("score"),
      when(col("event_type") === "purchase", 1L).otherwise(0L).as("pos"))

  /** Gate query (q159) — threshold-sweep confusion metrics: TP/FP/FN/TN +
    * precision/recall/F1 as e6 rationals for 9 score thresholds. ONE pass:
    * global (npos, n) plus per-threshold predicted-positive tallies from a
    * map-side 9-way replicate — never 9 scans. */
  def thresholdSweep(spark: SparkSession, dir: String): DataFrame = {
    val s = scored(spark, dir)
    val thrs = (1 to 9).map(i => lit(i * 5000L))
    // totals are a single tiny row — computed once, crossed back in
    val tot = s.agg(sum(col("pos")).as("npos"), count(lit(1)).as("n"))
    val perThr = s.withColumn("thr", explode(array(thrs: _*)))
      .where(col("score") >= col("thr"))
      .groupBy("thr")
      .agg(count(lit(1)).as("pred_pos"), sum(col("pos")).as("tp"))
    import spark.implicits._
    // a threshold above every score still gets its row (all-zero tallies);
    // precision is NULL there, not a crash and not a silent drop
    val allThr = (1 to 9).map(_ * 5000L).toDF("thr")
    allThr.join(perThr, Seq("thr"), "left")
      .na.fill(0L, Seq("pred_pos", "tp"))
      .crossJoin(broadcast(tot))
      .select(col("thr"),
        col("tp"),
        (col("pred_pos") - col("tp")).as("fp"),
        (col("npos") - col("tp")).as("fn"),
        (col("n") - col("pred_pos") - col("npos") + col("tp")).as("tn"),
        expr("CASE WHEN pred_pos = 0 THEN NULL ELSE (tp * 1000000) div pred_pos END")
          .as("precision_e6"),
        expr("(tp * 1000000) div npos").as("recall_e6"),
        expr("(2 * tp * 1000000) div (pred_pos + npos)").as("f1_e6"))
  }

  /** Gate query (q160) — exact AUC via the Mann-Whitney rank-sum with the
    * standard tie handling, kept INTEGER throughout: per distinct score,
    * positives contribute p·(2·below + at + 1) to the doubled rank sum, so
    * 2U = Σ − npos·(npos+1) and auc_e6 = 10⁶·2U div (2·npos·nneg) — no FP
    * anywhere, any score distribution, any tie pattern. Distributes as the
    * ungrouped [[OrderStats.distribution]] of the score (one groupBy(score)
    * + a cumsum over the small distinct-score relation; below = cum_c − c)
    * + one final fold. */
  def aucExact(spark: SparkSession, dir: String): DataFrame = {
    OrderStats.distribution(scored(spark, dir), Nil, "score",
        "c" -> lit(1L), "p" -> col("pos"))
      .agg(
        sum(col("p") * (lit(2L) * (col("cum_c") - col("c")) + col("c") + 1L)).as("rsum2"),
        sum(col("p")).as("npos"), sum(col("c") - col("p")).as("nneg"))
      .select(col("npos"), col("nneg"),
        (col("rsum2") - col("npos") * (col("npos") + 1L)).as("u2"),
        expr("((rsum2 - npos * (npos + 1)) * 1000000) div (2 * npos * nneg)")
          .as("auc_e6"))
  }
}
