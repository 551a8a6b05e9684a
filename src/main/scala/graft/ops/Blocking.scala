package graft.ops

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.Session.table

/** Sorted-neighborhood blocking — the third classic entity-resolution
  * candidate generator next to the LSH (q27/q58) and prefix-filter (q129)
  * tiers: sort the corpus by a blocking key, pair every record with its w
  * nearest neighbors in the sort order. Catches near-duplicates that
  * token-hash blockers miss (records whose difference is INSIDE every
  * shingle but whose blocking key is adjacent).
  *
  * Scale shape: the global order comes from the distributed ranking
  * primitive (range-partition + in-partition sort + zipWithIndex — never a
  * single-task window), and the neighbor pairing is an EQUI-join: the left
  * side replicates each record to (rn+1..rn+w) keys map-side, so candidate
  * volume is exactly n·w. */
object Blocking {

  /** The neighborhood window q165 runs at; its oracle reads it. */
  val GateW = 3

  /** Gate query (q165): sorted-neighborhood pairs over documents keyed by
    * (n_chars, doc_id), window w — emits (da, db, rank_dist, len_gap). */
  def sortedNeighborhood(spark: SparkSession, dir: String, w: Int = GateW): DataFrame = {
    val docs = table(spark, dir, "documents").select(col("doc_id"), col("n_chars"))
    val ranked = OrderStats.distributedRowNumber(docs, 8,
      col("n_chars"), col("doc_id"))
    val left = ranked.withColumn("k", explode(array((1 to w).map(lit): _*)))
      .select(col("doc_id").as("da"), col("n_chars").as("la"),
        (col("rn") + col("k")).as("rn"), col("k").as("rank_dist"))
    left.join(ranked.select(col("doc_id").as("db"), col("n_chars").as("lb"),
        col("rn")), Seq("rn"))
      .select(col("da"), col("db"), col("rank_dist"),
        abs(col("la") - col("lb")).as("len_gap"))
  }
}
