package graft.ops

import scala.collection.mutable

import org.apache.spark.sql.{DataFrame, Encoder, Encoders, SparkSession}
import org.apache.spark.sql.expressions.Aggregator
import org.apache.spark.sql.functions._

import graft.Session.table

/** Per-group top-k via bounded partial-aggregating heaps — the scale
  * alternative to the window `row_number() <= k` plan. The window form
  * shuffles EVERY row to its group's reducer and sorts there; the
  * aggregator form is a real partial+final aggregation, so each map task
  * forwards at most k rows per group it saw and the exchange carries
  * ≤ k·groups·partitions rows — at 100 TB with k=3 and a handful of
  * groups, that is bytes, not terabytes. The buffer keeps the k best
  * (value DESC, key ASC) pairs; merge concatenates and re-truncates, so
  * partial aggregation is associative/commutative by construction.
  * TopKSpec pins equality against Spark's own window plan and that the
  * executed plan contains partial_topk (objectagg) below the exchange
  * rather than a Window above it.
  *
  * [[Heap]] and [[perQuery]] are the bounded top-k that every
  * nearest-neighbour scan keeps per partition (`graft.ann.Ann`,
  * `graft.spatial.Knn`).
  */
object TopK {

  /** The bounded top-k of every nearest-neighbour path: the k least
    * (key, id) pairs under `Ordering.Double.TotalOrdering`, then id. Ties at
    * an equal key keep the lower id; NaN sorts after +∞ and −0.0 before 0.0.
    * Which candidates survive a partition is decided here, so this is the
    * one order the paths' rank windows and merges must agree with. */
  final class Heap(k: Int) {
    private val pq = mutable.PriorityQueue.empty[(Double, Long)](Heap.order)
    def offer(key: Double, id: Long): Unit =
      if (pq.size < k) pq.enqueue((key, id))
      else if (k > 0 && Heap.order.lt((key, id), pq.head)) { pq.dequeue(); pq.enqueue((key, id)) }
    def iterator: Iterator[(Double, Long)] = pq.iterator
    /** The kept pairs, best first. */
    def sorted: Seq[(Double, Long)] = pq.toSeq.sorted(Heap.order)
  }

  object Heap {
    val order: Ordering[(Double, Long)] =
      Ordering.Tuple2(Ordering.Double.TotalOrdering, Ordering.Long)
  }

  /** One partition of a per-query top-k scan, the loop under every
    * nearest-neighbour path: one [[Heap]] per query index `0 until nq`. Per
    * row, `queries` names the query indices that score it (all of them, or
    * the subset an index routes it to; an empty array skips the row) and
    * `keys(row)` gives its key for one of them. Yields every heap's
    * survivors as (query index, id, key). */
  def perQuery[R](rows: Iterator[R], nq: Int, k: Int)(
      id: R => Long, queries: R => Array[Int], keys: R => Int => Double): Iterator[(Int, Long, Double)] = {
    val heaps = Array.fill(nq)(new Heap(k))
    rows.foreach { r =>
      val qs = queries(r)
      if (qs.length > 0) {
        val key = keys(r); val rid = id(r)
        var i = 0
        while (i < qs.length) { heaps(qs(i)).offer(key(qs(i)), rid); i += 1 }
      }
    }
    for ((h, q) <- heaps.iterator.zipWithIndex; (key, rid) <- h.iterator) yield (q, rid, key)
  }

  final case class TopKBuf(items: Seq[(Long, Long)]) // (value, key), value desc

  private def ordered(items: Seq[(Long, Long)]): Seq[(Long, Long)] =
    items.sortBy { case (v, key) => (-v, key) }

  def topKAgg(k: Int): Aggregator[(Long, Long), TopKBuf, Seq[(Long, Long)]] =
    new Aggregator[(Long, Long), TopKBuf, Seq[(Long, Long)]] {
      override def zero: TopKBuf = TopKBuf(Vector.empty)
      override def reduce(b: TopKBuf, in: (Long, Long)): TopKBuf =
        TopKBuf(ordered(b.items :+ in).take(k))
      override def merge(a: TopKBuf, b: TopKBuf): TopKBuf =
        TopKBuf(ordered(a.items ++ b.items).take(k))
      override def finish(b: TopKBuf): Seq[(Long, Long)] = ordered(b.items)
      override def bufferEncoder: Encoder[TopKBuf] = Encoders.product[TopKBuf]
      override def outputEncoder: Encoder[Seq[(Long, Long)]] =
        org.apache.spark.sql.catalyst.encoders.ExpressionEncoder()
    }

  /** Gate query (q92): top-3 customers by account balance (cents; ties by
    * custkey) per market segment. Oracle: DuckDB row_number window. */
  def topCustomers(spark: SparkSession, dir: String): DataFrame = {
    val cust = table(spark, dir, "customer")
      .select(col("c_mktsegment"),
        floor(col("c_acctbal") * lit(100.0) + lit(0.5)).cast("long").as("bal_cents"),
        col("c_custkey"))
    implicit val inEnc: Encoder[(String, Long, Long)] =
      Encoders.tuple(Encoders.STRING, Encoders.scalaLong, Encoders.scalaLong)
    val spark2 = spark; import spark2.implicits._
    cust.as[(String, Long, Long)]
      .groupByKey(_._1)
      .mapValues { case (_, bal, key) => (bal, key) }(
        Encoders.tuple(Encoders.scalaLong, Encoders.scalaLong))
      .agg(topKAgg(3).toColumn.name("top"))
      .flatMap { case (seg, top) =>
        top.zipWithIndex.map { case ((bal, key), i) => (seg, i + 1L, key, bal) }
      }
      .toDF("c_mktsegment", "rank", "c_custkey", "bal_cents")
  }
}
