package graft.spatial

import org.apache.spark.sql.{DataFrame, Encoders, Row}
import graft.index.Hex
import graft.ops.TopK

/** k-nearest-neighbour over a big point table vs a small query set
  * (north_rule: "kNN via H3 ring expansion").
  *
  * Scale design: queries are tiny → broadcast; the point table is never
  * shuffled in full, and it is scanned a FIXED number of times (2, plus a
  * rare logged fallback) — no data-dependent rescan loop:
  *
  *  1. *Density pass*: one scan counting points per hex cell, restricted to
  *     cells within `RingCap` of any query (the only cells that can matter).
  *     Only the per-cell counts shuffle — O(|candidate cells|) rows.
  *  2. Driver sizes each query's ring from the counts: the smallest ring r
  *     holding ≥ k points bounds the kth distance by r·2·inradius + 2·edge,
  *     so ring R = 2r+4 provably covers the true kNN (any point outside
  *     ring R is ≥ (R−1)·inradius away — farther than that bound).
  *  3. *Top-k pass*: [[topKScan]] scores each point against the queries
  *     whose ring holds its cell, in per-partition bounded heaps — only Q·k
  *     rows leave each partition.
  *  4. The exactness condition (k found ∧ kth distance ≤ safe radius) is
  *     re-verified on the merged result; queries that fail it (under-dense
  *     neighborhoods with < k points inside `RingCap`) fall back to one
  *     exact brute-force scan — the same [[topKScan]] over every point — and
  *     the fallback is LOGGED, never silent.
  *
  * Distance metric: Euclidean in degree space (documented; callers wanting
  * great-circle rank should pre-project). Ties broken by point id so results
  * are deterministic and oracle-comparable.
  */
object Knn {
  final case class QueryPoint(qid: Long, lon: Double, lat: Double)

  /** Max ring radius the density pass certifies; |disk| = 3r(r+1)+1 ≈ 12.5k
    * cells per query at the cap — a tiny broadcast. */
  val RingCap = 64

  /** Exact kNN: returns (qid, point_id, rank) with rank 1..k by
    * (distance, point_id). `points` needs columns (idCol, lon, lat). */
  def knn(points: DataFrame, queries: Seq[QueryPoint], k: Int,
          idCol: String = "id", res: Int = 7): DataFrame = {
    val spark = points.sparkSession
    import spark.implicits._
    import org.apache.spark.sql.functions.col

    val pts = points.select(
      col(idCol).cast("long").as("pid"),
      col("lon").cast("double").as("lon"),
      col("lat").cast("double").as("lat"))

    // ---- pass 1: per-cell density near the queries --------------------
    val qCells = queries.map(q => q.qid -> Hex.latLngToCell(q.lat, q.lon, res)).toMap
    val candCells: Set[Long] = qCells.values.flatMap(c => Hex.disk(c, RingCap)).toSet
    val counts: Map[Long, Long] = cellCounts(pts, candCells, res)

    // ---- driver: size each query's ring from the density histogram ----
    val inradius = Hex.edgeDeg(res) * math.sqrt(3.0) / 2.0
    val edge = Hex.edgeDeg(res)
    val ringOf: Map[Long, Option[Int]] = queries.map { q =>
      val cell = qCells(q.qid)
      var cum = 0L
      var r = 0
      var found: Option[Int] = None
      while (found.isEmpty && r <= RingCap) {
        Hex.ring(cell, r).foreach(c => cum += counts.getOrElse(c, 0L))
        if (cum >= k) {
          // kth distance ≤ r·(2·inradius) + 2·edge; need (R−1)·inradius ≥ that
          val bound = r * 2.0 * inradius + 2.0 * edge
          found = Some(math.ceil(bound / inradius).toInt + 1)
        }
        r += 1
      }
      q.qid -> found
    }.toMap

    val sized = queries.filter(q => ringOf(q.qid).isDefined)
    val underdense = queries.filterNot(q => ringOf(q.qid).isDefined)

    // ---- pass 2: one top-k pass at the certified per-query rings ------
    val cand =
      if (sized.isEmpty) Map.empty[Long, Seq[(Double, Long)]]
      else {
        // candidate cells per query (driver-side; |disk| = 3r(r+1)+1, fine for small Q)
        val near = sized.zipWithIndex
          .flatMap { case (q, i) => Hex.disk(qCells(q.qid), ringOf(q.qid).get).map(c => (c, i)) }
          .groupBy(_._1).map { case (c, xs) => (c, xs.map(_._2).toArray) }
        topKScan(pts, sized, Some(near), k, res)
      }

    // exactness re-check (belt and braces: doesn't trust the ring math)
    val (exact, failed) = sized.partition { q =>
      val mine = cand.getOrElse(q.qid, Nil)
      val safe = (ringOf(q.qid).get - 1).toDouble * inradius
      mine.length >= k && mine.forall(_._1 <= safe * safe)
    }

    val fallbackQs = underdense ++ failed
    val fallback =
      if (fallbackQs.isEmpty) Map.empty[Long, Seq[(Double, Long)]]
      else {
        System.err.println(s"[graft.Knn] exact brute-force fallback for queries " +
          s"${fallbackQs.map(_.qid).sorted.mkString(",")} (under-dense: <$k points within ring $RingCap, " +
          s"or ring certification failed) — one extra full scan")
        topKScan(pts, fallbackQs, None, k, res)
      }

    // both are merged per-query top-k already: rank driver-side — a Spark
    // window here would cost an extra exchange for nothing
    val ranked = (exact.map(q => q.qid -> cand(q.qid)) ++ fallback).flatMap { case (qid, best) =>
      best.zipWithIndex.map { case ((_, pid), i) => (qid, pid, i + 1) }
    }
    ranked.toDF("qid", "pid", "rank")
  }

  /** One scan → (cell → count) for the candidate cells only. The per-partition
    * HashMaps ARE the partial aggregates — collect and merge them driver-side
    * (bounded by |candCells| entries each) instead of paying a shuffle. */
  private def cellCounts(pts: DataFrame, candCells: Set[Long], res: Int): Map[Long, Long] = {
    val spark = pts.sparkSession
    import spark.implicits._
    val bc = spark.sparkContext.broadcast(candCells)
    val partials = pts.mapPartitions { it =>
      val cells = bc.value
      val m = new scala.collection.mutable.HashMap[Long, Long]()
      it.foreach { row =>
        val cell = Hex.latLngToCell(row.getDouble(2), row.getDouble(1), res)
        if (cells.contains(cell)) m.update(cell, m.getOrElse(cell, 0L) + 1L)
      }
      m.iterator
    }.collect()
    val merged = new scala.collection.mutable.HashMap[Long, Long]()
    partials.foreach { case (c, n) => merged.update(c, merged.getOrElse(c, 0L) + n) }
    merged.toMap
  }

  /** The one top-k scan: each point is scored (d²) against the queries
    * `near` lists for its cell, or against every query when `near` is empty
    * (the brute-force fallback), in per-partition bounded heaps — only Q·k
    * rows leave each partition — and the driver merges those rows through
    * the same heap. Returns each query's k best (d², pid), best first. */
  private def topKScan(pts: DataFrame, queries: Seq[QueryPoint], near: Option[Map[Long, Array[Int]]],
                       k: Int, res: Int): Map[Long, Seq[(Double, Long)]] = {
    val spark = pts.sparkSession
    val bcQ = spark.sparkContext.broadcast(queries.toArray)
    val bcNear = spark.sparkContext.broadcast(near)
    val kk = k
    val partial = pts.mapPartitions { it =>
      val qs = bcQ.value
      val all = qs.indices.toArray
      val scoredBy: Row => Array[Int] = bcNear.value match {
        case Some(cells) => row =>
          cells.getOrElse(Hex.latLngToCell(row.getDouble(2), row.getDouble(1), res), Array.emptyIntArray)
        case None => _ => all
      }
      TopK.perQuery(it, qs.length, kk)(_.getLong(0), scoredBy, { row =>
        val lon = row.getDouble(1); val lat = row.getDouble(2)
        qi => { val dx = lon - qs(qi).lon; val dy = lat - qs(qi).lat; dx * dx + dy * dy }
      }).map { case (qi, pid, d2) => (qs(qi).qid, pid, d2) }
    }(Encoders.tuple(Encoders.scalaLong, Encoders.scalaLong, Encoders.scalaDouble)).collect()
    partial.groupBy(_._1).map { case (qid, xs) =>
      val h = new TopK.Heap(k)
      xs.foreach { case (_, pid, d2) => h.offer(d2, pid) }
      qid -> h.sorted
    }
  }
}
