package graft

import org.scalatest.funsuite.AnyFunSuite

import graft.multimodal.MetroBrightness
import graft.pipeline.{ImagePipeline, Validate}
import graft.spatial.BoundaryIndex
import graft.synth.{Geotag, ImageSynth}

class Wave23Spec extends AnyFunSuite {
  lazy val spark = TestSpark.spark

  test("metro brightness: rollup equals a driver-side replay with real decode") {
    val n = 300L
    val got = MetroBrightness.layer(spark, n, 4).collect()
      .map(r => ((r.getString(0), r.getString(1)), (r.getLong(2), r.getLong(3)))).toMap
    // independent replay: same synth table, but PIP + decode + rollup done
    // sequentially on the driver with the raw index (no mapPartitions path)
    val index = new BoundaryIndex(ImagePipeline.metroBoundaries.toArray)
    val rows = ImagePipeline.synthTable(spark, n, 4).collect()
    val expect = rows.filter(_.fmt == "png").flatMap { r =>
      val seed = ImageSynth.seedOf(r.image_id.stripPrefix("img").toLong)
      val o = index.queryFirstOrdinal(Geotag.lonOf(seed), Geotag.latOf(seed))
      Option.when(o >= 0)(index.boundaries(o).id).map { b =>
        val img = Validate.decode(r.bytes, r.fmt)
        val s = Seq((0, 0), (9, 0), (0, 9), (9, 9))
          .map { case (x, y) => (img.getRGB(x, y) & 0xFF).toLong }.sum
        ((b, ImageSynth.teamOf(seed)), s)
      }
    }.groupBy(_._1).map { case (k, vs) => (k, (vs.length.toLong, vs.map(_._2).sum)) }
    assert(got == expect && got.nonEmpty)
    // every metro x team cell should be populated at n=300 (70% metro draw)
    assert(got.keySet.map(_._1) == Set("metro_0", "metro_1", "metro_2"))
  }

  test("total variation: decoded-pixel TV equals the closed block form") {
    val n = 200L
    val got = graft.multimodal.Pyramid.totalVariation(spark, n, 4).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    // closed form straight from the synth block structure (the oracle's
    // derivation, independently in Scala): in-block ramp constants plus
    // 8*|dBase-21| / 8*|dBase-28| per adjacent block pair
    val rows = ImagePipeline.synthTable(spark, n, 4).collect().filter(_.fmt == "png")
    assert(got.keySet == rows.map(_.image_id.stripPrefix("img").toLong).toSet)
    rows.foreach { r =>
      val seed = ImageSynth.seedOf(r.image_id.stripPrefix("img").toLong)
      val (w, h) = (r.w, r.h); val (bw, bh) = (w / 8, h / 8)
      def base(bx: Int, by: Int): Long =
        ImageSynth.mix(seed ^ (by.toLong << 32) ^ bx.toLong) & 0xBF
      var s = h.toLong * (w - bw) * 3 + w.toLong * (h - bh) * 4
      for (by <- 0 until bh; bx <- 0 until bw - 1)
        s += 8 * math.abs(base(bx + 1, by) - base(bx, by) - 21)
      for (bx <- 0 until bw; by <- 0 until bh - 1)
        s += 8 * math.abs(base(bx, by + 1) - base(bx, by) - 28)
      assert(got(r.image_id.stripPrefix("img").toLong) == s, s"tv mismatch for ${r.image_id}")
    }
  }

  test("segment intersections: grid join equals an all-pairs brute force") {
    // sf0.01: 1,647 intersecting pairs — sf0.001's 1,000 segments are too
    // sparse in the 64k lattice to cross at all (also confirms the
    // predicate rejects honestly: the grid join returns empty there too)
    val dir = "/root/testdata/sf0.01"
    val got = graft.spatial.SegmentJoin.intersectionCounts(spark, dir).collect()
      .map(r => ((r.getLong(0), r.getLong(1)), r.getLong(2))).toMap
    val segs = graft.spatial.SegmentJoin.segments(spark, dir).collect()
    val n = segs.length
    val id = segs.map(_.getLong(0)); val x1 = segs.map(_.getLong(1))
    val y1 = segs.map(_.getLong(2)); val x2 = segs.map(_.getLong(3))
    val y2 = segs.map(_.getLong(4))
    def cr(ox: Long, oy: Long, px: Long, py: Long, qx: Long, qy: Long): Long =
      (px - ox) * (qy - oy) - (py - oy) * (qx - ox)
    val expect = scala.collection.mutable.Map.empty[(Long, Long), Long]
    var i = 0
    while (i < n) {
      var j = 0
      while (j < n) {
        if (id(i) < id(j)) {
          val d1 = cr(x1(j), y1(j), x2(j), y2(j), x1(i), y1(i))
          val d2 = cr(x1(j), y1(j), x2(j), y2(j), x2(i), y2(i))
          if ((d1 > 0 && d2 < 0) || (d1 < 0 && d2 > 0)) {
            val d3 = cr(x1(i), y1(i), x2(i), y2(i), x1(j), y1(j))
            val d4 = cr(x1(i), y1(i), x2(i), y2(i), x2(j), y2(j))
            if ((d3 > 0 && d4 < 0) || (d3 < 0 && d4 > 0)) {
              val k = (math.max(math.min(x1(i), x2(i)), math.min(x1(j), x2(j))) / 1024,
                       math.max(math.min(y1(i), y2(i)), math.min(y1(j), y2(j))) / 1024)
              expect(k) = expect.getOrElse(k, 0L) + 1L
            }
          }
        }
        j += 1
      }
      i += 1
    }
    assert(got == expect.toMap && got.values.sum == 1647L)
    assert(graft.spatial.SegmentJoin
      .intersectionCounts(spark, "/root/testdata/sf0.001").count() == 0L)
  }

  test("blob count: union-find equals a BFS flood fill on the decoded frame") {
    val thr = 150
    val got = graft.multimodal.Pyramid.blobCount(spark, 80, 2, thr).collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2))).toMap
    val rows = ImagePipeline.synthTable(spark, 80, 2).collect().filter(_.fmt == "png")
    assert(got.keySet == rows.map(_.image_id.stripPrefix("img").toLong).toSet)
    rows.foreach { r =>
      val img = graft.pipeline.Validate.decode(r.bytes, r.fmt)
      val (w, h) = (img.getWidth, img.getHeight)
      val hot = Array.tabulate(h, w)((y, x) => (img.getRGB(x, y) & 0xFF) > thr)
      val seen = Array.ofDim[Boolean](h, w)
      var blobs = 0L; var nHot = 0L
      for (y <- 0 until h; x <- 0 until w if hot(y)(x)) {
        nHot += 1
        if (!seen(y)(x)) {
          blobs += 1
          var q = List((x, y)); seen(y)(x) = true
          while (q.nonEmpty) {
            val (cx, cy) = q.head; q = q.tail
            for ((nx, ny) <- Seq((cx - 1, cy), (cx + 1, cy), (cx, cy - 1), (cx, cy + 1)))
              if (nx >= 0 && nx < w && ny >= 0 && ny < h && hot(ny)(nx) && !seen(ny)(nx)) {
                seen(ny)(nx) = true; q = (nx, ny) :: q
              }
          }
        }
      }
      assert(got(r.image_id.stripPrefix("img").toLong) == ((blobs, nHot)),
        s"blob mismatch for ${r.image_id}")
    }
  }

  test("star pip: wedge containment equals an independent integer ray-cast") {
    val dirs = Array((1L, 0L), (1L, 1L), (0L, 1L), (-1L, 1L),
      (-1L, 0L), (-1L, -1L), (0L, -1L), (1L, -1L))
    val dir = "/root/testdata/sf0.001"
    val got = graft.geo.StarPip.containJoin(spark, dir).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    val pids = graft.Session.table(spark, dir, "orders")
      .select("o_orderkey").collect().map(_.getLong(0)).filter(_ % 331 == 0)
    val pts = graft.Session.table(spark, dir, "events")
      .select("event_id").collect().map(_.getLong(0))
      .map(j => ((j * 2654435761L) % 2001L - 1000L, (j * 2246822519L) % 2001L - 1000L))
    def poly(i: Long) = (0 until 8).map { k =>
      val r = 100L + (i * 2654435761L + k * 40503L) % 900L
      (dirs(k)._1 * r, dirs(k)._2 * r)
    }
    // crossing-number ray cast, half-open edge rule — a DIFFERENT algorithm
    def raycast(p: IndexedSeq[(Long, Long)], px: Long, py: Long): Boolean = {
      var cnt = 0
      for (k <- 0 until 8) {
        val (x1, y1) = p(k); val (x2, y2) = p((k + 1) % 8)
        if ((y1 > py) != (y2 > py)) {
          val t = (x1 - px) * (y2 - y1) + (py - y1) * (x2 - x1)
          if ((t > 0) == (y2 > y1)) cnt += 1
        }
      }
      cnt % 2 == 1
    }
    val expect = pids.map { pid =>
      val p = poly(pid)
      pid -> pts.count { case (px, py) => raycast(p, px, py) }.toLong
    }.filter(_._2 > 0).toMap
    assert(got == expect && got.nonEmpty)
  }

  test("polygon measures: shoelace replayed vertex-by-vertex on the driver") {
    val dirs = Array((1L, 0L), (1L, 1L), (0L, 1L), (-1L, 1L),
      (-1L, 0L), (-1L, -1L), (0L, -1L), (1L, -1L))
    val got = graft.geo.Polygons.polygonMeasures(spark, "/root/testdata/sf0.001")
      .collect().map(r => r.getLong(0) ->
        (r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4))).toMap
    assert(got.size == 1000)
    got.foreach { case (i, (a2g, cxg, cyg, pg)) =>
      val v = (0 until 8).map { k =>
        val r = 100L + (i * 2654435761L + k * 40503L) % 900L
        (dirs(k)._1 * r, dirs(k)._2 * r)
      }
      var a2 = 0L; var cxn = 0L; var cyn = 0L; var per = 0.0
      for (k <- 0 until 8) {
        val (x1, y1) = v(k); val (x2, y2) = v((k + 1) % 8)
        val cr = x1 * y2 - x2 * y1
        a2 += cr; cxn += (x1 + x2) * cr; cyn += (y1 + y2) * cr
        per += math.sqrt(((x2 - x1) * (x2 - x1) + (y2 - y1) * (y2 - y1)).toDouble)
      }
      assert(a2 > 0, s"polygon $i must be CCW-positive")
      assert((a2g, cxg, cyg, pg) ==
        (a2, cxn * 1000000L / (3 * a2), cyn * 1000000L / (3 * a2),
          math.floor(per * 1000000.0 + 0.5).toLong), s"mismatch for id $i")
    }
  }
}
