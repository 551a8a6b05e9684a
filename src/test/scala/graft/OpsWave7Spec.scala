package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._
import graft.Session.table
import graft.ops.{HistQuantile, SortedGroups, TopK}
import graft.spatial.ZOrder
import graft.index.Geohash

class ZOrderSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  val dir = "/root/testdata/sf0.001"

  test("morton interleave is a bijection matching a plain-Scala reference") {
    import spark.implicits._
    val bits = 5
    val grid = (for (x <- 0 until 32; y <- 0 until 32) yield (x.toLong, y.toLong))
      .toDF("x", "y")
    val got = grid.select(col("x"), col("y"),
        ZOrder.mortonCol(col("x"), col("y"), bits).as("m"))
      .collect().map(r => ((r.getLong(0), r.getLong(1)), r.getLong(2))).toMap
    def ref(x: Long, y: Long): Long =
      (0 until bits).map(i => (((x >> i) & 1) << (2 * i)) | (((y >> i) & 1) << (2 * i + 1))).sum
    assert(got.size == 1024 && got.values.toSet.size == 1024) // bijective
    got.foreach { case ((x, y), m) => assert(m == ref(x, y), s"($x,$y)") }
  }

  test("range partitioning by morton yields non-overlapping code ranges (file-skip precondition)") {
    val pts = graft.spatial.SpatialQueries.eventPoints(spark, dir)
      .select(ZOrder.mortonCol(ZOrder.gridX(col("lon"), 10),
        ZOrder.gridY(col("lat"), 10), 10).as("m"))
    val ranges = pts.repartitionByRange(8, col("m"))
      .mapPartitions { it =>
        val ms = it.map(_.getLong(0))
        if (ms.isEmpty) Iterator.empty
        else { var mn = Long.MaxValue; var mx = Long.MinValue
          ms.foreach { v => mn = math.min(mn, v); mx = math.max(mx, v) }
          Iterator((mn, mx)) }
      }(org.apache.spark.sql.Encoders.tuple(
        org.apache.spark.sql.Encoders.scalaLong, org.apache.spark.sql.Encoders.scalaLong))
      .collect().sortBy(_._1)
    assert(ranges.length > 1)
    ranges.sliding(2).foreach { case Array((_, aMax), (bMin, _)) =>
      assert(aMax <= bMin, s"overlapping z-ranges: $aMax > $bMin")
    case _ => }
  }
}

class TopKSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  val dir = "/root/testdata/sf0.001"

  /** The window-plan formulation of `TopK.topCustomers` (shuffles every row):
    * the in-Spark reference the bounded heap is compared against. */
  private def topCustomersWindow(k: Int = 3) = {
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("c_mktsegment").orderBy(col("bal_cents").desc, col("c_custkey"))
    table(spark, dir, "customer")
      .select(col("c_mktsegment"),
        floor(col("c_acctbal") * lit(100.0) + lit(0.5)).cast("long").as("bal_cents"),
        col("c_custkey"))
      .withColumn("rank", row_number().over(w).cast("long"))
      .filter(col("rank") <= k)
      .select("c_mktsegment", "rank", "c_custkey", "bal_cents")
  }

  test("bounded-heap top-k equals the window plan; partial aggregation below the exchange") {
    val heap = TopK.topCustomers(spark, dir)
    val win = topCustomersWindow()
    def toSet(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3))).toSet
    assert(toSet(heap) == toSet(win))
    assert(toSet(heap).size == 15) // 5 segments × k=3

    heap.count()
    val p = Wave6.finalPlan(heap)
    // the operator's reason to exist: a real partial+final aggregation (each
    // map task forwards <= k rows/group), not a Window over all rows
    assert(p.contains("partial_topkagg") || p.contains("partial_"),
      s"no partial aggregation in plan:\n${p.take(800)}")
    assert(!p.contains("Window"), s"fell back to a window plan:\n${p.take(800)}")
  }

  test("heap merge is order-insensitive and tie-stable") {
    val agg = TopK.topKAgg(3)
    val items = Seq((5L, 9L), (5L, 2L), (7L, 1L), (1L, 4L), (7L, 8L))
    val whole = items.foldLeft(agg.zero)(agg.reduce)
    for (cut <- 1 until items.length) {
      val (a, b) = items.splitAt(cut)
      val merged = agg.merge(a.foldLeft(agg.zero)(agg.reduce),
        b.foldLeft(agg.zero)(agg.reduce))
      assert(agg.finish(merged) == agg.finish(whole), s"cut=$cut")
    }
    assert(agg.finish(whole) == Seq((7L, 1L), (7L, 8L), (5L, 2L)))
  }

  private def heapOf(k: Int, items: Seq[(Double, Long)]): Seq[(Double, Long)] = {
    val h = new TopK.Heap(k)
    items.foreach { case (key, id) => h.offer(key, id) }
    h.sorted
  }

  test("nearest-neighbour heap: equal keys keep the lower id, in any offer order") {
    val items = Seq((0.5, 9L), (0.5, 2L), (0.1, 7L), (0.5, 4L), (0.9, 1L), (0.5, 3L))
    for (order <- items.permutations)
      assert(heapOf(3, order) == Seq((0.1, 7L), (0.5, 2L), (0.5, 3L)), s"order=$order")
  }

  test("nearest-neighbour heap: k beyond the input keeps every row best first; k = 0 keeps none") {
    val items = Seq((3.0, 1L), (-1.0, 5L), (2.0, 2L))
    assert(heapOf(10, items) == Seq((-1.0, 5L), (2.0, 2L), (3.0, 1L)))
    assert(heapOf(0, items).isEmpty)
  }

  test("nearest-neighbour heap: NaN sorts after +Inf and -0.0 before 0.0 (TotalOrdering)") {
    val items = Seq((Double.NaN, 1L), (0.0, 2L), (Double.PositiveInfinity, 3L), (-0.0, 4L))
    val all = heapOf(4, items)
    assert(all.map(_._2) == Seq(4L, 2L, 3L, 1L))
    assert(java.lang.Double.doubleToRawLongBits(all.head._1) == java.lang.Double.doubleToRawLongBits(-0.0))
    assert(heapOf(3, items).map(_._2) == Seq(4L, 2L, 3L), "NaN must be the first row evicted")
    assert(heapOf(1, items.reverse).map(_._2) == Seq(4L))
  }

  test("perQuery scores a row only for the queries it names and keeps k per query") {
    // rows (id, queries, key); key = id for query 0 and -id for query 1
    val rows = Seq((1L, Array(0, 1)), (2L, Array(1)), (3L, Array.emptyIntArray), (4L, Array(0, 1)))
    val got = TopK.perQuery(rows.iterator, 2, 2)(_._1, _._2,
      r => q => if (q == 0) r._1.toDouble else -r._1.toDouble).toSet
    assert(got == Set((0, 1L, 1.0), (0, 4L, 4.0), (1, 4L, -4.0), (1, 2L, -2.0)))
  }
}

class SortedGroupsSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  val dir = "/root/testdata/sf0.001"

  test("sorted-partition single pass matches a groupBy reference; sort is partition-local") {
    val out = SortedGroups.userSignatures(spark, dir)
    val got = out.collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getString(2), r.getLong(3))).toSet

    val rows = table(spark, dir, "events")
      .select(col("user_id"), unix_micros(col("ts").cast("timestamp")).as("us"),
        col("event_type"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getString(2)))
    val expect = rows.groupBy(_._1).map { case (uid, evs) =>
      val sorted = evs.sortBy(_._2)
      (uid, evs.size.toLong, sorted.take(5).map(_._3).mkString(","), sorted.last._2)
    }.toSet
    assert(got == expect && got.nonEmpty)

    out.count()
    val p = Wave6.finalPlan(out)
    assert(Wave6.exchanges(out) == 1,
      s"expected 1 exchange, saw ${Wave6.exchanges(out)}:\n${p.take(1000)}")
    // partition-local sort (global flag false), never a global sort
    assert(p.contains("Sort ") && !p.contains("rangepartitioning"),
      s"expected a partition-local sort:\n${p.take(1000)}")
  }
}

class GeohashSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark

  test("geohash matches published goldens at even AND odd precision") {
    import spark.implicits._
    val pts = Seq(
      (10.40744, 57.64911), // Jutland — the classic example
      (-5.603, 42.605),     // ezs42 (odd precision exercises lonShift=0)
      (0.0, 0.0),
      (-179.9, -89.9),
      (179.9, 89.9)).toDF("lon", "lat")
    val got6 = pts.select(Geohash.geohashCol(col("lon"), col("lat"), 6))
      .collect().map(_.getString(0))
    assert(got6.toSeq == Seq("u4pruy", "ezs42s", "s00000", "0000d6", "zzzzmt"))
    val got5 = pts.select(Geohash.geohashCol(col("lon"), col("lat"), 5))
      .collect().map(_.getString(0))
    assert(got5.take(2).toSeq == Seq("u4pru", "ezs42"))
    assert(got5(4) == "zzzzm")
  }

  test("prefix relation: the p-char hash is a prefix of the (p+1)-char hash") {
    import spark.implicits._
    val pts = (1 to 200).map { i => (((i * 37) % 360) - 180 + 0.25, ((i * 17) % 180) - 90 + 0.25) }
      .toDF("lon", "lat")
    val bad = pts.select(Geohash.geohashCol(col("lon"), col("lat"), 4).as("g4"),
        Geohash.geohashCol(col("lon"), col("lat"), 5).as("g5"))
      .filter(substring(col("g5"), 1, 4) =!= col("g4")).count()
    assert(bad == 0, s"$bad points whose g4 is not a prefix of g5")
  }
}

class HistQuantileSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  val dir = "/root/testdata/sf0.001"
  val W = 50000L

  test("histogram estimate is within one bin of the exact sorted quantile") {
    val est = HistQuantile.quantiles(spark, dir).collect()
      .map(r => (r.getLong(0), r.getLong(2))).toMap
    val cents = table(spark, dir, "lineitem")
      .select(floor(col("l_extendedprice") * lit(100.0) + lit(0.5)).cast("long"))
      .collect().map(_.getLong(0)).sorted
    for ((qbp, got) <- est) {
      val target = math.ceil(qbp.toDouble * cents.length / 10000).toInt
      val exact = cents(target - 1)
      assert(math.abs(got - exact) <= W,
        s"q=$qbp: est $got vs exact $exact exceeds bin width $W")
      assert(got <= exact && exact < got + W, s"q=$qbp: exact not inside est bin")
    }
  }

  test("histograms merge by bin-wise sum: split halves re-aggregate to the whole") {
    import spark.implicits._
    val cents = table(spark, dir, "lineitem")
      .select(floor(col("l_extendedprice") * lit(100.0) + lit(0.5)).cast("long")
        .as("cents"))
    def hist(df: org.apache.spark.sql.DataFrame): Map[Long, Long] =
      df.groupBy(expr(s"cents div $W").as("bin")).agg(count(lit(1)).as("n"))
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val whole = hist(cents)
    val a = hist(cents.filter(col("cents") % 2 === 0))
    val b = hist(cents.filter(col("cents") % 2 =!= 0))
    val merged = (a.keySet ++ b.keySet).map(k =>
      k -> (a.getOrElse(k, 0L) + b.getOrElse(k, 0L))).toMap
    assert(merged == whole)
  }
}

class KmvIntersectSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import graft.ops.Sketches

  private def hashesOf(df: org.apache.spark.sql.DataFrame, k: Int) =
    Sketches.kmvHashes(df, "id", k)

  test("unfilled sketches: rho IS the exact intersection, estimates exact") {
    val a = hashesOf(spark.range(0, 100).toDF("id"), 512)
    val b = hashesOf(spark.range(50, 150).toDF("id"), 512)
    val u = Sketches.merge(a, b, 512)
    assert(u.length == 150) // union unfilled -> sketches are the full sets
    val rho = u.count(h => a.contains(h) && b.contains(h))
    assert(rho == 50)
    assert(Sketches.estimate(u, 512) == 150)
  }

  test("filled sketches: planted overlap estimated within the k=256 error envelope") {
    val k = 256
    val a = hashesOf(spark.range(0, 10000).toDF("id"), k)
    val b = hashesOf(spark.range(5000, 15000).toDF("id"), k)
    val u = Sketches.merge(a, b, k)
    val estU = Sketches.estimate(u, k)
    val aSet = a.toSet; val bSet = b.toSet
    val rho = u.count(h => aSet(h) && bSet(h))
    val estI = (BigInt(rho) * BigInt(estU) / k).toLong
    // true union 15000, true intersection 5000; 1/sqrt(k) ~ 6%, ratio
    // estimator ~ 11% — assert a 3-sigma-ish 25% envelope (deterministic
    // given the fixed hash family, so this cannot flake)
    assert(math.abs(estU - 15000) < 15000 * 0.25, s"est_union=$estU")
    assert(math.abs(estI - 5000) < 5000 * 0.25, s"est_inter=$estI")
  }
}

class CountMinSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  val dir = "/root/testdata/sf0.001"
  import graft.ops.CountMin

  test("estimates never undercount; exact when the matrix is sparse; collisions only inflate") {
    import spark.implicits._
    val truth = graft.Session.table(spark, dir, "lineitem")
      .groupBy("l_partkey").count()
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    // tight matrix (w=64 < 200 keys): collisions guaranteed -> est >= true
    val tight = CountMin.partkeyFreq(spark, dir, d = 4, w = 64)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(tight.keySet == truth.keySet)
    truth.foreach { case (key, n) =>
      assert(tight(key) >= n, s"key $key undercounted: ${tight(key)} < $n")
    }
    assert(truth.exists { case (key, n) => tight(key) > n },
      "w=64 over 200 keys produced zero collisions — vacuous bound test")
    // wide matrix (w=4096): whp collision-free -> exact
    val wide = CountMin.partkeyFreq(spark, dir, d = 4, w = 4096)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(wide == truth, "w=4096 should be collision-free on 200 keys")
  }

  test("counter matrices merge by cell-wise sum") {
    val li = graft.Session.table(spark, dir, "lineitem")
    def cm(df: org.apache.spark.sql.DataFrame): Map[(Int, Long), Long] =
      CountMin.counters(df, "l_partkey", 4, 256)
        .collect().map(r => (r.getInt(0), r.getLong(1)) -> r.getLong(2)).toMap
    val whole = cm(li)
    val a = cm(li.filter(org.apache.spark.sql.functions.col("l_orderkey") % 2 === 0))
    val b = cm(li.filter(org.apache.spark.sql.functions.col("l_orderkey") % 2 =!= 0))
    val merged = (a.keySet ++ b.keySet).map(c =>
      c -> (a.getOrElse(c, 0L) + b.getOrElse(c, 0L))).toMap
    assert(merged == whole)
  }
}

class TileMosaicSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import graft.multimodal.TileMosaic
  import graft.synth.ImageSynth

  test("real decode equals the synth raster at the sample coords; rollup is exactly the per-row analytic sum") {
    val n = 300
    val rows = graft.pipeline.ImagePipeline.synthTable(spark, n.toLong, 4).collect()
    val pngs = rows.filter(_.fmt == "png")
    assert(pngs.nonEmpty && pngs.length < rows.length)
    val xs = Array(0, 9, 0, 9); val ys = Array(0, 0, 9, 9)

    // decode-vs-render: the stored PNG bytes round-trip losslessly
    pngs.take(50).foreach { r =>
      val img = graft.pipeline.Validate.decode(r.bytes, "png")
      val seed = ImageSynth.seedOf(r.image_id.stripPrefix("img").toLong)
      val ref = ImageSynth.render(seed, r.w, r.h)
      (0 until 4).foreach { c =>
        assert((img.getRGB(xs(c), ys(c)) & 0xFF) == (ref.getRGB(xs(c), ys(c)) & 0xFF),
          s"${r.image_id} pixel (${xs(c)},${ys(c)})")
      }
    }

    // the mosaic counts every PNG exactly once and sums exactly the
    // analytic brightness (mix-formula replica, independent of the decode)
    val out = TileMosaic.mosaic(spark, n.toLong, 4).collect()
    assert(out.map(_.getLong(1)).sum == pngs.length)
    val expected = pngs.map { r =>
      val seed = ImageSynth.seedOf(r.image_id.stripPrefix("img").toLong)
      (0 until 4).map { c =>
        (ImageSynth.mix(seed ^ ((ys(c) / 8).toLong << 32) ^ (xs(c) / 8).toLong) & 0xBF) +
          (xs(c) % 8) * 3 + (ys(c) % 8) * 4
      }.sum
    }.sum
    assert(out.map(_.getLong(2)).sum == expected)
  }
}

class HllPerGroupSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  val dir = "/root/testdata/sf0.001"

  test("per-group estimates (linear-counting-corrected) land inside the m=64 envelope") {
    val m = 64
    val raw = graft.ops.Sketches.hllDistinctPerGroup(spark, dir)
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    val truth = table(spark, dir, "events")
      .groupBy("event_type").agg(countDistinct(col("user_id")).as("n"))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(raw.keySet == truth.keySet && raw.size == 5)
    // the gate emits the RAW estimate (no ln cross-engine — the q87 call);
    // accuracy is judged, as in SketchSpec, after the Scala-side linear-
    // counting correction small groups need
    truth.foreach { case (t, n) =>
      val regs = graft.ops.Sketches.hllRegisters(
        table(spark, dir, "events").filter(col("event_type") === t), "user_id")
        .collect().map(r => (r.getLong(0), r.getLong(1))).sortBy(_._1).map(_._2)
      val zeros = regs.count(_ == 0L)
      val est = if (raw(t) <= 2.5 * m && zeros > 0) m * math.log(m.toDouble / zeros)
                else raw(t).toDouble
      // the grouped build and the per-group build must agree exactly
      assert(graft.ops.Sketches.hllEstimate(regs) == raw(t), s"$t: register mismatch")
      assert(math.abs(est - n) <= n * 0.35,
        s"$t: corrected est $est (raw ${raw(t)}) vs true $n outside 35% envelope")
    }
  }
}

class OuterJoinSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  val dir = "/root/testdata/sf0.001"

  test("both outer null sides are genuinely exercised; counts reconcile") {
    val out = graft.ops.Reshape.outerCoverage(spark, dir)
    val rows = out.collect()
    val leftOnly = rows.count(r => r.isNullAt(2)) // rich customer, no big orders
    val rightOnly = rows.count(r => r.isNullAt(1)) // big orders, not rich
    val matched = rows.length - leftOnly - rightOnly
    assert(leftOnly > 0, "no left-only rows — threshold choice is vacuous")
    assert(rightOnly > 0, "no right-only rows — threshold choice is vacuous")
    val nRich = table(spark, dir, "customer").filter(col("c_acctbal") > 7000.0).count()
    val nBig = table(spark, dir, "orders").filter(col("o_totalprice") > 280000.0)
      .select("o_custkey").distinct().count()
    assert(matched + leftOnly == nRich && matched + rightOnly == nBig)
    assert(rows.forall(r => !r.isNullAt(0)), "coalesced key must never be null")
  }
}

class PivotRoundtripSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  val dir = "/root/testdata/sf0.001"

  test("pivot∘unpivot == identity; pivot schema is data-independent") {
    val rt = graft.ops.Reshape.pivotRoundtrip(spark, dir)
    val direct = table(spark, dir, "events")
      .groupBy("user_id", "event_type").agg(count(lit(1)).as("n"))
    def toSet(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2))).toSet
    assert(toSet(rt) == toSet(direct))
    // explicit-values pivot: schema fixed even when the data lacks types
    val narrow = table(spark, dir, "events")
      .filter(col("event_type").isin("click", "view"))
      .groupBy(col("user_id"))
      .pivot("event_type", Seq("click", "error", "purchase", "signup", "view"))
      .agg(count(lit(1)))
    assert(narrow.columns.toSeq ==
      Seq("user_id", "click", "error", "purchase", "signup", "view"))
  }
}

class ResampleSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  val dir = "/root/testdata/sf0.001"

  test("gap days appear with n=0 and the carried value; grid covers each user's span exactly") {
    val out = graft.ops.Resample.dailyFfill(spark, dir).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    val byUser = out.groupBy(_._1)
    // spans are contiguous
    byUser.foreach { case (u, rows) =>
      val days = rows.map(_._2).sorted
      assert(days.last - days.head + 1 == days.length, s"user $u grid has holes")
    }
    // gap rows exist and carry the previous observed value
    val gaps = out.filter(_._3 == 0L)
    assert(gaps.nonEmpty, "no gap days at sf0.001 — resample test is vacuous")
    byUser.foreach { case (u, rows) =>
      val sorted = rows.sortBy(_._2)
      sorted.sliding(2).foreach {
        case Array((_, _, _, prevC), (_, _, n, c)) =>
          if (n == 0L) assert(c == prevC, s"user $u: gap day did not carry forward")
        case _ =>
      }
    }
    // real daily sums match a direct rollup
    val direct = table(spark, dir, "events")
      .select(col("user_id"),
        floor(floor(unix_timestamp(col("ts"))) / lit(86400)).cast("long").as("day"),
        floor(col("value") * lit(100.0) + lit(0.5)).cast("long").as("vc"))
      .groupBy("user_id", "day").agg(sum("vc").as("s"), count(lit(1)).as("n"))
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> (r.getLong(2), r.getLong(3))).toMap
    out.filter(_._3 > 0).foreach { case (u, d, n, c) =>
      assert(direct((u, d)) == ((c, n)), s"($u,$d)")
    }
  }
}

class IncrementalSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  val dir = "/root/testdata/sf0.001"

  test("merged two-epoch partials equal a direct single-pass rollup (all measures)") {
    val merged = graft.ops.Incremental.mergedDailyRollup(spark, dir)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))).toSet

    // direct recompute in-Spark (counts/sums plain; registers in one pass)
    val ev = table(spark, dir, "events")
      .select(col("user_id"),
        floor(floor(unix_timestamp(col("ts"))) / lit(86400)).cast("long").as("day"),
        floor(col("value") * lit(100.0) + lit(0.5)).cast("long").as("vc"))
    val base = ev.groupBy("day")
      .agg(count(lit(1)).as("n"), sum("vc").as("cents"))
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2))).toMap
    val perDay = ev.select("day", "user_id").collect()
      .map(r => (r.getLong(0), r.getLong(1)))
      .groupBy(_._1)
    val expect = perDay.map { case (day, rows) =>
      val regs = new Array[Long](64)
      rows.map(_._2).distinct.foreach { uid =>
        val h = graft.synth.ImageSynth.mix(uid)
        val bucket = (h >>> 58).toInt
        val rest = h << 6
        val rho = if (rest == 0L) 59L else java.lang.Long.numberOfLeadingZeros(rest) + 1L
        regs(bucket) = math.max(regs(bucket), rho)
      }
      (day, base(day)._1, base(day)._2, graft.ops.Sketches.hllEstimate(regs))
    }.toSet
    assert(merged == expect && merged.nonEmpty)
  }
}

class FuzzyJoinSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  val dir = "/root/testdata/sf0.001"
  import graft.ops.FuzzyJoin

  test("two-pointer ed<=1 check matches a DP reference on exhaustive short strings") {
    def dp(a: String, b: String): Int = {
      val d = Array.tabulate(a.length + 1, b.length + 1) { (i, j) =>
        if (i == 0) j else if (j == 0) i else 0 }
      for (i <- 1 to a.length; j <- 1 to b.length)
        d(i)(j) = math.min(math.min(d(i - 1)(j) + 1, d(i)(j - 1) + 1),
          d(i - 1)(j - 1) + (if (a(i - 1) == b(j - 1)) 0 else 1))
      d(a.length)(b.length)
    }
    val alpha = "abc"
    val strs = (0 to 3).flatMap(n =>
      Iterator.fill(1)(List.fill(n)(alpha).flatten).flatMap(_ =>
        (0 until math.pow(3, n).toInt).map { k =>
          var v = k; (0 until n).map { _ => val c = alpha(v % 3); v /= 3; c }.mkString
        })).distinct
    for (a <- strs; b <- strs)
      assert(FuzzyJoin.editDistanceLe1(a, b) == (dp(a, b) <= 1), s"'$a' vs '$b'")
  }

  test("deletion-neighborhood cover: every ed<=1 pair shares a signature (recall 1 vs brute force)") {
    val got = FuzzyJoin.nameNeighbors(spark, dir)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val names = table(spark, dir, "customer")
      .select("c_custkey", "c_name").collect()
      .map(r => (r.getLong(0), r.getString(1)))
    val expect = (for {
      (ka, na) <- names; (kb, nb) <- names
      if ka < kb && FuzzyJoin.editDistanceLe1(na, nb)
    } yield (ka, kb)).toSet
    assert(got == expect)
    assert(got.nonEmpty, "no edit-1 name pairs at sf0.001 — vacuous")
  }
}

class ArrayFnsSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  val dir = "/root/testdata/sf0.001"

  test("folds match plain-Scala left-to-right references; argmax is first-occurrence") {
    val out = graft.ops.ArrayFns.vectorStats(spark, dir).collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4))).toMap
    val vecs = table(spark, dir, "embeddings").select("vec_id", "embedding").collect()
      .map(r => r.getLong(0) -> r.getSeq[Float](1).map(_.toDouble).toArray)
    assert(out.size == vecs.length)
    vecs.foreach { case (id, d) =>
      val nPos = d.count(_ > 0).toLong
      val maxIdx = (d.indexOf(d.max) + 1).toLong
      val ssq = d.foldLeft(0.0)((acc, x) => acc + x * x)
      val rev = d.reverse
      val revdot = d.indices.map(i => d(i) * rev(i))
        .foldLeft(0.0)((acc, x) => acc + x)
      val expect = (nPos, maxIdx,
        math.floor(ssq * 1000000.0 + 0.5).toLong,
        math.floor(revdot * 1000000.0 + 0.5).toLong)
      assert(out(id) == expect, s"vec $id")
    }
  }
}
