package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.BeforeAndAfterAll

/** Shared local SparkSession for all Spark-backed specs (one JVM-wide session
  * keeps `sbt -batch test` fast). */
object TestSpark {
  lazy val spark: SparkSession = {
    val s = Session.build(master = "local[4]", shufflePartitions = 4, appName = "graft-test")
    s.sparkContext.setLogLevel("ERROR")
    s
  }
}

/** The typed-path reference for `ImagePipeline.run`'s rollup: per-tile
  * per-team pivot (the `<team>-e` dynamic-column layer,
  * map-contribution-extractor.js:295-311, with `teamSum` totals) over
  * features already joined to their metro `boundary_id`. */
object TypedPivot {
  import org.apache.spark.sql.DataFrame
  import org.apache.spark.sql.functions._

  def tileTeamPivot(joined: DataFrame): DataFrame =
    joined.groupBy(col("tile"), col("boundary_id"))
      .agg(
        sum(when(col("team") === "kll", 1L).otherwise(0L)).as("kll_e"),
        sum(when(col("team") === "msf", 1L).otherwise(0L)).as("msf_e"),
        sum(when(col("team") === "dcx", 1L).otherwise(0L)).as("dcx_e"),
        sum(when(col("team") === "hot", 1L).otherwise(0L)).as("hot_e"),
        count(lit(1)).as("team_sum_e"),
        countDistinct(col("uid")).as("n_users"))
}

class PipelineSpec extends AnyFunSuite {
  import graft.pipeline.{ImagePipeline, Validate}
  import graft.spatial.PipJoin
  import graft.synth.{ImageSynth, Geotag}
  import graft.index.Quadkey
  import org.apache.spark.sql.functions._

  lazy val spark: SparkSession = TestSpark.spark

  test("synth table carries the exact input_hint schema") {
    val df = ImagePipeline.synthTable(spark, 20, 2).toDF()
    assert(df.schema.map(f => (f.name, f.dataType.simpleString)).toSeq == Seq(
      "image_id" -> "string", "bytes" -> "binary", "w" -> "int", "h" -> "int",
      "fmt" -> "string", "caption" -> "string", "phash" -> "bigint"))
  }

  test("per-row validation: pixels (exact png / >=40dB jpg), captions, phash all pass") {
    val row = Validate.summary(ImagePipeline.synthTable(spark, 300, 4).toDF()).head()
    assert(row.getLong(0) == 300)
    assert(row.getLong(1) == 300, "pixel validation failed rows")
    assert(row.getLong(2) == 300, "caption mismatch rows")
    assert(row.getLong(3) == 300, "phash mismatch rows")
    // per-format verdicts partition the rows (fmt split re-derived
    // independently by the q33 oracle from mix(seed^5) bit 0)
    assert(row.getLong(4) + row.getLong(5) == 300, "png_ok + jpg_ok must cover all rows")
    assert(row.getLong(4) > 0 && row.getLong(5) > 0, "both formats must appear")
    assert(row.getBoolean(6), "jpg psnr fell below 40 dB")
  }

  test("feature tile assignment matches the scalar encoder row-for-row") {
    val feats = ImagePipeline.fastFeatures(spark, 200, 4)
      .select(col("idx"), col("lon"), col("lat"), col("tile")).collect()
    assert(feats.length == 200)
    feats.foreach { f =>
      val seed = ImageSynth.seedOf(f.getLong(0))
      val lon = Geotag.lonOf(seed)
      val lat = Geotag.latOf(seed)
      assert(f.getLong(3) == Quadkey.cellIdOf(lon, lat, 12))
      assert(math.abs(f.getDouble(1) - lon) < 1e-12 && math.abs(f.getDouble(2) - lat) < 1e-12)
    }
  }

  test("pipeline rollup: team columns sum to team_sum_e; joined rows preserved") {
    val joined = PipJoin.join(ImagePipeline.named(ImagePipeline.fastFeatures(spark, 2000, 4)),
      ImagePipeline.metroBoundaries, "lon", "lat")
    val nJoined = joined.count()
    assert(nJoined > 1000, s"expected most rows in metros, got $nJoined") // ~70% clustered
    val pivot = TypedPivot.tileTeamPivot(joined)
    val bad = pivot.filter(col("kll_e") + col("msf_e") + col("dcx_e") + col("hot_e") =!= col("team_sum_e")).count()
    assert(bad == 0)
    assert(pivot.agg(sum(col("team_sum_e"))).head().getLong(0) == nJoined)
  }

  test("PIP join assigns only real metro boundaries and respects containment") {
    val feats = ImagePipeline.fastFeatures(spark, 1000, 4)
    val joined = PipJoin.join(feats, ImagePipeline.metroBoundaries, "lon", "lat")
      .collect().map(r => r.getAs[Long]("idx") -> r.getAs[String]("boundary_id")).toMap
    // brute force: the lowest-id boundary whose ring contains the point
    val brute = feats.select(col("idx"), col("lon"), col("lat")).collect().flatMap { f =>
      ImagePipeline.metroBoundaries.filter(_.containsPoint(f.getDouble(1), f.getDouble(2))).map(_.id)
        .sorted.headOption.map(f.getLong(0) -> _)
    }.toMap
    assert(brute.size > 500, s"expected most rows in metros, got ${brute.size}")
    assert(joined == brute)
    assert(!joined.values.exists(_ == "nowhere"))
  }

  test("skew exists by construction (metro cells are dense at z8)") {
    // z12 spreads a metro over ~64 tiles; at z8 (1.4 deg tiles) each metro is
    // 1-4 tiles, so the hot-cell concentration the salting targets is visible
    val feats = ImagePipeline.fastFeatures(spark, 3000, 4)
      .withColumn("z8", graft.functions.SeedExprs.quadCell(col("lat"), col("lon"), 8))
    val counts = feats.groupBy(col("z8")).count().orderBy(col("count").desc).collect()
    val top = counts.take(10).map(_.getLong(1)).sum.toDouble
    assert(top / 3000.0 > 0.5, s"expected hot z8 cells holding >50% of rows, got ${top / 3000.0}")
  }
}

class KnnSparkSpec extends AnyFunSuite {
  import graft.spatial.Knn
  import org.apache.spark.sql.functions._
  lazy val spark: SparkSession = TestSpark.spark

  test("hex-ring kNN equals brute force (property over random clouds)") {
    import spark.implicits._
    val r = new Prop.Rng(21)
    val pts = (0L until 500L).map(i => (i, r.double(-60, 60), r.double(-40, 40)))
    val df = pts.toDF("id", "lon", "lat")
    val queries = Seq(Knn.QueryPoint(1, 0, 0), Knn.QueryPoint(2, -55, 30), Knn.QueryPoint(3, 59, -39))
    val got = Knn.knn(df, queries, k = 7, res = 3)
      .collect().map(row => (row.getLong(0), row.getLong(1), row.getInt(2))).toSet
    val want = queries.flatMap { q =>
      pts.map { case (id, lon, lat) =>
        val dx = lon - q.lon; val dy = lat - q.lat
        (id, dx * dx + dy * dy)
      }.sortBy(x => (x._2, x._1)).take(7).zipWithIndex
        .map { case ((id, _), i) => (q.qid, id, i + 1) }
    }.toSet
    assert(got == want)
  }

  test("kNN scans the point table at most twice (density pass + top-k pass)") {
    import spark.implicits._
    val r = new Prop.Rng(33)
    val pts = (0L until 2000L).map(i => (i, r.double(-60, 60), r.double(-40, 40)))
    val df = pts.toDF("id", "lon", "lat")
    val jobs = new java.util.concurrent.atomic.AtomicInteger(0)
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(js: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
        jobs.incrementAndGet()
    }
    spark.sparkContext.addSparkListener(listener)
    try {
      // collect the result INSIDE the listener window; the final small toDF +
      // window runs on driver-local rows (one job)
      Knn.knn(df, Seq(Knn.QueryPoint(1, 0, 0), Knn.QueryPoint(2, -50, 20)), k = 5, res = 3).collect()
      org.apache.spark.sql.GraftShim.drainListenerBus(spark.sparkContext)
      // density pass + top-k pass + tiny local-result job = 3 jobs ceiling;
      // the point TABLE itself is only read by the first two
      assert(jobs.get() <= 3, s"expected <=3 jobs (2 table scans), saw ${jobs.get()}")
    } finally spark.sparkContext.removeSparkListener(listener)
  }

  test("under-dense query (fewer than k points anywhere near) falls back to exact brute force") {
    import spark.implicits._
    // 3 points total near (0,0); query asks for k=5 -> density pass can never
    // certify a ring; the logged brute-force fallback must still return the
    // exact 3 available neighbors ranked 1..3
    val df = Seq((1L, 0.1, 0.1), (2L, 0.2, -0.1), (3L, -0.3, 0.2)).toDF("id", "lon", "lat")
    val got = Knn.knn(df, Seq(Knn.QueryPoint(9, 0, 0)), k = 5, res = 3)
      .collect().map(row => (row.getLong(0), row.getLong(1), row.getInt(2))).toSet
    assert(got == Set((9L, 1L, 1), (9L, 2L, 2), (9L, 3L, 3)))
  }
}

class AnnSparkSpec extends AnyFunSuite {
  import graft.ann.Ann
  lazy val spark: SparkSession = TestSpark.spark

  test("on clustered embeddings LSH prunes hard AND recalls the true top-k exactly") {
    import spark.implicits._
    val r = new Prop.Rng(7)
    val dim = 16
    def noisy(center: Array[Double], eps: Double): Array[Double] =
      center.map(c => c + r.double(-eps, eps))
    val centers = Array.fill(3)(Array.fill(dim)(r.double(-1, 1)))
    // ids 0..2 are the query vectors (the cluster centers themselves)
    val rows: Seq[(Long, Array[Double])] =
      centers.zipWithIndex.map { case (c, i) => (i.toLong, c) }.toSeq ++
        (0 until 90).map(i => (100L + i, noisy(centers(i % 3), 0.08))) ++
        (0 until 400).map(i => (1000L + i, Array.fill(dim)(r.double(-1, 1))))
    val vecs = rows.toDF("vec_id", "v")
    val queries = centers.zipWithIndex.map { case (c, i) => Ann.EmbQuery(i.toLong, c) }.toSeq

    // pruning: candidates must be well under the full Q x N cross product
    val nCand = Ann.lshCandidates(vecs, queries, nBits = 16, bands = 4).count()
    val full = queries.size.toLong * rows.size
    assert(nCand < full / 2, s"no pruning: $nCand of $full pairs are candidates")

    // exactness on the clustered region: LSH top-10 == brute-force top-10
    val got = Ann.lshTopKFrom(vecs, queries, k = 10)
      .collect().map(x => (x.getLong(0), x.getLong(1), x.getInt(2))).toSet
    val want = queries.flatMap { q =>
      rows.map { case (id, v) => (id, Ann.cosine(q.vec, v)) }
        .sortBy { case (id, c) => (-c, id) }.take(10).zipWithIndex
        .map { case ((id, _), i) => (q.qid, id, i + 1) }
    }.toSet
    assert(got == want)
  }

  test("IVF with full probe equals brute force; partial probe prunes with full recall on clusters") {
    import spark.implicits._
    val r = new Prop.Rng(13)
    val dim = 16
    def noisy(center: Array[Double], eps: Double): Array[Double] =
      center.map(c => c + r.double(-eps, eps))
    val centers = Array.fill(4)(Array.fill(dim)(r.double(-1, 1)))
    val rows: Seq[(Long, Array[Double])] =
      centers.zipWithIndex.map { case (c, i) => (i.toLong, c) }.toSeq ++
        (0 until 120).map(i => (100L + i, noisy(centers(i % 4), 0.05))) ++
        (0 until 300).map(i => (1000L + i, Array.fill(dim)(r.double(-1, 1))))
    val vecs = rows.toDF("vec_id", "v")
    val queries = centers.zipWithIndex.map { case (c, i) => Ann.EmbQuery(i.toLong, c) }.toSeq
    val want = queries.flatMap { q =>
      rows.map { case (id, v) => (id, Ann.cosine(q.vec, v)) }
        .sortBy { case (id, c) => (-c, id) }.take(10).zipWithIndex
        .map { case ((id, _), i) => (q.qid, id, i + 1) }
    }.toSet
    // nprobe == nlist -> exhaustive -> must equal brute EXACTLY
    val full = Ann.ivfTopKFrom(vecs, queries, k = 10, nlist = 8, nprobe = 8)
      .collect().map(x => (x.getLong(0), x.getLong(1), x.getInt(2))).toSet
    assert(full == want)
    // partial probe: queries ARE cluster centers, the clusters dominate the
    // top-10, and Lloyd centroids track the planted clusters -> full recall
    val part = Ann.ivfTopKFrom(vecs, queries, k = 10, nlist = 8, nprobe = 3)
      .collect().map(x => (x.getLong(0), x.getLong(1), x.getInt(2))).toSet
    assert(part == want, s"IVF nprobe=3 missed: ${(want -- part).take(5)}")
  }

  test("IVF+SQ8: full probe equals exhaustive SQ8 scoring; partial probe keeps cluster recall") {
    import spark.implicits._
    val r = new Prop.Rng(29)
    val dim = 16
    def noisy(center: Array[Double], eps: Double): Array[Double] =
      center.map(c => c + r.double(-eps, eps))
    val centers = Array.fill(4)(Array.fill(dim)(r.double(-1, 1)))
    val rows: Seq[(Long, Array[Double])] =
      centers.zipWithIndex.map { case (c, i) => (i.toLong, c) }.toSeq ++
        (0 until 120).map(i => (100L + i, noisy(centers(i % 4), 0.05))) ++
        (0 until 300).map(i => (1000L + i, Array.fill(dim)(r.double(-1, 1))))
    val vecs = rows.toDF("vec_id", "v")
    val queries = centers.zipWithIndex.map { case (c, i) => Ann.EmbQuery(i.toLong, c) }.toSeq
    // truth = plain-loop exhaustive scoring through the SAME int8
    // reconstruction the engine uses (quantization loses information, so the
    // reference is reconstructed cosine, not full-precision cosine)
    def reconCos(q: Array[Double], v: Array[Double]): Double = {
      val (lo, step, codes) = Ann.sqQuantize(v)
      var s = 0.0; var rr = 0.0; var qq = 0.0; var i = 0
      while (i < codes.length) {
        val rec = lo + (codes(i) + 128).toDouble * step
        s += q(i) * rec; rr += rec * rec; qq += q(i) * q(i)
        i += 1
      }
      s / (math.sqrt(qq) * math.sqrt(rr))
    }
    val want = queries.flatMap { q =>
      rows.map { case (id, v) => (id, reconCos(q.vec, v)) }
        .sortBy { case (id, c) => (-c, id) }.take(10).zipWithIndex
        .map { case ((id, _), i) => (q.qid, id, i + 1) }
    }.toSet
    val full = Ann.ivfSqTopKFrom(vecs, queries, k = 10, nlist = 8, nprobe = 8)
      .collect().map(x => (x.getLong(0), x.getLong(1), x.getInt(2))).toSet
    assert(full == want)
    // partial probe: queries ARE cluster centers, so the probed lists hold
    // the true neighbors — int8 noise (step/2 per component) cannot move a
    // cos~1 cluster member below a |cos|<~0.5 random vector
    val part = Ann.ivfSqTopKFrom(vecs, queries, k = 10, nlist = 8, nprobe = 3)
      .collect().map(x => (x.getLong(0), x.getLong(1), x.getInt(2))).toSet
    assert(part == want, s"IVF+SQ8 nprobe=3 missed: ${(want -- part).take(5)}")
  }

  test("brute top-k over duplicated vectors ranks ties by vec_id, the same at 1 and 4 partitions") {
    import org.apache.spark.sql.Row
    import org.apache.spark.sql.types._
    val r = new Prop.Rng(47)
    val dim = 8
    val bases = Array.fill(40)(Array.fill(dim)(r.double(-1, 1)))
    // three copies of every base, copy c of base b as vec_id c*1000 + b: the
    // copies score bit-identically, so ranks 1..3 and the k = 5 cut are ties
    val rows = for (c <- 0 until 3; (v, b) <- bases.zipWithIndex) yield (c * 1000L + b, v)
    val queries = (0 until 5).map(b => Ann.EmbQuery(b.toLong, bases(b)))
    val want = queries.flatMap { q =>
      rows.map { case (id, v) => (id, Ann.cosine(q.vec, v)) }
        .sortBy { case (id, c) => (-c, id) }.take(5).zipWithIndex
        .map { case ((id, _), i) => (q.qid, id, i + 1) }
    }.toSet
    val schema = StructType(Seq(StructField("vec_id", LongType), StructField("v", ArrayType(DoubleType))))
    for (p <- Seq(1, 4)) {
      val vecs = spark.createDataFrame(
        spark.sparkContext.parallelize(rows.map { case (id, v) => Row(id, v.toSeq) }, p), schema)
      val got = Ann.bruteTopKFrom(vecs, queries, k = 5)
        .collect().map(x => (x.getLong(0), x.getLong(1), x.getInt(2))).toSet
      assert(got == want, s"partitions=$p: missed=${(want -- got).take(3)} extra=${(got -- want).take(3)}")
    }
  }

  test("a dir tier opens embeddings once: bruteTopK's construction infers the schema in one job") {
    import spark.implicits._
    val r = new Prop.Rng(43)
    val dir = java.nio.file.Files.createTempDirectory("annopen").toString
    (0 until 50).map(i => (i.toLong, Array.fill(4)(r.double(-1, 1))))
      .toDF("vec_id", "embedding").write.parquet(s"$dir/embeddings.parquet")
    val sc = spark.sparkContext
    org.apache.spark.sql.GraftShim.drainListenerBus(sc)
    val inference = new java.util.concurrent.atomic.AtomicInteger(0)
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(js: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
        if (js.stageInfos.exists(_.name.startsWith("parquet at "))) inference.incrementAndGet()
    }
    sc.addSparkListener(listener)
    try {
      Ann.bruteTopK(spark, dir)
      org.apache.spark.sql.GraftShim.drainListenerBus(sc)
    } finally sc.removeSparkListener(listener)
    assert(inference.get() == 1, s"schema-inference jobs: ${inference.get()}")
  }

  test("filteredTopK: only qualifying candidates ranked; predicate reaches the scan") {
    import spark.implicits._
    import org.apache.spark.sql.functions.col
    val r = new Prop.Rng(41)
    val dim = 8
    val rows = (0 until 300).map(i => (i.toLong, Array.fill(dim)(r.double(-1, 1)), i % 5))
    val dir = java.nio.file.Files.createTempDirectory("annfilter").toString
    rows.toDF("vec_id", "embedding", "label").write.parquet(s"$dir/embeddings.parquet")
    val got = Ann.filteredTopK(spark, dir, q = 3, k = 5, label = 2)
      .collect().map(x => (x.getLong(0), x.getLong(1), x.getInt(2))).toSet
    val queries = rows.filter(_._1 < 3)
    val want = queries.flatMap { case (qid, qv, _) =>
      rows.filter(_._3 == 2).map { case (id, v, _) => (id, Ann.cosine(qv, v)) }
        .sortBy { case (id, c) => (-c, id) }.take(5).zipWithIndex
        .map { case ((id, _), i) => (qid, id, i + 1) }
    }.toSet
    assert(got == want)
    // the label predicate must be a pushed parquet filter, not a post-scan one
    val plan = Ann.filteredTopK(spark, dir, q = 3, k = 5, label = 2)
      .queryExecution.executedPlan.toString
    assert(plan.contains("PushedFilters") && plan.contains("EqualTo(label,2)"),
      s"label filter not pushed:\n${plan.take(800)}")
  }

  test("knnGraph equals plain-loop top-k neighbors for odd/edge block counts") {
    import spark.implicits._
    val r = new Prop.Rng(43)
    val dim = 8
    val rows = (0 until 120).map(i => (i.toLong, Array.fill(dim)(r.double(-1, 1))))
    val dir = java.nio.file.Files.createTempDirectory("knngraph").toString
    rows.toDF("vec_id", "embedding").write.parquet(s"$dir/embeddings.parquet")
    val want = rows.flatMap { case (id, v) =>
      rows.filter(_._1 != id).map { case (nid, nv) => (nid, Ann.cosine(v, nv)) }
        .sortBy { case (nid, c) => (-c, nid) }.take(4).zipWithIndex
        .map { case ((nid, _), i) => (id, nid, i + 1) }
    }.toSet
    for (blocks <- Seq(1, 3, 8)) {
      val got = Ann.knnGraph(spark, dir, k = 4, blocks = blocks)
        .collect().map(x => (x.getLong(0), x.getLong(1), x.getInt(2))).toSet
      assert(got == want, s"blocks=$blocks: missed=${(want -- got).take(3)} extra=${(got -- want).take(3)}")
    }
  }

  test("PQ: lattice training is partitioning-invariant; planted-cluster recall; codes compress") {
    import spark.implicits._
    val r = new Prop.Rng(37)
    val dim = 16
    def noisy(center: Array[Double], eps: Double): Array[Double] =
      center.map(c => c + r.double(-eps, eps))
    val centers = Array.fill(4)(Array.fill(dim)(r.double(-0.5, 0.5)))
    val rows: Seq[(Long, Array[Double])] =
      centers.zipWithIndex.map { case (c, i) => (i.toLong, c) }.toSeq ++
        (0 until 120).map(i => (100L + i, noisy(centers(i % 4), 0.02))) ++
        (0 until 200).map(i => (1000L + i, Array.fill(dim)(r.double(-0.5, 0.5))))
    val queries = centers.zipWithIndex.map { case (c, i) => Ann.EmbQuery(i.toLong, c) }.toSeq
    // THE integer-lattice claim: identical output at 1, 3 and 13 partitions
    // (FP k-means would drift — centroid sums change with partition bounds)
    val outs = Seq(1, 3, 13).map { p =>
      val vecs = spark.createDataFrame(
        spark.sparkContext.parallelize(rows.map(x => org.apache.spark.sql.Row(x._1, x._2.toSeq)), p),
        org.apache.spark.sql.types.StructType(Seq(
          org.apache.spark.sql.types.StructField("vec_id", org.apache.spark.sql.types.LongType),
          org.apache.spark.sql.types.StructField("v",
            org.apache.spark.sql.types.ArrayType(org.apache.spark.sql.types.DoubleType)))))
      Ann.pqTopKFrom(vecs, queries, k = 10, m = 4, ksub = 16)
        .collect().map(x => (x.getLong(0), x.getLong(1), x.getInt(2))).toSet
    }
    assert(outs(0) == outs(1) && outs(1) == outs(2),
      s"partitioning changed PQ output: ${(outs(0) -- outs(1)).take(3)}")
    // planted clusters: each center-query's top-10 stays inside its cluster
    // (PQ reconstruction preserves cluster geometry even at 4x16 codebooks)
    val clusterIds = (0 until 4).map(ci =>
      ci -> (Set(ci.toLong) ++ (0 until 120).collect {
        case i if i % 4 == ci => 100L + i
      }.toSet)).toMap
    queries.foreach { qq =>
      val got = outs(0).collect { case (qid, vid, _) if qid == qq.qid => vid }
      val own = clusterIds(qq.qid.toInt)
      val hits = got.count(own.contains)
      assert(hits >= 9, s"query ${qq.qid}: only $hits/10 from its cluster")
    }
  }

  test("SemDeDup: nlist=1 equals exact all-pairs dedup; clustered path keeps recall on separated clusters") {
    import spark.implicits._
    val r = new Prop.Rng(31)
    val dim = 16
    // planted near-dup pairs inside well-separated clusters + singleton noise
    val bases = Array.fill(12)(Array.fill(dim)(r.double(-1, 1)))
    val rows: Seq[(Long, Array[Double])] =
      bases.zipWithIndex.flatMap { case (b0, i) =>
        Seq((i * 2L, b0), (i * 2L + 1, b0.map(c => c + r.double(-0.005, 0.005))))
      }.toSeq ++ (0 until 200).map(i => (1000L + i, Array.fill(dim)(r.double(-1, 1))))
    val vecs = rows.toDF("vec_id", "v")
    // exact truth from plain loops: pairs -> components (union-find) -> keep
    val truePairs = (for {
      i <- rows.indices; j <- (i + 1) until rows.length
      if Ann.cosine(rows(i)._2, rows(j)._2) >= 0.98
    } yield (rows(i)._1, rows(j)._1)).toSeq
    assert(truePairs.size >= 12)
    val parent = scala.collection.mutable.Map(rows.map(x => x._1 -> x._1): _*)
    def find(x: Long): Long = if (parent(x) == x) x else { val r0 = find(parent(x)); parent(x) = r0; r0 }
    truePairs.foreach { case (a, b) =>
      val (ra, rb) = (find(a), find(b)); if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
    }
    val want = rows.map { case (id, _) =>
      val c = find(id); (id, c, if (id == c) 1L else 0L)
    }.toSet
    val exact = Ann.semDedupFrom(vecs, nlist = 1, theta = 0.98)
      .collect().map(x => (x.getLong(0), x.getLong(1), x.getLong(2))).toSet
    assert(exact == want)
    // clustered path: planted dup pairs are ~identical so they can never be
    // split across k-means clusters; the verdict list must be unchanged
    val clustered = Ann.semDedupFrom(vecs, nlist = 6, theta = 0.98)
      .collect().map(x => (x.getLong(0), x.getLong(1), x.getLong(2))).toSet
    assert(clustered == want, s"clustered missed: ${(want -- clustered).take(5)}")
  }

  test("block-pair triangle decomposition is exact for odd/edge block counts") {
    import spark.implicits._
    import org.apache.spark.sql.functions.col
    val r = new Prop.Rng(23)
    val dim = 8
    // include planted near-identical pairs so the threshold actually fires
    val rows: Seq[(Long, Array[Double])] = (0 until 25).flatMap { i =>
      val b0 = Array.fill(dim)(r.double(-1, 1))
      Seq((i * 2L, b0), (i * 2L + 1, b0.map(c => c + r.double(-0.02, 0.02))))
    }
    val truth = (for {
      i <- rows.indices; j <- (i + 1) until rows.length
      if Ann.cosine(rows(i)._2, rows(j)._2) >= 0.9
    } yield (math.min(rows(i)._1, rows(j)._1), math.max(rows(i)._1, rows(j)._1))).toSet
    assert(truth.size >= 25)
    // write a tiny embeddings table so the dir-based API runs as-is
    val dir = java.nio.file.Files.createTempDirectory("blkpair").toString
    rows.toDF("vec_id", "embedding").write.parquet(s"$dir/embeddings.parquet")
    for (blocks <- Seq(1, 3, 5, 8)) {
      val got = Ann.cosineNearDupPairs(spark, dir, minCos = 0.9, blocks = blocks)
        .collect().map(x => (x.getLong(0), x.getLong(1))).toSet
      assert(got == truth, s"blocks=$blocks: missed=${(truth -- got).take(3)} extra=${(got -- truth).take(3)}")
    }
  }

  test("LSH near-dup tier: recall 1.0 vs the exact block kernel on planted dups, with real pruning") {
    import spark.implicits._
    val r = new Prop.Rng(17)
    val dim = 16
    // planted near-dup pairs (cos ~0.99+) in a sea of random vectors
    val bases = Array.fill(20)(Array.fill(dim)(r.double(-1, 1)))
    val rows: Seq[(Long, Array[Double])] =
      bases.zipWithIndex.flatMap { case (b0, i) =>
        Seq((i * 2L, b0), (i * 2L + 1, b0.map(c => c + r.double(-0.01, 0.01))))
      }.toSeq ++ (0 until 400).map(i => (1000L + i, Array.fill(dim)(r.double(-1, 1))))
    val vecs = rows.toDF("vec_id", "v")
    // PRODUCTION defaults, cap included: with 8-bit bands the 440-vector
    // benign corpus spreads ~2/bucket so the cap never engages, while the
    // planted near-identical pairs collide in ≥1 band deterministically
    val got = Ann.cosineNearDupLshTier(vecs, minCos = 0.95)
      .collect().map(x => (x.getLong(0), x.getLong(1))).toSet
    // exact truth from plain loops
    val want = (for {
      i <- rows.indices; j <- (i + 1) until rows.length
      a = rows(i); b = rows(j)
      if Ann.cosine(a._2, b._2) >= 0.95
    } yield (math.min(a._1, b._1), math.max(a._1, b._1))).toSet
    assert(want.size >= 20, s"fixture broken: only ${want.size} true pairs")
    assert(got == want, s"missed=${(want -- got).take(5)} extra=${(got -- want).take(5)}")
  }
}

class CoreOpsSpec extends AnyFunSuite {
  import org.apache.spark.sql.functions._
  lazy val spark: SparkSession = TestSpark.spark

  test("minor-version counter resets on major edits (hand fixture)") {
    import spark.implicits._
    // user 1: MIV MIV MAJ MIV MAJ -> mv 0,1,0,1,0 within segments 0,0,1,1,2
    val rows = Seq(
      (1L, 10L, "click"), (1L, 20L, "view"), (1L, 30L, "signup"),
      (1L, 40L, "click"), (1L, 50L, "purchase"))
      .toDF("user_id", "ts_s", "event_type")
    val isMajor = col("event_type").isin("signup", "purchase")
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("user_id")).orderBy(col("ts_s"))
    val seg = sum(when(isMajor, 1L).otherwise(0L))
      .over(w.rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding, 0))
    val inSeg = org.apache.spark.sql.expressions.Window
      .partitionBy(col("user_id"), col("mv_seg")).orderBy(col("ts_s"))
    val out = rows.withColumn("mv_seg", seg)
      .withColumn("mv", row_number().over(inSeg) - 1)
      .orderBy(col("ts_s")).select(col("mv_seg"), col("mv")).collect()
      .map(r => (r.getLong(0), r.getInt(1))).toSeq
    assert(out == Seq((0L, 0), (0L, 1), (1L, 0), (1L, 1), (2L, 0)))
  }

  test("valid-interval lead semantics incl. DEL +1s (hand fixture)") {
    import spark.implicits._
    val rows = Seq((1L, 100L, "view"), (1L, 200L, "error"), (1L, 300L, "view"))
      .toDF("user_id", "ts_s", "event_type")
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("user_id")).orderBy(col("ts_s"))
    val out = rows
      .withColumn("rn", row_number().over(w))
      .withColumn("vu_next", lead(col("ts_s"), 1).over(w))
      .withColumn("vu", when(col("rn") =!= 1 && col("event_type") === "error",
        col("ts_s") + 1).otherwise(col("vu_next")))
      .orderBy(col("ts_s")).select(col("vu")).collect().map(r => Option(r.get(0))).toSeq
    assert(out == Seq(Some(200L), Some(201L), None))
  }
}

class FastPathSpec extends AnyFunSuite {
  import graft.pipeline.ImagePipeline
  import org.apache.spark.sql.functions._
  lazy val spark: SparkSession = TestSpark.spark

  test("codegen fast pipeline == a driver-side scalar replay, row for row") {
    import graft.index.Quadkey
    import graft.synth.{Geotag, ImageSynth}
    val fast = ImagePipeline.run(spark, 4000, 4).collect()
      .map(r => (r.getLong(0), r.getString(1), r.getLong(2), r.getLong(3),
        r.getLong(4), r.getLong(5), r.getLong(6), r.getLong(7))).toSet
    // each row re-derived on the driver and joined by brute force, apart
    // from the BoundaryIndex and every Spark expression
    val bs = ImagePipeline.metroBoundaries
    val joined = (0L until 4000L).flatMap { i =>
      val seed = ImageSynth.seedOf(i)
      val (lon, lat) = (Geotag.lonOf(seed), Geotag.latOf(seed))
      bs.filter(_.containsPoint(lon, lat)).map(_.id).sorted.headOption.map(b =>
        (Quadkey.cellIdOf(lon, lat, 12), b, ImageSynth.teamOf(seed), ImageSynth.uidOf(seed)))
    }
    val replay = joined.groupBy(j => (j._1, j._2)).map { case ((tile, b), rows) =>
      def team(t: String) = rows.count(_._3 == t).toLong
      (tile, b, team("kll"), team("msf"), team("dcx"), team("hot"), rows.size.toLong,
        rows.map(_._4).distinct.size.toLong)
    }.toSet
    assert(fast == replay && fast.nonEmpty)
  }

  test("fast features stay in one WholeStageCodegen span (no UDF barrier)") {
    val plan = ImagePipeline.fastFeatures(spark, 100, 2).queryExecution.executedPlan.toString
    // '*(1)' prefixes mark whole-stage-codegen stage 1 on every operator
    assert(plan.linesIterator.filter(_.trim.nonEmpty).forall(_.contains("*(1)")), plan)
    assert(!plan.contains("BatchEvalPython") && !plan.contains("ScalaUDF"), plan)
  }
}

/** Hot-bucket bounds for the sketch candidate joins (Dedup.minhashCandidates /
  * simhashCandidatePairs): a bucket of m near-identical documents must NOT
  * emit the m²/2 pairwise candidates — above `maxBucket` it degrades to O(m)
  * star pairs around the bucket hub, preserving dup-group connectivity. */
class DedupHotBucketSpec extends AnyFunSuite {
  import graft.text.Dedup
  import org.apache.spark.sql.functions._

  lazy val spark: SparkSession = TestSpark.spark

  private def signedDf(docs: Seq[(Long, String)]) = {
    import spark.implicits._
    docs.map { case (id, t) =>
      val shs = Dedup.shingleHashes(t, 3)
      (id, Dedup.minhashSigFromHashes(shs, 32), shs)
    }.toDF("doc_id", "sig", "shs")
  }

  test("minhash: 1k identical docs emit dual-hub star candidates, not 499,500 pairs") {
    val docs = (0L until 1000L).map(i => i -> "the exact same boilerplate text repeated across the corpus again and again")
    val cand = Dedup.minhashCandidates(signedDf(docs), bands = 8, rowsPerBand = 4, maxBucket = 64)
    val rows = cand.collect()
    // every band has the same single hot bucket -> distinct star pairs around
    // BOTH hubs: (0, i) for i in 1..999 plus (i, 999) for i in 0..998,
    // overlapping on (0, 999) -> 2m-3 = 1997
    assert(rows.length == 1997, s"expected 1997 dual-star candidates, got ${rows.length}")
    assert(rows.forall(r => r.getLong(0) == 0L || r.getLong(1) == 999L))
  }

  test("minhash: cap inactive on a benign corpus -> identical candidates") {
    val r = new Prop.Rng(11)
    val vocab = Array("alpha", "beta", "gamma", "delta", "eps", "zeta", "eta", "theta")
    val docs = (0L until 200L).map { i =>
      i -> Array.fill(30)(vocab(r.int(0, vocab.length - 1))).mkString(" ")
    }
    val sd = signedDf(docs)
    val capped = Dedup.minhashCandidates(sd, 8, 4, maxBucket = 64)
      .collect().map(x => (x.getLong(0), x.getLong(1))).toSet
    val uncapped = Dedup.minhashCandidates(sd, 8, 4, maxBucket = Int.MaxValue)
      .collect().map(x => (x.getLong(0), x.getLong(1))).toSet
    assert(capped == uncapped)
  }

  test("simhash: 1k identical fingerprints -> 1997 dual-star pairs at ham 0") {
    import spark.implicits._
    val df = (0L until 1000L).map(i => (i, 0x0123456789ABCDEFL)).toDF("doc_id", "sh")
    val rows = Dedup.simhashCandidatePairs(df, maxHam = 3, maxBucket = 64).collect()
    assert(rows.length == 1997, s"expected 1997, got ${rows.length}")
    assert(rows.forall(r => (r.getLong(0) == 0L || r.getLong(1) == 999L) && r.getInt(2) == 0))
  }

  test("dup components: hash-min propagation matches hand truth incl. path graphs") {
    import spark.implicits._
    // a 5-chain (worst diameter per edge), a triangle, a 2-cluster, sharing no ids
    val pairs = Seq((1L, 2L), (2L, 3L), (3L, 4L), (4L, 5L),
      (10L, 11L), (10L, 12L), (11L, 12L), (20L, 21L)).toDF("a", "b")
    val got = Dedup.dupComponents(pairs).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    assert(got == Set((1L, 5L, 5L), (10L, 3L, 12L), (20L, 2L, 21L)))
  }

  test("ANN LSH tier: 1k identical vectors emit bounded dual-star pairs, all verified") {
    import spark.implicits._
    import graft.ann.Ann
    val v0 = Array.tabulate(16)(i => math.sin(i + 1.0))
    val vecs = (0L until 1000L).map(i => (i, v0.clone())).toDF("vec_id", "v")
    // every band has one 1000-member bucket; with the default cap the
    // candidate set is the 2m-3 dual-hub stars — and since every vector is
    // identical, cosine verify keeps them all (1997 rows, not 499,500)
    val rows = Ann.cosineNearDupLshTier(vecs, minCos = 0.95).collect()
    assert(rows.length == 1997, s"expected 1997, got ${rows.length}")
    assert(rows.forall(r => (r.getLong(0) == 0L || r.getLong(1) == 999L) && r.getLong(2) == 10000L))
  }
}
