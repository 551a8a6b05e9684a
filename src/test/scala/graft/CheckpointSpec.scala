package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._
import graft.pipeline.Checkpoint
import graft.spatial.TileAssign
import graft.pipeline.ImagePipeline
import graft.index.Quadkey
import org.apache.spark.sql.GraftShim

class CheckpointSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark

  private def rmrf(d: String): Unit = {
    val p = java.nio.file.Paths.get(d)
    Checkpoint.deleteRecursively(p)
  }

  /** Parquet data files per `bucket=B` directory of one epoch. */
  private def filesPerBucket(dir: String, epoch: Int): Map[String, Int] = {
    import scala.jdk.CollectionConverters._
    def list(p: java.nio.file.Path) = {
      val s = java.nio.file.Files.list(p)
      try s.iterator().asScala.toList finally s.close()
    }
    list(java.nio.file.Paths.get(s"$dir/data/epoch=$epoch"))
      .filter(_.getFileName.toString.startsWith("bucket="))
      .map(b => b.getFileName.toString ->
        list(b).count(_.getFileName.toString.startsWith("part-")))
      .toMap
  }

  test("kill-after-K resume: identical manifests, no double counting") {
    val dirA = "/tmp/ckpt_spec_resume"; val dirB = "/tmp/ckpt_spec_fresh"
    rmrf(dirA); rmrf(dirB)
    val n = 600L; val buckets = 4
    val r1 = Checkpoint.run(spark, n, dirA, buckets, parts = 4, maxBuckets = 2)
    assert(r1.size == 2)
    // one-pass write: the id range is scanned ONCE per run, not once per bucket
    assert(Checkpoint.lastRangeEvals == n, s"range scanned ${Checkpoint.lastRangeEvals} times for n=$n")
    val r2 = Checkpoint.run(spark, n, dirA, buckets, parts = 4)
    assert(r2.size == 2)
    assert(Checkpoint.lastRangeEvals == n)
    assert(Checkpoint.run(spark, n, dirA, buckets, parts = 4).isEmpty) // no-op
    val fresh = Checkpoint.run(spark, n, dirB, buckets, parts = 4)
    assert(fresh.size == buckets)
    assert(Checkpoint.lastRangeEvals == n)
    val a = (r1 ++ r2).map(m => m.bucket -> (m.rowCount, m.phashDigest)).toMap
    val b = fresh.map(m => m.bucket -> (m.rowCount, m.phashDigest)).toMap
    assert(a == b)
    assert(a.values.map(_._1).sum == n)
    // every committed bucket also passed validation
    (r1 ++ r2).foreach { m =>
      assert(m.nPixelsOk == m.rowCount && m.nCaptionsOk == m.rowCount, m.toString)
    }
    // the write is rebalanced by bucket: one data file per bucket, whether
    // the epoch was written in one call or stopped and resumed
    Seq(dirA, dirB).foreach { d =>
      val files = filesPerBucket(d, 0)
      assert(files.size == fresh.count(_.rowCount > 0) && files.values.forall(_ == 1), s"$d: $files")
    }
  }

  test("a bucket above the advisory size splits into several files; manifests unchanged") {
    val dirD = "/tmp/ckpt_spec_default"; val dirS = "/tmp/ckpt_spec_split"
    rmrf(dirD); rmrf(dirS)
    val n = 600L; val buckets = 4
    val default = Checkpoint.run(spark, n, dirD, buckets, parts = 4)
    val key = "spark.sql.adaptive.advisoryPartitionSizeInBytes"
    val prior = spark.conf.getOption(key)
    val split = try {
      spark.conf.set(key, "1k")
      Checkpoint.run(spark, n, dirS, buckets, parts = 4)
    } finally prior match {
      case Some(v) => spark.conf.set(key, v)
      case None => spark.conf.unset(key)
    }
    assert(Checkpoint.lastRangeEvals == n)
    val files = filesPerBucket(dirS, 0)
    assert(files.values.exists(_ > 1), s"no bucket split at a 1k advisory size: $files")
    assert(filesPerBucket(dirD, 0).values.forall(_ == 1))
    // rowCount, phashDigest, cellMin/cellMax and validation counts are all
    // content-derived, so the file layout cannot change them
    assert(split == default, s"split $split != default $default")
    split.foreach(m => assert(m.nPixelsOk == m.rowCount && m.nCaptionsOk == m.rowCount))
    assert(split.map(_.rowCount).sum == n)
  }

  test("append: two incremental epoch runs == one-shot batch over the union") {
    val dirI = "/tmp/ckpt_spec_incr"; val dirO = "/tmp/ckpt_spec_oneshot"
    rmrf(dirI); rmrf(dirO)
    val n0 = 400L; val n1 = 600L; val buckets = 4
    // epoch 0 commits, then the input GROWS: epoch 1 arrives
    val e0 = Checkpoint.runEpoch(spark, 0, 0L, n0, dirI, buckets, parts = 4)
    val e1 = Checkpoint.runEpoch(spark, 1, n0, n1, dirI, buckets, parts = 4)
    assert(e0.size == buckets && e1.size == buckets)
    // idempotence: re-running either epoch is a no-op
    assert(Checkpoint.runEpoch(spark, 0, 0L, n0, dirI, buckets, parts = 4).isEmpty)
    assert(Checkpoint.runEpoch(spark, 1, n0, n1, dirI, buckets, parts = 4).isEmpty)
    // the round-4 failure mode this design closes: appended rows landing in
    // already-committed buckets were silently dropped. Per-bucket lineage of
    // the two epochs must compose to the one-shot batch: rowCounts add, phash
    // digests xor (xor is associative and order-free over the same row set)
    val oneShot = Checkpoint.runEpoch(spark, 0, 0L, n1, dirO, buckets, parts = 4)
    val incr = (e0 ++ e1).groupBy(_.bucket).map { case (b, ms) =>
      b -> (ms.map(_.rowCount).sum, ms.map(_.phashDigest).reduce(_ ^ _))
    }
    val one = oneShot.map(m => m.bucket -> (m.rowCount, m.phashDigest)).toMap
    assert(incr == one, s"incremental $incr != one-shot $one")
    assert(incr.values.map(_._1).sum == n1)
    // and the committed BYTES agree: the union of both epochs' data files
    // holds exactly the one-shot row set
    val rowsI = spark.read.parquet(s"$dirI/data")
      .select("image_id", "phash").collect().map(r => (r.getString(0), r.getLong(1))).toSet
    val rowsO = spark.read.parquet(s"$dirO/data")
      .select("image_id", "phash").collect().map(r => (r.getString(0), r.getLong(1))).toSet
    assert(rowsI == rowsO && rowsI.size == n1)
  }

  test("manifest derivation is ONE grouped action, not a per-bucket driver loop") {
    val dir = "/tmp/ckpt_spec_onejob"
    rmrf(dir)
    val names = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val listener = new org.apache.spark.sql.util.QueryExecutionListener {
      def onSuccess(funcName: String, qe: org.apache.spark.sql.execution.QueryExecution,
                    durationNs: Long): Unit = names.add(funcName)
      def onFailure(funcName: String, qe: org.apache.spark.sql.execution.QueryExecution,
                    exception: Exception): Unit = names.add("FAIL:" + funcName)
    }
    spark.listenerManager.register(listener)
    try {
      Checkpoint.run(spark, 600L, dir, buckets = 6, parts = 4)
      GraftShim.drainListenerBus(spark.sparkContext)
      val evs = names.toArray(Array.empty[String]).toSeq
      // exactly one write action + ONE stats collect for all 6 buckets; the
      // round-4 shape issued 2 head() actions per bucket (12 extra events)
      assert(evs.count(_ == "collect") == 1,
        s"expected ONE grouped stats action, saw $evs")
      assert(evs.size <= 2, s"expected write + 1 stats action, saw $evs")
    } finally spark.listenerManager.unregister(listener)
  }
}

class SkewSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark

  test("salted repartition flattens the metro hot cells") {
    import org.apache.spark.sql.Row
    val feats = ImagePipeline.fastFeatures(spark, 6000, 4)
      .withColumn("z8", graft.functions.SeedExprs.quadCell(col("lat"), col("lon"), 8))
    def maxPartitionFraction(df: org.apache.spark.sql.DataFrame): Double = {
      val sizes = df.rdd.mapPartitions(it => Iterator(it.size)).collect()
      sizes.max.toDouble / sizes.sum
    }
    val unsalted = feats.repartition(16, col("z8"))
    val salted = TileAssign.repartitionByCellSalted(feats, "z8", 16, salt = 8)
    val uf = maxPartitionFraction(unsalted)
    val sf = maxPartitionFraction(salted)
    // 70% of rows sit in 3 metros → hashing whole cells leaves a hot
    // partition; salting must spread it close to uniform (1/16 = 0.0625)
    assert(sf < uf, s"salted=$sf unsalted=$uf")
    assert(sf < 0.15, s"salted max-partition fraction $sf")
  }

  test("multi-zoom cells agree with direct encoding at every zoom") {
    val zooms = Seq(8, 10, 12)
    val out = TileAssign.withTileMultiZoom(
      ImagePipeline.fastFeatures(spark, 300, 2), "lon", "lat", zooms).collect()
    assert(out.length == 300 * zooms.size)
    out.foreach { r =>
      val lon = r.getAs[Double]("lon"); val lat = r.getAs[Double]("lat")
      val z = r.getAs[Int]("zoom"); val cell = r.getAs[Long]("cell_id")
      assert(cell == Quadkey.cellIdOf(lon, lat, z), s"z=$z ($lon,$lat)")
    }
  }
}

class StoredTableSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark

  test("stored-table pipeline: bytes column pruned from the scan, results match fast path") {
    val dir = "/tmp/stored_table_spec"
    val p = java.nio.file.Paths.get(dir)
    Checkpoint.deleteRecursively(p)
    ImagePipeline.synthTable(spark, 800, 4).write.parquet(dir)

    val stored = spark.read.parquet(dir)
    val feats = ImagePipeline.featuresFromTable(stored)
    // THE column-pruning claim: the 100TB of pixels must stay at the scan
    val plan = feats.queryExecution.executedPlan.toString
    val readSchema = "ReadSchema: ([^\\n]*)".r.findFirstMatchIn(plan).map(_.group(1))
      .getOrElse(plan.linesIterator.find(_.contains("ReadSchema")).getOrElse(""))
    assert(!plan.contains("bytes:binary") || readSchema.isEmpty ||
      !readSchema.contains("bytes"), s"bytes not pruned: $plan")

    val viaTable = TypedPivot.tileTeamPivot(
      graft.spatial.PipJoin.join(feats.toDF(), ImagePipeline.metroBoundaries, "lon", "lat"))
      .collect()
      .map(r => (r.getLong(0), r.getString(1), r.getLong(6))).toSet
    val viaFast = ImagePipeline.run(spark, 800, 4).collect()
      .map(r => (r.getLong(0), r.getString(1), r.getLong(6))).toSet
    assert(viaTable == viaFast)
  }
}
