package graft.pipeline

import java.nio.file.{Files, Paths, StandardCopyOption}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.CacheOps
import graft.synth.{ImageSynth, Geotag}
import graft.index.Hex

/** Resumable per-partition checkpointing with lineage (north_rule): the cell
  * space is split into `buckets` by hex-cell hash; each (epoch, bucket)
  * partition commits atomically via a manifest JSON `(epoch, bucket, cellMin,
  * cellMax, rowCount, phashDigest, validation metrics)`. A rerun skips every
  * (epoch, bucket) whose manifest exists — exactly-once without Iceberg's
  * snapshot machinery (SURVEY.md §7.4 #7). Bucket selection happens on the
  * cheap seed-derived geotag, so skipped buckets cost only arithmetic, never
  * pixel rendering.
  *
  * EPOCHS are the append dimension (the reference continually appends
  * weekly/monthly changesets — changesets/README.md:47): each arriving batch
  * of source ids is its own epoch with its own manifests and its own
  * `data/epoch=E/bucket=B` partitions. The round-4 design keyed manifests by
  * bucket alone, so rows appended after a bucket committed were silently
  * skipped on the next run; with the epoch key, committed partitions are
  * immutable by construction and new data can only land in a NEW epoch —
  * two successive incremental runs produce byte-identical state to a
  * one-shot batch over the union (gated by q64 + CheckpointSpec).
  *
  * Mirrors the reference's `extraction.status` progress + error-counter file
  * (InteractionsBuilder.java:114-123,470-507) upgraded to machine-readable
  * per-partition manifests.
  */
object Checkpoint {

  final case class Manifest(epoch: Int, bucket: Int, cellMin: Long, cellMax: Long,
                            rowCount: Long, phashDigest: Long,
                            nPixelsOk: Long, nCaptionsOk: Long)

  /** The hex resolution of the cell that routes a row to its bucket. */
  val HexRes = 7
  /** Bucket and range-partition counts of the q62/q64/q119 gate stores. */
  val GateBuckets = 8
  private val GateParts = 8

  def bucketOf(seed: Long, buckets: Int): Int = {
    val cell = Hex.latLngToCell(Geotag.latOf(seed), Geotag.lonOf(seed), HexRes)
    (ImageSynth.mix(cell) & 0x7FFFFFFF).toInt % buckets
  }

  private def manifestPath(outDir: String, e: Int, b: Int) =
    Paths.get(s"$outDir/_commits/epoch-$e/bucket-$b.json")

  /** Recursive scratch-dir delete — the ONE definition (was copy-pasted in
    * five places across src/tools). Closes the walk stream and tolerates a
    * missing path. */
  def deleteRecursively(path: java.nio.file.Path): Unit =
    if (Files.exists(path)) {
      val walk = Files.walk(path)
      try {
        import scala.jdk.CollectionConverters._
        walk.iterator().asScala.toSeq.reverse.foreach(Files.deleteIfExists(_))
      } finally walk.close()
    }

  def committed(outDir: String, epoch: Int, buckets: Int): Set[Int] =
    (0 until buckets).filter(b => Files.exists(manifestPath(outDir, epoch, b))).toSet

  private def parseManifest(e: Int, b: Int, path: java.nio.file.Path): Manifest = {
    // real JSON parsing (Jackson ships with Spark) — a regex field scrape
    // silently breaks if a manifest field is ever reordered/reformatted
    val mapper = new com.fasterxml.jackson.databind.ObjectMapper()
    val j = mapper.readTree(Files.readString(path))
    Manifest(e, b, j.get("cellMin").asLong(), j.get("cellMax").asLong(),
      j.get("rowCount").asLong(), j.get("phashDigest").asLong(),
      j.get("nPixelsOk").asLong(), j.get("nCaptionsOk").asLong())
  }

  /** All committed manifests for `epochs` × `buckets` (driver-side scalars —
    * B·E small JSON files, never data). */
  def manifests(outDir: String, epochs: Int, buckets: Int): Seq[Manifest] =
    for {
      e <- 0 until epochs
      b <- 0 until buckets
      p = manifestPath(outDir, e, b)
      if Files.exists(p)
    } yield parseManifest(e, b, p)

  /** Gate shape for the checkpoint lineage manifests (S9, the north_rule's
    * "resumable from per-partition checkpoints recording lineage"): run a
    * FULL checkpointed build into a fresh scratch dir — synthesis, bucketed
    * write, re-read, validation, manifest commit — then emit each bucket's
    * manifest as a row. The DuckDB oracle re-derives the bucket assignment
    * (geotag → hex cell → splitmix hash) and the per-bucket cellMin/cellMax/
    * rowCount lineage analytically, with the hex-grid constants inlined from
    * the Scala side for FP bit-parity; a hash match proves the committed
    * manifests describe exactly the rows the partitioner should have routed.
    * The pixel-derived phashDigest stays OUT of the gate row (DuckDB cannot
    * re-render; it is spec-verified in CheckpointSpec), while the validation
    * counters assert all written rows decoded clean per bucket. */
  def lineageGate(spark: SparkSession, n: Long): DataFrame = {
    import spark.implicits._
    val dir = Files.createTempDirectory("graft_ckpt_gate")
    // the manifests are driver-side values once run() returns — the scratch
    // build (parquet + commits) is deleted before the gate row-set is built,
    // so repeated bench/gate invocations cannot accumulate tmp data
    val ms = try run(spark, n, dir.toString, GateBuckets, GateParts)
             finally deleteRecursively(dir)
    ms.map(m => (m.bucket, m.cellMin, m.cellMax, m.rowCount, m.nPixelsOk, m.nCaptionsOk))
      .toDF("bucket", "cell_min", "cell_max", "row_count", "n_pixels_ok", "n_captions_ok")
  }

  /** Gate shape for append-only incremental ingestion (q64): epoch 0 builds
    * ids [0, n0), then the input GROWS — epoch 1 arrives with [n0, n1) — and
    * an incremental run processes exactly the new epoch (epoch-0 manifests
    * skip; a third run is a no-op, asserted here). The emitted relation is
    * every (epoch, bucket) manifest; the DuckDB oracle derives the same
    * lineage analytically over the FULL domain with the epoch inferred from
    * the id — so a hash match proves no appended row was dropped into an
    * already-committed partition and no committed row was double-counted.
    * One-shot-vs-incremental byte equality is additionally pinned in
    * CheckpointSpec (the digests include the pixel-derived phash xor, which
    * DuckDB cannot re-render). */
  def appendGate(spark: SparkSession, n0: Long, n1: Long): DataFrame = {
    import spark.implicits._
    val dir = Files.createTempDirectory("graft_ckpt_append")
    val ms = try {
      runEpoch(spark, 0, 0L, n0, dir.toString, GateBuckets, GateParts)
      runEpoch(spark, 1, n0, n1, dir.toString, GateBuckets, GateParts)
      require(runEpoch(spark, 1, n0, n1, dir.toString, GateBuckets, GateParts).isEmpty,
        "incremental re-run must be a no-op")
      manifests(dir.toString, epochs = 2, GateBuckets)
    } finally deleteRecursively(dir)
    ms.map(m => (m.epoch, m.bucket, m.cellMin, m.cellMax, m.rowCount,
        m.nPixelsOk, m.nCaptionsOk))
      .toDF("epoch", "bucket", "cell_min", "cell_max", "row_count",
        "n_pixels_ok", "n_captions_ok")
  }

  /** Gate shape for time-travel reads (q119): build the 2-epoch store, then
    * read it AS OF epoch 0 — `epoch <= 0` is a partition-column predicate,
    * so Spark's partition discovery prunes every epoch-1 directory before a
    * single byte is scanned (the Iceberg snapshot-isolation read re-expressed
    * as partition pruning; PlanSpec asserts the pruning reaches the scan).
    * The emitted relation is a per-bucket rollup of the DATA rows (count +
    * id sum/min/max parsed from the stored image_id) — a content-level check
    * independent of the manifests q62/q64 gate, so a hash match proves the
    * as-of read returned exactly the rows committed at that snapshot: no
    * epoch-1 leakage, no epoch-0 loss. */
  def timeTravelGate(spark: SparkSession, n0: Long, n1: Long): DataFrame = CacheOps.scope { s =>
    val dir = Files.createTempDirectory("graft_ckpt_tt")
    try {
      runEpoch(spark, 0, 0L, n0, dir.toString, GateBuckets, GateParts)
      runEpoch(spark, 1, n0, n1, dir.toString, GateBuckets, GateParts)
      val idx = substring(col("image_id"), 4, 16).cast("long")
      // eager: the scratch store is deleted on return
      s.checkpoint(spark.read.parquet(s"$dir/data")
        .where(col("epoch") <= 0)
        .select(col("bucket"), idx.as("idx"))
        .groupBy("bucket")
        .agg(count(lit(1)).as("row_count"), sum(col("idx")).as("sum_idx"),
          min(col("idx")).as("min_idx"), max(col("idx")).as("max_idx")))
    } finally deleteRecursively(dir)
  }

  /** Diagnostic: id-range rows scanned by the LAST run's synthesis pass —
    * the spec asserts the range is scanned ONCE regardless of bucket count
    * (the round-1 design re-filtered the full range once per bucket). */
  @volatile var lastRangeEvals: Long = -1L

  /** Single-epoch convenience (the fixed-input shape rounds 1-4 gated). */
  def run(spark: SparkSession, n: Long, outDir: String, buckets: Int = 8,
          parts: Int = 32, maxBuckets: Int = Int.MaxValue): Seq[Manifest] =
    runEpoch(spark, 0, 0L, n, outDir, buckets, parts, maxBuckets)

  /** Process one epoch's uncommitted buckets; optionally stop after
    * `maxBuckets` (the kill-after-K test hook).
    *
    * ONE synthesis pass: every id in [idStart, idEnd) is bucket-assigned
    * from its seed (arithmetic only — skipped ids never render pixels),
    * uncommitted buckets render and write under `data/epoch=E/` with
    * dynamic partition overwrite (committed buckets' files are untouched;
    * other epochs' directories are untouched by construction).
    *
    * The rows are rebalanced by bucket before the `partitionBy("bucket")`
    * write (Iceberg's hash write distribution), so each bucket is ONE file
    * instead of one per range task × bucket; under AQE a bucket larger than
    * `spark.sql.adaptive.advisoryPartitionSizeInBytes` splits into
    * advisory-sized files, so a large epoch keeps its write parallelism.
    * Under AQE the rebalance's shuffle map stage (which renders the pixels)
    * runs as its own job ahead of the write job.
    *
    * ONE stats action: manifests derive from the WRITTEN files — proving
    * the committed bytes — in a single grouped pass (per-row hex cell +
    * decode/caption validation → groupBy(bucket) agg → B driver scalars).
    * The round-4 shape issued 2 sequential aggregation jobs PER bucket from
    * a driver loop; at B buckets that serialized 2B job submissions for
    * work one job covers (CheckpointSpec pins the action count). Empty
    * buckets fall out of the same pass: absent from the agg result → commit
    * the sentinel manifest. Commits stay per-bucket atomic (tmp + rename). */
  def runEpoch(spark: SparkSession, epoch: Int, idStart: Long, idEnd: Long,
               outDir: String, buckets: Int = 8, parts: Int = 32,
               maxBuckets: Int = Int.MaxValue): Seq[Manifest] = {
    import spark.implicits._
    Files.createDirectories(Paths.get(s"$outDir/_commits/epoch-$epoch"))
    val done = committed(outDir, epoch, buckets)
    val todo = (0 until buckets).filterNot(done.contains).take(maxBuckets)
    if (todo.isEmpty) { return Seq.empty }
    val nb = buckets
    val bcTodo = spark.sparkContext.broadcast(todo.toSet)
    val evals = spark.sparkContext.longAccumulator("graft.ckpt.rangeEvals")

    val rows = spark.range(idStart, idEnd, 1L, parts).mapPartitions { it =>
      val t = bcTodo.value
      it.flatMap { i =>
        evals.add(1L)
        val b = bucketOf(ImageSynth.seedOf(i), nb) // arithmetic-only skip
        if (!t.contains(b)) None
        else {
          val r = ImageSynth.rowOf(i)
          Some((b, r.image_id, r.bytes, r.w, r.h, r.fmt, r.caption, r.phash))
        }
      }
    }.toDF("bucket", "image_id", "bytes", "w", "h", "fmt", "caption", "phash")

    // per-write option, NOT a session-conf mutation: concurrent writers in
    // the same session must not race into static-overwrite semantics
    val epochPath = s"$outDir/data/epoch=$epoch"
    rows.hint("rebalance", col("bucket"))
      .write.mode("overwrite").option("partitionOverwriteMode", "dynamic")
      .partitionBy("bucket").parquet(epochPath)
    lastRangeEvals = evals.value

    // all-todo-buckets-empty edge (idStart==idEnd): the write creates no
    // readable parquet, so the grouped pass has nothing to scan. Existence
    // resolves through the Hadoop FileSystem of the path (works on HDFS/S3
    // outDirs, unlike a java.nio check)
    val hPath = new org.apache.hadoop.fs.Path(epochPath)
    val anyData = hPath.getFileSystem(spark.sparkContext.hadoopConfiguration).exists(hPath) &&
      idEnd > idStart
    val stats: Map[Int, (Long, Long, Long, Long, Long, Long)] =
      if (!anyData) Map.empty
      else {
        // lineage + validation metrics from what was just written (re-read →
        // proves the committed bytes, not the in-flight ones), ALL buckets in
        // one grouped action. Resumed runs must not re-derive committed
        // buckets: filter to this run's `todo` partitions. The schema is the
        // one just written, so the open runs no footer-inference job.
        val written = spark.read.schema(rows.schema).parquet(epochPath)
          .filter(col("bucket").isin(todo: _*))
        written.select(col("bucket"), col("image_id"), col("bytes"),
            col("fmt"), col("caption"), col("phash"))
          .as[(Int, String, Array[Byte], String, String, Long)]
          .mapPartitions { it =>
            it.map { case (b, id, bytes, fmt, caption, phash) =>
              val seed = ImageSynth.seedOf(id.stripPrefix("img").toLong)
              val v = Validate.verdictOf(id, bytes, fmt, caption, phash)
              (b, Hex.latLngToCell(Geotag.latOf(seed), Geotag.lonOf(seed), HexRes), phash,
                if (v.pixels_ok) 1L else 0L, if (v.caption_ok) 1L else 0L)
            }
          }
          .toDF("bucket", "cell", "phash", "pok", "cok")
          .groupBy(col("bucket"))
          .agg(min(col("cell")).as("cellMin"), max(col("cell")).as("cellMax"),
            count(lit(1)).as("rowCount"),
            // order-independent digest: xor of phashes
            expr("bit_xor(phash)").as("phashDigest"),
            sum(col("pok")).as("nPixelsOk"), sum(col("cok")).as("nCaptionsOk"))
          .collect()
          .map(r => r.getInt(0) -> (r.getLong(1), r.getLong(2), r.getLong(3),
            r.getLong(4), r.getLong(5), r.getLong(6)))
          .toMap
      }

    todo.map { b =>
      val m = stats.get(b) match {
        case Some((cMin, cMax, rc, ph, pok, cok)) =>
          Manifest(epoch, b, cMin, cMax, rc, ph, pok, cok)
        case None => // zero-row bucket: sentinel lineage
          Manifest(epoch, b, Long.MaxValue, Long.MinValue, 0L, 0L, 0L, 0L)
      }
      val json =
        s"""{"epoch":${m.epoch},"bucket":${m.bucket},"cellMin":${m.cellMin},"cellMax":${m.cellMax},
           |"rowCount":${m.rowCount},"phashDigest":${m.phashDigest},
           |"nPixelsOk":${m.nPixelsOk},"nCaptionsOk":${m.nCaptionsOk}}""".stripMargin.replace("\n", "")
      val tmp = Paths.get(s"$outDir/_commits/epoch-$epoch/.bucket-$b.json.tmp")
      Files.writeString(tmp, json)
      Files.move(tmp, manifestPath(outDir, epoch, b), StandardCopyOption.ATOMIC_MOVE)
      m
    }
  }
}
