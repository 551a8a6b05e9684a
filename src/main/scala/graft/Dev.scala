package graft

import java.nio.file.{Files, Paths}
import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.AtomicLong
import scala.util.control.NonFatal
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart, SparkListenerStageCompleted, SparkListenerTaskEnd}
import org.apache.spark.sql.{GraftShim, SparkSession}
import graft.index.Quadkey
import graft.pipeline.{ImagePipeline, Validate}
import graft.synth.{Geotag, ImageSynth}

/** Development tool beside the harness mains [[Bench]] and [[Verify]]:
  * `sbt -batch "runMain graft.Dev <subcommand> …"`.
  *  - `profile <q[,q…]|all> [reps]`: [[Bench]]'s warm-up, then [[profile]]
  *    (default 3 reps) on `SPARK_GRAFT_SF_DIR`.
  *  - `plan <q[,q…]> [dir]`: `explain("formatted")` of each query's frame on
  *    `SPARK_GRAFT_SF_DIR`, to stdout or into `plans/<dir>/<q>.txt`.
  *  - `verify <sfDir> <outDir> <q…>`: [[verify]] in its own session.
  *  - `kernels <threads> [rows]`: [[kernels]].
  *  - `merc [n] [out]`: [[merc]] (default 2M rows) for `tools/merc_parity.py`.
  * Environment: `SPARK_GRAFT_SF_DIR` and `SPARK_GRAFT_WARM_DIR` as for
  * [[Bench]]; `SPARK_GRAFT_CPUS` (default: the available processors) sets
  * `local[N]` and the shuffle partitions. */
object Dev {
  private val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS",
    Runtime.getRuntime.availableProcessors.toString)
  private def sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
  private def warmDir = sys.env.getOrElse("SPARK_GRAFT_WARM_DIR", "/root/testdata/sf0.001")

  def main(args: Array[String]): Unit = args.toList match {
    case "profile" :: qs :: rest => withSession { spark =>
      val names = if (qs == "all") SparkEntry.queries.keys.toSeq.sorted else qs.split(",").toSeq
      warmUp(spark, names)
      profile(spark, names, rest.headOption.fold(3)(_.toInt), sfDir)(println)
    }
    case "plan" :: qs :: rest => withSession { spark =>
      qs.split(",").foreach { n =>
        val df = SparkEntry.queries(n)(spark, sfDir)
        rest.headOption match {
          case None => df.explain("formatted")
          case Some(d) =>
            // explain prints to Console.out; route it into the file
            val buf = new java.io.ByteArrayOutputStream()
            Console.withOut(new java.io.PrintStream(buf, true))(df.explain("formatted"))
            val path = Files.createDirectories(Paths.get("plans", d)).resolve(s"$n.txt")
            Files.writeString(path, buf.toString)
            println(s"[plan] $path")
        }
      }
    }
    case "verify" :: sf :: out :: picks =>
      val spark = SparkSession.builder().master(s"local[$cpus]")
        .config("spark.sql.shuffle.partitions", cpus).config("spark.sql.session.timeZone", "UTC")
        .config("spark.ui.enabled", "false").getOrCreate()
      spark.sparkContext.setLogLevel("WARN")
      try verify(spark, sf, out, picks.toSet) finally spark.stop()
    case "kernels" :: t :: rest => kernels(t.toInt, rest.headOption.fold(20000L)(_.toLong))
    case "merc" :: rest =>
      merc(rest.headOption.fold(2000000L)(_.toLong), rest.lift(1).getOrElse("/tmp/merc_parity.csv"))
    case _ => System.err.println("usage: graft.Dev profile|plan|verify|kernels|merc …"); sys.exit(2)
  }

  private def withSession(f: SparkSession => Unit): Unit = {
    val spark = Session.build(master = s"local[$cpus]", shufflePartitions = cpus.toInt,
      appName = "graft-dev")
    spark.sparkContext.setLogLevel("WARN")
    try f(spark) finally spark.stop()
  }

  /** [[Bench]]'s warm-up: the one-time ICU init, then each named query once
    * on `SPARK_GRAFT_WARM_DIR`. */
  private def warmUp(spark: SparkSession, names: Seq[String]): Unit = {
    import org.apache.spark.sql.functions.{lit, lower}
    spark.range(1).select(lower(lit("WarmUp")) === lit("warmup")).count()
    names.foreach(n => try SparkEntry.queries(n)(spark, warmDir).count() catch { case NonFatal(_) => () })
  }

  /** Listener totals under the key names of perfbench's `Counters`, plus one
    * JSON row per stage completed since `stageRows` was last cleared. */
  private final class Counters extends SparkListener {
    val keys = Seq("jobs", "stages", "tasks", "task_ms", "cpu_ns", "task_gc_ms")
    private val c = keys.map(_ -> new AtomicLong).toMap
    val stageRows = new ConcurrentLinkedQueue[String]()
    override def onJobStart(e: SparkListenerJobStart): Unit = c("jobs").incrementAndGet()
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
      c("stages").incrementAndGet()
      val i = e.stageInfo
      val m = i.taskMetrics
      val wallMs = (for (s <- i.submissionTime; d <- i.completionTime) yield d - s).getOrElse(0L)
      stageRows.add(s"""{"stage":${i.stageId},"tasks":${i.numTasks},"wall_ms":$wallMs,""" +
        s""""task_ms":${m.executorRunTime},"cpu_ns":${m.executorCpuTime},""" +
        s""""task_gc_ms":${m.jvmGCTime},"name":${q(i.name.takeWhile(_ != '\n').take(60))}}""")
    }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
      c("tasks").incrementAndGet()
      Option(e.taskMetrics).foreach { m =>
        c("task_ms").addAndGet(m.executorRunTime); c("cpu_ns").addAndGet(m.executorCpuTime)
        c("task_gc_ms").addAndGet(m.jvmGCTime) }
    }
    def snapshot(): Map[String, Long] = keys.map(k => k -> c(k).get).toMap
  }

  /** Runs each query `reps` times on `dir` and emits one JSON line per rep:
    * `{"query","rep","rows","construct","plan","exec"}`, split into the phases
    * of perfbench's `timed()`. `construct` builds the frame (eager checkpoints
    * and loop rounds run here), `plan` forces its executed plan and `exec`
    * runs `count()`, as [[Bench]] does. Each phase reports `s` and the
    * [[Counters]] keys; the listener bus is drained after every phase, so no
    * phase's events land in the next. The last rep also carries `stage_rows`,
    * one per stage of the rep. A rep that throws emits `error` instead. */
  def profile(spark: SparkSession, names: Seq[String], reps: Int, dir: String)
             (emit: String => Unit): Unit = {
    val sc = spark.sparkContext
    val cs = new Counters
    sc.addSparkListener(cs)
    def phase[A](body: => A): (A, String) = {
      val before = cs.snapshot()
      val t0 = System.nanoTime()
      val a = body
      val sec = (System.nanoTime() - t0) / 1e9
      GraftShim.drainListenerBus(sc)
      val after = cs.snapshot()
      (a, (f""""s":$sec%.4f""" +: cs.keys.map(k => s""""$k":${after(k) - before(k)}""")).mkString("{", ",", "}"))
    }
    try names.foreach { n =>
      val fn = SparkEntry.queries(n)
      (1 to reps).foreach { rep =>
        GraftShim.drainListenerBus(sc)
        cs.stageRows.clear()
        emit(try {
          val (df, construct) = phase(fn(spark, dir))
          val (_, plan) = phase(df.queryExecution.executedPlan)
          val (rows, exec) = phase(df.count())
          val stages = if (rep < reps) "" else cs.stageRows.toArray.mkString(""","stage_rows":[""", ",", "]")
          s"""{"query":${q(n)},"rep":$rep,"rows":$rows,"construct":$construct,"plan":$plan,"exec":$exec$stages}"""
        } catch { case NonFatal(e) => s"""{"query":${q(n)},"rep":$rep,"error":${q(e.toString)}}""" })
      }
    } finally sc.removeSparkListener(cs)
  }

  /** [[Verify]]'s dump restricted to `picks`, which `tools/gatecheck.py`
    * reads: a pick selects the query of that name or every `<pick>_…`. */
  def verify(spark: SparkSession, sfDir: String, outDir: String, picks: Set[String]): Unit = {
    def matches(name: String) = picks.exists(p => name == p || name.startsWith(p + "_"))
    new java.io.File(outDir).mkdirs()
    SparkEntry.queries.filter(kv => matches(kv._1)).foreach { case (name, fn) =>
      try fn(spark, sfDir).coalesce(1).write.mode("overwrite")
        .parquet(s"$outDir/$name")
      catch { case e: Throwable =>
        System.err.println(s"[verify] $name failed: ${e.getMessage}")
      }
    }
    val json = SparkEntry.oracleSql.filter(kv => matches(kv._1))
      .map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
  }

  /** [[Verify]]'s JSON string escape: quote, backslash and every control char. */
  private def q(s: String): String = "\"" + s.flatMap {
    case '"'  => "\\\""
    case '\\' => "\\\\"
    case '\n' => "\\n"
    case '\r' => "\\r"
    case '\t' => "\\t"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""

  /** Runs `body(t)` for t in 0 until `threads`, each on its own thread, all at
    * once. Returns the wall seconds and the sum of the bodies' results. */
  def onThreads(threads: Int)(body: Int => Long): (Double, Long) = {
    val sink = new AtomicLong
    val ts = (0 until threads).map(t => new Thread(() => { sink.addAndGet(body(t)); () }))
    val t0 = System.nanoTime()
    ts.foreach(_.start()); ts.foreach(_.join())
    ((System.nanoTime() - t0) / 1e9, sink.get)
  }

  /** The flagship's per-row kernels on `threads` plain JVM threads, apart
    * from executor machinery: `features` (seed mix → geotag → quadkey/hex/s2
    * → PIP, `1000 × rows` rows per thread) and `images` ([[Validate.verdictOf]]
    * on [[ImageSynth.rowOf]], `rows` per thread; `failed` counts rows that do
    * not pass). Each is JIT-warmed on a tenth of its rows first. */
  def kernels(threads: Int, rows: Long): Unit = {
    import graft.functions.Statics
    val index = new graft.spatial.BoundaryIndex(ImagePipeline.metroBoundaries.toArray)
    def feature(i: Long): Long = {
      val lon = Statics.geotagLon(i)
      val lat = Statics.geotagLat(i)
      Statics.metaUid(i) + Statics.quadCell(lat, lon, 12) + Statics.hexCell(lat, lon, 7) +
        Statics.s2Cell(lat, lon, 12) + index.queryFirstOrdinal(lon, lat)
    }
    def image(i: Long): Long = {
      val r = ImageSynth.rowOf(i)
      val v = Validate.verdictOf(r.image_id, r.bytes, r.fmt, r.caption, r.phash)
      if (v.pixels_ok && v.caption_ok && v.phash_ok) 0L else 1L
    }
    def run(kernel: Long => Long, from: Long, n: Long): Long = {
      var i = from
      var acc = 0L
      while (i < from + n) { acc += kernel(i); i += 1 }
      acc
    }
    for ((name, kernel, n, sumKey) <- Seq(("features", feature _, rows * 1000, "sum"),
                                          ("images", image _, rows, "failed"))) {
      run(kernel, 1L << 40, n / 10)
      val (sec, sum) = onThreads(threads)(t => run(kernel, t * 1000000000L, n))
      println(f"""{"kernel":"$name","threads":$threads,"rows":${threads * n},""" +
        f""""rows_per_s":${threads * n / sec}%.0f,"per_thread":${n / sec}%.0f,"$sumKey":$sum}""")
    }
  }

  /** Writes `lat_bits,ty_bits,ty_tile` for the geotag latitude of image ids
    * `0 until n`: the raw bits of the latitude and of [[Quadkey.tileYRaw]] at
    * z12, and the tile [[Quadkey.tileY]] assigns. */
  def merc(n: Long, out: String): Unit = {
    val w = new java.io.PrintWriter(Files.newBufferedWriter(Paths.get(out)))
    try {
      w.print("lat_bits,ty_bits,ty_tile\n")
      var i = 0L
      while (i < n) {
        val lat = Geotag.latOf(ImageSynth.seedOf(i))
        w.print(s"${java.lang.Double.doubleToRawLongBits(lat)}," +
          s"${java.lang.Double.doubleToRawLongBits(Quadkey.tileYRaw(lat, 12))},${Quadkey.tileY(lat, 12)}\n")
        i += 1
      }
    } finally w.close()
    println(s"[merc] wrote $n rows to $out")
  }
}
