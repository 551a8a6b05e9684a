package perfbench

import java.nio.file.{Files, Paths}
import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.types.StructType
import graft.pipeline.{Checkpoint, ImagePipeline, Validate}

/** JVM side of the benchmark: runs ONE workload against the engine in a
  * closed loop with one client (a single driver thread issues the next call
  * only after the previous one returned), then writes `result.json` (and, for
  * a traced run, `trace.json`) into `out=`. `run.py` launches it, checks the
  * outputs it leaves behind and turns the records into metrics.
  *
  * Arguments are `key=value`: workload, seed, seconds, trace (0|1), out,
  * cores, plus the workload's sizes (see `run.py`). */
object Harness {
  final case class Call(pass: Int, name: String, wallS: Double, constructS: Double,
                        planS: Double, execS: Double, cpuS: Double, ok: Boolean, rows: Long,
                        digest: String, error: String) {
    def json: Map[String, Any] = Map("pass" -> pass, "name" -> name, "wall_s" -> wallS,
      "construct_s" -> constructS, "plan_s" -> planS, "exec_s" -> execS, "cpu_s" -> cpuS,
      "ok" -> ok, "rows" -> rows, "digest" -> digest, "error" -> error)
  }

  /** CPU time of the whole JVM (every thread), in ns. */
  def processCpuNs(): Long = java.lang.management.ManagementFactory.getOperatingSystemMXBean
    .asInstanceOf[com.sun.management.OperatingSystemMXBean].getProcessCpuTime

  def main(args: Array[String]): Unit = {
    val opt = args.map { a => val i = a.indexOf('='); a.take(i) -> a.drop(i + 1) }.toMap
    val cores = opt("cores").toInt
    val jvmStartMs = java.lang.management.ManagementFactory.getRuntimeMXBean.getStartTime
    val spark = graft.Session.build(master = s"local[$cores]", shufflePartitions = cores,
      appName = s"perfbench-${opt("workload")}")
    spark.sparkContext.setLogLevel("ERROR")
    val sessionMs = System.currentTimeMillis()
    val runId = s"${opt("workload")}-s${opt("seed")}-${System.currentTimeMillis()}"
    val tracer = if (opt("trace") == "1") Some(new Tracer(spark, runId)) else None
    if (opt("workload") == "train") train(spark, opt)
    else {
      val w = new Workloads(spark, opt, tracer)
      val result = tracer match {
        case Some(t) => t.span(opt("workload"), "workload")(w.run())
        case None => w.run()
      }
      Json.write(s"${opt("out")}/result.json", result ++ Map("run_id" -> runId, "cores" -> cores,
        "jvm_start_ms" -> jvmStartMs, "session_ms" -> sessionMs))
      tracer.foreach(t => Json.write(s"${opt("out")}/trace.json", t.json))
    }
    spark.stop()
  }

  /** Class-loading run for the build's class-data-sharing archive: every
    * workload once at toy size, so the classes all of them load are in the
    * archive and each benchmark JVM starts faster. Nothing is measured. */
  private def train(spark: SparkSession, opt: Map[String, String]): Unit = {
    val toy = Seq(
      Map("workload" -> "tile_pipeline", "n" -> "100000", "parts" -> "4", "warm" -> "1"),
      Map("workload" -> "ingest_validate", "n" -> "200", "buckets" -> "8",
        "stop_after" -> "3", "parts" -> "4"),
      Map("workload" -> "gate_iterative", "queries" -> opt("queries").split(",").head))
    toy.foreach { t =>
      new Workloads(spark, opt ++ t ++ Map("seconds" -> "0", "out" -> s"${opt("out")}/${t("workload")}"),
        None).run()
    }
  }
}

final class Workloads(spark: SparkSession, opt: Map[String, String], tracer: Option[Tracer]) {
  import Harness.Call
  private val out = opt("out")
  private val seed = opt("seed").toLong
  private val seconds = opt("seconds").toDouble
  private val calls = ArrayBuffer[Call]()
  private val checks = ArrayBuffer[Map[String, Any]]()
  private var firstCallMs = 0L
  private var firstCallCpuNs = 0L
  private val warmup = ArrayBuffer[(String, Double)]()

  private def now = System.nanoTime()
  private def secs(a: Long, b: Long) = (b - a) / 1e9
  private def sp[T](name: String, layer: String, peak: Boolean = false)(body: => T): T =
    tracer match { case Some(t) => t.span(name, layer, peak)(body); case None => body }
  private def check(name: String, ok: Boolean, detail: String): Unit =
    checks += Map("name" -> name, "ok" -> ok, "detail" -> detail)

  /** Runs timed passes until `seconds` have elapsed (at least `minPasses`). */
  private def window(minPasses: Int)(pass: Int => Unit): Int = {
    firstCallMs = System.currentTimeMillis()
    firstCallCpuNs = Harness.processCpuNs()
    val deadline = now + (seconds * 1e9).toLong
    var p = 0
    while (p < minPasses || now < deadline) { p += 1; sp(s"pass$p", "pass")(pass(p)) }
    p
  }

  /** One timed call: construct the frame, force its physical plan, run the
    * action. Failures are recorded (and counted), never rethrown. */
  private def timed[A](pass: Int, name: String, construct: => DataFrame)(action: DataFrame => A)
                      (rowsOf: A => Long, digestOf: A => String): (Call, Option[(DataFrame, A)]) = {
    val t0 = now
    val c0 = Harness.processCpuNs()
    var t1, t2, t3 = t0
    try {
      val (df, a) = sp(name, "call", peak = true) {
        val df = sp("construct", "construct")(construct)
        t1 = now
        sp("plan", "plan")(df.queryExecution.executedPlan)
        t2 = now
        val a = sp("exec", "exec")(action(df))
        t3 = now
        (df, a)
      }
      val c = Call(pass, name, secs(t0, t3), secs(t0, t1), secs(t1, t2), secs(t2, t3),
        secs(c0, Harness.processCpuNs()), ok = true, rowsOf(a), digestOf(a), null)
      calls += c
      (c, Some((df, a)))
    } catch {
      case e: Throwable =>
        val c = Call(pass, name, secs(t0, now), 0, 0, 0, secs(c0, Harness.processCpuNs()),
          ok = false, -1, null,
          s"${e.getClass.getSimpleName}: ${String.valueOf(e.getMessage).take(300)}")
        calls += c
        (c, None)
    }
  }

  def run(): Map[String, Any] = {
    val extra = opt("workload") match {
      case "tile_pipeline" => tile()
      case "ingest_validate" => ingest()
      case "gate_iterative" | "gate_spatial" => gate()
      case other => throw new IllegalArgumentException(s"unknown workload $other")
    }
    Map("workload" -> opt("workload"), "seed" -> seed, "first_call_ms" -> firstCallMs,
      "first_call_cpu_s" -> firstCallCpuNs / 1e9,
      "calls" -> calls.map(_.json), "checks" -> checks, "extra" -> extra,
      "warmup" -> warmup.map { case (n, t) => Map("name" -> n, "wall_s" -> t) })
  }

  // ---- tile_pipeline ------------------------------------------------------

  private def noop(df: DataFrame): Unit = df.write.format("noop").mode("overwrite").save()

  private def tile(): Map[String, Any] = {
    val n = opt("n").toLong
    val parts = opt("parts").toInt
    (1 to opt("warm").toInt).foreach(_ => ImagePipeline.run(spark, n, parts).count())
    val prefixes = ArrayBuffer[Map[String, Any]]()
    val passes = window(minPasses = 3) { p =>
      timed(p, "run", ImagePipeline.run(spark, n, parts))(_.count())(identity, _ => null)
      // traced runs also time the flagship's prefixes, each to a noop sink
      if (tracer.isDefined) {
        def t(name: String)(df: => DataFrame): (String, Double) = {
          val a = now
          sp(name, "prefix")(noop(df))
          name -> secs(a, now)
        }
        val feats = ImagePipeline.fastFeatures(spark, n, parts)
        val index = new graft.spatial.BoundaryIndex(ImagePipeline.metroBoundaries.toArray)
        prefixes += Map("pass" -> p) ++ Seq(
          t("synth")(spark.range(0L, n, 1L, parts).toDF("idx")),
          t("derive_encode")(feats),
          t("pip")(feats.withColumn("b_ord",
            graft.functions.SeedExprs.pipOrdinal(col("lon"), col("lat"), index))
            .filter(col("b_ord") >= 0)))
      }
    }
    // output check material, outside the timed window
    ImagePipeline.run(spark, n, parts).coalesce(1).write.mode("overwrite").parquet(s"$out/tile")
    Files.writeString(Paths.get(s"$out/tile_oracle.sql"), graft.OracleSql.q32(n))
    Map("n" -> n, "parts" -> parts, "passes" -> passes, "prefixes" -> prefixes)
  }

  // ---- ingest_validate ----------------------------------------------------

  private def ingest(): Map[String, Any] = {
    val n = opt("n").toLong
    val buckets = opt("buckets").toInt
    val stopAfter = opt("stop_after").toInt
    val parts = opt("parts").toInt
    val lo = seed * n
    val hi = lo + n
    val cycles = ArrayBuffer[Map[String, Any]]()
    val manifestSets = ArrayBuffer[Seq[Checkpoint.Manifest]]()

    def dirSize(p: String): Long = {
      val walk = Files.walk(Paths.get(p))
      try walk.iterator().asScala.filter(Files.isRegularFile(_)).map(Files.size).sum
      finally walk.close()
    }
    def cycle(p: Int, dir: String): Unit = {
      Checkpoint.deleteRecursively(Paths.get(dir))
      val committedRows = ArrayBuffer[Long]()
      // a Checkpoint call has no lazy frame: it constructs, plans and runs
      // in one go, so the whole call counts as its action
      def epoch(name: String, maxBuckets: Int): Unit = {
        val (_, r) = timed(p, name, spark.emptyDataFrame) { _ =>
          Checkpoint.runEpoch(spark, 0, lo, hi, dir, buckets, parts, maxBuckets = maxBuckets)
        }(_.map(_.rowCount).sum, _ => null)
        committedRows += r.map(_._2.map(_.rowCount).sum).getOrElse(0L)
      }
      epoch("stop", stopAfter)
      val skipped = Checkpoint.committed(dir, 0, buckets).size
      epoch("resume", Int.MaxValue)
      val (_, v) = timed(p, "validate", Validate.summary(spark.read.parquet(s"$dir/data/epoch=0")))(
        _.collect().head)(_.getLong(0), r => r.toSeq.mkString("|"))
      val ms = Checkpoint.manifests(dir, 1, buckets)
      manifestSets += ms
      cycles += Map("pass" -> p, "committed_rows" -> committedRows.sum,
        "resume_skipped_buckets" -> skipped, "bytes_written" -> dirSize(s"$dir/data"),
        "summary" -> v.map(_._2.getValuesMap[Any](v.get._2.schema.fieldNames.toSeq)).orNull,
        "manifests" -> ms.map(m => Map("epoch" -> m.epoch, "bucket" -> m.bucket,
          "rowCount" -> m.rowCount, "nPixelsOk" -> m.nPixelsOk, "nCaptionsOk" -> m.nCaptionsOk)))
      if (tracer.isDefined) {
        val a = now
        sp("synth_encode", "prefix")(noop(ImagePipeline.synthTable(spark, n, parts).toDF()))
        cycles(cycles.size - 1) = cycles.last + ("synth_encode_s" -> secs(a, now))
      }
      Checkpoint.deleteRecursively(Paths.get(dir))
    }

    // untimed warm-up, which is also the reference for the manifest check:
    // the same range written by one uninterrupted call, then validated
    val ref = s"$out/ingest/reference"
    Checkpoint.deleteRecursively(Paths.get(ref))
    Checkpoint.runEpoch(spark, 0, lo, hi, ref, buckets, parts)
    Validate.summary(spark.read.parquet(s"$ref/data/epoch=0")).collect()
    val expected = Checkpoint.manifests(ref, 1, buckets)
    Checkpoint.deleteRecursively(Paths.get(ref))
    // and one untimed stop → resume → validate cycle, so the JIT has seen
    // the resume path before the first timed pass
    cycle(0, s"$out/ingest/cycle")
    calls.clear(); cycles.clear(); manifestSets.clear()
    val passes = window(minPasses = 2)(p => cycle(p, s"$out/ingest/cycle"))
    manifestSets.zipWithIndex.foreach { case (ms, i) =>
      check(s"manifests_equal_uninterrupted[pass${i + 1}]", ms == expected,
        if (ms == expected) s"${ms.size} manifests" else s"got $ms expected $expected")
    }
    Map("n" -> n, "id_start" -> lo, "buckets" -> buckets, "stop_after" -> stopAfter,
      "passes" -> passes, "cycles" -> cycles)
  }

  // ---- gate_iterative / gate_spatial --------------------------------------

  /** Order-free digest of a collected result, to prove every pass returned
    * the rows the oracle check saw. */
  private def digest(rows: Array[Row]): String = {
    val md = java.security.MessageDigest.getInstance("MD5")
    rows.map(_.toString).sorted.foreach(s => md.update((s + "\n").getBytes("UTF-8")))
    md.digest().map("%02x".format(_)).mkString
  }

  private def gate(): Map[String, Any] = {
    val names = opt("queries").split(",").toSeq
    val data = opt("data")
    val fns = names.map(n => n -> graft.SparkEntry.queries(n)).toMap
    // untimed warm-up: every query once on the timed data
    names.foreach { n =>
      val t = now
      try fns(n)(spark, data).collect() catch { case _: Throwable => () }
      warmup += n -> secs(t, now)
    }

    val kept = scala.collection.mutable.LinkedHashMap[String, (StructType, Array[Row])]()
    // returns no DataFrame, so the query's frame is unreachable afterwards
    def call(p: Int, n: String): (Call, Option[(StructType, Array[Row])]) = {
      val (c, r) = timed(p, n, fns(n)(spark, data))(_.collect())(_.length.toLong, digest)
      (c, r.map { case (df, rows) => (df.schema, rows) })
    }
    val passes = window(minPasses = 2) { p =>
      val order = new scala.util.Random(seed * 7919L + p).shuffle(names)
      order.foreach { n =>
        val before = tracer.map(_.cachedRdds())
        val (c, r) = call(p, n)
        r.foreach(sr => if (!kept.contains(n)) kept(n) = sr)
        before.foreach(b => tracer.get.residue(n, b))
        kept.get(n).foreach { case (_, rows) =>
          if (c.ok && c.digest != digest(rows))
            check(s"$n[pass$p]", ok = false, "result differs from the first pass")
        }
      }
    }
    // output check material, outside the timed window: the first result of
    // every query as parquet, plus its oracle SQL
    kept.foreach { case (n, (schema, rows)) =>
      spark.createDataFrame(rows.toSeq.asJava, schema).coalesce(1)
        .write.mode("overwrite").parquet(s"$out/gate/$n")
    }
    Json.write(s"$out/oracle_sql.json",
      graft.SparkEntry.oracleSql.filter { case (k, _) => names.contains(k) })
    Map("queries" -> names, "data" -> data, "passes" -> passes)
  }
}

/** Minimal JSON writer for the records above (maps, sequences, strings,
  * numbers, booleans, null). */
object Json {
  def render(v: Any): String = v match {
    case null | None => "null"
    case Some(x) => render(x)
    case s: String => "\"" + s.flatMap {
      case '"' => "\\\""; case '\\' => "\\\\"; case '\n' => "\\n"; case '\r' => "\\r"
      case '\t' => "\\t"; case c if c < ' ' => f"\\u${c.toInt}%04x"; case c => c.toString
    } + "\""
    case b: Boolean => b.toString
    case d: Double => if (d.isNaN || d.isInfinite) "null" else d.toString
    case f: Float => render(f.toDouble)
    case n: java.lang.Number => n.toString
    case m: scala.collection.Map[_, _] =>
      m.map { case (k, x) => render(k.toString) + ":" + render(x) }.mkString("{", ",", "}")
    case a: Array[_] => render(a.toSeq)
    case s: Iterable[_] => s.map(render).mkString("[", ",", "]")
    case other => render(other.toString)
  }
  def write(path: String, v: Any): Unit = {
    Files.createDirectories(Paths.get(path).getParent)
    Files.writeString(Paths.get(path), render(v))
  }
}
