package graft

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart, SparkListenerJobEnd, SparkListenerStageCompleted}
import java.util.concurrent.atomic.{AtomicInteger, AtomicLong}

/** Optimization-round measurement harness (guide §1) — NOT the driver bench.
  * Runs named queries in isolation with the same session shape as Bench,
  * reporting per-rep wall time plus job/stage/task-time counters from a
  * SparkListener, so per-query cost can be attributed to scheduling overhead
  * (many tiny jobs) vs actual task work. Also dumps `.explain("formatted")`
  * to plans/<tag>/<query>.txt when SPARK_GRAFT_PLAN_TAG is set.
  *
  * Usage: runMain graft.BenchExtra q181_star_pip[,q129_...] [reps]
  * Env: SPARK_GRAFT_SF_DIR (default sf0.1), SPARK_GRAFT_CPUS (default 32),
  *      SPARK_GRAFT_PLAN_TAG (a directory under plans/, e.g. "r08/before";
  *      created if missing). */
object BenchExtra {
  def main(args: Array[String]): Unit = {
    val names = args(0).split(",").toSeq
    val reps = if (args.length > 1) args(1).toInt else 3
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val warmDir = sys.env.getOrElse("SPARK_GRAFT_WARM_DIR", "/root/testdata/sf0.001")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val planTag = sys.env.get("SPARK_GRAFT_PLAN_TAG")
    val spark = Session.build(master = s"local[$cpus]", shufflePartitions = cpus.toInt,
      appName = "graft-bench-extra")
    spark.sparkContext.setLogLevel("WARN")

    val jobs = new AtomicInteger(0)
    val stages = new AtomicInteger(0)
    val taskMs = new AtomicLong(0L)   // sum of per-task executorRunTime
    val stageMs = new AtomicLong(0L)  // sum of per-stage wall (submission->completion)
    val detail = sys.env.contains("SPARK_GRAFT_STAGE_DETAIL")
    val stageRows = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    spark.sparkContext.addSparkListener(new SparkListener {
      override def onJobStart(j: SparkListenerJobStart): Unit = jobs.incrementAndGet()
      override def onStageCompleted(sc: SparkListenerStageCompleted): Unit = {
        stages.incrementAndGet()
        taskMs.addAndGet(sc.stageInfo.taskMetrics.executorRunTime)
        for (s <- sc.stageInfo.submissionTime; c <- sc.stageInfo.completionTime) {
          stageMs.addAndGet(c - s)
          if (detail) stageRows.add(
            f"    stage ${sc.stageInfo.stageId}%4d tasks=${sc.stageInfo.numTasks}%4d " +
            f"wall=${c - s}%5d ms task=${sc.stageInfo.taskMetrics.executorRunTime}%6d ms " +
            f"gc=${sc.stageInfo.taskMetrics.jvmGCTime}%5d ms " +
            f"cpu=${sc.stageInfo.taskMetrics.executorCpuTime / 1000000}%6d ms " +
            sc.stageInfo.name.takeWhile(_ != '\n').take(40))
        }
      }
    })

    import org.apache.spark.sql.functions.{lit, lower}
    spark.range(1).select(lower(lit("WarmUp")) === lit("warmup")).count()
    names.foreach { n =>
      try SparkEntry.queries(n)(spark, warmDir).count() catch { case _: Throwable => () }
    }

    names.foreach { n =>
      val fn = SparkEntry.queries(n)
      val times = (1 to reps).map { i =>
        jobs.set(0); stages.set(0); taskMs.set(0L); stageMs.set(0L)
        spark.sparkContext.setJobDescription(s"$n rep$i")
        val t0 = System.nanoTime()
        val rows = fn(spark, sfDir).count()
        val dt = (System.nanoTime() - t0) / 1e9
        // listener events are async: read counters only once all are delivered
        org.apache.spark.sql.GraftShim.drainListenerBus(spark.sparkContext)
        println(f"[$n] rep $i: $dt%.3f s  rows=$rows  jobs=${jobs.get}  " +
          f"stages=${stages.get}  stageWallMs=${stageMs.get}  taskMs=${taskMs.get}")
        if (detail && i == reps) {
          stageRows.forEach(r => println(r)); }
        stageRows.clear()
        dt
      }
      println(f"[$n] min=${times.min}%.3f s")
      planTag.foreach { tag =>
        val dir = java.nio.file.Files.createDirectories(java.nio.file.Paths.get("plans", tag))
        val pw = new java.io.PrintWriter(dir.resolve(s"$n.txt").toFile)
        // explain("formatted") prints to stdout; route it into the file
        val buf = new java.io.ByteArrayOutputStream()
        Console.withOut(new java.io.PrintStream(buf)) { fn(spark, sfDir).explain("formatted") }
        pw.write(buf.toString); pw.close()
      }
    }
    spark.stop()
  }
}
