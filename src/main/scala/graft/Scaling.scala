package graft

import org.apache.spark.sql.SparkSession

/** One leg of the two-parallelism scaling evidence (north_rule). Run via
  * `tools/scaling_r5.sh`, which pins the JVM to N / 4N CPUs with `taskset` —
  * local[N] on an unrestricted 32-core host is NOT an N-core cluster (GC and
  * JIT threads spill onto the idle cores and inflate the small-N baseline;
  * measured: local[8] unpinned looks 1.7x faster than pinned).
  *
  * Prints ONE JSON line: {"cpus":N,"pipeline_rps":...,"validate_rps":...}.
  */
object Scaling {
  def main(args: Array[String]): Unit = {
    val cpus = if (args.length > 0) args(0).toInt else 8
    val nFeat = if (args.length > 1) args(1).toLong else 10000000L
    val nImg = if (args.length > 2) args(2).toLong else 400000L

    def timed[A](f: => A): Double = {
      val t0 = System.nanoTime(); f; (System.nanoTime() - t0) / 1e9
    }

    val spark: SparkSession = Session.build(master = s"local[$cpus]",
      shufflePartitions = cpus, appName = s"graft-scaling-$cpus")
    spark.sparkContext.setLogLevel("WARN")
    import graft.pipeline.{ImagePipeline, Validate}

    // warm-up: ICU init, codegen, C2 JIT of the image codecs (the codecs only
    // reach steady state after ~100k rows)
    ImagePipeline.run(spark, 200000L, cpus * 4).count()
    Validate.summary(ImagePipeline.synthTable(spark, 60000L, cpus * 4).toDF()).count()

    // hypervisor steal around the timed section: the sandbox host is an
    // oversubscribed VM and a stolen window silently corrupts a leg (observed
    // 3x swings); the harness retries legs whose steal fraction is high
    def cpuStat(): (Long, Long) = {
      val f = scala.io.Source.fromFile("/proc/stat")
      try {
        val c = f.getLines().next().trim.split("\\s+").drop(1).map(_.toLong)
        val steal = if (c.length > 7) c(7) else 0L
        (c.take(8).sum, steal)
      } finally f.close()
    } // (busy+idle ticks, steal ticks)

    // convergence warm-up: at 32 threads the first FULL-SIZE executions can
    // run 10-100x slow (measured: 384 s → 42 s → 5.0 s → 4.7 s — a C2/codegen/
    // heap-expansion thundering herd that the small warm-up above does not
    // trigger). Measured reps only start once two consecutive runs agree
    // within 20%, so a leg can never be contaminated by the transient.
    def steadyMin(label: String, reps: Int)(f: => Unit): Double = {
      var prev = timed(f)
      var cur = timed(f)
      var tries = 0
      while (tries < 6 && math.abs(prev - cur) / math.max(prev, cur) > 0.2) {
        prev = cur; cur = timed(f); tries += 1
        System.err.println(f"[scaling warm] $label attempt $tries: $cur%.2f s")
      }
      (1 to reps).map(_ => timed(f)).min
    }

    // same-window host-capability calibration (pure JVM threads, no Spark):
    // an integer LCG spin and a transcendental (log/tan) spin at this leg's
    // thread count. The sandbox host's N→4N ceiling is instruction-mix
    // dependent (measured in one window: integer 0.87, transcendental 0.60 —
    // all-core FP/AVX frequency + hypervisor contention), so raw workload
    // efficiency is only interpretable against the anchor measured in the
    // SAME window.
    def spin(kind: String): Double = {
      val iters = if (kind == "int") 150000000L else 6000000L
      val (sec, _) = Dev.onThreads(cpus) { ti =>
        var j = 0L
        if (kind == "int") {
          var x = ti + 1L
          while (j < iters) { x = x * 6364136223846793005L + 1442695040888963407L; j += 1 }
          x
        } else {
          var x = ti + 1.5
          while (j < iters) { x = math.log(math.abs(math.tan(x)) + 1.000001); j += 1 }
          java.lang.Double.doubleToLongBits(x)
        }
      }
      cpus * iters / sec
    }
    spin("int"); spin("trig") // JIT warm-up
    // per-section steal: the spin (calibration) section and the Spark
    // (pipeline+validate) section get SEPARATE /proc/stat windows, so the
    // reported steal_pct measures exactly the timed workload section that
    // BENCH.md's window-screening rule uses it for (a single window opened
    // before the spins blended the two sections)
    val (s0All, s0Steal) = cpuStat()
    val spinInt = spin("int")
    val spinTrig = spin("trig")
    val (t0All, t0Steal) = cpuStat()
    val tPipe = steadyMin("pipeline", 3)(ImagePipeline.run(spark, nFeat, cpus * 4).count())
    val tVal = steadyMin("validate", 3)(
      Validate.summary(ImagePipeline.synthTable(spark, nImg, cpus * 4).toDF()).count())
    val (t1All, t1Steal) = cpuStat()
    def pct(d0: (Long, Long), d1: (Long, Long)): Double =
      if (d1._1 > d0._1) math.round(1000.0 * (d1._2 - d0._2) / (d1._1 - d0._1)) / 10.0 else 0.0
    val stealPct = pct((t0All, t0Steal), (t1All, t1Steal))
    val spinStealPct = pct((s0All, s0Steal), (t0All, t0Steal))
    println(s"""{"cpus":$cpus,"pipeline_rps":${(nFeat / tPipe).round},"validate_rps":${(nImg / tVal).round},"steal_pct":$stealPct,"spin_steal_pct":$spinStealPct,"spin_int_ips":${spinInt.round},"spin_trig_ips":${spinTrig.round}}""")
    spark.stop()
  }
}
