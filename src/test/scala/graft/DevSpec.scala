package graft

import java.util.concurrent.atomic.AtomicInteger
import scala.jdk.CollectionConverters._
import com.fasterxml.jackson.databind.ObjectMapper
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart, SparkListenerStageCompleted, SparkListenerTaskEnd}
import org.apache.spark.sql.GraftShim
import org.scalatest.funsuite.AnyFunSuite

class DevSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  private val dir = "/root/testdata/sf0.001"
  private val json = new ObjectMapper()

  test("profile: one line per rep, phase counts add up to everything the call ran") {
    val sc = spark.sparkContext
    GraftShim.drainListenerBus(sc)
    val (jobs, stages, tasks) = (new AtomicInteger, new AtomicInteger, new AtomicInteger)
    // a slow listener on the same bus queue delays delivery to Dev's own
    // listener too, so a phase read before the bus drains misses events
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = { Thread.sleep(10); jobs.incrementAndGet() }
      override def onStageCompleted(e: SparkListenerStageCompleted): Unit = { Thread.sleep(10); stages.incrementAndGet() }
      override def onTaskEnd(e: SparkListenerTaskEnd): Unit = { Thread.sleep(10); tasks.incrementAndGet() }
    }
    sc.addSparkListener(listener)
    val lines = scala.collection.mutable.ArrayBuffer[String]()
    // q125 builds its own graph: its k-core rounds run while the frame is built
    try {
      Dev.profile(spark, Seq("q125_kcore"), 2, dir)(lines += _)
      GraftShim.drainListenerBus(sc)
    } finally sc.removeSparkListener(listener)

    assert(lines.size == 2, lines)
    val reps = lines.map(json.readTree)
    val phases = Seq("construct", "plan", "exec")
    reps.zipWithIndex.foreach { case (r, i) =>
      assert(!r.has("error"), r)
      assert(r.get("query").asText == "q125_kcore" && r.get("rep").asInt == i + 1)
      for (p <- phases; k <- Seq("s", "jobs", "stages", "tasks", "task_ms", "cpu_ns", "task_gc_ms"))
        assert(r.get(p).has(k), s"rep ${i + 1} $p lacks $k")
      assert(r.get("construct").get("jobs").asLong > 0, r)
      assert(r.get("exec").get("jobs").asLong >= 1, r)
    }
    assert(!reps(0).has("stage_rows") && reps(1).get("stage_rows").size > 0)
    // each phase is read after the listener bus drained, so no event of a
    // phase is counted in the next one or lost after the last one
    for ((k, n) <- Seq("jobs" -> jobs, "stages" -> stages, "tasks" -> tasks)) {
      val sum = reps.map(r => phases.map(p => r.get(p).get(k).asLong).sum).sum
      assert(sum == n.get, s"phases count $sum $k, the listener ${n.get}")
    }
  }

  test("verify: writes the picked results and their oracle SQL, nothing else") {
    val out = "/tmp/dev_spec_verify"
    graft.pipeline.Checkpoint.deleteRecursively(java.nio.file.Paths.get(out))
    val picks = Set("q01_agg_pushdown", "q02_join_broadcast")
    Dev.verify(spark, dir, out, picks)

    val written = new java.io.File(out).list().toSet
    assert(written == picks + "oracle_sql.json", written)
    picks.foreach(p => assert(spark.read.parquet(s"$out/$p").count() > 0, p))
    val oracle = json.readTree(new java.io.File(s"$out/oracle_sql.json"))
    val got = oracle.fieldNames.asScala.map(k => k -> oracle.get(k).asText).toMap
    assert(got == SparkEntry.oracleSql.filter(kv => picks(kv._1)))
  }
}
