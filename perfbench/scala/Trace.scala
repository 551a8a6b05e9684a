package perfbench

import java.lang.management.ManagementFactory
import java.util.concurrent.atomic.AtomicLong
import scala.collection.mutable
import scala.jdk.CollectionConverters._
import org.apache.spark.PerfbenchShim
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.{FilterExec, QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.exchange.BroadcastExchangeExec
import org.apache.spark.sql.util.QueryExecutionListener
import org.apache.spark.storage.RDDBlockId

/** Cumulative engine counters fed by a SparkListener (scheduler, shuffle,
  * spill, cached-block bytes) and a QueryExecutionListener (broadcast sizes
  * and join/filter output rows walked from each executed plan). Readers call
  * [[Counters.snapshot]], which drains the listener bus first. */
final class Counters(spark: SparkSession) extends SparkListener
    with QueryExecutionListener with AdaptiveSparkPlanHelper {
  private val c = mutable.LinkedHashMap[String, AtomicLong]()
  Seq("jobs", "stages", "tasks", "task_ms", "cpu_ns", "task_gc_ms",
    "shuffle_write_bytes", "shuffle_read_bytes", "spill_bytes",
    "broadcast_count", "broadcast_bytes", "rows_examined",
    "ckpt_rdds_created", "engine_warnings").foreach(k => c(k) = new AtomicLong)
  private def add(k: String, v: Long): Unit = c(k).addAndGet(v)

  // cached-block bookkeeping: live bytes per block, running total and peak
  private val blockBytes = mutable.HashMap[RDDBlockId, Long]()
  private val seenRdds = mutable.HashSet[Int]()
  private var liveBytes = 0L
  private var peakBytes = 0L

  override def onJobStart(e: SparkListenerJobStart): Unit = add("jobs", 1)
  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = add("stages", 1)
  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    add("tasks", 1)
    val m = e.taskMetrics
    if (m != null) {
      add("task_ms", m.executorRunTime); add("cpu_ns", m.executorCpuTime)
      add("task_gc_ms", m.jvmGCTime)
      add("shuffle_write_bytes", m.shuffleWriteMetrics.bytesWritten)
      add("shuffle_read_bytes", m.shuffleReadMetrics.totalBytesRead)
      add("spill_bytes", m.memoryBytesSpilled + m.diskBytesSpilled)
    }
  }
  override def onBlockUpdated(e: SparkListenerBlockUpdated): Unit = e.blockUpdatedInfo.blockId match {
    case b: RDDBlockId => synchronized {
      val info = e.blockUpdatedInfo
      val now = if (info.storageLevel.isValid) info.memSize + info.diskSize else 0L
      liveBytes += now - blockBytes.getOrElse(b, 0L)
      if (now > 0) blockBytes(b) = now else blockBytes.remove(b)
      if (now > 0 && seenRdds.add(b.rddId)) add("ckpt_rdds_created", 1)
      peakBytes = math.max(peakBytes, liveBytes)
    }
    case _ => ()
  }

  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = {
    val plan = qe.executedPlan
    collectWithSubqueries(plan) { case b: BroadcastExchangeExec => b }.distinct.foreach { b =>
      add("broadcast_count", 1)
      b.metrics.get("dataSize").foreach(m => add("broadcast_bytes", m.value))
    }
    collectWithSubqueries(plan) {
      case p: SparkPlan if p.isInstanceOf[FilterExec] || p.nodeName.endsWith("Join") ||
          p.getClass.getSimpleName.endsWith("JoinExec") => p
    }.distinct.foreach(p => p.metrics.get("numOutputRows").foreach(m => add("rows_examined", m.value)))
  }
  override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = ()

  def warning(): Unit = add("engine_warnings", 1)

  /** Marks the start of a window over which `ckpt_bytes_peak` and the
    * heap pools' peak usage are taken. */
  def resetPeak(): Unit = {
    synchronized { peakBytes = liveBytes }
    ManagementFactory.getMemoryPoolMXBeans.asScala.foreach(_.resetPeakUsage())
  }

  def snapshot(): Map[String, Double] = {
    PerfbenchShim.drainListenerBus(spark.sparkContext)
    val gcMs = ManagementFactory.getGarbageCollectorMXBeans.asScala.map(_.getCollectionTime).sum
    val heap = ManagementFactory.getMemoryPoolMXBeans.asScala
      .filter(_.getType == java.lang.management.MemoryType.HEAP).map(_.getPeakUsage.getUsed).sum
    c.map { case (k, v) => k -> v.get.toDouble }.toMap ++ synchronized(Map(
      "ckpt_bytes_live" -> liveBytes.toDouble, "ckpt_bytes_peak" -> peakBytes.toDouble)) ++
      Map("jvm_gc_ms" -> gcMs.toDouble, "heap_peak_bytes" -> heap.toDouble)
  }
}

/** Span recorder for the traced run: workload → pass → call → phase. Each
  * span keeps its name, layer, start/end (ns since the tracer started), parent
  * span and the run id, plus the counter deltas over its interval. Spans stay
  * in memory and are written once when the run ends. */
final class Tracer(spark: SparkSession, val runId: String) {
  final case class Span(id: Int, parent: Int, name: String, layer: String,
                        start: Long, end: Long, counters: Map[String, Double])
  val counters = new Counters(spark)
  spark.sparkContext.addSparkListener(counters)
  spark.listenerManager.register(counters)

  private val t0 = System.nanoTime()
  private val spans = mutable.ArrayBuffer[Span]()
  private val events = mutable.ArrayBuffer[Map[String, Any]]()
  private var stack = List(-1)
  private var nextId = 0

  // engine diagnostics are `[graft…]` lines on stderr: count them on the way
  private val errTee = new java.io.PrintStream(new java.io.OutputStream {
    private val line = new StringBuilder
    private val sink = System.err
    override def write(b: Int): Unit = {
      sink.write(b)
      if (b == '\n') { if (line.indexOf("[graft") >= 0) counters.warning(); line.clear() }
      else if (line.length < 64) line.append(b.toChar)
    }
    override def flush(): Unit = sink.flush()
  }, true)
  System.setErr(errTee)

  // cleaner hook: lets residue accounting wait until released RDDs are gone
  private val cleaned = new AtomicLong
  private val cleanerOn = PerfbenchShim.onRddCleaned(spark.sparkContext)(_ => cleaned.incrementAndGet())

  def span[T](name: String, layer: String, peak: Boolean = false)(body: => T): T = {
    nextId += 1
    val id = nextId
    val before = counters.snapshot()
    if (peak) counters.resetPeak()
    val parent = stack.head
    stack = id :: stack
    val start = System.nanoTime()
    try Console.withErr(errTee)(body) finally {
      val end = System.nanoTime()
      stack = stack.tail
      val after = counters.snapshot()
      val delta = after.map { case (k, v) =>
        k -> (if (k == "ckpt_bytes_peak" || k == "ckpt_bytes_live" || k == "heap_peak_bytes") v
              else v - before.getOrElse(k, 0.0))
      }
      spans += Span(id, parent, name, layer, start - t0, end - t0, delta)
    }
  }

  def event(e: Map[String, Any]): Unit = events += e

  /** RDD block residue left behind by `query`: after its DataFrame is
    * unreachable, run a GC and wait until the context cleaner has freed
    * every RDD that GC released, then list the cached RDDs that appeared
    * since `before`. */
  def residue(query: String, before: Set[Int]): Unit = {
    var last = -1L
    var rounds = 0
    while (cleanerOn && rounds < 20 && cleaned.get != last) {
      last = cleaned.get
      System.gc()
      // the cleaner polls its reference queue every 100 ms
      Thread.sleep(150)
      PerfbenchShim.drainListenerBus(spark.sparkContext)
      rounds += 1
    }
    val left = spark.sparkContext.getRDDStorageInfo.filterNot(i => before.contains(i.id))
    event(Map("type" -> "residue", "query" -> query,
      "rdds" -> left.length, "rdd_blocks" -> left.map(_.numCachedPartitions).sum,
      "bytes" -> left.map(i => i.memSize + i.diskSize).sum))
  }

  def cachedRdds(): Set[Int] = spark.sparkContext.getRDDStorageInfo.map(_.id).toSet

  def json: Any = Map(
    "run_id" -> runId,
    "spans" -> spans.map(s => Map("id" -> s.id, "parent" -> s.parent, "name" -> s.name,
      "layer" -> s.layer, "start_ns" -> s.start, "end_ns" -> s.end, "run_id" -> runId,
      "counters" -> s.counters)),
    "events" -> events)
}
