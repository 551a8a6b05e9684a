package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.{DataFrame, GraftShim, SparkSession}
import org.apache.spark.sql.catalyst.plans.logical.Join
import org.apache.spark.sql.execution.LogicalRDD
import org.apache.spark.sql.execution.joins.{BroadcastHashJoinExec, BroadcastNestedLoopJoinExec}
import org.apache.spark.sql.internal.SQLConf
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel
import graft.text.Dedup

/** Checkpoint residue probes: the persisted RDDs of the shared session,
  * the RDDs a frame's plan reads, and the confs a loop pins. */
object Residue {
  def persisted(spark: SparkSession): Set[Int] = spark.sparkContext.getPersistentRDDs.keySet.toSet

  def reads(df: DataFrame): Set[Int] = df.queryExecution.analyzed
    .collectWithSubqueries { case lr: LogicalRDD => lr.rdd.id }.toSet

  def loopConfs(spark: SparkSession): Seq[String] =
    Seq("spark.sql.adaptive.enabled", "spark.sql.shuffle.partitions").map(spark.conf.get)
}

/** Pins the scope's block hygiene (ADVICE r4): a scope must actually free
  * what it owns, and must refuse — loudly — a frame whose blocks it could
  * not free, so a Spark plan-wrapping change cannot silently disable it. */
class CacheSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark

  test("scope frees its checkpoints on exit and hands on the ones its result reads") {
    var inner: DataFrame = null
    val out = CacheOps.scope { s =>
      inner = s.checkpoint(spark.range(100).toDF("x"))
      s.checkpoint(spark.range(10).toDF("y"))
    }
    val innerRdd = inner.queryExecution.analyzed.asInstanceOf[LogicalRDD].rdd
    val outRdd = out.queryExecution.analyzed.asInstanceOf[LogicalRDD].rdd
    assert(innerRdd.getStorageLevel == StorageLevel.NONE)
    assert(outRdd.getStorageLevel.useMemory || outRdd.getStorageLevel.useDisk)
    outRdd.unpersist(false)
  }

  test("scope refuses a plan that is not a checkpoint") {
    val ex = intercept[IllegalStateException] {
      CacheOps.scope(s => s.own(spark.range(10).toDF("x")))
    }
    assert(ex.getMessage.contains("LogicalRDD"))
  }

  test("a fixpoint inside a running fixpoint is refused before it sets any conf") {
    val session = Residue.loopConfs(spark)
    var pinned, afterRefusal = Seq.empty[String]
    var refusal = ""
    CacheOps.scope { s =>
      s.fixpoint("outer", 1, s.checkpoint(spark.range(10).toDF("x"))) { (state, _) =>
        // megabytes of live checkpoint: an inner loop would pin a wider
        // shuffle than the outer loop's 1 partition
        s.checkpoint(spark.range(300000).toDF("y"))
        pinned = Residue.loopConfs(spark)
        refusal = intercept[IllegalStateException] {
          s.fixpoint("inner", 1, state)((st, _) => (st, true))
        }.getMessage
        afterRefusal = Residue.loopConfs(spark)
        (state, true)
      }
    }
    assert(refusal.contains("inner") && refusal.contains("outer"), refusal)
    assert(pinned == Seq("false", "1"))
    assert(afterRefusal == pinned)
    assert(Residue.loopConfs(spark) == session)
  }

  /** (measured block bytes of `cp`, its plan's size statistic) */
  private def sizes(cp: DataFrame): (Long, BigInt) = {
    val id = cp.queryExecution.analyzed.asInstanceOf[LogicalRDD].rdd.id
    (spark.sparkContext.getRDDStorageInfo.filter(_.id == id).map(i => i.memSize + i.diskSize).sum,
      cp.queryExecution.optimizedPlan.stats.sizeInBytes)
  }

  private def broadcasts(df: DataFrame): Int = df.queryExecution.sparkPlan.collect {
    case j: BroadcastHashJoinExec => j
    case j: BroadcastNestedLoopJoinExec => j
  }.size

  private val threshold = "spark.sql.autoBroadcastJoinThreshold"

  test("an exploded checkpoint measured over the broadcast threshold is not broadcast") {
    val exploded = spark.range(1000).toDF("k")
      .select(col("k"), explode(sequence(lit(1), lit(200))).as("i"))
    val estimate = exploded.queryExecution.optimizedPlan.stats.sizeInBytes
    val saved = spark.conf.get(threshold)
    CacheOps.scope { s =>
      val cp = s.checkpoint(exploded)
      val (bytes, stat) = sizes(cp)
      assert(estimate * 4 < bytes, s"estimate $estimate vs measured $bytes")
      try {
        spark.conf.set(threshold, ((estimate + bytes) / 2).toString)
        assert(broadcasts(spark.range(1L << 30).toDF("k").join(cp, "k")) == 0)
      } finally spark.conf.set(threshold, saved)
      assert(stat == BigInt(bytes))
      spark.emptyDataFrame
    }
  }

  test("a join's checkpoint measured under the threshold is broadcast with no hint") {
    val joined = spark.range(2000).toDF("k").join(spark.range(2000).toDF("k"), "k")
    assert(joined.queryExecution.optimizedPlan.collectFirst { case j: Join => j.stats.sizeInBytes }
      .contains(BigInt(16000) * 16000))
    val estimate = joined.queryExecution.optimizedPlan.stats.sizeInBytes
    val limit = SQLConf.get.autoBroadcastJoinThreshold
    CacheOps.scope { s =>
      val cp = s.checkpoint(joined)
      val (bytes, stat) = sizes(cp)
      assert(bytes > 0 && bytes < limit && estimate > limit, s"measured $bytes, limit $limit")
      assert(broadcasts(spark.range(1L << 30).toDF("k").join(cp, "k")) == 1)
      assert(stat == BigInt(bytes))
      spark.emptyDataFrame
    }
  }

  test("a checkpoint with no stored bytes keeps Spark's unknown size, never 0") {
    val empty = spark.range(100).toDF("x").where(lit(false))
    CacheOps.scope { s =>
      val cp = s.checkpoint(empty)
      val (bytes, stat) = sizes(cp)
      assert(bytes == 0)
      assert(stat == BigInt(SQLConf.get.defaultSizeInBytes))
      spark.emptyDataFrame
    }
  }

  test("fixed-round loops refuse zero rounds before they make a checkpoint") {
    val before = Residue.persisted(spark)
    val pr = intercept[IllegalArgumentException](graft.ops.Graph.pageRank(spark, iters = 0))
    // the refusal comes before the events table is read, so no data dir is needed
    val sp = intercept[IllegalArgumentException](graft.ops.Sssp.boundedSssp(spark, "", hops = 0))
    assert(pr.getMessage.contains("iters") && sp.getMessage.contains("hops"),
      s"${pr.getMessage} / ${sp.getMessage}")
    assert(Residue.persisted(spark) == before)
  }
}

/** Every gate query returns holding only the checkpoints its own plan
  * reads, and prints nothing (a free that cannot engage must not degrade to
  * a warning). */
class LoopResidueSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark

  for (q <- SparkEntry.queries.keys.toSeq.sorted) {
    test(s"$q leaves only blocks its result reads") {
      val before = Residue.persisted(spark)
      val err = new java.io.ByteArrayOutputStream()
      val out = Console.withErr(err)(SparkEntry.queries(q)(spark, "/root/testdata/sf0.001"))
      val held = Residue.persisted(spark) -- before
      val stranded = held -- Residue.reads(out)
      held.foreach(spark.sparkContext.getPersistentRDDs(_).unpersist(false))
      assert(stranded.isEmpty, s"stranded RDDs $stranded")
      assert(err.size == 0, err.toString)
    }
  }
}

/** Adversarial pins for dupComponents' loop mechanics (VERDICT r4 #5/#6):
  * exactly one Spark action per propagation round, and the hard-diameter
  * refusal actually refuses — loudly — instead of silently splitting
  * components. */
class DupComponentsSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark

  private def pathPairs(edges: Int) = {
    import spark.implicits._
    (0 until edges).map(i => (i.toLong, (i + 1).toLong)).toDF("a", "b")
  }

  test("one Spark action per round: accumulator convergence, no count action") {
    // 4-edge chain: label 0 moves 1 hop/round -> 4 change rounds + 1
    // zero-change round = 5 rounds total. Action budget: edges checkpoint +
    // initial labels checkpoint + 5 round materializations + rollup
    // checkpoint = 8 localCheckpoint actions, ZERO `count` actions (job
    // counting is the wrong probe here — AQE splits one action into several
    // jobs; QueryExecutionListener events map 1:1 to driver actions). The
    // round-4 shape ran a join+count convergence probe per round: it would
    // show 5 `count` events.
    val pairs = pathPairs(4)
    val names = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val listener = new org.apache.spark.sql.util.QueryExecutionListener {
      def onSuccess(funcName: String, qe: org.apache.spark.sql.execution.QueryExecution,
                    durationNs: Long): Unit = names.add(funcName)
      def onFailure(funcName: String, qe: org.apache.spark.sql.execution.QueryExecution,
                    exception: Exception): Unit = names.add("FAIL:" + funcName)
    }
    spark.listenerManager.register(listener)
    try {
      val out = Dedup.dupComponents(pairs)
      GraftShim.drainListenerBus(spark.sparkContext)
      val evs = names.toArray(Array.empty[String]).toSeq
      assert(evs.count(_ == "localCheckpoint") == 8,
        s"expected 8 localCheckpoint actions (1/round + 3), saw $evs")
      assert(!evs.exists(_.contains("count")),
        s"per-round count action resurfaced: $evs")
      assert(out.collect().map(r => (r.getLong(0), r.getLong(1))).toSet == Set((0L, 5L)))
    } finally spark.listenerManager.unregister(listener)
  }

  test("path graph converging exactly at the round cap still succeeds") {
    // 12-edge path: 12 change rounds + 1 zero round = 13 = maxRounds exactly
    val out = Dedup.dupComponents(pathPairs(12), maxRounds = 13).collect()
    assert(out.map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet ==
      Set((0L, 13L, 12L)))
  }

  test("diameter over the round cap trips the loud refusal, never a silent split") {
    val before = Residue.persisted(spark)
    val confs = Residue.loopConfs(spark)
    val ex = intercept[IllegalArgumentException] {
      Dedup.dupComponents(pathPairs(13), maxRounds = 13).collect()
    }
    assert(ex.getMessage.contains("did not converge"))
    // the refusal frees the loop's checkpoints and restores the session confs
    assert(Residue.persisted(spark) -- before == Set.empty)
    assert(Residue.loopConfs(spark) == confs)
  }

  test("large/small-star converges on a 200-edge path where hash-min's cap refuses") {
    // hash-min needs diameter+1 = 201 rounds here (cap 64 would refuse);
    // the star contraction lands the same single component in O(log²) rounds
    val out = Dedup.dupComponentsStars(pathPairs(200), maxRounds = 64).collect()
    assert(out.map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet ==
      Set((0L, 201L, 200L)))
  }

  test("large/small-star equals hash-min on random graphs (property)") {
    import spark.implicits._
    val rng = new Prop.Rng(77)
    for (trial <- 1 to 8) {
      val nVerts = rng.int(20, 80)
      val nEdges = rng.int(10, 90)
      val pairs = (0 until nEdges).map { _ =>
        val a = rng.int(0, nVerts - 1).toLong; val b = rng.int(0, nVerts - 1).toLong
        (math.min(a, b), math.max(a, b))
      }.filter(p => p._1 != p._2).toDF("a", "b")
      val viaStars = Dedup.dupComponentsStars(pairs).collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
      val viaHashMin = Dedup.dupComponents(pairs).collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
      assert(viaStars == viaHashMin, s"trial $trial: $viaStars != $viaHashMin")
    }
  }
}
