package graft

import scala.collection.mutable

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{DataFrame, GraftShim, SparkSession}
import org.apache.spark.sql.execution.LogicalRDD

/** Block management for `localCheckpoint()`-materialized frames.
  *
  * A localCheckpoint pins its RDD at MEMORY_AND_DISK until the ContextCleaner
  * notices the RDD object is unreachable — which needs a driver GC. Operators
  * invoked repeatedly in one JVM (bench reps, the gate runner) therefore make
  * their checkpoints inside a [[scope]], which frees them eagerly, and run
  * their fixed-point loops through [[Scope.fixpoint]].
  *
  * Statistics contract: a materialized checkpoint's plan reports its
  * measured block bytes (memory + disk) as its size, not the optimizer's
  * pre-checkpoint estimate that Spark carries over, so the planner's
  * `autoBroadcastJoinThreshold` decides every broadcast over it from real
  * bytes. Eager checkpoints are sized when made; a fixpoint round's lazy
  * one once the round's action has materialized it. A checkpoint whose
  * storage reports no bytes keeps Spark's unknown size
  * (`spark.sql.defaultSizeInBytes`), never 0.
  */
object CacheOps {

  private def rddBytes(spark: SparkSession, ids: collection.Set[Int]): Long =
    spark.sparkContext.getRDDStorageInfo.filter(i => ids.contains(i.id))
      .map(i => i.memSize + i.diskSize).sum

  /** The checkpoint's LogicalRDD. Throws when the plan is anything else —
    * its blocks could never be freed or sized, and a silent no-op would let
    * that go unnoticed. */
  private def logicalRdd(cp: DataFrame): LogicalRDD = cp.queryExecution.analyzed match {
    case lr: LogicalRDD => lr
    case other => throw new IllegalStateException(
      s"expected a checkpoint's LogicalRDD plan, got ${other.getClass.getSimpleName}")
  }

  /** `cp` with its measured block bytes as its plan's size statistic. */
  private def measured(cp: DataFrame): DataFrame = {
    val lr = logicalRdd(cp)
    val bytes = rddBytes(cp.sparkSession, Set(lr.rdd.id))
    GraftShim.withSizeInBytes(cp, lr, Option.when(bytes > 0)(BigInt(bytes)))
  }

  /** RDD ids of every checkpoint `df`'s analyzed plan reads. */
  private def referenced(df: DataFrame): Set[Int] =
    df.queryExecution.analyzed.collectWithSubqueries { case lr: LogicalRDD => lr.rdd.id }.toSet

  private val enclosing = ThreadLocal.withInitial[Option[Scope]](() => None)

  /** The `op` of the [[Scope.fixpoint]] running on this thread, if any. */
  private val looping = ThreadLocal.withInitial[Option[String]](() => None)

  /** Runs `body` with a fresh [[Scope]]. On exit — including on a throw —
    * every checkpoint the scope owns is freed, except those the returned
    * frame still reads: those pass to the enclosing scope, or, outside any
    * scope, to the caller (and the ContextCleaner). Confs a
    * [[Scope.fixpoint]] set are restored on exit too. */
  def scope(body: Scope => DataFrame): DataFrame = {
    val outer = enclosing.get
    val s = new Scope(outer)
    enclosing.set(Some(s))
    var out: Option[DataFrame] = None
    try {
      out = Some(body(s))
      out.get
    } finally {
      enclosing.set(outer)
      s.close(out.fold(Set.empty[Int])(referenced))
    }
  }

  /** The checkpoints made inside one [[scope]] call, plus those that
    * escaped its inner scopes. */
  final class Scope private[CacheOps] (outer: Option[Scope]) {
    private val live = mutable.LinkedHashMap[Int, RDD[_]]()
    private var restoreConfs: () => Unit = () => ()

    /** `df.localCheckpoint(eager)`, owned by this scope; an eager one is
      * [[measured]]. */
    def checkpoint(df: DataFrame, eager: Boolean = true): DataFrame = {
      val cp = own(df.localCheckpoint(eager))
      if (eager) measured(cp) else cp
    }

    /** Records the RDD under an already-checkpointed frame. */
    private[graft] def own(cp: DataFrame): DataFrame = {
      val lr = logicalRdd(cp)
      live(lr.rdd.id) = lr.rdd
      cp
    }

    /** Frees every owned checkpoint whose RDD id is not in `keep`. */
    private def free(keep: Set[Int]): Unit =
      live.filterInPlace { (id, rdd) => keep(id) || { rdd.unpersist(false); false } }

    private[CacheOps] def close(keep: Set[Int]): Unit = {
      restoreConfs()
      free(keep)
      outer.foreach(_.live ++= live)
      live.clear()
    }

    /** The fixed-point driver every iterative operator runs on. Round `i`
      * (1-based) maps the current state to `step(state, i) = (next, done)`;
      * rounds run until `done` or `maxRounds`, and a loop that is not done
      * by then throws `"<op> did not converge within N rounds"` rather than
      * return a partial answer.
      *
      * Contract: each round makes ONE driver action — the eager checkpoint
      * of `next`, or a lazy one that the round's convergence action
      * materializes; the next round reads `next` [[measured]]. The loop
      * runs with AQE off (under AQE every exchange of a round's plan is its
      * own job) and `spark.sql.shuffle.partitions`
      * pinned to ~1 MB per partition of the scope's live checkpoint bytes
      * when the call starts (capped at the session parallelism), so the
      * loop's inputs must be materialized before the call. `init` is
      * evaluated under these confs, and they hold until the scope exits, so
      * a rollup over the result runs under them too. After each round every
      * checkpoint that is neither a loop input (live at the call and not
      * read by `init`) nor read by `next` is freed — the superseded state
      * and the round's scratch — so the loop holds O(one round) of blocks.
      *
      * Not reentrant: the confs are session-global, so a `fixpoint` called
      * while another runs on the same thread (from its `init` or `step`)
      * throws before it sets any conf. */
    def fixpoint(op: String, maxRounds: Int, init: => DataFrame)
                (step: (DataFrame, Int) => (DataFrame, Boolean)): DataFrame = {
      looping.get.foreach(outer => throw new IllegalStateException(
        s"$op: fixpoint called while the $outer fixpoint runs on this thread"))
      val spark = SparkSession.active
      val width = math.max(1L, math.min(spark.sparkContext.defaultParallelism.toLong,
        rddBytes(spark, live.keySet) / (1L << 20)))
      val confs = Seq("spark.sql.adaptive.enabled" -> "false",
        "spark.sql.shuffle.partitions" -> width.toString)
      val saved = confs.map { case (k, _) => k -> spark.conf.get(k) }
      val restoreEarlier = restoreConfs
      restoreConfs = () => { saved.foreach { case (k, v) => spark.conf.set(k, v) }; restoreEarlier() }
      confs.foreach { case (k, v) => spark.conf.set(k, v) }
      looping.set(Some(op))
      try {
        var state = init
        val inputs = live.keySet.toSet -- referenced(state)
        var done = false
        var round = 0
        while (!done && round < maxRounds) {
          round += 1
          val (next, d) = step(state, round)
          free(inputs ++ referenced(next))
          state = measured(next)
          done = d
        }
        if (!done) throw new IllegalArgumentException(
          s"$op did not converge within $maxRounds rounds")
        state
      } finally looping.set(None)
    }
  }
}
