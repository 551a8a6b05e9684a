package graft

import scala.jdk.CollectionConverters._
import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.GraftShim
import org.apache.spark.sql.DataFrame
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.catalyst.expressions.{Expression, RowNumber, ScalaUDF}
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
import org.apache.spark.sql.execution.{DeserializeToObjectExec, FileSourceScanExec, GenerateExec,
  MapPartitionsExec, QueryExecution, RangeExec, SparkPlan}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.exchange.{Exchange, ShuffleExchangeExec}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StringType
import org.apache.spark.sql.util.QueryExecutionListener
import graft.functions.{PipHits, PipOrdinal, SeedScalar}

class PlanSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  private val fixtureDir = "/root/testdata/sf0.001"

  /** The query execution of every action `run` takes, the eager
    * checkpoints of a query included. */
  private def executions(run: => Unit): Seq[QueryExecution] = {
    val qes = new java.util.concurrent.ConcurrentLinkedQueue[QueryExecution]()
    val listener = new QueryExecutionListener {
      override def onSuccess(f: String, qe: QueryExecution, ns: Long): Unit = qes.add(qe)
      override def onFailure(f: String, qe: QueryExecution, e: Exception): Unit = ()
    }
    spark.listenerManager.register(listener)
    try { run; GraftShim.drainListenerBus(spark.sparkContext) }
    finally spark.listenerManager.unregister(listener)
    qes.asScala.toSeq
  }

  test("q17, q38 and q46 probe pip_hits and run no ScalaUDF over the point coordinates") {
    val aqe = new AdaptiveSparkPlanHelper {}
    Seq("q17_pip_join", "q38_team_pivot_dynamic", "q46_centroid_agg").foreach { q =>
      val exprs = executions(SparkEntry.queries(q)(spark, fixtureDir).collect())
        .flatMap(qe => aqe.flatMap(qe.executedPlan)(_.expressions))
      assert(exprs.exists(_.exists(_.isInstanceOf[PipHits])), s"$q: no pip_hits")
      val udfs = exprs.flatMap(_.collect { case u: ScalaUDF => u })
        .filter(_.references.exists(a => a.name == "lon" || a.name == "lat"))
      assert(udfs.isEmpty, s"$q: UDF over the point coordinates: ${udfs.mkString(", ")}")
    }
  }

  test("every broadcast PIP probes each row once, and the flagship derives its geotag once") {
    def count(p: LogicalPlan)(hit: PartialFunction[Expression, Unit]): Int =
      p.collect { case node => node.expressions.map(_.collect(hit).size).sum }.sum
    val probe: PartialFunction[Expression, Unit] = { case _: PipHits | _: PipOrdinal => }
    val geotagLon: PartialFunction[Expression, Unit] = { case SeedScalar(_, "geotagLon", _) => }
    val frames: Seq[(String, () => DataFrame)] =
      Seq("q17_pip_join", "q38_team_pivot_dynamic", "q46_centroid_agg").map(q =>
        q -> (() => SparkEntry.queries(q)(spark, fixtureDir))) :+
        ("ImagePipeline.run" -> (() => pipeline.ImagePipeline.run(spark, 2000L, 4)))
    frames.foreach { case (name, df) =>
      val probing = executions(df().collect()).map(_.optimizedPlan).filter(count(_)(probe) > 0)
      assert(probing.nonEmpty, s"$name: no PIP probe")
      probing.foreach { p =>
        assert(count(p)(probe) == 1, s"$name: ${count(p)(probe)} probes in one plan:\n$p")
        assert(count(p)(geotagLon) <= 1, s"$name: geotagLon derived twice:\n$p")
      }
    }
    // the timed flagship pass: `count()` prunes every aggregate of `run`
    val timed = executions(pipeline.ImagePipeline.run(spark, 2000L, 4).count()).map(_.optimizedPlan)
    assert(timed.map(count(_)(probe)) == Seq(1) && timed.map(count(_)(geotagLon)) == Seq(1),
      timed.mkString("\n"))
  }

  private def executedPlans(q: String) =
    executions(SparkEntry.queries(q)(spark, fixtureDir).collect()).map(_.executedPlan)

  test("q38 and q46 derive features in codegen; fastFeatures encodes its tile once, with no LN") {
    val aqe = new AdaptiveSparkPlanHelper {}
    // the operators of `p`'s stage: everything below it up to an exchange
    def stage(p: SparkPlan): Seq[SparkPlan] =
      p +: (p match { case _: Exchange => Nil; case _ => p.children.flatMap(stage) })
    Seq("q38_team_pivot_dynamic", "q46_centroid_agg").foreach { q =>
      val nodes = executedPlans(q).flatMap(aqe.collect(_) { case n => n })
      assert(!nodes.exists(_.isInstanceOf[MapPartitionsExec]), s"$q: mapPartitions:\n${nodes.head}")
      nodes.collect { case d: DeserializeToObjectExec => d }.foreach(d =>
        assert(!stage(d.child).exists(_.isInstanceOf[RangeExec]), s"$q: typed feature rows:\n$d"))
    }
    val plan = pipeline.ImagePipeline.fastFeatures(spark, 100, 2).queryExecution.executedPlan.toString
    assert(plan.split("quadCell\\(12\\)\\(", -1).length == 2 && !plan.contains("LN("), plan)
  }

  test("q129: no exchange carries a string column") {
    val exchanges = executedPlans("q129_prefix_filter_join")
      .flatMap(new AdaptiveSparkPlanHelper {}.collect(_) { case e: Exchange => e })
    assert(exchanges.nonEmpty)
    exchanges.foreach(e =>
      assert(!e.output.exists(_.dataType.isInstanceOf[StringType]), s"string on an exchange:\n$e"))
  }

  test("q27: the minhash verify explodes no hash array") {
    val generates = executedPlans("q27_minhash_lsh")
      .flatMap(new AdaptiveSparkPlanHelper {}.collect(_) { case g: GenerateExec => g })
    assert(generates.nonEmpty, "q27: no banding posexplode")
    generates.foreach(g =>
      assert(!g.generator.references.exists(_.name == "shs"), s"q27 explodes shs:\n$g"))
  }

  private val aqe = new AdaptiveSparkPlanHelper {}

  test("q95 reads lineitem once") {
    val scans = executedPlans("q95_hist_quantile")
      .flatMap(aqe.collect(_) { case s: FileSourceScanExec => s })
      .filter(_.relation.location.rootPaths.exists(_.getName == "lineitem.parquet"))
    assert(scans.size == 1, s"q95 reads lineitem ${scans.size} times")
  }

  test("q182 runs one shuffle exchange") {
    val shuffles = executedPlans("q182_ks_drift")
      .flatMap(aqe.collect(_) { case e: ShuffleExchangeExec => e })
    assert(shuffles.size == 1, s"q182 shuffles ${shuffles.size} times:\n${shuffles.mkString("\n")}")
  }

  test("q114 and q134 hold no row_number") {
    Seq("q114_grouped_median", "q134_mad_anomalies").foreach { q =>
      val exprs = executedPlans(q).flatMap(aqe.flatMap(_)(_.expressions))
      assert(!exprs.exists(_.exists(_.isInstanceOf[RowNumber])), s"$q ranks with row_number")
    }
  }

  test("building q169's frame runs no job beyond its table open") {
    def jobsOf(run: => Unit): Int = {
      val jobs = new java.util.concurrent.atomic.AtomicInteger
      val listener = new SparkListener {
        override def onJobStart(e: SparkListenerJobStart): Unit = jobs.incrementAndGet()
      }
      spark.sparkContext.addSparkListener(listener)
      try { run; GraftShim.drainListenerBus(spark.sparkContext) }
      finally spark.sparkContext.removeSparkListener(listener)
      jobs.get
    }
    val open = jobsOf(Session.table(spark, fixtureDir, "lineitem"))
    val build = jobsOf(SparkEntry.queries("q169_spearman")(spark, fixtureDir))
    assert(build == open, s"q169 construction ran $build jobs, its table open $open")
  }

  test("bucketed checkpoint layout: partition pruning reaches the scan (Iceberg-style)") {
    // the Iceberg-shaped story at 100 TB: the table is laid out by cell
    // bucket, so a bucket predicate must prune at PLANNING time (scan only
    // the matching directory), not as a post-scan filter over all bytes
    val dir = java.nio.file.Files.createTempDirectory("graft_prune").toString
    try {
      val ms = graft.pipeline.Checkpoint.run(spark, 400, dir, buckets = 4, parts = 4)
      val wanted = ms.find(_.bucket == 2).get.rowCount
      val df = spark.read.parquet(s"$dir/data").filter(col("bucket") === 2)
      val scan = df.queryExecution.executedPlan.collectLeaves().mkString("\n")
      // the predicate must appear INSIDE the PartitionFilters bracket — the
      // metadata key itself prints even when empty ('PartitionFilters: []'),
      // so a bare contains() would pass exactly when pruning regressed
      assert("PartitionFilters: \\[[^\\]]*bucket".r.findFirstIn(scan).isDefined,
        s"bucket predicate not inside PartitionFilters:\n$scan")
      // pruning must agree with the committed lineage row for row
      assert(df.count() == wanted)
      // and a non-partition predicate must still push down to parquet
      val df2 = spark.read.parquet(s"$dir/data").filter(col("fmt") === "png")
      val scan2 = df2.queryExecution.executedPlan.collectLeaves().mkString("\n")
      assert("PushedFilters: \\[[^\\]]*fmt".r.findFirstIn(scan2).isDefined,
        s"fmt predicate not inside PushedFilters:\n$scan2")
    } finally {
      graft.pipeline.Checkpoint.deleteRecursively(java.nio.file.Paths.get(dir))
    }
  }

  test("time-travel read: the as-of epoch predicate prunes at planning time (q119)") {
    val dir = java.nio.file.Files.createTempDirectory("graft_tt_prune").toString
    try {
      graft.pipeline.Checkpoint.runEpoch(spark, 0, 0L, 150L, dir, buckets = 4, parts = 4)
      graft.pipeline.Checkpoint.runEpoch(spark, 1, 150L, 260L, dir, buckets = 4, parts = 4)
      val df = spark.read.parquet(s"$dir/data").filter(col("epoch") <= 0)
      val scan = df.queryExecution.executedPlan.collectLeaves().mkString("\n")
      assert("PartitionFilters: \\[[^\\]]*epoch".r.findFirstIn(scan).isDefined,
        s"epoch predicate not inside PartitionFilters:\n$scan")
      assert(df.count() == 150L, "as-of read must see exactly the epoch-0 rows")
    } finally {
      graft.pipeline.Checkpoint.deleteRecursively(java.nio.file.Paths.get(dir))
    }
  }
}

class BucketedJoinSpec extends AnyFunSuite {
  import graft.ops.BucketedJoin
  lazy val spark = TestSpark.spark

  test("bucketed co-located join: zero exchanges below the join; plain reads shuffle; same relation") {
    val dir = "/root/testdata/sf0.001"
    BucketedJoin.layout(spark, dir, buckets = 4)
    def joined(o: org.apache.spark.sql.DataFrame, l: org.apache.spark.sql.DataFrame) =
      o.hint("merge").join(l, col("o_orderkey") === col("l_orderkey"))
    val bucketed = joined(spark.table("graft_orders_b"), spark.table("graft_lineitem_b"))
    val plain = joined(
      spark.read.parquet(s"$dir/orders.parquet"),
      spark.read.parquet(s"$dir/lineitem.parquet"))
    val nB = bucketed.count(); val nP = plain.count() // finalize AQE plans
    assert(nB == nP && nB > 0)
    val pB = bucketed.queryExecution.executedPlan.toString
    val pP = plain.queryExecution.executedPlan.toString
    assert(pB.contains("SortMergeJoin"), s"bucketed join not SMJ:\n${pB.take(600)}")
    assert(!pB.contains("Exchange"),
      s"bucketed join still exchanges — co-location broken:\n${pB.take(1200)}")
    assert(pP.contains("Exchange"),
      "plain join shows no exchange — the differential assertion is vacuous " +
        s"(broadcast crept in?):\n${pP.take(600)}")
    // the layout changes the plan, never the relation
    val rB = BucketedJoin.orderRevenueJoin(
      spark.table("graft_orders_b"), spark.table("graft_lineitem_b"))
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3))).toSet
    val rP = BucketedJoin.orderRevenueJoin(
      spark.read.parquet(s"$dir/orders.parquet"),
      spark.read.parquet(s"$dir/lineitem.parquet"))
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3))).toSet
    assert(rB == rP)
  }
}
