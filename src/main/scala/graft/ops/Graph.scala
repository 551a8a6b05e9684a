package graft.ops

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.CacheOps
import graft.functions.SeedExprs

/** Graph analytics over the dup/interaction pair graphs the engine already
  * produces (Dedup.dupComponents consumes the same edge shape) — triangle
  * counting and PageRank, both expressed as joins/aggregations Catalyst can
  * plan, no driver-side graph state.
  *
  * The gate fixture is a deterministic splitmix-synthesized multigraph
  * (edge draw i connects mix(2i) % n — mix(2i+1) % n), replayable
  * analytically in DuckDB, so both operators are hash-gated end to end.
  */
object Graph {

  /** Node count and edge draws of the gate graph (the oracles read both). */
  val GateNodes = 250
  val GateEdges = 1500

  /** Nonnegative mix draw in [0, n). */
  private def draw(i: Column, n: Int): Column =
    (SeedExprs.mix64(i).bitwiseAND(lit(0x7FFFFFFFL)) % n).cast("long")

  /** Partition count for an n-row synthetic range, derived from the INPUT
    * SIZE (guide §2: scale-adaptive partitioning, never a constant): one
    * slice per 64k ids, capped at the session parallelism. A tiny fixture
    * graph gets 1 slice instead of `defaultParallelism` near-empty tasks —
    * the 250-node gate graph otherwise paid 32 tasks × ~20 ms scheduling
    * per stage × ~60 stages ≈ 30+ s of pure task overhead per run — while
    * a 10^9-row range still fans out to every core. */
  private[ops] def slicesFor(spark: SparkSession, n: Long): Int =
    math.max(1L, math.min(spark.sparkContext.defaultParallelism.toLong,
      n / 65536L)).toInt

  /** The synthetic edge draws: (u, v) per draw id, self-loops dropped.
    * Duplicate draws survive here; undirected/directed dedup is per-op. */
  def synthDraws(spark: SparkSession, n: Int, m: Int): DataFrame =
    spark.range(0L, m.toLong, 1L, slicesFor(spark, m.toLong))
      .select(draw(col("id") * 2, n).as("u"), draw(col("id") * 2 + 1, n).as("v"))
      .where(col("u") =!= col("v"))

  /** Per-node triangle counts via DEGREE-ORIENTED wedge enumeration
    * (compact-forward): each undirected edge is oriented toward the higher
    * (degree, id); wedges are enumerated only at their lowest-ordered apex
    * and closed against the edge set. Orientation bounds per-vertex
    * out-degree by O(sqrt(m)) on any graph, so the wedge join stays
    * m^{3/2}-bounded at 10^12 edges where the naive apex-on-id join is
    * quadratic in the max hub degree. Every step is an equi-join keyed on a
    * vertex id — three shuffles total, no driver state. Integer counts,
    * merge-order-free. */
  def triangleCounts(spark: SparkSession, n: Int = GateNodes, m: Int = GateEdges): DataFrame = {
    val uedges = synthDraws(spark, n, m)
      .select(least(col("u"), col("v")).as("a"), greatest(col("u"), col("v")).as("b"))
      .distinct()
    val deg = uedges.select(col("a").as("node"))
      .unionByName(uedges.select(col("b").as("node")))
      .groupBy("node").agg(count(lit(1)).as("d"))
    // orient toward higher (deg, id): lexicographic on the (d, id) pair
    val withDeg = uedges
      .join(deg.withColumnRenamed("node", "a").withColumnRenamed("d", "da"), "a")
      .join(deg.withColumnRenamed("node", "b").withColumnRenamed("d", "db"), "b")
    val aLower = col("da") < col("db") || (col("da") === col("db") && col("a") < col("b"))
    val oriented = withDeg.select(
      when(aLower, col("a")).otherwise(col("b")).as("lo"),
      when(aLower, col("b")).otherwise(col("a")).as("hi"))
    val o1 = oriented.as("o1")
    val o2 = oriented.as("o2")
    val wedges = o1.join(o2,
        col("o1.lo") === col("o2.lo") && col("o1.hi") < col("o2.hi"))
      .select(col("o1.lo").as("p"), col("o1.hi").as("x"), col("o2.hi").as("y"))
    val tri = wedges.join(uedges,
      uedges("a") === least(col("x"), col("y")) &&
        uedges("b") === greatest(col("x"), col("y")))
      .select(col("p"), col("x"), col("y"))
    tri.select(col("p").as("node"))
      .unionByName(tri.select(col("x").as("node")))
      .unionByName(tri.select(col("y").as("node")))
      .groupBy("node").agg(count(lit(1)).as("tri_count"))
  }

  /** Gate query (q187) — local clustering coefficient per node: the
    * triangles-at-node over the wedges-at-node as an exact e6 rational,
    * coeff_e6 = (2·t·10⁶) div (d·(d−1)) over the deduped undirected graph.
    * Composes [[triangleCounts]] (degree-oriented enumeration) with the
    * degree relation via a LEFT join, so zero-triangle nodes keep their
    * row (coeff 0) — only d ≥ 2 nodes can close a wedge and d < 2 nodes
    * are excluded (coefficient undefined). */
  def clusteringCoeff(spark: SparkSession): DataFrame = {
    val uedges = synthDraws(spark, GateNodes, GateEdges)
      .select(least(col("u"), col("v")).as("a"), greatest(col("u"), col("v")).as("b"))
      .distinct()
    val deg = uedges.select(col("a").as("node"))
      .unionByName(uedges.select(col("b").as("node")))
      .groupBy("node").agg(count(lit(1)).as("d"))
    deg.where(col("d") >= 2)
      .join(triangleCounts(spark), Seq("node"), "left")
      .na.fill(0L, Seq("tri_count"))
      .select(col("node"), col("d"), col("tri_count"),
        expr("(2 * tri_count * 1000000) div (d * (d - 1))").as("coeff_e6"))
  }

  /** Exact-integer PageRank, `iters` fixed rounds over the directed synth
    * graph: r_{t+1}(v) = floor(0.15·R0) + Σ_{u→v} floor(0.85·r_t(u) /
    * outdeg(u)), all arithmetic in BIGINT (85·r // (100·od)) so per-node
    * sums are merge-order-free and the DuckDB oracle replays every rank
    * digit-for-digit (FP PageRank would hash-diverge on shuffle order).
    * Sink mass evaporates by design (documented; rank is a relative score).
    *
    * Scale shape: each round is ONE shuffle — the edges⋈ranks join keys on
    * u (outdeg is fused into the edge set once, up front), the contribution
    * sum re-keys on v. Rounds run on [[graft.CacheOps.Scope.fixpoint]], one
    * eager rank checkpoint per round. */
  def pageRank(spark: SparkSession, n: Int = GateNodes, m: Int = GateEdges,
               iters: Int = 10): DataFrame = CacheOps.scope { s =>
    require(iters >= 1, s"pageRank needs iters >= 1, got iters=$iters")
    val dedges = synthDraws(spark, n, m).distinct()
    val outdeg = dedges.groupBy("u").agg(count(lit(1)).as("od"))
    val edgesOd = s.checkpoint(dedges.join(outdeg, "u"))
    val r0 = BigInt(10).pow(12) / n
    val base = BigInt(15) * BigInt(10).pow(12) / (BigInt(100) * n)
    val nodes = spark.range(0L, n.toLong, 1L, slicesFor(spark, n.toLong))
      .select(col("id").as("node"))
    s.fixpoint("pageRank", iters, s.checkpoint(nodes.withColumn("r", lit(r0.toLong)))) {
      (ranks, i) =>
        val contrib = edgesOd.join(ranks, edgesOd("u") === ranks("node"))
          .groupBy(col("v"))
          .agg(sum(expr("(85 * r) div (100 * od)")).as("contrib"))
        (s.checkpoint(nodes.join(contrib, nodes("node") === contrib("v"), "left")
          .select(col("node"),
            (lit(base.toLong) + coalesce(col("contrib"), lit(0L))).as("r"))), i == iters)
    }
  }

  /** Gate query (q142): tree depths via POINTER JUMPING (path doubling) —
    * the O(log depth) parallel-hierarchy primitive (org charts, BOMs,
    * thread trees). State (node, anc, d) starts at the parent edge; each
    * round every node jumps to its ancestor's ancestor, adding the
    * ancestor's distance: anc' = anc.anc, d' = d + anc.d. The root's row is
    * (0, 0) so jumps through the root are natural fixed points — no special
    * case. A depth-D tree converges in ceil(log2 D) rounds (the fixture's
    * depth-15 tree: 4), each ONE self-join shuffle on the jump key —
    * against the sequential chase's D dependent lookups. Rounds run on
    * [[graft.CacheOps.Scope.fixpoint]]: a lazy checkpoint whose
    * still-jumping count is the round's one action and convergence signal.
    * Oracle: recursive CTE walk (sequential chase — different algorithm
    * family). */
  def treeDepths(spark: SparkSession, n: Int = 2000): DataFrame = CacheOps.scope { s =>
    val t = spark.range(0L, n.toLong, 1L, slicesFor(spark, n.toLong))
      .select(col("id").as("node"),
      when(col("id") === 0, 0L)
        .otherwise(SeedExprs.mix64(col("id") + 61453L)
          .bitwiseAND(lit(Long.MaxValue)) % col("id")).as("parent"))
    val init = s.checkpoint(t.select(col("node"), col("parent").as("anc"),
      when(col("node") === 0, 0L).otherwise(1L).as("d")))
    s.fixpoint("treeDepths", 64, init) { (state, _) =>
      val lookup = state.select(col("node").as("lnode"), col("anc").as("lanc"),
        col("d").as("ld"))
      val next = s.checkpoint(state.join(lookup, col("anc") === col("lnode"))
        .select(col("node"), col("lanc").as("anc"),
          (col("d") + col("ld")).as("d")), eager = false)
      (next, next.where(col("anc") =!= 0).count() == 0)
    }.select(col("node"), col("d").as("depth"))
  }

  /** Gate query (q125): the k-core of the synth graph — iterative peeling
    * (drop nodes with degree < k, re-derive degrees, repeat to fixpoint),
    * the standard dense-subgraph primitive for community/spam detection
    * over dup/interaction graphs. Each round is two keyed shuffles (degree
    * agg + survivor semi-join) on [[graft.CacheOps.Scope.fixpoint]]: a lazy
    * edge checkpoint whose count is the round's one action and convergence
    * signal (an unchanged count means nothing was peeled). Peeling
    * converges regardless of order (the k-core is order-independent), and a
    * non-converged exit refuses rather than return a superset. Output: each
    * surviving node with its core-subgraph degree. */
  def kCore(spark: SparkSession, n: Int = GateNodes, m: Int = GateEdges, k: Int = 8,
            maxRounds: Int = 64): DataFrame = CacheOps.scope { s =>
    val draws = s.checkpoint(synthDraws(spark, n, m)) // the driver sizes the loop from these bytes
    var cnt = -1L // unknown until the first round counts
    val core = s.fixpoint("kCore", maxRounds, draws
        .select(least(col("u"), col("v")).as("a"), greatest(col("u"), col("v")).as("b"))
        .distinct()) { (edges, _) =>
      val surv = edges.select(col("a").as("node"))
        .unionByName(edges.select(col("b").as("node")))
        .groupBy("node").agg(count(lit(1)).as("d"))
        .where(col("d") >= k).select("node")
      val next = s.checkpoint(edges
        .join(surv.withColumnRenamed("node", "a"), "a")
        .join(surv.withColumnRenamed("node", "b"), "b")
        .select("a", "b"), eager = false)
      val prev = cnt
      cnt = next.count()
      (next, cnt == prev)
    }
    s.checkpoint(core.select(col("a").as("node"))
      .unionByName(core.select(col("b").as("node")))
      .groupBy("node").agg(count(lit(1)).as("core_deg")))
  }
}
