package graft.ann

import scala.collection.mutable

import org.apache.spark.sql.{DataFrame, Dataset, Encoder, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.Session.table
import graft.ops.TopK

/** Nearest-neighbour search over the `embeddings` table
  * (`embedding: array<float>`), in eight tiers.
  *
  * Top-k per query, ranked by (cosine desc, vec_id asc):
  * - [[bruteTopK]] / [[filteredTopK]] — exact; the correctness baseline.
  * - [[sqTopK]] — exhaustive over the int8 (SQ8) reconstruction.
  * - [[ivfTopK]] / [[ivfSqTopK]] — the IVF coarse quantizer probes `nprobe`
  *   lists, scored in full precision / through SQ8.
  * - [[pqTopK]] — product quantization trained on the integer lattice.
  * - [[lshTopK]] — random-hyperplane LSH bucket join, then an exact rerank
  *   of the candidates.
  *
  * All pairs:
  * - [[cosineNearDupPairs]] — every pair over a cosine threshold, exact;
  *   [[cosineNearDupLshTier]] is its LSH scale path.
  * - [[knnGraph]] — every vector's exact top-k neighbours.
  * - [[semDedup]] — SemDeDup: dedup within k-means clusters.
  *
  * The kernels are shared. Every top-k tier but LSH is one [[topKScan]]:
  * queries broadcast, per-partition bounded heaps ([[graft.ops.TopK.Heap]]),
  * one rank window. The tiers differ only in which queries score a stored
  * row (the IVF probe, [[probedBy]]) and the vector they score it on (the
  * row, [[sqDecode]] or [[pqDecode]]). [[blockPairs]] is the triangle block
  * enumeration under [[cosineNearDupPairs]] and [[knnGraph]], and
  * [[nearest]] the one centroid assignment.
  */
object Ann {

  final case class EmbQuery(qid: Long, vec: Array[Double])

  private def dot(a: Array[Double], b: Array[Double]): Double = {
    var s = 0.0; var i = 0
    while (i < a.length) { s += a(i) * b(i); i += 1 }
    s
  }

  def cosine(a: Array[Double], b: Array[Double]): Double =
    dot(a, b) / (math.sqrt(dot(a, a)) * math.sqrt(dot(b, b)))

  /** Query count and k of every `dir` entry point (their oracles read both). */
  val Q = 5
  val K = 10
  /** Neighbours per vector of [[knnGraph]] (q77; its oracle reads it). */
  val GraphK = 4
  /** The LSH signature width and band count of [[lshTopK]] and [[lshRecall]]. */
  val LshBits = 16
  val LshBands = 4
  /** Lloyd refinement steps of every trained quantizer (IVF centroids, PQ codebooks). */
  val LloydIters = 2
  /** IVF lists of the `dir` tiers, all probed: the exhaustive degenerate the gates pin. */
  private val NList = 16
  /** The cosine threshold of the exact `dir` near-dup gates, [[cosineNearDupPairs]]
    * (q44) and [[semDedup]] (q73). */
  val DedupCos = 0.45

  private def loadVecs(spark: SparkSession, dir: String): DataFrame =
    vecsOf(table(spark, dir, "embeddings"))

  private def vecsOf(embeddings: DataFrame): DataFrame =
    embeddings.select(col("vec_id"), col("embedding").cast("array<double>").as("v"))

  private def asVecs(vecs: DataFrame): Dataset[(Long, Array[Double])] = {
    val spark = vecs.sparkSession
    import spark.implicits._
    vecs.as[(Long, Array[Double])]
  }

  /** A `dir` entry point: one `embeddings` open serves the tier and its queries. */
  private def onDir(spark: SparkSession, dir: String)
                   (tier: (DataFrame, Seq[EmbQuery]) => DataFrame): DataFrame = {
    val vecs = loadVecs(spark, dir)
    tier(vecs, queriesOf(vecs, Q))
  }

  /** First q vectors (by vec_id), the deterministic query set. */
  private def queriesOf(vecs: DataFrame, q: Int): Seq[EmbQuery] =
    vecs.filter(col("vec_id") < q).collect()
      .map(r => EmbQuery(r.getLong(0), r.getSeq[Double](1).toArray))
      .sortBy(_.qid).toSeq

  /** Exact top-k by (cosine desc, vec_id asc); returns (qid, vec_id, rank). */
  def bruteTopK(spark: SparkSession, dir: String): DataFrame =
    onDir(spark, dir)(bruteTopKFrom(_, _, K))

  /** Metadata-FILTERED vector search — top-k restricted to candidates
    * matching a structured predicate (the `label` column), the filtered-ANN
    * shape every retrieval stack needs (filter-then-search; post-filtering a
    * top-k can return < k or nothing when the filter is selective). The
    * predicate is applied BEFORE the scoring scan, so it reaches the parquet
    * scan as a PushedFilter and non-qualifying row groups never decode —
    * at 10^12 vectors with a partition-aligned label this is partition
    * pruning, not just row skipping. Same exact kernel as [[bruteTopK]]. */
  def filteredTopK(spark: SparkSession, dir: String, q: Int = 5, k: Int = 10,
                   label: Int = 3): DataFrame = {
    val emb = table(spark, dir, "embeddings")
    bruteTopKFrom(vecsOf(emb.filter(col("label") === label)), queriesOf(vecsOf(emb), q), k)
  }

  /** [[bruteTopK]] over any (vec_id, v) relation. */
  def bruteTopKFrom(vecs: DataFrame, queries: Seq[EmbQuery], k: Int): DataFrame =
    topKScan(asVecs(vecs), queries, k)(identity)

  /** The scan under every heap tier. Queries are broadcast; each partition
    * keeps a bounded heap per query on (−cos, vec_id)
    * ([[graft.ops.TopK.perQuery]]), so only Q·k rows per partition reach the
    * one rank window. A tier is `decode`, the vector its queries score a
    * stored row on (the row itself, or its SQ8 or PQ reconstruction), and,
    * for IVF, `probe`: the queries that score the row. A row no query probes
    * is never decoded. The cosine is `dot(q, r) / (‖q‖·‖r‖)`, each dot left
    * to right, as every oracle replays it. */
  private def topKScan[P](rows: Dataset[(Long, P)], queries: Seq[EmbQuery], k: Int,
                          probe: Option[P => Array[Int]] = None)
                         (decode: P => Array[Double]): DataFrame = {
    val spark = rows.sparkSession
    import spark.implicits._
    val bc = spark.sparkContext.broadcast(queries.toArray)
    val kk = k
    val partial = rows.mapPartitions { it =>
      val qs = bc.value
      val qn = qs.map(qq => math.sqrt(dot(qq.vec, qq.vec)))
      val all = qs.indices.toArray
      val route = probe.getOrElse((_: P) => all)
      TopK.perQuery(it, qs.length, kk)(_._1, r => route(r._2), { r =>
        val v = decode(r._2); val vn = math.sqrt(dot(v, v))
        qi => -(dot(qs(qi).vec, v) / (qn(qi) * vn))
      }).map { case (qi, id, negCos) => (qs(qi).qid, id, negCos) }
    }.toDF("qid", "vec_id", "neg_cos")
    ranked(partial, "qid", "vec_id", k)
  }

  /** The rank window of every ANN tier: the k best rows per `group` by
    * (neg_cos, `id`), as (group, id, rank). */
  private def ranked(scored: DataFrame, group: String, id: String, k: Int): DataFrame =
    scored.withColumn("rank", row_number().over(
        Window.partitionBy(col(group)).orderBy(col("neg_cos"), col(id))))
      .filter(col("rank") <= k)
      .select(col(group), col(id), col("rank"))

  /** Deterministic pseudo-random hyperplanes (seeded xorshift — from scratch,
    * no wall-clock / Random). */
  def hyperplanes(nBits: Int, dim: Int): Array[Array[Double]] = {
    var s = 42L
    def next(): Long = { s ^= s << 13; s ^= s >>> 7; s ^= s << 17; s }
    Array.fill(nBits, dim) {
      // uniform in [-1,1) from the top 53 bits
      (next() >>> 11).toDouble / (1L << 52).toDouble - 1.0
    }
  }

  def signature(v: Array[Double], planes: Array[Array[Double]]): Long = {
    var sig = 0L; var i = 0
    while (i < planes.length) { if (dot(v, planes(i)) >= 0) sig |= (1L << i); i += 1 }
    sig
  }

  /** The LSH band rows (vec_id, band, bucket) of every vector: its `nBits`
    * signature cut into `bands` buckets of `nBits / bands` bits. The planes
    * follow from each vector's length — [[hyperplanes]] is deterministic —
    * so a partition draws them once per length it meets. Only ids and
    * buckets leave the scan, never the embedding. */
  private def bandRows(vecs: DataFrame, nBits: Int, bands: Int): DataFrame = {
    val spark = vecs.sparkSession
    import spark.implicits._
    val bitsPerBand = nBits / bands
    val mask = (1L << bitsPerBand) - 1
    val nb = nBits; val nbands = bands
    asVecs(vecs.select(col("vec_id"), col("v"))).mapPartitions { it =>
      var dim = -1
      var planes = Array.empty[Array[Double]]
      it.flatMap { case (id, v) =>
        if (v.length != dim) { dim = v.length; planes = hyperplanes(nb, dim) }
        val sig = signature(v, planes)
        Iterator.tabulate(nbands)(b => (id, b, (sig >>> (b * bitsPerBand)) & mask))
      }
    }.toDF("vec_id", "band", "bucket")
  }

  /** LSH-bucketed ANN: sign-bit signature over deterministic hyperplanes;
    * candidates = rows matching a query in ≥1 band; exact cosine rerank of
    * candidates only, so the output equals brute-force top-k whenever recall
    * is 1.0 — which the gate oracle (all-pairs SQL) VERIFIES on this corpus.
    *
    * Shuffle discipline at 10^12 rows (the round-1 version violated all
    * three): the embedding column NEVER enters the band explode or the
    * distinct — only (vec_id, band, bucket) rows move; candidate ids
    * deduplicate BEFORE vectors are fetched; vectors are joined back exactly
    * once for the rerank. Query vectors resolve via a broadcast hash Map,
    * not a linear scan. */
  def lshTopK(spark: SparkSession, dir: String): DataFrame =
    onDir(spark, dir)(lshTopKFrom(_, _, K))

  /** Embedding-cosine near-dup: ALL pairs with cosine ≥ threshold — the exact
    * dedup-grade variant (reports in e4 fixed-point so the oracle hash is
    * FP-stable).
    *
    * Execution shape (the round-2 version was a single-task all-pairs
    * BroadcastNestedLoopJoin with its cosine UDF re-evaluated inside the join
    * condition — both an O(N) broadcast and an O(N²) single thread): vectors
    * are assigned to `blocks` disjoint blocks by id; every unordered block
    * pair (i ≤ j) becomes one group of a groupByKey, so the pair space runs
    * across blocks·(blocks+1)/2 independent tasks. Each vector ships to
    * exactly `blocks` groups (O(N·√tasks) replication — the standard
    * distributed all-pairs triangle), the cosine kernel runs ONCE per pair
    * over primitive arrays with per-vector norms precomputed, and no UDF
    * appears in any join condition. Norms are sqrt of the same left-to-right
    * dot the oracle uses, so cos = dot/(na·nb) is FP-bit-identical to the
    * DuckDB all-pairs oracle.
    *
    * At 10^12 rows exact all-pairs is inherently Θ(N²) work — there `blocks`
    * is sized so a block fits executor memory and this same kernel becomes
    * the verification tier over [[cosineNearDupLshTier]] buckets (when the
    * threshold's angle gives LSH real recall; at θ=0.45 on this corpus the
    * qualifying pairs sit ON the threshold — measured min cos 0.4501 — so no
    * sketch prefilter has certifiable recall and the gate runs exact). */
  def cosineNearDupPairs(spark: SparkSession, dir: String, minCos: Double = DedupCos,
                         blocks: Int = 8): DataFrame = {
    import spark.implicits._
    val thr = minCos
    blockPairs(loadVecs(spark, dir), blocks)(_.collect {
      case (a, b, c) if c >= thr =>
        (math.min(a, b), math.max(a, b), math.floor(c * 10000.0 + 0.5).toLong)
    }).toDF("a", "b", "cos_e4")
  }

  /** Every unordered pair of vectors exactly once, with its cosine, grouped
    * by the triangle block decomposition. Vectors go to `blocks` disjoint
    * blocks by id; a vector in block p is the row side of the block pairs
    * (p, j ≥ p) and the column side of (i < p, p), so every unordered block
    * pair is one group of a groupByKey and every vector ships to exactly
    * `blocks` groups. Norms are computed once per vector, and
    * cos = dot(a, b) / (‖a‖·‖b‖) uses the left-to-right dot the all-pairs
    * oracles replay. `perGroup` folds one group's (a, b, cos) pairs into
    * that group's output rows. */
  private def blockPairs[T: Encoder](vecs: DataFrame, blocks: Int)
                                    (perGroup: Iterator[(Long, Long, Double)] => Iterator[T]): Dataset[T] = {
    val spark = vecs.sparkSession
    import spark.implicits._
    val b = blocks
    val keyed = asVecs(vecs).mapPartitions(_.flatMap { case (id, v) =>
      val n = math.sqrt(dot(v, v))
      val p = (id % b).toInt
      Iterator.range(p, b).map(j => (p * b + j, id, v, n)) ++
        Iterator.range(0, p).map(i => (i * b + p, id, v, n))
    })
    keyed.groupByKey(_._1).flatMapGroups { (key, it) =>
      val bi = key / b; val bj = key % b
      val rows = mutable.ArrayBuffer.empty[(Long, Array[Double], Double)]
      val cols = mutable.ArrayBuffer.empty[(Long, Array[Double], Double)]
      it.foreach { case (_, id, v, n) =>
        val p = (id % b).toInt
        if (p == bi) rows += ((id, v, n))
        if (p == bj && bi != bj) cols += ((id, v, n))
      }
      val left = rows.toArray
      val right = if (bi == bj) left else cols.toArray
      perGroup(for {
        x <- left.indices.iterator
        y <- (if (bi == bj) x + 1 else 0).until(right.length).iterator
      } yield {
        val (ida, va, na) = left(x); val (idb, vb, nb) = right(y)
        (ida, idb, dot(va, vb) / (na * nb))
      })
    }
  }

  /** kNN-GRAPH construction — every vector's exact top-k neighbors, the
    * graph that clustering, SemDeDup-style analyses and graph-based ANN
    * indexes (HNSW/NSG) are built from. Runs over [[blockPairs]] like
    * [[cosineNearDupPairs]], but instead of emitting threshold pairs each
    * group keeps a bounded heap per vector for BOTH sides of every pair and
    * emits at most k candidates per vector per group — the exchange after
    * the quadratic is ≤ N·blocks·k rows, never N². A global window reduces
    * the per-group candidates to the true top-k (every other vector is met
    * exactly once across groups, so the union of group heaps contains the
    * global top-k), replicated in the q77 oracle's all-pairs window. */
  def knnGraph(spark: SparkSession, dir: String, k: Int = GraphK, blocks: Int = 8): DataFrame = {
    import spark.implicits._
    val kk = k
    val partial = blockPairs(loadVecs(spark, dir), blocks) { pairs =>
      val heaps = mutable.HashMap.empty[Long, TopK.Heap]
      def offer(id: Long, negCos: Double, nbr: Long): Unit =
        heaps.getOrElseUpdate(id, new TopK.Heap(kk)).offer(negCos, nbr)
      pairs.foreach { case (a, b, c) => offer(a, -c, b); offer(b, -c, a) }
      heaps.iterator.flatMap { case (id, h) => h.iterator.map { case (nc, nbr) => (id, nbr, nc) } }
    }.toDF("vec_id", "nbr", "neg_cos")
    ranked(partial, "vec_id", "nbr", k)
  }

  /** LSH-bucketed near-dup tier — the scale path of [[cosineNearDupPairs]]
    * for corpora where the threshold's angle gives LSH real recall. Band
    * geometry: 8 bands × 8 sign bits. Near-identical vectors (cos ≥ ~0.999,
    * the planted-dup regime) agree per bit w.p. 1 − θ/π ≈ 0.99, so an 8-bit
    * band collides w.p. ≈ 0.96 and missing all 8 bands is ~1e-12; while
    * RANDOM pairs (p_bit = 0.5) collide per band w.p. 2⁻⁸, so benign buckets
    * hold ~N/256 members per band and the hot-bucket cap engages only on
    * genuine dup pileups — the same selectivity contract as minhash bands
    * and simhash segments. (The round-3 geometry of 8 × 2-bit bands had only
    * FOUR buckets per band: every bucket was hot on any corpus over ~256
    * rows, so a finite default cap would have silently collapsed recall —
    * caught in round-4 review; with 8-bit bands the cap + recall coexist and
    * the planted-dup spec runs under PRODUCTION defaults.) Shape: band
    * bucketing emits candidate ID pairs only (no vectors in the exchange)
    * through the SAME hot-bucket bound as the minhash/simhash paths
    * ([[graft.text.Dedup.boundedPairs]]: a band bucket of m near-identical
    * vectors — exactly what this tier is FOR — otherwise self-joins into
    * m²/2 candidates; above `maxBucket` it degrades to O(m) dual-hub star
    * pairs), vectors join back once, and the exact-cosine verify runs in a
    * mapPartitions kernel over primitive arrays — cosine once per candidate,
    * never in a join condition. */
  def cosineNearDupLshTier(vecs: DataFrame, minCos: Double = PlantedCos): DataFrame = {
    val spark = vecs.sparkSession
    import spark.implicits._
    val banded = bandRows(vecs, 64, 8).withColumnRenamed("vec_id", "doc_id")
    val cand = graft.text.Dedup.boundedPairs(banded, 64)
    // vectors join back exactly once per side; the verify kernel runs over
    // primitive arrays inside the partition
    val withVecs = cand
      .join(vecs.select(col("vec_id").as("a"), col("v").as("va")), Seq("a"))
      .join(vecs.select(col("vec_id").as("b"), col("v").as("vb")), Seq("b"))
      .select(col("a"), col("b"), col("va"), col("vb"))
      .as[(Long, Long, Array[Double], Array[Double])]
    val thr = minCos
    withVecs.mapPartitions { it =>
      it.flatMap { case (a, b, va, vb) =>
        val c = cosine(va, vb)
        if (c >= thr) Iterator.single((a, b, math.floor(c * 10000.0 + 0.5).toLong))
        else Iterator.empty
      }
    }.toDF("a", "b", "cos_e4")
  }

  /** Per-vector int8 scalar quantization (the SQ8 memory tier): 64 doubles
    * (512 B) become 64 bytes + 2 doubles — ~7× smaller resident index, the
    * standard first memory lever before IVF/PQ at 10^12 vectors. The code
    * for component x is `floor((x − lo)·255/(hi − lo) + 0.5)` (floor(+0.5),
    * never Math.round/SQL round, whose half-even ties differ across
    * engines); reconstruction is `lo + code·step`, step = (hi−lo)/255.
    * Every op is replicated in the q66 oracle, so scores are FP-bit
    * comparable. */
  def sqQuantize(v: Array[Double]): (Double, Double, Array[Byte]) = {
    var lo = v(0); var hi = v(0); var i = 1
    while (i < v.length) { if (v(i) < lo) lo = v(i); if (v(i) > hi) hi = v(i); i += 1 }
    val codes = new Array[Byte](v.length)
    if (hi > lo) {
      i = 0
      while (i < v.length) {
        codes(i) = (math.floor((v(i) - lo) * 255.0 / (hi - lo) + 0.5).toInt - 128).toByte
        i += 1
      }
    } else java.util.Arrays.fill(codes, (-128).toByte) // constant vector: all code 0
    (lo, (hi - lo) / 255.0, codes)
  }

  /** Exhaustive top-k over the QUANTIZED index — queries stay full
    * precision, every stored vector is scored through its int8
    * reconstruction (`lo + code·step`), cosine built from the same
    * left-to-right loops as [[bruteTopK]]. Shape: quantization happens in
    * the partition that read the vector (in production the SQ index is what
    * persists — bytes, not doubles), scoring is per-partition bounded heaps,
    * only Q·k candidate rows shuffle. The q66 gate replays quantization +
    * reconstruction + scoring in DuckDB, so rank-for-rank agreement proves
    * the whole tier; AnnSpec separately pins recall@k against the
    * full-precision brute answer (quantization loses information — the
    * RECALL is the honest quality metric, the gate pins the mechanics). */
  def sqTopK(spark: SparkSession, dir: String): DataFrame =
    onDir(spark, dir)((vecs, queries) => topKScan(asVecs(vecs), queries, K)(sqDecode))

  /** The SQ8 reconstruction `lo + code·step` of a stored vector, the vector
    * the SQ8 tiers score (replayed by the q66 oracle). */
  private def sqDecode(v: Array[Double]): Array[Double] = {
    val (lo, step, codes) = sqQuantize(v)
    codes.map(c => lo + (c + 128).toDouble * step)
  }

  /** IVF routing composed over the SQ8 index — the standard two-lever memory
    * tier at 10^12 vectors (FAISS's `IVFx,SQ8` family): the coarse quantizer
    * routes each query to `nprobe` inverted lists, and list members are
    * scored through their int8 reconstruction instead of full-precision
    * doubles, so the resident index is codes + (lo, step) per vector and the
    * centroid table. Routing stays full precision (it runs once per stored
    * vector at build time and once per query at search time — quantizing the
    * ROUTER saves nothing and shifts list boundaries); only the SCORING uses
    * codes. The per-pair arithmetic is the exact [[sqTopK]] kernel
    * (quantize → `lo + code·step` → left-to-right dot), so `nprobe == nlist`
    * degenerates to exhaustive SQ8 search and must equal [[sqTopK]] — which
    * is how the q69 gate pins it (q66's replica oracle, reused verbatim);
    * AnnSparkSpec separately pins partial-probe recall on planted clusters
    * and full-probe equality to sqTopK. */
  def ivfSqTopK(spark: SparkSession, dir: String): DataFrame =
    onDir(spark, dir)(ivfSqTopKFrom(_, _, K, NList, NList))

  def ivfSqTopKFrom(vecs: DataFrame, queries: Seq[EmbQuery], k: Int,
                    nlist: Int, nprobe: Int): DataFrame =
    topKScan(asVecs(vecs), queries, k, Some(probedBy(vecs, queries, nlist, nprobe)))(sqDecode)

  /** The IVF probe as a row router. Trains [[ivfCentroids]], gives each query
    * the `nprobe` lists nearest it by (cosine desc, list), and returns, for a
    * stored vector, the indices of the queries probing its list (its
    * [[nearest]] centroid). Routing stays full precision in every IVF tier. */
  private def probedBy(vecs: DataFrame, queries: Seq[EmbQuery], nlist: Int,
                       nprobe: Int): Array[Double] => Array[Int] = {
    val cents = ivfCentroids(vecs, nlist)
    val probes = queries.map(qq =>
      cents.indices.sortBy(ci => (-cosine(cents(ci), qq.vec), ci)).take(nprobe).toSet)
    val byList = cents.indices.map(ci => queries.indices.filter(qi => probes(qi)(ci)).toArray)
    val bc = vecs.sparkSession.sparkContext.broadcast((cents, byList.toArray))
    v => { val (cs, by) = bc.value; by(nearest(cs, v)) }
  }

  /** Deterministic planted near-dup corpus for gating the LSH tier: ids
    * group in runs of [[PlantedGroup]]; members of a group share a splitmix-drawn
    * base vector plus a per-member eps-scaled perturbation, so within-group
    * cosines sit at ~0.9999 (≥ any dedup threshold) while cross-group
    * cosines are those of independent 64-dim uniform vectors (|cos| rarely
    * above ~0.5) — a corpus where LSH at θ=0.95 has CERTIFIABLE recall,
    * unlike the embeddings table whose qualifying pairs hug the threshold
    * (Ann.cosineNearDupPairs doc). Every arithmetic step (splitmix64, the
    * top-53-bit uniform, base + eps·noise) is replicated operation-for-
    * operation in the DuckDB oracle (OracleSql.q65), so the gate hashes the
    * tier's full output relation. */
  def plantedNearDupVecs(spark: SparkSession): DataFrame = {
    import spark.implicits._
    spark.range(0L, PlantedRows, 1L, 8).map { idx =>
      val g = idx / PlantedGroup
      val v = Array.tabulate(PlantedDim) { i =>
        val b = unitUniform(graft.synth.ImageSynth.mix(g * PlantedDim + i + 10000000L))
        val nz = unitUniform(graft.synth.ImageSynth.mix(idx * PlantedDim + i + 20000000L))
        b + PlantedEps * nz
      }
      (idx, v)
    }.toDF("vec_id", "v")
  }

  /** The planted corpus' row count (q65), vector length, group run length
    * and perturbation scale, and the tier threshold q65 runs at. */
  val PlantedRows = 900L
  val PlantedDim = 64
  val PlantedGroup = 3
  val PlantedEps = 0.01
  val PlantedCos = 0.95

  /** Uniform in [-1, 1) from the top 53 bits of a 64-bit hash (the
    * hyperplanes construction, shared with the q65 corpus). */
  private def unitUniform(h: Long): Double =
    (h >>> 11).toDouble / (1L << 52).toDouble - 1.0

  /** IVF (inverted-file) ANN — the coarse-quantizer scale path the brief
    * names alongside LSH: deterministic Lloyd-refined centroids over
    * normalized vectors, every vector assigned to its nearest-by-cosine
    * centroid (the inverted list = a partition key at 10^12 rows), queries
    * probe the `nprobe` nearest lists and exact-rerank only those lists'
    * members. `nprobe == nlist` degenerates to exhaustive search and must
    * equal [[bruteTopK]] exactly (asserted in AnnSparkSpec). */
  def ivfTopK(spark: SparkSession, dir: String): DataFrame =
    onDir(spark, dir)(ivfTopKFrom(_, _, K, NList, NList))

  def ivfTopKFrom(vecs: DataFrame, queries: Seq[EmbQuery], k: Int,
                  nlist: Int, nprobe: Int): DataFrame =
    topKScan(asVecs(vecs), queries, k, Some(probedBy(vecs, queries, nlist, nprobe)))(identity)

  /** Index of the centroid nearest `v` by cosine; ties go to the lower index. */
  private def nearest(cs: Array[Array[Double]], v: Array[Double]): Int = {
    var best = 0; var bestC = Double.NegativeInfinity
    var ci = 0
    while (ci < cs.length) {
      val c = cosine(cs(ci), v)
      if (c > bestC) { bestC = c; best = ci }
      ci += 1
    }
    best
  }

  /** Deterministic IVF centroids: seeded from the `nlist` lowest vec_ids,
    * refined with [[LloydIters]] Lloyd steps (assignment in mapPartitions over the
    * broadcast centroids; vectors are read, never shuffled: only the
    * nlist·parts (list, partitionId, sumVec, n) partials move — straight to
    * the driver, no shuffle stage at all). The cross-partition reduction is
    * ORDER-PINNED: partials carry their partition ordinal and the driver sums
    * them sorted by (list, partition), so the FP result — and hence list
    * assignment and any nprobe<nlist answer — is identical run to run
    * (a collect_list-based reduction was not: its element order is
    * nondeterministic and double addition does not commute in FP). */
  def ivfCentroids(vecs: DataFrame, nlist: Int): Array[Array[Double]] = {
    val spark = vecs.sparkSession
    import spark.implicits._
    var cents: Array[Array[Double]] = vecs.orderBy(col("vec_id")).limit(nlist)
      .as[(Long, Array[Double])].collect().sortBy(_._1).map(_._2)
    val dim = cents.head.length
    for (_ <- 0 until LloydIters) {
      val bc = spark.sparkContext.broadcast(cents)
      val partials = vecs.as[(Long, Array[Double])].mapPartitions { it =>
        val pid = org.apache.spark.TaskContext.getPartitionId()
        val cs = bc.value
        val sums = Array.fill(cs.length)(new Array[Double](cs.head.length))
        val counts = new Array[Long](cs.length)
        it.foreach { case (_, v) =>
          val best = nearest(cs, v)
          var i = 0
          while (i < v.length) { sums(best)(i) += v(i); i += 1 }
          counts(best) += 1
        }
        sums.iterator.zipWithIndex.collect {
          case (s, ci) if counts(ci) > 0 => (ci, pid, s, counts(ci))
        }
      }.collect()
      val next = cents.map(_.clone())
      partials.groupBy(_._1).foreach { case (ci, ps) =>
        val acc = new Array[Double](dim)
        var n = 0L
        ps.sortBy(_._2).foreach { case (_, _, s, c) =>
          var i = 0
          while (i < dim) { acc(i) += s(i); i += 1 }
          n += c
        }
        next(ci) = acc.map(_ / n)
      }
      cents = next
    }
    cents
  }

  /** Product quantization (Jégou et al. 2011) over the INTEGER LATTICE —
    * the third memory tier after SQ8 and IVF+SQ8: each vector stores only
    * `m` sub-codebook indices (m=8, ksub=16 → 4 bytes vs 512, a 128×
    * smaller resident index). The twist that makes it verifiable AND
    * cluster-stable: codebooks are trained by Lloyd's algorithm on the
    * e6-QUANTIZED integer lattice (`floor(x·1e6 + 0.5)`), so every training
    * sum is exact 64-bit integer arithmetic — merge-order-free, hence
    * bit-identical at ANY partitioning/parallelism (FP k-means is not: its
    * centroid sums depend on partition boundaries, which is why q55's IVF
    * had to pin a driver-side reduction order), and exactly replayable by
    * the q75 DuckDB oracle (assignment = integer argmin with the
    * `D·ksub + j` tie-encoding, update = floor-div centroid means, empty
    * clusters keep their centroid). Scoring reconstructs the 64-dim vector
    * from the broadcast codebooks and applies the exact q66 cosine kernel
    * (production would precompute per-query ADC tables — an equivalent-up-
    * to-FP-regrouping optimization, documented not taken, since the oracle
    * pins the reconstruction form). Training is [[LloydIters]] scans emitting
    * m·ksub·(dsub+1) integer partials per partition straight to the driver;
    * search is ONE scan with per-partition bounded heaps. Recall vs full
    * precision is pinned separately in AnnSparkSpec on planted clusters —
    * uniform-random vectors are PQ's worst case (measured ~0.38@10 there),
    * quality is a metric, never hidden in the oracle. */
  def pqTopK(spark: SparkSession, dir: String): DataFrame =
    onDir(spark, dir)(pqTopKFrom(_, _, K, PqM, PqKsub))

  /** [[pqTopK]]'s sub-quantizer count and codebook size. */
  val PqM = 8
  val PqKsub = 16

  /** One sub-quantizer assignment: exact integer argmin of the L2 distance
    * on the lattice, ties to the lowest centroid index via the
    * `D·ksub + j` key (|lattice| ≤ ~6e5 on unit-scale embeddings keeps
    * D·ksub ≪ 2^63; the oracle uses the identical encoding). */
  private def pqAssign(cs: Array[Array[Array[Long]]], lat: Array[Long],
                       s: Int, dsub: Int): Int = {
    val ksub = cs(s).length
    var best = 0; var bestKey = Long.MaxValue
    var j = 0
    while (j < ksub) {
      var dd = 0L; var d = 0
      while (d < dsub) {
        val df = lat(s * dsub + d) - cs(s)(j)(d)
        dd += df * df; d += 1
      }
      val key = dd * ksub + j
      if (key < bestKey) { bestKey = key; best = j }
      j += 1
    }
    best
  }

  def pqTopKFrom(vecs: DataFrame, queries: Seq[EmbQuery], k: Int,
                 m: Int, ksub: Int): DataFrame = {
    val spark = vecs.sparkSession
    import spark.implicits._
    val dim = queries.head.vec.length
    val dsub = dim / m
    require(dim % m == 0, s"dim $dim not divisible by m $m")
    val mm = m; val kss = ksub; val dss = dsub
    val lats = vecs.as[(Long, Array[Double])].map { case (id, v) =>
      (id, v.map(x => math.floor(x * 1e6 + 0.5).toLong))
    }
    // init: the ksub lowest vec_ids' subvectors (replayable seed choice)
    var cents: Array[Array[Array[Long]]] = {
      val seeds = lats.orderBy(col("_1")).limit(ksub).collect().sortBy(_._1).map(_._2)
      Array.tabulate(m)(s => Array.tabulate(ksub)(j =>
        java.util.Arrays.copyOfRange(seeds(j), s * dsub, (s + 1) * dsub)))
    }
    for (_ <- 0 until LloydIters) {
      val bc = spark.sparkContext.broadcast(cents)
      // integer partials: merge-order-free by construction, any reduce order
      val partials = lats.mapPartitions { it =>
        val cs = bc.value
        val sums = Array.fill(mm, kss)(new Array[Long](dss))
        val cnts = Array.ofDim[Long](mm, kss)
        it.foreach { case (_, lat) =>
          var s = 0
          while (s < mm) {
            val j = pqAssign(cs, lat, s, dss)
            cnts(s)(j) += 1
            var d = 0
            while (d < dss) { sums(s)(j)(d) += lat(s * dss + d); d += 1 }
            s += 1
          }
        }
        (for { s <- (0 until mm).iterator; j <- (0 until kss).iterator if cnts(s)(j) > 0 }
          yield (s, j, sums(s)(j), cnts(s)(j)))
      }.collect()
      val next = cents.map(_.map(_.clone()))
      partials.groupBy(p => (p._1, p._2)).foreach { case ((s, j), ps) =>
        val acc = new Array[Long](dsub); var n = 0L
        ps.foreach { case (_, _, sv, c) =>
          var d = 0
          while (d < dsub) { acc(d) += sv(d); d += 1 }
          n += c
        }
        next(s)(j) = acc.map(x => Math.floorDiv(x, n)) // floor (matches SQL //)
      }
      cents = next
    }
    // one search scan: assign final codes, reconstruct, exact q66 kernel
    val bcC = spark.sparkContext.broadcast(cents)
    topKScan(lats, queries, k)(lat => pqDecode(bcC.value, lat, dss))
  }

  /** A lattice vector's PQ reconstruction: each subvector becomes its
    * assigned centroid, back at unit scale. */
  private def pqDecode(cs: Array[Array[Array[Long]]], lat: Array[Long], dsub: Int): Array[Double] = {
    val recon = new Array[Double](cs.length * dsub)
    var s = 0
    while (s < cs.length) {
      val j = pqAssign(cs, lat, s, dsub)
      var d = 0
      while (d < dsub) { recon(s * dsub + d) = cs(s)(j)(d).toDouble / 1e6; d += 1 }
      s += 1
    }
    recon
  }

  /** SemDeDup (Abbas et al. 2023, "SemDeDup: Data-efficient learning at
    * web-scale through semantic deduplication"): embedding-level dedup that
    * bounds the quadratic by CLUSTERING first — k-means over the corpus,
    * pairwise cosine only WITHIN each cluster, keep one representative per
    * semantic-dup component. The cluster count is the scale knob: production
    * picks nlist so clusters stay bounded (the paper uses k ≈ 11k on LAION),
    * making per-cluster pairwise linear-ish in N; pairs that straddle
    * clusters are missed — the algorithm's documented approximation
    * (AnnSparkSpec pins recall 1.0 on planted well-separated clusters, where
    * the approximation is exact).
    *
    * Plan shape: centroids are the deterministic [[ivfCentroids]] (broadcast,
    * vectors never shuffle for training); each vector shuffles ONCE on its
    * cluster id for the within-cluster self-join; the exact-cosine verify
    * (the q44 left-to-right kernel) runs post-join in the join's own
    * partitioning; components resolve by hash-min label propagation
    * ([[graft.text.Dedup.componentLabels]] — the q63 engine); the verdict is
    * keep = (vec_id == component minimum). The q73 gate runs nlist = 1 —
    * every pair is in one cluster, so the relation must equal exact
    * all-pairs dedup, which the oracle re-derives via all-pairs cosine +
    * recursive-CTE closure (no centroid replay needed: at nlist = 1
    * clustering cannot change the answer, the q55 plan-equivalence trick). */
  def semDedup(spark: SparkSession, dir: String): DataFrame =
    semDedupFrom(loadVecs(spark, dir), 1, DedupCos)

  def semDedupFrom(vecs: DataFrame, nlist: Int, theta: Double): DataFrame = graft.CacheOps.scope { s =>
    val spark = vecs.sparkSession
    import spark.implicits._
    val assigned =
      if (nlist <= 1) vecs.withColumn("list", lit(0))
      else {
        val bcC = spark.sparkContext.broadcast(ivfCentroids(vecs, nlist))
        val assignUdf = udf { (v: Seq[Double]) => nearest(bcC.value, v.toArray) }
        vecs.withColumn("list", assignUdf(col("v")))
      }
    // each vector shuffles ONCE on its cluster id (a self-join would move
    // |cluster|² vector copies through the exchange); the quadratic runs
    // in-memory per cluster, bounded by max cluster size — nlist is the knob
    // that bounds it, per the algorithm's contract
    val th = theta
    val pairs = assigned.select(col("list"), col("vec_id"), col("v"))
      .as[(Int, Long, Array[Double])]
      .groupByKey(_._1)
      .flatMapGroups { (_, it) =>
        val ms = it.map { case (_, id, v) => (id, v) }.toArray.sortBy(_._1)
        for {
          i <- ms.indices.iterator; j <- (i + 1 until ms.length).iterator
          if cosine(ms(i)._2, ms(j)._2) >= th
        } yield (ms(i)._1, ms(j)._1)
      }
      .toDF("a", "b")
    val labels = graft.text.Dedup.componentLabels(pairs)
    val dupVerdicts = s.checkpoint(labels // eager: O(dup members); frees the labels on return
      .select(col("doc_id").as("vec_id"), col("label").as("component"),
        when(col("doc_id") === col("label"), 1L).otherwise(0L).as("keep")))
    val singles = vecs.select(col("vec_id"))
      .join(dupVerdicts.select(col("vec_id")), Seq("vec_id"), "left_anti")
      .select(col("vec_id"), col("vec_id").as("component"), lit(1L).as("keep"))
    dupVerdicts.unionByName(singles)
  }

  /** Candidate id pairs (qid, vec_id) from the band join — only
    * (vec_id, band, bucket) rows ever move; no embedding in the exchange. */
  def lshCandidates(vecs: DataFrame, queries: Seq[EmbQuery],
                    nBits: Int, bands: Int): DataFrame = {
    val spark = vecs.sparkSession
    import spark.implicits._
    val planes = hyperplanes(nBits, queries.head.vec.length)
    val bitsPerBand = nBits / bands
    val mask = (1L << bitsPerBand) - 1
    val qBands = queries.flatMap { qq =>
      val sig = signature(qq.vec, planes)
      (0 until bands).map(b => (qq.qid, b, (sig >>> (b * bitsPerBand)) & mask))
    }.toDF("qid", "qband_idx", "qband")
    bandRows(vecs, nBits, bands).join(broadcast(qBands),
        col("band") === col("qband_idx") && col("bucket") === col("qband"))
      .select(col("qid"), col("vec_id")).distinct()
  }

  /** Self-certifying LSH gate: per-query recall of [[lshTopK]] against the
    * exact [[bruteTopK]] top-k, emitted as gate rows — the measured recall
    * itself is oracle-pinned, so any drift in the LSH pipeline (signatures,
    * banding, rerank) breaks the hash even when q31's replica oracle would
    * drift in lock-step. */
  def lshRecall(spark: SparkSession, dir: String): DataFrame = onDir(spark, dir) { (vecs, queries) =>
    // one table open and one query collect, shared by both tiers
    val lsh = lshTopKFrom(vecs, queries, K)
      .select(col("qid"), col("vec_id")).withColumn("hit", lit(1L))
    val brute = bruteTopKFrom(vecs, queries, K).select(col("qid"), col("vec_id"))
    brute.join(lsh, Seq("qid", "vec_id"), "left")
      .groupBy(col("qid"))
      .agg(count(lit(1)).as("k_total"),
        sum(coalesce(col("hit"), lit(0L))).as("n_hit"))
      .withColumn("recall_bp",
        floor(col("n_hit") * lit(10000.0) / col("k_total")).cast("long"))
  }

  def lshTopKFrom(vecs: DataFrame, queries: Seq[EmbQuery], k: Int): DataFrame = {
    val spark = vecs.sparkSession
    val bcQ = spark.sparkContext.broadcast(queries.map(qq => qq.qid -> qq.vec).toMap)
    val cand = lshCandidates(vecs, queries, LshBits, LshBands)
    // single vector fetch for the rerank — the only time embeddings shuffle,
    // and only for candidate ids
    val negCosUdf = udf { (qid: Long, v: Seq[Double]) => -cosine(bcQ.value(qid), v.toArray) }
    ranked(cand.join(vecs, Seq("vec_id")).withColumn("neg_cos", negCosUdf(col("qid"), col("v"))),
      "qid", "vec_id", k)
  }
}
