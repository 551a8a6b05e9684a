package graft.text

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.CacheOps
import graft.Session.table

/** Deduplication family for a training-data pipeline (exact, MinHash+LSH,
  * SimHash, n-gram Jaccard). Exact + n-gram variants are oracle-checked; the
  * sketch variants are deterministic (fixed seeds) and property-tested in
  * ScalaTest (estimate-vs-true-Jaccard accuracy), rows-only at the gate.
  *
  * Scale notes: every variant is shuffle-bounded — exact dedup shuffles
  * 16-byte digests (never full text); MinHash shuffles (band-hash, id) pairs;
  * candidate verification joins only within LSH buckets. At 100 TB the
  * pattern is: shingle→sign per partition (mapPartitions, reused buffers),
  * exchange only signatures.
  */
object Dedup {

  /** Exact dedup by content digest (md5 of normalized text — the digest, not
    * the text, is what shuffles). Truncated to 24 chars to manufacture dup
    * groups on the synthetic corpus while keeping semantics honest. */
  def exactDupStats(spark: SparkSession, dir: String): DataFrame = {
    val keyed = table(spark, dir, "documents")
      .select(col("doc_id"), md5(substring(lower(col("text")), 1, 24)).as("k"))
    val groups = keyed.groupBy(col("k")).agg(count(lit(1)).as("n"))
    groups.agg(
      count(lit(1)).as("n_groups"),
      sum(when(col("n") > 1, 1L).otherwise(0L)).as("n_dup_groups"),
      sum(when(col("n") > 1, col("n")).otherwise(0L)).as("n_dup_docs"),
      max(col("n")).as("max_group"))
  }

  /** 64-bit from-scratch string hash (xor-fold FNV-1a) — the common base hash
    * all sketches derive from. */
  def hash64(s: String): Long = {
    var h = 1469598103934665603L
    var i = 0
    while (i < s.length) { h = (h ^ s.charAt(i)) * 1099511628211L; i += 1 }
    h
  }

  private val P = 2147483647L // 2^31 - 1 Mersenne prime: a*x fits in a long

  /** Affine permutation coefficients precomputed ONCE (closure-captured by
    * every executor task) — round 1 regenerated them per document, the single
    * biggest constant-factor waste in the dedup path. */
  private val MaxK = 128
  private val As: Array[Long] = Array.tabulate(MaxK)(j =>
    1L + ((0x9E3779B97F4A7C15L * (j + 1)) & Long.MaxValue) % (P - 1))
  private val Bs: Array[Long] = Array.tabulate(MaxK)(j =>
    ((0xC2B2AE3D27D4EB4FL * (j + 7)) & Long.MaxValue) % P)

  /** Distinct w-shingle HASHES of a document with zero intermediate strings:
    * token FNV hashes combined by an order-sensitive polynomial over each
    * window, then sort+dedup in place. The hashes stand in for the string
    * shingles everywhere downstream (64-bit: collisions are ~|pairs|²/2^64,
    * and the gate oracle cross-checks against string shingles). */
  def shingleHashes(text: String, w: Int): Array[Long] = {
    val toks = text.split(' ')
    val th = new Array[Long](toks.length)
    var i = 0
    while (i < toks.length) { th(i) = hash64(toks(i)); i += 1 }
    val n = if (toks.length < w) 1 else toks.length - w + 1
    val out = new Array[Long](n)
    if (toks.length < w) {
      // degenerate short doc: the whole token sequence is its one shingle
      var s = -3750763034362895579L // FNV-ish seed
      var j = 0
      while (j < th.length) { s = (s ^ th(j)) * 0x100000001B3L; j += 1 }
      out(0) = s
    } else {
      i = 0
      while (i < n) {
        var s = -3750763034362895579L
        var j = 0
        while (j < w) { s = (s ^ th(i + j)) * 0x100000001B3L; j += 1 }
        out(i) = s
        i += 1
      }
    }
    java.util.Arrays.sort(out)
    var m = 0
    i = 0
    while (i < out.length) {
      if (i == 0 || out(i) != out(i - 1)) { out(m) = out(i); m += 1 }
      i += 1
    }
    if (m == out.length) out else java.util.Arrays.copyOf(out, m)
  }

  /** MinHash signature straight from shingle hashes — precomputed
    * coefficients, pure long arithmetic, no allocation beyond the result. */
  def minhashSigFromHashes(shs: Array[Long], k: Int): Array[Long] = {
    require(k <= MaxK, s"k > $MaxK")
    val sig = Array.fill(k)(Long.MaxValue)
    var i = 0
    while (i < shs.length) {
      val x = (shs(i) & Long.MaxValue) % P
      var j = 0
      while (j < k) {
        val v = (As(j) * x + Bs(j)) % P
        if (v < sig(j)) sig(j) = v
        j += 1
      }
      i += 1
    }
    sig
  }

  /** MinHash + LSH near-dup pipeline, verification-grade: signature (k
    * hashes) → bands → band-hash bucket join → candidate pairs → EXACT
    * Jaccard verification of candidates only (shingle-hash equi-join) →
    * pairs with true Jaccard ≥ 0.5.
    *
    * Scale shape: documents are read once in mapPartitions (signer); only
    * (doc_id, band, bucket) rows enter the banding shuffle (no signatures, no
    * vectors, no text); exact verification touches only candidate pairs.
    * The gate oracle computes all-pairs exact Jaccard in SQL — so the gate
    * ALSO proves LSH recall = 1.0 at this threshold on this corpus. */
  def minhashLsh(spark: SparkSession, dir: String, maxBucket: Int = 64): DataFrame =
    CacheOps.scope { s =>
    import spark.implicits._
    // one pass: doc -> (id, signature, distinct shingle hashes),
    // localCheckpoint'ed ONCE because THREE consumers read it (banding, and
    // both sides of the exact-verify join) — without it the scan + shingling
    // subtree re-executed per consumer (guide §2.4: shared subtrees should
    // share one materialization, not recompute). No fan-out repartition: the
    // shingling cost scales with the corpus scan's own split count, and
    // measured at sf0.1 a blanket defaultParallelism fan-out ADDED ~20 s of
    // near-empty-task overhead across the dedup family's downstream stages.
    val signed = s.checkpoint(table(spark, dir, "documents")
      .select(col("doc_id"), col("text"))
      .as[(Long, String)]
      .mapPartitions { it =>
        it.map { case (id, text) =>
          val shs = shingleHashes(text, ShingleW)
          (id, minhashSigFromHashes(shs, MinhashK), shs)
        }
      }.toDF("doc_id", "sig", "shs"))
    // (A static-planner loop-width wrapper around the verify was tried
    // and reverted: the pipeline's jobs are mostly CONCURRENT broadcast
    // builds, so AQE-off bought nothing measurable, and it would forfeit
    // AQE's skew-join splitting exactly where a production-scale verify
    // falls back to shuffle joins.)
    val cand = minhashCandidates(signed, MinhashBands, MinhashK / MinhashBands, maxBucket)
    // exact verification: intersect candidate pairs' shingle-hash sets
    val ex = signed.select(col("doc_id"), size(col("shs")).as("n_sh"),
      explode(col("shs")).as("gh"))
    val inter = ex.as("l")
      .join(cand, col("l.doc_id") === col("a"))
      .join(ex.as("r"),
        col("r.doc_id") === col("b") && col("l.gh") === col("r.gh"))
      .groupBy(col("a"), col("b"), col("l.n_sh").as("na"), col("r.n_sh").as("nb"))
      .agg(count(lit(1)).as("common"))
    // the verified pair list is O(dup pairs) — checkpoint it eagerly so the
    // scope frees the signature and banding checkpoints (the big
    // intermediates) on return; consumers (components, decision list,
    // splits, the gate count) read the small materialized pairs
    s.checkpoint(inter
      .withColumn("j_bp", floor(col("common") * 10000.0 / (col("na") + col("nb") - col("common"))).cast("long"))
      .filter(col("j_bp") >= 5000L)
      .select(col("a"), col("b"), col("common"), col("j_bp")))
  }

  /** Shingle width of every n-gram path; [[minhashLsh]]'s signature length and bands. */
  private val ShingleW = 3
  private val MinhashK = 32
  private val MinhashBands = 8

  /** LSH band-bucket candidate pairs with a hot-bucket bound: band the
    * signatures, then delegate to [[boundedPairs]]. The bucket-size agg and
    * the candidate join shuffle on the same (band, bucket) key. */
  def minhashCandidates(signed: DataFrame, bands: Int, rowsPerBand: Int,
                        maxBucket: Int): DataFrame = {
    val banded = signed.select(col("doc_id"), posexplode(
      array((0 until bands).map(b =>
        hash((rowsPerBand * b until rowsPerBand * (b + 1)).map(i => col("sig")(i)): _*)): _*)))
      .toDF("doc_id", "band", "bucket")
    boundedPairs(banded, maxBucket)
  }

  /** Candidate ID pairs (a < b) from a `(doc_id, band, bucket)` banding with
    * a hot-bucket bound. A bucket of m near-identical members makes the naive
    * self-join emit m²/2 candidates — the quadratic blow-up a boilerplate-
    * heavy (or adversarial) corpus hits at scale, the same failure class
    * ngramJaccard's df-cap fixed. Buckets with ≤ `maxBucket` members keep
    * exact pairwise generation; larger buckets fall back to TWO star layers —
    * around the bucket's min and the bucket's max doc_id — O(m) pairs total.
    *
    * Honesty note on the capped path: the stars preserve dup-GROUP
    * connectivity when the bucket's members are mutually near-identical
    * (every member links to both hubs). Downstream exact verification
    * (Jaccard / hamming / cosine thresholds) can still reject a hub-member
    * edge that some member-member edge would have passed, so capping trades
    * pair-list completeness for boundedness; the two INDEPENDENT hubs exist
    * precisely so one failed hub edge cannot by itself sever a genuine dup
    * group. Shared by minhash bands, simhash segments (shape-specialized
    * there for the fingerprint columns) and the ANN cosine LSH tier. */
  def boundedPairs(banded: DataFrame, maxBucket: Int): DataFrame = CacheOps.scope { s =>
    // the banding relation has two consumers (bucket-size rollup + the
    // bucket self-join) — materialize it once. The checkpoint escapes in the
    // lazy result, to the caller's scope.
    val bd = s.checkpoint(banded)
    val sized = bd.join(
      bd.groupBy(col("band"), col("bucket"))
        .agg(count(lit(1)).as("bn"),
          min(col("doc_id")).as("hub_lo"), max(col("doc_id")).as("hub_hi")),
      Seq("band", "bucket"))
    val small = sized.filter(col("bn") <= maxBucket)
    val pairwise = small.as("l").join(small.as("r"),
        col("l.band") === col("r.band") && col("l.bucket") === col("r.bucket") &&
          col("l.doc_id") < col("r.doc_id"))
      .select(col("l.doc_id").as("a"), col("r.doc_id").as("b"))
    val hot = sized.filter(col("bn") > maxBucket)
    val starLo = hot.filter(col("doc_id") =!= col("hub_lo"))
      .select(col("hub_lo").as("a"), col("doc_id").as("b"))
    val starHi = hot.filter(col("doc_id") =!= col("hub_hi"))
      .select(col("doc_id").as("a"), col("hub_hi").as("b"))
    pairwise.unionByName(starLo).unionByName(starHi).distinct()
  }

  /** SimHash (64-bit) near-dup: per-token hash bit voting → fingerprint;
    * pairs within hamming distance `maxHam` via 4-segment pigeonhole join. */
  def simhash64(text: String): Long = {
    val votes = new Array[Int](64)
    val ts = text.split(' ')
    var i = 0
    while (i < ts.length) {
      val h = hash64(ts(i))
      var b = 0
      while (b < 64) { if (((h >>> b) & 1L) == 1L) votes(b) += 1 else votes(b) -= 1; b += 1 }
      i += 1
    }
    var out = 0L
    var b = 0
    while (b < 64) { if (votes(b) > 0) out |= (1L << b); b += 1 }
    out
  }

  /** Default `maxBucket` is deliberately looser than minhash's: a simhash
    * SEGMENT collision does not imply similarity (common tokens dominate the
    * bit votes, so random corpora still form multi-hundred-doc segment
    * buckets — measured 437 at sf0.1), and star-degrading those would drop
    * genuine ham≤3 pairs whose only shared segment is the hot one. 1024 keeps
    * realistic buckets exact while bounding any single bucket's candidate
    * emission at ~512k pairs. Minhash BAND collisions do imply similarity
    * (4 equal minhashes), so its buckets stay small on benign corpora
    * (measured max 5 at sf0.1) and a tight 64 cap only engages on true
    * dup-cluster blowups. */
  def simhashPairs(spark: SparkSession, dir: String, maxBucket: Int = SegmentCap): DataFrame = {
    val sh = udf(simhash64 _)
    val df = table(spark, dir, "documents").select(col("doc_id"), sh(col("text")).as("sh"))
    simhashCandidatePairs(df, MaxHam, maxBucket)
  }

  /** Hamming radius (the 4-segment pigeonhole guarantee) and hot-segment cap
    * of the simhash and phash near-dup paths. */
  val MaxHam = 3
  val SegmentCap = 1024

  /** Pigeonhole candidate join over a (doc_id, sh) fingerprint table, with
    * the same hot-bucket dual-star bound as [[boundedPairs]] (a segment
    * shared by m near-identical fingerprints otherwise emits m²/2 pairs) —
    * shape-specialized here because the fingerprints must ride along for the
    * hamming verify. The same completeness caveat applies: a star pair the
    * ham≤k check rejects is not retried through a member-member edge. */
  def simhashCandidatePairs(df: DataFrame, maxHam: Int, maxBucket: Int): DataFrame =
    CacheOps.scope { s =>
    // pigeonhole: with 4 disjoint 16-bit segments, two fingerprints within
    // hamming distance 3 MUST agree on at least one whole segment (3 differing
    // bits can dirty at most 3 of the 4). The guarantee is maxHam <= segs-1,
    // so the default is 3 — callers wanting a larger radius must raise the
    // segment count accordingly or the join silently under-reports.
    require(maxHam <= 3, s"4-segment pigeonhole join only guarantees hamming<=3, got maxHam=$maxHam")
    // segment extraction MUST be bitwise (shiftright sign-extends and a signed
    // `% 65536` of a negative value is NOT the low 16 bits — that dropped
    // pairs whose fingerprints differ in sign)
    // the segment relation has two consumers (bucket rollup + self-join) —
    // materialize it once
    val segs = s.checkpoint(df.select(col("doc_id"), col("sh"), posexplode(array(
      (0 until 4).map(i => shiftright(col("sh"), i * 16).bitwiseAND(lit(65535L))): _*)))
      .toDF("doc_id", "sh", "seg_idx", "seg"))
    val sized = segs.join(
      segs.groupBy(col("seg_idx"), col("seg"))
        .agg(count(lit(1)).as("bn"),
          min(col("doc_id")).as("hub_lo"), min_by(col("sh"), col("doc_id")).as("hub_lo_sh"),
          max(col("doc_id")).as("hub_hi"), max_by(col("sh"), col("doc_id")).as("hub_hi_sh")),
      Seq("seg_idx", "seg"))
    val small = sized.filter(col("bn") <= maxBucket)
    val pairwise = small.as("l").join(small.as("r"),
        col("l.seg_idx") === col("r.seg_idx") && col("l.seg") === col("r.seg") &&
          col("l.doc_id") < col("r.doc_id"))
      .select(col("l.doc_id").as("a"), col("r.doc_id").as("b"),
        col("l.sh").as("sha"), col("r.sh").as("shb"))
    val hot = sized.filter(col("bn") > maxBucket)
    val starLo = hot.filter(col("doc_id") =!= col("hub_lo"))
      .select(col("hub_lo").as("a"), col("doc_id").as("b"),
        col("hub_lo_sh").as("sha"), col("sh").as("shb"))
    val starHi = hot.filter(col("doc_id") =!= col("hub_hi"))
      .select(col("doc_id").as("a"), col("hub_hi").as("b"),
        col("sh").as("sha"), col("hub_hi_sh").as("shb"))
    val cand = pairwise.unionByName(starLo).unionByName(starHi).distinct()
    cand.withColumn("ham", bit_count(col("sha").bitwiseXOR(col("shb"))))
      .filter(col("ham") <= maxHam)
      .select(col("a"), col("b"), col("ham"))
  }

  /** Connected components over a near-dup pair graph — the dup-GROUP
    * resolution step that turns verified pairs into dedup decisions (keep
    * one representative per component, drop the rest). Hash-min label
    * propagation: every vertex starts labelled with its own id; each round,
    * a vertex takes the min of its label and its neighbors' labels; rounds
    * continue until a fixpoint (≤ graph diameter, which for near-dup graphs
    * is tiny — dup clusters are dense). Each round is ONE shuffle on vertex
    * id (edge join + groupBy min) on [[CacheOps.Scope.fixpoint]]; the
    * round's eager checkpoint also carries the convergence signal, via an
    * accumulator counting label decreases inside the round's own job. A
    * retried task can over-count the accumulator, never under-count — and
    * only exact 0 means anything, so over-counting costs at most one extra
    * (no-op) round. At 10^12 rows the large-star/small-star variant
    * ([[dupComponentsStars]]) cuts the round count; the per-round plan here
    * is already its building block. No data collects to the driver. The
    * rollup is checkpointed eagerly so the label set is freed on return.
    *
    * Input: (a, b) candidate pairs with a < b (any of the candidate
    * generators). Output: one row per component with ≥2 members. */
  def dupComponents(pairs: DataFrame, maxRounds: Int = 64): DataFrame = CacheOps.scope { s =>
    s.checkpoint(componentLabels(pairs, maxRounds).groupBy(col("label"))
      .agg(count(lit(1)).as("n_docs"), max(col("doc_id")).as("max_doc"))
      .select(col("label").as("component"), col("n_docs"), col("max_doc")))
  }

  /** The hash-min label-propagation loop itself (the engine under
    * [[dupComponents]] and [[dedupDecision]] — ONE definition, so a decision
    * list can never disagree with the component rollup it summarizes).
    * Returns the eagerly-checkpointed (doc_id, label) frame covering every
    * vertex that appears in a pair; the checkpoint passes to the caller's
    * [[CacheOps.scope]]. Convergence/refusal semantics documented on
    * [[dupComponents]]. */
  def componentLabels(pairs: DataFrame, maxRounds: Int = 64): DataFrame = CacheOps.scope { s =>
    val spark = pairs.sparkSession
    import spark.implicits._
    val edges = s.checkpoint(pairs.select(col("a").as("u"), col("b").as("v"))
      .unionByName(pairs.select(col("b").as("u"), col("a").as("v"))))
    // an unconverged exit would silently split real components (under-dedup
    // with no signal), so the driver refuses instead; near-dup graphs
    // converge in a few rounds, so hitting the cap means the input is not a
    // near-dup graph
    s.fixpoint("componentLabels", maxRounds, s.checkpoint(
        edges.select(col("u").as("doc_id")).distinct().withColumn("label", col("doc_id")))) {
      (labels, round) =>
        val acc = spark.sparkContext.longAccumulator(s"graft.cc.decreases.r$round")
        val nbrMin = edges.join(labels, edges("v") === labels("doc_id"))
          .groupBy(col("u")).agg(min(col("label")).as("nbr_min"))
        val next = s.checkpoint(labels.as("l").join(nbrMin, col("l.doc_id") === col("u"), "left")
          .select(col("l.doc_id").as("doc_id"), col("l.label").as("old_label"),
            least(col("l.label"), coalesce(col("nbr_min"), col("l.label"))).as("label"))
          .as[(Long, Long, Long)]
          .map { case (id, old, nw) => if (nw < old) acc.add(1L); (id, nw) }
          .toDF("doc_id", "label")) // eager: this materialization populates `acc`
        (next, acc.value == 0)
    }
  }

  /** End-to-end dedup DECISION list — the step that turns the pair graph
    * into per-document actions a corpus build executes: verified near-dup
    * pairs → connected components ([[componentLabels]]) → ONE representative
    * per component (most tokens wins, ties to the lowest doc_id — keep the
    * longest member, the convention when near-dups are truncations of each
    * other) → a (doc_id, component, n_tokens, keep) verdict for EVERY
    * document, singletons trivially keep=1 with themselves as component.
    *
    * Scale shape: the window that elects representatives runs ONLY over
    * dup-group members (a small fraction of any real corpus — label
    * propagation's output), never over the full table; singletons join
    * against the materialized O(dup members) decision frame with a
    * left_anti (no shuffle of text, ids only). The pair and label
    * checkpoints are freed once the decided frame is materialized. */
  def dedupDecision(spark: SparkSession, dir: String): DataFrame = CacheOps.scope { s =>
    val pairs = minhashLsh(spark, dir, maxBucket = Int.MaxValue)
    val labels = componentLabels(pairs)
    val docs = table(spark, dir, "documents")
      .select(col("doc_id"), size(split(col("text"), " ")).cast("long").as("n_tokens"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("label")).orderBy(col("n_tokens").desc, col("doc_id"))
    val decided = s.checkpoint(docs.join(labels, Seq("doc_id"))
      .withColumn("keep", when(row_number().over(w) === 1, 1L).otherwise(0L))
      .select(col("doc_id"), col("label").as("component"), col("n_tokens"), col("keep")))
    val singles = docs.join(decided.select(col("doc_id")), Seq("doc_id"), "left_anti")
      .select(col("doc_id"), col("doc_id").as("component"), col("n_tokens"),
        lit(1L).as("keep"))
    decided.unionByName(singles)
  }

  /** Leakage-safe train/val/test split — the dedup-aware split guard a
    * pretraining corpus needs: assigning splits per DOCUMENT lets a
    * near-duplicate of a training document leak into eval (the contamination
    * failure dedup papers measure), so the split key here is the dup
    * COMPONENT: every member of a near-dup group lands in the same split by
    * construction, singletons key on their own id. Assignment is
    * deterministic splitmix basis points of the salted component id
    * (the q53 hash-downsampling discipline — reproducible across reruns,
    * no RNG state): < 9000 train, < 9500 val, else test.
    *
    * Scale shape: split derivation for dup members runs over the
    * O(dup members) label frame and is materialized there (pair and label
    * checkpoints freed on return); the corpus-wide remainder is one
    * left_anti on ids plus a per-row codegen hash — no shuffle wider than
    * the label join. */
  def leakageSafeSplit(spark: SparkSession, dir: String): DataFrame = CacheOps.scope { s =>
    import graft.functions.SeedExprs
    val SplitSalt = 7777777L
    def withSplit(df: DataFrame): DataFrame = df
      .withColumn("h_bp", SeedExprs.mixBp(col("component") + lit(SplitSalt)))
      .withColumn("split", when(col("h_bp") < 9000L, "train")
        .when(col("h_bp") < 9500L, "val").otherwise("test"))
    val pairs = minhashLsh(spark, dir, maxBucket = Int.MaxValue)
    val labels = componentLabels(pairs)
    val dupSplits = s.checkpoint(withSplit(
        labels.select(col("doc_id"), col("label").as("component"))))
    val singles = withSplit(
      table(spark, dir, "documents").select(col("doc_id"))
        .join(dupSplits.select(col("doc_id")), Seq("doc_id"), "left_anti")
        .withColumn("component", col("doc_id")))
    dupSplits.unionByName(singles)
  }

  /** Connected components via alternating large-star/small-star — the
    * round-halving refinement [[dupComponents]] documents (Kiveris et al.,
    * "Connected Components in MapReduce and Beyond", SoCC'14): hash-min
    * label propagation needs a round per hop of graph diameter, while the
    * star operations contract the graph toward per-component stars in
    * O(log²) rounds — the difference between 200 shuffles and ~8 on a
    * 200-edge path. Near-dup graphs are dense (diameter 2-3), so q63 stays
    * on hash-min with its analytic oracle; this variant exists for
    * adversarial long-chain inputs, is property-tested against hash-min on
    * random graphs, and converges comfortably where hash-min's diameter
    * refusal trips (DupComponentsSpec).
    *
    *  - large-star: every node connects its strictly-larger neighbors to
    *    the minimum of its closed neighborhood;
    *  - small-star: every node connects its smaller-or-equal neighbors
    *    (and itself) to that minimum.
    *
    * Both emit canonical (lo < hi) edges, each round is two
    * groupBy-min + join shuffles on [[CacheOps.Scope.fixpoint]]. Fixpoint =
    * the edge set is stable, at which point edges ARE the component stars. */
  def dupComponentsStars(pairs: DataFrame, maxRounds: Int = 64): DataFrame = CacheOps.scope { s =>
    val init = s.checkpoint(pairs
      .select(least(col("a"), col("b")).as("lo"), greatest(col("a"), col("b")).as("hi"))
      .filter(col("lo") =!= col("hi")).distinct())
    val stars = s.fixpoint("dupComponentsStars", maxRounds, init) { (edges, _) =>
      // LARGE-STAR: m(u) = min over Γ(u) ∪ {u}; emit (m, v) for v ∈ Γ(u), v > u.
      // m ≤ u < v keeps edges canonical by construction.
      val adj = edges.select(col("lo").as("u"), col("hi").as("v"))
        .unionByName(edges.select(col("hi").as("u"), col("lo").as("v")))
      val mins = adj.groupBy(col("u")).agg(min(col("v")).as("mn"))
        .select(col("u"), least(col("u"), col("mn")).as("m"))
      // lazy: materialized by ss's eager checkpoint below — one job/round
      val ls = s.checkpoint(adj.join(mins, Seq("u")).filter(col("v") > col("u"))
        .select(col("m").as("lo"), col("v").as("hi")).distinct(), eager = false)
      // SMALL-STAR over the large-star output: direct each edge to its
      // larger endpoint u with smaller neighbor set N(u); m = min(N(u));
      // emit (m, v) for v ∈ N(u) ∪ {u}, v ≠ m (m < v keeps it canonical)
      val dir = ls.select(col("hi").as("u"), col("lo").as("v"))
      val mins2 = dir.groupBy(col("u")).agg(min(col("v")).as("mn"))
      val ss = s.checkpoint(dir.join(mins2, Seq("u")).filter(col("v") =!= col("mn"))
        .select(col("mn").as("lo"), col("v").as("hi"))
        .unionByName(mins2.select(col("mn").as("lo"), col("u").as("hi")))
        .distinct())
      // fixpoint test: edge sets equal — BOTH exceptAll directions unioned
      // into one relation probed with a single isEmpty action
      (ss, ss.exceptAll(edges).unionByName(edges.exceptAll(ss)).isEmpty)
    }
    // at fixpoint the edges are component stars: lo = component minimum
    s.checkpoint(stars.groupBy(col("lo"))
      .agg((count(lit(1)) + lit(1L)).as("n_docs"),
        greatest(max(col("hi")), first(col("lo"))).as("max_doc"))
      .select(col("lo").as("component"), col("n_docs"), col("max_doc")))
  }

  /** n-gram Jaccard near-dup, exact (the verification-grade variant):
    * explode distinct shingles, DROP shingles with document frequency >
    * 5 (standard near-dup practice — one hot boilerplate shingle
    * otherwise makes the self-join quadratic at scale), equi-join on
    * shingle, count intersection, Jaccard over the CAPPED shingle sets.
    * Bucketed by `source` to bound pairs. */
  def ngramJaccard(spark: SparkSession, dir: String): DataFrame = CacheOps.scope { s =>
    import spark.implicits._
    // distinct shingle HASHES, not strings: the df rollup and both sides of
    // the intersection self-join exchange 8-byte longs instead of w-token
    // strings (the q27 string-free pattern). The gate oracle still joins on
    // STRING shingles — an independent representation that would catch a
    // 64-bit collision, not inherit it.
    // the df-capped (doc, shingle, n_sh) relation feeds BOTH sides of the
    // intersection self-join — materialize it once (guide §2.4) instead of
    // re-executing scan → shingle → df-cap → size join per side
    val d = table(spark, dir, "documents")
      .select(col("doc_id"), col("source"), col("text"))
      .as[(Long, String, String)]
      .mapPartitions(_.map { case (id, src, text) => (id, src, shingleHashes(text, ShingleW)) })
      .toDF("doc_id", "source", "sh")
    val ex = d.select(col("doc_id"), col("source"), explode(col("sh")).as("g"))
    // document-frequency cap: the df agg and the semi-join both shuffle on g,
    // the same key as the intersection self-join below — one partitioning
    val dfok = ex.groupBy(col("g")).agg(count(lit(1)).as("df"))
      .filter(col("df") <= 5).select(col("g"))
    val exc = ex.join(dfok, Seq("g"))
    val n = exc.groupBy(col("doc_id")).agg(count(lit(1)).as("n_sh"))
    val exn = s.checkpoint(exc.join(n, Seq("doc_id")))
    val inter = exn.as("l").join(exn.as("r"),
        col("l.source") === col("r.source") && col("l.g") === col("r.g") &&
          col("l.doc_id") < col("r.doc_id"))
      .groupBy(col("l.doc_id").as("a"), col("r.doc_id").as("b"),
        col("l.n_sh").as("na"), col("r.n_sh").as("nb"))
      .agg(count(lit(1)).as("common"))
    inter
      .withColumn("j_bp", floor(col("common") * 10000.0 / (col("na") + col("nb") - col("common"))).cast("long"))
      .filter(col("j_bp") >= 2000L)
      .select(col("a"), col("b"), col("common"), col("j_bp"))
  }

  /** Distinct k-token window hashes of a document — the substring-dedup
    * analog of [[shingleHashes]] with LONG windows (k ≈ 12 tokens ≈ the
    * 50-char spans substring dedup targets) instead of w=3 shingles. */
  def spanHashes(text: String, k: Int): Array[Long] = {
    val toks = text.split(' ')
    if (toks.length < k) Array.empty
    else {
      val out = new java.util.HashSet[Long]()
      var i = 0
      while (i + k <= toks.length) {
        val sb = new java.lang.StringBuilder()
        var j = i
        while (j < i + k) {
          if (j > i) sb.append(' ')
          sb.append(toks(j))
          j += 1
        }
        out.add(hash64(sb.toString)); i += 1
      }
      val arr = new Array[Long](out.size())
      val it = out.iterator(); var n = 0
      while (it.hasNext) { arr(n) = it.next(); n += 1 }
      arr
    }
  }

  /** Benchmark DECONTAMINATION — the eval-leakage guard run before training:
    * a training document that shares verbatim n-grams with a benchmark/eval
    * document inflates eval scores without generalization, so every train
    * doc is scored by its shingle overlap against the full eval set and
    * flagged above a threshold (the n-gram-overlap decontamination used for
    * GPT-3/PaLM-class corpora). Here the eval set is `doc_id < evalMax` —
    * the realistic shape: benchmarks are ≪ the corpus, so their distinct
    * shingle-hash set BROADCASTS and the whole pass is one map-side
    * semi-match over the training scan — no shuffle wider than the final
    * per-doc count. 8-byte shingle hashes only (the q26/q27 string-free
    * discipline); the q74 oracle joins shingle STRINGS, the independent
    * representation that catches a 64-bit collision. Output: every train doc
    * with its distinct-shingle count, overlap count, overlap in basis points
    * and the contaminated verdict. */
  def decontaminate(spark: SparkSession, dir: String, evalMax: Long = 25L): DataFrame = {
    import spark.implicits._
    // filter BEFORE the typed shingling map — a predicate above mapPartitions
    // cannot push past it, so each side's doc_id range reaches the parquet
    // scan (PushedFilters) and neither pass shingles the other side's docs
    def shingled(pred: org.apache.spark.sql.Column) = table(spark, dir, "documents")
      .select(col("doc_id"), col("text")).filter(pred).as[(Long, String)]
      .mapPartitions(_.map { case (id, text) => (id, shingleHashes(text, ShingleW)) })
      .toDF("doc_id", "sh")
    val evalSet = shingled(col("doc_id") < evalMax)
      .select(explode(col("sh")).as("g")).distinct()
      .as[Long].collect().toSet
    val bcEval = spark.sparkContext.broadcast(evalSet)
    shingled(col("doc_id") >= evalMax).as[(Long, Array[Long])]
      .map { case (id, shs) =>
        val ev = bcEval.value
        var overlap = 0; var i = 0
        while (i < shs.length) { if (ev.contains(shs(i))) overlap += 1; i += 1 }
        (id, shs.length.toLong, overlap.toLong,
          if (shs.length > 0) overlap.toLong * 10000L / shs.length else 0L)
      }
      .toDF("doc_id", "n_sh", "n_overlap", "overlap_bp")
      .withColumn("contaminated",
        when(col("overlap_bp") >= 2000L, 1L).otherwise(0L))
  }

  /** Cross-document duplicated-SPAN detection — substring-level exact dedup
    * (Lee et al. 2022, "Deduplicating Training Data Makes Language Models
    * Better"): two documents can be distinct at the whole-document level yet
    * share a verbatim k-token span (a quoted paragraph, boilerplate header,
    * license block) that an LM will memorize. Every k-token window becomes
    * an 8-byte hash in the partition that read the document; only
    * (doc_id, hash) pairs ever enter an exchange (the q26/q27 string-free
    * pattern — never the spans themselves). Window hashes with document
    * frequency > `maxDf` are dropped before the self-join (ubiquitous
    * boilerplate would otherwise make one bucket quadratic — same df-cap
    * practice as [[ngramJaccard]], and at k=12 tokens a span shared by >64
    * documents is boilerplate by definition, not a dedup pair). Output: one
    * row per document pair sharing ≥1 surviving span, with the count of
    * distinct shared spans. The q71 gate's oracle joins on the span STRINGS
    * — an independent representation that would catch (not inherit) a 64-bit
    * hash collision. */
  def spanDup(spark: SparkSession, dir: String, k: Int = 12, maxDf: Int = 64): DataFrame =
    CacheOps.scope { s =>
    import spark.implicits._
    val kk = k
    // the df-capped (doc, span-hash) relation feeds BOTH sides of the
    // self-join — one materialization (guide §2.4), not a re-execution per side
    val d = table(spark, dir, "documents")
      .select(col("doc_id"), col("text"))
      .as[(Long, String)]
      .mapPartitions(_.map { case (id, text) => (id, spanHashes(text, kk)) })
      .toDF("doc_id", "sh")
    val ex = d.select(col("doc_id"), explode(col("sh")).as("g"))
    // df rollup, semi-join and the intersection self-join all shuffle on g —
    // one partitioning end to end
    val dfok = ex.groupBy(col("g")).agg(count(lit(1)).as("df"))
      .filter(col("df") <= maxDf).select(col("g"))
    val exc = s.checkpoint(ex.join(dfok, Seq("g")))
    exc.as("l").join(exc.as("r"),
        col("l.g") === col("r.g") && col("l.doc_id") < col("r.doc_id"))
      .groupBy(col("l.doc_id").as("a"), col("r.doc_id").as("b"))
      .agg(count(lit(1)).as("n_spans"))
      .select(col("a"), col("b"), col("n_spans"))
  }

  /** Gate query (q129): EXACT set-similarity join (Jaccard ≥ τ over
    * word-3-gram sets) via PREFIX FILTERING (Chaudhuri et al. ICDE'06 /
    * Bayardo et al. WWW'07 AllPairs): order every doc's shingles by global
    * document frequency (rarest first, ties lexicographic); two sets with
    * Jaccard ≥ τ MUST share an element among each one's first
    * |s| − ceil(τ·|s|) + 1 elements (if all prefix elements differ, the
    * overlap is too small by the pigeonhole bound), so candidates = pairs
    * sharing a PREFIX element — recall 1 BY THEOREM, not by tuning, and the
    * honest all-pairs oracle proves it per run. The fixture compresses
    * 124,750 all-pairs to ~165 candidates. The df ordering concentrates the
    * join on RARE shingles, exactly opposite to a hot-key skew: the
    * candidate join's biggest bucket is bounded by the rarest-element df.
    * Exchange carries (shingle, doc) prefix rows only (at production scale
    * the shingles ride as 8-byte FNV hashes — the q26 discipline; strings
    * here keep the gate's intersection counts exact by construction). */
  def prefixFilterJoin(spark: SparkSession, dir: String,
                       tauNum: Int = 6, tauDen: Int = 10): DataFrame = {
    val sh = table(spark, dir, "documents")
      .select(col("doc_id"), split(col("text"), " ").as("ts"))
      .where(size(col("ts")) >= 3)
      .select(col("doc_id"), explode(expr(
        "transform(sequence(1, size(ts)-2), i -> concat_ws(' ', ts[i-1], ts[i], ts[i+1]))"))
        .as("s"))
      .distinct()
    val df = sh.groupBy("s").agg(count(lit(1)).as("df"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("doc_id").orderBy(col("df"), col("s"))
    val n = org.apache.spark.sql.expressions.Window.partitionBy("doc_id")
    val pfx = sh.join(df, "s")
      .withColumn("r", row_number().over(w))
      .withColumn("n", count(lit(1)).over(n))
      .where(col("r") <= col("n") - expr(s"($tauNum * n + ${tauDen - 1}) div $tauDen") + 1)
      .select(col("doc_id"), col("s"))
    // ~300k candidates at sf0.1: pin the distinct + verify width to a
    // MODERATE fan-out (quarter parallelism). AQE's byte-based coalescing
    // runs these string-probe stages 2-wide; full session width was
    // measured to inflate per-probe CPU ~7x (32 threads random-probing the
    // shared broadcast shingle relations saturate memory bandwidth), so
    // quarter width is the balance point on bandwidth-bound probe stages.
    val cand = pfx.as("a").join(pfx.as("b"),
        col("a.s") === col("b.s") && col("a.doc_id") < col("b.doc_id"))
      .select(col("a.doc_id").as("da"), col("b.doc_id").as("db"))
      .repartition(math.max(2, spark.sparkContext.defaultParallelism / 4),
        col("da"), col("db"))
      .distinct()
    val sz = sh.groupBy("doc_id").agg(count(lit(1)).as("n"))
    val inter = cand
      .join(sh.select(col("doc_id").as("da"), col("s")), Seq("da"))
      .join(sh.select(col("doc_id").as("db"), col("s")), Seq("db", "s"))
      .groupBy("da", "db").agg(count(lit(1)).as("c"))
    inter
      .join(sz.select(col("doc_id").as("da"), col("n").as("na")), Seq("da"))
      .join(sz.select(col("doc_id").as("db"), col("n").as("nb")), Seq("db"))
      .where(col("c") * tauDen >= (col("na") + col("nb") - col("c")) * tauNum)
      .select(col("da"), col("db"), col("c").as("n_inter"),
        (col("na") + col("nb") - col("c")).as("n_union"))
  }
}
