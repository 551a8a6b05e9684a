package graft.text

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.CacheOps
import graft.Session.table

/** Text-analysis operators for a training-data pipeline over the `documents`
  * table: quality scoring, token counting, language-ID, fingerprinting.
  * Everything oracle-checked is pure integer/Column algebra; the fingerprint
  * (a loop) is a documented UDF with ScalaTest coverage.
  */
object TextOps {

  /** The gate inputs their oracles read: [[invertedQuery]]'s AND-query terms
    * (q126) and [[termLift]]'s pair co-occurrence floor (q132). */
  val QueryTerms: Seq[String] = Seq("dup", "key", "fast")
  val LiftMinCab = 25L

  val Stopwords: Seq[String] = Seq(
    "the", "a", "an", "and", "or", "of", "to", "in", "is", "it", "on", "for", "with", "as", "at", "by")

  /** Per-language marker lists for the n-gram/stopword language heuristic. */
  val LangMarkers: Map[String, Seq[String]] = Map(
    "en" -> Seq("the", "and", "of", "to", "is", "with"),
    "fr" -> Seq("le", "la", "les", "et", "de", "un"),
    "de" -> Seq("der", "die", "das", "und", "ist", "ein"),
    "es" -> Seq("el", "la", "los", "y", "de", "es"))

  private def toks = split(col("text"), " ")

  /** Stop-word hit count over the token array (shared by quality scoring,
    * the percentile thresholds and the band filter — ONE definition, so the
    * filter can never desynchronize from the thresholds it compares against;
    * the q22/q51/q52 oracles encode the same expression). */
  private def stopHitsOf(t: org.apache.spark.sql.Column) =
    size(filter(t, x => x.isin(Stopwords.map(lit(_)): _*)))

  /** Stop-word ratio in basis points (integer division — exact). */
  private def stopBpOf(t: org.apache.spark.sql.Column) =
    ((stopHitsOf(t) * 10000L) / size(t)).cast("long")

  /** Quality scoring (length / stopword / token-shape features) — the
    * heuristics a pretraining filter computes per document. All-integer
    * outputs + one exact ratio in basis points. */
  def quality(spark: SparkSession, dir: String): DataFrame = {
    val t = toks
    val nTok = size(t)
    table(spark, dir, "documents").select(
      col("doc_id"),
      length(col("text")).as("n_chars"),
      nTok.as("n_tokens"),
      stopHitsOf(t).as("n_stopwords"),
      // mean token length ×100, exact integer arithmetic
      (((length(col("text")) - nTok + 1) * 100L) / nTok).cast("long").as("mean_tok_len_c"),
      stopBpOf(t).as("stop_bp"),
      size(filter(t, x => length(x) >= 8)).as("n_long_tokens"))
  }

  /** Intra-document repetition filter — the standard pretraining quality
    * gate that catches boilerplate/spam the cross-document dedup family
    * cannot (a document can be unique corpus-wide yet mostly repeat
    * itself): the duplicate fraction of word bigrams plus the most-frequent
    * single token's share, both in exact basis points, and the keep/drop
    * verdict at the conventional 30% duplicate-bigram bar. Pure Column
    * algebra (split → slide → array_distinct → aggregate over
    * sorted tokens for the mode count), so the whole thing stays inside
    * whole-stage codegen; one scan, no shuffle. */
  def repetitionFilter(spark: SparkSession, dir: String): DataFrame = {
    val t = toks
    val n = size(t)
    // word bigrams: tok[i] + ' ' + tok[i+1] for i in 0..n-2 (degenerate
    // 1-token doc -> the token itself, matching shingleHashes' short-doc rule)
    val bigrams = when(n < 2, array(col("text"))).otherwise(
      transform(sequence(lit(0), n - 2),
        i => concat(element_at(t, i + 1), lit(" "), element_at(t, i + 2))))
    val nBg = size(bigrams)
    val nDist = size(array_distinct(bigrams))
    // mode count over tokens: run-length scan of the SORTED token array via
    // aggregate() — (current run token, run length, best) carried in a struct
    val sorted = array_sort(t)
    val mode = aggregate(
      sorted,
      struct(lit("").as("tok"), lit(0L).as("run"), lit(0L).as("best")),
      (acc, x) => {
        val run = when(x === acc.getField("tok"), acc.getField("run") + 1L).otherwise(lit(1L))
        struct(x.as("tok"), run.as("run"), greatest(acc.getField("best"), run).as("best"))
      },
      acc => acc.getField("best"))
    table(spark, dir, "documents").select(
      col("doc_id"),
      nBg.cast("long").as("n_bigrams"),
      nDist.cast("long").as("n_distinct_bigrams"),
      (((nBg - nDist) * 10000L) / nBg).cast("long").as("dup_bigram_bp"),
      ((mode * 10000L) / n).cast("long").as("top_token_bp"),
      ((((nBg - nDist) * 10000L) / nBg) < 3000L).as("kept"))
  }

  /** Token counting: whitespace tokens + a BPE-ish estimate (ceil(chars/4) —
    * the standard ~4-chars/token heuristic) + distinct tokens. */
  def tokenStats(spark: SparkSession, dir: String): DataFrame =
    table(spark, dir, "documents").select(
      col("doc_id"),
      size(toks).as("ws_tokens"),
      ceil(length(col("text")) / lit(4.0)).cast("long").as("bpe_est"),
      size(array_distinct(toks)).as("distinct_tokens"))

  /** Language-ID heuristic: marker-word hits per language, deterministic
    * argmax (ties → language-code order). */
  def langId(spark: SparkSession, dir: String): DataFrame = {
    val t = toks
    val hits = LangMarkers.toSeq.sortBy(_._1).map { case (lang, ms) =>
      size(filter(t, x => lower(x).isin(ms.map(lit(_)): _*))).as(s"hits_$lang")
    }
    val df = table(spark, dir, "documents").select((col("doc_id") +: col("lang").as("true_lang") +: hits): _*)
    // deterministic argmax over the hit columns, ties resolved alphabetically
    val langs = LangMarkers.keys.toSeq.sorted
    val best = langs.foldLeft((lit("und"), lit(0L))) { case ((bl, bh), lang) =>
      val h = col(s"hits_$lang").cast("long")
      (when(h > bh, lit(lang)).otherwise(bl), when(h > bh, h).otherwise(bh))
    }
    df.withColumn("pred_lang", best._1)
      .select((Seq(col("doc_id"), col("true_lang"), col("pred_lang")) ++
        langs.map(l => col(s"hits_$l"))): _*)
  }

  /** Per-language EXACT quality-score percentiles — the curve a pretraining
    * filter thresholds against ("drop docs below the language's p10"). Exact
    * `percentile` (not the sketch) over the integer stop-word ratio, reported
    * in e6 fixed-point; at 10^12 rows swap in `percentile_approx` with the
    * same shape (the exact variant is what the oracle can certify). */
  def qualityPercentiles(spark: SparkSession, dir: String): DataFrame = {
    table(spark, dir, "documents")
      .select(col("lang"), stopBpOf(toks).as("stop_bp"))
      .groupBy(col("lang"))
      .agg(count(lit(1)).as("n_docs"),
        percentile(col("stop_bp"), array(lit(0.1), lit(0.5), lit(0.9))).as("ps"))
      .select(col("lang"), col("n_docs"),
        floor(element_at(col("ps"), 1) * lit(1e6) + lit(0.5)).cast("long").as("p10_e6"),
        floor(element_at(col("ps"), 2) * lit(1e6) + lit(0.5)).cast("long").as("p50_e6"),
        floor(element_at(col("ps"), 3) * lit(1e6) + lit(0.5)).cast("long").as("p90_e6"))
  }

  /** The filter those percentiles exist for: keep each language's central
    * quality band ([p10, p90] of the stop-word ratio), dropping both tails —
    * the canonical two-pass shape of a distribution-calibrated pretraining
    * filter (pass 1 computes thresholds — an aggregate of the scan; pass 2
    * filters against the broadcast 4-row threshold table). Comparison happens
    * in e6-integer space on exactly the values q51 certifies, so the band
    * edges cannot FP-flip. */
  def qualityBandFilter(spark: SparkSession, dir: String): DataFrame = {
    val scored = table(spark, dir, "documents")
      .select(col("lang"), col("doc_id"), col("source"),
        stopBpOf(toks).as("stop_bp"))
    val th = qualityPercentiles(spark, dir).select(col("lang"), col("p10_e6"), col("p90_e6"))
    scored.join(broadcast(th), Seq("lang"))
      .filter(col("stop_bp") * lit(1000000L) >= col("p10_e6") &&
        col("stop_bp") * lit(1000000L) <= col("p90_e6"))
      .groupBy(col("lang"))
      .agg(count(lit(1)).as("n_kept"),
        countDistinct(col("source")).as("n_sources"),
        min(col("stop_bp")).as("min_bp"), max(col("stop_bp")).as("max_bp"))
  }

  /** Deterministic hash-based downsampling — the data-mixing primitive: each
    * source keeps `rate_bp` basis points of its documents, selected by a
    * splitmix64 of the stable doc_id (a codegen expression, so the sampling
    * predicate can push toward the scan and the same row is kept on every
    * rerun/cluster — reproducible mixes, no RNG state). Rates here derive
    * from the source index (src0 keeps all … src19 keeps 14.5%); a real run
    * passes its mixing table the same way. */
  def mixSample(spark: SparkSession, dir: String): DataFrame = {
    import graft.functions.SeedExprs
    table(spark, dir, "documents")
      .select(col("source"), col("doc_id"))
      .withColumn("h_bp", SeedExprs.mixBp(col("doc_id")))
      .withColumn("rate_bp", lit(10000L) - substring(col("source"), 4, 10).cast("long") * 450L)
      .filter(col("h_bp") < col("rate_bp"))
      .groupBy(col("source"))
      .agg(count(lit(1)).as("n_kept"), min(col("rate_bp")).as("rate_bp"),
        max(col("h_bp")).as("max_h_bp"))
  }

  /** Mixing-rate derivation — the pass that PRODUCES [[mixSample]]'s rate
    * table: per-source whitespace-token totals, an equal per-source token
    * budget (half the corpus split `nSources` ways), and the resulting
    * keep-rate `min(1, budget/tokens)` in basis points. All integer
    * arithmetic (exact at any scale; the budget share uses integer division
    * on both sides), one aggregation + one tiny window over source totals. */
  def mixAllocation(spark: SparkSession, dir: String): DataFrame = {
    val perSource = table(spark, dir, "documents")
      .select(col("source"), size(toks).cast("long").as("n_tok"))
      .groupBy(col("source"))
      .agg(count(lit(1)).as("n_docs"), sum(col("n_tok")).as("src_tokens"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy()
      .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding,
        org.apache.spark.sql.expressions.Window.unboundedFollowing)
    perSource
      .withColumn("total_tokens", sum(col("src_tokens")).over(w))
      .withColumn("n_sources", count(lit(1)).over(w))
      // `div`, not `/`: Spark's / on longs is DOUBLE division; the mixing
      // table must be exact integer arithmetic to match the oracle's `//`
      .withColumn("budget_share", expr("(total_tokens div 2) div n_sources"))
      .withColumn("rate_bp",
        least(lit(10000L), expr("(budget_share * 10000) div src_tokens")))
      .select(col("source"), col("n_docs"), col("src_tokens"),
        col("budget_share"), col("rate_bp"))
  }

  /** Rolling polynomial document fingerprint (64-bit, from scratch): a
    * content-defined digest usable for shift-robust dedup. UDF by design —
    * loops over tokens; ScalaTest-verified, rows-only at the gate. */
  val fingerprint: String => Long = { text =>
    var h = 1469598103934665603L // FNV offset basis
    val ts = text.split(' ')
    var i = 0
    while (i < ts.length) {
      var j = 0
      val s = ts(i)
      while (j < s.length) { h = (h ^ s.charAt(j)) * 1099511628211L; j += 1 }
      h = java.lang.Long.rotateLeft(h, 13)
      i += 1
    }
    h
  }

  def fingerprints(spark: SparkSession, dir: String): DataFrame = {
    val f = udf(fingerprint)
    table(spark, dir, "documents")
      .select(col("doc_id"), f(col("text")).as("fp"))
      .groupBy((col("fp") % 64 + 64) % 64)
      .agg(count(lit(1)).as("n"))
      .toDF("fp_bucket", "n")
  }

  /** [[bm25TopTerms]]' terms per document; its q80 oracle reads it. */
  val Bm25TopK = 5

  /** BM25 term salience, EXACT-RATIONAL variant — per document, the [[Bm25TopK]]
    * highest-weighted terms under Okapi BM25 with k1 = 6/5, b = 3/4 and the
    * Robertson idf kept as a RATIO instead of its logarithm:
    *
    *   weight = (D − df + ½)/(df + ½) · tf·(k1+1)/(tf + k1·(1 − b + b·dl/avgdl))
    *          = 22·tf·S·(2D − 2df + 1) / [(10·tf·S + 3·S + 9·dl·D)·(2df + 1)]
    *
    * after clearing denominators with avgdl = S/D (S = corpus token count,
    * D = doc count, dl = doc length, all integers). The ln is omitted
    * DELIBERATELY: cross-engine libm `ln` is not IEEE-pinned (the one
    * mercator ln survives only behind a 2M-sample parity sweep), while this
    * form is exact integer arithmetic end to end — num and den are products
    * of counts, and the emitted `score_e6 = ⌊10⁶·num/den + ½⌋` is one
    * 128-bit integer floor-division both engines replay digit-for-digit.
    * Per-term ranking is order-isomorphic to standard BM25 at fixed (dl, df)
    * tf-saturation; across terms the idf ratio spreads wider than ln but
    * preserves the rarer-term-wins ordering.
    *
    * Scale shape: two token-shuffles (tf, dl — same exchange key for dl via
    * doc_id), one term-shuffle (df), the (D, S) corpus scalars ride a
    * broadcast 1-row crossJoin (no driver collect), and the 128-bit score
    * map is per-row. The top-K window partitions by doc_id — the same key
    * tf already carries. Strings shuffle once (tokens are the payload);
    * at 10^12 rows the term dictionary would be hash-encoded first, which
    * is q02's keytables operator composed in front. */
  def bm25TopTerms(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val tok = table(spark, dir, "documents")
      .select(col("doc_id"), explode(toks).as("term"))
    val tf = tok.groupBy(col("doc_id"), col("term")).agg(count(lit(1)).as("tf"))
    val dl = tok.groupBy(col("doc_id")).agg(count(lit(1)).as("dl"))
    val gs = dl.agg(count(lit(1)).as("d"), sum(col("dl")).as("s"))
    val dfreq = tf.groupBy(col("term")).agg(count(lit(1)).as("df"))
    val scored = tf.join(dl, "doc_id").join(dfreq, "term").crossJoin(broadcast(gs))
      .select(col("doc_id"), col("term"), col("tf"), col("dl"), col("df"),
        col("d"), col("s"))
      .as[(Long, String, Long, Long, Long, Long, Long)]
      .map { case (docId, term, f, l, dfT, dD, s) =>
        val num = BigInt(22) * f * s * (2 * dD - 2 * dfT + 1)
        val den = (BigInt(10) * f * s + BigInt(3) * s + BigInt(9) * l * dD) * (2 * dfT + 1)
        // both positive, so BigInt / IS floor; ⌊x+½⌋ = (2·10⁶·num + den) / (2·den)
        (docId, term, ((BigInt(2000000) * num + den) / (den * 2)).toLong)
      }.toDF("doc_id", "term", "score_e6")
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("doc_id")).orderBy(col("score_e6").desc, col("term"))
    scored.withColumn("rank", row_number().over(w)).filter(col("rank") <= Bm25TopK)
      .select(col("doc_id"), col("term"), col("score_e6"),
        col("rank").cast("int").as("rank"))
  }

  /** Gate query (q124): statistical LM quality scoring — a word-bigram MLE
    * model trained on the corpus in one aggregation, then every document
    * scored by Σ floor(10^6 · c(w1,w2) / c(w1·)) over its bigrams (the
    * integer-lattice stand-in for Σ log p, monotone per term and exactly
    * replayable — FP log-probs would hash-diverge on merge order). The
    * model tables are vocabulary-sized (bigram types, not tokens), so both
    * joins BROADCAST: at 10^12 documents the corpus is scanned twice and
    * never reshuffled — the model-scoring shape (train → broadcast →
    * map-side score) every quality-filter pipeline at scale uses. */
  def bigramLm(spark: SparkSession, dir: String): DataFrame = CacheOps.scope { s =>
    // the bigram relation has THREE consumers (both model aggs + the scoring
    // pass) — materialize the scan → split → explode subtree once (guide §2.4)
    val bg = s.checkpoint(table(spark, dir, "documents")
      .select(col("doc_id"), split(col("text"), " ").as("ts"))
      .where(size(col("ts")) >= 2)
      .select(col("doc_id"), explode(expr(
        "transform(sequence(1, size(ts)-1), i -> struct(ts[i-1] AS w1, ts[i] AS w2))"))
        .as("p"))
      .select(col("doc_id"), col("p.w1"), col("p.w2")))
    val cb = bg.groupBy("w1", "w2").agg(count(lit(1)).as("cb"))
    val cp = bg.groupBy("w1").agg(count(lit(1)).as("cp"))
    bg.join(broadcast(cb), Seq("w1", "w2"))
      .join(broadcast(cp), Seq("w1"))
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_bigrams"),
        sum(expr("(1000000 * cb) div cp")).as("score_e6"))
  }

  /** Gate query (q126): inverted-index build + conjunctive term query — the
    * text-retrieval primitive (build postings once, answer AND-queries by
    * intersection). The tf table IS the posting list relation keyed on
    * term; the conjunction is one aggregation over the three query terms'
    * postings (HAVING all terms present), never a scan of non-matching
    * documents — at 10^12 docs the query cost is Σ posting lengths, which
    * is why the index exists. Terms chosen for non-trivial selectivity
    * ('dup' df≈5%). */
  def invertedQuery(spark: SparkSession, dir: String,
                    terms: Seq[String] = QueryTerms): DataFrame = {
    val tf = table(spark, dir, "documents")
      .select(col("doc_id"), explode(split(col("text"), " ")).as("w"))
      .where(col("w").isin(terms: _*)) // posting-list access, pushed to scan
      .groupBy("doc_id", "w").agg(count(lit(1)).as("tf"))
    tf.groupBy("doc_id")
      .agg(count(lit(1)).as("n_terms"),
        sum(col("tf")).as("total_tf"),
        max(when(col("w") === terms(0), col("tf"))).as("tf_0"),
        max(when(col("w") === terms(1), col("tf"))).as("tf_1"),
        max(when(col("w") === terms(2), col("tf"))).as("tf_2"))
      .where(col("n_terms") === terms.length)
  }

  /** Gate query (q132): term-association (lift) over document co-occurrence
    * — lift(a,b) = N·c(a,b) / (c(a)·c(b)) in exact e6 integers (the
    * integer-rational stand-in for PMI: same ranking, merge-order-free).
    * The pair generation is a self-join on doc_id over DISTINCT (doc, term)
    * rows — bounded by per-doc vocabulary, not corpus size — and the
    * unigram counts broadcast. cab-floor keeps the output to the
    * statistically meaningful pairs. */
  def termLift(spark: SparkSession, dir: String, minCab: Long = LiftMinCab): DataFrame =
    CacheOps.scope { s =>
    // the distinct (doc, term) relation has FOUR consumers (unigram counts,
    // the N-docs count action, both sides of the pair self-join) —
    // materialize its scan + distinct exchange once (guide §2.4)
    val t = s.checkpoint(table(spark, dir, "documents")
      .select(col("doc_id"), explode(split(col("text"), " ")).as("w"))
      .distinct())
    val cw = t.groupBy("w").agg(count(lit(1)).as("c"))
    val nd = t.select("doc_id").distinct().count()
    val pair = t.as("a").join(t.as("b"),
        col("a.doc_id") === col("b.doc_id") && col("a.w") < col("b.w"))
      .groupBy(col("a.w").as("wa"), col("b.w").as("wb"))
      .agg(count(lit(1)).as("cab"))
      .where(col("cab") >= minCab)
    // fold 10^6·N into ONE long literal: `1000000 * nd` as separate SQL int
    // literals overflows 32-bit under ANSI at nd ≥ 2148 (bit at sf0.1)
    val scale = 1000000L * nd
    pair
      .join(broadcast(cw.select(col("w").as("wa"), col("c").as("ca"))), "wa")
      .join(broadcast(cw.select(col("w").as("wb"), col("c").as("cb"))), "wb")
      .select(col("wa"), col("wb"), col("cab"),
        expr(s"(${scale}L * cab) div (ca * cb)").as("lift_e6"))
  }

  private val EmailRe = "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}"
  private val PhoneRe = "555-[0-9]{4}"

  /** Gate query (q111): PII detection + redaction — the scrub pass every
    * training-data pipeline runs before tokenization. The corpus carries no
    * ambient PII (asserted by TextSpec), so deterministic emails/phones are
    * PLANTED per doc_id residue class and the expected counts are known by
    * construction; detection counts, the redacted length, AND the md5 of the
    * redacted text all hash-gate (md5 pins the exact replacement semantics,
    * not just the match count — both engines implement standard leftmost-
    * longest-free regex alternation-free patterns chosen to mean the same
    * thing in java.util.regex and RE2). Pure map-side: scan → project, no
    * shuffle; at 100 TB this runs inside the scan's codegen span with the
    * regexes compiled once per task. */
  def piiScrub(spark: SparkSession, dir: String): DataFrame = {
    val aug = table(spark, dir, "documents").select(col("doc_id"),
      concat(col("text"),
        when(col("doc_id") % 3 === 0,
          concat(lit(" reach me at user"), col("doc_id"),
            lit("@mail.example.org"))).otherwise(""),
        when(col("doc_id") % 5 === 0,
          concat(lit(" or 555-"),
            lpad(((col("doc_id") * 7919) % 10000).cast("string"), 4, "0")))
          .otherwise("")).as("t"))
    aug.select(col("doc_id"),
      regexp_count(col("t"), lit(EmailRe)).cast("long").as("n_emails"),
      regexp_count(col("t"), lit(PhoneRe)).cast("long").as("n_phones"),
      regexp_replace(regexp_replace(col("t"), EmailRe, "<EMAIL>"),
        PhoneRe, "<PHONE>").as("r"))
      .select(col("doc_id"), col("n_emails"), col("n_phones"),
        length(col("r")).cast("long").as("red_len"), md5(col("r")).as("red_md5"))
  }
}
