package graft.multimodal

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.synth.ImageSynth
import graft.text.Dedup

/** Perceptual-hash near-duplicate detection for IMAGES — the image-side
  * member of the dedup family (exact / minhash / simhash / embedding-cosine
  * cover text and vectors; this covers the pixel payload). Re-encodes,
  * crops and recompressions of the same picture move only a few bits of a
  * 64-bit average-hash/DCT phash, so "same image" ≡ small hamming distance
  * on `phash` — the int64 column the input table already carries
  * (BASELINE.json input_hint; reference row filtering is text/tag-based,
  * cf. osm-interactions/extractor.js:200-260 — the pixel-identity analog is
  * ours). Candidate generation is the SAME 4×16-bit pigeonhole join as
  * simhash ([[graft.text.Dedup.simhashCandidatePairs]] — one definition for
  * both modalities), with the shared dual-hub hot-bucket bound; exact
  * verification is `bit_count(xor)`. At 10^12 rows only (id, 8-byte hash)
  * ever enters an exchange — pixels stay in their parquet row groups.
  *
  * The gate corpus ([[plantedPhashCorpus]]) is analytic: groups of 3 images
  * share a splitmix-derived base hash, members 1/2 flip 1/2 splitmix-chosen
  * bits (re-encode noise), so within-group distances are ≤ 3 — exactly the
  * 4-segment pigeonhole guarantee radius — and cross-group distances sit at
  * ~32. DuckDB replays the corpus bit-for-bit (OracleSql.q78/q79), so the
  * hash gate proves the bucketed path finds EXACTLY the all-pairs ham≤3
  * relation. Real rendered-pixel phashes (ImageSynth.phashOf) are covered in
  * PhashDedupSpec, where near-identical renders must pair up.
  */
object PhashDedup {

  /** Deterministic planted corpus `(image_id, phash, caption)`: groups of 3,
    * base = mix(group + 3e7); member r flips r bits at mix-chosen positions
    * (a flip landing on the same position twice cancels — replayed
    * identically by the oracle); every 8th image (mix bit test) carries an
    * "-alt" caption so caption-conflict detection has planted positives. */
  def plantedPhashCorpus(spark: SparkSession, n: Long): DataFrame = {
    import spark.implicits._
    spark.range(0L, n, 1L, 8).map { i =>
      val g = i / 3
      val r = i % 3
      var ph = ImageSynth.mix(g + 30000000L)
      if (r >= 1) ph ^= 1L << (ImageSynth.mix(i * 8 + 1 + 40000000L) & 63L).toInt
      if (r == 2) ph ^= 1L << (ImageSynth.mix(i * 8 + 2 + 40000000L) & 63L).toInt
      val alt = (ImageSynth.mix(i + 50000000L) & 7L) == 0L
      (i, ph, s"cap-$g" + (if (alt) "-alt" else ""))
    }.toDF("image_id", "phash", "caption")
  }

  /** Image pairs within hamming distance [[Dedup.MaxHam]] of each other's
    * phash, via the shared pigeonhole candidate join. Returns (a, b, ham). */
  def phashNearDupPairs(corpus: DataFrame): DataFrame =
    Dedup.simhashCandidatePairs(
      corpus.select(col("image_id").as("doc_id"), col("phash").as("sh")),
      Dedup.MaxHam, Dedup.SegmentCap)

  /** Per-image dedup DECISION with cross-modal consistency: pairs →
    * connected components ([[graft.text.Dedup.componentLabels]]) → one
    * representative per component (min image_id, the q73 convention — no
    * length to prefer between renders of the same picture), plus a
    * `conflict` flag marking components whose members carry DIFFERENT
    * captions — near-dup images with disagreeing text are label noise a
    * caption-supervised training set must quarantine, not silently dedup
    * (either caption may be the wrong one).
    *
    * Scale shape (the dedupDecision discipline): the caption rollup and the
    * decision join run ONLY over dup-group members (O(dup members), label
    * propagation's output), materialized eagerly so the segment and label
    * checkpoints are freed on return; singletons arrive via an ids-only
    * left_anti with keep=1, conflict=0. Captions never enter the component
    * loop's shuffles. */
  def phashDupDecisions(corpus: DataFrame): DataFrame = graft.CacheOps.scope { s =>
    val pairs = phashNearDupPairs(corpus)
    val labels = Dedup.componentLabels(pairs)
    val members = corpus.select(col("image_id"), col("caption"))
      .join(labels.withColumnRenamed("doc_id", "image_id"), Seq("image_id"))
    val conflicts = members.groupBy(col("label"))
      .agg((countDistinct(col("caption")) > 1).as("has_conflict"))
    val decided = s.checkpoint(members.join(conflicts, Seq("label"))
      .select(col("image_id"), col("label").as("component"),
        when(col("image_id") === col("label"), 1L).otherwise(0L).as("keep"),
        when(col("has_conflict"), 1L).otherwise(0L).as("conflict")))
    val singles = corpus.select(col("image_id"))
      .join(decided.select(col("image_id")), Seq("image_id"), "left_anti")
      .select(col("image_id"), col("image_id").as("component"),
        lit(1L).as("keep"), lit(0L).as("conflict"))
    decided.unionByName(singles)
  }
}
