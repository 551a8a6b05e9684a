package graft

import org.scalatest.funsuite.AnyFunSuite
import graft.text.{Dedup, TextOps}
import graft.ann.Ann
import graft.Prop.forAllSeeded

class DedupSpec extends AnyFunSuite {

  private val vocab = Array("spark", "merge", "join", "scan", "agg", "window",
    "batch", "stream", "table", "vector", "tile", "cell", "hash", "sort")

  private def randText(r: Prop.Rng, n: Int): String =
    Array.fill(n)(vocab(r.int(0, vocab.length - 1))).mkString(" ")

  /** Word w-shingles of a document: the string-shingle reference the
    * Jaccard and MinHash properties below are stated over. */
  private def shingles(text: String, w: Int): Array[String] = {
    val t = text.split(' ')
    if (t.length < w) Array(text)
    else Array.tabulate(t.length - w + 1)(i => t.slice(i, i + w).mkString(" "))
  }

  private def signature(sh: Array[String], k: Int): Array[Long] =
    Dedup.minhashSigFromHashes(sh.map(Dedup.hash64).sorted, k)

  test("shingles: count and content") {
    val sh = shingles("a b c d e", 3)
    assert(sh.toSeq == Seq("a b c", "b c d", "c d e"))
    assert(shingles("a b", 3).toSeq == Seq("a b"))
  }

  private def trueJaccard(a: String, b: String, w: Int): Double = {
    val sa = shingles(a, w).toSet; val sb = shingles(b, w).toSet
    sa.intersect(sb).size.toDouble / sa.union(sb).size
  }

  test("minhash estimate tracks true Jaccard (property, k=128)") {
    var sumErr = 0.0; var n = 0
    forAllSeeded(60, seed = 7) { r =>
      val base = randText(r, 60)
      // mutate a suffix to create a partially-overlapping doc
      val keep = r.int(10, 55)
      val b = base.split(' ').take(keep).mkString(" ") + " " + randText(r, 60 - keep)
      val t = trueJaccard(base, b, 3)
      val sa = signature(shingles(base, 3), 128)
      val sb = signature(shingles(b, 3), 128)
      val est = sa.zip(sb).count { case (x, y) => x == y } / 128.0
      sumErr += math.abs(est - t); n += 1
      assert(math.abs(est - t) < 0.25, s"est=$est true=$t")
    }
    assert(sumErr / n < 0.08, s"mean |err| = ${sumErr / n}")
  }

  test("minhash: identical docs -> identical signatures; disjoint docs -> low match") {
    val a = "alpha beta gamma delta epsilon zeta eta theta"
    val sigA = signature(shingles(a, 3), 64)
    val sigA2 = signature(shingles(a, 3), 64)
    assert(sigA.toSeq == sigA2.toSeq)
    val b = "one two three four five six seven eight nine ten"
    val sigB = signature(shingles(b, 3), 64)
    assert(sigA.zip(sigB).count { case (x, y) => x == y } <= 3)
  }

  test("simhash: small perturbation -> small hamming; random pair -> near 32") {
    forAllSeeded(40, seed = 11) { r =>
      val a = randText(r, 80)
      val toks = a.split(' ')
      val b = (toks.take(76) ++ Array("changed", "words", "here", "now")).mkString(" ")
      val ha = java.lang.Long.bitCount(Dedup.simhash64(a) ^ Dedup.simhash64(b))
      assert(ha <= 24, s"near-dup hamming $ha")
    }
    // the 14-word vocab makes 50-token bags nearly identical; use a wide
    // vocab so "random pair" really means disjoint content
    val r = new Prop.Rng(99)
    def wideText(n: Int): String = Array.fill(n)("w" + r.int(0, 5000)).mkString(" ")
    var tot = 0
    for (_ <- 1 to 30)
      tot += java.lang.Long.bitCount(Dedup.simhash64(wideText(50)) ^ Dedup.simhash64(wideText(50)))
    val mean = tot / 30.0
    assert(mean > 20 && mean < 44, s"random-pair mean hamming $mean")
  }

  test("hash64 is stable and spread") {
    assert(Dedup.hash64("spark") == Dedup.hash64("spark"))
    assert(Dedup.hash64("spark") != Dedup.hash64("sparl"))
  }

  test("fingerprint is order-sensitive (rolling, not bag-of-words)") {
    assert(TextOps.fingerprint("a b c") != TextOps.fingerprint("c b a"))
    assert(TextOps.fingerprint("a b c") == TextOps.fingerprint("a b c"))
  }
}

class AnnSpec extends AnyFunSuite {

  test("cosine: identical=1, orthogonal=0, opposite=-1") {
    val a = Array(1.0, 0.0, 2.0)
    assert(math.abs(Ann.cosine(a, a) - 1.0) < 1e-12)
    assert(math.abs(Ann.cosine(Array(1.0, 0.0), Array(0.0, 5.0))) < 1e-12)
    assert(math.abs(Ann.cosine(a, a.map(-_)) + 1.0) < 1e-12)
  }

  test("hyperplanes are deterministic and in [-1,1)") {
    val p1 = Ann.hyperplanes(16, 8); val p2 = Ann.hyperplanes(16, 8)
    assert(p1.flatten.toSeq == p2.flatten.toSeq)
    assert(p1.flatten.forall(v => v >= -1.0 && v < 1.0))
  }

  test("signature: close vectors collide more than far ones (property)") {
    val planes = Ann.hyperplanes(16, 16)
    var nearSame = 0; var farSame = 0; var n = 0
    forAllSeeded(100, seed = 5) { r =>
      val v = Array.fill(16)(r.double(-1, 1))
      val near = v.map(_ + r.double(-0.02, 0.02))
      val far = Array.fill(16)(r.double(-1, 1))
      val s = Ann.signature(v, planes)
      nearSame += 16 - java.lang.Long.bitCount(s ^ Ann.signature(near, planes))
      farSame += 16 - java.lang.Long.bitCount(s ^ Ann.signature(far, planes))
      n += 1
    }
    assert(nearSame > farSame + n, s"near=$nearSame far=$farSame")
  }
}

/** SQ8 scalar-quantization tier: mechanics bound + honest quality metric
  * (the q66 gate pins the mechanics against DuckDB; recall vs full
  * precision is what quantization actually costs). */
class SqSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import graft.ann.Ann

  test("SQ8 roundtrip error is bounded by step/2 per component") {
    val rng = new Prop.Rng(5)
    for (_ <- 1 to 50) {
      val v = Array.fill(64)(rng.double(-2, 2))
      val (lo, step, codes) = Ann.sqQuantize(v)
      v.indices.foreach { i =>
        val r = lo + (codes(i) + 128).toDouble * step
        assert(math.abs(r - v(i)) <= step / 2 + 1e-12,
          s"component $i: ${v(i)} reconstructed $r (step $step)")
      }
    }
  }

  test("SQ8 constant vector quantizes to all-zero codes, reconstructs exactly") {
    val (lo, step, codes) = Ann.sqQuantize(Array.fill(16)(3.25))
    assert(lo == 3.25 && step == 0.0 && codes.forall(_ == -128))
  }

  test("SQ8 top-k recall vs full-precision brute force") {
    import spark.implicits._
    val dir = "/tmp/sq_spec_dir"
    graft.pipeline.Checkpoint.deleteRecursively(java.nio.file.Paths.get(dir))
    val rng = new Prop.Rng(11)
    val rows = (0L until 500L).map(i => (i, Array.fill(64)(rng.double(-1, 1).toFloat)))
    rows.toDF("vec_id", "embedding").write.parquet(s"$dir/embeddings.parquet")
    val brute = Ann.bruteTopK(spark, dir).collect()
      .map(r => (r.getLong(0), r.getLong(1))).groupBy(_._1)
    val sq = Ann.sqTopK(spark, dir).collect()
      .map(r => (r.getLong(0), r.getLong(1))).groupBy(_._1)
    brute.foreach { case (qid, hits) =>
      val b = hits.map(_._2).toSet
      val s = sq.getOrElse(qid, Array.empty[(Long, Long)]).map(_._2).toSet
      val recall = (b intersect s).size.toDouble / b.size
      assert(recall >= 0.8, s"qid $qid recall $recall (brute $b vs sq $s)")
    }
  }
}

/** Repetition filter: hand-computable fixture for the run-length mode fold
  * and the bigram shares (the q68 gate proves corpus-wide agreement with an
  * independent group-by derivation; this pins the arithmetic on a case a
  * human can check). */
class RepetitionSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark

  test("duplicate-bigram and top-token shares on a hand-checked doc") {
    import spark.implicits._
    val dir = "/tmp/rep_spec_dir"
    graft.pipeline.Checkpoint.deleteRecursively(java.nio.file.Paths.get(dir))
    Seq((1L, "src0", "a a a b"), (2L, "src0", "x y z w"), (3L, "src0", "solo"))
      .toDF("doc_id", "source", "text").write.parquet(s"$dir/documents.parquet")
    val got = graft.text.TextOps.repetitionFilter(spark, dir).collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4), r.getBoolean(5))))
      .toMap
    // doc 1: bigrams [a a, a a, a b] -> 3 total, 2 distinct, dup 3333 bp;
    // mode token a = 3 of 4 -> 7500 bp; 3333 >= 3000 -> dropped
    assert(got(1L) == ((3L, 2L, 3333L, 7500L, false)))
    // doc 2: all distinct -> dup 0, mode 1/4 = 2500 bp, kept
    assert(got(2L) == ((3L, 3L, 0L, 2500L, true)))
    // doc 3: single token -> degenerate bigram = the text itself
    assert(got(3L) == ((1L, 1L, 0L, 10000L, true)))
  }
}

/** Duplicated-span detection (q71) and the dedup decision list (q70):
  * planted fixtures with plain-loop truth. The gates prove corpus-wide
  * agreement with independent DuckDB derivations (span STRINGS vs the
  * engine's hashes; recursive closure vs label propagation); these pin the
  * semantics on inputs a human can check — including the df-cap dropping a
  * boilerplate span and the longest-member representative election. */
class SpanDedupSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark

  test("spanDup finds exactly the planted shared k-token spans; df-cap drops boilerplate") {
    import spark.implicits._
    val dir = "/tmp/span_spec_dir"
    graft.pipeline.Checkpoint.deleteRecursively(java.nio.file.Paths.get(dir))
    val k = 6
    val shared1 = (1 to k).map(i => s"s$i").mkString(" ")   // docs 1+2
    val shared2 = (1 to k).map(i => s"t$i").mkString(" ")   // docs 3+4+5
    val boiler = (1 to k).map(i => s"b$i").mkString(" ")    // docs 10..15 (6 docs > maxDf)
    def pad(p: String, n: Int) = (1 to n).map(i => s"$p$i").mkString(" ")
    val docs = Seq(
      (1L, s"${pad("a", 8)} $shared1"),
      (2L, s"$shared1 ${pad("c", 8)}"),
      (3L, s"${pad("d", 4)} $shared2 ${pad("e", 4)}"),
      (4L, s"$shared2 ${pad("f", 8)}"),
      (5L, s"${pad("g", 8)} $shared2"),
      (6L, pad("h", 20)), // singleton: shares nothing
      (7L, pad("zz", 3)) // shorter than k: no spans at all
    ) ++ (10L to 15L).map(i => (i, s"${pad(s"x$i", 8)} $boiler"))
    docs.map { case (id, t) => (id, "src0", t) }
      .toDF("doc_id", "source", "text").write.parquet(s"$dir/documents.parquet")
    // plain-loop truth with the same df-cap
    def spans(t: String): Set[String] =
      t.split(' ').sliding(k).filter(_.length == k).map(_.mkString(" ")).toSet
    val byDoc = docs.map { case (id, t) => id -> spans(t) }.toMap
    val df = byDoc.values.flatten.groupBy(identity).map { case (s, xs) => s -> xs.size }
    val surviving = byDoc.map { case (id, ss) => id -> ss.filter(df(_) <= 5) }
    val want = (for {
      a <- docs.map(_._1); b <- docs.map(_._1) if a < b
      n = (surviving(a) intersect surviving(b)).size if n > 0
    } yield (a, b, n.toLong)).toSet
    assert(want.exists(_._3 > 1) || want.nonEmpty)
    val got = Dedup.spanDup(spark, dir, k = k, maxDf = 5)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    assert(got == want, s"missed=${(want -- got).take(5)} extra=${(got -- want).take(5)}")
    // the boilerplate span must NOT appear as pairs among docs 10..15
    assert(!got.exists { case (a, b, _) => a >= 10L && b <= 15L && a < b && a >= 10L })
  }

  test("dedupDecision: longest member wins, ties to lowest id, singletons keep") {
    import spark.implicits._
    val dir = "/tmp/decision_spec_dir"
    graft.pipeline.Checkpoint.deleteRecursively(java.nio.file.Paths.get(dir))
    val a = (1 to 30).map(i => s"w$i").mkString(" ")
    val b = (1 to 20).map(i => s"v$i").mkString(" ")
    val docs = Seq(
      (1L, a), (2L, a), (3L, a),      // identical triple: tie -> doc 1 kept
      (4L, b), (5L, b + " v21"),      // near-dup pair: doc 5 is LONGER -> kept
      (6L, (1 to 10).map(i => s"p$i").mkString(" ")), // singletons
      (7L, (1 to 10).map(i => s"q$i").mkString(" ")))
    docs.map { case (id, t) => (id, "src0", t) }
      .toDF("doc_id", "source", "text").write.parquet(s"$dir/documents.parquet")
    val got = Dedup.dedupDecision(spark, dir)
      .collect().map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2), r.getLong(3)))).toMap
    assert(got.size == 7)
    assert(got(1L) == ((1L, 30L, 1L)))
    assert(got(2L) == ((1L, 30L, 0L)))
    assert(got(3L) == ((1L, 30L, 0L)))
    assert(got(4L) == ((4L, 20L, 0L)))
    assert(got(5L) == ((4L, 21L, 1L))) // longer member elected over lower id
    assert(got(6L) == ((6L, 10L, 1L)))
    assert(got(7L) == ((7L, 10L, 1L)))
  }

  test("leakageSafeSplit: every verified near-dup pair shares a split; assignment is deterministic") {
    import spark.implicits._
    val dir = "/tmp/split_spec_dir"
    graft.pipeline.Checkpoint.deleteRecursively(java.nio.file.Paths.get(dir))
    // several identical groups (guaranteed minhash pairs) + singletons, ids
    // spread so salted-mix split draws differ across components
    val docs = (0 until 12).flatMap { g =>
      val t = (1 to 25).map(i => s"g${g}w$i").mkString(" ")
      Seq((g * 10L, t), (g * 10L + 1, t))
    } ++ (500L to 520L).map(i => (i, (1 to 15).map(j => s"s${i}x$j").mkString(" ")))
    docs.map { case (id, t) => (id, "src0", t) }
      .toDF("doc_id", "source", "text").write.parquet(s"$dir/documents.parquet")
    val rows = Dedup.leakageSafeSplit(spark, dir).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getString(3)))
    assert(rows.length == docs.length)
    val splitOf = rows.map(r => r._1 -> r._4).toMap
    val pairs = Dedup.minhashLsh(spark, dir, maxBucket = Int.MaxValue)
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    assert(pairs.length >= 12)
    pairs.foreach { case (a, b) =>
      assert(splitOf(a) == splitOf(b), s"pair ($a,$b) straddles splits: ${splitOf(a)} vs ${splitOf(b)}")
    }
    // members of a component carry the component's draw, not their own
    val byComp = rows.groupBy(_._2)
    byComp.foreach { case (_, ms) =>
      assert(ms.map(_._3).distinct.length == 1)
      assert(ms.map(_._4).distinct.length == 1)
    }
    // deterministic across invocations
    val again = Dedup.leakageSafeSplit(spark, dir).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getString(3)))
    assert(rows.sortBy(_._1).toSeq == again.sortBy(_._1).toSeq)
    // the splitmix draw actually spreads: singletons cover >1 split
    assert(rows.filter(_._1 >= 500L).map(_._4).distinct.length > 1)
  }

  test("decontaminate: planted benchmark leak flagged, clean doc scores zero overlap") {
    import spark.implicits._
    val dir = "/tmp/decon_spec_dir"
    graft.pipeline.Checkpoint.deleteRecursively(java.nio.file.Paths.get(dir))
    val bench = (1 to 20).map(i => s"e$i").mkString(" ")
    val docs = Seq(
      (0L, bench),                                     // the eval doc
      (1L, (1 to 15).map(i => s"o$i").mkString(" ")),  // second eval doc
      // train: a verbatim copy of the benchmark padded with fresh tokens
      (10L, s"${(1 to 10).map(i => s"p$i").mkString(" ")} $bench"),
      // train: clean
      (11L, (1 to 30).map(i => s"c$i").mkString(" ")),
      // train: one shared 3-gram only (below the 2000 bp bar)
      (12L, s"e1 e2 e3 ${(1 to 27).map(i => s"d$i").mkString(" ")}"))
    docs.map { case (id, t) => (id, "src0", t) }
      .toDF("doc_id", "source", "text").write.parquet(s"$dir/documents.parquet")
    val got = Dedup.decontaminate(spark, dir, evalMax = 2L)
      .collect().map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4))))
      .toMap
    assert(got.keySet == Set(10L, 11L, 12L))
    // doc 10: 28 distinct shingles, the bench's 18 all present -> 6428 bp
    assert(got(10L) == ((28L, 18L, 6428L, 1L)))
    assert(got(11L) == ((28L, 0L, 0L, 0L)))
    // doc 12: shares exactly the "e1 e2 e3" shingle -> 1 of 28 = 357 bp, kept
    assert(got(12L) == ((28L, 1L, 357L, 0L)))
  }
}

class Bm25Spec extends AnyFunSuite {
  lazy val spark = TestSpark.spark

  test("bm25TopTerms equals a plain-loop exact-rational replica; rarer-term-wins holds") {
    import spark.implicits._
    val docs = Seq(
      (0L, "the cat sat on the mat"),
      (1L, "the dog sat on the log"),
      (2L, "quantum flux capacitor the the the"),
      (3L, "cat cat cat dog dog quantum"),
      (4L, "a lone document about tiles"))
    val dir = java.nio.file.Files.createTempDirectory("bm25").toString
    docs.toDF("doc_id", "text").withColumn("lang", org.apache.spark.sql.functions.lit("en"))
      .write.parquet(s"$dir/documents.parquet")
    // plain-loop replica of the documented exact-rational arithmetic
    val tokenized = docs.map { case (id, t) => id -> t.split(' ').toSeq }.toMap
    val dD = BigInt(docs.size)
    val s = BigInt(tokenized.values.map(_.size).sum)
    val dfm = tokenized.values.flatMap(_.distinct).groupBy(identity).map { case (k, v) => k -> BigInt(v.size) }
    val want = docs.flatMap { case (id, _) =>
      val ts = tokenized(id)
      val l = BigInt(ts.size)
      val scored = ts.distinct.map { term =>
        val f = BigInt(ts.count(_ == term))
        val dfT = dfm(term)
        val num = BigInt(22) * f * s * (2 * dD - 2 * dfT + 1)
        val den = (BigInt(10) * f * s + BigInt(3) * s + BigInt(9) * l * dD) * (2 * dfT + 1)
        (term, ((BigInt(2000000) * num + den) / (den * 2)).toLong)
      }
      scored.sortBy { case (t, sc) => (-sc, t) }.take(5).zipWithIndex
        .map { case ((t, sc), i) => (id, t, sc, i + 1) }
    }.toSet
    val got = TextOps.bm25TopTerms(spark, dir).collect()
      .map(r => (r.getLong(0), r.getString(1), r.getLong(2), r.getInt(3))).toSet
    assert(got == want, s"missed=${(want -- got).take(3)} extra=${(got -- want).take(3)}")
    // 'quantum' (df=2) must outrank 'the' (df=4) in doc 2 despite tf 1 vs 3
    val d2 = got.filter(_._1 == 2L).toSeq.sortBy(_._4).map(_._2)
    assert(d2.indexOf("quantum") < d2.indexOf("the"), s"idf ordering violated: $d2")
  }

  test("bm25 scores are positive and rank is dense 1..k per doc") {
    val out = TextOps.bm25TopTerms(spark, "/root/testdata/sf0.001").collect()
    assert(out.nonEmpty)
    assert(out.forall(_.getLong(2) > 0L))
    val byDoc = out.groupBy(_.getLong(0))
    byDoc.foreach { case (_, rows) =>
      val ranks = rows.map(_.getInt(3)).sorted.toSeq
      assert(ranks == (1 to ranks.size), s"ranks not dense: $ranks")
    }
  }
}
