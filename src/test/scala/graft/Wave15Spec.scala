package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._
import graft.ops.Graph
import graft.text.TextOps
import graft.synth.ImageSynth.mix

class Wave15Spec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  val dir = "/root/testdata/sf0.001"

  test("bigram LM scores replay a plain-Scala MLE model") {
    val got = TextOps.bigramLm(spark, dir).collect()
      .map(r => (r.getLong(0), (r.getLong(1), r.getLong(2)))).toMap
    val docs = graft.Session.table(spark, dir, "documents")
      .select("doc_id", "text").collect()
      .map(r => (r.getLong(0), r.getString(1)))
    val cb = scala.collection.mutable.Map.empty[(String, String), Long].withDefaultValue(0L)
    val cp = scala.collection.mutable.Map.empty[String, Long].withDefaultValue(0L)
    val perDoc = docs.map { case (id, t) =>
      val ws = t.split(' ')
      val bgs = ws.zip(ws.drop(1))
      bgs.foreach { b => cb(b) += 1; cp(b._1) += 1 }
      (id, bgs)
    }
    val expect = perDoc.collect { case (id, bgs) if bgs.nonEmpty =>
      (id, (bgs.length.toLong, bgs.map(b => (1000000L * cb(b)) / cp(b._1)).sum))
    }.toMap
    assert(got == expect && got.nonEmpty)
  }

  test("kCore matches an order-independent peeling reference and refuses a tight round cap") {
    val n = 250; val m = 1500; val k = 8
    // plain-Scala peel
    var edges = (0 until m).flatMap { i =>
      val u = (mix(2L * i) & 0x7FFFFFFFL) % n
      val v = (mix(2L * i + 1) & 0x7FFFFFFFL) % n
      if (u != v) Some((math.min(u, v), math.max(u, v))) else None
    }.toSet
    var done = false
    while (!done) {
      val deg = edges.toSeq.flatMap(e => Seq(e._1, e._2))
        .groupBy(identity).map { case (a, b) => (a, b.size) }
      val drop = deg.filter(_._2 < k).keySet
      if (drop.isEmpty) done = true
      else edges = edges.filter(e => !drop.contains(e._1) && !drop.contains(e._2))
    }
    val expect = edges.toSeq.flatMap(e => Seq(e._1, e._2))
      .groupBy(identity).map { case (a, b) => (a, b.size.toLong) }
    val got = Graph.kCore(spark, n, m, k).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toMap
    assert(got == expect && got.nonEmpty)
    // the refusal path: the fixture needs 8 peel rounds, so a cap of 2 must
    // throw loudly rather than return a not-yet-fixed superset
    val before = Residue.persisted(spark)
    val confs = Residue.loopConfs(spark)
    val ex = intercept[IllegalArgumentException] {
      Graph.kCore(spark, n, m, k, maxRounds = 2).collect()
    }
    assert(ex.getMessage.contains("did not converge"))
    // the refusal frees the loop's checkpoints and restores the session confs
    assert(Residue.persisted(spark) -- before == Set.empty)
    assert(Residue.loopConfs(spark) == confs)
  }

  test("inverted query: conjunctive semantics against a direct per-doc scan") {
    val terms = Seq("dup", "key", "fast")
    val got = TextOps.invertedQuery(spark, dir, terms).collect()
      .map(r => (r.getLong(0), (r.getLong(2), r.getLong(3), r.getLong(4), r.getLong(5))))
      .toMap
    val expect = graft.Session.table(spark, dir, "documents")
      .select("doc_id", "text").collect().flatMap { r =>
        val ws = r.getString(1).split(' ')
        val tfs = terms.map(t => ws.count(_ == t).toLong)
        if (tfs.forall(_ > 0)) Some((r.getLong(0), (tfs.sum, tfs(0), tfs(1), tfs(2))))
        else None
      }.toMap
    assert(got == expect && got.nonEmpty, s"got ${got.size} docs")
  }
}
