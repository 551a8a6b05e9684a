package graft

import org.scalatest.funsuite.AnyFunSuite
import graft.pipeline.ImagePipeline
import graft.geo.GeoJson

class GeoJsonSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark

  test("feature lines are valid JSON with key-sorted properties") {
    val line = GeoJson.feature(GeoJson.pointGeometry(-122.42, 37.77),
      Seq("uid" -> 42L, "e" -> "CRE", "sq" -> 1.5, "note" -> "a\"b"))
    assert(line ==
      """{"type":"Feature","properties":{"e":"CRE","note":"a\"b","sq":1.5,"uid":42},"geometry":{"type":"Point","coordinates":[-122.42,37.77]}}""")
  }

  test("polygon ring geometry + dataframe sink path") {
    import org.apache.spark.sql.functions._
    val df = graft.spatial.PipJoin.join(ImagePipeline.fastFeatures(spark, 50, 2),
      ImagePipeline.metroBoundaries, "lon", "lat")
      .select(col("lon"), col("lat"), col("uid"), col("boundary_id"))
    val lines = GeoJson.pointFeatures(df).collect()
    assert(lines.nonEmpty)
    lines.foreach { l =>
      assert(l.startsWith("""{"type":"Feature","properties":{"boundary_id":"""))
      assert(l.contains(""""geometry":{"type":"Point","coordinates":["""))
    }
  }
}

class PhashDedupSpec extends AnyFunSuite {
  import graft.multimodal.PhashDedup
  import graft.synth.ImageSynth
  lazy val spark = TestSpark.spark

  private def loopPairs(rows: Seq[(Long, Long)], maxHam: Int): Set[(Long, Long, Int)] =
    (for {
      (a, pa) <- rows; (b, pb) <- rows if a < b
      d = java.lang.Long.bitCount(pa ^ pb) if d <= maxHam
    } yield (a, b, d)).toSet

  test("planted corpus: bucketed pigeonhole pairs == plain-loop all-pairs at ham<=3") {
    val corpus = PhashDedup.plantedPhashCorpus(spark, 400)
    val rows = corpus.collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
    val got = PhashDedup.phashNearDupPairs(corpus).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet
    val want = loopPairs(rows, 3)
    assert(want.nonEmpty, "planted corpus produced no near-dup pairs")
    assert(got == want, s"missed=${(want -- got).take(3)} extra=${(got -- want).take(3)}")
  }

  test("dup decisions: union-find truth for components, keeps, caption conflicts; singletons covered") {
    val corpus = PhashDedup.plantedPhashCorpus(spark, 300).localCheckpoint()
    val crows = corpus.collect().map(r => (r.getLong(0), r.getLong(1), r.getString(2)))
    val pairs = loopPairs(crows.map(c => (c._1, c._2)).toSeq, 3)
    // union-find truth
    val parent = scala.collection.mutable.Map((0L until 300L).map(i => i -> i): _*)
    def find(x: Long): Long = if (parent(x) == x) x else { parent(x) = find(parent(x)); parent(x) }
    pairs.foreach { case (a, b, _) =>
      val (ra, rb) = (find(a), find(b)); if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
    }
    val comp = (0L until 300L).map(i => i -> find(i)).toMap
    val minId = comp.groupBy(_._2).map { case (c, m) => c -> m.keys.min }
    val caps = crows.groupBy(r => minId(comp(r._1))).map { case (c, m) => c -> m.map(_._3).toSet }
    val want = crows.map { r =>
      val c = minId(comp(r._1))
      (r._1, c, if (r._1 == c) 1L else 0L, if (caps(c).size > 1) 1L else 0L)
    }.toSet
    val got = PhashDedup.phashDupDecisions(corpus).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))).toSet
    assert(got.size == 300, "every image must receive a decision row")
    assert(got == want, s"missed=${(want -- got).take(3)} extra=${(got -- want).take(3)}")
    assert(want.exists(_._4 == 1L), "planted corpus must contain caption conflicts")
    assert(want.exists(r => r._3 == 1L && r._1 == r._2 && r._4 == 0L), "need clean singleton keeps")
  }

  test("real rendered pixels: jpg re-encodes pair with their source render at the measured radius") {
    import javax.imageio.ImageIO
    import spark.implicits._
    // real phashes: N rendered images + a JPEG re-encode of each (the classic
    // near-dup: same picture, different compression)
    val base = (0 until 60).map { i =>
      val row = ImageSynth.rowOf(i.toLong)
      val img = ImageIO.read(new java.io.ByteArrayInputStream(row.bytes))
      val out = new java.io.ByteArrayOutputStream()
      ImageIO.write(img, "jpg", out)
      val re = ImageIO.read(new java.io.ByteArrayInputStream(out.toByteArray))
      (i.toLong, row.phash, ImageSynth.phashOf(re))
    }
    val rows = base.map(b => (b._1, b._2)) ++ base.map(b => (b._1 + 1000L, b._3))
    // avg-hash of a re-encode is usually within a few bits; the operator must
    // agree with the plain loop at the guarantee radius whatever the real
    // distances are, and at least some re-encodes must actually pair up
    val want = loopPairs(rows, 3)
    assert(want.exists { case (a, b, _) => b - a == 1000L },
      "no re-encoded image paired with its source — phash not behaving perceptually")
    val df = rows.toDF("image_id", "phash").withColumn("caption", org.apache.spark.sql.functions.lit("c"))
    val got = PhashDedup.phashNearDupPairs(df).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet
    assert(got == want, s"missed=${(want -- got).take(3)} extra=${(got -- want).take(3)}")
  }
}
