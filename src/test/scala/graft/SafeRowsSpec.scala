package graft

import org.scalatest.funsuite.AnyFunSuite

class SafeRowsSpec extends AnyFunSuite {
  import graft.ops.SafeRows
  lazy val spark = TestSpark.spark

  test("per-row quarantine: bad rows counted and isolated, good rows survive") {
    import spark.implicits._
    val ds = spark.createDataset(Seq("1", "2", "oops", "4", "bad"))
    val counters = new SafeRows.ErrorCounters(spark, Seq("NumberFormatException", "OTHER"))
    val tagged = SafeRows.map[String, Long](ds, _.toLong, identity, counters).cache()
    val good = SafeRows.ok(tagged).collect().sorted
    val bad = SafeRows.quarantined(tagged).collect()
    assert(good.toSeq == Seq(1L, 2L, 4L))
    assert(bad.map(_.key).sorted.toSeq == Seq("bad", "oops"))
    assert(bad.forall(_.errorClass == "NumberFormatException"))
    assert(counters.snapshot("NumberFormatException") == 2L)
    tagged.unpersist()
  }

  test("corrupted image bytes quarantine instead of failing the job") {
    import spark.implicits._
    val rows = graft.pipeline.ImagePipeline.synthTable(spark, 20, 2).collect().toSeq
    val corrupted = rows.updated(3, rows(3).copy(bytes = Array[Byte](1, 2, 3)))
    val ds = spark.createDataset(corrupted.map(r => (r.image_id, r.bytes)))
    val counters = new SafeRows.ErrorCounters(spark, Seq("NullPointerException", "OTHER"))
    val decode: ((String, Array[Byte])) => Int = { case (_, bytes) =>
      // ImageIO.read returns null on garbage; getWidth then NPEs — the
      // classic partial-corruption failure mode the reference counts
      javax.imageio.ImageIO.read(new java.io.ByteArrayInputStream(bytes)).getWidth
    }
    val tagged = SafeRows.map(ds, decode, (t: (String, Array[Byte])) => t._1, counters).cache()
    assert(SafeRows.ok(tagged).count() == 19)
    val bad = SafeRows.quarantined(tagged).collect()
    assert(bad.length == 1 && bad.head.key == corrupted(3).image_id)
    assert(counters.snapshot.values.sum == 1L)
    tagged.unpersist()
  }
}
