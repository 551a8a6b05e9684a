package graft

import org.apache.spark.sql.Row
import org.apache.spark.sql.types._
import org.scalatest.funsuite.AnyFunSuite
import graft.Prop.forAllSeeded
import graft.pipeline.ImagePipeline
import graft.spatial.{Boundary, PipJoin, SpatialQueries}

/** Both PIP joins against a brute-force reference: every boundary's ring is
  * tested with `Boundary.containsPoint` and the lowest containing id wins. */
class PipAgreementSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark

  private def box(id: String, w: Double, s: Double, e: Double, n: Double) =
    Boundary(id, Array(w, e, e, w, w), Array(s, s, n, n, s))

  /** Nested rings listed in descending id order, so input order and id
    * order pick different winners wherever they overlap. */
  private val nested = Seq(
    box("z_outer", -40.0, -30.0, 40.0, 30.0),
    box("m_mid", -20.0, -15.0, 20.0, 15.0),
    box("a_inner", -5.0, -20.0, 5.0, 20.0))

  /** Rows every join must drop, whatever the boundaries. */
  private val invalid: Seq[(java.lang.Double, java.lang.Double)] = Seq(
    (null, 10.0), (10.0, null), (null, null),
    (Double.NaN, 10.0), (10.0, Double.NaN),
    (-180.5, 10.0), (180.5, 10.0), (10.0, -90.5), (10.0, 90.5),
    (Double.PositiveInfinity, 10.0), (10.0, Double.NegativeInfinity), (1e300, -1e300))

  private def check(name: String, bs: Seq[Boundary], seed: Long): Unit = {
    val pts = scala.collection.mutable.ArrayBuffer.empty[(java.lang.Double, java.lang.Double)]
    forAllSeeded(1500, seed) { r =>
      pts += ((r.double(-180, 180), r.double(-90, 90)))
      // a point near a random boundary's bbox, 20 % past each side
      val b = bs(r.int(0, bs.length - 1))
      val padLon = (b.maxLon - b.minLon) * 0.2; val padLat = (b.maxLat - b.minLat) * 0.2
      pts += ((r.double(b.minLon - padLon, b.maxLon + padLon),
        r.double(b.minLat - padLat, b.maxLat + padLat)))
    }
    val all = (pts ++ invalid).zipWithIndex.map { case ((lon, lat), i) => (i.toLong, lon, lat) }
    val schema = StructType(Seq(StructField("pid", LongType, nullable = false),
      StructField("lon", DoubleType), StructField("lat", DoubleType)))
    val df = spark.createDataFrame(
      spark.sparkContext.parallelize(all.map { case (i, lon, lat) => Row(i, lon, lat) }.toSeq, 4),
      schema)

    val brute: Map[Long, String] = all.flatMap { case (i, lon, lat) =>
      if (lon == null || lat == null || !(lon >= -180 && lon <= 180 && lat >= -90 && lat <= 90)) None
      else bs.filter(_.containsPoint(lon, lat)).map(_.id).sorted.headOption.map(i -> _)
    }.toMap
    assert(brute.size > 500, s"$name: too few contained points (${brute.size}) to test anything")
    assert(brute.values.toSet.size == bs.size,
      s"$name: some boundary contains no sample point")

    def ids(out: org.apache.spark.sql.DataFrame): Map[Long, String] = {
      val rows = out.select("pid", "boundary_id").collect()
      assert(rows.length == rows.map(_.getLong(0)).distinct.length, s"$name: a point joined twice")
      rows.map(r => r.getLong(0) -> r.getString(1)).toMap
    }
    assert(ids(PipJoin.join(df, bs, "lon", "lat")) == brute, s"$name: join")
    assert(ids(PipJoin.joinViaCellCover(df, bs, "lon", "lat", "pid")) == brute,
      s"$name: joinViaCellCover")
  }

  test("PIP joins agree with brute force over the gate fixtures (boxes + triangle)") {
    check("fixture", SpatialQueries.boundaries, 17L)
  }

  test("PIP joins agree with brute force over the metro boundaries") {
    check("metro", ImagePipeline.metroBoundaries, 23L)
  }

  test("PIP joins pick the lowest id among nested boundaries, not the first listed") {
    check("nested", nested, 31L)
  }
}
