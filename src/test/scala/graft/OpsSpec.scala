package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._
import graft.ops.Changesets
import graft.pipeline.ImagePipeline

class ChangesetsSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark

  test("fixture parses per reference semantics (hashtags, HOT, point, rejection)") {
    val out = Changesets.fixture(spark).orderBy(col("cs_id")).collect()
    assert(out.map(_.getLong(0)).toSeq == Seq(1L, 2L, 4L)) // row 3 rejected (>2500 km²)

    val r1 = out(0)
    assert(r1.getAs[scala.collection.Seq[String]]("hashtags").toSeq == Seq("#hotosm-task-123", "#buildings"))
    assert(r1.getAs[Boolean]("hot"))
    assert(r1.getAs[String]("geom_type") == "Polygon")
    assert(r1.getAs[Long]("ts") == 1579898055L) // 2020-01-24 20:34:15 UTC

    val r2 = out(1)
    assert(r2.getAs[String]("geom_type") == "Point") // degenerate bbox (:27-30)
    assert(!r2.getAs[Boolean]("hot"))
    assert(r2.getAs[scala.collection.Seq[String]]("hashtags").isEmpty)

    val r4 = out(2)
    assert(r4.getAs[String]("comment") == "") // absent comment -> empty
    assert(r4.getAs[scala.collection.Seq[String]]("hashtags").isEmpty)
  }
}

class CentroidSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark

  test("weighted-centroid Aggregator matches the exact column formula") {
    import spark.implicits._
    val r = new Prop.Rng(31)
    val pts = (0 until 3000).map(i => (i % 7L, r.double(-10, 10), r.double(-5, 5), 1.0 + (i % 3)))
    val df = pts.toDF("g", "lon", "lat", "w")

    val viaAgg = df.as[(Long, Double, Double, Double)]
      .groupByKey(_._1)
      .mapValues { case (_, lon, lat, w) => (lon, lat, w) }
      .agg(graft.geo.WeightedCentroid.column)
      .collect().map { case (g, c) => g -> (c.lon, c.lat) }.toMap

    val expected = pts.groupBy(_._1).map { case (g, xs) =>
      val sw = xs.map(_._4).sum
      g -> (xs.map(x => x._2 * x._4).sum / sw, xs.map(x => x._3 * x._4).sum / sw)
    }

    assert(viaAgg.keySet == expected.keySet)
    viaAgg.foreach { case (g, (lon, lat)) =>
      val (elon, elat) = expected(g)
      // partial aggregation changes summation order; tolerance, not equality
      assert(math.abs(lon - elon) < 1e-9 && math.abs(lat - elat) < 1e-9, s"group $g")
    }
  }

  test("zero total weight yields null (empty-collection behavior)") {
    import spark.implicits._
    val df = Seq((1L, 5.0, 5.0, 0.0), (1L, 7.0, 1.0, 0.0)).toDS()
    val out = df.groupByKey(_._1)
      .mapValues { case (_, lon, lat, w) => (lon, lat, w) }
      .agg(graft.geo.WeightedCentroid.column).collect()
    assert(out.head._2 == null)
  }

  test("pipeline userDailyCentroids lie inside their boundary") {
    val cents = ImagePipeline.userDailyCentroidGate(spark, 1500, 4).collect()
    assert(cents.nonEmpty)
    // every centroid is a plausible lon/lat (means of member points)
    cents.foreach { r =>
      val lon = r.getLong(2) / 1e6; val lat = r.getLong(3) / 1e6
      assert(lon >= -180 && lon <= 180 && lat >= -90 && lat <= 90)
    }
  }

  test("polygon collection: area-weighted combination through the Aggregator") {
    import spark.implicits._
    // squares [0,1]^2 (mass 1, com (.5,.5)) and [2,4]^2 (mass 4, com (3,3))
    // -> combined ((1*.5+4*3)/5, ...) = (2.5, 2.5), hand-computed
    val rows = Seq((1L, 0.5, 0.5, 1.0), (1L, 3.0, 3.0, 4.0))
    val out = rows.toDS().groupByKey(_._1)
      .mapValues { case (_, cx, cy, m) => (cx, cy, m) }
      .agg(graft.geo.WeightedCentroid.column).collect()
    val c = out.head._2
    assert(math.abs(c.lon - 2.5) < 1e-12 && math.abs(c.lat - 2.5) < 1e-12)
  }
}
