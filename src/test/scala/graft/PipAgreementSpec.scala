package graft

import org.apache.spark.sql.Row
import org.apache.spark.sql.types._
import org.scalatest.funsuite.AnyFunSuite
import graft.Prop.forAllSeeded
import graft.pipeline.ImagePipeline
import graft.spatial.{Boundary, BoundaryIndex, PipJoin, SpatialQueries}

/** Both PIP joins, and the index behind the broadcast one, against a
  * brute-force reference: every boundary's ring is tested with
  * `Boundary.containsPoint` and the lowest containing id wins. */
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

  test("joinViaCellCover keeps a point one ulp inside a box edge where the z6 row turns") {
    // the box's north edge and the point one ulp below it lie a few ulps
    // from the z6 tile row boundary near 45.09°, where a log rounded one ulp
    // apart moves the tile: the cover of the box and the cell of the point
    // must come from one encoder, or the point falls outside the cover
    val top = java.lang.Double.longBitsToDouble(4631542534927257770L)
    val lat = math.nextDown(top)
    val bs = Seq(box("edge", 10.0, 40.0, 12.0, top))
    assert(bs.head.containsPoint(11.0, lat))
    val df = spark.createDataFrame(spark.sparkContext.parallelize(Seq(Row(1L, 11.0, lat)), 1),
      StructType(Seq(StructField("pid", LongType), StructField("lon", DoubleType),
        StructField("lat", DoubleType))))
    for (out <- Seq(PipJoin.join(df, bs, "lon", "lat"),
                    PipJoin.joinViaCellCover(df, bs, "lon", "lat", "pid")))
      assert(out.select("pid", "boundary_id").collect().map(r => (r.getLong(0), r.getString(1)))
        .toSeq == Seq((1L, "edge")))
  }

  /** The index's answer by brute force: the lowest containing id, the
    * highest position among boundaries that share it; -1 off the globe. */
  private def bruteOrdinal(bs: Seq[Boundary], lon: Double, lat: Double): Int =
    if (!(lon >= -180 && lon <= 180 && lat >= -90 && lat <= 90)) -1
    else bs.indices.filter(bs(_).containsPoint(lon, lat))
      .sortBy(i => (bs(i).id, -i)).headOption.getOrElse(-1)

  /** A concave ring: a star around (cx, cy) whose radii alternate long and
    * short. */
  private def star(id: String, cx: Double, cy: Double, r: Prop.Rng): Boundary = {
    val k = r.int(4, 9)
    val pts = (0 until 2 * k).map { i =>
      val a = math.Pi * i / k
      val rad = (if (i % 2 == 0) r.double(2, 6) else r.double(0.3, 1.5))
      (cx + rad * math.cos(a), cy + rad * math.sin(a))
    }
    val ring = pts :+ pts.head
    Boundary(id, ring.map(_._1).toArray, ring.map(_._2).toArray)
  }

  private def triangle(id: String, cx: Double, cy: Double, r: Prop.Rng): Boundary = {
    val xs = Array.fill(3)(cx + r.double(-5, 5)); val ys = Array.fill(3)(cy + r.double(-5, 5))
    Boundary(id, xs :+ xs(0), ys :+ ys(0))
  }

  /** Points where a ray-cast answer can flip: each vertex, points on each
    * edge, the borders of the 64×64 bbox raster, and each of those moved
    * one ulp in each direction. */
  private def hardPoints(b: Boundary, r: Prop.Rng): Seq[(Double, Double)] = {
    val edge = b.lons.indices.drop(1).flatMap { i =>
      val (x0, y0, x1, y1) = (b.lons(i - 1), b.lats(i - 1), b.lons(i), b.lats(i))
      (x0, y0) +: Seq.fill(3) { val t = r.double(0, 1); (x0 + (x1 - x0) * t, y0 + (y1 - y0) * t) }
    }
    val cellW = (b.maxLon - b.minLon) / 64; val cellH = (b.maxLat - b.minLat) / 64
    val borders = (0 to 64).flatMap { k =>
      Seq((b.minLon + k * cellW, r.double(b.minLat, b.maxLat)),
        (r.double(b.minLon, b.maxLon), b.minLat + k * cellH))
    }
    (edge ++ borders).flatMap { case (x, y) =>
      Seq((x, y), (math.nextUp(x), y), (math.nextDown(x), y), (x, math.nextUp(y)), (x, math.nextDown(y)))
    }
  }

  test("BoundaryIndex.queryFirstOrdinal agrees with brute force on edges, vertices and raster borders") {
    val special = Seq(
      (Double.NaN, 0.0), (0.0, Double.NaN), (Double.NaN, Double.NaN),
      (Double.PositiveInfinity, 0.0), (Double.NegativeInfinity, 0.0),
      (0.0, Double.PositiveInfinity), (0.0, Double.NegativeInfinity))
    var checked = 0L
    var inside = 0L
    forAllSeeded(60, 41L) { r =>
      val bs = (0 until r.int(1, 6)).map { i =>
        // ids from a pool of 3, so sets often hold duplicate ids
        val id = s"b${r.int(0, 2)}"
        val (cx, cy) = (r.double(-20, 20), r.double(-20, 20))
        r.int(0, 3) match {
          case 0 => star(id, cx, cy, r)
          case 1 => triangle(id, cx, cy, r)
          case 2 => box(id, cx - r.double(0.5, 8), cy - r.double(0.5, 8), cx + r.double(0.5, 8), cy + r.double(0.5, 8))
          // zero-width bbox: a vertical sliver
          case _ => Boundary(id, Array(cx, cx, cx), Array(cy - 3, cy + 3, cy - 3))
        }
      }
      val idx = new BoundaryIndex(bs.toArray)
      val pts = bs.flatMap(hardPoints(_, r)) ++ special ++
        Seq.fill(3000)((r.double(-30, 30), r.double(-30, 30)))
      pts.foreach { case (lon, lat) =>
        val want = bruteOrdinal(bs, lon, lat)
        assert(idx.queryFirstOrdinal(lon, lat) == want,
          s"($lon, $lat) over ${bs.map(b => b.id -> b.lons.zip(b.lats).mkString(" ")).mkString("; ")}")
        checked += 1
        if (want >= 0) inside += 1
      }
    }
    assert(inside > checked / 10, s"only $inside of $checked points inside a boundary")
  }

  test("BoundaryIndex: among containing boundaries that share the lowest id, the highest position wins") {
    val bs = Array(box("a", 0, 0, 10, 10), box("b", 0, 0, 10, 10), box("a", 2, 2, 8, 8), box("a", 4, 4, 6, 6))
    val idx = new BoundaryIndex(bs)
    assert(idx.queryFirstOrdinal(5, 5) == 3)
    assert(idx.queryFirstOrdinal(3, 3) == 2)
    assert(idx.queryFirstOrdinal(1, 1) == 0)
    assert(idx.queryFirstOrdinal(11, 11) == -1)
  }
}
