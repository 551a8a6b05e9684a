package graft

import org.scalatest.funsuite.AnyFunSuite
import graft.geo.{Geo, Squaring}
import graft.spatial.{Boundary, BoundaryIndex}
import graft.Prop.forAllSeeded

class GeoSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark

  /** `SpatialQueries.haversineKmCol` evaluated on literal coordinates. */
  private def haversineKm(lat1: Double, lon1: Double, lat2: Double, lon2: Double): Double = {
    import org.apache.spark.sql.functions.lit
    spark.range(1).select(graft.spatial.SpatialQueries.haversineKmCol(
      lit(lat1), lit(lon1), lit(lat2), lit(lon2))).head().getDouble(0)
  }

  test("haversine: London-Paris ~= 343.5 km") {
    val d = haversineKm(51.5074, -0.1278, 48.8566, 2.3522)
    assert(math.abs(d - 343.5) < 1.5, s"got $d")
  }

  test("haversine: zero distance, symmetry, antipodal cap") {
    assert(haversineKm(10, 20, 10, 20) == 0.0)
    val a = haversineKm(12, 34, -56, 78); val b = haversineKm(-56, 78, 12, 34)
    assert(math.abs(a - b) < 1e-9)
    val anti = haversineKm(0, 0, 0, 180)
    assert(math.abs(anti - math.Pi * Geo.EarthRadiusKm) < 1.0)
  }

  test("spherical bbox area: 1x1 degree at equator ~= 12364 km2") {
    val a = Geo.bboxAreaKm2(0, 0, 1, 1)
    assert(math.abs(a - 12364) < 60, s"got $a") // (111.32 km)^2 * cos(0.5deg)
  }

  test("bbox area shrinks toward the poles") {
    val eq = Geo.bboxAreaKm2(0, 0, 1, 1)
    val high = Geo.bboxAreaKm2(0, 60, 1, 61)
    assert(high < eq * 0.55 && high > eq * 0.40)
  }

  test("point-in-ring: square, boundary-adjacent, concave") {
    val sq = (Array(0.0, 10.0, 10.0, 0.0), Array(0.0, 0.0, 10.0, 10.0))
    assert(Geo.pointInRing(5, 5, sq._1, sq._2))
    assert(!Geo.pointInRing(-1, 5, sq._1, sq._2))
    assert(!Geo.pointInRing(5, 11, sq._1, sq._2))
    // concave "C" shape: notch cut from the right side
    val c = (Array(0.0, 10.0, 10.0, 4.0, 4.0, 10.0, 10.0, 0.0),
             Array(0.0, 0.0, 3.0, 3.0, 7.0, 7.0, 10.0, 10.0))
    assert(Geo.pointInRing(2, 5, c._1, c._2))   // inside the spine
    assert(!Geo.pointInRing(7, 5, c._1, c._2))  // inside the notch = outside
    assert(Geo.pointInRing(7, 1.5, c._1, c._2)) // lower arm
  }

  test("BoundaryIndex agrees with brute-force ray cast (property)") {
    val bs = Array(
      Boundary("a", Array(-50, -10, -10, -50, -50), Array(-20, -20, 20, 20, -20)),
      Boundary("b", Array(30, 80, 55, 30), Array(0, 0, 40, 0)), // triangle
      Boundary("c", Array(100, 140, 140, 100, 100), Array(-60, -60, -30, -30, -60)))
    val idx = new BoundaryIndex(bs)
    forAllSeeded(2000) { r =>
      val lon = r.double(-179, 179); val lat = r.double(-85, 85)
      val brute = bs.filter(_.containsPoint(lon, lat)).map(_.id).sorted.headOption.orNull
      val o = idx.queryFirstOrdinal(lon, lat)
      assert((if (o < 0) null else bs(o).id) == brute, s"($lon,$lat)")
    }
  }

  test("squaring: perfect square -> ~0 offset") {
    // 100m square near the equator (axis-aligned in UTM space)
    val lons = Array(10.0, 10.0009, 10.0009, 10.0, 10.0)
    val lats = Array(0.0, 0.0, 0.0009, 0.0009, 0.0)
    val off = Squaring.avgSquareOffsetProjected(lons, lats)
    assert(off < 0.5, s"got $off")
  }

  test("squaring: degenerate ring scores 100 (reference :633-635)") {
    assert(Squaring.avgSquareOffsetProjected(Array(1.0, 2.0), Array(1.0, 1.0)) == 100.0)
  }

  test("squaring: 45-degree sheared quad scores ~45") {
    // parallelogram with 45/135-degree corners
    val lons = Array(10.0, 10.001, 10.0019, 10.0009, 10.0)
    val lats = Array(0.0, 0.0, 0.0009, 0.0009, 0.0)
    val off = Squaring.avgSquareOffsetProjected(lons, lats)
    assert(math.abs(off - 45.0) < 2.0, s"got $off")
  }

  test("deg2utm: NYC lands near standard UTM 18N (reference-formula accuracy)") {
    // The ported formula (reference InteractionsBuilder.java:688-693) is the
    // Coticchia-Surace approximation: metre-level on eastings, ~100m-2km on
    // northings. The squaring metric only uses *angles between* projected
    // points, so absolute offset is irrelevant; this is a sanity check plus
    // an exact regression pin of our port.
    val (e, n) = Squaring.deg2utm(40.7128, -74.0060)
    assert(math.abs(e - 583960) < 100, s"easting $e")
    assert(math.abs(n - 4507523) < 2000, s"northing $n")
    assert(math.abs(n - 4507350.98) < 0.5, s"regression pin moved: $n")
  }

  test("deg2utm: southern hemisphere gets the 10M false northing") {
    val (_, n) = Squaring.deg2utm(-33.8688, 151.2093) // Sydney 56S, N ~ 6252309
    assert(math.abs(n - 6252309) < 2500, s"northing $n")
    assert(math.abs(n - 6250948.36) < 0.5, s"regression pin moved: $n")
  }

  test("squaring delta formats to 4 dp") {
    val sq = (Array(10.0, 10.0009, 10.0009, 10.0, 10.0), Array(0.0, 0.0, 0.0009, 0.0009, 0.0))
    val d = Squaring.squaringDelta(sq._1, sq._2, sq._1, sq._2)
    assert(d == 0.0)
  }
}
