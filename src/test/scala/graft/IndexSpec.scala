package graft

import org.scalatest.funsuite.AnyFunSuite
import graft.index.{Quadkey, Hex, S2Like}
import graft.Prop.forAllSeeded

class QuadkeySpec extends AnyFunSuite {

  test("well-known tiles") {
    assert(Quadkey.tileX(-179.9, 0) == 0 && Quadkey.tileY(80.0, 0) == 0)
    assert(Quadkey.tileX(0.0, 1) == 1)
    assert(Quadkey.tileY(-0.0001, 1) == 1)
    assert(Quadkey.tileY(0.0001, 1) == 0)
  }

  test("extreme coordinates clamp, never throw, and stay in range (poles/antimeridian)") {
    import graft.index.{Quadkey, Hex, S2Like}
    val extremes = Seq(
      (-180.0, -90.0), (180.0, 90.0), (-180.0, 90.0), (180.0, -90.0),
      (0.0, 90.0), (0.0, -90.0), (-180.0, 0.0), (180.0, 0.0),
      (179.9999999, 85.05112878), (-179.9999999, -85.05112878))
    for ((lon, lat) <- extremes; z <- Seq(1, 6, 12)) {
      val c = Quadkey.cellIdOf(lon, lat, z)
      val x = Quadkey.tileX(lon, z); val y = Quadkey.tileY(lat, z)
      assert(x >= 0 && x < (1 << z) && y >= 0 && y < (1 << z), s"($lon,$lat,z$z) -> ($x,$y)")
      assert(c == Quadkey.cellId(x, y, z))
      // the other encoders must also accept the full domain without throwing
      Hex.latLngToCell(lat, lon, 7)
      S2Like.cellIdAt(lat, lon, 12)
    }
  }

  test("quadkey string + cell id roundtrips (property)") {
    forAllSeeded() { r =>
      val lon = r.double(-179.99, 179.99); val lat = r.double(-84.9, 84.9)
      val z = r.int(1, 18)
      val x = Quadkey.tileX(lon, z); val y = Quadkey.tileY(lat, z)
      val c = Quadkey.cellIdOf(lon, lat, z)
      assert(Quadkey.cellZ(c) == z && Quadkey.cellX(c) == x && Quadkey.cellY(c) == y)
    }
  }

  test("point lies inside its tile bounds (property)") {
    forAllSeeded() { r =>
      val lon = r.double(-179.99, 179.99); val lat = r.double(-84.9, 84.9)
      val z = r.int(1, 18)
      val x = Quadkey.tileX(lon, z); val y = Quadkey.tileY(lat, z)
      val (w, s, e, n) = Quadkey.tileBounds(x, y, z)
      assert(lon >= w - 1e-9 && lon <= e + 1e-9)
      assert(lat >= s - 1e-7 && lat <= n + 1e-7)
    }
  }
}

class HexSpec extends AnyFunSuite {

  test("ring size is 6k, disk size is 3k(k+1)+1, ring subset of disk") {
    val c = Hex.latLngToCell(37.77, -122.42, 8)
    for (k <- 1 to 5) {
      assert(Hex.ring(c, k).length == 6 * k)
      assert(Hex.disk(c, k).length == 3 * k * (k + 1) + 1)
      assert(Hex.ring(c, k).toSet.subsetOf(Hex.disk(c, k).toSet))
    }
  }

  /** Axial hex distance between two cells of the same res: the reference
    * the ring walk is checked against. */
  private def axialDistance(a: Long, b: Long): Int = {
    require(Hex.res(a) == Hex.res(b), "res mismatch")
    val dq = Hex.q(a) - Hex.q(b); val dr = Hex.r(a) - Hex.r(b)
    (math.abs(dq) + math.abs(dr) + math.abs(dq + dr)) / 2
  }

  test("every ring member is exactly distance k (property)") {
    forAllSeeded(100) { r =>
      val c = Hex.latLngToCell(r.double(-85, 85), r.double(-179, 179), 7)
      val k = r.int(1, 6)
      Hex.ring(c, k).foreach(m => assert(axialDistance(c, m) == k))
    }
  }

  test("cell center re-encodes to the same cell (property)") {
    forAllSeeded() { r =>
      val res = r.int(3, 12)
      val c = Hex.latLngToCell(r.double(-85, 85), r.double(-179, 179), res)
      val (clat, clon) = Hex.cellToLatLng(c)
      assert(Hex.latLngToCell(clat, clon, res) == c)
    }
  }

  test("pack/unpack roundtrip incl. negative axial coords") {
    for (q <- Seq(-100000, -1, 0, 1, 99999); rr <- Seq(-54321, 0, 7); res <- Seq(0, 7, 14)) {
      val c = Hex.pack(q, rr, res)
      assert(Hex.q(c) == q && Hex.r(c) == rr && Hex.res(c) == res)
    }
  }

  test("finer resolution shrinks cells by sqrt(7) per step (aperture-7-like)") {
    assert(math.abs(Hex.edgeDeg(8) / Hex.edgeDeg(10) - 7.0) < 1e-9)
  }
}

class S2Spec extends AnyFunSuite {

  test("hilbert curve roundtrip (property)") {
    forAllSeeded() { r =>
      val level = r.int(1, 15)
      val n = 1 << level
      val x = r.int(0, n - 1); val y = r.int(0, n - 1)
      val d = S2Like.hilbertD(level, x, y)
      assert(S2Like.hilbertXY(level, d) == ((x, y)))
    }
  }

  test("hilbert locality: consecutive d are grid neighbours") {
    val level = 6
    var prev = S2Like.hilbertXY(level, 0L)
    for (d <- 1L until (1L << (2 * level))) {
      val cur = S2Like.hilbertXY(level, d)
      assert(math.abs(cur._1 - prev._1) + math.abs(cur._2 - prev._2) == 1)
      prev = cur
    }
  }

  test("leaf id lies in every ancestor's range (property)") {
    forAllSeeded() { r =>
      val lat = r.double(-89, 89); val lon = r.double(-179.9, 179.9)
      val level = r.int(0, 29)
      val leaf = S2Like.leafId(lat, lon)
      val cell = S2Like.parent(leaf, level)
      assert(S2Like.levelOf(cell) == level)
      assert(S2Like.contains(cell, leaf))
    }
  }

  test("cell center reprojects into the same cell (property)") {
    forAllSeeded() { r =>
      val lat = r.double(-89, 89); val lon = r.double(-179.9, 179.9)
      val level = r.int(4, 16)
      val cell = S2Like.cellIdAt(lat, lon, level)
      val (clat, clon) = S2Like.cellCenterLatLng(cell)
      assert(S2Like.cellIdAt(clat, clon, level) == cell)
    }
  }

  test("range pushdown: disjoint points get disjoint cells, near points share parents") {
    val a = S2Like.cellIdAt(37.77, -122.42, 10)
    val b = S2Like.cellIdAt(37.7701, -122.4201, 10) // ~10m away
    val far = S2Like.cellIdAt(-33.0, 151.0, 10)
    assert(S2Like.parent(a, 6) == S2Like.parent(b, 6))
    assert(S2Like.parent(a, 3) != S2Like.parent(far, 3))
  }
}
