package graft.spatial

import graft.geo.Geo

/** A boundary polygon dimension: id + one simple ring (lon/lat arrays) with a
  * precomputed bbox. Mirrors the reference's AOI polygon input
  * (extractions/se-asia.interactionconfig:2-28; InteractionsBuilder.java:103-111)
  * generalized to a broadcastable *set* of boundaries.
  *
  * Rings are planar lon/lat: the bbox is the plain min/max of the vertices and
  * the ray-cast never wraps. A ring that crosses ±180 must be split there by
  * the caller; given whole, it covers the wrong side of the globe.
  */
final case class Boundary(id: String,
                          lons: Array[Double], lats: Array[Double]) {
  val minLon: Double = lons.min
  val maxLon: Double = lons.max
  val minLat: Double = lats.min
  val maxLat: Double = lats.max

  def containsPoint(lon: Double, lat: Double): Boolean =
    lon >= minLon && lon <= maxLon && lat >= minLat && lat <= maxLat &&
      Geo.pointInRing(lon, lat, lons, lats)
}

/** Tiny driver-built spatial index over boundaries, built once on the driver
  * and shipped with the plan; each task probes it read-only (the reference's
  * "reused index objects" pattern, north_rule). Two levels, both fixed 64×64:
  *  - a uniform lon/lat grid of candidate lists (an STRtree stand-in with
  *    zero deps; for O(100s) of boundaries it beats tree traversal), each
  *    list sorted by id so the first containing candidate is the answer;
  *  - per boundary, a raster of its bbox (Raster Intervals, SIGMOD 2023):
  *    each cell is *inside*, *outside* or *edge*. Only a point in an *edge*
  *    cell runs the ray-cast; any other point takes its cell's answer.
  *
  * The raster decides exactly what the ray-cast would. A cell is *edge* if
  * any ring edge passes within [[Margin]] of it, a margin about 10^6 times
  * the rounding of the cell lookup and of the ray-cast's crossing test. A
  * cell no edge comes near has one ray-cast answer for every point that
  * maps to it, so the answer at its center is the answer for all of them. */
final class BoundaryIndex(val boundaries: Array[Boundary]) extends Serializable {
  import BoundaryIndex._

  // 64×64 cells of 5.6°×2.8°
  private val cellW = 360.0 / GridN
  private val cellH = 180.0 / GridN
  // grid cell c -> the ordinals grid(grid(c) until grid(c + 1)) of the
  // boundaries whose bbox intersects it, stably sorted by id: among duplicate
  // ids the highest ordinal comes first, because each list is built by
  // prepending. Offsets and ordinals share one flat array, so the index
  // ships with each task as a handful of objects, not one per cell.
  private val grid: Array[Int] = {
    val tmp = Array.fill(GridN * GridN)(List.empty[Int])
    var b = 0
    while (b < boundaries.length) {
      val bd = boundaries(b)
      val x0 = math.max(0, ((bd.minLon + 180.0) / cellW).toInt)
      val x1 = math.min(GridN - 1, ((bd.maxLon + 180.0) / cellW).toInt)
      val y0 = math.max(0, ((bd.minLat + 90.0) / cellH).toInt)
      val y1 = math.min(GridN - 1, ((bd.maxLat + 90.0) / cellH).toInt)
      var x = x0
      while (x <= x1) {
        var y = y0
        while (y <= y1) { val i = y * GridN + x; tmp(i) = b :: tmp(i); y += 1 }
        x += 1
      }
      b += 1
    }
    val lists = tmp.map(_.sortBy(boundaries(_).id))
    lists.scanLeft(GridN * GridN + 1)(_ + _.length) ++ lists.flatten
  }
  // the R×R bbox raster of boundary o at o·R·R, all *edge* where the bbox
  // has no area or a non-finite bound (every point in it ray-casts)
  private val rasters: Array[Byte] = boundaries.flatMap(rasterOf)

  /** Ordinal of the containing boundary with the lowest id, or -1. Among
    * containing boundaries that share the lowest id, the highest ordinal
    * wins. Primitive return — usable from whole-stage-codegen without
    * boxing. */
  def queryFirstOrdinal(lon: Double, lat: Double): Int = {
    if (lon < -180 || lon > 180 || lat < -90 || lat > 90) return -1
    val x = math.min(GridN - 1, math.max(0, ((lon + 180.0) / cellW).toInt))
    val y = math.min(GridN - 1, math.max(0, ((lat + 90.0) / cellH).toInt))
    val c = y * GridN + x
    var i = grid(c)
    while (i < grid(c + 1)) {
      if (contains(grid(i), lon, lat)) return grid(i)
      i += 1
    }
    -1
  }

  /** [[Boundary.containsPoint]], decided by the raster where the point's
    * cell is not *edge*. */
  private def contains(o: Int, lon: Double, lat: Double): Boolean = {
    val b = boundaries(o)
    if (lon >= b.minLon && lon <= b.maxLon && lat >= b.minLat && lat <= b.maxLat) {
      val cell = rasters((o * R + cellOf(lat, b.minLat, b.maxLat)) * R + cellOf(lon, b.minLon, b.maxLon))
      if (cell != Edge) return cell == Inside
    }
    b.containsPoint(lon, lat)
  }
}

object BoundaryIndex {
  /** Cells per side of the global candidate grid. */
  private val GridN = 64
  /** Cells per side of each boundary's bbox raster. */
  private val R = 64
  private val Outside: Byte = 0
  private val Inside: Byte = 1
  private val Edge: Byte = 2
  /** Distance, relative to the largest bbox coordinate magnitude (at least
    * 1), within which a ring edge makes a raster cell *edge*. */
  private val Margin = 1e-9

  /** Raster cell (0 until R) of `v` in the bbox side [lo, hi]. */
  private def cellOf(v: Double, lo: Double, hi: Double): Int =
    math.min(R - 1, math.max(0, ((v - lo) / ((hi - lo) / R)).toInt))

  private def rasterOf(b: Boundary): Array[Byte] = {
    val bounds = Array(b.minLon, b.maxLon, b.minLat, b.maxLat)
    if (!bounds.forall(java.lang.Double.isFinite) || b.maxLon <= b.minLon || b.maxLat <= b.minLat)
      return Array.fill[Byte](R * R)(Edge)
    val m = Margin * math.max(1.0, bounds.map(math.abs).max)
    val w = (b.maxLon - b.minLon) / R
    val h = (b.maxLat - b.minLat) / R
    val r = Array.fill[Byte](R * R)(Outside)
    // mark every cell an edge passes within m of: per row band (widened by m),
    // the edge's x-extent inside the band, widened by m
    val n = b.lons.length
    var i = 0
    while (i < n) {
      val j = if (i == 0) n - 1 else i - 1
      val (xa, ya, xb, yb) = (b.lons(i), b.lats(i), b.lons(j), b.lats(j))
      val row0 = cellOf(math.min(ya, yb) - m, b.minLat, b.maxLat)
      val row1 = cellOf(math.max(ya, yb) + m, b.minLat, b.maxLat)
      var row = row0
      while (row <= row1) {
        val lo = math.max(math.min(ya, yb), b.minLat + row * h - m)
        val hi = math.min(math.max(ya, yb), b.minLat + (row + 1) * h + m)
        if (lo <= hi) {
          val (x0, x1) =
            if (ya == yb) (xa, xb)
            else (xa + (xb - xa) * ((lo - ya) / (yb - ya)), xa + (xb - xa) * ((hi - ya) / (yb - ya)))
          var c = cellOf(math.min(x0, x1) - m, b.minLon, b.maxLon)
          val c1 = cellOf(math.max(x0, x1) + m, b.minLon, b.maxLon)
          while (c <= c1) { r(row * R + c) = Edge; c += 1 }
        }
        row += 1
      }
      i += 1
    }
    // a cell no edge comes near takes the ray-cast answer at its center
    var k = 0
    while (k < R * R) {
      if (r(k) != Edge && Geo.pointInRing(b.minLon + (k % R + 0.5) * w,
          b.minLat + (k / R + 0.5) * h, b.lons, b.lats)) r(k) = Inside
      k += 1
    }
    r
  }
}
