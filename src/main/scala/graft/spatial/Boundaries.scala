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

/** Tiny driver-built spatial index over boundaries: a uniform lon/lat grid of
  * candidate lists (an STRtree stand-in with zero deps, built once on the
  * driver and shipped with the plan; each task probes it read-only — the reference's
  * "reused index objects" pattern, north_rule). For O(100s) of boundaries this
  * beats tree traversal; swap for JTS STRtree if boundary counts grow. */
final class BoundaryIndex(val boundaries: Array[Boundary]) extends Serializable {
  // 64×64 cells of 5.6°×2.8°
  private final val gridN = 64
  private val cellW = 360.0 / gridN
  private val cellH = 180.0 / gridN
  // grid cell -> indices of boundaries whose bbox intersects it
  private val grid: Array[Array[Int]] = {
    val tmp = Array.fill(gridN * gridN)(List.empty[Int])
    var b = 0
    while (b < boundaries.length) {
      val bd = boundaries(b)
      val x0 = math.max(0, ((bd.minLon + 180.0) / cellW).toInt)
      val x1 = math.min(gridN - 1, ((bd.maxLon + 180.0) / cellW).toInt)
      val y0 = math.max(0, ((bd.minLat + 90.0) / cellH).toInt)
      val y1 = math.min(gridN - 1, ((bd.maxLat + 90.0) / cellH).toInt)
      var x = x0
      while (x <= x1) {
        var y = y0
        while (y <= y1) { val i = y * gridN + x; tmp(i) = b :: tmp(i); y += 1 }
        x += 1
      }
      b += 1
    }
    tmp.map(_.toArray)
  }

  /** First (lowest-id) boundary containing the point, or null. */
  def queryFirst(lon: Double, lat: Double): String = {
    val o = queryFirstOrdinal(lon, lat)
    if (o < 0) null else boundaries(o).id
  }

  /** Ordinal of the containing boundary with the lowest id, or -1. Primitive
    * return — usable from whole-stage-codegen without boxing. */
  def queryFirstOrdinal(lon: Double, lat: Double): Int = {
    if (lon < -180 || lon > 180 || lat < -90 || lat > 90) return -1
    val x = math.min(gridN - 1, math.max(0, ((lon + 180.0) / cellW).toInt))
    val y = math.min(gridN - 1, math.max(0, ((lat + 90.0) / cellH).toInt))
    val cands = grid(y * gridN + x)
    var best = -1
    var i = 0
    while (i < cands.length) {
      val bi = cands(i)
      val b = boundaries(bi)
      if ((best < 0 || b.id < boundaries(best).id) && b.containsPoint(lon, lat)) best = bi
      i += 1
    }
    best
  }
}
