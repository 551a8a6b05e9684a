package graft.geo

/** Scalar geospatial functions (SURVEY.md §2.8), from scratch.
  * Pure Scala — usable from UDFs, `mapPartitions`, and tests alike.
  */
object Geo {
  val EarthRadiusKm = 6371.0088 // IUGG mean radius
  val TurfRadiusM = 6378137.0   // what turf.js uses (WGS84 equatorial) for length/area

  /** Spherical ring area in m² (positive, shoelace on the sphere — the same
    * formula family turf.area uses; reference: changesets/map-changeset-parser.js:24). */
  def sphericalRingAreaM2(lons: Array[Double], lats: Array[Double]): Double = {
    val n = lons.length
    if (n < 3) return 0.0
    var total = 0.0
    var i = 0
    while (i < n) {
      val lo1 = math.toRadians(lons(i))
      val la1 = math.toRadians(lats(i))
      val lo2 = math.toRadians(lons((i + 1) % n))
      val la2 = math.toRadians(lats((i + 1) % n))
      total += (lo2 - lo1) * (2.0 + math.sin(la1) + math.sin(la2))
      i += 1
    }
    math.abs(total * TurfRadiusM * TurfRadiusM / 2.0)
  }

  /** bbox -> closed ring (5 points), mirroring turf.bboxPolygon
    * (reference: changesets/map-changeset-parser.js:18-24). */
  def bboxRing(minLon: Double, minLat: Double, maxLon: Double, maxLat: Double): (Array[Double], Array[Double]) = (
    Array(minLon, maxLon, maxLon, minLon, minLon),
    Array(minLat, minLat, maxLat, maxLat, minLat)
  )

  def bboxAreaKm2(minLon: Double, minLat: Double, maxLon: Double, maxLat: Double): Double = {
    val (lons, lats) = bboxRing(minLon, minLat, maxLon, maxLat)
    sphericalRingAreaM2(lons, lats) / 1e6
  }

  /** Ray-casting point-in-polygon over a simple ring (lon/lat arrays, closed
    * or open). Boundary points are implementation-defined (consistent). */
  def pointInRing(lon: Double, lat: Double, lons: Array[Double], lats: Array[Double]): Boolean = {
    var inside = false
    val n = lons.length
    var i = 0
    var j = n - 1
    while (i < n) {
      val xi = lons(i); val yi = lats(i)
      val xj = lons(j); val yj = lats(j)
      if (((yi > lat) != (yj > lat)) &&
          (lon < (xj - xi) * (lat - yi) / (yj - yi) + xi)) inside = !inside
      j = i
      i += 1
    }
    inside
  }
}
