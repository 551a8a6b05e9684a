package graft.index

/** Web-mercator slippy-tile / quadkey encoding, written from scratch.
  *
  * Re-expresses the reference's z12 quadkey tile addressing
  * (reference: util/map-contribution-extractor.js:85 `tilebelt.tileToQuadkey`)
  * as one scalar encoder, [[cellIdOf]]. The driver calls it directly, and
  * generated code reaches it through `SeedExprs.quadCell` (a static call
  * inlined into whole-stage codegen, no UDF), so every tile in the engine
  * comes from this one function.
  *
  * Cell id layout (long): [ z:5 bits | x:29 bits | y:29 bits ], valid z <= 28.
  */
object Quadkey {
  val MaxLat = 85.05112878 // web-mercator clamp

  @inline def clampLat(lat: Double): Double =
    math.max(-MaxLat, math.min(MaxLat, lat))

  /** lon/lat -> tile x at zoom z. */
  def tileX(lon: Double, z: Int): Int = {
    val n = 1L << z
    val x = ((lon + 180.0) / 360.0 * n).toLong
    math.min(n - 1, math.max(0L, x)).toInt
  }

  /** Unfloored web-mercator y at zoom z: `(1 − atanh(sinφ)/π) / 2 · 2^z`.
    *
    * The Gudermannian term uses `atanh(sinφ) = 0.5·ln((1+sinφ)/(1−sinφ))`
    * — 2 transcendentals — instead of the textbook `ln(tanφ + 1/cosφ)` — 3.
    * Identical mathematically; in FP the two differ by final ulps, so the
    * DuckDB oracle replica (OracleSql.pipelineCtes) uses the SAME form, and
    * the radians are spelled as the oracle spells them, `lat / 180 · π`
    * (`Math.toRadians` multiplies by π/180 and differs in the last ulp on
    * some latitudes). The log is `StrictMath.log` (fdlibm), the same on
    * every JVM, and the sine `Math.sin`. `graft.Dev merc` +
    * tools/merc_parity.py compare this function with DuckDB's over 2M
    * geotag latitudes at z12. */
  def tileYRaw(lat: Double, z: Int): Double = {
    val s = Math.sin(clampLat(lat) / 180.0 * Math.PI)
    (1.0 - 0.5 * StrictMath.log((1.0 + s) / (1.0 - s)) / Math.PI) / 2.0 * (1L << z)
  }

  /** lon/lat -> tile y at zoom z (web mercator). */
  def tileY(lat: Double, z: Int): Int = {
    val n = 1L << z
    math.min(n - 1, math.max(0L, tileYRaw(lat, z).toLong)).toInt
  }

  /** Pack (z, x, y) into a sortable long cell id. */
  def cellId(x: Int, y: Int, z: Int): Long = {
    require(z >= 0 && z <= 28, s"zoom out of range: $z")
    (z.toLong << 58) | (x.toLong << 29) | y.toLong
  }

  def cellZ(cell: Long): Int = (cell >>> 58).toInt
  def cellX(cell: Long): Int = ((cell >>> 29) & 0x1FFFFFFFL).toInt
  def cellY(cell: Long): Int = (cell & 0x1FFFFFFFL).toInt

  def cellIdOf(lon: Double, lat: Double, z: Int): Long =
    cellId(tileX(lon, z), tileY(lat, z), z)

  /** Tile bounds (west, south, east, north) in degrees. */
  def tileBounds(x: Int, y: Int, z: Int): (Double, Double, Double, Double) = {
    val n = (1L << z).toDouble
    val w = x / n * 360.0 - 180.0
    val e = (x + 1) / n * 360.0 - 180.0
    def latOf(yy: Double): Double =
      math.toDegrees(math.atan(math.sinh(math.Pi * (1.0 - 2.0 * yy / n))))
    (w, latOf(y + 1.0), e, latOf(y.toDouble))
  }

  /** Tile center lon/lat — the reference's `turf.center(tilebelt.tileToGeoJSON(tile))`
    * (util/map-contribution-extractor.js:279). */
  def tileCenter(x: Int, y: Int, z: Int): (Double, Double) = {
    val (w, s, e, n) = tileBounds(x, y, z)
    ((w + e) / 2.0, (s + n) / 2.0)
  }
}
