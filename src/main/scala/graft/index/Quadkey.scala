package graft.index

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** Web-mercator slippy-tile / quadkey encoding, written from scratch.
  *
  * Re-expresses the reference's z12 quadkey tile addressing
  * (reference: util/map-contribution-extractor.js:85 `tilebelt.tileToQuadkey`)
  * as (a) pure Scala functions for driver/UDF use and (b) pure-`Column`
  * arithmetic (`tileXCol`/`tileYCol`/`cellIdCol`) that stays inside
  * whole-stage codegen — no UDF on the hot path.
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
    * some latitudes). [[tileYCol]] spells them the same way. `graft.Dev
    * merc` + tools/merc_parity.py compare this function with DuckDB's over
    * 2M geotag latitudes at z12. */
  def tileYRaw(lat: Double, z: Int): Double = {
    val s = math.sin(clampLat(lat) / 180.0 * math.Pi)
    (1.0 - 0.5 * math.log((1.0 + s) / (1.0 - s)) / math.Pi) / 2.0 * (1L << z)
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

  // ---- Column-native (whole-stage-codegen) variants ------------------------

  /** Tile x as a pure Column expression (stays in WSCG; no UDF). */
  def tileXCol(lon: Column, z: Int): Column = {
    val n = 1L << z
    least(lit(n - 1), greatest(lit(0L),
      floor((lon + lit(180.0)) / lit(360.0) * lit(n.toDouble)).cast("long"))).cast("int")
  }

  /** Tile y as a pure Column expression — same atanh(sinφ) form and the
    * same `lat / 180 · π` radians as the scalar [[tileYRaw]] (the two must
    * assign identical tiles or the cell cover `PipJoin.joinViaCellCover`
    * builds from the scalar could drop boundary rows). The
    * repeated `sin(latRad)` subtree is shared by whole-stage codegen's
    * subexpression elimination: one sin + one log per row. */
  def tileYCol(lat: Column, z: Int): Column = {
    val n = 1L << z
    val latC = greatest(lit(-MaxLat), least(lit(MaxLat), lat))
    val s = sin(latC / lit(180.0) * lit(math.Pi))
    val yRaw = (lit(1.0) - lit(0.5) * log((lit(1.0) + s) / (lit(1.0) - s)) / lit(math.Pi)) / lit(2.0) * lit(n.toDouble)
    least(lit(n - 1), greatest(lit(0L), floor(yRaw).cast("long"))).cast("int")
  }

  /** Packed cell id as a pure Column expression. */
  def cellIdCol(lon: Column, lat: Column, z: Int): Column =
    (lit(z.toLong) * lit(1L << 58)) +
      shiftleft(tileXCol(lon, z).cast("long"), 29) +
      tileYCol(lat, z).cast("long")
}
