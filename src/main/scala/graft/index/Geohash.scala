package graft.index

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.spatial.{SpatialQueries, ZOrder}

/** Geohash — the third index family next to quadkey and the hex/S2 tiers:
  * base32 text cells whose PREFIX relation is the containment relation, so
  * a LIKE 'u09%' predicate, a string range scan, and a prefix groupBy are
  * all cell operations (the property quadkeys get from digit prefixes,
  * carried into a human-readable key that sorts lexicographically =
  * spatially). A precision-p hash is 5p bits: lon takes ⌈5p/2⌉ (it gets
  * the even/MSB-first positions), lat ⌊5p/2⌋ — i.e. a Morton code with
  * lon first, emitted in the classic 0-9b-z alphabet.
  *
  * Everything is literal-shift Column algebra (codegen, ANSI-safe: the
  * code is < 2^30 at p=6) + element_at char lookup — no UDF. The DuckDB
  * oracle rebuilds the same bits with `>> & *` and substr() indexing into
  * the alphabet, so the gate pins the full encode bit-for-bit.
  */
object Geohash {

  val Alphabet = "0123456789bcdefghjkmnpqrstuvwxyz"

  /** The 5p-bit geohash integer code (lon bit 14 at code bit 29, lat bit 14
    * at code bit 28, ... — lon-first interleave, MSB down): the Morton code
    * of the equirectangular grid cell. MSB-first alternation starting with
    * lon puts, counting from the LSB, lon bit i at 2i+1 and lat bit i at 2i
    * when 5p is even (lat takes Morton's even positions), and lon bit i at
    * 2i, lat bit i at 2i+1 when 5p is odd (lat's missing top bit is 0). */
  def codeCol(lon: Column, lat: Column, precision: Int): Column = {
    val totalBits = 5 * precision
    val lonBits = (totalBits + 1) / 2
    val latBits = totalBits / 2
    val ix = ZOrder.gridX(lon, lonBits)
    val iy = ZOrder.gridY(lat, latBits)
    if (totalBits % 2 == 0) ZOrder.mortonCol(iy, ix, latBits)
    else ZOrder.mortonCol(ix, iy, lonBits)
  }

  /** Geohash string of `precision` base32 chars from the code. */
  def geohashCol(lon: Column, lat: Column, precision: Int): Column = {
    val code = codeCol(lon, lat, precision)
    val chars = typedLit(Alphabet.toCharArray.map(_.toString))
    concat((0 until precision).map { j =>
      element_at(chars,
        shiftright(code, 5 * (precision - 1 - j)).bitwiseAND(lit(31L)).cast("int")
          + lit(1))
    }: _*)
  }

  /** Gate query (q94): precision-6 geohash of every event point, rolled up
    * by 4-char prefix (≈ 20 km cells) — count + distinct users per cell;
    * the prefix rollup IS the containment rollup. */
  def prefixRollup(spark: SparkSession, dir: String): DataFrame =
    SpatialQueries.eventPoints(spark, dir)
      .select(col("user_id"), geohashCol(col("lon"), col("lat"), RollupPrecision).as("gh"))
      .groupBy(substring(col("gh"), 1, 4).as("gh4"))
      .agg(count(lit(1)).as("n"), countDistinct(col("user_id")).as("n_users"))

  /** The geohash length [[prefixRollup]] encodes; its q94 oracle reads it. */
  val RollupPrecision = 6
}
