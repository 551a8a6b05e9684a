package graft.spatial

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Morton (Z-order) encoding — the space-filling-curve key for data CLUSTERING
  * rather than joining: sorting a 100 TB point table by the interleaved-bit
  * key makes every parquet row-group's (min, max) cell range tight on BOTH
  * axes at once, so a 2-D range predicate prunes files the way a 1-D
  * predicate prunes a sorted column (the Iceberg/Delta z-order layout
  * strategy, from scratch). The bit interleave is pure Column algebra with
  * LITERAL shift amounts only — each of the 2·bits terms is
  * ((v >> i) & 1) · 2^j, which stays inside whole-stage codegen and never
  * trips ANSI overflow (the code is < 2^(2·bits)).
  *
  * ZOrderSpec pins the locality property the key exists for:
  * repartitionByRange on the key yields partitions whose [min, max] code
  * ranges are non-overlapping — the file-pruning precondition.
  */
object ZOrder {

  /** Interleave the low `bits` of ix (even positions) and iy (odd): the
    * classic Morton code, built from literal-shift terms. */
  def mortonCol(ix: Column, iy: Column, bits: Int): Column =
    (0 until bits).map { i =>
      (shiftright(ix, i).bitwiseAND(lit(1L)) * lit(1L << (2 * i))) +
        (shiftright(iy, i).bitwiseAND(lit(1L)) * lit(1L << (2 * i + 1)))
    }.reduce(_ + _)

  /** Equirectangular grid coordinate at 2^bits cells per axis, clamped to the
    * last cell (the clustering key needs monotonicity, not conformality);
    * every grid-tiled query shares it. */
  def gridX(lon: Column, bits: Int): Column =
    least(floor((lon + lit(180.0)) / lit(360.0) * lit((1L << bits).toDouble)),
      lit((1L << bits) - 1.0)).cast("long")
  def gridY(lat: Column, bits: Int): Column =
    least(floor((lat + lit(90.0)) / lit(180.0) * lit((1L << bits).toDouble)),
      lit((1L << bits) - 1.0)).cast("long")

  /** Gate query (q91): morton code at 10 bits/axis over the event points,
    * rolled up by 64-code z-range bucket — counts plus the bucket's code
    * span (the min/max that file-skipping statistics would record). */
  def mortonRollup(spark: SparkSession, dir: String): DataFrame =
    SpatialQueries.eventPoints(spark, dir)
      .select(mortonCol(gridX(col("lon"), RollupBits), gridY(col("lat"), RollupBits), RollupBits)
        .as("morton"))
      .groupBy(shiftright(col("morton"), 6).as("zbucket"))
      .agg(count(lit(1)).as("n"), min(col("morton")).as("min_code"),
        max(col("morton")).as("max_code"))

  /** [[mortonRollup]]'s bits per axis; its q91 oracle reads it. */
  val RollupBits = 10
}
