package graft.spatial

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.functions.SeedExprs

/** Feature→tile assignment — the tiling-engine core (SURVEY.md J7/X10;
  * reference: tile-reduce bucketing by z12 quadkey,
  * util/map-contribution-extractor.js:85,186,191). */
object TileAssign {

  /** Salted repartition on cell prefix — the skew treatment (north_rule):
    * dense metro cells are split across `salt` buckets so no single task owns
    * a hotspot; AQE skew-join splitting handles the residual. */
  def repartitionByCellSalted(df: DataFrame, cellCol: String, numPartitions: Int, salt: Int): DataFrame =
    df.withColumn("__salt", pmod(hash(col(cellCol), monotonically_increasing_id()), lit(salt)))
      .repartition(numPartitions, col(cellCol), col("__salt"))
      .drop("__salt")

  /** Multi-zoom emission — the reference's objects layer spans z12-16 and
    * the summary layers z1-12 (util/README.md:13-18): each feature is
    * assigned its cell at every requested zoom in one pass (explode of the
    * parent chain; parents are bit-shifts of the z-max cell, no re-encode). */
  def withTileMultiZoom(df: DataFrame, lonCol: String, latCol: String,
                        zooms: Seq[Int]): DataFrame = {
    val zMax = zooms.max
    val base = df.withColumn("__cell_zmax",
      SeedExprs.quadCell(col(latCol), col(lonCol), zMax))
    // parent at z: drop (zMax-z) low bits of x and y
    val cells = zooms.map { z =>
      val shift = zMax - z
      struct(lit(z).as("zoom"),
        ((lit(z.toLong) * lit(1L << 58)) +
          shiftleft(shiftright(col("__cell_zmax").bitwiseAND(lit((1L << 58) - 1)), 29 + shift), 29) +
          shiftright(col("__cell_zmax").bitwiseAND(lit((1L << 29) - 1)), shift)).as("cell"))
    }
    base.withColumn("__zc", explode(array(cells: _*)))
      .withColumn("zoom", col("__zc.zoom"))
      .withColumn("cell_id", col("__zc.cell"))
      .drop("__zc", "__cell_zmax")
  }

  /** Per-tile rollup over an integer grid (gate-friendly exact variant):
    * tiles are an n×n equirectangular grid; emits per-tile counts +
    * per-class conditional sums — the reference's tilePointSummaries shape
    * (map-contribution-extractor.js:279-320). */
  def gridRollup(points: DataFrame, lonCol: String, latCol: String, n: Int,
                 classCol: String, classes: Seq[String]): DataFrame = {
    val tx = least(lit(n - 1), greatest(lit(0),
      floor((col(lonCol) + 180.0) / 360.0 * n).cast("int"))).as("tx")
    val ty = least(lit(n - 1), greatest(lit(0),
      floor((lit(90.0) - col(latCol)) / 180.0 * n).cast("int"))).as("ty")
    val aggs = classes.map(c =>
      sum(when(col(classCol) === c, 1L).otherwise(0L)).as(s"n_$c")) :+
      count(lit(1)).as("n_total")
    points.groupBy(tx, ty).agg(aggs.head, aggs.tail: _*)
  }
}
