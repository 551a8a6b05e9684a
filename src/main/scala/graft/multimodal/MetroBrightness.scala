package graft.multimodal

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.functions.SeedExprs
import graft.pipeline.ImagePipeline
import graft.spatial.PipJoin

/** The north-star sentence as ONE operator: "treat each row's geotagged
  * image as a point feature, decode its raster, and roll who-edited-what-
  * where up per AOI" — REAL pixel decode (q98's 4-block sample) × the real
  * broadcast-boundary PIP classification × the per-team rollup, composed.
  *
  * Scale shape: geotag + PIP ([[PipJoin.withOrdinal]], the engine's one
  * broadcast probe) + decode ([[TileMosaic.withBrightness]]) all run INSIDE
  * the scan partition, and a row outside every metro is never decoded; only
  * (boundary, team, brightness) rows leave, and the rollup is one hash agg
  * over |boundaries|·|teams| groups. The DuckDB oracle re-derives geotag,
  * PIP, team, AND every sampled pixel analytically, so a hash match proves
  * the whole raster→vector→rollup chain end to end.
  */
object MetroBrightness {

  /** Gate query (q151): per-(metro, team) count + summed sampled brightness
    * of the PNG rows of the synthesized image table. */
  def layer(spark: SparkSession, n: Long = ImagePipeline.GateRows,
            parts: Int = ImagePipeline.GateParts): DataFrame = {
    val inMetro = PipJoin.withOrdinal(ImagePipeline.geotagged(TileMosaic.pngRows(spark, n, parts)),
      ImagePipeline.metroBoundaries, "lon", "lat")
    ImagePipeline.named(TileMosaic.withBrightness(inMetro)
        .withColumn("team_id", SeedExprs.metaTeamId(col("idx"))))
      .groupBy(col("boundary_id"), col("team"))
      .agg(count(lit(1)).as("n_png"), sum(col("brightness")).as("sum_brightness"))
  }
}
