package graft.multimodal

import org.apache.spark.sql.{DataFrame, Encoders, SparkSession}
import org.apache.spark.sql.functions._

import graft.pipeline.{ImagePipeline, Validate}
import graft.spatial.BoundaryIndex
import graft.synth.{Geotag, ImageSynth}

/** The north-star sentence as ONE operator: "treat each row's geotagged
  * image as a point feature, decode its raster, and roll who-edited-what-
  * where up per AOI" — REAL pixel decode (q98's 4-block sample) × the real
  * broadcast-boundary PIP classification × the per-team rollup, composed.
  *
  * Scale shape: decode + geotag + PIP all run INSIDE the scan partition
  * (the BoundaryIndex is a broadcast-sized driver object shipped in the
  * task closure — the reference's "reused index objects" pattern); only
  * (boundary, team, brightness) rows leave, and the rollup is one hash agg
  * over |boundaries|·|teams| groups. The DuckDB oracle re-derives geotag,
  * PIP, team, AND every sampled pixel analytically, so a hash match proves
  * the whole raster→vector→rollup chain end to end.
  */
object MetroBrightness {

  final case class BRow(boundary: String, team: String, brightness: Long)

  /** Gate query (q151): per-(metro, team) count + summed sampled brightness
    * of the PNG rows of the synthesized image table. */
  def layer(spark: SparkSession, n: Long = ImagePipeline.GateRows,
            parts: Int = ImagePipeline.GateParts): DataFrame = {
    val index = new BoundaryIndex(ImagePipeline.metroBoundaries.toArray)
    ImagePipeline.synthTable(spark, n, parts)
      .filter(_.fmt == "png")
      .mapPartitions { it =>
        it.flatMap { r =>
          val i = r.image_id.stripPrefix("img").toLong
          val seed = ImageSynth.seedOf(i)
          val b = index.queryFirst(Geotag.lonOf(seed), Geotag.latOf(seed))
          if (b == null) None
          else {
            val img = Validate.decode(r.bytes, r.fmt)
            var s = 0L
            var c = 0
            val xs = Array(0, 9, 0, 9); val ys = Array(0, 0, 9, 9)
            while (c < 4) { s += (img.getRGB(xs(c), ys(c)) & 0xFF); c += 1 }
            Some(BRow(b, ImageSynth.teamOf(seed), s))
          }
        }
      }(Encoders.product[BRow])
      .toDF()
      .groupBy(col("boundary").as("boundary_id"), col("team"))
      .agg(count(lit(1)).as("n_png"), sum(col("brightness")).as("sum_brightness"))
  }
}
