package graft.multimodal

import org.apache.spark.sql.{DataFrame, Encoders, SparkSession}
import org.apache.spark.sql.functions._

import graft.index.Quadkey
import graft.pipeline.{ImagePipeline, Validate}
import graft.synth.{Geotag, ImageSynth}

/** Raster→vector tile mosaic — the image × geospatial crossover: decode each
  * geotagged image's PIXELS (real ImageIO decode of the stored bytes, the
  * raster path) and aggregate a per-map-tile brightness layer — the shape of
  * "render a heat/mosaic tile layer from a 10^12-image table".
  *
  * Scale shape: decode + pixel sampling happen INSIDE the partition that
  * read the bytes (mapPartitions over the stored table; bytes never enter an
  * exchange — the q33 discipline); only (lon, lat, brightness) tuples leave
  * the scan, and the tile rollup is one partial+final hash agg keyed by the
  * z12 cell id. Skewed metro tiles ride the same salting/AQE machinery as
  * every other tile rollup (SkewSpec).
  *
  * The gate stays lossless-exact: only PNG rows contribute (fmt is a
  * seed-derived coin the oracle replays — same split as q33), and the DuckDB
  * oracle re-derives each sampled pixel analytically from the synth formula
  * pixel(x,y) = (mix(seed ^ ((y/8)<<32) ^ (x/8)) & 0xBF) + (x%8)·3 + (y%8)·4
  * (ImageSynth.render) — so a hash match proves the REAL decode of real PNG
  * bytes returned exactly the pixels the synthesizer wrote, per tile.
  * Samples sit at (0,0), (9,0), (0,9), (9,9): inside every size (min 16px)
  * and covering four distinct 8×8 blocks (distinct hash draws).
  */
object TileMosaic {

  final case class PxRow(lon: Double, lat: Double, brightness: Long)

  /** Gate query (q98): per-z12-tile count + summed 4-pixel brightness of
    * the PNG rows of the synthesized image table. */
  def mosaic(spark: SparkSession, n: Long = ImagePipeline.GateRows,
             parts: Int = ImagePipeline.GateParts): DataFrame = {
    val px = ImagePipeline.synthTable(spark, n, parts)
      .filter(_.fmt == "png")
      .mapPartitions { it =>
        it.map { r =>
          val i = r.image_id.stripPrefix("img").toLong
          val seed = ImageSynth.seedOf(i)
          val img = Validate.decode(r.bytes, r.fmt)
          var b = 0L
          var c = 0
          val xs = Array(0, 9, 0, 9); val ys = Array(0, 0, 9, 9)
          while (c < 4) { b += (img.getRGB(xs(c), ys(c)) & 0xFF); c += 1 }
          PxRow(Geotag.lonOf(seed), Geotag.latOf(seed), b)
        }
      }(Encoders.product[PxRow])
      .toDF()
    px.select(Quadkey.cellIdCol(col("lon"), col("lat"), 12).as("tile"),
        col("brightness"))
      .groupBy(col("tile"))
      .agg(count(lit(1)).as("n_png"), sum(col("brightness")).as("sum_brightness"))
  }
}
