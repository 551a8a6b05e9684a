package graft.multimodal

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.functions.SeedExprs
import graft.pipeline.{ImagePipeline, Validate}

/** Raster→vector tile mosaic — the image × geospatial crossover: decode each
  * geotagged image's PIXELS (real ImageIO decode of the stored bytes, the
  * raster path) and aggregate a per-map-tile brightness layer — the shape of
  * "render a heat/mosaic tile layer from a 10^12-image table".
  *
  * Scale shape: decode + pixel sampling happen INSIDE the partition that
  * read the bytes (one per-row decode in the scan's stage; bytes never enter
  * an exchange — the q33 discipline); only (tile, brightness) rows leave
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

  /** Pixel coordinates of the 4 samples: one in each of 4 distinct 8×8
    * blocks, inside every image size. */
  private val SampleXs = Array(0, 9, 0, 9)
  private val SampleYs = Array(0, 0, 9, 9)

  /** Summed low byte of the 4 sampled pixels of the real decode of `bytes`. */
  private val sampled = udf { (bytes: Array[Byte], fmt: String) =>
    val img = Validate.decode(bytes, fmt)
    var b = 0L
    var c = 0
    while (c < 4) { b += (img.getRGB(SampleXs(c), SampleYs(c)) & 0xFF); c += 1 }
    b
  }

  /** The PNG rows of the synthesized image table as (idx, bytes, fmt). */
  def pngRows(spark: SparkSession, n: Long, parts: Int): DataFrame =
    ImagePipeline.synthTable(spark, n, parts).toDF()
      .filter(col("fmt") === "png")
      .select(ImagePipeline.idxOf(col("image_id")).as("idx"), col("bytes"), col("fmt"))

  /** (idx, bytes, fmt, …) rows with their sampled `brightness` in place of
    * `bytes` and `fmt`: the one decode of q98 and q151. */
  def withBrightness(rows: DataFrame): DataFrame =
    rows.withColumn("brightness", sampled(col("bytes"), col("fmt"))).drop("bytes", "fmt")

  /** Gate query (q98): per-z12-tile count + summed 4-pixel brightness of
    * the PNG rows of the synthesized image table. */
  def mosaic(spark: SparkSession, n: Long = ImagePipeline.GateRows,
             parts: Int = ImagePipeline.GateParts): DataFrame =
    ImagePipeline.geotagged(withBrightness(pngRows(spark, n, parts)))
      .select(SeedExprs.quadCell(col("lat"), col("lon"), 12).as("tile"), col("brightness"))
      .groupBy(col("tile"))
      .agg(count(lit(1)).as("n_png"), sum(col("brightness")).as("sum_brightness"))
}
