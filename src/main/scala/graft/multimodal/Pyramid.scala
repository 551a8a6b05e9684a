package graft.multimodal

import org.apache.spark.sql.{DataFrame, Encoders, SparkSession}
import org.apache.spark.sql.functions._

import graft.pipeline.{ImagePipeline, Validate}

/** Full-frame raster kernels over the stored image table — the decode-heavy
  * pair to q98's 4-pixel sampling:
  *
  *  - [[imageIntegral]] (q116): EVERY pixel of every PNG row contributes to
  *    a per-image brightness integral — the strongest possible decode gate
  *    (q98 proved 4 samples per image; this proves the whole frame).
  *  - [[pyramidSums]] (q117): a real 2×2 floor-mean downsample run TWICE
  *    (the thumbnail/pyramid kernel every multimodal pipeline ships) with
  *    both level sums gated per image.
  *
  * Scale shape (the q33/q98 discipline): decode + kernel run INSIDE the
  * partition that read the bytes; only (idx, w, h, sums) leave the scan —
  * bytes never enter an exchange, and there is no shuffle at all (the gate
  * relation is per-image). The DuckDB oracle replays both kernels in closed
  * form from the synth block structure (base + 3·(x%8) + 4·(y%8)):
  * level-0 block sum = 64·base + 1568, level-1 = 16·base + 384, level-2 =
  * 4·base + 96 — derived once, verified against a direct per-pixel render
  * in the spec, so a hash match proves the real decode AND the real
  * downsample arithmetic, frame-complete.
  */
object Pyramid {

  /** Image count (the oracles read it) and range partitions of the raster gates. */
  val GateN = 1200L
  private val GateParts = 16
  /** The brightness threshold of [[blobCount]]'s mask (q170). */
  val BlobThr = 150

  final case class IntRow(idx: Long, w: Int, h: Int, sum_brightness: Long)
  final case class PyrRow(idx: Long, lvl1_sum: Long, lvl2_sum: Long)

  private def pixels(bytes: Array[Byte], fmt: String): (Array[Int], Int, Int) = {
    val img = Validate.decode(bytes, fmt)
    val w = img.getWidth; val h = img.getHeight
    val buf = new Array[Int](w * h)
    img.getRGB(0, 0, w, h, buf, 0, w)
    (buf, w, h)
  }

  /** Gate query (q116): per-PNG-image full-frame brightness integral. */
  def imageIntegral(spark: SparkSession, n: Long = GateN, parts: Int = GateParts): DataFrame =
    ImagePipeline.synthTable(spark, n, parts)
      .filter(_.fmt == "png")
      .mapPartitions { it =>
        it.map { r =>
          val (buf, w, h) = pixels(r.bytes, r.fmt)
          var s = 0L; var i = 0
          while (i < buf.length) { s += (buf(i) & 0xFF); i += 1 }
          IntRow(r.image_id.stripPrefix("img").toLong, w, h, s)
        }
      }(Encoders.product[IntRow])
      .toDF()

  /** Gate query (q117): per-PNG-image level-1 and level-2 pyramid sums
    * (2×2 floor-mean downsample applied once, then again to its output). */
  def pyramidSums(spark: SparkSession, n: Long = GateN, parts: Int = GateParts): DataFrame =
    ImagePipeline.synthTable(spark, n, parts)
      .filter(_.fmt == "png")
      .mapPartitions { it =>
        it.map { r =>
          val (buf, w, h) = pixels(r.bytes, r.fmt)
          val g = Array.tabulate(h, w)((y, x) => (buf(y * w + x) & 0xFF).toLong)
          def down(m: Array[Array[Long]]): Array[Array[Long]] =
            Array.tabulate(m.length / 2, m(0).length / 2)((y, x) =>
              (m(2 * y)(2 * x) + m(2 * y)(2 * x + 1) +
                m(2 * y + 1)(2 * x) + m(2 * y + 1)(2 * x + 1)) / 4)
          val l1 = down(g); val l2 = down(l1)
          PyrRow(r.image_id.stripPrefix("img").toLong,
            l1.map(_.sum).sum, l2.map(_.sum).sum)
        }
      }(Encoders.product[PyrRow])
      .toDF()

  final case class TvRow(idx: Long, tv: Long)

  /** Gate query (q152): per-PNG-image anisotropic total variation
    * Σ|v(x+1,y)−v(x,y)| + Σ|v(x,y+1)−v(x,y)| — the standard "is this frame
    * flat/synthetic or does it carry texture" complexity score a training-
    * data image filter thresholds on. Computed from the REAL decoded
    * pixels, pair by pair; the oracle replays it in closed form (in-block
    * gradients are the ramp constants 3/4, block-boundary terms are
    * 8·|Δbase−21| and 8·|Δbase−28| per adjacent block pair — verified
    * against a direct render in Wave23Spec). Same no-shuffle scale shape
    * as q116: one number per image leaves the scan partition. */
  def totalVariation(spark: SparkSession, n: Long = GateN, parts: Int = GateParts): DataFrame =
    ImagePipeline.synthTable(spark, n, parts)
      .filter(_.fmt == "png")
      .mapPartitions { it =>
        it.map { r =>
          val (buf, w, h) = pixels(r.bytes, r.fmt)
          var s = 0L
          var y = 0
          while (y < h) {
            val off = y * w
            var x = 0
            while (x < w - 1) {
              s += math.abs((buf(off + x + 1) & 0xFF) - (buf(off + x) & 0xFF)); x += 1
            }
            if (y < h - 1) {
              var x2 = 0
              while (x2 < w) {
                s += math.abs((buf(off + w + x2) & 0xFF) - (buf(off + x2) & 0xFF)); x2 += 1
              }
            }
            y += 1
          }
          TvRow(r.image_id.stripPrefix("img").toLong, s)
        }
      }(Encoders.product[TvRow])
      .toDF()

  final case class BlobRow(idx: Long, n_blobs: Long, n_hot: Long)

  /** Gate query (q170): per-PNG-image 4-connected component count of the
    * thresholded mask (v > thr) — REAL raster CCL (two-pass union-find over
    * the decoded pixels), the object-counting kernel. The oracle never sees
    * a pixel: within a block the hot region {3·(x%8)+4·(y%8) > thr−base}
    * is an upper set of the grid order, hence always 4-connected, so the
    * image's components are the components of the BLOCK adjacency graph —
    * horizontal edges need (base_left+49 > thr ∧ base_right+28 > thr),
    * vertical (base_top+49 > thr ∧ base_bottom+21 > thr) — which DuckDB
    * closes with a recursive CTE (the q63/q131 different-family
    * discipline). */
  def blobCount(spark: SparkSession, n: Long = GateN, parts: Int = GateParts,
                thr: Int = BlobThr): DataFrame =
    ImagePipeline.synthTable(spark, n, parts)
      .filter(_.fmt == "png")
      .mapPartitions { it =>
        it.map { r =>
          val (buf, w, h) = pixels(r.bytes, r.fmt)
          val hot = new Array[Boolean](w * h)
          var nHot = 0L
          var i = 0
          while (i < buf.length) {
            if ((buf(i) & 0xFF) > thr) { hot(i) = true; nHot += 1 }
            i += 1
          }
          // union-find over hot pixels, left & up edges
          val parent = Array.tabulate(w * h)(identity)
          def find(a: Int): Int = {
            var x = a
            while (parent(x) != x) { parent(x) = parent(parent(x)); x = parent(x) }
            x
          }
          def union(a: Int, b: Int): Unit = {
            val ra = find(a); val rb = find(b)
            if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
          }
          var y = 0
          while (y < h) {
            var x = 0
            while (x < w) {
              val p = y * w + x
              if (hot(p)) {
                if (x > 0 && hot(p - 1)) union(p, p - 1)
                if (y > 0 && hot(p - w)) union(p, p - w)
              }
              x += 1
            }
            y += 1
          }
          var blobs = 0L
          i = 0
          while (i < w * h) { if (hot(i) && find(i) == i) blobs += 1; i += 1 }
          BlobRow(r.image_id.stripPrefix("img").toLong, blobs, nHot)
        }
      }(Encoders.product[BlobRow])
      .toDF()

  /** Gate query (q179): per-image histogram-equalization lookup table —
    * lut(v) = (255·cdf(v)) div (w·h) over the decoded pixel histogram, the
    * contrast-normalization step a vision pipeline applies before feature
    * extraction. Composes q158's decode histogram with its per-image
    * [[graft.ops.OrderStats.distribution]] (cdf = cum_cnt, pixels =
    * tot_cnt); exact integers end to end. */
  def equalizationLut(spark: SparkSession, n: Long = GateN, parts: Int = GateParts): DataFrame =
    graft.ops.OrderStats.distribution(pixelHistogram(spark, n, parts), Seq("idx"), "value",
        "cnt" -> col("cnt"))
      .select(col("idx"), col("value"), expr("(255 * cum_cnt) div tot_cnt").as("lut"))

  final case class HistRow(idx: Long, value: Int, cnt: Long)

  /** Gate query (q158): per-PNG-image pixel-value histogram (nonzero bins
    * only) from the REAL decoded pixels — the exposure/contrast profile
    * histogram-equalization and quality filters start from. Oracle replays
    * it in closed form: within a block, value = base + t where t = 3·(x%8)
    * + 4·(y%8) has a fixed 64-entry multiplicity table, so count(idx, v) =
    * Σ_blocks mult(v − base). Same scale shape as q116: bins leave the
    * scan partition, bytes don't. */
  def pixelHistogram(spark: SparkSession, n: Long = GateN, parts: Int = GateParts): DataFrame =
    ImagePipeline.synthTable(spark, n, parts)
      .filter(_.fmt == "png")
      .mapPartitions { it =>
        it.flatMap { r =>
          val (buf, _, _) = pixels(r.bytes, r.fmt)
          val hist = new Array[Long](256)
          var i = 0
          while (i < buf.length) { hist(buf(i) & 0xFF) += 1; i += 1 }
          val idx = r.image_id.stripPrefix("img").toLong
          (0 until 256).iterator.filter(hist(_) > 0)
            .map(v => HistRow(idx, v, hist(v)))
        }
      }(Encoders.product[HistRow])
      .toDF()
}
