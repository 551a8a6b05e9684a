package graft.synth

import java.awt.image.BufferedImage
import javax.imageio.ImageIO

/** Deterministic synthesis of the graft's input table
  * (BASELINE.json input_hint): rows of
  * `(image_id:string, bytes:binary, w:int32, h:int32, fmt:string,
  *   caption:string, phash:int64)`.
  *
  * Everything derives from the row index via a seeded xorshift — no
  * wall-clock, no java.util.Random, no external data — so any row can be
  * re-synthesized anywhere (executor-side re-render IS the per-row source of
  * truth the PSNR/caption validators compare against).
  *
  * Geotags are *derived*, not stored: [[Geotag.lonOf]]/[[Geotag.latOf]] map
  * (image_id-seed) to a point, 70% clustered into 3 dense "metros"
  * (manufactured skew — the dense z12-tile problem of the reference,
  * SURVEY.md §4 "Skew handling") and 30% uniform tail.
  */
object ImageSynth {

  // Disk-cached ImageIO streams (the default) are closed by the JDK's shared
  // StreamCloser daemon, which races under 32-thread executor churn
  // (FileCacheImageOutputStream.close NPEs, then every in-flight encode dies
  // with "IOException: closed"). Memory-cached streams are also faster.
  ImageIO.setUseCache(false)

  final case class ImageRow(image_id: String, bytes: Array[Byte], w: Int, h: Int,
                            fmt: String, caption: String, phash: Long)

  @inline def mix(seedIn: Long): Long = {
    // splitmix64 finalizer — deterministic, well-distributed
    var z = seedIn + 0x9E3779B97F4A7C15L
    z = (z ^ (z >>> 30)) * 0xBF58476D1CE4E5B9L
    z = (z ^ (z >>> 27)) * 0x94D049BB133111EBL
    z ^ (z >>> 31)
  }

  def idOf(i: Long): String = {
    // hot path at 10^7+ rows/s: avoid String.format (it allocates a Formatter
    // per call and dominated the feature-derivation profile)
    val sb = new java.lang.StringBuilder(11)
    sb.append("img")
    val digits = java.lang.Long.toString(i)
    var pad = 8 - digits.length
    while (pad > 0) { sb.append('0'); pad -= 1 }
    sb.append(digits).toString
  }
  def seedOf(i: Long): Long = mix(i * 0x100000001B3L + 7L)

  private val Sizes = Array(16, 32, 64)
  private val CaptionVerbs = Array("edits", "maps", "squares", "traces", "tags", "imports")
  private val CaptionNouns = Array("building", "highway", "landuse", "amenity", "boundary", "waterway")
  /** The team names, by team ordinal ([[teamIdOf]]). */
  val Teams = Array("kll", "msf", "dcx", "hot")

  // per-thread canvas pool: BufferedImage construction allocates rasters and
  // (via finalizable internals) stresses GC/Finalizer at 32 threads; render
  // output is never retained by callers beyond the next render on the same
  // thread, so one canvas per (w,h) per thread suffices
  private val canvasPool = ThreadLocal.withInitial[java.util.HashMap[Integer, BufferedImage]](() =>
    new java.util.HashMap[Integer, BufferedImage]())

  /** Pixel-level render: a deterministic pattern of 8×8 constant-color
    * blocks (aligned with JPEG's DCT grid, so the lossy roundtrip stays well
    * above the 40 dB PSNR bar while the content remains seed-unique).
    * NOTE: returns a per-thread REUSED canvas — do not retain across calls. */
  def render(seed: Long, w: Int, h: Int): BufferedImage = {
    val pool = canvasPool.get()
    val key = Integer.valueOf((w << 16) | h)
    var img = pool.get(key)
    if (img == null) { img = new BufferedImage(w, h, BufferedImage.TYPE_INT_RGB); pool.put(key, img) }
    // write straight into the TYPE_INT_RGB backing array: setRGB pays a
    // ColorModel conversion PER PIXEL and was the hottest call in the synth
    // profile (the raster data is identical — sRGB packed ints)
    val px = img.getRaster.getDataBuffer.asInstanceOf[java.awt.image.DataBufferInt].getData
    var y = 0
    while (y < h) {
      val rowOff = y * w
      var x = 0
      while (x < w) {
        // grayscale (r=g=b) keeps chroma constant, dodging 4:2:0 subsampling
        // loss; the mild in-block ramp keeps JPEG *lossy* (so the PSNR path is
        // genuinely exercised) while staying far above the 40 dB bar
        val base = (mix(seed ^ ((y / 8).toLong << 32) ^ (x / 8).toLong) & 0xBF).toInt
        val v = base + (x % 8) * 3 + (y % 8) * 4
        px(rowOff + x) = (v << 16) | (v << 8) | v
        x += 1
      }
      y += 1
    }
    img
  }

  /** 64-bit average-hash phash: 8x8 mean-pool luma, threshold at the mean. */
  def phashOf(img: BufferedImage): Long = {
    val gw = 8; val gh = 8
    val cellW = math.max(1, img.getWidth / gw)
    val cellH = math.max(1, img.getHeight / gh)
    val lum = new Array[Double](gw * gh)
    // render output is TYPE_INT_RGB — read its backing array directly
    // (getRGB converts through the ColorModel per pixel); other types
    // (callers hashing decoded images) keep the generic path. Hoisted once
    // per image, not per 8x8 cell.
    val px = img.getRaster.getDataBuffer match {
      case b: java.awt.image.DataBufferInt if img.getType == BufferedImage.TYPE_INT_RGB => b.getData
      case _ => null
    }
    val iw = img.getWidth
    var gy = 0
    while (gy < gh) {
      var gx = 0
      while (gx < gw) {
        var s = 0.0; var n = 0
        var y = gy * cellH
        while (y < math.min((gy + 1) * cellH, img.getHeight)) {
          var x = gx * cellW
          while (x < math.min((gx + 1) * cellW, img.getWidth)) {
            val rgb = if (px != null) px(y * iw + x) else img.getRGB(x, y)
            s += 0.299 * ((rgb >> 16) & 0xFF) + 0.587 * ((rgb >> 8) & 0xFF) + 0.114 * (rgb & 0xFF)
            n += 1; x += 1
          }
          y += 1
        }
        lum(gy * gw + gx) = if (n == 0) 0.0 else s / n
        gx += 1
      }
      gy += 1
    }
    val mean = lum.sum / lum.length
    var h = 0L; var i = 0
    while (i < lum.length) { if (lum(i) > mean) h |= (1L << i); i += 1 }
    h
  }

  // ImageIO's registry (IIORegistry) is a synchronized singleton: per-call
  // getImageWritersByFormatName / ImageIO.write serialize all 32 executor
  // threads on one lock. Cache one codec instance per thread (the reused-
  // codec-per-partition pattern) — writers/readers are NOT thread-safe but
  // are reusable within a thread.
  private val jpegWriter = ThreadLocal.withInitial[javax.imageio.ImageWriter](() =>
    ImageIO.getImageWritersByFormatName("jpeg").next())
  private val pngWriter = ThreadLocal.withInitial[javax.imageio.ImageWriter](() =>
    ImageIO.getImageWritersByFormatName("png").next())
  private val outStream = ThreadLocal.withInitial[ByteArrayImageOutputStream](() =>
    new ByteArrayImageOutputStream)

  def encode(img: BufferedImage, fmt: String): Array[Byte] = {
    // reused per-thread Disposer/finalizer-free stream (see ByteStreams)
    val ios = outStream.get().rewind()
    if (fmt == "jpg") {
      val writer = jpegWriter.get()
      val params = writer.getDefaultWriteParam
      // explicit high quality so the lossy roundtrip clears the PSNR>=40dB bar
      params.setCompressionMode(javax.imageio.ImageWriteParam.MODE_EXPLICIT)
      params.setCompressionQuality(0.85f)
      writer.setOutput(ios)
      writer.write(null, new javax.imageio.IIOImage(img, null, null), params)
    } else {
      val writer = pngWriter.get()
      writer.setOutput(ios)
      writer.write(img)
    }
    ios.flush()
    ios.toByteArray
  }

  /** Feature-class noun ordinal — the SAME `mix(seed^13)` draw [[captionOf]]
    * uses, so a row's caption noun IS its feature class: 0=building,
    * 1=highway, 2=landuse, 3=amenity, 4=boundary, 5=waterway. The tile
    * measure matrix maps these onto the reference's counter predicates
    * (util/map-contribution-extractor.js:21-62): highway→km, building→b,
    * amenity|boundary→poi (the reference's `!highway && (amenity||name)`
    * two-way qualification). */
  def nounIdOf(seed: Long): Int =
    (mix(seed ^ 13) & 0x7FFFFFFF).toInt % CaptionNouns.length

  /** Deterministic synthetic track segment for a "highway" feature: the
    * (dlon, dlat) offset of its second endpoint (≲0.01°, so segments stay
    * local to their tile) — the engine's analog of the reference's LineString
    * whose turf.lineDistance feeds the km counters. */
  def segDLon(seed: Long): Double =
    (((mix(seed ^ 61) & 0xFFFFF).toDouble / 0xFFFFF) - 0.5) * 0.02
  def segDLat(seed: Long): Double =
    (((mix(seed ^ 67) & 0xFFFFF).toDouble / 0xFFFFF) - 0.5) * 0.02

  /** Editing metadata derived from the seed, one field per function
    * (uid/team/day here; changeset and version in [[graft.functions.Statics]])
    * — the `@uid/@c/@v/@timestamp` analog of the reference's QA-tile props
    * (util/map-contribution-extractor.js:88-96). */
  def uidOf(seed: Long): Long = (mix(seed ^ 17) & 0x7FFFFFFF) % 500
  /** Team ordinal 0..3 into kll, msf, dcx, hot. */
  def teamIdOf(seed: Long): Int = ((mix(seed ^ 19) & 0x7FFFFFFF) % Teams.length).toInt
  def teamOf(seed: Long): String = Teams(teamIdOf(seed))
  def dayOf(seed: Long): Long = 18000L + (mix(seed ^ 23) & 0x7FFFFFFF) % 365 // epoch days

  /** The row's caption, as [[rowOf]] writes it and [[graft.pipeline.Validate]]
    * expects it. */
  def captionOf(seed: Long): String = {
    val v = CaptionVerbs((mix(seed ^ 11) & 0x7FFFFFFF).toInt % CaptionVerbs.length)
    val n = CaptionNouns(nounIdOf(seed))
    s"user${uidOf(seed)} of ${teamOf(seed)} $v $n on day ${dayOf(seed)}"
  }

  /** Full row synthesis for index i. */
  def rowOf(i: Long): ImageRow = {
    val seed = seedOf(i)
    val w = Sizes((mix(seed ^ 2) & 0x7FFFFFFF).toInt % Sizes.length)
    val h = Sizes((mix(seed ^ 3) & 0x7FFFFFFF).toInt % Sizes.length)
    val fmt = if ((mix(seed ^ 5) & 1L) == 0L) "png" else "jpg"
    val img = render(seed, w, h)
    ImageRow(idOf(i), encode(img, fmt), w, h, fmt, captionOf(seed), phashOf(img))
  }
}

/** Deterministic geotag derivation (engine-side, never stored). */
object Geotag {
  import ImageSynth.mix

  /** (lonCenter, latCenter, spreadDeg) of the three dense metros. */
  val Metros: Array[(Double, Double, Double)] = Array(
    (-122.42, 37.77, 0.35), // "SF"
    (2.35, 48.86, 0.25),    // "Paris"
    (106.85, -6.21, 0.45))  // "Jakarta"

  // the metros' fields as primitive arrays, read per row without unboxing
  private val MetroLon = Metros.map(_._1)
  private val MetroLat = Metros.map(_._2)
  private val MetroSpread = Metros.map(_._3)

  /** Seed → (lon, lat): 70% metro-clustered (skew!), 30% uniform tail. The
    * two coordinates are separate primitive functions so a per-row caller
    * allocates no tuple; both branch on the same `mix(seed ^ 41)` draw. */
  def lonOf(seed: Long): Double = {
    val sel = mix(seed ^ 41)
    if ((sel & 0x7FFFFFFF) % 10 < 7) {
      val m = ((sel >>> 33) % Metros.length).toInt
      MetroLon(m) + (((mix(seed ^ 43) & 0xFFFFF).toDouble / 0xFFFFF) - 0.5) * 2 * MetroSpread(m)
    } else (mix(seed ^ 53) & 0xFFFFFF).toDouble / 0xFFFFFF * 360.0 - 180.0
  }

  def latOf(seed: Long): Double = {
    val sel = mix(seed ^ 41)
    if ((sel & 0x7FFFFFFF) % 10 < 7) {
      val m = ((sel >>> 33) % Metros.length).toInt
      MetroLat(m) + (((mix(seed ^ 47) & 0xFFFFF).toDouble / 0xFFFFF) - 0.5) * 2 * MetroSpread(m)
    } else (mix(seed ^ 59) & 0xFFFFFF).toDouble / 0xFFFFFF * 170.0 - 85.0
  }
}
