package graft

import java.awt.image.{BufferedImage, ComponentColorModel, DataBuffer, DataBufferByte,
  PixelInterleavedSampleModel, Raster}
import java.awt.color.ColorSpace
import org.scalatest.funsuite.AnyFunSuite
import graft.pipeline.Validate
import graft.synth.ImageSynth

/** `Validate.packedPixels` reads 8-bit sRGB interleaved rasters without
  * `getRGB`; every layout it reads directly must give the raster's pixels,
  * which are `getRGB`'s wherever the buffer offset is 0. */
class PackedPixelsSpec extends AnyFunSuite {
  private val buf = ThreadLocal.withInitial[Array[Int]](() => new Array[Int](0))

  private def viaGetRGB(img: BufferedImage): Array[Int] =
    img.getRGB(0, 0, img.getWidth, img.getHeight, null, 0, img.getWidth)

  private def assertPacked(img: BufferedImage): Unit = {
    val n = img.getWidth * img.getHeight
    val got = Validate.packedPixels(img, buf).take(n)
    val want = viaGetRGB(img)
    val bad = (0 until n).filter(i => got(i) != want(i))
    assert(bad.isEmpty, s"${bad.size} of $n pixels differ from getRGB, first at " +
      bad.headOption.map(i => f"$i: ${got(i)}%08x != ${want(i)}%08x").getOrElse(""))
  }

  private def decoded(fmt: String): BufferedImage = {
    val src = ImageSynth.render(ImageSynth.seedOf(11L), 64, 48)
    val img = Validate.decode(ImageSynth.encode(src, fmt), fmt)
    // the layout the direct read exists for
    assert(img.getType == BufferedImage.TYPE_3BYTE_BGR, s"$fmt decodes to type ${img.getType}")
    img
  }

  test("PNG decode: packed pixels equal getRGB") {
    assertPacked(decoded("png"))
  }

  test("JPEG decode: packed pixels equal getRGB") {
    assertPacked(decoded("jpg"))
  }

  test("strided getSubimage and padded RGB-order rasters: packed pixels equal the raster's samples") {
    val sub = decoded("jpg").getSubimage(5, 7, 31, 23)
    assert(sub.getRaster.getSampleModelTranslateX == -5)
    assertPacked(sub)
    // R-G-B band order and a padded pixel and scanline stride, without and
    // with a buffer offset
    def padded(off: Int): BufferedImage = {
      val (w, h, ps, ss) = (9, 6, 4, 41)
      val rnd = new scala.util.Random(3)
      val data = Array.fill[Byte](off + h * ss)(rnd.nextInt().toByte)
      val sm = new PixelInterleavedSampleModel(DataBuffer.TYPE_BYTE, w, h, ps, ss, Array(1, 2, 3))
      val raster = Raster.createWritableRaster(sm, new DataBufferByte(data, data.length - off, off), null)
      val cm = new ComponentColorModel(ColorSpace.getInstance(ColorSpace.CS_sRGB), false, false,
        java.awt.Transparency.OPAQUE, DataBuffer.TYPE_BYTE)
      new BufferedImage(cm, raster, false, null)
    }
    assertPacked(padded(0))
    // getRGB on this raster class reads from the array start and ignores
    // the buffer offset; the direct read follows the DataBuffer contract,
    // as the raster's own getPixel does
    val img = padded(13)
    val n = img.getWidth * img.getHeight
    val got = Validate.packedPixels(img, buf).take(n)
    val px = img.getRaster.getPixels(0, 0, img.getWidth, img.getHeight, null: Array[Int])
    val want = Array.tabulate(n)(i => 0xFF000000 | px(3 * i) << 16 | px(3 * i + 1) << 8 | px(3 * i + 2))
    assert(got.sameElements(want))
  }
}
