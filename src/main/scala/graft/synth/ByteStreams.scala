package graft.synth

import javax.imageio.stream.{ImageInputStreamImpl, ImageOutputStreamImpl}

/** Disposer-free, finalizer-amortized ImageIO streams.
  *
  * Two JDK global locks murder multi-threaded ImageIO throughput (measured on
  * 32 threads: 2.7k images/s/thread at 8 threads → 227 at 32):
  *  1. MemoryCacheImageInput/OutputStream constructors register with the
  *     global `sun.java2d.Disposer` monitor;
  *  2. `ImageInputStreamImpl` declares `finalize()`, so EVERY instance takes
  *     the JVM Finalizer-registration lock at construction.
  * These implementations avoid (1) entirely and amortize (2) by being
  * *resettable* — one instance per thread, reused for every image.
  */
final class ByteArrayImageInputStream extends ImageInputStreamImpl {
  private var buf: Array[Byte] = Array.emptyByteArray

  /** Point this stream at a new payload and rewind (reuse path). */
  def setBytes(b: Array[Byte]): this.type = {
    buf = b; streamPos = 0L; bitOffset = 0; flushedPos = 0L; this
  }

  override def read(): Int = {
    if (streamPos >= buf.length) return -1
    bitOffset = 0
    val b = buf(streamPos.toInt) & 0xFF
    streamPos += 1
    b
  }

  override def read(b: Array[Byte], off: Int, len: Int): Int = {
    if (streamPos >= buf.length) return -1
    bitOffset = 0
    val n = math.min(len, buf.length - streamPos.toInt)
    System.arraycopy(buf, streamPos.toInt, b, off, n)
    streamPos += n
    n
  }

  override def length(): Long = buf.length.toLong
  override def isCached: Boolean = true
  override def isCachedMemory: Boolean = true
  override def close(): Unit = () // reusable — never actually closes
}

final class ByteArrayImageOutputStream extends ImageOutputStreamImpl {
  private var buf = new Array[Byte](8192)
  private var size = 0

  /** Rewind for the next image (reuse path). */
  def rewind(): this.type = { size = 0; streamPos = 0L; bitOffset = 0; flushedPos = 0L; this }

  private def ensure(capacity: Int): Unit =
    if (capacity > buf.length) {
      var n = buf.length * 2
      while (n < capacity) n *= 2
      buf = java.util.Arrays.copyOf(buf, n)
    }

  override def write(b: Int): Unit = {
    flushBits()
    ensure(streamPos.toInt + 1)
    buf(streamPos.toInt) = b.toByte
    streamPos += 1
    if (streamPos > size) size = streamPos.toInt
  }

  override def write(b: Array[Byte], off: Int, len: Int): Unit = {
    flushBits()
    ensure(streamPos.toInt + len)
    System.arraycopy(b, off, buf, streamPos.toInt, len)
    streamPos += len
    if (streamPos > size) size = streamPos.toInt
  }

  override def read(): Int = {
    if (streamPos >= size) return -1
    val b = buf(streamPos.toInt) & 0xFF
    streamPos += 1
    b
  }

  override def read(b: Array[Byte], off: Int, len: Int): Int = {
    if (streamPos >= size) return -1
    val n = math.min(len, size - streamPos.toInt)
    System.arraycopy(buf, streamPos.toInt, b, off, n)
    streamPos += n
    n
  }

  override def length(): Long = size.toLong
  override def isCached: Boolean = true
  override def isCachedMemory: Boolean = true
  override def close(): Unit = () // reusable — never actually closes

  def toByteArray: Array[Byte] = java.util.Arrays.copyOf(buf, size)
}
