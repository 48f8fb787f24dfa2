package graft.functions

import java.io.{ByteArrayInputStream, ByteArrayOutputStream}
import javax.imageio.{ImageIO, ImageReader, ImageWriter}
import javax.imageio.stream.{MemoryCacheImageInputStream, MemoryCacheImageOutputStream}

/** Per-thread ImageIO plugin reuse for the codec seams (r18, r17
  * headroom #4): `ImageIO.write`/`ImageIO.read` pay a service-registry
  * scan plus plugin instantiation and disposal on EVERY call — a fixed
  * per-image constant that, now the codec rows parallelize (spreadScan),
  * is the next per-row cost. ImageWriter/ImageReader instances are not
  * thread-safe but ARE designed for sequential reuse (`setInput`/
  * `setOutput` reset plugin state), so one instance per (thread, format)
  * amortizes the lookup over the whole partition.
  *
  * Byte/pixel identity: the JDK ships exactly one PNG and one JPEG
  * plugin pair, and `ImageIO.write(im, fmt, out)` resolves to the same
  * `getImageWritersByFormatName(fmt).next()` instance type invoked with
  * the all-default `write(RenderedImage)` path used here — encoded
  * bytes and decoded rasters are identical to the per-call API (pinned
  * in MultimodalSpec's determinism/roundtrip tests).
  *
  * Defensive recreate: a decode that THROWS (the malformed arms) drops
  * the thread's cached reader and a fresh one is created on next use —
  * plugin-internal state after an aborted parse is not worth reasoning
  * about. The gated pipelines bounds-check declared headers BEFORE any
  * reader sees bytes, so this path only triggers on adversarial spec
  * fixtures.
  */
private[functions] object ImageIoPool {

  // memory-only stream caches (the codecs already set
  // ImageIO.setUseCache(false); MemoryCache* classes ignore it but are
  // the memory-only implementations by construction)

  private final class WriterLocal(fmt: String) extends ThreadLocal[ImageWriter] {
    override def initialValue(): ImageWriter = {
      val it = ImageIO.getImageWritersByFormatName(fmt)
      require(it.hasNext, s"no ImageIO writer for format '$fmt'")
      it.next()
    }
  }
  private final class ReaderLocal(fmt: String) extends ThreadLocal[ImageReader] {
    override def initialValue(): ImageReader = {
      val it = ImageIO.getImageReadersByFormatName(fmt)
      require(it.hasNext, s"no ImageIO reader for format '$fmt'")
      it.next()
    }
  }

  private val pngWriter = new WriterLocal("png")
  private val jpgWriter = new WriterLocal("jpg")
  private val pngReader = new ReaderLocal("png")
  private val jpgReader = new ReaderLocal("jpeg")

  private def writerFor(fmt: String): WriterLocal = fmt match {
    case "png" => pngWriter
    case "jpg" => jpgWriter
    case other => throw new IllegalArgumentException(s"unpooled format '$other'")
  }
  private def readerFor(fmt: String): ReaderLocal = fmt match {
    case "png" => pngReader
    case "jpg" => jpgReader
    case other => throw new IllegalArgumentException(s"unpooled format '$other'")
  }

  /** Encode with the thread's cached writer — the `ImageIO.write(im,
    * fmt, stream)` default path minus the per-call registry scan and
    * writer disposal. Identical bytes (same plugin, same all-default
    * write).
    */
  def encode(img: java.awt.image.BufferedImage, fmt: String,
             sizeHint: Int): Array[Byte] = {
    val local = writerFor(fmt)
    val bos = new ByteArrayOutputStream(sizeHint)
    val ios = new MemoryCacheImageOutputStream(bos)
    val w = local.get()
    try {
      w.setOutput(ios)
      w.write(img)
      // close, not flush: also releases the stream's memory cache
      // (the target ByteArrayOutputStream stays open)
      ios.close()
    } catch {
      case e: Throwable =>
        // an aborted encode leaves plugin state unknown — recreate
        try w.dispose() catch { case _: RuntimeException => }
        local.remove()
        throw e
    } finally {
      try w.setOutput(null) catch { case _: RuntimeException => }
    }
    bos.toByteArray
  }

  /** Decode with the thread's cached reader. The caller has already
    * validated the container header (the bounds-check-before-decode
    * contract), so `bytes` is format-shaped; anything the plugin still
    * rejects throws exactly as `ImageIO.read` would (callers catch) and
    * the thread's reader is recreated.
    */
  def read(bytes: Array[Byte], fmt: String): java.awt.image.BufferedImage = {
    val local = readerFor(fmt)
    val iis = new MemoryCacheImageInputStream(new ByteArrayInputStream(bytes))
    val r = local.get()
    try {
      r.setInput(iis, true, true)
      r.read(0)
    } catch {
      case e: Throwable =>
        try r.dispose() catch { case _: RuntimeException => }
        local.remove()
        throw e
    } finally {
      try r.setInput(null) catch { case _: RuntimeException => }
      try iis.close() catch { case _: java.io.IOException => }
    }
  }
}
