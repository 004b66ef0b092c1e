package graft.core

import java.awt.image.BufferedImage
import java.io.{ByteArrayInputStream, ByteArrayOutputStream}
import javax.imageio.stream.MemoryCacheImageOutputStream
import javax.imageio.{IIOImage, ImageIO, ImageWriteParam}

/** Decoded raster: band-planar int pixels (0..255 for Byte data),
  * row-major within each band. The in-flight representation all raster
  * expressions share.
  */
final case class Raster(w: Int, h: Int, bands: Array[Array[Int]]) {
  def nBands: Int = bands.length
}

/** Pure-JVM image codecs for the corpus formats `raw`/`png`/`jpeg` — the
  * stand-in for the reference's 117-driver format layer
  * (gcore/gdaldatorset.cpp GDALOpenEx dispatch; frmts/png, frmts/jpeg).
  * Dispatch happens on the `fmt` column inside the decode expression.
  *
  * `raw` layout (ours to define, FIXTURES.md §1): band-planar Byte,
  * bands back-to-back, each w*h bytes row-major.
  */
object ImageCodec {
  // ImageIO's default stream cache is a temp FILE per decode — it
  // serializes parallel decodes on disk I/O. Memory-cache instead.
  ImageIO.setUseCache(false)

  def decode(bytes: Array[Byte], fmt: String, w: Int, h: Int): Raster = fmt match {
    case "raw" => decodeRaw(bytes, w, h)
    case "png" | "jpeg" | "jpg" =>
      val r = decodeJavax(bytes)
      checkSize(fmt, r.w, r.h, w, h)
      r
    case other => unsupported(other)
  }

  /** Band count of an encoded image, read from its header without decoding
    * pixels: always equal to `decode(bytes, fmt, w, h).nBands`, and it fails
    * with the same errors on the same malformed headers (unsupported fmt,
    * raw size mismatch, declared w/h ≠ payload). A payload whose pixel data
    * is corrupt behind a sound header passes here and fails only on decode. */
  def bandCount(bytes: Array[Byte], fmt: String, w: Int, h: Int): Int = fmt match {
    case "raw" => rawBands(bytes, w, h)
    case "png" | "jpeg" | "jpg" =>
      val in = ImageIO.createImageInputStream(new ByteArrayInputStream(bytes))
      val readers = ImageIO.getImageReaders(in)
      require(readers.hasNext, NotDecodable)
      val reader = readers.next()
      try {
        reader.setInput(in, true, true)
        checkSize(fmt, reader.getWidth(0), reader.getHeight(0), w, h)
        // the first image type is the one ImageIO.read decodes to
        if (reader.getImageTypes(0).next().getColorModel.getNumComponents == 1) 1 else 3
      } finally { reader.dispose(); in.close() }
    case other => unsupported(other)
  }

  /** A payload whose encoded width/height differ from the row's w/h. */
  final class SizeMismatch(msg: String) extends IllegalArgumentException(msg)

  private def checkSize(fmt: String, pw: Int, ph: Int, w: Int, h: Int): Unit =
    if (pw != w || ph != h)
      throw new SizeMismatch(s"$fmt payload is ${pw}x$ph but the row declares ${w}x$h")

  private def unsupported(fmt: String): Nothing =
    throw new IllegalArgumentException(s"unsupported fmt $fmt")

  private val NotDecodable = "javax.imageio could not decode image bytes"

  private def rawBands(bytes: Array[Byte], w: Int, h: Int): Int = {
    val perBand = w * h
    val nBands = bytes.length / perBand
    require(nBands * perBand == bytes.length, s"raw size ${bytes.length} not multiple of $w x $h")
    nBands
  }

  def decodeRaw(bytes: Array[Byte], w: Int, h: Int): Raster = {
    val perBand = w * h
    val nBands = rawBands(bytes, w, h)
    val bands = Array.ofDim[Array[Int]](nBands)
    var b = 0
    while (b < nBands) {
      val arr = new Array[Int](perBand)
      var i = 0
      val off = b * perBand
      while (i < perBand) { arr(i) = bytes(off + i) & 0xFF; i += 1 }
      bands(b) = arr
      b += 1
    }
    Raster(w, h, bands)
  }

  def decodeJavax(bytes: Array[Byte]): Raster = {
    val img = ImageIO.read(new ByteArrayInputStream(bytes))
    require(img != null, NotDecodable)
    val w = img.getWidth
    val h = img.getHeight
    val gray = img.getColorModel.getNumComponents == 1
    if (gray) {
      val band = new Array[Int](w * h)
      val raster = img.getRaster
      var y = 0
      while (y < h) {
        var x = 0
        while (x < w) { band(y * w + x) = raster.getSample(x, y, 0); x += 1 }
        y += 1
      }
      Raster(w, h, Array(band))
    } else {
      val r = new Array[Int](w * h)
      val g = new Array[Int](w * h)
      val b = new Array[Int](w * h)
      var y = 0
      while (y < h) {
        var x = 0
        while (x < w) {
          val rgb = img.getRGB(x, y)
          val i = y * w + x
          r(i) = (rgb >> 16) & 0xFF
          g(i) = (rgb >> 8) & 0xFF
          b(i) = rgb & 0xFF
          x += 1
        }
        y += 1
      }
      Raster(w, h, Array(r, g, b))
    }
  }

  def encodeRaw(r: Raster): Array[Byte] = {
    val out = new Array[Byte](r.w * r.h * r.nBands)
    var b = 0
    while (b < r.nBands) {
      val band = r.bands(b)
      val off = b * r.w * r.h
      var i = 0
      while (i < band.length) { out(off + i) = band(i).toByte; i += 1 }
      b += 1
    }
    out
  }

  private def toBufferedImage(r: Raster): BufferedImage = {
    if (r.nBands == 1) {
      val img = new BufferedImage(r.w, r.h, BufferedImage.TYPE_BYTE_GRAY)
      val wr = img.getRaster
      var y = 0
      while (y < r.h) {
        var x = 0
        while (x < r.w) { wr.setSample(x, y, 0, r.bands(0)(y * r.w + x) & 0xFF); x += 1 }
        y += 1
      }
      img
    } else {
      val img = new BufferedImage(r.w, r.h, BufferedImage.TYPE_INT_RGB)
      var y = 0
      while (y < r.h) {
        var x = 0
        while (x < r.w) {
          val i = y * r.w + x
          img.setRGB(x, y, ((r.bands(0)(i) & 0xFF) << 16) | ((r.bands(1)(i) & 0xFF) << 8) | (r.bands(2)(i) & 0xFF))
          x += 1
        }
        y += 1
      }
      img
    }
  }

  def encodePng(r: Raster): Array[Byte] = {
    val bos = new ByteArrayOutputStream()
    ImageIO.write(toBufferedImage(r), "png", bos)
    bos.toByteArray
  }

  /** High-quality JPEG (q=0.95) so the lossy round-trip clears the
    * PSNR≥40dB corpus invariant (BASELINE.json input_hint). */
  def encodeJpeg(r: Raster, quality: Float = 0.95f): Array[Byte] = {
    val writer = ImageIO.getImageWritersByFormatName("jpg").next()
    val param = writer.getDefaultWriteParam
    param.setCompressionMode(ImageWriteParam.MODE_EXPLICIT)
    param.setCompressionQuality(quality)
    val bos = new ByteArrayOutputStream()
    val ios = new MemoryCacheImageOutputStream(bos)
    writer.setOutput(ios)
    // jpeg writer requires 3-band input for RGB; gray stays gray
    writer.write(null, new IIOImage(toBufferedImage(r), null, null), param)
    ios.close()
    writer.dispose()
    bos.toByteArray
  }

  def encode(r: Raster, fmt: String): Array[Byte] = fmt match {
    case "raw" => encodeRaw(r)
    case "png" => encodePng(r)
    case "jpeg" | "jpg" => encodeJpeg(r)
    case other => unsupported(other)
  }

  /** Peak signal-to-noise ratio between two same-shape rasters (dB). */
  def psnr(a: Raster, b: Raster): Double = {
    require(a.w == b.w && a.h == b.h && a.nBands == b.nBands, "shape mismatch")
    var se = 0.0
    var n = 0L
    var bi = 0
    while (bi < a.nBands) {
      val ba = a.bands(bi); val bb = b.bands(bi)
      var i = 0
      while (i < ba.length) {
        val d = (ba(i) - bb(i)).toDouble
        se += d * d
        i += 1
      }
      n += ba.length
      bi += 1
    }
    if (se == 0.0) Double.PositiveInfinity
    else 10.0 * math.log10(255.0 * 255.0 / (se / n))
  }
}
