package graft.expressions

import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.CodegenFallback
import org.apache.spark.sql.catalyst.util.GenericArrayData
import org.apache.spark.sql.types.{ArrayType, DataType, FloatType}

/** binary → fixed-dim `array<float>` media feature vector from REAL
  * decoded content (the r7 verdict's X21 close-out: `mm1` used to emit
  * hash noise even though the repo owns real decoders). Lane dispatch by
  * content sniffing:
  *
  *  - **RIFF/WAVE** (PCM16 / unsigned-8 / float32 — same coverage as
  *    [[WavFeatures]]): the normalized sample stream is cut into `dim`
  *    equal-share windows (window k spans samples
  *    [⌊k·n/dim⌋, ⌊(k+1)·n/dim⌋)) and feature k is that window's RMS
  *    energy — a real short-time-energy contour, the classic audio
  *    fingerprint input.
  *  - **Images** (PNG/BMP/JPEG/GIF/TIFF/WBMP via the JDK's ImageIO
  *    readers, header-level bomb guard as [[ImageFeatures]]): the sRGB
  *    luminance sequence (row-major, top-down, luma = (r+g+b)/3/255) is
  *    cut into `dim` equal-share chunks and feature k is chunk k's mean —
  *    a real brightness-layout profile (orientation-sensitive, unlike a
  *    global mean, so bottom-up BMP storage is actually exercised).
  *  - **Fallback** (formats whose codecs this environment lacks — MP3
  *    samples, H.264 — plus arbitrary payloads): a deterministic
  *    byte-derived value in [-1, 1) per dimension
  *    (FNV-1a-64 over the bytes, remixed per dimension), documented as
  *    the stub lane it is.
  *
  * Decoded lanes are value-checked against synthesis ground truth in the
  * `mm1b` gate (the mm3/mm4 playbook); the fallback lane is rows-only by
  * nature. Never null — a corrupt payload falls back rather than killing
  * a 100 TB scan or punching holes in a feature matrix. One native pass
  * per row, zero shuffle: pure scan-speed projection.
  */
case class MediaEmbed(child: Expression, dim: Int)
    extends UnaryExpression with CodegenFallback {
  require(dim >= 1 && dim <= 4096, s"dim must be in [1, 4096] (got $dim)")
  import MediaBytes._

  override def dataType: DataType = ArrayType(FloatType, containsNull = false)
  override def nullIntolerant: Boolean = true
  override def prettyName: String = "media_embed"

  override def nullSafeEval(input: Any): Any = {
    val b = input.asInstanceOf[Array[Byte]]
    val feats = wavLane(b).orElse(imageLane(b)).getOrElse(hashLane(b))
    org.apache.spark.sql.catalyst.expressions.UnsafeArrayData
      .fromPrimitiveArray(feats)
  }

  /** Windowed RMS over the decoded normalized sample stream. */
  private def wavLane(b: Array[Byte]): Option[Array[Float]] = {
    if (b.length < 44 || tag(b, 0) != "RIFF" || tag(b, 8) != "WAVE") return None
    var off = 12
    var rate = 0; var bits = 0
    var dataOff = -1; var dataLen = 0
    while (off + 8 <= b.length && (rate == 0 || dataOff < 0)) {
      val id = tag(b, off)
      val sz = u32(b, off + 4).toInt
      if (sz < 0) return None
      if (id == "fmt " && off + 8 + 16 <= b.length) {
        val audioFormat = u16(b, off + 8)
        rate = u32(b, off + 12).toInt
        bits = u16(b, off + 22)
        if (audioFormat != 1 && audioFormat != 3) return None
        if (audioFormat == 1 && bits != 16 && bits != 8) return None
        if (audioFormat == 3 && bits != 32) return None
      } else if (id == "data") {
        dataOff = off + 8
        dataLen = math.min(sz, b.length - dataOff)
      }
      off += 8 + sz + (sz & 1)
    }
    val bytesPer = bits / 8
    if (rate <= 0 || bytesPer == 0 || dataOff < 0 || dataLen < bytesPer)
      return None
    val n = dataLen / bytesPer
    val out = new Array[Float](dim)
    var k = 0
    while (k < dim) {
      val lo = (k.toLong * n / dim).toInt
      val hi = ((k + 1).toLong * n / dim).toInt
      var i = lo
      var sumSq = 0.0
      while (i < hi) {
        val s = bits match {
          case 16 => ((b(dataOff + 2 * i) & 0xff) |
            (b(dataOff + 2 * i + 1) << 8)).toShort / 32768.0
          case 8 => ((b(dataOff + i) & 0xff) - 128) / 128.0
          case 32 => java.lang.Float.intBitsToFloat(
            u32(b, dataOff + 4 * i).toInt).toDouble
        }
        sumSq += s * s
        i += 1
      }
      out(k) = if (hi > lo) math.sqrt(sumSq / (hi - lo)).toFloat else 0f
      k += 1
    }
    Some(out)
  }

  /** Chunked luminance means over the decoded raster (row-major). */
  private def imageLane(b: Array[Byte]): Option[Array[Float]] = {
    try {
      val iis = javax.imageio.ImageIO.createImageInputStream(
        new java.io.ByteArrayInputStream(b))
      try {
        val readers = javax.imageio.ImageIO.getImageReaders(iis)
        if (!readers.hasNext) return None
        val r = readers.next()
        try {
          r.setInput(iis)
          val w = r.getWidth(0)
          val h = r.getHeight(0)
          // header-level bomb guard before any pixel decode
          if (w <= 0 || h <= 0 || w > (1 << 14) || h > (1 << 14) ||
              w.toLong * h > (1L << 26)) return None
          val img = r.read(0)
          val n = w.toLong * h
          val sums = new Array[Double](dim)
          val counts = new Array[Long](dim)
          val row = new Array[Int](w)
          var y = 0
          while (y < h) {
            img.getRGB(0, y, w, 1, row, 0, w)
            var x = 0
            while (x < w) {
              val p = row(x)
              val luma = (((p >> 16) & 0xff) + ((p >> 8) & 0xff) + (p & 0xff)) /
                (3.0 * 255.0)
              // chunk of pixel index i: k s.t. ⌊k·n/dim⌋ <= i < ⌊(k+1)·n/dim⌋,
              // i.e. k = ⌊(i·dim + dim − 1 ... ⌋ — compute directly
              val i = y.toLong * w + x
              val k = ((i * dim) / n).toInt
              sums(k) += luma; counts(k) += 1
              x += 1
            }
            y += 1
          }
          val out = new Array[Float](dim)
          var k = 0
          while (k < dim) {
            out(k) = if (counts(k) > 0) (sums(k) / counts(k)).toFloat else 0f
            k += 1
          }
          Some(out)
        } finally r.dispose()
      } finally if (iis != null) iis.close()
    } catch {
      case scala.util.control.NonFatal(_) => None
    }
  }

  /** Deterministic stub lane for codec-less formats: FNV-1a-64 over the
    * bytes, remixed per dimension, scaled to [-1, 1). */
  private def hashLane(b: Array[Byte]): Array[Float] = {
    var h = Fnv.Basis
    var i = 0
    while (i < b.length) {
      h = Fnv.step(h, b(i) & 0xff)
      i += 1
    }
    val out = new Array[Float](dim)
    var k = 0
    while (k < dim) {
      val m = Fnv.step(h, k)
      val mod = ((m % 100000L) + 100000L) % 100000L
      out(k) = (mod / 50000.0 - 1.0).toFloat
      k += 1
    }
    out
  }

  override protected def withNewChildInternal(c: Expression): Expression =
    copy(child = c)
}
