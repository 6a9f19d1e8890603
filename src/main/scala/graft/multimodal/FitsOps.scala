package graft.multimodal

import java.io.ByteArrayInputStream
import java.nio.{ByteBuffer, ByteOrder}
import java.nio.charset.StandardCharsets
import java.util.zip.GZIPInputStream

/** Minimal FITS image decoding + the Kolmogorov-Smirnov statistic for
  * the hostless image stage (G8). ZTF alert stamps
  * (`cutoutScience.stampData`) are gzipped single-HDU FITS files with
  * BITPIX = −32 (big-endian float32) 63×63 grids; this decodes exactly
  * that shape with plain JVM code (no codec libraries).
  *
  * The FITS layout is public (NASA FITS standard): 2880-byte header
  * blocks of 80-char cards until an END card, then the data array
  * padded to a 2880 multiple.
  */
object FitsOps {

  /** (width, height, pixels row-major); NaN pixels preserved. */
  def decodeFloatImage(payload: Array[Byte]): (Int, Int, Array[Float]) = {
    val raw =
      if (payload.length >= 2 && (payload(0) & 0xFF) == 0x1F &&
        (payload(1) & 0xFF) == 0x8B) {
        val in = new GZIPInputStream(new ByteArrayInputStream(payload))
        val out = new java.io.ByteArrayOutputStream()
        val buf = new Array[Byte](8192)
        var n = in.read(buf)
        while (n > 0) { out.write(buf, 0, n); n = in.read(buf) }
        out.toByteArray
      } else payload

    // 80-byte cards up to the END card (the keyword END, then blanks);
    // a keyword is read from columns 1-8 only, its first card counts
    val cardAt = scala.collection.mutable.Map.empty[String, Int]
    var pos = 0
    var end = false
    while (!end && pos + 80 <= raw.length) {
      end = isEndCard(raw, pos)
      if (!end) cardAt.getOrElseUpdate(ascii(raw, pos, 8).trim, pos)
      pos += 80
    }
    require(end, "no END card")
    def intCard(key: String): Int = intValue(raw,
      cardAt.getOrElse(key, throw new IllegalArgumentException(s"no $key card")))
    require(intCard("BITPIX") == -32, "only BITPIX=-32 (float32) supported")
    val w = intCard("NAXIS1")
    val h = intCard("NAXIS2")
    // the data starts at the next 2880-byte block boundary
    val headerEnd = (pos + 2879) / 2880 * 2880
    val bb = ByteBuffer.wrap(raw, headerEnd, w * h * 4)
      .order(ByteOrder.BIG_ENDIAN)
    val px = new Array[Float](w * h)
    var i = 0
    while (i < px.length) { px(i) = bb.getFloat(); i += 1 }
    (w, h, px)
  }

  private val EndCard = "END".padTo(80, ' ')

  private def isEndCard(raw: Array[Byte], pos: Int): Boolean =
    ascii(raw, pos, 80) == EndCard

  private def ascii(raw: Array[Byte], pos: Int, n: Int): String =
    new String(raw, pos, n, StandardCharsets.US_ASCII)

  /** The integer value of the card at `pos`: after the value indicator
    * `= ` in columns 9-10, up to a `/` comment.
    */
  private def intValue(raw: Array[Byte], pos: Int): Int = {
    val card = ascii(raw, pos, 80)
    val v = card.substring(10).takeWhile(_ != '/').trim
    if (card.substring(8, 10) != "= " || !v.matches("[+-]?\\d+"))
      throw new IllegalArgumentException(s"not an integer card: ${card.trim}")
    v.toInt
  }

  /** Two-sample Kolmogorov-Smirnov statistic sup |F1 − F2| of the first
    * `na` values of `a` and the first `nb` of `b`; sorts those prefixes
    * in place.
    */
  private def ksStatistic(a: Array[Double], na: Int, b: Array[Double],
      nb: Int): Double = {
    if (na == 0 || nb == 0) return Double.NaN
    java.util.Arrays.sort(a, 0, na)
    java.util.Arrays.sort(b, 0, nb)
    var i = 0; var j = 0; var d = 0.0
    while (i < na && j < nb) {
      val x = math.min(a(i), b(j))
      while (i < na && a(i) <= x) i += 1
      while (j < nb && b(j) <= x) j += 1
      d = math.max(d, math.abs(i.toDouble / na - j.toDouble / nb))
    }
    d
  }

  /** Hostlessness statistic of one stamp: KS between the pixel
    * distribution of a central disc (radius `radiusPx` around the
    * candidate position, which ZTF centers in the stamp) and the outer
    * annulus. A resolved host under the transient drags the central
    * distribution away from the background → large KS; a hostless
    * transient's surroundings match the background → small KS.
    *
    * NOTE: faithful IN SHAPE to the ELEPHANT template statistic the
    * reference thresholds (`filter_new_hostless/utils.py:139-141`
    * consumes precomputed [0,0.5]/[0,0.85] score bounds); the exact
    * ELEPHANT kernel lives in fink-science, outside this checkout, so
    * the statistic here is this engine's own documented variant.
    */
  def hostlessKs(payload: Array[Byte], radiusPx: Int = 7): Double = {
    val (w, h, px) = decodeFloatImage(payload)
    val cx = (w - 1) / 2.0
    val cy = (h - 1) / 2.0
    val r2 = radiusPx.toDouble * radiusPx
    val center = new Array[Double](px.length)
    val outer = new Array[Double](px.length)
    var nc = 0; var no = 0
    var y = 0
    while (y < h) {
      var x = 0
      while (x < w) {
        val v = px(y * w + x)
        if (!v.isNaN) {
          val d2 = (x - cx) * (x - cx) + (y - cy) * (y - cy)
          if (d2 <= r2) { center(nc) = v; nc += 1 }
          else { outer(no) = v; no += 1 }
        }
        x += 1
      }
      y += 1
    }
    ksStatistic(center, nc, outer, no)
  }
}
