package perfbench

import java.io.ByteArrayOutputStream
import java.nio.{ByteBuffer, ByteOrder}
import java.util.zip.GZIPOutputStream

/** One cutout triple (science, template, difference) with the
  * hostlessness statistics the generator computed from its own pixels.
  */
final case class Scene(
    science: Array[Byte], template: Array[Byte], difference: Array[Byte],
    ksScience: Double, ksTemplate: Double, hosted: Boolean)

/** Seeded 63×63 cutouts, written as gzipped single-HDU FITS with
  * BITPIX −32, the ZTF stamp format.
  *
  * Each scene has a sky background U(100, 1000) ADU with Gaussian noise
  * σ U(5, 20), quantized to 1/8 ADU. The science stamp carries the
  * transient as a Gaussian PSF (σ 1.5 px, peak U(3, 40)·σ) at the centre.
  * Half the scenes are hostless; the other half add a host galaxy,
  * a Gaussian of σ U(2, 8) px and peak logU(0.3, 30)·σ, offset U(0, 6) px
  * from the centre, to both science and template. 3 % of the scenes have
  * a NaN edge column, as stamps cut at a CCD edge do.
  */
object Stamps {
  val Size = 63

  def scenes(seed: Long, n: Int): Vector[Scene] = {
    val rng = new Alerts.Rng(seed ^ 0x5DEECE66DL)
    Vector.fill(n)(scene(rng))
  }

  private def scene(rng: Alerts.Rng): Scene = {
    val bkg = rng.u(100, 1000)
    val sd = rng.u(5, 20)
    val peak = rng.u(3, 40) * sd
    val hosted = rng.p(0.5)
    val hostPeak = if (hosted) rng.logU(0.3, 30) * sd else 0.0
    val hostSd = rng.u(2, 8)
    val off = rng.u(0, 6)
    val ang = rng.u(0, 2 * math.Pi)
    val hx = 31 + off * math.cos(ang)
    val hy = 31 + off * math.sin(ang)
    val nanEdge = rng.p(0.03)
    def gauss(x: Int, y: Int, cx: Double, cy: Double, s: Double): Double =
      math.exp(-((x - cx) * (x - cx) + (y - cy) * (y - cy)) / (2 * s * s))
    def q(v: Double): Float = (math.rint(v * 8) / 8).toFloat
    val sci = new Array[Float](Size * Size)
    val tpl = new Array[Float](Size * Size)
    val dif = new Array[Float](Size * Size)
    for (y <- 0 until Size; x <- 0 until Size) {
      val i = y * Size + x
      val host = hostPeak * gauss(x, y, hx, hy, hostSd)
      val psf = peak * gauss(x, y, 31, 31, 1.5)
      sci(i) = q(bkg + host + psf + rng.normal(0, sd))
      tpl(i) = q(bkg + host + rng.normal(0, sd))
      dif(i) = q(psf + rng.normal(0, sd * 1.4))
      if (nanEdge && x == 0) { sci(i) = Float.NaN; tpl(i) = Float.NaN }
    }
    Scene(fits(sci), fits(tpl), fits(dif), ks(sci), ks(tpl), hosted)
  }

  /** Gzipped FITS: 2880-byte header of 80-char cards, big-endian float32
    * data padded to a 2880-byte multiple.
    */
  def fits(px: Array[Float]): Array[Byte] = {
    val cards = Seq(
      "SIMPLE  =                    T", "BITPIX  =                  -32",
      "NAXIS   =                    2", s"NAXIS1  = ${Size.toString.reverse.padTo(20, ' ').reverse}",
      s"NAXIS2  = ${Size.toString.reverse.padTo(20, ' ').reverse}",
      "EXTEND  =                    T", "END")
    val header = cards.map(_.padTo(80, ' ')).mkString.padTo(2880, ' ')
    val dataLen = px.length * 4
    val padded = (dataLen + 2879) / 2880 * 2880
    val bb = ByteBuffer.allocate(2880 + padded).order(ByteOrder.BIG_ENDIAN)
    bb.put(header.getBytes("US-ASCII"))
    px.foreach(bb.putFloat)
    val out = new ByteArrayOutputStream()
    val gz = new GZIPOutputStream(out)
    gz.write(bb.array())
    gz.close()
    out.toByteArray
  }

  /** Two-sample Kolmogorov–Smirnov distance between the pixels within
    * 7 px of the stamp centre and the rest (NaN pixels skipped): the
    * largest gap between the two empirical distribution functions.
    */
  def ks(px: Array[Float]): Double = {
    val inner = Array.newBuilder[Double]
    val outer = Array.newBuilder[Double]
    for (y <- 0 until Size; x <- 0 until Size) {
      val v = px(y * Size + x)
      if (!v.isNaN) {
        if ((x - 31) * (x - 31) + (y - 31) * (y - 31) <= 49) inner += v.toDouble
        else outer += v.toDouble
      }
    }
    val a = inner.result().sorted
    val b = outer.result().sorted
    // walk the merged order; the gap is read after all ties at a value
    var i = 0; var j = 0; var gap = 0.0
    while (i < a.length || j < b.length) {
      val v =
        if (j >= b.length || (i < a.length && a(i) <= b(j))) a(i) else b(j)
      while (i < a.length && a(i) == v) i += 1
      while (j < b.length && b(j) == v) j += 1
      gap = math.max(gap, math.abs(i.toDouble / a.length - j.toDouble / b.length))
    }
    gap
  }
}
