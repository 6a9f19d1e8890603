package graft.filters

import java.io.ByteArrayOutputStream
import java.nio.{ByteBuffer, ByteOrder}
import java.util.zip.GZIPOutputStream

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.catalyst.expressions.{PredicateHelper, ScalaUDF}
import org.apache.spark.sql.catalyst.plans.logical.Filter
import org.apache.spark.sql.types._

import graft.SparkSpec
import graft.filters.ztf.{ZtfHostlessFilters => H}
import graft.multimodal.FitsOps

/** The hostless image stage over generated alerts; no fixture is read.
  *
  * Each alert aims at the cheap cuts of one hostless filter (or none)
  * and misses one cut now and then. Alerts that pass no filter's cheap
  * cuts carry stamp bytes that are not FITS, so a query that decodes a
  * stamp before the cheap cuts fails. The others carry gzipped BITPIX −32
  * 63×63 stamps from the writer below: hostless scenes, hosts in both
  * stamps, a bright wide source in the science stamp only, a host in the
  * template only, a NaN centre, a missing template. The expected sets
  * come from a restatement of the cheap cuts and of the KS statistic
  * over the generated pixels; neither calls `FitsOps` or the filters.
  */
class HostlessStageSpec extends SparkSpec with PredicateHelper {
  import HostlessStageSpec.Alert

  private val Size = 63
  private val NotFits = "not a FITS stamp".getBytes("US-ASCII")

  // ---- a tiny FITS writer ----

  private def card(s: String): String = s.padTo(80, ' ')
  private def intCard(key: String, v: Int): String = card(f"$key%-8s= $v%20d")

  /** Cards after the mandatory ones that put an `ENDTIME` keyword and a
    * `BITPIX` inside a comment into the first header block, and the END
    * card into the second.
    */
  private val longHeader: Seq[String] =
    Seq("ENDTIME = '2460000.5'          / end of the exposure",
      "COMMENT BITPIX = 16") ++ (1 to 30).map(i => s"HISTORY filler card $i")

  private def fits(px: Array[Float], extra: Seq[String]): Array[Byte] = {
    val cards = Seq(card("SIMPLE  =                    T"),
      intCard("BITPIX", -32), intCard("NAXIS", 2), intCard("NAXIS1", Size),
      intCard("NAXIS2", Size)) ++ extra.map(card) :+ card("END")
    val header = cards.mkString
    val headerLen = (header.length + 2879) / 2880 * 2880
    val dataLen = (px.length * 4 + 2879) / 2880 * 2880
    val bb = ByteBuffer.allocate(headerLen + dataLen).order(ByteOrder.BIG_ENDIAN)
    bb.put(header.padTo(headerLen, ' ').getBytes("US-ASCII"))
    px.foreach(bb.putFloat)
    val out = new ByteArrayOutputStream()
    val gz = new GZIPOutputStream(out)
    gz.write(bb.array())
    gz.close()
    out.toByteArray
  }

  // ---- scenes ----

  /** Science and template pixels of scene kind `kind` (0-5). */
  private def scene(rng: scala.util.Random, kind: Int): (Array[Float], Array[Float]) = {
    val bkg = 100 + 900 * rng.nextDouble()
    val sd = 5 + 15 * rng.nextDouble()
    val peak = (3 + 37 * rng.nextDouble()) * sd
    val hostPeak = (0.3 + 30 * rng.nextDouble()) * sd
    val hx = 31 + 6 * rng.nextDouble()
    def g(x: Int, y: Int, cx: Double, s: Double): Double =
      math.exp(-((x - cx) * (x - cx) + (y - 31.0) * (y - 31.0)) / (2 * s * s))
    def q(v: Double): Float = (math.rint(v * 8) / 8).toFloat
    val sci = new Array[Float](Size * Size)
    val tpl = new Array[Float](Size * Size)
    for (y <- 0 until Size; x <- 0 until Size) {
      val i = y * Size + x
      val psf = kind match {
        case 2 => 40 * sd * g(x, y, 31, 4) // bright and wide
        case _ => peak * g(x, y, 31, 1.5)
      }
      val host = hostPeak * g(x, y, hx, 4)
      sci(i) = q(bkg + psf + (if (kind == 1) host else 0) + rng.nextGaussian() * sd)
      tpl(i) = q(bkg + (if (kind == 1 || kind == 3) host else 0) +
        rng.nextGaussian() * sd)
      if (kind == 4 && (x - 31) * (x - 31) + (y - 31) * (y - 31) <= 49)
        sci(i) = Float.NaN
    }
    (sci, tpl)
  }

  /** KS distance between the pixels within 7 px of the centre and the
    * rest, NaN skipped: the merged-order walk, the gap read after all
    * ties at a value.
    */
  private def ks(px: Array[Float]): Double = {
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
    if (a.isEmpty || b.isEmpty) return Double.NaN
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

  // ---- alerts ----

  private def uncataloged(a: Alert): Boolean = {
    val known = !Set("Unknown", "Transient", "Fail", "Fail 504")(a.cdsxmatch) &&
      !a.cdsxmatch.startsWith("Fail") && !a.cdsxmatch.startsWith("Galaxy")
    a.distnr > 1.5 && !known && a.dr3Name == "nan" && a.roid != 3
  }

  /** The last `n` (jd, present) detections of the history, current last. */
  private def last(a: Alert, n: Int): Option[Seq[Double]] = {
    val h = a.prv :+ ((a.jd, Some(a.mag)))
    if (h.size < n) None
    else Some(h.takeRight(n)).filter(_.forall(_._2.isDefined)).map(_.map(_._1))
  }

  private val cheap: Map[String, Alert => Boolean] = Map(
    "ztf.livestream.new_hostless" -> (a => a.ndethist == 1 && uncataloged(a)),
    "ztf.livestream.intra_night_hostless" -> (a =>
      a.ndethist == 2 && uncataloged(a) &&
        last(a, 2).exists(l => l(1) - l(0) < 0.5)),
    "ztf.livestream.inter_night_hostless" -> (a =>
      a.ndethist == 3 && uncataloged(a) &&
        last(a, 3).exists(l => l(2) - l(1) > 0.5 && l(1) - l(0) < 0.5)))

  private def imageHostless(a: Alert): Boolean =
    a.sci != null && a.tpl != null && {
      val (s, t) = (ks(a.sciPx), ks(a.tplPx))
      s >= 0 && s <= 0.5 && t >= 0 && t <= 0.85
    }

  private lazy val alerts: Seq[Alert] = {
    val rng = new scala.util.Random(20240521L)
    var kind = 0
    (0 until 240).map { i =>
      val target = i % 4 // 0 none, else ndethist of the aimed filter
      def miss = rng.nextDouble() < 0.2
      val ndethist = if (target == 0) 1 + rng.nextInt(4) else target
      val jd = 2460000.5 + rng.nextDouble()
      // gaps back in time from the current detection
      val gaps = target match {
        case 2 => Seq(if (miss) 0.8 else 0.1)
        case 3 => Seq(if (miss) 0.2 else 1.5, 0.1)
        case _ => Seq.fill(ndethist - 1)(if (rng.nextBoolean()) 0.1 else 1.5)
      }
      val prvJds = gaps.scanLeft(jd)(_ - _).tail.reverse
      val prv = prvJds.map(t =>
        (t, if (rng.nextDouble() < 0.1) None else Some(18f + rng.nextFloat())))
      val base = Alert(i.toLong + 1000, ndethist,
        if (target != 0 && miss) 1.0f else 1.6f + 3 * rng.nextFloat(),
        Seq("Unknown", "Galaxy", "Fail 504", "Star", "QSO")(
          if (target == 0) rng.nextInt(5) else if (miss) 3 else rng.nextInt(3)),
        if (rng.nextDouble() < 0.1) "Gaia DR3 42" else "nan",
        if (rng.nextDouble() < 0.1) 3 else 1,
        prv, jd, 19f, NotFits, NotFits, null, null)
      if (!cheap.values.exists(_(base))) base
      else {
        val k = kind % 6
        kind += 1
        val (sci, tpl) = scene(rng, k)
        val extra = if (rng.nextBoolean()) longHeader else Nil
        base.copy(sci = fits(sci, extra),
          tpl = if (k == 5) null else fits(tpl, extra), sciPx = sci, tplPx = tpl)
      }
    }
  }

  private def f(n: String, t: DataType) = StructField(n, t, nullable = true)

  private val schema = StructType(Seq(
    f("candid", LongType),
    f("candidate", StructType(Seq(f("jd", DoubleType), f("magpsf", FloatType),
      f("ndethist", IntegerType), f("distnr", FloatType)))),
    f("prv_candidates", ArrayType(StructType(Seq(f("jd", DoubleType),
      f("magpsf", FloatType))))),
    f("cdsxmatch", StringType), f("DR3Name", StringType), f("roid", IntegerType),
    f("cutoutScience", StructType(Seq(f("stampData", BinaryType)))),
    f("cutoutTemplate", StructType(Seq(f("stampData", BinaryType))))))

  private lazy val frame: DataFrame = {
    val rows = alerts.map(a => Row(a.candid, Row(a.jd, a.mag, a.ndethist, a.distnr),
      if (a.prv.isEmpty) null else a.prv.map(p => Row(p._1, p._2.getOrElse(null))),
      a.cdsxmatch, a.dr3Name, a.roid, Row(a.sci), Row(a.tpl)))
    spark.createDataFrame(spark.sparkContext.parallelize(rows, 4), schema)
  }

  private def candids(df: DataFrame): Set[Long] =
    df.select("candid").collect().map(_.getLong(0)).toSet

  private def expected(name: String, image: Boolean): Set[Long] =
    alerts.filter(a => cheap(name)(a) && (!image || imageHostless(a)))
      .map(_.candid).toSet

  test("a header with ENDTIME and a BITPIX comment in its first block decodes") {
    val px = Array.tabulate(Size * Size)(i => if (i == 5) Float.NaN else i * 0.25f)
    val (w, h, got) = FitsOps.decodeFloatImage(fits(px, longHeader))
    assert((w, h) === ((Size, Size)))
    assert(got.map(java.lang.Float.floatToRawIntBits).toSeq ===
      px.map(java.lang.Float.floatToRawIntBits).toSeq)
    val e = intercept[IllegalArgumentException](FitsOps.decodeFloatImage(NotFits))
    assert(e.getMessage.contains("END"), e.getMessage)
  }

  test("hostlessKs equals the merged-order restatement bit for bit") {
    val stamps = alerts.filter(_.sciPx != null)
      .flatMap(a => Seq(a.sci -> a.sciPx) ++ Option(a.tpl).map(_ -> a.tplPx))
    assert(stamps.size > 100)
    stamps.foreach { case (bytes, px) =>
      val (got, want) = (FitsOps.hostlessKs(bytes), ks(px))
      assert(java.lang.Double.compare(got, want) === 0, s"$got vs $want")
    }
  }

  test("the image stage runs on the cheap-cut survivors only, with exact sets") {
    cheap.keys.toSeq.sorted.foreach { name =>
      val survivors = expected(name, image = false)
      val want = expected(name, image = true)
      assert(survivors.size >= 5 && want.nonEmpty && want.size < survivors.size,
        s"$name: ${want.size} of ${survivors.size} survivors")
      assert(candids(FilterRegistry.applyFilter(frame, name)) === want, name)
      assert(candids(FilterRegistry.applyFilter(frame, name + "_fast")) ===
        survivors, name + "_fast")
    }
    assert(candids(H.newHostless(new H.FitsKsScorer())(frame)) ===
      expected("ztf.livestream.new_hostless", image = true))
  }

  test("the merged filter condition holds one image-stage predicate, last") {
    cheap.keys.foreach { name =>
      val plan = FilterRegistry.applyFilter(frame, name).queryExecution.optimizedPlan
      val conds = plan.collect { case Filter(c, _) => c }
      assert(conds.size === 1, s"$name: ${conds.size} filters")
      val udfs = conds.head.collect { case u: ScalaUDF => u }
      assert(udfs.size === 1, s"$name: ${udfs.size} UDF references")
      assert(splitConjunctivePredicates(conds.head).last.isInstanceOf[ScalaUDF],
        s"$name: ${conds.head}")
    }
  }
}

object HostlessStageSpec {
  private final case class Alert(candid: Long, ndethist: Int, distnr: Float,
      cdsxmatch: String, dr3Name: String, roid: Int,
      prv: Seq[(Double, Option[Float])], jd: Double, mag: Float,
      sci: Array[Byte], tpl: Array[Byte],
      sciPx: Array[Float], tplPx: Array[Float])
}
