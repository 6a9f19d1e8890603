package graft.xmatch

import scala.jdk.CollectionConverters._

import org.apache.spark.JobCount
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.types._

import graft.SparkSpec
import graft.enrich.Enrichment
import graft.expressions.AngularSeparation
import graft.filters.AlertFilter
import graft.filters.ztf.ZtfXmatchFilters

/** The mutual-nearest cross-match over generated alerts and catalogs; no
  * fixture is read.
  *
  * The expected labels come from a brute-force restatement of the
  * contract: every (alert, source) pair, the alert's nearest source by
  * (separation, catalog row), the source's nearest alert by
  * (separation, alert id), and the strict `separation < radius` gate. A
  * pair with a null coordinate has no separation and a non-finite radius
  * passes no gate. Separations are `AngularSeparation.compute(alert,
  * source) * 3600`, the arithmetic the cross-match has always used, so
  * exact ties and gate boundaries compare bit for bit.
  *
  * Each catalog plants sources near random alerts at U(0.05, 0.8) or
  * U(1.25, 3) times the radius, a tenth of them with a second, farther
  * competitor, over a uniform background; a sixth of the alerts sit a few
  * arcseconds from another alert so that alerts compete for sources too.
  */
class MutualNearestSpec extends SparkSpec {
  import MutualNearestSpec._

  private def f(n: String, t: DataType) = StructField(n, t, nullable = true)

  private val alertSchema = StructType(Seq(f("candid", LongType),
    f("candidate", StructType(Seq(f("ra", DoubleType), f("dec", DoubleType),
      f("isdiffpos", StringType))))))

  private val catalogSchema = StructType(Seq(f("name", StringType),
    f("ra", DoubleType), f("dec", DoubleType), f("radius_arcsec", DoubleType)))

  private def boxed(v: Option[Double]): Any = v.map(Double.box).orNull

  private def frame(as: Seq[Alert]): DataFrame = spark.createDataFrame(
    spark.sparkContext.parallelize(as.map(a =>
      Row(a.candid, Row(boxed(a.ra), boxed(a.dec), a.isdiffpos))), 4), alertSchema)

  /** A local catalog: its rows keep their order, which breaks ties. */
  private def catalog(ss: Seq[Source]): DataFrame = spark.createDataFrame(
    ss.map(s => Row(s.name, boxed(s.ra), boxed(s.dec), boxed(s.radius))).asJava,
    catalogSchema)

  private def labels(df: DataFrame, outCol: String): Map[Long, String] =
    df.select("candid", outCol).collect().map(r => r.getLong(0) -> r.getString(1)).toMap

  // ---- the contract, restated ----

  private def positive(a: Alert): Boolean = a.isdiffpos == "t" || a.isdiffpos == "1"

  private def expected(as: Seq[Alert], ss: Seq[Source]): Map[Long, String] = {
    val pairs = for {
      a <- as; ara <- a.ra.toSeq; adec <- a.dec.toSeq
      (s, cid) <- ss.zipWithIndex; sra <- s.ra.toSeq; sdec <- s.dec.toSeq
      sep = AngularSeparation.compute(ara, adec, sra, sdec) * 3600.0
      if !sep.isNaN
    } yield (a.candid, cid, sep)
    val bySep = Ordering.Double.TotalOrdering
    val sourceOf = pairs.groupBy(_._1).map { case (aid, ps) =>
      aid -> ps.minBy(p => (p._3, p._2))(Ordering.Tuple2(bySep, Ordering.Int))._2
    }
    val alertOf = pairs.groupBy(_._2).map { case (cid, ps) =>
      cid -> ps.minBy(p => (p._3, p._1))(Ordering.Tuple2(bySep, Ordering.Long))
    }
    alertOf.collect { case (cid, (aid, _, sep)) if sourceOf(aid) == cid &&
        ss(cid).radius.exists(r => !r.isInfinite && sep < r) => aid -> ss(cid).name
    }
  }

  /** Equal label maps, or a failure naming the first few differences. */
  private def assertLabels(got: Map[Long, String], want: Map[Long, String],
      clue: String): Unit = {
    val diff = (got.keySet ++ want.keySet).toSeq.sorted.filter(k => got.get(k) != want.get(k))
    assert(diff.isEmpty, s"$clue: ${diff.size} labels differ, (id, got, want): " +
      diff.take(5).map(k => (k, got.get(k), want.get(k))).mkString(", "))
  }

  private def withUnknown(as: Seq[Alert], m: Map[Long, String]): Map[Long, String] =
    as.map(a => a.candid -> m.getOrElse(a.candid, "Unknown")).toMap

  // ---- generated night ----

  private def offset(a: (Double, Double), arcsec: Double, pa: Double): (Double, Double) = {
    val (ra, dec) = (math.toRadians(a._1), math.toRadians(a._2))
    val s = math.toRadians(arcsec / 3600)
    val dec2 = math.asin(math.sin(dec) * math.cos(s) +
      math.cos(dec) * math.sin(s) * math.cos(pa))
    val ra2 = ra + math.atan2(math.sin(pa) * math.sin(s) * math.cos(dec),
      math.cos(s) - math.sin(dec) * math.sin(dec2))
    ((math.toDegrees(ra2) % 360 + 360) % 360, math.toDegrees(dec2))
  }

  private def sky(rng: scala.util.Random): (Double, Double) =
    (360 * rng.nextDouble(), math.toDegrees(math.asin(2 * rng.nextDouble() - 1)))

  private lazy val generated: Seq[Alert] = {
    val rng = new scala.util.Random(7341L)
    val ids = rng.shuffle((0 until 600).map(_ + 100000L))
    val pos = Array.fill[(Double, Double)](600)(null)
    ids.indices.map { i =>
      pos(i) =
        if (i > 0 && rng.nextDouble() < 0.17)
          offset(pos(rng.nextInt(i)), 1 + 12 * rng.nextDouble(), 2 * math.Pi * rng.nextDouble())
        else sky(rng)
      Alert(ids(i), Some(pos(i)._1), Some(pos(i)._2),
        Seq("t", "1", "f", "0", null)(rng.nextInt(5)))
    }
  }

  /** Hand-placed cases, each with the sources it needs. */
  private val edgeAlerts: Seq[Alert] = Seq(
    // per-source-prune trap: the nearest source is out of its own 1″
    // range; a farther 15″ source must not take its place
    Alert(900001L, Some(10.0), Some(20.0), "t"),
    // exact ties: two alerts at one point, the smaller id in the later row
    Alert(900011L, Some(30.0), Some(-10.0), "t"),
    Alert(900010L, Some(30.0), Some(-10.0), "t"),
    // RA wrap both ways, and both poles
    Alert(900020L, Some(359.9999), Some(5.0), "t"),
    Alert(900021L, Some(0.00005), Some(-3.0), "1"),
    Alert(900030L, Some(12.0), Some(89.9995), "t"),
    Alert(900031L, Some(100.0), Some(-89.9998), "t"),
    // a negative alert nearer the source than a positive one
    Alert(900040L, Some(50.0), Some(40.0), "f"),
    Alert(900041L, Some(50.0), Some(40.0 - 2.0 / 3600), "t"))

  private val edgeSources: Seq[Source] = {
    def at(n: String, p: (Double, Double), rad: Double) = Source(n, Some(p._1), Some(p._2), Some(rad))
    Seq(
      at("trap-small", offset((10.0, 20.0), 2.0, 0.3), 1.0),
      at("trap-large", offset((10.0, 20.0), 4.0, 2.0), 15.0),
      at("tie-first", offset((30.0, -10.0), 1.0, 1.0), 3.0),
      at("tie-second", offset((30.0, -10.0), 1.0, 1.0), 3.0),
      at("wrap-east", (0.0001, 5.0), 2.0),
      at("wrap-west", (359.99995, -3.0), 2.0),
      at("north", (192.0, 89.9996), 5.0),
      at("south", (280.0, -89.9998), 2.0),
      at("diffpos", (50.0, 40.0 + 1.0 / 3600), 5.0))
  }

  private def generatedCatalog(seed: Long, as: Seq[Alert], radius: scala.util.Random => Double,
      prefix: String): Seq[Source] = {
    val rng = new scala.util.Random(seed)
    val planted = as.filter(_ => rng.nextDouble() < 0.4).flatMap { a =>
      val r = radius(rng)
      val k = if (rng.nextDouble() < 0.7) 0.05 + 0.75 * rng.nextDouble()
      else 1.25 + 1.75 * rng.nextDouble()
      val first = offset((a.ra.get, a.dec.get), k * r, 2 * math.Pi * rng.nextDouble())
      val second = if (rng.nextDouble() < 0.1)
        Seq(offset((a.ra.get, a.dec.get), k * r * (1.2 + 0.8 * rng.nextDouble()),
          2 * math.Pi * rng.nextDouble()))
      else Nil
      (first +: second).map(p => (p, r))
    }
    val background = Seq.fill(300)((sky(rng), radius(rng)))
    (planted ++ background).zipWithIndex.map { case ((p, r), i) =>
      Source(f"$prefix-$i%04d", Some(p._1), Some(p._2), Some(r))
    } ++ edgeSources
  }

  private val night = generated ++ edgeAlerts

  private case class Case(filter: DataFrame => AlertFilter,
      enrich: (DataFrame, DataFrame) => DataFrame, outCol: String,
      positiveOnly: Boolean, catalog: Seq[Source])

  private lazy val cases: Map[String, Case] = Map(
    "known_tde" -> Case(ZtfXmatchFilters.knownTde, ZtfXmatchFilters.withKnownTde(_, _),
      "tde", positiveOnly = true, generatedCatalog(1L, generated, _ => 5.0, "tde")),
    "magnetic_cvs" -> Case(ZtfXmatchFilters.magneticCvs,
      ZtfXmatchFilters.withKnownTde(_, _, "mcvs"), "mcvs", positiveOnly = true,
      generatedCatalog(2L, generated, r => 2 + 8 * r.nextDouble(), "mcv")),
    "symbiotic_stars" -> Case(ZtfXmatchFilters.symbioticStars,
      ZtfXmatchFilters.withSymbiotic(_, _), "symbiotic", positiveOnly = false,
      generatedCatalog(3L, generated, r => 1 + 7 * r.nextDouble(), "sym")),
    "dwarf_agn" -> Case(ZtfXmatchFilters.dwarfAgn, ZtfXmatchFilters.withDwarfAgn(_, _),
      "manga", positiveOnly = false,
      generatedCatalog(4L, generated, r => 2 + 13 * r.nextDouble(), "agn")))

  private def eligible(c: Case, as: Seq[Alert]): Seq[Alert] =
    if (c.positiveOnly) as.filter(positive) else as

  test("every cross-match filter equals the brute-force contract") {
    val df = frame(night)
    cases.toSeq.sortBy(_._1).foreach { case (name, c) =>
      val cat = catalog(c.catalog)
      val want = expected(eligible(c, night), c.catalog)
      assert(want.size >= 30, s"$name: ${want.size} matches")
      assertLabels(labels(c.filter(cat)(df), c.outCol), want, name)
      assertLabels(labels(c.enrich(df, cat), c.outCol), withUnknown(night, want), name)
    }
  }

  test("the SDSS star veto drops exactly the brute-force matches") {
    val stars = cases("symbiotic_stars").catalog
    val out = new Enrichment.SdssStarVeto(catalog(stars))(frame(night))
    assert(out.columns.toSeq === frame(night).columns.toSeq)
    val kept = out.select("candid").collect().map(_.getLong(0)).toSet
    val want = night.map(_.candid).toSet -- expected(night, stars).keySet
    assert((kept -- want, want -- kept) === ((Set.empty, Set.empty)))
  }

  test("ties, the prune trap, RA wrap, the poles and the isdiffpos gate") {
    val c = cases("dwarf_agn")
    val all = labels(c.enrich(frame(night), catalog(c.catalog)), c.outCol)
    val pos = labels(ZtfXmatchFilters.withKnownTde(frame(night), catalog(c.catalog)), "tde")
    assert(all(900001L) === "Unknown")
    assert((all(900010L), all(900011L)) === (("tie-first", "Unknown")))
    assert((all(900020L), all(900021L)) === (("wrap-east", "wrap-west")))
    assert((all(900030L), all(900031L)) === (("north", "south")))
    assert((all(900040L), all(900041L)) === (("diffpos", "Unknown")))
    assert((pos(900040L), pos(900041L)) === (("Unknown", "diffpos")))
  }

  test("a null coordinate on either side blocks no match") {
    val alerts = Seq(
      Alert(1L, None, Some(60.0), "t"),
      Alert(2L, Some(70.0), Some(60.0), "t"),
      Alert(3L, Some(71.0), None, "t"),
      Alert(4L, Some(80.0), Some(-20.0), "t"))
    val sources = Seq(
      Source("s1", Some(70.0), Some(60.0 + 1.0 / 3600), Some(3.0)),
      Source("blind", None, Some(-20.0), Some(3.0)),
      Source("s4", Some(80.0), Some(-20.0 + 1.0 / 3600), Some(3.0)))
    val got = labels(ZtfXmatchFilters.withKnownTde(frame(alerts), catalog(sources)), "tde")
    assert(got === Map(1L -> "Unknown", 2L -> "s1", 3L -> "Unknown", 4L -> "s4"))
    assert(got === withUnknown(alerts, expected(alerts, sources)))
  }

  test("an empty catalog, or one without a finite radius, labels nothing") {
    val df = frame(night)
    val empty = catalog(Nil)
    val noRadius = catalog(Seq(Source("x", Some(10.0), Some(20.0), None),
      Source("y", Some(30.0), Some(-10.0), Some(Double.NaN))))
    Seq(empty, noRadius).foreach { cat =>
      assertLabels(labels(ZtfXmatchFilters.withSymbiotic(df, cat), "symbiotic"),
        withUnknown(night, Map.empty), "symbiotic")
      assert(ZtfXmatchFilters.knownTde(cat)(df).count() === 0L)
      assert(new Enrichment.SdssStarVeto(cat)(df).count() === night.size.toLong)
    }
  }

  test("a NaN-radius source matches nothing and leaves the others matching") {
    val c = cases("symbiotic_stars")
    val nan = Source("nan-radius", Some(200.0), Some(15.0 + 1.0 / 3600), Some(Double.NaN))
    val alerts = night :+ Alert(900050L, Some(200.0), Some(15.0), "t")
    val sources = c.catalog :+ nan
    val want = expected(alerts, sources)
    assert(want.size >= 30 && !want.contains(900050L))
    assertLabels(labels(c.enrich(frame(alerts), catalog(sources)), c.outCol),
      withUnknown(alerts, want), "symbiotic_stars")
  }

  test("known_tde over a local catalog runs two Spark jobs") {
    // one job collects the candidate pairs, one materializes the rows
    val df = frame(night)
    val cat = catalog(cases("known_tde").catalog)
    def run(): Long = ZtfXmatchFilters.knownTde(cat)(df).queryExecution.toRdd.count()
    val want = expected(night.filter(positive), cases("known_tde").catalog).size.toLong
    assert(run() === want)
    assert(JobCount(spark.sparkContext)(run()) === ((want, 2)))
  }
}

object MutualNearestSpec {
  private final case class Alert(candid: Long, ra: Option[Double], dec: Option[Double],
      isdiffpos: String)
  private final case class Source(name: String, ra: Option[Double], dec: Option[Double],
      radius: Option[Double])
}
