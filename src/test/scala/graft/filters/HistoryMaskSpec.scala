package graft.filters

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.catalyst.expressions.Attribute
import org.apache.spark.sql.catalyst.plans.logical.{Filter, Project}
import org.apache.spark.sql.types._

import graft.SparkSpec
import graft.filters.ztf.EarlyTdeScorer

/** The three least-squares livestream masks over hand-built alerts of
  * the ZTF layout; no fixture is read.
  *
  * Size guard: Catalyst copies a `Column` subtree at every use, so a fit
  * restated in lambda functions (the history array read once per sum)
  * grew the analysed masks to 18,399 / 12,788 / 2,607 nodes, which the
  * analyser and planner paid for on every micro-batch. The per-row
  * kernels of `graft.expressions.HistoryFits` read the history once,
  * and the rate-based KN mask binds its fit once instead of copying it
  * into each of three field reads (1,584 → 619 nodes). The early-TDE
  * feature stage fits each band with the same kernel instead of a
  * six-sum lambda fold per band (2,972 → 1,474 nodes). The budgets fail
  * the build if a mask or the stage grows back.
  */
class HistoryMaskSpec extends SparkSpec {

  private def f(n: String, t: DataType) = StructField(n, t, nullable = true)

  private val point = Seq(f("jd", DoubleType), f("fid", IntegerType),
    f("magpsf", FloatType), f("sigmapsf", FloatType),
    f("diffmaglim", FloatType), f("isdiffpos", StringType),
    f("magnr", FloatType), f("sigmagnr", FloatType))

  private val schema = StructType(Seq(
    f("candid", LongType),
    f("candidate", StructType(point ++ Seq(f("ra", DoubleType),
      f("dec", DoubleType), f("drb", FloatType), f("classtar", FloatType),
      f("ndethist", IntegerType), f("jdstarthist", DoubleType),
      f("ssdistnr", FloatType)))),
    f("prv_candidates", ArrayType(StructType(point))),
    f("cdsxmatch", StringType), f("spicy_class", StringType),
    f("roid", IntegerType), f("nalerthist", IntegerType),
    f("lc_features_r", StructType(Seq(f("linear_fit_slope", DoubleType))))))

  /** (jd, fid, magpsf, sigmapsf) of one detection. */
  private type Det = (Double, Int, Float, Float)

  private def pointRow(d: Det, magnr: Float): Seq[Any] =
    Seq[Any](d._1, d._2, d._3, d._4, 20.5f, "t", magnr, 0.02f)

  /** One alert at (ra 180, dec 30), far off the galactic plane, hosted
    * by an "Unknown" SIMBAD class: the history before `cur`, then `cur`;
    * every point has the reference magnitude `magnr`.
    */
  private def alert(candid: Long, prv: Seq[Det], cur: Det,
      magnr: Float = 15f): Row = Row(
    candid,
    Row.fromSeq(pointRow(cur, magnr) ++ Seq[Any](180.0, 30.0, 0.95f, 0.9f,
      prv.size + 1, prv.headOption.getOrElse(cur)._1, -999f)),
    prv.map(d => Row.fromSeq(pointRow(d, magnr))),
    "Unknown", null, 0, prv.size + 1, Row(0.0))

  private def frame(rows: Row*): DataFrame =
    spark.createDataFrame(spark.sparkContext.parallelize(rows, 1), schema)

  private def passing(df: DataFrame, name: String): Set[Long] =
    FilterRegistry.applyFilter(df, name).select("candid").collect()
      .map(_.getLong(0)).toSet

  test("early_tde_prefilter: a same-night fit with σ ≈ 5e-5 mag is no fit") {
    // four g-band points 0.002 d apart at one magnitude: the uncentred
    // determinant sw·swxx − swx² of jd ≈ 2.46e6 cancels to exactly 0,
    // which the HOF form divided by (DIVIDE_BY_ZERO); equal fluxes make
    // no last-vs-prior rise, so the slope test decides, and it has no fit
    val r = (2459999.5, 2, 18f, 0.05f)
    val flat = alert(1L,
      Seq(r) ++ (0 until 3).map(i => (2460000.5 + 0.002 * i, 1, 18f, 5e-5f)),
      (2460000.506, 1, 18f, 5e-5f))
    // control: a g-band rise of 1 mag over three nights passes
    val rising = alert(2L,
      Seq(r, (2460000.5, 1, 19f, 0.05f), (2460001.5, 1, 18.6f, 0.05f),
        (2460002.5, 1, 18.3f, 0.05f)),
      (2460003.5, 1, 18f, 0.05f))
    assert(passing(frame(flat, rising), "ztf.early_tde_prefilter") === Set(2L))
  }

  test("rate_based_kn_candidates: a 0.5 mag/day fade passes, 0.2 does not") {
    // a reference at 26 mag, at least 6.5 mag fainter than the
    // transient, moves the DC magnitudes by under 0.003 mag, so the
    // fitted rate is the magpsf slope; four r-band nights inside 5 days
    def fading(candid: Long, rate: Float): Row = {
      val pts = (0 to 3).map(i => (2460000.5 + i, 2, 18f + rate * i, 0.05f))
      alert(candid, pts.init, pts.last, magnr = 26f)
    }
    val single = alert(3L, Nil, (2460000.5, 2, 18f, 0.05f), magnr = 26f)
    assert(passing(frame(fading(1L, 0.5f), fading(2L, 0.2f), single),
      "ztf.livestream.rate_based_kn_candidates") === Set(1L))
  }

  /** Nodes of the analysed filter condition of `name` (lambda functions
    * and their variables included).
    */
  private def analysedNodes(name: String): Int = {
    val plan = FilterRegistry.applyFilter(frame(), name).queryExecution.analyzed
    val cond = plan.collectFirst { case Filter(c, _) => c }.get
    var n = 0
    cond.foreach(_ => n += 1)
    n
  }

  Seq("ztf.early_tde_prefilter" -> 1000,
    "ztf.livestream.rate_based_kn_candidates" -> 700,
    "ztf.livestream.yso_spicy_candidates" -> 500).foreach { case (name, budget) =>
    test(s"$name analyses to at most $budget nodes") {
      val n = analysedNodes(name)
      assert(n <= budget, s"$name: $n analysed nodes")
    }
  }

  /** Nodes of the columns the stage computes (pass-through attributes
    * left out).
    */
  test("the early-TDE feature stage analyses to at most 1600 nodes") {
    val plan = EarlyTdeScorer.withFeatures(frame(), deredden = true)
      .queryExecution.analyzed
    var n = 0
    plan.foreach {
      case p: Project => p.projectList.filterNot(_.isInstanceOf[Attribute])
        .foreach(_.foreach(_ => n += 1))
      case _ =>
    }
    assert(n <= 1600, s"early-TDE features: $n analysed nodes")
  }
}
