package graft.filters

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.catalyst.plans.logical.Filter
import org.apache.spark.sql.types._

import graft.SparkSpec

/** The three least-squares livestream masks over hand-built alerts of
  * the ZTF layout; no fixture is read.
  *
  * Size guard: Catalyst copies a `Column` subtree at every use, so a fit
  * restated in lambda functions (the history array read once per sum)
  * grew the analysed masks to 18,399 / 12,788 / 2,607 nodes, which the
  * analyser and planner paid for on every micro-batch. The per-row
  * kernels of `graft.expressions.HistoryFits` read the history once;
  * the budgets fail the build if a mask grows back.
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

  private def pointRow(d: Det): Seq[Any] =
    Seq[Any](d._1, d._2, d._3, d._4, 20.5f, "t", 15f, 0.02f)

  /** One alert at (ra 180, dec 30), far off the galactic plane, hosted
    * by an "Unknown" SIMBAD class: the history before `cur`, then `cur`.
    */
  private def alert(candid: Long, prv: Seq[Det], cur: Det): Row = Row(
    candid,
    Row.fromSeq(pointRow(cur) ++ Seq[Any](180.0, 30.0, 0.95f, 0.9f,
      prv.size + 1, prv.headOption.getOrElse(cur)._1, -999f)),
    prv.map(d => Row.fromSeq(pointRow(d))),
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
    "ztf.livestream.rate_based_kn_candidates" -> 2000,
    "ztf.livestream.yso_spicy_candidates" -> 500).foreach { case (name, budget) =>
    test(s"$name analyses to at most $budget nodes") {
      val n = analysedNodes(name)
      assert(n <= budget, s"$name: $n analysed nodes")
    }
  }
}
