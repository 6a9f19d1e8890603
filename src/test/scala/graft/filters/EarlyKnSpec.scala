package graft.filters

import org.apache.spark.sql.functions._

import graft.SparkSpec
import graft.filters.ztf.EarlyKnFilter

/** The Mangrove neighborhood operator (O20) exercised with a synthetic
  * catalog (the reference's packaged mangrove_filtered.csv is absent
  * from this checkout): one galaxy is placed right next to a fixture
  * alert with a luminosity distance chosen so the alert's absolute
  * magnitude lands in the (−17, −15) kilonova window, plus decoys that
  * must fail each individual cut.
  */
class EarlyKnSpec extends SparkSpec {

  import spark.implicits._

  private lazy val df = SparkSpec.ztfRegular

  test("near-galaxy join keeps alerts only with a qualifying neighbor") {
    val alert = df.select(
      col("candid"),
      col("candidate.ra").as("ra"), col("candidate.dec").as("dec"),
      col("candidate.magpsf").as("mag")).head()
    val (ra, dec, mag) =
      (alert.getDouble(1), alert.getDouble(2), alert.getFloat(3).toDouble)
    // lum_dist putting absMag mid-window: mag − 25 − 5·log10(d) = −16
    val lum = math.pow(10.0, (mag - 25 + 16) / 5.0)
    val cat = Seq(
      // qualifying: 0.1° away, generous ang_dist so the projected cut holds
      (ra + 0.1, dec, lum, 0.001),
      // fails the projected-distance cut (tiny 0.01/ang_dist radius)
      (ra + 0.1, dec, lum, 1e6),
      // fails the absolute-magnitude window (10× the distance)
      (ra + 0.1, dec, lum * 10, 0.001),
      // fails the 2° neighborhood
      (ra + 60.0, dec + 30.0, lum, 0.001)
    ).toDF("ra", "dec", "lum_dist", "ang_dist")

    val kept = EarlyKnFilter.nearMangroveGalaxy(
      df.filter(col("candid") === alert.getLong(0)), cat)
    assert(kept.count() === 1L)

    val decoysOnly = cat.filter(col("ang_dist") =!= 0.001 ||
      col("lum_dist") > lum * 2 || col("dec") =!= dec)
    val keptNone = EarlyKnFilter.nearMangroveGalaxy(
      df.filter(col("candid") === alert.getLong(0)), decoysOnly)
    assert(keptNone.count() === 0L)
  }

  test("full early_kn filter composes pre-cuts, latitude cuts and join") {
    val empty = Seq.empty[(Double, Double, Double, Double)]
      .toDF("ra", "dec", "lum_dist", "ang_dist")
    val out = EarlyKnFilter.earlyKnCandidates(empty)(df)
    assert(out.count() === 0L)
    // pre-cuts alone on the 133-alert fixture: 3 (pandas replication of
    // drb/classtar/newness/EG-host/roid cuts — see tools/dev_goldens.py
    // methodology)
    assert(df.filter(EarlyKnFilter.preCuts).count() === 3L)
  }

  // no fixture: one alert that passes the cuts, over a Range the
  // optimizer cannot evaluate, so only an empty catalog can fold the join
  test("default binding's empty catalog folds the semi-join away") {
    val alerts = spark.range(1).selectExpr(
      "named_struct('drb', 0.9D, 'classtar', 0.9D, 'jd', 2460000.1D, " +
        "'jdstarthist', 2460000.0D, 'ra', 150.0D, 'dec', 30.0D, " +
        "'magpsf', 18.0F) AS candidate",
      "'Galaxy' AS cdsxmatch", "0 AS roid")
    val out = FilterRegistry.applyFilter(alerts,
      "ztf.livestream.early_kn_candidates")
    val plan = out.queryExecution.optimizedPlan
    assert(plan.collect {
      case j: org.apache.spark.sql.catalyst.plans.logical.Join => j
    }.isEmpty, plan.toString)
    assert(out.count() === 0L)
  }
}
