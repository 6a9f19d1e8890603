package graft.filters

import graft.SparkSpec

/** Golden counts for the model-fit filters, derived by independent
  * numpy replication of the reference's curve_fit/polyfit logic (see
  * the derivations driven from tools/): early-TDE prefilter keeps 4/21
  * on the tde fixture and 1/133 on regular; rate-based KN keeps 0/133
  * (3 alerts pass the pre-cuts, none the fitted-rate cut) matching the
  * reference doctest.
  */
class PhotometrySpec extends SparkSpec {

  test("early_tde_prefilter keeps 4 of the tde fixture") {
    val df = spark.read.parquet(graft.Fixtures("datatest/tde"))
    assert(FilterRegistry.applyFilter(df, "ztf.early_tde_prefilter")
      .count() === 4L)
  }

  test("early_tde_prefilter keeps 1 of the regular fixture") {
    assert(FilterRegistry.applyFilter(SparkSpec.ztfRegular,
      "ztf.early_tde_prefilter").count() === 1L)
  }

  test("rate_based_kn_candidates keeps 0 of the regular fixture") {
    assert(FilterRegistry.applyFilter(SparkSpec.ztfRegular,
      "ztf.livestream.rate_based_kn_candidates").count() === 0L)
  }
}
