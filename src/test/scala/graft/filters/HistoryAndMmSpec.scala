package graft.filters

import graft.SparkSpec

/** Golden counts for the history-array filters (orphan GRB, SPICY YSO)
  * and the multi-messenger module, on the reference's own fixtures.
  * Expected values match the reference doctests: orphan_grb=0 on the
  * regular set, yso_spicy=6 on spicy_yso, GRB bronze/silver/gold=4/2/1
  * and GW bronze=0 on the grb set (replicated independently in pandas —
  * see the derivations in tools/).
  */
class HistoryAndMmSpec extends SparkSpec {

  test("orphan_grb keeps 0 of the 133 regular alerts") {
    assert(FilterRegistry.applyFilter(SparkSpec.ztfRegular,
      "ztf.orphan_grb_candidates").count() === 0L)
  }

  test("yso_spicy_candidates keeps 6 of the spicy_yso fixture") {
    val df = spark.read
      .parquet(graft.Fixtures("datatest/spicy_yso/test_yso_cut.parquet"))
    assert(df.count() === 26L)
    assert(FilterRegistry.applyFilter(df,
      "ztf.livestream.yso_spicy_candidates").count() === 6L)
  }

  test("mm module: grb bronze/silver/gold = 4/2/1, gw bronze = 0") {
    val df = spark.read
      .parquet(graft.Fixtures("datatest/grb/grb_test_data.parquet"))
    assert(df.count() === 18L)
    assert(FilterRegistry.applyFilter(df, "ztf.mm.grb_bronze").count() === 4L)
    assert(FilterRegistry.applyFilter(df, "ztf.mm.grb_silver").count() === 2L)
    assert(FilterRegistry.applyFilter(df, "ztf.mm.grb_gold").count() === 1L)
    assert(FilterRegistry.applyFilter(df, "ztf.mm.gw_bronze").count() === 0L)
  }
}
