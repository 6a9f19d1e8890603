package graft.filters

import graft.SparkSpec
import graft.filters.ztf.ZtfFilters

/** Golden-count tests for the ZTF filter catalog against the reference
  * fixture `datatest/regular` under [[graft.Fixtures]] (133 alerts in
  * this checkout).
  *
  * The reference doctests quote counts for an older ~330-alert fixture, so
  * the numbers here were re-derived by replicating each filter's pandas
  * predicate on the actual fixture (tools/dev_goldens.py). Where this
  * checkout's fixture still matches current doctests the values agree
  * (kn_candidates = 2 incl. ZTF25aaugqpe/ZTF25aauurnj, vra = 2, yso = 3 —
  * `filter_kn_candidates/filter.py:84-86`, `filter_vra` and
  * `filter_yso_candidates` doctests), which cross-checks the EG-host class
  * list.
  */
class ZtfFiltersSpec extends SparkSpec {
  lazy val df = SparkSpec.ztfRegular

  val goldens: Seq[(String, Long)] = Seq(
    "ztf.quality_cuts" -> 133L,
    "ztf.livestream.sn_candidates" -> 7L,
    "ztf.livestream.early_sn_candidates" -> 2L,
    "ztf.livestream.kn_candidates" -> 2L,
    "ztf.livestream.sso_ztf_candidates" -> 1L,
    "ztf.livestream.sso_fink_candidates" -> 2L,
    "ztf.livestream.microlensing_candidates" -> 0L,
    "ztf.livestream.blazar" -> 2L,
    "ztf.livestream.simbad_grav_candidates" -> 1L,
    "ztf.livestream.tns_match" -> 0L,
    "ztf.livestream.vra" -> 2L,
    "ztf.livestream.yso_candidates" -> 3L,
    "ztf.rrlyr" -> 4L,
    "ztf.simbad_candidates" -> 117L,
    "ztf.gaia_dr3_candidates" -> 117L,
    "ztf.tracklet_candidates" -> 0L,
    "ztf.snlike" -> 1L,
    "ztf.example_filter" -> 0L,
    "ztf.vast_supernovae" -> 0L,
    "ztf.vast_supernovae_candidates" -> 0L,
    "ztf.blazar_high_state" -> 0L,
    "ztf.blazar_low_state" -> 0L
  )

  goldens.foreach { case (name, expected) =>
    test(s"$name matches golden count $expected") {
      assert(FilterRegistry.applyFilter(df, name).count() === expected)
    }
  }

  test("kn_candidates returns the two known kilonova candidates") {
    val ids = FilterRegistry.applyFilter(df, "ztf.livestream.kn_candidates")
      .select("objectId").collect().map(_.getString(0)).toSet
    assert(ids === Set("ZTF25aaugqpe", "ZTF25aauurnj"))
  }

  test("sn_candidates keeps ZTF21acoshvy") {
    val ids = FilterRegistry.applyFilter(df, "ztf.livestream.sn_candidates")
      .select("objectId").collect().map(_.getString(0)).toSet
    assert(ids.contains("ZTF21acoshvy"))
  }

  test("transient_complete keeps exactly the all-flags-good rows") {
    // The 8 flag columns come from fink-science's
    // extract_transient_features (outside the filter library), so the
    // filter is tested on synthetic flags: only the first row qualifies.
    import spark.implicits._
    val flags = Seq(
      (false, true, true, false, false, false, true, 0),
      (true, true, true, false, false, false, true, 0), // faint
      (false, false, true, false, false, false, true, 0), // neg subtraction
      (false, true, true, true, false, false, true, 0), // pointunderneath
      (false, true, true, false, false, false, true, 3) // asteroid
    ).toDF("faint", "positivesubtraction", "real", "pointunderneath",
      "brightstar", "variablesource", "stationary", "roid")
    assert(FilterRegistry.applyFilter(flags, "ztf.transient_complete")
      .count() === 1L)
  }

  test("SQL-string filters register and apply (O4)") {
    FilterRegistry.registerSql("test.sql_cut",
      "candidate.ndethist > 1 AND roid != 3")
    val n = FilterRegistry.applyFilter(df, "test.sql_cut").count()
    val expected = df.filter(
      org.apache.spark.sql.functions.expr(
        "candidate.ndethist > 1 AND roid != 3")).count()
    assert(n === expected)
  }

  test("registry exposes every ZTF filter by name") {
    ZtfFilters.all.foreach { f =>
      assert(FilterRegistry.get(f.name).eq(f))
    }
  }
}
