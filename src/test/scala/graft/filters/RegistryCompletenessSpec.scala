package graft.filters

import graft.SparkSpec

/** The capability-parity contract (SURVEY §2.5): every named filter a
  * reference user can invoke must resolve in the registry. This is the
  * line-by-line inventory the coverage map claims — pinned so a
  * refactor can't silently drop a filter.
  */
class RegistryCompletenessSpec extends SparkSpec {

  private val ztfLivestream = Seq(
    "sn_candidates", "early_sn_candidates", "kn_candidates",
    "early_kn_candidates", "rate_based_kn_candidates",
    "sso_ztf_candidates", "sso_fink_candidates",
    "microlensing_candidates", "blazar", "simbad_grav_candidates",
    "tns_match", "unknowns", "vra", "yso_candidates",
    "yso_spicy_candidates", "magnetic_cvs", "new_hostless",
    "intra_night_hostless", "inter_night_hostless"
  ).map("ztf.livestream." + _)

  private val ztfAfterNight = Seq(
    "quality_cuts", "rrlyr", "gaia_dr3_candidates", "tracklet_candidates",
    "snlike", "example_filter", "blazar_high_state", "blazar_low_state",
    "superluminous", "vast_supernovae", "vast_supernovae_candidates",
    "known_tde", "symbiotic_stars", "dwarf_agn", "transient_complete",
    "simbad_candidates", "orphan_grb_candidates", "early_tde_prefilter",
    "mm.grb_bronze", "mm.grb_silver", "mm.grb_gold", "mm.gw_bronze"
  ).map("ztf." + _)

  private val rubin = Seq(
    "uniform_sample", "in_tns", "hostless_candidate", "most_likely_sn",
    "remove_unlikely_transients", "extragalactic_lt20mag_candidate",
    "extragalactic_new_candidate", "extragalactic_svom",
    "sn_near_galaxy_candidate"
  ).map("rubin.livestream." + _) :+ "rubin.attic.early_snia_candidate"

  test("every SURVEY §2.5 filter name resolves") {
    val known = FilterRegistry.all.keySet
    val missing = (ztfLivestream ++ ztfAfterNight ++ rubin)
      .filterNot(known.contains)
    assert(missing.isEmpty,
      s"missing filters: ${missing.mkString(", ")}\nknown: ${known.toSeq.sorted.mkString(", ")}")
  }

  test("registry metadata is populated (description + archive flag)") {
    FilterRegistry.all.foreach { case (name, f) =>
      assert(f.name === name)
      // Rubin modules export DESCRIPTION/HBASE_SUPPORT — our analogs
      assert(f.description.nonEmpty, name)
      assert(f.requiredColumns.nonEmpty, name)
    }
  }

  test("an SQL filter cannot shadow a catalog filter") {
    val before = FilterRegistry.get("ztf.quality_cuts")
    val e = intercept[IllegalArgumentException](
      FilterRegistry.registerSql("ztf.quality_cuts", "true"))
    assert(e.getMessage.contains("'ztf.quality_cuts'"))
    assert(FilterRegistry.get("ztf.quality_cuts") eq before)
    // an ad-hoc name is still replaced by its next registration
    FilterRegistry.registerSql("sql.registry.shadow", "rb > 0.5")
    val again = FilterRegistry.registerSql("sql.registry.shadow", "rb > 0.9")
    assert(FilterRegistry.get("sql.registry.shadow") eq again)
  }
}
