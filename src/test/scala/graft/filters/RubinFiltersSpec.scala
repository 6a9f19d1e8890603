package graft.filters

import graft.SparkSpec
import graft.filters.rubin.{RubinBlocks => B, RubinFilters}

/** Golden-count tests for the Rubin blocks + livestream filters against
  * the reference fixture (27 alerts in this checkout). Expected counts
  * derived by replicating the reference's pandas predicates —
  * tools/dev_goldens_rubin.py — and they agree with the doctest counts
  * quoted in `fink_filters/rubin/blocks.py` where stated (3, 27, 27, 0,
  * 27, 0, 0, 26, 7, 1, 0, 0, 4).
  */
class RubinFiltersSpec extends SparkSpec {

  private lazy val df = SparkSpec.rubinFixture

  private def blockCount(c: org.apache.spark.sql.Column): Long =
    df.filter(c).count()

  test("b_is_solar_system == 3") {
    assert(blockCount(B.isSolarSystem) === 3)
  }
  test("b_outside_galactic_plane 20/5 deg == 27/27") {
    assert(blockCount(B.outsideGalacticPlane(20)) === 27)
    assert(blockCount(B.outsideGalacticPlane(5)) === 27)
  }
  test("b_xmatched_simbad_galaxy == 0, unknown == 27") {
    assert(blockCount(B.xmatchedSimbadGalaxy) === 0)
    assert(blockCount(B.xmatchedSimbadUnknown) === 27)
  }
  test("b_xmatched_mangrove/gaia_star/vsx_star == 0") {
    assert(blockCount(B.xmatchedMangrove) === 0)
    assert(blockCount(B.xmatchedGaiaStar) === 0)
    assert(blockCount(B.xmatchedVsxStar) === 0)
  }
  test("b_is_new == 26") {
    assert(blockCount(B.isNew) === 26)
  }
  test("b_good_quality == 7") {
    assert(blockCount(B.goodQuality) === 7)
    // the q83/q84 gate vectors agree: one row per alert, good_quality
    // sums to the block count, most_likely_sn to the doctest's 0
    import org.apache.spark.sql.functions.sum
    val q83 = graft.operators.GoldenQueries.q83RubinBlocks(spark, "")
    assert(q83.count() === 27L)
    assert(q83.agg(sum("f_good_quality")).head().getAs[Number](0)
      .longValue === 7L)
    assert(graft.operators.GoldenQueries.q84RubinMostLikelySn(spark, "")
      .agg(sum("f_most_likely_sn")).head().getAs[Number](0)
      .longValue === 0L)
  }
  test("b_is_rising == 1, b_is_fading == 0") {
    assert(blockCount(B.isRising) === 1)
    assert(blockCount(B.isFading) === 0)
  }
  test("extragalactic near_galaxy == 0, loose == 4") {
    assert(blockCount(B.extragalacticNearGalaxy) === 0)
    assert(blockCount(B.extragalacticLoose) === 4)
  }

  private val filterGoldens = Map(
    "rubin.livestream.uniform_sample" -> 1L,
    "rubin.livestream.in_tns" -> 0L,
    "rubin.livestream.hostless_candidate" -> 0L,
    "rubin.livestream.most_likely_sn" -> 0L,
    "rubin.livestream.remove_unlikely_transients" -> 0L,
    "rubin.livestream.extragalactic_lt20mag_candidate" -> 0L,
    "rubin.livestream.extragalactic_svom" -> 0L,
    "rubin.livestream.extragalactic_new_candidate" -> 0L,
    "rubin.livestream.sn_near_galaxy_candidate" -> 0L,
    "rubin.attic.early_snia_candidate" -> 0L)

  filterGoldens.foreach { case (name, expected) =>
    test(s"$name matches golden count $expected") {
      assert(FilterRegistry.applyFilter(df, name).count() === expected)
    }
  }

  test("registry exposes every Rubin filter by name") {
    RubinFilters.all.foreach { f =>
      assert(FilterRegistry.get(f.name).eq(f))
    }
  }
}
