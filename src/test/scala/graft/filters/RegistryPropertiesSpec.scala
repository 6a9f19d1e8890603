package graft.filters

import graft.SparkSpec
import graft.schema.AlertSchemas

/** Catalog-wide properties: every filter that BINDS against a fixture
  * (selected via the schema module's pre-flight check) must be
  * deterministic and idempotent — a mask that changes across runs or
  * drops extra rows on re-application is not a filter.
  */
class RegistryPropertiesSpec extends SparkSpec {

  private def fixtureFor(name: String): Option[String] =
    if (name.startsWith("rubin."))
      Some(graft.Fixtures("datatest/rubin_test_data_10_0.parquet"))
    else if (name.startsWith("ztf.mm."))
      Some(graft.Fixtures("datatest/grb/grb_test_data.parquet"))
    else if (name.startsWith("ztf."))
      Some(graft.Fixtures("datatest/regular"))
    else None

  test("every bindable filter is deterministic and idempotent on its fixture") {
    var checked = 0
    FilterRegistry.all.keys.toSeq.sorted.foreach { name =>
      fixtureFor(name).foreach { path =>
        val df = spark.read.parquet(path)
        if (AlertSchemas.missingColumns(df.schema, name).isEmpty) {
          val once = FilterRegistry.applyFilter(df, name)
          val n1 = once.count()
          val n2 = FilterRegistry.applyFilter(df, name).count()
          assert(n1 === n2, s"$name not deterministic: $n1 vs $n2")
          // idempotence applies to pure masks; ENRICHING filters (the
          // xmatch family adds the match-label column, mirroring the
          // reference's cross_match returns) change the schema and are
          // exempt
          if (once.schema == df.schema) {
            val twice = FilterRegistry.applyFilter(once, name).count()
            assert(twice === n1, s"$name not idempotent: $n1 -> $twice")
          }
          checked += 1
        }
      }
    }
    // the bulk of the catalog must actually be exercised
    assert(checked >= 30, s"only $checked filters were bindable")
  }
}
