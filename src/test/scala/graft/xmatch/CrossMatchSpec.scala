package graft.xmatch

import org.apache.spark.sql.functions._

import graft.SparkSpec
import graft.filters.ztf.ZtfXmatchFilters

/** Golden tests for the mutual-nearest cross-match against the
  * reference's own fixtures + packaged catalogs; expected counts match
  * the reference doctests (known_tde=1, symbiotic=19/20, dwarf_agn=1)
  * and the independent numpy replication in tools/dev_goldens_xmatch.py.
  */
class CrossMatchSpec extends SparkSpec {

  test("known_tde: 1 of 21 fixture alerts matches AT 2020mot") {
    val df = spark.read.parquet(graft.Fixtures("datatest/tde"))
    val out = ZtfXmatchFilters.knownTde(Catalogs.knownTde(spark))(df)
    val names = out.select("tde").collect().map(_.getString(0))
    assert(names.length === 1)
    assert(names.head === "AT 2020mot")
    assert(df.count() === 21)
  }

  test("symbiotic: 19 of 20 fixture alerts match") {
    val df = spark.read.parquet(graft.Fixtures("datatest/symbiotic"))
    val enriched = ZtfXmatchFilters.withSymbiotic(df, Catalogs.symbiotic(spark))
    assert(enriched.count() === 20)
    assert(enriched.filter(col("symbiotic") =!= "Unknown").count() === 19)
  }

  test("dwarf_agn: 1 of 1 fixture alert matches") {
    val df = spark.read.parquet(graft.Fixtures("datatest/dwarf_agn"))
    val out = ZtfXmatchFilters.dwarfAgn(Catalogs.dwarfAgn(spark))(df)
    assert(out.count() === 1)
  }

  test("magnetic_cvs: 1 of the regular fixture's positive alerts matches") {
    val df = SparkSpec.ztfRegular
    val out = ZtfXmatchFilters.magneticCvs(Catalogs.magneticCvs(spark))(df)
    assert(out.count() === 1L)
  }

  test("sexagesimal parsing matches known values") {
    val r = spark.range(1).select(
      graft.astro.Astro.hmsToDeg(lit("00 20 33.590")).as("ra"),
      graft.astro.Astro.dmsToDeg(lit("+59 18 45.900")).as("dec"),
      graft.astro.Astro.dmsToDeg(lit("-27 45")).as("dec2")).head()
    assert(math.abs(r.getDouble(0) - 5.139958333) < 1e-6)
    assert(math.abs(r.getDouble(1) - 59.31275) < 1e-6)
    assert(math.abs(r.getDouble(2) - (-27.75)) < 1e-9)
  }
}
