package graft.schema

import graft.SparkSpec
import graft.filters.FilterRegistry

/** Every registered filter's declared columns must resolve against its
  * survey's fixture schema — the pre-flight binding contract (and a
  * typo trap for requiredColumns declarations).
  */
class AlertSchemasSpec extends SparkSpec {

  private lazy val ztfSchema =
    AlertSchemas.fromSample(spark, graft.Fixtures("datatest/regular"))
  private lazy val rubinSchema =
    AlertSchemas.fromSample(spark,
      graft.Fixtures("datatest/rubin_test_data_10_0.parquet"))

  test("dotted-path resolution descends structs and struct arrays") {
    assert(AlertSchemas.resolvable(ztfSchema, "candid"))
    assert(AlertSchemas.resolvable(ztfSchema, "candidate.jd"))
    assert(AlertSchemas.resolvable(ztfSchema, "prv_candidates.magpsf"))
    assert(AlertSchemas.resolvable(ztfSchema, "cutoutScience.stampData"))
    assert(!AlertSchemas.resolvable(ztfSchema, "candidate.nope"))
    assert(!AlertSchemas.resolvable(ztfSchema, "no_such_col"))
    assert(AlertSchemas.resolvable(rubinSchema, "diaSource.psfFlux"))
    assert(AlertSchemas.resolvable(rubinSchema, "prvDiaSources.band"))
  }

  // transient_complete runs on the reference's packaged transient
  // sample (flat boolean flag columns, filter.py:196), not the alert
  // packet schema — this checkout does not ship that sample, so its
  // schema is reconstructed from the filter's documented columns
  private lazy val transientSampleSchema = {
    import org.apache.spark.sql.types._
    StructType(
      ("objectId" +: FilterRegistry.get("ztf.transient_complete")
        .requiredColumns).map {
        case "roid" => StructField("roid", IntegerType)
        case c => StructField(c, BooleanType)
      })
  }

  // the multi-messenger filters run on the GRB-joined stream (alerts
  // joined with GCN notices — its own fixture and schema)
  private lazy val grbSchema = AlertSchemas.fromSample(spark,
    graft.Fixtures("datatest/grb/grb_test_data.parquet"))

  // science-module output columns that POSTDATE the regular fixture
  // (upstream modules add them to the production stream; the filter
  // reads them as plain columns — filter_superluminous/filter.py:47)
  private lazy val ztfAugmented = {
    import org.apache.spark.sql.types._
    StructType(ztfSchema.fields ++ Seq(
      StructField("slsn_score", DoubleType),
      StructField("threshold", DoubleType)))
  }

  test("every registered filter binds against its survey's fixture schema") {
    val skipped = scala.collection.mutable.ArrayBuffer.empty[String]
    FilterRegistry.all.foreach { case (name, _) =>
      val schema =
        if (name == "ztf.transient_complete") transientSampleSchema
        else if (name.startsWith("ztf.mm.")) grbSchema
        else if (name.startsWith("rubin.")) rubinSchema
        else ztfAugmented
      val missing = AlertSchemas.missingColumns(schema, name)
      assert(missing.isEmpty,
        s"$name declares unresolvable columns: ${missing.mkString(", ")}")
      if (FilterRegistry.get(name).requiredColumns.isEmpty)
        skipped += name
    }
    // SQL-registered ad-hoc filters may declare nothing; the catalog
    // filters all declare their reads
    assert(skipped.count(!_.startsWith("sql.")) <
      FilterRegistry.all.size / 4,
      s"too many filters declare no columns: ${skipped.mkString(", ")}")
  }

  test("validate fails fast with the missing columns named") {
    val thin = spark.read.parquet(graft.Fixtures("datatest/regular"))
      .select("objectId", "candid")
    val e = intercept[IllegalArgumentException] {
      AlertSchemas.validate(thin, "ztf.livestream.sn_candidates")
    }
    assert(e.getMessage.contains("cannot bind"))
  }

  // hand-built frames, no fixture: the binding matches what the mask
  // handles (a missing `xm.tns_fullname` degrades to no match)
  test("in_tns binds on any xm struct and rejects a frame without xm") {
    val name = "rubin.livestream.in_tns"
    val noField = spark.sql("SELECT named_struct('ra', 1.0D) AS xm")
    AlertSchemas.validate(noField, name)
    assert(FilterRegistry.applyFilter(noField, name).count() === 0L)

    val withField = spark.sql(
      "SELECT named_struct('tns_fullname', 'SN 2024abc') AS xm UNION ALL " +
        "SELECT named_struct('tns_fullname', CAST(NULL AS STRING))")
    AlertSchemas.validate(withField, name)
    assert(FilterRegistry.applyFilter(withField, name).count() === 1L)

    val noXm = spark.sql("SELECT 1L AS diaSourceId")
    val e = intercept[IllegalArgumentException] {
      AlertSchemas.validate(noXm, name)
    }
    assert(e.getMessage.endsWith("missing columns xm"), e.getMessage)
  }
}
