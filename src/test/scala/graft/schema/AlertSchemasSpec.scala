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

  // production-stream columns a filter reads that its FIXTURE lacks —
  // each entry is backed by the reference's own doctest adding the
  // column manually (in_tns: filter.py:44 `withColumn("tns_fullname",
  // lit(None))`)
  private val productionOnly: Map[String, Set[String]] = Map(
    "rubin.livestream.in_tns" -> Set("xm.tns_fullname"))

  test("every registered filter binds against its survey's fixture schema") {
    val skipped = scala.collection.mutable.ArrayBuffer.empty[String]
    FilterRegistry.all.foreach { case (name, _) =>
      val schema =
        if (name == "ztf.transient_complete") transientSampleSchema
        else if (name.startsWith("ztf.mm.")) grbSchema
        else if (name.startsWith("rubin.")) rubinSchema
        else ztfAugmented
      val missing = AlertSchemas.missingColumns(schema, name)
        .filterNot(productionOnly.getOrElse(name, Set.empty))
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
}
