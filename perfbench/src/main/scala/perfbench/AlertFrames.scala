package perfbench

import java.nio.file.{Files, Path}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{Row, SparkSession}
import org.apache.spark.sql.types._

/** The generated alerts as ZTF-shaped parquet (FIXTURES.md §1): nested
  * `candidate`, `prv_candidates` history, cutout structs, the
  * science-module columns, maps and light-curve feature structs.
  */
object AlertFrames {

  private def f(n: String, t: DataType) = StructField(n, t, nullable = true)

  val pointSchema: StructType = StructType(Seq(
    f("jd", DoubleType), f("fid", IntegerType), f("magpsf", FloatType),
    f("sigmapsf", FloatType), f("diffmaglim", FloatType),
    f("isdiffpos", StringType), f("magnr", FloatType), f("sigmagnr", FloatType),
    f("ssnamenr", StringType), f("distnr", FloatType)))

  val candidateSchema: StructType = StructType(Seq(
    f("jd", DoubleType), f("fid", IntegerType), f("pid", LongType),
    f("diffmaglim", FloatType), f("isdiffpos", StringType),
    f("ra", DoubleType), f("dec", DoubleType), f("magpsf", FloatType),
    f("sigmapsf", FloatType), f("rb", FloatType), f("drb", FloatType),
    f("classtar", FloatType), f("nbad", IntegerType), f("ndethist", IntegerType),
    f("ncovhist", IntegerType), f("jdstarthist", DoubleType),
    f("distnr", FloatType), f("magnr", FloatType), f("sigmagnr", FloatType),
    f("ssdistnr", FloatType), f("ssnamenr", StringType), f("neargaia", FloatType),
    f("distpsnr1", FloatType), f("field", IntegerType), f("magzpsci", FloatType)))

  val cutoutSchema: StructType =
    StructType(Seq(f("fileName", StringType), f("stampData", BinaryType)))

  /** The 26 light-curve features per band; the filters read only
    * `linear_fit_slope`, the rest are carried as payload.
    */
  val lcFeatureNames: Seq[String] = Seq(
    "amplitude", "anderson_darling_normal", "beyond_1_std", "chi2", "cusum",
    "eta", "eta_e", "inter_percentile_range_25", "inter_percentile_range_10",
    "kurtosis", "linear_fit_reduced_chi2", "linear_fit_slope",
    "linear_fit_slope_sigma", "linear_trend", "linear_trend_sigma",
    "magnitude_percentage_ratio_40_5", "magnitude_percentage_ratio_20_10",
    "maximum_slope", "mean", "median", "median_absolute_deviation",
    "median_buffer_range_percentage_10", "percent_amplitude",
    "mean_variance", "skew", "standard_deviation")
  val lcSchema: StructType = StructType(lcFeatureNames.map(f(_, DoubleType)))

  val schema: StructType = StructType(Seq(
    f("candid", LongType), f("objectId", StringType), f("schemavsn", StringType),
    f("publisher", StringType), f("candidate", candidateSchema),
    f("prv_candidates", ArrayType(pointSchema)),
    f("cutoutScience", cutoutSchema), f("cutoutTemplate", cutoutSchema),
    f("cutoutDifference", cutoutSchema),
    f("cdsxmatch", StringType), f("tns", StringType), f("DR3Name", StringType),
    f("vsx", StringType), f("gcvs", StringType), f("spicy_class", StringType),
    f("tracklet", StringType), f("spicy_id", IntegerType), f("roid", IntegerType),
    f("nalerthist", IntegerType), f("rf_snia_vs_nonia", DoubleType),
    f("snn_snia_vs_nonia", DoubleType), f("snn_sn_vs_all", DoubleType),
    f("mulens", DoubleType), f("rf_kn_vs_nonkn", DoubleType),
    f("anomaly_score", DoubleType), f("lc_features_g", lcSchema),
    f("lc_features_r", lcSchema), f("mangrove", MapType(StringType, StringType)),
    f("blazar_stats", MapType(StringType, FloatType)),
    f("timestamp", TimestampType)))

  private def point(p: Point): Row = Row(p.jd, p.fid, p.magpsf.getOrElse(null),
    p.sigmapsf.getOrElse(null), p.diffmaglim, p.isdiffpos.orNull, p.magnr, p.sigmagnr,
    p.ssnamenr, p.distnr)

  private def lc(slope: Double, candid: Long): Row = Row.fromSeq(
    lcFeatureNames.zipWithIndex.map { case (n, i) =>
      if (n == "linear_fit_slope") slope else ((candid * 31 + i) % 997) / 100.0
    })

  def row(a: Alert, scenes: IndexedSeq[Scene]): Row = {
    val c = a.c
    val s = scenes(a.scene)
    def cut(kind: String, bytes: Array[Byte]) =
      Row(s"candid${a.candid}_pid${c.pid}_targ_$kind.fits.gz", bytes)
    Row(
      a.candid, a.objectId, "3.3", "Fink",
      Row(c.jd, c.fid, c.pid, c.diffmaglim, c.isdiffpos, c.ra, c.dec, c.magpsf,
        c.sigmapsf, c.rb, c.drb, c.classtar, c.nbad, c.ndethist, c.ncovhist,
        c.jdstarthist, c.distnr, c.magnr, c.sigmagnr, c.ssdistnr, c.ssnamenr,
        c.neargaia, c.distpsnr1, c.field, c.magzpsci),
      if (a.prv.isEmpty) null else a.prv.map(point),
      cut("sci", s.science), cut("ref", s.template), cut("diff", s.difference),
      a.cdsxmatch, a.tns, a.dr3Name, a.vsx, a.gcvs, a.spicyClass, a.tracklet,
      a.spicyId, a.roid, a.nalerthist, a.rfSnia, a.snnSnia, a.snnSnAll,
      a.mulens, a.rfKn, a.anomaly, lc(a.lcSlopeG, a.candid),
      lc(a.lcSlopeR, a.candid),
      Map("lum_dist" -> a.lumDist, "HyperLEDA_name" -> "None",
        "2MASS_name" -> "None"),
      Map("instantness_high" -> a.blazar(0), "robustness_high" -> a.blazar(1),
        "instantness_low" -> a.blazar(2), "robustness_low" -> a.blazar(3)),
      new java.sql.Timestamp(((c.jd - 2440587.5) * 86400000L).toLong))
  }

  /** Writes each (directory, alerts) pair as one parquet file in that
    * directory, all in one Spark job staged under `staging`.
    */
  def write(spark: SparkSession, staging: Path, files: Seq[(Path, Seq[Alert])],
      scenes: IndexedSeq[Scene]): Unit = {
    val sc = spark.sparkContext
    val bScenes = sc.broadcast(scenes)
    val rdd = sc.parallelize(files.map(_._2), files.size)
      .flatMap(_.iterator.map(a => row(a, bScenes.value)))
    spark.createDataFrame(rdd, schema).write.mode("overwrite").parquet(staging.toString)
    bScenes.destroy()
    // part files are numbered by partition, i.e. in the order of `files`
    val parts = Files.list(staging).iterator().asScala
      .filter(_.getFileName.toString.startsWith("part-")).toSeq.sortBy(_.getFileName.toString)
    require(parts.size == files.size, s"expected ${files.size} part files, got ${parts.size}")
    parts.zip(files.map(_._1)).foreach { case (part, dir) =>
      Files.createDirectories(dir)
      Files.move(part, dir.resolve(part.getFileName))
    }
  }
}
