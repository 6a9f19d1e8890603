package graft.xmatch

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.astro.Astro

/** Spatial cross-match operators (O17-O19) — the engine analog of
  * fink-science's `cross_match_astropy` as consumed at
  * `fink_filters/ztf/filter_known_tde/filter.py:59-90`,
  * `filter_symbiotic_stars/filter.py:34-107` and
  * `filter_dwarf_agn/filter.py:34-94`.
  *
  * Semantics (validated against all three datatest fixtures,
  * tools/dev_goldens_xmatch.py): MUTUAL nearest neighbour — an alert is
  * labeled with a catalog source iff the source is the alert's nearest
  * AND the alert is the source's nearest, and their separation is below
  * the (per-source) match radius. This reproduces the reference counts
  * exactly (1/21 TDE, 19/20 symbiotic, 1/1 dwarf-AGN), including the
  * "two alerts merged into one match" behavior its comments describe
  * (`filter_symbiotic_stars/filter.py:68-75`).
  *
  * Scale design: the catalog side broadcasts (KBs); a conservative
  * |Δdec| ≤ maxRadius zone prune bounds the nested-loop join before any
  * trig — pruned pairs have separation > every match radius, so ranks
  * among surviving pairs decide identically (proof: a pruned pair's
  * separation exceeds maxRadius, so if it were a rank-1 pair its match
  * would fail the radius gate anyway, and whichever pair replaces it at
  * rank 1 has an even larger separation). The two rank windows partition
  * by alert resp. catalog id — no global sort anywhere.
  */
object CrossMatch {

  /** Adds `outCol` to `df`: the matched catalog `name`, or "Unknown".
    *
    * @param catalog small DataFrame with columns
    *                (name: string, ra, dec: double degrees,
    *                radius_arcsec: double)
    * @param idCol   a UNIQUE alert id column name in df
    */
  def mutualNearestLabel(
      df: DataFrame,
      idCol: String,
      ra: Column,
      dec: Column,
      catalog: DataFrame,
      outCol: String,
      noMatch: String = "Unknown"): DataFrame = {
    val maxRad = catalog.agg(max(col("radius_arcsec"))).head().getDouble(0)
    val cat = catalog.select(
      col("name").as("__cname"),
      col("ra").cast("double").as("__cra"),
      col("dec").cast("double").as("__cdec"),
      col("radius_arcsec").cast("double").as("__crad"),
      monotonically_increasing_id().as("__cid"))
    val alerts = df.select(col(idCol).as("__aid"),
      ra.cast("double").as("__ara"), dec.cast("double").as("__adec"))
    val sepAs =
      Astro.angSepDeg(col("__ara"), col("__adec"),
        col("__cra"), col("__cdec")) * 3600.0
    val cand = alerts
      .join(broadcast(cat),
        abs(col("__adec") - col("__cdec")) * 3600.0 <= maxRad)
      .withColumn("__sep", sepAs)
    val byAlert = Window.partitionBy("__aid").orderBy(col("__sep"), col("__cid"))
    val bySource = Window.partitionBy("__cid").orderBy(col("__sep"), col("__aid"))
    val matched = cand
      .withColumn("__rka", row_number().over(byAlert))
      .withColumn("__rkc", row_number().over(bySource))
      .filter(col("__rka") === 1 && col("__rkc") === 1 &&
        col("__sep") < col("__crad"))
      .select(col("__aid"), col("__cname"))
    df.join(matched, df(idCol) === matched("__aid"), "left")
      .withColumn(outCol, coalesce(col("__cname"), lit(noMatch)))
      .drop("__aid", "__cname")
  }
}

/** Loaders normalizing the reference's packaged catalogs to the
  * (name, ra, dec, radius_arcsec) contract. Paths default to the
  * read-only reference checkout; deployments point FINK_FILTERS_DATA at
  * their own copies.
  */
object Catalogs {
  import org.apache.spark.sql.SparkSession

  private def dataDir: String =
    sys.env.getOrElse("FINK_FILTERS_DATA", graft.Fixtures("fink_filters"))

  /** TDE list — `filter_known_tde/data/tde.parquet` (name, ra, dec),
    * fixed 5″ radius (`filter_known_tde/filter.py:36`).
    */
  def knownTde(spark: SparkSession, radiusArcsec: Double = 5.0): DataFrame =
    spark.read.parquet(s"$dataDir/ztf/filter_known_tde/data/tde.parquet")
      .select(col("name"), col("ra").cast("double"),
        col("dec").cast("double"), lit(radiusArcsec).as("radius_arcsec"))

  /** Symbiotic + cataclysmic stars — sexagesimal coordinates and a
    * per-source radius; label is "Name,source"
    * (`filter_symbiotic_stars/filter.py:96-100`).
    */
  def symbiotic(spark: SparkSession): DataFrame =
    spark.read.parquet(s"$dataDir/data/symbiotic_and_cataclysmic.parquet")
      .select(
        concat(col("Name"), lit(","), col("source")).as("name"),
        Astro.hmsToDeg(col("RA(J2000)")).as("ra"),
        Astro.dmsToDeg(col("DEC(J2000)")).as("dec"),
        col("Radius").cast("double").as("radius_arcsec"))

  /** Magnetic cataclysmic variables — CSV with sexagesimal coordinates
    * and a per-source radius (`filter_magnetic_cvs/filter.py:89-119`).
    */
  def magneticCvs(spark: SparkSession): DataFrame =
    spark.read.option("header", "true")
      .csv(s"$dataDir/data/magnetic_cataclysmic_variables.csv")
      .select(
        col("Name").as("name"),
        Astro.hmsToDeg(col("RA(J2000)")).as("ra"),
        Astro.dmsToDeg(col("DEC(J2000)")).as("dec"),
        col("Radius").cast("double").as("radius_arcsec"))

  /** Dwarf AGN — per-source effective radius `Re_arc`
    * (`filter_dwarf_agn/filter.py:66-94`).
    */
  def dwarfAgn(spark: SparkSession): DataFrame =
    spark.read.parquet(s"$dataDir/data/list_dwarfs_AGN_RADEC.parquet")
      .select(col("MaNGAID").as("name"), col("RA").cast("double").as("ra"),
        col("DEC").cast("double").as("dec"),
        col("Re_arc").cast("double").as("radius_arcsec"))
}
