package graft.filters.ztf

import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DoubleType, StructField, StructType}

import graft.astro.Astro
import graft.filters.AlertFilter

/** Early kilonova candidates (O20 — the Mangrove neighborhood join),
  * `fink_filters/ztf/livestream/filter_early_kn_candidates/filter.py:52-133,345-359`.
  *
  * Per alert passing the quality/newness cuts: find Mangrove galaxies
  * within 2°, keep the alert when ANY neighbor satisfies BOTH the
  * projected-distance cut (separation_rad < 0.01/ang_dist, i.e. within
  * 10 kpc projected) and the kilonova absolute-magnitude window
  * (−17 < m − 25 − 5·log10(lum_dist) < −15); then the galactic and
  * ecliptic |lat| > 10° cuts.
  *
  * The reference re-reads its packaged Mangrove CSV inside the UDF on
  * every batch (the anti-pattern SURVEY §4 flags); here the catalog is
  * an injectable DataFrame joined with `broadcast()`, pruned by a
  * |Δdec| ≤ 2° zone condition so the broadcast nested-loop join never
  * evaluates the haversine on the far pairs. The catalog contract:
  * (ra, dec: deg, lum_dist: Mpc, ang_dist: Mpc/rad scale factor).
  * This checkout of the reference does not ship
  * `mangrove_filtered.csv`, so the spec exercises the operator with a
  * synthetic catalog. The final SDSS star veto is an external HTTP
  * enrichment (O26), stubbed as pass-through.
  */
object EarlyKnFilter {

  def preCuts: Column =
    col("candidate.drb") > 0.5 && col("candidate.classtar") > 0.4 &&
      (col("candidate.jd") - col("candidate.jdstarthist") < 0.25) &&
      col("cdsxmatch").isin(SimbadClasses.ExtragalacticHosts: _*) &&
      col("roid").cast("int") =!= 3

  def latitudeCuts: Column = {
    val ra = col("candidate.ra").cast("double")
    val dec = col("candidate.dec").cast("double")
    abs(Astro.galacticLatDeg(ra, dec)) > 10 &&
      abs(Astro.eclipticLatDeg(ra, dec)) > 10
  }

  /** The near-galaxy semi-join: alerts with ≥1 qualifying Mangrove
    * neighbor. Left-semi join keeps alert rows unique and drops the
    * catalog columns, as the reference's boolean mask does.
    */
  def nearMangroveGalaxy(df: DataFrame, mangrove: DataFrame): DataFrame = {
    val cat = broadcast(mangrove.select(
      col("ra").cast("double").as("__gra"),
      col("dec").cast("double").as("__gdec"),
      col("lum_dist").cast("double").as("__glum"),
      col("ang_dist").cast("double").as("__gang")))
    val sepDeg = Astro.angSepDeg(
      col("candidate.ra").cast("double"), col("candidate.dec").cast("double"),
      col("__gra"), col("__gdec"))
    val sepRad = sepDeg * lit(math.Pi / 180.0)
    val absMag = col("candidate.magpsf") - 25 - lit(5.0) * log10(col("__glum"))
    val cond =
      abs(col("candidate.dec").cast("double") - col("__gdec")) <= 2.0 &&
        sepDeg < 2.0 &&
        sepRad < lit(0.01) / col("__gang") &&
        absMag > -17 && absMag < -15
    df.join(cat, cond, "left_semi")
  }

  /** The full filter with an injected Mangrove catalog. */
  def earlyKnCandidates(mangrove: => DataFrame): AlertFilter = {
    def cuts = preCuts && latitudeCuts
    AlertFilter("ztf.livestream.early_kn_candidates",
      "Very young KN candidates near a Mangrove galaxy",
      Seq("candidate", "cdsxmatch", "roid"), mask = _ => cuts,
      stage = Some(df => nearMangroveGalaxy(df.filter(cuts), mangrove)))
  }

  /** Registry binding. The reference's packaged mangrove_filtered.csv
    * is ABSENT from this checkout, so the default binding uses an empty
    * catalog (made in the active session on every apply) — the
    * pre/latitude cuts run, the neighborhood semi-join passes nothing.
    * The catalog is a local relation, which the optimizer sees is
    * empty, so the semi-join folds away instead of being planned and
    * run. Real deployments inject a catalog via [[earlyKnCandidates]].
    */
  private[filters] val registryDefault: AlertFilter = earlyKnCandidates {
    SparkSession.active.createDataFrame(java.util.List.of[Row](), StructType(
      Seq("ra", "dec", "lum_dist", "ang_dist").map(StructField(_, DoubleType))))
  }.copy(description =
    "Very young KN candidates near a Mangrove galaxy (default binding: " +
      "empty catalog — the packaged galaxy list is absent from this " +
      "checkout; inject one via EarlyKnFilter.earlyKnCandidates)")
}
