package graft.filters.ztf

import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._

import graft.filters.AlertFilter
import graft.xmatch.{Catalogs, CrossMatch}

/** Cross-match-backed ZTF filters (O17-O19). Unlike the pure-predicate
  * catalog in [[ZtfFilters]], these match against a catalog DataFrame,
  * so each has a stage (the mask alone cannot express them) and
  * also expose the reference's enrichment form — a label column,
  * "Unknown" when unmatched.
  */
object ZtfXmatchFilters {

  // the reference cross-matches only isdiffpos-valid alerts for known_tde
  // and magnetic_cvs (filter_known_tde/filter.py:124-129); invalid ones
  // stay "Unknown" without competing in the mutual-nearest ranking
  private def eligible(positiveOnly: Boolean): Column =
    if (positiveOnly) col("candidate.isdiffpos").isin("t", "1") else lit(true)

  private def label(df: DataFrame, catalog: DataFrame, outCol: String,
      positiveOnly: Boolean): DataFrame =
    CrossMatch.mutualNearestLabel(
      df, "candid", col("candidate.ra"), col("candidate.dec"), catalog, outCol,
      eligible = eligible(positiveOnly))

  /** `known_tde` enrichment: TDE name per alert within 5″, positive
    * difference alerts only — `filter_known_tde/filter.py:59-129`.
    */
  def withKnownTde(df: DataFrame, catalog: DataFrame,
      outCol: String = "tde"): DataFrame =
    label(df, catalog, outCol, positiveOnly = true)

  /** `crossmatch_symbiotic` enrichment ("Name,source" label) —
    * `filter_symbiotic_stars/filter.py:34-107`.
    */
  def withSymbiotic(df: DataFrame, catalog: DataFrame,
      outCol: String = "symbiotic"): DataFrame =
    label(df, catalog, outCol, positiveOnly = false)

  /** `crossmatch_dwarf_agn` enrichment (MaNGAID label) —
    * `filter_dwarf_agn/filter.py:34-94`.
    */
  def withDwarfAgn(df: DataFrame, catalog: DataFrame,
      outCol: String = "manga"): DataFrame =
    label(df, catalog, outCol, positiveOnly = false)

  /** A cross-match filter's registry name, description, label column
    * and whether only positive alerts compete.
    */
  private final case class Kind(name: String, description: String,
      outCol: String, positiveOnly: Boolean) {

    /** The filter keeping the alerts that `enrich` labels in `outCol`. */
    def matched(desc: String, enrich: DataFrame => DataFrame): AlertFilter = {
      val labelled: DataFrame => Column = _ => col(outCol) =!= "Unknown"
      AlertFilter(name, desc, Seq("candid", "candidate.ra", "candidate.dec"),
        mask = labelled, stage = Some(df => enrich(df).filter(labelled(df))))
    }
  }

  private val KnownTde = Kind("ztf.known_tde",
    "Alerts matching a known TDE within 5 arcsec", "tde", positiveOnly = true)
  private val MagneticCvs = Kind("ztf.livestream.magnetic_cvs",
    "Alerts matching known magnetic cataclysmic variables", "mcvs", positiveOnly = true)
  private val SymbioticStars = Kind("ztf.symbiotic_stars",
    "Alerts matching symbiotic / cataclysmic star catalogs", "symbiotic", positiveOnly = false)
  private val DwarfAgn = Kind("ztf.dwarf_agn",
    "Alerts matching the dwarf-AGN list", "manga", positiveOnly = false)

  /** The injectable form: `catalog` is collected on every apply. */
  private def injected(k: Kind, catalog: DataFrame): AlertFilter =
    k.matched(k.description, label(_, catalog, k.outCol, k.positiveOnly))

  def knownTde(catalog: DataFrame): AlertFilter = injected(KnownTde, catalog)

  /** `magnetic_cvs` — positive alerts cross-matched against the magnetic
    * CV catalog with per-source radii
    * (`filter_magnetic_cvs/filter.py:122-173`; same positive-only gate
    * as known_tde).
    */
  def magneticCvs(catalog: DataFrame): AlertFilter = injected(MagneticCvs, catalog)

  def symbioticStars(catalog: DataFrame): AlertFilter = injected(SymbioticStars, catalog)

  def dwarfAgn(catalog: DataFrame): AlertFilter = injected(DwarfAgn, catalog)

  /** The four filters bound to the packaged catalogs under `dir`,
    * evaluated on every apply (O23). The reference re-reads these files
    * inside its UDF per batch; here each apply takes the rows from the
    * [[Catalogs]] memo, which reads a catalog again only when its files
    * change. The catalog resolves from the incoming frame's session, so
    * the string-dispatch config path (SURVEY §3.1) covers the xmatch
    * family too; the parameterized factories above remain the
    * injectable form.
    */
  def packaged(dir: => String): Seq[AlertFilter] = {
    def bound(k: Kind, rows: (SparkSession, String) => IndexedSeq[Row]) =
      k.matched(k.description + " (packaged default catalog)",
        df => CrossMatch.mutualNearestLabelRows(df, "candid", col("candidate.ra"),
          col("candidate.dec"), rows(df.sparkSession, dir), k.outCol,
          eligible = eligible(k.positiveOnly)))
    Seq(
      bound(KnownTde, Catalogs.knownTdeRows(_, _)),
      bound(MagneticCvs, Catalogs.magneticCvsRows(_, _)),
      bound(SymbioticStars, Catalogs.symbioticRows(_, _)),
      bound(DwarfAgn, Catalogs.dwarfAgnRows(_, _)))
  }

  /** The registry's bindings: the packaged catalogs under
    * [[Catalogs.dataDir]].
    */
  val all: Seq[AlertFilter] = packaged(Catalogs.dataDir)
}
