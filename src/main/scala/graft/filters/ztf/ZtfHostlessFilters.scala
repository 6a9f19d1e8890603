package graft.filters.ztf

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import graft.filters.AlertFilter
import ZtfHistoryFilters.chist

/** The hostless-transient family —
  * `fink_filters/ztf/livestream/filter_{new,intra_night,inter_night}_hostless`.
  *
  * Each filter = uncataloged-and-young predicate (pure expressions) ∧ a
  * cadence pattern over the in-row history (A3/A5) ∧ the ELEPHANT
  * KS-test image stage (G8). The image stage (FITS decode + the
  * ELEPHANT aperture statistic, arXiv:2404.18165) is the pluggable
  * [[HostlessScorer]]; the REGISTERED defaults run the real
  * [[FitsKsScorer]], matching the reference's registered behavior
  * (`filter_new_hostless/filter.py:82-96` — the expensive stage runs
  * last, on the survivors of the cheap cuts). Each filter also has a
  * registered `*_fast` sibling, a copy without the image stage (what
  * the [[PassthroughScorer]] gives) — cheap cuts only, for stamp-less
  * inputs or triage sweeps.
  */
object ZtfHostlessFilters {

  /** The pluggable image stage: given the candidate subset, return it
    * with non-hostless rows removed.
    */
  trait HostlessScorer extends Serializable {
    def keepHostless(candidates: DataFrame): DataFrame
  }

  /** Admits all candidates — the cheap-cuts-only image stage, which
    * the registered `*_fast` siblings equal (the Rubin pipeline carries a
    * precomputed score instead, which
    * [[graft.filters.rubin.RubinFilters.hostlessCandidate]] consumes).
    */
  object PassthroughScorer extends HostlessScorer {
    def keepHostless(candidates: DataFrame): DataFrame = candidates
  }

  /** REAL image stage: decodes the gzipped-FITS science/template stamps
    * and keeps candidates whose centre-vs-background KS statistic stays
    * inside the hostless bounds (the reference's threshold shape,
    * science ≤ 0.5 ∧ template ≤ 0.85 —
    * `filter_new_hostless/utils.py:139-141`; statistic variant
    * documented at [[graft.multimodal.FitsOps.hostlessKs]]). Runs as a
    * Scala UDF over the binary columns — the one deliberate UDF in the
    * engine (SURVEY §7.3: image ops over BinaryType), applied LAST, on
    * the survivors of all cheap cuts.
    *
    * The stage is ONE boolean UDF over both stamps, referenced once.
    * Catalyst merges this `Filter` with the cheap-cut one into a single
    * `AND`; an expression referenced twice there (`ks >= 0 && ks <= max`)
    * is a common subexpression, which is hoisted and evaluated for every
    * row ahead of the short-circuit. Referenced once, it runs after the
    * cheap conjuncts, on their survivors only. The template stamp is
    * decoded only when the science stamp is within bounds; a null stamp
    * is not hostless.
    */
  class FitsKsScorer(scienceMax: Double = 0.5, templateMax: Double = 0.85)
      extends HostlessScorer {
    def keepHostless(candidates: DataFrame): DataFrame = {
      val hostless = udf((sci: Array[Byte], tpl: Array[Byte]) =>
        ksWithin(sci, scienceMax) && ksWithin(tpl, templateMax))
      candidates.filter(hostless(col("cutoutScience.stampData"),
        col("cutoutTemplate.stampData")))
    }
  }

  /** Is `stamp` present with a KS statistic in [0, max]? (NaN is not.) */
  private def ksWithin(stamp: Array[Byte], max: Double): Boolean =
    stamp != null && {
      val ks = graft.multimodal.FitsOps.hostlessKs(stamp)
      ks >= 0 && ks <= max
    }

  /** Not in the ZTF reference catalog, SIMBAD, Gaia DR3, or the MPC —
    * `filter_new_hostless/utils.py:34-84` (composing the simbad / gaia
    * candidate predicates negated).
    */
  def isUncataloged: Column =
    col("candidate.distnr") > 1.5 &&
      !coalesce(ZtfFilters.inSimbad, lit(false)) &&
      col("DR3Name") === "nan" &&
      col("roid") =!= 3

  /** Last `nobs` detections present and within `lapseHour` — the
    * intra-night cadence (`utils.py:145-186`).
    */
  def intraNightCadence(nobs: Int = 2, lapseHour: Double = 12): Column = {
    val cmag = chist("magpsf")
    val cjd = chist("jd")
    val lastMags = slice(cmag, -nobs, nobs)
    val lastJds = slice(cjd, -nobs, nobs)
    val allPresent = size(filter(lastMags, _.isNotNull)) === nobs
    allPresent &&
      (try_element_at(lastJds, lit(-1)) - try_element_at(lastJds, lit(1))) <
        lapseHour / 24.0
  }

  /** Gap pattern over the last three detections: >12 h between the 2nd
    * and 3rd, <12 h between the 1st and 2nd (`utils.py:189-237`).
    */
  def interNightCadence(nobs: Int = 3, lapseHour: Double = 12): Column = {
    val cmag = chist("magpsf")
    val cjd = chist("jd")
    val lastMags = slice(cmag, -nobs, nobs)
    val lastJds = slice(cjd, -nobs, nobs)
    val allPresent = size(filter(lastMags, _.isNotNull)) === nobs
    allPresent &&
      (try_element_at(lastJds, lit(3)) - try_element_at(lastJds, lit(2))) >
        lapseHour / 24.0 &&
      (try_element_at(lastJds, lit(2)) - try_element_at(lastJds, lit(1))) <
        12.0 / 24.0
  }

  /** What the hostless filters read: the cheap cuts' columns and the
    * image stage's stamps.
    */
  private val HostlessColumns = Seq("candidate", "prv_candidates",
    "cdsxmatch", "DR3Name", "roid", "cutoutScience", "cutoutTemplate")

  /** ndethist == 1 ∧ uncataloged ∧ hostless —
    * `filter_new_hostless/filter.py:82-96`.
    */
  def newHostless(scorer: HostlessScorer = new FitsKsScorer()): AlertFilter = {
    def cheap = col("candidate.ndethist") === 1 && isUncataloged
    AlertFilter("ztf.livestream.new_hostless",
      "First-detection hostless candidates (ELEPHANT KS image stage ON)",
      HostlessColumns, mask = _ => cheap,
      stage = Some(df => scorer.keepHostless(df.filter(cheap))))
  }

  /** ndethist == 2 ∧ uncataloged ∧ 2 obs within 12 h ∧ hostless —
    * `filter_intra_night_hostless/filter.py:111-128`.
    */
  def intraNightHostless(
      scorer: HostlessScorer = new FitsKsScorer()): AlertFilter = {
    def cheap = col("candidate.ndethist") === 2 && isUncataloged &&
      intraNightCadence()
    AlertFilter("ztf.livestream.intra_night_hostless",
      "Intra-night hostless candidates (ELEPHANT KS image stage ON)",
      HostlessColumns, mask = _ => cheap,
      stage = Some(df => scorer.keepHostless(df.filter(cheap))))
  }

  /** ndethist == 3 ∧ uncataloged ∧ inter-night gap pattern ∧ hostless —
    * `filter_inter_night_hostless/filter.py:111-129`.
    */
  def interNightHostless(
      scorer: HostlessScorer = new FitsKsScorer()): AlertFilter = {
    def cheap = col("candidate.ndethist") === 3 && isUncataloged &&
      interNightCadence()
    AlertFilter("ztf.livestream.inter_night_hostless",
      "Inter-night hostless candidates (ELEPHANT KS image stage ON)",
      HostlessColumns, mask = _ => cheap,
      stage = Some(df => scorer.keepHostless(df.filter(cheap))))
  }

  /** The registered filters and their `*_fast` siblings: the same cheap
    * cuts with the image stage skipped — for stamp-less inputs.
    */
  val all: Seq[AlertFilter] = {
    val real = Seq(newHostless(), intraNightHostless(), interNightHostless())
    real ++ real.map(f => f.copy(name = f.name + "_fast",
      description = f.description.replace(" (ELEPHANT KS image stage ON)",
        " (cheap cuts only — image stage SKIPPED)"),
      stage = None))
  }
}
