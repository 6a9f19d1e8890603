package graft.filters.ztf

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

import graft.expressions.HistoryFits
import graft.filters.AlertFilter

/** ZTF filters over the in-row photometric history (A1-A11 array
  * operators) — the reference flattens `prv_candidates` into `c*c`
  * columns with fink-utils `concat_col` and runs pandas UDFs; here the
  * same logic is pure array expressions over the nested schema directly.
  */
object ZtfHistoryFilters {

  /** History ⊕ current values of a candidate field, chronological with
    * the current measurement LAST (the `concat_col` layout,
    * `filter_kn_candidates/filter.py:168-178`). Null history → only the
    * current value.
    */
  private[ztf] def chist(field: String): Column = {
    val hist = col("prv_candidates").getField(field)
    val cur = array(col(s"candidate.$field"))
    when(col("prv_candidates").isNull, cur).otherwise(concat(hist, cur))
  }

  /** Is this magnitude a real detection? (upper limits carry null/NaN). */
  private[ztf] def validMag(m: Column): Column =
    m.isNotNull && !isnan(m.cast("double"))

  /** Elements of `vals` at positions where the magnitude is a detection
    * — the reference's `v(val, mag) = val[~np.isnan(mag)]` idiom.
    */
  private def atValid(vals: Column, mags: Column): Column =
    transform(
      filter(zip_with(vals, mags, (v, m) => struct(v.as("v"), m.as("m"))),
        s => validMag(s.getField("m"))),
      s => s.getField("v"))

  /** Orphan GRB afterglow candidates — the 6-step cadence/color cascade
    * of `filter_orphan_grb_candidates/filter.py:24-157` (A11):
    * ≤30 d span, all detections fainter than 18, EXACTLY 3 detections
    * within 10 d, band-aware fading rule on the 2nd/3rd points,
    * mean(g)−mean(r) ≥ 0, and no SSO identification.
    */
  val orphanGrb: AlertFilter = AlertFilter(
    "ztf.orphan_grb_candidates", "Orphan GRB afterglow candidates",
    Seq("candidate", "prv_candidates"), mask = _ => {
      val cmag = chist("magpsf")
      val cjd = chist("jd")
      val cfid = chist("fid")
      val cssn = chist("ssnamenr")

      val atMostAMonth =
        col("candidate.jd") - col("candidate.jdstarthist") <= 30
      val above18 = forall(filter(cmag, validMag(_)),
        m => m.cast("double") > 18)
      val vmags = filter(cmag, validMag(_))
      val atLeast3 = size(vmags) === 3
      val vt = atValid(cjd, cmag)
      val within10d = try_element_at(vt, lit(3)) - try_element_at(vt, lit(1)) < 10.0
      val vf = atValid(cfid, cmag)
      val vm = transform(vmags, _.cast("double"))
      val f2 = try_element_at(vf, lit(2)).cast("int")
      val f3 = try_element_at(vf, lit(3)).cast("int")
      val m2 = try_element_at(vm, lit(2))
      val m3 = try_element_at(vm, lit(3))
      // band-aware fading rule (get_valid_rate, filter.py:24-46)
      val validRate = when(f2 === f3, m3 - m2 > 0.0)
        .when(f3 > f2, m2 - m3 <= 0.3)
        .otherwise(m3 - m2 > 0.0)
      def bandMean(fidVal: Int): Column = {
        val ms = transform(
          filter(zip_with(cmag, cfid, (m, f) => struct(m.as("m"), f.as("f"))),
            s => validMag(s.getField("m")) &&
              s.getField("f").cast("int") === fidVal),
          s => s.getField("m").cast("double"))
        when(size(ms) > 0,
          aggregate(ms, lit(0.0), (a, x) => a + x) / size(ms))
      }
      val colorOk = bandMean(1) - bandMean(2) >= 0
      val noSso = forall(atValid(cssn, cmag),
        s => s.isNull || s === "null")
      atMostAMonth && above18 && atLeast3 && within10d && validRate &&
        colorOk && noSso
    })

  /** SPICY YSO candidates — `filter_yso_spicy_candidates/filter.py:28-158`
    * (G5): known SPICY class ∧ |linear_fit_slope| > 0.025 ∧ R² of the
    * r-band linear fit (≥5 detections) > 0.6. R² computed closed-form
    * from the raw sums ([[graft.expressions.LinearR2]]), identical to the
    * reference's two-pass formula.
    */
  val ysoSpicy: AlertFilter = AlertFilter(
    "ztf.livestream.yso_spicy_candidates", "Variable SPICY YSO candidates",
    Seq("spicy_class", "lc_features_r.linear_fit_slope", "candidate",
      "prv_candidates"), mask = _ => {
      val spicyKnown = col("spicy_class").isNotNull &&
        !col("spicy_class").isin("Unknown")
      val slope = col("lc_features_r.linear_fit_slope").cast("double")
      val slopeOk = abs(slope) > 0.025

      val cmag = chist("magpsf")
      val cjd = chist("jd")
      val cfid = chist("fid")
      // r-band detections: (jd, mag) where fid == 2 and mag valid
      val pts = filter(
        zip_with(cjd, zip_with(cmag, cfid, (m, f) =>
          struct(m.as("m"), f.as("f"))),
          (j, s) => struct(j.cast("double").as("x"),
            s.getField("m").cast("double").as("y"),
            s.getField("f").as("f"))),
        s => validMag(s.getField("y")) && s.getField("f").cast("int") === 2)
      spicyKnown && slopeOk && HistoryFits.linearR2(pts, minN = 5) > 0.6
    })

  val all: Seq[AlertFilter] = Seq(orphanGrb, ysoSpicy)
}
