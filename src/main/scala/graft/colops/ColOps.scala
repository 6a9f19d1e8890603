package graft.colops

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** The fink-utils `concat_col` helpers over in-row history arrays.
  *
  * The reference keeps each alert's photometric history embedded in the row
  * (`prv_candidates` array of structs) and flattens selected fields into
  * plain array columns before filtering (the fink-utils `concat_col`
  * pattern, used at e.g.
  * `fink_filters/ztf/livestream/filter_kn_candidates/filter.py:168-178` and
  * `fink_filters/ztf/filter_early_tde_candidates/prefilter.py:295-297`).
  * Everything here is a pure Catalyst expression — no UDFs — so the whole
  * pipeline stays inside whole-stage codegen.
  */
object ColOps {

  /** History ⊕ current as a flat array, chronological with the current
    * measurement LAST (filters read "latest" via `element_at(col, -1)`).
    *
    * Equivalent of fink-utils `concat_col(df, name, prefix)`: the new column
    * `prefix+name` is `prv_candidates[*].name ++ [candidate.name]`, with a
    * null-history guard.
    */
  def concatCol(
      df: DataFrame,
      name: String,
      prefix: String = "c",
      histCol: String = "prv_candidates",
      currentCol: String = "candidate"): DataFrame = {
    val hist = col(histCol).getField(name)
    val cur = array(col(s"$currentCol.$name"))
    df.withColumn(
      prefix + name,
      when(col(histCol).isNull, cur).otherwise(concat(hist, cur)))
  }

  /** Vectorize several fields at once (the common call pattern). */
  def concatCols(df: DataFrame, names: Seq[String], prefix: String = "c"): DataFrame =
    names.foldLeft(df)((d, n) => concatCol(d, n, prefix))

  /** Drop-in parity with the reference's broker naming quirk: after
    * `concat_col`, callers rename `c<name>` to `c<name>c`
    * (fink-broker#457 workaround, quoted in every doctest —
    * e.g. `filter_kn_candidates/filter.py:176-178`). Downstream code
    * written against those `c*c` columns ports unchanged.
    */
  def concatColsRenamed(df: DataFrame, names: Seq[String],
      prefix: String = "c"): DataFrame =
    names.foldLeft(concatCols(df, names, prefix)) { (d, n) =>
      d.withColumnRenamed(prefix + n, prefix + n + prefix)
    }
}
