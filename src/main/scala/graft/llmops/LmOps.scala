package graft.llmops

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Corpus-statistics operators with a language-modeling flavor: Zipf-law
  * fits, n-gram language-model scoring (the perplexity-filter shape),
  * and quantile-based length calibration. These are the measurement
  * passes a training-data pipeline runs between cleaning and assembly —
  * all pure DataFrame algebra on the same tokenization kernel
  * ([[graft.expressions.WordShingles]]) as the dedup/TF-IDF family.
  *
  * Cross-engine float determinism follows the q41 contract: anything
  * that feeds a SUM is quantized to DECIMAL(18,6) first (log values
  * rounded to 6 decimals), so grouped sums are exact and shuffle-order
  * independent; doubles only reappear in the final per-group formula.
  */
object LmOps {

  /** q51 — Zipf-law fit per language: OLS of log10(freq) on log10(rank)
    * over each language's top-`topK` terms. The classic corpus sanity
    * check (natural text slopes ≈ −1; synthetic or boilerplate-heavy
    * corpora drift off) — and the grouped closed-form regression shape:
    * decimal-exact moment sums per group, slope/intercept algebraically
    * from the sums (the same partial-agg scale shape as
    * [[graft.operators.WlsAggregator]], here as pure Columns).
    *
    * Scale shape: one term-key aggregation (map-side combined), a rank
    * window per language (state = the language's vocabulary, and the
    * top-K cut keeps downstream constant), then a per-language 5-sum
    * aggregate — the shuffles carry (lang, term, count) and 5 decimals
    * per group, never text.
    */
  def q51ZipfFit(spark: SparkSession, dir: String, topK: Int = 100): DataFrame = {
    val tf = GateInputs.documents(spark, dir)
      .select(col("lang"),
        explode(graft.expressions.WordShingles.shingles(col("text"), 1))
          .as("term"))
      .groupBy("lang", "term")
      .agg(count(lit(1)).as("tf"))
    val w = Window.partitionBy("lang").orderBy(col("tf").desc, col("term"))
    val ranked = tf
      .withColumn("rnk", row_number().over(w))
      .filter(col("rnk") <= topK)
      .select(col("lang"),
        round(log10(col("rnk")), 6).cast("decimal(18,6)").as("x"),
        round(log10(col("tf")), 6).cast("decimal(18,6)").as("y"))
    val sums = ranked.groupBy("lang").agg(
      count(lit(1)).as("n_terms"),
      sum(col("x")).as("sx"), sum(col("y")).as("sy"),
      sum(col("x") * col("x")).as("sxx"),
      sum(col("x") * col("y")).as("sxy"))
    // exact decimal sums → identical doubles in every engine; the OLS
    // formula then runs the same IEEE ops on the same inputs
    val n = col("n_terms").cast("double")
    val sx = col("sx").cast("double")
    val sy = col("sy").cast("double")
    val sxx = col("sxx").cast("double")
    val sxy = col("sxy").cast("double")
    val denom = n * sxx - sx * sx
    // a language with a single ranked term is underdetermined (denom
    // 0) — emit null, not ±Infinity (guard mirrored in the oracle SQL)
    sums.select(col("lang"), col("n_terms"),
        when(denom > 0, round((n * sxy - sx * sy) / denom, 6))
          .as("zipf_slope"),
        when(denom > 0, round((sy * sxx - sx * sxy) / denom, 6))
          .as("zipf_intercept"))
      .orderBy("lang")
  }

  /** The corpus bigram model behind [[q53LmScore]]: P(w₂|w₁) estimated
    * from corpus counts, emitted as (bigram, nll) with
    * nll = round(ln(c(w₁·)/c(w₁w₂)), 6) quantized to DECIMAL(18,6).
    * The left-token normalizer comes from a window sum over the bigram
    * counts themselves (Σ_w c(w₁w) — exact normalization, no separate
    * unigram pass), so the model is ONE aggregation plus ONE w₁-key
    * window on rows that are already (bigram, count) — corpus-sized
    * text never reaches either shuffle.
    */
  def bigramModel(docBigrams: DataFrame): DataFrame = {
    val wl = Window.partitionBy("w1")
    docBigrams
      .groupBy("bg").agg(sum("tf").as("c12"))
      .withColumn("w1", substring_index(col("bg"), " ", 1))
      .withColumn("cl", sum(col("c12")).over(wl))
      .select(col("bg"),
        round(log(col("cl").cast("double") / col("c12").cast("double")), 6)
          .cast("decimal(18,6)").as("nll"))
  }

  /** q53 — bigram-LM scoring: each document's average negative log
    * probability under the corpus's own bigram model — the KenLM-style
    * perplexity quality filter (docs that the corpus model finds
    * surprising are boilerplate, wrong-language, or garbage; in
    * production the model is trained on a held-out clean corpus, the
    * dataflow is identical). avg_nll IS ln(perplexity).
    *
    * Scale shape: per-doc bigram counts (one tokenize map + a
    * (doc, bigram) aggregation), the [[bigramModel]] aggregation, then
    * an equi-join of doc bigrams against the model on the bigram key
    * and a per-doc weighted average — every wide stage carries ids,
    * 64-bit-ish keys, and counts. Skewed stopword bigrams are combined
    * map-side in both aggregations; tf·nll sums are decimal-exact.
    */
  def q53LmScore(spark: SparkSession, dir: String): DataFrame = {
    // (doc, bigram, tf) WITHOUT a (doc, bigram) shuffle: per-doc
    // counts are row-local state, so the native ElementCounts kernel
    // computes them in the map stage and explode(map) hands the same
    // relation downstream. 2 consumers (model build + scoring join).
    val bg = GateInputs.documents(spark, dir)
      .select(col("doc_id"),
        explode(graft.expressions.ElementCounts.elementCounts(
          graft.expressions.WordShingles.shingles(col("text"), 2)))
          .as(Seq("bg", "tf")))
      .persist()
    bg.join(bigramModel(bg), Seq("bg"))
      .groupBy("doc_id")
      .agg(sum(col("tf")).as("n_bigrams"),
        sum(col("tf") * col("nll")).as("snll"))
      .select(col("doc_id"), col("n_bigrams"),
        round(col("snll").cast("double") / col("n_bigrams"), 6).as("avg_nll"))
      .orderBy("doc_id")
  }

  /** Exact linear-interpolated order statistic at fraction `q` over a
    * SORTED numeric array column — rank convention r = (n−1)·q, the
    * same one DuckDB's `quantile_cont` uses (parity proven by q7).
    */
  def interpQuantile(sorted: Column, q: Double): Column = {
    val r = (size(sorted) - 1) * q
    val lo = element_at(sorted, floor(r).cast("int") + 1)
    val hi = element_at(sorted, ceil(r).cast("int") + 1)
    round(lo + (r - floor(r)) * (hi - lo), 6)
  }

  /** q55 — length-calibration histogram: exact decile BOUNDARIES of the
    * per-doc BPE-ish token count, then per-bucket occupancy and stats.
    * The length-distribution report every corpus build checks before
    * packing sequences (truncation/padding waste is read off it).
    *
    * Scale shape: boundaries via the q7 sorted-primitive order-stat
    * form, then ONE broadcast of 9 doubles turns bucketing into a pure
    * map stage + a 10-group aggregate. (The equal-count sibling —
    * global ntile — needs a single-partition window; bucketing by
    * VALUE boundaries is the formulation that distributes. At 100 TB
    * the exact boundary pass becomes `approx_percentile` with the rest
    * unchanged.)
    */
  /** The 100 TB boundary pass for [[q55LengthCalibration]]: Greenwald-
    * Khanna `percentile_approx` replaces the exact sorted-array order
    * statistic (constant executor memory vs collecting the column), and
    * every downstream stage — broadcast, bucketing, per-bucket agg — is
    * unchanged. `accuracy` bounds the relative rank error at
    * 1/accuracy.
    */
  def approxDecileBoundaries(df: DataFrame, valueCol: String,
      accuracy: Int = 10000): DataFrame =
    df.agg(percentile_approx(col(valueCol).cast("double"),
        array((1 to 9).map(k => lit(k / 10.0)): _*), lit(accuracy)).as("bs"))
      .select((1 to 9).map(k => element_at(col("bs"), k).as(s"b$k")): _*)

  def q55LengthCalibration(spark: SparkSession, dir: String): DataFrame = {
    val d = GateInputs.documents(spark, dir)
      .select(col("doc_id"), col("n_chars"),
        TextOps.bpeTokenCount(col("text")).as("n_tokens"))
    val bounds = d
      .agg(sort_array(collect_list(col("n_tokens").cast("double"))).as("ts"))
      .select((1 to 9).map(k =>
        interpQuantile(col("ts"), k / 10.0).as(s"b$k")): _*)
    val bucket = (1 to 9).map(k => when(col("n_tokens") > col(s"b$k"), 1)
      .otherwise(0)).reduce(_ + _) + 1
    d.crossJoin(broadcast(bounds))
      .select(col("doc_id"), col("n_chars"), col("n_tokens"),
        bucket.cast("long").as("decile"))
      .groupBy("decile")
      .agg(count(lit(1)).as("n_docs"),
        min("n_tokens").as("min_tokens"),
        max("n_tokens").as("max_tokens"),
        round(sum(col("n_tokens")).cast("double") / count(lit(1)), 6)
          .as("avg_tokens"),
        round(sum(col("n_chars")).cast("double") / count(lit(1)), 6)
          .as("avg_chars"))
      .orderBy("decile")
  }

  /** q56 — GROUPED exact quantiles: p25/p50/p75 of document length per
    * (lang, source) stratum — the per-stratum spread report behind
    * quota and mixing decisions (q30's strata, their distributions).
    * Same sorted-primitive order statistics as q7, per group: state is
    * one stratum's values, never the corpus (exact grouped quantiles
    * fundamentally need the group's values together; the 100 TB
    * fallback is grouped `approx_percentile`, dataflow unchanged).
    */
  def q56StratumQuantiles(spark: SparkSession, dir: String): DataFrame =
    GateInputs.documents(spark, dir)
      .select(col("lang"), col("source"), col("n_chars").cast("double").as("v"))
      .groupBy("lang", "source")
      .agg(sort_array(collect_list("v")).as("vs"),
        count(lit(1)).as("n_docs"))
      .select(col("lang"), col("source"), col("n_docs"),
        interpQuantile(col("vs"), 0.25).as("p25_chars"),
        interpQuantile(col("vs"), 0.50).as("p50_chars"),
        interpQuantile(col("vs"), 0.75).as("p75_chars"))
      .orderBy("lang", "source")
}
