package graft.filters.ztf

import org.apache.spark.ml.classification.{GBTClassificationModel, GBTClassifier}
import org.apache.spark.ml.feature.VectorAssembler
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import graft.ml.PortableGbt

/** A TRAINED stage-2 early-TDE classifier behind the
  * [[EarlyTdeScorer.TdeScorer]] seam — the engine's answer to the
  * reference's two packaged XGBoost binaries
  * (`filter_early_tde_candidates/filter.py:203-218`): same role
  * (gradient-boosted trees over the fit features), but trained
  * reproducibly from labeled alert frames the caller provides instead
  * of shipping an opaque artifact.
  *
  * Shape: training is a one-off distributed Spark ML `GBTClassifier`
  * fit over the closed-form feature structs; the FROZEN model is then
  * compiled to Column algebra ([[PortableGbt]]) so scoring is a
  * pure whole-stage-codegen map stage — the reference's
  * per-candidate driver loop (`filter.py:305-360`) becomes a
  * distributed predicate with zero per-row model-dispatch overhead.
  *
  * The transparent [[EarlyTdeScorer.LogisticTdeScorer]] stays the
  * default (and the fallback when no labeled data exists to train on).
  */
object TrainedTdeScorer {

  /** Feature order — fixed, because the compiled trees reference
    * features by index. Mirrors the reference ensemble's feature
    * semantics (rise rate + significance, color temperature +
    * significance, fit quality, zero-crossing epoch ± error).
    */
  val featureNames: Seq[String] = Seq(
    "rate_g", "rate_r", "snr_rise_time",
    "temperature", "snr_temperature",
    "r_chisq", "rel_reference_time", "e_reference_time")

  /** Identical accessor at train and score time: failed-fit nulls
    * impute to 0.0 (every feature is positive-favoring for TDEs, so 0
    * is the maximally non-TDE reading — same convention both sides of
    * the seam, which is what makes the compiled trees valid).
    */
  private def featAsDouble(feat: Column, n: String): Column =
    coalesce(feat.getField(n).cast("double"), lit(0.0))

  /** Feature rows for raw alert frames: alerts with a defined two-band
    * fit (≥2 points per band), one row per alert. The barrier keeps
    * the n_g/n_r filter from inlining the fit tree per reference
    * (see [[EarlyTdeScorer.featuresBarrier]]).
    */
  private def featureRows(alerts: DataFrame, label: Double): DataFrame =
    EarlyTdeScorer.featuresBarrier(
      EarlyTdeScorer.withFeatures(alerts, deredden = true)
        .select("tde_features"))
      .filter(col("tde_features.n_g") >= 2 && col("tde_features.n_r") >= 2)
      .select(featureNames.map(n =>
        featAsDouble(col("tde_features"), n).as(n)) :+
        lit(label).as("label"): _*)

  /** Train a GBT on positive (TDE) and negative (control) alert
    * frames. Deterministic under a fixed seed. Depth/iterations
    * default small — the feature space is 8-dimensional and the
    * decision surface (hot + rising + well-fit) is low-complexity;
    * deeper ensembles only memorize the training sample.
    */
  def train(positives: DataFrame, negatives: DataFrame,
      maxIter: Int = 20, maxDepth: Int = 3,
      seed: Long = 42L): GbtTdeScorer = {
    // the boosting loop makes MANY passes over the training frame;
    // localCheckpoint truncates the (enormous) closed-form fit
    // lineage so feature extraction runs exactly once, not per pass
    val training = featureRows(positives, 1.0)
      .unionByName(featureRows(negatives, 0.0))
      .localCheckpoint()
    val assembled = new VectorAssembler()
      .setInputCols(featureNames.toArray)
      .setOutputCol("features")
      .transform(training)
    val model = new GBTClassifier()
      .setMaxIter(maxIter)
      .setMaxDepth(maxDepth)
      .setSeed(seed)
      .fit(assembled)
    new GbtTdeScorer(model)
  }

  /** The frozen model as a [[EarlyTdeScorer.TdeScorer]]: probability
    * of the TDE class, compiled to Column algebra through its portable
    * form, so it scores exactly as its saved artifact does.
    */
  final class GbtTdeScorer(val model: GBTClassificationModel)
      extends EarlyTdeScorer.TdeScorer {
    private val portable =
      new PortableTdeScorer(PortableGbt.fromModel(model, featureNames))
    def score(feat: Column): Column = portable.score(feat)

    /** Freeze to the open `graft-gbt-1` JSON (see [[PortableGbt]]) —
      * the deployable artifact: load it back with
      * [[TrainedTdeScorer.loadPortable]] on a classpath WITHOUT
      * `org.apache.spark.ml`, with bit-identical scores.
      */
    def save(path: String): Unit = portable.ensemble.save(path)
  }

  /** A saved portable ensemble as a [[EarlyTdeScorer.TdeScorer]] —
    * same Column algebra, no Spark ML types anywhere on the path.
    */
  final class PortableTdeScorer(val ensemble: PortableGbt.Ensemble)
      extends EarlyTdeScorer.TdeScorer {
    require(ensemble.featureNames == featureNames,
      s"portable model features ${ensemble.featureNames} != $featureNames")
    def score(feat: Column): Column =
      round(ensemble.probability(
        i => featAsDouble(feat, featureNames(i))), 6)
  }

  def loadPortable(path: String): PortableTdeScorer =
    new PortableTdeScorer(PortableGbt.load(path))
}
