package graft.ml

import org.apache.spark.ml.classification.GBTClassificationModel
import org.apache.spark.ml.tree.{CategoricalSplit, ContinuousSplit, InternalNode, LeafNode, Node}
import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._
import org.json4s._
import org.json4s.jackson.JsonMethods

/** A Spark-ML-free serialization of a trained GBT ensemble — the
  * portable counterpart of the reference's packaged XGBoost `.ubj`
  * binaries (`filter_early_tde_candidates/filter.py:77-85`), except
  * the format is open JSON and the loader needs nothing beyond this
  * file: a deployment can freeze a [[graft.filters.ztf.TrainedTdeScorer]]
  * once and score forever without `org.apache.spark.ml` on the
  * classpath.
  *
  * Scoring compiles the ensemble into Catalyst Column algebra: each
  * tree a nested CASE WHEN chain, the ensemble a weighted sum. The
  * model is baked into the plan as literals, so scoring stays inside
  * whole-stage codegen with no VectorAssembler or per-row predict UDF
  * (what `model.transform` would run). Split semantics mirror
  * `Split.shouldGoLeft`: continuous → left iff value ≤ threshold;
  * categorical → left iff the value is in `leftCategories`. Null inputs
  * must be imputed by the caller's feature accessor (the ML pipeline
  * would have thrown on them).
  *
  * Format (`graft-gbt-1`):
  * {{{
  * { "format": "graft-gbt-1",
  *   "featureNames": ["rate_g", ...],
  *   "treeWeights": [1.0, 0.1, ...],
  *   "trees": [ <node>, ... ] }
  * <node> := {"prediction": p}                               // leaf
  *         | {"feature": i, "threshold": t,                  // continuous
  *            "left": <node>, "right": <node>}               //   (goLeft ⇔ x ≤ t)
  *         | {"feature": i, "leftCategories": [c, ...],      // categorical
  *            "left": <node>, "right": <node>}               //   (goLeft ⇔ x ∈ cats)
  * }}}
  * Doubles round-trip exactly (jackson emits shortest-repr doubles and
  * parses them back bit-identically), so a save/load cycle scores
  * bit-identically — the spec pins 1e-6 but the truth is 0 ulp.
  */
object PortableGbt {

  sealed trait PNode
  final case class PLeaf(prediction: Double) extends PNode
  final case class PContinuous(feature: Int, threshold: Double,
      left: PNode, right: PNode) extends PNode
  final case class PCategorical(feature: Int, leftCategories: Seq[Double],
      left: PNode, right: PNode) extends PNode

  final case class Ensemble(featureNames: Seq[String],
      treeWeights: Seq[Double], trees: Seq[PNode]) {

    /** GBT margin Σ w_m·tree_m(x) as Column algebra, no ML classes
      * involved.
      */
    def rawScore(features: Int => Column): Column =
      trees.zip(treeWeights).map { case (t, w) =>
        compile(t, features) * lit(w)
      }.reduce(_ + _)

    /** Positive-class probability for a logistic-loss GBT:
      * 1 / (1 + e^(−2·raw)), the map `GBTClassificationModel` applies in
      * `raw2probabilityInPlace`.
      */
    def probability(features: Int => Column): Column =
      lit(1.0) / (lit(1.0) + exp(lit(-2.0) * rawScore(features)))

    def toJson: String = JsonMethods.compact(JsonMethods.render(
      JObject(
        "format" -> JString("graft-gbt-1"),
        "featureNames" -> JArray(featureNames.map(JString(_)).toList),
        "treeWeights" -> JArray(treeWeights.map(JDouble(_)).toList),
        "trees" -> JArray(trees.map(nodeToJson).toList))))

    /** Writes through the Hadoop FileSystem API, so `hdfs://`/`s3a://`
      * paths work exactly like local ones (the same rule the streaming
      * state sinks follow).
      */
    def save(path: String): Unit = {
      val p = new org.apache.hadoop.fs.Path(path)
      val fs = p.getFileSystem(new org.apache.hadoop.conf.Configuration())
      val out = fs.create(p, true)
      try out.write(toJson.getBytes(java.nio.charset.StandardCharsets.UTF_8))
      finally out.close()
    }
  }

  private def compile(node: PNode, features: Int => Column): Column =
    node match {
      case PLeaf(p) => lit(p)
      case PContinuous(f, t, l, r) =>
        when(features(f) <= lit(t), compile(l, features))
          .otherwise(compile(r, features))
      case PCategorical(f, cats, l, r) =>
        when(features(f).isin(cats: _*), compile(l, features))
          .otherwise(compile(r, features))
    }

  /** Freeze a trained Spark ML GBT into the portable form. */
  def fromModel(model: GBTClassificationModel,
      featureNames: Seq[String]): Ensemble =
    Ensemble(featureNames, model.treeWeights.toSeq,
      model.trees.toSeq.map(t => fromNode(t.rootNode)))

  private def fromNode(node: Node): PNode = node match {
    case leaf: LeafNode => PLeaf(leaf.prediction)
    case in: InternalNode => in.split match {
      case cs: ContinuousSplit =>
        PContinuous(cs.featureIndex, cs.threshold,
          fromNode(in.leftChild), fromNode(in.rightChild))
      case cat: CategoricalSplit =>
        PCategorical(cat.featureIndex, cat.leftCategories.toSeq,
          fromNode(in.leftChild), fromNode(in.rightChild))
    }
  }

  private def nodeToJson(node: PNode): JValue = node match {
    case PLeaf(p) => JObject("prediction" -> JDouble(p))
    case PContinuous(f, t, l, r) => JObject(
      "feature" -> JInt(f), "threshold" -> JDouble(t),
      "left" -> nodeToJson(l), "right" -> nodeToJson(r))
    case PCategorical(f, cats, l, r) => JObject(
      "feature" -> JInt(f),
      "leftCategories" -> JArray(cats.map(JDouble(_)).toList),
      "left" -> nodeToJson(l), "right" -> nodeToJson(r))
  }

  def fromJson(json: String): Ensemble = {
    val root = JsonMethods.parse(json)
    require(str(root \ "format") == "graft-gbt-1",
      s"unknown portable-GBT format: ${root \ "format"}")
    Ensemble(
      arr(root \ "featureNames").map(str(_)),
      arr(root \ "treeWeights").map(dbl),
      arr(root \ "trees").map(nodeFromJson))
  }

  /** Hadoop-FS-capable counterpart of [[Ensemble.save]]. */
  def load(path: String): Ensemble = {
    val p = new org.apache.hadoop.fs.Path(path)
    val fs = p.getFileSystem(new org.apache.hadoop.conf.Configuration())
    val in = fs.open(p)
    try fromJson(new String(
      org.apache.hadoop.io.IOUtils.readFullyToByteArray(in),
      java.nio.charset.StandardCharsets.UTF_8))
    finally in.close()
  }

  private def nodeFromJson(v: JValue): PNode = v \ "prediction" match {
    case JNothing =>
      val f = dbl(v \ "feature").toInt
      val l = nodeFromJson(v \ "left")
      val r = nodeFromJson(v \ "right")
      v \ "leftCategories" match {
        case JNothing => PContinuous(f, dbl(v \ "threshold"), l, r)
        case cats => PCategorical(f, arr(cats).map(dbl), l, r)
      }
    case p => PLeaf(dbl(p))
  }

  private def str(v: JValue): String = v match {
    case JString(s) => s
    case other => throw new IllegalArgumentException(s"expected string: $other")
  }
  private def dbl(v: JValue): Double = v match {
    case JDouble(d) => d
    case JInt(i) => i.toDouble
    case JDecimal(d) => d.toDouble
    case JLong(l) => l.toDouble
    case other => throw new IllegalArgumentException(s"expected number: $other")
  }
  private def arr(v: JValue): List[JValue] = v match {
    case JArray(xs) => xs
    case other => throw new IllegalArgumentException(s"expected array: $other")
  }
}
