package graft.filters

import org.apache.spark.ml.feature.VectorAssembler
import org.apache.spark.ml.linalg.Vector
import org.apache.spark.sql.functions._

import graft.SparkSpec
import graft.filters.ztf.{EarlyTdeScorer, TrainedTdeScorer}

/** The trained GBT scorer on `EarlyTdeBarrierSpec`'s seeded night, rising
  * alerts against fading ones; no fixture is read. Its compiled Column
  * algebra must give Spark ML's own probability, and its saved portable
  * artifact must score the same, bit for bit.
  */
class TrainedTdeScorerSpec extends SparkSpec {

  test("compiled scores equal model.transform and the reloaded artifact") {
    val rows = EarlyTdeBarrierSpec.nightRows
    // every fifth alert of the night fades
    val (fading, rising) = rows.partition(_.getLong(0) % 5 == 4)
    val scorer = TrainedTdeScorer.train(
      EarlyTdeBarrierSpec.frame(spark, rising),
      EarlyTdeBarrierSpec.frame(spark, fading))
    val path = java.nio.file.Files.createTempFile("tde-gbt", ".json")
    try {
      scorer.save(path.toString)
      val loaded = TrainedTdeScorer.loadPortable(path.toString)
      val feats = EarlyTdeScorer.featuresBarrier(EarlyTdeScorer.withFeatures(
          EarlyTdeBarrierSpec.frame(spark, rows), deredden = true)
          .select("tde_features"))
        .select(TrainedTdeScorer.featureNames.map(n =>
          coalesce(col(s"tde_features.$n").cast("double"), lit(0.0)).as(n)) :+
          col("tde_features"): _*)
      val assembled = new VectorAssembler()
        .setInputCols(TrainedTdeScorer.featureNames.toArray)
        .setOutputCol("features").transform(feats)
      val got = scorer.model.transform(assembled)
        .select(col("probability"),
          scorer.score(col("tde_features")).as("compiled"),
          loaded.score(col("tde_features")).as("portable"))
        .collect()
      assert(got.length === rows.size)
      got.foreach { r =>
        val (ml, compiled, portable) =
          (r.getAs[Vector](0)(1), r.getDouble(1), r.getDouble(2))
        assert(math.abs(ml - compiled) < 1e-6, s"ml=$ml compiled=$compiled")
        assert(java.lang.Double.doubleToLongBits(compiled) ===
          java.lang.Double.doubleToLongBits(portable))
      }
      // the scores reach both sides of the 0.5 threshold
      val scores = got.map(_.getDouble(1))
      assert(scores.exists(_ >= 0.5) && scores.exists(_ < 0.5))
    } finally java.nio.file.Files.deleteIfExists(path): Unit
  }
}
