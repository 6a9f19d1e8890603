package graft.filters

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.catalyst.expressions.HigherOrderFunction
import org.apache.spark.sql.catalyst.plans.logical.Filter
import org.apache.spark.sql.execution.LogicalRDD
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.SparkSpec
import graft.filters.ztf.{EarlyTdeScorer, ZtfPhotometryFilters}

/** The early-TDE pipeline's optimizer barrier over hand-built rising
  * histories of the ZTF layout; no fixture is read.
  *
  * The barrier is a `LogicalRDD` leaf over the fit stage's internal
  * rows. It replaced a round-trip through external `Row`s,
  * `createDataFrame(featured.rdd, featured.schema)`, which is restated
  * here: both must give the same candidates, features and scores, and
  * the quality cuts must still read the features through an opaque leaf
  * rather than the inlined fit folds. A zero σ in one band leaves that
  * band without a fit and the query running.
  */
class EarlyTdeBarrierSpec extends SparkSpec {
  import EarlyTdeBarrierSpec._

  private lazy val night: DataFrame = frame(spark, nightRows)

  /** The prefilter survivors with their features, before the barrier. */
  private def featured: DataFrame = featuresOf(night)

  private def featuresOf(df: DataFrame): DataFrame = EarlyTdeScorer.withFeatures(
    df.filter(ZtfPhotometryFilters.earlyTdePrefilter.mask(df)), deredden = true)

  /** The former barrier: a round-trip through external `Row`s. */
  private def rowRoundTrip(df: DataFrame): DataFrame =
    spark.createDataFrame(df.rdd, df.schema)

  /** The former pipeline: `earlyTdeCandidates` with the round-trip. */
  private def candidatesWithRoundTrip: DataFrame =
    rowRoundTrip(featured)
      .filter(EarlyTdeScorer.qualityCuts(col("tde_features")))
      .withColumn("tde_score",
        EarlyTdeScorer.LogisticTdeScorer.score(col("tde_features")))
      .filter(col("tde_score") >= 0.5)

  private def sorted(df: DataFrame, cols: String*): Seq[Row] =
    df.select(cols.map(col): _*).collect().toSeq.sortBy(_.getLong(0))

  test("the barrier gives the round-trip's candidates, features and scores") {
    val survivors = sorted(EarlyTdeScorer.featuresBarrier(featured), "candid", "tde_features")
    assert(survivors === sorted(rowRoundTrip(featured), "candid", "tde_features"))
    val cols = Seq("candid", "tde_features", "tde_score")
    val got = sorted(EarlyTdeScorer.earlyTdeCandidates(night), cols: _*)
    assert(got === sorted(candidatesWithRoundTrip, cols: _*))
    // the inputs reach every stage: some survivors fail the cuts or the
    // score, some pass both
    assert(got.nonEmpty && got.size < survivors.size,
      s"${got.size} candidates of ${survivors.size} survivors")
  }

  test("the quality cuts read the features through a LogicalRDD leaf") {
    val plan = EarlyTdeScorer.earlyTdeCandidates(night).queryExecution.optimizedPlan
    val cuts = plan.collect {
      case f: Filter if f.condition.references.exists(_.name == "tde_features") => f
    }
    assert(cuts.nonEmpty, plan.treeString)
    cuts.foreach { f =>
      assert(f.child.collectLeaves().forall(_.isInstanceOf[LogicalRDD]), plan.treeString)
      assert(!f.condition.exists(_.isInstanceOf[HigherOrderFunction]), plan.treeString)
    }
  }

  test("a zero σ on one detection leaves its band without a fit") {
    // a steady rise in both bands whose first g point has sigmapsf = 0:
    // the prefilter keeps it (its rise test reads hypot(0, e_last)), and
    // the g fit's weight 1/e² would divide by zero
    val planted = alertRow(1000L, rate = 0.3, color = -0.5, r0 = 19.5,
      sigma = k => if (k == 0) 0.0 else 0.05, noise = _ => 0.0,
      ra = 180.5, dec = 30.5)
    val withZero = night.unionByName(frame(spark, Seq(planted)))
    val feat = featuresOf(withZero).filter(col("candid") === 1000L)
      .select("tde_features.n_g", "tde_features.rate_g", "tde_features.rate_r")
      .collect().toSeq
    assert(feat.size === 1, "the planted alert passes the prefilter")
    assert(feat.head.getInt(0) === 4 && feat.head.isNullAt(1) &&
      !feat.head.isNullAt(2), feat.head.toString)
    val cols = Seq("candid", "tde_features", "tde_score")
    assert(sorted(EarlyTdeScorer.earlyTdeCandidates(withZero), cols: _*) ===
      sorted(EarlyTdeScorer.earlyTdeCandidates(night), cols: _*))
  }
}

object EarlyTdeBarrierSpec {

  private def f(n: String, t: DataType) = StructField(n, t, nullable = true)

  private val point = Seq(f("jd", DoubleType), f("fid", IntegerType),
    f("magpsf", FloatType), f("sigmapsf", FloatType), f("isdiffpos", StringType))

  private val schema = StructType(Seq(
    f("candid", LongType),
    f("candidate", StructType(point ++ Seq(f("ra", DoubleType), f("dec", DoubleType)))),
    f("prv_candidates", ArrayType(StructType(point))),
    f("cdsxmatch", StringType), f("roid", IntegerType), f("nalerthist", IntegerType)))

  /** An alert at (ra, dec) with eight nightly points, g and r in turn:
    * magnitude r0 − rate·k (+ color in g) + noise(k), error sigma(k).
    */
  def alertRow(id: Long, rate: Double, color: Double, r0: Double,
      sigma: Int => Double, noise: Int => Double, ra: Double, dec: Double): Row = {
    val pts = (0 until 8).map { k =>
      val fid = 1 + k % 2
      val mag = r0 - rate * k + (if (fid == 1) color else 0.0) + noise(k)
      Row(2460000.5 + k, fid, mag.toFloat, sigma(k).toFloat, "t")
    }
    Row(id, Row.fromSeq(pts.last.toSeq ++ Seq(ra, dec)), pts.init, "Unknown",
      0, pts.size)
  }

  /** Alerts off the galactic plane with two-band histories over eight
    * nights: most rise in both bands at seeded rates with a g − r colour
    * between −0.9 and +0.3 mag and seeded scatter, so the quality cuts
    * and the score keep some and drop others; every fifth fades.
    */
  def nightRows: Seq[Row] = {
    val rng = new scala.util.Random(20261019L)
    (0 until 160).map { i =>
      val rate = (if (i % 5 == 4) -1 else 1) * (0.05 + 0.3 * rng.nextDouble())
      val color = -0.9 + 1.2 * rng.nextDouble()
      val sigma = 0.02 + 0.15 * rng.nextDouble()
      val r0 = 19.5 + rng.nextDouble()
      val gauss = Seq.fill(8)(rng.nextGaussian())
      alertRow(i.toLong, rate, color, r0, _ => sigma, k => sigma * gauss(k),
        ra = 180.0 + rng.nextDouble(), dec = 30.0 + rng.nextDouble())
    }
  }

  def frame(spark: SparkSession, rows: Seq[Row]): DataFrame =
    spark.createDataFrame(spark.sparkContext.parallelize(rows, 4), schema)
}
