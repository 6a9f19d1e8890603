package graft.filters

import org.apache.spark.sql.functions._

import graft.SparkSpec
import graft.filters.ztf.EarlyTdeScorer

/** The closed-form stage-2 features must match an independent
  * weighted-least-squares replication (different algebra: centered
  * means, not raw normal-equation sums), the Wien color temperature
  * must round-trip an exactly-Wien synthetic SED, and the full
  * pipeline is regression-pinned on the reference's tde fixture.
  */
object EarlyTdeScorerSpec {
  case class Pt(jd: java.lang.Double, magpsf: java.lang.Double,
      sigmapsf: java.lang.Double, isdiffpos: String, fid: Integer)
  case class Alert(candidate: Pt, prv_candidates: Seq[Pt])
}

class EarlyTdeScorerSpec extends SparkSpec {

  import spark.implicits._
  import EarlyTdeScorerSpec.{Alert, Pt}

  private def mag(f: Double): Double = -2.5 * math.log10(f / 1e11)
  private def sigFor(m: Double, e: Double): Double =
    e / (9.21034e10 * math.exp(-0.921034 * m))

  /** Independent WLS via centered means: slope/level/χ² from
    * (x̄w, ȳw)-centered sums — deliberately NOT the normal-equation
    * sums the production code folds.
    */
  private def refFit(xs: Seq[Double], ys: Seq[Double], es: Seq[Double],
      x0: Double): (Double, Double, Double, Double, Double) = {
    val w = es.map(e => 1.0 / (e * e))
    val sw = w.sum
    val xb = xs.zip(w).map { case (x, wi) => (x - x0) * wi }.sum / sw
    val yb = ys.zip(w).map { case (y, wi) => y * wi }.sum / sw
    val sxx = xs.zip(w).map { case (x, wi) => wi * math.pow(x - x0 - xb, 2) }.sum
    val sxy = xs.indices.map(i => w(i) * (xs(i) - x0 - xb) * (ys(i) - yb)).sum
    val m = sxy / sxx
    val a = yb - m * xb
    val chi2 = xs.indices.map { i =>
      val r = ys(i) - a - m * (xs(i) - x0); w(i) * r * r
    }.sum
    val sm = math.sqrt(1.0 / sxx)
    val sa = math.sqrt(1.0 / sw + xb * xb / sxx)
    (a, sa, m, sm, chi2)
  }

  test("closed-form fit matches independent WLS on a synthetic rise") {
    val jdMax = 2459000.0
    // g rising 1000→1400, r rising 800→1040 over 4 days, 5% flux
    // errors — g/r ≈ 1.35 < the Wien hot limit (λr/λg)⁵ ≈ 3.8, so the
    // inversion lands at a physical positive temperature (~6.8 kK)
    val gF = Seq(1000.0, 1100, 1200, 1300, 1400)
    val rF = Seq(800.0, 860, 920, 980, 1040)
    val jds = Seq(-4.0, -3, -2, -1, 0).map(jdMax + _)
    def pt(jd: Double, f: Double, fid: Int): Pt = {
      val m = mag(f)
      Pt(jd, m, sigFor(m, 0.05 * f), "t", fid)
    }
    val pts = jds.zip(gF).map { case (j, f) => pt(j, f, 1) } ++
      jds.zip(rF).map { case (j, f) => pt(j, f, 2) }
    val df = Seq(Alert(pts.last, pts.dropRight(1))).toDF()
    val feat = EarlyTdeScorer.withFeatures(df)
      .select("tde_features.*").head()

    val (eg, er) = (gF.map(_ * 0.05), rF.map(_ * 0.05))
    val (ag2, sag2, mg2, smg2, c2g2) = refFit(jds, gF, eg, jdMax)
    val (ar, sar, mr, smr, c2r) = refFit(jds, rF, er, jdMax)
    assert(math.abs(feat.getAs[Double]("rate_g") - mg2) < 1e-6 * math.abs(mg2))
    assert(math.abs(feat.getAs[Double]("rate_r") - mr) < 1e-6 * math.abs(mr))
    val expSnr = math.min(math.abs(mg2 / smg2), math.abs(mr / smr))
    assert(math.abs(feat.getAs[Double]("snr_rise_time") - expSnr) < 1e-6 * expSnr)
    val expChi = (c2g2 + c2r) / 6.0
    assert(math.abs(feat.getAs[Double]("r_chisq") - expChi) < 1e-6 + 1e-6 * expChi)
    // temperature: independent Wien inversion from the fitted levels
    val ratio = ag2 / ar
    val expT = 1.43877688e8 * (1.0 / 4770.0 - 1.0 / 6231.0) /
      math.log(math.pow(6231.0 / 4770.0, 5) / ratio)
    assert(expT > 0)
    assert(math.abs(feat.getAs[Double]("temperature") - expT) <
      1e-6 * math.abs(expT))
  }

  test("Wien temperature round-trips an exactly-Wien SED") {
    // fluxes drawn from F_b ∝ λ_b^-5 exp(-hc/(λ_b k T)) at T = 20000 K
    val t = 20000.0
    def wienFlux(lam: Double, scale: Double): Double =
      scale * math.pow(lam, -5) * math.exp(-1.43877688e8 / (lam * t))
    val jdMax = 2459000.0
    val jds = Seq(-2.0, -1, 0).map(jdMax + _)
    val scale = 1e24
    def pt(jd: Double, f: Double, fid: Int): Pt = {
      val m = mag(f)
      Pt(jd, m, sigFor(m, 0.01 * f), "t", fid)
    }
    // constant-in-time per band (slope 0 — features still defined)
    val pts = jds.map(j => pt(j, wienFlux(4770.0, scale), 1)) ++
      jds.map(j => pt(j, wienFlux(6231.0, scale), 2))
    val df = Seq(Alert(pts.last, pts.dropRight(1))).toDF()
    val got = EarlyTdeScorer.withFeatures(df)
      .select("tde_features.temperature").head().getDouble(0)
    assert(math.abs(got - t) < 1e-3 * t)
  }

  test("quality cuts gate on fit significance") {
    val jdMax = 2459000.0
    // noisy flat curve: rates ~0 -> snr_rise_time below 1.5 -> rejected
    val jds = Seq(-4.0, -3, -2, -1, 0).map(jdMax + _)
    val flat = Seq(1000.0, 995, 1005, 998, 1002)
    def pt(jd: Double, f: Double, fid: Int): Pt = {
      val m = mag(f)
      Pt(jd, m, sigFor(m, 0.05 * f), "t", fid)
    }
    val pts = jds.zip(flat).map { case (j, f) => pt(j, f, 1) } ++
      jds.zip(flat).map { case (j, f) => pt(j, f, 2) }
    val df = Seq(Alert(pts.last, pts.dropRight(1))).toDF()
    val n = EarlyTdeScorer.withFeatures(df)
      .filter(EarlyTdeScorer.qualityCuts(col("tde_features"))).count()
    assert(n === 0L)
  }

  test("full pipeline on the tde fixture: survivors of prefilter, cuts, score") {
    val df = spark.read.parquet(graft.Fixtures("datatest/tde"))
    val pre = FilterRegistry.applyFilter(df, "ztf.early_tde_prefilter").count()
    val out = EarlyTdeScorer.earlyTdeCandidates(df)
    val n = out.count()
    assert(n <= pre)
    // regression pin of the deterministic default scorer (NOT a
    // reference-derived golden — the reference scores with unshippable
    // XGBoost binaries; this pins OUR closed-form pipeline's behavior):
    // all 4 prefilter survivors fit well (r_chisq < 1, rise SNR > 5,
    // T ≈ 5.5 kK) and clear the default threshold
    assert(n === 4L)
    assert(pre === 4L)
    out.select("objectId", "tde_score").collect().foreach { r =>
      val s = r.getDouble(1)
      assert(s >= 0.5 && s <= 1.0)
    }
  }

  test("registry resolves ztf.early_tde_candidates") {
    assert(FilterRegistry.all.contains("ztf.early_tde_candidates"))
  }

  test("trained GBT scorer separates the tde fixture from regular controls") {
    import graft.filters.ztf.TrainedTdeScorer
    val tde = spark.read.parquet(graft.Fixtures("datatest/tde"))
    val regular = SparkSpec.ztfRegular
    val scorer = TrainedTdeScorer.train(tde, regular)

    // the 4 stage-2 candidates all survive with the trained model...
    val out = EarlyTdeScorer.earlyTdeCandidates(tde, scorer)
    val tdeScores = out.select("tde_score").collect().map(_.getDouble(0))
    assert(tdeScores.length === 4, tdeScores.mkString(","))
    assert(tdeScores.forall(_ >= 0.5), tdeScores.mkString(","))

    // ...and every regular-fixture control with a defined two-band fit
    // scores strictly below every TDE candidate (full separation on
    // the labeled sample — what "discriminates" means here)
    // barrier before filtering/scoring: the compiled trees reference
    // feature fields many times — inlined folds would balloon the plan
    val controlScores = EarlyTdeScorer.featuresBarrier(
        EarlyTdeScorer.withFeatures(regular, deredden = true)
          .select("tde_features"))
      .filter(col("tde_features.n_g") >= 2 && col("tde_features.n_r") >= 2)
      .select(scorer.score(col("tde_features")).as("s"))
      .collect().map(_.getDouble(0))
    assert(controlScores.nonEmpty)
    assert(controlScores.max < tdeScores.min,
      s"control max ${controlScores.max} vs tde min ${tdeScores.min}")
  }

  test("compiled tree columns match the Spark ML pipeline's probability") {
    import org.apache.spark.ml.feature.VectorAssembler
    import org.apache.spark.ml.linalg.Vector
    import graft.filters.ztf.TrainedTdeScorer
    val tde = spark.read.parquet(graft.Fixtures("datatest/tde"))
    val regular = SparkSpec.ztfRegular
    val scorer = TrainedTdeScorer.train(tde, regular)

    // score the union of both fixtures' feature rows two ways: the
    // compiled Column algebra vs model.transform's probability vector
    val feats = EarlyTdeScorer.featuresBarrier(
        EarlyTdeScorer.withFeatures(regular.select(
          "candidate", "prv_candidates")
          .unionByName(tde.select("candidate", "prv_candidates")),
          deredden = true)
          .select("tde_features"))
      .filter(col("tde_features.n_g") >= 2 && col("tde_features.n_r") >= 2)
      .select(TrainedTdeScorer.featureNames.map(n =>
        coalesce(col(s"tde_features.$n").cast("double"), lit(0.0)).as(n)) :+
        col("tde_features"): _*)
    val assembled = new VectorAssembler()
      .setInputCols(TrainedTdeScorer.featureNames.toArray)
      .setOutputCol("features").transform(feats)
    val rows = scorer.model.transform(assembled)
      .withColumn("compiled", scorer.score(col("tde_features")))
      .select("probability", "compiled")
      .collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      val mlProb = r.getAs[Vector](0)(1) // P(class 1)
      assert(math.abs(mlProb - r.getDouble(1)) < 1e-6,
        s"ml=$mlProb compiled=${r.getDouble(1)}")
    }
  }

  test("portable JSON artifact round-trips the trained scorer exactly") {
    import graft.filters.ztf.TrainedTdeScorer
    val tde = spark.read.parquet(graft.Fixtures("datatest/tde"))
    val scorer = TrainedTdeScorer.train(tde, SparkSpec.ztfRegular)

    val path = java.nio.file.Files
      .createTempFile("tde-gbt", ".json").toString
    try {
      scorer.save(path)
      // the artifact is the open graft-gbt-1 format, not an ML pickle
      val json = java.nio.file.Files.readString(
        java.nio.file.Paths.get(path))
      assert(json.contains("\"format\":\"graft-gbt-1\""))
      assert(json.contains("\"featureNames\""))

      val loaded = TrainedTdeScorer.loadPortable(path)
      // score the fixture's feature rows with both scorers: the
      // loaded ensemble must reproduce the trained model's scores
      // (spec budget 1e-6; doubles round-trip JSON exactly, so the
      // truth is bit-identity)
      val rows = EarlyTdeScorer.featuresBarrier(
          EarlyTdeScorer.withFeatures(tde, deredden = true)
            .select("tde_features"))
        .filter(col("tde_features.n_g") >= 2 &&
          col("tde_features.n_r") >= 2)
        .select(scorer.score(col("tde_features")).as("trained"),
          loaded.score(col("tde_features")).as("portable"))
        .collect()
      assert(rows.nonEmpty)
      rows.foreach { r =>
        assert(math.abs(r.getDouble(0) - r.getDouble(1)) < 1e-6,
          s"trained=${r.getDouble(0)} portable=${r.getDouble(1)}")
      }
    } finally java.nio.file.Files.deleteIfExists(
      java.nio.file.Paths.get(path)): Unit
  }
}
