package graft.streaming

import java.nio.file.Files

import org.apache.spark.sql.functions._

import graft.SparkSpec
import graft.llmops.Multimodal
import graft.pipeline.AnomalyPipeline

/** End-to-end Structured Streaming run over the reference fixture (same
  * filters as batch — the reference contract is stateless per
  * micro-batch), plus the anomaly top-k pipeline and the multimodal
  * binary plumbing on real FITS cutouts.
  */
class StreamAndPipelineSpec extends SparkSpec {

  test("streaming filters match batch golden counts") {
    val batch = SparkSpec.ztfRegular
    val stream = StreamPipeline.readParquetStream(
      spark, graft.Fixtures("datatest/regular"), batch.schema)
    val notifier = new StreamPipeline.CountingNotifier
    val filters = Seq("ztf.quality_cuts", "ztf.livestream.sn_candidates",
      "ztf.livestream.kn_candidates")
    val ckpt = Files.createTempDirectory("graft-ckpt").toString
    val q = StreamPipeline.run(stream, filters, notifier,
      checkpointDir = Some(ckpt))
    q.awaitTermination(120000)
    assert(notifier.counts.get("ztf.quality_cuts") === 133L)
    assert(notifier.counts.get("ztf.livestream.sn_candidates") === 7L)
    assert(notifier.counts.get("ztf.livestream.kn_candidates") === 2L)
  }

  test("parquet topic fan-out: passing alerts land per topic directory") {
    val batch = SparkSpec.ztfRegular
    val stream = StreamPipeline.readParquetStream(
      spark, graft.Fixtures("datatest/regular"), batch.schema)
    val base = Files.createTempDirectory("graft-topics").toString
    val notifier = new StreamPipeline.ParquetTopicNotifier(
      base, selectColumns = Seq("objectId", "candid"))
    val ckpt = Files.createTempDirectory("graft-ckpt2").toString
    val q = StreamPipeline.run(stream,
      Seq("ztf.quality_cuts", "ztf.livestream.sn_candidates"),
      notifier, checkpointDir = Some(ckpt))
    q.awaitTermination(120000)
    val qc = spark.read.parquet(s"$base/topic=ztf-quality_cuts")
    val sn = spark.read.parquet(s"$base/topic=ztf-livestream-sn_candidates")
    assert(qc.count() === 133L)
    assert(sn.count() === 7L)
    assert(qc.columns.toSeq === Seq("objectId", "candid"))
    org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(base))
  }

  test("catalog run: 17 livestream filters in ONE query, per-topic == batch") {
    // the broker's actual deployment shape (one StreamingQuery fans the
    // whole catalog out to per-science-topic sinks): each micro-batch
    // is scanned once (persist) and every filter's survivors append to
    // topic=<filter>. Counts must equal the batch goldens exactly.
    val goldens = Map(
      "ztf.quality_cuts" -> 133L,
      "ztf.livestream.sn_candidates" -> 7L,
      "ztf.livestream.early_sn_candidates" -> 2L,
      "ztf.livestream.kn_candidates" -> 2L,
      "ztf.livestream.sso_ztf_candidates" -> 1L,
      "ztf.livestream.sso_fink_candidates" -> 2L,
      "ztf.livestream.microlensing_candidates" -> 0L,
      "ztf.livestream.blazar" -> 2L,
      "ztf.livestream.simbad_grav_candidates" -> 1L,
      "ztf.livestream.tns_match" -> 0L,
      "ztf.livestream.vra" -> 2L,
      "ztf.livestream.yso_candidates" -> 3L,
      "ztf.livestream.yso_spicy_candidates" -> 0L,
      "ztf.livestream.magnetic_cvs" -> 1L,
      "ztf.livestream.early_kn_candidates" -> 0L,
      "ztf.livestream.rate_based_kn_candidates" -> 0L,
      // real KS image stage ON (registered default since r14): 1 of
      // the 2 cheap-cut survivors passes the stamp bounds
      "ztf.livestream.new_hostless" -> 1L)
    val batch = SparkSpec.ztfRegular
    val stream = StreamPipeline.readParquetStream(
      spark, graft.Fixtures("datatest/regular"), batch.schema)
    val base = Files.createTempDirectory("graft-catalog").toString
    val notifier = new StreamPipeline.ParquetTopicNotifier(
      base, selectColumns = Seq("objectId", "candid"))
    val ckpt = Files.createTempDirectory("graft-ckpt3").toString
    val q = StreamPipeline.run(stream, goldens.keys.toSeq.sorted, notifier,
      checkpointDir = Some(ckpt))
    q.awaitTermination(240000)
    goldens.foreach { case (name, expected) =>
      val dir = new java.io.File(s"$base/topic=${name.replace('.', '-')}")
      if (expected == 0L)
        // zero survivors: dir absent, or only empty part files
        assert(!dir.exists() ||
          spark.read.parquet(dir.toString).count() === 0L, name)
      else
        assert(spark.read.parquet(dir.toString).count() === expected, name)
    }
    org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(base))
  }

  test("anomaly pipeline: distributed top-k with per-object dedup") {
    val df = spark.read.option("mergeSchema", "true")
      .parquet(graft.Fixtures("datatest/regular"))
    val (top, median) = AnomalyPipeline.select(df, threshold = 5)
    val rows = top.select("objectId", "anomaly_score").collect()
    // the fixture has 9 scored alerts over exactly 4 distinct objects
    assert(rows.length === 4)
    assert(rows.map(_.getString(0)).distinct.length === 4)
    val scores = rows.map(_.getDouble(1))
    assert(scores.sameElements(scores.sorted))
    assert(!median.isNaN)
    assert(scores.head <= median)
  }

  test("imageDHashIncrement: landed index wins, then min-id within batch") {
    val d = spark.read
      .parquet("/root/testdata/sf0.001/documents.parquet")
      .select(col("doc_id"),
        Multimodal.tokenRaster(col("text")).as("px"))
      .filter(size(col("px")) === 18 * 16)
    val landed = d.filter(col("doc_id") < 30)
    val landedIndex = landed.select(col("doc_id").as("img_id"),
      graft.expressions.ImageDHash.dhash(col("px"), lit(18), lit(16))
        .as("dhash"))
    val fresh = d.filter(col("doc_id").between(30, 39))
      .select((col("doc_id") + 1000L).as("doc_id"), col("px"))
    val replicaOfLanded = landed.filter(col("doc_id") < 5)
      .select((col("doc_id") + 2000L).as("doc_id"), col("px"))
    val inBatchDup = fresh.limit(3)
      .select((col("doc_id") + 3000L).as("doc_id"), col("px"))
    val batch = fresh.unionByName(replicaOfLanded).unionByName(inBatchDup)
    val kept = Multimodal.imageDHashIncrement(batch, landedIndex,
      "doc_id", "px", 18, 16, maxHamming = 2)
      .select("doc_id").collect().map(_.getLong(0)).sorted
    // exact raster replicas are Hamming-0 in every band — certain drop;
    // distinct corpus docs sit far apart at maxHamming=2, so exactly
    // the 10 fresh originals land
    assert(kept.toSeq === (1030L to 1039L), s"kept ${kept.toSeq}")
  }

  test("withFitsDHash: real ZTF cutouts hash deterministically, replicas collide") {
    val df = SparkSpec.ztfRegular
      .select(col("candid"), col("cutoutScience.stampData").as("payload"))
    val hashed = Multimodal.withFitsDHash(df, "payload")
      .select("candid", "dhash").collect()
      .map(r => r.getLong(0) -> (if (r.isNullAt(1)) None else Some(r.getLong(1))))
    assert(hashed.length === 133)
    // every fixture stamp decodes (real gzipped FITS payloads)
    assert(hashed.forall(_._2.isDefined))
    // content hash is non-degenerate across distinct fields
    assert(hashed.flatMap(_._2).distinct.length > 10)
    // deterministic: a second pass produces identical hashes
    val again = Multimodal.withFitsDHash(df, "payload")
      .select("candid", "dhash").collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(hashed.forall { case (id, h) => again(id) == h.get })
    // an exact payload replica hashes identically (the dedup contract):
    // re-id 10 stamps and require each to collide with its original
    val replicas = df.filter(col("candid") % 7 === 0).limit(10)
      .select((col("candid") + 1L).as("candid"), col("payload"))
    val both = Multimodal.withFitsDHash(df.unionByName(replicas), "payload")
      .select("candid", "dhash").collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    replicas.select("candid").collect().map(_.getLong(0)).foreach { rid =>
      assert(both(rid) === both(rid - 1L), s"replica $rid diverged")
    }
  }

  test("anomaly history counter: nightly top-N partials + 90-day window") {
    import spark.implicits._
    // 3 nights: obj A tops every night, B tops two, C only on the
    // stale night outside the 90-day window ending at the newest night
    val rows = Seq(
      // (night, objectId, score, candid) — lower score = more anomalous
      ("2024-06-01", "A", -9.0, 1L), ("2024-06-01", "B", -8.0, 2L),
      ("2024-06-01", "A", -1.0, 3L), // dedup: A keeps -9
      ("2024-06-02", "A", -7.0, 4L), ("2024-06-02", "B", -6.0, 5L),
      ("2023-01-01", "C", -9.9, 6L), ("2023-01-01", "A", -0.5, 7L))
      .toDF("night_s", "objectId", "anomaly_score", "candid")
      .withColumn("night", to_date(col("night_s")))
    val nightly = AnomalyPipeline.nightlyTopAnomalies(rows, n = 2)
    // per-night ≤ n rows, best-row dedup kept A at -9 on night 1
    assert(nightly.count() === 6)
    assert(nightly.filter(col("night") === "2024-06-01" &&
      col("object_id") === "A").head().getDouble(2) === -9.0)
    val counter = AnomalyPipeline.anomalyHistoryCounter(nightly, 90)
      .collect().map(r => r.getString(0) -> r.getLong(1))
    // C's only hit is 2023-01-01, outside the window ending 2024-06-02
    assert(counter.toSeq === Seq("A" -> 2L, "B" -> 2L))
  }

  test("multimodal: FITS magic + byte features on real cutouts") {
    val df = SparkSpec.ztfRegular
      .select(col("candid"),
        col("cutoutScience.stampData").as("payload"))
    val metas = df.select(Multimodal.metaStruct(col("payload")).as("m"))
      .select("m.n_bytes", "m.format", "m.content_id").collect()
    assert(metas.length === 133)
    // ZTF stamps are gzipped FITS blobs
    assert(metas.forall(r => r.getLong(0) > 0))
    val formats = metas.map(_.getString(1)).distinct
    assert(formats.forall(Set("fits", "gzip").contains), formats.toSeq)

    val feats = Multimodal.withByteFeatures(df, "payload")
      .select("byte_features.n_bytes", "byte_features.entropy",
        "byte_features.histogram")
      .collect()
    assert(feats.length === 133)
    assert(feats.forall(r => r.getDouble(1) > 0 && r.getDouble(1) <= 4.0001))
    assert(feats.forall(r => math.abs(
      r.getSeq[Double](2).sum - 1.0) < 1e-9))

    val chunks = df.select(
      Multimodal.sampleChunks(col("payload"), 4, 64).as("c"))
      .select(size(col("c")).as("n")).collect()
    assert(chunks.forall(_.getInt(0) === 4))

    val dec = df.select(Multimodal.decodeImageStub(col("payload")).as("d"))
      .select("d.width", "d.height", "d.features").collect()
    assert(dec.forall(r => r.getInt(0) >= 32 && r.getInt(1) >= 32 &&
      r.getSeq[Double](2).length === 8))

    // resize: aspect-preserving fit into a 256 box, never upscaling
    val rs = df
      .select(Multimodal.decodeImageStub(col("payload")).as("d"))
      .select(col("d"), Multimodal.resizeFit(col("d"), 256).as("r"))
      .select("d.width", "d.height", "r.width", "r.height", "r.scale")
      .collect()
    rs.foreach { r =>
      val (w0, h0, w1, h1, s) = (r.getInt(0), r.getInt(1),
        r.getInt(2), r.getInt(3), r.getDouble(4))
      assert(w1 <= 256 && h1 <= 256, s"($w0,$h0) -> ($w1,$h1)")
      assert(s <= 1.0) // fit never upscales
      if (w0 <= 256 && h0 <= 256) assert(w1 === w0 && h1 === h0)
      // aspect ratio preserved up to the integer rounding of each side
      assert(math.abs(w1 - w0 * s) <= 0.5 + 1e-9)
      assert(math.abs(h1 - h0 * s) <= 0.5 + 1e-9)
    }
  }
}
