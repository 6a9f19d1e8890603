package perfbench

import java.nio.file.{Files, Path}

import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.streaming.Trigger
import org.scalatest.funsuite.AnyFunSuite

import graft.streaming.StreamPipeline

class BenchmarkSpec extends AnyFunSuite {

  test("the same seed gives identical inputs and expected counts") {
    val a = Alerts.generate(7, 600, 1L, 32)
    val b = Alerts.generate(7, 600, 1L, 32)
    assert(a.map(_.toString) == b.map(_.toString))
    assert(Expect.liveCounts(a) == Expect.liveCounts(b))
    val sa = Stamps.scenes(7, 8)
    val sb = Stamps.scenes(7, 8)
    assert(sa.map(_.science.toSeq) == sb.map(_.science.toSeq))
    assert(sa.map(s => (s.ksScience, s.ksTemplate)) == sb.map(s => (s.ksScience, s.ksTemplate)))
    assert(Catalogs.generate(7, a) == Catalogs.generate(7, b))
    assert(Catalogs.mangrove(7, a, 50) == Catalogs.mangrove(7, b, 50))
  }

  test("a different seed gives different inputs") {
    val a = Alerts.generate(7, 600, 1L, 32)
    val b = Alerts.generate(8, 600, 1L, 32)
    assert(a.map(_.c) != b.map(_.c))
    assert(Stamps.scenes(7, 8).map(_.science.toSeq) != Stamps.scenes(8, 8).map(_.science.toSeq))
  }

  test("generated values stay in physical ZTF ranges and cross thresholds") {
    val as = Alerts.generate(11, 3000, 1L, 32)
    assert(as.forall(a => a.c.magpsf >= 13.5f && a.c.magpsf <= 21.7f))
    assert(as.forall(a => a.c.sigmapsf >= 0.01f && a.c.sigmapsf <= 0.36f))
    assert(as.flatMap(_.prv).flatMap(_.sigmapsf).forall(s => s >= 0.01f && s <= 0.36f))
    assert(as.forall(a => a.c.dec >= -30 && a.c.dec <= 90))
    // exactly-on-threshold alerts exist, and each live filter both passes and rejects
    assert(as.exists(_.c.drb == 0.5f) && as.exists(_.c.rb == 0.55f))
    val counts = Expect.liveCounts(as)
    Seq("ztf.quality_cuts", "ztf.livestream.sn_candidates", "ztf.livestream.vra",
      "ztf.simbad_candidates", "ztf.livestream.new_hostless_fast",
      "ztf.livestream.unknowns").foreach { f =>
      assert(counts(f) > 0 && counts(f) < as.size, f)
    }
  }

  test("hostless and hosted stamps fall on both sides of the image-stage bounds") {
    val s = Stamps.scenes(3, 64)
    assert(s.exists(Expect.imageHostless) && s.exists(x => !Expect.imageHostless(x)))
    assert(s.filter(_.hosted).count(Expect.imageHostless) < s.count(Expect.imageHostless))
  }

  test("sexagesimal catalog coordinates read back within 0.02 arcsec") {
    val rng = new Alerts.Rng(5)
    (1 to 500).foreach { _ =>
      val ra = rng.u(0, 360); val dec = rng.u(-89, 89)
      assert(math.abs(Catalogs.parseHms(Catalogs.hms(ra)) - ra) * 3600 < 0.02)
      assert(math.abs(Catalogs.parseDms(Catalogs.dms(dec)) - dec) * 3600 < 0.02)
    }
  }

  private val mapper = new ObjectMapper()

  private def specs(node: JsonNode): Seq[(String, String)] =
    node.elements().asScala.map(e => e.get("name").asText -> e.get("unit").asText).toSeq

  test("BENCHMARK.json declares exactly the metrics the benchmark emits") {
    val bench = mapper.readTree(Path.of("..", "BENCHMARK.json").toFile)
    assert(specs(bench.get("end_to_end")) == Metrics.endToEnd)
    assert(specs(bench.get("per_layer")) == Metrics.perLayer)
  }

  /** Runs one benchmark run in this JVM; returns its parsed result line. */
  private def runMain(workload: String, trace: Int): JsonNode = {
    val work = Files.createTempDirectory(Path.of("target"), s"test-$workload")
    val out = new java.io.ByteArrayOutputStream()
    Console.withOut(out) {
      Main.main(Array("--workload", workload, "--seed", "5", "--seconds", "0",
        "--trace", trace.toString, "--work", work.toString))
    }
    mapper.readTree(out.toString("UTF-8").trim.linesIterator.toSeq.last)
  }

  private def emitted(result: JsonNode): Seq[(String, String)] =
    result.get("metrics").fields().asScala.map { e =>
      assert(e.getValue.get("value").isNumber, e.getKey)
      e.getKey -> e.getValue.get("unit").asText
    }.toSeq

  test("a traced live_fanout run is correct and emits every per-layer metric with its unit") {
    val r = runMain("live_fanout", trace = 1)
    assert(r.get("correct").asBoolean && r.get("failed").asInt == 0, r)
    assert(emitted(r) == Metrics.perLayer)
  }

  test("a throwing notify call is recorded by name and the stream goes on") {
    val work = Files.createTempDirectory(Path.of("target"), "test-notify")
    val spark = Main.session(work)
    try {
      val scenes = Stamps.scenes(1, 4)
      val dir = work.resolve("in")
      AlertFrames.write(spark, work.resolve("staging"),
        Seq(dir -> Alerts.generate(1, 40, 1L, 4), dir -> Alerts.generate(2, 40, 100L, 4)),
        scenes)
      val inner = new StreamPipeline.Notifier {
        def notify(filterName: String, batchId: Long, passing: DataFrame): Unit =
          if (filterName == "ztf.rrlyr") throw new ArithmeticException("boom")
          else passing.count()
      }
      val rec = new RecordingNotifier(inner, new Tracer("test", enabled = false), 0L)
      StreamPipeline.run(
        StreamPipeline.readParquetStream(spark, dir.toString, AlertFrames.schema),
        Seq("ztf.rrlyr", "ztf.quality_cuts"), rec, Trigger.AvailableNow(),
        Some(work.resolve("checkpoint").toString)).awaitTermination()
      val calls = rec.calls.asScala.toSeq
      assert(calls.size == 4)
      assert(calls.filter(_.error.isDefined).map(_.filter).toSet == Set("ztf.rrlyr"))
      assert(calls.flatMap(_.error).forall(_.isInstanceOf[ArithmeticException]))
    } finally spark.stop()
  }

  test("an untraced night_science run is correct and emits every end-to-end metric") {
    val r = runMain("night_science", trace = 0)
    assert(r.get("correct").asBoolean && r.get("failed").asInt == 0, r)
    assert(emitted(r) == Metrics.endToEnd)
  }
}
