package graft.streaming

import java.io.File
import java.nio.file.Files

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{DataStreamWriter, Trigger}

import graft.SparkSpec
import graft.llmops.Retrieval

/** The per-batch file state of the `StreamOps` sinks under a real
  * replay: a parquet FILE source is drained in two micro-batches with a
  * checkpoint, the commit of batch 1 is deleted, and the query restarts
  * on the same checkpoint, so batch 1 runs a second time — what a crash
  * between a batch's writes and its commit does. The state must then
  * read as if every batch had run once.
  */
class StreamReplaySpec extends SparkSpec {

  private val dir = "/root/testdata/sf0.001"

  /** Writes `df` as two parquet files under a fresh dir: rows below
    * `split` (by `key`), then the rest. */
  private def twoFiles(df: DataFrame, key: String, split: Long): String = {
    val in = Files.createTempDirectory("graft-replay-in").resolve("in")
    for (part <- Seq(col(key) < split, col(key) >= split))
      df.filter(part).coalesce(1).write.mode("append").parquet(in.toString)
    in.toString
  }

  /** Drains the files under `in` one per micro-batch through `sink`,
    * runs `drained`, deletes the commit of batch 1, and drains again on
    * the same checkpoint — which replays batch 1. */
  private def drainAndReplay(in: String, drained: () => Unit = () => ())(
      sink: DataFrame => DataStreamWriter[Row]): Unit = {
    val ckpt = Files.createTempDirectory("graft-replay-ckpt").toString
    def drain(): Seq[Long] = {
      val q = sink(spark.readStream.schema(spark.read.parquet(in).schema)
          .option("maxFilesPerTrigger", 1).parquet(in))
        .option("checkpointLocation", ckpt)
        .trigger(Trigger.AvailableNow()).start()
      q.awaitTermination()
      assert(q.exception.isEmpty, q.exception)
      q.recentProgress.filter(_.numInputRows > 0).map(_.batchId).toSeq
    }
    assert(drain() === Seq(0L, 1L))
    drained()
    val commit1 = new File(s"$ckpt/commits/1")
    assert(commit1.delete())
    new File(s"$ckpt/commits/.1.crc").delete()
    assert(drain() === Seq(1L))
    assert(commit1.isFile)
  }

  private def rows(df: DataFrame): Seq[String] =
    df.collect().map(_.toString).sorted.toSeq

  for (index <- Seq(Retrieval.DocIndex.Postings,
      Retrieval.DocIndex.Positional, Retrieval.DocIndex.Gram(2),
      Retrieval.DocIndex.Fielded(6)))
    test(s"indexSink(${index.dir}): a replayed batch leaves the index " +
      "equal to a fresh full build") {
      val docs = spark.read.parquet(s"$dir/documents.parquet")
        .select("doc_id", "text")
      val state = Files.createTempDirectory("graft-replay-state").toString
      drainAndReplay(twoFiles(docs, "doc_id", 200L))(
        StreamOps.indexSink(_, state, index))
      val grown = rows(StreamOps.readIndex(spark, state, index))
      val full = rows(index.build(
          docs.select(col("doc_id").as("did"), col("text")))
        .select(index.columns.map(col): _*))
      assert(grown.nonEmpty)
      assert(grown === full)
    }

  test("rollupMaintenanceSink: a replayed batch leaves readRollup unchanged") {
    val events = spark.read.parquet(s"$dir/events.parquet")
      .select("event_id", "ts", "event_type", "value")
    val partials =
      Files.createTempDirectory("graft-replay-rollup").resolve("partials")
        .toString
    var before = Seq.empty[String]
    drainAndReplay(twoFiles(events, "event_id", 500L),
        () => before = rows(StreamOps.readRollup(spark, partials)))(
      StreamOps.rollupMaintenanceSink(_, partials))
    assert(before.nonEmpty)
    assert(rows(StreamOps.readRollup(spark, partials)) === before)
  }
}
