package graft.tools

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Materializes a 10× copy of an sf directory by unioning ten
  * key-shifted replicas (foreign keys shifted CONSISTENTLY, so join
  * cardinalities scale like real data: each copy is a disjoint
  * sub-universe sharing only the nation/region dimensions). Output is
  * a plain sf directory, so `graft.Bench` and `graft.Verify` run
  * against it unmodified:
  *
  *   sbt 'Test/runMain graft.tools.Scale10 /root/testdata/sf0.1 /tmp/sf1'
  *   SPARK_GRAFT_SF_DIR=/tmp/sf1 sbt 'runMain graft.Bench'
  */
object Scale10 {
  def main(args: Array[String]): Unit = {
    val (in, out) =
      (args.headOption.getOrElse("/root/testdata/sf0.1"),
        args.lift(1).getOrElse("/tmp/sf1"))
    val spark = graft.Sessions.get()

    val K = 10
    val Off = 100000000L // clear of every sf0.1 key range

    def rep(t: String)(shift: (DataFrame, Long) => DataFrame): Unit = {
      val base = spark.read.parquet(s"$in/$t.parquet")
      val scaled = (0 until K).map(k => shift(base, k * Off))
        .reduce(_ unionByName _)
      scaled.write.mode("overwrite").parquet(s"$out/$t.parquet")
      println(s"$t: ${base.count()} -> ${scaled.count()}")
    }

    // shared dimensions: copied once, unshifted
    for (t <- Seq("region", "nation")) {
      spark.read.parquet(s"$in/$t.parquet")
        .write.mode("overwrite").parquet(s"$out/$t.parquet")
      println(s"$t: copied")
    }
    rep("customer")((df, o) =>
      df.withColumn("c_custkey", col("c_custkey") + o))
    rep("supplier")((df, o) =>
      df.withColumn("s_suppkey", col("s_suppkey") + o))
    rep("part")((df, o) =>
      df.withColumn("p_partkey", col("p_partkey") + o))
    rep("orders")((df, o) =>
      df.withColumn("o_orderkey", col("o_orderkey") + o)
        .withColumn("o_custkey", col("o_custkey") + o))
    rep("lineitem")((df, o) =>
      df.withColumn("l_orderkey", col("l_orderkey") + o)
        .withColumn("l_partkey", col("l_partkey") + o)
        .withColumn("l_suppkey", col("l_suppkey") + o))
    rep("events") { (df, o) =>
      val shifted = df.withColumn("event_id", col("event_id") + o)
        .withColumn("user_id", col("user_id") + o)
      // the driver file carries TIMESTAMP(NANOS), which this session
      // reads as long (nanosAsLong); write a real TIMESTAMP back so
      // non-Spark readers (the DuckDB oracle) keep date semantics.
      // Type-guarded like CoreQueries.events, so re-running Scale10 on
      // its own output (10x -> 100x chaining) stays idempotent.
      df.schema("ts").dataType match {
        case org.apache.spark.sql.types.LongType =>
          shifted.withColumn("ts", expr("timestamp_micros(ts div 1000)"))
        case _ => shifted
      }
    }
    rep("documents")((df, o) =>
      df.withColumn("doc_id", col("doc_id") + o))
    rep("embeddings")((df, o) =>
      df.withColumn("vec_id", col("vec_id") + o))
    spark.stop()
  }
}
