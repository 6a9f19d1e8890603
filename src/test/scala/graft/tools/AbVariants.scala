package graft.tools

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.llmops.Retrieval

/** DEV-ONLY single-JVM interleaved A/B harness: ambient host noise
  * swamps any sub-second cross-JVM bench delta (measured
  * calibration_par spreads of 1.2-1.5 between back-to-back sbt runs),
  * so variants are compared INSIDE one session — both plans built over
  * the same warm caches, timed alternately A,B,A,B,... and reported as
  * min/median over rounds. Each OLD body is copied verbatim from the
  * commit named at it, so the comparison is code-exact. Only pairs
  * whose old side still differs from shipped code are kept; the
  * rejected r15 treatments (q108/q111/q114/q123/q128/q130/q135, whose
  * old side IS the shipped code) are recorded in OPTIMIZATION_r15.md.
  *
  * Run: sbt 'Test/runMain graft.tools.AbVariants q134 12'
  */
object AbVariants {

  // ---- old (dcefe81) minMaxFuse: grouped extrema + broadcast join ----
  private def minMaxFuseOld(channels: Seq[(String, DataFrame, Long)],
      topK: Int): DataFrame = {
    def microDiv(num: Column, den: Column): Column =
      ((num - pmod(num, den)) / den).cast("long")
    val marked = channels.zipWithIndex.map { case ((_, ch, wgt), i) =>
      val ext = ch.groupBy("qid")
        .agg(min(col("score")).as("mn"), max(col("score")).as("mx"))
        .withColumn("mx", when(
          col("mx").cast("double") - col("mn").cast("double") > 9.0e9,
          raise_error(concat(lit("minMaxFuse: per-query score spread "),
            (col("mx").cast("double") - col("mn").cast("double"))
              .cast("string"),
            lit(" exceeds the 9e9 exact-arithmetic bound — rescale " +
              "the channel's micro-units"))).cast("long"))
          .otherwise(col("mx")))
      val normed = when(col("mx") === col("mn"), lit(1000000L))
        .otherwise(microDiv((col("score") - col("mn")) * lit(1000000L),
          col("mx") - col("mn")))
      val cols = Seq(col("qid"), col("did"),
        (lit(wgt) * normed).as("pts")) ++
        channels.indices.map(j =>
          lit(if (j == i) 1 else 0).as(s"in_${channels(j)._1}"))
      ch.join(broadcast(ext), "qid").select(cols: _*)
    }
    val flagAggs = channels.map { case (n, _, _) =>
      max(col(s"in_$n")).as(s"in_$n")
    }
    val w = Window.partitionBy("qid")
      .orderBy(col("fused_pts").desc, col("did"))
    marked.reduce(_.unionByName(_))
      .groupBy("qid", "did")
      .agg(sum(col("pts")).as("fused_pts"), flagAggs: _*)
      .withColumn("fused_rank", row_number().over(w))
      .filter(col("fused_rank") <= topK)
  }

  private def qMinMaxFusionOld(spark: SparkSession, dir: String): DataFrame = {
    val d = spark.read.parquet(s"$dir/documents.parquet")
    val e = spark.read.parquet(s"$dir/embeddings.parquet")
    val isQuery = pmod(col("doc_id"), lit(100L)) === 0L
    val queries = d.filter(isQuery)
      .select(col("doc_id").as("qid"), col("text"))
    val corpus = d.filter(!isQuery)
      .select(col("doc_id").as("did"), col("text"))
    val term = Retrieval.bm25Channel(queries, corpus, topN = 20)
      .select(col("qid"), col("did"), col("bm25_micro").as("score"))
    val qv = queries.join(e, col("qid") === col("vec_id"))
      .select(col("qid"), col("embedding").as("qe"))
    val cv = corpus.join(e, col("did") === col("vec_id"))
      .select(col("did"), col("embedding").as("ce"))
    val wV = Window.partitionBy("qid")
      .orderBy(col("cos6").desc, col("did"))
    val vec = cv.crossJoin(broadcast(qv))
      .select(col("qid"), col("did"),
        round(graft.llmops.Similarity.cosine(col("ce"), col("qe")), 6)
          .as("cos6"))
      .withColumn("rk", row_number().over(wV))
      .filter(col("rk") <= 20)
      .select(col("qid"), col("did"),
        floor(col("cos6") * lit(1000000.0) + lit(0.5)).cast("long")
          .as("score"))
    minMaxFuseOld(Seq(("term", term, 3L), ("vec", vec, 2L)), topK = 10)
      .select(col("qid"), col("did"), col("fused_pts"),
        col("in_term"), col("in_vec"), col("fused_rank"))
      .orderBy("qid", "fused_rank")
  }

  // ---- old (dcefe81) rankedOverlap: runA referenced twice ----
  private def rankedOverlapOld(runA: DataFrame, runB: DataFrame,
      k: Int): DataFrame = {
    def microDiv(num: Column, den: Column): Column =
      ((num - pmod(num, den)) / den).cast("long")
    val a = runA.filter(col("rk") <= k)
      .select(col("qid"), col("did"), col("rk").cast("long").as("rka"))
    val b = runB.filter(col("rk") <= k)
      .select(col("qid").as("qid_b"), col("did").as("did_b"),
        col("rk").cast("long").as("rkb"))
    val joined = a.join(b,
        col("qid") === col("qid_b") && col("did") === col("did_b"))
      .select(col("qid"), greatest(col("rka"), col("rkb")).as("mx"))
    val depths = runA.select("qid").distinct()
      .select(col("qid"), explode(sequence(lit(1), lit(k))).as("d"))
    val pow2d = expr("shiftleft(cast(1 as bigint), d)")
    val ov = depths.join(joined, Seq("qid"), "left")
      .groupBy("qid", "d")
      .agg(sum(when(col("mx") <= col("d"), lit(1L)).otherwise(lit(0L)))
        .as("overlap"))
    ov.select(col("qid"), col("d"), col("overlap"),
        microDiv(lit(1000000L) * col("overlap"),
          col("d").cast("long") * pow2d).as("term"))
      .groupBy("qid")
      .agg(sum(col("term")).as("rbo_micro"),
        max(when(col("d") === k, col("overlap"))).as("overlap_k"))
      .select(col("qid"), col("rbo_micro"), col("overlap_k"),
        microDiv(lit(1000000L) * col("overlap_k"), lit(k.toLong))
          .as("agree_micro"))
  }

  private def qRboRunsOld(spark: SparkSession, dir: String): DataFrame = {
    val d = spark.read.parquet(s"$dir/documents.parquet")
    val isQuery = pmod(col("doc_id"), lit(100L)) === 0L
    val queries = d.filter(isQuery)
      .select(col("doc_id").as("qid"), col("text"))
    val corpus = d.filter(!isQuery)
      .select(col("doc_id").as("did"), col("text"))
    val runA = Retrieval.bm25Channel(queries, corpus, topN = 10)
      .select("qid", "did", "rk")
    val runB = Retrieval.termChannel(queries, corpus, topN = 10)
      .select("qid", "did", "rk")
    rankedOverlapOld(runA, runB, k = 10).orderBy("qid")
  }

  // ---- old (dcefe81) sharded probe: full-vocabulary shared df ----
  private def bm25ShardedProbeOld(queries: DataFrame,
      shards: Seq[DataFrame], topN: Int): DataFrame = {
    val qTok = Retrieval.queryTerms(queries)
    val all = shards.reduce(_.unionByName(_))
    val (df0p, statsP) = Retrieval.postingsInvariants(all)
    val df0 = df0p.localCheckpoint(false)
    val stats = statsP.localCheckpoint(false)
    val local = shards.map { sh =>
      Retrieval.bm25ScoreTerms(qTok, sh, df0, stats, topN)
        .select("qid", "did", "bm25_micro", "n_match")
    }
    val w = Window.partitionBy("qid")
      .orderBy(col("bm25_micro").desc, col("did"))
    local.reduce(_.unionByName(_))
      .withColumn("rk", row_number().over(w))
      .filter(col("rk") <= topN)
  }

  private def qBm25ShardedOld(spark: SparkSession, dir: String): DataFrame = {
    val d = spark.read.parquet(s"$dir/documents.parquet")
    val isQuery = pmod(col("doc_id"), lit(100L)) === 0L
    val queries = d.filter(isQuery)
      .select(col("doc_id").as("qid"), col("text"))
    val corpus = d.filter(!isQuery)
      .select(col("doc_id").as("did"), col("text"))
    val index = Retrieval.postingsIndex(corpus).persist()
    val shards = (0L until 3L).map(s =>
      index.filter(pmod(col("did"), lit(3L)) === s))
    bm25ShardedProbeOld(queries, shards, topN = 10)
      .select(col("qid"), col("did"), col("bm25_micro"),
        col("n_match"), col("rk"))
      .orderBy("qid", "rk")
  }

  // ---- old (0f98767) pageRankInt: per-iteration degree join, three
  // setup checkpoints, unpartitioned checkpoint relations ----
  private def pageRankIntOld(edges: DataFrame, iters: Int,
      scale: Long = 1000000000000L): DataFrame = {
    val e = edges.select(col("src"), col("dst")).localCheckpoint()
    val nodes = e.select(col("src").as("node"))
      .union(e.select(col("dst").as("node"))).distinct().localCheckpoint()
    val n = nodes.count()
    val outdeg = e.groupBy(col("src").as("node"))
      .agg(count(lit(1)).as("deg")).localCheckpoint()
    val base = scale / 100L * 15L
    var r = nodes.withColumn("pr", lit(scale))
    for (_ <- 1 to iters) {
      val withDeg = r.join(outdeg, Seq("node"), "left")
      val contrib = withDeg.filter(col("deg").isNotNull)
        .join(e, col("node") === col("src"))
        .select(col("dst").as("cnode"), expr("pr div deg").as("c"))
        .groupBy("cnode").agg(sum(col("c")).as("contrib"))
      val dang = withDeg.filter(col("deg").isNull)
        .agg(coalesce(sum(col("pr")), lit(0L)).as("dang"))
      r = nodes
        .join(contrib, col("node") === col("cnode"), "left")
        .crossJoin(broadcast(dang))
        .select(col("node"),
          (lit(base) +
            expr(s"(coalesce(contrib, 0L) + dang div ${n}L) div 100L")
              * 85L).as("pr"))
        .localCheckpoint()
    }
    r
  }

  private def q96PageRankOld(spark: SparkSession, dir: String): DataFrame = {
    val li = graft.operators.CoreQueries.table(spark, dir, "lineitem")
    val a = li.select(col("l_orderkey").as("ok"),
      col("l_linenumber").as("ln"), col("l_partkey").as("src"))
    val b = li.select(col("l_orderkey").as("ok"),
      (col("l_linenumber") - 1).as("ln"), col("l_partkey").as("dst"))
    val edges = a.join(b, Seq("ok", "ln"))
      .filter(col("src") =!= col("dst"))
      .select("src", "dst").distinct()
    pageRankIntOld(edges, 3)
      .orderBy(desc("pr"), asc("node"))
      .limit(20)
      .select(col("node").as("part_key"), col("pr").as("rank_scaled"))
  }

  def main(args: Array[String]): Unit = {
    val which = args.headOption.getOrElse("q134")
    val rounds = if (args.length > 1) args(1).toInt else 12
    val sf = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val spark = graft.Sessions.get()
    val variants: Seq[(String, () => DataFrame)] = which match {
      case "q134" => Seq(
        "old" -> (() => qMinMaxFusionOld(spark, sf)),
        "new" -> (() => graft.SparkEntry.queries("q134_minmax_fusion")(spark, sf)))
      case "q136" => Seq(
        "old" -> (() => qRboRunsOld(spark, sf)),
        "new" -> (() => graft.SparkEntry.queries("q136_rbo_runs")(spark, sf)))
      // isolate the two q136 elements: shared index with the OLD
      // (double-consuming) rankedOverlap
      case "q136b" => Seq(
        "old" -> (() => qRboRunsOld(spark, sf)),
        "shIdx+oldOv" -> (() => {
          val d = spark.read.parquet(s"$sf/documents.parquet")
          val isQuery = pmod(col("doc_id"), lit(100L)) === 0L
          val queries = d.filter(isQuery)
            .select(col("doc_id").as("qid"), col("text"))
          val corpus = d.filter(!isQuery)
            .select(col("doc_id").as("did"), col("text"))
          val index = Retrieval.postingsIndex(corpus).persist()
          val runA = Retrieval.bm25Probe(queries, index, topN = 10)
            .select("qid", "did", "rk")
          val runB = Retrieval.termProbeTerms(
            Retrieval.queryTerms(queries), index, topN = 10)
          rankedOverlapOld(runA, runB, k = 10).orderBy("qid")
        }),
        "new" -> (() => graft.SparkEntry.queries("q136_rbo_runs")(spark, sf)))
      case "q133" => Seq(
        "old" -> (() => qBm25ShardedOld(spark, sf)),
        "new" -> (() => graft.SparkEntry.queries("q133_bm25_sharded")(spark, sf)))
      // 100×-scale sharded probe: the `Soak maintain100x` corpus (500k
      // docs, 100k-term rare vocabulary + stopword pool) — the regime
      // where the full-vocabulary df roll-up actually shows. Postings
      // are persisted ONCE outside the timed region (the probe is the
      // operator under test, the index is held state).
      case "q133x" =>
        val corpus = Soak.rareCorpus()
        val queries = corpus.filter(col("did") % 5000 === 0)
          .select(col("did").as("qid"), col("text")).localCheckpoint()
        val postings = Retrieval.postingsIndex(corpus).persist()
        println(s"postings rows: ${postings.count()}")
        val shards = (0L until 4L).map(s =>
          postings.filter(pmod(col("did"), lit(4L)) === s))
        Seq(
          "old" -> (() => bm25ShardedProbeOld(queries, shards, topN = 10)),
          "new" -> (() => Retrieval.bm25ShardedProbe(queries, shards,
            topN = 10)))
      case "q96" => Seq(
        "old" -> (() => q96PageRankOld(spark, sf)),
        "new" -> (() => graft.SparkEntry.queries("q96_pagerank")(spark, sf)))
      case other => sys.error(s"unknown variant set: $other")
    }
    def time(f: () => DataFrame): Double = {
      val t0 = System.nanoTime()
      f().write.mode("overwrite").format("noop").save()
      val dt = (System.nanoTime() - t0) / 1e9
      // the 100× case holds its postings index persisted across
      // rounds (the index is held state, the probe is timed)
      if (which != "q133x") spark.catalog.clearCache()
      dt
    }
    // warm both
    variants.foreach { case (_, f) => time(f) }
    val times = scala.collection.mutable.Map[String, Vector[Double]]()
      .withDefaultValue(Vector.empty)
    for (_ <- 1 to rounds; (n, f) <- variants)
      times(n) = times(n) :+ time(f)
    variants.foreach { case (n, _) =>
      val ts = times(n).sorted
      println(f"$which/$n%-4s min=${ts.min}%.3f p50=${ts(ts.size / 2)}%.3f " +
        f"max=${ts.max}%.3f  all=${times(n).map(t => f"$t%.2f").mkString(",")}")
    }
    spark.stop()
  }
}
