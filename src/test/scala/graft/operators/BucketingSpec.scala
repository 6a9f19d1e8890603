package graft.operators

import org.apache.spark.sql.functions._

import graft.SparkSpec

/** The bucketed-layout contract: a fact⋈fact equi-join over two tables
  * bucketed on the join key plans with ZERO Exchange — the write-time
  * shuffle is the only one that ever happens.
  */
class BucketingSpec extends SparkSpec {

  private val dir = "/root/testdata/sf0.001"

  test("bucketed join elides both exchanges and matches the plain join") {
    val bcast = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    // force the shuffle-join path: broadcast would trivially hide the
    // exchange the layout is supposed to eliminate
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try {
      val orders = spark.read.parquet(s"$dir/orders.parquet")
      val lineitem = spark.read.parquet(s"$dir/lineitem.parquet")
        .select("l_orderkey", "l_quantity", "l_extendedprice")
      Bucketing.writeBucketed(orders, "orders_b", "o_orderkey", 8)
      Bucketing.writeBucketed(lineitem, "lineitem_b", "l_orderkey", 8)

      val joined = Bucketing.bucketedJoin(spark,
        "orders_b", "lineitem_b", "o_orderkey", "l_orderkey")
      val expect = orders.join(lineitem,
        orders("o_orderkey") === lineitem("l_orderkey")).count()
      assert(joined.count() === expect)

      joined.collect() // finalize AQE
      val plan = joined.queryExecution.executedPlan.toString
      assert(!plan.contains("Exchange hashpartitioning"),
        s"bucketed join still shuffles:\n$plan")
      assert(plan.contains("SortMergeJoin") ||
        plan.contains("ShuffledHashJoin"), plan)
      assert(plan.contains("SelectedBucketsCount"), plan)

      // and an aggregation on the bucket key reuses the layout too
      val agg = spark.table("lineitem_b")
        .groupBy("l_orderkey").agg(sum("l_quantity"))
      agg.collect()
      val aggPlan = agg.queryExecution.executedPlan.toString
      assert(!aggPlan.contains("Exchange hashpartitioning"),
        s"bucketed aggregation still shuffles:\n$aggPlan")
    } finally {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", bcast)
      spark.sql("DROP TABLE IF EXISTS orders_b")
      spark.sql("DROP TABLE IF EXISTS lineitem_b")
    }
  }

  test("tok-bucketed postings: bm25Probe never shuffles the postings on tok") {
    import graft.llmops.Retrieval
    val d = spark.read.parquet(s"$dir/documents.parquet")
    val queries = d.filter(col("doc_id") % 100 === 0)
      .select(col("doc_id").as("qid"), col("text"))
    val corpus = d.filter(col("doc_id") % 100 =!= 0)
      .select(col("doc_id").as("did"), col("text"))
    val postings = Retrieval.postingsIndex(corpus)
    try {
      // the production layout the Retrieval scaladoc prescribes: the
      // postings index persisted bucketed by its probe key
      Bucketing.writeBucketed(postings, "postings_tokb", "tok", 8)
      val bucketed = spark.table("postings_tokb")
        .select("did", "dl", "tok", "tf")
      val probe = Retrieval.bm25Probe(queries, bucketed, topN = 10)
      probe.collect()
      val p = probe.queryExecution.executedPlan.toString
        .split("(?m)^\\+- == Initial Plan ==$").head
      // ZERO Exchange on tok anywhere in the probe: the df aggregation
      // rides the bucket layout and the scoring join is a broadcast
      // probe — the corpus-sized postings relation is never shuffled on
      // the term key (the only remaining exchanges carry slim did-keyed
      // aggregates)
      assert(!p.contains("hashpartitioning(tok"),
        s"bucketed probe still shuffles postings on tok:\n$p")
      assert(p.contains("SelectedBucketsCount"), p)
      assert(p.contains("BroadcastHashJoin"), p)
      // contrast: the same probe over the raw (unbucketed) index pays a
      // vocabulary-sized tok exchange for df — the cost the layout
      // retires (and what makes this pin non-vacuous)
      val raw = Retrieval.bm25Probe(queries, postings, topN = 10)
      raw.collect()
      val pRaw = raw.queryExecution.executedPlan.toString
        .split("(?m)^\\+- == Initial Plan ==$").head
      assert(pRaw.contains("hashpartitioning(tok"), pRaw)
      // and the layout changes the plan only, never the answer
      def rows(df: org.apache.spark.sql.DataFrame) =
        df.select("qid", "did", "bm25_micro", "n_match", "rk")
          .collect().map(_.toSeq).sortBy(_.toString).toSeq
      assert(rows(probe) === rows(raw))
      assert(rows(probe).nonEmpty)
    } finally {
      spark.sql("DROP TABLE IF EXISTS postings_tokb")
    }
  }

  test("gram-bucketed index: gramProbe never exchanges gram positions") {
    import graft.llmops.Retrieval
    val d = spark.read.parquet(s"$dir/documents.parquet")
    val phrases = d.filter(col("doc_id") % 100 === 0)
      .select(col("doc_id").as("qid"),
        element_at(graft.expressions.WordShingles
          .shingles(col("text"), 2), 1).as("phrase"))
    val corpus = d.filter(col("doc_id") % 100 =!= 0)
      .select(col("doc_id").as("did"), col("text"))
    val grams = Retrieval.gramPositions(corpus, n = 2)
    try {
      // the production layout the gramPositions scaladoc prescribes: the
      // positional gram relation persisted bucketed by its probe key.
      // hashpartitioning(gram) satisfies the (did, gram) occurrence
      // aggregation's clustering (equal (did, gram) ⇒ equal gram ⇒
      // same bucket), so the corpus-sized relation is NEVER exchanged
      Bucketing.writeBucketed(grams, "grams_gramb", "gram", 8)
      val bucketed = spark.table("grams_gramb")
        .select("did", "pos", "gram")
      val probe = Retrieval.gramProbe(phrases, bucketed, topN = 10)
      probe.collect()
      val p = probe.queryExecution.executedPlan.toString
        .split("(?m)^\\+- == Initial Plan ==$").head
      val gramExchanges = p.linesIterator.filter(l =>
        l.contains("Exchange hashpartitioning") && l.contains("gram"))
      assert(gramExchanges.isEmpty,
        s"bucketed probe still shuffles gram positions:\n$p")
      assert(p.contains("SelectedBucketsCount"), p)
      // contrast: over the raw relation the occurrence aggregate pays
      // a (did, gram) exchange — the cost the layout retires
      val raw = Retrieval.gramProbe(phrases, grams, topN = 10)
      raw.collect()
      val pRaw = raw.queryExecution.executedPlan.toString
        .split("(?m)^\\+- == Initial Plan ==$").head
      assert(pRaw.linesIterator.exists(l =>
        l.contains("Exchange hashpartitioning") && l.contains("gram")),
        pRaw)
      // and the layout changes the plan only, never the answer
      def rows(df: org.apache.spark.sql.DataFrame) =
        df.collect().map(_.toSeq).sortBy(_.toString).toSeq
      assert(rows(probe) === rows(raw))
      assert(rows(probe).nonEmpty)
    } finally {
      spark.sql("DROP TABLE IF EXISTS grams_gramb")
    }
  }
}
