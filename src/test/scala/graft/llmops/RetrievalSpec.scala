package graft.llmops

import org.apache.spark.sql.functions._

import graft.SparkSpec

/** Hybrid RRF retrieval (q107): an independent driver-side replication
  * of both channels and the fusion, plus the determinism and plan
  * contracts that make the operator gateable and scalable.
  */
class RetrievalSpec extends SparkSpec {

  private val dir = "/root/testdata/sf0.001"

  private def tokensOf(text: String): Set[String] =
    text.toLowerCase.replaceAll("\\s+", " ").split(" ").toSet

  test("q107 == driver brute-force replication (channels + fusion)") {
    val docs = spark.read.parquet(s"$dir/documents.parquet")
      .select("doc_id", "text").collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    val vecs = spark.read.parquet(s"$dir/embeddings.parquet")
      .select("vec_id", "embedding").collect()
      .map(r => r.getLong(0) -> r.getSeq[Float](1).toArray).toMap
    val qids = docs.keys.filter(_ % 100 == 0).toSeq.sorted
    val dids = docs.keys.filter(_ % 100 != 0).toSeq.sorted

    def cos6(a: Array[Float], b: Array[Float]): Double = {
      // same fold order as the DotProduct kernel: sequential ascending
      var dot = 0.0; var na = 0.0; var nb = 0.0
      var i = 0
      while (i < a.length) {
        dot += a(i).toDouble * b(i).toDouble
        na += a(i).toDouble * a(i).toDouble
        nb += b(i).toDouble * b(i).toDouble
        i += 1
      }
      val den = math.sqrt(na) * math.sqrt(nb)
      val c = if (den > 0) dot / den else 0.0
      BigDecimal(c).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    }

    val expected = qids.flatMap { qid =>
      val qTok = tokensOf(docs(qid))
      val term = dids.map(d => d -> (qTok & tokensOf(docs(d))).size)
        .filter(_._2 > 0)
        .sortBy { case (d, o) => (-o, d) }.take(20)
        .zipWithIndex.map { case ((d, _), i) => d -> (i + 1) }.toMap
      val vec = if (!vecs.contains(qid)) Map.empty[Long, Int] else
        dids.filter(vecs.contains)
          .map(d => d -> cos6(vecs(d), vecs(qid)))
          .sortBy { case (d, c) => (-c, d) }.take(20)
          .zipWithIndex.map { case ((d, _), i) => d -> (i + 1) }.toMap
      val pts = (term.keySet ++ vec.keySet).toSeq.map { d =>
        val p = term.get(d).map(r => 1000000000L / (60 + r)).getOrElse(0L) +
          vec.get(d).map(r => 1000000000L / (60 + r)).getOrElse(0L)
        (d, p, term.contains(d), vec.contains(d))
      }
      pts.sortBy { case (d, p, _, _) => (-p, d) }.take(10)
        .zipWithIndex.map { case ((d, p, t, v), i) =>
          (qid, d, p, if (t) 1 else 0, if (v) 1 else 0, i + 1)
        }
    }

    val got = Retrieval.qHybridRrf(spark, dir).collect().map { r =>
      (r.getLong(0), r.getLong(1), r.getLong(2), r.getInt(3),
        r.getInt(4), r.getInt(5))
    }.toSeq
    assert(got === expected)
  }

  test("rrfPoints is the exact integer floor division") {
    val df = spark.range(1, 41).select(
      Retrieval.rrfPoints(col("id"), 60).as("pts"), col("id"))
    val rows = df.collect().map(r => r.getLong(1) -> r.getLong(0)).toMap
    (1L to 40L).foreach { r =>
      assert(rows(r) === 1000000000L / (60L + r))
    }
  }

  test("term channel maxDf prunes stopword-grade tokens from the join") {
    val d = spark.read.parquet(s"$dir/documents.parquet")
    val queries = d.filter(pmod(col("doc_id"), lit(100L)) === 0L)
      .select(col("doc_id").as("qid"), col("text"))
    val corpus = d.filter(pmod(col("doc_id"), lit(100L)) =!= 0L)
      .select(col("doc_id").as("did"), col("text"))
    val full = Retrieval.termChannel(queries, corpus, topN = 20)
    // this corpus draws from a tiny vocabulary: every token is a heavy
    // hitter, so a df floor of 1 empties the channel — the assertion is
    // that pruning reaches the join, not that recall survives here
    val pruned = Retrieval.termChannel(queries, corpus, topN = 20,
      maxDf = 1L)
    assert(full.count() > 0L)
    assert(pruned.count() === 0L)
  }

  test("q108 == driver BM25 replication (micro-points, rational idf)") {
    val docs = spark.read.parquet(s"$dir/documents.parquet")
      .select("doc_id", "text").collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    val qids = docs.keys.filter(_ % 100 == 0).toSeq.sorted
    val dids = docs.keys.filter(_ % 100 != 0).toSeq.sorted
    def toks(t: String): Seq[String] =
      t.toLowerCase.replaceAll("\\s+", " ").split(" ").toSeq
    val postings = dids.map(d => d -> toks(docs(d))).toMap
    val df = postings.values.flatMap(_.distinct)
      .groupBy(identity).map { case (t, o) => t -> o.size }
    val nDocs = dids.size.toDouble
    val avgdl = postings.values.map(_.size).sum.toDouble / nDocs
    val expected = qids.flatMap { qid =>
      val scored = dids.map { d =>
        val dl = postings(d).size.toDouble
        val tf = postings(d).groupBy(identity).map {
          case (t, o) => t -> o.size
        }
        val hits = toks(docs(qid)).distinct.filter(tf.contains)
        val pts = hits.map { t =>
          val idf = (nDocs - df(t) + 0.5) / (df(t) + 0.5)
          val num = tf(t).toDouble * (1.2 + 1.0)
          val den = tf(t).toDouble + 1.2 * (0.25 + (0.75 * dl) / avgdl)
          math.floor(idf * (num / den) * 1000000.0 + 0.5).toLong
        }.sum
        (d, pts, hits.size.toLong)
      }.filter(_._3 > 0)
      scored.sortBy { case (d, p, _) => (-p, d) }.take(10)
        .zipWithIndex.map { case ((d, p, m), i) => (qid, d, p, m, i + 1) }
    }
    val got = Retrieval.qBm25(spark, dir).collect().map { r =>
      (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getInt(4))
    }.toSeq
    assert(got === expected)
  }

  test("bm25Channel composes with rrfFuse as a drop-in channel") {
    val d = spark.read.parquet(s"$dir/documents.parquet")
    val queries = d.filter(pmod(col("doc_id"), lit(100L)) === 0L)
      .select(col("doc_id").as("qid"), col("text"))
    val corpus = d.filter(pmod(col("doc_id"), lit(100L)) =!= 0L)
      .select(col("doc_id").as("did"), col("text"))
    val bm25 = Retrieval.bm25Channel(queries, corpus, topN = 20)
      .select("qid", "did", "rk")
    val overlap = Retrieval.termChannel(queries, corpus, topN = 20)
    val fused = Retrieval.rrfFuse(
      Seq("bm25" -> bm25, "ovl" -> overlap), topK = 5)
    val rows = fused.collect()
    assert(rows.nonEmpty)
    assert(fused.columns.contains("in_bm25") &&
      fused.columns.contains("in_ovl"))
    // every query contributes exactly topK fused rows on this corpus
    val perQ = rows.groupBy(_.getAs[Long]("qid")).values.map(_.length)
    assert(perQ.forall(_ == 5))
  }

  test("postingsAppend == full postingsIndex (landed never re-tokenized)") {
    val d = spark.read.parquet(s"$dir/documents.parquet")
      .select(col("doc_id").as("did"), col("text"))
    val landed = Retrieval.postingsIndex(
      d.filter(pmod(col("did"), lit(10L)) =!= 7L))
    val appended = Retrieval.DocIndex.Postings.append(
      d.filter(pmod(col("did"), lit(10L)) === 7L), landed)
    val full = Retrieval.postingsIndex(d)
    def key(df: org.apache.spark.sql.DataFrame) =
      df.select("did", "dl", "tok", "tf").collect()
        .map(r => (r.getLong(0), r.getDouble(1), r.getString(2),
          r.getLong(3))).toSet
    assert(key(appended) === key(full))
    assert(appended.count() === full.count()) // no dup rows either
  }

  test("retrievalMetrics: exact micro values incl. miss and rounding") {
    import spark.implicits._
    // q1: rel {10,11,12}, run hits 11@rk2, 12@rk5 → mrr=1e6/2,
    //     recall = floor(2e6/3)
    // q2: rel {20}, run misses → zeros
    // q3: rel {30,31}, hit 30@rk1 → mrr=1e6, recall=500000
    val run = Seq(
      (1L, 99L, 1), (1L, 11L, 2), (1L, 12L, 5),
      (2L, 98L, 1), (2L, 97L, 2),
      (3L, 30L, 1), (3L, 96L, 2)).toDF("qid", "did", "rk")
    val rel = Seq(
      (1L, 10L), (1L, 11L), (1L, 12L),
      (2L, 20L), (3L, 30L), (3L, 31L)).toDF("qid", "did")
    val got = Retrieval.retrievalMetrics(run, rel)
      .orderBy("qid").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4), r.getLong(5))).toSeq
    assert(got === Seq(
      (1L, 3L, 2L, 2L, 500000L, 666666L),
      (2L, 1L, 0L, 0L, 0L, 0L),
      (3L, 2L, 1L, 1L, 1000000L, 500000L)))
  }

  test("ndcg: driver-replicated graded + binary values to 1e-12, " +
    "truncation at k, all-miss and over-k-ideal cases") {
    import spark.implicits._
    def lg2(x: Double): Double = math.log(x) / math.log(2.0)
    // q1 graded: rel grades 10->3, 11->2, 12->1; run hits 11@rk2 (gain
    //   2/log2(3)), 10@rk3 (3/log2(4)); ideal = 3/log2(2) + 2/log2(3)
    //   + 1/log2(4) at k=3
    // q2: rel {20} grade 2, run misses -> dcg 0, ndcg 0
    // q3: rel {30:1, 31:2, 32:1} with k=2 -> ideal truncates to the
    //   TOP-2 grades (2,1); run hits 30@rk1 (1/log2(2)) and 31@rk4
    //   (outside k — must NOT count)
    val run = Seq(
      (1L, 99L, 1), (1L, 11L, 2), (1L, 10L, 3),
      (2L, 98L, 1),
      (3L, 30L, 1), (3L, 96L, 2), (3L, 97L, 3), (3L, 31L, 4))
      .toDF("qid", "did", "rk")
    val rel = Seq(
      (1L, 10L, 3.0), (1L, 11L, 2.0), (1L, 12L, 1.0),
      (2L, 20L, 2.0),
      (3L, 30L, 1.0), (3L, 31L, 2.0), (3L, 32L, 1.0))
      .toDF("qid", "did", "grade")
    def check(k: Int, want: Map[Long, (Long, Double, Double)]): Unit = {
      val got = Retrieval.ndcg(run, rel, k).collect()
        .map(r => r.getLong(0) ->
          ((r.getLong(1), r.getDouble(2), r.getDouble(3),
            r.getDouble(4)))).toMap
      assert(got.keySet === want.keySet)
      for ((q, (nRel, dcg, idcg)) <- want) {
        val (gn, gd, gi, gndcg) = got(q)
        assert(gn === nRel, s"q$q n_rel")
        assert(math.abs(gd - dcg) < 1e-12, s"q$q dcg: $gd vs $dcg")
        assert(math.abs(gi - idcg) < 1e-12, s"q$q idcg: $gi vs $idcg")
        val wantN = if (idcg > 0) dcg / idcg else 0.0
        assert(math.abs(gndcg - wantN) < 1e-12, s"q$q ndcg")
      }
    }
    check(3, Map(
      1L -> ((3L, 2.0 / lg2(3) + 3.0 / lg2(4),
        3.0 / lg2(2) + 2.0 / lg2(3) + 1.0 / lg2(4))),
      2L -> ((1L, 0.0, 2.0 / lg2(2))),
      3L -> ((3L, 1.0 / lg2(2),
        2.0 / lg2(2) + 1.0 / lg2(3) + 1.0 / lg2(4)))))
    check(2, Map(
      1L -> ((3L, 2.0 / lg2(3), 3.0 / lg2(2) + 2.0 / lg2(3))),
      2L -> ((1L, 0.0, 2.0 / lg2(2))),
      3L -> ((3L, 1.0 / lg2(2), 2.0 / lg2(2) + 1.0 / lg2(3)))))
    // binary form (no grade column): gains are 1.0
    val relBin = rel.select("qid", "did")
    val gotBin = Retrieval.ndcg(run, relBin, 3).collect()
      .map(r => r.getLong(0) -> r.getDouble(4)).toMap
    val wantQ1 = (1.0 / lg2(3) + 1.0 / lg2(4)) /
      (1.0 / lg2(2) + 1.0 / lg2(3) + 1.0 / lg2(4))
    assert(math.abs(gotBin(1L) - wantQ1) < 1e-12)
    assert(gotBin(2L) === 0.0)
  }

  test("prfExpand: fbTerms=0 degenerates to the plain probe; " +
    "expansion terms are new and capped") {
    val d = spark.read.parquet(s"$dir/documents.parquet")
    val queries = d.filter(pmod(col("doc_id"), lit(100L)) === 0L)
      .select(col("doc_id").as("qid"), col("text"))
    val corpus = d.filter(pmod(col("doc_id"), lit(100L)) =!= 0L)
      .select(col("doc_id").as("did"), col("text"))
    val index = Retrieval.postingsIndex(corpus).localCheckpoint()
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.select("qid", "did", "bm25_micro", "rk")
        .collect().map(_.toSeq).sortBy(_.toString).toSeq
    // no expansion terms -> bit-identical to the one-round probe
    assert(rows(Retrieval.prfExpand(queries, index, fbTerms = 0)) ===
      rows(Retrieval.bm25Probe(queries, index, topN = 10)))
    // with expansion: every query's term set grows by at most fbTerms
    // NEW terms, so per-pair n_match can only grow
    val plain = Retrieval.bm25Probe(queries, index, topN = 10)
      .select(col("qid"), col("did"), col("n_match").as("m0"))
    val grownCnt = Retrieval.prfExpand(queries, index, fbTerms = 3)
      .join(plain, Seq("qid", "did"))
      .filter(col("n_match") < col("m0")).count()
    assert(grownCnt === 0L)
  }

  test("q112 passage ids round-trip and passages cover their documents") {
    val got = Retrieval.qPassageRetrieval(spark, dir).collect()
    assert(got.nonEmpty)
    // every hit's (doc_id, chunk_idx) must identify a real passage of
    // a real corpus document
    val d = spark.read.parquet(s"$dir/documents.parquet")
    val corpusIds = d.filter(pmod(col("doc_id"), lit(100L)) =!= 0L)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    val chunks = graft.llmops.TextOps.chunkDocuments(
        d.filter(pmod(col("doc_id"), lit(100L)) =!= 0L)
          .select("doc_id", "text"), 32, 8)
      .select("doc_id", "chunk_idx").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    got.foreach { r =>
      val doc = r.getAs[Long]("doc_id")
      val ci = r.getAs[Long]("chunk_idx")
      assert(corpusIds.contains(doc))
      assert(chunks.contains((doc, ci)))
    }
  }

  test("hardNegatives drops positives and re-packs ranks densely") {
    import spark.implicits._
    val run = Seq((1L, 10L, 1), (1L, 11L, 2), (1L, 12L, 3),
      (1L, 13L, 4)).toDF("qid", "did", "rk")
    val rel = Seq((1L, 10L), (1L, 12L)).toDF("qid", "did")
    val got = Retrieval.hardNegatives(run, rel, k = 2).orderBy("neg_rank")
      .collect().map(r => (r.getLong(1), r.getInt(2), r.getInt(3))).toSeq
    // 11 (orig rk 2) and 13 (orig rk 4) survive, densely re-ranked
    assert(got === Seq((11L, 2, 1), (13L, 4, 2)))
  }

  test("bm25ProbeMaxScore == full probe on prune-friendly and " +
    "fallback-forcing corpora") {
    import spark.implicits._
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.select("qid", "did", "bm25_micro", "n_match", "rk")
        .collect().map(_.toSeq).sortBy(_.toString).toSeq
    // sparse: rare high-idf term (df=10) + common near-zero-idf terms;
    // essential=1 captures the rare term, B_q stays tiny → prune path
    val sparse = (0 until 100)
      .map(i => (i.toLong, s"r${i / 10} c0 c1 c0")).toDF("did", "text")
    val qs = Seq((0L, "r3 c0 c1"), (1L, "r7 c0 c1")).toDF("qid", "text")
    val idx = Retrieval.postingsIndex(sparse).persist()
    val qt = Retrieval.queryTerms(qs)
    assert(rows(Retrieval.bm25ProbeMaxScore(qt, idx, topN = 5,
        essential = 1)) ===
      rows(Retrieval.bm25ProbeTerms(qt, idx, topN = 5)))
    // adversarial: every doc identical → bound can't separate; the
    // round-13 viability pre-check sees ess_df (50) ≥ n_docs (50) and
    // routes the query straight to the exact fallback — the result
    // must still match full scoring exactly
    val dense = (0 until 50).map(i => (i.toLong, "a b c d"))
      .toDF("did", "text")
    val qd = Seq((0L, "a b c")).toDF("qid", "text")
    val idxD = Retrieval.postingsIndex(dense).persist()
    val qtD = Retrieval.queryTerms(qd)
    assert(rows(Retrieval.bm25ProbeMaxScore(qtD, idxD, topN = 7,
        essential = 1)) ===
      rows(Retrieval.bm25ProbeTerms(qtD, idxD, topN = 7)))
    // mixed batch: qid 0's essential term is rare (viable → prune
    // path), qid 1's is the universal stopword (ess_df = n_docs →
    // pre-check routes it to the fallback) — the union of the two
    // routes must equal full scoring for BOTH queries
    val qm = Seq((0L, "r3 c9"), (1L, "c0 c1")).toDF("qid", "text")
    val qtM = Retrieval.queryTerms(qm)
    assert(rows(Retrieval.bm25ProbeMaxScore(qtM, idx, topN = 5,
        essential = 1)) ===
      rows(Retrieval.bm25ProbeTerms(qtM, idx, topN = 5)))
    spark.catalog.clearCache()
  }

  test("phraseSearch counts overlapping occurrences and handles " +
    "short docs") {
    import spark.implicits._
    val corpus = Seq(
      (1L, "x a a a y"),   // "a a" occurs twice (overlapping)
      (2L, "a a"),         // exactly the phrase
      (3L, "a b a b"),     // zero "a a"
      (4L, "a")            // shorter than the phrase: single shingle "a"
    ).toDF("did", "text")
    val phrases = Seq((7L, "a a")).toDF("qid", "phrase")
    val got = Retrieval.phraseSearch(phrases, corpus, n = 2, topN = 10)
      .orderBy("rk").collect()
      .map(r => (r.getLong(1), r.getLong(2), r.getInt(3))).toSeq
    assert(got === Seq((1L, 2L, 1), (2L, 1L, 2)))
  }

  test("proximitySearch counts window pairs; same-token pair excludes " +
    "self-positions") {
    import spark.implicits._
    val corpus = Seq(
      (1L, "a x b"),       // |0-2|=2 <= 3 -> 1 pair
      (2L, "a x y z z b"), // |0-5|=5 > 3  -> no pair
      (3L, "a b a b"),     // a@{0,2} b@{1,3}: |0-1|,|0-3|,|2-1|,|2-3| -> 4
      (4L, "b a")          // 1 pair (order-free)
    ).toDF("did", "text")
    val pairs = Seq((7L, "a", "b")).toDF("qid", "tok_a", "tok_b")
    val got = Retrieval.proximitySearch(pairs, corpus, window = 3,
        topN = 10).orderBy("rk").collect()
      .map(r => (r.getLong(1), r.getLong(2), r.getInt(3))).toSeq
    assert(got === Seq((3L, 4L, 1), (1L, 1L, 2), (4L, 1L, 3)))
    // tok_a == tok_b: self-position pairs excluded, symmetric pairs
    // both counted ("a x a" -> positions {0,2}: (0,2) and (2,0))
    val same = Seq((9L, "a", "a")).toDF("qid", "tok_a", "tok_b")
    val got2 = Retrieval.proximitySearch(same,
        Seq((1L, "a x a")).toDF("did", "text"), window = 3, topN = 10)
      .collect().map(r => (r.getLong(1), r.getLong(2))).toSeq
    assert(got2 === Seq((1L, 2L)))
  }

  test("phraseProbe == one-shot phraseSearch for true n-gram phrases; " +
    "a shorter-than-n phrase is the documented divergence") {
    import spark.implicits._
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.select("qid", "did", "n_occ", "rk")
        .collect().map(_.toSeq).sortBy(_.toString).toSeq
    val corpus = Seq(
      (1L, "x a a a y"),   // "a a" twice (overlapping)
      (2L, "a a"),
      (3L, "a b a b"),
      (4L, "a"),           // shorter than n: whole-text shingle
      (5L, "b c a a b c a a x")
    ).toDF("did", "text")
    val phrases = Seq((7L, "a a"), (9L, "b c")).toDF("qid", "phrase")
    val idx = Retrieval.tokenPositions(corpus).localCheckpoint()
    assert(rows(Retrieval.phraseProbe(phrases, idx, topN = 10)) ===
      rows(Retrieval.phraseSearch(phrases, corpus, n = 2, topN = 10)))
    // divergence, by contract: a 1-token phrase probed against the
    // positional index counts every occurrence of the token, while the
    // bigram one-shot only sees it as a whole-short-doc gram — so doc 4
    // ("a", shorter than n) matches BOTH ways, but the ≥n-token docs
    // match only the probe
    val short = Seq((7L, "a")).toDF("qid", "phrase")
    val probeDids = Retrieval.phraseProbe(short, idx, topN = 10)
      .select("did").collect().map(_.getLong(0)).toSet
    val oneShotDids = Retrieval.phraseSearch(short, corpus, n = 2,
        topN = 10).select("did").collect().map(_.getLong(0)).toSet
    assert(oneShotDids === Set(4L))
    assert(probeDids === Set(1L, 2L, 3L, 4L, 5L))
  }

  test("positionalAppend == full positionalIndex through both probes " +
    "(the q117/q118 certificate, locally)") {
    val d = spark.read.parquet(s"$dir/documents.parquet")
    val corpus = d.filter(pmod(col("doc_id"), lit(100L)) =!= 0L)
      .select(col("doc_id").as("did"), col("text"))
    val grown = Retrieval.DocIndex.Positional.append(
      corpus.filter(pmod(col("did"), lit(10L)) === 7L),
      Retrieval.tokenPositions(
        corpus.filter(pmod(col("did"), lit(10L)) =!= 7L)))
      .localCheckpoint()
    val full = Retrieval.tokenPositions(corpus).localCheckpoint()
    def key(df: org.apache.spark.sql.DataFrame) =
      df.select("did", "pos", "tok").collect()
        .map(r => (r.getLong(0), r.getInt(1), r.getString(2))).toSet
    assert(key(grown) === key(full))
    assert(grown.count() === full.count()) // no dup rows either
    val phrases = d.filter(pmod(col("doc_id"), lit(100L)) === 0L)
      .select(col("doc_id").as("qid"),
        element_at(graft.expressions.WordShingles
          .shingles(col("text"), 2), 1).as("phrase"))
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(_.toSeq).sortBy(_.toString).toSeq
    val pGrown = rows(Retrieval.phraseProbe(phrases, grown, topN = 10))
    assert(pGrown === rows(Retrieval.phraseProbe(phrases, full, topN = 10)))
    assert(pGrown.nonEmpty)
  }

  test("idfLn ranks agree with the rational form on a skewed-df " +
    "corpus; the scores themselves differ") {
    import spark.implicits._
    // df skew: r<k> terms df=10, c0/c1 df=100 — group-3 docs match the
    // query's rare term and outrank the rest under ANY positive
    // df-monotone idf; within groups ties break by did. Rank agreement
    // between the rational and ln forms is therefore structural here,
    // which is exactly what makes it pinnable (a general corpus does
    // NOT guarantee sum-order agreement across monotone idf transforms).
    val corpus = (0 until 100)
      .map(i => (i.toLong, s"r${i / 10} c0 c1 c0")).toDF("did", "text")
    val qs = Seq((0L, "r3 c0 c1"), (1L, "r7 c0")).toDF("qid", "text")
    val idx = Retrieval.postingsIndex(corpus).localCheckpoint()
    def ranks(df: org.apache.spark.sql.DataFrame) =
      df.select("qid", "did", "rk").collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getInt(2)))
        .sortBy(t => (t._1, t._3)).toSeq
    val rational = Retrieval.bm25Probe(qs, idx, topN = 15)
    val ln = Retrieval.bm25Probe(qs, idx, topN = 15, idfLn = true)
    assert(ranks(rational) === ranks(ln))
    // and the ln branch is really taken: the micro scores differ
    def scores(df: org.apache.spark.sql.DataFrame) =
      df.select("qid", "did", "bm25_micro").collect()
        .map(r => (r.getLong(0), r.getLong(1)) -> r.getLong(2)).toMap
    val sR = scores(rational); val sL = scores(ln)
    assert(sR.keySet === sL.keySet)
    assert(sR.exists { case (k, v) => sL(k) != v })
  }

  test("packPassageId fails loudly on a >=factor-chunk document and " +
    "on a wrap-bound doc_id; the boundary still packs exactly") {
    import spark.implicits._
    def chain(t: Throwable): String = {
      var cur: Throwable = t; val sb = new StringBuilder
      while (cur != null) { sb.append(cur.getMessage).append('\n'); cur = cur.getCause }
      sb.toString
    }
    // the round-10 scenario: a document long enough that the 32/8
    // chunker emits >= 1000 chunks — the pack must throw, not collide
    val longDoc = Seq((5L, (0 until 24100).map(i => s"w$i").mkString(" ")))
      .toDF("doc_id", "text")
    val chunks = TextOps.chunkDocuments(longDoc, 32, 8)
    assert(chunks.count() >= 1000L)
    val e1 = intercept[Exception] {
      chunks.select(Retrieval.packPassageId(col("doc_id"),
        col("chunk_idx"), 1000L).as("pid")).collect()
    }
    assert(chain(e1).contains("passage id overflow"), chain(e1))
    // doc_id branch: above the conservative bound the multiply wraps,
    // so the guard throws instead (ADVICE r11)
    val maxDoc = (Long.MaxValue - 999L) / 1000L
    val e2 = intercept[Exception] {
      Seq((maxDoc + 1L, 0L)).toDF("d", "c")
        .select(Retrieval.packPassageId(col("d"), col("c"), 1000L))
        .collect()
    }
    assert(chain(e2).contains("wraps Long"), chain(e2))
    // boundary: the largest admissible (doc_id, chunk_idx) packs to the
    // exact arithmetic value with no wrap
    val got = Seq((maxDoc, 999L)).toDF("d", "c")
      .select(Retrieval.packPassageId(col("d"), col("c"), 1000L))
      .collect()(0).getLong(0)
    assert(got === maxDoc * 1000L + 999L && got > 0L)
  }

  test("IVF vector channel: nProbe >= nCells reproduces the brute " +
    "channel; nProbe < nCells recall is partial but nonzero") {
    val d = spark.read.parquet(s"$dir/documents.parquet")
    val e = spark.read.parquet(s"$dir/embeddings.parquet")
    val isQuery = pmod(col("doc_id"), lit(100L)) === 0L
    val corpus = d.filter(!isQuery).select(col("doc_id").as("did"))
    val queries = d.filter(isQuery).select(col("doc_id").as("qid"))
    val cv = corpus.join(e, col("did") === col("vec_id"))
      .select(col("did").as("vec_id"), col("embedding"))
      .withColumn("nrm", Similarity.norm(col("embedding")))
    val qv = queries.join(e, col("qid") === col("vec_id"))
      .select(col("qid").as("vec_id"), col("embedding"))
      .withColumn("nrm", Similarity.norm(col("embedding")))
    val seeds = Similarity.ivfSeeds(cv)
    val assign = Similarity.ivfAssign(cv, seeds).localCheckpoint()
    val nCells = seeds.count().toInt
    assert(nCells > 1)
    def ivfRanks(nProbe: Int) =
      Similarity.knnJoinIndexed(assign, seeds, qv, k = 20, nProbe)
        .select(col("q_id"), col("nn_id"), col("rk"))
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    val brute = Retrieval.vectorChannel(
        qv.select(col("vec_id").as("qid"), col("embedding").as("qe")),
        cv.select(col("vec_id").as("did"), col("embedding").as("ce")),
        topN = 20)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2).toLong))
    // exhaustive probe == brute force, rank for rank (the q119 swap)
    assert(ivfRanks(nCells).sortBy(t => (t._1, t._3)).toSeq ===
      brute.sortBy(t => (t._1, t._3)).toSeq)
    // sublinear probe: per-query recall@20 against the brute top-20 —
    // partial by construction (cells prune), never zero on this corpus
    val bruteSets = brute.groupBy(_._1).view
      .mapValues(_.map(_._2).toSet).toMap
    val ivfSets = ivfRanks(1).groupBy(_._1).view
      .mapValues(_.map(_._2).toSet).toMap
    val recalls = bruteSets.map { case (q, b) =>
      ivfSets.getOrElse(q, Set.empty[Long]).intersect(b).size.toDouble / b.size
    }
    val avg = recalls.sum / recalls.size
    assert(avg > 0.0 && avg <= 1.0)
    assert(recalls.exists(_ < 1.0) || nCells == 1,
      s"nProbe=1 of $nCells cells should prune something: $recalls")
    info(f"IVF recall@20, nProbe=1 of $nCells cells: avg=$avg%.3f")
  }

  test("phraseSnippets: exact windows incl. doc-start clip, doc-end " +
    "clip, and first-of-overlapping-occurrences anchoring") {
    import spark.implicits._
    val corpus = Seq(
      (1L, "p q a b x y z w"),  // interior: 3-token ctx both sides
      (2L, "a b t u v"),        // doc-start clip: window starts at 0
      (3L, "m n o p q a b"),    // doc-end clip: window ends at len
      (4L, "a b c a b")         // overlap+repeat: first_pos = 0
    ).toDF("did", "text")
    val phrases = Seq((7L, "a b")).toDF("qid", "phrase")
    val got = Retrieval.phraseSnippets(phrases, corpus, n = 2,
        topN = 10, ctx = 3)
      .orderBy("rk").collect()
      .map(r => (r.getLong(1), r.getLong(2), r.getLong(3),
        r.getString(4), r.getInt(5))).toSeq
    assert(got === Seq(
      (4L, 2L, 0L, "a b c a b", 1),          // n_occ=2 outranks all
      (1L, 1L, 2L, "p q a b x y z", 2),      // 2 before (clipped), 3 after
      (2L, 1L, 0L, "a b t u v", 3),          // clipped at doc start
      (3L, 1L, 5L, "o p q a b", 4)))         // clipped at doc end
  }

  test("gramAppend == full gramIndex through gramProbe and " +
    "snippetProbe (the q121/q122 certificate, locally)") {
    val d = spark.read.parquet(s"$dir/documents.parquet")
    val corpus = d.filter(pmod(col("doc_id"), lit(100L)) =!= 0L)
      .select(col("doc_id").as("did"), col("text"))
    val grown = Retrieval.DocIndex.Gram(2).append(
      corpus.filter(pmod(col("did"), lit(10L)) === 7L),
      Retrieval.gramPositions(
        corpus.filter(pmod(col("did"), lit(10L)) =!= 7L), n = 2))
      .localCheckpoint()
    val full = Retrieval.gramPositions(corpus, n = 2).localCheckpoint()
    def key(df: org.apache.spark.sql.DataFrame) =
      df.select("did", "pos", "gram").collect()
        .map(r => (r.getLong(0), r.getInt(1), r.getString(2))).toSet
    assert(key(grown) === key(full))
    assert(grown.count() === full.count()) // no dup rows either
    val phrases = d.filter(pmod(col("doc_id"), lit(100L)) === 0L)
      .select(col("doc_id").as("qid"),
        element_at(graft.expressions.WordShingles
          .shingles(col("text"), 2), 1).as("phrase"))
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(_.toSeq).sortBy(_.toString).toSeq
    // count probe: grown index == one-shot statement (no divergence
    // cases here — index and one-shot share the WordShingles kernel,
    // short docs included)
    val pGrown = rows(Retrieval.gramProbe(phrases, grown, topN = 10))
    assert(pGrown === rows(Retrieval.phraseSearch(phrases, corpus,
      n = 2, topN = 10)))
    assert(pGrown.nonEmpty)
    // snippet probe: grown index == one-shot snippets, STRINGS included
    val sGrown = rows(Retrieval.snippetProbe(phrases, grown, corpus,
      n = 2, topN = 5, ctx = 3))
    assert(sGrown === rows(Retrieval.phraseSnippets(phrases, corpus,
      n = 2, topN = 5, ctx = 3)))
    assert(sGrown.nonEmpty)
  }

  test("impactProbe == bm25Probe exactly, plain and under maxDf (the " +
    "q123 certificate, locally)") {
    val d = spark.read.parquet(s"$dir/documents.parquet")
    val queries = d.filter(pmod(col("doc_id"), lit(100L)) === 0L)
      .select(col("doc_id").as("qid"), col("text"))
    val corpus = d.filter(pmod(col("doc_id"), lit(100L)) =!= 0L)
      .select(col("doc_id").as("did"), col("text"))
    val postings = Retrieval.postingsIndex(corpus).localCheckpoint()
    val impacts = Retrieval.impactIndex(postings).localCheckpoint()
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.select("qid", "did", "bm25_micro", "n_match", "rk")
        .collect().map(_.toSeq).sortBy(_.toString).toSeq
    val qTok = Retrieval.queryTerms(queries).localCheckpoint()
    val plain = rows(Retrieval.impactProbe(qTok, impacts, topN = 10))
    assert(plain === rows(Retrieval.bm25ProbeTerms(qTok, postings,
      topN = 10)))
    assert(plain.nonEmpty)
    // the df column rides the impacts, so probe-time stopword ceilings
    // still bite: pick a maxDf that actually prunes terms here
    val medianDf = impacts.select("df").distinct()
      .orderBy("df").collect().map(_.getLong(0))
    val cut = medianDf(medianDf.length / 2)
    val cutRows = rows(Retrieval.impactProbe(qTok, impacts, topN = 10,
      maxDf = cut))
    assert(cutRows === rows(Retrieval.bm25ProbeTerms(qTok, postings,
      topN = 10, maxDf = cut)))
    assert(cutRows !== plain) // the ceiling really pruned something
  }

  test("booleanProbe: AND requires every term, NOT excludes, rank by " +
    "matched tf; required∩excluded returns nothing") {
    import spark.implicits._
    val corpus = Seq(
      (1L, "a b b c"),     // a+b, no x: matches, tf_sum = 1+2 = 3
      (2L, "a b x"),       // contains x: excluded
      (3L, "a a b b b"),   // a+b, no x: tf_sum = 2+3 = 5 → rank 1
      (4L, "a c c"),       // missing b: fails the conjunction
      (5L, "b b b")        // missing a: fails the conjunction
    ).toDF("did", "text")
    val postings = Retrieval.postingsIndex(corpus).localCheckpoint()
    val req = Seq((7L, "a"), (7L, "b")).toDF("qid", "tok")
    val neg = Seq((7L, "x")).toDF("qid", "tok")
    val got = Retrieval.booleanProbe(req, neg, postings, topN = 10)
      .orderBy("rk").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getInt(4))).toSeq
    assert(got === Seq(
      (7L, 3L, 2L, 5L, 1),
      (7L, 1L, 2L, 3L, 2)))
    // NOT of a required term: the exclusion wins — empty by construction
    val negA = Seq((7L, "a")).toDF("qid", "tok")
    assert(Retrieval.booleanProbe(req, negA, postings, topN = 10)
      .isEmpty)
    // empty excluded relation: plain conjunctive AND
    val none = Seq.empty[(Long, String)].toDF("qid", "tok")
    val conj = Retrieval.booleanProbe(req, none, postings, topN = 10)
      .select("did").collect().map(_.getLong(0)).toSet
    assert(conj === Set(1L, 2L, 3L))
  }

  test("indexDelete == rebuild-on-survivors for all three index " +
    "shapes (the q125 certificate, locally)") {
    val d = spark.read.parquet(s"$dir/documents.parquet")
    val corpus = d.filter(pmod(col("doc_id"), lit(100L)) =!= 0L)
      .select(col("doc_id").as("did"), col("text"))
    val gone = corpus.filter(pmod(col("did"), lit(10L)) === 3L)
      .select("did")
    val kept = corpus.filter(pmod(col("did"), lit(10L)) =!= 3L)
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(_.toSeq).sortBy(_.toString).toSeq
    // postings: probe the deleted index vs a fresh build — df/avgdl/
    // n_docs must all reflect the deletion (they derive from the index)
    val queries = d.filter(pmod(col("doc_id"), lit(100L)) === 0L)
      .select(col("doc_id").as("qid"), col("text"))
    val deleted = Retrieval.indexDelete(gone,
      Retrieval.postingsIndex(corpus)).localCheckpoint()
    val probed = rows(Retrieval.bm25Probe(queries, deleted, topN = 10))
    assert(probed === rows(Retrieval.bm25Probe(queries,
      Retrieval.postingsIndex(kept).localCheckpoint(), topN = 10)))
    assert(probed.nonEmpty)
    // positional and gram shapes: row-set equality with the rebuild
    def key3(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(_.toSeq.toString).toSet
    assert(key3(Retrieval.indexDelete(gone,
        Retrieval.tokenPositions(corpus))) ===
      key3(Retrieval.tokenPositions(kept)))
    assert(key3(Retrieval.indexDelete(gone,
        Retrieval.gramPositions(corpus, n = 2))) ===
      key3(Retrieval.gramPositions(kept, n = 2)))
  }

  test("indexUpsert == rebuild-on-updated-corpus for all three index " +
    "shapes (the q130 certificate, locally)") {
    val d = spark.read.parquet(s"$dir/documents.parquet")
    val corpus = d.filter(pmod(col("doc_id"), lit(100L)) =!= 0L)
      .select(col("doc_id").as("did"), col("text"), col("source"))
    val isUpd = pmod(col("did"), lit(10L)) === 3L
    // the update appends one token (the doc's source tag), so stale
    // postings MUST disappear and dl/df/avgdl must all shift
    val updated = corpus.filter(isUpd)
      .select(col("did"),
        concat(col("text"), lit(" "), col("source")).as("text"))
    val postCorpus = corpus.select(col("did"),
      when(isUpd, concat(col("text"), lit(" "), col("source")))
        .otherwise(col("text")).as("text"))
    val queries = d.filter(pmod(col("doc_id"), lit(100L)) === 0L)
      .select(col("doc_id").as("qid"), col("text"))
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(_.toSeq).sortBy(_.toString).toSeq
    val upserted = Retrieval.DocIndex.Postings.upsert(updated,
      Retrieval.postingsIndex(corpus.select("did", "text")))
      .localCheckpoint()
    val probed = rows(Retrieval.bm25Probe(queries, upserted, topN = 10))
    assert(probed === rows(Retrieval.bm25Probe(queries,
      Retrieval.postingsIndex(postCorpus).localCheckpoint(), topN = 10)))
    assert(probed.nonEmpty)
    // and the update is not a no-op: the upserted index differs from
    // the pre-update one (stale rows actually replaced)
    def key3(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(_.toSeq.toString).toSet
    assert(key3(upserted) !==
      key3(Retrieval.postingsIndex(corpus.select("did", "text"))))
    // positional and gram shapes: row-set equality with the rebuild
    assert(key3(Retrieval.DocIndex.Positional.upsert(updated,
        Retrieval.tokenPositions(corpus.select("did", "text")))) ===
      key3(Retrieval.tokenPositions(postCorpus)))
    assert(key3(Retrieval.DocIndex.Gram(2).upsert(updated,
        Retrieval.gramPositions(corpus.select("did", "text"), n = 2))) ===
      key3(Retrieval.gramPositions(postCorpus, n = 2)))
  }

  test("bm25f: title evidence outranks body evidence at equal length, " +
    "and the fielded index composes with the lifecycle ops") {
    import spark.implicits._
    // two docs, identical length and identical token multiset — the
    // only difference is WHERE the query term sits (title = first 6
    // tokens). BM25F with wTitle > wBody must rank the title hit first.
    val corpus = Seq(
      (1L, "term a b c d e f g h i j"),
      (2L, "a b c d e f g h i j term"),
      (3L, "x y z x y z x y z x y")).toDF("did", "text")
    val queries = Seq((100L, "term")).toDF("qid", "text")
    val idx = Retrieval.bm25fIndex(corpus, titleLen = 6).localCheckpoint()
    val run = Retrieval.bm25fProbe(queries, idx, topN = 10)
      .orderBy("rk").collect()
    assert(run.map(_.getLong(1)).toSeq === Seq(1L, 2L),
      s"title hit must outrank body hit: ${run.mkString(", ")}")
    assert(run(0).getLong(2) > run(1).getLong(2))
    // the fielded index is per-doc, so upsert ≡ rebuild holds for it
    // exactly as for the other three shapes (the q130 contract)
    val updated = Seq((2L, "term term a b c d e f g h i")).toDF("did", "text")
    val post = Seq(
      (1L, "term a b c d e f g h i j"),
      (2L, "term term a b c d e f g h i"),
      (3L, "x y z x y z x y z x y")).toDF("did", "text")
    def key(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(_.toSeq.toString).toSet
    assert(key(Retrieval.DocIndex.Fielded(titleLen = 6).upsert(updated,
        idx)) ===
      key(Retrieval.bm25fIndex(post, titleLen = 6)))
  }

  test("mmrRerank: diversity demotes the near-duplicate runner-up; " +
    "lamDen=0 degenerates to relevance order; short lists stay short") {
    import spark.implicits._
    // candidates: A(rel 100) and B(rel 99) are near-identical
    // (sim 0.95e6); C(rel 80) is unrelated. Pure relevance picks
    // A,B,C — MMR at 7/3 must pick A, then C (B's penalty
    // 3·950000 dwarfs its 7·19 relevance edge), then B.
    val cand = Seq((1L, 10L, 100L), (1L, 11L, 99L), (1L, 12L, 80L))
      .toDF("qid", "did", "rel_micro")
    val sims = Seq(
      (1L, 10L, 11L, 950000L), (1L, 11L, 10L, 950000L),
      (1L, 10L, 12L, 10000L), (1L, 12L, 10L, 10000L),
      (1L, 11L, 12L, 10000L), (1L, 12L, 11L, 10000L))
      .toDF("qid", "did_a", "did_b", "sim_micro")
    val run = Retrieval.mmrRerank(cand, sims, k = 3)
      .orderBy("pick").collect()
    assert(run.map(_.getLong(1)).toSeq === Seq(10L, 12L, 11L),
      s"expected the diverse pick order A,C,B: ${run.mkString(", ")}")
    // lamDen = 0: no penalty — pure relevance order A,B,C
    val pure = Retrieval.mmrRerank(cand, sims, k = 3, lamDen = 0L)
      .orderBy("pick").collect()
    assert(pure.map(_.getLong(1)).toSeq === Seq(10L, 11L, 12L))
    // k beyond the candidate count: the list is candidate-sized,
    // each doc picked exactly once
    val short = Retrieval.mmrRerank(cand, sims, k = 5)
      .collect()
    assert(short.length === 3)
    assert(short.map(_.getLong(1)).toSet === Set(10L, 11L, 12L))
  }

  test("bm25ShardedProbe: shard count is invisible (1 == 3 == 5), and " +
    "per-shard LOCAL invariants would diverge (the bug the seam blocks)") {
    val d = spark.read.parquet(s"$dir/documents.parquet")
    val queries = d.filter(pmod(col("doc_id"), lit(100L)) === 0L)
      .select(col("doc_id").as("qid"), col("text"))
    val corpus = d.filter(pmod(col("doc_id"), lit(100L)) =!= 0L)
      .select(col("doc_id").as("did"), col("text"))
    val index = Retrieval.postingsIndex(corpus).localCheckpoint()
    def shards(n: Long) =
      (0L until n).map(s => index.filter(pmod(col("did"), lit(n)) === s))
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.select("qid", "did", "bm25_micro", "n_match", "rk")
        .collect().map(_.toSeq).sortBy(_.toString).toSeq
    val one = rows(Retrieval.bm25ShardedProbe(queries, shards(1), 10))
    assert(one.nonEmpty)
    assert(rows(Retrieval.bm25ShardedProbe(queries, shards(3), 10)) === one)
    assert(rows(Retrieval.bm25ShardedProbe(queries, shards(5), 10)) === one)
    // the classic sharded-idf bug: each shard scoring with its OWN
    // invariants produces different scores — the shared-invariant
    // seam is what makes the topology lossless
    val qTok = Retrieval.queryTerms(queries)
    val localScores = shards(3).map(sh =>
        Retrieval.bm25ProbeTerms(qTok, sh.localCheckpoint(), 10)
          .select("qid", "did", "bm25_micro"))
      .reduce(_.unionByName(_))
      .collect().map(_.toSeq).sortBy(_.toString).toSeq
    val globalScores = one.map(r => Seq(r(0), r(1), r(2)))
      .sortBy(_.toString)
    assert(localScores !== globalScores,
      "per-shard local invariants coincided with global scores — " +
        "the divergence fixture has lost its teeth")
  }

  test("minMaxFuse: hand-computed normalization, weights, constant " +
    "channel, absent-doc zero, and negative-score shift") {
    import spark.implicits._
    // channel a: scores 0/50/100 -> norms 0 / 500000 / 1000000
    val a = Seq((1L, 10L, 0L), (1L, 11L, 50L), (1L, 12L, 100L))
      .toDF("qid", "did", "score")
    // channel b: CONSTANT scores -> every doc norms to 1000000;
    // doc 12 is absent (contributes 0 from b); doc 13 only in b
    val b = Seq((1L, 10L, 7L), (1L, 11L, 7L), (1L, 13L, 7L))
      .toDF("qid", "did", "score")
    val fused = Retrieval.minMaxFuse(
        Seq(("a", a, 3L), ("b", b, 2L)), topK = 10)
      .collect().map(r => (r.getLong(1),
        (r.getLong(2), r.getInt(3), r.getInt(4), r.getInt(5))))
      .toMap
    // (fused_pts, in_a, in_b, fused_rank) keyed by did
    assert(fused(10L) === ((3L * 0L + 2L * 1000000L, 1, 1, 3)))
    assert(fused(11L) === ((3L * 500000L + 2L * 1000000L, 1, 1, 1)))
    assert(fused(12L) === ((3L * 1000000L, 1, 0, 2)))
    assert(fused(13L) === ((2L * 1000000L, 0, 1, 4)))
    // negative scores: the min-shift normalizes -100/-50/0 exactly
    // like 0/50/100
    val neg = Seq((1L, 10L, -100L), (1L, 11L, -50L), (1L, 12L, 0L))
      .toDF("qid", "did", "score")
    val nf = Retrieval.minMaxFuse(Seq(("a", neg, 1L)), topK = 10)
      .collect().map(r => (r.getLong(1), r.getLong(2))).toMap
    assert(nf === Map(10L -> 0L, 11L -> 500000L, 12L -> 1000000L))
    // spread bound: a per-query spread beyond 9e9 would leave the 2^53
    // exact-double range for spread*1e6 — must fail loudly, not
    // silently mis-normalize
    val wide = Seq((1L, 10L, 0L), (1L, 11L, 10000000000L))
      .toDF("qid", "did", "score")
    val e = intercept[Exception] {
      Retrieval.minMaxFuse(Seq(("a", wide, 1L)), topK = 10).collect()
    }
    def chainM(t: Throwable): String =
      if (t == null) "" else t.getMessage + "|" + chainM(t.getCause)
    assert(chainM(e).contains("minMaxFuse"), chainM(e))
    // and a spread just inside the bound still normalizes exactly
    val edge = Seq((1L, 10L, 0L), (1L, 11L, 8999999999L))
      .toDF("qid", "did", "score")
    val ef = Retrieval.minMaxFuse(Seq(("a", edge, 1L)), topK = 10)
      .collect().map(r => (r.getLong(1), r.getLong(2))).toMap
    assert(ef === Map(10L -> 0L, 11L -> 1000000L))
  }

  test("tieredImpactProbe: full tier-1 pages serve from the champion " +
    "list; underfull queries fall back to the full index") {
    import spark.implicits._
    // keepTop = 1, topN = 3. Query A's three terms each champion a
    // DIFFERENT doc (tier 1 fills); query B's single term appears in
    // three docs but its champion list keeps one (underfull -> tier 2).
    val corpus = Seq(
      (1L, "aa bb cc"), (2L, "aa dd"), (3L, "aa ee"), (4L, "zz"))
      .toDF("did", "text")
    val queries = Seq((100L, "bb dd ee"), (200L, "aa"))
      .toDF("qid", "text")
    val impacts = Retrieval.impactIndex(
      Retrieval.postingsIndex(corpus)).localCheckpoint()
    val pruned = Retrieval.prunedImpactIndex(impacts, keepTop = 1)
      .localCheckpoint()
    val qTok = Retrieval.queryTerms(queries)
    val out = Retrieval.tieredImpactProbe(qTok, impacts, pruned,
      topN = 3).collect()
    val a = out.filter(_.getLong(0) == 100L)
    val b = out.filter(_.getLong(0) == 200L)
    assert(a.length === 3 && a.forall(_.getInt(5) === 1),
      s"query A must fill from tier 1: ${a.mkString(", ")}")
    assert(b.length === 3 && b.forall(_.getInt(5) === 2),
      s"query B must fall back to tier 2: ${b.mkString(", ")}")
    // the fallback rows ARE the full-index probe's rows
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(_.toSeq).sortBy(_.toString).toSeq
    assert(rows(Retrieval.impactProbe(
        qTok.filter(col("qid") === 200L), impacts, topN = 3)) ===
      b.map(_.toSeq.dropRight(1)).sortBy(_.toString).toSeq)
  }

  test("rankedOverlap: hand-computed RBO at p=1/2 — identical, " +
    "disjoint, and same-set-reversed runs") {
    import spark.implicits._
    def run(rows: (Long, Long, Int)*) =
      rows.toSeq.toDF("qid", "did", "rk")
    val a3 = run((1L, 10L, 1), (1L, 11L, 2), (1L, 12L, 3))
    // identical at k=3: terms 1e6/2, 2e6/8, 3e6/24 -> 875000
    val same = Retrieval.rankedOverlap(a3, a3, k = 3).collect()
    assert(same.map(r => (r.getLong(1), r.getLong(2), r.getLong(3)))
      .toSeq === Seq((875000L, 3L, 1000000L)))
    // reversed order, same set: overlaps 0,1,3 -> 0 + 125000 + 125000
    val rev = run((1L, 12L, 1), (1L, 11L, 2), (1L, 10L, 3))
    val r = Retrieval.rankedOverlap(a3, rev, k = 3).collect()
    assert(r.map(x => (x.getLong(1), x.getLong(2), x.getLong(3)))
      .toSeq === Seq((250000L, 3L, 1000000L)))
    // top-weighting: same set but scrambled order scores well below
    // identical, while full-depth agreement stays 1.0
    assert(r.head.getLong(1) < same.head.getLong(1))
    // disjoint runs: everything zero, and the query still reports
    val b3 = run((1L, 20L, 1), (1L, 21L, 2), (1L, 22L, 3))
    val z = Retrieval.rankedOverlap(a3, b3, k = 3).collect()
    assert(z.map(x => (x.getLong(1), x.getLong(2), x.getLong(3)))
      .toSeq === Seq((0L, 0L, 0L)))
    // identical at k=10 truncates to 999022 (sum of 1e6 div 2^d)
    val a10 = run((1 to 10).map(i => (1L, 100L + i, i)): _*)
    val s10 = Retrieval.rankedOverlap(a10, a10, k = 10).collect()
    assert(s10.head.getLong(1) === 999022L)
  }

  test("bm25fIndex: one row per (doc, term) with both fields' tfs — " +
    "a both-fields term pivots onto a single row (one saturation)") {
    import spark.implicits._
    // "x" appears twice in the title and once in the body; "y" only in
    // the body; title = first 6 tokens
    val corpus = Seq((1L, "x a x b c d x y z")).toDF("did", "text")
    val rows = Retrieval.bm25fIndex(corpus, titleLen = 6)
      .collect().map(r => (r.getString(1),
        (r.getLong(2), r.getLong(3), r.getLong(4), r.getLong(5))))
      .toMap
    // (tf_t, tf_b, tl, bl): x = 2 title + 1 body ON ONE ROW — the
    // property that makes BM25F saturate combined evidence once
    assert(rows("x") === ((2L, 1L, 6L, 3L)))
    assert(rows("y") === ((0L, 1L, 6L, 3L)))
    assert(rows("a") === ((1L, 0L, 6L, 3L)))
    assert(rows.size === 9 - 2) // 9 tokens, x deduped across fields +
                                // one in-title dup: distinct terms = 7
    // a short doc: everything in the title, bl = 0 and no body terms
    val short = Seq((2L, "p q")).toDF("did", "text")
    val sr = Retrieval.bm25fIndex(short, titleLen = 6)
      .collect().map(r => (r.getString(1),
        (r.getLong(2), r.getLong(3), r.getLong(4), r.getLong(5))))
      .toMap
    assert(sr("p") === ((1L, 0L, 2L, 0L)) && sr.size === 2)
  }

  test("rankedOverlap: a query absent from runB scores zero; a query " +
    "absent from runA is absent from the report (the documented contract)") {
    import spark.implicits._
    val a = Seq((1L, 10L, 1), (2L, 20L, 1)).toDF("qid", "did", "rk")
    val b = Seq((1L, 10L, 1), (3L, 30L, 1)).toDF("qid", "did", "rk")
    val out = Retrieval.rankedOverlap(a, b, k = 3)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toMap
    assert(out.keySet === Set(1L, 2L)) // qid 3 (B-only) absent
    assert(out(2L) === 0L)             // qid 2 (A-only) scores 0
    assert(out(1L) > 0L)
  }

  test("q107 plan: no cartesian term stage, rank pushdown in windows") {
    val df = Retrieval.qHybridRrf(spark, dir)
    df.collect()
    // final adaptive plan only (toString appends "== Initial Plan ==",
    // which would double-count every node)
    val p = df.queryExecution.executedPlan.toString
      .split("(?m)^\\+- == Initial Plan ==$")(0)
    // the vector channel's broadcast of the QUERY side is the ONE
    // intended nested-loop stage; the term channel must stay an
    // equi-join, and the rank filters must specialize the window sorts
    assert(!p.contains("CartesianProduct"), p)
    assert("BroadcastNestedLoopJoin".r.findAllIn(p).size <= 1, p)
    assert(p.contains("WindowGroupLimit"), p)
  }

  test("prunedImpactIndex: lossless at full width, hard per-term " +
    "ceiling when narrow, kept set == driver top-K by (impact desc, " +
    "did), and the build plan runs WindowGroupLimit") {
    val d = spark.read.parquet(s"$dir/documents.parquet")
    val queries = d.filter(pmod(col("doc_id"), lit(100L)) === 0L)
      .select(col("doc_id").as("qid"), col("text"))
    val corpus = d.filter(pmod(col("doc_id"), lit(100L)) =!= 0L)
      .select(col("doc_id").as("did"), col("text"))
    val impacts = Retrieval.impactIndex(
      Retrieval.postingsIndex(corpus)).localCheckpoint()
    val qTok = Retrieval.queryTerms(queries).localCheckpoint()
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.select("qid", "did", "bm25_micro", "n_match", "rk")
        .collect().map(_.toSeq).sortBy(_.toString).toSeq
    // lossless-at-full-width certificate: keepTop >= max df keeps
    // every posting, so the pruned probe IS the exact probe
    val maxDf = impacts.agg(max("df")).head().getLong(0).toInt
    val exact = rows(Retrieval.impactProbe(qTok, impacts, topN = 10))
    assert(rows(Retrieval.impactProbe(qTok,
      Retrieval.prunedImpactIndex(impacts, maxDf), topN = 10)) === exact)
    assert(exact.nonEmpty)
    // narrow pruning: hard per-term ceiling holds, the relation is a
    // strict subset, and (on this dense-df corpus) the ranking moved
    val keep = 3
    val pruned = Retrieval.prunedImpactIndex(impacts, keep)
      .localCheckpoint()
    val perTok = pruned.groupBy("tok").count().agg(max("count"))
      .head().getLong(0)
    assert(perTok <= keep)
    assert(pruned.count() < impacts.count())
    assert(pruned.join(impacts,
      Seq("tok", "did", "df", "impact_micro"), "left_anti").isEmpty)
    assert(rows(Retrieval.impactProbe(qTok, pruned, topN = 10)) !== exact)
    // pruning narrows postings, never the set of answered queries
    def answered(idx: org.apache.spark.sql.DataFrame): Long =
      Retrieval.impactProbe(qTok, idx, topN = 5).select("qid").distinct()
        .count()
    assert(answered(pruned) === answered(impacts))
    // kept dids per token == driver-side top-K by (impact desc, did)
    val byTok = impacts.select("tok", "did", "impact_micro").collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2)))
      .groupBy(_._1)
    val keptByTok = pruned.select("tok", "did").collect()
      .map(r => (r.getString(0), r.getLong(1)))
      .groupBy(_._1).map { case (t, xs) => t -> xs.map(_._2).toSet }
    byTok.foreach { case (t, xs) =>
      val want = xs.sortBy { case (_, did, imp) => (-imp, did) }
        .take(keep).map(_._2).toSet
      assert(keptByTok.getOrElse(t, Set.empty) === want, s"tok $t")
    }
    // the rank-truncating filter sits directly above the window, so
    // the per-term sort specializes to WindowGroupLimit (heap, not a
    // full per-partition sort) — the q114 candidate-truncation lesson
    val p = Retrieval.prunedImpactIndex(impacts, keep)
      .queryExecution.executedPlan.toString
    assert(p.contains("WindowGroupLimit"), p)
  }

  test("qlDirichletProbe == driver BigInt replication on the real " +
    "corpus; unseen terms zero; candidateMaxDf cuts generation but " +
    "still charges; indexedQueryTerms enforces the width budget") {
    import spark.implicits._
    val mu = 200L
    val d = spark.read.parquet(s"$dir/documents.parquet")
      .select("doc_id", "text").collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    def toks(t: String): Seq[String] =
      t.toLowerCase.replaceAll("\\s+", " ").split(" ").toSeq
    val dids = d.keys.filter(_ % 100 != 0).toSeq.sorted
    val qids = d.keys.filter(_ % 100 == 0).toSeq.sorted
    val tf = dids.map(did => did ->
      toks(d(did)).groupBy(identity).map { case (t, xs) =>
        t -> xs.size.toLong }).toMap
    val dl = dids.map(did => did -> toks(d(did)).size.toLong).toMap
    val cf: Map[String, Long] = tf.values.toSeq.flatMap(_.toSeq)
      .groupBy(_._1)
      .map { case (t, xs) => t -> xs.map(_._2).sum }
    val cTot = dl.values.sum
    val expected = qids.flatMap { qid =>
      val slots = toks(d(qid)).distinct.sorted.take(3)
      val cand = dids.filter(did => slots.exists(tf(did).contains))
      val scored: Seq[(Long, BigInt, Long)] = cand.map { did =>
        val ql = slots.map { t =>
          val smooth = BigInt(mu) * BigInt(cf.getOrElse(t, 0L)) *
            1000000 / cTot
          (BigInt(tf(did).getOrElse(t, 0L)) * 1000000 + smooth) *
            10000 / (dl(did) + mu)
        }.product
        val nMatch = slots.count(t => tf(did).getOrElse(t, 0L) > 0L)
        (did, ql, nMatch.toLong)
      }
      scored.sortBy { case (did, ql, _) => (-ql, did) }.take(10)
        .zipWithIndex.map { case ((did, ql, n), i) =>
          (qid, did, ql.toString, n, i + 1) }
    }.sortBy(_.toString)
    val docsDf = spark.read.parquet(s"$dir/documents.parquet")
    val isQuery = pmod(col("doc_id"), lit(100L)) === 0L
    val got = Retrieval.qlDirichletProbe(
      Retrieval.indexedQueryTerms(
        docsDf.filter(isQuery)
          .select(col("doc_id").as("qid"), col("text")), m = 3),
      Retrieval.postingsIndex(docsDf.filter(!isQuery)
        .select(col("doc_id").as("did"), col("text"))),
      topN = 10, mu = mu)
      .select("qid", "did", "ql_scaled", "n_match", "rk").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getString(2),
        r.getLong(3), r.getInt(4))).toSeq.sortBy(_.toString)
    assert(got === expected)
    assert(got.nonEmpty)
    assert(got.forall(r => BigInt(r._3) > 0),
      "non-positive QL score on a matching candidate set")
    // unseen-in-collection term: cf = 0 and tf = 0 give a zero factor,
    // so the whole product zeroes — the LM contract (smoothing charges
    // absent-but-seen terms; truly unseen terms annihilate)
    val crafted = Seq((1L, "a a b"), (2L, "a c")).toDF("did", "text")
    val cpost = Retrieval.postingsIndex(crafted)
    val qZ = Seq((7L, 1, "a"), (7L, 2, "zz")).toDF("qid", "ti", "tok")
    val zRows = Retrieval.qlDirichletProbe(qZ, cpost, topN = 10)
      .select("did", "ql_scaled").collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(zRows.keySet === Set(1L, 2L))
    assert(zRows.values.toSet === Set("0"))
    // candidateMaxDf: 'a' (df 2) stops GENERATING candidates, so doc 2
    // (matches only 'a') disappears; doc 1 still enters via 'b' and
    // its score still CHARGES 'a' at the real tf — semantics intact
    val qAB = Seq((7L, 1, "a"), (7L, 2, "b")).toDF("qid", "ti", "tok")
    val open = Retrieval.qlDirichletProbe(qAB, cpost, topN = 10)
      .select("did", "ql_scaled").collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    val cut = Retrieval.qlDirichletProbe(qAB, cpost, topN = 10,
      candidateMaxDf = 1L)
      .select("did", "ql_scaled").collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(open.keySet === Set(1L, 2L))
    assert(cut.keySet === Set(1L))
    assert(cut(1L) === open(1L))
    // width budget is enforced at the term-relation boundary
    val qdf = Seq((1L, "a b c d")).toDF("qid", "text")
    intercept[IllegalArgumentException] {
      Retrieval.indexedQueryTerms(qdf, m = 4)
    }
  }

  test("slopPhraseProbe: slop=0 == phraseProbe on the real corpus; " +
    "ordered (reversed pair never matches); monotone in slop") {
    import org.apache.spark.sql.functions._
    val d = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    val isQuery = pmod(col("doc_id"), lit(100L)) === 0L
    val corpus = d.filter(!isQuery)
      .select(col("doc_id").as("did"), col("text"))
    val positions = Retrieval.tokenPositions(corpus)
    val phrases = d.filter(isQuery).select(col("doc_id").as("qid"),
      element_at(graft.expressions.WordShingles.shingles(col("text"), 2),
        1).as("phrase"))
    val pairs = phrases.select(col("qid"),
      split_part(col("phrase"), lit(" "), lit(1)).as("tok_a"),
      split_part(col("phrase"), lit(" "), lit(2)).as("tok_b"))
    def occs(df: org.apache.spark.sql.DataFrame) =
      df.select("qid", "did", "n_occ")
        .collect().map(_.toSeq).sortBy(_.toString).toSeq
    // the internal certificate: adjacency-ordered pairs ARE the bigram
    // occurrences phraseProbe counts (topN wide open on this corpus)
    val viaSlop0 = occs(Retrieval.slopPhraseProbe(pairs, positions,
      slop = 0, topN = 100000))
    assert(viaSlop0 === occs(Retrieval.phraseProbe(phrases, positions,
      topN = 100000)))
    assert(viaSlop0.nonEmpty)
    // orderedness: the REVERSED pair must never count an occurrence
    // that only exists in forward order — build a crafted doc where
    // "x y" appears but "y x" does not
    import spark.implicits._
    val crafted = Seq((1L, "x y z x y")).toDF("did", "text")
    val cpos = Retrieval.tokenPositions(crafted)
    val fwd = Seq((7L, "x", "y")).toDF("qid", "tok_a", "tok_b")
    val rev = Seq((7L, "y", "x")).toDF("qid", "tok_a", "tok_b")
    assert(Retrieval.slopPhraseProbe(fwd, cpos, slop = 0, topN = 10)
      .head().getAs[Long]("n_occ") === 2L)
    assert(Retrieval.slopPhraseProbe(rev, cpos, slop = 0, topN = 10)
      .isEmpty) // y->x gaps are 2 (pos 1->3), outside slop 0
    // ...but slop = 1 admits exactly that gap-1 ordered pair
    assert(Retrieval.slopPhraseProbe(rev, cpos, slop = 1, topN = 10)
      .head().getAs[Long]("n_occ") === 1L)
    // monotonicity on the real corpus: widening slop never loses pairs
    val s0 = viaSlop0.map(r => (r(0), r(1)) -> r(2).asInstanceOf[Long]).toMap
    val s2 = occs(Retrieval.slopPhraseProbe(pairs, positions,
      slop = 2, topN = 100000))
      .map(r => (r(0), r(1)) -> r(2).asInstanceOf[Long]).toMap
    s0.foreach { case (k, n) =>
      assert(s2.getOrElse(k, 0L) >= n, s"slop widened but $k lost pairs")
    }
  }
}
