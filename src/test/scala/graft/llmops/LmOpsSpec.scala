package graft.llmops

import org.apache.spark.sql.functions._

import graft.SparkSpec

/** Semantics of the LM-flavored corpus statistics (value parity vs
  * DuckDB is the driver oracle's job — q51/q53/q55/q56; these pin the
  * mathematical invariants and the independent closed forms).
  */
class LmOpsSpec extends SparkSpec {

  private val dir = "/root/testdata/sf0.001"

  test("zipf fit: slope negative, matches a driver-side OLS on the same points") {
    val out = LmOps.q51ZipfFit(spark, dir).collect()
    assert(out.nonEmpty)
    out.foreach { r =>
      assert(r.getAs[Double]("zipf_slope") < 0.0,
        s"lang ${r.getString(0)}: frequency must fall with rank")
    }
    // independent replication for one language: rank the terms in the
    // driver, OLS over (log10 rank, log10 tf) with the same 6-decimal
    // quantization
    val lang = out.head.getString(0)
    val tf = spark.read.parquet(s"$dir/documents.parquet")
      .filter(col("lang") === lang)
      .select(explode(graft.expressions.WordShingles.shingles(col("text"), 1))
        .as("term"))
      .groupBy("term").agg(count(lit(1)).as("tf"))
      .collect().map(r => r.getString(0) -> r.getLong(1))
    val ranked = tf.sortBy { case (t, c) => (-c, t) }.take(100).zipWithIndex
      .map { case ((_, c), i) =>
        def q6(v: Double) = BigDecimal(v)
          .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
        (q6(math.log10(i + 1.0)), q6(math.log10(c.toDouble)))
      }
    val n = ranked.length.toDouble
    val sx = ranked.map(_._1).sum; val sy = ranked.map(_._2).sum
    val sxx = ranked.map(p => p._1 * p._1).sum
    val sxy = ranked.map(p => p._1 * p._2).sum
    val slope = (n * sxy - sx * sy) / (n * sxx - sx * sx)
    val got = out.find(_.getString(0) == lang).get.getAs[Double]("zipf_slope")
    assert(math.abs(got - slope) < 1e-4, s"lang $lang: $got vs $slope")
  }

  test("bigram model: P(w2|w1) sums to 1 per left token") {
    val bg = spark.read.parquet(s"$dir/documents.parquet")
      .select(col("doc_id"),
        explode(graft.expressions.WordShingles.shingles(col("text"), 2))
          .as("bg"))
      .groupBy("doc_id", "bg").agg(count(lit(1)).as("tf"))
    val sums = LmOps.bigramModel(bg)
      .select(substring_index(col("bg"), " ", 1).as("w1"),
        exp(-col("nll").cast("double")).as("p"))
      .groupBy("w1").agg(sum("p").as("total"))
      .collect()
    assert(sums.nonEmpty)
    sums.foreach { r =>
      // nll is quantized to 6 decimals, so the sum is 1 ± n·5e-7
      assert(math.abs(r.getAs[Double]("total") - 1.0) < 1e-3,
        s"w1=${r.getString(0)}")
    }
  }

  test("lm score: every doc scored, avg_nll within the model's range") {
    val out = LmOps.q53LmScore(spark, dir)
    val n = spark.read.parquet(s"$dir/documents.parquet").count()
    assert(out.count() === n)
    out.collect().foreach { r =>
      val nll = r.getAs[Double]("avg_nll")
      assert(nll >= 0.0 && nll < 20.0, s"doc ${r.getLong(0)}: $nll")
    }
  }

  test("length calibration: buckets partition the corpus, ~10% each") {
    val out = LmOps.q55LengthCalibration(spark, dir).collect()
    val total = out.map(_.getAs[Long]("n_docs")).sum
    val n = spark.read.parquet(s"$dir/documents.parquet").count()
    assert(total === n)
    assert(out.map(_.getAs[Long]("decile")).toSeq.sorted ===
      (1L to out.length))
    // boundaries are exact deciles: each bucket holds ~n/10 (value
    // ties can shift a few docs between adjacent buckets)
    out.foreach { r =>
      val d = r.getAs[Long]("n_docs")
      assert(d > 0 && d < n / 3, s"decile ${r.getAs[Long]("decile")}: $d")
      assert(r.getAs[Long]("min_tokens") <= r.getAs[Long]("max_tokens"))
    }
  }

  test("approx decile boundaries track the exact ones at high accuracy") {
    val d = spark.read.parquet(s"$dir/documents.parquet")
      .select(col("doc_id"), TextOps.bpeTokenCount(col("text")).as("n_tokens"))
    val approx = LmOps.approxDecileBoundaries(d, "n_tokens").head()
    val exact = d
      .agg(sort_array(collect_list(col("n_tokens").cast("double"))).as("ts"))
      .select((1 to 9).map(k =>
        LmOps.interpQuantile(col("ts"), k / 10.0).as(s"b$k")): _*)
      .head()
    (0 until 9).foreach { i =>
      // GK at accuracy 10000 on 500 rows is rank-exact; allow the
      // nearest-observation vs interpolated-value gap
      assert(math.abs(approx.getDouble(i) - exact.getDouble(i)) <=
        math.max(2.0, exact.getDouble(i) * 0.02), s"b${i + 1}")
    }
  }

  test("stratum quantiles: p25<=p50<=p75, each within the stratum range") {
    val docs = spark.read.parquet(s"$dir/documents.parquet")
    val ranges = docs.groupBy("lang", "source")
      .agg(min("n_chars").as("mn"), max("n_chars").as("mx"))
      .collect()
      .map(r => (r.getString(0), r.getString(1)) ->
        (r.getLong(2).toDouble, r.getLong(3).toDouble)).toMap
    val out = LmOps.q56StratumQuantiles(spark, dir).collect()
    assert(out.length === ranges.size)
    out.foreach { r =>
      val (mn, mx) = ranges((r.getString(0), r.getString(1)))
      val (p25, p50, p75) = (r.getAs[Double]("p25_chars"),
        r.getAs[Double]("p50_chars"), r.getAs[Double]("p75_chars"))
      assert(p25 <= p50 && p50 <= p75)
      assert(p25 >= mn && p75 <= mx)
    }
  }

  test("chunkDocuments == driver sliding-window replication; invariants hold") {
    import spark.implicits._
    import org.apache.spark.sql.functions._
    val (chunk, overlap) = (7, 2)
    val step = chunk - overlap
    // lengths straddling every edge: empty-ish, < chunk, == chunk,
    // == chunk+1, multiple of step, ragged tail
    val docs = Seq(1, 3, 7, 8, 17, 23, 50).zipWithIndex.map {
      case (n, i) => (i.toLong, (0 until n).map(t => s"w${i}_$t").mkString(" "))
    }
    val got = TextOps.chunkDocuments(docs.toDF("doc_id", "text"),
        chunk, overlap)
      .select("doc_id", "chunk_idx", "chunk_text", "n_tokens")
      .collect()
      .map(r => ((r.getLong(0), r.getLong(1)), (r.getString(2), r.getLong(3))))
      .toMap
    val want = docs.flatMap { case (id, text) =>
      val toks = text.split(" ").toSeq
      val n = toks.length
      val nCh = if (n <= chunk) 1
        else math.ceil((n - chunk).toDouble / step).toInt + 1
      (0 until nCh).map { ci =>
        val sl = toks.slice(ci * step, ci * step + chunk)
        ((id, ci.toLong), (sl.mkString(" "), sl.length.toLong))
      }
    }.toMap
    assert(got === want)
    // invariants: full coverage (every token appears in some chunk),
    // consecutive chunks share exactly `overlap` tokens, every chunk
    // except possibly the last is full-length
    docs.foreach { case (id, text) =>
      val n = text.split(" ").length
      val chunks = got.keys.filter(_._1 == id).map(_._2).toSeq.sorted
      val last = chunks.max
      assert((last * step + got((id, last))._2) === n, s"doc $id coverage")
      chunks.init.foreach(ci => assert(got((id, ci))._2 === chunk.toLong))
    }
  }

  test("retention cohorts: week0 retention is 1, offsets bounded by span") {
    val out = graft.operators.EventQueries
      .q52RetentionCohorts(spark, dir).collect()
    assert(out.nonEmpty)
    val byCohort = out.groupBy(_.getAs[Long]("cohort_week"))
    byCohort.foreach { case (cw, rows) =>
      val w0 = rows.find(_.getAs[Long]("week_offset") == 0L)
      assert(w0.isDefined, s"cohort $cw has no week-0 row")
      assert(w0.get.getAs[Double]("retention") === 1.0)
      rows.foreach { r =>
        val ret = r.getAs[Double]("retention")
        assert(ret > 0.0 && ret <= 1.0)
        // 30-day corpus → offsets 0..4
        assert(r.getAs[Long]("week_offset") >= 0L &&
          r.getAs[Long]("week_offset") <= 4L)
      }
    }
  }

  test("collocations: hand-computed lift on a crafted corpus; " +
    "single-token docs count unigrams but never pairs; minCount floors") {
    import spark.implicits._
    // unigrams: a=3, b=2, c=2 → N_uni=7 (doc 2's lone token COUNTS)
    // bigrams (docs with >=2 tokens only): "a b"×2, "b a", "a c" → N_bi=4
    val corpus = Seq(
      (1L, "a b a b"), (2L, "c"), (3L, "a c")).toDF("doc_id", "text")
    val got = TextOps.collocations(corpus, minCount = 1L, topK = 10)
      .collect()
      .map(r => (r.getString(0), r.getString(1), r.getLong(2),
        r.getLong(3), r.getLong(4), r.getLong(5)))
    // lift = ((c_ab·7)·7)/((4·c_a)·c_b), micro-quantized:
    //   "a b": 98/24 = 4.0833… → 4083333;  "a c"/"b a": 49/24 → 2041667
    // tie at 2041667 breaks on tok_a: "a c" before "b a"
    assert(got.toSeq === Seq(
      ("a", "b", 2L, 3L, 2L, 4083333L),
      ("a", "c", 1L, 3L, 2L, 2041667L),
      ("b", "a", 1L, 2L, 3L, 2041667L)))
    // the floor drops every pair below minCount
    val floored = TextOps.collocations(corpus, minCount = 2L, topK = 10)
      .select("tok_a", "tok_b").as[(String, String)].collect()
    assert(floored.toSeq === Seq(("a", "b")))
    // the gate corpus: every reported lift is positive
    val gate = TextOps.collocations(
      spark.read.parquet(s"$dir/documents.parquet").select("doc_id", "text"),
      minCount = 5L, topK = 20).collect()
    assert(gate.forall(_.getLong(5) > 0L), "non-positive lift")
  }

  test("sequence packing: two-level prefix sum == hand-computed naive " +
    "cumsum across buckets; div/mod placement exact") {
    import spark.implicits._
    // bucketWidth = 3 puts these five docs in four buckets (0,0,1,2,3)
    // so the bucket-prefix join and the per-bucket window both carry
    // real work; slots are n_tokens + 1 separator
    val corpus = Seq(
      (0L, "a b c"),   // slot 4, start 0
      (2L, "d e"),     // slot 3, start 4
      (5L, "f"),       // slot 2, start 7
      (7L, "g h i j"), // slot 5, start 9
      (11L, "k")       //          start 14
    ).toDF("doc_id", "text")
    val got = TextOps.concatAndChunk(corpus, ctxLen = 4, sepTokens = 1,
        bucketWidth = 3L)
      .orderBy("doc_id")
      .select("doc_id", "n_tokens", "start_tok", "seq_id", "seq_offset")
      .as[(Long, Long, Long, Long, Long)].collect()
    assert(got.toSeq === Seq(
      (0L, 3L, 0L, 0L, 0L),
      (2L, 2L, 4L, 1L, 0L),
      (5L, 1L, 7L, 1L, 3L),
      (7L, 4L, 9L, 2L, 1L),
      (11L, 1L, 14L, 3L, 2L)))
    // separator-free packing: starts collapse to plain token prefix
    val noSep = TextOps.concatAndChunk(corpus, ctxLen = 4, sepTokens = 0,
        bucketWidth = 3L)
      .orderBy("doc_id").select("start_tok").as[Long].collect()
    assert(noSep.toSeq === Seq(0L, 3L, 5L, 6L, 10L))
    // the gate corpus: starts strictly increase in doc_id order and
    // every offset sits inside the context window
    val gate = TextOps.concatAndChunk(
        spark.read.parquet(s"$dir/documents.parquet").select("doc_id", "text"),
        ctxLen = 512)
      .orderBy("doc_id").select("start_tok", "seq_offset")
      .as[(Long, Long)].collect()
    assert(gate.zip(gate.tail).forall { case (a, b) => a._1 < b._1 },
      "start_tok must strictly increase")
    assert(gate.forall { case (_, off) => off >= 0L && off < 512L },
      "offset outside ctx")
  }

  test("collocation counts split: merged landed+batch counts reproduce " +
    "the one-shot report exactly") {
    import spark.implicits._
    val all = Seq((1L, "a b a b"), (2L, "c"), (3L, "a c"),
      (4L, "b c a"), (5L, "c a")).toDF("doc_id", "text")
    val landed = all.filter(col("doc_id") <= 3L)
    val batch = all.filter(col("doc_id") > 3L)
    val (lu, lb) = TextOps.collocationCounts(landed)
    val (bu, bb) = TextOps.collocationCounts(batch)
    // counts are additive: merge is a union + re-aggregate over the
    // count relations — landed docs never re-tokenized
    val mu = TextOps.mergeCounts(lu, bu, "term", "c_term").localCheckpoint()
    val mb = TextOps.mergeCounts(lb, bb, "gram", "c_ab").localCheckpoint()
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(_.toSeq).toSeq
    assert(rows(TextOps.collocationsFromCounts(mu, mb, minCount = 1L,
      topK = 10)) === rows(TextOps.collocations(all, minCount = 1L,
      topK = 10)))
  }

  test("concatAndChunkAppend: append == full rebuild when batch ids " +
    "follow landed; an interleaved id fails loudly") {
    import spark.implicits._
    val landedDocs = Seq(
      (0L, "a b c"), (2L, "d e"), (5L, "f")).toDF("doc_id", "text")
    val batchDocs = Seq(
      (7L, "g h i j"), (11L, "k")).toDF("doc_id", "text")
    def rows(df: org.apache.spark.sql.DataFrame) = df
      .select("doc_id", "n_tokens", "start_tok", "seq_id", "seq_offset")
      .as[(Long, Long, Long, Long, Long)].collect().sortBy(_._1).toSeq
    val landed = TextOps.concatAndChunk(landedDocs, ctxLen = 4,
      sepTokens = 1, bucketWidth = 3L)
    val appended = rows(TextOps.concatAndChunkAppend(batchDocs, landed,
      ctxLen = 4, sepTokens = 1, bucketWidth = 3L))
    val rebuilt = rows(TextOps.concatAndChunk(
      landedDocs.unionByName(batchDocs), ctxLen = 4, sepTokens = 1,
      bucketWidth = 3L)).filter(_._1 >= 7L)
    assert(appended === rebuilt)
    // empty landed: the append degrades to a plain full placement
    val fresh = rows(TextOps.concatAndChunkAppend(batchDocs,
      landed.filter(col("doc_id") < 0L), ctxLen = 4, sepTokens = 1,
      bucketWidth = 3L))
    assert(fresh === rows(TextOps.concatAndChunk(batchDocs, ctxLen = 4,
      sepTokens = 1, bucketWidth = 3L)))
    // interleaved id (3 < landed max 5) must throw, not silently shift
    val e = intercept[Exception] {
      TextOps.concatAndChunkAppend(
        Seq((3L, "z z")).toDF("doc_id", "text"), landed,
        ctxLen = 4, sepTokens = 1, bucketWidth = 3L).collect()
    }
    def chain(t: Throwable): String =
      if (t == null) "" else t.getMessage + "|" + chain(t.getCause)
    assert(chain(e).contains("concatAndChunkAppend"), chain(e))
  }

  test("epochShuffle: keys injective, same epoch replays, consecutive " +
    "epochs decorrelate at the random-permutation displacement") {
    import spark.implicits._
    // injectivity: the Feistel is bijective on [0, 2^62) by
    // construction (each round is invertible); pin it empirically on
    // 65536 consecutive ids — any collision would break the
    // no-tie-break permutation contract
    val ids = spark.range(65536L).toDF("seq_id")
    val keyed = ids.select(
      TextOps.epochShuffleKey(col("seq_id"), 1L).as("k"))
    assert(keyed.distinct().count() === 65536L)
    // determinism: the same epoch always replays the identical order
    val o1 = TextOps.epochShuffle(ids.limit(4096), epoch = 5L)
      .select("seq_id").collect().map(_.getLong(0)).toSeq
    val o2 = TextOps.epochShuffle(ids.limit(4096), epoch = 5L)
      .select("seq_id").collect().map(_.getLong(0)).toSeq
    assert(o1 === o2)
    // decorrelation: mean |rank_e1 - rank_e2| over 4096 ids must sit
    // within 10% of n/3, the expectation for two INDEPENDENT uniform
    // permutations (measured: 1370.3 for epochs 1→2, 1377.1 for 2→3;
    // n/3 = 1365.3) — a lazy key that only rotated or reflected the
    // order would land near 0 or n/2 and fail loudly
    val n = 4096
    def ranks(epoch: Long): Map[Long, Int] =
      TextOps.epochShuffle(ids.limit(n), epoch).select("seq_id")
        .collect().map(_.getLong(0)).zipWithIndex.toMap
    for ((e1, e2) <- Seq((1L, 2L), (2L, 3L))) {
      val r1 = ranks(e1)
      val r2 = ranks(e2)
      val meanDisp = r1.keys.toSeq
        .map(d => math.abs(r1(d) - r2(d)).toDouble).sum / n
      assert(meanDisp > n / 3.0 * 0.9 && meanDisp < n / 3.0 * 1.1,
        s"epochs $e1->$e2: mean displacement $meanDisp vs n/3 = ${n / 3.0}")
    }
    // domain guard: ids outside [0, 2^62) fail loudly row-level
    val bad = intercept[Exception] {
      Seq(-1L).toDF("seq_id")
        .select(TextOps.epochShuffleKey(col("seq_id"), 1L)).collect()
    }
    def chain2(t: Throwable): String =
      if (t == null) "" else t.getMessage + "|" + chain2(t.getCause)
    assert(chain2(bad).contains("epochShuffleKey"), chain2(bad))
  }
}
