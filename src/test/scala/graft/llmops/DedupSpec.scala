package graft.llmops

import org.apache.spark.sql.functions._

import graft.SparkSpec
import graft.expressions.{MinHashSignature, SimHash64, WordShingles}

/** The native MinHashSignature kernel must be bit-identical to the
  * HOF/md5 formulation (which the DuckDB oracle mirrors), and the
  * SimHash64 kernel to an independent plain-Scala reference.
  */
class DedupSpec extends SparkSpec {

  test("native MinHash kernel == HOF md5 formulation on real docs") {
    val docs = spark.read
      .parquet("/root/testdata/sf0.001/documents.parquet")
      .withColumn("toks", Dedup.tokens(col("text")))
      .withColumn("sh",
        array_distinct(Dedup.shinglesFromTokens(col("toks"))))
    val cmp = docs.select(
      Dedup.minhash(col("sh"), 16).as("hof"),
      MinHashSignature.signature(col("sh"), 16).as("native"))
    assert(cmp.count() > 0)
    assert(cmp.filter(col("hof") =!= col("native")).count() === 0L)
  }

  test("dedupIncrement: anti-join vs landed index + within-batch dedup") {
    import spark.implicits._
    val landed = Seq((100L, "alpha beta gamma"), (101L, "delta epsilon"))
      .toDF("doc_id", "text")
    val idx = Dedup.fingerprintIndex(landed)
    assert(idx.count() === 2L)
    val batch = Seq(
      (200L, "ALPHA   beta gamma"), // dup of landed 100 (normalized)
      (201L, "zeta eta"),           // fresh
      (202L, "zeta   ETA"),         // within-batch dup of 201
      (203L, "theta iota")          // fresh
    ).toDF("doc_id", "text")
    val kept = Dedup.dedupIncrement(batch, idx)
      .select("doc_id").collect().map(_.getLong(0)).sorted
    assert(kept.sameElements(Array(201L, 203L)))
    // landing the survivors keeps the invariant: replaying the same
    // batch against the grown index lands nothing
    val grown = idx.unionByName(
      Dedup.fingerprintIndex(batch.filter(col("doc_id").isin(201L, 203L))))
      .distinct()
    assert(Dedup.dedupIncrement(batch, grown).count() === 0L)
  }

  test("dedupIncrement: custom id/text column names and reserved guard") {
    import spark.implicits._
    val landed = Seq((1L, "alpha beta")).toDF("uid", "body")
    val idx = landed.select(
      graft.llmops.TextOps.fingerprint(col("body")).as("fp")).distinct()
    val batch = Seq(
      (10L, "ALPHA  beta"), // dup of landed
      (11L, "fresh text"),
      (12L, "fresh   TEXT") // within-batch dup of 11
    ).toDF("uid", "body")
    val kept = Dedup.dedupIncrement(batch, idx, idCol = "uid",
        textCol = "body")
      .select("uid").collect().map(_.getLong(0)).sorted
    assert(kept.sameElements(Array(11L)))
    // a caller column named __fp must be rejected, not clobbered
    val clash = batch.withColumn("__fp", lit(0L))
    assertThrows[IllegalArgumentException] {
      Dedup.dedupIncrement(clash, idx, idCol = "uid", textCol = "body")
    }
  }

  test("native kernel handles edge shapes") {
    import spark.implicits._
    val df = Seq(
      Seq("one shingle only"),
      Seq("a b c", "b c d", "a b c") // duplicates do not affect the min
    ).toDF("sh")
    val r = df.select(
      Dedup.minhash(col("sh"), 4).as("hof"),
      MinHashSignature.signature(col("sh"), 4).as("native")).collect()
    r.foreach { row =>
      assert(row.getSeq[String](0) === row.getSeq[String](1))
    }
  }

  test("native WordShingles kernel == HOF tokens+shingles on real docs") {
    val cmp = spark.read
      .parquet("/root/testdata/sf0.001/documents.parquet")
      .withColumn("toks", Dedup.tokens(col("text")))
      .select(
        Dedup.shinglesFromTokens(col("toks")).as("hof"),
        WordShingles.shingles(col("text")).as("native"))
    assert(cmp.count() > 0)
    assert(cmp.filter(col("hof") =!= col("native")).count() === 0L)
  }

  test("native WordShingles kernel == HOF on whitespace edge shapes") {
    import spark.implicits._
    val rows = Seq(
      "",                       // one empty token
      "   ",                    // leading run -> ["", ""]
      "one",
      "one two",
      "one two three",
      " lead space",            // leading empty token
      "trail space ",           // trailing empty token
      "  MiXeD \t CASE\n runs \r here  ",
      "a b c d e f g",
      "tab\tsep\nnlvt\fff\rcr end")
    val cmp = rows.toDF("text")
      .withColumn("toks", Dedup.tokens(col("text")))
      .select(col("toks"),
        Dedup.shinglesFromTokens(col("toks")).as("hof"),
        WordShingles.shingles(col("text")).as("native"),
        WordShingles.shingles(col("text"), 1).as("native1"))
    assert(cmp.filter(col("hof") =!= col("native")).count() === 0L)
    // n=1 shingles are exactly the token array (q24's tokenizer path)
    assert(cmp.filter(col("toks") =!= col("native1")).count() === 0L)
  }

  /** Independent reference: BigInteger over the full md5 hex prefix —
    * no bit twiddling shared with the kernel under test.
    */
  private def refSimhash(tokens: Seq[String]): Long = {
    val md = java.security.MessageDigest.getInstance("MD5")
    val cnt = new Array[Int](64)
    tokens.foreach { t =>
      val hex = md.digest(t.getBytes("UTF-8"))
        .map(b => f"$b%02x").mkString.take(16)
      val v = new java.math.BigInteger(hex, 16)
      (0 until 64).foreach(j => if (v.testBit(j)) cnt(j) += 1)
    }
    (0 until 64).foldLeft(0L) { (acc, j) =>
      if (2 * cnt(j) > tokens.size) acc | (1L << j) else acc
    }
  }

  test("native SimHash64 kernel == independent md5 reference") {
    import spark.implicits._
    val rows = Seq(
      Seq("the", "quick", "brown", "fox", "the"),
      Seq("one"),
      Seq.empty[String],
      ('a' to 'z').map(_.toString) // enough tokens to exercise tie bits
    )
    val got = rows.toDF("toks")
      .select(SimHash64.simhash(col("toks")).as("sh"))
      .collect().map(_.getLong(0))
    assert(got.toSeq === rows.map(refSimhash))
  }

  test("winnowing fingerprints: window mins, short-doc fallback, coverage guarantee") {
    import spark.implicits._
    // hand-checkable: 6 hashes, w=4 -> windows [1..4],[2..5],[3..6]
    val hs = Seq("d", "b", "e", "c", "f", "a")
    val got = Seq(Tuple1(hs)).toDF("hsh")
      .select(TextOps.winnowFingerprints(col("hsh"), 4).as("fp"))
      .head().getSeq[String](0)
    assert(got === Seq("b", "a")) // min(d,b,e,c)=b, min(b,e,c,f)=b, min(e,c,f,a)=a
    // shorter than one window -> single global min
    val short = Seq(Tuple1(Seq("z", "y"))).toDF("hsh")
      .select(TextOps.winnowFingerprints(col("hsh"), 4).as("fp"))
      .head().getSeq[String](0)
    assert(short === Seq("y"))
    // winnowing guarantee: two docs sharing a run of >= w+n-1 tokens
    // share at least one fingerprint
    val d = Seq(
      (1L, "alpha beta gamma delta epsilon zeta eta theta unique1 tail1"),
      (2L, "prefix2 alpha beta gamma delta epsilon zeta eta theta other2"))
      .toDF("doc_id", "text")
      .select(col("doc_id"), Dedup.tokens(col("text")).as("toks"))
      .select(col("doc_id"), Dedup.shinglesFromTokens(col("toks")).as("sh"))
      .withColumn("hsh", TextOps.shingleHashes(col("sh")))
      .select(col("doc_id"), TextOps.winnowFingerprints(col("hsh"), 4).as("fp"))
    val fps = d.collect().map(r => r.getLong(0) -> r.getSeq[String](1).toSet).toMap
    assert(fps(1L).intersect(fps(2L)).nonEmpty)
  }

  test("native winnow kernel == composed HOF formulation on real docs") {
    val d = spark.read
      .parquet("/root/testdata/sf0.001/documents.parquet")
      .withColumn("toks", Dedup.tokens(col("text")))
      .select(col("doc_id"), Dedup.shinglesFromTokens(col("toks")).as("sh"))
      .withColumn("hsh", TextOps.shingleHashes(col("sh")))
    val cmp = d.select(
      TextOps.winnowFingerprints(col("hsh"), 4).as("hof"),
      graft.expressions.WinnowFingerprints.winnow(col("sh"), 4).as("native"))
    assert(cmp.count() > 0)
    assert(cmp.filter(col("hof") =!= col("native")).count() === 0L)
  }

  test("embedding near-dup: verified pairs only, canonical is smallest neighbor") {
    val out = Dedup.qDedupEmbedding(spark, "/root/testdata/sf0.001").collect()
    assert(out.nonEmpty)
    out.foreach { r =>
      assert(r.getLong(1) < r.getLong(0)) // canonical_id < vec_id
      assert(r.getLong(2) >= 1L)
    }
    spark.catalog.clearCache()
  }

  test("embeddingDedup: exact replicas are certainly recalled at ANY bucket entropy") {
    // sign-LSH blocking's scale contract (the Scale100 soak's rule):
    // raising planesPer shrinks buckets and the near-dup recall floor,
    // but EXACT duplicates hash identically in every table, so their
    // recall is certain regardless of tuning. Build 3 replicas of each
    // of the first 40 real vectors (id-shifted) and require every
    // replica to be flagged with a canonical at or below its base copy
    // (the base is a qualifying cos=1 neighbor with a smaller id, and
    // canonical = min over qualifying neighbors — another real vector
    // may legitimately rank lower still) at both the gate tuning and a
    // high-entropy production tuning.
    val base = spark.read
      .parquet("/root/testdata/sf0.001/embeddings.parquet")
      .filter(col("vec_id") < 40).select("vec_id", "embedding")
    val replicas = (0 until 3).map { k =>
      base.select((col("vec_id") + lit(k * 1000L)).as("vec_id"),
        col("embedding"))
    }.reduce(_ unionByName _)
    for (planes <- Seq(4, 14)) {
      val out = Dedup.embeddingDedup(replicas, nTables = 4,
        planesPer = planes, threshold = 0.3)
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      for (v <- 0L until 40L; k <- 1 to 2) {
        assert(out.get(v + k * 1000L).exists(_ <= v),
          s"replica ${v + k * 1000L} not deduped (canonical <= $v) at planesPer=$planes")
      }
      spark.catalog.clearCache()
    }
  }

  test("semanticDedup: representative invariants + certain in-cell recall") {
    // the SemDeDup contract: every dropped vector names a smaller-id
    // canonical, and an EXACT replica of a vector is always dropped
    // when both land in the same IVF cell — replicas have cos=1 to
    // their base and identical embeddings assign to identical cells
    // (same argmax), so in-cell recall for exact replicas is certain,
    // with no blocking-entropy caveat at all (the advantage over
    // sign-LSH banding).
    // vec 0 is the one in-range every-97th seed: a single-cell index,
    // so the in-cell pair stage is exercised exhaustively
    val base = spark.read
      .parquet("/root/testdata/sf0.001/embeddings.parquet")
      .filter(col("vec_id") < 40)
      .select("vec_id", "embedding")
    val replicas = base.unionByName(
      base.select((col("vec_id") + lit(1000L)).as("vec_id"),
        col("embedding")))
    val out = Dedup.semanticDedup(replicas, threshold = 0.9)
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2)))
      .toMap
    out.foreach { case (v, (canon, n)) =>
      assert(canon < v && n >= 1L)
    }
    val baseIds = base.select("vec_id").collect().map(_.getLong(0))
    for (v <- baseIds)
      assert(out.get(v + 1000L).exists(_._1 <= v),
        s"replica ${v + 1000L} not semantically deduped to <= $v")
    // at a 0.9 threshold on this weakly-correlated corpus, only the
    // planted replicas qualify: no base vector is dropped
    assert(baseIds.forall(v => !out.contains(v)))
    spark.catalog.clearCache()
  }

  test("semanticDedupIncrement: landed wins, then min-id within batch") {
    // landed = 40 base vectors (vec 0 is the quantizer seed); batch =
    // exact replicas of 10 landed vectors (must drop vs landed even
    // though their ids are smaller than nothing landed — landed always
    // wins), 10 fresh vectors (survive), and replicas of those fresh
    // vectors at higher ids (must drop within-batch, original id wins)
    val all = spark.read
      .parquet("/root/testdata/sf0.001/embeddings.parquet")
      .select("vec_id", "embedding")
    val base = all.filter(col("vec_id") < 50)
    val landed = base.filter(col("vec_id") < 40)
    val fresh = base.filter(col("vec_id") >= 40)
      .select((col("vec_id") + 10000L).as("vec_id"), col("embedding"))
    val replicaOfLanded = base.filter(col("vec_id") < 10)
      .select((col("vec_id") + 20000L).as("vec_id"), col("embedding"))
    val replicaOfFresh = fresh
      .select((col("vec_id") + 30000L).as("vec_id"), col("embedding"))
    val batch = fresh.unionByName(replicaOfLanded)
      .unionByName(replicaOfFresh)
    val kept = Dedup.semanticDedupIncrement(batch, landed,
      threshold = 0.9)
      .select("vec_id").collect().map(_.getLong(0)).sorted
    assert(kept.toSeq === (10040L to 10049L),
      s"kept ${kept.toSeq} — expected exactly the 10 fresh originals")
    // re-id'd replicas of 20 landed vectors drop; vectors 100..109,
    // never landed, survive
    val batch2 = all.filter(col("vec_id") < 20)
      .select((col("vec_id") + 5000L).as("vec_id"), col("embedding"))
      .unionByName(all.filter(col("vec_id").between(100, 109)))
    assert(Dedup.semanticDedupIncrement(batch2, base, 0.9).count() === 10L)
    spark.catalog.clearCache()
  }

  test("SimHash64 on real docs: near-identical texts collide, distinct do not") {
    val d = spark.read
      .parquet("/root/testdata/sf0.001/documents.parquet")
      .withColumn("toks", Dedup.tokens(col("text")))
      .select(col("doc_id"), SimHash64.simhash(col("toks")).as("sh"))
    assert(d.count() > 0)
    // the fingerprint must not be degenerate: more than one distinct value
    assert(d.select("sh").distinct().count() > 1)
  }

  private def md5hex(s: String): String =
    java.security.MessageDigest.getInstance("MD5")
      .digest(s.getBytes("UTF-8")).map(b => f"${b & 0xFF}%02x").mkString

  test("spanDedup: global keep-first, reconstruction, all-dropped doc") {
    import spark.implicits._
    val docs = Seq(
      (1L, "a b c d e f"),        // owns spans "a b c", "d e f"
      (2L, "a b c x y z"),        // keeps only "x y z"
      (3L, "a b c d e f g h"),    // keeps only the "g h" remainder
      (4L, "a b c"),              // loses its single span entirely
      (5L, "p q r p q r s")       // in-doc duplicate span dropped
    ).toDF("doc_id", "text")
    val out = TextOps.spanDedup(docs, 3).collect()
      .map(r => r.getLong(0) -> r).toMap
    def row(id: Long) = out(id)
    assert(row(1L).getAs[Long]("n_spans") === 2L)
    assert(row(1L).getAs[Long]("n_kept") === 2L)
    assert(row(1L).getAs[String]("clean_sig") === md5hex("a b c d e f"))
    assert(row(2L).getAs[Long]("n_kept") === 1L)
    assert(row(2L).getAs[String]("clean_sig") === md5hex("x y z"))
    assert(row(3L).getAs[Long]("n_spans") === 3L)
    assert(row(3L).getAs[Long]("n_kept") === 1L)
    assert(row(3L).getAs[String]("clean_sig") === md5hex("g h"))
    assert(row(4L).getAs[Long]("n_kept") === 0L)
    assert(row(4L).getAs[String]("clean_sig") === null)
    assert(row(4L).getAs[Long]("n_chars_kept") === 0L)
    assert(row(5L).getAs[Long]("n_spans") === 3L)
    assert(row(5L).getAs[Long]("n_kept") === 2L)
    assert(row(5L).getAs[String]("clean_sig") === md5hex("p q r s"))
  }

  test("spanDedupIncrement == whole-corpus spanDedup; deltas compose the index") {
    import spark.implicits._
    // landed ids precede batch ids, so whole-corpus keep-first (doc_id
    // order) and ingest-time precedence (landed wins) agree
    val landed = Seq(
      (1L, "a b c d e f"),
      (2L, "a b c x y z")).toDF("doc_id", "text")
    val batch1 = Seq(
      (10L, "d e f q r s"),        // "d e f" landed-dup, "q r s" fresh
      (11L, "q r s q r s t")       // in-batch dup of doc 10's fresh span
    ).toDF("doc_id", "text")
    val batch2 = Seq(
      (20L, "q r s u v w t")       // "q r s" now landed via batch1
    ).toDF("doc_id", "text")
    val idx0 = TextOps.spanIndex(landed, 3)
    val (rep1, delta1) = TextOps.spanDedupIncrement(batch1, idx0, 3)
    val whole1 = TextOps.spanDedup(landed.unionByName(batch1), 3)
      .filter(col("doc_id") >= 10L)
    assert(rep1.collect().toSeq.map(_.toSeq) ===
      whole1.collect().toSeq.map(_.toSeq))
    // index composition: idx0 ∪ delta1 == spanIndex(landed ∪ batch1)
    val composed = idx0.unionByName(delta1)
      .select("span_md5").distinct().as[String].collect().sorted.toSeq
    val direct = TextOps.spanIndex(landed.unionByName(batch1), 3)
      .as[String].collect().sorted.toSeq
    assert(composed === direct)
    // second batch against the composed index == whole-corpus restriction
    val (rep2, _) = TextOps.spanDedupIncrement(batch2,
      idx0.unionByName(delta1).distinct(), 3)
    val whole2 = TextOps.spanDedup(
      landed.unionByName(batch1).unionByName(batch2), 3)
      .filter(col("doc_id") >= 20L)
    assert(rep2.collect().toSeq.map(_.toSeq) ===
      whole2.collect().toSeq.map(_.toSeq))
  }

  test("setSimilarityJoin == naive all-pairs on a randomized corpus") {
    import spark.implicits._
    // seeded random sets over a small universe force plenty of partial
    // overlap at every size ratio, so the prefix bound is exercised on
    // pairs just above AND just below the threshold
    val rnd = new scala.util.Random(20260814L)
    val universe = (0 until 60).map(i => f"tok$i%02d")
    val sets = (0L until 120L).map { id =>
      val k = 3 + rnd.nextInt(18)
      (id, rnd.shuffle(universe).take(k))
    }
    val d = sets.toDF("doc_id", "sh")
    for (t <- Seq(0.3, 0.5, 0.8)) {
      val got = Dedup.setSimilarityJoin(d, t)
        .select("doc_a", "doc_b", "n_common").collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
      val naive = (for {
        (ia, sa) <- sets; (ib, sb) <- sets if ia < ib
        inter = sa.toSet.intersect(sb.toSet).size
        if inter.toDouble / (sa.size + sb.size - inter) >= t
      } yield (ia, ib, inter.toLong)).toSet
      assert(got === naive, s"threshold $t")
    }
  }

  test("PPJoin positional bound: strict subset of prefix candidates, nothing true lost") {
    import spark.implicits._
    // same randomized corpus family as the equality test: the
    // positional filter must only ever REMOVE candidates (containment)
    // and must actually bite on near-threshold pairs (strict at 0.5),
    // while the surviving set still covers every true pair (the
    // equality test above pins end-to-end losslessness independently)
    val rnd = new scala.util.Random(42L)
    val universe = (0 until 60).map(i => f"tok$i%02d")
    val d = (0L until 150L).map { id =>
      (id, rnd.shuffle(universe).take(3 + rnd.nextInt(18)))
    }.toDF("doc_id", "sh")
    val sets = d.select(col("doc_id"), array_sort(col("sh")).as("sh"),
      size(col("sh")).cast("long").as("n")).localCheckpoint()
    for (t <- Seq(0.5, 0.8)) {
      val pos = Dedup.setSimCandidates(sets, t, positional = true)
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      val nopos = Dedup.setSimCandidates(sets, t, positional = false)
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      assert(pos.subsetOf(nopos), s"threshold $t")
      assert(pos.size < nopos.size,
        s"positional bound never bit at t=$t: ${pos.size} vs ${nopos.size}")
    }
  }

  test("duplicatedSpans: offset-shifted and intra-doc repeats merge into exact maximal regions") {
    import spark.implicits._
    // doc 2 carries a 12-token run of doc 1 at a DIFFERENT offset
    // (pos 5 there, pos 3 here) — the case fixed-alignment chunking
    // (spanDedup) cannot see; doc 3 repeats a 4-gram within itself
    val a = (0 until 20).map(i => s"a$i")
    val d = Seq(
      1L -> a.mkString(" "),
      2L -> (Seq("z1", "z2", "z3") ++ a.slice(5, 17)).mkString(" "),
      3L -> "b1 b2 b3 b4 c b1 b2 b3 b4"
    ).toDF("doc_id", "text")
    val got = TextOps.duplicatedSpans(d, 4)
      .orderBy("doc_id", "gram_start").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4))).toSeq
    assert(got === Seq(
      (1L, 5L, 13L, 9L, 12L),   // grams whose 4 tokens lie in a5..a16
      (2L, 3L, 11L, 9L, 12L),   // the same run at its shifted offset
      (3L, 0L, 0L, 1L, 4L),     // intra-doc repeat, both occurrences
      (3L, 5L, 5L, 1L, 4L)))
  }

  test("setSimilarityJoin edge shapes: exact dups, singletons, no pairs") {
    import spark.implicits._
    val d = Seq(
      (1L, Seq("a", "b", "c")),
      (2L, Seq("a", "b", "c")), // exact dup of 1
      (3L, Seq("x")),           // singleton
      (4L, Seq("x")),           // identical singleton pair
      (5L, Seq("q", "r"))       // no partner
    ).toDF("doc_id", "sh")
    val got = Dedup.setSimilarityJoin(d, 0.9)
      .select("doc_a", "doc_b", "jaccard").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    assert(got === Set((1L, 2L, 1.0), (3L, 4L, 1.0)))
  }

  test("spanDedup: character mass conserved and bounded by the original") {
    val d = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    val out = TextOps.spanDedup(d, 3)
    val bad = out.join(d, "doc_id")
      .filter(col("n_chars_kept") > length(col("text")) ||
        col("n_kept") > col("n_spans") ||
        (col("n_kept") === col("n_spans")) =!=
          (col("n_chars_kept") === length(col("text"))
            - (col("n_spans") - 1)))
      .count()
    assert(bad === 0L)
  }
}
