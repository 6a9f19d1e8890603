package graft.llmops

import org.apache.spark.sql.functions._

import graft.SparkSpec

/** Semantics of the curation operators (value-level correctness vs
  * DuckDB is the driver oracle's job — q30/q31/q32).
  */
class CurationSpec extends SparkSpec {

  private val dir = "/root/testdata/sf0.001"

  test("quota sample: at most 5 per stratum, rank contiguous from 1") {
    val out = Curation.qQuotaSample(spark, dir)
    val per = out.groupBy("lang", "source")
      .agg(count(lit(1)).as("n"), max("rk").as("mx"), min("rk").as("mn"))
      .collect()
    assert(per.nonEmpty)
    per.foreach { r =>
      assert(r.getAs[Long]("n") <= 5L)
      assert(r.getAs[Long]("mn") === 1L)
      assert(r.getAs[Long]("mx") === r.getAs[Long]("n"))
    }
  }

  test("split label: pure function of id, md5-digit buckets") {
    import spark.implicits._
    val ids = Seq(0L, 1L, 17L, 123456L)
    val got = ids.toDF("doc_id")
      .select(Curation.splitLabel(col("doc_id")).as("s"))
      .collect().map(_.getString(0))
    val exp = ids.map { id =>
      val d = java.security.MessageDigest.getInstance("MD5")
        .digest(id.toString.getBytes("UTF-8"))
      val hex = f"${d(0) & 0xFF}%02x".charAt(0)
      if (hex == 'c' || hex == 'd') "val"
      else if (hex == 'e' || hex == 'f') "test"
      else "train"
    }
    assert(got.toSeq === exp)
  }

  test("hash split partitions the corpus exactly") {
    val total = spark.read.parquet(s"$dir/documents.parquet").count()
    val out = Curation.qHashSplit(spark, dir).collect()
    assert(out.map(_.getAs[Long]("n_docs")).sum === total)
    assert(out.map(_.getString(0)).toSet.subsetOf(Set("train", "val", "test")))
  }

  test("redactPii scrubs emails, phones and IPs; piiHits counts them") {
    import spark.implicits._
    val rows = Seq(
      ("mail me at john.doe+x@example.co.uk today", 1L,
        "mail me at <EMAIL> today"),
      ("server 192.168.1.200 then call (415) 555-2671", 2L,
        "server <IP> then call <PHONE>"),
      // NANP-shaped pattern: the UK number passes through (documented
      // scope), the 3-3-4 number is caught
      ("intl +44 20 7946 0958 and 555-867-5309", 1L,
        "intl +44 20 7946 0958 and <PHONE>"),
      ("no pii here, just text 12345", 0L,
        "no pii here, just text 12345"),
      ("already has <EMAIL> literal", 0L,
        "already has <EMAIL> literal"))
    val out = rows.map(_._1).toDF("text")
      .select(Curation.redactPii(col("text")).as("red"),
        Curation.piiHits(col("text")).as("hits"))
      .collect()
    rows.zip(out).foreach { case ((in, wantHits, wantRed), r) =>
      assert(r.getLong(1) === wantHits, s"hits for: $in -> ${r.getString(0)}")
      if (wantRed != null) assert(r.getString(0) === wantRed, s"for: $in")
      // no raw email/IP survives redaction
      assert(!r.getString(0).matches(".*@.*\\.[A-Za-z]{2,}.*") ||
        r.getString(0).contains("<EMAIL>") && !r.getString(0)
          .replace("<EMAIL>", "").contains("@"), s"residual: ${r.getString(0)}")
    }
  }

  test("mixture sampling: copies honor floor(rate) and the epoch contract") {
    val d = spark.read.parquet(s"$dir/documents.parquet")
    val out = Curation.sampleMixture(d)
    val per = out.groupBy("source", "doc_id")
      .agg(count(lit(1)).as("n"), max("epoch").as("mx"), min("epoch").as("mn"))
      .collect()
    val rates = Curation.MixtureRates.toMap
    per.foreach { r =>
      val rate = rates.getOrElse(r.getString(0), Curation.MixtureDefaultRate)
      val n = r.getAs[Long]("n")
      // every emitted doc has floor(rate) or floor(rate)+1 copies,
      // epochs dense 1..n
      assert(n === math.floor(rate).toLong || n === math.floor(rate).toLong + 1,
        s"${r.getString(0)}/${r.getLong(1)}: $n copies at rate $rate")
      assert(r.getAs[Long]("mn") === 1L && r.getAs[Long]("mx") === n)
    }
    // determinism: same ids selected on a rerun with other partitioning
    val again = Curation.sampleMixture(d.repartition(7))
      .groupBy("doc_id").agg(count(lit(1)).as("n"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val first = out.groupBy("doc_id").agg(count(lit(1)).as("n"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(again === first)
    // realized rate tracks the configured rate for a listed source
    val src0 = per.filter(_.getString(0) == "src0").map(_.getAs[Long]("n"))
    val eff = src0.sum.toDouble / src0.length
    assert(math.abs(eff - 2.5) < 0.35, s"src0 effective rate $eff")
  }

  test("sequence packing: budget respected, docs partitioned into packs") {
    val budget = 200L
    val d = spark.read.parquet(s"$dir/documents.parquet")
      .select(col("doc_id"),
        graft.llmops.TextOps.tokenCount(col("text")).as("n_tokens"))
      .repartition(4)
    val packed = Curation.packSequences(d, budget).persist()
    // every doc appears exactly once
    assert(packed.count() === d.count())
    assert(packed.select("doc_id").distinct().count() === d.count())
    val packs = packed.groupBy("pack_id")
      .agg(sum("n_tokens").as("tot"), count(lit(1)).as("n"))
      .collect()
    packs.foreach { r =>
      // a pack exceeds the budget only as a single oversize document
      assert(r.getAs[Long]("tot") <= budget || r.getAs[Long]("n") === 1L,
        s"pack ${r.getLong(0)}")
    }
    // greedy first-fit fills packs reasonably: mean fill >= 60%
    val inBudget = packs.filter(_.getAs[Long]("tot") <= budget)
    val fill = inBudget.map(_.getAs[Long]("tot").toDouble / budget)
    assert(fill.sum / fill.length >= 0.6,
      s"mean fill ${fill.sum / fill.length}")
    packed.unpersist()
    // first-fit-decreasing never needs MORE packs than id-order
    val nFfd = Curation.packSequences(d, budget, decreasing = true)
      .select("pack_id").distinct().count()
    assert(nFfd <= packs.length, s"FFD $nFfd packs vs first-fit ${packs.length}")
  }

  test("bloom: no false negatives; bloomAntiJoin == plain left_anti") {
    import spark.implicits._
    val rnd = new scala.util.Random(7)
    val block = (1 to 300).map(_ => rnd.nextLong()).distinct
    val hits = rnd.shuffle(block).take(100)
    val batch = ((1 to 2000).map(_ => rnd.nextLong()) ++ hits)
      .distinct.toDF("k").repartition(5) // exercise partial-bloom merge
    val blockDf = block.toDF("bk")
    val bloom = Curation.buildBloomBytes(blockDf, "bk", 512L)
    // NO false negative: every true member passes the bloom
    val misses = blockDf
      .filter(!Curation.mightContain(bloom, col("bk"))).count()
    assert(misses === 0L)
    val viaBloom = Curation.bloomAntiJoin(batch, "k", blockDf, "bk", 512L)
      .collect().map(_.getLong(0)).sorted
    val plain = batch.join(blockDf.select(col("bk").as("k")), Seq("k"),
      "left_anti").collect().map(_.getLong(0)).sorted
    assert(viaBloom.sameElements(plain))
    assert(viaBloom.length === batch.count() - hits.length)
  }

  test("bloomAntiJoin with an empty blocklist is the identity") {
    import spark.implicits._
    val batch = Seq(1L, 2L).toDF("k")
    val out = Curation.bloomAntiJoin(batch, "k",
      Seq.empty[Long].toDF("bk"), "bk", 16L)
    assert(out.collect().map(_.getLong(0)).sorted.sameElements(Array(1L, 2L)))
  }

  test("bloom decontamination drops exactly the leaked eval copies") {
    val out = Curation.qBloomDecontaminate(spark, dir)
      .collect().map(_.getLong(0))
    val trainIds = spark.read.parquet(s"$dir/documents.parquet")
      .select(col("doc_id"))
      .filter(Curation.splitLabel(col("doc_id")) === "train")
      .collect().map(_.getLong(0))
    // survivors are exactly the true train docs: every +7000 leaked
    // copy of an eval doc is removed
    assert(out.sorted.sameElements(trainIds.sorted))
  }

  test("decontamination: matches are val-split docs overlapping train") {
    val out = Curation.qDecontaminate(spark, dir).collect()
    spark.catalog.clearCache()
    // the synthetic corpus contains near-duplicates across splits
    assert(out.nonEmpty)
    val valIds = spark.read.parquet(s"$dir/documents.parquet")
      .select(col("doc_id"))
      .filter(Curation.splitLabel(col("doc_id")) === "val")
      .collect().map(_.getLong(0)).toSet
    out.foreach { r =>
      assert(valIds.contains(r.getLong(0)))
      assert(r.getAs[Long]("n_train_matches") >= 1L)
      assert(r.getAs[Long]("max_overlap") >= 5L)
    }
  }

  test("prioritySample == driver replication; exactly k per stratum") {
    import spark.implicits._
    val rows = (0L until 400L).map { id =>
      (id, s"s${id % 3}", 1L + (id * 7) % 100)
    }
    val df = rows.toDF("doc_id", "stratum", "w")
    val got = Curation.prioritySample(df, Seq("stratum"), "w", "doc_id", 5)
      .select("stratum", "rk", "doc_id", "priority")
      .collect()
      .map(r => (r.getString(0), r.getInt(1), r.getLong(2), r.getDouble(3)))
      .sortBy(t => (t._1, t._2))
    // driver reference: same digest, same exact double division
    def u24(id: Long): Long = {
      val hex = java.security.MessageDigest.getInstance("MD5")
        .digest(id.toString.getBytes("UTF-8"))
        .map(b => f"${b & 0xFF}%02x").mkString.take(6)
      java.lang.Long.parseLong(hex, 16)
    }
    val want = rows.groupBy(_._2).toSeq.flatMap { case (stratum, rs) =>
      rs.map { case (id, _, w) =>
        (id, w.toDouble * 16777216.0 / (u24(id) + 1).toDouble)
      }.sortBy { case (id, p) => (-p, id) }
        .take(5).zipWithIndex
        .map { case ((id, p), i) => (stratum, i + 1, id, p) }
    }.sortBy(t => (t._1, t._2))
    assert(got.toSeq === want)
    // determinism across runs
    val again = Curation.prioritySample(df, Seq("stratum"), "w", "doc_id", 5)
      .select("stratum", "rk", "doc_id", "priority").collect()
      .map(r => (r.getString(0), r.getInt(1), r.getLong(2), r.getDouble(3)))
      .sortBy(t => (t._1, t._2))
    assert(again.toSeq === got.toSeq)
  }

  test("semantic decontamination: a planted verbatim leak is flagged") {
    import spark.implicits._
    val rnd = new scala.util.Random(7)
    def vec(c: Int): Array[Float] = {
      val base = Array.tabulate(8)(i => if (i % 2 == c) 1.0f else 0.05f)
      base.map(v => v + rnd.nextFloat() * 0.01f)
    }
    // train ids 0..99 in two clusters; id 0 is the (train-side) seed
    // of cluster 0 and 97 the seed of cluster 1 (vec_id % 97 == 0)
    val train = (0L to 99L).map(i => (i, vec((i % 2).toInt))).toDF("vec_id", "embedding")
    val leakVec = vec(0)
    val eval0 = Seq(
      (1007L, leakVec),                       // near cluster 0
      (1008L, Array.fill(8)(0.0f))            // zero vector: no hits
    ).toDF("vec_id", "embedding")
    // plant: train 5 gets EXACTLY the leaked eval vector
    val planted = train.withColumn("embedding",
      when(col("vec_id") === 5L, typedLit(leakVec))
        .otherwise(col("embedding")))
    val out = Curation.semanticDecontaminate(planted, eval0, 0.99, nProbe = 2)
      .collect()
    val flagged = out.map(r => r.getLong(0) -> r).toMap
    assert(flagged.contains(5L), "verbatim leak not flagged")
    assert(flagged(5L).getAs[Double]("max_cos") === 1.0)
    assert(flagged(5L).getAs[Long]("first_eval_id") === 1007L)
    // the zero eval vector matches nothing at tau 0.99
    assert(out.forall(_.getAs[Double]("max_cos") >= 0.99))
  }

  test("mixtureWeights: water-filling — binding source rate 1, target shares met, most tokens kept") {
    import spark.implicits._
    // per-source token counts by construction: a=100, b=60, c=40
    def doc(src: String, id: Long, n: Int) =
      (id, src, (1 to n).map(i => s"t$i").mkString(" "))
    val d = (Seq.tabulate(5)(i => doc("a", i, 20)) ++
        Seq.tabulate(3)(i => doc("b", 10 + i, 20)) ++
        Seq.tabulate(2)(i => doc("c", 20 + i, 20)))
      .toDF("doc_id", "source", "text")
    val out = Curation.mixtureWeights(d,
        Seq("a" -> 0.5, "b" -> 0.25, "c" -> 0.25))
      .collect()
      .map(r => r.getString(0) -> (r.getLong(1), r.getDouble(3),
        r.getDouble(4))).toMap
    // T = min(100/.5, 60/.25, 40/.25) = 160, bound by c
    assert(out("c")._2 === 1.0)                    // binding source kept whole
    assert(out.values.forall(_._2 <= 1.0))         // never upsample
    assert(out("a")._3 === 80.0)                   // 0.5 * 160
    assert(out("b")._3 === 40.0)
    assert(out("c")._3 === 40.0)
    assert(out("a")._2 === 0.8 && out("b")._2 === 0.666667)
    // a targeted source with no corpus tokens makes the target
    // unmeetable: everything reports rate 0, not a silent renormalize
    val empty = Curation.mixtureWeights(d,
        Seq("a" -> 0.5, "zzz" -> 0.5)).collect()
      .map(r => r.getString(0) -> r.getDouble(3)).toMap
    assert(empty.values.forall(_ === 0.0))
  }

  test("semantic decontamination: nProbe=2 hits are a superset of nProbe=1") {
    val e = spark.read.parquet(s"$dir/embeddings.parquet")
    val tr = e.filter(col("vec_id") % 10 =!= 7)
    val ev = e.filter(col("vec_id") % 10 === 7)
    def hits(nProbe: Int): Set[Long] =
      Curation.semanticDecontaminate(tr, ev, 0.3, nProbe)
        .collect().map(_.getLong(0)).toSet
    val one = hits(1)
    val two = hits(2)
    assert(one.subsetOf(two))
    assert(two.nonEmpty)
  }

  test("log2Fix: exact on powers of two, ~2^-16 accurate elsewhere, loud on 0") {
    assert(Curation.log2Fix(1L) === 0L)
    assert(Curation.log2Fix(2L) === 65536L)
    assert(Curation.log2Fix(1L << 40) === 40L * 65536)
    val probes = Seq(3L, 5L, 7L, 10L, 1000L, 123456789L,
      (1L << 31) - 1, (1L << 31) + 1, (1L << 45) + 12345L)
    probes.foreach { n =>
      val got = Curation.log2Fix(n) / 65536.0
      val exp = math.log(n.toDouble) / math.log(2.0)
      // 16 fraction bits + ≤2^-30 normalization truncation
      assert(math.abs(got - exp) < 3e-4, s"n=$n got=$got exp=$exp")
    }
    intercept[IllegalArgumentException] { Curation.log2Fix(0L) }
  }

  test("dsirSelect == driver replication; target-like docs selected first") {
    import spark.implicits._
    // target = fruit-speak; pool = fruit docs, mixed docs, metal docs
    val rows = Seq(
      (1L, "apple banana apple cherry", true),
      (2L, "banana cherry banana apple", true),
      (3L, "apple banana cherry", true),
      (10L, "apple banana iron", false),
      (11L, "cherry apple banana banana", false),
      (12L, "iron copper zinc iron", false),
      (13L, "zinc copper iron copper zinc", false),
      (14L, "banana iron copper", false))
    val d = rows.toDF("doc_id", "text", "is_en")
    val got = Curation.dsirSelect(d, col("is_en"), k = 4, buckets = 64)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))

    // independent replication: plain-Scala counting + the same
    // published digest/bucket/log2Fix contract
    def toks(t: String): Seq[String] =
      t.toLowerCase.replaceAll("\\s+", " ").split(" ", -1).toSeq
    def bucket(f: String): Long = {
      val hex = java.security.MessageDigest.getInstance("MD5")
        .digest(f.getBytes("UTF-8")).take(3)
        .map(b => f"${b & 0xFF}%02x").mkString
      java.lang.Long.parseLong(hex, 16) % 64
    }
    def feats(t: String): Seq[String] = {
      val ts = toks(t)
      ts ++ (if (ts.length >= 2) ts.sliding(2).map(_.mkString(" ")).toSeq
             else Nil)
    }
    val perDoc = rows.map { case (id, t, tgt) =>
      (id, tgt, feats(t).groupBy(bucket).view.mapValues(_.size.toLong).toMap)
    }
    val rFit = perDoc.flatMap(_._3.toSeq).groupBy(_._1).view
      .mapValues(_.map(_._2).sum).toMap
    val tFit = perDoc.filter(_._2).flatMap(_._3.toSeq).groupBy(_._1).view
      .mapValues(_.map(_._2).sum).toMap
    val rTot = rFit.values.sum; val tTot = tFit.values.sum
    val cR = Curation.log2Fix(rTot + 64); val cT = Curation.log2Fix(tTot + 64)
    val w = rFit.keys.map { b =>
      b -> ((Curation.log2Fix(tFit.getOrElse(b, 0L) + 1) - cT)
        - (Curation.log2Fix(rFit(b) + 1) - cR))
    }.toMap
    val exp = perDoc.map { case (id, _, m) =>
      (id, m.map { case (b, c) => c * w(b) }.sum, m.values.sum)
    }.sortBy { case (id, s, _) => (-s, id) }.take(4)
      .map { case (id, s, n) => (id, s, n) }
    assert(got.toSeq === exp)
    // the three target docs plus the most fruit-like pool doc lead
    assert(got.map(_._1).toSet.intersect(Set(1L, 2L, 3L)).size === 3)
    assert(!got.map(_._1).contains(12L) && !got.map(_._1).contains(13L))
  }

  test("dsirSelect is partitioning-invariant") {
    import spark.implicits._
    val d = spark.read.parquet(s"$dir/documents.parquet")
    def run(df: org.apache.spark.sql.DataFrame): Seq[(Long, Long, Long)] =
      Curation.dsirSelect(df, col("lang") === "en", k = 20, buckets = 256)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSeq
    assert(run(d) === run(d.repartition(7)))
    // the q140 gate's en-target selection is en-enriched (the
    // selection-quality sanity its hash gate cannot express)
    val gate = Curation.qDsirSelect(spark, dir).collect()
    val nEn = gate.count(_.getString(1) == "en")
    assert(nEn * 2 > gate.length, s"$nEn en of ${gate.length}")
  }
}
