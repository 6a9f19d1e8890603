package graft.llmops

import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.SparkSpec
import graft.operators.EventQueries

/** Round-3 operators: connected-components clustering (q33), quality
  * gate (q34), repetition (q36), as-of attribution (q35), sessionization
  * (q38). Goldens derived independently in DuckDB (window-free
  * formulations where possible) — see the round-3 notes in SURVEY §8.
  */
class ClusterAndEventsSpec extends SparkSpec {

  private val dir = "/root/testdata/sf0.001"

  test("connectedComponents: chain, clique and pair resolve to min labels") {
    import spark.implicits._
    // chain 1-2-3-4 has diameter 3: forces >1 propagation round
    val edges = Seq((1L, 2L), (2L, 3L), (3L, 4L),
      (10L, 11L), (11L, 12L), (10L, 12L),
      (20L, 21L)).toDF("a", "b")
    val cc = Cluster.connectedComponents(edges, "a", "b")
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(cc === Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 4L -> 1L,
      10L -> 10L, 11L -> 10L, 12L -> 10L, 20L -> 20L, 21L -> 20L))
  }

  test("connectedComponents: random graphs match brute-force union-find") {
    import spark.implicits._
    val rnd = new scala.util.Random(11)
    for (trial <- 1 to 5) {
      val nV = 10 + rnd.nextInt(30)
      val nE = 5 + rnd.nextInt(40)
      val edges = Seq.fill(nE) {
        val a = rnd.nextInt(nV).toLong
        val b = rnd.nextInt(nV).toLong
        if (a == b) (a, b + 1) else (a, b) // no self-loops
      }
      // brute-force union-find on the driver
      val parent = scala.collection.mutable.Map[Long, Long]()
      def find(x: Long): Long = {
        val p = parent.getOrElseUpdate(x, x)
        if (p == x) x else { val r = find(p); parent(x) = r; r }
      }
      edges.foreach { case (a, b) =>
        val (ra, rb) = (find(a), find(b))
        if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
      }
      val vertices = edges.flatMap(e => Seq(e._1, e._2)).distinct
      // path-compress fully, then canonicalize to min member per root
      val byRoot = vertices.groupBy(find)
      val expect = byRoot.values.flatMap { vs =>
        val rep = vs.min
        vs.map(_ -> rep)
      }.toMap
      val got = Cluster.connectedComponents(
        edges.toDF("a", "b"), "a", "b")
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      assert(got === expect, s"trial $trial: $edges")
    }
  }

  test("connectedComponentsStar: random graphs + 60-chain match " +
      "union-find and the label-propagation sibling") {
    import spark.implicits._
    val rnd = new scala.util.Random(23)
    val chain = (1L until 60L).map(i => (i + 1, i)) // diameter 59
    val graphs = (1 to 4).map { _ =>
      val nV = 10 + rnd.nextInt(30)
      Seq.fill(5 + rnd.nextInt(40)) {
        val a = rnd.nextInt(nV).toLong
        val b = rnd.nextInt(nV).toLong
        if (a == b) (a, b + 1) else (a, b)
      }
    } :+ chain :+ Seq((5L, 5L), (1L, 2L), (2L, 2L)) // self-loops count as presence
    for (edges <- graphs) {
      val parent = scala.collection.mutable.Map[Long, Long]()
      def find(x: Long): Long = {
        val p = parent.getOrElseUpdate(x, x)
        if (p == x) x else { val r = find(p); parent(x) = r; r }
      }
      edges.foreach { case (a, b) =>
        val (ra, rb) = (find(a), find(b))
        if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
      }
      val vertices = edges.flatMap(e => Seq(e._1, e._2)).distinct
      val expect = vertices.groupBy(find).values.flatMap { vs =>
        val rep = vs.min; vs.map(_ -> rep)
      }.toMap
      val df = edges.toDF("a", "b")
      val starRows = Cluster.connectedComponentsStar(df, "a", "b").collect()
      // exactly one label row per vertex — a toMap alone would mask
      // duplicate emissions
      assert(starRows.length === vertices.size, s"row count on $edges")
      val star = starRows.map(r => r.getLong(0) -> r.getLong(1)).toMap
      assert(star === expect, s"star CC on $edges")
      val prop = Cluster.connectedComponents(df, "a", "b")
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      assert(star === prop, s"star vs label-prop on $edges")
    }
  }

  test("q33: clusters are consistent closures of the q23 pair set") {
    val out = Cluster.qDedupClusters(spark, dir)
    val rows = out.collect()
    spark.catalog.clearCache()
    assert(rows.length === 45) // regression pin (sf0.001)
    val rep = rows.map(r => r.getLong(0) -> r.getLong(1)).toMap
    // every near-dup pair must land in the same cluster, and the rep
    // must itself be a member with rep == its own rep (idempotent)
    val pairs = Dedup.nearDupPairs(
      spark.read.parquet(s"$dir/documents.parquet"), threshold = 0.3)
      .select("doc_a", "doc_b")
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    spark.catalog.clearCache()
    pairs.foreach { case (a, b) =>
      assert(rep(a) === rep(b), s"pair ($a,$b) split across clusters")
    }
    rep.values.foreach(r => assert(rep(r) === r, s"rep $r not canonical"))
    // rep is the min member of its component
    rep.groupBy(_._2).foreach { case (r, members) =>
      assert(members.keys.min === r)
    }
  }

  test("dedupCorpus keeps exactly the canonical member of each cluster") {
    val docs = spark.read.parquet(s"$dir/documents.parquet")
    val kept = Cluster.dedupCorpus(docs, threshold = 0.3)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    val clusters = Cluster.qDedupClusters(spark, dir)
      .collect().map(r => r.getLong(0) -> r.getLong(1))
    spark.catalog.clearCache()
    val reps = clusters.map(_._2).toSet
    val members = clusters.map(_._1).toSet
    assert(kept.size === 500 - members.size + reps.size)
    // every rep kept, every non-rep member dropped, singletons kept
    reps.foreach(r => assert(kept.contains(r)))
    (members -- reps).foreach(m => assert(!kept.contains(m)))
    val singletons = (0L until 500L).toSet -- members
    assert(singletons.nonEmpty && singletons.forall(kept.contains))
  }

  test("q34: first-failing-rule histogram matches the DuckDB-derived golden") {
    val hist = TextOps.qQualityFilter(spark, dir)
      .groupBy("reason").count()
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(hist === Map("no_stopword" -> 18L, "ok" -> 376L,
      "too_long" -> 47L, "too_short" -> 54L, "word_shape" -> 5L))
  }

  test("q36: bigram counts agree with token counts; ratio well-formed") {
    val d = spark.read.parquet(s"$dir/documents.parquet")
      .select(col("doc_id"), TextOps.tokenCount(col("text")).as("n_tokens"))
    val joined = TextOps.qRepetition(spark, dir).join(d, "doc_id").collect()
    assert(joined.length === 500)
    joined.foreach { r =>
      val (nBg, top, ratio, nTok) = (r.getLong(1), r.getLong(2),
        r.getDouble(3), r.getLong(4))
      if (nTok >= 2) assert(nBg === nTok - 1, s"doc ${r.getLong(0)}")
      assert(top >= 1 && top <= nBg)
      assert(ratio > 0.0 && ratio <= 1.0)
    }
  }

  test("q35: window as-of equals the naive inequality-join formulation") {
    val out = EventQueries.q35AsofAttribution(spark, dir).collect()
    assert(out.length === 178)
    assert(out.head.getLong(0) === 53L && out.last.getLong(0) === 999L)
    // independent formulation: per purchase, rank clicks strictly prior
    // in (ts, event_id) order and keep the latest
    val ev = graft.operators.CoreQueries.events(spark, dir)
    val c = ev.filter(col("event_type") === "click")
      .select(col("event_id").as("cid"), col("user_id"), col("ts").as("cts"))
    val p = ev.filter(col("event_type") === "purchase")
      .select(col("event_id").as("pid"), col("user_id"), col("ts").as("pts"))
    val w = Window.partitionBy("pid")
      .orderBy(col("cts").desc, col("cid").desc)
    val naive = p.join(c, Seq("user_id"))
      .filter(col("cts") < col("pts") ||
        (col("cts") === col("pts") && col("cid") < col("pid")))
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") === 1)
      .select(col("pid"), col("cid"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    out.foreach { r =>
      assert(naive(r.getLong(0)) === r.getLong(2),
        s"purchase ${r.getLong(0)} attributed differently")
    }
  }

  test("asofJoin (generic) reproduces q35 and carries the full right row") {
    val ev = graft.operators.CoreQueries.events(spark, dir)
    val purchases = ev.filter(col("event_type") === "purchase")
      .select("event_id", "user_id", "ts", "value")
    val clicks = ev.filter(col("event_type") === "click")
      .select("event_id", "user_id", "ts")
    val out = EventQueries.asofJoin(
      purchases, clicks, "user_id", "ts", "event_id")
    assert(out.columns.toSeq ===
      Seq("event_id", "user_id", "ts", "value", "matched"))
    assert(out.count() === purchases.count()) // outer: every left row
    val got = out.filter(col("matched").isNotNull)
      .select(col("event_id"), col("matched.event_id").as("click_id"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val expect = EventQueries.q35AsofAttribution(spark, dir)
      .select("purchase_id", "click_id")
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got === expect)
  }

  test("q44: bucketed interval join equals the naive inequality join") {
    val out = EventQueries.q44IntervalJoin(spark, dir).collect()
    // the defining property: identical row set to the direct theta-join
    // (which Spark would plan as a nested loop — the formulation q44
    // exists to avoid)
    val ev = graft.operators.CoreQueries.events(spark, dir)
    val c = ev.filter(col("event_type") === "click")
      .select(col("event_id").as("cid"), col("user_id"), col("ts").as("cts"))
    val p = ev.filter(col("event_type") === "purchase")
      .select(col("event_id").as("pid"), col("user_id"), col("ts").as("pts"))
    val naive = p.join(c, Seq("user_id"))
      .filter(col("cts") >= col("pts") - expr("INTERVAL 1 HOUR") &&
        col("cts") <= col("pts"))
      .select("pid", "cid")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(out.map(r => (r.getLong(0), r.getLong(1))).toSet === naive)
    assert(out.length === naive.size) // no duplicate emissions
    out.foreach { r =>
      val gap = r.getDouble(3)
      assert(gap >= 0.0 && gap <= 3600.0, s"gap $gap outside the window")
    }
  }

  test("q45: per-doc keyword ranks are dense, ordered, tf-idf-exact") {
    val out = TextOps.qTopKeywords(spark, dir).collect()
    val byDoc = out.groupBy(_.getLong(0))
    assert(byDoc.size === 500) // every doc has >= 1 term
    byDoc.foreach { case (id, rows) =>
      val ranked = rows.sortBy(_.getInt(1))
      assert(ranked.map(_.getInt(1)).toSeq === (1 to ranked.length),
        s"doc $id ranks not dense")
      // weights non-increasing; term ascending within equal weights
      ranked.sliding(2).foreach {
        case Array(a, b) =>
          assert(a.getDouble(3) > b.getDouble(3) ||
            (a.getDouble(3) == b.getDouble(3) &&
              a.getString(2) < b.getString(2)), s"doc $id order")
        case _ =>
      }
    }
    // dense driver recomputation of one doc's top keyword (same 6-decimal
    // quantization as the engine)
    val docId = 7L
    val texts = spark.read.parquet(s"$dir/documents.parquet")
      .select(col("doc_id"), lower(col("text")).as("t")).collect()
      .map(r => r.getLong(0) -> r.getString(1).split("\\s+").toSeq).toMap
    val n = texts.size.toDouble
    val df = texts.values.flatMap(_.distinct).groupBy(identity)
      .map { case (t, ts) => t -> ts.size }
    def q6(x: Double) = BigDecimal(x)
      .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    val weights = texts(docId).groupBy(identity).map { case (t, ts) =>
      t -> q6(ts.size * q6(math.log(n / df(t))))
    }
    val expectTop = weights.toSeq.sortBy { case (t, w) => (-w, t) }.head
    val gotTop = byDoc(docId).minBy(_.getInt(1))
    assert(gotTop.getString(2) === expectTop._1)
    assert(math.abs(gotTop.getDouble(3) - expectTop._2) < 1e-9)
  }

  test("q41: top TF-IDF pair agrees with an independent dense cosine") {
    val out = TextOps.qTfidfPairs(spark, dir).collect()
    assert(out.length === 20)
    val sims = out.map(_.getDouble(2))
    assert(sims.forall(s => s > 0.0 && s <= 1.0))
    assert(sims.toSeq === sims.sorted.reverse.toSeq) // descending
    // recompute the top pair's cosine densely from raw term counts
    val (pa, pb) = (out.head.getLong(0), out.head.getLong(1))
    val rows = spark.read.parquet(s"$dir/documents.parquet")
      .filter(col("doc_id").isin(pa, pb)).collect()
      .map(r => r.getAs[Long]("doc_id") ->
        r.getAs[String]("text").toLowerCase.split("\\s+").toSeq).toMap
    val n = 500.0
    val docsAll = spark.read.parquet(s"$dir/documents.parquet")
      .select(col("doc_id"),
        explode(graft.expressions.WordShingles.shingles(col("text"), 1))
          .as("term")).distinct()
      .groupBy("term").count()
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    def vec(id: Long): Map[String, Double] =
      rows(id).groupBy(identity).map { case (t, ts) =>
        val idf = BigDecimal(math.log(n / docsAll(t)))
          .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
        t -> BigDecimal(ts.size * idf)
          .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
      }
    val (va, vb) = (vec(pa), vec(pb))
    val dot = va.keySet.intersect(vb.keySet).toSeq.map(t => va(t) * vb(t)).sum
    def nrm(v: Map[String, Double]) = math.sqrt(v.values.map(x => x * x).sum)
    val expect = dot / (nrm(va) * nrm(vb))
    assert(math.abs(out.head.getDouble(2) - expect) < 1e-4,
      s"top pair ($pa,$pb): ${out.head.getDouble(2)} vs dense $expect")
  }

  test("q42: moving average recomputed from the daily rollup") {
    val out = EventQueries.q42MovingAverage(spark, dir).collect()
    val daily = out.map(r => (r.getString(0), r.getString(1)) ->
      (r.getDouble(2), r.getLong(3))).toMap
    assert(daily.nonEmpty)
    out.foreach { r =>
      val (typ, day) = (r.getString(0), r.getString(1))
      val d = java.time.LocalDate.parse(day)
      // trailing 3-day frame: this day and the two calendar days before,
      // restricted to days that actually have data
      val frame = (0 to 2).map(k => d.minusDays(k.toLong).toString)
        .flatMap(dd => daily.get((typ, dd)).map(_._1))
      val expect = BigDecimal(frame.sum / frame.size)
        .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
      assert(math.abs(r.getDouble(4) - expect) < 1e-6,
        s"($typ,$day): ${r.getDouble(4)} vs $expect")
    }
  }

  test("q48: funnel counts are consistent with q38 sessions") {
    val funnel = EventQueries.q48SessionFunnel(spark, dir).collect()
    val sessions = EventQueries.q38Sessionize(spark, dir).collect()
    // session conservation: per-user n_sessions equals q38's sessions
    val perUser = sessions.groupBy(_.getLong(0)).view.mapValues(_.length)
    assert(funnel.map(_.getLong(0)).toSet === perUser.keySet)
    funnel.foreach { r =>
      val (u, n, nc, conv) =
        (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))
      assert(n === perUser(u).toLong, s"user $u session count")
      assert(conv <= nc && nc <= n, s"user $u funnel monotonicity")
    }
    // independent recomputation of one user's funnel from raw events
    val u0 = funnel.head.getLong(0)
    val ev = graft.operators.CoreQueries.events(spark, dir)
      .filter(col("user_id") === u0)
      .select("event_id", "ts", "event_type")
      .collect()
      .map(r => (r.getLong(0), r.getTimestamp(1).getTime, r.getString(2)))
      .sortBy(e => (e._2, e._1))
    val gaps = ev.sliding(2).map {
      case Array(a, b) => b._2 - a._2 > 6L * 3600 * 1000
      case _ => false
    }.toSeq
    val sessionOf = gaps.scanLeft(0)((s, g) => if (g) s + 1 else s)
    val byS = ev.zip(sessionOf).groupBy(_._2)
    val nClick = byS.values.count(_.exists(_._1._3 == "click"))
    val nConv = byS.values.count { es =>
      val clicks = es.filter(_._1._3 == "click").map(e => (e._1._2, e._1._1))
      val purch = es.filter(_._1._3 == "purchase").map(e => (e._1._2, e._1._1))
      clicks.nonEmpty && purch.nonEmpty && {
        implicit val ord = Ordering.Tuple2[Long, Long]
        ord.gt(purch.max, clicks.min)
      }
    }
    val r0 = funnel.find(_.getLong(0) === u0).get
    assert(r0.getLong(1) === byS.size.toLong)
    assert(r0.getLong(2) === nClick.toLong)
    assert(r0.getLong(3) === nConv.toLong)
  }

  test("q50: transition counts conserve events minus one per user") {
    val out = EventQueries.q50Transitions(spark, dir).collect()
    assert(out.length <= 25) // 5x5 type matrix
    val types = Set("click", "error", "purchase", "signup", "view")
    out.foreach { r =>
      assert(types.contains(r.getString(0)) && types.contains(r.getString(1)))
      assert(r.getLong(2) >= 1)
    }
    // each user's n events contribute exactly n-1 transitions
    val ev = graft.operators.CoreQueries.events(spark, dir)
    val users = ev.groupBy("user_id").count().collect()
    val expectTotal = users.map(_.getLong(1) - 1).sum
    assert(out.map(_.getLong(2)).sum === expectTotal)
  }

  test("q38: session count and per-user structure") {
    val out = EventQueries.q38Sessionize(spark, dir).collect()
    assert(out.length === 585) // DuckDB golden: users + gaps>6h
    out.foreach { r =>
      assert(r.getLong(2) >= 1) // n_events
      assert(r.getDouble(4) >= 0.0) // duration_s
    }
    // session ids are 1..k dense per user
    out.groupBy(_.getLong(0)).foreach { case (_, rows) =>
      val ids = rows.map(_.getLong(1)).sorted.toSeq
      assert(ids === (1L to ids.length.toLong), s"ids $ids")
    }
    // event conservation: session sizes sum to the event count
    val total = graft.operators.CoreQueries.events(spark, dir).count()
    assert(out.map(_.getLong(2)).sum === total)
  }

  /** Independent driver-side replication of integer k-means — plain
    * Scala collections, nothing shared with the DataFrame path.
    */
  private def refKmeans(vecs: Seq[(Long, Seq[Float])], k: Int,
      iters: Int, qs: Double, off: Long)
      : Seq[(Long, Long, Long, Long)] = {
    def quant(v: Seq[Float]): Array[Long] =
      v.map(x => math.floor(x.toDouble * qs + 0.5).toLong + off).toArray
    val q = vecs.map { case (id, v) => (id, quant(v)) }
    var cent = q.sortBy(_._1).take(k)
      .map { case (id, v) => (id, v.clone()) }
    def d2(a: Array[Long], b: Array[Long]): Long =
      a.indices.map(j => { val d = a(j) - b(j); d * d }).sum
    def assign(v: Array[Long]): (Long, Long) =
      cent.map { case (cid, c) => (d2(v, c), cid) }.min.swap
    for (_ <- 1 to iters) {
      val byC = q.groupBy { case (_, v) => assign(v)._1 }
      cent = cent.map { case (cid, c) =>
        byC.get(cid) match {
          case Some(m) =>
            (cid, Array.tabulate(c.length)(j =>
              m.map(_._2(j)).sum / m.size))
          case None => (cid, c)
        }
      }
    }
    val byC = q.groupBy { case (_, v) => assign(v)._1 }
    cent.flatMap { case (cid, c) =>
      byC.get(cid).map { m =>
        (cid, m.size.toLong,
          c.map(x => { val d = x - off; d * d }).sum,
          m.map { case (_, v) => d2(v, c) }.sum)
      }
    }.sortBy(_._1)
  }

  test("q97 kmeansInt == independent Scala replication") {
    import spark.implicits._
    // three tight blobs plus an outlier; 48 vectors, 5 dims — small
    // enough to replicate exactly, structured enough that assignments
    // move across iterations
    val rnd = new scala.util.Random(97L)
    val vecs: Seq[(Long, Seq[Float])] = (0L until 48L).map { id =>
      val center = (id % 3).toInt
      val base = Array.fill(5)(center * 2.0f)
      val v =
        if (id == 47L) Seq.fill(5)(9.5f)
        else base.map(x => x + (rnd.nextFloat() - 0.5f)).toSeq
      (id, v)
    }
    val got = Cluster
      .kmeansInt(vecs.toDF("vec_id", "embedding"), k = 4, iters = 3)
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
      .toSeq
    assert(got === refKmeans(vecs, 4, 3, 1000.0, 1048576L))
  }

  test("kcenterStats: full hand trace — seed, farthest argmax, tie on id, strict re-assign") {
    import spark.implicits._
    // 2-D micro-exact points: 1:(0,0) 2:(1,0) 3:(0,2) 4:(1,2)
    val vecs = Seq(
      (1L, Seq(0f, 0f)), (2L, Seq(1f, 0f)),
      (3L, Seq(0f, 2f)), (4L, Seq(1f, 2f)))
      .toDF("vec_id", "embedding")
    val got = Cluster.kcenterStats(vecs, k = 3, dim = 2)
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
      .toSeq
    // seed c0 = id1. dists²(×1e12): id2=1, id3=4, id4=5 → c1 = id4.
    // updates: id2 d=4 (no), id3 d=1 < 4 → ac=4. argmax over md
    // {id2:1, id3:1} ties → min id → c2 = id2; id3 d to id2 = 5 (no).
    // final: c0={1} r=0; id4={3,4} r=1e12; id2={2} r=0
    val T = 1000000000000L
    assert(got === Seq((0L, 1L, 1L, 0L), (1L, 4L, 2L, T),
      (2L, 2L, 1L, 0L)))
  }

  test("kcenterStats: partition-invariant; coverage radius shrinks with k; loud guards") {
    val e = spark.read.parquet(s"$dir/embeddings.parquet")
    def run(df: org.apache.spark.sql.DataFrame, k: Int) =
      Cluster.kcenterStats(df, k).collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
          r.getLong(3))).toSeq
    val k8 = run(e, 8)
    assert(k8 === run(e.repartition(7), 8))
    // the k-center objective (max cluster radius) is non-increasing
    // in k — the whole point of adding centers
    val cover4 = run(e, 4).map(_._4).max
    val cover8 = k8.map(_._4).max
    assert(cover8 <= cover4, s"k=8 radius $cover8 > k=4 $cover4")
    // every point is assigned to exactly one of the k centers
    assert(k8.map(_._3).sum === e.count())
    // greedy picks spread: k distinct centers, each its own cluster
    val k6 = run(e, 6)
    assert(k6.length === 6 && k6.map(_._2).distinct.length === 6, k6)
    intercept[IllegalArgumentException] {
      Cluster.kcenterStats(e.limit(0), 2)
    }
    import spark.implicits._
    val bad = Seq((1L, Seq(1f, 2f))).toDF("vec_id", "embedding")
    val ex = intercept[Exception] {
      Cluster.kcenterStats(bad, 2).collect()
    }
    assert(ex.getMessage != null)
  }
}
