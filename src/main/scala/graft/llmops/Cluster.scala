package graft.llmops

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Connected-components clustering over near-duplicate pairs — the step
  * that turns pairwise similarity output into dedup DECISIONS. A pair
  * list alone can't drive removal: near-dup relations are not
  * transitive-closed (A~B, B~C without A~C is common), so keeping
  * "min of each pair" both over- and under-deletes. The standard fix
  * (every production dedup pipeline) is: build the similarity graph,
  * take connected components, keep one canonical document per
  * component.
  *
  * The iteration here is min-label propagation: every vertex starts
  * labeled with itself; each round every vertex takes the min of its
  * own and its neighbors' labels; fixpoint = components labeled by
  * their min member. Each round is one equi-join + one partial-agg
  * shuffle keyed by vertex id, and the driver only ever sees a
  * converged/not-converged boolean — no component data. Rounds needed =
  * graph diameter; near-dup components are shallow (stars/cliques
  * around a template), so 2–4 rounds in practice. For adversarial
  * long-chain graphs [[connectedComponentsStar]] implements the
  * large-star/small-star edge rewriting (Kiveris+ 2014), which bounds
  * rounds at O(log n) with the same per-round dataflow — pick by
  * graph shape; both return identical labels (property-pinned).
  */
object Cluster {

  /** Connected components of the undirected graph given as an edge list.
    * Returns (id, cluster_rep) for every vertex appearing in ≥1 edge,
    * where cluster_rep = min vertex id of the component.
    *
    * Every per-round frame is `localCheckpoint`ed: the label lineage
    * would otherwise double each round (and re-run the upstream
    * pair-generation job per action). Checkpointing materializes each
    * round's labels once; the equivalent on a cluster is
    * `checkpoint`/persist-to-reliable-storage per round.
    */
  def connectedComponents(edges: DataFrame, srcCol: String,
      dstCol: String): DataFrame = {
    val e = edges.select(col(srcCol).as("src"), col(dstCol).as("dst"))
      .localCheckpoint() // pin the (possibly expensive) edge job ONCE
    val sym = e.unionByName(
      e.select(col("dst").as("src"), col("src").as("dst")))
    // seed with round 1 precomputed: label₀ = min(self, neighbors) —
    // one aggregation instead of an identity init + a full round
    var labels = sym
      .groupBy("src")
      .agg(min("dst").as("mn"))
      .select(col("src").as("id"), least(col("mn"), col("src")).as("label"))
      .localCheckpoint()
    var converged = false
    while (!converged) {
      val neighborMin = sym
        .join(labels.withColumnRenamed("id", "src"), Seq("src"))
        .groupBy(col("dst").as("id"))
        .agg(min("label").as("nlabel"))
      // carry the changed flag through the update so convergence is a
      // filter over the checkpointed result, not a second join
      val next = labels.join(neighborMin, Seq("id"), "left")
        .select(col("id"),
          least(col("label"), coalesce(col("nlabel"), col("label")))
            .as("label"),
          (col("nlabel").isNotNull && col("nlabel") < col("label"))
            .as("changed"))
        .localCheckpoint()
      converged = next.filter(col("changed")).isEmpty
      labels = next.drop("changed")
    }
    labels.select(col("id"), col("label").as("cluster_rep"))
  }

  /** Connected components via alternating LARGE-STAR / SMALL-STAR edge
    * rewriting (Kiveris+ 2014, "Connected Components in MapReduce and
    * Beyond") — the adversarial-graph sibling of [[connectedComponents]]:
    * min-label propagation needs O(diameter) rounds, this needs
    * O(log n) on any graph, so it is the variant to reach for when the
    * duplicate graph contains long chains (template drift, near-dup
    * chains across crawl snapshots) rather than shallow stars.
    *
    * Both operations are one grouped-min + one emit over the edge set:
    *  - large-star: per vertex u, attach every LARGER neighbor v to
    *    m = min(N(u) ∪ u) — long chains fold toward minima from
    *    everywhere at once;
    *  - small-star: per vertex u over its smaller neighbors only,
    *    re-attach them (and u) to the minimum — flattening the partial
    *    trees into stars.
    * Fixpoint: the edge set stops changing, at which point every edge
    * is (member, component-min). Same per-round dataflow costs as the
    * label loop — a shuffle on the vertex key and a distinct — and the
    * same localCheckpoint-per-round lineage rule.
    */
  def connectedComponentsStar(edges: DataFrame, srcCol: String,
      dstCol: String): DataFrame = {
    var e = edges
      .select(greatest(col(srcCol), col(dstCol)).as("hi"),
        least(col(srcCol), col(dstCol)).as("lo"))
      .filter(col("hi") =!= col("lo"))
      .distinct()
      .localCheckpoint()
    var nE = e.count()
    var converged = false
    while (!converged) {
      // large-star over the symmetric adjacency
      val sym = e.unionByName(
        e.select(col("lo").as("hi"), col("hi").as("lo")))
      val minN = sym.groupBy(col("hi").as("u"))
        .agg(min("lo").as("m"))
        .select(col("u"), least(col("m"), col("u")).as("m"))
      val large = sym
        .join(minN, sym("hi") === minN("u"))
        .filter(col("lo") > col("hi")) // only larger neighbors re-attach
        .select(col("lo").as("hi"), col("m").as("lo"))
        .filter(col("hi") =!= col("lo"))
        .distinct()
      // small-star over the (hi → smaller neighbors) orientation
      val minS = large.groupBy(col("hi").as("u")).agg(min("lo").as("m"))
      val next = large
        .join(minS, large("hi") === minS("u"))
        .select(col("lo").as("a"), col("m").as("b")) // smaller neighbors → min
        .unionByName(minS.select(col("u").as("a"), col("m").as("b"))) // u → min
        .filter(col("a") =!= col("b"))
        .select(greatest(col("a"), col("b")).as("hi"),
          least(col("a"), col("b")).as("lo"))
        .distinct()
        .localCheckpoint()
      val nNext = next.count()
      // distinct sets: equal count + empty one-way difference ⇔ equal.
      // Two light actions over checkpointed frames per round — the
      // count usually differs while converging, so the anti-join runs
      // only on the final (stable) round in practice
      converged = nNext == nE &&
        next.join(e, Seq("hi", "lo"), "left_anti").isEmpty
      e = next
      nE = nNext
    }
    // fixpoint edges are (member, component-min) stars; minima appear
    // only on the lo side and label themselves
    val labels = e.select(col("hi").as("id"), col("lo").as("cluster_rep"))
      .unionByName(e.select(col("lo"), col("lo")).distinct()
        .toDF("id", "cluster_rep"))
    // self-loop-only vertices were canonicalized away with the loops,
    // but they DID appear in >=1 edge — label them with themselves,
    // matching connectedComponents (a near-dup pair list can carry
    // (d, d) rows from a degenerate generator)
    val selfOnly = edges
      .filter(col(srcCol) === col(dstCol))
      .select(col(srcCol).as("id")).distinct()
      .join(labels, Seq("id"), "left_anti")
    labels.unionByName(selfOnly.select(col("id"), col("id").as("cluster_rep")))
  }

  /** End-to-end corpus dedup: remove every non-canonical member of a
    * near-dup cluster, keep everything else — the operation a
    * training-data pipeline actually runs.
    *
    * STAGED (the production order): an exact-dedup pass first — one
    * cheap fingerprint shuffle — then MinHash-LSH + connected
    * components over the exact-canonical survivors only. The kept set
    * is PROVABLY identical to running LSH over the raw corpus: exact
    * replicas have identical shingle sets, so the raw similarity graph
    * is the quotient graph with each exact group expanded to a clique —
    * same components — and each exact-canonical id is already the min
    * of its group, so the componentwise min doc is unchanged. Under
    * heavy duplication the LSH pair count drops by the square of the
    * replication factor (measured in `graft.tools.Soak dedup10x`:
    * 10×-replicated corpus, 8.6 s → 4.9 s end-to-end, the remainder scan-bound on the
    * soak's 10-way union). The exact pass is one scan + ONE full-row
    * shuffle on the fingerprint (window-min) — intrinsic: exact dedup
    * must route rows by content key once; everything after shuffles
    * only ids and hashes. Singletons pass through on the null side of
    * the left join.
    */
  def dedupCorpus(docs: DataFrame, threshold: Double = 0.5): DataFrame = {
    // exact pass in ONE scan + ONE fingerprint shuffle: window-min of
    // doc_id per fingerprint group (no self-join back to the corpus)
    val w = org.apache.spark.sql.expressions.Window.partitionBy("__fp")
    val reps = docs
      .withColumn("__fp", TextOps.fingerprint(col("text")))
      .withColumn("__exact_rep", min("doc_id").over(w))
      .filter(col("doc_id") === col("__exact_rep"))
      .drop("__fp", "__exact_rep")
    val cc = connectedComponents(
      Dedup.nearDupPairs(reps, threshold), "doc_a", "doc_b")
      .withColumnRenamed("id", "doc_id")
    reps.join(cc, Seq("doc_id"), "left")
      .filter(col("cluster_rep").isNull ||
        col("cluster_rep") === col("doc_id"))
      .drop("cluster_rep")
  }

  /** q33 — near-dup clusters: MinHash-LSH pairs (the q23 operator, same
    * threshold) → connected components → one row per clustered doc with
    * its canonical representative and component size. Downstream dedup
    * keeps exactly the `doc_id == cluster_rep` rows.
    */
  def qDedupClusters(spark: SparkSession, dir: String): DataFrame = {
    val docs = GateInputs.documents(spark, dir)
    val pairs = Dedup.nearDupPairs(docs, threshold = 0.3)
    val cc = connectedComponents(pairs, "doc_a", "doc_b")
    val sizes = cc.groupBy("cluster_rep")
      .agg(count(lit(1)).as("cluster_size"))
    cc.join(sizes, Seq("cluster_rep"))
      .select(col("id").as("doc_id"), col("cluster_rep"),
        col("cluster_size"))
      .orderBy("doc_id")
  }

  /** Lloyd k-means in EXACT integer arithmetic — like q96's PageRank,
    * an iterative fixpoint made hash-gateable by keeping every step
    * order-independent: embeddings quantize to a shared integer grid
    * (floor(x·quantScale + 0.5) + offset — the offset keeps every
    * coordinate POSITIVE so the centroid-update floor division is
    * identical across engines; Spark's `div` truncates toward zero
    * while DuckDB's `//` floors, and they only agree on non-negative
    * operands), distances are exact BIGINT sums of squares, centroid
    * updates are integer floor-divided means, and argmin ties break to
    * the lowest centroid id. Seeds are the k lowest-vec_id vectors.
    *
    * Scale shape: centroids are a k×dim driver-side array (the PQ
    * codebook precedent — bounded by k, never by data), so assignment
    * is a PURE MAP stage — the [[graft.expressions.KmeansNearest]]
    * kernel (centroid matrix as a codegen reference object, so the
    * generated source is iteration-invariant and compiles once) — no
    * crossJoin row blowup, no shuffle. The one shuffle per iteration
    * is the (cid, n, Σ per-dim) partial-aggregated update. Empty
    * clusters keep their previous centroid.
    *
    * Returns one row per cluster: (cluster, n_members,
    * centroid_norm2 = Σ(c_j − offset)², inertia = Σ member distances
    * to the FINAL centroids) — counts, a centroid digest, and the
    * objective, all exact BIGINTs.
    */
  /** Quantize `embedding` onto the shared integer grid (see
    * [[kmeansInt]]) and pin the scan once. */
  private def quantize(vecs: DataFrame, quantScale: Double,
      offset: Long): DataFrame =
    vecs.select(col("vec_id"),
        transform(col("embedding"), x =>
          floor(x.cast("double") * quantScale + 0.5).cast("long")
            + offset).as("qe"))
      .localCheckpoint()

  /** The Lloyd training loop behind [[kmeansInt]] over a pre-quantized
    * (vec_id, qe) frame: returns the trained (cid, centroid-on-grid)
    * array — k-sized driver state (the PQ-codebook precedent), which
    * is what makes the per-iteration assignment a pure map stage.
    */
  private def lloyd(q: DataFrame, k: Int,
      iters: Int): Array[(Long, Array[Long])] = {
    var cent: Array[(Long, Array[Long])] = q.orderBy("vec_id").limit(k)
      .collect()
      .map(r => (r.getLong(0), r.getSeq[Long](1).toArray))
    require(cent.nonEmpty, "k-means training needs a non-empty corpus")
    val dim = cent.head._2.length
    // nearest-centroid kernel with the centroid matrix as a codegen
    // REFERENCE OBJECT — identical generated source every iteration
    // (the literal-inlined Column form rebuilt a ~4k-node tree and
    // recompiled per iteration; measured 10+ s of fixed overhead)
    def best: Column = graft.expressions.KmeansNearest.nearest(
      col("qe"), cent.map(_._1), cent.map(_._2))
    for (_ <- 1 to iters) {
      val sums = q.withColumn("cid", best.getItem(1))
        .groupBy("cid")
        .agg(count(lit(1)).as("n"),
          (0 until dim).map(j =>
            sum(element_at(col("qe"), j + 1)).as(s"s$j")): _*)
      val g = sums.collect().map { r =>
        (r.getLong(0), (r.getLong(1),
          Array.tabulate(dim)(j => r.getLong(2 + j))))
      }.toMap
      cent = cent.map { case (cid, c) =>
        g.get(cid) match {
          case Some((n, s)) => (cid, s.map(_ / n))
          case None         => (cid, c) // empty cluster: keep centroid
        }
      }
    }
    cent
  }

  /** Trained Lloyd centroids for `vecs` (vec_id, embedding) on the
    * integer grid — the reusable product of the k-means recurrence,
    * exposed so other operators can consume the model rather than the
    * cluster report: [[graft.llmops.Similarity.ivfSeedsKmeans]] turns
    * these into an IVF coarse quantizer. Dequantize a coordinate with
    * (c − offset) / quantScale.
    */
  def kmeansCentroids(vecs: DataFrame, k: Int, iters: Int,
      quantScale: Double = 1000.0,
      offset: Long = 1048576L): Array[(Long, Array[Long])] =
    lloyd(quantize(vecs, quantScale, offset), k, iters)

  def kmeansInt(vecs: DataFrame, k: Int, iters: Int,
      quantScale: Double = 1000.0, offset: Long = 1048576L): DataFrame = {
    val spark = vecs.sparkSession
    val q = quantize(vecs, quantScale, offset)
    val cent = lloyd(q, k, iters)
    def best: Column = graft.expressions.KmeansNearest.nearest(
      col("qe"), cent.map(_._1), cent.map(_._2))
    val norms = cent.toSeq.map { case (cid, c) =>
      (cid, c.map(v => { val d = v - offset; d * d }).sum)
    }
    import spark.implicits._
    val normDf = norms.toDF("cluster", "centroid_norm2")
    q.select(best.getItem(0).as("dd"),
        best.getItem(1).as("cluster"))
      .groupBy("cluster")
      .agg(count(lit(1)).as("n_members"), sum(col("dd")).as("inertia"))
      .join(broadcast(normDf), Seq("cluster"))
      .select(col("cluster"), col("n_members"), col("centroid_norm2"),
        col("inertia"))
      .orderBy("cluster")
  }

  /** q97 — [[kmeansInt]] k=8, 3 Lloyd iterations over the embeddings
    * table. The DuckDB mirror replays the identical recurrence with
    * the centroids as CTE relations (generated per-dim sum/coalesce
    * columns, row_number argmin) — same values, different plan, which
    * is exactly what an oracle is for.
    */
  /** Greedy k-center (farthest-point traversal, Gonzalez 1985) coreset
    * selection over an embedding column — the DIVERSE-subset picker a
    * training-data pipeline runs when it wants coverage rather than
    * density: the classic 2-approximation to the k-center objective,
    * the shape behind coreset/data-pruning methods that spread a
    * sample across embedding space (where [[kmeansInt]] partitions
    * mass and MMR re-ranks a candidate list, this SELECTS k maximally
    * spread exemplars from the whole table). Deterministic and
    * hash-exact: components micro-quantize (floor(x·1e6+0.5), the q47
    * spelling), distances are EXACT Long squared-Euclidean sums
    * (|q|≤~2^22 per component ⇒ per-dim square < 2^45, 64-dim sum
    * < 2^51), the seed is the smallest id, each round's farthest
    * point breaks ties on id, and a point re-assigns only on a
    * STRICT distance improvement (earlier center wins ties).
    *
    * Scale shape: the quantized relation localCheckpoints ONCE; each
    * of the k−1 rounds is (a) a TakeOrderedAndProject argmax (one
    * slim job, driver receives ONE row — centers are the bounded
    * driver model, k rows total) and (b) a pure map update folding
    * the new center's components into codegen as literals
    * (`aggregate(zip_with(...))`, no join, no shuffle), checkpointed
    * on the iterative cadence (the kmeans/PageRank discipline). The
    * report is a k-row aggregate. Nothing scales past k except the
    * one quantize pass and k map sweeps.
    */
  def kcenterStats(vectors: DataFrame, k: Int, dim: Int = 64,
      idCol: String = "vec_id", embCol: String = "embedding")
      : DataFrame = {
    require(k >= 1, s"need k >= 1, got $k")
    val spark = vectors.sparkSession
    val qarr = transform(col(embCol),
      x => floor(x.cast("double") * 1000000.0 + 0.5).cast("long"))
    val base = vectors
      .select(col(idCol).as("vid"),
        when(size(col(embCol)) === dim, qarr)
          .otherwise(raise_error(concat(
            lit(s"kcenterStats: expected $dim-dim embedding, got "),
            size(col(embCol)).cast("string"),
            lit(" for id "), col(idCol).cast("string")))).as("q"))
      .localCheckpoint()
    def dist2To(center: Seq[Long]): Column =
      aggregate(
        zip_with(col("q"), array(center.map(lit): _*),
          (a, b) => (a - b) * (a - b)),
        lit(0L), (acc, x) => acc + x)
    val c0 = base.orderBy(col("vid")).limit(1)
      .collect().headOption.getOrElse(
        throw new IllegalArgumentException("kcenterStats: empty input"))
    val c0id = c0.getLong(0)
    val c0q = c0.getSeq[Long](1)
    val centers = scala.collection.mutable.ArrayBuffer[(Long, Long)]()
    centers += ((0L, c0id))
    var state = base
      .withColumn("md", dist2To(c0q))
      .withColumn("ac", lit(c0id))
      .localCheckpoint()
    var r = 1
    while (r < k) {
      val top = state.orderBy(col("md").desc, col("vid")).limit(1)
        .collect().head
      val cid = top.getLong(0)
      val cq = top.getSeq[Long](1)
      centers += ((r.toLong, cid))
      val d = dist2To(cq)
      state = state
        .withColumn("md2", least(col("md"), d))
        .withColumn("ac", when(d < col("md"), lit(cid))
          .otherwise(col("ac")))
        .drop("md").withColumnRenamed("md2", "md")
        .localCheckpoint()
      r += 1
    }
    import spark.implicits._
    val rks = centers.toSeq.toDF("rk", "center_id")
    state.groupBy(col("ac").as("center_id"))
      .agg(count(lit(1)).as("n_points"),
        max(col("md")).as("radius_micro2"))
      .join(broadcast(rks), "center_id")
      .select(col("rk"), col("center_id"), col("n_points"),
        col("radius_micro2"))
      .orderBy("rk")
  }

  /** q142 — [[kcenterStats]] as a gate query: k = 8 diverse exemplars
    * over the synthetic embeddings, reported as (selection rank,
    * center id, assigned count, cluster radius in micro² units). The
    * mirror unrolls the 7 greedy rounds as CTE stages over a flat
    * 64-column integer relation (the q90 flat-embedding lesson) and
    * replays seed, argmax tie-breaks, strict-improvement assignment
    * and the exact Long distance sums bit-for-bit.
    */
  def qKcenterCoreset(spark: SparkSession, dir: String): DataFrame =
    kcenterStats(
      GateInputs.embeddings(spark, dir), k = 8)

  def qKmeans(spark: SparkSession, dir: String): DataFrame =
    kmeansInt(GateInputs.embeddings(spark, dir)
      .select("vec_id", "embedding"), k = 8, iters = 3)
}
