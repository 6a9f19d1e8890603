package graft.llmops

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Deduplication operators for training-data pipelines.
  *
  * Scale design (the whole point at 100 TB):
  *  - exact dedup is one hash-shuffle on a 64-bit fingerprint (never on
  *    the raw text — the shuffle carries 8 bytes + doc_id per row);
  *  - MinHash near-dup uses LSH banding so candidate generation is an
  *    equi-join on (band, band_hash) buckets — no O(n²) cross join ever;
  *  - SimHash uses the same bucket trick on 16-bit key chunks;
  *  - verification (exact Jaccard) runs only on bucket-collision pairs.
  *
  * Cache lifetime: the near-dup pipelines `persist()` their shingle
  * sets (multiple consumers). The cached plans back the returned
  * DataFrame, so they cannot be unpersisted before the caller's action;
  * release them afterwards with `spark.catalog.clearCache()` — Bench and
  * Verify do so between queries.
  */
object Dedup {

  /** Normalized word tokens of the text. */
  def tokens(text: Column): Column =
    split(regexp_replace(lower(text), "\\s+", " "), " ")

  /** Word shingles from a MATERIALIZED token column. Pass an attribute:
    * `slice(toks, …)` sits inside the per-element lambda, and expressions
    * inside a HOF lambda body re-evaluate per element — handing the raw
    * [[tokens]] expression here re-runs the regexp+split once per
    * shingle (measured 8 s for 5000 docs at sf0.1 vs ~1 s with a
    * materialized column).
    */
  def shinglesFromTokens(toks: Column, n: Int = 3): Column = {
    val k = size(toks) - (n - 1)
    when(k > 0,
      transform(sequence(lit(0), k - 1),
        i => concat_ws(" ", slice(toks, i + 1, lit(n)))))
      .otherwise(array(concat_ws(" ", toks)))
  }

  /** Convenience composition (small inputs / tests — see the
    * per-element-re-evaluation caveat on [[shinglesFromTokens]]).
    */
  def shingles(text: Column, n: Int = 3): Column =
    shinglesFromTokens(tokens(text), n)

  /** MinHash signature: k independent min-hashes of the shingle set —
    * the HOF reference formulation of the native
    * [[graft.expressions.MinHashSignature]] kernel (bit-identical,
    * checked by DedupSpec). ONE md5 per shingle: h = the 48-bit value
    * of the first 12 md5 hex chars, permutation i is
    * (aᵢ·(h mod M) + bᵢ) mod M over exact 64-bit arithmetic — which is
    * why an external SQL oracle reproduces the signature exactly.
    */
  def minhash(shingleArr: Column, k: Int = 16): Column = {
    import graft.expressions.{MinHashSignature => MH}
    // single pass over the shingles (k-wide running elementwise min)
    // rather than k passes: after CollapseProject inlines the shingle
    // expression, a sequence(0,k)-outer formulation would recompute the
    // shingle array k times per row — 32× the work.
    aggregate(
      shingleArr,
      array_repeat(lit(Long.MaxValue), k),
      (acc, s) => {
        val hm = conv(substring(md5(s), 1, 12), 16, 10).cast("long") % MH.M
        val hs = array((0 until k).map(i =>
          (lit(MH.affineA(i)) * hm + lit(MH.affineB(i))) % MH.M): _*)
        zip_with(acc, hs, (a, h) => least(a, h))
      },
      acc => transform(acc,
        v => when(v === Long.MaxValue, lit("g")).otherwise(v.cast("string"))))
  }

  /** LSH band keys: the signature split into `bands` chunks of `rowsPer`,
    * each chunk joined to one band-key string. Two docs collide in a band
    * iff their chunk matches exactly.
    */
  def bandKeys(sig: Column, bands: Int, rowsPer: Int): Column =
    array((0 until bands).map { b =>
      struct(lit(b).as("band"),
        concat_ws("|", slice(sig, b * rowsPer + 1, rowsPer)).as("bh"))
    }: _*)

  /** Exact Jaccard similarity of two shingle arrays (verification step —
    * runs only on LSH candidate pairs).
    */
  def jaccard(a: Column, b: Column): Column = {
    val inter = size(array_intersect(a, b)).cast("double")
    val uni = size(array_union(a, b)).cast("double")
    when(uni > 0, round(inter / uni, 6)).otherwise(lit(1.0))
  }

  /** Jaccard over ALREADY-DISTINCT shingle arrays with precomputed sizes:
    * |A∪B| = na + nb − |A∩B| (inclusion-exclusion) saves building the
    * union hash set per pair — the per-pair hot path of both near-dup
    * verifies. Same values as [[jaccard]] on the distinct sets.
    *
    * Callers pass 64-bit hashed shingles ([[hashedShingles]]): long
    * intersection beats string intersection ~an order of magnitude in
    * the per-pair loop, and the set sizes/overlaps are unchanged up to
    * 2^-64 collisions.
    */
  def jaccardDistinct(a: Column, b: Column, na: Column, nb: Column): Column = {
    // native |A∩B| kernel: same value as size(array_intersect(a,b)) on
    // these distinct inputs, none of the per-pair intersection-array
    // materialization (DedupSpec pins the equivalence)
    val inter = graft.expressions.IntersectCount.intersectCount(a, b)
    val uni = na + nb - inter
    when(uni > 0, round(inter.cast("double") / uni, 6)).otherwise(lit(1.0))
  }

  /** Distinct 64-bit ids of the word shingles — the pair-verify currency. */
  def hashedShingles(shingleArr: Column): Column =
    array_distinct(transform(shingleArr, s => xxhash64(s)))

  // ---- queries ----

  /** Exact dedup: canonical doc per normalized-text fingerprint.
    * Output: one row per distinct content with the min doc_id and the
    * duplicate count. The shuffle key is the 64-bit fingerprint.
    */
  def qDedupExact(spark: SparkSession, dir: String): DataFrame =
    GateInputs.documents(spark, dir)
      .select(col("doc_id"), TextOps.fingerprint(col("text")).as("fp"))
      .groupBy("fp")
      .agg(min("doc_id").as("canonical_doc_id"),
        count(lit(1)).as("n_copies"))
      .select("canonical_doc_id", "n_copies")
      .orderBy("canonical_doc_id")

  /** The landed corpus's exact-dedup index: one 64-bit fingerprint per
    * distinct content. This is the ONLY state incremental ingest needs
    * to carry forward — 8 bytes per distinct doc, not the text.
    */
  def fingerprintIndex(landed: DataFrame): DataFrame =
    landed.select(TextOps.fingerprint(col("text")).as("fp")).distinct()

  /** Incremental ingest dedup: the production shape where a NEW batch
    * lands against an EXISTING corpus. Two stages, both on the 64-bit
    * fingerprint: (1) left-anti join against the landed
    * [[fingerprintIndex]] drops content the corpus already has;
    * (2) a per-fingerprint min-id window dedups within the batch
    * itself (a batch can carry its own duplicates). Returns the rows
    * of `newDocs` that should land; appending their fingerprints to
    * the index keeps the invariant for the next batch.
    *
    * Scale shape: both stages shuffle on the fingerprint — the anti
    * join co-partitions 8-byte keys (or broadcasts, if the index fits),
    * and the window reuses the same key. The text never shuffles
    * except inside its own batch's window stage. The streaming sibling
    * is [[graft.streaming.StreamOps.dedupStream]], which holds the
    * same fingerprint state in the state store with a watermark
    * horizon; this batch form has an UNBOUNDED horizon — the index is
    * a table, so "seen" never expires.
    */
  def dedupIncrement(newDocs: DataFrame, fingerprintIdx: DataFrame,
      idCol: String = "doc_id", textCol: String = "text"): DataFrame = {
    // __fp / __rn are scratch names; reject inputs that already carry
    // them rather than silently clobbering a caller column
    require(!newDocs.columns.contains("__fp") &&
      !newDocs.columns.contains("__rn"),
      "dedupIncrement reserves the column names __fp and __rn")
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("__fp").orderBy(idCol)
    newDocs
      .withColumn("__fp", TextOps.fingerprint(col(textCol)))
      .join(fingerprintIdx.select(col("fp").as("__fp")), Seq("__fp"),
        "left_anti")
      .withColumn("__rn", row_number().over(w))
      .filter(col("__rn") === 1)
      .drop("__fp", "__rn")
  }

  /** q46 — [[dedupIncrement]] as a driver-testdata query. The corpus
    * has no natural exact dups, so the batch is constructed to carry
    * both failure modes: uppercased copies of landed docs (must drop at
    * the anti-join — normalization equates them) and whitespace-mangled
    * copies of the batch's own fresh docs (must drop at the
    * within-batch window, the original id winning). What lands is
    * exactly the unmodified fresh docs.
    */
  def qDedupIncrement(spark: SparkSession, dir: String): DataFrame = {
    val d = GateInputs.documents(spark, dir)
    val cols = Seq("doc_id", "text", "lang", "source", "n_chars")
    val landed = d.filter(col("doc_id") < 400)
    val fresh = d.filter(col("doc_id") >= 400)
    val dupOfLanded = d.filter(col("doc_id") < 100)
      .select((col("doc_id") + 1000).as("doc_id"),
        upper(col("text")).as("text"),
        col("lang"), col("source"), col("n_chars"))
    val dupInBatch = fresh
      .select((col("doc_id") + 3000).as("doc_id"),
        regexp_replace(col("text"), " ", "  ").as("text"),
        col("lang"), col("source"), col("n_chars"))
    val batch = dupOfLanded
      .unionByName(fresh.select(cols.map(col): _*))
      .unionByName(dupInBatch)
    dedupIncrement(batch, fingerprintIndex(landed))
      .select("doc_id", "lang", "source", "n_chars")
      .orderBy("doc_id")
  }

  /** MinHash+LSH near-duplicate pairs: shingle → signature → band
    * buckets → self-equi-join within bucket → exact-Jaccard verify.
    * Returns (doc_a, doc_b, jaccard) with doc_a < doc_b, jaccard ≥ the
    * threshold. At scale this is: one map stage, one explode (×bands),
    * one hash-shuffle on (band, bh), then per-bucket pairs.
    */
  def nearDupPairs(df: DataFrame, threshold: Double = 0.5,
      k: Int = 16, bands: Int = 8): DataFrame = {
    val rowsPer = k / bands
    // Distinct shingle set + size, computed ONCE and persisted: it feeds
    // the band explode and both sides of the verify join (3 consumers).
    // array_distinct changes neither the min-hash (min is duplicate-
    // insensitive) nor the Jaccard value, but shrinks every downstream
    // row. At cluster scale this persist is a MEMORY_AND_DISK spill of
    // ~the corpus size — the standard trade against recomputing the
    // O(k·shingles) signature per consumer.
    val withSh = df
      .select(col("doc_id"),
        array_distinct(
          graft.expressions.WordShingles.shingles(col("text"))).as("sh"))
      .withColumn("shh", hashedShingles(col("sh")))
      .withColumn("n_sh", size(col("shh")))
      .persist()
    // persisted too: BOTH sides of the band self-join consume it, and
    // without the boundary each side would recompute the k·|shingles|
    // md5 signature pass. The signature runs through the native
    // MinHashSignature kernel (same values as [[minhash]], checked by
    // DedupSpec; one reused digest, no per-(shingle,i) string churn).
    val withBand = withSh
      .withColumn("sig",
        graft.expressions.MinHashSignature.signature(col("sh"), k))
      .select(col("doc_id"),
        explode(bandKeys(col("sig"), bands, rowsPer)).as("bk"))
      .select(col("doc_id"),
        col("bk.band").as("band"), col("bk.bh").as("bh"))
      .persist()
    val a = withBand.select(col("band"), col("bh"), col("doc_id").as("doc_a"))
    val b = withBand.select(col("band"), col("bh"), col("doc_id").as("doc_b"))
    // dedup candidate pairs BEFORE the expensive exact-Jaccard verify:
    // the same pair can collide in several bands, and at scale the
    // shuffle should carry (doc_a, doc_b) ids, not shingle arrays
    val cand = a.join(b, Seq("band", "bh"))
      .filter(col("doc_a") < col("doc_b"))
      .select("doc_a", "doc_b").distinct()
    val shA = withSh.select(col("doc_id").as("doc_a"),
      col("shh").as("sh_a"), col("n_sh").as("na"))
    val shB = withSh.select(col("doc_id").as("doc_b"),
      col("shh").as("sh_b"), col("n_sh").as("nb"))
    cand.join(shA, Seq("doc_a")).join(shB, Seq("doc_b"))
      .select(col("doc_a"), col("doc_b"),
        jaccardDistinct(col("sh_a"), col("sh_b"),
          col("na"), col("nb")).as("jaccard"))
      .filter(col("jaccard") >= threshold)
  }

  def qNearDupMinhash(spark: SparkSession, dir: String): DataFrame =
    nearDupPairs(GateInputs.documents(spark, dir), threshold = 0.3)
      .orderBy("doc_a", "doc_b")

  /** SimHash fingerprints + bucket-collision candidates on 16-bit chunks:
    * docs sharing any chunk of the 64-bit simhash are near-dup
    * candidates; report hamming distance ≤ 8.
    *
    * The fingerprint is the md5-based [[graft.expressions.SimHash64]]
    * kernel — one digest pass per token instead of 64 aggregate folds
    * over an xxhash64 array, and (like q23's MinHash) bit-for-bit
    * reproducible by the DuckDB oracle from the md5 hex digits.
    */
  def qNearDupSimhash(spark: SparkSession, dir: String): DataFrame = {
    val d = GateInputs.documents(spark, dir)
      // WordShingles with n=1 IS the token array (one-token shingles) —
      // same native single pass, no regex tokenizer
      .withColumn("toks", graft.expressions.WordShingles.shingles(col("text"), 1))
      .select(col("doc_id"),
        graft.expressions.SimHash64.simhash(col("toks")).as("sh"))
    val chunked = d.select(col("doc_id"), col("sh"),
      explode(array((0 until 4).map { c =>
        struct(lit(c).as("chunk"),
          shiftright(col("sh"), c * 16).bitwiseAND(0xFFFF).as("ck"))
      }: _*)).as("c"))
      .select(col("doc_id"), col("sh"),
        col("c.chunk").as("chunk"), col("c.ck").as("ck"))
    val a = chunked.select(col("chunk"), col("ck"),
      col("doc_id").as("doc_a"), col("sh").as("sh_a"))
    val b = chunked.select(col("chunk"), col("ck"),
      col("doc_id").as("doc_b"), col("sh").as("sh_b"))
    val hamming = bit_count(col("sh_a").bitwiseXOR(col("sh_b"))).cast("int")
    a.join(b, Seq("chunk", "ck"))
      .filter(col("doc_a") < col("doc_b"))
      .select(col("doc_a"), col("doc_b"), hamming.as("hamming"))
      .distinct()
      .filter(col("hamming") <= 8)
      .orderBy("doc_a", "doc_b")
  }

  /** Embedding-cosine near-duplicates with canonical assignment — the
    * semantic-dedup modality (MinHash/SimHash catch lexical near-dups;
    * this catches paraphrases that embed close together).
    *
    * Multi-table sign-LSH: `nTables` independent bucket keys per vector
    * (disjoint hyperplane sets), candidates = pairs sharing ANY table's
    * bucket — the banding trick from MinHash-LSH applied to cosine
    * space. Fewer planes per table raises recall, more tables cap the
    * miss rate at (1−p^planes)^tables; production near-dup thresholds
    * (≥0.9) would use 8–16 planes per table, the 4×4 here is tuned to
    * the synthetic corpus's weak correlations. Exact cosine verifies
    * every candidate, so precision is exact; only recall is
    * approximate. Output: one row per duplicate vector with its
    * canonical (smallest qualifying neighbor) id.
    *
    * Scale shape: keys are a map stage; the explode carries (vec_id,
    * tbl, bucket) — never the vector; the self-join is an equi-join on
    * (tbl, bucket); vectors rejoin by id only for the verify. The part
    * that must SCALE WITH THE CORPUS is `planesPer`: expected bucket
    * occupancy is N / 2^planesPer, and in-bucket candidate pairs grow
    * with occupancy SQUARED — the 100× soak (`graft.tools.Soak scale100x`)
    * measured the 4-plane gate tuning at 200k vectors producing ~5
    * billion candidate rows (16 buckets/table × ~12.5k occupancy²)
    * where 14 planes keeps occupancy O(replica-group) and finishes in
    * seconds. Size planesPer ≈ log₂(N / targetOccupancy); the recall
    * floor rises with planes ((1−θ/π)^planes per table), which is the
    * correct production trade — at 100 TB, sign-LSH blocking is a
    * near-IDENTICAL-dup detector (exact replicas collide in every
    * table regardless of planes); low-threshold semantic similarity
    * belongs to the IVF/PQ path (q27), not to bucket blocking.
    */
  def qDedupEmbedding(spark: SparkSession, dir: String): DataFrame =
    embeddingDedup(GateInputs.embeddings(spark, dir),
      nTables = 4, planesPer = 4, threshold = 0.3)

  /** Parameterized library form of [[qDedupEmbedding]] (same plan;
    * the gate query pins the (4, 4, 0.3) tuning its DuckDB mirror
    * replays). `e0` must carry (vec_id, embedding).
    */
  def embeddingDedup(e0: DataFrame, nTables: Int, planesPer: Int,
      threshold: Double): DataFrame = {
    val e = e0
      .select(col("vec_id"), col("embedding"))
      .withColumn("nrm", Similarity.norm(col("embedding")))
      .persist() // 3 consumers: key explode + both verify sides
    val keyed = e.select(col("vec_id"),
      explode(array((0 until nTables).map { t =>
        struct(lit(t).as("tbl"),
          Similarity.lshKey(col("embedding"), 64, planesPer,
            firstPlane = 16 + t * planesPer).as("bucket"))
      }: _*)).as("tb"))
      .select(col("vec_id"), col("tb.tbl").as("tbl"),
        col("tb.bucket").as("bucket"))
    val a = keyed.select(col("tbl"), col("bucket"), col("vec_id").as("id_a"))
    val b = keyed.select(col("tbl"), col("bucket"), col("vec_id").as("id_b"))
    val cand = a.join(b, Seq("tbl", "bucket"))
      .filter(col("id_a") < col("id_b"))
      .select("id_a", "id_b").distinct()
    val ea = e.select(col("vec_id").as("id_a"),
      col("embedding").as("emb_a"), col("nrm").as("nrm_a"))
    val eb = e.select(col("vec_id").as("id_b"),
      col("embedding").as("emb_b"), col("nrm").as("nrm_b"))
    cand.join(ea, Seq("id_a")).join(eb, Seq("id_b"))
      .select(col("id_a"), col("id_b"),
        round(Similarity.cosineWithNorms(col("emb_a"), col("emb_b"),
          col("nrm_a"), col("nrm_b")), 6).as("cos_sim"))
      .filter(col("cos_sim") >= threshold)
      .groupBy(col("id_b").as("vec_id"))
      .agg(min("id_a").as("canonical_id"), count(lit(1)).as("n_dups"))
      .orderBy("vec_id")
  }

  /** SemDeDup-shape SEMANTIC deduplication (Abbas et al. 2023,
    * arXiv:2303.09540): cluster the embedding space with the IVF
    * coarse quantizer ([[Similarity.ivfSeeds]]/[[Similarity.ivfAssign]]
    * — the q27 index), then within each cell compute exact pairwise
    * cosine and drop every vector that has a qualifying neighbor with
    * a smaller id (greedy min-id representative, the library's
    * canonical-assignment rule — deterministic where the paper keeps a
    * random/centroid-distance representative).
    *
    * This is the modality sign-LSH blocking ([[embeddingDedup]])
    * correctly refuses to chase: at LOW thresholds (0.2–0.8 —
    * paraphrases, re-renders, translations that embed close without
    * being near-identical) bucket-collision recall collapses, while
    * cluster-then-exhaustive keeps recall high for any threshold
    * BECAUSE the candidate set is the semantic neighborhood itself,
    * not a hash bucket. The cost model is explicit: per-cell pairs
    * grow with occupancy² (occupancy = N/nSeeds), so the seed count —
    * not a hash width — is the knob that must scale with the corpus;
    * at 100 TB the assignment is one broadcast-seeds map stage, the
    * pair join is a single co-partitioned shuffle on seed_id, and the
    * only cross-cell miss is a pair straddling a cell boundary (the
    * paper accepts the same; raise nProbe-style multi-assignment if
    * the boundary loss matters).
    *
    * Output: one row per DROPPED vector — (vec_id, canonical_id =
    * min qualifying neighbor, n_dups = qualifying smaller-id
    * neighbors), the [[embeddingDedup]] contract, so callers swap
    * blockers without changing downstream anti-joins.
    */
  def semanticDedup(e0: DataFrame, threshold: Double): DataFrame = {
    val e = e0.select(col("vec_id"), col("embedding"))
      .withColumn("nrm", Similarity.norm(col("embedding")))
    val assign = Similarity.ivfAssign(e, Similarity.ivfSeeds(e))
    val a = assign.select(col("seed_id"), col("vec_id").as("id_a"),
      col("embedding").as("emb_a"), col("nrm").as("nrm_a"))
    val b = assign.select(col("seed_id"), col("vec_id").as("id_b"),
      col("embedding").as("emb_b"), col("nrm").as("nrm_b"))
    a.join(b, Seq("seed_id"))
      .filter(col("id_a") < col("id_b"))
      .select(col("id_a"), col("id_b"),
        round(Similarity.cosineWithNorms(col("emb_a"), col("emb_b"),
          col("nrm_a"), col("nrm_b")), 6).as("cos_sim"))
      .filter(col("cos_sim") >= threshold)
      .groupBy(col("id_b").as("vec_id"))
      .agg(min("id_a").as("canonical_id"), count(lit(1)).as("n_dups"))
      .orderBy("vec_id")
  }

  /** The INGEST form of [[semanticDedup]] — the q46 shape in embedding
    * space: a landing batch is pruned against the LANDED corpus first
    * (any qualifying landed neighbor in the same cell drops the batch
    * vector — landed vectors always win, whatever their ids), then
    * within itself (greedy min-id). The coarse quantizer comes from
    * the landed corpus alone, matching production reality: the cells
    * are trained on the stable corpus and a batch only ASSIGNS against
    * them, so ingest never re-shuffles landed vectors — per batch the
    * landed side contributes one cell-key equi-join probe.
    *
    * Returns the SURVIVING batch rows (full original columns).
    * `landed` must be non-empty (it provides the seeds; dedup the
    * first batch with [[semanticDedup]] itself).
    */
  def semanticDedupIncrement(batch: DataFrame, landed: DataFrame,
      threshold: Double): DataFrame = {
    def prep(df: DataFrame) = df.select(col("vec_id"), col("embedding"))
      .withColumn("nrm", Similarity.norm(col("embedding")))
    val l = prep(landed)
    val b = prep(batch)
    val seeds = Similarity.ivfSeeds(l)
    val la = Similarity.ivfAssign(l, seeds)
    val ba = Similarity.ivfAssign(b, seeds)
    def cosTo(side: DataFrame, idAs: String) = ba.join(
      side.select(col("seed_id"), col("vec_id").as(idAs),
        col("embedding").as("e2"), col("nrm").as("n2")), Seq("seed_id"))
      .withColumn("cos_sim", round(Similarity.cosineWithNorms(
        col("embedding"), col("e2"), col("nrm"), col("n2")), 6))
      .filter(col("cos_sim") >= threshold)
    val dropVsLanded = cosTo(la, "lid")
      .select("vec_id").distinct()
    val dropInBatch = cosTo(ba, "bid")
      .filter(col("bid") < col("vec_id"))
      .select("vec_id").distinct()
    batch.join(dropVsLanded.unionByName(dropInBatch).distinct(),
      Seq("vec_id"), "left_anti")
  }

  /** q85 — [[semanticDedup]] as a gate query: the synthetic embedding
    * corpus has weak correlations, so the pinned threshold is low
    * enough to produce a non-trivial dropped set whose DuckDB mirror
    * replays the identical assignment + per-cell pair semantics.
    */
  def qSemanticDedup(spark: SparkSession, dir: String): DataFrame =
    semanticDedup(GateInputs.embeddings(spark, dir),
      threshold = 0.25)

  /** q49 — asymmetric CONTAINMENT pairs: C(A→B) = |A∩B| / |A| over the
    * hashed shingle sets, within-source blocked like q25. Jaccard
    * misses subset relations (a tweet quoted inside an article has
    * tiny Jaccard but containment ≈ 1), and containment is what
    * quote/boilerplate-inclusion dedup policies threshold on.
    *
    * Same scalable co-count shape as q25 — |A∩B| arrives as a count
    * from the shingle equi-join, so non-overlapping pairs never
    * materialize — and both directions fall out of ONE count by
    * dividing by each side's size. Emits (small_doc, big_doc,
    * containment) for containment ≥ 0.5 where the Jaccard itself
    * stays below 0.5 (pure near-dups are q23/q25's business).
    */
  def qContainmentPairs(spark: SparkSession, dir: String): DataFrame = {
    // the synthetic corpus has no natural subset relations, so quotes
    // are constructed (the q46 pattern): a 120-char prefix snippet of
    // each of the first 50 docs joins the corpus as its own document —
    // the snippet is contained in its parent by construction, while
    // Jaccard stays low whenever the parent is long
    val d0 = GateInputs.documents(spark, dir)
    val corpus = d0.select(col("source"), col("doc_id"), col("text"))
      .unionByName(d0.filter(col("doc_id") < 50)
        .select(col("source"), (col("doc_id") + 5000).as("doc_id"),
          substring(col("text"), 1, 120).as("text")))
    val d = corpus
      .select(col("source"), col("doc_id"),
        hashedShingles(
          graft.expressions.WordShingles.shingles(col("text"))).as("sh"))
      .withColumn("n_sh", size(col("sh")))
      .persist()
    val ex = d.select(col("source"), col("doc_id"), explode(col("sh")).as("s"))
    val pairs = ex.as("a").join(ex.as("b"),
        col("a.source") === col("b.source") && col("a.s") === col("b.s") &&
          col("a.doc_id") < col("b.doc_id"))
      .groupBy(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"))
      .agg(count(lit(1)).as("inter"))
    val sizes = d.select(col("doc_id"), col("n_sh"))
    val withSizes = pairs
      .join(sizes.select(col("doc_id").as("doc_a"), col("n_sh").as("na")),
        Seq("doc_a"))
      .join(sizes.select(col("doc_id").as("doc_b"), col("n_sh").as("nb")),
        Seq("doc_b"))
    val contained = least(col("na"), col("nb"))
    val jac = col("inter").cast("double") / (col("na") + col("nb") - col("inter"))
    // filter on the UNROUNDED ratio (exactly what the oracle's WHERE
    // does) and round only the projected output column — thresholding
    // the rounded value would admit true ratios in [0.4999995, 0.5)
    withSizes
      .select(
        when(col("na") <= col("nb"), col("doc_a")).otherwise(col("doc_b"))
          .as("small_doc"),
        when(col("na") <= col("nb"), col("doc_b")).otherwise(col("doc_a"))
          .as("big_doc"),
        (col("inter").cast("double") / contained).as("containment_raw"),
        jac.as("jac"))
      .filter(col("containment_raw") >= 0.5 && col("jac") < 0.5)
      .select(col("small_doc"), col("big_doc"),
        round(col("containment_raw"), 6).as("containment"))
      .orderBy("small_doc", "big_doc")
  }

  /** N-gram Jaccard dedup without LSH (exact, for modest candidate sets):
    * here demonstrated per-source to bound the pair count — the partition
    * key stands in for any blocking key available at scale.
    */
  def qJaccardWithinSource(spark: SparkSession, dir: String): DataFrame = {
    // Co-occurrence formulation (the scalable all-pairs shape): explode
    // the distinct hashed shingles, count shared shingles per doc pair
    // via a self-equi-join on (source, shingle) — pairs sharing nothing
    // never materialize (they cannot reach any positive threshold), and
    // |A∩B| arrives as a count instead of a per-pair array intersection.
    // On this corpus that is ~60k co-occurrence rows instead of ~600k
    // full-pair intersections.
    val d = GateInputs.documents(spark, dir)
      .select(col("source"), col("doc_id"),
        hashedShingles(
          graft.expressions.WordShingles.shingles(col("text"))).as("sh"))
      .withColumn("n_sh", size(col("sh")))
      .persist()
    val ex = d.select(col("source"), col("doc_id"), explode(col("sh")).as("s"))
    val pairs = ex.as("a").join(ex.as("b"),
        col("a.source") === col("b.source") && col("a.s") === col("b.s") &&
          col("a.doc_id") < col("b.doc_id"))
      .groupBy(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"))
      .agg(count(lit(1)).as("inter"))
    val sizes = d.select(col("doc_id"), col("n_sh"))
    val uni = col("na") + col("nb") - col("inter")
    pairs
      .join(sizes.select(col("doc_id").as("doc_a"), col("n_sh").as("na")),
        Seq("doc_a"))
      .join(sizes.select(col("doc_id").as("doc_b"), col("n_sh").as("nb")),
        Seq("doc_b"))
      .select(col("doc_a"), col("doc_b"),
        when(uni > 0, round(col("inter").cast("double") / uni, 6))
          .otherwise(lit(1.0)).as("jaccard"))
      .filter(col("jaccard") >= 0.2)
      .orderBy("doc_a", "doc_b")
  }

  /** EXACT set-similarity self-join with PREFIX-FILTER blocking (the
    * PPJoin/AllPairs family): all pairs with Jaccard ≥ `threshold`,
    * found WITHOUT the full token equi-join. Tokens get a global
    * rarest-first total order (ascending document frequency, token
    * tie-break); each set only indexes its first
    * n − ⌈t·n⌉ + 1 ordered tokens, because two sets with
    * J(A,B) ≥ t whose prefixes of those lengths are disjoint cannot
    * exist (the Bayardo/Chaudhuri prefix-filter bound) — so the
    * candidate join runs on the rare prefix tokens only, a small
    * fraction of the q25 full co-count volume at high thresholds.
    * Candidates then verify EXACTLY on their full hash sets. Unlike
    * MinHash banding (q23), nothing probabilistic: the result set is
    * exactly the naive all-pairs answer — which is what the q95
    * oracle computes (full co-count formulation), making the gate a
    * losslessness certificate for the prefix bound.
    *
    * Scale shape: the df aggregation and candidate join shuffle slim
    * (token, doc_id, pos) rows; full sets rejoin only for candidate
    * docs. Three lossless prunes keep the candidate join small: prefix
    * rows with df = 1 are dropped (a token occurring in ONE set joins
    * nothing), candidate pairs violating the size-ratio bound
    * (J ≥ t ⟹ t·max(na,nb) ≤ min(na,nb)) are cut in the join
    * condition, and the PPJoin POSITIONAL bound (overlap ≤ 1 +
    * min(na − ia, nb − ib) at the first common prefix token) cuts
    * near-threshold pairs before the verify rejoin. Input: (doc_id,
    * sh) with `sh` the DISTINCT md5-16 token-hash set.
    *
    * Profile caveat (measured, sf0.1): prefix blocking needs a SPARSE
    * token universe. On a dense one (bigrams of this corpus: 931
    * distinct tokens, avg df 283) every prefix token is common and
    * the candidate set degenerates to ~2/3 of ALL pairs — there the
    * naive slim co-count (the q25 operator) is the better plan. Rule
    * of thumb: prefix-filter when avg df ≪ corpus size (shingle
    * order buys sparsity: trigrams here have 27k tokens, avg df 10).
    */
  /** Candidate (doc_a, doc_b) pairs of the prefix-filter blocking over
    * a prepared `sets` frame (doc_id, sorted sh, n). `positional`
    * toggles the PPJoin bound so its candidate-volume effect is
    * directly measurable (DedupSpec containment + the 100x soak);
    * production path always passes true.
    */
  private[graft] def setSimCandidates(sets: DataFrame, threshold: Double,
      positional: Boolean = true): DataFrame = {
    val dfreq = sets.select(explode(col("sh")).as("tok"))
      .groupBy("tok").agg(count(lit(1)).as("df"))
    val ordered = sets
      .select(col("doc_id"), col("n"), explode(col("sh")).as("tok"))
      .join(dfreq, Seq("tok"))
      .groupBy("doc_id", "n")
      .agg(transform(
        array_sort(collect_list(struct(col("df"), col("tok")))),
        s => s.getField("tok")).as("otoks"))
    val prefixLen =
      (col("n") - ceil(col("n") * threshold) + 1).cast("int")
    // prefix rows carry their 1-based ORDERED position: both prefixes
    // follow the same global token order, so for any candidate pair
    // the minimum matching position on each side is attained at the
    // SAME (order-first) common token — which makes the PPJoin
    // positional upper bound (Xiao et al. 2008) applicable in the
    // join-based formulation: overlap ≤ 1 + min(na − ia, nb − ib) at
    // the first common token, and J ≥ t needs overlap ≥
    // t·(na+nb)/(1+t). Pairs failing the bound are cut BEFORE the
    // full-set rejoin + merge-walk verify — pure per-row arithmetic on
    // rows the dedup aggregation already shuffles. The 1e-6 slack only
    // ADMITS float-borderline pairs (verify discards them): lossless.
    val prefix = ordered.select(col("doc_id"), col("n"),
        posexplode(slice(col("otoks"), lit(1), prefixLen))
          .as(Seq("pos0", "tok")))
      .select(col("doc_id"), col("n"), (col("pos0") + 1).as("pos"),
        col("tok"))
      .join(dfreq.filter(col("df") >= 2).select("tok"), Seq("tok"))
    val grouped = prefix.as("a").join(prefix.as("b"),
        col("a.tok") === col("b.tok") &&
          col("a.doc_id") < col("b.doc_id") &&
          // +0.5 slack makes the float multiply provably lossless for
          // integer sizes (t·max can round a half-ulp above an exact
          // integer bound); verify discards the borderline keeps
          greatest(col("a.n"), col("b.n")) * threshold <=
            least(col("a.n"), col("b.n")) + lit(0.5))
      .groupBy(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"),
        col("a.n").as("na0"), col("b.n").as("nb0"))
      .agg(min(col("a.pos")).as("ia"), min(col("b.pos")).as("ib"))
    val bounded =
      if (!positional) grouped
      else grouped.filter(lit(1.0 + threshold) *
        (lit(1L) + least(col("na0") - col("ia"), col("nb0") - col("ib")))
        >= lit(threshold) * (col("na0") + col("nb0")) - lit(1e-6))
    bounded.select("doc_a", "doc_b")
  }

  def setSimilarityJoin(d: DataFrame, threshold: Double): DataFrame = {
    // sort each set ONCE at build: the exact-verify intersection is a
    // merge-walk kernel over sorted arrays (SortedIntersectCount —
    // array_intersect hashed/materialized per candidate pair, measured
    // 15 s of a 22 s sf0.1 run). Four consumers (dfreq, ordered, both
    // verify sides) reference the sorted sets, so they materialize
    // ONCE via the eager localCheckpoint — the triangles convention
    // (a persist would also run once but leak a cache-manager relation
    // into the caller's session for its lifetime).
    val sets = d.select(col("doc_id"), array_sort(col("sh")).as("sh"),
      size(col("sh")).cast("long").as("n")).localCheckpoint()
    val cand = setSimCandidates(sets, threshold)
    val withSets = cand
      .join(sets.select(col("doc_id").as("doc_a"), col("sh").as("sha"),
        col("n").as("na")), Seq("doc_a"))
      .join(sets.select(col("doc_id").as("doc_b"), col("sh").as("shb"),
        col("n").as("nb")), Seq("doc_b"))
      .withColumn("inter",
        graft.expressions.SortedIntersectCount.of(col("sha"), col("shb")))
    val jacc = col("inter").cast("double") /
      (col("na") + col("nb") - col("inter"))
    // threshold the UNROUNDED ratio (the oracle's WHERE); round only
    // the projected column (the q49 lesson)
    withSets.filter(jacc >= threshold)
      .select(col("doc_a"), col("doc_b"), col("na"), col("nb"),
        col("inter").as("n_common"), round(jacc, 6).as("jaccard"))
      .orderBy("doc_a", "doc_b")
  }

  /** q95 — [[setSimilarityJoin]] at t = 0.5 over distinct TRIGRAM
    * shingle sets of the corpus plus planted 70%-prefix truncations of
    * the first 200 docs (J ≈ 0.7 vs their parents by construction —
    * the corpus itself has no natural high-Jaccard pairs). Trigrams,
    * not bigrams, by measurement: this corpus's bigram universe is
    * 931 tokens at avg df 283 (dense — blocking degenerates, see the
    * operator caveat) while trigrams give 27k tokens at avg df 10.
    * Truncation uses integer arithmetic ((n·7) div 10 tokens) so both
    * engines cut identically. The oracle runs the FULL co-count
    * formulation; a hash match proves the prefix filter dropped no
    * qualifying pair.
    */
  def qSetSimJoin(spark: SparkSession, dir: String): DataFrame = {
    val d0 = GateInputs.documents(spark, dir)
    val trunc = d0.filter(col("doc_id") < 200)
      .select((col("doc_id") + lit(20000L)).as("doc_id"),
        split(col("text"), " ").as("toks"))
      .select(col("doc_id"),
        array_join(slice(col("toks"), lit(1),
          greatest(lit(1),
            ((size(col("toks")) * 7).cast("double") / 10).cast("int"))),
          " ").as("text"))
    val corpus = d0.select(col("doc_id"), col("text")).unionByName(trunc)
    val sets = corpus.select(col("doc_id"),
      array_distinct(TextOps.shingleHashes(
        graft.expressions.WordShingles.shingles(col("text"), 3))).as("sh"))
    setSimilarityJoin(sets, 0.5)
  }
}
