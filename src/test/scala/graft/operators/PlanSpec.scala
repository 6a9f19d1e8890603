package graft.operators

import graft.SparkSpec

/** Physical-plan shape assertions — the scale contract, pinned so a
  * refactor that silently loses pushdown, broadcast, or top-k
  * specialization fails the build (SURVEY §8 "scale notes").
  */
class PlanSpec extends SparkSpec {

  private val dir = "/root/testdata/sf0.001"

  private def plan(df: org.apache.spark.sql.DataFrame): String = {
    df.collect() // force AQE to finalize the adaptive plan
    df.queryExecution.executedPlan.toString
  }

  test("q2: predicates and column pruning reach the parquet scan") {
    val p = plan(CoreQueries.q2FilterProject(spark, dir))
    assert(p.contains("PushedFilters: ["), p)
    assert(p.contains("l_shipdate"), p)
    // pruned read schema: exactly the 5 referenced columns, not all 11
    val readSchema = p.linesIterator.find(_.contains("ReadSchema")).get
    assert(!readSchema.contains("l_comment") && !readSchema.contains("l_tax"),
      readSchema)
  }

  test("q3: dimension joins broadcast; fact side never shuffles on dims") {
    val p = plan(CoreQueries.q3JoinAgg(spark, dir))
    assert(p.contains("BroadcastHashJoin"), p)
    assert(p.contains("HashAggregate"), p)
  }

  test("q4: top-k is TakeOrderedAndProject, not a global sort") {
    val p = plan(CoreQueries.q4TopK(spark, dir))
    assert(p.contains("TakeOrderedAndProject"), p)
  }

  test("q1: partial aggregation before the exchange") {
    val p = plan(CoreQueries.q1Agg(spark, dir))
    // partial_ functions signal map-side combine
    assert(p.contains("partial_"), p)
  }

  test("q139: projection is a pure map stage — one exchange, the total order") {
    val p = finalPlanOf(plan(
      graft.llmops.Similarity.qRandomProjection(spark, dir)))
    // the sign matrix folds into codegen as literals: no join, no
    // broadcast, no aggregation exchange — the only Exchange is the
    // gate's ORDER BY range partitioning
    val exchanges = p.linesIterator.count(_.contains("Exchange"))
    assert(exchanges == 1, s"expected 1 exchange (total order), got:\n$p")
    assert(!p.contains("Join"), p)
  }

  test("q138: seed statistic is two combined aggs + top-k, no sort") {
    val p = plan(graft.llmops.Unigram.qUnigramSeed(spark, dir))
    // both the word-dict and the substring-count aggregations combine
    // map-side, and the top-50 report specializes to
    // TakeOrderedAndProject — a global Sort would serialize the
    // dict-sized relation through one task
    assert(p.contains("partial_count"), p)
    assert(p.contains("partial_sum"), p)
    assert(p.contains("TakeOrderedAndProject"), p)
    assert(!finalPlanOf(p).contains("Sort "), p)
  }

  test("q140: weight table broadcasts; scoring combines map-side; top-k, no global sort over docs") {
    val p = plan(graft.llmops.Curation.qDsirSelect(spark, dir))
    // the ≤B-row weight model must come back as a broadcast — a
    // shuffled join here would re-shuffle the whole (id, bucket)
    // relation against 1024 rows
    assert(p.contains("BroadcastHashJoin"), p)
    // per-doc scoring aggregates partially before its exchange
    assert(p.contains("partial_sum"), p)
    // the k-selection is TakeOrderedAndProject; the only Sort is the
    // gate's total order over the 200 selected rows
    assert(p.contains("TakeOrderedAndProject"), p)
  }

  test("q141: seed table combines map-side; top-100 is TakeOrderedAndProject") {
    val p = plan(graft.llmops.WordPiece.qWordpieceSeed(spark, dir))
    // both count relations (symbols, adjacent pairs) pre-aggregate
    // before their exchanges — the shuffles carry (symbol, partial
    // count), vocab-bounded, never the corpus
    assert(p.contains("partial_sum"), p)
    // the scored report is a top-k, not a global sort
    assert(p.contains("TakeOrderedAndProject"), p)
    assert(!finalPlanOf(p).contains("Sort "), p)
  }

  test("q142: checkpointed state feeds a map-side agg + broadcast rank join") {
    val p = plan(graft.llmops.Cluster.qKcenterCoreset(spark, dir))
    // the k-round greedy ran at construction (TakeOrderedAndProject
    // argmax per round, centers = bounded driver rows); the returned
    // plan must start from the checkpoint boundary, aggregate with a
    // partial stage, and join the k-row rank table as a broadcast
    assert(p.contains("ExistingRDD") || p.contains("Scan ExistingRDD"), p)
    assert(p.contains("partial_count"), p)
    assert(p.contains("BroadcastHashJoin"), p)
  }

  test("q28: candidate generation shuffles ids+buckets only, never vectors") {
    val df = graft.llmops.Dedup.qDedupEmbedding(spark, dir)
    val p = plan(df)
    spark.catalog.clearCache()
    // the (tbl, bucket) self-join must be a hash join on the bucket key
    assert(p.contains("Join") && p.contains("bucket"), p)
    // the exploded candidate stream carries no embedding column: every
    // exchange either moves (ids, bucket) or rejoins by id
    val exchanges = p.linesIterator.filter(_.contains("Exchange hashpartitioning"))
    assert(exchanges.nonEmpty, p)
  }

  test("q29: fingerprint overlap is an equi-join with partial count") {
    val df = graft.llmops.TextOps.qFingerprintWinnow(spark, dir)
    val p = plan(df)
    spark.catalog.clearCache()
    assert(p.contains("partial_count"), p) // map-side combine on pairs
    assert(!p.contains("CartesianProduct") &&
      !p.contains("BroadcastNestedLoopJoin"), p) // never all-pairs
  }

  test("q34: the quality gate is a pure map stage — zero exchanges") {
    val p = plan(graft.llmops.TextOps.qQualityFilter(spark, dir))
    // only the final presentation ORDER BY may exchange (range); the
    // stats + rule cascade must not shuffle anything
    assert(!p.contains("Exchange hashpartitioning"), p)
    assert(!p.contains("BatchEvalPython") && !p.contains("ArrowEvalPython"), p)
  }

  test("q36: repetition is a pure map stage via the ModeCount kernel") {
    val p = plan(graft.llmops.TextOps.qRepetition(spark, dir))
    // the relational encoding would hash-exchange a corpus-sized
    // (doc_id, bigram) stream; the kernel keeps the state in-row
    assert(!p.contains("Exchange hashpartitioning"), p)
    assert(p.contains("mode_count"), p)
  }

  test("q35/q38/q48: temporal operators shuffle ONCE on the user key") {
    for (df <- Seq(graft.operators.EventQueries.q35AsofAttribution(spark, dir),
        graft.operators.EventQueries.q38Sessionize(spark, dir),
        graft.operators.EventQueries.q48SessionFunnel(spark, dir))) {
      val p = plan(df)
      // one hash exchange feeds window (+ the q38 aggregation reuses it:
      // hashpartitioning(user_id) satisfies clustering on (user, session));
      // count in the AQE final plan only (the dump repeats the initial)
      val finalPlan = finalPlanOf(p)
      val hashEx = "Exchange hashpartitioning".r
        .findAllMatchIn(finalPlan).length
      assert(hashEx === 1, s"expected 1 hash exchange, got $hashEx:\n$p")
      assert(!p.contains("CartesianProduct") &&
        !p.contains("BroadcastNestedLoopJoin"), p) // never a range join
    }
  }

  test("q44: interval join is a hash equi-join on (user, bucket)") {
    val p = plan(graft.operators.EventQueries.q44IntervalJoin(spark, dir))
    // the bucketization exists precisely so the bounded range join never
    // degenerates to a per-key nested loop
    assert(!p.contains("CartesianProduct") &&
      !p.contains("BroadcastNestedLoopJoin"), p)
    assert(p.contains("HashJoin"), p) // BHJ here; SMJ at scale — same keys
  }

  test("q41: TF-IDF dot products are an equi-join, never all-pairs") {
    val p = plan(graft.llmops.TextOps.qTfidfPairs(spark, dir))
    assert(!p.contains("CartesianProduct"), p)
    assert(p.contains("TakeOrderedAndProject"), p)
    assert(p.contains("partial_"), p)
    // pair GENERATION is the sign-LSH banded candidate join: a hash
    // join KEYED by (stratum, tbl, band) — candidate volume scales with
    // collisions, not |stratum|² (the round-5 scale-killer). The regex
    // pins the actual join keys (with expr-ids elided), so a refactor
    // that drops tbl/band from the key — reverting to an all-pairs
    // stratum join — fails here even if sign_bands is still computed.
    val bandKeys =
      ("""\[lang#\d+, source#\d+, tbl#\d+, band#\d+L?\], """ +
        """\[lang#\d+, source#\d+, tbl#\d+, band#\d+L?\]""").r
    assert(bandKeys.findFirstIn(p).nonEmpty, p)
    assert(p.contains("sign_bands"), p)
  }

  test("q37: heavy hitters end in TakeOrderedAndProject with partial agg") {
    val p = plan(graft.llmops.TextOps.qTopTerms(spark, dir))
    assert(p.contains("TakeOrderedAndProject"), p)
    assert(p.contains("partial_"), p)
  }

  test("q43: anti-join plans as a broadcast hash join, build side filtered") {
    val p = plan(CoreQueries.q43AntiJoin(spark, dir))
    assert(p.contains("LeftAnti"), p)
    assert(p.contains("BroadcastHashJoin") || p.contains("BroadcastExchange"), p)
    // the priority predicate reaches the orders scan
    assert(p.contains("1-URGENT"), p)
  }

  test("q40: explicit-values pivot is the two-level pivotfirst plan") {
    val p = plan(graft.operators.EventQueries.q40PivotEventMatrix(spark, dir))
    val finalPlan = finalPlanOf(p)
    // pre-agg on (user, type) then pivotfirst on user: exactly two hash
    // exchanges, and no separate distinct-values job (explicit list)
    assert("Exchange hashpartitioning".r.findAllMatchIn(finalPlan).length === 2,
      p)
    assert(finalPlan.contains("pivotfirst"), p)
  }

  test("q39: rollup expands grouping sets before one partial aggregation") {
    val p = plan(graft.llmops.TextOps.qRollupProfile(spark, dir))
    assert(p.contains("Expand"), p)
    assert(p.contains("partial_"), p)
  }

  test("q54: bloom routes at scan speed; the residual join is anti") {
    val p = plan(graft.llmops.Curation.qBloomDecontaminate(spark, dir))
    // the clean path is a might_contain FILTER (map stage), the
    // residual an anti join — never a full-corpus join
    assert(p.contains("might_contain"), p)
    assert(p.contains("LeftAnti"), p)
  }

  test("q53: LM scoring joins on the bigram key with partial aggregation") {
    val df = graft.llmops.LmOps.q53LmScore(spark, dir)
    val p = plan(df)
    spark.catalog.clearCache()
    assert(!p.contains("CartesianProduct"), p)
    assert(p.contains("partial_"), p)
    assert(!p.contains("BatchEvalPython"), p)
  }

  test("q55: decile bucketing broadcasts 9 boundary doubles, no re-shuffle of docs") {
    val p = plan(graft.llmops.LmOps.q55LengthCalibration(spark, dir))
    // the boundary row reaches the bucketing stage via broadcast
    assert(p.contains("Broadcast"), p)
    assert(p.contains("partial_"), p)
  }

  test("q57: mixture summary is map + one aggregation — no joins") {
    val p = plan(graft.llmops.Curation.qMixtureSummary(spark, dir))
    assert(!p.contains("Join"), p)
    assert(p.contains("partial_"), p)
  }

  test("q51/q52: corpus fits and cohorts keep equi-join/partial-agg shapes") {
    val p51 = plan(graft.llmops.LmOps.q51ZipfFit(spark, dir))
    assert(!p51.contains("CartesianProduct"), p51)
    assert(p51.contains("partial_"), p51)
    val p52 = plan(graft.operators.EventQueries.q52RetentionCohorts(spark, dir))
    assert(!p52.contains("CartesianProduct"), p52)
    assert(p52.contains("partial_"), p52)
  }

  test("q60: per-doc term counts come from the ElementCounts map stage") {
    val df = graft.llmops.TextOps.qOovRate(spark, dir)
    val p = plan(df)
    spark.catalog.clearCache()
    assert(p.contains("element_counts"), p)
    assert(p.contains("Broadcast"), p) // vocab joins back by broadcast
  }

  test("q61: the text pipeline does not cascade into consumers") {
    val df = graft.llmops.TextOps.qCodeSwitch(spark, dir)
    val p = plan(df)
    spark.catalog.clearCache()
    // the halved/doubled text must be derived a bounded number of
    // times, not once per stopword counter reference (the 700KB-plan
    // regression this pins against)
    val nSubstr = "substring\\(".r.findAllIn(p).size
    assert(nSubstr <= 40, s"substring( appears $nSubstr times — inlining cascade")
    assert(p.length < 120000, s"plan is ${p.length} chars")
  }

  test("q66: streaks = dedup exchange + ONE shared user-key exchange") {
    val p = plan(EventQueries.q66Streaks(spark, dir))
    val finalPlan = finalPlanOf(p)
    // exchange 1: the distinct, partial-deduped map-side, keyed
    // (user, day); exchange 2: the window re-key on user, which both
    // downstream aggregations then reuse (clustering satisfied) — a
    // third exchange would mean the rollups stopped sharing it
    val hashEx = "Exchange hashpartitioning".r.findAllMatchIn(finalPlan).length
    assert(hashEx === 2, s"expected 2 hash exchanges, got $hashEx:\n$p")
    assert(finalPlan.contains("partial_"), p) // map-side dedup before wire
  }

  test("q68: triangle joins are hash equi-joins, never nested loops") {
    val p = plan(GraphQueries.q68Triangles(spark, dir))
    spark.catalog.clearCache()
    assert(!p.contains("CartesianProduct") &&
      !p.contains("BroadcastNestedLoopJoin"), p)
    assert(p.contains("HashJoin") || p.contains("SortMergeJoin"), p)
  }

  test("q69/q70: partitioned ntile window; mergeable-rollup partial aggs") {
    val p69 = plan(ExtraQueries.q69ValueDeciles(spark, dir))
    assert(p69.contains("hashpartitioning(o_orderpriority"),
      s"ntile window must be partition-parallel:\n$p69")
    val p70 = plan(EventQueries.q70IncrementalRollup(spark, dir))
    assert(p70.contains("partial_"), p70) // map-side combine both stages
    assert(!p70.contains("CartesianProduct"), p70)
  }

  test("q64: lineitem⋈orders is a shuffle join; only true dims broadcast") {
    // auto-broadcast off, so every BroadcastExchange in the plan comes
    // from an explicit hint — the contract under test, not AQE's
    // small-scale shortcut. An orders-derived build side OOMs at scale.
    val conf = spark.conf
    val saved = conf.get("spark.sql.autoBroadcastJoinThreshold", "10485760")
    val savedAqe = conf.get(
      "spark.sql.adaptive.autoBroadcastJoinThreshold", "-1")
    try {
      conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      conf.set("spark.sql.adaptive.autoBroadcastJoinThreshold", "-1")
      val p = plan(CoreQueries.q64RevenueCycle(spark, dir))
      val finalPlan = finalPlanOf(p)
      // the fact-fact edge shuffles: a sort-merge/shuffled-hash join
      // whose keys are the orderkeys — never a broadcast of orders
      val orderkeyJoin = finalPlan.linesIterator.find(l =>
        (l.contains("SortMergeJoin") || l.contains("ShuffledHashJoin")) &&
          l.contains("l_orderkey") && l.contains("o_orderkey"))
      assert(orderkeyJoin.nonEmpty,
        s"lineitem⋈orders must be a shuffle equi-join on orderkey:\n$p")
      // exactly the three declared dimension broadcasts survive:
      // customer, supplier(+nation alias), nation
      val bhj = finalPlan.linesIterator
        .count(_.contains("BroadcastHashJoin"))
      assert(bhj === 3, s"expected 3 dim broadcasts, got $bhj:\n$p")
      // and none of them builds on an orders-derived relation
      assert(!finalPlan.linesIterator.exists(l =>
        l.contains("BroadcastHashJoin") && l.contains("o_orderkey")),
        s"orders-derived relation on a broadcast build side:\n$p")
    } finally {
      conf.set("spark.sql.autoBroadcastJoinThreshold", saved)
      conf.set("spark.sql.adaptive.autoBroadcastJoinThreshold", savedAqe)
    }
  }

  test("q71: NOT IN plans as the NULL-AWARE broadcast anti join") {
    val p = plan(CoreQueries.q71NotInNullAware(spark, dir))
    // 'LeftAnti, BuildRight, true' — the trailing flag is
    // isNullAwareAntiJoin: the single-null-annuls-all fast path that
    // distinguishes NOT IN from q43's plain anti join
    assert(p.contains("LeftAnti, BuildRight, true"), p)
  }

  test("q85: seeds broadcast; the pair stage is an equi-join on seed_id") {
    val q85 = graft.llmops.Dedup.qSemanticDedup(spark, dir)
    val p = plan(q85)
    assert(q85.count() === 346L) // dropped vectors (regression pin)
    // the coarse quantizer is a broadcast (seeds are driver-tiny);
    // the in-cell pair stage must be a hash equi-join on seed_id, and
    // nothing may fall back to a cartesian product
    assert(p.contains("Broadcast"), p)
    assert(p.contains("seed_id"), p)
    assert(!p.contains("CartesianProduct"), p)
  }

  test("q86: dHash banding is an equi-join; the raster is never re-derived per pixel") {
    val q86 = graft.llmops.Multimodal.qImageDhashPairs(spark, dir)
    val p = plan(q86)
    assert(q86.count() === 10L) // near-dup pairs (regression pin)
    // band-bucket candidate join, never all-pairs
    assert(p.contains("Join") && !p.contains("CartesianProduct"), p)
    assert(p.contains("image_dhash"), p)
    // the 295 s regression this pins against: indexing the md5-token
    // array via element_at INSIDE a per-pixel lambda — the inner
    // transform's whole md5 pass re-evaluates once per element. The
    // plan signature of that shape is a nested
    // element_at(transform(...)) inside a lambda.
    assert(!p.contains("element_at(transform("),
      "per-pixel re-derivation of the token-hash array is back:\n" + p)
    // round-10 pin: the Hamming cut sits BELOW the distinct exchange
    // (hamming is functionally determined by the pair, so filtering
    // first is semantics-preserving) — band-collision candidates the
    // cut drops must never ride the dedup exchange. In the printed
    // tree the consuming aggregates appear ABOVE the filter.
    // (Catalyst goes further and folds the cut into the candidate
    // join's condition — dropped pairs never materialize at all)
    val finalPlan = finalPlanOf(p)
    val lines = finalPlan.linesIterator.toVector
    val fIdx = lines.indexWhere(l =>
      l.contains("bit_count") && l.contains("<="))
    val aggIdx = lines.zipWithIndex
      .filter(_._1.contains("HashAggregate")).map(_._2)
    assert(fIdx >= 0 && aggIdx.nonEmpty && fIdx > aggIdx.max,
      s"hamming cut must sit below the distinct aggregates:\n$p")
  }

  test("q87: history counter ranks per night and bounds via broadcast") {
    val p = plan(graft.operators.EventQueries.q87AnomalyHistory(spark, dir))
    // the as-of bound joins back as a broadcast (single-row), and the
    // nightly ranking both partitions by night AND gets the rank-limit
    // pushdown (WindowGroupLimit prunes below rank 10 before the full
    // sort — the shape that keeps per-night state bounded at scale)
    assert(p.contains("Broadcast"), p)
    assert(p.contains("WindowGroupLimit"), p)
    assert(p.contains("windowspecdefinition(night"), p)
    assert(p.contains("partial_"), p)
  }

  test("q90: seeds broadcast to both splits; cross-split stage is a seed_id equi-join") {
    val p = plan(graft.llmops.Curation.qSemanticDecontam(spark, dir))
    assert(p.contains("Broadcast"), p)
    assert(p.contains("seed_id"), p)
    assert(!p.contains("CartesianProduct"), p)
  }

  test("q91: span keep-first shuffles once on the digest; spans chunked by ONE regex pass") {
    val p = plan(graft.llmops.TextOps.qSpanDedup(spark, dir))
    // one window over the projected digest (md5(span) AS _w0, one
    // exchange on _w0), one doc_id reassembly agg — and no
    // lambda-sliced token array (the q86 inlining regression class):
    // the chunker must be regexp_replace + split, not transform(slice(
    assert(p.contains("md5(cast(span"), p)
    assert(p.contains("hashpartitioning(_w0"), p)
    assert(!p.contains("slice(split("), p)
    assert(p.contains("partial_"), p)
  }

  test("q92: variant blocking is a hash equi-join on the variant key, never all-pairs") {
    val p = plan(graft.llmops.Linkage.qFuzzyJoin(spark, dir))
    assert(p.contains("xxhash64"), p)
    assert(!p.contains("CartesianProduct"), p)
    assert(!p.contains("BroadcastNestedLoop"), p)
  }

  test("q93: z-value is a pure map stage; scan pruned to the two key columns") {
    val p = plan(graft.operators.Layout.qZOrder(spark, dir))
    // the interleave is shift/mask Column algebra inside codegen — one
    // partial-agg exchange, nothing else, and only the two z columns read
    assert(p.contains("shiftright"), p)
    assert(p.contains("partial_"), p)
    assert(p.contains("ReadSchema: struct<l_partkey:bigint,l_suppkey:bigint>"), p)
  }

  test("q94: priority sampling ranks per stratum with the rank-limit pushdown") {
    val p = plan(graft.llmops.Curation.qPrioritySample(spark, dir))
    // per-stratum state must truncate at k before the full sort
    assert(p.contains("WindowGroupLimit"), p)
    assert(p.contains("windowspecdefinition(lang"), p)
    assert(!p.contains("CartesianProduct"), p)
  }

  test("q95: prefix-filter candidates are a token equi-join, never all-pairs") {
    val p = plan(graft.llmops.Dedup.qSetSimJoin(spark, dir))
    assert(!p.contains("CartesianProduct"), p)
    assert(!p.contains("BroadcastNestedLoop"), p)
    // exact verify happens on candidate rows via the sorted merge-walk
    // kernel, not in a join condition
    assert(p.contains("sorted_intersect_count"), p)
  }

  test("q96: pagerank rounds materialize once; top-k specializes") {
    val p = plan(GraphQueries.q96PageRank(spark, dir))
    assert(!p.contains("CartesianProduct"), p)
    // each round is localCheckpoint-materialized (the
    // connectedComponents convention), so the visible plan reads the
    // final round's RDD — a deep per-iteration join tree here would
    // mean the checkpoint was dropped
    assert(p.contains("Scan ExistingRDD"), p)
    // top-20 is the top-k specialization, not a global sort
    assert(p.contains("TakeOrderedAndProject"), p)
  }

  test("q97: kmeans assignment is a map stage — no join in the final pass") {
    val p = plan(graft.llmops.Cluster.qKmeans(spark, dir))
    assert(!p.contains("CartesianProduct"), p)
    // the per-cluster rollup partial-aggregates before the exchange;
    // the only join is the broadcast of the k-row norm relation
    assert(p.contains("partial_"), p)
    assert(p.contains("BroadcastHashJoin"), p)
    assert(!p.contains("SortMergeJoin"), p)
  }

  test("q98: knn-join candidates come from a seed_id equi-join with rank pushdown") {
    val p = plan(graft.llmops.Similarity.qKnnJoin(spark, dir))
    // per-query top-k truncates in partial mode before the full sort
    assert(p.contains("WindowGroupLimit"), p)
    // the corpus side joins probes on seed_id — an equi-join; the only
    // nested-loop is the broadcast seeds crossJoin (k-row build side)
    val finalPlan = finalPlanOf(p)
    assert(!finalPlan.contains("CartesianProduct"), p)
  }

  test("q103: chunking is a pure map stage — generate + HOFs, zero hash exchanges") {
    val p = plan(graft.llmops.TextOps.qChunkDocuments(spark, dir))
    // normalization, chunk-index explode and slices are all in-row;
    // only the presentation ORDER BY may range-exchange
    assert(!p.contains("Exchange hashpartitioning"), p)
    assert(p.contains("Generate posexplode"), p)
    assert(!p.contains("Join"), p)
  }

  test("q105: duplicated-span detection is gram-hash equi-joins + one doc window") {
    val p = plan(graft.llmops.TextOps.qDuplicatedSpans(spark, dir))
    // dup membership is an equi-join on the 16-byte gram hash; the
    // occurrence count partial-aggregates map-side; no all-pairs ever
    assert(!p.contains("CartesianProduct") &&
      !p.contains("BroadcastNestedLoopJoin"), p)
    assert(p.contains("partial_count"), p)
    // the gram relation is derived ONCE (localCheckpoint — the
    // triangles materialize-once rule): both consumers scan the
    // checkpointed RDD instead of re-running the shingle kernel
    assert(p.contains("Scan ExistingRDD"), p)
    assert(!p.contains("word_shingles"), p)
    assert(p.contains("BroadcastHashJoin"), p)
  }

  test("q115: the phrase semi-join sits below the (did, gram) aggregate") {
    val p = plan(graft.llmops.Retrieval.qPhraseSearch(spark, dir))
    val finalPlan = finalPlanOf(p)
    val lines = finalPlan.linesIterator.toVector
    // the broadcast semi-join against the phrase set is the prune that
    // turns the occurrence aggregation's shuffle from corpus-gram-sized
    // into matched-gram-sized — it must exist, be broadcast, and sit
    // BELOW the partial occurrence aggregate (printed tree is top-down:
    // parent aggregate above, pruning join below)
    val semiIdx = lines.indexWhere(l =>
      l.contains("BroadcastHashJoin") && l.contains("LeftSemi"))
    assert(semiIdx >= 0, s"no broadcast LeftSemi in q115's plan:\n$p")
    val aggIdx = lines.indexWhere(_.contains("partial_count"))
    assert(aggIdx >= 0, p)
    assert(aggIdx < semiIdx,
      s"occurrence aggregate (line $aggIdx) must consume the semi-join " +
        s"(line $semiIdx), not feed it — corpus grams are riding the " +
        s"aggregation shuffle unpruned:\n$p")
  }

  test("q117/q118: positional probes are broadcast equi-joins with rank pushdown") {
    for (df <- Seq(graft.llmops.Retrieval.qPhraseIndexed(spark, dir),
        graft.llmops.Retrieval.qProximityIndexed(spark, dir))) {
      val p = plan(df)
      spark.catalog.clearCache()
      val finalPlan = finalPlanOf(p)
      // the phrase/pair batch is bounded by contract and broadcasts
      // STATICALLY into the positions relation (hint-driven — holds
      // even when a concurrent suite floors the auto-broadcast
      // threshold), so the corpus-sized index is NEVER exchanged on
      // the token key; per-query top-k must truncate in partial mode.
      // q118's (qid, did) pair join of two query-bounded relations is
      // deliberately NOT pinned to a join strategy — both its sides
      // are probe outputs, so any equi-join shape is scale-safe there.
      assert(finalPlan.contains("BroadcastHashJoin"), p)
      assert(!finalPlan.contains("hashpartitioning(tok"), p)
      assert(!finalPlan.contains("CartesianProduct"), p)
      assert(finalPlan.contains("WindowGroupLimit"), p)
    }
  }

  test("q119: the IVF vector channel keeps the q98 probe shape inside the fusion") {
    val p = plan(graft.llmops.Retrieval.qHybridRrfIvf(spark, dir))
    spark.catalog.clearCache()
    val finalPlan = finalPlanOf(p)
    // candidates come from the seed_id equi-join (never all-pairs: the
    // only nested-loop stages are the broadcast seed crossJoins), and
    // both the probe rank and the channel top-k truncate partial-mode
    assert(!finalPlan.contains("CartesianProduct"), p)
    assert(finalPlan.contains("seed_id"), p)
    assert(finalPlan.contains("WindowGroupLimit"), p)
  }

  test("q121/q122: gram-index probes keep the semi-join below the " +
    "aggregate and broadcast the phrase side") {
    for (df <- Seq(graft.llmops.Retrieval.qPhraseGramIndexed(spark, dir),
        graft.llmops.Retrieval.qSnippetsGramIndexed(spark, dir))) {
      val p = plan(df)
      spark.catalog.clearCache()
      val finalPlan = finalPlanOf(p)
      val lines = finalPlan.linesIterator.toVector
      // same contract as the q115 one-shot: the broadcast LeftSemi
      // against the phrase set prunes the index BEFORE the (did, gram)
      // occurrence aggregate, so the shuffle carries matched grams only
      val semiIdx = lines.indexWhere(l =>
        l.contains("BroadcastHashJoin") && l.contains("LeftSemi"))
      assert(semiIdx >= 0, s"no broadcast LeftSemi in the probe plan:\n$p")
      val aggIdx = lines.indexWhere(_.contains("partial_count"))
      assert(aggIdx >= 0, p)
      assert(aggIdx < semiIdx,
        s"occurrence aggregate must consume the semi-join, not feed " +
          s"it:\n$p")
      assert(!finalPlan.contains("CartesianProduct"), p)
    }
  }

  test("q123: the impact probe is one broadcast join + one grouped " +
    "sum — no index-wide aggregates, no sort-merge") {
    val p = plan(graft.llmops.Retrieval.qBm25Impact(spark, dir))
    spark.catalog.clearCache()
    val finalPlan = finalPlanOf(p)
    // the probe side must never re-derive df/stats from the index: the
    // only aggregates allowed above the persisted impacts are the
    // per-(qid, did) score sum and the window rank
    assert(finalPlan.contains("BroadcastHashJoin"), p)
    assert(!finalPlan.contains("SortMergeJoin"), p)
    assert(!finalPlan.contains("CartesianProduct"), p)
    assert(finalPlan.contains("WindowGroupLimit"), p)
    // scoring arithmetic is gone from the probe: no division remains
    // above the InMemoryTableScan (it all ran at quantization time)
    val aboveScan = finalPlan.split("InMemoryTableScan").head
    assert(!aboveScan.contains("avgdl"), p)
  }

  test("q127: the document-level cumsum window partitions by bucket — " +
    "the corpus never pays a single-task global window") {
    val p = plan(graft.llmops.TextOps.qSequencePacking(spark, dir))
    // the per-doc running sum must be keyed by bkt (parallel); only
    // the bucket-sum relation (bucketWidth× smaller) sees the
    // unpartitioned ordering
    assert(p.contains("windowspecdefinition(bkt"), p)
    assert(!p.contains("CartesianProduct"), p)
  }

  test("q108: postings stream through broadcast probes, never sort-merge") {
    val p = plan(graft.llmops.Retrieval.qBm25(spark, dir))
    // the query-term relation is broadcast STATICALLY (bounded by
    // contract); a SortMergeJoin here would mean the corpus postings
    // pay a full shuffle write before scoring (the 100× lesson)
    assert(p.contains("BroadcastHashJoin"), p)
    assert(!p.contains("SortMergeJoin"), p)
    assert(!p.contains("CartesianProduct"), p)
  }

  test("q131: the fielded probe keeps the q108 shape — broadcast " +
    "probes, no sort-merge, no cartesian beyond the stats scalar") {
    val p = plan(graft.llmops.Retrieval.qBm25F(spark, dir))
    assert(p.contains("BroadcastHashJoin"), p)
    assert(!p.contains("SortMergeJoin"), p)
    // the one-row stats relation arrives by broadcast nested loop
    // (a scalar crossJoin), never a real cartesian over data
    assert(!p.contains("CartesianProduct"), p)
  }

  test("q131: the fielded-index BUILD is one map stage — the two-field " +
    "pivot merges per doc, zero exchanges") {
    val corpus = spark.read.parquet(s"$dir/documents.parquet")
      .select(org.apache.spark.sql.functions.col("doc_id").as("did"),
        org.apache.spark.sql.functions.col("text"))
    val p = plan(graft.llmops.Retrieval.bm25fIndex(corpus, titleLen = 6))
    // a union+groupBy pivot here would cost a full index-sized shuffle
    // postingsIndex never pays (measured 3× the family at sf1)
    assert(!p.contains("Exchange"), p)
  }

  test("q133: every shard probe broadcasts the query terms; the " +
    "gather re-rank is rank-limited (WindowGroupLimit)") {
    val p = plan(graft.llmops.Retrieval.qBm25Sharded(spark, dir))
    assert(p.contains("BroadcastHashJoin"), p)
    assert(!p.contains("SortMergeJoin"), p)
    // the broker's final top-k specializes to a partial window
    assert(p.contains("WindowGroupLimit"), p)
  }

  test("q134: fusion channels aggregate map-side partial; extrema " +
    "are per-query WINDOW aggregates (one consumer per channel, no " +
    "extrema join, no SMJ)") {
    val p = plan(graft.llmops.Retrieval.qMinMaxFusion(spark, dir))
    assert(p.contains("BroadcastHashJoin"), p)
    assert(!p.contains("SortMergeJoin"), p)
    assert(p.contains("partial_"), p) // map-side combine in the fuse
    // the r14 shape: min/max OVER (PARTITION BY qid) inline in the
    // channel pass — the per-query extrema join re-evaluated every
    // channel twice (31 parquet scans in the before plan, 16 after).
    // Pin what the OLD plan fails (ADVICE r14: "min(score" alone also
    // matches the grouped-aggregate HashAggregate): the extrema must
    // appear in a Window's function list, partitioned by qid, and the
    // double-consume shows up as a scan count the fused shape provably
    // undercuts.
    assert("""min\(score#\d+L?\) windowspecdefinition\(qid""".r
      .findFirstIn(p).isDefined, p)
    val nScans = "Scan parquet".r.findAllIn(p).size
    assert(nScans <= 20, s"expected <= 20 parquet scans (fused extrema " +
      s"shape; the extrema-join shape re-planned each channel twice = " +
      s"31 scans), got $nScans\n$p")
  }

  test("ZTF filter plans stay in one whole-stage-codegen span, no UDFs") {
    // the tde fixture is never cache()d by any suite, so the cache
    // manager cannot substitute an InMemoryRelation for the scan
    val alerts = spark.read.parquet(graft.Fixtures("datatest/tde"))
    val df = graft.filters.FilterRegistry.applyFilter(
      alerts, "ztf.livestream.sn_candidates")
      .select("objectId")
    df.collect()
    val p = df.queryExecution.explainString(
      org.apache.spark.sql.execution.ExplainMode.fromString("formatted"))
    // "[codegen id : N]" marks operators inside a whole-stage-codegen span
    assert(p.contains("[codegen id :"), p)
    assert(!p.contains("BatchEvalPython") && !p.contains("ArrowEvalPython"), p)
    assert(p.contains("PushedFilters"), p)
  }
}
