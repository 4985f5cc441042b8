package graft

/** Plan-shape regression guards (SURVEY §4, COVERAGE plan notes): the
  * optimizations the 100 TB story depends on must stay visible in the
  * physical plan — broadcast choice, pushdown/pruning, single-exchange
  * sessionization, top-k without global sort. */
class PlanSpec extends SparkSpec {

  private def plan(name: String): String =
    SparkEntry.queries(name)(spark, sf001).queryExecution.executedPlan.toString

  test("broadcast star join actually broadcasts both dims") {
    val p = plan("q_join_broadcast")
    assert("BroadcastHashJoin".r.findAllIn(p).length === 2, p.take(2000))
  }

  test("sessionize uses ONE data exchange for window + aggregate") {
    // hash-by-user exchange reused by both windows and the group-by; the
    // only other exchange is the final orderBy range partitioning
    val p = plan("q_sessionize")
    val exchanges = "Exchange (hashpartitioning|rangepartitioning|SinglePartition)"
      .r.findAllIn(p).toList
    val hashEx = exchanges.count(_.contains("hashpartitioning"))
    assert(hashEx === 1, s"expected 1 hash exchange, got $hashEx:\n${p.take(3000)}")
  }

  test("parquet scan prunes columns and pushes filters") {
    val p = plan("q_string_funcs")
    assert(p.contains("PushedFilters: [IsNotNull(p_name)]"), p.take(2000))
    // 4 of 6 part columns read
    assert(p.contains("ReadSchema: struct<p_partkey:bigint,p_name:string,p_brand:string,p_type:string>"),
      p.take(2000))
  }

  test("Q17 decorrelation: fact table never shuffles, dims broadcast") {
    // both the brand-part dim and the per-part average relation must join
    // as broadcasts; the only keyed exchange is the per-part AVG over the
    // brand-filtered slice (plus the 1-row final aggregate)
    val p = plan("q_small_qty_revenue")
    assert("BroadcastHashJoin".r.findAllIn(p).length >= 2, p.take(3000))
    val hashEx = "Exchange hashpartitioning".r.findAllIn(p).length
    assert(hashEx <= 1, s"expected <=1 hash exchange, got $hashEx:\n${p.take(3000)}")
  }

  test("global top-k plans as TakeOrderedAndProject (no full sort)") {
    val p = plan("q_topk_orders")
    assert(p.contains("TakeOrderedAndProject"), p.take(2000))
  }

  test("dot product runs as the native codegen expression") {
    val p = plan("q_vector_norms")
    assert(p.contains("dotproduct") || p.contains("DotProduct"), p.take(2000))
  }

  test("several DotProducts in ONE projection compile (no interpreted fallback)") {
    // regression: doGenCode used literal Java locals (i/n/acc); two dots in
    // one generated function collided ("Redefinition of local variable i")
    // and the whole projection silently fell back to interpreted eval —
    // exactly the cosine shape dot(a,b)/sqrt(dot(a,a)*dot(b,b))
    import org.apache.spark.sql.catalyst.expressions.{Alias, BoundReference}
    import org.apache.spark.sql.catalyst.expressions.codegen.GenerateUnsafeProjection
    import org.apache.spark.sql.types.{ArrayType, DoubleType}
    import graft.functions.DotProduct
    val v = BoundReference(0, ArrayType(DoubleType, containsNull = false), nullable = false)
    // three dots in one generated function — compiling directly (not via
    // UnsafeProjection.create) THROWS on a janino collision instead of
    // silently de-optimizing
    GenerateUnsafeProjection.generate(Seq(
      Alias(DotProduct(v, v), "ab")(),
      Alias(DotProduct(v, v), "aa")(),
      Alias(DotProduct(v, v), "bb")()))
    // end-to-end through the SQL surface: cos(v, v) == 1
    import org.apache.spark.sql.functions._
    import graft.functions.GraftFunctions
    val df = spark.range(4).select(
      expr("transform(sequence(0, 7), x -> cast(x + id as double))").as("v"))
    val proj = df.select(
      (GraftFunctions.dot(col("v"), col("v")) /
        sqrt(GraftFunctions.dot(col("v"), col("v")) * GraftFunctions.dot(col("v"), col("v"))))
        .as("cos_self"))
    proj.collect().foreach(r => assert(math.abs(r.getDouble(0) - 1.0) < 1e-12))
  }

  test("dedup pipelines force no broadcast (O(N) relations; AQE decides)") {
    // the signature/count relations are corpus-sized — a broadcast() hint
    // on them is a driver-killer at 100 TB; joins must be plain equi joins
    // (AQE may still broadcast at runtime when genuinely small)
    Seq("q_jaccard_pairs", "q_minhash_candidates", "q_simhash_pairs").foreach { q =>
      val opt = SparkEntry.queries(q)(spark, sf001)
        .queryExecution.optimizedPlan.toString
      assert(!opt.contains("strategy=broadcast"), s"$q forces broadcast:\n${opt.take(2000)}")
      spark.catalog.clearCache()
    }
  }

  test("SRP candidate generation is a banded equi join (no BNLJ, no cartesian)") {
    // the ANN branch and the LSH pair blocking are the repo's demonstration
    // of the sub-quadratic embedding scale path: candidates MUST come from
    // a (band, bucket) equi join — an all-pairs cross/nested-loop join here
    // would be the O(Q·N) / O(N²) plan these operators exist to avoid
    val ann = graft.ops.VectorOps.annSrpTop(spark, sf001)
      .queryExecution.executedPlan.toString
    assert(!ann.contains("BroadcastNestedLoopJoin"), ann.take(3000))
    assert(!ann.contains("CartesianProduct"), ann.take(3000))
    val lsh = graft.ops.VectorOps.cosinePairsLsh(spark, sf001)
      .queryExecution.executedPlan.toString
    assert(!lsh.contains("BroadcastNestedLoopJoin"), lsh.take(3000))
    assert(!lsh.contains("CartesianProduct"), lsh.take(3000))
    spark.catalog.clearCache()
  }

  test("semdedup: only the k-row centroid relation nested-loops; pair stage is keyed") {
    // assignment deliberately crossJoins broadcast(8 centroids) — that BNLJ
    // is the wanted plan (k rows never grow with the corpus). What must
    // NOT appear is a CartesianProduct (two big sides) anywhere, and the
    // within-cluster dup stage must be an equi join on the cluster key.
    val p = graft.ops.VectorOps.semDedup(spark, sf001)
      .queryExecution.executedPlan.toString
    assert(!p.contains("CartesianProduct"), p.take(3000))
    assert(p.contains("BroadcastNestedLoopJoin"), // the k-row assignment join
      "expected the broadcast-k assignment crossJoin in the plan")
    spark.catalog.clearCache()
  }

  test("ngram repeats joins on the gram key only (no BNLJ, no cartesian)") {
    val p = graft.ops.Curation.ngramRepeats(spark, sf001)
      .queryExecution.executedPlan.toString
    assert(!p.contains("BroadcastNestedLoopJoin"), p.take(3000))
    assert(!p.contains("CartesianProduct"), p.take(3000))
    spark.catalog.clearCache()
  }

  test("edit-distance DP stays OUT of the join condition") {
    // regression: predicate pushdown substituted the levenshtein filter
    // into the join condition, where pushed conjuncts are ordered BEFORE
    // the cheap id/length gates and the DP ran 3x per candidate pair
    // (35-38 s vs 4.9 s at sf0.1) — the _pin barrier in editDistancePairs
    // must keep it above the join
    val opt = SparkEntry.queries("q_edit_distance_pairs")(spark, sf001)
      .queryExecution.optimizedPlan.toString
    val joinLines = opt.linesIterator.filter(_.contains("Join")).toList
    assert(joinLines.nonEmpty)
    assert(!joinLines.exists(_.contains("levenshtein")),
      s"levenshtein leaked into the join condition:\n${joinLines.mkString("\n").take(1500)}")
  }

  test("LM perplexity scans the corpus ONCE (persisted bigram stream reused)") {
    // the bigram explode feeds the LM build, the context totals, and the
    // scoring join; without the persist the parquet scan + explode runs 3x
    val qe = SparkEntry.queries("q_lm_perplexity")(spark, sf001).queryExecution
    val p = qe.executedPlan.toString
    assert(p.contains("InMemoryTableScan"), p.take(2000))
    // the only parquet scan lives INSIDE the cached relation; every
    // consumer reads the cache, so "Scan parquet" appears exactly once in
    // the de-duplicated cached-plan rendering
    assert(qe.optimizedPlan.toString.contains("InMemoryRelation"),
      qe.optimizedPlan.toString.take(2000))
    spark.catalog.clearCache()
  }

  test("heavy-hitters sketch partial-aggregates map-side (no corpus shuffle by key)") {
    // the Misra-Gries udaf must plan as ObjectHashAggregate partial ->
    // single-partition exchange of <= capacity-sized maps -> final merge;
    // a corpus-wide hash-by-key exchange would defeat the sketch's point
    val p = plan("q_heavy_hitters")
    assert("ObjectHashAggregate".r.findAllIn(p).length >= 2, p.take(3000))
    val exLines = p.linesIterator.filter(_.contains("Exchange")).toList
    assert(exLines.exists(_.contains("SinglePartition")),
      s"expected the sketch merge on a SinglePartition exchange:\n${exLines.mkString("\n")}")
    assert(!exLines.exists(_.contains("hashpartitioning(k")),
      s"corpus shuffled by sketch key:\n${exLines.mkString("\n")}")
  }

  test("join strategy hints steer the planner (shuffle_hash / merge / broadcast)") {
    // the per-query escape hatch when stats mislead the planner at scale:
    // hint() must reach JoinSelection for each strategy
    val c = Tables(spark, sf001, "customer")
    val o = Tables(spark, sf001, "orders")
    def planOf(hint: String) =
      c.hint(hint).join(o, c("c_custkey") === o("o_custkey"))
        .queryExecution.executedPlan.toString
    assert(planOf("shuffle_hash").contains("ShuffledHashJoin"))
    assert(planOf("merge").contains("SortMergeJoin"))
    assert(planOf("broadcast").contains("BroadcastHashJoin"))
  }

  test("range join keeps the equi conjunct (hash join, not BNLJ)") {
    val p = plan("q_join_range")
    assert(p.contains("SortMergeJoin") || p.contains("ShuffledHashJoin")
      || p.contains("BroadcastHashJoin"), p.take(2000))
    assert(!p.contains("BroadcastNestedLoopJoin"), p.take(2000))
  }

  test("lateral top-k decorrelates to WindowGroupLimit + join (no per-row rescan)") {
    // the correlated ORDER BY/LIMIT subquery must become ONE windowed
    // rank over customer joined back to nation — map-side group-limit
    // pruning before the shuffle, never a nested-loop re-execution
    val p = plan("q_join_lateral")
    assert(p.contains("WindowGroupLimit"), p.take(3000))
    assert(!p.contains("BroadcastNestedLoopJoin"), p.take(3000))
  }

  test("skyline plans the prefix-max shape, not the O(N^2) dominance join") {
    // the whole point of the operator: the oracle runs NOT EXISTS over
    // pts x pts; the Spark plan must never contain that product
    val p = plan("q_skyline")
    assert(!p.contains("CartesianProduct"), p.take(3000))
    assert(!p.contains("BroadcastNestedLoopJoin"), p.take(3000))
    spark.catalog.clearCache()
  }

  test("interval overlap meets on a bucketed equi join (no nested loop)") {
    // sessions x windows is a theta join by definition; the hour-bucket
    // explode turns it into an equi join — a BNLJ/cartesian here means the
    // bucketing regressed to the O(N·M) plan
    val p = plan("q_interval_overlap")
    assert(!p.contains("CartesianProduct"), p.take(3000))
    assert(!p.contains("BroadcastNestedLoopJoin"), p.take(3000))
  }

  test("market share broadcasts the fixed dims, never the fact sides") {
    val opt = SparkEntry.queries("q_market_share")(spark, sf001)
      .queryExecution.optimizedPlan.toString
    // only nation (x2) and region carry hints; lineitem/orders/customer/
    // supplier/part must not be FORCED broadcast (AQE may still choose to
    // at tiny SF — that is runtime's call, not the plan's)
    val forced = "strategy=broadcast".r.findAllIn(opt).length
    assert(forced <= 3, s"expected <=3 forced broadcasts (nation x2, region):\n${opt.take(3000)}")
    val p = plan("q_market_share")
    assert(p.contains("BroadcastHashJoin"), p.take(2000))
    assert(!p.contains("CartesianProduct"), p.take(3000))
  }

  test("waiting suppliers decorrelates to semi + anti joins") {
    val p = plan("q_waiting_suppliers")
    assert(p.contains("LeftSemi"), p.take(3000))
    assert(p.contains("LeftAnti"), p.take(3000))
    assert(!p.contains("CartesianProduct"), p.take(3000))
    assert(!p.contains("BroadcastNestedLoopJoin"), p.take(3000))
  }

  test("Q2/Q9/Q16/Q20 shapes: keyed joins only, never a nested loop") {
    for (q <- Seq("q_min_cost_supplier", "q_product_profit",
        "q_supplier_cnt", "q_part_promotion")) {
      val p = plan(q)
      assert(!p.contains("CartesianProduct"), s"$q:\n${p.take(3000)}")
      assert(!p.contains("BroadcastNestedLoopJoin"), s"$q:\n${p.take(3000)}")
    }
    // Q11's only nested loop is the 1-row global-total broadcast cross —
    // the legitimate scalar-subquery shape
    val p11 = plan("q_important_stock")
    assert(!p11.contains("CartesianProduct"), p11.take(3000))
    assert("BroadcastNestedLoopJoin".r.findAllIn(p11).length <= 1,
      p11.take(3000))
  }

  test("SCD2 history rides ONE hash-by-custkey exchange for both windows") {
    // lag (change filter) and lead (interval bound) share the same
    // partitioning+ordering; only the final presentation orderBy adds a
    // range exchange
    val p = plan("q_scd2_history")
    val hashEx = "Exchange hashpartitioning".r.findAllIn(p).length
    assert(hashEx === 1, s"expected 1 hash exchange, got $hashEx:\n${p.take(3000)}")
  }

  test("chunk generator plans as Generate over ChunkRows, no explode/sequence projection") {
    val p = plan("q_chunk_gen")
    assert(p.contains("Generate chunkrows"), s"native generator missing:\n${p.take(2000)}")
    assert(!p.contains("explode") && !p.contains("sequence"),
      s"index-array formulation leaked into the generator plan:\n${p.take(2000)}")
  }

  test("topk heap aggregate partial-aggregates map-side; no window, no sort before the exchange") {
    // the whole point of TopKByValue vs the window twin: partial
    // ObjectHashAggregate before the shuffle (k rows/group/task cross the
    // wire) and no Window/row_number over the corpus anywhere
    val p = plan("q_topk_agg")
    assert("ObjectHashAggregate".r.findAllIn(p).length >= 2,
      s"expected partial+final ObjectHashAggregate:\n${p.take(3000)}")
    assert(!p.contains("Window"), s"window leaked into the heap-agg plan:\n${p.take(3000)}")
  }

  test("substring dedup and feature hashing are join-free single passes") {
    // both are explode → map-side-combined groupBy; any Join node means a
    // pair formulation leaked in
    Seq("q_substring_dedup", "q_feature_hash").foreach { q =>
      val p = plan(q)
      assert(!p.contains("Join"), s"$q grew a join:\n${p.take(3000)}")
    }
  }

  test("record linkage joins on the block key only (no all-pairs)") {
    val p = plan("q_record_linkage")
    assert(!p.contains("CartesianProduct"), p.take(3000))
    assert(!p.contains("BroadcastNestedLoopJoin"), p.take(3000))
  }

  test("negative sampling joins the permutation by position, never anchor x corpus") {
    // the single tolerated BNLJ is the 1-row n_total aggregate crossJoin
    val p = plan("q_negative_sample")
    assert(!p.contains("CartesianProduct"), p.take(3000))
    assert("BroadcastNestedLoopJoin".r.findAllIn(p).length <= 1, p.take(3000))
  }

  test("eval metrics: only the |labels|-row centroid relation nested-loops") {
    // same contract as semdedup's assignment stage: broadcast-k BNLJ is
    // the wanted plan; a CartesianProduct (two corpus-sized sides) is not
    val p = plan("q_eval_metrics")
    assert(!p.contains("CartesianProduct"), p.take(3000))
  }

  test("woe/iv broadcasts the part dimension into the fact scan") {
    val p = plan("q_woe_iv")
    assert(p.contains("BroadcastHashJoin"), p.take(3000))
  }

  test("gram matrix is a join-free double-generate aggregate") {
    val p = plan("q_gram_matrix")
    assert(!p.contains("Join"), s"outer-product pair join leaked in:\n${p.take(3000)}")
    assert("Generate".r.findAllIn(p).length >= 2, p.take(2000))
  }

  test("geo pairs join only on cell keys (never an all-pairs distance join)") {
    val p = plan("q_geo_pairs")
    assert(!p.contains("CartesianProduct"), p.take(3000))
    assert(!p.contains("BroadcastNestedLoopJoin"), p.take(3000))
  }

  test("item CF pairs come from the keyed basket self-join, top-N via TakeOrdered") {
    val p = plan("q_item_cf")
    assert(!p.contains("CartesianProduct"), p.take(3000))
    assert(!p.contains("BroadcastNestedLoopJoin"), p.take(3000))
    assert(p.contains("TakeOrderedAndProject"), p.take(2000))
  }

  test("user recs: model joins stay keyed (no cartesian, no BNLJ)") {
    val p = plan("q_user_recs")
    assert(!p.contains("CartesianProduct"), p.take(3000))
    assert(!p.contains("BroadcastNestedLoopJoin"), p.take(3000))
    assert(p.contains("WindowGroupLimit"), "per-user top-3 should group-limit")
  }

  test("dsir importance: bounded ratio table broadcasts, feature stream never nest-loops") {
    val p = plan("q_dsir_importance")
    assert(!p.contains("CartesianProduct"), p.take(3000))
    // the ≤1024-row log-ratio relation joins the exploded feature stream
    // as a broadcast hash join on the bucket key
    assert(p.contains("BroadcastHashJoin"), p.take(3000))
  }

  test("diversity sample ranks inside clusters, never a global window") {
    val p = plan("q_diversity_sample")
    assert(!p.contains("CartesianProduct"), p.take(3000))
    // the quota rank's window exchange hashes on the cluster id — a
    // single-partition global sort here would serialize the corpus
    assert(p.contains("hashpartitioning(c#") || p.contains("hashpartitioning(c "),
      s"expected the rank window to partition by cluster:\n${p.take(3000)}")
  }

  test("golden record: survivorship joins stay keyed and CC lineage is cut") {
    val p = plan("q_golden_record")
    assert(!p.contains("CartesianProduct"), p.take(3000))
    assert(!p.contains("BroadcastNestedLoopJoin"), p.take(3000))
    // the CC labels must arrive checkpoint-truncated — without the
    // per-round localCheckpoint the final plan nests every CC round's
    // joins (super-linear plan growth, see connectedComponents scaladoc)
    assert(p.contains("ExistingRDD"), s"CC lineage not cut:\n${p.take(3000)}")
    // per-entity segment mode is a group-limited window, never global
    assert(p.contains("WindowGroupLimit"), p.take(3000))
  }

  test("sssp result plan is checkpoint-truncated (no nested round lineage)") {
    // the frontier⋈edges relaxation happens inside the rounds (equi on
    // node===u; convergence + cost-cap violations throw loudly there);
    // the RESULT must be just a sort over the checkpointed distance
    // relation — a Join here means a round's lineage leaked through
    val p = plan("q_sssp")
    assert(p.contains("ExistingRDD"), s"lineage not cut:\n${p.take(3000)}")
    assert(!p.contains("Join"), s"round lineage leaked into result:\n${p.take(3000)}")
  }

  test("dedup PR truth join carries the block keys (keyed, never cartesian)") {
    // BNLJ appears ONLY as the metric-assembly crossJoins of 1-row
    // aggregates (the Q11 convention); the pair-generating joins must
    // stay keyed, which CartesianProduct absence + the sf0.1 runtime
    // (5.6 s vs the unkeyed 22.7 s) pins
    val p = plan("q_dedup_pr")
    assert(!p.contains("CartesianProduct"), p.take(3000))
  }

  test("sparse tfidf retrieval joins on the term posting key only") {
    // the single BNLJ is the 1-row n_docs crossJoin into the idf
    val p = plan("q_tfidf_retrieval")
    assert(!p.contains("CartesianProduct"), p.take(3000))
    assert(p.contains("WindowGroupLimit"), "per-query top-5 should group-limit")
  }

  test("knn family tops-k via WindowGroupLimit; only the bounded Q-row side nest-loops") {
    // the broadcast-probe scorers (cosineTopK convention) NL-join a
    // bounded Q-row broadcast against the corpus scan — that is the
    // intended map-side probe; the top-k must still group-limit
    for (q <- Seq("q_knn_classify", "q_ndcg", "q_map_eval")) {
      val p = plan(q)
      assert(p.contains("WindowGroupLimit"), s"$q: ${p.take(1500)}")
      assert(!p.contains("CartesianProduct"), s"$q: ${p.take(1500)}")
    }
  }

  test("lof neighbor search is label-block-keyed (no cartesian, no BNLJ)") {
    val p = plan("q_lof")
    assert(!p.contains("CartesianProduct"), p.take(3000))
    assert(!p.contains("BroadcastNestedLoopJoin"), p.take(3000))
    assert(p.contains("WindowGroupLimit"), "k-NN cut should group-limit")
  }

  test("quantile norm never plans a single-partition global window") {
    val p = plan("q_quantile_norm")
    // ScaledRank's two-phase rank: no Window over an unpartitioned sort
    // of the fact (windows in this plan may only serve tiny relations)
    assert(!p.contains("CartesianProduct"), p.take(3000))
    assert(p.contains("RoundRobinPartitioning") || p.contains("rangepartitioning")
      || p.toLowerCase.contains("range"), "expected the range-partitioned rank path")
  }

  test("bot flags ride ONE by-user exchange for window plus aggregate") {
    val p = plan("q_bot_flags")
    val exchanges = "Exchange hashpartitioning".r.findAllIn(p).length
    assert(exchanges <= 1, s"expected <=1 hash exchange, got $exchanges:\n${p.take(3000)}")
  }

  /** Every BNLJ in `p` must be the bounded broadcast-agg crossJoin
    * pattern (`BuildRight, Cross` — the Q11 convention); a data-sized
    * nest-loop would surface as BuildLeft or a non-Cross join type. The
    * occurrence COUNT is meaningless here: un-cached lineage re-expands
    * the same bounded 1-row aggregate at every reference. */
  private def onlyBoundedCrossBnlj(p: String): Unit =
    "BroadcastNestedLoopJoin [^\n]*".r.findAllIn(p).foreach { line =>
      assert(line.contains("BuildRight, Cross"),
        s"non-bounded nest-loop shape: $line")
    }

  test("modularity: community joins stay keyed; nest-loops only broadcast bounded aggs") {
    val p = plan("q_modularity")
    assert(!p.contains("CartesianProduct"), p.take(3000))
    onlyBoundedCrossBnlj(p)
    // the per-community stats meet on keyed exchanges
    assert(p.contains("SortMergeJoin [community#") ||
      p.contains("BroadcastHashJoin [community#"), p.take(3000))
  }

  test("louvain move: candidate space is degree-bounded (keyed joins, argmax aggregate)") {
    val p = plan("q_louvain_move")
    assert(!p.contains("CartesianProduct"), p.take(3000))
    // per-node best move is min_by, never a window over all candidates
    assert(!p.contains("WindowExec"), p.take(3000))
    onlyBoundedCrossBnlj(p)
  }

  test("ks test: CDF supremum rides the range-partitioned cumsum, no global window") {
    val p = plan("q_ks_test")
    assert(!p.contains("CartesianProduct"), p.take(3000))
    // the signed-delta running sum must be the two-phase mapPartitions
    // pass (checkpoint-free range exchange), not a single-partition sort
    assert(!p.contains("WindowExec"), s"global window leaked in:\n${p.take(3000)}")
    onlyBoundedCrossBnlj(p)
  }

  test("sql pipe: desugars to one hash aggregate over the filtered scan") {
    val p = plan("q_sql_pipe")
    assert(!p.contains("CartesianProduct"), p.take(2000))
    assert("HashAggregate".r.findAllIn(p).length >= 2, // partial + final
      p.take(2000))
  }

  test("mlm mask: vocab rides broadcast joins; per-token work never key-shuffles") {
    val p = plan("q_mlm_mask")
    // the 1-row v_size cross and the rid->token_id lookup both broadcast
    assert("BroadcastHashJoin|BroadcastNestedLoopJoin".r.findAllIn(p).length >= 2,
      p.take(3000))
    assert(!p.contains("CartesianProduct"), p.take(3000))
    assert(!p.contains("SortMergeJoin"),
      s"corpus-side shuffle join leaked into the corruption plan:\n${p.take(3000)}")
  }

  test("span corruption: every exchange is doc-keyed (one grain, no all-pairs)") {
    val p = plan("q_span_corrupt")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"),
      p.take(3000))
    // windows, the run join, and the regroup all hash on doc_id
    val hashEx = "Exchange hashpartitioning\\(([^)]*)".r
      .findAllMatchIn(p).map(_.group(1)).toList
    assert(hashEx.nonEmpty && hashEx.forall(_.contains("doc_id")),
      s"non-doc_id exchange in:\n${p.take(3000)}")
  }

  test("wordpiece: candidate->vocab match is a broadcast equi join, no BNLJ") {
    val p = plan("q_wordpiece_encode")
    assert(p.contains("BroadcastHashJoin"), p.take(3000))
    assert(!p.contains("BroadcastNestedLoopJoin") && !p.contains("CartesianProduct"),
      p.take(3000))
  }

  test("hilbert zones: the 6-level key fold is pure projection, one hash exchange") {
    val p = plan("q_hilbert_zones")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"),
      p.take(2000))
    // the per-level rotate/accumulate collapses into narrow Projects —
    // no join, no UDF, no extra shuffle beyond distinct + zone window +
    // the final orderBy
    assert(!p.contains("BatchEvalPython") && !p.contains("ScalaUDF"), p.take(2000))
    val hashEx = "Exchange hashpartitioning".r.findAllIn(p).length
    assert(hashEx <= 2, s"expected <=2 hash exchanges (distinct, zone), got $hashEx:\n${p.take(3000)}")
  }

  test("media phash candidates ride a banded equi join (no pair-space BNLJ)") {
    val p = plan("q_media_phash")
    // exactly ONE nested-loop relation: the 1-row candidate-count attach
    // (the semdedup scalar pattern); the candidate PAIR join itself must
    // be keyed on (band index, bucket), never all-pairs
    assert("BroadcastNestedLoopJoin".r.findAllIn(p).length === 1, p.take(3000))
    assert(!p.contains("CartesianProduct"), p.take(3000))
    // the 60-bit dHash is pure codegen'd expressions — no UDF anywhere
    assert(!p.contains("ScalaUDF") && !p.contains("BatchEvalPython"), p.take(2000))
  }

  test("group k-fold: the md5 fold draw is scan-column arithmetic, no UDF") {
    val p = plan("q_group_kfold")
    assert(!p.contains("ScalaUDF"), p.take(2000))
    // the only nested-loop relations are the TWO 1-row leak counters
    assert("BroadcastNestedLoopJoin".r.findAllIn(p).length === 2, p.take(3000))
    assert(!p.contains("CartesianProduct"), p.take(3000))
  }

  test("graph-ann: kNN build joins on the cell key; centroids broadcast") {
    val p = plan("q_ann_graph_recall")
    // the only nested-loop relations are the k-row centroid set and the
    // 10-row query set (the semdedup contract); the n-row graph build
    // and every walk hop must be keyed joins
    assert(p.contains("BroadcastHashJoin"), p.take(3000))
    assert(!p.contains("CartesianProduct"), p.take(3000))
  }
}
