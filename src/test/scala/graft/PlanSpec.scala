package graft

import org.scalatest.funsuite.AnyFunSuite

/** Physical-plan quality gates — the 100 TB design points that a row-count
  * check can't see: predicate pushdown reaching the parquet scan, column
  * pruning, broadcast joins for dimensions, whole-stage codegen spans, and
  * the native cosine expression staying inside codegen.
  */
class PlanSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  private val d = TestSpark.Sf0001

  private def plan(name: String): String =
    SparkEntry.queries(name)(spark, d).queryExecution.executedPlan.toString

  test("q02: filter is pushed down to the parquet scan") {
    val p = plan("q02_filter_project")
    assert(p.contains("PushedFilters: ["), p)
    assert(p.contains("l_shipdate"), p)
    assert(p.contains("l_discount"), p)
  }

  test("q02: scan reads only the referenced columns (pruning)") {
    val p = plan("q02_filter_project")
    val readSchema = p.linesIterator.find(_.contains("ReadSchema")).getOrElse("")
    assert(!readSchema.contains("l_comment") && !readSchema.contains("l_tax"),
      s"unpruned scan: $readSchema")
  }

  test("q05/q06: dimension joins broadcast the small side") {
    assert(plan("q05_join_agg").contains("BroadcastHashJoin"))
    val multi = plan("q06_join_multi")
    assert(multi.sliding("BroadcastHashJoin".length).count(_ == "BroadcastHashJoin") >= 2)
  }

  test("q03: aggregation is a two-phase hash aggregate (map-side partial)") {
    val p = plan("q03_group_agg")
    assert(p.contains("HashAggregate"))
    assert(p.toLowerCase.contains("partial"), p.take(2000))
  }

  test("hot scan-aggregate queries run inside WholeStageCodegen") {
    // the Tungsten design point: scan → filter → partial agg fused into
    // one generated loop, no interpreted row-at-a-time operators
    // codegen'd operators print with the `*(stageId)` prefix; under AQE
    // the markers only appear once stages are planned, so execute first
    for (q <- Seq("q02_filter_project", "q03_group_agg")) {
      val df = SparkEntry.queries(q)(spark, d)
      df.collect()
      val p = df.queryExecution.executedPlan.toString
      assert(p.linesIterator.exists(l =>
        l.contains("*(") && (l.contains("HashAggregate") || l.contains("Filter"))),
        s"$q: neither aggregate nor filter is codegen'd: ${p.take(800)}")
    }
  }

  test("q11: rank-filter top-k plans a WindowGroupLimit below the window") {
    // the per-group top-k pushdown: each map task keeps only k rows per
    // group BEFORE the shuffle+sort, so the exchange carries O(groups·k)
    // instead of the whole table — the difference between a window that
    // scales and one that sorts 100 TB to throw it away
    val p = plan("q11_topk_window")
    assert(p.contains("WindowGroupLimit"),
      s"rank<=k filter no longer pushes a group limit below the window:\n${p.take(2000)}")
  }

  test("q27: plan uses the native cosine expression") {
    val p = plan("q27_cosine_topk")
    assert(p.contains("cosine_similarity"), p.take(2000))
  }

  test("CosineSimilarity generates fused whole-stage code and evaluates correctly") {
    import org.apache.spark.sql.functions.{col, expr}
    // range source (not a local relation, which would be constant-folded)
    val df = spark.range(1).select(
      expr("array(CAST(id AS DOUBLE), CAST(id + 1 AS DOUBLE), CAST(id + 2 AS DOUBLE))").as("a"),
      expr("array(CAST(id AS DOUBLE), CAST(id + 1 AS DOUBLE), CAST(id + 2 AS DOUBLE))").as("b"))
      .select(graft.functions.CosineSimilarity(col("a"), col("b")).as("c"))
    assert(math.abs(df.head.getDouble(0) - 1.0) < 1e-12)
    // exchange-free plan → no AQE → codegen subtree visible, containing
    // the expression's generated loop
    val gen = df.queryExecution.explainString(
      org.apache.spark.sql.execution.CodegenMode)
    assert(gen.contains("Math.sqrt"), gen.take(1500))
  }

  test("q43: range join keeps its equi-join driver (no cartesian)") {
    val p = plan("q43_range_join")
    assert(!p.contains("CartesianProduct"), p.take(2000))
    assert(p.contains("Join"), p.take(2000))
  }

  test("q23/q24: no user-forced broadcast hints (O(corpus) sides stay AQE-decided)") {
    // A forced broadcast of a per-document relation OOMs at 100 TB; the
    // planner may still CHOOSE broadcasts at runtime when a side is small.
    for (q <- Seq("q23_minhash_lsh_dedup", "q24_ngram_jaccard")) {
      val analyzed = SparkEntry.queries(q)(spark, d).queryExecution.analyzed.toString
      assert(!analyzed.contains("ResolvedHint"), s"$q still carries a broadcast hint")
    }
  }

  test("q23: repeated subtrees share exchanges at runtime (AQE stage reuse)") {
    // The gram pipeline feeds the signature aggregation and the verify
    // self-join; the candidate pipeline feeds three consumers. The
    // restructure keeps those subtrees canonically identical so AQE
    // materializes each shuffle once and reuses it — the dataflow answer
    // that replaced the (measured-regression) persist() of the grams.
    // Must EXECUTE the query: AQE's reuse decision is a runtime one.
    val df = SparkEntry.queries("q23_minhash_lsh_dedup")(spark, d)
    df.collect()
    val finalPlan = df.queryExecution.executedPlan.toString
    assert(finalPlan.contains("isFinalPlan=true"), finalPlan.take(500))
    assert(finalPlan.contains("ReusedExchange"),
      "expected AQE to reuse at least one exchange across the repeated gram/candidate subtrees")
  }

  test("q73: capped-join subtrees share exchanges at runtime (AQE stage reuse)") {
    // The filtered-gram relation feeds its own self-join twice plus the
    // sizes aggregation; the self-join sides are canonically identical,
    // so AQE must materialize the shuffle-by-gram once and reuse it.
    val df = SparkEntry.queries("q73_ngram_jaccard_capped")(spark, d)
    df.collect()
    val finalPlan = df.queryExecution.executedPlan.toString
    assert(finalPlan.contains("isFinalPlan=true"), finalPlan.take(500))
    assert(finalPlan.contains("ReusedExchange"),
      "expected AQE to reuse the filtered-gram exchange across the self-join sides")
  }

  test("q67: partition predicate prunes at the source (PartitionFilters)") {
    val p = plan("q67_partition_pruned")
    def bracket(tag: String): String =
      s"$tag: \\[([^\\]]*)\\]".r.findFirstMatchIn(p).map(_.group(1)).getOrElse("")
    assert(bracket("PartitionFilters").contains("lang"),
      s"lang predicate not pruning partitions: $p")
    // and it must NOT degrade to a post-scan data filter on lang
    assert(!bracket("DataFilters").contains("lang") &&
      !bracket("PushedFilters").contains("lang"),
      s"lang fell through to data filters: $p")
  }

  test("q76: inverted-file read is pruned to the probed cells (dynamic partition pruning)") {
    // The probe side is data-dependent, so the pruning predicate is a
    // runtime subquery (DPP), not a literal — it must still land in the
    // scan's PartitionFilters, never as a post-scan filter on cell.
    val p = plan("q76_ann_ivf_file")
    val scanLine = p.linesIterator.find(l =>
      l.contains("PartitionFilters") && l.contains("cell")).getOrElse("")
    assert(scanLine.contains("dynamicpruning"),
      s"no dynamic partition pruning on the inverted-file scan: ${p.take(3000)}")
  }

  test("q114: PQ inverted-file read is pruned to the probed cells (dynamic partition pruning)") {
    // q76's gate for the code file: the ADC join is on the partition
    // column, so the runtime subquery must land in PartitionFilters —
    // at 100 TB this scan reads nprobe/k of an index that is already
    // 64× smaller than the vectors
    val p = plan("q114_ann_ivf_pq_file")
    val scanLine = p.linesIterator.find(l =>
      l.contains("PartitionFilters") && l.contains("cell")).getOrElse("")
    assert(scanLine.contains("dynamicpruning"),
      s"no dynamic partition pruning on the PQ inverted-file scan: ${p.take(3000)}")
  }

  test("q79/q81: split assignment and quantization are pure narrow projections (no shuffle)") {
    // Both are per-row rewrites; any Exchange in the plan would mean the
    // operator shuffles a 100 TB corpus to compute a row-local function.
    for (q <- Seq("q79_train_split", "q81_embed_quantize")) {
      val p = plan(q)
      assert(!p.contains("Exchange"), s"$q shuffles: ${p.take(1500)}")
    }
  }

  test("q93/q97: normalization and PII redaction are pure narrow projections (no shuffle)") {
    // both rewrite the corpus row-locally; an Exchange would mean the
    // 100 TB rewrite shuffles for no reason
    for (q <- Seq("q93_normalize", "q97_pii_redact")) {
      val p = plan(q)
      assert(!p.contains("Exchange"), s"$q shuffles: ${p.take(1500)}")
    }
  }

  test("q89: segment-dedup keeper is an aggregation, never a window over the segment key") {
    // min(struct) under groupBy(segment) is partial-aggregated and
    // skew-immune; a window over PARTITION BY seg would pile a viral
    // boilerplate segment's occurrences into one partition
    val p = plan("q89_segment_dedup")
    assert(!p.contains("Window"), s"window over segment key: ${p.take(2000)}")
    assert(p.contains("partial_min") || p.toLowerCase.contains("partial"),
      s"keeper agg not map-side partial: ${p.take(2000)}")
  }

  test("q91: z-order layout is the native expression + one aggregation shuffle") {
    val p = plan("q91_zorder_layout")
    assert(p.contains("interleave_bits"), p.take(2000))
    val shuffles = p.linesIterator.count(_.contains("Exchange hashpartitioning"))
    assert(shuffles === 1, s"expected exactly 1 shuffle, saw $shuffles: ${p.take(2000)}")
  }

  test("q104/q106: df-cap relations carry no forced broadcast hints (q23/q24 discipline)") {
    // The kept-buckets/kept-grams relations are O(distinct keys) — small
    // here, corpus-shaped in the worst case; forcing a broadcast would
    // OOM at 100 TB. AQE may still choose one at runtime.
    for (q <- Seq("q104_simhash_pairs_capped", "q106_decontaminate_capped")) {
      val analyzed = SparkEntry.queries(q)(spark, d).queryExecution.analyzed.toString
      assert(!analyzed.contains("ResolvedHint"), s"$q carries a broadcast hint")
    }
  }

  test("q103/q108/q110: codec pipelines shuffle ids only, never a payload byte") {
    // encode → decode → features never moves a payload byte between
    // partitions. Since r15 the HEAVY codecs (jpeg, gif) fan the 8-byte
    // id relation out by doc_id before any payload exists (the q270
    // single-core lesson: one local parquet file = one scan split = one
    // core for the whole codec loop — q110 5.6 → 0.5 s), so their gate
    // is q164's: every Exchange must be keyed by the id. q108 stays a
    // pure chain — WAV encode is ~µs/doc and the fan-out COSTS more
    // than it buys (A/B in the query's comment).
    for (q <- Seq("q103_jpeg_decode", "q110_gif_video")) {
      val exchanges = plan(q).linesIterator.filter(_.contains("Exchange")).toSeq
      assert(exchanges.nonEmpty, s"$q lost its id fan-out")
      assert(exchanges.forall(_.contains("doc_id")),
        s"non-id shuffle in $q:\n${exchanges.mkString("\n")}")
    }
    assert(!plan("q108_wav_audio").contains("Exchange"),
      "q108 shuffles (its codec work is too cheap to amortize an exchange)")
  }

  test("q164: the only shuffle is the metadata hash groupBy (payloads never shuffle)") {
    // encode → decode → aHash is a pure per-partition chain; the single
    // wide op groups the 64-bit signature. An Exchange NOT keyed by the
    // hash would mean image bytes on the wire (the q22
    // fingerprint-shuffle discipline, applied to media).
    val p = plan("q164_ahash_dedup")
    val exchanges = p.linesIterator.filter(_.contains("Exchange")).toSeq
    assert(exchanges.nonEmpty, "expected the phash groupBy exchange")
    assert(exchanges.forall(_.contains("phash")),
      s"non-metadata shuffle in q164:\n${exchanges.mkString("\n")}")
  }

  test("q107: rerank scores through the native cosine expression, probe side broadcast") {
    val p = plan("q107_matryoshka_rerank")
    assert(p.contains("cosine_similarity"), "native CosineSimilarity missing from q107")
    assert(p.contains("BroadcastNestedLoopJoin"),
      "q107 stage 1 should broadcast the probe side, never shuffle the corpus")
  }

  test("q109: stage-1 scoring join is keyed by the IVF cell (no full-corpus scoring)") {
    // The scale-true composition: prefix scoring must run only within
    // probed cells — a hash join keyed by cell. q107's full-corpus
    // BroadcastNestedLoopJoin shape appearing on the SCORING path would
    // mean the blocking silently fell away. (The bounded 8-cell centroid
    // mount is itself a broadcast nested-loop crossJoin — that one
    // carries no join condition on vec_id, so the scoring join is
    // identified by its cell key.)
    val p = plan("q109_matryoshka_ivf")
    assert(p.contains("cosine_similarity"), "native CosineSimilarity missing from q109")
    assert(p.linesIterator.exists(l =>
      l.contains("BroadcastHashJoin") && l.contains("cell")),
      s"stage-1 scoring join not keyed by cell: ${p.take(3000)}")
  }

  test("q111: ADC scoring join is keyed by the IVF cell, codes join back for rerank") {
    // same discipline as q109: the ADC scan must run only within probed
    // cells (hash join on cell); the full-precision vectors reappear
    // only through the candidate-sized rerank join
    val p = plan("q111_ann_ivf_pq")
    assert(p.linesIterator.exists(l =>
      l.contains("BroadcastHashJoin") && l.contains("cell")),
      s"ADC scoring join not keyed by cell: ${p.take(3000)}")
    assert(p.contains("cosine_similarity"), "exact rerank missing the native cosine")
  }

  test("q112: vocabulary join-back carries no forced broadcast hint (q46 discipline)") {
    // the encoded-word relation is vocabulary-sized — it grows with the
    // corpus, so a forced broadcast is the 100 TB OOM class; AQE may
    // still choose one at runtime
    val analyzed = SparkEntry.queries("q112_bpe_encode")(spark, d)
      .queryExecution.analyzed.toString
    assert(!analyzed.contains("ResolvedHint"), "q112 carries a broadcast hint")
  }

  test("q113: BM25 top-k is the bounded aggregator, never a window over scored postings") {
    // a window rank here would shuffle every scored posting row; the
    // TopKAggregator shuffles 10 rows per query × task — the answer,
    // not the corpus
    val p = plan("q113_bm25")
    assert(!p.contains("Window"), s"window rank in q113: ${p.take(2000)}")
    assert(p.contains("TakeOrderedAndProject"),
      "query-gram selection should compile to TakeOrderedAndProject (orderBy+limit)")
  }

  test("q117: pair search is the per-cell block loop, never a corpus-level join") {
    // the only nested-loop shape allowed is the bounded 1-row centroid
    // mount — it appears once per `assigned` subtree (the block-loop
    // input and the survivor projection), hence ≤ 2; the quadratic pair
    // work must run inside the typed flatMapGroups after one exchange on
    // the cell id — any further NL join would mean the blocking fell
    // away and the corpus is self-joining
    val p = plan("q117_semdedup")
    assert(p.contains("MapGroups"), "q117 lost its flatMapGroups block loop")
    val nlJoins = p.linesIterator.count(_.contains("BroadcastNestedLoopJoin"))
    assert(nlJoins <= 2, s"q117 has $nlJoins NL joins (only centroid mounts are allowed)")
  }

  test("q118: iterations mount the STORED co-occurrence graph, never the corpus") {
    // the chained PageRank plan mounts the edge relation once per
    // iteration; since r15 that relation is the textrank_graph artifact
    // (left lazy, the tokenize → bigram-explode → two-shuffle build
    // re-executed per iteration even under AQE exchange reuse — the
    // q330/q316 unrolled-recursion hazard), so the executed plan must
    // scan the stored graph and never re-derive it from documents
    val df = SparkEntry.queries("q118_textrank")(spark, d)
    df.collect()
    val finalPlan = df.queryExecution.executedPlan.toString
    assert(finalPlan.contains("isFinalPlan=true"), finalPlan.take(500))
    assert(finalPlan.contains("textrank_graph"),
      "edge relation should come from the stored textrank_graph artifact")
    assert(!finalPlan.contains("documents.parquet"),
      "an iteration re-derived the co-occurrence graph from the corpus")
  }

  test("q119: query-term selection is bounded top-k; postings prune via broadcast") {
    // the 3-row query table must compile to TakeOrderedAndProject (never
    // a global window over the bigram table) and reach the postings
    // relation as a broadcast, so only query-term postings are ever
    // materialized doc-side
    val p = plan("q119_phrase_search")
    assert(!p.contains("Window"), s"window rank in q119: ${p.take(2000)}")
    assert(p.contains("TakeOrderedAndProject"),
      "query selection should compile to TakeOrderedAndProject (orderBy+limit)")
    assert(p.contains("BroadcastHashJoin"),
      "query table should broadcast against the postings relation")
  }

  test("q132: RAG chunking is a pure narrow transform (no shuffle at all)") {
    // window arithmetic + explode + fingerprint — an Exchange here means
    // chunking is shuffling the corpus it only needs to map over
    assert(!plan("q132_rag_chunks").contains("Exchange"), "q132 shuffles")
  }

  test("q123: URL canonicalization shuffles only the canonical-key aggregation") {
    // the regex chain is narrow; the ONLY exchanges allowed are the
    // group-by-canon aggregation and its join-back
    val p = plan("q123_url_canon")
    assert(!p.contains("Window"), "q123 grew a window")
    assert(!p.contains("CartesianProduct"))
  }

  test("q124: the gram-owner relation carries no forced broadcast hint") {
    // gram owners are corpus-growing — a forced broadcast is the 100 TB
    // OOM class (q46/q112 discipline). q121 is NOT gated here: its only
    // hint is the bounded 1-row max mount (the centroid-mount class).
    val analyzed = SparkEntry.queries("q124_novelty")(spark, d)
      .queryExecution.analyzed.toString
    assert(!analyzed.contains("ResolvedHint"), "q124 carries a broadcast hint")
  }

  test("q139/q140: behavior analytics never grow a window over event history") {
    // the funnel is min-after-join per stage and the retention matrix is
    // two aggregations — a Window here means some stage sorts each
    // user's full event stream
    assert(!plan("q139_funnel").contains("Window"), "q139 grew a window")
    assert(!plan("q140_cohort_retention").contains("Window"), "q140 grew a window")
  }

  test("q142/q144/q146: corpus-growing relations carry no forced broadcast hint") {
    // triangle wedges, deletion variants, and staged fact tables all grow
    // with the corpus — a forced broadcast is the 100 TB OOM class; the
    // best-match/keeper logic must stay aggregation-shaped (no Window)
    for (q <- Seq("q142_triangle_census", "q144_fuzzy_match", "q146_constraint_audit")) {
      val analyzed = SparkEntry.queries(q)(spark, d).queryExecution.analyzed.toString
      assert(!analyzed.contains("ResolvedHint"), s"$q carries a broadcast hint")
      assert(!plan(q).contains("Window"), s"$q grew a window")
    }
  }

  test("q151: prefix join carries no broadcast hint; keeper logic stays windowless") {
    // the prefix relation and the array table both grow with the corpus
    val analyzed = SparkEntry.queries("q151_prefix_sim_join")(spark, d)
      .queryExecution.analyzed.toString
    assert(!analyzed.contains("ResolvedHint"), "q151 carries a broadcast hint")
    assert(!plan("q151_prefix_sim_join").contains("Window"), "q151 grew a window")
  }

  test("q148/q152: matrix and CI aggregations stay aggregation-shaped") {
    // q148's only window is the per-user lead; the from_type totals must
    // come from aggregation + join, never a window over the type key.
    // (The lead window PRINTS twice — `trans` feeds both the counts and
    // the totals subtree — so gate the partition key, not the count.)
    // q152's CI bounds sort 32 values inside an array, not a window.
    val win148 = plan("q148_event_transitions").linesIterator
      .filter(_.contains("Window [")).toSeq
    assert(win148.nonEmpty, "q148 lost its per-user lead window")
    win148.foreach { l =>
      assert(l.contains("user_id"), s"q148 window not keyed by user: $l")
    }
    assert(!plan("q152_bootstrap_ci").contains("Window"), "q152 grew a window")
  }

  test("q153: global prefix-sum never plans a partitionless window") {
    // the scan is the two-phase range-repartition + offset form (q98's
    // discipline); a `sum OVER (ORDER BY …)` rewrite would put the whole
    // corpus in one window partition
    assert(!plan("q153_token_budget").contains("Window"), "q153 grew a window")
  }

  test("q160: ECDF binning joins bounded edges — no global window") {
    assert(!plan("q160_ecdf_bins").contains("Window"), "q160 grew a window")
  }

  test("q161: star-join pushes the date and region cuts into the scans") {
    val p = plan("q161_star_revenue")
    assert(p.contains("PushedFilters: [IsNotNull(o_orderdate), GreaterThanOrEqual(o_orderdate")
      || p.contains("GreaterThanOrEqual(o_orderdate"), p)
    assert(p.contains("EqualTo(r_name,ASIA)"), p)
  }

  test("q154: DSv2 pushdown narrows the source range; score is pruned") {
    val p = plan("q154_docgen_source")
    assert(p.contains("DocGenScan range=[25000,50000)"), p)
    assert(p.contains("cols=[id,lang,tokens]"), p)
  }

  test("q178: variant path access, never string JSON re-parse") {
    val p = plan("q178_variant_extract")
    assert(p.contains("variant_get"), p.take(1500))
    assert(!p.contains("get_json_object"),
      "string JSON re-parse crept into the variant path")
  }

  test("AQE coalesces undersized shuffle partitions at runtime") {
    // the other AQE leg (q201 gates the skew SPLIT): 32 configured
    // shuffle partitions over tiny data must collapse into few real
    // post-shuffle partitions — at 100 TB the same mechanism right-sizes
    // every stage to the data that actually arrived, not the static conf
    val df = SparkEntry.queries("q03_group_agg")(spark, d)
    df.collect()
    val p = df.queryExecution.executedPlan.toString
    assert(p.contains("AQEShuffleRead") && p.contains("coalesced"),
      s"no runtime partition coalescing in final plan: ${p.take(1500)}")
  }

  test("q229: bottom-k sample plans a WindowGroupLimit (q11's pushdown)") {
    val p = plan("q229_consistent_sample")
    assert(p.contains("WindowGroupLimit"),
      s"sample shuffles the corpus instead of O(sources·k): ${p.take(1500)}")
  }

  test("q213/q216: regression and bitmask aggregates combine map-side (partial)") {
    // both families are algebraic — the shuffle must carry per-group
    // moments / masks, never rows
    for (q <- Seq("q213_regr_trend", "q216_bit_masks")) {
      val p = plan(q)
      assert(p.contains("HashAggregate") && p.toLowerCase.contains("partial"),
        s"$q lost its two-phase aggregate: ${p.take(1200)}")
    }
  }

  test("q215: skyline is the sort-based plan — window over distinct prices, no n² join") {
    val p = plan("q215_skyline")
    assert(p.contains("Window"), p.take(1200))
    assert(!p.contains("NestedLoop") && !p.contains("CartesianProduct"),
      s"skyline regressed to a dominance product: ${p.take(1200)}")
  }

  test("q218: grid radius join broadcasts the replicated small side (no big-side shuffle)") {
    val p = plan("q218_grid_radius_join")
    assert(p.contains("BroadcastHashJoin"), p.take(1500))
    assert(!p.contains("SortMergeJoin"),
      s"radius join shuffled the big side: ${p.take(1500)}")
  }

  test("q247: nullable NOT IN plans the null-aware anti join, not a nested loop") {
    // q247's scaladoc claims the nullable NOT IN "forces a
    // BroadcastNestedLoopJoin" — that is the UNOPTIMIZED story. With a
    // single key column and a broadcastable subquery, Spark's
    // optimizeNullAwareAntiJoin (default on) plans a
    // BroadcastHashJoin(LeftAnti, isNullAware=true) instead: hash-join
    // cost for three-valued-logic semantics. The flag is the trailing
    // boolean in the plan line; the semantics stay q247's (empty
    // result under a poisoned NULL).
    val s = TestSpark.spark
    Tables.orders(s, TestSpark.Sf0001).createOrReplaceTempView("naaj_orders")
    Tables.customer(s, TestSpark.Sf0001).createOrReplaceTempView("naaj_customer")
    val df = s.sql(
      """SELECT count(*) AS n FROM naaj_orders
         WHERE o_custkey NOT IN
           (SELECT CASE WHEN c_custkey % 10 = 0 THEN NULL ELSE c_custkey END
            FROM naaj_customer WHERE c_mktsegment = 'BUILDING')""")
    val p = df.queryExecution.executedPlan.toString
    assert(p.contains("BroadcastHashJoin") && p.contains("LeftAnti"),
      s"nullable NOT IN did not plan the null-aware hash anti join:\n${p.take(1500)}")
    assert(!p.contains("BroadcastNestedLoopJoin"),
      s"nullable NOT IN fell back to the nested loop:\n${p.take(1500)}")
    assert(df.head().getLong(0) === 0L,
      "three-valued logic broke: poisoned NOT IN must be empty")
  }

  test("q291: one exchange, window keyed by user, aggregator evaluated in-frame") {
    // the windowed-UDAF cell must not cost more than the window itself:
    // one hash exchange on user_id, the sort satisfying the window, and
    // the TopKAggregator INSIDE the Window operator (no second shuffle,
    // no join back, no collect_list materialization of histories)
    val p = plan("q291_running_topk")
    assert(p.sliding("Exchange".length).count(_ == "Exchange") == 1,
      s"q291 grew extra exchanges: ${p.take(1200)}")
    val win = p.linesIterator.find(_.contains("Window [")).getOrElse("")
    assert(win.contains("topkaggregator") && win.contains("user_id"),
      s"q291 window lost the typed aggregator or the user key: $win")
    assert(!p.contains("collect_list"), "q291 materializes full histories")
  }

  test("q152/q290: typed and sketch aggregates combine map-side (partial)") {
    // the single-pass shapes: q152's 32-slot bootstrap buffer and
    // q290's frequent-items sketch must both partial-aggregate before
    // their exchange — the map-side-combine property that keeps the
    // shuffle at buffer-size × tasks instead of corpus-size
    assert(plan("q152_bootstrap_ci").contains("partial_bootstrapmeansaggregator"),
      "q152 lost map-side partial aggregation")
    val p290 = plan("q290_approx_top_k")
    assert(p290.contains("partial_approx_top_k"),
      "q290 lost the map-side partial sketch")
    assert(p290.contains("TakeOrderedAndProject"),
      "q290 rank cut is not the top-k operator")
  }

  private def fileScans(name: String): Seq[String] =
    plan(name).linesIterator.filter(_.contains("FileScan")).toSeq

  for ((name, kind, store) <- Seq(
      ("q258_bitmap_distinct_store", "bitmap", "bitmap_day_store"),
      ("q292_topk_sketch_store", "top-k", "topk_day_store"),
      ("q295_rolling_distinct", "bitmap", "bitmap_roll_store"))) {
    test(s"${name.take(4)}: the serving plan reads only the $kind store, never events") {
      // store-pattern contract: events are read ONCE at store build; the
      // registered query's returned plan (the range service) must scan
      // only the materialized per-day summaries
      val scans = fileScans(name)
      assert(scans.nonEmpty)
      scans.foreach(l => assert(l.contains(store), s"$name serve path rescans: $l"))
    }
  }

  test("q173/q181: the exact audit scans events once for all three ranges") {
    for (name <- Seq("q173_hll_sketch_store", "q181_quantile_sketch_store")) {
      val events = fileScans(name).filter(_.contains("events.parquet"))
      assert(events.size === 1,
        s"$name scans events ${events.size} times:\n${events.mkString("\n")}")
    }
  }

  test("round-13 additions keep their scale shapes") {
    // q325/q327/q328/q329 are one-or-two-aggregate scans: a Window
    // appearing would mean a per-row frame snuck into what must stay
    // map-side-combined aggregation
    for (q <- Seq("q325_purged_cv_folds", "q327_did_estimator",
        "q328_cuped", "q329_dow_seasonality")) {
      assert(!plan(q).contains("Window"), s"$q grew a window frame")
    }
    // q326's top-10 must be the top-k operator, not a global sort
    assert(plan("q326_session_paths").contains("TakeOrderedAndProject"),
      "q326 path cut is not the top-k operator")
    // q330/q331: the CORPUS side must only ever meet a broadcast —
    // candidate generation is the q27 broadcast-probe NL join. The
    // registered q330 materializes the candidates once (its returned
    // plan is local relations), so the gate targets the BUILD pipeline.
    assert(graft.queries.Similarity.mmrCandidates(spark, d)
        .queryExecution.executedPlan.toString.contains("BroadcastNestedLoopJoin"),
      "q330 lost the broadcast-probe candidate scan")
    assert(!plan("q331_centroid_classifier").contains("SortMergeJoin"),
      "q331 shuffled the corpus into a join")
  }

  test("no query plan contains a CartesianProduct except intended NL joins") {
    // q27/q28 broadcast the tiny probe side on a non-equi condition —
    // BroadcastNestedLoopJoin is the intended strategy there; anything
    // else appearing as a cartesian is a regression.
    val allowed = Set("q27_cosine_topk", "q28_ann_lsh", "q46_tfidf")
    for (q <- SparkEntry.queries.keys if !allowed(q) && !q.startsWith("q37")) {
      assert(!plan(q).contains("CartesianProduct"), s"cartesian in $q")
    }
  }
}
