package graft

import org.scalatest.funsuite.AnyFunSuite

/** Registry-wide scale-anti-pattern audit: every lazily-planned registered
  * query is physical-planned at sf0.001 and checked for the three patterns
  * that kill 100 TB runs — CartesianProduct, BroadcastNestedLoopJoin, and
  * a window over SinglePartition — with an explicit allowlist for the
  * sites where the pattern is deliberate and bounded. New queries get this
  * audit for free; an unlisted violation fails the suite with the query
  * name.
  */
class PlanHygieneSpec extends AnyFunSuite {

  private lazy val spark = SparkSuite.spark
  private val dir = "/root/testdata/sf0.001"

  /** Queries whose construction EXECUTES work (streams, sink writes,
    * driver fixed-point loops, collected centroids/recall baselines) —
    * too costly to rebuild here; their plan shape is pinned by their own
    * specs (CurationSpec scan-count, StreamingSpec, dev PlanProbe).
    */
  private val eager = Set(
    "stream_curation", "stream_dedup", "stream_decontam", "stream_neardup",
    "stream_ccingest", "stream_state_gate", "stream_index_append",
    "stream_snapshot_ingest",
    // trains + collects the NB model and runs the stream at construction
    "stream_classify",
    // trains the CG ridge model and runs the stream at construction
    "stream_classify_lr",
    // Materializes the tx embedding table at construction (both recall
    // branches consume it)
    "m3tb_recall", "m3tb_gate",
    // dd12 Materializes its gram table (keeper aggregate + hit join);
    // cur2 Materializes the raw feature stream and the keyed weights;
    // dc5 counts the benchmark (id-space contract) at construction;
    // dd13 Materializes the tx embedding table before centering
    "dd12_span_self_dedup", "cur2_dsir", "cur3_excess_loss",
    "dc5_semantic_decontam",
    "dd13_text_semantic_pairs", "dd13_gate", "ss10_centered_topk",
    // dd13b Materializes the tx embedding table and trains k-means at
    // construction (the cl2 shape); dd13c the same with ANN-assisted
    // assignment; the dd13r/dd6c router additionally runs the pair-mass
    // probe (count + driver sample) at construction
    "dd13b_text_semdedup", "dd13b_gate",
    "dd13c_text_semdedup_ann", "dd13c_gate",
    "dd13r_text_semdedup_routed", "dd13r_gate",
    "dd6c_embedding_pairs_routed", "dd6c_containment", "dd6c_recall",
    "dd6c_gate",
    // cls1 runs the CG trainer (Materialize + 2 aggregation jobs per
    // iteration) at construction — the dd13b shape
    "cls1_cg_weights", "cls1_cg_scores", "cls1_cg_eval",
    "pipe_curation_trained",
    // s13 collects the key-range profile (one min/max agg) at construction
    "s13_zorder_stats",
    "s4_sink_roundtrip", "s5_report_sink", "s12_manifest_publish",
    "s14_snapshot_publish",
    "s9_sharded_export",
    "s10_partitioned_export",
    "s1_textdir_scan", "s1b_jsonl_scan", "pipe_curation", "pipe_curation_incr",
    "pipe_curation_incr_lsh", "pipe_curation_funnel",
    "dd7_components", "dd8b_dedup_best", "pk1_pack", "pk1b_packed_spans",
    // sp4 runs connectedComponents' small-graph probe (edges.count +
    // driver union-find) at construction, like dd7
    "sp4_component_split",
    // ss11/ev9/ev10 Materialize (checkpoint) their shared inputs at
    // construction; ss11's broadcast crossJoin lives inside the
    // checkpointed bruteForceTopK subtree (the ss1 shape, spec-pinned)
    "ss11_mmr_topk", "ev9_funnel", "ev10_retention",
    "sh1_shuffle",
    "pipe_mapreduce", "pipe_critique", "ss3_ivf_topk", "ss3_recall",
    "ss2_recall", "dd6b_recall",
    // the pair-based evals build (and cache) the mapreduce strategy's
    // gen/ref pairs at construction; its collapse loop runs count jobs
    "eval_pair_metrics", "eval_summary_stats",
    "eval_judge_scores", "eval_judge_stats",
    // k-means trains (collects centroids) at construction; plan shape
    // pinned by ClusteringSpec, recall floor by RecallSpec
    "cl1_cluster_sizes", "cl2_semdedup_pairs", "cl3_semdedup_recall",
    // PQ trains codebooks + builds query tables at construction; plan
    // shape (broadcast code scan + shortlist rerank) pinned by PqSpec
    "qz4_pq_topk", "qz4_recall",
    // IVF-PQ trains BOTH models (coarse cells + residual codebooks) at
    // construction; plan shape pinned by PqSpec's IVF-PQ cases
    "ss8_ivfpq_topk", "ss8_recall", "ss8_gate",
    // containment audits build on the guarded exact cartesian (the
    // dd6b_recall/cl3 shape: count() guard at construction)
    "cl2_containment", "dd6b_containment", "cl4_containment",
    // recall gates wrap the eager recall queries above
    "ss2_gate", "ss3_gate", "qz4_gate", "dd6b_gate", "cl3_gate", "cl1_gate",
    // BPE training runs its merge loop (per-round argmax collect) at
    // construction; plan shape pinned by BpeTrainSpec
    "bt1_bpe_train", "bt2_bpe_encode", "bt3_bpe_vocab",
    // ev6 runs a streaming query at construction (StreamingSpec pins the
    // join); ta15's MG candidate pass collects one row at construction
    // (its second pass is the bounded-bucket hash-agg by construction);
    // ss7 builds + persists the IVF index and counts the diff;
    // pipe_ccnet Materializes its gated subtree (the pipe_curation
    // persisted-gate discipline — kills the 3x lang-lambda recompute)
    "ev6_stream_join", "ta15_heavy_hitters", "ss7_index_roundtrip",
    "ss7b_index_append", "pipe_ccnet",
    // pipe_training_mix Materializes its gated+domain table (the
    // pipe_ccnet discipline — temperatureMixture's three branches
    // otherwise re-run the dd10+gate chain each)
    "pipe_training_mix",
    // power iterations materialize per round (the dd7 rule); shape
    // pinned by GraphSpec
    "gr1_pagerank",
    // ta17b materializes its scored table at construction (the LM feeds
    // both the cut learner and the bucket pass — the pipe_ccnet
    // discipline); its one-row totals broadcast is ta16's sanctioned BNLJ
    "ta17b_ppl_buckets_sampled", "ta17b_gate",
    // mm6 materializes its rendered-PNG table at construction (both
    // decode branches reference it — render once, not per branch);
    // mm8 collects the ≤16-row distinct master list at construction;
    // ev7c's router measures the hottest key's share at construction
    "mm6_codec_roundtrip", "mm8_media_neardup",
    "ev7c_session_window_routed",
    // s13d/s13e/s13f/s17 write+measure physical layouts at construction
    // and return a driver-local gate row — there is no lazy plan to
    // audit (their scan shapes are footer-ranges hash-aggs and filtered
    // scans per layout, driver-verified by their oracles at both SFs)
    "s13d_layout_skipping", "s13e_stats_pruned_scan",
    "s13f_optimize_recluster", "s13g_typed_pruning",
    "s13h_bloom_pruning",
    "s17_stats_compaction", "s18_snapshot_pruned_read",
    "s19_optimize_versioned", "s20_cdc_versioned_stats",
    "s21_schema_evolution", "s22_version_diff", "s23_retention",
    "s24_optimistic_merge", "s25_cdc_ingest", "s26_compact_versioned",
    // pipe_curation_snap commits its snapshot + stats at construction
    // and returns a Materialize-truncated frame (the scratch root is
    // reclaimed before return) — no lazy plan to audit
    "pipe_curation_snap", "pipe_curation_snap_lsh")

  /** Deliberate, bounded cartesians: the guarded exact all-pairs baseline
    * (dd6; maxRows-required) and broadcast-scalar / broadcast-query-set
    * cross joins (one-row totals, tiny query sides) that Spark plans as
    * BroadcastNestedLoopJoin by construction.
    */
  private val allowCartesian = Set("dd6_embedding_pairs", "ss1_cosine_topk",
    "ss9_hard_negatives", // ss1's broadcast-query scan + label filter
    "ss2_lsh_topk", "qz2_topk_quant", "qz3_recall",
    // qz5 is ss1's broadcast-query scan on the sliced column; qz6 the
    // same scan over packed sign words
    "qz5_matryoshka_topk", "qz5_recall", "qz6_sign_topk", "qz6_recall",
    "qz6b_sign_rerank", "qz6b_recall",
    "ss6_hybrid_rrf") // contains ss1's broadcast-query scan
  private val allowBnlj = Set("g7_histogram", "ss1_cosine_topk",
    "ss9_hard_negatives",
    // ss13's lazy plan: the ~entry-row seed broadcast crossJoined onto
    // the query ids (bounded by the operating point), plus — for the
    // recall/gate forms — the exact baseline's ss1-shape broadcast scan
    "ss13_recall", "ss13_gate",
    // ss14: stage 1 is bruteForceTopK's broadcast-query scan (the ss1
    // shape); the gate additionally crossJoins its one-row determinism
    // aggregate onto the one-row invariant aggregate
    "ss14_rerank_cross", "ss14_gate",
    // ss10 = the one-row mean-vector broadcast (centering) + ss1's
    // broadcast-query scan over the centered table
    "ss10_centered_topk",
    // s16 family: tableStats crossJoins its TWO one-row aggregate frames
    // (the NDV pass hash-aggregates, min/max runs separately so string
    // buffers don't drag the Expanded table into SortAggregate — r14
    // optimization); a 1-row x 1-row BNLJ by construction
    "s16_table_stats", "s16b_stats_gate", "s16c_stats_incremental",
    "ss2_lsh_topk", "dd6_embedding_pairs", "qz2_topk_quant", "qz3_recall",
    "ta11_logprob",
    // one-row corpus-stats scalar broadcast (the ta11 shape)
    "ss4_tfidf_pairs", "ss5_bm25_topk", "ss6_hybrid_rrf",
    // one-row totals/approx-percentile scalar broadcasts (ta11 shape)
    "ta16_bigram_logprob", "ta12b_length_approx",
    // ta17 inherits ta16's totals broadcast; mx3's ndom + water-level
    // scalars are one-row crossJoins onto the |domains|-row table
    "ta17_ppl_buckets", "mx3_unimax",
    "qz5_matryoshka_topk", "qz5_recall", "qz6_sign_topk", "qz6_recall",
    "qz6b_sign_rerank", "qz6b_recall",
    // one-row (ntot, z) mixture-totals broadcast onto the domain table
    "mx2_temperature",
    // two one-row planted-scalar broadcasts (r_rep, r_prose) onto the
    // one-row corpus aggregate
    "ta10_gate",
    // dc5 broadcasts the maxBench-required eval suite over the corpus
    // scan (the declared contract); ta18/cur2 broadcast metadata-scale
    // model tables (C x V grid, bucket log-ratios) and one-row totals;
    // the tx retrieval family is ss1's broadcast-query scan over
    // transformer embeddings (m3tb_recall/gate contain the same scan)
    "dc5_semantic_decontam", "ta18_nb_classifier", "cur2_dsir",
    "m3t_semantic_tx", "m3tb_recall", "m3tb_gate",
    // ta20 crossJoins the ≤buckets-row corpus profile and the one-row
    // token total onto the |shards|-row table (metadata-scale grid)
    "ta20_shard_drift")

  /** Bounded unpartitioned windows: sp3 ranks AFTER `limit(n)` — the
    * window input is the n-row sample; mx3's waterfall window runs on the
    * |domains|-row aggregate. Both metadata-scale by construction.
    */
  private val allowGlobalWindow = Set("sp3_fixed_sample", "mx3_unimax")

  /** Plans where a lambda-bearing Filter is the CURATION GATE predicate:
    * Catalyst pushes the gate's filter through the quality/lang-ID
    * projections, substituting their (stopword-count lambda) expressions
    * into the condition. That recompute is bounded (~2x one scan's
    * tokenization — the gate IS the query) — unlike the dd11 case this
    * audit exists for, where an inferred size()-filter re-evaluated a
    * whole nested-HOF chunking chain per row.
    */
  // (pipe_training_mix carried the only entry here until r15 made it
  // construction-eager — the set stays for the next gate-pushed lambda)
  private val allowFilterLambda = Set.empty[String]

  test("no unlisted cartesian / nested-loop join / global window in any lazy plan") {
    val names = SparkEntry.queries.keySet -- eager
    val violations = names.toSeq.sorted.flatMap { name =>
      // sparkPlan (pre-AQE) — structural audit, nothing executes
      val plan = SparkEntry.queries(name)(spark, dir).queryExecution.sparkPlan
      val s = plan.toString
      val globalWindow = plan.collect {
        case w: org.apache.spark.sql.execution.window.WindowExec
          if w.partitionSpec.isEmpty => w
      }.nonEmpty
      // InferFiltersFromGenerate can substitute a generator's FULL input
      // expression into a size(...)>0 pre-filter; with nested HOFs that
      // filter evaluates interpreted per row (dd11 measured 33.6 s -> 1.3 s
      // at sf0.1). Flag any Filter whose condition inlines a giant lambda
      // expression — fix is posexplode_outer or exploding a pre-projected
      // column.
      val monsterFilter = plan.collect {
        case f: org.apache.spark.sql.execution.FilterExec
          if f.condition.toString.contains("lambdafunction") &&
            f.condition.toString.length > 4000 => f
      }.nonEmpty
      Seq(
        Option.when(s.contains("CartesianProduct") &&
          !allowCartesian(name))(s"$name: CartesianProduct"),
        Option.when(s.contains("BroadcastNestedLoopJoin") &&
          !allowBnlj(name))(s"$name: BroadcastNestedLoopJoin"),
        Option.when(globalWindow && !allowGlobalWindow(name))(
          s"$name: window with empty partitionSpec"),
        Option.when(monsterFilter && !allowFilterLambda(name))(
          s"$name: interpreted monster filter (inferred from Generate?)")
      ).flatten
    }
    assert(violations.isEmpty, violations.mkString("; "))
  }
}
