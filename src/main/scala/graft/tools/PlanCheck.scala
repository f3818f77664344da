package graft.tools

import graft.{GraftSession, SparkEntry}
import org.apache.spark.sql.execution.SparkPlan

/** Plan-quality audit (dev tool): for key queries, print the formatted
  * physical plan and assert the properties that matter at 100 TB —
  * parquet filter pushdown, column pruning (ReadSchema), broadcast joins
  * for dimension tables, whole-stage codegen coverage.
  */
object PlanCheck {

  private case class Check(
      name: String,
      mustContain: Seq[String] = Seq.empty,
      mustNotContain: Seq[String] = Seq.empty)

  private val checks = Seq(
    // filter + projection pushed into the parquet scan
    Check(
      "q_scan_filter_project_slice",
      // "*(1)" = whole-stage-codegen stage marker; TakeOrderedAndProject =
      // offset+limit folded into a top-k, no global sort
      mustContain = Seq("PushedFilters: [IsNotNull(l_quantity)", "*(1)", "TakeOrderedAndProject")),
    // DataSourceV2 IPC read: Catalyst pushed the doc_id range and the
    // pruned column set INTO the BatchScan (r18 - the spark.read
    // composition path; byte-equality with the native API is asserted in
    // ArrowDsv2Spec, value-equality by the gate's oracle)
    Check(
      "q_arrow_dsv2",
      mustContain = Seq("BatchScan arrowipc",
        "GreaterThanOrEqual(doc_id,100)", "LessThan(doc_id,300)",
        "ReadSchema: struct<doc_id:bigint,lang:string,n_chars:bigint>")),
    // the DSv2-WRITTEN store reads back through the same pushed-down
    // BatchScan shape (late r18 - write path gate)
    Check(
      "q_arrow_dsv2_write",
      mustContain = Seq("BatchScan arrowipc",
        "GreaterThanOrEqual(doc_id,100)", "LessThan(doc_id,300)")),
    // broadcast chosen for the small dim side
    Check("q_join_broadcast", mustContain = Seq("BroadcastHashJoin")),
    Check("q_join_multi", mustContain = Seq("BroadcastHashJoin")),
    Check("q_semi_join", mustContain = Seq("Semi")),
    Check("q_anti_join", mustContain = Seq("Anti")),
    // top-k compiles to TakeOrdered, not a global sort
    Check("q_sort_topk", mustContain = Seq("TakeOrderedAndProject")),
    // partial aggregation before the exchange
    Check("q1_agg", mustContain = Seq("partial_sum", "HashAggregate")),
    Check("q_range_join", mustContain = Seq("BroadcastNestedLoopJoin")),
    Check("q_dedup_exact", mustContain = Seq("partial_min_by")),
    // the bucketed rewrite must turn the range join into an EQUI join
    Check(
      "q_range_join_bucketed",
      mustContain = Seq("HashJoin"),
      mustNotContain = Seq("BroadcastNestedLoopJoin", "CartesianProduct")),
    // eval-side span set broadcast; training spans never shuffle for the join
    Check("q_decontaminate", mustContain = Seq("BroadcastHashJoin")),
    // Bloom path: the codegen'd might_contain must sit scan-side (corpus
    // spans filtered BEFORE any exchange); the verification join then only
    // sees Bloom survivors
    Check("q_decontaminate_bloom", mustContain = Seq("might_contain")),
    // positional zip: offset table broadcast onto the narrow data path
    Check("q_append_position", mustContain = Seq("BroadcastHashJoin")),
    // full-outer snapshot diff is a shuffled merge join, single pass per side
    Check("q_snapshot_diff", mustContain = Seq("FullOuter")),
    // split/sample stay narrow until the final count aggregation
    Check("q_train_test_split", mustContain = Seq("partial_count", "HashAggregate")),
    Check("q_histogram", mustContain = Seq("partial_count")),
    // repetition signals are fused per-row expressions: no aggregation, no
    // join anywhere in the plan (the only exchange is the final order-by)
    Check(
      "q_repetition",
      mustNotContain = Seq("HashAggregate", "Join", "hashpartitioning")),
    // vocabulary counting combines map-side before the exchange
    Check("q_vocab", mustContain = Seq("partial_count", "HashAggregate")),
    // upsert = anti join (target side) + union with the source batch
    Check("q_merge_upsert", mustContain = Seq("Anti", "Union")),
    // changelog apply: window compaction over the changelog + anti join;
    // WindowGroupLimit = Spark pushed the rn=1 filter into a partial
    // group-limit BEFORE the exchange (only each partition's newest change
    // per key shuffles)
    Check("q_changelog_apply", mustContain = Seq("WindowGroupLimit", "Anti")),
    // vocab / LM model sides must broadcast (small artifacts by design)
    Check("q_oov_rate", mustContain = Seq("BroadcastHashJoin")),
    Check("q_perplexity", mustContain = Seq("BroadcastHashJoin")),
    // per-domain quota: rank filter pushed to a partial group-limit
    Check("q_domain_cap", mustContain = Seq("WindowGroupLimit")),
    // ANN / text-KNN top-k: the rank<=k filter must compile to a partial
    // WindowGroupLimit (each partition forwards only its k best rows per
    // query BEFORE the exchange) — the pushdown the 100 TB top-k story
    // depends on; guarded here against regression
    Check("q_text_knn", mustContain = Seq("WindowGroupLimit")),
    Check("q_ann_bruteforce", mustContain = Seq("WindowGroupLimit")),
    Check("q_ann_ivf", mustContain = Seq("WindowGroupLimit")),
    Check("q_ann_sketch", mustContain = Seq("WindowGroupLimit")),
    Check("q_ann_pq", mustContain = Seq("WindowGroupLimit")),
    Check("q_ann_pq_refined", mustContain = Seq("WindowGroupLimit")),
    Check("q_ann_ivfpq", mustContain = Seq("WindowGroupLimit")),
    // substring dedup: window counts combine map-side before the exchange;
    // the only joins are uniform-key hash joins on the dup window set
    Check(
      "q_substring_dedup",
      mustContain = Seq("partial_count", "HashAggregate"),
      mustNotContain = Seq("CartesianProduct", "BroadcastNestedLoopJoin")),
    // SemDeDup: the pair pass must be an equi-join on the cluster id
    // (the cluster bound IS the scale story) — never a cartesian
    Check(
      "q_semdedup",
      mustNotContain = Seq("CartesianProduct", "BroadcastNestedLoopJoin")),
    // DSIR: the dim-bounded λ table must broadcast to the scoring join
    Check("q_dsir_weights", mustContain = Seq("BroadcastHashJoin")),
    // BM25: vocabulary-sized IDF broadcasts; top-k compiles to a partial
    // group limit before the exchange
    Check("q_bm25", mustContain = Seq("BroadcastHashJoin", "WindowGroupLimit")),
    // the merged-index path must keep the same score-time shape
    Check("q_bm25_incremental", mustContain = Seq("BroadcastHashJoin", "WindowGroupLimit")),
    // hybrid fusion: BM25's broadcast IDF survives composition; the fused
    // top-k still partial-group-limits before the exchange
    Check("q_hybrid_retrieval", mustContain = Seq("BroadcastHashJoin", "WindowGroupLimit")),
    // eval ops ride the ANN top-k shape (vote/rank rn<=k pushed down)
    Check("q_knn_classify", mustContain = Seq("WindowGroupLimit")),
    Check("q_hard_negatives", mustContain = Seq("WindowGroupLimit")),
    // mixture: the driver-computed rate table must broadcast; the corpus
    // path stays narrow (no corpus shuffle before the summary agg)
    Check(
      "q_domain_mixture",
      mustContain = Seq("BroadcastHashJoin"),
      mustNotContain = Seq("CartesianProduct", "BroadcastNestedLoopJoin")),
    // recall eval: inverted-index equi joins only, never a cross product
    Check(
      "q_lsh_recall",
      mustContain = Seq("partial_count"),
      mustNotContain = Seq("CartesianProduct", "BroadcastNestedLoopJoin")),
    // bigram LM: both model tables broadcast to the scoring join
    Check("q_perplexity_bigram", mustContain = Seq("BroadcastHashJoin")),
    // curriculum: the per-(partition, epoch) offset table broadcasts onto
    // the narrow data path; the schedule join is a bounded BNLJ by design
    // but a cartesian anywhere is a bug
    Check(
      "q_curriculum",
      mustContain = Seq("BroadcastHashJoin"),
      mustNotContain = Seq("CartesianProduct")),
    // sharding: rank rides a range exchange of (id, weight) pairs; no
    // join of any kind belongs in this plan
    Check(
      "q_shard_assign",
      mustContain = Seq("rangepartitioning"),
      mustNotContain = Seq("CartesianProduct", "BroadcastNestedLoopJoin")),
    Check("q_shard_balance", mustContain = Seq("partial_count")),
    // epoch-frozen / upsampling mixture: rate table broadcasts, corpus
    // stays narrow — same contract as q_domain_mixture
    Check(
      "q_mixture_epoch",
      mustContain = Seq("BroadcastHashJoin"),
      mustNotContain = Seq("CartesianProduct", "BroadcastNestedLoopJoin")),
    Check(
      "q_mixture_upsample",
      mustContain = Seq("BroadcastHashJoin"),
      mustNotContain = Seq("CartesianProduct", "BroadcastNestedLoopJoin")),
    // eval-side contamination: eval spans broadcast; the corpus span
    // stream never shuffles for the match join
    Check("q_contamination_report", mustContain = Seq("BroadcastHashJoin")),
    // per-domain percentile: one window exchange on the source key, no
    // corpus re-join
    Check(
      "q_quality_percentile",
      mustContain = Seq("Window"),
      mustNotContain = Seq("CartesianProduct", "BroadcastNestedLoopJoin", "SortMergeJoin")),
    // chunk rewrite: keep-first winner agg must combine map-side (the
    // (id, idx) struct min); nothing in the rewrite may go cartesian
    Check(
      "q_dedup_rewrite",
      mustContain = Seq("partial_min"),
      mustNotContain = Seq("CartesianProduct", "BroadcastNestedLoopJoin")),
    // CDC rewrite shares the keep-first machinery: same assertions
    Check(
      "q_cdc_rewrite",
      mustContain = Seq("partial_min"),
      mustNotContain = Seq("CartesianProduct", "BroadcastNestedLoopJoin")),
    // boilerplate: the df aggregation must combine map-side too
    Check(
      "q_boilerplate_rewrite",
      mustContain = Seq("partial_count"),
      mustNotContain = Seq("CartesianProduct", "BroadcastNestedLoopJoin")),
    // token budget: the selection sort runs INSIDE the eager
    // localCheckpoint (invisible here — the visible plan starts at a
    // LogicalRDD scan), so the live assertion is about what runs after
    // it: the running sum must be a per-__pid Window with NO
    // single-partition exchange anywhere in the plan
    Check(
      "q_token_budget",
      mustContain = Seq("Window"),
      mustNotContain = Seq("CartesianProduct", "BroadcastNestedLoopJoin", "SinglePartition")),
    // packing efficiency: grouped offsets broadcast onto the per-partition
    // window; like q_token_budget, no single-partition exchange anywhere
    Check(
      "q_pack_efficiency",
      mustContain = Seq("Window", "BroadcastHashJoin"),
      mustNotContain = Seq("CartesianProduct", "BroadcastNestedLoopJoin", "SinglePartition")),
    // minhash near-dup gate (plan pinned by localCheckpoint — the
    // collapse shape is asserted un-pinned in the build checks below)
    Check(
      "q_dedup_minhash",
      mustNotContain = Seq("CartesianProduct", "BroadcastNestedLoopJoin")),
    // simhash / embedding near-dup: the fingerprint-/vector-group
    // collapse (partial_min groupBy) must survive — no checkpoint hides
    // these plans
    Check(
      "q_dedup_simhash",
      mustContain = Seq("partial_min"),
      mustNotContain = Seq("CartesianProduct", "BroadcastNestedLoopJoin")),
    Check(
      "q_dedup_embedding",
      mustContain = Seq("partial_min"),
      mustNotContain = Seq("CartesianProduct", "BroadcastNestedLoopJoin")),
    Check(
      "q_minhash_incremental",
      mustNotContain = Seq("CartesianProduct", "BroadcastNestedLoopJoin")),
    // link-graph gate: hop-count aggregation combines map-side over the
    // checkpointed BFS table (the per-iteration join shapes are asserted
    // by the build checks below — the checkpoint hides them here)
    Check(
      "q_link_score",
      mustContain = Seq("partial_sum"),
      mustNotContain = Seq("CartesianProduct", "BroadcastNestedLoopJoin", "SinglePartition")),
    // MP4 indexing is scan-local row work: no join, no aggregation; the
    // only exchange is the output order-by
    Check(
      "q_video_index",
      mustNotContain = Seq("Join", "HashAggregate", "CartesianProduct")),
    // fragmented-MP4 indexing has the identical scan-local shape
    Check(
      "q_video_index_frag",
      mustNotContain = Seq("Join", "HashAggregate", "CartesianProduct")),
    // WebM/EBML indexing: same scan-local contract as the MP4 lanes
    Check(
      "q_video_index_webm",
      mustNotContain = Seq("Join", "HashAggregate", "CartesianProduct")),
    // export manifest/pack: packSequences' running sum must keep the
    // token-budget shape — per-partition window, never a global one
    Check(
      "q_export_manifest",
      mustContain = Seq("Window"),
      mustNotContain = Seq("CartesianProduct", "BroadcastNestedLoopJoin", "SinglePartition")),
    Check(
      "q_export_pack",
      mustContain = Seq("Window"),
      mustNotContain = Seq("CartesianProduct", "BroadcastNestedLoopJoin", "SinglePartition")),
    // PII redaction is a pure narrow map: no join, no aggregate, no hash
    // exchange anywhere (the only exchange is the final order-by range)
    Check(
      "q_pii_redact",
      mustNotContain = Seq("HashAggregate", "Join", "hashpartitioning")),
    // blocklist filter: one AC scan + map-side-combined rollup, no join
    Check(
      "q_blocklist_filter",
      mustContain = Seq("partial_count", "HashAggregate"),
      mustNotContain = Seq("Join")),
    // MMR: candidate generation broadcasts the query side and the top-k
    // compiles to a partial group limit; candidate-pair sims broadcast too
    Check(
      "q_mmr_rerank",
      mustContain = Seq("BroadcastHashJoin", "WindowGroupLimit"),
      mustNotContain = Seq("CartesianProduct")),
    // PageRank iterations are equi joins on src — never a cartesian; the
    // localCheckpoint pins hide the loop, so the visible plan is the last
    // rank read (BuildCheck below audits one un-pinned iteration)
    Check(
      "q_pagerank",
      mustNotContain = Seq("CartesianProduct", "BroadcastNestedLoopJoin")),
    Check(
      "q_pagerank_weighted",
      mustNotContain = Seq("CartesianProduct", "BroadcastNestedLoopJoin")),
    Check(
      "q_trustrank",
      mustNotContain = Seq("CartesianProduct", "BroadcastNestedLoopJoin")),
    Check(
      "q_communities",
      mustNotContain = Seq("CartesianProduct", "BroadcastNestedLoopJoin")),
    // HyperBall readout: register state pinned per round; no cartesian
    Check(
      "q_reach_estimate",
      mustNotContain = Seq("CartesianProduct", "BroadcastNestedLoopJoin")),
    Check(
      "q_reach_distribution",
      mustNotContain = Seq("CartesianProduct", "BroadcastNestedLoopJoin")),
    // span novelty: df agg + per-doc rollup, both map-side combined —
    // and NO pair join anywhere (the property that keeps it cheap on
    // any df distribution, unlike the edge builder)
    Check(
      "q_span_novelty",
      mustContain = Seq("partial_count", "HashAggregate"),
      mustNotContain = Seq("CartesianProduct", "BroadcastNestedLoopJoin")),
    // connected components: star rounds pinned per iteration; the visible
    // label/size readout is equi joins + map-side-combined counts only
    Check(
      "q_components",
      mustContain = Seq("HashAggregate"),
      mustNotContain = Seq("CartesianProduct", "BroadcastNestedLoopJoin")),
    // triangles: the wedge join and its closing join are equi joins over
    // the pinned oriented edges; corner counts combine map-side
    Check(
      "q_triangles",
      mustContain = Seq("partial_count"),
      mustNotContain = Seq("CartesianProduct", "BroadcastNestedLoopJoin")),
    // incremental components / k-core: same pinned-round discipline —
    // the visible readout must stay equi-join + map-side-combined aggs
    Check(
      "q_components_incremental",
      mustNotContain = Seq("CartesianProduct", "BroadcastNestedLoopJoin")),
    Check(
      "q_kcore",
      mustNotContain = Seq("CartesianProduct", "BroadcastNestedLoopJoin")),
    // HTML extraction is a pure fused scan: no join, no aggregation —
    // the only exchange is the final order-by
    Check(
      "q_html_extract",
      mustNotContain = Seq("HashAggregate", "Join", "hashpartitioning")),
    // URL canonicalization is likewise scan-only
    Check(
      "q_url_canonicalize",
      mustNotContain = Seq("HashAggregate", "Join", "hashpartitioning")),
    // rate anomaly: map-side-combined counts, key-level integer rollup,
    // one equi join back — nothing quadratic
    Check(
      "q_rate_anomaly",
      mustContain = Seq("partial_count"),
      mustNotContain = Seq("CartesianProduct", "BroadcastNestedLoopJoin")),
    Check(
      "q_rate_anomaly_robust",
      mustContain = Seq("partial_count"),
      mustNotContain = Seq("CartesianProduct", "BroadcastNestedLoopJoin")),
    Check(
      "q_rate_anomaly_seasonal",
      mustContain = Seq("partial_count"),
      mustNotContain = Seq("CartesianProduct", "BroadcastNestedLoopJoin")),
    Check(
      "q_ingest_health",
      mustNotContain = Seq("CartesianProduct", "BroadcastNestedLoopJoin")),
    Check(
      "q_rate_trend",
      mustNotContain = Seq("CartesianProduct", "BroadcastNestedLoopJoin")),
    Check(
      "q_degree_distribution",
      mustContain = Seq("partial_count"),
      mustNotContain = Seq("CartesianProduct", "BroadcastNestedLoopJoin")),
    // round 12 — persisted-artifact serving paths
    // graph lanes from the stored edge table: scans + the operator's own
    // joins, nothing quadratic; the edge BUILD is absent by construction
    Check(
      "q_pagerank_artifact",
      mustNotContain = Seq("CartesianProduct", "BroadcastNestedLoopJoin")),
    Check(
      "q_components_artifact",
      mustNotContain = Seq("CartesianProduct", "BroadcastNestedLoopJoin")),
    Check(
      "q_pagerank_weighted_artifact",
      mustNotContain = Seq("CartesianProduct", "BroadcastNestedLoopJoin")),
    Check(
      "q_linkgraph_stream",
      mustNotContain = Seq("CartesianProduct", "BroadcastNestedLoopJoin")),
    // BM25 served from the bucketed store: the postings scan must carry
    // the query-vocabulary bucket partition filter (the inverted-index
    // access pattern as partition pruning)
    Check(
      "q_bm25_persisted",
      mustContain = Seq("PartitionFilters: [bucket", "BroadcastHashJoin", "WindowGroupLimit")),
    Check(
      "q_bm25_index_append",
      mustContain = Seq("PartitionFilters: [bucket", "BroadcastHashJoin", "WindowGroupLimit")),
    // batch novelty served from the store: the bucket-pruned dfs scan
    // sits behind the result's checkpoint pin (materialized before the
    // spans pin releases), so the gate-level plan can't show its
    // PartitionFilters — the bucket filter is isInCollection on a
    // partition column (statically pruned by construction)
    Check(
      "q_span_novelty_artifact",
      mustNotContain = Seq("CartesianProduct", "BroadcastNestedLoopJoin")),
    // the persisted near-dup index probe: equi joins only. The pruned
    // posting/sig scans sit behind the checkpoint pins inside
    // dedupBatch, so the gate-level plan can't show their
    // PartitionFilters — the pruning is bucket-isInCollection on a
    // partition column (statically pruned by construction) and the
    // store ≡ in-memory equality is MinHashStoreSpec's job
    Check(
      "q_minhash_store",
      mustNotContain = Seq("CartesianProduct", "BroadcastNestedLoopJoin")),
    // the compressed ANN artifact probe: broadcasted probe/table joins.
    // A BroadcastNestedLoopJoin IS expected — the query × centroid cross
    // is the probe's bounded (|q| × nlist, broadcast) stage, same as the
    // in-memory ivfTopK; only an unbroadcast cartesian would be wrong
    Check(
      "q_ann_ivfpq_persisted",
      mustContain = Seq("BroadcastHashJoin"),
      mustNotContain = Seq("CartesianProduct"))
    ,
    // round 13 — reach readouts from the persisted register artifact:
    // node-sized scans + estimate expressions. The propagation (register
    // join against the EDGE table, SortMergeJoin over |E| rows per hop)
    // must be ABSENT: no aggregate in the estimate lane at all, and the
    // per-hop snapshot joins are id-equi joins, nothing quadratic
    Check(
      "q_reach_estimate_artifact",
      mustNotContain = Seq("CartesianProduct", "BroadcastNestedLoopJoin",
        "HashAggregate")),
    Check(
      "q_reach_harmonic_artifact",
      mustNotContain = Seq("CartesianProduct", "BroadcastNestedLoopJoin",
        "HashAggregate")),
    // appendAuto's merged reader over live deltas: the base+delta fold is
    // one groupBy-sum (equi), nothing quadratic
    Check(
      "q_linkgraph_append_auto",
      mustNotContain = Seq("CartesianProduct", "BroadcastNestedLoopJoin")),
    // (no q_reach_distribution_artifact check: its readout aggregates
    // driver-side and returns a LocalTableScan - any plan assertion on
    // the gate frame would be vacuous; the serving-path discipline is
    // covered by the estimate/harmonic checks above)

    // round 14 continuation — exact heavy hitters: the exact-recount pass
    // must semi-join the BROADCAST candidate set (no shuffle of
    // non-candidate occurrences) and combine map-side before the exchange;
    // nothing quadratic anywhere
    Check(
      "q_heavy_hitters",
      mustContain = Seq("BroadcastHashJoin", "LeftSemi", "partial_count"),
      mustNotContain = Seq("CartesianProduct", "BroadcastNestedLoopJoin")),
    Check(
      "q_heavy_hitters_by_lang",
      mustContain = Seq("BroadcastHashJoin", "LeftSemi", "partial_count"),
      mustNotContain = Seq("CartesianProduct", "BroadcastNestedLoopJoin"))
    ,
    // round 15 — plan persistence: the REPLAYED plan's SQL-text filter
    // must still reach the parquet scan (persisting logic, not compiled
    // mappers, is the point — Catalyst re-optimizes on every reload)
    Check(
      "q_plan_persist",
      mustContain = Seq("PushedFilters: [IsNotNull(l_quantity)"),
      mustNotContain = Seq("CartesianProduct", "BroadcastNestedLoopJoin"))
  )

  /** Plan checks for operator INTERNALS the gate plans hide behind
    * localCheckpoint pins: built directly from the operator API.
    */
  private case class BuildCheck(
      name: String,
      build: (org.apache.spark.sql.SparkSession, String) => org.apache.spark.sql.DataFrame,
      mustContain: Seq[String] = Seq.empty,
      mustNotContain: Seq[String] = Seq.empty)

  import org.apache.spark.sql.functions.col

  private val buildChecks = Seq(
    // shared-span edge builder: the df-cap aggregation combines map-side
    // and the span self-join is an equi join — a span shared by thousands
    // of docs (boilerplate) must be dropped BEFORE pairing, never joined
    BuildCheck(
      "link_edges(sharedSpanEdges)",
      (s, dir) => graft.text.LinkGraph.sharedSpanEdges(
        s.read.parquet(s"$dir/documents.parquet"), "doc_id", "text", w = 5, maxDf = 32),
      mustContain = Seq("HashAggregate"),
      mustNotContain = Seq("CartesianProduct", "BroadcastNestedLoopJoin")),
    // one BFS iteration (the shape centrality repeats per hop): frontier
    // ⨝ edges is an equi join on id=src, the visited filter a left anti —
    // all-integer (root, id) pairs, nothing quadratic
    BuildCheck(
      "link_bfs_iteration",
      (s, dir) => {
        val docs = s.read.parquet(s"$dir/documents.parquet")
        val edges = graft.text.LinkGraph.sharedSpanEdges(docs, "doc_id", "text", w = 5, maxDf = 32)
        val seed = docs.select(col("doc_id").as("root"), col("doc_id").as("id"))
        seed.join(edges, col("id") === col("src"))
          .select(col("root"), col("dst").as("id")).distinct()
          .join(seed, Seq("root", "id"), "left_anti")
      },
      mustContain = Seq("Anti"),
      mustNotContain = Seq("CartesianProduct", "BroadcastNestedLoopJoin")),
    // minhash pair pipeline un-pinned: the set-group collapse must
    // survive — the per-group representative is a partial_min groupBy
    // over the sorted-shingle-set key, the giant-duplicate-cluster guard
    // that keeps LSH banding linear in cluster size (476 s → 10.6 s at
    // sf1skew)
    BuildCheck(
      "minhash_pairs(unpinned)",
      (s, dir) => graft.dedup.Dedup.minHashPairsPlan(
        s.read.parquet(s"$dir/documents.parquet"), "text", "doc_id"),
      mustContain = Seq("partial_min"),
      mustNotContain = Seq("CartesianProduct", "BroadcastNestedLoopJoin")),
    // one PageRank iteration un-pinned (the gate plan hides the loop
    // behind localCheckpoint), LinkGraph's own round body: contributions
    // are an equi join on src with a map-side-combined sum — |E| rows
    // shuffle, nothing quadratic
    BuildCheck(
      "pagerank_iteration",
      (s, dir) => {
        import org.apache.spark.sql.functions._
        import graft.text.LinkGraph
        val docs = s.read.parquet(s"$dir/documents.parquet")
        val edges = LinkGraph.sharedSpanEdges(docs, "doc_id", "text", w = 5, maxDf = 32)
        val ids = docs.select(col("doc_id").as("id"))
        LinkGraph.pageRankStep(ids.withColumn("r", lit(1000000L)), ids,
          LinkGraph.degreeEdges(edges), "r div __deg", teleport = 7L, dampNum = 85, dampDen = 100)
      },
      mustContain = Seq("partial_sum"),
      mustNotContain = Seq("CartesianProduct", "BroadcastNestedLoopJoin")),
    // one large-star pass un-pinned (connectedComponents pins each round
    // behind localCheckpoint): neighborhood minimum is a map-side-combined
    // min over the symmetric view, re-pointing is an equi join on the
    // center — |E| rows per round, nothing quadratic
    BuildCheck(
      "components_large_star",
      (s, dir) => {
        import graft.text.LinkGraph
        val docs = s.read.parquet(s"$dir/documents.parquet")
        LinkGraph.largeStar(LinkGraph.canonicalEdges(
          LinkGraph.sharedSpanEdges(docs, "doc_id", "text", w = 5, maxDf = 32)))
      },
      mustContain = Seq("partial_min"),
      mustNotContain = Seq("CartesianProduct", "BroadcastNestedLoopJoin")),
    // round 15 — HeavyHitters broadcast guard: when the candidate count
    // crosses the limit (forced to 0 here) the exact-recount semi-join
    // must take the hinted shuffle-hash route — never a broadcast of a
    // potentially unbounded candidate surface
    BuildCheck(
      "heavy_hitters_shuffle_route",
      (s, dir) => {
        import org.apache.spark.sql.functions.{explode, split}
        val docs = s.read.parquet(s"$dir/documents.parquet")
        graft.text.HeavyHitters.frequent(
          docs.select(explode(split(col("text"), "\\s+")).as("tok")),
          "tok", 0.05, broadcastLimit = 0L)
      },
      mustContain = Seq("ShuffledHashJoin", "LeftSemi", "partial_count"),
      mustNotContain = Seq("BroadcastHashJoin", "CartesianProduct",
        "BroadcastNestedLoopJoin"))
  )

  def main(args: Array[String]): Unit = {
    val dir = args.headOption.getOrElse("/root/testdata/sf0.001")
    val spark = GraftSession.builder("local[8]", 8).getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    var failures = 0
    def audit(name: String, df: org.apache.spark.sql.DataFrame,
        mustContain: Seq[String], mustNotContain: Seq[String]): Unit = {
      val plan = df.queryExecution.executedPlan.toString
      val missing = mustContain.filterNot(plan.contains)
      val present = mustNotContain.filter(plan.contains)
      if (missing.isEmpty && present.isEmpty) {
        System.err.println("[plan] OK " + name)
      } else {
        failures += 1
        System.err.println(s"[plan] FAIL $name: missing=$missing unexpected=$present")
        System.err.println(plan.linesIterator.take(40).mkString("\n"))
      }
    }
    checks.foreach { c =>
      audit(c.name, SparkEntry.queries(c.name)(spark, dir), c.mustContain, c.mustNotContain)
    }
    buildChecks.foreach { c =>
      audit(c.name, c.build(spark, dir), c.mustContain, c.mustNotContain)
    }
    // the round-14 stores' serving plans: candidate generation must stay
    // equi-join-shaped (no cartesian/BNLJ anywhere) and the state reads
    // must carry their partition-bucket prune (pb/cb PartitionFilters)
    locally {
      val docs = spark.read.parquet(s"$dir/documents.parquet")
      val avi = org.apache.spark.sql.functions.udf(
        (id: Long) => graft.multimodal.Multimodal.syntheticAvi(id))
      val mDir = java.nio.file.Files.createTempDirectory("plancheck_mfps").toString
      graft.multimodal.MediaFingerprintStore.build(
        docs.where(col("doc_id") < 100).select(col("doc_id"), avi(col("doc_id")).as("payload")),
        "payload", "doc_id", mDir, n = 3, bands = 8, nBuckets = 8)
      audit("media_store_dedup(serving)",
        graft.multimodal.MediaFingerprintStore.dedupBatch(spark, mDir,
          docs.where(col("doc_id") >= 100 && col("doc_id") < 120)
            .select(col("doc_id"), avi(col("doc_id")).as("payload")),
          "payload", "doc_id", maxHamming = 6, minMatches = 2),
        mustContain = Seq("PartitionFilters: [pb#"),
        mustNotContain = Seq("CartesianProduct", "BroadcastNestedLoopJoin"))
      val emb = spark.read.parquet(s"$dir/embeddings.parquet")
        .select(col("vec_id"), col("embedding"))
      val sDir = java.nio.file.Files.createTempDirectory("plancheck_sds").toString
      graft.dedup.SemDedupStore.build(emb.where(col("vec_id") < 400),
        "vec_id", "embedding", sDir, k = 8, iters = 1, nBuckets = 8)
      audit("semdedup_store_verdict(serving)",
        graft.dedup.SemDedupStore.dedupVerdict(spark, sDir,
          emb.where(col("vec_id") >= 400), "vec_id", "embedding", tau = 0.9),
        mustContain = Seq("PartitionFilters: [cb#"),
        mustNotContain = Seq("CartesianProduct", "BroadcastNestedLoopJoin"))
    }
    // files-read bound for the bucket-pruned HyperBall point lookup: the
    // probe must scan ONLY the probe ids' hash buckets (one file per
    // bucket by construction), never the whole hop surface — asserted on
    // the executed scan's own numFiles metric, not the plan string
    locally {
      val docs = spark.read.parquet(s"$dir/documents.parquet")
      val hb = java.nio.file.Files.createTempDirectory("plancheck_hbs").toString
      val edges = graft.text.LinkGraph.sharedSpanEdges(
        docs, "doc_id", "text", w = 5, maxDf = 32)
      graft.text.HyperBallStore.build(docs.select(col("doc_id")), "doc_id",
        edges, maxHops = 2, hb, nBuckets = 16)
      val ids = Seq(0L, 7L, 123L, 499L)
      val probe = graft.text.HyperBallStore
        .neighborhoodEstimateFor(spark, hb, "doc_id", ids)
      val got = probe.collect().length
      import org.apache.spark.sql.execution.SparkPlan
      import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
      def scans(p: SparkPlan): Seq[org.apache.spark.sql.execution.FileSourceScanExec] =
        p match {
          case a: AdaptiveSparkPlanExec => scans(a.executedPlan)
          case f: org.apache.spark.sql.execution.FileSourceScanExec => Seq(f)
          case other => other.children.flatMap(scans)
        }
      val files = scans(probe.queryExecution.executedPlan)
        .map(_.metrics("numFiles").value).sum
      if (got == ids.size && files >= 1 && files <= ids.size) {
        System.err.println(s"[plan] OK hyperball_point_lookup(files=$files<=${ids.size})")
      } else {
        failures += 1
        System.err.println(s"[plan] FAIL hyperball_point_lookup: rows=$got " +
          s"(want ${ids.size}), filesRead=$files (want 1..${ids.size}; " +
          "the full surface is 16 buckets)")
      }
    }
    // detailed dump for manual inspection when a query name is passed
    args.drop(1).foreach { q =>
      System.err.println(s"===== ${q} =====")
      SparkEntry.queries(q)(spark, dir).explain("formatted")
    }
    System.err.println(s"[plan] failures: $failures")
    spark.stop()
  }
}
