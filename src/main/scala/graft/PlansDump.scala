package graft

/** Regenerates PLANS.md — the physical-plan audit of the flagship batch
  * queries. Run after any plan-affecting change:
  * `sbt "runMain graft.PlansDump"` (sf0.001, local[4] — plan SHAPE is
  * scale-invariant; the numbers in BENCH/SCALE are where size lives).
  * Streaming queries are excluded: their micro-batch plans live behind
  * the query execution and are asserted structurally in the specs
  * instead. */
object PlansDump {

  // Also the roster SinglePartitionSweepSpec audits structurally — the
  // plan dump greps itself for q90-class one-partition funnels.
  val audited = Seq(
    "q01_supplier_stats", "q14_geo_join", "q25_docs_minhash_neardup",
    "q27_embed_cosine_topk", "q28_embed_ann_lsh", "q30_etl_year_partition",
    "q40_bucketed_join", "q44_geo_auto_rewrite", "q46_embed_ivf_ann",
    "q47_corpus_manifest", "q49_stratified_sample", "q50_token_budget_pack",
    "q51_decontaminate", "q52_curated_mix", "q54_multimodal_wav_decode",
    "q57_boilerplate_ngrams", "q58_asof_join", "q59_docs_repetition",
    "q60_embed_int8_topk", "q61_batch_sessionize", "q64_asof_join_salted",
    "q65_embed_ivf_sq8", "q66_docs_containment", "q67_cube_grouping",
    "q68_pivot_priorities", "q69_rolling_window", "q70_curriculum_deciles",
    "q72_grouping_sets", "q73_gap_fill", "q74_incremental_dedup",
    "q75_text_scrub", "q76_decile_cutpoints", "q77_doc_chunks",
    "q78_vocab_coverage", "q80_tfidf_keywords", "q81_bm25_search",
    "q82_interval_join", "q83_funnel", "q84_hybrid_rrf",
    "q85_zorder_layout", "q87_docs_jaccard_join", "q88_pmi_collocations",
    "q89_skew_probe", "q90_source_tv_drift", "q91_ivf_delta_assign",
    "q92_table_stats", "q93_exact_substr_spans", "q94_source_capped_pack",
    "q95_bigram_lm_score", "q96_substr_redact",
    "q97_substr_redact_keep_one", "q98_embed_pq_adc",
    "q99_embed_ivf_pq", "q100_token_blocks", "q102_temperature_mix",
    "q103_filter_cascade", "q105_bpe_encode", "q108_quality_calibration",
    "q109_exact_substr_prod_k", "q111_embed_binary_topk",
    "q115_paragraph_dedup", "q116_weighted_sample",
    "q118_trigram_lm_score", "q120_importance_select",
    "q121_kmv_distinct", "q122_unigram_encode", "q123_split_assign",
    "q125_quality_classifier", "q127_wordpiece_encode",
    "q128_embed_ivf_sqrt_n", "q131_ann_recall_eval", "q132_cluster_sample",
    "q133_source_overlap", "q134_pagerank_suppliers", "q136_cms_freq",
    "q137_scd2_build", "q138_edit_distance_join", "q139_trustrank_suppliers",
    "q141_cdc_chunk_dedup", "q143_sequence_pack", "q144_host_curation_gate",
    "q145_scd2_incremental", "q146_trustrank_converged",
    "q147_bitext_margin", "q148_jl_projection", "q149_diversity_audit",
    "q150_shard_export", "q151_retention_cohorts", "q152_mad_outlier_gate",
    "q153_knn_graph", "q155_ndcg_eval", "q156_embedding_drift",
    "q157_knn_incremental", "q158_label_noise_audit", "q159_corpus_diff",
    "q160_curation_funnel", "q161_split_leakage_audit",
    "q164_quantile_sketch", "q165_incr_shard_publish", "q166_knn_refine",
    "q167_sketch_rollup", "q170_bootstrap_ci")
  // q79 is excluded by design: its label table is built by an ITERATIVE
  // loop whose final plan is (window over checkpointed RDD) — the
  // interesting shape is per-round and is asserted in PlanPinsSpec.
  // q101 shares q79's final-plan shape (it IS dedupClusters over q36's
  // pair graph) and is excluded for the same reason; its pair-generation
  // arm's plan is audited as q36's twin via the q28 LSH entry.
  // q110 is excluded likewise (dedupClusters over the pHash pair graph);
  // its banded pair arm is a (band, key) equi-join + bit_count filter
  // whose shape MultimodalSpec pins via the recall-exactness test.
  // q126 mirrors q110 for audio fingerprints (same exclusion, same
  // MultimodalSpec recall pin on the banded arm).
  // q106 is excluded like q101 (it IS dedupClusters over label stars +
  // delta pairs); its delta pair-generation arm shares q36's audited
  // probe shape with the base side never self-joined (spec-pinned by
  // IncrementalClustersSpec's pair-set equality).
  // q104/q107 are likewise iterative (one argmax collect per merge round —
  // the kmeans trainer idiom): its registered result is the
  // driver-assembled merge table (a LocalTableScan — nothing to audit);
  // the per-round pair-count aggregate is the q88/q21 explode-groupBy
  // shape over the VOCAB-sized word table, asserted in BpeSpec by value.
  // q140 is dedupClusters over q138's blocked pairs (iterative CC —
  // excluded like q79; the pair arm's plan is q138's audited shape with
  // the block key concatenated into the variant join key).
  // q135 is iterative (per-round persist/localCheckpoint centroid
  // materialization, the kmeansCentroids idiom): its registered result
  // aggregates the final assignment; partition-invariance and inertia
  // descent are KmeansSpec's. q134/q139 unroll their 3 rounds into one
  // plan over the checkpointed edge table and (is_seed, deg)-carrying
  // rank table (r19 lean round) and ARE audited.
  // q129 mirrors q110/q126 (dedupClusters over the frame-overlap pair
  // graph — same exclusion; MultimodalSpec pins the banded arm's recall).
  // q130 is streaming (micro-batch plans live behind the query
  // execution; PerceptronSpec pins stream ≡ batch by value).
  // q117 is iterative too (one vocab-sized greedy round per MMR rank,
  // frames checkpointed): the corpus-sized arm is exactly q27's audited
  // broadcast scan; round equality is pinned by MmrSpec's driver-side
  // reference. q119 follows q104 (EM rounds of vocab-sized joins; the
  // registered result is the memoized driver-assembled vocab — a
  // LocalTableScan); its structural claims are UnigramSpec's.
  // q154 is streaming (micro-batch plans live behind the query
  // execution — the q130 exclusion); StreamShardSpec pins stream ≡
  // batch by frame equality, and the batch side (q150) IS audited.
  // q162/q163 are streaming folds (foreachBatch plans live inside the
  // micro-batch, behind the query execution — the q130/q154 exclusion);
  // their batch-side folds ARE the audited q145/q157 plans (semi/anti
  // standing split + batch-keyed windows; banded probe join + anti-join
  // edge carry-over), and Streaming{Scd2,Knn}FoldSpec pin stream ≡
  // batch-rebuild by frame equality.
  // q168 is streaming (the q130/q154 exclusion); its batch shape is
  // exactly q164's audited sketch arm (ObjectHashAggregate over one
  // source exchange), and StreamingQuantileSpec pins stream ≡ batch by
  // frame equality plus micro-batch slicing invariance.
  // q169 is iterative (one 1-row argmax collect per greedy round over a
  // localCheckpointed min-distance frame — the q135 kmeans idiom); its
  // registered result is the driver-assembled trajectory (a
  // LocalTableScan — nothing to audit); the per-round shape is a
  // map-only projection + 1-row aggregate, and KcenterSpec pins the
  // trajectory by value under every partitioning.
  // q143–q146 (round 16) ARE audited: q143 is map-only classing +
  // exactStratumRank's two-level rank; q144's gate must show ONE
  // broadcast join against the corpus (the verdict side is host-sized);
  // q145 must show the semi/anti standing-dim split with batch-keyed
  // windows (no global window); q146's registered plan is ONE re-derived
  // round over the checkpointed r_{k-1} (the q134 last-round-
  // unmaterialized discipline — the adaptive loop behind it is
  // ConvergedRankSpec's).

  private val header =
    """# PLANS — physical-plan audit of flagship queries (sf0.001, local[4])
      |
      |Generated by `sbt "runMain graft.PlansDump"`; regenerate after
      |plan-affecting changes.
      |What to look for: PushedFilters/ReadSchema on scans (pushdown + pruning),
      |BroadcastHashJoin on dim joins, no Cartesian products, Bucketed: true on q40,
      |graft_lsh_bucket/graft_dot as plain projections (codegen) on q27/q28/q46,
      |and the cell equi-join (no BroadcastNestedLoopJoin) on the rewritten q44.
      |(q27's BNLJ is the intentional brute-force baseline; q46's BNLJs are the
      |16-row broadcast centroid scoring — bounded narrow expansion, not a scan pair.
      |q51's shuffles are the distinct on fixed-width shingle hashes and the
      |hash equi-join — the bounded-candidate shape, never a corpus cross join.
      |On q50/q52, the token-histogram prefilter — a partial_sum aggregate and a
      |broadcast cutoff join — sits BELOW the per-stratum running-total window,
      |so the window's sort sees ~budget-sized strata, not the corpus.
      |q54 is narrow end to end: scan → object codec mapPartitions → sort.
      |q57's only hash exchange is the exact count ABOVE the broadcast
      |candidate join — the raw bigram universe is never shuffled (the
      |sketch side folds through a single-partition ObjectHashAggregate of
      |≤ k entries per partial). q58 plans NO join operator at all: tagged
      |union → one keyed window sweep; its two hash exchanges are the
      |right-side dedup groupBy and the window's user_id partitioning.
      |q59 is map-only (zero hash exchanges: per-doc sorted fold, shuffle
      |only at the final sort). q60 is q27's broadcast shape over int8
      |codes. q61 plans ONE user_id exchange — the window partitioning
      |also satisfies the (user_id, sid) groupBy. q64's exchanges are
      |keyed on (user_id, bucket) — the hot-key split — plus the tiny
      |bucket-summary sweep on user_id; still no join operator on the
      |as-of path. q65 shows the rerank ladder: the full-precision dot
      |projects ABOVE the rn8 shortlist filter. q81's term IN filter sits
      |below the tf aggregate (the only corpus-scale exchange carries
      |pruned postings) and the df/stats/query joins broadcast. q82's
      |containment is the cell-keyed LeftSemi equi join — never a
      |BroadcastNestedLoopJoin — with the coalesce window over the
      |interval table only. q83 plans ONE user_id exchange shared by both
      |stage windows and the groupBy. q85's Z-order key derivation is
      |map-only projections over a 1-row maxima broadcast — the only hash
      |exchange is the 64-group audit aggregate. q87 keeps q66's
      |candidate pipeline (map-only prefix slice, no shingle-DF
      |aggregate) with the graft_overlap verify above the canonicalized
      |pair distinct. q88/q90 shuffle keyed word counts only — the
      |exploded token stream crosses exactly one exchange and the scalar
      |totals attach as broadcasts (q90's c_w window hash-partitions by
      |token; its one SinglePartition exchange sits above the ≤ #sources
      |aggregate, never the vocab table — the round-12 funnel is gone and
      |SinglePartitionSweepSpec greps every audited plan for the
      |pattern). q89 is one keyed count + broadcast
      |totals + TakeOrderedAndProject. q93's island merge is two Window
      |ops over ONE doc_id sort with the span aggregate riding the same
      |exchange; q94's two pack stages shuffle strata keys only and
      |broadcast their histogram cutoffs; q95's scoring join takes the
      |corpus bigram stream against the aggregated (memo-cached) model —
      |never a corpus self-join; q96 is map-only after the covered-
      |positions join, and q97 is the same shape plus the keep-one owner
      |election on the bounded dup table. q102's allocation tables (mass,
      |1-row denominator, per-source budgets, histogram cutoffs) all
      |attach as broadcasts — the corpus crosses two map-combinable
      |aggregates and the fill window's input is histogram-pruned to
      |~allocation size. q103 is one chained-when projection + one
      |partial-agg groupBy (map-only census). q105 is the encode half of
      |the BPE pair: the learned merges are PLAN LITERALS (a 10-deep
      |replace fold materialized once per row in its own projection — the
      |two length() consumers would otherwise re-evaluate the chain), so
      |the query is explode → map-only projection → one partial+final
      |aggregate; q104's training loop is iterative (excluded below, like
      |q79/q101). q115's corpus-scale exchanges are the paragraph-hash
      |groupBy and its LeftAnti back-join; the rebuild is a per-doc
      |aggregate. q116 is map-only + TakeOrderedAndProject — no
      |range-sort exchange anywhere. q118's five model joins take the
      |corpus trigram stream against vocabulary-bounded count tables
      |(bcnt twice, ucnt twice, the 1-row N broadcast) — never a corpus
      |self-join. These pins are asserted
      |in PlanPinsSpec, not just eyeballed here.)
      |
      |## CBO (round 12) — statistics that change a plan
      |
      |The one Catalyst layer the per-query audits below can't show,
      |because it needs ANALYZE'd catalog tables: CboSpec pins it live.
      |Arm 1 — the broadcast flip on one join at sf0.01 with the
      |threshold at 256 KB and AQE off (static decision, not the runtime
      |rescue AqeSpec covers): no stats → file-size estimate (~1 MB) →
      |SortMergeJoin; ANALYZE row + l_quantity column stats with CBO on →
      |FilterEstimation prices `l_quantity <= 2` at ~4% → BroadcastHashJoin;
      |same stats with CBO off → SortMergeJoin again — the flip is the
      |cost model's, not ANALYZE's size refresh. Pitfall pinned: column
      |pruning discounts scan estimates by read-schema width, so the spec
      |joins full rows to keep the no-stats arm above the threshold.
      |Arm 2 — JOIN REORDER: lineitem ⋈ orders ⋈ customer written
      |worst-first keeps its left-deep order without stats; after ANALYZE
      |on all three tables + join/filter columns, CostBasedJoinReorder
      |routes the innermost join through the filtered customer side —
      |asserted structurally on the optimized plan's innermost Join
      |leaves. q92 is the query-side twin (the ANALYZE numbers computed
      |as one unpivot scan); CboSpec is what those numbers DO to a plan.
      |""".stripMargin

  def main(args: Array[String]): Unit = {
    val sfDir = args.lift(0).getOrElse("/root/testdata/sf0.001")
    val out = args.lift(1).getOrElse("PLANS.md")
    val spark = LocalSession(4)

    val sections = audited.map { name =>
      val df = SparkEntry.queries(name)(spark, sfDir)
      val plan = df.queryExecution.explainString(
        org.apache.spark.sql.execution.SimpleMode)
      s"## $name\n\n```\n${plan.trim}\n```\n"
    }
    val text = header + "\n" + sections.mkString("\n")
    java.nio.file.Files.write(java.nio.file.Paths.get(out),
      text.getBytes("UTF-8"))
    println(s"wrote $out (${audited.size} plans)")
    spark.stop()
  }
}
