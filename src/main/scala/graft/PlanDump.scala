package graft

import org.apache.spark.sql.SparkSession
import java.nio.file.{Files, Paths}

/** Regenerates PLANS.md — the committed physical-plan audit — from the live
  * `SparkEntry.queries` plans, so the audit can never drift from the code
  * (it drifted once: q35's dump predated the fused cosine expression).
  *
  * Usage: `runMain graft.PlanDump [sfDir] [outFile]`
  * (defaults: /root/testdata/sf0.1, PLANS.md)
  */
object PlanDump {

  /** The audited queries: one per plan *shape* worth reviewing at scale. */
  val audited: Seq[String] = Seq(
    "q01_agg_pricing",      // partial agg + single exchange
    "q03_join_agg",         // broadcast dims + pushed null filters
    "q05_semi_join",        // LeftSemi broadcast + pushed predicate
    "q08_first_order",      // Spark 4 WindowGroupLimit pushdown
    "q21_edge_list",        // dense-PK scan-level remap + broadcast joins
    "q29_propagate_fixed",  // per-round join + two-level agg, all long math
    "q31_text_stats",       // single WholeStageCodegen span over pruned scan
    "q34_dedup_minhash",    // banded LSH self-join (exchange on band key)
    "q35_sim_topk",         // fused graft_cosine + TakeOrderedAndProject
    "q36_dedup_simhash",    // block-key self-join + hamming prefilter
    "q40_embed_neardup",    // hyperplane-bucket join + exact-cosine verify
    "q43_recommend_trained",// trained-head scoring over fixed-point embs
    "q44_dedup_jaccard",    // prefix-filter self-join (complete candidates)
    "q47_asof_attrib",      // as-of join: union + ONE window pass, no join
    "q48_stratified_sample",// WindowGroupLimit partial top-k per stratum
    "q55_propagate_bucketed",// bucketed-store rounds: exchange-free |E| join
    "q56_vocab_topk",       // explode → combined count → TakeOrdered
    "q61_propagate_vec4",   // dim-4 vector round: per-dim SUMs + VecCombine
    "q62_repetition",       // explode → two-level combined count
    "q63_decontam",         // gram dedup exchange + broadcast overlap join
    "q45_ann_ivf_kmeans",   // fixed-point k-means IVF serving tail
    "q100_ann_pq",          // PQ/ADC scan: code join + broadcast ADC table
    "q64_data_mixing",      // budget admission: local windows, no funnel
    "q65_seq_packing",      // global prefix sum: range exchange, no funnel
    "q66_pii_mask",         // row-local PII pass: one codegen span
    "q67_dup_spans",        // gram-key exchange + small dup-starts window
    "q68_semantic_dedup",   // broadcast assignment + within-cluster pairs
    "q69_dup_span_removal", // islands over dup starts + HOF cut, no re-explode
    "q70_dsir_weights",     // one corpus pass + O(bins) broadcast weights
    "q71_knn_graph",        // probes ⨝ lists on cluster key + top-k window
    "q72_knn_refine",       // edge-list 2-hop self-join + exact re-rank
    "q73_pagerank",         // per-round: |E| join + map-side-combined agg
    "q74_triangles",        // degree-oriented wedge join, O(√E) fan-out
    "q75_lm_quality",       // one corpus bigram pass, model joined on (w1,w2)
    "q76_kcore",            // peel round: O(|V|) degree agg + 2 semi-joins
    "q77_label_prop",       // |E| join + (node,label) count + window top-1
    "q78_edge_jaccard",     // oriented wedge join → 3-edge explode → count
    "q79_assoc_rules",      // basket-key self-join, bounded pair fan-out
    "q80_markov_trans",     // one per-key window → model-sized counts
    "q81_funnel",           // type-pruned scans ⨝ |keys| frontier chain
    "q82_retention",        // per-day dedup → cohort min → offset count
    "q83_pagerank_weighted",// q73's round shape with strength division
    "q84_rollup",           // ONE Expand + partial agg for 3 grouping levels
    "q85_bm25",             // TF-IDF's one-exchange shape + broadcast scalars
    "q86_cc_bounded",       // HashMin round: |E| join + map-side-combined MIN
    "q87_corpus_card",      // sha256 dup-key join + one per-source agg
    "q88_anomaly",          // one key exchange + one window pass, no division
    "q89_fuzzy_names",      // deletion-variant equi-join + levenshtein verify
    "q92_bfs_hops",         // frontier layer join + anti-join vs visited
    "q94_sssp_support",     // Δ-relaxation join + map-side-combined MIN
    "q95_drift",            // one conditional-count scan + histogram agg
    "q93_dim_stats",        // posexplode → one map-side-combined O(dims) agg
    "q96_quantize_int8",    // pure row-local codegen codec, zero exchange
    "q97_canonical_docs",   // winner rank as WindowGroupLimit over groups
    "q98_random_projection",// constant sign matrix folded into projection
    "q99_collocations",     // one bigram pass + O(vocab) marginal aggs
    "q101_ann_pq_recall",   // PQ ranking ⨝ brute-force ranking, both top-k
    "q102_ann_ivfpq",       // IVF probe-list prune BEFORE the ADC ranking
    "q103_ann_pq_ingest",   // serve from the ingested code store, no raw vecs
    "q104_audio",           // row-local kernel chain: zero exchanges end-to-end
    "q105_gif_frames",      // frame explode + row-local decode, no shuffle
    "q107_ann_ivfpq_residual", // residual coding: broadcast per-list ADC prune
    "q109_random_walks",    // per-step frontier ⨝ nbr-array join, in-row draw
    "q110_bpe_merges",      // BPE round: wd-window passes + 1-row winner bcast
    "q115_node2vec_walks",  // biased step: 2 array joins + compiled draw kernel
    "q116_walk_pmi",        // pair marginals + broadcast total + TakeOrdered
    "q118_temporal_walks",  // frontier ⨝ arrays + compiled bsearch kernel
    "q122_doc_chunks",      // row-local sequence+explode, zero exchanges
    "q123_ppr",             // broadcast seed flag; sparse nonzero frontier
    "q125_containment",     // rare-prefix ⨝ posting list + packed verify
    "q135_quality_scored",  // frozen integer head: row-local, 0 exchanges
    "q143_gopher_coverage", // 9-size nested-HOF gram explode + doc-keyed aggs
    "q151_shard_write",     // span assembly: rows ≈ docs+straddlers, no tokens
    "q156_image_neardup_wide", // 16-key banded join + zip_with 256-bit verify
    "q159_video_neardup",   // (frame, block) keys + aligned-frame verify agg
    "q160_image_dedup_retention", // HashMin CC + WindowGroupLimit keep-best
    "q165_curated_shards")  // keep-verdict semi-join + q151's span sink
  /** Every NON-audited query with its one-line plan-shape
    * classification — a shape-duplicate of an audited section, a
    * memoised ride, a row-local projection, or a full-StreamingQuery
    * lifecycle whose load-bearing plan seams PlanLintSpec/StreamingSpec
    * pin directly on every `sbt test`. Emitted into the generated file
    * (r17 verdict Next #5: the artifact must explain its own
    * exclusions) and REQUIRED complete by `main`: a new query cannot
    * land neither audited nor classified. */
  val skipped: Seq[(String, String)] = Seq(
    "q02_topk_orders" -> "TakeOrderedAndProject over one pruned scan (the W4 shape; lint-enforced board-wide)",
    "q04_left_join" -> "broadcast left-outer + partial agg — q03's join+agg shape",
    "q06_anti_join" -> "broadcast LeftAnti — q05's semi-join shape, negated",
    "q07_union" -> "two pruned scans + Union, zero exchanges",
    "q09_pivot_segments" -> "fixed-column pivot agg — q01's partial-agg shape widened",
    "q10_strings" -> "row-local string projections, one codegen span (q31's class)",
    "q11_cond_agg" -> "conditional aggregates — q01's partial-agg shape",
    "q12_distinct" -> "distinct = partial agg, one exchange (q01's class)",
    "q13_events_hourly" -> "tumbling-window agg, one exchange (batch twin of the streaming leg)",
    "q14_sql_display" -> "spark.sql entry over registered views — plans as q03/q04's shapes",
    "q15_sessions" -> "mapGroupsWithState sessionisation: one exchange on the user key, bounded per-key state",
    "q20_node_counts" -> "catalog-driven per-table counts (driver-bounded table list)",
    "q22_degree_customer" -> "q21's edge remap + map-side-combined degree count",
    "q23_graph_summary" -> "q21/q22 composition + union of K-row summaries",
    "q24_link_split" -> "deterministic hash-mix split: row-local filters, zero exchanges",
    "q25_neg_sample" -> "hash-mix candidate gen + anti-join vs edges (q06's class)",
    "q26_neighbor_sample" -> "per-src window top-k — q48's WindowGroupLimit class",
    "q27_attention_embed" -> "q29's per-round join+agg shape with softmax weights",
    "q28_train_metrics" -> "L-BFGS fit: driver-coordinated rounds over q29's shapes (r9-probed floor)",
    "q30_dedup_exact" -> "sha-key groupBy, one exchange (the A1 class)",
    "q32_lang_id" -> "row-local n-gram scoring, one codegen span (q31's class)",
    "q33_fingerprint" -> "row-local rolling hash (q31's class)",
    "q37_multimodal" -> "binary metadata + sequence ops, row-local",
    "q38_token_bpeish" -> "row-local regex tokenise + one agg (q31's class)",
    "q39_rolling_fp" -> "row-local rolling-window fingerprints (q33's twin)",
    "q41_ann_lsh" -> "q40's hyperplane-bucket join at serving params",
    "q42_ann_ivf" -> "q45's IVF serving tail (broadcast centroids + probe-list prune)",
    "q46_attention_fixed" -> "q27/q29's round shape, exact-integer attention",
    "q49_tfidf_topterms" -> "q85's one-exchange TF-IDF shape + TakeOrdered tail",
    "q50_quantiles" -> "per-key exact ranks: one exchange + one window pass",
    "q51_ann_recall" -> "broadcast brute-force scan ×2 + rank-intersection join (q101's recall shape)",
    "q52_interval_join" -> "bucket-expanded range join — q47's no-funnel class",
    "q53_eval_frozen" -> "row-local frozen-head scoring + one confusion agg",
    "q54_ann_recall_kmeans" -> "q45's serving tail + q101's recall join",
    "q57_quality_filter" -> "percentile band: one window pass over row-local scores",
    "q58_dedup_groups" -> "HashMin CC to convergence — q86's Δ-round shape",
    "q59_sketch_profile" -> "constant-memory sketch aggs, one exchange",
    "q60_quantiles_select" -> "q50's shape over selected keys",
    "q90_fuzzy_groups" -> "q89's deletion-variant join + q86-class CC grouping",
    "q91_decayed_engagement" -> "exact-integer decay agg, one exchange",
    "q106_ann_pq_restart" -> "q103's ingest body under a real StreamingQuery + checkpoint-deletion replay (lifecycle; StreamingSpec-pinned)",
    "q108_ann_ivfpq_resid_recall" -> "q107's residual ADC tail + q101's recall join",
    "q111_leak_safe_split" -> "q58's component chain + a row-local split projection",
    "q112_hard_negatives" -> "q71's probed top-k with a probe-rank filter",
    "q113_skipgram_pairs" -> "plain equi-join + map-side-combined count",
    "q114_bpe_vocab" -> "q110's memoised symbol table + one aggregate",
    "q117_bpe_token_counts" -> "explode ⨝ vocab lookup + per-doc sum",
    "q119_bpe_segments" -> "q110's memoised symbol table + one explode-join",
    "q120_temporal_skipgram" -> "q113's pair join over the q118 corpus",
    "q121_matryoshka_recall" -> "q51's broadcast brute-force scan ×2 over prefix dims",
    "q124_bpe_fertility" -> "q110's memoised symbol table + one aggregate",
    "q126_stream_dedup" -> "unbucketed doc-ingest lifecycle (q137→q141 contain it; lifecycle class)",
    "q127_priority_sample" -> "TakeOrdered by priority key (the W4 shape)",
    "q128_ivf_imbalance" -> "q42's assignment shape + per-list counts",
    "q129_temperature_mix" -> "K-row broadcast arithmetic + q64's runningSum admission kernel",
    "q130_dedup_report" -> "q58's closure + size-histogram agg",
    "q131_pq_distortion" -> "q100's ADC scan + exact-dot verify join",
    "q132_ngram_commonness" -> "gram explode + document-frequency join (q63's class)",
    "q133_dup_provenance" -> "q58's closure + first-seen window",
    "q134_quality_train" -> "q28's fit/envelope shape over hashed doc features",
    "q136_quality_calibration" -> "one map-side-combined agg over q135's row-local scores",
    "q137_stream_dedup_bucketed" -> "q126's lifecycle over the bucketed index (no-exchange store side StreamingSpec-pinned)",
    "q138_neardup_decontam" -> "semi/anti + agg ride on the memoised q125 build",
    "q139_dup_weights" -> "agg ride on the memoised q58 build",
    "q140_stream_semantic" -> "q126's lifecycle class over q68's within-cluster pair shape",
    "q141_stream_dedup_folded" -> "q137 + the compactBucketed fold (rename swap) between micro-batches",
    "q142_stream_semantic_bucketed" -> "bucketed semantic lifecycle (no-exchange-no-sort store side StreamingSpec-pinned)",
    "q144_stream_dedup_evict" -> "q141's lifecycle with evictBelow riding the same fold",
    "q145_token_budget" -> "q64's runningSum kernel shape",
    "q146_gopher_gate" -> "row-local structural flags, one codegen span",
    "q147_stream_semantic_evict" -> "q142's lifecycle with evictBelow riding the same fold",
    "q148_shard_layout" -> "q65's runningSum kernel shape",
    "q149_fim_split" -> "row-local deterministic splits (q31's class)",
    "q150_pq_ingest_folded" -> "q103's ingest lifecycle + the codes-store fold",
    "q152_stream_dedup_restart" -> "q137's lifecycle killed-and-resumed (same plans)",
    "q153_gopher_full" -> "one join over the memoised q143 coverage + row-local flags",
    "q154_image_neardup" -> "q36's block-key self-join with a row-local fingerprint kernel in front",
    "q155_stream_semantic_restart" -> "q142's lifecycle killed-and-resumed (same plans)",
    "q157_audio_neardup" -> "q36's block-key self-join shape, audio fingerprint front",
    "q158_image_neardup_cobucket" -> "q154's pipeline with co-bucket pair keys (pigeonhole-equivalent at radius 2)",
    "q161_stream_image_dedup" -> "q137's lifecycle class, image kernel front (no-store-side-exchange StreamingSpec-pinned)",
    "q162_stream_image_evict" -> "q161's lifecycle with evictBelow riding the same Maintenance call",
    "q163_stream_image_restart" -> "q161's lifecycle killed-and-resumed (same plans)",
    "q164_multimodal_curation" -> "composition of memoised q154/q157 legs + q146's gate + q86-class CC retention",
    "q166_gopher_boilerplate" -> "q153's gate shape over a CASE-augmented corpus slice",
    "q167_stream_audio_dedup" -> "q161's lifecycle class, audio kernel front (FpIngest tail shared object code)",
    "q168_stream_audio_evict" -> "q167's lifecycle with evictBelow riding the same Maintenance call",
    "q169_stream_audio_restart" -> "q167's lifecycle killed-and-resumed (same plans)",
    "q170_stream_video_dedup" -> "lifecycle over the multi-fingerprint frame store; verify IS q159's audited aligned-frame shape (shared object code; frameCandidatePairs' no-store-side-exchange StreamingSpec-pinned)",
    "q171_stream_video_evict" -> "q170's lifecycle with evictBelow riding the same Maintenance call",
    "q172_stream_video_restart" -> "q170's lifecycle killed-and-resumed (same plans)",
    "q173_stream_curation" -> "composed lifecycle over the certified q161/q167 ingest bodies + the gate store; verdict assembly = q58-class CC + joins off stores, no re-decode",
    "q174_stream_curation_evict" -> "q173's lifecycle with the two-index evictBelow riding the same composed Maintenance call",
    "q175_stream_curation_restart" -> "q173's lifecycle killed-and-resumed through the composed foreachBatch body")

  val header: String =
    """# PLANS — physical-plan audit of headline queries (sf0.1, local[8])
      |
      |The brief's standard: after correctness, `.explain` every operator and
      |iterate until the plan is the one you'd want at 1000 executors. This
      |file is generated by `sbt "runMain graft.PlanDump"` — regenerate after
      |any plan-shaping change; never hand-edit.
      |
      |Since r10 the audit is SELF-ENFORCING: `PlanLintSpec` sweeps the
      |physical plan of EVERY `SparkEntry.queries` entry on each `sbt test`
      |run and fails on (1) any CartesianProduct, (2) a single-partition
      |shuffle of unbounded data-scale rows, (3) a sorted-limit sink that
      |is not TakeOrderedAndProject. This file remains the human-readable
      |narrative for the headline shapes; the lint supersedes it as the
      |currency check (staleness here can no longer hide a plan
      |regression).
      |
      |Queries WITHOUT a plan section are listed under "Skipped queries"
      |below with a one-line classification each (shape-duplicate of an
      |audited section, memoised ride, row-local projection, or a
      |full-StreamingQuery lifecycle whose load-bearing plan seams the
      |specs pin directly) — PlanDump refuses to run if any query is
      |neither audited nor classified.
      |
      |What to look for, and what the plans below show:
      |
      |- **q01 (agg)**: 5-column pruned `ReadSchema` on a 16-column table;
      |  `partial_sum`/`partial_count` before the single hash exchange —
      |  map-side combine; DECIMAL(18,2) accumulation in the aggregates.
      |- **q03 (3-way join+agg)**: both dimensions broadcast
      |  (`BroadcastHashJoin BuildRight`), null-filters pushed into every
      |  parquet scan (`PushedFilters: [IsNotNull(...)]`), aggregation again
      |  partial+final. No shuffle until the final group-by exchange.
      |- **q05 (semi-join)**: `LeftSemi` broadcast with the selective
      |  `o_orderstatus = F` predicate pushed to the scan.
      |- **q08 (window)**: `WindowGroupLimit ... Partial` below the exchange
      |  — Spark 4's rank-limit pushdown keeps 1 row per group per partition
      |  BEFORE shuffling, so the window never materialises full partitions.
      |- **q21 (dense-id edge remap)**: the dense-PK fast path — each
      |  (pk → id) mapping is a scan-level `(pk − min) AS id` projection with
      |  NO distinct/exchange/window, both mappings broadcast into the remap
      |  joins. The general path plans as range-exchange + per-partition rank
      |  + broadcast offsets; still no single-partition window.
      |- **q29 (fixed-point propagation)**: the FLAT layout — all edge
      |  types in one tagged frame behind one checkpoint, and per round ONE
      |  join (edges ⨝ src embeddings) + ONE per-tag fused groupBy(dst)
      |  computing every type's floor-mean AND the cross-type combine in a
      |  single aggregation exchange — all BIGINT arithmetic, so every
      |  aggregate map-side-combines exactly; 2 unrolled rounds. The init
      |  is STRUCTURAL (endpoint counts + spark.range ids): no node-table
      |  feature lineage anywhere in the plan.
      |- **q31 (text stats)**: one `WholeStageCodegen` span covering the
      |  whole projection over a 2-column pruned scan — regex stays in
      |  codegen.
      |- **q34 / q36 (LSH near-dedup)**: the scale-sensitive plans — the
      |  band/block self-join keys on (band, key) with `doc_id < doc_id` as
      |  a JOIN condition (not a post-filter), and both branches read the
      |  signatures from one eager localCheckpoint (a single tokenize+hash
      |  pass). At fixture size the joins plan as broadcasts (size-based —
      |  correct here); at 100 TB the same equi-join keys make them
      |  shuffle-hash exchanges on the short band key, and the id-keyed
      |  verify joins broadcast the tiny candidate list instead. q36
      |  additionally shows the XOR+popcount hamming prefilter BEFORE any
      |  array touch.
      |- **q35 (cosine top-k)**: the FUSED `graft_cosine` codegen expression
      |  (one pass, three accumulators) + broadcast of the 1-row query vector
      |  + `TakeOrderedAndProject` — no global sort, no triple array walk.
      |- **q40 (embedding near-dup)**: seeded-hyperplane bucket keys,
      |  bucket-key self-join, exact `graft_cosine` verify — no all-pairs.
      |- **q43 (trained serving)**: fixed-point propagation feeding the
      |  candidate scores; the constant seed key folds the seed-embedding
      |  join into a degenerate 1-row cross join (harmless — one row times
      |  the candidates), the trained head is a pure projection
      |  (`graft_dot` over the 3-wide feature array + intercept), and the
      |  ranking is `TakeOrderedAndProject` — no global sort.
      |- **q44 (prefix-filter dedup)**: prefixes explode only a (1−τ)
      |  fraction of each shingle set; the self-join keys on the shingle
      |  string with the length + positional filters AND the lossless
      |  hash-set Jaccard test (early-exiting integer merge walk) as
      |  RESIDUAL join predicates — junk pairs die inside the join stage;
      |  only true-ish pairs reach the distinct and the packed-string
      |  verification. Complete candidates, no LSH recall assumption.
      |  (The dump below is the LAZY pipeline: the public entry memoises
      |  the tiny pair set behind an eager localCheckpoint, whose own
      |  "plan" is just `Scan ExistingRDD` — the audit shows the plan the
      |  checkpoint executed.)
      |- **q47 (as-of join)**: NO Join operator anywhere — both sides union
      |  into one tagged frame and a single `last(_, ignoreNulls)` window
      |  resolves every match: exactly one `Exchange hashpartitioning` on
      |  the key (the naive formulation is a per-key range join or a
      |  BroadcastNestedLoopJoin).
      |- **q48 (stratified sample)**: `WindowGroupLimit ... Partial` below
      |  the exchange — at most k rows per stratum survive each map
      |  partition, so hot strata never materialise.
      |- **q55 (bucketed-store propagation)**: every scan is a bucketed
      |  catalog table (`Bucketed: true`); the per-round edges ⨝ src
      |  embeddings join reads bucket i against bucket i — no Exchange on
      |  the |E| side (at fixture size the tiny h side broadcasts; with
      |  two large sides the SMJ is exchange-free on BOTH, which is the
      |  100 TB story — BucketedStoreSpec pins that plan).
      |- **q56 (vocab top-k)**: explode → partial-combined count →
      |  `TakeOrderedAndProject` — the top-100 cut never materialises a
      |  global sort.
      |- **q61 (dim-4 vector propagation)**: the general-width path — the
      |  per-type mean runs as 4 codegen'd per-dim SUM columns (no array
      |  UDAF in the aggregate), the cross-type combine is the fused
      |  `graft_vec_combine` expression; one join + two aggregations per
      |  edge type, dimensions broadcast.
      |- **q62 (repetition filter)**: explode to (doc, trigram) →
      |  `partial_count` before the one exchange on the pair key → per-doc
      |  final agg; the trigram build stays inside codegen.
      |- **q63 (decontamination)**: the corpus gram inventory dedups with
      |  ONE exchange on (doc, gram); the benchmark gram set broadcasts
      |  into the overlap join (`BroadcastHashJoin`), so the corpus side
      |  is never shuffled again.
      |- **q45 (fixed-point k-means IVF)**: the serving tail over the
      |  integer-fit centroids — broadcast centroid cross join, one
      |  window argmax per vector, broadcast probes, TakeOrdered final
      |  ranking (the memoised fit itself is a driver-looped sequence of
      |  broadcast-assign + vector-sum aggregation jobs, one per
      |  iteration — only centroid rows ever reach the driver).
      |- **q64 (data mixing)**: NO per-group global window — the
      |  admission prefix sum is a range exchange + a tiny
      |  per-(partition, group) offsets frame broadcast back + LOCAL
      |  windows on (partition, group), so a hot language spreads over
      |  the cluster instead of funneling through one task.
      |- **q65 (sequence packing)**: the same kernel with NO group — the
      |  whole corpus's concat-and-chunk layout from one range exchange
      |  on the seeded order + per-partition offset broadcast + LOCAL
      |  windows; the naive formulation is a single-task global
      |  cumulative window over every document. Chunk arithmetic is
      |  integral `div`s in codegen.
      |- **q66 (PII anonymization)**: one `WholeStageCodegen` span over
      |  the pruned scan — sha2 pseudonym, regex redaction, and the
      |  integer-cents bucket generalization are all row-local; no
      |  exchange anywhere.
      |- **q67 (exact substring dedup)**: grams are a per-row HOF
      |  `transform` (each exploded row carries one k-token string, never
      |  the whole array), the corpus-wide occurrence count is the one
      |  gram-key exchange, and the interval merge windows only over
      |  DUPLICATED starts — a small fraction of the corpus — before a
      |  broadcast-joinable per-doc aggregate.
      |- **q70 (DSIR importance weights)**: the corpus is tokenised and
      |  hashed ONCE — the (doc,tgt,bin) count is the single data-sized
      |  exchange (map-side-combined, ≤ bins rows per doc, materialised
      |  behind an eager localCheckpoint in the public entry), the
      |  O(bins) weight table derives from it in a tiny aggregate and
      |  BROADCASTS into the scoring join; even n_tok is recovered as
      |  sum(tf), so NO second corpus scan exists anywhere. The dump
      |  below is the lazy pipeline the checkpoint executes (its two
      |  scans are the one tf subtree read twice).
      |- **q71 (k-NN graph)**: ONE broadcast-centroid window yields both
      |  each vector's inverted-list assignment (rank 1) and its probe
      |  set (rank ≤ nProbe); candidates are probes ⨝ lists on the
      |  CLUSTER key — |V|·nProbe·listsize pairs, never all-pairs — and
      |  the per-vector top-k rank plans as WindowGroupLimit, so hot
      |  lists never materialise full partitions.
      |- **q72 (k-NN refinement)**: the 2-hop expansion self-joins the
      |  k·|V| EDGE LIST on the neighbor key — exchanges scale with
      |  edges, never with vector payloads; candidates are ≤ k + k² per
      |  vector at any corpus size, and the re-rank joins vectors back
      |  by id before another WindowGroupLimit top-k.
      |- **q73 (fixed-point PageRank)**: the dump is ONE LAZY round (the
      |  plan every round's checkpoint executes — the entry materialises
      |  rounds behind per-round barriers): one |E|-side join with the
      |  rank frame and one `groupBy(dst)` whose `partial_sum` combines
      |  map-side, so the aggregation exchange moves O(|V|) not O(|E|);
      |  the contribution arithmetic (`17·r div 20·deg`) stays inside
      |  whole-stage codegen.
      |- **q75 (bigram-LM quality)**: ONE corpus tokenise pass into the
      |  compact per-doc bigram-count frame (checkpointed; the dump is
      |  the lazy pipeline) — model counts, the vocabulary scalar (1-row
      |  broadcast cross join), and the (w1,w2) scoring join all derive
      |  from that frame, so the text is scanned exactly once.
      |- **q76 (bounded k-core)**: the dump is ONE LAZY peel round (the
      |  entry materialises rounds behind barriers): a map-side-combined
      |  degree aggregate plus two LeftSemi joins of the shrinking edge
      |  list against the survivor set — the edge frame only shrinks,
      |  so round cost is monotone non-increasing at any scale.
      |- **q77 (label propagation)**: the dump is ONE LAZY round — an
      |  |E|-side join bringing neighbour labels, a map-side-combined
      |  `groupBy(node, label)` count, and the per-node top-1 planned as
      |  a partial-before-exchange window cut, so a hub never
      |  materialises its full label multiset.
      |- **q78 (edge Jaccard)**: q74's oriented enumeration feeding a
      |  3-edge explode and a map-side-combined per-edge count; degrees
      |  join at |E|-scale — common-neighbour features without ever
      |  materialising a neighbourhood list.
      |- **q79 (association rules)**: per-basket dedup is one
      |  map-side-combined exchange; the pair expansion self-joins on
      |  the BASKET key (fan-out bounded by basket size, never a global
      |  cross); support is a partial-combined (a,b) count and the
      |  basket total N rides a 1-row broadcast cross join.
      |- **q80-q82 (event analytics)**: the Markov matrix pays ONE
      |  per-key window exchange and aggregates map-side into a
      |  |types|²-row model; the funnel's per-step scans push the type
      |  filter into the parquet scan and join only the |keys| frontier;
      |  retention dedups (key, day) BEFORE joining, so the cohort join
      |  moves |keys|·|active days| rows, never raw events.
      |- **q74 (triangles)**: the wedge enumeration self-joins the
      |  degree-ORIENTED edge list on the shared tail — out-degrees are
      |  arboricity-bounded (O(√|E|)), so a power-law hub cannot emit
      |  deg² wedges. The r7 PACKED shape (TRI_AB_r7.md, 1.85× on the
      |  enumeration): the (deg, id) orientation rank rides ONE long
      |  `ord = deg·S + id` and the closure key ONE long `pk = v·S + w`,
      |  so the dump shows the 41M-row wedge stream as two
      |  BroadcastHashJoins over single-long keys — the wedge join on
      |  `u`, the closure as LeftSemi on `pk` (LongHashedRelation fast
      |  path) — under the measured edge gate; past the gate the same
      |  keys ride shuffle joins. Per-node count is explode →
      |  partial-combined groupBy; SkewStressSpec pins the hub bound.
      |- **q69 (duplicated-span removal)**: the islands pass windows only
      |  over DUP STARTS (the small fraction q67 isolates), the merged
      |  intervals aggregate to one short list per affected doc, and the
      |  cut is a single index-aware HOF `filter` over the token array —
      |  the corpus is never exploded a second time and never joined
      |  per-token.
      |- **q68 (semantic dedup)**: centroid assignment is a broadcast
      |  join (no shuffle of the corpus), and the quadratic pair step is
      |  a self-join on the CLUSTER key — one exchange, pairs generated
      |  within clusters only, so the all-pairs blow-up the naive
      |  formulation pays never appears in the plan; cluster size is the
      |  k-means k, the knob that bounds it at any scale. The public
      |  entry materialises the assignment once (eager localCheckpoint —
      |  three consumers would re-run the corpus scan); the dump below is
      |  the lazy pipeline, the plan that checkpoint executes.
      |- **q84 (rollup)**: the three grouping levels (detail, subtotal,
      |  grand total) are ONE `Expand` feeding ONE partial+final
      |  aggregate — rows triple BEFORE the map-side combine collapses
      |  them per partition, so the exchange still moves group-sized
      |  data, and the scan stays 2-column pruned.
      |- **q85 (BM25)**: TF-IDF's plan with the corpus pass explicit —
      |  the public entry materialises the compact (doc, term, tf)
      |  frame behind an eager localCheckpoint, from which dl, df, the
      |  corpus scalars, and the scoring join all derive (the dump is
      |  the LAZY pipeline: its repeated tf subtrees are what the
      |  checkpoint exists to collapse); the O(|vocab|) df frame and
      |  1-row corpus scalars broadcast into the scoring join; the
      |  per-doc top-k plans as WindowGroupLimit.
      |- **q86 (HashMin components)**: the dump is ONE LAZY round (the
      |  entry pins rounds behind barriers like the q73/q76/q77
      |  family) — the |E|-side neighbour-label join unioned with the
      |  label frame, then `partial_min` before the one exchange, so
      |  per-round shuffle volume is O(|V|).
      |- **q87 (corpus card)**: the dup probe groups and joins on
      |  sha256(text) — a 64-hex shuffle key, the document payload never
      |  shuffles; both the hash count and the per-source rollup combine
      |  map-side (the distinct-lang count is the one expand).
      |- **q88 (anomaly flags)**: ONE exchange on the entity key, ONE
      |  window pass computing count/Σx/Σx² in a single frame traversal,
      |  and the z² test as pure codegen projection — no join, no
      |  division, no second pass.
      |- **q89 (fuzzy names)**: each string explodes into len+1 deletion
      |  variants (bounded fan-out, no quadratic step anywhere); the
      |  self-join keys on the variant with `id_a < id_b` as a JOIN
      |  condition, and the verify is the THRESHOLDED `levenshtein(_,_,1)`
      |  (banded DP, O(len) cells) evaluated INSIDE the join stage — the
      |  over-generated distance-2 candidates die before any exchange,
      |  so the one dedup shuffle moves only surviving (id,id,dist)
      |  triples, never candidate strings — the SymSpell shape, complete
      |  by construction. (The dump is the lazy pipeline; the entry
      |  memoises it behind a checkpoint that q90's grouping shares.)
      |- **q92 (bounded BFS)**: ONE LAZY frontier round — the layer
      |  joins only the previous frontier against the edge list, dedups
      |  with a map-side-combined distinct, and anti-joins the visited
      |  set (`LeftAnti`); message volume is edges-incident-to-frontier,
      |  never |E|, and no round touches all of |V|.
      |- **q94 (bounded Bellman-Ford)**: ONE LAZY relaxation — the edge
      |  list joins only the Δ frontier (nodes improved last round),
      |  `partial_min` runs before the one exchange (O(receivers), not
      |  O(messages)), and a full-outer |reached|-side join folds the
      |  improvements in; message volume collapses as distances settle.
      |- **q95 (drift monitor)**: the events scan is read ONCE with both
      |  periods' conditional counts in the same partial aggregate; the
      |  second exchange moves only the |groups|·|bins| histogram, and
      |  the TV/χ² reductions combine map-side — no join or window ever
      |  touches a data row.
      |- **q93 (per-dim feature audit)**: posexplode to (dim, w) then ONE
      |  map-side-combined groupBy — the exchange moves O(dims) rows, not
      |  the corpus; the scaled-long image stays in codegen.
      |- **q96 (int8 quantization)**: a pure row-local codegen projection
      |  (amax codec + per-element codes) — NO exchange anywhere in the
      |  plan; embarrassingly parallel at any corpus scale.
      |- **q97 (canonical docs)**: the winner-per-group rank plans as
      |  `WindowGroupLimit ... Partial` below the exchange (hot dedup
      |  groups never materialise), group totals combine map-side, and
      |  the quality join rides the component frame, not the corpus.
      |- **q98 (JL projection)**: the dims×8 sign matrix is CONSTANTS
      |  folded into the expression tree — one codegen pass + posexplode,
      |  no join, no broadcast variable, no shuffle.
      |- **q99 (collocations)**: ONE tokenise+explode pass into the
      |  partial-combined (w1, w2) count; slot marginals and the 1-row
      |  broadcast total are O(vocab) aggregates OVER that frame — the
      |  corpus is never re-scanned, and the scoring joins are
      |  model-sized.
      |- **q100 (PQ/ADC)**: per-block coding is one `BroadcastHashJoin`
      |  against blocks×nCodes centroid rows + the per-(id, blk) argmax
      |  window; the ADC table joins as a broadcast of blocks×nCodes
      |  scalars and the ranking is `TakeOrderedAndProject` — a query
      |  never shuffles the corpus, only the per-id score agg exchanges.
      |- **q101 (PQ recall)**: the PQ top-k and the brute-force top-k are
      |  both k-row frames before their equi-join — the recall count is a
      |  join of two `TakeOrderedAndProject` outputs, not a re-scan.
      |- **q102 (IVF+PQ)**: the coarse-quantizer probe filter
      |  (`BroadcastHashJoin` on `cid` against nProbe rows) prunes the
      |  corpus BEFORE the ADC score join, so the ranking input is
      |  ~nProbe/nCentroids of the codes — the deployed serving shape.
      |- **q103 (PQ serving from the ingested store)**: the corpus enters
      |  as a checkpointed `(id, codes)` scan — NO raw-vector reads, no
      |  codebook fit in the serving plan; posexplode + the broadcast ADC
      |  table + one per-id sum exchange + `TakeOrderedAndProject`. This
      |  is the plan a deployed PQ index runs per query.
      |- **q109 (random walks)**: the adjacency is built once as per-node
      |  SORTED NEIGHBOUR ARRAYS (one groupBy exchange — r19, replacing
      |  the r6 build's two window exchanges) and checkpointed, shared
      |  with q115 via the session memo; every step is a single
      |  equi-join of the O(#walks) frontier on the current node with
      |  the uniform draw resolved in-row (`element_at`, O(1)) — no
      |  per-step exchange, no window.
      |- **q110 (BPE training)**: ONE corpus tokenise pass into the
      |  word-frequency table; each round is one hash(word) exchange
      |  serving all its window passes, a map-side-combined pair count,
      |  and a `TakeOrderedAndProject` 1-row winner re-entering as a
      |  broadcast — corpus size stops mattering after the first pass.
      |- **q115 (node2vec)**: the second-order step is two O(#walks)
      |  joins against the shared neighbour-array adjacency (cur's
      |  candidates, prev's neighbourhood) with the weighted cumulative
      |  draw computed by a compiled merge-scan kernel inside the row
      |  (O(deg(cur)+deg(prev)) unboxed ops — r19; the r6–r18 shape
      |  materialised the O(Σ deg) candidate fan-out through a per-walk
      |  running-sum window exchange plus a membership join, 1–2 M
      |  rows/step at sf0.1, all now in-row array compute).
      |- **q116 (walk PMI)**: marginals are O(|V|) aggregates over the
      |  checkpointed pair table re-joined on their own keys; the corpus
      |  total broadcasts as one row; the cut is `TakeOrderedAndProject`.
      |- **q118 (temporal walks)**: each step joins the pinned frontier
      |  to per-node (day, neighbour)-sorted PARALLEL ARRAYS on the
      |  current node; the `d ≥ clock` residual is a compiled
      |  binary-search kernel over the day array (valid candidates are a
      |  suffix — O(log deg) per walk-row, r19; the r6–r18 shape
      |  shuffled the O(Σ deg) candidate rows through a per-walk
      |  count+rank window). Frontiers checkpoint per step like
      |  q109/q115.
      |- **q122 (stride chunks)**: token counts, the closed-form chunk
      |  count, and a `sequence` explode — all row-local projections
      |  over one pruned scan; ZERO exchanges in the whole plan.
      |- **q123 (personalized PageRank)**: the seed indicator joins as a
      |  BROADCAST; each round ships only the `r ≠ 0` frontier into the
      |  contribution join, so at 3 rounds the plan moves the seeds'
      |  ≤3-hop ball instead of the whole graph — the locality that
      |  makes PPR cheap at 100 TB where global PageRank touches
      |  everything.
      |- **q125 (containment)**: candidates come from the RARE-shingle
      |  prefix (AllPairs df order) equi-joined against the full posting
      |  list — per-key fan-out tracks rare-key document frequency, not
      |  corpus² (SCALE_r12.md measured candidate volume exactly
      |  corpus-LINEAR at K = 1/2/4) — and the exact verify is a
      |  packed-string merge walk against two per-doc sides whose
      |  broadcast is GATED on the measured doc count (above the gate the
      |  verify is a shuffled equi-join on doc id; SCALE_r12.md shows the
      |  two plans result-identical at equal cost). This plan carries the
      |  round-11 REUSABLE FIX CLASS, visible as two nodes: (a) the
      |  explicit fixed-width `Exchange REPARTITION_BY_NUM` feeding the
      |  verify — a UDF-bound stage fed by a small-BYTE shuffle gets
      |  coalesced to ONE task by AQE (the bytes lie about the work: 34 s
      |  single-task verify before the fix), so UDF-heavy stages get an
      |  explicit width the optimizer cannot fold; and (b) the merge-walk
      |  UDF marked `asNondeterministic` as an optimizer fence — Catalyst
      |  project-collapse otherwise DUPLICATES the UDF into every
      |  consumer (filter + projection = the walk evaluated twice).
      |- **q126 (streaming near-dedup)**: not a DataFrame dump — the entry
      |  certifies a REAL StreamingQuery lifecycle (3 staged micro-batches
      |  through foreachBatch against the parquet signature store), so its
      |  bench cost is stream machinery (startup, per-batch planning,
      |  store IO), not operator work: ~4 s at fixture scale like q106,
      |  inherent to exercising the real path. The per-batch data plane is
      |  new×all on the LSH band index — |batch| signature computations +
      |  one equi-join on short band keys — never all×all; since r12 the
      |  store is foldable (`DocIngest.compact`: latest-batch-wins per
      |  doc, eviction horizon) so the partition list the batch reads
      |  stays bounded.
      |- **q137 (bucketed streaming near-dedup)** — the flagship streaming
      |  plan. q126's data plane pays one hidden corpus-scale cost: the
      |  store side of the candidate SortMergeJoin re-shuffles the WHOLE
      |  accumulated index on (band, key) every micro-batch (measured
      |  exactly corpus-linear: 2.81 MB of exchange per store replica,
      |  SCALE_r13.md §1). q137 keeps the signature index as a catalog
      |  table BUCKETED on exactly the join keys, so the store scan is
      |  already hash-distributed: the only per-batch exchange moves the
      |  |batch| new signatures into the bucket layout — measured
      |  batch-constant (2.3 MB at 1×/10×/50× store). The candidate join
      |  splits (new × store-table) ∪ (new × new) so the union cannot
      |  erase the scan's bucketed distribution. Replay is APPEND-ONLY +
      |  own-batch exclusion (datasource tables can't combine buckets
      |  with dynamic partition overwrite): a replayed batch recomputes
      |  against exactly the pre-batch index, and its duplicate appended
      |  rows only produce candidate duplicates the pair `distinct`
      |  collapses — benign re-work, never wrong pairs. Since r13 the
      |  table is also MAINTAINABLE: `DocIngest.compactBucketed` rebuilds
      |  it to ONE file per bucket (latest-wins fold, repartition on the
      |  bucket hash, rename swap), after which the scan reports its
      |  declared `sortBy(band,key)` and the store side of the SMJ
      |  carries neither exchange NOR sort (StreamingSpec plan-asserts
      |  both; the sort elimination is worth ~3× on the candidate wall
      |  once the store dominates, SCALE_r13.md). q141 certifies the
      |  whole maintenance pass inside a live StreamingQuery lifecycle
      |  against the same pairs oracle; q142 applies the same bucketed-
      |  index + fold shape to the semantic-dedup ingest (item table
      |  bucketed on the cluster key, count_distinct prior counts so
      |  replay-appended duplicates cannot inflate a verdict).
      |- **q134/q135 (trained quality classifier)**: the fit (q134) is
      |  Spark ML L-BFGS over dim-64 hashed token counts — one
      |  treeAggregate per iteration, gradient width scaling with the
      |  cluster via the same coalesce target as q28; the envelope counts
      |  are one map-side-combined aggregate. Serving (q135) is a pure
      |  row-local projection over one pruned scan — frozen integer head,
      |  ZERO exchanges.
      |
      |At 100 TB the same shapes hold: scans prune columns and push
      |predicates, dimensions broadcast, aggregations combine map-side, the
      |one unavoidable exchange per group-by/join keys on the natural key,
      |and AQE (on by default) coalesces post-shuffle partitions and splits
      |skewed ones.
      |
      |## How the bench attributes cost (read before comparing rounds)
      |
      |`graft.Bench` runs REPS full passes and reports per-query MEDIANS.
      |At the START of every pass it clears the session memo registry
      |(`Memos.clear`) and the plan cache (`catalog.clearCache`), so each
      |pass pays first-touch costs (dense-PK probes, checkpointed
      |propagation barriers, dedup pair sets, k-means fits) exactly once —
      |but WITHIN a pass, queries run alphabetically and share memos, so a
      |per-query number is that query's MARGINAL cost given everything an
      |alphabetically-earlier query already touched. Two consequences:
      |(1) a query's number moves when a memo it used to inherit moves to
      |a different owner — compare totals and medians, not single queries,
      |across refactors; (2) numbers from the pre-r5 bench (one-shot, NO
      |per-pass clearing) are systematically LOWER for late-alphabet
      |graph queries, which rode caches the old bench never charged them
      |for — r3's q46 = 2.30 s is that artifact; the same query's honest
      |memo-cold marginal cost is ~3.3 s (PROP_AB_r6.md has the
      |measurements: per-type ≈ flat dispatch, memo-key canonicalization
      |≤0.01 s, re-baselined target ≤4.0 s). The bench's "noise_pct"
      |spread excludes pass 1 (structurally colder: JIT + codegen-class
      |compilation are per-JVM, not per-pass); "pass1_extra_pct" keeps the
      |excluded warm-up visible.
      |""".stripMargin

  /** Renumber expression ids (`#123`) and `plan_id=` values by first
    * appearance within one plan. Both come from JVM-global counters, so
    * the raw numbers shift with everything that ran before; renumbered, a
    * regenerated PLANS.md differs from the committed one only where a
    * plan did. */
  def stableIds(plan: String): String = {
    def renumber(s: String, re: scala.util.matching.Regex): String = {
      val seen = scala.collection.mutable.Map.empty[String, Int]
      re.replaceAllIn(s, m => m.group(1) + seen.getOrElseUpdate(m.group(2), seen.size + 1))
    }
    renumber(renumber(plan, "(#)([0-9]+)".r), "(plan_id=)([0-9]+)".r)
  }

  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.1")
    val out = args.lift(1).getOrElse("PLANS.md")
    val spark = SparkSession.builder()
      .master("local[8]")
      .config("spark.sql.shuffle.partitions", "8")
      .config("spark.sql.session.timeZone", "UTC")
      // single-file-bucket scans (BucketedStore / compactBucketed) report
      // their declared sortBy, dropping the SMJ sort on the store side;
      // multi-file buckets are guarded (bucketsContainSingleFile) either way
      .config("spark.sql.legacy.bucketedTableScan.outputOrdering", "true")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val sections = audited.map { name =>
      // q44's public entry memoises behind an eager localCheckpoint, so
      // its own plan is just `Scan ExistingRDD` — audit the lazy pipeline
      // instead, which is the plan the checkpoint executed.
      val df =
        if (name == "q44_dedup_jaccard")
          graft.ext.Dedup.nearDupJaccardExactLazy(
            Tables.load(spark, sfDir, "documents"), "doc_id", "text")
        else if (name == "q68_semantic_dedup")
          graft.ext.Similarity.semanticDedup(
            Tables.load(spark, sfDir, "embeddings"), "vec_id", "embedding",
            simThresholdFixed = 300000000000L, checkpointAssigned = false)
        else if (name == "q70_dsir_weights")
          graft.ext.Selection.dsirWeights(
            Tables.load(spark, sfDir, "documents"), "doc_id", "text",
            org.apache.spark.sql.functions.col("lang") === "en",
            checkpointTf = false)
        else if (name == "q73_pagerank") {
          // rounds materialise behind per-round checkpoints, so the query's
          // own plan is a checkpoint scan — audit ONE lazy round instead
          // (the plan every round's checkpoint executes)
          import org.apache.spark.sql.functions.col
          val fwd = Tables.load(spark, sfDir, "lineitem")
            .select((col("l_partkey") * 2).as("src"),
              (col("l_suppkey") * 2 + 1).as("dst")).distinct()
          graft.graph.Analytics.pageRankFixed(
            fwd.unionByName(fwd.select(col("dst").as("src"), col("src").as("dst"))),
            iters = 1, checkpoint = false)
        } else if (name == "q74_triangles")
          // the entry consumes the memoised triangle frame (a checkpoint
          // scan) — audit the live enumeration WITH checkpoint on, so the
          // measured gates fire and the dump shows the production plan:
          // packed single-long keys, both wedge joins as
          // BroadcastHashJoins (the closure as LeftSemi), stats on top
          // (the pinned e0/deg/oriented appear as checkpoint scans; the
          // enumeration itself is lazy above them)
          graft.graph.Analytics.triangleStats(
            SparkEntry.partPairs(spark, sfDir), assumeCanonical = true,
            tris = Some(graft.graph.Analytics.triangles(
              SparkEntry.partPairs(spark, sfDir), assumeCanonical = true,
              checkpoint = true)))
        else if (name == "q76_kcore")
          graft.graph.Analytics.kCoreBounded(
            SparkEntry.partPairs(spark, sfDir),
            k = 10, rounds = 1, checkpoint = false)
        else if (name == "q77_label_prop")
          graft.graph.Analytics.labelPropagation(
            SparkEntry.partPairs(spark, sfDir),
            rounds = 1, checkpoint = false)
        else if (name == "q89_fuzzy_names")
          // the entry memoises behind a checkpoint (q90 shares it) —
          // audit the lazy variant-join + verify pipeline
          graft.ext.Fuzzy.editOnePairs(
            Tables.load(spark, sfDir, "customer"), "c_custkey", "c_name")
        else if (name == "q92_bfs_hops") {
          import org.apache.spark.sql.functions.{asc, col, count, desc, lit}
          val pp = SparkEntry.partPairs(spark, sfDir)
          val deg = pp.select(col("src").as("id"))
            .union(pp.select(col("dst").as("id")))
            .groupBy("id").agg(count(lit(1)).as("deg"))
          graft.graph.Analytics.bfsBounded(
            pp, deg.orderBy(desc("deg"), asc("id")).limit(10).select("id"),
            rounds = 1, checkpoint = false, assumeCanonical = true)
        } else if (name == "q94_sssp_support") {
          // rounds checkpoint like the q73/q86 family — audit ONE lazy
          // Δ-relaxation (the plan every round's checkpoint executes),
          // over the lazily-built weighted pair list (the entry memoises
          // it behind a checkpoint shared with q79/q83)
          import org.apache.spark.sql.functions.{asc, col, count, desc, expr, lit}
          val li = Tables.load(spark, sfDir, "lineitem")
            .select(col("l_orderkey").as("bk"), col("l_partkey").as("it"))
            .distinct()
          val w = li.join(li.select(col("bk"), col("it").as("it2")), Seq("bk"))
            .filter(col("it") < col("it2"))
            .groupBy(col("it").as("a"), col("it2").as("b"))
            .agg(count(lit(1)).as("w"))
          val deg = w.select(col("a").as("id"))
            .union(w.select(col("b").as("id")))
            .groupBy("id").agg(count(lit(1)).as("deg"))
          graft.graph.Analytics.ssspBounded(
            w.select(col("a"), col("b"), expr("1000000L div w").as("cost")),
            deg.orderBy(desc("deg"), asc("id")).limit(10).select("id"),
            srcCol = "a", dstCol = "b", rounds = 1,
            checkpoint = false, assumeCanonical = true)
        } else if (name == "q85_bm25")
          graft.ext.Ranking.bm25TopTerms(
            Tables.load(spark, sfDir, "documents"), "doc_id", "text",
            k = 3, checkpointTf = false)
        else if (name == "q86_cc_bounded")
          graft.graph.Analytics.connectedComponentsBounded(
            SparkEntry.partPairs(spark, sfDir),
            rounds = 1, checkpoint = false, assumeCanonical = true)
        else if (name == "q75_lm_quality")
          graft.ext.Selection.lmScore(
            Tables.load(spark, sfDir, "documents"), "doc_id", "text",
            checkpointTf = false)
        else if (name == "q99_collocations")
          graft.ext.Ranking.collocations(
            Tables.load(spark, sfDir, "documents"), "doc_id", "text",
            checkpointTf = false)
        else SparkEntry.queries(name)(spark, sfDir)
      val plan = df.queryExecution.explainString(
        org.apache.spark.sql.execution.SimpleMode)
      s"===== $name =====\n${stableIds(plan)}"
    }
    // self-describing exclusions (r17 verdict Next #5) — and complete:
    // a query neither audited nor classified fails the dump loudly
    val classified = skipped.map(_._1).toSet
    val unclassified = SparkEntry.queries.keySet -- audited.toSet -- classified
    require(unclassified.isEmpty,
      s"queries neither audited nor skip-classified: " +
        s"${unclassified.toSeq.sorted.mkString(", ")}")
    val stale = (audited.toSet ++ classified) -- SparkEntry.queries.keySet
    require(stale.isEmpty,
      s"audit/skip lists name unknown queries: " +
        s"${stale.toSeq.sorted.mkString(", ")}")
    val overlap = audited.toSet intersect classified
    require(overlap.isEmpty,
      s"queries both audited and skip-classified: " +
        s"${overlap.toSeq.sorted.mkString(", ")}")
    val skipSection =
      "\n## Skipped queries — why no plan section\n\n" +
        "One line per non-audited query (PlanLintSpec still sweeps every\n" +
        "plan on each `sbt test`; lifecycle queries' load-bearing seams\n" +
        "are pinned by StreamingSpec plan asserts):\n\n" +
        skipped.sortBy(_._1).map { case (q, why) => s"- `$q` — $why" }
          .mkString("\n") + "\n"
    Files.writeString(Paths.get(out),
      header + "\n" + skipSection + "\n" + sections.mkString("\n"))
    println(s"[plandump] wrote ${audited.size} plans + " +
      s"${skipped.size} skip classifications to $out")
    spark.stop()
  }
}
