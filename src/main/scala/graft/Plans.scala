package graft

import java.nio.file.{Files, Paths}

import graft.plans.AsOfJoinExec
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.plans.physical.{HashPartitioning, RangePartitioning,
  RoundRobinPartitioning, SinglePartition}
import org.apache.spark.sql.execution.{CollectLimitExec, CollectTailExec, FileSourceScanExec,
  FormattedMode, GenerateExec, GlobalLimitExec, LocalLimitExec, SortExec, SparkPlan,
  TakeOrderedAndProjectExec}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.aggregate.BaseAggregateExec
import org.apache.spark.sql.execution.columnar.InMemoryTableScanExec
import org.apache.spark.sql.execution.exchange.{BroadcastExchangeLike, ReusedExchangeExec,
  ShuffleExchangeLike}
import org.apache.spark.sql.execution.joins.BaseJoinExec
import org.apache.spark.sql.execution.window.{WindowExec, WindowGroupLimitExec}

/** The one plan record and the one plan-dump entry point.
  *
  * The record is [[signature]]: the executed plan's node census, one
  * sorted `Node=count` list per query. `PLANS.md` holds one signature line
  * for every registry query, taken at sf0.001, and RegistrySpec recomputes
  * each one in the test named after its query, so a plan change shows up
  * as a failing test and, once regenerated, as a one-line diff.
  *
  *   sbt "runMain graft.Plans"                                  # PLANS.md
  *   sbt "runMain graft.Plans <sfDir> <outDir> <suffix> <name,...>"
  *
  * The second form writes `explain("formatted")` of each named query,
  * before execution and through [[canonical]], to
  * `<outDir>/<name>_<suffix>.txt` (the `plans/r{N}/<name>_{before,after}.txt`
  * evidence of an optimization round), on `SPARK_GRAFT_CPUS` cores
  * (default 32). An unknown name exits 1 before anything runs.
  *
  * SELECTION RULE for the notes: every registry query whose 100 TB scale
  * claim rests on a PLAN property carries one in [[annotated]], printed
  * under its signature line — operationally, every query PlanSpec asserts
  * a physical/optimized-plan property for, plus family representatives.
  * RegistrySpec scrapes PlanSpec and requires each of those queries here.
  * A query without a note is excluded by rule, not by omission: its scale
  * argument is value-level (exact integer arithmetic, bounded output,
  * reuse of an annotated family member's shape).
  */
object Plans extends AdaptiveSparkPlanHelper {

  /** query → the scale property a reader should verify in its plan. */
  val annotated: Seq[(String, String)] = Seq(
    "q01_pricing_summary" ->
      "Column pruning: ReadSchema carries 7 of lineitem's 11 columns; one hash aggregate pair (partial+final) around one exchange.",
    "p4_filter_predicate" ->
      "Predicate pushdown: the filter appears in PushedFilters at the parquet scan, not as a post-scan Filter re-reading everything.",
    "q05_revenue_by_nation" ->
      "Star join: every dimension side is a BroadcastHashJoin build — the lineitem fact side is never shuffled for a join.",
    "j9_asof_join" ->
      "As-of join through the native exec (backward): AsOfJoin declares ClusteredDistribution(user_id) + per-child (key, ts) sort orders, so each side gets one exchange and one sort carrying only its own columns; no Window, no range cross-product.",
    "w7_range_frame" ->
      "Window with RANGE frame: a single Window operator over one exchange; no per-frame re-sort.",
    "a3_last_per_key" ->
      "max_by aggregate: partial HashAggregate before the exchange (map-side combine), final after.",
    "d3_minhash_lsh" ->
      "MinHash LSH: the verified-pair set is a write-once BUCKETED materialized view (r8) — this plan is its scan + the output sort; the DERIVATION's properties (signatures are ONE HashAggregate, candidates an equi-join on (band, bkey), no cartesian) are asserted directly on MinHashLSH.nearDupPairs in PlanSpec.",
    "d5_dup_clusters" ->
      "Duplicate clusters: reads the bucketed label materialized view (doc_id, cluster) — no hashpartitioning exchange, no corpus rescan; the LSH pipeline and connected components ran ONCE at view-build time, and the d3 pair view's bucket layout satisfies groupBy(a) with no Exchange.",
    "e1_cosine_topk" ->
      "Vector math: graft_dot runs inside WholeStageCodegen (*(n) spans); top-k is TakeOrderedAndProject, never a global sort.",
    "c1_contamination" ->
      "Contamination: inverted-index equi-join on shingle with map-side-combined overlap counts; eval/train sides reuse one cached shingle scan.",
    "x9_seq_packing" ->
      "Sequence packing: exactly one exchange (the shard co-location); per-shard packing is a single MapGroups pass over sorted groups.",
    "c2_corpus_build" ->
      "End-to-end corpus build: filter → fp window dedup → split projection → census, three keyed exchanges total.",
    "c3_mixture_build" ->
      "Mixture build: the 3-row domain census broadcasts back onto the narrow admission filter — the corpus is never shuffled, only aggregated.",
    "x11_bigram_surprisal" ->
      "Bigram LM scoring: the bigram census joins on its natural (w1,w2) key; the vocab-bounded unigram census and the 1-row total are BroadcastHashJoin builds.",
    "d8_incremental_neardup" ->
      "Incremental near-dup admission: batch band keys probe stored band keys via an equi-join on (band, bkey) — batch x census only, no self-join of the stored corpus.",
    "e8_pq_adc" ->
      "PQ-ADC: the 32-row code-distance table is a BroadcastHashJoin build; the per-vector distance is a map-side-combined sum of 4 lookups — no full-vector math at query time.",
    "x13_bm25" ->
      "BM25: df and avgdl censuses are BroadcastHashJoin builds; term frequencies shuffle once on (doc, term); quantized contributions partial-aggregate before the doc exchange.",
    "m4_media_dedup" ->
      "Frame-signature media dedup: one Generate (frame explode) into one map-side-combined signature HashAggregate; candidates from an equi-join on (k, byte) — media bytes never shuffle.",
    "a19_sketch_rollup" ->
      "Mergeable sketches: per-day hll_sketch_agg with partial aggregation before the day exchange; the weekly rollup unions sketch bytes only — raw events appear in exactly one scan.",
    "d4_simhash" ->
      "Sorted-neighborhood candidates: the fused graft_shingles/tokenHash scan feeds one signature HashAggregate; rank windows are PARTITIONED by (rotation, block) — no single-partition sort — and every neighbor pairing is an equi-join; candidate volume bounded at 4nW by construction.",
    "d21_simhash_wide" ->
      "Wide-signature near-dup (60-bit, 8 near-equal bands): signatures read from the shared bucketed dual-signature view (r11 — no inline token hashing; the verify-side joins are bucket-local on doc_id), candidates from a (band, value) equi-join with two-phase pair-distinct, exact popcount verify — no cartesian, only 8-byte signatures shuffle.",
    "d22_simhash_dual" ->
      "Dual-long 120-bit near-dup (8 exact 15-bit bands): same shape as d21 off the SAME dual-signature view (both longs) with the combined two-long popcount verify; the band equi-join's per-bucket work drops with the 8/2^15 collision floor.",
    "m10_media_dedup_wide" ->
      "Wide-signature media near-dup: the 60-bit frame-signature table is the shared bucketed view (r11 — no per-query frame explode or hashing), candidates from the same 8-near-equal-band equi-join, exact popcount verify — media bytes never shuffle.",
    "d9_containment" ->
      "Asymmetric containment: rarest-first prefix of the contained side equi-joins the full inverted index on shingle; verification is one map-side-combined count aggregate per pair — no length filter, no cartesian.",
    "e3_bucket_neardup" ->
      "sqrt(n) IVF codebook: seed pick is a distributed TakeOrderedAndProject; centroid assignment broadcasts the codebook; within-bucket pairing equi-joins on cid so pair work grows n^1.5, not n^2.",
    "c5_shard_manifest" ->
      "Export manifest: x9's per-shard packing feeds one (shard, bin) HashAggregate with map-side combine; the bit_xor content checksum is order-independent, so parallel partials agree with any sequential fold.",
    "d10_dup_spans" ->
      "Duplicate spans: reads the bucketed window-fp materialized view (r9 — the stride-1 explode ran once at view-build time, 16-way reads replace the serial single-file pass); census and join-back shuffle on fp with map-side combine; the interval-union window's doc_id distribution rides the bucket layout over only duplicated rows — no position explode, no cartesian.",
    "d20_span_partners" ->
      "Span partner attribution: the cross-doc window match is the posting-table self-join on fp (sum of c(fp)^2 bounded, c>1 rows only); span scoring and the best-partner pick are keyed aggregates/windows on (doc, span) — no positional all-pairs.",
    "c6_fuzzy_decontam" ->
      "Fuzzy decontamination: one distinct-shingle census over the train side, one left equi-join on shingle, one map-side-combined leak count — the train side never materializes pairs.",
    "c7_epoch_shuffle" ->
      "Epoch shuffle: the position window is PARTITIONED by (epoch, shard) — never a global single-partition row_number; the epoch table is a 3-row broadcast.",
    "v5_source_overlap" ->
      "Source-overlap audit: documents collapse to a per-(fp, source) count census BEFORE the self-join, so duplicate doc pairs multiply as counts — a 10k-copy fingerprint is one row per source, never 10k² join rows.",
    "d11_lsh_recall" ->
      "LSH recall: the exact truth side is the inverted-index self-join flowing into a map-side-combined intersection count — no candidate set is ever materialized and no verify re-join exists (at t=0.3 that shape beats prefix+verify 5×); the LSH side reuses d3's memoized verified pairs; recall is one left equi-join on (a,b) into a single aggregate row.",
    "c8_dsir_admission" ->
      "DSIR admission: the raw and target unigram censuses are vocab-bounded (auto-broadcast under the threshold, keyed join at web scale); the per-token score join-back shuffles once on tok with map-side-combined doc sums; the Gumbel top-40 is TakeOrderedAndProject, never a global sort.",
    "x15_bpe_pairs" ->
      "BPE merge pairs: the word census is the only corpus-sized aggregate — pair explode and the weighted (c1,c2) sum run on the vocab-bounded census with map-side combine; top-30 is TakeOrderedAndProject.",
    "v6_shard_skew" ->
      "Shard skew: one corpus scan into the 8-row per-shard census (persisted); totals broadcast back; the Lorenz window orders 8 rows — bounded by shard count, not data.",
    "d12_oph_minhash" ->
      "OPH near-dup: signatures are ONE HashAggregate over ONE md5 per shingle (8 binned conditional mins — d3 computes 8 md5s per shingle); candidates come from the same (band, bkey) equi-join, verification joins only candidate pairs — no cartesian anywhere.",
    "d13_oph_dense" ->
      "Densified OPH: identical plan shape to d12 — the rotation borrow-chain is a narrow coalesce projection over the one signature HashAggregate (PlanSpec pins equal exchange counts), so the short-doc recall fix is free at the plan level.",
    "c9_temperature_mixture" ->
      "Temperature mixture: ONE map-side-combined language census over the corpus; the pow/share/boost arithmetic runs in windows over that O(languages) census — the single-partition stages never see documents.",
    "x16_pii_scrub" ->
      "PII scrub: a pure narrow map — all three regex detectors and the chained redaction run inside one codegen Project over the scan; the only exchange is the oracle's final sort.",
    "c10_curriculum" ->
      "Curriculum phases: exact quartiles from a running sum over the quantized-score census (bounded at 2^20 buckets, never documents); the phase map joins back by qq and the order window is PARTITIONED by (phase, shard).",
    "e10_mmr_rerank" ->
      "MMR rerank: candidate generation is e1's TakeOrderedAndProject shape; the greedy rerank runs on the driver over a bounded C=24 pool, so the returned result is a LocalTableScan that never rescans the corpus.",
    "v7_data_card" ->
      "Data card: one narrow projection into one hash aggregate on source (count-distinct planned as partial expands, still map-side combinable) — O(sources) output rows.",
    "c11_epoch_allocation" ->
      "Epoch allocation: c9's census plan plus a single integer projection — no additional exchange over the mixture-weight table.",
    "e11_embedding_qa" ->
      "Embedding QA: per-row quantized norms feed one map-side-combined aggregate on label; the mean is one exact division at the end — doubles never sum across partitions.",
    "x17_vocab_growth" ->
      "Heaps-law curve: first-occurrence docs come from ONE map-side-combined min(doc_id) census on tok — no prefix re-scans — and the growth curve is two running sums over ten decile rows.",
    "q09_sql_correlated" ->
      "TPC-H Q17 shape: both per-part correlated scalar subqueries decorrelate into ONE keyed aggregate joined back — no ScalarSubquery (per-row re-execution) survives in the physical plan.",
    "q28_sql_profit" ->
      "TPC-H Q9 shape: the p_name LIKE filter prunes the part dimension before the fact join; part/supplier/nation hops broadcast (lineitem⋈orders is the single real shuffle); the (nation, extract-year) expression-keyed rollup has map-side partials.",
    "q29_sql_cust_dist" ->
      "TPC-H Q13 shape: the priority predicate lives in the LEFT OUTER join's ON side, so the join stays outer and the zero-order customer group survives (count(o_orderkey) null semantics); per-customer counts and the c_count histogram both map-side combine.",
    "g4_label_prop" ->
      "Synchronous label propagation: every round joins the SYMMETRIC adjacency on its bucket key `a` (r9 flip — zero Exchange on the edge side, asserted tree-level in PlanSpec) and groups neighbor labels by `b` through a two-level aggregation (first level map-side combinable); each round is a frame-owned pin (one cached-relation leaf), so the final census reads a single InMemoryTableScan — never a re-derivation from the raw scan — and rounds exit early at the label fixed point.",
    "q13_sql_min_cost" ->
      "TPC-H Q2 shape: the correlated per-part scalar min decorrelates into an aggregate + equi-join; supplier/nation dims broadcast; the p_size range pushes to the parquet scan.",
    "e25_ivf_balanced" ->
      "Two-level balanced IVF: level-1 assignment broadcasts the sqrt(n) codebook; the O(C) census gates a semi-joined sub-draw/sub-assign over ONLY oversized cells; pairing equi-joins on the final (cid, scid) key with TakeOrdered top-20 — the worst cell's quadratic pair term is capped by construction (PROBES_r08's candidate-volume finding), never by the data's goodwill.",
    "p18_layout_cost" ->
      "Layout cost model: one narrow codegen (px, sy, z) projection cached and scanned by all three <=256-cell manifests (map-side-combined min/max zone maps); the 8-probe workload is a broadcast nested-loop over <=768 manifest cells (bounded by construction); the rollup is O(layouts) — the corpus is aggregated once, never shuffled per probe.",
    "m9_audio_fingerprint" ->
      "Constellation audio fingerprint: frames explode narrowly off the payload scan; anchor→target landmark pairing is an equi-join on (doc, t2 = t1 + Δt) with fanout bounded at Z = 5; matching equi-joins the df-capped landmark hash (common-landmark cut at 50); offset votes are one (a, b, Δ) map-side-combined aggregate and the best-offset cut a pair-keyed window — payload bytes never shuffle.",
    "e14_filtered_ann" ->
      "Filtered vector search: the label range predicate reaches the embeddings parquet scan (pre-filter beats post-filtering an ANN candidate list and never under-fills k); the query vector is a 1-row broadcast; per-label top-k is a rank window partitioned on the label key — no global sort.",
    "w11_cusum" ->
      "CUSUM by prefix-sum identity: the fact table collapses to calendar days BEFORE the bounded windows; running sum + running min are streaming frames (O(1) state/row) over the day series; the whole monitor is integer-exact.",
    "d16_tfidf_dedup" ->
      "IDF-weighted near-dup: candidates from a rare-feature (2≤df≤25) inverted-index equi-join, verify join keyed on the shingle, norms/dot map-side-combinable integer sums; the cos≥0.8 verdict cross-multiplies in DECIMAL(38,0) — no cartesian anywhere.",
    "a22_count_min" ->
      "Count-Min sketch: the counting pass aggregates into 4×64=256 cells regardless of corpus size (partials are 256 longs/executor); the heavy-hitter probe is a 256-row broadcast join against the bounded top-20.",
    "e16_hybrid_rrf" ->
      "Hybrid RRF retrieval: both arms cut to top-20 via distributed TakeOrderedAndProject before their 20-row rank windows; the fusion is a full-outer join of two bounded lists — nothing after the scans grows with the corpus.",
    "x23_bpe_train" ->
      "BPE training: the corpus appears in exactly ONE map-side-combined word-census aggregate; all 4 merge rounds run on the vocab-bounded census, each round's argmax pair is a 1-row broadcast into a narrow codegen replace projection.",
    "g5_bfs_hops" ->
      "Frontier BFS: each round is one semi-join of the adjacency against the new-nodes-only frontier plus one anti-join against visited — O(E) total edge touches across all rounds; each round's state is a frame-owned pin, so the final hop census reads a single InMemoryTableScan leaf, and the loop exits on the first empty frontier.",
    "a23_transitions" ->
      "Markov transitions: ONE lead window hash-partitioned on user_id, then a map-side-combined census on the ≤|types|² matrix cells; the row-total window orders only those bounded rows — the event stream shuffles once.",
    "p15_zorder_layout" ->
      "Z-order layout manifest: the bit-interleaved z-value is inline codegen arithmetic in the scan projection (scan pruned to the two dims); the per-(layout, file) min/max manifest is a two-level HashAggregate on ≤512 cells — the OPTIMIZE ZORDER cost model without a sort.",
    "j11_bloom_semi_join" ->
      "Bloom-filtered semi-join: the 8 KB bitmap rides into the probe scan's codegen Filter (shiftright/element_at on a literal array), killing non-matching fact rows before the join shuffle; the trailing exact equi-join re-checks false positives, so selectivity is a pure optimization.",
    "x24_boilerplate" ->
      "Boilerplate scoring: one cached shingle table feeds both the DF census and the join-back (no document rescan); the 10·df>n threshold joins a 1-row broadcast count; output aggregates map-side per doc_id.",
    "h3_scd2_dim_join" ->
      "SCD2 dimension join: the per-fact interval lookup is the native backward as-of merge (AsOfJoin) over user-keyed exchanges of facts and version starts — no running-last() window (the only Windows build h1's version history), never a range join's partial cross product; linear in facts + versions.",
    "g6_link_predict" ->
      "Link prediction: wedges from one self equi-join of the adjacency on the center node (u<v halves the pairs), map-side-combined CN census, anti-join drops existing edges, TakeOrdered cuts to 25.",
    "x25_kneser_ney" ->
      "Kneser-Ney scoring: continuation censuses (distinct successors/predecessors) aggregate the cached bigram-TYPE table, not the occurrence stream; the only corpus-sized shuffle is the (w1,w2) join-back; the 1-row type total broadcasts.",
    "j12_interval_join" ->
      "Interval-overlap join without an equi key: both sides key to fixed 20-min chunks (interval spans ≤2, point exactly 1), so containment rides a chunk EQUI-join + residual filter — no BroadcastNestedLoop, no cartesian; zero-match points return via a count-preserving left join.",
    "h4_gap_fill" ->
      "Calendar gap-fill: daily-close window, span aggregate and forward-fill window ALL hash-partition by user_id (one logical key shuffle, exchange reused); the calendar explode is sequence(first,last) per key — no global calendar join, no global sort before presentation.",
    "a24_concurrency" ->
      "Sweep-line concurrency: the global running sum is a TWO-LEVEL prefix sum — per-hour-bucket windows partition by bkt, the O(hours) bucket census takes the only single-partition window (bounded, 720 rows/month) and broadcasts back; the delta stream itself never serializes through one partition.",
    "x26_hash_classifier" ->
      "Hashing-trick classifier: token explode feeds ONE map-side-combinable HashAggregate on doc_id; bucket and weight hashes are fused graft_md5_60 codegen — zero joins at inference (a learned model would swap in as a 4096-row broadcast).",
    "c13_ccnet_buckets" ->
      "CCNet perplexity terciles: per-language thresholds come from a cum-sum window over the (lang, quantized-score) census — bounded by langs × ~20·2^10 buckets, PARTITIONED by lang, never a per-language document sort; the vocab census is persisted once and the 1-row total broadcasts.",
    "g7_personalized_pagerank" ->
      "Personalized PageRank: 4 fixed rounds chain LAZILY into one job (no per-round barrier); each round is a keyed shuffle with map-side partial contribution sums over the memoized edge/degree tables; top-50 is TakeOrdered.",
    "j13_asof_forward" ->
      "Forward as-of with tolerance through the native exec: both children sort (key ASC, ts DESC) and the merge flips one comparison sign — one exchange and one sort per side, no Window, tolerance as a post-join null-out; never a range join.",
    "x27_gopher_gates" ->
      "Gopher gate battery: a pure narrow codegen map (size/filter/length HOFs, cross-multiplied integer bounds) — zero joins, zero hash exchanges before the presentation sort.",
    "j14_asof_native" ->
      "NATIVE as-of join (custom LogicalPlan + SparkStrategy + BinaryExecNode): the AsOfJoin node declares ClusteredDistribution(key) + per-child (key, ts) sort orders, so EnsureRequirements plans ONE exchange and ONE sort per side (each carrying only its own columns) and the exec merges the sorted streams in O(|L|+|R|) with O(1) held state — no union widening, no window state machine.",
    "j16_asof_native_forward" ->
      "FORWARD direction through the native as-of exec: the SAME one-exchange-one-sort-per-side shape with the time axis reversed — both children sort (key ASC, ts DESC) and the merge loop flips one comparison sign; no Window operator, no union-width shuffle (NativeAsOfSpec pins the DESC sorts).",
    "j17_asof_native_nearest" ->
      "NEAREST direction through the native as-of exec: ONE backward merge pass computes both arms — the held row is the backward candidate and the right stream's head after the advance loop IS the forward candidate (a peek, not a second shuffle); winner by integer-µs distance, ties to backward. Two exchanges total.",
    "x28_chunking" ->
      "RAG chunking: a pure narrow generate — sequence over the per-doc chunk count, slice over the token array, fingerprint — zero shuffles before the presentation sort; chunk geometry (stride/overlap/short tail) proven exact in ChunkingSpec.",
    "e18_mean_pool" ->
      "Prototype pooling: posexplode streams (label, dim, quantized value) into ONE map-side-combinable HashAggregate bounded at labels × dims — no vector crosses the shuffle whole, the mean is one IEEE division of exact integer operands.",
    "o5_keyset_page" ->
      "Keyset pagination: the (ts, id) cursor predicate appears in the parquet scan's PushedFilters and the page is TakeOrderedAndProject — a deep page costs the same scan as page one, where OFFSET pagination reads and discards depth rows.",
    "m5_audio_segments" ->
      "VAD segmentation: narrow frame explode off the payload scan, energies gate rows BEFORE the islands window, and both the window and the rollup partition by doc_id — one keyed shuffle, frame metadata only (media bytes never move).",
    "h6_vwap" ->
      "VWAP: the event-type filter reaches the parquet scan and the whole query is ONE map-side-combinable hash aggregate on (user, day) — no window, no join; exact BIGINT folds with a single IEEE division at the end.",
    "h7_weekly_bars" ->
      "Weekly OHLCV resample: both ordered-first/last rank windows AND the bar aggregate ride ONE (user, wk) exchange (Catalyst reuses it; the windows differ only in sort direction) — the presentation sort is the only other shuffle.",
    "h8_beta" ->
      "Market beta: the daily close is a rank window the optimizer narrows with WindowGroupLimit; the O(calendar-days) market census is a BroadcastHashJoin build; returns and all five slope sums ride one user-keyed exchange.",
    "q15_sql_recursive" ->
      "Recursive CTE through the SQL front door: plans as UnionLoop with a per-level frontier-to-table hash equi-join on the parent key — level count log2(max id), each node visited once, no cartesian.",
    "e17_hard_negatives" ->
      "Hard-negative mining: the 8-row anchor set is a BroadcastNestedLoopJoin build (candidates stream once, scoring all anchors); per-anchor top-5 is a Partial+Final WindowGroupLimit pair; graft_dot stays in codegen.",
    "x29_kl_divergence" ->
      "Per-source KL: ONE persisted (source, tok) census feeds all four BIGINT censuses; the corpus census joins on tok with no forced broadcast (degrades keyed at web scale); per-source totals broadcast; quantized-log2 terms partial-sum map-side.",
    "g8_modularity" ->
      "Modularity: labels come from the memoized g4 assignment (one propagation per session); intra-community counting is the edge table joined twice on its endpoints (keyed equi-joins); everything after is an O(communities) census with the 1-row m broadcast.",
    "s5_late_data" ->
      "Watermark replay: the global arrival-order prefix max is a TWO-LEVEL decomposition — per-hour-bucket running maxes partition by bkt, the O(hours) offset census broadcasts back (a24's rule); the drop flag is closed-form integer arithmetic.",
    "r3_blocking_recall" ->
      "Blocking recall: probes broadcast (BuildRight nested-loop); the unblocked truth sweep is |probes|·n, never n²; codegen levenshtein; ONE map-side-combined global aggregate returns the single audit row.",
    "p16_target_encode" ->
      "LOO target encoding: the O(categories) census broadcasts back onto a narrow codegen projection — the corpus is aggregated once and never shuffled for the encode.",
    "a27_path_census" ->
      "Path census: both leads share one user-keyed window exchange; paths collapse into a map-side-combinable census bounded at |types|³; top-20 is TakeOrderedAndProject.",
    "e19_centroid_drift" ->
      "Centroid drift: posexplode streams into ONE map-side-combinable census bounded at labels × dims × 2; per-dim squared diffs re-quantize to longs so the cross-dim sum is order-independent — no vector crosses a shuffle whole.",
    "r1_entity_match" ->
      "Injected optimizer rule: the threshold predicate keeps the oracle's builtin levenshtein spelling and RewriteThresholdLevenshtein plans it as the banded graft_lev_le reject (O(k) rows per non-match); the full distance is projected only for surviving pairs.",
    "w16_underwater" ->
      "Underwater duration: daily-close rank window, prefix max, both island row_numbers and the rollup all ride ONE user-keyed exchange; spells are gaps-and-islands on observation order — never a global window.",
    "a28_cohort_ltv" ->
      "Cohort LTV: one user-keyed aggregate assigns cohorts; cells are bounded at weeks²/2; cohort sizes broadcast; the cumulative is a per-cohort window over O(weeks) rows.",
    "h9_overnight_gap" ->
      "Overnight gaps: both daily rank windows, the lag and the rollup share the user-keyed exchange; the 2% test is cross-multiplied integer arithmetic in codegen.",
    "a29_rfm" ->
      "RFM segmentation: tercile thresholds from value-bounded censuses (c10's rule) broadcast as 1-row builds — never a single-partition ntile over the customer base; the encode is a narrow projection.",
    "j15_asof_nearest" ->
      "Nearest as-of through the native exec: ONE backward merge over the collapsed click table computes both arms (held row = backward candidate, right-stream head = forward candidate), winner by integer-µs distance, ties to backward — no Window, no range join.",
    "v13_seq_gaps" ->
      "Sequence continuity: one user-keyed lag window into a map-side-combinable per-key rollup — (key, id) pairs only.",
    "m6_patch_grid" ->
      "Patch grid: a pure narrow generate bounded by ceil(w/P)*ceil(h/P) per image off the decode-metadata scan — media bytes never shuffle; the only exchange is the presentation sort.",
    "a30_kmv_distinct" ->
      "Bottom-k sketch (TypedImperativeAggregate): ObjectHashAggregate with partial_graft_bottomk before the exchange and merge_graft_bottomk after — the <=k-long buffer combines map-side exactly like a builtin, and the distinct-count arm shares the plan.",
    "g10_hits" ->
      "HITS fixed point: the returned plan reads the score table's frame-owned pin (one InMemoryTableScan leaf, no fact rescan) through a TakeOrdered — all 2K half-rounds ran as map-side-combinable keyed sums whose 1-row rescale divisor is driver-held and inlined as a literal (narrow map, no broadcast subtree).",
    "q19_sql_shipping_priority" ->
      "TPC-H Q3 shape: both date cuts in PushedFilters, segment-filtered customers broadcast, top-10 revenue via TakeOrderedAndProject over the grouped aggregate — never a global sort.",
    "q20_sql_supplier_census" ->
      "TPC-H Q16 shape: NOT IN compiles to ONE LeftAnti join in the optimized plan (AQE may fold it when the exclusion set is provably empty); the count(DISTINCT) expands to the two-phase partial-distinct plan.",
    "q21_sql_volume_shipping" ->
      "TPC-H Q7 shape: the disjunctive nation-pair predicate survives as a post-join filter while all four dimension hops broadcast; lineitem⋈orders is the only real shuffle; revenue folds as exact 10^-4-unit longs.",
    "q22_sql_lateral_topn" ->
      "Correlated LATERAL top-N: decorrelates to WindowGroupLimit with a PARTIAL map-side bound below the shuffle (each map task forwards <=N rows per key) — never a per-outer-row re-execution.",
    "q23_sql_pivot" ->
      "SQL PIVOT clause: compiles to ONE two-phase hash aggregate with conditional agg slots per pivot value — no per-value scan, no join; counts pinned to the 0 convention via outer coalesce.",
    "p17_compaction_plan" ->
      "Compaction planner: runs entirely over file METADATA (one stats scan, payloads never read); the per-source cumulative window partitions by source; group assignment is integer prefix-sum arithmetic.",
    "e22_jl_projection" ->
      "JL projection: the n·K projection table persists once (InMemoryTableScan feeds both consumers); signs regenerate as codegen md5 arithmetic (the matrix ships as code); distortion joins only K-row / 10-row results.",
    "c15_doremi_step" ->
      "DoReMi reweighting: one persisted vocab census, one broadcast-degradable token join into a 20-row domain aggregate; the multiplicative-weights update windows over DOMAINS, not rows — integer-exact throughout.",
    "v17_rule_quarantine" ->
      "Rule-bitmask quarantine: four codegen CASE expressions summed in the scan projection — ONE pass, no per-rule re-scan — into a map-side-combined census on <=2^R masks.",
    "d17_bloom_admission" ->
      "Distributed Bloom gate: corpus bit positions live as a distinct-aggregate position TABLE (never a driver bitmap literal); membership is an equi-join counting hit probes; the exact arm reuses d7's census semi-join — no driver state.",
    "m7_shot_boundary" ->
      "Shot-boundary detection: signatures are scan-side codegen (payloads never cross the shuffle — PlanSpec pins no text# above the first Exchange); cut/shot windows and the keyframe census all ride the doc_id key.",
    "a32_attribution" ->
      "Multi-touch attribution: candidates from a user-keyed equi-join with the 7-day predicate riding it; rn_first/rn_last are opposite orderings of ONE purchase-keyed exchange; the census is a (model x channel) rollup.",
    "u8_union_by_name" ->
      "Schema-evolution union: name alignment is a plan-time projection; column pruning survives the union (each epoch's ReadSchema carries only its own columns, text read by neither); null-fill census combines map-side.",
    "h15_momentum_portfolio" ->
      "Momentum backtest: bars + both lags ride the user-keyed exchange; only the (symbols x weeks) bar table reaches the weekly ntile ranking; tercile means are exact integer division of permille longs.",
    "a33_root_cause" ->
      "Root-cause contributions: ONE events scan — both periods are conditional aggregates and both dimensions come from a single GROUPING SETS Expand; each dimension's window total IS the global total, so no separate totals pass exists.",
    "e23_ann_ndcg" ->
      "ANN nDCG: the system arm ends in a TakeOrdered top-10; the truth arm reads the 10-row materialized e1 view (r9); rank discounts are pre-quantized 2^20 integers, so the metric is exact longs over <=10-row tables.",
    "v18_k_anonymity" ->
      "k-anonymity audit: ONE scan of the two quasi-identifier columns into a map-side-combined census bounded at the QI domain product; the verdict is a codegen CASE over census rows.",
    "q24_sql_unpivot" ->
      "SQL UNPIVOT clause: ONE Expand over one scan — each row fans to |metrics| outputs in the scan-stage projection, map-only before the presentation sort; INCLUDE NULLS pins schema-determined row counts.",
    "a20_anomaly" ->
      "Anomaly monitor: the fact table collapses to days BEFORE the bounded global window, and the scan reads only the three referenced columns.",
    "a21_histogram" ->
      "Histogram: the orders scan reads only o_totalprice (column pruning) and the 1-row extremes broadcast — no shuffle join anywhere.",
    "c14_cluster_balanced" ->
      "Cluster-balanced sampling: cluster assignment broadcasts the codebook; doc enrichment is a keyed equi-join; the per-cluster pick group-limits.",
    "d14_cdc_chunks" ->
      "CDC chunking: chunk assembly is per-doc array work — the corpus is scanned ONCE (cached), census and join-back are keyed, no cartesian.",
    "d18_dedup_agreement" ->
      "Lexical-vs-semantic agreement: pairs come from the memoized d3 table; cluster ids attach via keyed equi-joins with the 8-row centroid table broadcast.",
    "e13_ivf_pq" ->
      "IVF-PQ: residual subvectors are cached once; PQ encode and the ADC probe are broadcast equi-joins — the corpus never sort-merge-joins.",
    "e20_pca_power" ->
      "PCA power iteration: the returned plan is the driver-held d-row iterate (LocalTableScan — bounded by embedding dimension, r9); rounds consume the quantized-matrix view via broadcast joins inside their own actions, so the matrix never shuffles and the lazy 2^K re-derivation is gone.",
    "v20_embedding_drift" ->
      "Embedding drift: 16 hyperplanes broadcast into ONE map-side-combined sketch aggregate (single corpus scan, never self-joined); the PSI table is bounded by the 16-bucket band domain.",
    "e26_ivf_census_drift" ->
      "Stale-codebook drift monitor: one broadcast cross-join + windowed argmin assign (the e2 shape), one map-side-combinable census, top-20 cells via TakeOrderedAndProject — no all-pairs term.",
    "e21_anisotropy" ->
      "Anisotropy audit: reuses the memoized PCA model over the quantized-matrix view — its own work is map-side-combined keyed aggregates with the d-row vector broadcast; the permille lands in (0, 1000] by Cauchy-Schwarz.",
    "e6_semantic_dedup" ->
      "Semantic dedup: centroid assignment broadcasts the codebook, never shuffles the vectors for it.",
    "g2_triangle_count" ->
      "Triangle counting: wedge and closing joins are equi-joins over the CACHED oriented edge table — no cartesian, three reads of one cache.",
    "g3_kcore" ->
      "k-core peel: the final census reads the last peel round's pinned edge set — an O(1)-deep InMemoryTableScan that keeps the round's `a` partitioning (no Exchange before the census aggregate), never a parquet re-derivation; round 0 scans the bucketed adjacency table.",
    "g9_knn_graph" ->
      "kNN graph: candidates come from the band equi-join — no all-pairs operator anywhere, and the per-src top-5 rank window group-limits.",
    "h10_rolling_corr" ->
      "Rolling correlation: one user-keyed exchange serves close-ranking, return lags and all five rolling sums; the market census joins back as a broadcast.",
    "h11_event_study" ->
      "Event study: event-day argmax and return lag share the user-keyed partitioning; the market census broadcasts — no global window.",
    "h13_pairs_spread" ->
      "Pairs spread: both legs aggregate in ONE day-keyed pass (conditional sums, one events scan); the calendar-bounded z window is the only unpartitioned operator.",
    "h1_scd2_history" ->
      "SCD2 build: windows over ONE key shuffle — no join, and both windows carry the user_id partition spec.",
    "j1_semi_join" ->
      "Semi join: the small dim side is a broadcast build, not a shuffle of the fact side.",
    "p12_stratified_sample" ->
      "Stratified sample: the scan reads only the referenced document columns.",
    "q06_forecast_revenue" ->
      "Range scan: both range predicates reach the scan, no separate filter stage re-reads.",
    "q10_sql_exists_chain" ->
      "EXISTS chain: both quantified subqueries decorrelate — EXISTS becomes a left-semi and NOT EXISTS a left-anti join on l_orderkey.",
    "q11_sql_nested_in" ->
      "Nested IN: IN decorrelates to a semi join and the correlated scalar sum becomes a grouped aggregate — no per-row rescan, no cartesian.",
    "q12_sql_top_supplier" ->
      "Top supplier (TPC-H Q15 shape): the revenue aggregate runs twice, once for the join input and once inside the scalar max (no ReusedExchange: lineitem is scanned twice, supplier once); shipdate range reaches the scan.",
    "q14_sql_window" ->
      "SQL window front door: the rank filter infers the same WindowGroupLimit as the DataFrame form (w3).",
    "q16_sql_disjunctive" ->
      "Disjunctive predicate: the OR'd multi-clause predicate keeps p_partkey = l_partkey as a hash-join key — no nested-loop fallback from the disjunction.",
    "q17_sql_large_orders" ->
      "HAVING aggregate: partial-aggregates map-side before its exchange — the only full fact pass combines before shuffling.",
    "q18_sql_global_avg" ->
      "Global-average anti join: stays a hash ANTI join with the priority predicate pushed into the orders scan — never a NOT IN nested loop.",
    "q25_sql_exists_range" ->
      "Date-range EXISTS (TPC-H Q4 shape): decorrelates to ONE semi join — the correlated non-equi predicate rides the join, never a per-row subquery — and the outer date range pushes to the orders scan.",
    "q26_sql_market_share" ->
      "Market share (TPC-H Q8 shape): all six dimension hops broadcast; numerator and denominator fold in ONE aggregate over one fact pass (8 scans = 7 tables + nation twice).",
    "q27_sql_priority_split" ->
      "Priority split (TPC-H Q12 shape): the shipping window pushes to the lineitem scan and both priority CASE sums fold in one map-side-combined aggregate.",
    "r2_golden_record" ->
      "Golden record: survivorship windows and censuses all read the cached member table; cluster-to-documents linkage is a key equi-join.",
    "v11_freshness" ->
      "Freshness audit: the recent-liveness probe joins the tiny per-stream watermark table by broadcast; no sort-merge join of the fact table.",
    "v14_ref_integrity" ->
      "FK audit: reads ONLY key columns — no payload column appears in any ReadSchema, and every relation is an anti join.",
    "v15_pk_unique" ->
      "PK audit: reads ONLY key columns and runs each table as one two-phase distinct aggregate.",
    "v16_two_sample_drift" ->
      "Two-sample drift: KS and Mann-Whitney both derive from ONE documents scan into a value census; the ordered cumulative window runs over the census, not over rows.",
    "v9_expectations" ->
      "Expectations suite: referential checks plan as anti joins and each audited table is scanned once per role, not once per constraint.",
    "w10_drawdown" ->
      "Drawdown: the running-peak window and the final aggregate share ONE event_type shuffle — no join, no second keyed exchange.",
    "w18_stochastic" ->
      "Stochastic oscillator: row_number, max and min frames all ride ONE user-keyed exchange and the census reuses that partitioning.",
    "w3_topn_per_group" ->
      "Top-n per group: the rank filter infers a WindowGroupLimit — per-key top-n is pruned MAP-SIDE (Partial) before the shuffle, not post-window.",
    "w8_streak" ->
      "Streaks: the streak build is a dedup shuffle plus ONE shared user_id shuffle — windows and run aggregate reuse the same partitioning.",
    "x18_readability" ->
      "Readability: a pure narrow map — no join, no aggregate, only the sort exchange.",
    "x20_zipf_slope" ->
      "Zipf slope: the vocabulary census cuts to top-100 via TakeOrdered (no full global sort) and the regression sums run over bounded rows.",
    "x21_ngram_novelty" ->
      "N-gram novelty: the shingle table is cached once and both census and join-back consume the cache; candidates join on the shingle key only.",
    "x30_lexical_diversity" ->
      "Lexical diversity: the per-source rollup rides the (source, tok) census partitioning — two aggregates, no second corpus scan.",
    "x31_perplexity_filter" ->
      "Perplexity gate: adds only doc-level narrow stages on top of x25 — document text is scanned by the scorer alone.",
    "x32_calibration" ->
      "Calibration audit: the rollup adds no corpus shuffle beyond x26's doc aggregate — gates are a narrow map joined on doc_id.",
    "m8_phash_dct" ->
      "Perceptual hash: cells, the exact integer DCT (32 precomputed 64-long weight arrays, one zip_with/aggregate fold per coefficient) and the sign signature are ALL narrow per-row expression work — the first exchange is the candidate band join, payload text never crosses it, and the oracle's relational row-pass/column-pass spelling proves the fused fold computes the same separable transform.",
    "p19_hilbert_layout" ->
      "Hilbert layout: the curve index is ONE codegen static-call expression in the scan projection (graft_hilbert — never a UDF or CASE tree); manifests are map-side-combinable <=512-cell aggregates over one persisted base; the 8-row probe table broadcasts (BroadcastNestedLoopJoin on the range-overlap condition); both layouts read identical buckets/rows by the FastCurveSpec prefix property and differ only in n_runs (seeks).",
    "e27_range_search" ->
      "Range search: probe cells (<=16 rows) and probe vectors (4 rows) broadcast into the pruned candidate scan — the corpus is never self-joined and nothing sort-merge-joins; candidates per probe are nprobe*n/C = O(sqrt n) at the e3 codebook balance point.",
    "p20_cdc_apply" ->
      "CDC apply: the sequence-rank window and the op census share ONE user-keyed exchange (the h7 discipline) over ONE events scan — no join anywhere in the fold; the only other exchange is the presentation range sort.",
    "e4_ann_kmeans" ->
      "Learned IVF: the 32 seeds are an md5-ordered TakeOrderedAndProject, both argmins are vec_id-partitioned windows over a broadcast codebook, and the one unpartitioned window ranks only the query vector's 32 centroid distances.",
    "e5_ann_hyperplane" ->
      "Hyperplane LSH: the 0-based draw-index window sits directly on the 16-row draw (TakeOrderedAndProject) — never on the corpus; the sketch is one broadcast into a map-side-combinable sum and candidates a broadcast semi-join on (band, value).",
    "e15_nprobe_sweep" ->
      "nprobe sweep: the model is built once — all four probes read the persisted assignment and the persisted 32-row query-to-centroid table, so each probe-cell window ranks at most 32 rows.",
    "e28_multiprobe_lsh" ->
      "Multi-probe LSH: the draw-index window sits directly on the 8-row draw; the Hamming-ball probe keys are literals joined by broadcast against ONE sketch table.")

  /** `plan` with its run-specific tokens made stable, so two runs at one
    * commit print the same text: lambda variables (`x_12`), expression
    * ids (`#123`) and exchange `plan_id`s are renumbered in order of first
    * appearance; codegen stage ids (`*(12)` → `*(_)`) and adaptive query
    * stage ids, which follow the order concurrent stages finish in, are
    * masked, and so are JVM lambda class names, object identity hashes
    * (`UnsafeArrayData@7a50b5f7`) and the per-JVM MatView root.
    */
  def canonical(plan: String): String = {
    def renumber(text: String, re: scala.util.matching.Regex)(
        show: (String, Int) => String): String = {
      val ids = scala.collection.mutable.LinkedHashMap.empty[String, Int]
      re.replaceAllIn(text, m => scala.util.matching.Regex.quoteReplacement(
        show(m.group(1), ids.getOrElseUpdate(m.group(1), ids.size))))
    }
    val lambdaVars = """lambda ([A-Za-z]+_\d+)#""".r
      .findAllMatchIn(plan).map(_.group(1)).toSeq.distinct
    val lambdasRenamed =
      if (lambdaVars.isEmpty) plan
      else renumber(plan, lambdaVars.map(java.util.regex.Pattern.quote)
          .mkString("""\b(""", "|", ")(?=#)").r)((v, k) => v.takeWhile(_ != '_') + "_" + k)
    val idsRenamed = renumber(lambdasRenamed, """#(\d+)""".r)((_, k) => s"#$k")
    renumber(idsRenamed, """plan_id=(\d+)""".r)((_, k) => s"plan_id=$k")
      .replaceAll("""\$\$Lambda[^@\s]*@[0-9a-f]+""", "\\$\\$Lambda")
      .replaceAll("""(\w)@[0-9a-f]+\b""", "$1@*")
      .replaceAll("""/tmp/graft-mv-[0-9a-f]+""", "/tmp/graft-mv-*")
      .replaceAll("""\*\(\d+\)""", "*(_)")
      .replaceAll("""QueryStage \d+""", "QueryStage _")
  }

  /** Counted node kinds: exchanges by partitioning, sorts, windows
    * (unpartitioned apart), joins and aggregates by operator, generates,
    * limits, cached scans and file scans. A reused exchange and a cached
    * scan are leaves: the exchange it reuses and the cached plan are not
    * walked.
    */
  private val kind: PartialFunction[SparkPlan, String] = {
    case e: ShuffleExchangeLike => "Exchange." + (e.outputPartitioning match {
      case _: HashPartitioning => "hash"
      case _: RangePartitioning => "range"
      case SinglePartition => "single"
      case _: RoundRobinPartitioning => "roundrobin"
      case p => p.getClass.getSimpleName
    })
    case _: BroadcastExchangeLike => "Exchange.broadcast"
    case _: ReusedExchangeExec => "ReusedExchange"
    case _: SortExec => "Sort"
    case w: WindowExec => if (w.partitionSpec.isEmpty) "Window.unpartitioned" else "Window"
    case p @ (_: BaseJoinExec | _: AsOfJoinExec | _: BaseAggregateExec | _: GenerateExec |
        _: TakeOrderedAndProjectExec | _: CollectLimitExec | _: CollectTailExec |
        _: GlobalLimitExec | _: LocalLimitExec | _: WindowGroupLimitExec) => p.nodeName
    case _: InMemoryTableScanExec => "InMemoryTableScan"
    case _: FileSourceScanExec => "FileScan"
  }

  /** `plan`'s node census as a sorted `Node=count` list, walked through
    * adaptive plans, query stages and subqueries. It keeps no order,
    * expression or partition count, so it reads the same for two plans
    * that differ only in child order or in AQE's coalescing.
    */
  def signature(plan: SparkPlan): String =
    collectWithSubqueries(plan)(kind).groupBy(identity).toSeq
      .map { case (k, v) => s"$k=${v.size}" }.sorted.mkString(" ")

  /** `df`'s executed plan, after a `collect()`: AQE finalizes a frame's
    * own plan only when that frame runs (`head()` or `count()` run a
    * derived plan and leave it at the initial one).
    */
  def executed(df: DataFrame): SparkPlan = {
    df.collect()
    df.queryExecution.executedPlan
  }

  def main(args: Array[String]): Unit = args match {
    case Array() => writePlansMd()
    case Array(sfDir, outDir, suffix, names) =>
      dump(sfDir, outDir, suffix, names.split(",").map(_.trim).toSeq)
    case _ =>
      System.err.println("usage: graft.Plans [<sfDir> <outDir> <suffix> <name,...>]")
      sys.exit(2)
  }

  /** Regenerates PLANS.md: every registry query runs from a clean slate
    * at sf0.001, as in RegistrySpec.
    */
  private def writePlansMd(): Unit = {
    val sfDir = "/root/testdata/sf0.001"
    val spark = HarnessSession("4")
    val notes = annotated.toMap
    val sb = new StringBuilder(
      """# PLANS — one plan signature per registry query
        |
        |Generated by `sbt "runMain graft.Plans"` at sf0.001. RegistrySpec's
        |`<name> executes at sf0.001` test recomputes each line and fails on
        |any difference, so a plan change shows up as a one-line diff here.
        |
        |SIGNATURE: the executed (post-AQE) plan's node census, `Node=count`
        |sorted by node, walked through adaptive plans, query stages and
        |subqueries. It counts exchanges by partitioning (`Exchange.hash`,
        |`.range`, `.single`, `.roundrobin`, `.broadcast`) and reused
        |exchanges, sorts, windows (`Window.unpartitioned` apart), joins and
        |aggregates by operator, generates, limits (`TakeOrderedAndProject`,
        |`CollectLimit`, `GlobalLimit`, `LocalLimit`, `WindowGroupLimit`),
        |cached scans (`InMemoryTableScan`, its cached plan not walked) and
        |file scans (`FileScan`).
        |
        |SELECTION RULE for the notes: every registry query whose 100 TB
        |scale claim rests on a PLAN property (operationally: every query
        |PlanSpec asserts a plan property for, plus family representatives)
        |carries a note under its line, and PlanSpec asserts the property.
        |A query without a note is excluded by rule: its scale argument is
        |value-level (exact integer arithmetic, bounded output, or reuse of
        |an annotated family member's plan shape).
        |
        |""".stripMargin)
    SparkEntry.registry.foreach { q =>
      Memo.reset(spark)
      sb.append(s"- ${q.name}: ${signature(executed(q.fn(spark, sfDir)))}\n")
      notes.get(q.name).foreach(n => sb.append(s"  $n\n"))
    }
    Files.writeString(Paths.get("PLANS.md"), sb.toString)
    println(s"wrote PLANS.md (${SparkEntry.registry.size} signatures, ${notes.size} notes)")
    spark.stop()
  }

  private def dump(sfDir: String, outDir: String, suffix: String, names: Seq[String]): Unit = {
    // A misspelled name must not silently produce no plan file: missing
    // before/after evidence then goes unnoticed.
    val unknown = names.filterNot(SparkEntry.queries.contains)
    if (unknown.nonEmpty) {
      System.err.println(s"[plans] ERROR: not in SparkEntry.queries: ${unknown.mkString(", ")}")
      sys.exit(1)
    }
    val spark = HarnessSession(sys.env.getOrElse("SPARK_GRAFT_CPUS", "32"))
    Files.createDirectories(Paths.get(outDir))
    names.foreach { name =>
      try {
        val txt = SparkEntry.queries(name)(spark, sfDir).queryExecution.explainString(FormattedMode)
        Files.writeString(Paths.get(outDir, s"${name}_$suffix.txt"),
          canonical(s"== $name @ $sfDir ==\n$txt"))
        System.err.println(s"[plans] wrote $name")
      } catch { case e: Throwable =>
        System.err.println(s"[plans] $name failed: ${e.getMessage}")
      }
      Memo.reset(spark)
    }
    spark.stop()
  }
}
