"""Physical-plan audit: dump the headline queries' formatted plans plus a
scale checklist (pruned scans, join strategies, bounded top-k, no
cartesian blow-ups) to PLANS.md.

Usage: python tools/plan_audit.py [sf_dir]
"""

from __future__ import annotations

import os
import re
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import __spark_entry__ as entrymod
from semantic_index_spark.plans.explain import formatted_plan
from semantic_index_spark.session import get_spark, pinned

# queries whose plan shape IS the scale story, with expectations:
#   prune: columns that must NOT be read by any scan
#   forbid: physical operators that must not appear
#   expect: operators that must appear
AUDITS = {
    "knn_topk": {"prune": ["label"], "expect": ["TakeOrderedAndProject"], "forbid": ["Exchange"]},
    "q3_shipping_priority": {"expect": ["BroadcastHashJoin", "TakeOrderedAndProject"], "forbid": ["CartesianProduct"]},
    "q5_local_supplier_volume": {"expect": ["BroadcastHashJoin"], "forbid": ["CartesianProduct", "BroadcastNestedLoopJoin"]},
    "embedding_neardup": {"forbid": ["CartesianProduct", "BroadcastNestedLoopJoin"]},
    "minhash_lsh_pairs": {"forbid": ["CartesianProduct", "BroadcastNestedLoopJoin"]},
    "knn_multi": {"expect": ["MapInArrow"], "forbid": ["CartesianProduct", "BroadcastNestedLoopJoin"]},
    "asof_join": {"expect": ["Window"], "forbid": ["CartesianProduct", "BroadcastNestedLoopJoin", "Join"]},
    "ivf_topk": {"expect": ["TakeOrderedAndProject"], "forbid": ["Join"]},
    "quantized_knn": {"expect": ["TakeOrderedAndProject"], "forbid": ["Join"]},
    "lsh_topk": {"expect": ["TakeOrderedAndProject"], "forbid": ["Join"]},
    "tfidf_top_terms": {"forbid": ["CartesianProduct"]},
    "salted_agg": {"expect": ["HashAggregate"], "forbid": ["Sort"]},
    "filter_predicates": {"expect": ["PushedFilters: [IsNotNull"], "forbid": ["Exchange"]},
    "media_stats": {},
    # real image decode: one Arrow-batched mapInPandas stage over the media
    # batch — no join, no cartesian; the sort is the bounded output order.
    "media_decode_features": {"expect": ["MapInPandas"], "forbid": ["Join", "CartesianProduct"]},
    "rolling_event_stats": {"expect": ["Window"], "forbid": ["CartesianProduct", "Join"]},
    "label_centroids": {"expect": ["FlatMapGroupsInPandas"], "forbid": ["Join"]},
    "exists_subqueries": {"forbid": ["CartesianProduct", "BroadcastNestedLoopJoin"]},
    # correlated scalar subquery must de-correlate to aggregate + equi-join,
    # never a per-row nested-loop re-execution.
    "scalar_subquery": {"expect": ["HashAggregate"], "forbid": ["CartesianProduct", "BroadcastNestedLoopJoin"]},
    "hash_split": {"forbid": ["Exchange", "Join"]},
    # global ranking: the corpus side is a checkpointed range-sort scan +
    # broadcast of |partitions| offset rows — the 1-partition window exists
    # only on that tiny branch; the corpus never meets a sort-merge join or
    # an unpartitioned window.
    "global_ranking": {"expect": ["BroadcastHashJoin"], "forbid": ["CartesianProduct", "BroadcastNestedLoopJoin", "SortMergeJoin"]},
    "chunk_documents": {"expect": ["Generate"], "forbid": ["Join"]},
    # HLL: hash+register JVM-side, ONE partial-agg shuffle over <=2^p keys,
    # a single-row fold after. (The BroadcastNestedLoopJoin in this plan is
    # the crossJoin of the TWO single-row aggregates — approx next to
    # exact — so it is 1×1 by construction, not a scale risk.)
    "hll_users": {"expect": ["HashAggregate"], "forbid": ["CartesianProduct"]},
    # LSH candidates → banded Levenshtein: both text joins must stay hash
    # equi-joins; pair enumeration must never degrade to a nested loop.
    "edit_distance_verify": {"forbid": ["CartesianProduct", "BroadcastNestedLoopJoin"]},
    # SCD2: one keyed sort-shuffle stitches the history — no self-join.
    "scd2_user_status": {"expect": ["Window"], "forbid": ["CartesianProduct", "Join"]},
    # incremental embedding: the Arrow-batched UDF runs only on the miss
    # branch of a hash join, never a nested loop over the cache.
    "embed_cache_hits": {"expect": ["ArrowEvalPython"], "forbid": ["CartesianProduct", "BroadcastNestedLoopJoin"]},
    # N data-quality rules fold into one aggregate pass — no join, no sort.
    "data_expectations": {"expect": ["HashAggregate"], "forbid": ["Join", "CartesianProduct", "Sort"]},
    # corpus mixing is a map-side literal-map lookup + bounded explode —
    # no weight-table join, no shuffle.
    "weighted_mix": {"expect": ["Generate"], "forbid": ["Join", "Exchange"]},
    # frame pooling: ONE partial-agg shuffle; element-wise fold stays JVM.
    "media_pooled": {"forbid": ["Join", "CartesianProduct", "ArrowEvalPython", "BatchEvalPython"]},
    # funnel: one user shuffle + JVM HOF chain — never a k-way self-join.
    "funnel_conversion": {"expect": ["HashAggregate"], "forbid": ["Join", "CartesianProduct"]},
    # retention: the cohort join is co-partitioned with the period dedup —
    # a hash join is fine, a nested loop is not.
    "retention_cohorts": {"forbid": ["CartesianProduct", "BroadcastNestedLoopJoin"]},
    # snapshot diff: ONE full-outer hash equi-join on the key; the texts
    # collapse to fingerprints BEFORE the shuffle.
    "snapshot_diff": {"forbid": ["CartesianProduct", "BroadcastNestedLoopJoin"]},
    # batch-vs-corpus screening: one tagged signature pipeline + bucket
    # groupBy — pairs never materialize, no self-join of the pipeline.
    "incremental_dedup": {"forbid": ["CartesianProduct", "BroadcastNestedLoopJoin", "Join"]},
    # heavy hitters: word-count shape — partial HashAggregate before the
    # exchange so the shuffle carries vocab-bounded rows, never raw tokens.
    "heavy_hitters": {"expect": ["HashAggregate", "Generate"], "forbid": ["Join", "Sort"]},
    # stratified sample: exactly one shuffle (by stratum) + per-stratum sort.
    "stratified_sample": {"expect": ["Window"], "forbid": ["Join"]},
    # scrub/audit/repetition: per-row projection; the single Exchange is
    # ensure_parallelism re-spreading the 1-file local scan before the heavy
    # regex work (a no-op on a well-partitioned cluster scan).
    "repetition_pii": {"forbid": ["Join"]},
    # histogram: one partial-agg shuffle over <=bins keys; windows/agg after
    # run on the <=bins-row histogram, so no join and no wide sort.
    "histogram_quantiles": {"expect": ["HashAggregate"], "forbid": ["CartesianProduct", "BroadcastNestedLoopJoin"]},
    # sliding windows expand via Expand (multi-projection), not Generate.
    "events_sliding_windows": {"expect": ["Expand", "HashAggregate"], "forbid": ["Join"]},
    # BM25: query-term filter lands on the exploded tokens (corpus rows
    # with no query term die pre-shuffle); df + corpus stats are broadcast
    # (the 1×1-row stats crossJoin plans as a BNLJ by construction — not a
    # scale risk); final cutoff is bounded top-k, never a global sort.
    "bm25_topk": {"expect": ["TakeOrderedAndProject", "BroadcastHashJoin"], "forbid": ["CartesianProduct", "SortMergeJoin"]},
    # BPE merge statistic: word-count shape (explode → partial-agg shuffle
    # on the pair key) + bounded top-k; never a positional self-join.
    "bpe_pair_counts": {"expect": ["TakeOrderedAndProject", "Generate", "HashAggregate"], "forbid": ["Join"]},
    # contamination: both sides collapse to distinct 64-bit shingle hashes
    # BEFORE one hash equi-join on the hash — never an array-overlap loop.
    "contamination_check": {"forbid": ["CartesianProduct", "BroadcastNestedLoopJoin"]},
    # sequence packing: distributed prefix-sum — range shuffle + partition-
    # keyed windows + broadcast of |partitions| offset rows; the corpus
    # never meets an unpartitioned window or a sort-merge join.
    "pack_sequences": {"expect": ["BroadcastHashJoin", "Window"], "forbid": ["CartesianProduct", "BroadcastNestedLoopJoin", "SortMergeJoin"]},
    # salted join: the hot key spreads over salt_n reducers via the salt
    # column; the small side replicates through a bounded explode
    # (Generate) — row-identical to the plain join, never a nested loop.
    "salted_join_agg": {"expect": ["Generate"], "forbid": ["CartesianProduct", "BroadcastNestedLoopJoin"]},
    # z-order key: pure JVM bit arithmetic in one projection over the scan —
    # no shuffle, no join, no Python.
    "zorder_key": {"forbid": ["Join", "Exchange", "ArrowEvalPython", "BatchEvalPython"]},
    # recall metric: two bounded top-k branches + metric-sized joins (the
    # 1×1-row agg crossJoin is BNLJ by construction, not a scale risk).
    "lsh_recall": {"expect": ["TakeOrderedAndProject"], "forbid": ["CartesianProduct"]},
    # gopher rules: per-row JVM expression work only — no join, no Python,
    # no explode; the sole Exchange is ensure_parallelism's repartition.
    "gopher_rules": {"forbid": ["Join", "Generate", "ArrowEvalPython", "BatchEvalPython"]},
    # bigram LM: explode → word-count aggs → hash equi-joins on the token
    # keys (vocab-sized sides are NEVER broadcast — they grow with the
    # corpus); the single-row vocab count is the only BNLJ crossJoin.
    "ngram_lm_score": {"expect": ["Generate", "HashAggregate"], "forbid": ["CartesianProduct"]},
    # batch session windows: partial agg BEFORE the single user_id shuffle,
    # then Spark's dedicated MergingSessions operator — never a self-join
    # or gaps-and-islands double window.
    "session_window_agg": {"expect": ["MergingSessions", "HashAggregate"], "forbid": ["Join", "CartesianProduct"]},
    # multi-probe LSH: bucket IN (probe set) stays a pruned scan + bounded
    # top-k — the probe expansion must not introduce a join.
    "lsh_multiprobe": {"expect": ["TakeOrderedAndProject"], "forbid": ["Join"]},
    # two-stage retrieval: tiny candidate set broadcasts into a semi-join;
    # exact rerank is bounded top-k over k' rows — never a shuffle join.
    "rerank_quantized": {"expect": ["TakeOrderedAndProject", "BroadcastHashJoin"], "forbid": ["CartesianProduct", "SortMergeJoin"]},
    # CMS: sketch = posexplode → partial-agg shuffle over <= depth·width
    # keys; probe lookup joins the broadcast sketch — never a shuffle join.
    "cms_freq": {"expect": ["Generate", "HashAggregate", "BroadcastHashJoin"], "forbid": ["CartesianProduct", "SortMergeJoin"]},
    # two-stage per-group cap: both stages are keyed windows — a hot group
    # spreads over salt cells in stage 1; never a join.
    "source_cap": {"expect": ["Window"], "forbid": ["Join", "CartesianProduct"]},
    # skew profiler: ONE map-side-combined groupBy + a 1-row totals
    # crossJoin (BNLJ by construction, 1×|keys|) + bounded top-n.
    "skew_profile": {"expect": ["HashAggregate", "TakeOrderedAndProject"], "forbid": ["SortMergeJoin"]},
    # SemDeDup: pair generation is an equi-join on the centroid cell —
    # hash-partitioned, never a cross product or nested loop.
    "semdedup": {"forbid": ["CartesianProduct", "BroadcastNestedLoopJoin"]},
    # rollup maintenance: two stacked partial-agg groupBys (epoch partials
    # → per-key merge) — no join, no sort, nothing Python.
    "rollup_merge": {"expect": ["HashAggregate"], "forbid": ["Join", "Sort", "ArrowEvalPython", "BatchEvalPython"]},
    # duplicated spans: rolling-window hashes explode into a word-count
    # groupBy, then ONE hash equi-join back — never a doc self-join or a
    # nested loop over positions.
    "duplicate_spans": {"expect": ["Generate", "HashAggregate"], "forbid": ["CartesianProduct", "BroadcastNestedLoopJoin"]},
    # join-size estimation: two depth·width-row sketches hash-join on
    # (r, b); the only BNLJ is the 1×1 est-next-to-exact crossJoin.
    "cms_join_size": {"expect": ["HashAggregate"], "forbid": ["CartesianProduct", "SortMergeJoin"]},
    # per-group histogram quantiles: ONE partial-agg shuffle over
    # ≤ groups·bins keys; the windows run on the histogram rows only.
    "histogram_quantiles_by": {"expect": ["HashAggregate", "Window"], "forbid": ["CartesianProduct", "BroadcastNestedLoopJoin"]},
    # Bloom screen: the filter is a ≤m-row distinct bit set that BROADCASTS
    # into the probe join — the batch side must never shuffle-join the
    # corpus (that is the whole point); the only SMJ-free corpus access is
    # the exact_seen verification semi-join on the fingerprint key.
    "bloom_screen": {"expect": ["BroadcastHashJoin", "HashAggregate"], "forbid": ["CartesianProduct", "SortMergeJoin"]},
    # per-domain quantile gate: thresholds come from the ≤|groups|·bins
    # histogram (one partial-agg shuffle) and BROADCAST back — the corpus
    # is never sorted per group and never meets a shuffle join.
    "quality_filter": {"expect": ["BroadcastHashJoin", "HashAggregate", "Window"], "forbid": ["CartesianProduct", "SortMergeJoin"]},
    # directed containment: same one-shingle-equi-join shape as the
    # Jaccard verifier; |S(a)| sizes broadcast — never a cross product.
    "containment_pairs": {"expect": ["BroadcastHashJoin"], "forbid": ["CartesianProduct", "BroadcastNestedLoopJoin"]},
    # PSI: each input collapses to ≤bins histogram rows before comparison;
    # the join/fold run on sketch-sized relations only (the 1×bins
    # totals crossJoin is BNLJ by construction, not a scale risk).
    "psi_drift": {"expect": ["HashAggregate"], "forbid": ["CartesianProduct"]},
    # MAD outliers: two keyed percentile aggs whose |groups|-row baselines
    # BROADCAST back — the stream shuffles by group key only, never a
    # global sort, never a shuffle join against its own aggregates.
    "mad_outliers": {"expect": ["HashAggregate", "BroadcastHashJoin"], "forbid": ["CartesianProduct", "SortMergeJoin"]},
    # profiler: ALL columns' stats in ONE aggregate pass — never
    # per-column jobs, no joins/unions of per-column subqueries; the
    # per-column fan-out explodes the single aggregated row. The agg
    # plans as SortAggregate (string min/max buffers are var-width, so
    # the hash fast path is out) but stays partial/map-side — the
    # exchange carries one row per partition, and the multi-distinct
    # Expand disappears entirely when 100 TB swaps exact distinct for
    # approx_count_distinct.
    "profile_docs": {"expect": ["Expand", "Generate"], "forbid": ["Join", "Union", "CartesianProduct"]},
    # one-pass covariance: per-partition BLAS Gram partials (MapInPandas)
    # → groupBy over ≤ d²+d+1 keys; assembly joins run on the sketch-sized
    # entries only (broadcast), the corpus is scanned once and never
    # meets a shuffle join.
    "embedding_covariance": {"expect": ["MapInPandas", "HashAggregate", "BroadcastHashJoin"], "forbid": ["CartesianProduct", "SortMergeJoin"]},
    # interval×interval overlap: both sides explode onto the grid and
    # hash-equi-join on the bucket; designated-bucket filter dedups
    # structurally — never a cartesian product, never a result DISTINCT.
    "interval_overlap": {"expect": ["Generate"], "forbid": ["CartesianProduct", "BroadcastNestedLoopJoin"]},
    # per-group heavy hitters: word-count partial agg on (group, token),
    # then the two-stage skew-safe cap (keyed windows) — no join anywhere.
    "heavy_hitters_by": {"expect": ["HashAggregate", "Window", "Generate"], "forbid": ["Join", "CartesianProduct"]},
    # token-budget selection: range-partitioned prefix sum — partition-
    # keyed windows + broadcast of |partitions| offsets; the corpus never
    # meets an unpartitioned window or a sort-merge join.
    "budget_select": {"expect": ["Window", "BroadcastHashJoin"], "forbid": ["CartesianProduct", "SortMergeJoin"]},
    # HLL set ops: two register groupBys + a register-level max-merge —
    # all sketch-sized; the only joins are 1-row estimate crossJoins (BNLJ
    # by construction) and the exactness-anchor semi-join on user_id.
    "hll_set_ops": {"expect": ["HashAggregate"], "forbid": ["CartesianProduct"]},
    # DIY bloom runtime filter: the fact side meets a BROADCAST bit-set
    # probe before any join shuffle; the dim join itself may then
    # broadcast too — never a cartesian product.
    "bloom_join": {"expect": ["BroadcastHashJoin", "HashAggregate"], "forbid": ["CartesianProduct"]},
    # PageRank: per-iteration keyed joins of the |N|-row rank vector into
    # the edge list + partial-agg contribution sums. The rank-vector join
    # is allowed to be SortMergeJoin — BOTH sides scale with the graph, so
    # a keyed shuffle join IS the 100 TB plan (broadcast would cap |N|);
    # the dangling-mass term is a 1-row broadcast (BNLJ by construction).
    "pagerank": {"expect": ["HashAggregate"], "forbid": ["CartesianProduct"]},
    # decayed engagement: 1-row max(ts) anchor broadcast onto the stream
    # (BNLJ of a single row by construction), then map-side partial agg.
    "decayed_engagement": {"expect": ["HashAggregate"], "forbid": ["CartesianProduct", "SortMergeJoin"]},
    # seasonal baseline: two hash aggs + a broadcast of the ~days×24-row
    # baseline back onto the bucket rows — never a sort or nested loop.
    "seasonal_anomaly": {"expect": ["HashAggregate", "BroadcastHashJoin"], "forbid": ["CartesianProduct", "SortMergeJoin"]},
    # PMI: one (term,label) partial-agg shuffle; the term marginal is a
    # window over that result (re-keyed by term), label marginal + total
    # broadcast — the corpus is never scanned twice.
    "term_label_pmi": {"expect": ["HashAggregate", "Window"], "forbid": ["CartesianProduct", "SortMergeJoin"]},
    # prefix-filter Jaccard: every join is a hash equi-join (prefix-token
    # inverted index; verification payload joins) — no nested loop, ever.
    "jaccard_prefix": {"forbid": ["CartesianProduct", "BroadcastNestedLoopJoin"]},
    # all-pairs cosine: postings self-equi-join on the term, pair dots
    # partial-agg map-side — structurally Σdf² with max_df capping it.
    # (The BNLJ in this plan is the crossJoin of the 1-row corpus count —
    # 1×N by construction, not a pair blow-up; the pair join itself must
    # stay a hash equi-join, which CartesianProduct-forbid enforces.)
    "cosine_pairs": {"expect": ["HashAggregate"], "forbid": ["CartesianProduct"]},
    # weighted sample: global top-n on a computed key — per-partition
    # heaps, no total sort, no shuffle, no join.
    "weighted_sample": {"expect": ["TakeOrderedAndProject"], "forbid": ["Join", "Exchange"]},
    # triangle census: degree-ordered wedge enumeration — every join is a
    # hash equi-join (basket self-join, degree joins, wedge join, closing
    # semi-join); a nested loop anywhere means the orientation broke.
    "triangle_count": {"expect": ["HashAggregate"], "forbid": ["CartesianProduct", "BroadcastNestedLoopJoin"]},
    # basket pair mining: self-equi-join ON the basket key + partial-agg
    # pair counts; marginals are vocab-sized hash joins; the only BNLJ-
    # shaped thing is the 1-row basket-count broadcast.
    "association_lift": {"expect": ["HashAggregate"], "forbid": ["CartesianProduct"]},
    # blocked linkage: the candidate join is a hash equi-join on the
    # block columns (the id inequality + length band ride as post-filters)
    # — never a nested loop over the table.
    "blocked_linkage": {"forbid": ["CartesianProduct", "BroadcastNestedLoopJoin"]},
    # Q10: two broadcast dims + fact-fact join + bounded top-k.
    "q10_returned_items": {"expect": ["BroadcastHashJoin", "TakeOrderedAndProject"], "forbid": ["CartesianProduct"]},
    # Q12 shape: one fact-fact join + CASE-inside-SUM conditional agg.
    "q12_late_shipping": {"expect": ["HashAggregate"], "forbid": ["CartesianProduct", "BroadcastNestedLoopJoin"]},
    # Q7: double-role dimension (nation aliased twice) — all dims
    # broadcast; only the fact-fact join and final rollup shuffle.
    "q7_volume_shipping": {"expect": ["BroadcastHashJoin"], "forbid": ["CartesianProduct", "BroadcastNestedLoopJoin"]},
    # path mining: one keyed window + one path groupBy — no join.
    "session_paths": {"expect": ["Window", "HashAggregate"], "forbid": ["Join", "CartesianProduct"]},
    # map functions: pure per-row HOF pipeline — map-side only.
    # explode → partial-agg count → map_from_entries: the keyed shuffles ARE
    # the linear-time shape (the old shuffle-free pure-HOF build was
    # O(tokens × distinct) per row); joins/sorts still forbidden
    "map_functions": {"expect": ["Generate", "HashAggregate"], "forbid": ["Join", "Sort"]},
    # winsorize: one percentile pass -> broadcast cuts -> clip + partial
    # agg; the corpus shuffles only on the group key, twice.
    "winsorized_stats": {"expect": ["HashAggregate", "BroadcastHashJoin"], "forbid": ["CartesianProduct", "SortMergeJoin"]},
    # chi-square: one corpus groupBy; grid densify + windows run on the
    # r*c-row contingency table, never the corpus.
    "chi_square_mix": {"expect": ["HashAggregate"], "forbid": ["SortMergeJoin"]},
    # Benford: one projection + one <=9-key aggregate.
    "benford_audit": {"expect": ["HashAggregate"], "forbid": ["Join", "CartesianProduct"]},
    # Poisson bootstrap: replica axis explodes in-JVM, B sums accumulate
    # in one partial-agg pass; percentiles run on the B-row result.
    "bootstrap_ci": {"expect": ["Generate", "HashAggregate"], "forbid": ["SortMergeJoin", "CartesianProduct"]},
    # logreg GD: per step ONE gradient aggregation (d+1 sums, map-side
    # partial) — no joins, nothing but the cached feature scan per step.
    "logreg_gd": {"forbid": ["Join", "CartesianProduct"]},
    # KM survival: two keyed aggs; the single-partition window runs on
    # the |distinct lifetimes|-row curve, never the corpus.
    "survival_curve": {"expect": ["HashAggregate", "Window"], "forbid": ["CartesianProduct", "SortMergeJoin"]},
    # A/B readout: one per-user agg + 2-row arm rollup; z on 1x1 rows.
    "ab_test_zscore": {"expect": ["HashAggregate"], "forbid": ["SortMergeJoin"]},
    # concentration: one groupBy; the rank window is |groups|-sized.
    "source_concentration": {"expect": ["HashAggregate", "Window"], "forbid": ["Join", "CartesianProduct"]},
    # hashing trick: explode + ONE partial-agg shuffle, no vocab join.
    "feature_hashing": {"expect": ["HashAggregate", "Generate"], "forbid": ["Join", "Sort"]},
    # negative-sampling head: word-count shape + bounded top-n.
    "neg_sampling_weights": {"expect": ["TakeOrderedAndProject", "HashAggregate"], "forbid": ["SortMergeJoin", "CartesianProduct"]},
    # co-occurrence: forward-offset explode + positional equi-join —
    # fan-out is window×tokens, never a corpus position self-join blow-up.
    # (The BNLJ is the 1-row grand-total crossJoin — 1×N by construction.)
    "cooccurrence_pmi": {"expect": ["HashAggregate"], "forbid": ["CartesianProduct"]},
    # k-anonymity: one combo-bounded partial-agg groupBy + HAVING.
    "k_anonymity": {"expect": ["HashAggregate"], "forbid": ["Join", "Sort"]},
    # DP release: per-group count + map-side noise arithmetic — no joins.
    "dp_noisy_counts": {"expect": ["HashAggregate"], "forbid": ["Join", "Sort"]},
    # JL random projection: map-only codegen, no shuffle/join/sort.
    "rp_project": {"forbid": ["Exchange", "Join", "Sort"]},
    # per-group OLS: ONE partial-agg pass over mergeable sufficient stats.
    "group_regression": {"expect": ["HashAggregate"], "forbid": ["Join", "Sort"]},
    # entropy: two keyed aggs (tf, then the -sum p ln p fold) + a window
    # re-keyed on the doc — never a join, never a corpus re-scan.
    "token_entropy": {"expect": ["HashAggregate", "Window"], "forbid": ["Join", "CartesianProduct"]},
    # pigeonhole simhash pairs: block equi-join candidates + JVM popcount
    # verify — never an all-pairs join.
    "simhash_pairs": {"forbid": ["CartesianProduct", "BroadcastNestedLoopJoin"]},
    # correlated LATERAL (ORDER BY + LIMIT): must de-correlate to the
    # WindowGroupLimit top-n family, never a per-outer-row re-execution.
    "lateral_topn": {"expect": ["WindowGroupLimit"], "forbid": ["CartesianProduct", "BroadcastNestedLoopJoin"]},
    # variant path: parse once, typed extraction, one partial-agg shuffle.
    "variant_json": {"expect": ["HashAggregate"], "forbid": ["Join", "Sort"]},
    # C4 segment dedup: segment fan-out (Generate) → word-count groupBy →
    # keep-filter equi-join → keyed reassembly — hash joins only.
    "segment_dedup": {"expect": ["Generate", "HashAggregate"], "forbid": ["CartesianProduct", "BroadcastNestedLoopJoin"]},
    # RRF: two bounded top-k lists (TakeOrderedAndProject) union into one
    # metric-sized groupBy — the corpus never joins anything.
    "rrf_fusion": {"expect": ["TakeOrderedAndProject", "HashAggregate"], "forbid": ["Join", "CartesianProduct"]},
    # Zipf fit: ONE word-count groupBy; rank window + covariance fold run
    # on the vocab-bounded count table, never the corpus.
    "zipf_fit": {"expect": ["HashAggregate", "Window"], "forbid": ["Join", "CartesianProduct"]},
    # filtered ANN: attribute semi-join prunes BEFORE scoring; bounded
    # top-k — never a cartesian, never a global sort.
    "filtered_knn": {"expect": ["TakeOrderedAndProject"], "forbid": ["CartesianProduct", "BroadcastNestedLoopJoin"]},
    # hybrid search: two bounded arms (BM25 + dense top-k) fused by a
    # metric-sized RRF groupBy.
    "hybrid_search": {"expect": ["TakeOrderedAndProject", "HashAggregate"], "forbid": ["CartesianProduct"]},
    # BFS layers: frontier-into-edges hash joins + anti-joins only.
    "khop_frontier": {"forbid": ["CartesianProduct", "BroadcastNestedLoopJoin"]},
    # windowed distinct: both arms are keyed partial aggs; the join runs
    # on the |windows|-row summaries, never the corpus.
    "window_distinct_users": {"expect": ["HashAggregate"], "forbid": ["CartesianProduct", "BroadcastNestedLoopJoin"]},
    # calibration: one keyed window over the corpus, nothing else.
    "quality_calibration": {"expect": ["Window"], "forbid": ["Join", "CartesianProduct"]},
    # media dedup: inverted-index equi-join on the frame hash — the Σdf²
    # shingle-join shape, never all-pairs.
    "media_shared_frames": {"expect": ["HashAggregate"], "forbid": ["CartesianProduct", "BroadcastNestedLoopJoin"]},
    # CUSUM: corpus collapses to (series, day) in one partial agg; the
    # non-associative scan runs grouped-in-pandas on the tiny series.
    "cusum_alerts": {"expect": ["HashAggregate", "FlatMapGroupsInPandas"], "forbid": ["Join", "CartesianProduct"]},
    # PIT join rides the as-of union+window — NO join operator at all,
    # and certainly no interval cross-product.
    "pit_join": {"expect": ["Window"], "forbid": ["Join", "CartesianProduct"]},
    # rank-sum test: corpus collapses to distinct metric values; the rank
    # window runs on that value-domain-bounded table.
    "ab_mann_whitney": {"expect": ["HashAggregate", "Window"], "forbid": ["Join", "CartesianProduct"]},
    # dedup scorecard: fingerprint groupBy + winner equi-join, word-count
    # shapes only.
    "dedup_rate_by_source": {"expect": ["HashAggregate"], "forbid": ["CartesianProduct", "BroadcastNestedLoopJoin"]},
    # WoW growth: corpus collapses to (type, week); lag runs on the tiny
    # aggregate.
    "wow_growth": {"expect": ["HashAggregate", "Window"], "forbid": ["Join", "CartesianProduct"]},
    # leakage-safe split: result is the localCheckpointed CC output —
    # lineage truncated by design, so only the trivial-plan check applies.
    "leakage_safe_split": {"forbid": ["CartesianProduct"]},
    # DSIR: the O(buckets) model must broadcast onto the feature stream,
    # never sort-merge, and nothing may funnel to one partition.
    "dsir_weights": {"expect": ["BroadcastHashJoin"], "forbid": ["CartesianProduct", "SortMergeJoin", "SinglePartition"]},
    # source similarity: collect-per-hash + pair explosion — NO join at all.
    "source_similarity": {"expect": ["Generate"], "forbid": ["Join", "CartesianProduct"]},
    # training order: the row_number window must stay KEYED (epoch, shard).
    "training_order": {"expect": ["Window"], "forbid": ["Join", "CartesianProduct", "SinglePartition"]},
    # checksum: one partial-agg scan, keyed by the slice column.
    "corpus_checksum": {"expect": ["HashAggregate"], "forbid": ["Join", "SinglePartition"]},
    # quality model scoring: literal weights in expressions — pure
    # scan+project, no join, no shuffle.
    "quality_model": {"forbid": ["Join", "Exchange"]},
    # l-diversity: single keyed partial-agg groupBy, like k-anonymity.
    "l_diversity": {"expect": ["HashAggregate"], "forbid": ["Join", "SinglePartition"]},
    # attribution: three windows over ONE user-key shuffle; never a join,
    # never an unpartitioned window.
    "attribution": {"expect": ["Window"], "forbid": ["Join", "CartesianProduct", "SinglePartition"]},
    # FK audit: dim keys broadcast (AQE may upgrade to SMJ for fact-sized
    # dims — at this SF broadcast is the locked expectation); the
    # SinglePartition branches are the three 1-row scalar aggregates.
    "fk_integrity": {"expect": ["BroadcastHashJoin"], "forbid": ["CartesianProduct"]},
    # calibration: global_ranks shape — offsets broadcast back; the BNLJ
    # is the 1-row totals crossJoin, the SinglePartition branch is the
    # |partitions|-row offsets prefix-sum.
    "model_calibration": {"expect": ["BroadcastHashJoin"], "forbid": ["CartesianProduct", "SortMergeJoin"]},
    # Markov transitions: one keyed lead window, then the bounded
    # type-grid aggregate — never a join, never unpartitioned.
    "event_transitions": {"expect": ["Window", "HashAggregate"], "forbid": ["Join", "CartesianProduct", "SinglePartition"]},
    # conversion latency: conditional-min groupBy only — no window, no join.
    "time_to_conversion": {"expect": ["HashAggregate"], "forbid": ["Join", "Window", "SinglePartition"]},
    # exact stratified split: the rank window must stay KEYED by stratum.
    "stratified_split": {"expect": ["Window"], "forbid": ["Join", "CartesianProduct", "SinglePartition"]},
    # vocab drift: full-outer vocab merge correctly sort-merges (neither
    # side is broadcast-safe at scale); bounded top-k at the end.
    "vocab_drift": {"expect": ["TakeOrderedAndProject"], "forbid": ["CartesianProduct", "BroadcastNestedLoopJoin"]},
    # LSH scorecard: pair sets stay hash-equi-join shaped; the BNLJ /
    # SinglePartition branches are the three 1-row scalar aggregates.
    "lsh_dedup_quality": {"forbid": ["CartesianProduct", "SortMergeJoin"]},
    # Heaps curve: the SMJ/SinglePartition branches are the <=10-row
    # decile merge and cumulative window — metric-sized by construction.
    "vocab_growth": {"expect": ["HashAggregate"], "forbid": ["CartesianProduct"]},
    # churn labels / temperature mix: BNLJ = the 1-row broadcast
    # (horizon / totals); nothing corpus-sized may sort-merge.
    "churn_labels": {"expect": ["HashAggregate"], "forbid": ["CartesianProduct", "SortMergeJoin"]},
    "temperature_mix": {"expect": ["HashAggregate"], "forbid": ["CartesianProduct", "SortMergeJoin"]},
    # burstiness: one keyed lag window + one groupBy — no join anywhere.
    "user_burstiness": {"expect": ["Window", "HashAggregate"], "forbid": ["Join", "CartesianProduct", "SinglePartition"]},
    # provenance matrix: source lookups must broadcast-hash-join.
    "cross_source_dup": {"expect": ["BroadcastHashJoin"], "forbid": ["CartesianProduct", "SinglePartition"]},
    # DAU/WAU: dedupe + bounded explode + keyed groupBys, nothing global.
    "rolling_active_users": {"expect": ["HashAggregate"], "forbid": ["CartesianProduct", "SortMergeJoin", "SinglePartition"]},
    # growth accounting: the SMJ is the user-keyed (user, week) anti /
    # outer merge — corpus-keyed and legitimate at scale.
    "growth_accounting": {"expect": ["Window"], "forbid": ["CartesianProduct"]},
    # source embedding sim: dim-keyed joins over the |sources|*d table.
    "source_embedding_sim": {"expect": ["HashAggregate"], "forbid": ["CartesianProduct", "SinglePartition"]},
    # Pareto / RFM: global_ranks shape — offsets broadcast back; the
    # SinglePartition branches are the bounded offset/cumulative rows.
    "pareto_curve": {"expect": ["BroadcastHashJoin"], "forbid": ["CartesianProduct", "SortMergeJoin"]},
    "rfm_segments": {"expect": ["BroadcastHashJoin"], "forbid": ["CartesianProduct", "SortMergeJoin"]},
    # cohort LTV: keyed cumulative over the (cohort, age) grid, broadcast
    # cohort sizes — never unpartitioned, never sort-merge.
    "cohort_ltv": {"expect": ["Window", "BroadcastHashJoin"], "forbid": ["CartesianProduct", "SortMergeJoin", "SinglePartition"]},
    # CUPED: the BNLJ / SinglePartition branches are the 1-row midpoint
    # and pooled-moment broadcasts.
    "cuped_adjustment": {"expect": ["HashAggregate"], "forbid": ["CartesianProduct", "SortMergeJoin"]},
    # dup degree: LSH buckets + one groupBy + broadcast join back.
    "dup_degree": {"expect": ["HashAggregate"], "forbid": ["CartesianProduct", "SortMergeJoin", "SinglePartition"]},
    # TPC-H batch: every dimension must broadcast; lineitem is the only
    # fact-sized side; predicates must reach the scans. Q6 is join-free
    # (its SinglePartition is the 1-row final aggregate).
    "q8_market_share": {"expect": ["BroadcastHashJoin", "PushedFilters"], "forbid": ["CartesianProduct", "SortMergeJoin"]},
    "q6_forecast_revenue": {"expect": ["PushedFilters"], "forbid": ["Join"]},
    "q13_customer_distribution": {"expect": ["BroadcastHashJoin"], "forbid": ["CartesianProduct", "SortMergeJoin", "SinglePartition"]},
    "q14_promo_effect": {"expect": ["BroadcastHashJoin", "PushedFilters"], "forbid": ["CartesianProduct", "SortMergeJoin"]},
    "q15_top_supplier": {"expect": ["BroadcastHashJoin", "PushedFilters"], "forbid": ["CartesianProduct", "SortMergeJoin"]},
    "q17_small_quantity_revenue": {"expect": ["BroadcastHashJoin", "PushedFilters"], "forbid": ["CartesianProduct", "SortMergeJoin"]},
    "q18_large_volume_customers": {"expect": ["BroadcastHashJoin"], "forbid": ["CartesianProduct", "SortMergeJoin", "SinglePartition"]},
    "q19_disjunctive_revenue": {"expect": ["BroadcastHashJoin", "PushedFilters"], "forbid": ["CartesianProduct", "SortMergeJoin"]},
    # Q22: the BNLJ is the 1-row global-average broadcast.
    "q22_global_sales_opportunity": {"expect": ["BroadcastHashJoin"], "forbid": ["CartesianProduct", "SortMergeJoin"]},
    # Q2/Q16/Q20: dimensions and the per-part min broadcast; the only
    # fact-sized input is lineitem feeding one hash aggregate.
    "q2_min_cost_supplier": {"expect": ["BroadcastHashJoin", "PushedFilters"], "forbid": ["CartesianProduct", "SortMergeJoin"]},
    "q16_supplier_counts": {"expect": ["BroadcastHashJoin", "PushedFilters"], "forbid": ["CartesianProduct", "SortMergeJoin"]},
    "q20_promotion_candidates": {"expect": ["BroadcastHashJoin", "PushedFilters"], "forbid": ["CartesianProduct", "SortMergeJoin"]},
    # Q4/Q9/Q21 join lineitem to orders — both fact-sized at scale, so a
    # shuffle join is the correct plan; only cartesian blow-ups are bugs.
    "q4_order_priority": {"expect": ["PushedFilters"], "forbid": ["CartesianProduct", "BroadcastNestedLoopJoin"]},
    "q9_product_profit": {"expect": ["BroadcastHashJoin"], "forbid": ["CartesianProduct", "BroadcastNestedLoopJoin"]},
    "q21_waiting_suppliers": {"expect": ["BroadcastHashJoin", "HashAggregate"], "forbid": ["CartesianProduct", "BroadcastNestedLoopJoin"]},
    # Q11: the BNLJ is the 1-row total-value broadcast.
    "q11_important_stock": {"expect": ["BroadcastHashJoin", "HashAggregate"], "forbid": ["CartesianProduct"]},
    # CDC compaction: one keyed window, no joins at all.
    "cdc_apply": {"expect": ["Window"], "forbid": ["CartesianProduct", "Join"]},
    # skyline: the global window runs over the distinct-price spine
    # (bounded), never a NOT-EXISTS nested loop over the fact table.
    "skyline_frontier": {"expect": ["Window", "BroadcastHashJoin"], "forbid": ["CartesianProduct", "BroadcastNestedLoopJoin", "SortMergeJoin"]},
    # NB: the token→class-count join is a hash equi-join (vocab grows
    # with the corpus — never broadcast); the BNLJ/cross is the tiny
    # class-marginal broadcast; argmax = per-doc window.
    "naive_bayes_lang": {"expect": ["Window", "HashAggregate"], "forbid": ["CartesianProduct"]},
    # exact-integer cume_dist: one keyed window pair, no joins
    "quantile_normalize": {"expect": ["Window"], "forbid": ["CartesianProduct", "Join"]},
    # per-key JVM folds: one hash shuffle each, no joins, no Python
    "throttle_dedup": {"expect": ["HashAggregate"], "forbid": ["CartesianProduct", "Join", "Window", "MapInPandas"]},
    "holt_winters": {"expect": ["HashAggregate"], "forbid": ["CartesianProduct", "Join", "Window", "MapInPandas"]},
    # O(n·k) centroid silhouette: fold expressions + one groupBy — no
    # joins, no O(n²) pair work, no Python
    "ivf_silhouette": {"expect": ["HashAggregate"], "forbid": ["CartesianProduct", "Join", "Window", "MapInPandas", "ArrowEvalPython"]},
    # GROUPED_AGG UDAF: broadcast dim join + the Arrow aggregate node
    "trimmed_mean_udaf": {"expect": ["BroadcastHashJoin", "ArrowAggregatePython"], "forbid": ["CartesianProduct", "SortMergeJoin"]},
    # --- r6 expansion: the previously un-audited relational/batch surface ---
    # winnowing: per-doc rolling-hash windows explode (Generate) into a
    # per-window min groupBy — word-count shape, no joins anywhere.
    "winnowing_fingerprints": {"expect": ["Generate", "HashAggregate"], "forbid": ["Join", "CartesianProduct"]},
    # recursive CTE spine: Spark 4 UnionLoop iteration; the BNLJ is the
    # 1-row anchor/termination broadcast, never a corpus product.
    "calendar_spine": {"expect": ["UnionLoop"], "forbid": ["CartesianProduct", "SortMergeJoin"]},
    # threshold similarity join: the QUERY side is a bounded set by
    # contract, so the broadcast nested-loop against it is the intended
    # map-side scoring plan (corpus never shuffles, never self-joins).
    "similarity_join": {"expect": ["BroadcastNestedLoopJoin"], "forbid": ["CartesianProduct", "SortMergeJoin", "Exchange"]},
    # Python UDTF: the lateral expansion is the UDTF node itself — no
    # join, no shuffle around it.
    "udtf_token_positions": {"expect": ["BatchEvalPythonUDTF"], "forbid": ["Join", "Exchange"]},
    # per-row JVM signal extraction: pure scan+project, nothing Python.
    "text_signals": {"forbid": ["Join", "Exchange", "ArrowEvalPython", "BatchEvalPython"]},
    # frame sampling: pure-JVM byte slicing + bounded explode; the one
    # Exchange is ensure_parallelism re-spreading the local scan.
    "media_frames": {"expect": ["Generate"], "forbid": ["Join", "ArrowEvalPython", "BatchEvalPython"]},
    # per-group HLL: register partial-agg (≤ groups·2^p keys) + the tiny
    # estimate join broadcasts back.
    "hll_by_group": {"expect": ["HashAggregate", "BroadcastHashJoin"], "forbid": ["CartesianProduct", "SortMergeJoin"]},
    # normalized cosine top-k: per-partition heaps, no shuffle at all.
    "knn_cosine": {"expect": ["TakeOrderedAndProject"], "forbid": ["Join", "Exchange"]},
    # Count contract: scalar aggregates; the BNLJ is the 1×1 crossJoin.
    "count_records": {"expect": ["HashAggregate"], "forbid": ["CartesianProduct", "SortMergeJoin"]},
    # TPC-H Q1: predicate pushed to the scan, ONE partial-agg shuffle.
    "q1_pricing_summary": {"expect": ["HashAggregate"], "forbid": ["Join", "CartesianProduct"]},
    # HAVING folds into the post-agg filter — no second shuffle, no sort.
    "agg_having": {"expect": ["HashAggregate"], "forbid": ["Join", "Sort"]},
    # running sum keyed by o_custkey — output-linear, high-cardinality
    # partition key; never an unpartitioned window.
    "window_running_sum": {"expect": ["Window"], "forbid": ["Join", "CartesianProduct", "SinglePartition"]},
    # gaps-and-islands: lag + cumulative flag over ONE user-key shuffle,
    # then the session groupBy — no self-join.
    "batch_sessionization": {"expect": ["Window", "HashAggregate"], "forbid": ["Join", "CartesianProduct", "SinglePartition"]},
    # exact dedup: one md5-fingerprint partial-agg shuffle; no sort.
    "exact_dedup": {"expect": ["HashAggregate"], "forbid": ["Join", "Sort"]},
    # projection/filter demo: map-only, filter rides the scan.
    "filter_projection": {"forbid": ["Join", "Exchange"]},
    # bounded top-k: per-partition heaps, no global sort, no shuffle.
    "topk_orders": {"expect": ["TakeOrderedAndProject"], "forbid": ["Join", "Exchange"]},
    # duplicate-policy programs: anti/semi joins on the key must stay
    # broadcast hash (the mutation batch is small by contract).
    "upsert_update_demo": {"expect": ["BroadcastHashJoin"], "forbid": ["CartesianProduct", "SortMergeJoin"]},
    "delete_ops_demo": {"expect": ["BroadcastHashJoin"], "forbid": ["CartesianProduct", "SortMergeJoin"]},
    "skip_policy_demo": {"expect": ["BroadcastHashJoin"], "forbid": ["CartesianProduct", "SortMergeJoin"]},
    "allow_policy_demo": {"expect": ["HashAggregate"], "forbid": ["Join", "CartesianProduct"]},
    # semi/anti joins de-correlate to broadcast hash joins, never BNLJ.
    "join_semi_anti": {"expect": ["BroadcastHashJoin"], "forbid": ["CartesianProduct", "BroadcastNestedLoopJoin"]},
    # rollup/cube/grouping-sets: ONE Expand + partial-agg shuffle each;
    # dims broadcast where joined.
    "rollup_nation_region": {"expect": ["Expand", "BroadcastHashJoin"], "forbid": ["CartesianProduct", "SortMergeJoin"]},
    "cube_flags": {"expect": ["Expand", "HashAggregate"], "forbid": ["Join", "CartesianProduct"]},
    "grouping_sets_revenue": {"expect": ["Expand", "HashAggregate"], "forbid": ["Join", "Sort"]},
    # scale-safe top-n window: WindowGroupLimit prunes per salt cell, the
    # exact window runs on ≤ salt_n·n candidate rows — no join.
    "window_rank_lag": {"expect": ["Window", "WindowGroupLimit"], "forbid": ["Join", "CartesianProduct"]},
    # set ops plan as aggregates + broadcast hash joins, never BNLJ.
    "set_ops_nations": {"expect": ["HashAggregate"], "forbid": ["CartesianProduct", "BroadcastNestedLoopJoin"]},
    # multi-distinct: Expand fan-out + partial-agg — no join, no sort.
    "distinct_counts": {"expect": ["Expand", "HashAggregate"], "forbid": ["Join", "Sort"]},
    # exact percentiles buffer per-group (ObjectHashAggregate) — no
    # global sort, no window, no join.
    "percentiles_by_flag": {"expect": ["ObjectHashAggregate"], "forbid": ["Join", "Sort", "Window"]},
    # scale-safe distribution windows: grouped_ranks (range-partitioned
    # global rank + broadcast per-group stats); the only window is the
    # |partitions|-row offsets prefix-sum.
    "window_distribution": {"expect": ["BroadcastHashJoin", "Window"], "forbid": ["CartesianProduct", "SortMergeJoin"]},
    # full outer on the nation key: NEITHER side can broadcast (outer
    # rows must survive), so the keyed SMJ IS the 100 TB plan.
    "full_outer_revenue": {"expect": ["SortMergeJoin"], "forbid": ["CartesianProduct", "BroadcastNestedLoopJoin"]},
    # unpivot = Expand multi-projection, never a per-column union/join.
    "unpivot_quantities": {"expect": ["Expand"], "forbid": ["Join", "CartesianProduct"]},
    # pivot: two stacked partial aggs, map-side combined — no join/sort.
    "pivot_status": {"expect": ["HashAggregate"], "forbid": ["Join", "Sort"]},
    "null_semantics": {"expect": ["HashAggregate"], "forbid": ["Join", "Sort"]},
    # modern aggregates (mode/median/any_value) buffer per group.
    "agg_modern": {"expect": ["ObjectHashAggregate"], "forbid": ["Join", "Sort"]},
    # array higher-order functions: pure map-side JVM lambda work.
    "array_hof": {"forbid": ["Join", "Exchange", "ArrowEvalPython", "BatchEvalPython"]},
    # batch tumbling windows: time-bucket groupBy, one shuffle.
    "events_tumbling_windows": {"expect": ["HashAggregate"], "forbid": ["Join", "Sort"]},
    # banded range join: the band table is O(1) rows by construction, so
    # the broadcast nested-loop against it is the intended plan — the
    # huge-side×huge-side variant lives in bucketed_range_join.
    "range_join_bands": {"expect": ["BroadcastNestedLoopJoin", "HashAggregate"], "forbid": ["CartesianProduct", "SortMergeJoin"]},
    # LSH bucket histogram: projection + one ≤2^planes-key groupBy.
    "lsh_bucket_hist": {"expect": ["HashAggregate"], "forbid": ["Join", "Sort"]},
    # vector moments: element-wise JVM folds into one aggregate pass.
    "vector_stats": {"expect": ["HashAggregate"], "forbid": ["Join", "ArrowEvalPython", "BatchEvalPython"]},
    # signature builders: shingle explode + per-doc min/xor groupBy —
    # word-count shape, JVM-side hashing, no joins.
    "minhash_signatures": {"expect": ["Generate", "HashAggregate"], "forbid": ["Join", "Sort"]},
    "simhash": {"expect": ["Generate", "HashAggregate"], "forbid": ["Join", "Sort"]},
    # exact Jaccard verify: shingle inverted-index equi-join; |S| sizes
    # broadcast back; never a nested loop over docs.
    "ngram_jaccard": {"expect": ["Generate", "BroadcastHashJoin"], "forbid": ["CartesianProduct", "BroadcastNestedLoopJoin"]},
    # quality scoring: per-row JVM expressions only.
    "text_quality": {"forbid": ["Join", "Exchange", "ArrowEvalPython", "BatchEvalPython"]},
    # MERGE readback: the merged state is checkpointed (lineage truncated
    # by design); the action-classification joins on the key must stay
    # hash equi-joins, never a nested loop.
    "merge_versioned": {"forbid": ["CartesianProduct", "BroadcastNestedLoopJoin"]},
    # label propagation: the returned labels are the localCheckpointed
    # final round (lineage truncated by design, like leakage_safe_split) —
    # only the trivial-plan check applies; per-round shapes (edge hash
    # join, node-keyed argmax window) are pytest-asserted.
    "label_propagation": {"forbid": ["CartesianProduct", "BroadcastNestedLoopJoin"]},
    # closed-form OLS: ONE map-side-combined aggregate + expression-only
    # solve — no join, no window, no Python, nothing driver-side.
    "ols_closed_form": {"expect": ["HashAggregate"], "forbid": ["Join", "Window", "ArrowEvalPython", "BatchEvalPython"]},
    # U-shaped attribution: every window shares the one user-key shuffle;
    # the result is a |channels|-row aggregate — no join anywhere.
    "position_attribution": {"expect": ["Window", "HashAggregate"], "forbid": ["Join", "CartesianProduct", "SinglePartition"]},
    # bitmap overlap: corpus collapses to bitmaps in one partial agg; the
    # word-index join and size joins are hash/broadcast equi-joins on
    # bitmap-sized relations — never a corpus self-join.
    "audience_overlap": {"expect": ["HashAggregate", "BroadcastHashJoin"], "forbid": ["CartesianProduct", "SortMergeJoin"]},
    # Bellman-Ford: returned distances are the localCheckpointed final
    # round (lineage truncated by design) — trivial-plan check only;
    # per-round join/min shapes are pytest-asserted.
    "shortest_paths": {"forbid": ["CartesianProduct", "BroadcastNestedLoopJoin"]},
    # change data feed: checkpointed readback (lineage truncated) — the
    # in-flight diff join is a keyed full-outer; trivial-plan check only.
    "table_changes": {"forbid": ["CartesianProduct", "BroadcastNestedLoopJoin"]},
    # streaming merge replay: checkpointed manifest readback — trivial.
    "stream_merge_replay": {"forbid": ["CartesianProduct", "BroadcastNestedLoopJoin"]},
    # modularity: label-vector joins ride the checkpointed LP output; the
    # per-label aggregation must stay hash-shaped.
    "modularity": {"expect": ["HashAggregate"], "forbid": ["CartesianProduct", "BroadcastNestedLoopJoin"]},
    # two-huge-sides range join: grid-bucket equi-join (Generate = the
    # interval->bucket explode); the exact predicate rides as a
    # post-filter — never a broadcast nested loop over the corpus.
    "range_join_bucketed": {"expect": ["Generate", "HashAggregate"], "forbid": ["CartesianProduct", "BroadcastNestedLoopJoin"]},
    # max_df lever: same shingle equi-join shape as ngram_jaccard plus
    # the df-filter join — still never a nested loop.
    "ngram_jaccard_maxdf": {"expect": ["Generate", "HashAggregate"], "forbid": ["CartesianProduct", "BroadcastNestedLoopJoin"]},
    # streaming HLL maintenance / compact: checkpoint-truncated readbacks —
    # trivial-plan checks only (the real shapes are stream==batch pytests).
    "stream_hll_replay": {"forbid": ["CartesianProduct", "Join"]},
    "index_compact_demo": {"forbid": ["CartesianProduct", "Join", "Exchange"]},
    "jsonl_quarantine": {"forbid": ["CartesianProduct", "Join"]},
    "schema_evolution": {"forbid": ["CartesianProduct", "Join"]},
    # AA wedge enumeration: capped-adjacency self-join + anti-join — all
    # hash equi-joins, never a nested loop over pairs.
    "adamic_adar": {"expect": ["HashAggregate"], "forbid": ["CartesianProduct", "BroadcastNestedLoopJoin"]},
    # gaps-and-islands: user-partitioned window + keyed aggs, no join.
    "activity_streaks": {"expect": ["Window", "HashAggregate"], "forbid": ["CartesianProduct", "Join"]},
    # ACF: corpus collapses to (group, day) counts FIRST; lag windows and
    # the totals join run over that bounded aggregate only.
    "autocorrelation": {"expect": ["Window", "HashAggregate"], "forbid": ["CartesianProduct", "BroadcastNestedLoopJoin", "SortMergeJoin"]},
    # ATE: one broadcast dim join + ONE stratum-keyed partial agg.
    "stratified_ate": {"expect": ["BroadcastHashJoin", "HashAggregate"], "forbid": ["CartesianProduct", "SortMergeJoin"]},
    # stump: single partial-agg shuffle to the bucket histogram; the
    # cumulative window runs over buckets only — no join anywhere.
    "best_split": {"expect": ["HashAggregate", "Window"], "forbid": ["CartesianProduct", "Join"]},
    # phrase query: postings filtered before the positional equi-joins;
    # never a LIKE scan or a nested loop.
    "phrase_search": {"expect": ["Generate", "HashAggregate"], "forbid": ["CartesianProduct", "BroadcastNestedLoopJoin"]},
    # LOCF: spine explode + ONE key-partitioned fill window; the join is
    # a keyed equi-join of two (key, day) aggregates.
    "resample_locf": {"expect": ["Generate", "Window"], "forbid": ["CartesianProduct", "BroadcastNestedLoopJoin"]},
    # spatial grid: stencil explode + hash equi-join on the cell — the
    # O(n^2) theta join the oracle runs must NOT appear in the Spark plan.
    "geo_neighbors": {"expect": ["Generate"], "forbid": ["CartesianProduct", "BroadcastNestedLoopJoin"]},
    # survivorship: every shuffle keyed by the cluster id; pair
    # enumeration inherits the LSH band contract — no nested loop.
    "golden_records": {"expect": ["HashAggregate"], "forbid": ["CartesianProduct", "BroadcastNestedLoopJoin"]},
    # exponential mechanism: one partial-agg + bounded top-k selection.
    "dp_topk": {"expect": ["HashAggregate", "TakeOrderedAndProject"], "forbid": ["CartesianProduct", "Join"]},
    # KMV: one map-side-combinable distinct, then group-keyed rank window;
    # everything downstream is sketch-sized.
    "kmv_distinct": {"expect": ["HashAggregate", "Window"], "forbid": ["CartesianProduct", "Join"]},
    # pair overlap: the only cross product is the tiny group list (a
    # BroadcastNestedLoopJoin of |groups| x |groups| rows, by design);
    # sketch rows enter via hash joins.
    "kmv_overlap": {"expect": ["Window", "HashAggregate"], "forbid": ["CartesianProduct", "SortMergeJoin"]},
    # ADC serving: codes join the broadcast LUT, integer sum, bounded
    # top-k — the corpus floats are never scanned at query time.
    "pq_topk": {"expect": ["BroadcastHashJoin", "TakeOrderedAndProject"], "forbid": ["CartesianProduct", "SortMergeJoin"]},
    # IVF-PQ: cell prune + code-side ADC; still no corpus sort and no
    # nested loop — the candidate filter is a hash semi/equi join.
    "ivfpq_topk": {"expect": ["BroadcastHashJoin", "TakeOrderedAndProject"], "forbid": ["CartesianProduct", "SortMergeJoin"]},
    # mutual NN: the O(n^2) scoring lives inside the Arrow-batched BLAS
    # pass; the relational plan must show only the partial-topk +
    # mutuality equi-join — never a pair cross product.
    "mutual_nn": {"expect": ["MapInArrow", "Window"], "forbid": ["CartesianProduct", "BroadcastNestedLoopJoin"]},
    # gapped-subsequence support: corpus collapses to (user, type) rows
    # first; the pair join is user-keyed, type-cardinality bounded.
    "sequence_support": {"expect": ["HashAggregate"], "forbid": ["CartesianProduct", "BroadcastNestedLoopJoin"]},
    # motif compiler: every positive term is a hash equi-join on bound
    # vertex columns, negation an anti-join — never a nested loop.
    "motif_triangles": {"forbid": ["CartesianProduct", "BroadcastNestedLoopJoin"]},
    # per-step frontier equi-join + min_by argmin; each step's plan is
    # checkpoint-hidden (k_core contract), the returned frame is the union
    # of step checkpoints — audit forbids products end-to-end
    "graph_walks": {"forbid": ["CartesianProduct", "BroadcastNestedLoopJoin"]},
    "motif_open_wedges": {"forbid": ["CartesianProduct", "BroadcastNestedLoopJoin"]},
    # sharded HNSW serve: per-shard search in FlatMapGroupsInArrow, the
    # global merge is a BOUNDED top-k (TakeOrderedAndProject over
    # n_shards*k rows) — never a full sort, never a product. The serve
    # plan shape is asserted on hnsw_filtered / hnsw_multi (same code
    # path, live plans); hnsw_topk and hnsw_incremental return
    # checkpoint-truncated readbacks (their temp index dirs are removed
    # in `finally`, r10 cleanup), so like the other lifecycle rows only
    # products are forbidden end-to-end.
    "hnsw_topk": {"forbid": ["CartesianProduct", "BroadcastNestedLoopJoin"]},
    "hnsw_incremental": {"forbid": ["CartesianProduct", "BroadcastNestedLoopJoin"]},
    "hnsw_filtered": {
        "expect": ["TakeOrderedAndProject", "FlatMapGroupsInArrow"],
        "forbid": ["CartesianProduct", "BroadcastNestedLoopJoin"],
    },
    # multi-query merge is a per-query window rank over n_shards*Q*k rows
    "hnsw_multi": {
        "expect": ["FlatMapGroupsInArrow", "Window"],
        "forbid": ["CartesianProduct", "BroadcastNestedLoopJoin"],
    },
    # hidden partitioning: source predicates must land on partition
    # columns (PartitionFilters) — pruning at planning time, not row filters
    "hidden_partition_prune": {"expect": ["PartitionFilters: ["], "forbid": ["CartesianProduct"]},
    # composed dir+file pruning: BOTH prunings resolve driver-side from
    # the manifest before the scan (the plan sees only the surviving file
    # list), so the audited plan is the residual-filtered scan + group-by —
    # partition columns still parse (basePath) and nothing joins.
    "hidden_skipping_compose": {"expect": ["HashAggregate"], "forbid": ["Join", "CartesianProduct"]},
    # personalized pagerank: same audited shape (and spec) as pagerank —
    # keyed joins of the |N|-row rank vector into the cached edge list
    # may legitimately sort-merge (both sides are corpus-sized at scale);
    # the 1-row dangling broadcast is the only nested loop, by design
    "personalized_pagerank": {"expect": ["HashAggregate"], "forbid": ["CartesianProduct"]},
    # IVF-SQ8 composed serving: cells prune at planning time, stage 1 is
    # a bounded top-k over the byte-code scan, candidates re-enter as a
    # broadcast for the exact rescore — never a corpus sort or product
    "ivfsq_topk": {"expect": ["PartitionFilters: [", "TakeOrderedAndProject", "BroadcastHashJoin"], "forbid": ["CartesianProduct", "SortMergeJoin"]},
    # k-core peeling: per round a vertex-keyed partial-agg degree count +
    # two LEFT SEMI hash joins of edges against survivors — never a
    # product; the audited plan is the final round over checkpointed edges
    "k_core": {"expect": ["HashAggregate"], "forbid": ["CartesianProduct", "BroadcastNestedLoopJoin"]},
    # full pipeline composition: quality gate is map-only, dedup/decontam
    # are hash equi-joins (semi/anti), the summary stitches 1-row aggs
    # with broadcast nested loops (by design — every side is one row);
    # never an unkeyed corpus product
    "training_pipeline_e2e": {"expect": ["HashAggregate", "BroadcastHashJoin"], "forbid": ["CartesianProduct"]},
    # Z-order skipping: candidates resolve driver-side from the manifest,
    # the plan is the residual-filtered scan of survivors + group-by
    "zorder_skipping": {"expect": ["HashAggregate"], "forbid": ["Join", "CartesianProduct"]},
    # SQ8 two-stage: stage 1 is a bounded top-k over the codes scan, the
    # candidate set re-enters as a broadcast — never a corpus sort/shuffle
    "sq_rescore_topk": {"expect": ["TakeOrderedAndProject", "BroadcastHashJoin"], "forbid": ["CartesianProduct", "SortMergeJoin"]},
    # filtered IVF serving: cells prune at PLANNING time, the metadata
    # predicate pushes into the scan of the surviving cells
    "filtered_ivf_topk": {"expect": ["PartitionFilters: [", "PushedFilters", "TakeOrderedAndProject"], "forbid": ["CartesianProduct", "SortMergeJoin", "Exchange"]},
    # MaxSim: the |Q|-row query side broadcasts against ONE token-corpus
    # scan; (doc,qtok) max + per-doc sum are partial-aggs (the broadcast
    # nested-loop IS the plan — a k-row cross with the tiny side)
    "colbert_maxsim": {"expect": ["BroadcastNestedLoopJoin", "HashAggregate", "TakeOrderedAndProject"], "forbid": ["SortMergeJoin"]},
    # quantiles from the (localCheckpointed, k-row) sample: the audited
    # plan is the order-statistic join; the corpus-side bounded top-k
    # (TakeOrderedAndProject) is plan-locked in tests/test_sketch_sampling.py
    "sampled_quantiles": {"expect": ["Window", "BroadcastHashJoin"], "forbid": ["CartesianProduct"]},
    # truncated-embedding serving keeps the exact-KNN plan shape: slice +
    # fold stay in the scan projection, bounded top-k, no join, no shuffle
    "mrl_topk": {"expect": ["TakeOrderedAndProject"], "forbid": ["Join", "Exchange"]},
    # Misra-Gries: every reduction is a bounded top-(k+1) TakeOrdered; the
    # only nested-loop join is the 1-row delta broadcast (by design)
    "mg_heavy_hitters": {"expect": ["TakeOrderedAndProject"], "forbid": ["CartesianProduct"]},
}


def _read_schemas(plan: str) -> list[str]:
    return [ln.strip() for ln in plan.splitlines() if ln.strip().startswith("ReadSchema:")]


def _ops(plan: str) -> list[str]:
    out = []
    for ln in plan.splitlines():
        m = re.match(r"^\s*\(\d+\)\s+([A-Za-z]+)", ln)
        if m:
            out.append(m.group(1))
    return out


def main() -> int:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else os.environ.get(
        "SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.01"
    )
    spark = get_spark(app_name="plan-audit", master="local[8]", shuffle_partitions=8)
    spark.sparkContext.setLogLevel("ERROR")
    qs = entrymod.queries()
    lines = [
        "# PLANS — physical-plan audit of headline queries",
        "",
        f"Generated by `tools/plan_audit.py` at `{sf_dir}`. For each query:",
        "the operators Catalyst chose, the columns each parquet scan reads",
        "(pruning evidence), and pass/fail against the scale expectations",
        "encoded in the audit table (no cartesian products where forbidden,",
        "broadcasts where expected, bounded top-k, pruned scans).",
        "",
    ]
    n_fail = 0
    for name, spec in AUDITS.items():
        # the row's pins are released once its plan is read, as in bench
        with pinned():
            plan = formatted_plan(qs[name](spark, sf_dir))
        ops = _ops(plan)
        schemas = _read_schemas(plan)
        problems = []
        for needle in spec.get("expect", []):
            if needle not in plan:
                problems.append(f"missing expected `{needle}`")
        for needle in spec.get("forbid", []):
            if needle == "Join":
                if any("Join" in o for o in ops):
                    problems.append("unexpected join operator")
            elif needle == "Exchange":
                if "Exchange" in ops:
                    problems.append("unexpected shuffle (Exchange)")
            elif needle == "Sort":
                if any(o == "Sort" for o in ops):
                    problems.append("unexpected Sort operator")
            elif needle in plan:
                problems.append(f"forbidden `{needle}` present")
        for col in spec.get("prune", []):
            if any(col in s for s in schemas):
                problems.append(f"column `{col}` not pruned from scan")
        status = "FAIL: " + "; ".join(problems) if problems else "ok"
        n_fail += bool(problems)
        lines.append(f"## {name} — {status}")
        lines.append("")
        lines.append("operators: " + " → ".join(dict.fromkeys(ops)))
        for s in schemas:
            lines.append(f"- {s[:160]}")
        lines.append("")
    out_path = os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "PLANS.md")
    with open(out_path, "w") as f:
        f.write("\n".join(lines) + "\n")
    print(f"{len(AUDITS) - n_fail}/{len(AUDITS)} plan audits ok → {out_path}")
    spark.stop()
    return 1 if n_fail else 0


if __name__ == "__main__":
    raise SystemExit(main())
