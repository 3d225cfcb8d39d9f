"""Physical-plan quality guards over the whole driver-query surface.

Correctness tests prove the small-SF answer; these prove the *plan shape*
that has to survive a 1000-executor / 100 TB run: no unbounded cartesian
products, Python kept out of the hot path, whole-stage codegen present.
Plans are inspected without executing (explain only), so checking all
queries at sf0.001 is cheap.
"""

import re

import pytest

import __spark_entry__ as entry_mod

SF = "/root/testdata/sf0.001"

# Queries whose plan legitimately contains a broadcast nested-loop join:
# one side is a small, explicitly-broadcast frame (ANN query set, LSH
# plane table), so the "cross" join is a per-partition loop over a tiny
# local array — the scale-safe formulation of brute-force scoring.
BROADCAST_LOOP_OK = {
    "ann_topk",          # corpus × broadcast(query set)
    "hard_negatives",    # same brute scoring shape + broadcast anti-join
    "ann_lsh_topk",      # bucket-joined, query side broadcast
    "ann_ivf_topk",      # probed inverted lists × broadcast(queries)
    "ann_lsh_recall",    # embeds ann_topk's exact scoring + 1-row×1-row crossJoin
    "ann_ivf_recall",    # same
    "ann_pq_recall",     # same
    # cost-based auto strategy routes the low-threshold config to the
    # exact scorer: left side hash-repartitioned, right side broadcast —
    # the partition-parallel all-pairs loop (LSH at threshold 0.45 would
    # collide 79% of all pairs and is strictly slower; see
    # embedding_cosine_pairs docstring)
    "embedding_cosine_pairs",
    # embeds embedding_cosine_pairs' exact scorer (same cost-based route)
    "embedding_leakage",
    # single-row corpus-stats frame broadcast onto every doc row
    "bm25_topk",
    "tfidf_terms",
    # embeds bm25_topk's broadcast stats frame
    "hybrid_rrf",
    # embeds tf_idf_table's 1-row n_docs broadcast cross
    "doc_keywords",
    # 1-row token/transition-total frames broadcast-crossed onto the
    # vocabulary-sized survivor frame
    "pmi_collocations",
    # 1-row min/max bucket-bounds frame broadcast-crossed onto the
    # bucket frame (cutoff) and the per-key q frame (grid)
    "forecast_conformal",
    # 1-row global-mode frame broadcast-crossed onto the data scan
    "impute_events",
    # 1-row approx-profile × 1-row exact-bounds crossJoin
    "profile_sketch_gate",
    # 10-row top-k frame × broadcast 1-row totals crossJoin
    "key_skew_orders",
    # broadcast 1-row global-prior frame × the data rows
    "target_encode_orders",
    # broadcast 1-row basket-total frame × the rule rows
    "basket_rules",
    # checkpointed rank frame × broadcast 1-row node count
    "part_pagerank",
    # classes-sized marginals × broadcast 1-row totals crossJoin
    "kappa_orders",
    # single-row smoothing-stats and OOV frames broadcast onto the LM /
    # per-doc term rows
    "lm_score",
    "bigram_score",
    # embeds lm_score's OOV broadcast; adds a broadcast cuts frame
    "ccnet_buckets",
    # two lm_score scoring passes (raw + target OOV broadcasts)
    "dsir_weights",
    # two 1-row theta-sketch frames cross into the set expressions,
    # then the 1-row exact-flags fold crosses in for the gate
    "audience_overlap",
    # embeds cosine_pairs_exact's partition-parallel broadcast loop
    "semantic_dedup_recall",
    # 1-row merged-error-bound frame broadcast onto the top-k terms
    "heavy_hitters",
    # TPC-H Q22's positive-balance average: broadcast 1-row scalar
    # frame × the nation-cut customer rows
    "tpch_q22_dormant",
    # generated 10k-row probe grid × broadcast 1-row cuts frame, then
    # 1-row cuts × 1-row digests for the 9-row readout — constant size
    "pctile_round_probe",
    # 1-row bounds / percentile-cuts frames broadcast onto every data row
    "value_histogram",
    "decile_bins",
    # 1-row decile-cuts frame broadcast onto every scored row
    "qini_orders",
    # the association pipeline's 1-row basket total broadcast
    # (basket_rules / powerlaw_parts contract)
    "item_cosine",
    # 1-row pos/neg grand totals broadcast onto the category frame
    "woe_orders",
    # 1-row doc-count frame crossed onto the 1-row cluster fold
    "dedup_cluster_stats",
    # 1-row median/MAD frames broadcast onto the day-series residuals
    "residual_anomaly_daily",
    # 1-row event total broadcast onto the 168-cell heatmap
    "dow_hour_heatmap",
    # 1-row doc-id decile-cuts frame broadcast onto every doc row
    "vocab_growth",
    # 1-row order total broadcast onto the size histogram
    "basket_size_hist",
    # 1-row corpus watermark broadcast onto the per-type frame
    "feature_freshness",
    # 1-row decile-cuts frame broadcast onto the per-key totals
    "lorenz_customers",
    # 1-row value-bounds frame broadcast onto the distinct-total rows
    "abc_xyz_parts",
    # 1-row right-domain count broadcast onto the distinct lefts
    "negative_pairs",
    # 1-row px-bounds frame broadcast onto the distinct-px rows
    "skyline_parts",
    # 1-row mean/std frame broadcast onto the per-day series
    "cusum_daily",
    # 1-row anchor-date frame broadcast onto the per-customer rows
    "rfm_segments",
    # 1-row quartile-cuts frame broadcast onto every data row
    "robust_scale_price",
    # 1-row token-total frame broadcast onto the 20 gate rows
    "cms_gate",
    # 1-row observation-horizon frame broadcast onto every (user, date)
    # row to right-censor the final gap
    "kaplan_meier_orders",
    # same order_gap_durations horizon broadcast
    "nelson_aalen",
    # same horizon broadcast inside order_gap_durations, plus the
    # 1-row group-total frame broadcast onto the 1-row statistic
    "logrank_segments",
    # 1-row tie-correction frame broadcast onto the 1-row U/AUC fold
    "mw_priorities",
    # 1-row tie-correction frame broadcast onto the 1-row H fold
    "kruskal_priority",
    # day-count-sized series self-paired via broadcast loop (pairwise
    # slopes), then the 1-row median frame broadcast back onto it
    "theil_sen_daily",
    # 1-row bounds frame broadcast onto the distinct-price rows
    # (bucketed-cumsum CDF prelude)
    "ks_price_returns",
    "wasserstein_price",
    "cvm_price_returns",
    # 1-row edge-count frame crossed onto the community fold
    "modularity_brands",
    # 1-row pooled-total frame broadcast onto the category cells
    "jsd_event_types",
    # day-count-sized series self-paired via broadcast loop (concordant
    # pairs), then the 1-row n frame broadcast back onto the fold
    "kendall_daily",
    # 1-row percentile frame crossed onto the 1-row base-stats fold
    "bootstrap_ci_price",
    # 1-row totals frame broadcast onto the day-count-sized prefix rows
    "changepoint_revenue",
    # 1-row node-count frame crossed onto the 1-row moment fold
    "assortativity_parts",
    # 1-row bounds/cutoff frames broadcast onto the distinct-value rows
    "pareto_customers",
    # 1-row positive-balance average broadcast onto every customer row
    "dormant_customers",
    # 1-row side-count frame broadcast onto the node rows
    "hits_bipartite",
    # 1-row global-median frame broadcast onto every order row
    "bh_fdr_monthly",
    # basket-rules pipeline's 1-row total broadcast (association_rules)
    "powerlaw_parts",
    # 1-row stock-value cut broadcast onto the part-sized value frame
    "important_stock_q11",
    # 1-row vocab/doc-count frames cross into the classes-sized model
    # table, and the classes-sized (|langs|-row) model broadcasts onto
    # the per-doc frame for scoring — never data × data
    "nb_lang",
    # 1-row bounds frame broadcast onto the data scan + 1-row total
    # onto the 16-row marginals (histogram contract)
    "hbos_orders",
    # corpus × broadcast(query slice) — the ann_topk contract
    "knn_agreement",
    # embeds the knn_agreement run (corpus × broadcast query slice)
    "retrieval_eval",
    # 1-row per-feature bounds frames broadcast onto the data scans
    # (hbos_orders contract)
    "stump_screen",
    # 1-row corpus-watermark frame broadcast onto every event row
    # (feature_freshness contract)
    "forward_label",
    # two corpus × broadcast(query slice) runs (ann_topk contract)
    "rank_overlap",
}


def _physical_plan(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def _shuffle_exchanges(df) -> int:
    """Distinct shuffle ``Exchange`` operators in ``explain("formatted")``.
    A persisted frame's cached plan prints again under every consumer,
    with the same ``(n)`` node ids, so counting distinct ids counts each
    of its shuffles once, as Spark runs them. ``BroadcastExchange`` and
    ``ReusedExchange`` do not match."""
    text = df.sparkSession._jvm.PythonSQLUtils.explainString(
        df._jdf.queryExecution(), "formatted")
    return len(set(re.findall(r"\bExchange \((\d+)\)", text)))


@pytest.fixture(scope="module")
def snapshots(spark):
    """(executed plan text, shuffle Exchange count) per driver query."""
    # Earlier test modules execute operators that persist() intermediate
    # frames (dedup token cache, similarity vector frame). Spark's cache
    # manager substitutes InMemoryRelation into ANY later plan matching the
    # cached fragment, which shifts Exchange counts and made this module
    # order-dependent. Snapshot plans from a clean cache.
    out = {}
    for name, fn in entry_mod.queries().items():
        # per-query clean cache: operators that persist() intermediates
        # (dedup token cache, similarity vectors) would otherwise leak
        # InMemoryRelation fragments into LATER queries' plans, making
        # Exchange counts depend on registry DICT ORDER — every gate-
        # window rotation would shift unrelated snapshots (r9 lesson:
        # seasonal_forecast drifted 5->6 from a reorder alone)
        spark.catalog.clearCache()
        df = fn(spark, SF)
        out[name] = (_physical_plan(df), _shuffle_exchanges(df))
    return out


@pytest.fixture(scope="module")
def plans(snapshots):
    return {name: plan for name, (plan, _) in snapshots.items()}


def test_no_unbounded_cartesian_product(plans):
    """CartesianProduct = a non-broadcast cross join: partitions^2 tasks at
    cluster scale. No query may plan one, ever — the allowlisted ANN
    queries must come out as *Broadcast*NestedLoopJoin (tiny side shipped
    to every executor), not a full shuffle-side cartesian."""
    offenders = {n: p for n, p in plans.items() if "CartesianProduct" in p}
    assert not offenders, f"cartesian product in: {sorted(offenders)}"


def test_nested_loop_only_with_broadcast_and_allowlisted(plans):
    offenders = [
        n for n, p in plans.items()
        if "BroadcastNestedLoopJoin" in p and n not in BROADCAST_LOOP_OK
    ]
    assert not offenders, f"unexpected nested-loop join in: {offenders}"


def test_no_python_row_udfs_in_plans(plans):
    """BatchEvalPython = row-at-a-time Python UDF (the 10-100x slow path).
    Everything except the multimodal decode stub (inherently Python,
    Arrow-batched via mapInPandas -> ArrowEvalPython/MapInPandas) must
    stay JVM-side."""
    offenders = [
        n for n, p in plans.items()
        if "BatchEvalPython" in p and n != "udf_passthrough"
    ]
    assert not offenders, f"row-wise Python UDF in: {offenders}"


def test_whole_stage_codegen_present(spark, plans):
    """Codegen'd operators print with a "*(stage)" prefix. AQE plans only
    reveal their final (codegen-assigned) form after execution, so run a
    representative subset through the noop sink and check the final plan;
    non-AQE plans (no exchange, e.g. passthrough) are checked unexecuted."""
    assert "*(" in plans["passthrough_exprs"]
    for name in ["keyed_join", "window_agg_basic", "minhash_pairs"]:
        df = entry_mod.queries()[name](spark, SF)
        df.collect()  # finalizes this DataFrame's own AQE plan
        final = df._jdf.queryExecution().executedPlan().toString()
        assert "isFinalPlan=true" in final, name
        assert "*(" in final, f"no codegen span in final plan of {name}"


def test_keyed_join_broadcasts_small_dimension(plans):
    assert "BroadcastHashJoin" in plans["keyed_join"]


def _unpartitioned_windows(plan: str):
    """Window lines with an ORDER spec but no partition spec — the
    single-task global sort. Spark prints ``Window [funcs],
    [partitionCols], [orderCols]`` (3 top-level bracket groups) when both
    are present and 2 groups when one is missing; with 2 groups the
    second is the ORDER spec iff it carries ASC/DESC markers. A
    partitioned-but-unordered window (2 groups, no markers — e.g. a
    per-group count frame) is scalable and NOT flagged."""
    out = []
    for line in plan.splitlines():
        stripped = line.lstrip(" :+-*(0123456789)")
        if not stripped.startswith("Window ["):
            continue
        depth, groups, spans, start = 0, 0, [], -1
        for i, ch in enumerate(stripped):
            if ch == "[":
                if depth == 0:
                    groups += 1
                    start = i
                depth += 1
            elif ch == "]":
                depth -= 1
                if depth == 0:
                    spans.append(stripped[start:i + 1])
        if groups >= 3:
            continue
        second = spans[1] if len(spans) > 1 else ""
        if " ASC" in second or " DESC" in second:
            out.append(stripped[:120])
    return out


# Shuffle-Exchange budget per driver query, snapshotted from the plans the
# engine is SUPPOSED to produce (round 4), counted by _shuffle_exchanges:
# distinct shuffle Exchange node ids, so a persisted subtree that prints
# under several consumers counts its shuffles once. Rationale: round 3
# shipped a one-line change (eqNullSafe attach keys) that silently added
# two Exchange+Sort pairs to group_by_limit and regressed it 6.4x — a
# class of plan regression no other guard catches. If a legitimate change
# raises a count, re-snapshot it HERE with a comment saying what the new
# shuffle buys. Notes below that say a persisted subtree PRINTS under
# several consumers ("textual > runtime") were written against the former
# textual `\bExchange\b` count of the executed plan; every budget was
# re-snapshotted with the distinct count, downward only.
EXCHANGE_BUDGET = {
    "passthrough_exprs": 0,
    "keyed_join": 0,
    "window_agg_basic": 1,
    "window_percentile": 1,
    "window_latest_nop": 1,
    "window_union": 1,
    "window_filtered": 1,
    "derived_features": 1,
    "multi_key_window": 2,
    "group_by_limit": 4,
    "window_elementwise": 1,
    "multi_query_join": 1,
    "udf_passthrough": 0,
    "materialize_backfill": 1,
    "elementwise_avg": 2,
    "materialize_snapshot": 1,
    "dedup_exact": 1,
    "doc_chunks": 0,
    "dedup_components": 0,   # iterative; lineage truncated by localCheckpoint
    "quota_sample": 1,
    "hash_split": 0,
    "text_stats": 0,
    "lang_id": 0,
    "pii_redact": 0,
    "top_ngrams": 1,
    # explode->groupBy(doc,gram) then the per-doc rank window re-partitions
    # on doc alone; dup_word_frac attaches via an AQE-decided id join.
    "repetition_stats": 2,
    # the sketch itself is zero-shuffle; the one Exchange is the per-doc
    # (count, xor, min, max) fold the oracle compares against.
    "winnow_fps": 1,
    # two hot-fingerprint df aggregations (one per side), their anti-join
    # spill-back, the fingerprint equi-join, and the per-pair count; all
    # frames are id+hash only
    "winnow_overlap": 5,
    "quality_flags": 0,
    # ONE hash shuffle on the join key — the union-window as-of plan has
    # no join node and no row duplication
    "asof_join": 1,
    # groupBy(user) + the single-row depth-count fold (SinglePartition)
    "funnel": 2,
    # distinct(user, day) + cohort min reuse the user partitioning; the
    # final (cohort, offset) countDistinct adds its two-phase pair
    "retention": 4,
    # one groupBy(event_type); countDistinct expands to its two-phase pair
    "profile_values": 2,
    # sketch side: one streaming aggregate pair; exact side: the
    # countDistinct two-phase pair + percentile single-partition agg
    "profile_sketch_gate": 3,
    # hourly groupBy(user, hour) + daily regroup of the hourly partials;
    # the hourly Exchange prints again inside the persisted level's
    # InMemoryRelation build plan under the same node id (counted once;
    # it executes once — the cache is exactly what stops the union from
    # re-running the cascade)
    "time_rollup": 2,
    # row-local HOF tfs; the single-row stats aggregate contributes the
    # SinglePartition exchange, the top-k is TakeOrderedAndProject.
    "bm25_topk": 1,
    # explode -> groupBy(doc, term) is the only corpus-sized shuffle; the
    # rest are tiny: per-term df, the final per-term fold, and
    # countDistinct(doc_id)'s two-phase (hash + SinglePartition) pair for
    # the exact document count N.
    "tfidf_terms": 6,
    # ONE shuffle: the per-session groupBy(user, seq) reuses the
    # sessionize window's hashpartitioning(user) (same-key rows are
    # already co-located under the coarser key).
    "sessionize": 1,
    # LM build: explode->groupBy(term) + its single-row stats fold (the
    # stats subtree prints twice — once under the logprob broadcast, once
    # under the OOV broadcast — and dedupes to a ReusedExchange at
    # runtime); scoring: groupBy(doc, term), the term-keyed LM join pair,
    # and the final per-doc fold.
    "lm_score": 7,
    # bigram LM build (pair groupBy + prefix regroup) + unigram fallback
    # build + per-doc transition collapse + the two LM joins + final fold
    "bigram_score": 10,
    # ONE bucket-partitioned window shuffle — the whole packing plan
    "pack_sequences": 1,
    # rate CASE + row-local explode + hash order key: fully narrow
    "mixture_sample": 0,
    # Lloyd's iterations execute at plan time (bounded centroid collects,
    # the MLlib shape); visible: the applyInPandas cluster shuffle + the
    # pair dedup
    "semantic_dedup_pairs": 2,
    # embeds the pairs plan + exact all-pairs + the two count folds
    "semantic_dedup_recall": 5,
    "json_props": 0,
    # components come out of the loop's (r12: lazy) localCheckpoint —
    # lineage truncated — and the non-canonical id list broadcasts into
    # the anti-join; the doc payload never shuffles. The 2 visible
    # exchanges are the label groupBy + distinct of the non-canonical id
    # list, formerly hidden behind the loop's final eager checkpoint.
    "dedup_keep_one": 2,
    # r5: persisted shingle frames print their (cached) subtrees under
    # each consumer — 15 -> 17 textual matches (8 distinct), while the
    # shingling pipeline now executes once instead of once per consumer
    # (sf0.1 steady 2.2-3.2 s -> 1.3-1.6 s, x5 stress 11.5 s -> ~3-4 s)
    "contamination_check": 8,
    # r4 Arrow-token path: the printed count rose 24 -> 30 because the
    # (persisted) token subtree now prints under more consumers — those
    # dedupe to ReusedExchange at runtime, and measured wall-clock HALVED
    # (6.2s -> 3.2s at sf0.1). r5 hot-bucket cap: the bucket-count
    # aggregate (ONE runtime shuffle over the cached sig subtree) prints
    # under both anti-join sides of both self-join sides -> 30 -> 44
    # textual matches, while the quadratic hot-bucket candidate join is
    # gone (5x-scale stress 36 s -> 6.7 s, sf0.1 candidates 2.6M -> <1M).
    # r6 anchor stars (over-cap buckets degrade to anchor pairs instead
    # of being dropped — recall fix): +2 runtime shuffles on tiny frames
    # (the bucket-top/anchor aggregates); banded is now persisted against
    # its 4 consumers, and a cached frame's full subtree PRINTS under
    # every consumer in the unexecuted plan -> 44 -> 120 textual matches
    # (6 distinct) while runtime shuffles DROPPED (banded explode runs
    # once: solo min-of-3 5.7 -> 4.4 s at sf0.1; 5x stress 6.9 s,
    # exponent 0.10).
    "minhash_pairs": 6,
    # lm_score's term shuffles + the per-lang cuts aggregate; the
    # persisted scored frame prints under both quantile_bins consumers
    # (cuts + probe) — dedupes to the cache at runtime
    "ccnet_buckets": 8,
    # raw-LM + target-LM term shuffles and the two per-doc micro-nat
    # folds; the shared doc_terms subtree prints under both scoring
    # branches (ReusedExchange at runtime)
    "dsir_weights": 15,
    # daily KLL aggregate + monthly merge; the rank-check join
    # broadcasts the bucket-sized finalized frame onto the raw scan
    "quantile_rollup_gate": 2,
    # weekly theta aggregate + the lag window over the bucket frame +
    # the exact-side distinct/self-join pair for the gate
    "sketch_retention": 6,
    # two cohort sketch folds + the per-user flag fold + final fold
    "audience_overlap": 4,
    "ngram_jaccard_pairs": 5,
    "simhash_pairs": 2,
    "ann_topk": 3,
    # brute scoring (repartition Exchange) + two-stage top-k windows;
    # the positives anti-join is broadcast (no extra Exchange)
    "hard_negatives": 3,
    # pre-explosion spread (r11 §6: explicit-count repartition so the
    # gram generator fans out across tasks) + gram rank (hash-keyed) +
    # ONE doc_id Exchange reused by the island window and both per-doc
    # aggregates
    "exact_substr": 3,
    # row-local md5-threshold ladder, zero shuffle
    "nested_subsets": 0,
    # nested-type HOF folds / one posexplode, both row-local
    "dialog_stats": 0,
    "dialog_turns": 0,
    # composed accounting: row-local gate/token folds + two doc-keyed
    # joins feeding ONE source aggregate
    "sft_accounting": 1,
    # r4: auto strategy -> exact partition-parallel scorer (one
    # repartition Exchange + broadcast loop). The 4-plane/24-table LSH
    # config collides 79% of all pairs, so banding only added overhead
    # (measured ~5x wall-clock at sf0.1 vs exact).
    "embedding_cosine_pairs": 1,
    "ann_lsh_topk": 3,
    "ann_ivf_topk": 6,
    "ann_lsh_recall": 13,
    "ann_ivf_recall": 16,
    # ADC shortlist two-stage rank + broadcast-joined exact re-rank
    "ann_pq_topk": 4,
    # embeds ann_pq_topk + exact scoring + the two count folds
    "ann_pq_recall": 14,
    "multimodal_decode": 0,
    "multimodal_audio": 0,
    # real-codec encode+decode fused in one mapInPandas pass: payloads
    # never leave their partition
    "wav_decode": 0,
    "ppm_decode": 0,
    # URL canonicalization is a pure row-local expression chain
    "url_canon": 0,
    # one keyed aggregate on the canonical string
    "url_dedup": 1,
    # constant 10-row literal frame through round-normalize, no data
    "neg_zero_probe": 0,
    # union-window: the one key shuffle every window agg shares
    "window_decay": 1,
    # raw->(key,bucket) shuffle + key-level grid/span regroup; LOCF window
    # and grid join reuse those partitionings (ReusedExchange)
    "gapfill_daily": 2,
    # ONE Expand + one aggregate pair — the single-pass GROUPING SETS shape
    "cube_orders": 1,
    # Spark pivot = groupBy(key, pivot_col) partial then groupBy(key) final
    "pivot_events": 2,
    # bin-keyed equi join; broadcast at this SF
    "range_join_events": 0,
    # partition-id error fold + term merge + final top-k single partition;
    # every shuffle is capacity-bounded, never vocabulary-sized
    "heavy_hitters": 3,
    # span-hash keep-first window + doc-id reassembly
    "span_dedup": 2,
    # one stats aggregate; the attach is a broadcast join (no data shuffle)
    "winsorize_price": 1,
    "zscore_price": 1,
    # single-row moment matrix (one scan), explode is narrow
    "corr_columns": 1,
    # ONE key-window shuffle; mean/std come from the same frame
    "rolling_anomaly": 1,
    # bounds fold + bucket-count agg + tiny grid join
    "value_histogram": 3,
    # percentile cuts broadcast; data never shuffles
    "decile_bins": 0,
    # WindowGroupLimit pushes the per-group cut below the one shuffle
    "group_topk": 1,
    # one raw (key,bucket) shuffle; slot means / last-bucket / grid are
    # partial re-aggregations of that small frame (broadcast joins)
    "seasonal_forecast": 5,
    # lag window on user + the tiny |types|^2 count/total folds (all
    # post-window frames are matrix-sized, not data-sized)
    "event_transitions": 5,
    # pure row-local filter: md5 draw vs inclusion probability
    "weighted_sample": 0,
    # one scan, single-row moments fold
    "ab_welch": 1,
    # distinct-score collapse is the only data-sized shuffle; the rest
    # are the buckets-sized offset/total windows and per-bucket running
    # sums (the score-count subtree prints again under the broadcast
    # offsets branch — dedupes to ReusedExchange at runtime) + final fold
    "roc_auc_price": 8,
    # Q3: customer broadcast, order-lineitem join broadcast at test SF,
    # ONE groupBy shuffle, top-10 is TakeOrderedAndProject
    "shipping_priority": 1,
    # ONE bucket aggregate pair merged by AQE; grid join broadcasts
    "calibration_events": 1,
    # per-key groupBy + the total fold; top-10 is TakeOrderedAndProject
    # and its rank window runs on the 10-row result
    "key_skew_orders": 3,
    # two encoder passes (te + loo joined on the key): each has a
    # category-stats aggregate pair + the broadcast prior fold; the
    # final key join broadcasts
    "target_encode_orders": 6,
    # pure row-local md5 projection
    "hash_encode_events": 0,
    # row-local md5 draw vs literal CASE rate table
    "stratified_sample": 0,
    # basket groupBy + pair count + per-item counts and their two
    # attach joins (the persisted basket subtree prints under several
    # consumers; dedupes to the cache at runtime)
    "basket_rules": 5,
    # r12: the loop is LAZY (no per-round checkpoint jobs), so the
    # snapshot shows the full 3-round pipeline INCLUDING every persisted
    # frame's cached-plan reprint under each of its consumers (the
    # basket/edge/nodes/outw/en subtrees print ~4x per round: 223
    # textual matches, 17 distinct shuffles). Runtime executes each
    # cached subtree once (InMemoryRelation) and dedupes repeated
    # exchanges (ReusedExchange); same-window solo A/B for the laziness
    # change: 8.6 s -> ~1.8 s at sf0.1.
    "part_pagerank": 17,
    # daily sketch agg + monthly union + direct monthly sketch + the
    # exact countDistinct two-phase pair; every frame past the sketch
    # aggregates is bucket-count-sized fixed-width binaries
    "distinct_rollup_gate": 5,
    # row-local md5 fold bucket / timestamp CASE
    "kfold_docs": 0,
    "time_split_events": 0,
    # both input rankings are TakeOrderedAndProject-bounded; the one
    # Exchange is the fused groupBy over <= 20 rows
    "hybrid_rrf": 1,
    # single-row filtered aggregate; predicates pushed to the scan
    "forecast_revenue": 1,
    # two snapshot aggregates + the co-partitioned full-outer key join
    # (the survivors/fresh union branches reuse the join exchange)
    "scd2_customers": 4,
    # name-dictionary distinct + the two block equi joins + pair dedup;
    # all frames vocabulary-sized
    "fuzzy_parts": 4,
    # one contingency groupBy (persisted InMemory build prints per
    # consumer) + the classes-sized marginal/total folds
    "kappa_orders": 5,
    # Q5: all four dims broadcast; lineitem-orders + the nation groupBy
    "local_supplier_volume": 1,
    # TPC-H Q1 shape: one Expand + aggregate pair
    "pricing_summary": 1,
    # one per-group sort window
    "cdf_rank": 1,
    # distinct lefts/rights/positives folds + the anti-join; the rights
    # index and count frames broadcast
    "negative_pairs": 6,
    # one scan; count_distinct's two-phase aggregate adds the 2nd exchange
    "dq_report": 2,
    # r5 single-pass: ONE union bucket-count aggregate for both sides
    # (count_if fold) + the grid-sized per-column totals window + the
    # persisted bounds aggregate, whose cached subtree PRINTS under both
    # its consumers (one node id, one runtime shuffle)
    "drift_events": 3,
    # two cutoff snapshots (explode+groupBy each) + full-outer key join +
    # the 4-row summary fold
    "snapshot_changes": 6,
    # --- round 6 ---
    # distinct-px aggregate + 1-row bounds fold + per-bucket window
    # repartition + bucket-top fold + n_buckets-sized running-best window;
    # the per_x subtree PRINTS under both its consumers (textual matches
    # > runtime shuffles)
    "skyline_parts": 7,
    # (key, cat) count aggregate + mode-pick window repartition on the
    # key alone (the window frame is category-cardinality-sized)
    "mode_priority": 2,
    # the two cascaded aggregates of the entropy identity — per-(key,cat)
    # counts, then the per-key fold
    "entropy_events": 2,
    # orders joins broadcast(customer); the single hash exchange is shared
    # by the per-segment rank window and the per-segment fold
    "gini_segments": 1,
    # contingency-cell aggregate + two marginal windows over the cell
    # frame + the final fold, whose two count_distincts expand to the
    # two-phase pair
    "chi2_orders": 5,
    # 9-row digit aggregate + the SinglePartition total window over it
    "benford_prices": 2,
    # per-day aggregate + 1-row mean/std fold + the series-length
    # SinglePartition running-sum/peak windows
    "cusum_daily": 4,
    # per-customer RFM aggregate + 1-row anchor fold + the shared
    # SinglePartition exchange under the three ntile windows
    "rfm_segments": 3,
    # ONE (type, day) aggregate — first/last via ordered min_by/max_by,
    # no window
    "ohlc_events": 1,
    # the lead window's (user, day) exchange, reused by the aggregate
    "twap_daily": 1,
    # per-user collect aggregate + path-cardinality count; the top-k is
    # TakeOrderedAndProject (per-partition k)
    "top_paths": 2,
    # ONE moment aggregate (all six sums in the same pass)
    "ols_trend": 1,
    # one exact-percentile cuts aggregate, broadcast onto the scan
    "robust_scale_price": 0,
    # sketch cell aggregate (persisted, prints under lookup + N fold) +
    # exact top-20 aggregate feeding TakeOrderedAndProject + the probe
    # groupBy; every frame depth*width- or k-bounded except the two
    # corpus token passes
    "cms_gate": 4,
    # one cell aggregate; the marginal windows over the cell frame
    # repartition it twice (|a|*|b| rows)
    "mutual_info_orders": 2,
    # row-local plan-literal matrix fold — zero shuffles by construction
    "jl_project": 0,
    # r12: triangle_stats is LAZY (the former eager checkpoint job +
    # re-scan is gone), so the snapshot shows the whole pipeline: pair
    # count, degree aggregate, orientation joins, the adjacency-array
    # groupBy (which REPLACED the oriented-edge self-join — one shuffle
    # of the oriented frame instead of two), wedge closing, per-node
    # count. The persisted e/deg/o frames print their cached plans under
    # every consumer (46 textual matches, 9 distinct shuffles).
    # Same-window solo A/B for lazy + adjacency-wedges: 5.5 -> 1.2 s.
    "triangles_parts": 9,
    # data-sized: the per-user lead window + the duration groupBy; the
    # remaining windows run over the distinct-duration frame (single
    # partition by construction, see GLOBAL_WINDOW_OK)
    "kaplan_meier_orders": 4,
    # anchor aggregate + the two touch aggregates + channel-keyed joins;
    # the persisted touches/per_u subtrees PRINT under every consumer
    # (textual matches > runtime shuffles — cf. drift_events note)
    "attribution_events": 6,
    # cohort min aggregate + user join + (cohort, offset) cell aggregate
    # + the triangle-sized cumulative window
    "ltv_cohorts": 4,
    # r12: the large-star/small-star rounds still end in (now lazy)
    # localCheckpoints and stay out of the snapshot, but the READOUT is
    # lazy — the visible shuffles are the node-set union/distinct, the
    # label aggregate, the size aggregate and their joins, which
    # formerly hid behind the final eager checkpoint. The fingerprint
    # aggregate now doubles as each round's materializing action (one
    # job/round instead of checkpoint + re-scan).
    "components_parts": 3,
    # segment-filtered gap extraction (per-user lead window + duration
    # groupBy) feeds distinct-duration window algebra; the per-group
    # pivot + at-risk windows + the two scalar folds print the persisted
    # subtrees under every consumer
    "logrank_segments": 7,
    # one rank-window partitioning (all three rank windows + the tie
    # counts share the l_returnflag hash partitioning) + the final
    # aggregate reuses it — a single data-sized shuffle for the whole
    # correlogram
    "spearman_lineitem": 1,
    # daily aggregate (map-side combined) + the single-partition series
    # window; everything after runs on the day-count-sized frame
    "acf_daily": 2,
    # two single-pass map-side aggregates over the priority-filtered
    # scan (the roc_auc distinct-price reduction + the tie fold) plus
    # the bucketed-prefix windows over the distinct-price frame
    "mw_priorities": 10,
    # the persisted pv/pooled subtrees PRINT under all five consumers
    # (textual matches > runtime shuffles — drift_events note); runtime
    # is ONE data-sized aggregate + bucketed rank algebra
    "kruskal_priority": 10,
    # one cell aggregate per pair (2) + cell-frame windows + the union
    "cramers_orders": 10,
    # one data-sized (flag, price) weight fold + the decimal bucketed
    # prefix cumsum + the per-(flag, p) min fold
    "weighted_pctile": 8,
    # daily aggregate + the streamed-side spread of the pair loop + the
    # persisted series/slope frames printing under their consumers; the
    # r7 selection-percentile slope median adds single-partition folds
    # over the candidate-BUCKET frame only (bounded by bucket width,
    # never data-sized) — the 10x win is removing F.median's
    # single-task full-multiset merge
    "theil_sen_daily": 3,
    # hits ends in localCheckpoint (pagerank pattern): snapshot plan is
    # the checkpoint scan + the join+distinct edge build (persisted,
    # shared with the iteration) + the two-countDistinct rescale fold
    "hits_bipartite": 4,
    # median fold + the (month, status, flag) cell aggregate + cell-
    # frame windows + the 12-row FDR windows
    "bh_fdr_monthly": 6,
    # association_rules' pair pipeline prints its persisted basket
    # subtree under each branch (textual > runtime; cf. drift_events);
    # runtime is the pair aggregate + one degree aggregate + one fold
    "powerlaw_parts": 6,
    # one data-sized distinct-price collapse; the bucketed-prefix
    # windows and the two tiny folds run on the distinct-value frame
    "ks_price_returns": 8,
    # same prelude + the buckets-sized boundary-stitch frame's window
    # and the gap join print extra Exchange text on the tiny frames
    "wasserstein_price": 12,
    # one cell aggregate (the only data shuffle); pooled/group frames
    # derive from the persisted cells frame (printed per consumer)
    "jsd_event_types": 5,
    # daily aggregate + the bounded pair self-join's broadcast prep +
    # two 1-row folds
    "kendall_daily": 5,
    # TPC-H second wave: every join broadcasts at the snapshot SF, so
    # the single Exchange is the final aggregate / top-k partial
    "tpch_q10_returns": 1,
    "tpch_q14_promo": 1,
    "tpch_q18_big_orders": 1,
    "tpch_q19_disjunct": 1,
    "tpch_q7_volume": 1,
    # TPC-H third wave (r9): q1/q6 are single-fold scans, q3's joins
    # broadcast at the snapshot SF leaving the revenue groupBy
    "tpch_q1_pricing": 1,
    "tpch_q3_unshipped": 1,
    "tpch_q6_forecast": 1,
    # orders year-cut + customer sides sort-merge pre-AQE, + the
    # per-nation aggregate
    "tpch_q5_region_volume": 3,
    # per-supplier fold + the max-equijoin's two pre-AQE sides
    "tpch_q15_top_supplier": 3,
    # decorrelated fold: (order, supplier) pair collapse + per-order
    # fold + per-supplier numwait fold (orders broadcasts at the
    # snapshot SF)
    "tpch_q21_waiting": 3,
    # dormancy anti join's two pre-AQE sort-merge sides (1-row avg
    # frame broadcasts; final per-nation fold collapses map-side)
    "tpch_q22_dormant": 2,
    # one (doc, term) collapse + the per-doc fold
    "ttr_docs": 2,
    # row-local regexp arithmetic — zero shuffle
    "flesch_docs": 0,
    # per-customer revenue aggregate + the shared group-partitioned
    # rank windows; the fold reuses the window partitioning
    "ndcg_ltv": 2,
    # the (id, value) projection spread (r7: fans the 8-hash/32-ladder
    # per-row work out of the single local input split) + B-bounded
    # replicate aggregate (map-side combined) + two 1-row folds (base
    # stats, percentile) crossed back in
    "bootstrap_ci_price": 4,
    # daily aggregate + the series prefix window + the 1-row totals
    # fold + top-1; all post-aggregate frames are day-count-sized
    "changepoint_revenue": 4,
    # association_rules' persisted basket subtree and the persisted
    # symmetrized edge frame PRINT under every consumer (textual >
    # runtime — cf. powerlaw_parts); runtime is the pair aggregate +
    # one degree aggregate + two edge-key joins + one fold
    "assortativity_parts": 7,
    # daily aggregate + the series MA/phase windows + the 7-row
    # seasonal fold joined back (all post-aggregate frames day-sized)
    "stl_daily": 4,
    # the EUROPE customer cut is a key join (customers are data-sized
    # at 100 TB — correctly NOT broadcast); dims broadcast
    "tpch_q8_share": 3,
    # all three dims broadcast; single aggregate Exchange
    "tpch_q9_profit": 1,
    # tf_idf_table's (doc, term) + (term) aggregates + the doc-
    # partitioned rank window
    "doc_keywords": 6,
    # pure narrow projection + TakeOrderedAndProject bottom-k
    "reservoir_docs": 0,
    # one QI cell aggregate (countDistinct adds its two-phase pair) +
    # the single fold
    "k_anon_orders": 3,
    # ONE moment aggregate per group; the Cramer algebra is row-local
    "ols2_lineitem": 1,
    # d²-bounded (i, j) aggregate; the double posexplode is row-local
    "gram_embeddings": 1,
    # the persisted scored distinct-value frame PRINTS under both the
    # cutoff fold and the report fold (textual > runtime); runtime is
    # one per-key aggregate + distinct-value windows + two tiny folds
    "pareto_customers": 14,
    # single semi-join Exchange pair collapses under AQE broadcast;
    # one aggregate
    "late_orders_q4": 1,
    # anti join against the date-cut order keys + one aggregate
    "dormant_customers": 2,
    # per-customer count (co-keyed with the join) + the histogram fold
    "cust_order_dist": 2,
    # countDistinct's two-phase aggregate pair (dims broadcast)
    "supplier_cnt_q16": 2,
    # per-part avg aggregate + the co-keyed attach join + 1-row fold
    "small_qty_q17": 3,
    # daily aggregate + the series moment window (single-partition by
    # construction, day-count-sized)
    "rolling_corr_daily": 2,
    # daily aggregate + the per-lag fold over the exploded series
    "ccf_daily": 2,
    # same two-sample CDF prelude as ks_price_returns + one fold
    "cvm_price_returns": 8,
    # association_rules' persisted basket subtree + the persisted
    # brand-joined edge frame PRINT under both the edge count and the
    # degree fold (textual > runtime — powerlaw_parts note)
    "modularity_brands": 11,
    # zero-shuffle row-local fan-out; rates are driver-side literals
    "mixture_temperature": 0,
    # TPC-H third wave: per-supplier revenue aggregate + the 1-row max
    # fold + the supplier-frame sort (the scalar max and the supplier
    # name table both come back broadcast)
    "top_supplier_q15": 4,
    # one fact-fact join Exchange pair collapses under AQE broadcast of
    # the filtered orders side at snapshot SF; one aggregate + sort
    "late_ship_priority_q12": 2,
    # (order, supplier) late collapse + per-order fold + per-supplier
    # waiting count; top-20 is a TakeOrderedAndProject partial
    "solo_late_supplier_q21": 3,
    # per-user pre/post collapse (the only data-sized shuffle) + the
    # 1-row pooled+per-arm moment fold
    "cuped_events": 2,
    # ONE conditional aggregate pass over orders
    "ab_proportions": 1,
    # (variant, user) unit collapse + the 1-row delta-method fold
    "ratio_metric_events": 2,
    # median fold + the MAD fold (irreducible second pass — the MAD's
    # median-of-deviations depends on the group median); both group
    # frames broadcast back onto the single scan
    "mad_outliers_events": 3,
    # daily DECIMAL aggregate + the single-group Arrow recursion over
    # the 30-bucket series (constant-sized by construction)
    "ewma_daily": 2,
    # monthly aggregate + the lag window over the priority x month
    # frame (bucket-count-sized)
    "mom_growth": 2,
    # TPC-H final wave (the 3 partsupp-derived queries): (part, supplier)
    # pair collapse + the per-part window-min; all dims broadcast
    "min_cost_supplier_q2": 2,
    # per-part value aggregate + the part-sized filter pass; the 1-row
    # scalar cut comes back as a broadcast non-equi join
    "important_stock_q11": 2,
    # ONE conditional (part, supplier) aggregate + distinct-supplier
    # collapse; both dimension filters broadcast
    "promo_suppliers_q20": 2,
    # bucket scan with broadcast decile cuts + per-bucket aggregate +
    # the 10-row cumulative window
    "qini_orders": 2,
    # two data-sized aggregates ((key,period), key); the rest is the
    # pareto bucketed-prefix algebra over distinct-total/bucket frames
    # + the per-key share join (key-cardinality-sized both sides)
    "abc_xyz_parts": 10,
    # ONE key-partitioned lag window; the aggregate reuses its shuffle
    "order_gaps": 1,
    # one moment aggregate per brand; the part dim broadcasts
    "elasticity_brands": 1,
    # 4 FK edges x (child key collapse + parent distinct + the
    # key-cardinality full-outer join feeding the fold)
    "fk_audit": 12,
    # the association pipeline's persisted basket subtree (basket_rules
    # contract) + the cosine projection
    "item_cosine": 5,
    # daily DECIMAL collapse + the day-count-sized series window
    "forecast_eval": 2,
    # per-round peel shuffles are behind localCheckpoint truncation
    # (pagerank contract); the visible plan is the final degree agg
    "kcore_graph": 1,
    # (part, month) unit-value aggregate (the only data-sized shuffle)
    # + the item-sized base join + the period fold
    "price_index_monthly": 3,
    # (user, hour) count collapse + the per-user moment fold
    "burstiness_users": 2,
    # first-A aggregate (persisted for its 2 consumers) + the co-keyed
    # B join/fold + the 1-row percentile summary
    "funnel_latency": 4,
    # category collapse + the 1-row pos/neg totals broadcast
    "woe_orders": 2,
    # (month, brand) aggregate + month-sized totals join + period fold
    "hhi_brands": 3,
    # per-key collapse + the broadcast decile cuts + the 10-bucket
    # aggregate/window
    "lorenz_customers": 4,
    # the minhash pair pipeline + components collapse into cluster
    # sizes + the 1-row doc-count cross (pipeline shuffles sit behind
    # the components localCheckpoint)
    "dedup_cluster_stats": 3,
    # ONE per-language aggregate over row-local token counts
    "token_fertility": 1,
    # per-type aggregate + the 1-row watermark broadcast
    "feature_freshness": 3,
    # two half-rollup aggregates + the merge re-group (all partials)
    "incremental_rollup_gate": 2,
    # (label, pos, half) component collapse + the half self-pair join
    # + per-label cosine fold
    "centroid_drift": 2,
    # sessionize window + session collapse + the persisted point frame
    # + day-local sweep window + day-sized carry/peak folds
    "peak_concurrency_daily": 5,
    # daily collapse + the day-series lag window + two 1-row robust
    # folds broadcast back onto the persisted residual frame
    "residual_anomaly_daily": 4,
    # one fact join + ONE grouped exact-percentile aggregate
    "ship_latency": 1,
    # ONE cell aggregate + the 1-row total broadcast
    "dow_hour_heatmap": 3,
    # month-partitioned rank window + the per-month moment fold
    # (window and groupBy share the month partitioning)
    "gini_monthly": 1,
    # per-customer first-day aggregate + the co-keyed daily split
    "new_vs_returning": 2,
    # (source, fingerprint) collapse + the per-source fold
    "dup_rate_by_source": 2,
    # pre-explosion spread (r11 §6: explicit-count repartition before
    # the bigram explode) + gram first-bucket aggregate + bucket counts
    # + the 10-row cumsum; doc-id cuts broadcast
    "vocab_growth": 5,
    # per-order countDistinct (two-phase expand) + size histogram +
    # the 1-row total broadcast
    "basket_size_hist": 7,
    # constant 16-row literal frame, no data touched
    "oracle_env_probe": 0,
    # generated 10k-row grid, no data files: two global single-row
    # aggregates (cuts, digests) + the 9-row stack readout
    "pctile_round_probe": 3,
    # r9 real-column percentile canary: one global single-row percentile
    # aggregate per probed (table, column) — 6 two-phase folds, the
    # 5-element quantile arrays posexplode shuffle-free and union
    "pctile_data_probe": 6,
    # Bloom prefilter joins: the pre-AQE snapshot counts the word-table
    # bit_or aggregate once PER membership join copy (k=5) because
    # exchange reuse resolves at runtime — the executed plan dedupes
    # them to ONE Exchange + (k-1) ReusedExchange (asserted by
    # test_bloom_probe_plan_reuses_one_broadcast) — plus 2 for the
    # pre-AQE sort-merge form of the exact verify join (broadcast at
    # runtime). Executed shuffle count: 2.
    "bloom_contained_docs": 7,
    # Anti form: the union's two branches (definite-clean + verified
    # maybe-members) each re-plan the k word-join copies (2x5), + 2 for
    # the verify anti join's pre-AQE sort-merge form, + 1 for the final
    # per-source count, + 2 runtime-collapsed duplicates. Executed
    # shuffle count: 3 (words, build keys, final aggregate).
    "bloom_decontam_counts": 15,
    # composed curation job: dedup fingerprint agg + keep-id semi join
    # (2 + 2 pre-AQE sort-merge sides), quality-filter semi join (2),
    # bloom anti = decontam's 15 counted again pre-reuse, minus the
    # shared scan copies AQE dedupes, + the final per-source aggregate.
    # Executed shuffle count: 6.
    "curation_pipeline": 19,
    # r9 batch 3: train-fp distinct (1) + fp-keyed left join (both
    # sides' pre-AQE exchanges) + the (split, source) aggregate
    "split_leakage": 2,
    # one ladder-sized aggregate: partial/final exchange + the 1-row
    # result's SinglePartition
    "padding_waste": 1,
    # word collapse + pair collapse (2 aggregates, partial/final
    # pre-AQE pairs); top-k is TakeOrderedAndProject, no global sort
    "bpe_pair_counts": 2,
    # one corpus-sized per-source aggregate; the plan algebra is
    # scalar projection on the groups-sized frame
    "token_budget_plan": 1,
    # ONE keyed window shuffle on the shard (never a global
    # row_number) + its pre-AQE partial
    "shard_export": 1,
    # bigram agg ×2 (survivors + transition total) + unigram agg ×3
    # (w1 join, w2 join, token total) + 2 single-row totals; the
    # identical bigram/unigram branches dedupe to ReusedExchange at
    # runtime, leaving 1 bigram + 1 unigram corpus-sized shuffle;
    # top-k is TakeOrderedAndProject, no global sort
    "pmi_collocations": 7,
    # the returned plan is ONE k-row label aggregate; the centroid
    # pass is a separate eager bounded job (k×d collect, the k-means
    # precedent) and the scoring scan is zero-shuffle
    "silhouette_embeddings": 1,
    # embedding_cosine_pairs' exact-scorer repartition; the split
    # labels are pure id expressions — no join, no extra shuffle
    "embedding_leakage": 1,
    # the (key, bucket) aggregate is persisted and fans out to 5
    # consumers; the static print re-embeds the cached plan's Exchange
    # per InMemoryTableScan, inflating the count — at runtime the
    # corpus-sized shuffle happens ONCE (cache), the rest are
    # bucket-frame aggregates, the residual window, and grid joins
    "forecast_conformal": 12,
    # mean/median stats agg + mode value-count agg + the global-mode
    # TakeOrdered's SinglePartition; fills are broadcast attaches on
    # one unshuffled scan
    "impute_events": 3,
    # (doc, word) collapse + vocab distinct + the vocab-keyed join's
    # per-doc final aggregate; the k merge replaces are narrow
    "bpe_encode": 3,
    # --- r9 batch 5 ---
    # model training (class/term aggregates + tiny model joins) + the
    # term-keyed scoring join + per-doc argmax; the class-table joins
    # print their pre-AQE partials
    "nb_lang": 15,
    # bounds agg + joint 16x16 grid agg + 2 marginal folds + scoring
    # joins (each with pre-AQE partials printed)
    "hbos_orders": 13,
    # per-day arm aggregate + the day-series window sort
    "msprt_events": 2,
    # corpus repartition + per-query two-stage top-k + vote windows
    "knn_agreement": 3,
    # term agg + TakeOrdered vocab + per-doc aggregate
    "vocab_coverage": 3,
    # --- r9 batch 6 ---
    # term agg feeding the TakeOrdered head; OLS moments fold on 100 rows
    "zipf_fit": 1,
    # the one keyed window shuffle
    "compaction_plan": 1,
    # (group, term) agg + the per-group fold
    "lexical_richness": 2,
    # the salted ShuffledHashJoin's two sides + the brand aggregate
    "salted_join_brands": 3,
    # knn run (corpus repartition + two-stage top-k) + the metrics fold
    "retrieval_eval": 4,
    # per feature: bucket-cell aggregate + the 64-row split windows
    # (x2 features, unioned)
    "stump_screen": 6,
    # the per-user lead window + the 1-row watermark aggregate
    "forward_label": 2,
    # the kaplan_meier_orders plan shape (durations + risk-table folds)
    "nelson_aalen": 4,
    # two brute top-k runs (corpus repartition + two-stage rank each),
    # the run equi-join, and the per-query weight fold
    "rank_overlap": 12,
}


def _over_budget(counts) -> dict:
    """{query: (shuffle Exchange count, budget)} for counts over budget."""
    return {name: (n, EXCHANGE_BUDGET[name]) for name, n in counts.items()
            if name in EXCHANGE_BUDGET and n > EXCHANGE_BUDGET[name]}


def test_exchange_count_within_budget(snapshots):
    """Every query's shuffle-Exchange count must stay at or under its
    snapshot — an extra Exchange means a new shuffle stage at 100 TB."""
    over = _over_budget({name: n for name, (_, n) in snapshots.items()})
    assert not over, (
        "shuffle Exchange count exceeds snapshot (actual, budget): "
        f"{over} — an unintended shuffle crept into these plans"
    )


def test_exchange_budget_catches_one_extra_shuffle(spark, monkeypatch):
    """The budget can fail: one extra repartition on the edge input of
    part_pagerank's lazy loop — a subtree that prints again under every
    round's consumers — adds exactly one shuffle, one over budget."""
    from feathr_spark.operators import graph
    pagerank = graph.pagerank
    monkeypatch.setattr(graph, "pagerank", lambda edges, **kw: pagerank(
        edges.repartition(5), **kw))
    spark.catalog.clearCache()
    n = _shuffle_exchanges(entry_mod.queries()["part_pagerank"](spark, SF))
    spark.catalog.clearCache()
    budget = EXCHANGE_BUDGET["part_pagerank"]
    assert _over_budget({"part_pagerank": n}) == {
        "part_pagerank": (budget + 1, budget)}


def test_exchange_budget_covers_all_queries(plans):
    """New driver queries must declare an Exchange budget."""
    missing = sorted(set(plans) - set(EXCHANGE_BUDGET))
    assert not missing, f"add EXCHANGE_BUDGET entries for: {missing}"


# Queries whose plan legitimately contains an unpartitioned window over a
# frame that is DIMENSION-sized by construction (not the data table):
GLOBAL_WINDOW_OK = {
    # row_number over the DISTINCT right domain (event types / items /
    # labels — the negative-sampling index table, broadcast downstream)
    "negative_pairs",
    # r7 selection-percentile slope median: the rank window runs over
    # the CANDIDATE-BUCKET rows only (the 1-2 histogram buckets
    # containing the target order statistics — bounded by bucket width,
    # never the pair table; the data-sized passes are the histogram and
    # stats aggregates)
    "theil_sen_daily",
    # lag over the BUCKET-COUNT-sized sketch frame (weeks x keys, one
    # fixed-width sketch per row) — never the data table
    "sketch_retention",
    # running best over the BUCKET-TOP frame (n_buckets rows, constant by
    # construction); the data-sized prefix work runs in the per-bucket
    # partitioned window
    "skyline_parts",
    # running CUSUM over the per-DAY series (bucket-granularity-bounded,
    # ~365 rows/year — never the raw events)
    "cusum_daily",
    # ntile is a global rank by definition; it runs over the per-CUSTOMER
    # aggregate (far below the order count). At extreme key cardinality
    # swap in percent_rank-derived buckets (documented in rfm_scores).
    "rfm_segments",
    # at-risk/survival cumsums run over the DISTINCT-DURATION frame
    # (bounded by the day-gap range — ~1k rows at any corpus scale);
    # the data-sized pass is the partitioned per-user lead window
    "kaplan_meier_orders",
    # same distinct-duration algebra (cumulative hazard folds)
    "nelson_aalen",
    # same distinct-duration algebra as kaplan_meier_orders (at-risk
    # cumsums for both groups over the pooled duration frame)
    "logrank_segments",
    # the whole correlogram runs over the day-count-sized series frame;
    # ordering a single global series is inherently one partition
    "acf_daily",
    # the flagged window is the bucketed-prefix OFFSET pass: its input
    # is bounded at `buckets` (64) rows by construction (per-bucket
    # totals), Catalyst just constant-folds the literal partition key
    # out of the spec; the data-sized cumsums run partitioned by bucket
    "mw_priorities",
    "kruskal_priority",
    "weighted_pctile",
    # same bucketed-prefix OFFSET pass (buckets-sized input) for the
    # two-sample CDF prelude; wasserstein adds the lead over the
    # buckets-sized boundary frame for cross-bucket gap stitching
    "ks_price_returns",
    "wasserstein_price",
    "cvm_price_returns",
    # the FDR rank/cummin windows run over the 12-row tests frame —
    # one row per test by construction, never data-sized
    "bh_fdr_monthly",
    # the prefix-moment window runs over the day-count-sized series
    # (the acf_daily contract) — never the raw orders
    "changepoint_revenue",
    # the MA/phase windows run over the same day-count-sized series
    "stl_daily",
    # the bucketed-prefix OFFSET pass over the buckets-sized frame
    # (mw_priorities contract); data-sized cumsums stay per-bucket
    "pareto_customers",
    # rolling moments / lag windows over the day-count-sized series
    # (the acf_daily contract)
    "rolling_corr_daily",
    "ccf_daily",
    # the cumulative-depth window runs over the 10-bucket qini frame
    "qini_orders",
    # seasonal lag / split windows over the day-count-sized series
    # (the acf_daily contract)
    "forecast_eval",
    # cumulative windows over the 10-bucket lorenz frame
    "lorenz_customers",
    # the cross-day carry prefix over the day-count-sized delta frame
    "peak_concurrency_daily",
    # seasonal lag over the day-count-sized series (acf contract)
    "residual_anomaly_daily",
    # the 10-row first-bucket cumsum (heaps curve frame)
    "vocab_growth",
    # the bucketed-prefix OFFSET pass over the buckets-sized frame
    # (pareto_customers contract)
    "abc_xyz_parts",
    # cumulative arm statistics + running-max windows over the per-DAY
    # series frame (acf_daily contract) — never the raw events;
    # partition by experiment id when running many experiments at once
    "msprt_events",
}


def test_no_unbounded_global_window_sort(plans):
    """An unpartitioned Window.orderBy moves ALL rows to one task — the
    single-partition sort anti-pattern (caught in round 2's top_ngrams).
    Any unpartitioned window must sit above a TakeOrderedAndProject (its
    input is then bounded to the global top-k, not the full table) or be
    explicitly allowlisted as dimension-sized."""
    offenders = {}
    for name, plan in plans.items():
        if name in GLOBAL_WINDOW_OK:
            continue
        bad = _unpartitioned_windows(plan)
        if bad and "TakeOrderedAndProject" not in plan:
            offenders[name] = bad
    assert not offenders, f"unbounded global window sort in: {offenders}"
