"""Unit tests for the LLM-data-pipeline extension operators."""

import pytest
from pyspark.sql import Row
from pyspark.sql import functions as F


def test_exact_dedup(spark):
    from feathr_spark.operators.dedup import exact_dedup
    df = spark.createDataFrame([
        Row(doc_id=1, text="hello  world"),
        Row(doc_id=2, text="Hello world "),   # same after normalization
        Row(doc_id=3, text="different doc"),
    ])
    out = {r.keep_id: r.n_dups for r in exact_dedup(df).collect()}
    assert out == {1: 2, 3: 1}


def test_minhash_finds_near_dups_not_distinct(spark):
    from feathr_spark.operators.dedup import minhash_lsh_pairs
    base = "the quick brown fox jumps over the lazy dog and runs far away today"
    df = spark.createDataFrame([
        Row(doc_id=1, text=base),
        Row(doc_id=2, text=base.replace("lazy", "sleepy")),  # near dup
        Row(doc_id=3, text="completely unrelated content about spark window aggregation plans"),
    ])
    pairs = minhash_lsh_pairs(df, num_perm=64, bands=32, threshold=0.5).collect()
    assert [(p.id_a, p.id_b) for p in pairs] == [(1, 2)]
    assert 0.5 <= pairs[0].jaccard < 1.0


def test_minhash_hot_bucket_cap_keeps_giant_cluster_connected(spark):
    """A duplicate cluster LARGER than max_bucket_size over-fills every one
    of its band buckets; the cap must degrade those buckets to anchor
    stars (keeping the cluster connected), not drop them (zero recall)."""
    from feathr_spark.operators.dedup import (
        duplicate_components, minhash_lsh_pairs)
    boiler = ("subscribe to our newsletter terms of service privacy policy "
              "all rights reserved contact us about careers press blog")
    rows = [Row(doc_id=i, text=boiler) for i in range(30)]
    rows += [Row(doc_id=100, text="a genuinely unique document about spark "
                                  "adaptive query execution and skew joins")]
    df = spark.createDataFrame(rows)
    pairs = minhash_lsh_pairs(df, num_perm=64, bands=21, threshold=0.8,
                              max_bucket_size=10)
    comp = {r.doc_id: r.component_id
            for r in duplicate_components(pairs).collect()}
    # every cluster member lands in ONE component (the star via anchors)
    assert all(comp[i] == 0 for i in range(30))
    assert comp.get(100, 100) == 100  # unique doc untouched / own label
    # and every emitted pair is exact-verified at the threshold
    assert all(p.jaccard >= 0.8 for p in pairs.collect())


def test_simhash_hamming(spark):
    from feathr_spark.operators.dedup import simhash_pairs, simhash_signatures
    base = ("alpha beta gamma delta epsilon zeta eta theta iota kappa "
            "lambda mu nu xi omicron pi rho sigma tau upsilon")
    df = spark.createDataFrame([
        Row(doc_id=1, text=base),
        # appending " the" measures hamming 3 under the portable md5 hash —
        # inside the 4x15-band pigeonhole guarantee (any pair with hamming
        # <= 3 of 60 bits shares at least one exact band)
        Row(doc_id=2, text=base + " the"),
        Row(doc_id=3, text="unrelated words entirely different vocabulary set here now"),
    ])
    pairs = {(p.id_a, p.id_b): p.hamming
             for p in simhash_pairs(df, max_hamming=3).collect()}
    assert (1, 2) in pairs and 1 <= pairs[(1, 2)] <= 3
    assert (1, 3) not in pairs and (2, 3) not in pairs
    # signatures discriminate: near-dup distance far below unrelated
    sig = {r["__id"]: r["__sim"] for r in simhash_signatures(df).collect()}
    assert bin(sig[1] ^ sig[2]).count("1") < bin(sig[1] ^ sig[3]).count("1")


def test_cosine_topk_exact(spark):
    from feathr_spark.operators.similarity import cosine_topk
    rows = [
        Row(vec_id=0, embedding=[1.0, 0.0]),
        Row(vec_id=1, embedding=[0.9, 0.1]),
        Row(vec_id=2, embedding=[0.0, 1.0]),
        Row(vec_id=3, embedding=[-1.0, 0.0]),
    ]
    df = spark.createDataFrame(rows)
    out = cosine_topk(df, df.where("vec_id = 0"), k=2).collect()
    assert [(r.rank, r.neighbor_id) for r in out] == [(1, 1), (2, 2)]


def test_lsh_buckets_all_matches_expression_form(spark):
    """The Arrow-batched matmul buckets must agree with the per-table
    expression form (same plane families; only float summation order
    differs, which cannot flip a sign on these well-separated dots)."""
    from feathr_spark.operators.similarity import lsh_bucket, lsh_buckets_all
    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet") \
        .select("vec_id", F.col("embedding").cast("array<double>").alias("v"))
    n_planes, n_tables = 6, 4
    both = emb.select(
        "vec_id",
        lsh_buckets_all(F.col("v"), n_planes, n_tables).alias("fast"),
        F.array(*[lsh_bucket(F.col("v"), n_planes, seed=t)
                  for t in range(n_tables)]).alias("slow"))
    mismatches = both.where(F.col("fast") != F.col("slow")).count()
    assert mismatches == 0


def test_embedding_cosine_pairs_strategy_routing(spark):
    """auto must route non-pruning configs (high table-collision fraction)
    to the exact scorer and pruning configs to LSH; both must find a
    planted near-identical pair."""
    import numpy as np
    from feathr_spark.operators.dedup import embedding_cosine_pairs
    rng = np.random.RandomState(7)
    base = rng.randn(64)
    rows = [Row(vec_id=0, embedding=base.tolist()),
            Row(vec_id=1, embedding=(base + 0.01 * rng.randn(64)).tolist())]
    rows += [Row(vec_id=i, embedding=rng.randn(64).tolist())
             for i in range(2, 40)]
    df = spark.createDataFrame(rows)

    # non-pruning config (4 planes x 24 tables -> 79% collision fraction):
    # auto = exact; plan shows the broadcast loop, no Python stage
    auto_plan = embedding_cosine_pairs(
        df, threshold=0.9, planes=4, n_tables=24)._jdf \
        .queryExecution().executedPlan().toString()
    assert "BroadcastNestedLoopJoin" in auto_plan
    assert "ArrowEvalPython" not in auto_plan

    # pruning config (16 planes x 4 tables -> collision fraction 6e-5):
    # auto = LSH; plan carries the Arrow-batched bucket stage
    lsh_df = embedding_cosine_pairs(df, threshold=0.9, planes=16, n_tables=4)
    lsh_plan = lsh_df._jdf.queryExecution().executedPlan().toString()
    assert "ArrowEvalPython" in lsh_plan
    assert "BroadcastNestedLoopJoin" not in lsh_plan

    exact_pairs = {(r.id_a, r.id_b) for r in embedding_cosine_pairs(
        df, threshold=0.9, planes=4, n_tables=24).collect()}
    lsh_pairs = {(r.id_a, r.id_b) for r in lsh_df.collect()}
    assert (0, 1) in exact_pairs
    assert (0, 1) in lsh_pairs

    with pytest.raises(ValueError):
        embedding_cosine_pairs(df, strategy="bogus")


def test_winnow_fingerprints_guarantee_and_edges(spark):
    """Winnowing guarantee: a shared substring of length >= k+w-1 yields a
    shared fingerprint; unrelated docs share none; degenerate short texts
    produce exactly one fingerprint."""
    from feathr_spark.operators.text import winnow_fingerprints
    shared = "the quick brown fox jumped over the lazy dog repeatedly"
    df = spark.createDataFrame([
        Row(doc_id=1, text="aaa " + shared + " bbb"),
        Row(doc_id=2, text="zzzzzzz " + shared + " wwwwwwwww"),
        Row(doc_id=3, text="unrelated entirely different content"),
        Row(doc_id=4, text="hi"),       # shorter than k -> whole-string gram
        Row(doc_id=5, text="abcdef"),   # 2 grams < w -> single window
    ])
    fps = winnow_fingerprints(df, "text", "doc_id", k=5, w=4)
    by_doc = {}
    for r in fps.collect():
        by_doc.setdefault(r.doc_id, set()).add(r.fingerprint)
    assert by_doc[1] & by_doc[2]            # guarantee
    assert not (by_doc[1] & by_doc[3])      # discrimination
    assert len(by_doc[4]) == 1 and len(by_doc[5]) == 1
    # density: far fewer fingerprints than positions (expected ~2/(w+1))
    n_pos = len("aaa " + shared + " bbb") - 5 + 1
    assert len(by_doc[1]) < n_pos / 2


def test_funnel_counts_semantics(spark):
    """Order matters, strict timestamps, within-window anchored at the
    first step, users counted at their deepest prefix."""
    import datetime as dt
    from feathr_spark.operators.funnel import funnel_counts
    t = lambda m: dt.datetime(2024, 1, 1, 0, m, 0)
    df = spark.createDataFrame([
        # u1 completes in order
        Row(user_id=1, ts=t(0), event_type="view"),
        Row(user_id=1, ts=t(5), event_type="click"),
        Row(user_id=1, ts=t(9), event_type="buy"),
        # u2: click BEFORE view -> depth 1 only (order matters)
        Row(user_id=2, ts=t(0), event_type="click"),
        Row(user_id=2, ts=t(5), event_type="view"),
        # u3: view+click, no buy -> depth 2
        Row(user_id=3, ts=t(0), event_type="view"),
        Row(user_id=3, ts=t(3), event_type="click"),
        # u4: irrelevant events only -> not counted anywhere
        Row(user_id=4, ts=t(0), event_type="error"),
    ])
    out = {r.step: (r.step_type, r.n_users) for r in
           funnel_counts(df, ["view", "click", "buy"]).collect()}
    assert out == {1: ("view", 3), 2: ("click", 2), 3: ("buy", 1)}
    # within 4 minutes of the first view: u1's click at +5m now misses,
    # u3's click at +3m still lands
    outw = {r.step: r.n_users for r in
            funnel_counts(df, ["view", "click", "buy"],
                          within="4m").collect()}
    assert outw == {1: 3, 2: 1, 3: 0}
    with pytest.raises(ValueError):
        funnel_counts(df, [])
    with pytest.raises(ValueError):
        funnel_counts(df, ["view", "view"])


def test_retention_cohorts_matrix(spark):
    """Cohorting by first active day; day-0 equals cohort size; repeat
    activity within a day counts once."""
    import datetime as dt
    from feathr_spark.operators.funnel import retention_cohorts
    d = lambda day, h=0: dt.datetime(2024, 1, day, h, 0, 0)
    df = spark.createDataFrame([
        Row(user_id=1, ts=d(1)), Row(user_id=1, ts=d(1, 5)),  # same day x2
        Row(user_id=1, ts=d(2)),
        Row(user_id=2, ts=d(1)), Row(user_id=2, ts=d(3)),
        Row(user_id=3, ts=d(2)),
    ])
    out = {(str(r.cohort_day), r.day_offset): r.retained
           for r in retention_cohorts(df, max_days=30).collect()}
    assert out == {
        ("2024-01-01", 0): 2,   # u1, u2 cohorted on day 1
        ("2024-01-01", 1): 1,   # u1 back next day
        ("2024-01-01", 2): 1,   # u2 back on day 3
        ("2024-01-02", 0): 1,   # u3's own cohort
    }


def test_asof_join_semantics(spark):
    """Backward/forward directions, inclusive equal-timestamp match,
    tolerance cutoff, SQL null semantics, left-join survival."""
    import datetime as dt
    from feathr_spark.operators.asof import asof_join
    t = lambda m: dt.datetime(2024, 1, 1, 0, m, 0)
    left = spark.createDataFrame([
        Row(lid=1, k=1, ts=t(10)),
        Row(lid=2, k=1, ts=t(30)),
        Row(lid=3, k=2, ts=t(10)),   # no right rows for k=2
        Row(lid=4, k=None, ts=t(10)),  # null key never matches
        Row(lid=5, k=1, ts=None),      # null ts never matches
    ])
    right = spark.createDataFrame([
        Row(k=1, ts=t(10), v=100.0),   # equal ts -> matches lid=1
        Row(k=1, ts=t(25), v=250.0),
        Row(k=1, ts=t(40), v=400.0),
        Row(k=None, ts=t(5), v=-1.0),  # null key dropped
        Row(k=1, ts=None, v=-2.0),     # null ts dropped
    ])
    back = {r.lid: (r.ts_r, r.v_r) for r in
            asof_join(left, right, ["k"], "ts", "ts").collect()}
    assert back[1] == (t(10), 100.0)          # inclusive bound
    assert back[2] == (t(25), 250.0)          # newest at-or-before
    assert back[3] == (None, None)
    assert back[4] == (None, None)
    assert back[5] == (None, None)
    assert len(back) == 5                      # left join: all rows kept

    fwd = {r.lid: (r.ts_r, r.v_r) for r in
           asof_join(left, right, ["k"], "ts", "ts",
                     direction="forward").collect()}
    assert fwd[1] == (t(10), 100.0)            # inclusive both directions
    assert fwd[2] == (t(40), 400.0)            # earliest at-or-after

    tol = {r.lid: (r.ts_r, r.v_r) for r in
           asof_join(left, right, ["k"], "ts", "ts",
                     tolerance="4m").collect()}
    assert tol[1] == (t(10), 100.0)            # gap 0 <= 4m
    assert tol[2] == (None, None)              # gap 5m > 4m

    with pytest.raises(ValueError):
        asof_join(left, right, ["k"], direction="nearest")
    with pytest.raises(ValueError):
        asof_join(left, left.select("k", "ts"), ["k", "ts"])


def test_profile_numeric_and_time_rollup(spark):
    """Profiler counts/nulls/distinct/min/max/sum/mean per group; rollup
    cascade: daily rows equal re-aggregated hourly rows."""
    import datetime as dt
    from feathr_spark.operators.profile import profile_numeric, time_rollup
    t0 = dt.datetime(2024, 1, 1, 0, 0, 0)
    rows = [
        Row(g="a", ts=t0, v=1.5),
        Row(g="a", ts=t0 + dt.timedelta(minutes=30), v=2.5),
        Row(g="a", ts=t0 + dt.timedelta(hours=1), v=4.0),
        Row(g="a", ts=t0 + dt.timedelta(days=1), v=8.0),
        Row(g="b", ts=t0, v=None),
        Row(g="b", ts=t0, v=3.0),
    ]
    df = spark.createDataFrame(rows)
    prof = {r.g: r for r in
            profile_numeric(df, ["v"], group_by=["g"]).collect()}
    assert prof["a"].v_count == 4 and prof["a"].v_nulls == 0
    assert prof["a"].v_distinct == 4
    assert prof["a"].v_sum == 16.0 and prof["a"].v_mean == 4.0
    assert prof["b"].v_count == 1 and prof["b"].v_nulls == 1
    with pytest.raises(ValueError):
        profile_numeric(df, [])

    roll = time_rollup(df.where("v is not null"), "ts", ["g"], "v",
                       levels=("hour", "day"))
    got = {(r.g, r.resolution, r.bucket_start): (r.n_events, r.v_sum,
                                                 r.v_min, r.v_max, r.v_avg)
           for r in roll.collect()}
    assert got[("a", "hour", t0)] == (2, 4.0, 1.5, 2.5, 2.0)
    assert got[("a", "day", t0)] == (3, 8.0, 1.5, 4.0, 2.6667)
    assert got[("a", "day", t0 + dt.timedelta(days=1))] == \
        (1, 8.0, 8.0, 8.0, 8.0)
    with pytest.raises(ValueError):
        time_rollup(df, "ts", ["g"], "v", levels=("day", "hour"))


def test_profile_exact_mode_partitioning_invariance(spark):
    """The decimal-sum design claim: exact profiles are bit-identical
    under any partitioning (double summation would differ in the last
    ulp across partition orders for FP-unfriendly values like 0.1)."""
    from feathr_spark.operators.profile import profile_numeric
    df = spark.range(0, 30000).selectExpr(
        "CAST(0.1 + (id % 7) * 0.3 AS DOUBLE) AS v")
    rows = []
    for n_parts in (1, 7, 32):
        r = profile_numeric(df.repartition(n_parts), ["v"]).collect()[0]
        rows.append(tuple(r))
    assert rows[0] == rows[1] == rows[2]


def test_profile_approx_mode_accuracy(spark):
    """Sketch profile: HLL distinct within 3*rsd of exact; approx
    quantiles inside an exact rank band; plan has no distinct-expansion."""
    from feathr_spark.operators.profile import profile_numeric
    df = spark.range(0, 20000).selectExpr("id % 997 AS g",
                                          "CAST(id % 5000 AS DOUBLE) AS v")
    ap = profile_numeric(df, ["v"], approx=True, rsd=0.05).collect()[0]
    ex = profile_numeric(df, ["v"]).collect()[0]
    assert abs(ap.v_distinct - ex.v_distinct) / ex.v_distinct <= 0.15
    assert ap.v_count == ex.v_count and ap.v_sum == ex.v_sum
    # p50 of 0..4999 uniform-ish: within a generous rank band
    assert 2000 <= ap.v_p50 <= 3000
    assert 4300 <= ap.v_p95 <= 5000
    # exact mode has no quantile columns; approx does
    assert not [c for c in ex.asDict() if c.startswith("v_p")]


def test_rollup_incremental_merge_equals_recompute(spark):
    """Continuous-aggregate refresh: merging raw rollups of disjoint
    batches then finalizing equals recomputing over the union —
    bit-for-bit (decimal partials; merging FINALIZED doubles would
    drift)."""
    import datetime as dt
    from feathr_spark.operators.profile import (
        finalize_rollup, merge_rollups, time_rollup)
    t0 = dt.datetime(2024, 1, 1)
    mk = lambda rows: spark.createDataFrame(rows, "g int, ts timestamp, v double")
    batch1 = mk([(1, t0 + dt.timedelta(minutes=m), 0.1 + m * 0.3)
                 for m in range(0, 180, 7)])
    batch2 = mk([(1, t0 + dt.timedelta(minutes=m), 0.2 + m * 0.1)
                 for m in range(90, 300, 11)] + [(2, t0, 5.5)])
    levels = ("hour", "day")
    merged = finalize_rollup(merge_rollups(
        time_rollup(batch1, "ts", ["g"], "v", levels, raw=True),
        time_rollup(batch2, "ts", ["g"], "v", levels, raw=True)))
    full = time_rollup(batch1.unionByName(batch2), "ts", ["g"], "v", levels)
    key = lambda r: (r.g, r.resolution, r.bucket_start)
    m = {key(r): tuple(r)[3:] for r in merged.collect()}
    f = {key(r): tuple(r)[3:] for r in full.collect()}
    assert m == f and len(m) > 3
    with pytest.raises(ValueError):
        merge_rollups()


def test_gopher_quality_flags_rules(spark):
    """Each named gate trips on its own violation; a clean doc keeps."""
    from feathr_spark.operators.text import gopher_quality_flags
    df = spark.createDataFrame([
        Row(doc_id=1, text="the quick brown fox is happy and that makes "
                           "everyone glad to watch it run"),   # clean
        Row(doc_id=2, text="too short"),                        # word count
        Row(doc_id=3, text="## ### #tag ### ## the and of to is be with "
                           "that extra words here"),            # symbols
        Row(doc_id=4, text="zzzz qqqq wwww eeee rrrr tttt yyyy uuuu iiii "
                           "oooo pppp aaaa"),                   # no stopwords
    ])
    out = {r.doc_id: r for r in
           gopher_quality_flags(df, min_words=5).collect()}
    assert out[1].keep
    assert not out[2].ok_word_count and not out[2].keep
    assert not out[3].ok_symbol_ratio and not out[3].keep
    assert not out[4].ok_stopwords and not out[4].keep
    # metric values: doc 2 has 2 words, mean word len (3+5)/2 = 4.0
    assert out[2].n_words == 2 and out[2].mean_word_len == 4.0


def test_elementwise_reduce_sparse_semantics(spark):
    """Sparse (map) elementwise: SUM/AVG treat missing keys as implicit
    zeros; MIN/MAX reduce over present values; empty input is null."""
    from feathr_spark.model import Aggregation
    from feathr_spark.operators.aggregations import elementwise_reduce_sparse
    df = spark.createDataFrame(
        [([{"a": 1.0, "b": 2.0}, {"b": 3.0, "c": 4.0}],),
         ([],)],
        "maps array<map<string,double>>")
    out = df.select(
        *[F.expr(elementwise_reduce_sparse("maps", a)).alias(n)
          for n, a in [("s", Aggregation.ELEMENTWISE_SUM),
                       ("avg", Aggregation.ELEMENTWISE_AVG),
                       ("mn", Aggregation.ELEMENTWISE_MIN),
                       ("mx", Aggregation.ELEMENTWISE_MAX)]]).collect()
    r = out[0]
    assert r.s == {"a": 1.0, "b": 5.0, "c": 4.0}
    assert r.avg == {"a": 0.5, "b": 2.5, "c": 2.0}   # divides by n=2
    assert r.mn == {"a": 1.0, "b": 2.0, "c": 4.0}    # present values only
    assert r.mx == {"a": 1.0, "b": 3.0, "c": 4.0}
    assert out[1].s is None and out[1].avg is None
    with pytest.raises(ValueError):
        elementwise_reduce_sparse("maps", Aggregation.SUM)


def test_winnow_overlap_pairs_verbatim_and_cap(spark):
    """A >=k+w-1-char verbatim run between corpora produces a pair; the
    max_df cap removes boilerplate fingerprints shared by every doc."""
    from feathr_spark.operators.text import winnow_overlap_pairs
    run = "the quick brown fox jumped over the lazy dog tonight again"
    boiler = " copyright notice terms of service apply to everyone always"
    a = spark.createDataFrame([
        Row(doc_id=1, text="aaa " + run + boiler),
        Row(doc_id=2, text="unrelated left content entirely" + boiler),
    ])
    b = spark.createDataFrame([
        Row(doc_id=10, text="zzzz " + run + boiler),
        Row(doc_id=11, text="other right content different" + boiler),
    ])
    pairs = {(r.id_a, r.id_b): r.n_shared for r in
             winnow_overlap_pairs(a, b, k=16, w=8, min_shared=2).collect()}
    assert (1, 10) in pairs          # the verbatim run matches
    # with the boilerplate capped out (df > 1 on either side), ONLY the
    # verbatim-run pair survives
    capped = {(r.id_a, r.id_b): r.n_shared for r in
              winnow_overlap_pairs(a, b, k=16, w=8, min_shared=2,
                                   max_df=1).collect()}
    assert set(capped) == {(1, 10)}
    assert capped[(1, 10)] <= pairs[(1, 10)]


def test_bm25_ranks_relevant_docs(spark):
    """BM25 must rank the term-dense short doc first, score docs without
    any query term zero, and respect the round-before-rank tiebreak."""
    from feathr_spark.operators.search import bm25_topk, tf_idf_table
    df = spark.createDataFrame([
        Row(doc_id=1, text="spark window agg window window"),
        Row(doc_id=2, text="window mention once in a much longer document "
                           "with many other words diluting the term density"),
        Row(doc_id=3, text="no relevant terms at all here"),
        Row(doc_id=4, text="unrelated filler text padding"),
    ])
    out = bm25_topk(df, ["window"], k=4).collect()
    assert [r.doc_id for r in out][:2] == [1, 2]
    scores = {r.doc_id: r.score for r in out}
    assert scores[1] > scores[2] > 0
    assert scores.get(3, 0.0) == 0.0 and scores.get(4, 0.0) == 0.0
    assert [r.rank for r in out] == [1, 2, 3, 4]
    with pytest.raises(ValueError):
        bm25_topk(df, [])

    # tf-idf: a ubiquitous term gets the minimum idf, a unique term tf=1
    # scores higher than a ubiquitous tf=1
    t = {(r.doc_id, r.term): r for r in tf_idf_table(df).collect()}
    assert t[(1, "spark")].df == 1 and t[(1, "window")].df == 2
    assert t[(1, "spark")].tf_idf > t[(2, "window")].tf_idf


def test_text_stats_values(spark):
    from feathr_spark.operators.text import text_stats
    df = spark.createDataFrame([Row(doc_id=1, text="Hello, world! This is the test.")])
    r = text_stats(df).collect()[0]
    assert r.n_tokens == 6
    assert r.fingerprint == __import__("hashlib").md5(
        b"hello, world! this is the test.").hexdigest()
    assert 0.0 <= r.quality <= 1.0
    assert r.punct_ratio > 0


def test_lang_id_english_vs_german(spark):
    from feathr_spark.operators.text import lang_id
    df = spark.createDataFrame([
        Row(id=1, text="the cat and the dog of the house is to go"),
        Row(id=2, text="der hund und die katze ist das beste der welt"),
        Row(id=3, text="zzz qqq xxx"),
    ])
    got = {r.id: r.p for r in df.select("id", lang_id(F.col("text")).alias("p")).collect()}
    assert got == {1: "en", 2: "de", 3: "und"}


def test_multimodal_decode_plumbing(spark):
    from feathr_spark.operators.multimodal import decode_images, sample_frames
    df = spark.createDataFrame([Row(doc_id=1, payload=b"some image bytes")])
    out = decode_images(df).collect()[0]
    assert out.meta.width > 0 and out.meta.channels == 3
    assert len(out.features) == 16
    assert all(0.0 <= x <= 1.0 for x in out.features)
    # frame sampling expands rows deterministically
    vids = spark.createDataFrame([Row(vid=1, n_frames=90)])
    frames = sample_frames(vids, every=30).collect()
    assert [f.frame_idx for f in frames] == [0, 30, 60]


def test_multimodal_audio_plumbing(spark):
    from feathr_spark.operators.multimodal import decode_audio
    df = spark.createDataFrame([Row(doc_id=1, payload=b"audio bytes"),
                                Row(doc_id=2, payload=None)])
    rows = {r.doc_id: r for r in decode_audio(df).collect()}
    a = rows[1]
    assert a.meta.sample_rate in {8000, 16000, 24000, 32000, 40000, 48000}
    assert 1000 <= a.meta.n_samples <= 1000999
    assert a.meta.channels in (1, 2) and a.meta.format == "fake"
    assert len(a.features) == 16
    assert all(0.0 <= x <= 1.0 for x in a.features)
    # null payloads pass through as null metadata (no crash)
    assert rows[2].meta.sample_rate is None and rows[2].features is None


def test_unavailable_decoder_raises(spark):
    from feathr_spark.operators.multimodal import decode_images, unavailable_decoder
    df = spark.createDataFrame([Row(doc_id=1, payload=b"x")])
    with pytest.raises(Exception):
        decode_images(df, decoder=unavailable_decoder).collect()


def test_redact_pii_values(spark):
    from feathr_spark.operators.text import redact_pii
    df = spark.createDataFrame([Row(
        s="mail a.b+c@ex-ample.org, ip 192.168.0.1, call +1 (555) 123-4567 now")])
    out = df.select(redact_pii(F.col("s")).alias("r")).first().r
    assert out == "mail <EMAIL>, ip <IP>, call <PHONE> now"
    # kinds filter: only email redacted
    out2 = df.select(redact_pii(F.col("s"), kinds=["email"]).alias("r")).first().r
    assert "<EMAIL>" in out2 and "192.168.0.1" in out2


def test_top_ngrams_values(spark):
    from feathr_spark.operators.text import top_ngrams
    df = spark.createDataFrame([
        Row(text="a b a b a"),   # bigrams: "a b" x2, "b a" x2
        Row(text="a b"),         # "a b" x1
        Row(text="z"),           # short doc -> whole text as one gram
    ])
    rows = top_ngrams(df, "text", n=2, k=10).collect()
    got = {r.ngram: (r.rank, r.n_occurrences) for r in rows}
    assert got["a b"] == (1, 3)
    assert got["b a"] == (2, 2)
    assert got["z"] == (3, 1)


def test_cross_corpus_containment(spark):
    from feathr_spark.operators.dedup import cross_corpus_containment
    a = spark.createDataFrame([
        Row(doc_id=1, text="one two three four five"),   # 3 grams, all in b
        Row(doc_id=2, text="alpha beta gamma delta"),    # 2 grams, none in b
    ])
    b = spark.createDataFrame([
        Row(doc_id=10, text="zero one two three four five six"),
    ])
    res = cross_corpus_containment(a, b, n=3, threshold=0.5)
    out = {(r.id_a, r.id_b): r.containment for r in res.collect()}
    assert out == {(1, 10): 1.0}
    # operator-internal persisted frames are released deterministically
    from feathr_spark.operators._cache import release_intermediates
    deps = getattr(res, "_feathr_cached_deps", ())
    assert deps and all(d.storageLevel.useMemory or d.storageLevel.useDisk
                        for d in deps)
    release_intermediates(res)
    assert all(not (d.storageLevel.useMemory or d.storageLevel.useDisk)
               for d in deps)


def test_cross_corpus_containment_hot_gram_cap(spark):
    """max_df bounds the hot-gram join group: a boilerplate gram present in
    every doc on both sides must not manufacture |A|x|B| pairs, while a
    genuinely contained doc (distinctive grams, df=1) is still detected
    with full containment even though its boilerplate grams were dropped
    from the denominator."""
    from feathr_spark.operators.dedup import cross_corpus_containment
    boiler = "terms of service apply to all"
    a = spark.createDataFrame(
        [Row(doc_id=i, text=f"{boiler} unique{i} mark{i}") for i in range(8)]
        + [Row(doc_id=99, text=f"{boiler} special needle payload here")])
    b = spark.createDataFrame(
        [Row(doc_id=100 + i, text=f"{boiler} other{i} token{i}") for i in range(8)]
        + [Row(doc_id=200, text=f"{boiler} special needle payload here today")])
    # Without the cap every pair shares the boilerplate grams: quadratic
    # pair output above the 0.3 threshold.
    uncapped = cross_corpus_containment(a, b, n=3, threshold=0.3).count()
    assert uncapped == 9 * 9
    # With the cap (boilerplate df=9 > 5 on both sides) only the needle
    # pair survives — and its containment is 1.0 because the denominator
    # counts surviving grams only.
    capped = {(r.id_a, r.id_b): r.containment
              for r in cross_corpus_containment(
                  a, b, n=3, threshold=0.3, max_df=5).collect()}
    assert capped == {(99, 200): 1.0}


def test_chunk_documents_values(spark):
    from feathr_spark.operators.text import chunk_documents
    docs = spark.createDataFrame([
        Row(doc_id=1, text="a b c d e f g"),   # 7 tokens
        Row(doc_id=2, text="  x   y  "),        # messy whitespace, 2 tokens
        Row(doc_id=3, text=""),                 # empty -> one empty chunk
    ])
    out = chunk_documents(docs, "text", "doc_id", chunk_tokens=3, stride=2)
    rows = {(r.doc_id, r.chunk_index): (r.chunk_text, r.n_tokens)
            for r in out.collect()}
    assert rows[(1, 0)] == ("a b c", 3)
    assert rows[(1, 1)] == ("c d e", 3)
    assert rows[(1, 2)] == ("e f g", 3)
    assert rows[(1, 3)] == ("g", 1)             # short final chunk
    assert rows[(2, 0)] == ("x y", 2)
    assert rows[(3, 0)] == ("", 0)
    assert len(rows) == 6


def test_duplicate_components_labels(spark):
    from feathr_spark.operators.dedup import duplicate_components
    # two components: {1,2,3} via chain 1-2, 2-3; {7,9} -- and a chain
    # long enough (4 hops: 10..14) to need >1 propagation round
    pairs = spark.createDataFrame([
        Row(id_a=1, id_b=2), Row(id_a=2, id_b=3), Row(id_a=7, id_b=9),
        Row(id_a=10, id_b=11), Row(id_a=11, id_b=12),
        Row(id_a=12, id_b=13), Row(id_a=13, id_b=14),
    ])
    out = {r.doc_id: r.component_id
           for r in duplicate_components(pairs).collect()}
    assert out == {1: 1, 2: 1, 3: 1, 7: 7, 9: 7,
                   10: 10, 11: 10, 12: 10, 13: 10, 14: 10}


def test_duplicate_components_raises_when_rounds_run_out(spark):
    """A 13-node chain needs more than 3 rounds: exhausting ``max_iter``
    must fail loudly instead of returning unconverged labels."""
    from feathr_spark.operators.dedup import duplicate_components
    pairs = spark.createDataFrame([Row(id_a=i, id_b=i + 1)
                                   for i in range(12)])
    with pytest.raises(RuntimeError, match="max_iter"):
        duplicate_components(pairs, max_iter=3).collect()
    out = {r.doc_id: r.component_id
           for r in duplicate_components(pairs).collect()}
    assert out == {i: 0 for i in range(13)}


def test_quota_sample_and_hash_split(spark):
    from feathr_spark.operators.sampling import hash_split, quota_sample
    docs = spark.createDataFrame([
        Row(doc_id=i, source=f"s{i % 3}") for i in range(60)
    ])
    samp = quota_sample(docs, "source", cap=5, id_col="doc_id")
    per = {r.source: r.cnt for r in
           samp.groupBy("source").agg(F.count("*").alias("cnt")).collect()}
    assert per == {"s0": 5, "s1": 5, "s2": 5}
    # deterministic: same input -> identical sample
    again = quota_sample(docs, "source", cap=5, id_col="doc_id")
    assert sorted(r.doc_id for r in samp.collect()) == \
        sorted(r.doc_id for r in again.collect())

    split = hash_split(docs, {"train": 0.8, "val": 0.1, "test": 0.1},
                       id_col="doc_id")
    labels = {r.doc_id: r.split for r in split.collect()}
    assert set(labels.values()) <= {"train", "val", "test"}
    # majority lands in train; assignment is per-id stable
    assert sum(1 for v in labels.values() if v == "train") >= 40
    relabeled = {r.doc_id: r.split for r in hash_split(
        docs, {"train": 0.8, "val": 0.1, "test": 0.1},
        id_col="doc_id").collect()}
    assert relabeled == labels


def test_repetition_stats_values(spark):
    from feathr_spark.operators.text import repetition_stats
    df = spark.createDataFrame([
        # words: [a b a b c] -> distinct 3/5, bigrams: "a b"x2, "b a", "b c"
        Row(doc_id=1, text="a b a b c"),
        Row(doc_id=2, text="x"),          # short doc: whole text = one gram
        Row(doc_id=3, text="q w e r"),    # all unique: dup 0, every gram x1
    ])
    got = {r.doc_id: r for r in repetition_stats(df).collect()}
    r1 = got[1]
    assert r1.n_words == 5
    assert r1.dup_word_frac == round(1 - 3 / 5 + 1e-9, 4)
    assert (r1.top_gram, r1.top_gram_count) == ("a b", 2)
    assert r1.top_gram_frac == 0.5          # 2 of 4 bigrams
    r2 = got[2]
    assert (r2.n_words, r2.dup_word_frac) == (1, 0.0)
    assert (r2.top_gram, r2.top_gram_count, r2.top_gram_frac) == ("x", 1, 1.0)
    r3 = got[3]
    assert r3.dup_word_frac == 0.0
    # tie on count=1 -> lexicographically first bigram
    assert r3.top_gram == "e r"
    assert r3.top_gram_frac == round(1 / 3 + 1e-9, 4)


def test_sessionize_and_stats_values(spark):
    import datetime as dt

    from feathr_spark.operators.sessions import session_stats, sessionize

    def t(minute):
        return dt.datetime(2024, 1, 1) + dt.timedelta(minutes=minute)

    df = spark.createDataFrame([
        # user 1: events at 0, 10, 29 min (one session: every gap <= 30m),
        # then 65 (gap 36m -> session 2), then 70
        Row(user_id=1, event_id=1, ts=t(0), value=1.0),
        Row(user_id=1, event_id=2, ts=t(10), value=2.0),
        Row(user_id=1, event_id=3, ts=t(29), value=3.0),
        Row(user_id=1, event_id=4, ts=t(65), value=4.0),
        Row(user_id=1, event_id=5, ts=t(70), value=5.0),
        # user 2: single event
        Row(user_id=2, event_id=6, ts=t(7), value=9.0),
    ])
    sess = {r.event_id: r.session_seq for r in sessionize(
        df, "user_id", "ts", "30m", order_cols=["event_id"]).collect()}
    assert sess == {1: 1, 2: 1, 3: 1, 4: 2, 5: 2, 6: 1}
    # gap is strict: exactly 30m later continues the session
    df_edge = spark.createDataFrame([
        Row(user_id=1, event_id=1, ts=t(0), value=0.0),
        Row(user_id=1, event_id=2, ts=t(30), value=0.0),
    ])
    edge = {r.event_id: r.session_seq for r in sessionize(
        df_edge, gap="30m", order_cols=["event_id"]).collect()}
    assert edge == {1: 1, 2: 1}

    stats = {(r.user_id, r.session_seq): r for r in session_stats(
        df, "user_id", "ts", "30m", value_col="value",
        order_cols=["event_id"]).collect()}
    s11 = stats[(1, 1)]
    assert s11.n_events == 3 and s11.duration_sec == 29 * 60.0
    assert s11.sum_value == 6.0
    s12 = stats[(1, 2)]
    assert s12.n_events == 2 and s12.duration_sec == 300.0
    assert s12.sum_value == 9.0
    assert stats[(2, 1)].n_events == 1
    assert stats[(2, 1)].duration_sec == 0.0


def test_minhash_incremental_equals_one_shot(spark):
    """Incremental ingestion correctness: one-shot pairs over the full
    corpus == pairs within the old batch ∪ pairs touching the new batch
    (old↔new and new↔new via the stored index), value-identical."""
    from feathr_spark.operators.dedup import (
        minhash_index, minhash_lsh_pairs, minhash_pairs_incremental)
    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    old = docs.where("doc_id < 350")
    new = docs.where("doc_id >= 350")
    kw = dict(num_perm=64, bands=21, threshold=0.7)
    full = {(r.id_a, r.id_b): r.jaccard for r in minhash_lsh_pairs(
        docs, "text", "doc_id", shingle_k=5, **kw).collect()}
    old_pairs = {(r.id_a, r.id_b): r.jaccard for r in minhash_lsh_pairs(
        old, "text", "doc_id", shingle_k=5, **kw).collect()}
    idx_old = minhash_index(old, "text", "doc_id", num_perm=64, shingle_k=5)
    idx_new = minhash_index(new, "text", "doc_id", num_perm=64, shingle_k=5)
    inc = {(r.id_a, r.id_b): r.jaccard for r in minhash_pairs_incremental(
        idx_old, idx_new, **kw).collect()}
    assert set(old_pairs) | set(inc) == set(full)
    assert not (set(old_pairs) & set(inc))          # disjoint by design
    # every new-touching pair involves a new doc; jaccards identical
    assert all(a >= 350 or b >= 350 for a, b in inc)
    merged = {**old_pairs, **inc}
    assert merged == full


def test_training_corpus_pipeline_e2e(spark):
    """The operators compose into the canonical training-data pipeline:
    near-dup detect -> components -> keep-one resolve -> quality gate ->
    deterministic split -> chunk. Invariants checked at every stage."""
    from feathr_spark.operators.dedup import (
        duplicate_components, minhash_lsh_pairs, resolve_duplicates)
    from feathr_spark.operators.sampling import hash_split
    from feathr_spark.operators.text import (
        chunk_documents, gopher_quality_flags)
    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    n_docs = docs.count()

    pairs = minhash_lsh_pairs(docs, "text", "doc_id", num_perm=64, bands=21,
                              shingle_k=5, threshold=0.7)
    comps = duplicate_components(pairs)
    kept = resolve_duplicates(docs, comps, "doc_id")
    n_kept = kept.count()
    n_dropped = comps.where("doc_id != component_id").count()
    assert n_kept == n_docs - n_dropped and n_dropped > 0

    # threshold 1: the synthetic vocab carries few English stopwords —
    # the default 2 correctly rejects this corpus wholesale
    flags = gopher_quality_flags(kept, "text", "doc_id", min_words=10,
                                 min_distinct_stopwords=1)
    clean = kept.join(flags.where("keep").select("doc_id"), "doc_id")
    n_clean = clean.count()
    assert 0 < n_clean <= n_kept

    split = hash_split(clean, {"train": 0.8, "val": 0.1, "test": 0.1},
                       "doc_id")
    by_split = {r.split: r.n for r in
                split.groupBy("split").agg(F.count("*").alias("n")).collect()}
    assert sum(by_split.values()) == n_clean      # partition, no loss
    assert set(by_split) <= {"train", "val", "test"}
    assert by_split.get("train", 0) > by_split.get("test", 0)

    chunks = chunk_documents(clean, "text", "doc_id",
                             chunk_tokens=64, stride=48)
    # every chunk comes from a kept+clean doc, covers them all
    assert chunks.select("doc_id").distinct().count() == n_clean
    assert chunks.where("n_tokens > 64").count() == 0


def test_resolve_duplicates_keeps_canonical(spark):
    from feathr_spark.operators.dedup import (
        duplicate_components, resolve_duplicates,
    )
    docs = spark.createDataFrame(
        [Row(doc_id=i, text=f"doc {i}") for i in range(1, 8)])
    # clusters {1,2,3} and {5,6}; 4 and 7 untouched
    pairs = spark.createDataFrame(
        [Row(id_a=1, id_b=2), Row(id_a=2, id_b=3), Row(id_a=5, id_b=6)])
    comp = duplicate_components(pairs)
    kept = sorted(r.doc_id for r in
                  resolve_duplicates(docs, comp).collect())
    assert kept == [1, 4, 5, 7]


def test_unigram_lm_scoring_values(spark):
    """Hand-computed LM check: 3 tiny docs, self-scored; plus foreign-
    corpus scoring where unseen terms must get the OOV mass."""
    import math
    from feathr_spark.operators.lm import score_documents, unigram_lm
    docs = spark.createDataFrame([
        Row(doc_id=1, text="a a b"),
        Row(doc_id=2, text="a b c"),
        Row(doc_id=3, text="c"),
    ])
    # corpus: a=3 b=2 c=2, total=7, vocab=3 -> denom 10
    lp = {t: math.log((c + 1) / 10.0) for t, c in
          {"a": 3, "b": 2, "c": 2}.items()}
    micro = {t: round(v * 1e6) for t, v in lp.items()}

    def mean(tokens):
        return round(sum(micro[t] for t in tokens) / 1e6 / len(tokens), 4)

    out = {r.doc_id: r for r in score_documents(docs).collect()}
    assert out[1].n_tokens == 3 and out[2].n_tokens == 3 \
        and out[3].n_tokens == 1
    assert out[1].mean_logprob == mean(["a", "a", "b"])
    assert out[2].mean_logprob == mean(["a", "b", "c"])
    assert out[3].mean_logprob == mean(["c"])
    assert out[1].ppl == round(math.exp(-out[1].mean_logprob), 4)

    # foreign corpus: 'z' is OOV -> ln(1/10); 'a' keeps its LM mass
    lm = unigram_lm(docs)
    foreign = spark.createDataFrame([Row(doc_id=9, text="a z")])
    got = score_documents(foreign, lm=lm).collect()[0]
    oov_micro = round(math.log(1 / 10.0) * 1e6)
    assert got.n_tokens == 2
    assert got.mean_logprob == round((micro["a"] + oov_micro) / 1e6 / 2, 4)


def test_lm_score_partition_order_independent(spark):
    """Integer micro-nat aggregation makes the per-doc sum exact: scores
    must be bit-identical across repartitionings."""
    from feathr_spark.operators.lm import score_documents
    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    a = {r.doc_id: (r.mean_logprob, r.ppl)
         for r in score_documents(docs).collect()}
    b = {r.doc_id: (r.mean_logprob, r.ppl)
         for r in score_documents(docs.repartition(17, "lang")).collect()}
    assert a == b


def test_pack_sequences_invariants(spark):
    """Packing must reproduce a brute-force concat-and-cut per bucket:
    contiguous spans, correct pack boundaries, split accounting."""
    from feathr_spark.operators.packing import pack_sequences
    docs = spark.createDataFrame(
        [Row(doc_id=i, text=" ".join(["w"] * (3 + (i * 7) % 40)))
         for i in range(60)] + [Row(doc_id=99, text="   ")])
    cap = 32
    got = {r.doc_id: r for r in
           pack_sequences(docs, capacity=cap, n_buckets=4).collect()}
    assert 99 in got  # "   " normalizes to one empty token, not zero
    # brute force: same bucket hash, same order
    import hashlib
    def bucket(i):
        return int(hashlib.md5(str(i).encode()).hexdigest()[:15], 16) % 4
    streams = {}
    for i in sorted(got):
        n = got[i].n_tokens
        b = bucket(i)
        start = streams.get(b, 0)
        streams[b] = start + n
        r = got[i]
        assert (r.bucket, r.start_offset) == (b, start), i
        assert r.pack_first == start // cap
        assert r.pack_last == (start + n - 1) // cap
        assert r.offset_in_pack == start % cap
        assert r.n_splits == r.pack_last - r.pack_first + 1
    # every pack except possibly the bucket-final one is exactly full:
    # total tokens in bucket b covers packs 0..ceil(total/cap)-1 densely
    for b, total in streams.items():
        ids = [i for i in got if got[i].bucket == b]
        assert sum(got[i].n_tokens for i in ids) == total


def test_mixture_sample_rates_and_determinism(spark):
    """Copy counts are a pure function of the id: rate 2.5 gives each doc
    2 or 3 copies; rate 0 drops the group; runs are identical; a seed
    change re-deals the fractional draws."""
    from feathr_spark.operators.mixture import mixture_sample
    docs = spark.createDataFrame(
        [Row(doc_id=i, lang="en" if i % 2 == 0 else "fr")
         for i in range(200)])
    out = mixture_sample(docs, {"en": 2.5, "fr": 0.0}, "lang", "doc_id")
    per_doc = {r.doc_id: r.n for r in
               out.groupBy("doc_id").agg(F.count("*").alias("n")).collect()}
    assert all(docs_n in (2, 3) for docs_n in per_doc.values())
    assert all(i % 2 == 0 for i in per_doc)          # fr dropped
    # expectation 2.5 -> with 100 docs the total is within [200, 300]
    total = sum(per_doc.values())
    assert 200 <= total <= 300 and total != 200 and total != 300
    # copy indices are dense 0..n-1
    rows = out.collect()
    by_doc = {}
    for r in rows:
        by_doc.setdefault(r.doc_id, []).append(r.copy)
    assert all(sorted(v) == list(range(len(v))) for v in by_doc.values())
    # deterministic rerun; different seed -> different fractional deal
    again = {r.doc_id: r.n for r in
             mixture_sample(docs, {"en": 2.5, "fr": 0.0}, "lang", "doc_id")
             .groupBy("doc_id").agg(F.count("*").alias("n")).collect()}
    assert again == per_doc
    reseeded = {r.doc_id: r.n for r in
                mixture_sample(docs, {"en": 2.5, "fr": 0.0}, "lang",
                               "doc_id", seed="epoch1")
                .groupBy("doc_id").agg(F.count("*").alias("n")).collect()}
    assert reseeded != per_doc
    # order keys unique across (doc, copy) at this scale
    assert out.select("order_key").distinct().count() == out.count()


def test_kmeans_convergence_and_determinism(spark):
    """Lloyd's invariants: total inertia is non-increasing in the
    iteration count, and assignment is bit-stable across partitionings."""
    from feathr_spark.operators.clustering import kmeans_assign
    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    inertia = []
    for it in (0, 2, 5):
        a = kmeans_assign(emb, k=8, n_iter=it)
        inertia.append(a.agg(F.sum("sq_dist")).collect()[0][0])
    assert inertia[0] >= inertia[1] >= inertia[2]
    one = sorted(map(tuple, kmeans_assign(emb, k=8, n_iter=3).collect()))
    two = sorted(map(tuple,
                     kmeans_assign(emb.repartition(13), k=8, n_iter=3)
                     .collect()))
    assert one == two


def test_kmeans_inertia_pinned(spark, sf_dir):
    """The one Lloyd kernel reproduces the former k-means fit: total
    inertia at semantic_dedup_pairs' query parameters (k=16, n_iter=5) is
    pinned at the value the separate k-means loop produced at each scale
    factor."""
    import os
    from feathr_spark.operators.clustering import kmeans_assign
    pinned = {"sf0.001": 446.117888, "sf0.01": 445.897757,
              "sf0.1": 1850.054221}[os.path.basename(sf_dir)]
    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    inertia = kmeans_assign(emb, k=16, n_iter=5) \
        .agg(F.sum("sq_dist")).collect()[0][0]
    assert inertia == pytest.approx(pinned, abs=1e-6)


@pytest.mark.parametrize("dim", [32, 128])
def test_kmeans_finds_planted_clusters_at_any_width(spark, dim):
    """The vector width comes from the data. Init buckets are sign bits
    against hyperplanes, so each planted centre sits in its own init
    cell (dot = ±3 with each plane) and a correct fit recovers all 8
    clusters; init planes of the wrong length null the dot and collapse
    every vector into ONE cluster."""
    import numpy as np
    from feathr_spark.operators.clustering import kmeans_assign
    from feathr_spark.operators.similarity import _planes
    planes = np.asarray(_planes(3, dim))
    signs = np.array([[1.0 if (j >> i) & 1 else -1.0 for i in range(3)]
                      for j in range(8)])
    centres = (np.linalg.pinv(planes) @ (3.0 * signs.T)).T
    rng = np.random.default_rng(0)
    rows = [(j * 40 + t, j,
             (centres[j] + rng.normal(scale=0.05, size=dim)).tolist())
            for j in range(8) for t in range(40)]
    df = spark.createDataFrame(
        rows, "vec_id bigint, label int, embedding array<double>")
    got = {(r.label, r.cluster) for r in
           kmeans_assign(df, k=8, n_iter=5)
           .join(df.select("vec_id", "label"), "vec_id").collect()}
    # a bijection: no planted cluster split, none merged
    assert len(got) == 8 and len({c for _, c in got}) == 8


def test_semantic_dedup_recall_floor(spark):
    """The driver gate's contract, asserted directly: SemDeDup at the
    driver parameters recovers >= 70% of exact pairs at sf0.001."""
    from feathr_spark.operators.clustering import semantic_dedup_pairs
    from feathr_spark.operators.similarity import cosine_pairs_exact
    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    exact = {(r.id_a, r.id_b) for r in
             cosine_pairs_exact(emb, "embedding", "vec_id",
                                threshold=0.45).collect()}
    got = {(r.id_a, r.id_b) for r in
           semantic_dedup_pairs(emb, threshold=0.45, k=16, n_iter=5,
                                n_assign=3).collect()}
    assert len(got & exact) / len(exact) >= 0.70
    # pairs are canonical and unique
    assert all(a < b for a, b in got)


def test_window_percentile_agg(spark, tmp_path):
    """PERCENTILE window agg: exact interpolated (PERCENTILE_CONT)
    values vs hand-computed numpy quantiles; bad agg_param rejected."""
    import datetime as dt
    import numpy as np
    from feathr_spark import (Aggregation, Feature, FeatureAnchor,
                              FeatureQuery, FeathrProject, HdfsSource,
                              ObservationSettings, TimeWindowParameters,
                              TypedKey, WindowAggTransform)
    vals = [5, 1, 9, 3, 7]
    rows = [Row(k=1, ts=dt.datetime(2024, 1, 1 + i), v=float(x))
            for i, x in enumerate(vals)]
    df = spark.createDataFrame(rows)
    path = str(tmp_path / "pct.parquet")
    df.write.parquet(path)
    p = FeathrProject("q", spark)
    src = HdfsSource(name="s", path=path,
                     time_window_parameters=TimeWindowParameters("ts"))
    p.register_anchor(FeatureAnchor(name="a", source=src, features=[
        Feature(name="p50", transform=WindowAggTransform(
            "v", Aggregation.PERCENTILE, "30d", agg_param=0.5),
            key=[TypedKey(key_column="k")]),
    ]))
    obs = ObservationSettings(timestamp_column="ts").with_event_ts(df)
    out = {r.ts.day: r.p50 for r in p.get_offline_features(
        obs, FeatureQuery(["p50"])).collect()}
    for day in range(1, 6):
        expect = float(np.quantile(np.array(vals[:day]), 0.5,
                                   method="linear"))
        assert abs(out[day] - expect) < 1e-9, day
    with pytest.raises(ValueError):
        from feathr_spark.operators.aggregations import agg_sql
        agg_sql(Aggregation.PERCENTILE, "x", "t", None)


def test_window_decay_agg_values_and_strategies(spark):
    """DECAY_SUM/DECAY_AVG: exponentially time-decayed counters. The
    lane-ordered window's values are checked against a brute-force
    python computation, to float tolerance."""
    import datetime as dt
    import math
    from feathr_spark.model import Aggregation, WindowAggTransform
    from feathr_spark.operators.point_in_time import (
        PitSource, WindowFeatureSpec, point_in_time_join)

    base = dt.datetime(2024, 1, 1)
    src_rows = [Row(k=1 + (i % 2), ts=base + dt.timedelta(days=i % 9),
                    v=float(1 + i)) for i in range(18)]
    obs_rows = [Row(k=k, ots=base + dt.timedelta(days=d))
                for k in (1, 2, 3) for d in (0, 4, 8, 20)]
    src = spark.createDataFrame(src_rows)
    obs = spark.createDataFrame(obs_rows)
    half_days = 2.0
    specs = [
        WindowFeatureSpec("dsum", WindowAggTransform(
            "v", Aggregation.DECAY_SUM, "7d", agg_param=half_days)),
        WindowFeatureSpec("davg", WindowAggTransform(
            "v", Aggregation.DECAY_AVG, "7d", agg_param=half_days)),
    ]

    def brute(k, ots):
        win_ms = 7 * 86400000
        pairs = [(r.v, r.ts) for r in src_rows if r.k == k
                 and 0 <= (ots - r.ts).total_seconds() * 1000 < win_ms]
        if not pairs:
            return None, None
        ws = [0.5 ** ((ots - t).total_seconds() / 86400.0 / half_days)
              for _, t in pairs]
        s = sum(w * v for w, (v, _) in zip(ws, pairs))
        return s, s / sum(ws)

    out = point_in_time_join(
        obs, "ots", [PitSource(src, ["k"], ["k"], "ts", specs)])
    got = {(r.k, r.ots): (r.dsum, r.davg) for r in out.collect()}
    assert len(got) == len(obs_rows)
    for r in obs_rows:
        es, ea = brute(r.k, r.ots)
        gs, ga = got[(r.k, r.ots)]
        if es is None:
            assert gs is None and ga is None, r
        else:
            assert math.isclose(gs, es, rel_tol=1e-9), r
            assert math.isclose(ga, ea, rel_tol=1e-9), r

    from feathr_spark.operators.aggregations import agg_sql
    with pytest.raises(ValueError):
        agg_sql(Aggregation.DECAY_SUM, "x", "t", None, obs_ts="o")
    with pytest.raises(ValueError):
        agg_sql(Aggregation.DECAY_SUM, "x", "t", 2.0)


def test_decay_sum_in_materialization_snapshot(spark, tmp_path):
    """DECAY_SUM also works on the snapshot/backfill path, where the
    observation time is the materialization cutoff (a grouping column)."""
    import datetime as dt
    from feathr_spark import (Aggregation, Feature, FeatureAnchor,
                              FeathrProject, HdfsSource,
                              TimeWindowParameters, TypedKey,
                              WindowAggTransform)
    base = dt.datetime(2024, 1, 1)
    rows = [Row(k=1, ts=base + dt.timedelta(days=i), v=float(10 * (i + 1)))
            for i in range(5)]
    df = spark.createDataFrame(rows)
    path = str(tmp_path / "decay_snap.parquet")
    df.write.parquet(path)
    p = FeathrProject("q", spark)
    src = HdfsSource(name="s", path=path,
                     time_window_parameters=TimeWindowParameters("ts"))
    p.register_anchor(FeatureAnchor(name="a", source=src, features=[
        Feature(name="dsum", transform=WindowAggTransform(
            "v", Aggregation.DECAY_SUM, "30d", agg_param=2.0),
            key=[TypedKey(key_column="k")]),
    ]))
    cutoff = base + dt.timedelta(days=6)
    snap = p.compute_snapshot(spark, ["dsum"], cutoff)
    got = snap.collect()
    assert len(got) == 1
    expect = sum(10 * (i + 1) * 0.5 ** ((6 - i) / 2.0) for i in range(5))
    assert abs(got[0].dsum - expect) < 1e-9


# ---------------------------------------------------------------------------
# Bloom-prefiltered exact containment joins (operators/bloom.py)
# ---------------------------------------------------------------------------

def _bloom_fixture(spark):
    build = spark.createDataFrame(
        [Row(k=f"key{i}") for i in range(0, 600, 2)] * 2)  # dupes on purpose
    probe = spark.createDataFrame(
        [Row(k=f"key{i}", v=i) for i in range(900)] + [Row(k=None, v=-1)])
    return probe, build


def test_bloom_semi_join_equals_exact(spark):
    from feathr_spark.operators.bloom import bloom_semi_join
    probe, build = _bloom_fixture(spark)
    exact = {tuple(r) for r in
             probe.join(build.select("k"), "k", "left_semi").collect()}
    got = {tuple(r) for r in
           bloom_semi_join(probe, build, "k", expected_items=300,
                           fp_rate=0.01).collect()}
    assert got == exact and len(got) == 300


def test_bloom_anti_join_equals_exact(spark):
    from feathr_spark.operators.bloom import bloom_anti_join
    probe, build = _bloom_fixture(spark)
    exact = {tuple(r) for r in
             probe.join(build.select("k"), "k", "left_anti").collect()}
    got = {tuple(r) for r in
           bloom_anti_join(probe, build, "k", expected_items=300,
                           fp_rate=0.01).collect()}
    # NULL-key probe row must be KEPT, matching left_anti semantics
    assert (None, -1) in got
    assert got == exact


def test_bloom_exact_even_when_undersized(spark):
    """The sketch is a prefilter only: pathologically small m (mass FP)
    must still yield the exact verified result."""
    from feathr_spark.operators.bloom import bloom_anti_join, bloom_semi_join
    probe, build = _bloom_fixture(spark)
    for fn, how in ((bloom_semi_join, "left_semi"),
                    (bloom_anti_join, "left_anti")):
        exact = {tuple(r) for r in
                 probe.join(build.select("k"), "k", how).collect()}
        got = {tuple(r) for r in
               fn(probe, build, "k", m_bits=128, num_hashes=2).collect()}
        assert got == exact


def test_bloom_prefilter_fp_rate_within_analytic_bound(spark):
    """On a fully DISJOINT probe set the prefilter pass-through rate is the
    false-positive rate; gate at 3x the analytic (1-e^{-kn/m})^k."""
    import math

    from feathr_spark.operators.bloom import (
        _with_might_contain, bloom_parameters, build_bloom_words)
    build = spark.createDataFrame([Row(k=f"build{i}") for i in range(500)])
    probe = spark.createDataFrame([Row(k=f"probe{i}") for i in range(2000)])
    m, k = bloom_parameters(500, 0.01)
    words = build_bloom_words(build, "k", m, k)
    probed, _ = _with_might_contain(probe, words, "k", m, k, True)
    fp = probed.where("__bloom_might").count()
    analytic = (1.0 - math.exp(-k * 500.0 / m)) ** k
    assert fp <= max(5, 3.0 * analytic * 2000)


def test_bloom_no_false_negatives(spark):
    """Every true member must survive the prefilter (structural: build and
    probe compute identical positions), across several (m, k) shapes."""
    from feathr_spark.operators.bloom import (
        _with_might_contain, build_bloom_words)
    build = spark.createDataFrame([Row(k=f"key{i}") for i in range(200)])
    for m, k in ((256, 1), (1024, 3), (8192, 7)):
        words = build_bloom_words(build, "k", m, k)
        probed, _ = _with_might_contain(build, words, "k", m, k, True)
        assert probed.where("NOT __bloom_might").count() == 0


def test_bloom_parameters_formulas():
    from feathr_spark.operators.bloom import bloom_parameters
    m, k = bloom_parameters(1000, 0.01)
    assert m % 64 == 0 and 9000 <= m <= 10100  # ~9.585 bits/key
    assert k == 7  # round((m/n) ln2)
    m2, _ = bloom_parameters(1000, 0.001)
    assert m2 > m  # tighter fp needs more bits
    with pytest.raises(ValueError):
        bloom_parameters(0, 0.01)
    with pytest.raises(ValueError):
        bloom_parameters(10, 1.5)


def test_bloom_probe_plan_reuses_one_broadcast(spark):
    """All k membership joins must share ONE broadcast exchange of the word
    table (ReusedExchange), and the probe side must reach the verify join
    without an exchange of its own."""
    from feathr_spark.operators.bloom import bloom_semi_join
    probe, build = _bloom_fixture(spark)
    out = bloom_semi_join(probe, build, "k", expected_items=300,
                          fp_rate=0.01)
    out.collect()  # let AQE finalize
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "ReusedExchange" in plan
    assert "CartesianProduct" not in plan


def test_bloom_parameters_property_analytic_fp_holds():
    """Property: for any (n, p) the returned (m, k) yields an analytic
    false-positive rate (1-e^{-kn/m})^k within 2x of the request (k
    rounding is the only degradation source), and sizing is monotone."""
    import math

    from hypothesis import given, settings
    from hypothesis import strategies as st

    from feathr_spark.operators.bloom import bloom_parameters

    @settings(max_examples=200, deadline=None)
    @given(n=st.integers(min_value=1, max_value=10_000_000),
           p=st.floats(min_value=1e-6, max_value=0.3,
                       allow_nan=False, allow_infinity=False))
    def check(n, p):
        m, k = bloom_parameters(n, p)
        assert m % 64 == 0 and k >= 1
        actual = (1.0 - math.exp(-k * n / m)) ** k
        assert actual <= 2.0 * p
        m2, _ = bloom_parameters(n, p / 2)
        assert m2 >= m  # tighter fp never shrinks the filter
        m3, _ = bloom_parameters(n * 2, p)
        assert m3 >= m  # more keys never shrink the filter

    check()
