"""Value tests for the round-4 OLAP / sketch / range-join / span-dedup ops."""
import datetime as dt

import pytest
from pyspark.sql import Row
from pyspark.sql import functions as F

from conftest import SF_DIR
from feathr_spark.operators.olap import grouping_sets_agg, pivot_agg
from feathr_spark.operators.rangejoin import range_join
from feathr_spark.operators.sketch import heavy_hitters
from feathr_spark.operators.text import dedup_spans


# ---------------------------------------------------------------- OLAP

def test_grouping_sets_levels_and_null_safety(spark):
    df = spark.createDataFrame(
        [("a", "x", 1.0), ("a", "y", 2.0), ("b", "x", 4.0), (None, "x", 8.0)],
        "g1 string, g2 string, v double")
    out = grouping_sets_agg(
        df, [("g1", "g2"), ("g1",), ()],
        {"n": "count(*)", "total": "sum(v)"})
    rows = {(r.g1, r.g2): (r.n, r.total) for r in out.collect()}
    # detail level
    assert rows[("a", "x")] == (1, 1.0)
    assert rows[("a", "y")] == (1, 2.0)
    # subtotal per g1 — g2 carries the ALL label
    assert rows[("a", "ALL")] == (2, 3.0)
    assert rows[("b", "ALL")] == (1, 4.0)
    # grand total
    assert rows[("ALL", "ALL")] == (4, 15.0)
    # a genuinely NULL group value stays NULL (no collision with ALL)
    assert rows[(None, "x")] == (1, 8.0)
    assert rows[(None, "ALL")] == (1, 8.0)


def test_grouping_sets_single_pass_plan(spark):
    df = spark.range(100).select(
        (F.col("id") % 3).cast("string").alias("g1"),
        (F.col("id") % 2).cast("string").alias("g2"),
        F.col("id").cast("double").alias("v"))
    out = grouping_sets_agg(df, [("g1", "g2"), ("g1",), ()],
                            {"n": "count(*)"})
    plan = out._jdf.queryExecution().executedPlan().toString()
    # one Expand feeding one aggregation pair — not N unioned scans
    assert plan.count("Expand") == 1
    assert "Union" not in plan


def test_pivot_agg_values_and_nulls(spark):
    df = spark.createDataFrame(
        [(1, "click", 2.0), (1, "view", 3.0), (1, "click", 5.0),
         (2, "view", 7.0), (2, "other", 100.0)],
        "user_id bigint, et string, v double")
    out = pivot_agg(df, ["user_id"], "et", "v", ["click", "view"])
    rows = {r.user_id: (r.sum_click, r.sum_view) for r in out.collect()}
    assert rows[1] == (7.0, 3.0)
    assert rows[2] == (None, 7.0)  # no clicks; 'other' is outside the domain
    assert set(out.columns) == {"user_id", "sum_click", "sum_view"}


# ---------------------------------------------------------- range join

def _mk_points(spark):
    base = dt.datetime(2024, 1, 1)
    rows = [Row(pid=i, k="a" if i % 2 == 0 else "b",
                ts=base + dt.timedelta(minutes=7 * i)) for i in range(40)]
    return spark.createDataFrame(rows)


def _mk_intervals(spark):
    base = dt.datetime(2024, 1, 1)
    rows = [Row(iid=j, k="a" if j % 2 == 0 else "b",
                start=base + dt.timedelta(minutes=30 * j),
                end=base + dt.timedelta(minutes=30 * j + 45))
            for j in range(8)]
    rows.append(Row(iid=99, k="a",
                    start=base + dt.timedelta(days=30),
                    end=base + dt.timedelta(days=30, minutes=1)))
    return spark.createDataFrame(rows)


def test_range_join_matches_bruteforce_inner(spark):
    # no equi key: drop the shared column (caller contract: names disjoint)
    p, iv = _mk_points(spark).drop("k"), _mk_intervals(spark)
    got = {(r.iid, r.pid) for r in
           range_join(p, iv, "ts", "start", "end",
                      bin_width_s=600).collect()}
    brute = {(r.iid, r.pid) for r in
             iv.crossJoin(p.select(F.col("pid"), F.col("ts")))
               .where((F.col("ts") >= F.col("start")) &
                      (F.col("ts") < F.col("end"))).collect()}
    assert got == brute and len(got) > 0


def test_range_join_extra_equi_key_and_left(spark):
    p, iv = _mk_points(spark), _mk_intervals(spark)
    inner = range_join(p, iv, "ts", "start", "end",
                       bin_width_s=600, on=["k"])
    got = {(r.iid, r.pid) for r in inner.collect()}
    brute = {(r.iid, r.pid) for r in
             iv.join(p, "k").where((F.col("ts") >= F.col("start")) &
                                   (F.col("ts") < F.col("end"))).collect()}
    assert got == brute
    left = range_join(p, iv, "ts", "start", "end",
                      bin_width_s=600, on=["k"], how="left").collect()
    # interval 99 is a month out: survives with NULL point columns
    miss = [r for r in left if r.iid == 99]
    assert len(miss) == 1 and miss[0].pid is None
    assert {(r.iid, r.pid) for r in left if r.pid is not None} == brute


def test_range_join_no_nested_loop_join(spark):
    p, iv = _mk_points(spark).drop("k"), _mk_intervals(spark)
    plan = (range_join(p, iv, "ts", "start", "end", bin_width_s=600)
            ._jdf.queryExecution().executedPlan().toString())
    assert "NestedLoop" not in plan and "Cartesian" not in plan


# ------------------------------------------------------- heavy hitters

def test_heavy_hitters_matches_exact_on_zipf(spark):
    # Zipf-ish corpus: term t_i appears ~1000/i times, i in 1..60
    words = []
    for i in range(1, 61):
        words.extend([f"t{i:02d}"] * (1000 // i))
    docs = [" ".join(words[j::17]) for j in range(17)]
    df = spark.createDataFrame([(i, d) for i, d in enumerate(docs)],
                               "doc_id bigint, text string")
    out = heavy_hitters(df, "text", k=10, capacity=64).collect()
    true = {f"t{i:02d}": 1000 // i for i in range(1, 61)}
    exact_top = sorted(true, key=lambda t: (-true[t], t))[:10]
    assert [r.term for r in out] == exact_top
    for r in out:
        assert r.est_count <= true[r.term] <= r.est_count + r.max_err


def test_heavy_hitters_bound_under_tiny_capacity(spark):
    # capacity far below vocabulary: estimates still bracket the truth
    words = []
    for i in range(1, 201):
        words.extend([f"w{i:03d}"] * (400 // i))
    df = spark.createDataFrame(
        [(0, " ".join(words))], "doc_id bigint, text string")
    out = heavy_hitters(df, "text", k=5, capacity=32).collect()
    true = {f"w{i:03d}": 400 // i for i in range(1, 201)}
    assert len(out) == 5
    for r in out:
        assert r.est_count <= true[r.term] <= r.est_count + r.max_err
    # the undisputed heaviest term must surface even under pressure
    assert out[0].term == "w001"


def test_heavy_hitters_shuffle_is_capacity_bounded(spark):
    df = spark.createDataFrame([(0, "a b c a b a")],
                               "doc_id bigint, text string")
    plan = (heavy_hitters(df, "text", k=2, capacity=16)
            ._jdf.queryExecution().executedPlan().toString())
    # top-k compiles to TakeOrderedAndProject, not a global sort
    assert "TakeOrderedAndProject" in plan


# ----------------------------------------------------------- dedup_spans

def test_dedup_spans_keep_first_and_reassembly(spark):
    span = "alpha beta gamma delta"          # 4 words = one span unit
    uniq = "epsilon zeta eta theta"
    df = spark.createDataFrame(
        [(1, f"{span} {uniq}"),              # first occurrence: keeps both
         (2, f"{span} {span}"),              # both spans duplicate doc 1
         (3, uniq),                          # duplicates doc 1's 2nd span
         (4, "iota kappa")],                 # short unique tail span
        "doc_id bigint, text string")
    out = {r.doc_id: r for r in
           dedup_spans(df, span_words=4).collect()}
    assert out[1].text_clean == f"{span} {uniq}"
    assert (out[1].n_spans_kept, out[1].n_spans_dropped) == (2, 0)
    # doc 2 loses everything but still has a row
    assert out[2].text_clean == ""
    assert (out[2].n_spans_kept, out[2].n_spans_dropped) == (0, 2)
    assert out[3].text_clean == ""
    assert out[4].text_clean == "iota kappa"
    assert (out[4].n_spans_kept, out[4].n_spans_dropped) == (1, 0)


def test_dedup_spans_order_within_doc_preserved(spark):
    df = spark.createDataFrame(
        [(1, "a b c d e f g h"), (2, "x y z w a b c d")],
        "doc_id bigint, text string")
    out = {r.doc_id: r.text_clean
           for r in dedup_spans(df, span_words=4).collect()}
    assert out[1] == "a b c d e f g h"
    # doc 2 keeps its first span, loses the duplicate of doc 1's first
    assert out[2] == "x y z w"


# -------------------------------------------------------------- gapfill

def test_gapfill_locf_zero_null(spark):
    from feathr_spark.operators.profile import gapfill
    base = dt.datetime(2024, 1, 1)
    rows = [
        Row(k="a", ts=base, v=10.0),
        Row(k="a", ts=base + dt.timedelta(days=0, hours=3), v=20.0),
        Row(k="a", ts=base + dt.timedelta(days=3), v=40.0),   # days 1-2 gap
        Row(k="b", ts=base + dt.timedelta(days=5), v=7.0),    # single bucket
    ]
    df = spark.createDataFrame(rows)
    out = gapfill(df, ["k"], "ts", "v", bucket_s=86400, fill="locf")
    got = {(r.k, r.bucket_start.day): (r.value, r.is_gap)
           for r in out.collect()}
    assert got[("a", 1)] == (15.0, False)      # avg of the two day-0 rows
    assert got[("a", 2)] == (15.0, True)       # LOCF
    assert got[("a", 3)] == (15.0, True)
    assert got[("a", 4)] == (40.0, False)
    assert got[("b", 6)] == (7.0, False)
    assert len(got) == 5                       # grid spans per key only

    zero = {(r.k, r.bucket_start.day): r.value
            for r in gapfill(df, ["k"], "ts", "v", bucket_s=86400,
                             fill="zero").collect()}
    assert zero[("a", 2)] == 0.0 and zero[("a", 1)] == 15.0
    nul = {(r.k, r.bucket_start.day): r.value
           for r in gapfill(df, ["k"], "ts", "v", bucket_s=86400,
                            fill="null").collect()}
    assert nul[("a", 2)] is None
    with pytest.raises(ValueError):
        gapfill(df, ["k"], "ts", "v", fill="bogus")


# ------------------------------------------------------------- scaling

def test_winsorize_group_bounds(spark):
    import numpy as np
    from feathr_spark.operators.scaling import winsorize
    vals = {"a": [1.0, 2.0, 3.0, 4.0, 100.0], "b": [10.0, 20.0, 30.0]}
    rows = [(g, v) for g, vs in vals.items() for v in vs] + [("a", None)]
    df = spark.createDataFrame(rows, "g string, v double")
    out = winsorize(df, "v", 0.1, 0.9, by=["g"]).collect()
    for g, vs in vals.items():
        lo = float(np.quantile(vs, 0.1, method="linear"))
        hi = float(np.quantile(vs, 0.9, method="linear"))
        for r in out:
            if r.g == g and r.v is not None:
                assert abs(r.v_lo - lo) < 1e-9 and abs(r.v_hi - hi) < 1e-9
                assert r.v_wins == min(max(r.v, lo), hi)
    nulls = [r for r in out if r.v is None]
    assert len(nulls) == 1 and nulls[0].v_wins is None
    with pytest.raises(ValueError):
        winsorize(df, "v", 0.9, 0.1)


def test_standardize_zscores(spark):
    import numpy as np
    from feathr_spark.operators.scaling import standardize
    vs = [3.0, 7.0, 11.0, 19.0]
    df = spark.createDataFrame([("a", v) for v in vs] + [("b", 5.0)],
                               "g string, v double")
    out = standardize(df, ["v"], by=["g"]).collect()
    mu, sd = np.mean(vs), np.std(vs)
    for r in out:
        if r.g == "a":
            assert abs(r.v_z - (r.v - mu) / sd) < 1e-9
        else:
            assert r.v_z is None       # zero-variance group -> NULL
    assert all(not c.startswith("__") for c in
               standardize(df, ["v"], by=["g"]).columns)


def test_corr_matrix_vs_numpy(spark):
    import numpy as np
    from feathr_spark.operators.scaling import corr_matrix
    rng = np.random.RandomState(7)
    x = rng.rand(50); y = 2 * x + rng.rand(50) * 0.1; z = rng.rand(50)
    df = spark.createDataFrame(
        [(float(a), float(b), float(c)) for a, b, c in zip(x, y, z)],
        "x double, y double, z double")
    got = {(r.col_a, r.col_b): (r.corr, r.n)
           for r in corr_matrix(df, ["x", "y", "z"]).collect()}
    assert set(got) == {("x", "y"), ("x", "z"), ("y", "z")}
    for (a, b), (r, n) in got.items():
        arr = {"x": x, "y": y, "z": z}
        expect = float(np.corrcoef(arr[a], arr[b])[0, 1])
        assert n == 50 and abs(r - expect) < 1e-9, (a, b)


def test_corr_matrix_pairwise_null_exclusion(spark):
    from feathr_spark.operators.scaling import corr_matrix
    df = spark.createDataFrame(
        [(1.0, 2.0), (2.0, 4.0), (3.0, None), (4.0, 8.0)],
        "x double, y double")
    r = corr_matrix(df, ["x", "y"]).collect()[0]
    assert r.n == 3 and abs(r.corr - 1.0) < 1e-12


# ----------------------------------------------- anomalies / bins / topk

def test_rolling_anomalies_flags_spike(spark):
    from feathr_spark.operators.profile import rolling_anomalies
    base = dt.datetime(2024, 1, 1)
    rows = [Row(k="a", ts=base + dt.timedelta(hours=i),
                v=10.0 + (i % 3))           # calm 10..12 band
            for i in range(20)]
    rows.append(Row(k="a", ts=base + dt.timedelta(hours=20), v=500.0))
    rows.append(Row(k="b", ts=base, v=1.0))  # lone point: too few, no flag
    df = spark.createDataFrame(rows)
    out = rolling_anomalies(df, ["k"], "ts", "v",
                            window_s=86400, z_thresh=3.0).collect()
    flagged = [(r.k, r.v) for r in out if r.is_anomaly]
    assert flagged == [("a", 500.0)]
    lone = [r for r in out if r.k == "b"][0]
    assert lone.roll_z is None and lone.is_anomaly is False


def test_histogram_grid_and_edges(spark):
    from feathr_spark.operators.profile import histogram
    df = spark.createDataFrame(
        [(float(x),) for x in [0, 1, 2, 3, 4, 5, 9, 10, 10]] + [(None,)],
        "v double")
    out = {r.bucket: r for r in histogram(df, "v", bins=5).collect()}
    assert len(out) == 5
    assert out[0].n == 2            # 0, 1       in [0, 2)
    assert out[1].n == 2            # 2, 3       in [2, 4)
    assert out[2].n == 2            # 4, 5       in [4, 6)
    assert out[3].n == 0            # empty bucket materialized
    assert out[4].n == 3            # 9 and the two 10s (closed upper edge)
    assert out[0].bucket_lo == 0.0 and out[4].bucket_hi == 10.0
    # explicit bounds exclude out-of-range rows
    got = {r.bucket: r.n
           for r in histogram(df, "v", bins=2, lo=0.0, hi=4.0).collect()}
    assert got == {0: 2, 1: 3}      # [0,2): {0,1}; [2,4]: {2,3,4}


def test_quantile_bins_deciles(spark):
    from feathr_spark.operators.scaling import quantile_bins
    df = spark.createDataFrame([(float(i),) for i in range(100)] + [(None,)],
                               "v double")
    out = quantile_bins(df, "v", bins=4).collect()
    from collections import Counter
    c = Counter(r.v_bin for r in out if r.v is not None)
    assert set(c) == {0, 1, 2, 3}
    assert all(20 <= n <= 30 for n in c.values())      # ~equal frequency
    # monotone: bin is non-decreasing in v
    srt = sorted([r for r in out if r.v is not None], key=lambda r: r.v)
    bins_seq = [r.v_bin for r in srt]
    assert bins_seq == sorted(bins_seq)
    assert [r.v_bin for r in out if r.v is None] == [None]


def test_topk_per_group_and_plan_pushdown(spark):
    from feathr_spark.operators.olap import topk_per_group
    rows = [(g, i, float(i % 7)) for g in ("a", "b") for i in range(30)]
    df = spark.createDataFrame(rows, "g string, id int, v double")
    out = topk_per_group(df, ["g"], "v", 3, tie_cols=["id"])
    got = {(r.g, r.rank_in_group): (r.v, r.id) for r in out.collect()}
    assert len(got) == 6
    # v=6.0 occurs at ids 6,13,20,27 -> top3 deterministic by id tie-break
    assert got[("a", 1)] == (6.0, 6)
    assert got[("a", 2)] == (6.0, 13)
    assert got[("a", 3)] == (6.0, 20)
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "WindowGroupLimit" in plan   # limit pushed below the shuffle


# ------------------------------------------------------- quality / diff

def test_dq_check_rules_single_pass(spark):
    from feathr_spark.operators.quality import dq_check
    df = spark.createDataFrame(
        [(1, "a", 5.0), (2, "b", 50.0), (3, None, 7.0), (3, "d", None)],
        "id int, name string, v double")
    rep = {(r.rule, r.column): r for r in dq_check(
        df, min_rows=3, unique=["id"], not_null=["name"],
        max_null_frac={"v": 0.3}, in_range={"v": (0.0, 10.0)}).collect()}
    assert rep[("min_rows", "")].passed
    assert not rep[("unique", "id")].passed          # id=3 twice
    assert rep[("unique", "id")].measured == 1.0
    assert not rep[("not_null", "name")].passed
    assert rep[("max_null_frac", "v")].passed        # 1/4 <= 0.3
    assert not rep[("in_range", "v")].passed         # 50.0 out of range
    plan = dq_check(df, min_rows=1, unique=["id"]) \
        ._jdf.queryExecution().executedPlan().toString()
    assert plan.count("Scan ExistingRDD") <= 1       # one pass, one scan
    with pytest.raises(ValueError):
        dq_check(df)


def test_snapshot_diff_classes_and_summary(spark):
    from feathr_spark.operators.quality import snapshot_diff
    old = spark.createDataFrame(
        [(1, 10.0), (2, 20.0), (3, None), (4, 40.0)], "k int, v double")
    new = spark.createDataFrame(
        [(2, 20.0), (3, None), (4, 41.0), (5, 50.0)], "k int, v double")
    got = {r.k: r.change
           for r in snapshot_diff(old, new, ["k"]).collect()}
    assert got == {1: "removed", 2: "unchanged", 3: "unchanged",
                   4: "changed", 5: "added"}
    summ = {r.change: r.n for r in
            snapshot_diff(old, new, ["k"], summary=True).collect()}
    assert summ == {"added": 1, "removed": 1, "changed": 1,
                    "unchanged": 2}


def test_drift_report_buckets_and_summary(spark):
    from feathr_spark.operators.quality import drift_report
    # ref: a uniform over [0, 9]; b constant
    ref = spark.createDataFrame(
        [(float(i), 1.0) for i in range(10)], "a double, b double")
    # cur: shifted up, plus escapes — one below-lo, one above-hi, one NULL
    cur = spark.createDataFrame(
        [(5.0, 1.0), (7.0, 1.0), (9.0, 2.0), (-5.0, 1.0), (100.0, 1.0),
         (None, 1.0)], "a double, b double")
    det = drift_report(ref, cur, ["a", "b"], bins=5)
    rows = {(r.column, r.bucket): r for r in det.collect()}
    assert len(rows) == 2 * (5 + 3)            # full grid incl. escapes
    # per-(column, side) fractions sum to 1 (nulls and escapes included)
    for c in ("a", "b"):
        assert abs(sum(r.ref_frac for (cc, _), r in rows.items()
                       if cc == c) - 1.0) < 1e-9
        assert abs(sum(r.cur_frac for (cc, _), r in rows.items()
                       if cc == c) - 1.0) < 1e-9
    # escape buckets: ref has none, cur has one of each for column a
    assert rows[("a", -1)].ref_frac == 0.0
    assert rows[("a", -1)].cur_frac == pytest.approx(1 / 6)
    assert rows[("a", 5)].cur_frac == pytest.approx(1 / 6)
    assert rows[("a", -2)].cur_frac == pytest.approx(1 / 6)
    # closed upper edge: ref value 9.0 lands in the last in-range bucket
    assert rows[("a", 4)].ref_frac == pytest.approx(2 / 10)
    # escape/null buckets carry no numeric range
    assert rows[("a", -1)].bucket_lo is None
    assert rows[("a", 5)].bucket_hi is None
    # constant ref column: every in-range value in bucket 0
    assert rows[("b", 0)].ref_frac == 1.0
    assert rows[("b", 0)].cur_frac == pytest.approx(5 / 6)
    summ = {r.column: r for r in
            drift_report(ref, cur, ["a", "b"], bins=5,
                         summary=True).collect()}
    assert summ["a"].psi > 0.25                # a drifted hard
    assert summ["a"].null_shift == pytest.approx(1 / 6)
    assert summ["b"].null_shift == 0.0
    assert 0.0 <= summ["b"].tv <= 1.0
    # identical frames -> zero drift everywhere
    zero = {r.column: r for r in
            drift_report(ref, ref, ["a"], bins=5, summary=True).collect()}
    assert zero["a"].psi == pytest.approx(0.0)
    assert zero["a"].tv == pytest.approx(0.0)
    with pytest.raises(ValueError):
        drift_report(ref, cur, [])


# ----------------------------------------- transitions / weighted sample

def test_transition_matrix_counts_and_probs(spark):
    from feathr_spark.operators.sessions import transition_matrix
    base = dt.datetime(2024, 1, 1)
    seq = {"u1": ["a", "b", "a", "c"], "u2": ["a", "b"]}
    rows = [Row(user_id=u, ts=base + dt.timedelta(minutes=i), event_type=e)
            for u, es in seq.items() for i, e in enumerate(es)]
    df = spark.createDataFrame(rows)
    got = {(r.from_event, r.to_event): (r.n, r.prob)
           for r in transition_matrix(df).collect()}
    # transitions: u1 a->b, b->a, a->c ; u2 a->b
    assert got[("a", "b")] == (2, 2 / 3)
    assert got[("a", "c")] == (1, 1 / 3)
    assert got[("b", "a")] == (1, 1.0)
    assert len(got) == 3


def test_weighted_sample_determinism_and_bounds(spark):
    from feathr_spark.operators.sampling import weighted_sample
    df = spark.range(2000).select(F.col("id").alias("doc_id"))
    all_kept = weighted_sample(df.withColumn("w", F.lit(1.0)), "w")
    assert all_kept.count() == 2000            # p=1 keeps everything
    none = weighted_sample(df.withColumn("w", F.lit(0.0)), "w")
    assert none.count() == 0
    half = weighted_sample(df.withColumn("w", F.lit(0.5)), "w")
    n1, n2 = half.count(), half.count()
    assert n1 == n2                            # deterministic
    assert 850 <= n1 <= 1150                   # ~Binomial(2000, .5)


# ------------------------------------------------------------------ PQ

def test_pq_encode_shapes_and_determinism(spark):
    from feathr_spark.operators.pq import pq_fit, pq_encode
    emb = spark.read.parquet(f"{SF_DIR}/embeddings.parquet")
    books = pq_fit(emb, m=8, kc=16, n_iter=2)
    assert len(books) == 8
    for cids, mat in books:
        assert 1 <= mat.shape[0] <= 16 and mat.shape[1] == 8
    enc1 = {r.neighbor_id: list(r.codes)
            for r in pq_encode(emb, books).collect()}
    enc2 = {r.neighbor_id: list(r.codes)
            for r in pq_encode(emb, books).collect()}
    assert enc1 == enc2                       # deterministic
    assert all(len(c) == 8 for c in enc1.values())
    # codes index into that subspace's codebook
    for codes in enc1.values():
        for s, c in enumerate(codes):
            assert 0 <= c < books[s][1].shape[0]


def test_pq_topk_rerank_recall_floor(spark):
    from feathr_spark.operators.pq import pq_topk
    from feathr_spark.operators.similarity import cosine_topk
    emb = spark.read.parquet(f"{SF_DIR}/embeddings.parquet")
    q = emb.where(F.col("vec_id") < 10)
    exact = cosine_topk(emb, q, "embedding", "vec_id", k=5) \
        .select("query_id", "neighbor_id")
    approx = pq_topk(emb, q, k=5, m=16, kc=16, rerank=8) \
        .select("query_id", "neighbor_id")
    hits = approx.join(exact, ["query_id", "neighbor_id"]).count()
    assert hits / exact.count() >= 0.6
    # output shape contract
    out = pq_topk(emb, q.limit(2), k=3, m=8, kc=8, rerank=4)
    assert out.columns == ["query_id", "rank", "neighbor_id", "score"]
    assert out.groupBy("query_id").count().agg(
        F.max("count")).first()[0] <= 3


def test_pq_runs_on_32d_vectors(spark):
    """The vector width comes from the data: fit, encode and ADC top-k
    work on 32-d vectors (no 64-d default), and a width that does not
    split into ``m`` subspaces is rejected."""
    from feathr_spark.operators.pq import pq_encode, pq_fit, pq_topk
    from feathr_spark.operators.similarity import cosine_topk
    emb = spark.read.parquet(f"{SF_DIR}/embeddings.parquet") \
        .select("vec_id", F.slice("embedding", 1, 32).alias("embedding"))
    books = pq_fit(emb, m=8, kc=8, n_iter=2)
    assert len(books) == 8
    assert all(mat.shape[1] == 4 for _, mat in books)
    assert all(len(r.codes) == 8 for r in pq_encode(emb, books).collect())
    q = emb.where(F.col("vec_id") < 10)
    exact = cosine_topk(emb, q, "embedding", "vec_id", k=5) \
        .select("query_id", "neighbor_id")
    approx = pq_topk(emb, q, k=5, m=8, kc=8, n_iter=2, rerank=8) \
        .select("query_id", "neighbor_id")
    assert approx.count() == exact.count()
    assert approx.join(exact, ["query_id", "neighbor_id"]).count() \
        / exact.count() >= 0.6
    with pytest.raises(ValueError, match="not divisible"):
        pq_fit(emb, m=5)


def test_pq_fit_stops_at_fixpoint(spark, count_jobs):
    """Centroids are 6-dp-quantized, so a round that changes no codebook
    is the fixpoint: a fit given rounds past convergence returns the
    books of the fit stopped exactly there, with the same jobs."""
    import numpy as np
    from feathr_spark.operators.pq import pq_fit
    rng = np.random.default_rng(0)
    centres = rng.normal(size=(8, 64))
    df = spark.createDataFrame(
        [(j * 30 + t, (centres[j] + rng.normal(scale=0.05, size=64))
          .tolist()) for j in range(8) for t in range(30)],
        "vec_id bigint, embedding array<double>")

    def fit(n_iter):
        return count_jobs(lambda: pq_fit(df, m=2, kc=8, n_iter=n_iter))

    def same(a, b):
        return all(ca == cb and np.array_equal(ma, mb)
                   for (ca, ma), (cb, mb) in zip(a, b))

    (prev, prev_jobs), at = fit(0), 0
    while True:                       # the first round that changes nothing
        at += 1
        books, jobs = fit(at)
        if same(books, prev):
            break
        assert at < 10
        prev, prev_jobs = books, jobs
    assert jobs > prev_jobs           # rounds cost jobs ...
    past, past_jobs = fit(at + 20)
    assert same(past, books)
    assert past_jobs == jobs          # ... and none run past the fixpoint


def test_winnow_arrow_equals_expression_form(spark):
    """The Arrow-batched winnow sketch must be value-identical to the
    pure-expression reference implementation on real data + edge cases."""
    from feathr_spark.operators.text import (winnow_fingerprints,
                                             winnow_fingerprints_expr)
    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet")
    extra = spark.createDataFrame(
        [(9001, ""), (9002, "ab"), (9003, "abcd"), (9004, "abcde"),
         (9005, "  spaced   out  "), (9006, "zzzzzzzzzz")],
        "doc_id bigint, text string")
    both = docs.select("doc_id", "text").unionByName(extra)
    a = {(r.doc_id, r.fingerprint)
         for r in winnow_fingerprints(both, k=5, w=4).collect()}
    b = {(r.doc_id, r.fingerprint)
         for r in winnow_fingerprints_expr(both, k=5, w=4).collect()}
    assert a == b and len(a) > 0


# ------------------------------------------------------------ forecast

def test_seasonal_forecast_values_and_fallback(spark):
    from feathr_spark.operators.forecast import seasonal_forecast
    base = dt.datetime(2024, 1, 1)
    rows = []
    # key "a": slot 0 always 10, slot 1 always 20, over 3 periods of 2 buckets
    for p in range(3):
        rows.append(Row(k="a", ts=base + dt.timedelta(hours=2 * p), v=10.0))
        rows.append(Row(k="a", ts=base + dt.timedelta(hours=2 * p + 1),
                        v=20.0))
    # key "b": only ever slot 0, value 100
    rows.append(Row(k="b", ts=base, v=100.0))
    df = spark.createDataFrame(rows)
    out = seasonal_forecast(df, ["k"], "ts", "v", bucket_s=3600,
                            period_s=7200, horizon=4)
    got = {(r.k, r.slot, r.bucket_start.hour): (r.forecast,
                                                r.from_fallback)
           for r in out.collect()}
    assert len(got) == 8                       # 2 keys x horizon 4
    # key a: exact per-slot means, no fallback
    for (k, s, _), (f, fb) in got.items():
        if k == "a":
            assert not fb and f == (10.0 if s == 0 else 20.0)
    # key b slot 0: own mean; slot 1: global fallback = mean of a's 20s
    b_by_slot = {s: (f, fb) for (k, s, _), (f, fb) in got.items()
                 if k == "b"}
    assert b_by_slot[0] == (100.0, False)
    assert b_by_slot[1] == (20.0, True)
    with pytest.raises(ValueError):
        seasonal_forecast(df, ["k"], "ts", "v", bucket_s=7, period_s=100)


# ----------------------------------------------------------- bigram LM

def test_bigram_lm_stupid_backoff_values(spark):
    import math
    from feathr_spark.operators.lm import (bigram_lm,
                                           score_documents_bigram)
    df = spark.createDataFrame(
        [(1, "a b a b c"), (2, "a b x"), (3, "z")],
        "doc_id bigint, text string")
    lm = {(r.w1, r.w2): (r.c_bigram, r.c_prefix, r.logprob)
          for r in bigram_lm(df).collect()}
    # transitions: d1: ab, ba, ab, bc ; d2: ab, bx -> c(ab)=3, c(a.)=3
    assert lm[("a", "b")][0] == 3 and lm[("a", "b")][1] == 3
    assert abs(lm[("a", "b")][2] - math.log(3 / 3)) < 1e-12
    assert lm[("b", "a")][0] == 1 and lm[("b", "a")][1] == 3
    # doc 3 has one token: no transitions, no output row
    out = {r.doc_id: r for r in score_documents_bigram(df).collect()}
    assert set(out) == {1, 2}
    assert out[1].n_transitions == 4 and out[2].n_transitions == 2
    # self-LM: every transition is seen. doc2 = ab (ln 3/3) + bx (ln 1/3)
    exp2 = (0.0 + math.log(1 / 3)) / 2
    assert abs(out[2].mean_logprob - round(exp2, 4)) < 5e-4

    # foreign doc against the reference LM: backoff fires
    foreign = spark.createDataFrame([(9, "a q")],
                                    "doc_id bigint, text string")
    fo = score_documents_bigram(foreign, lm_corpus=df).collect()[0]
    # "a q" unseen bigram; q not even in vocab -> ln(0.4) + OOV
    # unigram ref: total=9 vocab=5 -> oov = ln(1/14)
    expf = math.log(0.4) + math.log(1 / 14)
    assert fo.n_transitions == 1
    assert abs(fo.mean_logprob - round(expf, 4)) < 5e-4


def test_pq_index_roundtrip_and_frozen_codebook_encode(spark, tmp_path):
    """PQ index persistence: books round-trip through a DataFrame (and
    parquet) bit-identically, and encoding a new batch against the
    reloaded books equals encoding against the originals."""
    import numpy as np
    from feathr_spark.operators.pq import (pq_books_from_df, pq_books_to_df,
                                           pq_encode, pq_fit, pq_index)
    emb = spark.read.parquet(f"{SF_DIR}/embeddings.parquet")
    books_df, codes_df = pq_index(emb, m=8, kc=8, n_iter=2)
    path = str(tmp_path / "pq_books.parquet")
    books_df.write.parquet(path)
    books2 = pq_books_from_df(spark.read.parquet(path))
    books = pq_fit(emb, m=8, kc=8, n_iter=2)
    assert len(books2) == len(books)
    for (c1, m1), (c2, m2) in zip(books, books2):
        assert c1 == c2 and np.array_equal(m1, m2)
    new_batch = emb.limit(50)
    e1 = {r.neighbor_id: list(r.codes)
          for r in pq_encode(new_batch, books).collect()}
    e2 = {r.neighbor_id: list(r.codes)
          for r in pq_encode(new_batch, books2).collect()}
    assert e1 == e2
    assert codes_df.count() == emb.count()


def test_percentile_rank_groups_ties_nulls(spark):
    from feathr_spark.operators.scaling import percentile_rank
    df = spark.createDataFrame(
        [("a", 1.0), ("a", 2.0), ("a", 2.0), ("a", 4.0), ("a", None),
         ("b", 9.0)],
        "g string, v double")
    got = [(r.g, r.v, r.v_pct)
           for r in percentile_rank(df, "v", by=["g"]).collect()]
    vals = {(g, v): p for g, v, p in got}
    assert vals[("a", 1.0)] == 0.0
    assert vals[("a", 2.0)] == 1 / 3          # ties share rank 2 -> (2-1)/3
    assert vals[("a", 4.0)] == 1.0
    assert vals[("a", None)] is None          # null excluded from n
    assert vals[("b", 9.0)] == 0.0            # singleton group


def test_negative_sample_determinism_and_exclusion(spark):
    from feathr_spark.operators.sampling import negative_sample
    pos = [(u, t) for u in range(20) for t in ("a", "b")]  # every u has a,b
    df = spark.createDataFrame(pos + [(0, "c")], "u int, t string")
    out1 = negative_sample(df, "u", "t", k=4)
    out2 = negative_sample(df, "u", "t", k=4)
    s1 = {(r.u, r.t, r.draw) for r in out1.collect()}
    assert s1 == {(r.u, r.t, r.draw) for r in out2.collect()}  # deterministic
    # no sampled pair may be a positive
    pos_set = set(pos) | {(0, "c")}
    assert all((u, t) not in pos_set for u, t, _ in s1)
    # only "c" is a possible negative for u>0; at most one per user
    assert all(t == "c" for _, t, _ in s1)
    from collections import Counter
    per_u = Counter(u for u, _, _ in s1)
    assert all(c == 1 for c in per_u.values())
    assert 0 not in per_u                     # u=0 observed all rights
    # deterministic md5 draws: 11 of the 19 eligible users hit 'c'
    assert len(per_u) == 11


def test_ab_welch_t_matches_scipy_formula(spark):
    import numpy as np
    from feathr_spark.operators.stats import ab_welch_t
    rng = np.random.RandomState(3)
    a = rng.normal(10.0, 2.0, 40).round(3)
    b = rng.normal(11.0, 3.0, 55).round(3)
    rows = [("control", float(x)) for x in a] + \
           [("treat", float(x)) for x in b]
    df = spark.createDataFrame(rows, "variant string, m double")
    r = ab_welch_t(df, "variant", "m", "control", "treat").collect()[0]
    va, vb = a.var(ddof=1), b.var(ddof=1)
    se2 = va / len(a) + vb / len(b)
    t = (b.mean() - a.mean()) / np.sqrt(se2)
    dfree = se2 ** 2 / ((va / len(a)) ** 2 / (len(a) - 1)
                        + (vb / len(b)) ** 2 / (len(b) - 1))
    assert r.n_control == 40 and r.n_treatment == 55
    assert abs(r.t_stat - t) < 1e-9
    assert abs(r.welch_df - dfree) < 1e-6
    assert abs(r.mean_diff - (b.mean() - a.mean())) < 1e-9
    # degenerate arm -> NULL t
    d2 = spark.createDataFrame([("control", 1.0), ("control", 1.0),
                                ("treat", 1.0), ("treat", 1.0)],
                               "variant string, m double")
    r2 = ab_welch_t(d2, "variant", "m", "control", "treat").collect()[0]
    assert r2.t_stat is None


def test_fuzzy_match_blocked_levenshtein(spark):
    from feathr_spark.operators.linkage import fuzzy_match
    df = spark.createDataFrame(
        [(1, "jonathan smith"), (2, "jonathan smyth"),   # dist 1
         (3, "Jonathan  Smith"),                         # norm == id 1
         (4, "jon smith"),                               # far from 1
         (5, "acme corp"), (6, "acme corp."),            # dist 1
         (7, "zz"),                                      # too short
         (8, None)],
        "id bigint, name string")
    got = {(r.id_l, r.id_r): r.dist
           for r in fuzzy_match(df, df, "name", max_dist=2).collect()}
    assert got[(1, 2)] == 1 and got[(1, 3)] == 0 and got[(2, 3)] == 1
    assert got[(5, 6)] == 1
    assert (1, 4) not in got            # dist 5 > max_dist
    assert all(a < b for a, b in got)   # canonical, no self-pairs
    assert not any(7 in p or 8 in p for p in got)
    # suffix block catches a typo in the first characters
    pre = spark.createDataFrame(
        [(1, "xavier johnson"), (2, "zavier johnson")],
        "id bigint, name string")
    gp = {(r.id_l, r.id_r): r.dist
          for r in fuzzy_match(pre, pre, "name", max_dist=1).collect()}
    assert gp[(1, 2)] == 1
    # two-sided (non-self) match keeps all cross pairs incl. exact
    a = spark.createDataFrame([(1, "blue bolt")], "id bigint, name string")
    b = spark.createDataFrame([(9, "blue bolts")], "id bigint, name string")
    tw = fuzzy_match(a, b, "name", max_dist=2).collect()
    assert len(tw) == 1 and tw[0].dist == 1
    with pytest.raises(ValueError):
        fuzzy_match(df, df, "name", max_dist=-1)
    # candidate generation is an equi join, never a nested loop
    plan = fuzzy_match(df, df, "name", max_dist=2) \
        ._jdf.queryExecution().executedPlan().toString()
    assert "CartesianProduct" not in plan
    assert "NestedLoop" not in plan


def test_scd2_merge_versions(spark):
    import datetime as _dt
    from feathr_spark.operators.scd import scd2_merge
    t0 = _dt.datetime(2024, 1, 1)
    dim = spark.createDataFrame(
        [(1, "gold", None, t0, None),       # current, will change
         (2, "silver", "eu", t0, None),     # current, unchanged
         (3, "bronze", "us", t0, _dt.datetime(2024, 2, 1)),  # closed
         (3, "silver", "us", _dt.datetime(2024, 2, 1), None),
         (5, "gold", "eu", t0, None)],      # current, absent in update
        "k bigint, tier string, region string, "
        "effective_from timestamp, effective_to timestamp")
    upd = spark.createDataFrame(
        [(1, "platinum", "us"),             # changed (incl. NULL->us)
         (2, "silver", "eu"),               # identical -> no-op
         (3, "silver", "us"),               # identical to current v2
         (4, "gold", None)],                # new key
        "k bigint, tier string, region string")
    ts = "2024-03-01 00:00:00"
    out = scd2_merge(dim, upd, ["k"], ts)
    rows = {(r.k, r.effective_from, r.effective_to):
            (r.tier, r.region) for r in out.collect()}
    cut = _dt.datetime(2024, 3, 1)
    # key 1: old version closed at ts, new open version
    assert rows[(1, t0, cut)] == ("gold", None)
    assert rows[(1, cut, None)] == ("platinum", "us")
    # keys 2/5: untouched current rows; key 3: closed history + current
    assert rows[(2, t0, None)] == ("silver", "eu")
    assert rows[(5, t0, None)] == ("gold", "eu")
    assert rows[(3, t0, _dt.datetime(2024, 2, 1))] == ("bronze", "us")
    assert rows[(3, _dt.datetime(2024, 2, 1), None)] == ("silver", "us")
    # key 4: first version
    assert rows[(4, cut, None)] == ("gold", None)
    assert len(rows) == 7
    # exactly one open version per key
    open_per_key = {}
    for (k, _, to), _v in rows.items():
        if to is None:
            open_per_key[k] = open_per_key.get(k, 0) + 1
    assert set(open_per_key.values()) == {1}
    # idempotent: re-merging the same snapshot changes nothing
    again = scd2_merge(out, upd, ["k"], "2024-04-01 00:00:00")
    assert again.count() == out.count()
    with pytest.raises(ValueError):
        scd2_merge(dim, upd, [], ts)


def test_rrf_fuse_hybrid_ranking(spark):
    from feathr_spark.operators.search import rrf_fuse
    a = spark.createDataFrame([(1, 1), (2, 2), (3, 3)],
                              "doc_id bigint, rank int")
    b = spark.createDataFrame([(3, 1), (1, 2), (4, 3)],
                              "doc_id bigint, rank int")
    got = {r.doc_id: r for r in
           rrf_fuse([a, b], k=60, top_k=4).collect()}
    # hand-computed RRF: doc1 1/61+1/62, doc3 1/63+1/61, doc2 1/62, doc4 1/63
    assert got[1].rrf_score == pytest.approx(1 / 61 + 1 / 62)
    assert got[3].rrf_score == pytest.approx(1 / 63 + 1 / 61)
    assert got[2].rrf_score == pytest.approx(1 / 62)
    assert got[1].rank == 1 and got[3].rank == 2   # doc1 edges doc3
    assert got[2].rank == 3 and got[4].rank == 4   # doc2 beats doc4
    assert got[1].n_lists == 2 and got[2].n_lists == 1
    # top_k cut
    assert {r.doc_id for r in
            rrf_fuse([a, b], top_k=2).collect()} == {1, 3}
    # per-query fusion: each query fuses independently
    qa = spark.createDataFrame([("q1", 1, 1), ("q2", 9, 1)],
                               "q string, doc_id bigint, rank int")
    qb = spark.createDataFrame([("q1", 1, 1), ("q2", 8, 1)],
                               "q string, doc_id bigint, rank int")
    per = {(r.q, r.doc_id): r.rank
           for r in rrf_fuse([qa, qb], by=["q"], top_k=2).collect()}
    assert per[("q1", 1)] == 1
    assert per[("q2", 9)] in (1, 2) and per[("q2", 8)] in (1, 2)
    with pytest.raises(ValueError):
        rrf_fuse([])


def test_kfold_and_time_split(spark):
    import datetime as _dt
    from feathr_spark.operators.sampling import kfold_assign, time_split
    df = spark.range(3000).select(F.col("id").alias("doc_id"))
    folds = kfold_assign(df, k=5)
    got = {r.doc_id: r.fold for r in folds.collect()}
    assert set(got.values()) == {0, 1, 2, 3, 4}
    sizes = [sum(1 for f in got.values() if f == i) for i in range(5)]
    assert all(abs(s - 600) < 120 for s in sizes)      # roughly balanced
    # stable: identical assignment on re-run and under repartitioning
    again = {r.doc_id: r.fold
             for r in kfold_assign(df.repartition(7), k=5).collect()}
    assert got == again
    with pytest.raises(ValueError):
        kfold_assign(df, k=1)
    # embargoed temporal split
    base = _dt.datetime(2024, 1, 1)
    ev = spark.createDataFrame(
        [(i, base + _dt.timedelta(hours=i)) for i in range(48)],
        "i bigint, ts timestamp")
    out = {r.i: r.split
           for r in time_split(ev, "ts", "2024-01-02 00:00:00",
                               embargo_s=6 * 3600).collect()}
    assert out[0] == "train" and out[17] == "train"
    assert all(out[i] is None for i in range(18, 24))  # embargo gap
    assert out[24] == "test" and out[47] == "test"
    # zero embargo: clean two-way split
    out0 = {r.i: r.split
            for r in time_split(ev, "ts",
                                "2024-01-02 00:00:00").collect()}
    assert sum(1 for v in out0.values() if v == "train") == 24
    assert None not in out0.values()
    with pytest.raises(ValueError):
        time_split(ev, "ts", "2024-01-02 00:00:00", embargo_s=-1)


def test_distinct_rollup_cascade_tracks_direct(spark):
    import datetime as _dt
    from feathr_spark.operators.profile import (
        distinct_rollup, finalize_distinct, merge_distinct_rollup)
    base = _dt.datetime(2024, 1, 1)
    rows = [(base + _dt.timedelta(hours=h), f"g{h % 2}", f"u{(h * 7) % 45}")
            for h in range(24 * 21)]                  # 3 weeks hourly
    df = spark.createDataFrame(rows, "ts timestamp, g string, u string")
    daily = distinct_rollup(df, "ts", ["g"], "u", level="day")
    # analytic gate (ADVICE r8): both paths carry the lgk error bound,
    # so their divergence is bounded by ~2x the RSE = 2*1.04/sqrt(2^lgk)
    # (~3.25% at the default lgk=12) — derived, not the old empirical 2%
    # fit at 1500 distincts that could false-alarm at higher cardinality
    tol = 2 * 1.04 / (2 ** 12) ** 0.5
    # cascade: daily sketches unioned up to weekly...
    weekly = finalize_distinct(merge_distinct_rollup(daily, "week"))
    # ...agrees with sketching the raw data weekly DIRECTLY within tol.
    # NOT equality: HLL union is estimate-identical to direct sketching
    # only while both paths stay in the sparse regime — at sf0.1-scale
    # cardinality (1500 distincts) the mode transitions diverge and the
    # estimates drift ≤0.7% while keeping the same lgk error bound.
    # (At this test's 45-user cardinality they DO coincide exactly, but
    # asserting that would pin an implementation accident.)
    direct = finalize_distinct(
        distinct_rollup(df, "ts", ["g"], "u", level="week"))
    wk = {(r.g, r.bucket_start): r.distinct_est for r in weekly.collect()}
    dr = {(r.g, r.bucket_start): r.distinct_est for r in direct.collect()}
    assert wk.keys() == dr.keys()
    assert all(abs(wk[k] - dr[k]) / dr[k] <= tol for k in wk)
    # incremental refresh: disjoint batches union + same-bucket merge
    a = distinct_rollup(df.where(F.col("g") == "g0"), "ts", [], "u")
    b = distinct_rollup(df.where(F.col("g") == "g1"), "ts", [], "u")
    merged = finalize_distinct(
        merge_distinct_rollup(a.unionByName(b), "day"))
    whole = finalize_distinct(distinct_rollup(df, "ts", [], "u"))
    mg = {r.bucket_start: r.distinct_est for r in merged.collect()}
    wh = {r.bucket_start: r.distinct_est for r in whole.collect()}
    assert mg.keys() == wh.keys()
    assert all(abs(mg[k] - wh[k]) / wh[k] <= tol for k in mg)
    # estimates track exact counts at this cardinality (45 users)
    exact = {(r.g, r.bucket_start): r.n for r in
             (df.groupBy("g", F.date_trunc("week", "ts")
                         .alias("bucket_start"))
              .agg(F.countDistinct("u").alias("n"))).collect()}
    for k, est in wk.items():
        assert abs(est - exact[k]) / exact[k] < 0.15


def _py_pagerank(edges, damping, iters, extra_nodes=()):
    """Reference power iteration (weighted, dangling redistribution)."""
    nodes = sorted({u for u, _, _ in edges} | {v for _, v, _ in edges}
                   | set(extra_nodes))
    n = len(nodes)
    outw = {}
    for u, _, w in edges:
        outw[u] = outw.get(u, 0.0) + w
    r = {v: 1.0 / n for v in nodes}
    for _ in range(iters):
        dm = sum(r[v] for v in nodes if v not in outw)
        nxt = {v: (1 - damping) / n + damping * dm / n for v in nodes}
        for u, v, w in edges:
            nxt[v] += damping * r[u] * w / outw[u]
        r = nxt
    return r


def test_pagerank_matches_power_iteration(spark):
    from feathr_spark.operators.graph import pagerank
    # directed, weighted, with a dangling node (d has no out-edges)
    edges = [("a", "b", 2.0), ("a", "c", 1.0), ("b", "c", 1.0),
             ("c", "a", 1.0), ("c", "d", 3.0)]
    df = spark.createDataFrame(edges, "src string, dst string, w double")
    got = {r.id: r.rank
           for r in pagerank(df, weight="w", damping=0.85,
                             iters=5).collect()}
    want = _py_pagerank(edges, 0.85, 5)
    assert set(got) == set(want)
    for v in want:
        assert got[v] == pytest.approx(want[v], abs=1e-12)
    # total rank is conserved (dangling mass redistributed, not lost)
    assert sum(got.values()) == pytest.approx(1.0, abs=1e-9)
    # unweighted: every edge counts 1
    got1 = {r.id: r.rank
            for r in pagerank(df, damping=0.85, iters=3).collect()}
    want1 = _py_pagerank([(u, v, 1.0) for u, v, _ in edges], 0.85, 3)
    for v in want1:
        assert got1[v] == pytest.approx(want1[v], abs=1e-12)
    # parallel edges add weight
    dup = spark.createDataFrame(edges + [("a", "b", 1.0)],
                                "src string, dst string, w double")
    gd = {r.id: r.rank
          for r in pagerank(dup, weight="w", iters=2).collect()}
    wd = _py_pagerank([("a", "b", 3.0)] + edges[1:], 0.85, 2)
    for v in wd:
        assert gd[v] == pytest.approx(wd[v], abs=1e-12)
    with pytest.raises(ValueError):
        pagerank(df, damping=1.5)
    with pytest.raises(ValueError):
        pagerank(df, iters=0)


def test_association_rules_support_confidence_lift(spark):
    from feathr_spark.operators.assoc import association_rules
    rows = [
        (1, "milk"), (1, "bread"), (1, "milk"),       # dup milk collapses
        (2, "milk"), (2, "bread"), (2, "eggs"),
        (3, "milk"), (3, "eggs"),
        (4, "bread"), (4, None),                      # NULL item dropped
        (5, "milk"),
    ]
    df = spark.createDataFrame(rows, "order bigint, item string")
    got = {(r.item_a, r.item_b): r for r in
           association_rules(df, "order", "item",
                             min_pair_count=1).collect()}
    # 5 baskets; milk in 4, bread in 3, eggs in 2
    mb = got[("bread", "milk")]                        # canonical a < b
    assert (mb.n_ab, mb.n_a, mb.n_b, mb.n_baskets) == (2, 3, 4, 5)
    assert mb.support == pytest.approx(2 / 5)
    assert mb.conf_a_b == pytest.approx(2 / 3)         # P(milk | bread)
    assert mb.conf_b_a == pytest.approx(2 / 4)
    assert mb.lift == pytest.approx((2 / 5) / ((3 / 5) * (4 / 5)))
    me = got[("eggs", "milk")]
    assert me.n_ab == 2 and me.lift == pytest.approx(
        (2 / 5) / ((2 / 5) * (4 / 5)))
    assert ("bread", "eggs") in got and got[("bread", "eggs")].n_ab == 1
    assert all(a < b for a, b in got)                  # canonical order
    # min_pair_count prunes
    pruned = {(r.item_a, r.item_b) for r in
              association_rules(df, "order", "item",
                                min_pair_count=2).collect()}
    assert pruned == {("bread", "milk"), ("eggs", "milk")}
    # a mega-basket is excluded from EVERY statistic
    mega = [(9, f"it{i}") for i in range(5)]
    df2 = spark.createDataFrame(rows + mega, "order bigint, item string")
    g2 = {(r.item_a, r.item_b): r for r in
          association_rules(df2, "order", "item", min_pair_count=1,
                            max_basket=4).collect()}
    assert g2[("bread", "milk")].n_baskets == 5        # basket 9 dropped
    assert not any(a.startswith("it") for a, _ in g2)
    with pytest.raises(ValueError):
        association_rules(df, "order", "item", min_pair_count=0)


def test_stratified_sample_rates_and_determinism(spark):
    from feathr_spark.operators.sampling import stratified_sample
    df = spark.createDataFrame(
        [(i, "web" if i % 2 else "books") for i in range(4000)],
        "doc_id bigint, src string")
    out = stratified_sample(df, ["src"], {"web": 0.25, "books": 1.0})
    got = {r[0]: r[1] for r in
           out.groupBy("src").count().collect()}
    assert got["books"] == 2000                  # rate 1.0 keeps all
    assert abs(got["web"] / 2000 - 0.25) < 0.05  # md5 draw ~ rate
    # deterministic: identical row set on re-run
    a = sorted(r.doc_id for r in out.collect())
    b = sorted(r.doc_id for r in stratified_sample(
        df, ["src"], {"web": 0.25, "books": 1.0}).collect())
    assert a == b
    # unlisted stratum drops (explicit-domain discipline)
    extra = df.withColumn("src", F.lit("crawl"))
    assert stratified_sample(extra, ["src"], {"web": 1.0}).count() == 0
    # scalar fraction = uniform downsample; 0.0 empty, 1.0 full
    assert stratified_sample(df, ["src"], 1.0).count() == 4000
    assert stratified_sample(df, ["src"], 0.0).count() == 0
    # tuple keys for multi-column strata + mismatched key arity raises
    df2 = df.withColumn("lang", F.lit("en"))
    m = stratified_sample(df2, ["src", "lang"],
                          {("books", "en"): 1.0}).count()
    assert m == 2000
    with pytest.raises(ValueError):
        stratified_sample(df2, ["src", "lang"], {"books": 1.0})
    with pytest.raises(ValueError):
        stratified_sample(df, [], 0.5)
    # zero shuffle: pure row-local filter
    plan = stratified_sample(df, ["src"], {"web": 0.5}) \
        ._jdf.queryExecution().executedPlan().toString()
    assert "Exchange" not in plan


def test_target_encode_smoothed_loo_and_hash_encode(spark):
    from feathr_spark.operators.encoding import hash_encode, target_encode
    rows = [("a", 1), ("a", 1), ("a", 0), ("b", 1), ("b", 0),
            (None, 1), ("c", None)]
    df = spark.createDataFrame(rows, "cat string, y int")
    # prior over non-null labels = 4/6
    prior = 4 / 6
    m = 2.0
    got = {(r.cat, r.y): r.cat_te
           for r in target_encode(df, ["cat"], "y",
                                  smoothing=m).collect()}
    assert got[("a", 1)] == pytest.approx((2 + m * prior) / (3 + m))
    assert got[("b", 0)] == pytest.approx((1 + m * prior) / (2 + m))
    assert got[(None, 1)] == pytest.approx(prior)     # NULL cat -> prior
    # c has only a NULL-label row: no stats -> prior
    assert got[("c", None)] == pytest.approx(prior)
    # leave-one-out: own label excluded
    loo = [(r.cat, r.y, r.cat_te)
           for r in target_encode(df, ["cat"], "y", smoothing=m,
                                  loo=True).collect()]
    for cat, y, v in loo:
        if cat == "a" and y == 1:
            assert v == pytest.approx((2 - 1 + m * prior) / (3 - 1 + m))
        if cat == "a" and y == 0:
            assert v == pytest.approx((2 - 0 + m * prior) / (3 - 1 + m))
    # multi-column melt: one stats pass for both columns
    df2 = df.withColumn("cat2", F.upper("cat"))
    te2 = target_encode(df2, ["cat", "cat2"], "y", smoothing=m)
    assert {"cat_te", "cat2_te"} <= set(te2.columns)
    plan = te2._jdf.queryExecution().executedPlan().toString()
    # the melted stats aggregation is persisted: both columns' attach
    # branches read the cache instead of re-running the stats pass
    assert plan.count("InMemoryTableScan") == 2
    # and the values coming out of the cache are right
    g2 = {(r.cat, r.y): (r.cat_te, r.cat2_te) for r in te2.collect()}
    assert g2[("a", 0)][0] == pytest.approx((2 + m * prior) / (3 + m))
    assert g2[("a", 0)][0] == pytest.approx(g2[("a", 0)][1])
    with pytest.raises(ValueError):
        target_encode(df, [], "y")
    # hash encoding: deterministic, in range, column-salted, NULL-safe
    hx = hash_encode(df, ["cat"], num_buckets=16).collect()
    vals = {r.cat: r.cat_hx for r in hx}
    assert all(v is None or 0 <= v < 16 for v in vals.values())
    assert vals[None] is None
    again = {r.cat: r.cat_hx
             for r in hash_encode(df, ["cat"], num_buckets=16).collect()}
    assert vals == again                          # bit-reproducible
    two = hash_encode(df2.where(F.col("cat") == "a"), ["cat", "cat2"],
                      num_buckets=1 << 18).collect()[0]
    assert two.cat_hx != two.cat2_hx              # column-name salt


def test_key_skew_topk_and_entropy(spark):
    import math
    from feathr_spark.operators.profile import key_skew
    # counts: a=5, b=3, NULL=2, c=1  (N=11, K=4)
    rows = [("a",)] * 5 + [("b",)] * 3 + [(None,)] * 2 + [("c",)]
    df = spark.createDataFrame(rows, "k string")
    top = key_skew(df, ["k"], top_k=3).collect()
    assert [(r.k, r.n, r.rank) for r in top] == \
        [("a", 5, 1), ("b", 3, 2), (None, 2, 3)]   # NULL is a real key
    assert top[0].share == pytest.approx(5 / 11)
    s = key_skew(df, ["k"], summary=True).collect()[0]
    assert (s.n_rows, s.n_keys, s.max_key_n) == (11, 4, 5)
    assert s.top1_share == pytest.approx(5 / 11)
    want_h = -sum(p * math.log(p)
                  for p in (5 / 11, 3 / 11, 2 / 11, 1 / 11))
    assert s.entropy == pytest.approx(want_h, abs=1e-12)
    assert s.norm_entropy == pytest.approx(want_h / math.log(4))
    # uniform keys -> norm_entropy 1; single key -> NULL
    uni = spark.createDataFrame([(i % 4,) for i in range(40)], "k int")
    su = key_skew(uni, ["k"], summary=True).collect()[0]
    assert su.norm_entropy == pytest.approx(1.0)
    one = key_skew(spark.createDataFrame([(1,), (1,)], "k int"),
                   ["k"], summary=True).collect()[0]
    assert one.norm_entropy is None and one.entropy == pytest.approx(0.0)
    with pytest.raises(ValueError):
        key_skew(df, [])
    # the top-k cut is TakeOrderedAndProject, never a global sort
    plan = key_skew(df, ["k"], top_k=3) \
        ._jdf.queryExecution().executedPlan().toString()
    assert "TakeOrderedAndProject" in plan


def test_cohens_kappa_agreement(spark):
    from feathr_spark.operators.stats import cohens_kappa
    # textbook contingency: 20 yes/yes, 5 yes/no, 10 no/yes, 15 no/no
    rows = ([("y", "y")] * 20 + [("y", "n")] * 5
            + [("n", "y")] * 10 + [("n", "n")] * 15)
    df = spark.createDataFrame(rows, "a string, b string")
    r = cohens_kappa(df, "a", "b").collect()[0]
    po = 35 / 50
    pe = (25 / 50) * (30 / 50) + (25 / 50) * (20 / 50)
    assert r.n == 50
    assert r.po == pytest.approx(po)
    assert r.pe == pytest.approx(pe)
    assert r.kappa == pytest.approx((po - pe) / (1 - pe))
    # a class only one rater uses still enters pe (na=0 or nb=0 -> 0)
    df2 = spark.createDataFrame(rows + [("maybe", "y")],
                                "a string, b string")
    r2 = cohens_kappa(df2, "a", "b").collect()[0]
    assert r2.n == 51 and r2.kappa < r.kappa + 0.05
    # perfect single-class agreement: pe = 1 -> kappa NULL
    one = spark.createDataFrame([("y", "y")] * 5, "a string, b string")
    ro = cohens_kappa(one, "a", "b").collect()[0]
    assert ro.po == 1.0 and ro.kappa is None
    # NULL labels excluded; per-group variant
    g = spark.createDataFrame(
        [("g1", "y", "y"), ("g1", "n", "n"), ("g2", "y", "n"),
         ("g2", "n", "y"), ("g2", None, "y")],
        "g string, a string, b string")
    gr = {r.g: r for r in cohens_kappa(g, "a", "b", by=["g"]).collect()}
    assert gr["g1"].po == 1.0 and gr["g2"].po == 0.0
    assert gr["g2"].n == 2


def test_calibration_report_values_and_brier(spark):
    import numpy as np
    from feathr_spark.operators.stats import calibration_report
    rng = np.random.RandomState(11)
    probs = rng.uniform(0, 1, 400)
    ys = rng.uniform(0, 1, 400) < probs        # calibrated by construction
    rows = [(bool(y), float(p)) for y, p in zip(ys, probs)]
    df = spark.createDataFrame(rows, "y boolean, p double")
    det = {r.bucket: r for r in
           calibration_report(df, "y", "p", bins=5).collect()}
    assert sorted(det) == [0, 1, 2, 3, 4]
    for b, r in det.items():
        sel = [(y, p) for y, p in rows
               if min(int(p * 5), 4) == b]
        assert r.n == len(sel)
        assert r.mean_pred == pytest.approx(
            sum(p for _, p in sel) / len(sel))
        assert r.pos_rate == pytest.approx(
            sum(1 for y, _ in sel if y) / len(sel))
        assert r.gap == pytest.approx(r.pos_rate - r.mean_pred)
        # calibrated scorer: observed tracks predicted
        assert abs(r.gap) < 0.15
    summ = calibration_report(df, "y", "p", bins=5,
                              summary=True).collect()[0]
    want_brier = float(np.mean((probs - ys.astype(float)) ** 2))
    assert summ.brier == pytest.approx(want_brier, abs=1e-9)
    assert summ.n == 400 and 0.0 <= summ.ece < 0.1
    # p exactly 1.0 lands in the last bucket (closed upper edge)
    edge = spark.createDataFrame([(True, 1.0), (False, 0.0)],
                                 "y boolean, p double")
    ed = {r.bucket: r.n for r in
          calibration_report(edge, "y", "p", bins=4).collect()}
    assert ed[3] == 1 and ed[0] == 1
    # empty buckets materialize with NULL rates
    er = {r.bucket: r for r in
          calibration_report(edge, "y", "p", bins=4).collect()}
    assert er[1].n == 0 and er[1].pos_rate is None
    # out-of-range probability raises (scorer bug, not drift)
    bad = spark.createDataFrame([(True, 1.5)], "y boolean, p double")
    with pytest.raises(Exception, match="outside"):
        calibration_report(bad, "y", "p").collect()


def _brute_auc(pairs):
    """Mann–Whitney AUC: mean over pos×neg of 1/0.5/0 credit."""
    pos = [s for y, s in pairs if y]
    neg = [s for y, s in pairs if not y]
    if not pos or not neg:
        return None
    credit = sum(1.0 if p > n else 0.5 if p == n else 0.0
                 for p in pos for n in neg)
    return credit / (len(pos) * len(neg))


def test_roc_auc_matches_brute_force(spark):
    import numpy as np
    from feathr_spark.operators.stats import roc_auc
    rng = np.random.RandomState(7)
    # informative scorer + heavy ties (rounded to 1dp) exercises the
    # 0.5-credit path and multi-count distinct-score rows
    pairs = [(bool(y), float(round(rng.normal(1.0 if y else 0.0, 1.0), 1)))
             for y in rng.randint(0, 2, 300)]
    df = spark.createDataFrame(pairs, "y boolean, s double")
    r = roc_auc(df, "y", "s", buckets=8).collect()[0]
    want = _brute_auc(pairs)
    assert abs(r.auc - want) < 1e-12
    assert r.n_pos == sum(1 for y, _ in pairs if y)
    assert r.n_neg == len(pairs) - r.n_pos
    # bucket count must not change the result (it only partitions the
    # cumsum) — including the degenerate 1-bucket case
    for b in (1, 3, 64):
        assert abs(roc_auc(df, "y", "s", buckets=b).collect()[0].auc
                   - want) < 1e-12
    # per-group: each group matches its own brute force
    gp = [("a" if i % 2 else "b", y, s)
          for i, (y, s) in enumerate(pairs)]
    gdf = spark.createDataFrame(gp, "g string, y boolean, s double")
    got = {r.g: r.auc for r in roc_auc(gdf, "y", "s", by=["g"]).collect()}
    for g in ("a", "b"):
        assert abs(got[g] - _brute_auc(
            [(y, s) for gg, y, s in gp if gg == g])) < 1e-12
    # perfect / inverted / degenerate scorers
    perfect = spark.createDataFrame(
        [(True, 2.0), (True, 3.0), (False, 0.0), (False, 1.0)],
        "y boolean, s double")
    assert roc_auc(perfect, "y", "s").collect()[0].auc == 1.0
    inverted = perfect.withColumn("s", -F.col("s"))
    assert roc_auc(inverted, "y", "s").collect()[0].auc == 0.0
    onecls = spark.createDataFrame([(True, 1.0), (True, 2.0)],
                                   "y boolean, s double")
    assert roc_auc(onecls, "y", "s").collect()[0].auc is None
    # NULL labels/scores are excluded, not counted
    withnull = spark.createDataFrame(
        [(True, 2.0), (False, 1.0), (None, 9.0), (True, None)],
        "y boolean, s double")
    rn = roc_auc(withnull, "y", "s").collect()[0]
    assert rn.auc == 1.0 and rn.n_pos == 1 and rn.n_neg == 1


def test_scd2_merge_guards(spark):
    """Round-5 hardening: duplicate update keys raise in-plan; stale
    (out-of-order) snapshots are ignored instead of inverting the
    validity interval."""
    import datetime as _dt
    from feathr_spark.operators.scd import scd2_merge
    t0 = _dt.datetime(2024, 3, 1)
    dim = spark.createDataFrame(
        [(1, "gold", t0, None)],
        "k bigint, tier string, "
        "effective_from timestamp, effective_to timestamp")
    # duplicate key in updates -> loud failure at execution
    dupes = spark.createDataFrame(
        [(1, "silver"), (1, "bronze")], "k bigint, tier string")
    from py4j.protocol import Py4JJavaError
    with pytest.raises(Exception) as ei:
        scd2_merge(dim, dupes, ["k"], "2024-04-01 00:00:00").collect()
    assert "one row" in str(ei.value) or "USER_RAISED" in str(ei.value)
    # stale merge: effective_ts BEFORE the open row's effective_from —
    # the update is ignored (no inverted interval, no extra version)
    upd = spark.createDataFrame([(1, "silver"), (2, "new")],
                                "k bigint, tier string")
    out = scd2_merge(dim, upd, ["k"], "2024-01-01 00:00:00")
    rows = {(r.k, r.effective_from, r.effective_to): r.tier
            for r in out.collect()}
    cut = _dt.datetime(2024, 1, 1)
    assert rows[(1, t0, None)] == "gold"          # untouched, still open
    assert rows[(2, cut, None)] == "new"          # new key still inserts
    assert len(rows) == 2
    # no interval anywhere with to <= from
    for (_, f, t), _v in rows.items():
        assert t is None or t > f


def test_pagerank_nonpositive_weights(spark):
    """Round-5 hardening: zero/negative-weight edges are dropped before
    normalization; a node with only non-positive out-edges counts as
    dangling — rank mass is conserved, never NULLed away."""
    from feathr_spark.operators.graph import pagerank
    edges = [("a", "b", 2.0),
             ("b", "a", 1.0),
             ("b", "c", 0.0),    # zero-weight: no mass flows b->c
             ("c", "a", 0.0),    # c's ONLY out-edge is weight 0 ->
             ("c", "b", -5.0)]   # ... and a negative one: c is dangling
    df = spark.createDataFrame(edges, "src string, dst string, w double")
    got = {r.id: r.rank
           for r in pagerank(df, weight="w", damping=0.85,
                             iters=4).collect()}
    # all three nodes still exist; no NULL ranks; total mass conserved
    assert set(got) == {"a", "b", "c"}
    assert all(v is not None for v in got.values())
    assert sum(got.values()) == pytest.approx(1.0, abs=1e-9)
    # equivalent clean graph: only the positive edges, c dangling
    want = _py_pagerank([("a", "b", 2.0), ("b", "a", 1.0)], 0.85, 4,
                        extra_nodes=["c"])
    for v in want:
        assert got[v] == pytest.approx(want[v], abs=1e-12)


def test_target_encode_loo_singleton_and_hint(spark):
    """Round-5 hardening: loo + smoothing=0 on a singleton category
    falls back to the prior (was 0/0 -> NULL); broadcast_stats gates
    the attach-join hint."""
    from feathr_spark.operators.encoding import target_encode
    df = spark.createDataFrame(
        [("a", 1.0), ("a", 0.0), ("solo", 1.0)], "cat string, y double")
    out = {r.cat: (r.y, r.cat_te) for r in
           target_encode(df, ["cat"], "y", smoothing=0.0,
                         loo=True).collect()
           if r.cat == "solo"}
    prior = 2.0 / 3.0
    assert out["solo"][1] == pytest.approx(prior)    # not None
    # hint variants agree on values
    for bs in (True, False, None):
        got = sorted((r.cat, round(r.cat_te, 9)) for r in
                     target_encode(df, ["cat"], "y", smoothing=5.0,
                                   broadcast_stats=bs).collect())
        if bs is True:
            base = got
    assert got == base


def test_ccnet_buckets_terciles(spark):
    """CCNet perplexity terciles: per-language equal-frequency split,
    head = lowest ppl, ties on a cut fall toward head, empty docs drop."""
    from feathr_spark.operators.lm import ccnet_buckets
    rows = []
    # lang A: 9 docs with clearly distinct fluency bands (repeating
    # common tokens scores high-prob; rare tokens low-prob)
    common, rare = "the cat sat", "zq xv jk"
    for i in range(3):
        rows.append((i, " ".join([common] * 6), "A"))        # fluent
    for i in range(3, 6):
        rows.append((i, common + " " + rare, "A"))           # mixed
    for i in range(6, 9):
        rows.append((i, " ".join([f"w{i}x{k}" for k in range(6)]), "A"))
    rows.append((9, "uno dos tres uno dos tres", "B"))
    rows.append((10, "uno dos tres cuatro cinco seis", "B"))
    rows.append((11, "", "B"))   # empty: one ''-token, still scored
    df = spark.createDataFrame(rows, "doc_id bigint, text string, lang string")
    out = {r.doc_id: r for r in
           ccnet_buckets(df, lang_col="lang").collect()}
    assert 11 in out             # tokenizer contract: every doc buckets
    assert all(out[i].bucket == "head" for i in range(3))
    assert all(out[i].bucket == "middle" for i in range(3, 6))
    assert all(out[i].bucket == "tail" for i in range(6, 9))
    assert {out[i].tercile for i in range(3)} == {0}
    # B's docs split around B's OWN cuts, independent of A's scale
    assert {out[9].lang, out[10].lang, out[11].lang} == {"B"}
    assert out[9].ppl < out[10].ppl           # repetition scores fluent
    assert out[9].bucket == "head"
    # ppl matches score_documents exactly (composition, not re-derivation)
    from feathr_spark.operators.lm import score_documents
    ref = {r.doc_id: r.ppl for r in score_documents(df).collect()}
    for i, r in out.items():
        assert r.ppl == ref[i]


def test_dsir_logratio_direction_and_identity(spark):
    """DSIR importance ratio: target-like docs score positive, background
    docs negative; target == corpus degenerates to logratio ~ 0."""
    from feathr_spark.operators.lm import dsir_logratio
    rows = ([(i, "alpha beta gamma alpha beta") for i in range(6)]
            + [(i, "delta epsilon zeta delta zeta") for i in range(6, 12)])
    df = spark.createDataFrame(rows, "doc_id bigint, text string")
    target = df.where(F.col("doc_id") < 6)      # the alpha-beta domain
    out = {r.doc_id: r for r in dsir_logratio(df, target).collect()}
    assert all(out[i].logratio > 0 for i in range(6))       # target-like
    assert all(out[i].logratio < 0 for i in range(6, 12))   # background
    # per-token mean is length-independent: scores within a group equal
    assert len({out[i].logratio for i in range(6)}) == 1
    # self-target identity: scoring the corpus against itself ~ 0
    self_out = dsir_logratio(df, df).collect()
    assert all(abs(r.logratio) < 1e-9 for r in self_out)
    # n_tokens and raw logprob come straight from score_documents
    from feathr_spark.operators.lm import score_documents
    ref = {r.doc_id: (r.n_tokens, r.mean_logprob)
           for r in score_documents(df).collect()}
    for i, r in out.items():
        assert (r.n_tokens, r.logprob_raw) == ref[i]


def test_quantile_rollup_cascade_accuracy(spark):
    """KLL quantile cascade: daily sketches merged to one sketch give
    percentiles within the rank-error bound of exact; n is exact."""
    import datetime as _dt
    from feathr_spark.operators.profile import (
        finalize_quantiles, merge_quantile_rollup, quantile_rollup)
    rows = [(("g"), _dt.datetime(2024, 1, 1 + d), float(v))
            for d in range(10) for v in range(d * 100, d * 100 + 100)]
    df = spark.createDataFrame(rows, "g string, ts timestamp, v double")
    daily = quantile_rollup(df, "ts", ["g"], "v", level="day")
    assert daily.count() == 10
    monthly = finalize_quantiles(merge_quantile_rollup(daily, "month"),
                                 fracs=(0.5, 0.9))
    r = monthly.collect()[0]
    assert r.n == 1000
    # values are 0..999 uniformly: p50 ~ 500, p90 ~ 900 (±1.33/k·n ranks
    # at k=200 → ±~7 ranks; allow 3x slack for merge + interpolation)
    assert abs(r.p50 - 500) <= 20
    assert abs(r.p90 - 900) <= 20


def test_audience_overlap_exact_mode(spark):
    """Theta set algebra: below 2^lg_nom the sketches are in exact mode
    — every readout equals the true set cardinality."""
    from feathr_spark.operators.profile import audience_overlap
    a = spark.createDataFrame([(i,) for i in range(100)], "u bigint")
    b = spark.createDataFrame([(i,) for i in range(60, 200)], "u bigint")
    r = audience_overlap(a, b, "u").collect()[0]
    assert (r.n_a, r.n_b) == (100, 140)
    assert r.n_union == 200
    assert r.n_intersection == 40
    assert r.n_only_a == 60 and r.n_only_b == 100
    # disjoint cohorts
    c = spark.createDataFrame([(i,) for i in range(1000, 1010)], "u bigint")
    r2 = audience_overlap(a, c, "u").collect()[0]
    assert r2.n_intersection == 0 and r2.n_union == 110


def test_theta_rollup_sketch_retention(spark):
    """Theta rollup + retention: weekly sketches, consecutive-bucket
    intersections equal the exact per-user retention (exact mode)."""
    import datetime as _dt
    from feathr_spark.operators.profile import (
        merge_theta_rollup, sketch_retention, theta_rollup)
    rows = []
    # week of Jan 1: users 0..9; Jan 8: 5..14 (5 retained); Jan 15: 100
    for u in range(10):
        rows.append((_dt.datetime(2024, 1, 2), u))
    for u in range(5, 15):
        rows.append((_dt.datetime(2024, 1, 9), u))
    rows.append((_dt.datetime(2024, 1, 16), 100))
    df = spark.createDataFrame(rows, "ts timestamp, user_id bigint")
    weekly = theta_rollup(df, "ts", [], "user_id", level="week")
    got = {r.bucket_start: r for r in sketch_retention(weekly).collect()}
    w1, w2, w3 = (_dt.datetime(2024, 1, 1), _dt.datetime(2024, 1, 8),
                  _dt.datetime(2024, 1, 15))
    assert got[w1].n_prev is None and got[w1].retention is None
    assert (got[w2].n_prev, got[w2].n_cur, got[w2].n_retained) == (10, 10, 5)
    assert (got[w2].n_new, got[w2].n_churned) == (5, 5)
    assert got[w2].retention == 0.5
    assert (got[w3].n_prev, got[w3].n_cur, got[w3].n_retained) == (10, 1, 0)
    assert (got[w3].n_new, got[w3].n_churned) == (1, 10)
    # union-coarsen: month bucket = all 16 distinct users
    from pyspark.sql import functions as _F
    monthly = merge_theta_rollup(weekly, "month")
    n = monthly.select(_F.theta_sketch_estimate("__tsk").cast("bigint")
                       .alias("n")).collect()[0].n
    assert n == 16


def test_sketch_rollups_persist_and_merge_after_roundtrip(spark, tmp_path):
    """The incremental-refresh claim for the KLL/Theta cascades: sketch
    state (binary column) survives a parquet round-trip, and merging a
    round-tripped rollup with a fresh batch equals rolling up the union
    directly (theta: exact estimates; KLL: exact-mode quantiles)."""
    import datetime as _dt
    from feathr_spark.operators.profile import (
        finalize_quantiles, merge_quantile_rollup, merge_theta_rollup,
        quantile_rollup, theta_rollup)
    t = _dt.datetime(2024, 1, 2)
    a = spark.createDataFrame([(t, u, float(u)) for u in range(50)],
                              "ts timestamp, user_id bigint, v double")
    b = spark.createDataFrame([(t, u, float(u)) for u in range(30, 80)],
                              "ts timestamp, user_id bigint, v double")
    # theta: persist week-rollup of A, merge with B's rollup
    pa_ = str(tmp_path / "theta_a")
    theta_rollup(a, "ts", [], "user_id", level="week").write.parquet(pa_)
    stored = spark.read.parquet(pa_)
    merged = merge_theta_rollup(
        stored.unionByName(theta_rollup(b, "ts", [], "user_id",
                                        level="week")), "week")
    n = merged.select(F.theta_sketch_estimate("__tsk").cast("bigint")
                      .alias("n")).collect()[0].n
    assert n == 80                      # |0..79| exactly (exact mode)
    # kll: same pattern, quantiles equal the direct union rollup
    pk = str(tmp_path / "kll_a")
    quantile_rollup(a, "ts", [], "v", level="week").write.parquet(pk)
    kmerged = merge_quantile_rollup(
        spark.read.parquet(pk).unionByName(
            quantile_rollup(b, "ts", [], "v", level="week")), "week")
    direct = quantile_rollup(a.unionByName(b), "ts", [], "v",
                             level="week")
    got = finalize_quantiles(kmerged, fracs=(0.5,)).collect()[0]
    want = finalize_quantiles(direct, fracs=(0.5,)).collect()[0]
    assert got.n == want.n == 100
    assert got.p50 == want.p50          # exact mode: both are exact


# --- round 6: skyline / mode / entropy / gini / chi2 / benford / cusum / rfm


def test_skyline_2d_orientations_and_ties(spark):
    from feathr_spark.operators.olap import skyline_2d
    pts = spark.createDataFrame(
        [(1, 1.0, 1), (2, 2.0, 3), (3, 3.0, 2), (4, 1.0, 2),
         (5, 2.0, 1), (6, 5.0, 5), (7, 5.0, 5)],
        "id int, price double, size int")
    # min price / max size: (1,2) dominates (1,1); (2,3) survives;
    # (5,5) ties survive TOGETHER (neither dominates the other)
    sky = sorted(r.id for r in skyline_2d(pts, "price", "size").collect())
    assert sky == [2, 4, 6, 7]
    # flipped orientation: maximize price, minimize size
    sky2 = sorted(r.id for r in skyline_2d(
        pts, "price", "size", minimize_x=False, maximize_y=False).collect())
    # (2,1) dominates (1,1); the (5,5) tie pair has nothing cheaper/larger
    assert sky2 == [3, 5, 6, 7]
    # oracle cross-check on a random cloud vs the O(n^2) definition
    import random
    random.seed(6)
    rows = [(i, float(random.randint(0, 30)), random.randint(0, 30))
            for i in range(120)]
    df = spark.createDataFrame(rows, "id int, x double, y int")
    got = sorted(r.id for r in skyline_2d(df, "x", "y").collect())
    def dominated(p):
        return any(q[1] <= p[1] and q[2] >= p[2]
                   and (q[1] < p[1] or q[2] > p[2]) for q in rows)
    want = sorted(i for i, x, y in rows if not dominated((i, x, y)))
    assert got == want


def test_skyline_2d_one_bucket_degenerate(spark):
    """All x equal -> span 0 -> single bucket; only the best-y rows
    survive (ties together)."""
    from feathr_spark.operators.olap import skyline_2d
    df = spark.createDataFrame(
        [(1, 2.0, 5), (2, 2.0, 9), (3, 2.0, 9)], "id int, x double, y int")
    assert sorted(r.id for r in skyline_2d(df, "x", "y").collect()) == [2, 3]


def test_mode_by_ties_and_nulls(spark):
    from feathr_spark.operators.olap import mode_by
    df = spark.createDataFrame(
        [("a", "y"), ("a", "x"), ("a", "y"), ("a", "x"), ("a", None),
         ("b", "z")], "k string, c string")
    out = {r.k: (r.mode, r.mode_count, r.n)
           for r in mode_by(df, ["k"], "c").collect()}
    # tie x/y at 2 -> lexicographically smallest; NULL excluded from n
    assert out == {"a": ("x", 2, 4), "b": ("z", 1, 1)}


def test_entropy_by_known_values(spark):
    import math
    from feathr_spark.operators.stats import entropy_by
    rows = [(1, "a")] * 2 + [(1, "b")] * 2 + [(2, "a")] * 4 + \
        [(3, "a"), (3, "b"), (3, "c"), (3, "d")]
    df = spark.createDataFrame(rows, "u int, t string")
    out = {r.u: (r.n, r.n_cats, r.entropy)
           for r in entropy_by(df, "u", "t").collect()}
    assert out[1] == (4, 2, 1.0)          # uniform over 2 -> 1 bit
    assert out[2] == (4, 1, 0.0)          # degenerate -> 0
    assert out[3] == (4, 4, 2.0)          # uniform over 4 -> 2 bits
    # nats mode
    nats = {r.u: r.entropy
            for r in entropy_by(df, "u", "t", base2=False).collect()}
    assert abs(nats[3] - math.log(4)) < 1e-4  # output is 4dp-rounded


def test_gini_by_extremes(spark):
    from feathr_spark.operators.stats import gini_by
    df = spark.createDataFrame(
        [("eq", 5.0, i) for i in range(4)]
        + [("conc", 0.0, 1), ("conc", 0.0, 2), ("conc", 0.0, 3),
           ("conc", 100.0, 4)]
        + [("zero", 0.0, 1)],
        "seg string, v double, id int")
    out = {r.seg: r.gini for r in gini_by(df, "seg", "v", "id").collect()}
    assert out["eq"] == 0.0
    # all mass on 1 of 4: G = 2*4/4 - 5/4 = 0.75
    assert out["conc"] == 0.75
    assert out["zero"] is None            # undefined on zero total


def test_chi2_independence_perfect_association(spark):
    from feathr_spark.operators.stats import chi2_independence
    # perfectly associated 2x2: chi2 = n, V = 1
    rows = [("p", "q")] * 10 + [("s", "r")] * 10
    df = spark.createDataFrame(rows, "a string, b string")
    r = chi2_independence(df, "a", "b").collect()[0]
    assert (r.n, r.dof, r.chi2, r.cramers_v) == (20, 1, 20.0, 1.0)
    # independent: chi2 ~ 0
    rows = [("p", "q")] * 5 + [("p", "r")] * 5 + [("s", "q")] * 5 + \
        [("s", "r")] * 5
    r2 = chi2_independence(spark.createDataFrame(rows, "a string, b string"),
                           "a", "b").collect()[0]
    assert r2.chi2 == 0.0 and r2.cramers_v == 0.0


def test_benford_digits_exact_counts(spark):
    from feathr_spark.operators.quality import benford_digits
    vals = [1.0, 1.5, 19.0, 2.0, 25.0, 3.0, 0.004, 900.0, -5.0, 0.0, None]
    df = spark.createDataFrame([(v,) for v in vals], "v double")
    out = {r.digit: r for r in benford_digits(df, "v").collect()}
    assert {d: out[d].n for d in out} == {1: 3, 2: 2, 3: 1, 4: 1, 9: 1}
    # freq sums to 1 over observed digits; expected is Benford's law
    assert abs(sum(out[d].freq for d in out) - 1.0) < 1e-6
    assert abs(out[1].expected - 0.301) < 1e-3


def test_cusum_changepoints_finds_shift(spark):
    import datetime as dt
    from pyspark.sql import Row
    from feathr_spark.operators.forecast import cusum_changepoints
    rows = [Row(ts=dt.datetime(2024, 1, 1) + dt.timedelta(days=i),
                v=(1.0 if i < 6 else 9.0)) for i in range(12)]
    out = cusum_changepoints(spark.createDataFrame(rows), "ts", "v") \
        .collect()
    peaks = [r.bucket_ts.day for r in out if r.is_peak]
    assert peaks == [6]                   # last low day = the change point
    # keyed variant: each key gets its own peak
    rows2 = [Row(k="a", ts=r.ts, v=r.v) for r in rows] + \
        [Row(k="b", ts=rows[i].ts, v=(9.0 if i < 6 else 1.0))
         for i in range(12)]
    out2 = cusum_changepoints(spark.createDataFrame(rows2), "ts", "v",
                              key_cols=["k"]).collect()
    assert {r.k for r in out2 if r.is_peak} == {"a", "b"}


def test_rfm_scores_deterministic(spark):
    import datetime as dt
    from pyspark.sql import Row
    from feathr_spark.operators.encoding import rfm_scores
    t0 = dt.datetime(2024, 1, 1)
    rows = [Row(k=k, ts=t0 + dt.timedelta(days=d), amt=float(a))
            for k, d, a in [(1, 9, 100), (1, 8, 50), (2, 0, 10),
                            (3, 4, 500), (4, 2, 20), (5, 6, 80)]]
    out = {r.o_custkey: r for r in rfm_scores(
        spark.createDataFrame(rows), "k", "ts", "amt", n_tiles=5)
        .withColumnRenamed("k", "o_custkey").collect()}
    # customer 1: most recent (0 days), most frequent, monetary 150
    assert out[1].recency_days == 0 and out[1].frequency == 2
    assert out[1].r_score == 5 and out[1].f_score == 5
    # customer 2: least recent, monetary lowest
    assert out[2].r_score == 1 and out[2].m_score == 1
    assert out[3].m_score == 5            # highest spender
    assert all(len(r.rfm) == 3 for r in out.values())


def test_ohlc_bars_values(spark):
    import datetime as dt
    from pyspark.sql import Row
    from feathr_spark.operators.timeseries import ohlc_bars
    t0 = dt.datetime(2024, 1, 1)
    rows = [Row(ts=t0 + dt.timedelta(hours=h), v=float(v), i=i)
            for i, (h, v) in enumerate(
                [(0, 10), (1, 20), (2, 5), (3, 30), (25, 7), (26, 3)])]
    # same-timestamp tie: the higher event id is the close
    rows.append(Row(ts=t0 + dt.timedelta(hours=3), v=99.0, i=100))
    out = {r.bucket_ts.day: r for r in ohlc_bars(
        spark.createDataFrame(rows), "ts", "v", tie_col="i").collect()}
    d1 = out[1]
    assert (d1.open, d1.high, d1.low, d1.close) == (10.0, 99.0, 5.0, 99.0)
    assert d1.n == 5 and d1.total == 164.0
    assert (out[2].open, out[2].close) == (7.0, 3.0)


def test_twap_weights_by_duration(spark):
    import datetime as dt
    from pyspark.sql import Row
    from feathr_spark.operators.timeseries import twap
    t0 = dt.datetime(2024, 1, 1)
    rows = [Row(ts=t0, v=10.0, i=0),                      # holds 12h
            Row(ts=t0 + dt.timedelta(hours=12), v=20.0, i=1),  # 12h
            Row(ts=t0 + dt.timedelta(days=1, hours=1), v=7.0, i=2),
            Row(ts=t0 + dt.timedelta(days=1, hours=2), v=3.0, i=3)]
    out = {r.bucket_ts.day: r.twap for r in twap(
        spark.createDataFrame(rows), "ts", "v", tie_col="i").collect()}
    assert out[1] == 15.0                                # equal halves
    assert out[2] == round((7 * 1 + 3 * 22) / 23, 4)     # LOCF to day end
    # arithmetic mean would say 5.0 — TWAP must not
    assert out[2] != 5.0


def test_top_paths_order_and_ties(spark):
    import datetime as dt
    from pyspark.sql import Row
    from feathr_spark.operators.sessions import top_paths
    t0 = dt.datetime(2024, 1, 1)
    rows = []
    for u, seq in [(1, "abca"), (2, "ab"), (3, "bc")]:
        for i, ch in enumerate(seq):
            rows.append(Row(user_id=u, ts=t0 + dt.timedelta(minutes=i),
                            event_type=ch, event_id=u * 100 + i))
    out = [(r.path, r.n_occurrences) for r in top_paths(
        spark.createDataFrame(rows), tie_col="event_id", k=10).collect()]
    # a>b twice (users 1,2), b>c twice (users 1,3), c>a once; tie a>b
    # before b>c lexicographically
    assert out == [("a>b", 2), ("b>c", 2), ("c>a", 1)]
    # single-event users contribute nothing
    one = spark.createDataFrame([Row(user_id=9, ts=t0, event_type="x",
                                     event_id=1)])
    assert top_paths(one, tie_col="event_id").count() == 0


def test_ols_trend_exact_line(spark):
    from feathr_spark.operators.stats import ols_trend
    # perfect line y = 2x + 3 -> slope 2, intercept 3, r2 = 1
    rows = [("a", float(x), 2.0 * x + 3.0) for x in range(10)]
    # flat group: slope 0, r2 NULL (vy = 0 -> r2 = 1 by convention? no:
    # vy == 0 means y constant -> any line fits; we return r2 = 1 when
    # the fit is exact (vx > 0, vy == 0 -> residuals 0)
    rows += [("b", float(x), 7.0) for x in range(5)]
    rows += [("c", 1.0, 5.0)]  # n = 1 -> all NULL
    df = spark.createDataFrame(rows, "k string, x double, y double")
    out = {r.k: r for r in ols_trend(df, "x", "y", ["k"]).collect()}
    assert (out["a"].slope, out["a"].intercept, out["a"].r2) == \
        (2.0, 3.0, 1.0)
    assert (out["b"].slope, out["b"].r2) == (0.0, 1.0)
    assert out["c"].slope is None and out["c"].r2 is None


def test_robust_scale_outlier_proof(spark):
    from feathr_spark.operators.scaling import robust_scale
    vals = [float(v) for v in range(1, 12)]        # 1..11: med 6, IQR 5
    vals.append(1e9)                                # the outlier
    df = spark.createDataFrame([(i, v) for i, v in enumerate(vals)],
                               "id int, v double")
    out = {r.id: r.robust for r in robust_scale(df, "v", "id").collect()}
    # median/IQR shift only slightly with one outlier; z-score would
    # collapse all inliers to ~0. Check the median row lands near 0 and
    # the spread of inliers stays O(1).
    assert abs(out[5]) < 0.2
    assert 0.5 < abs(out[0]) < 2.0
    assert out[11] > 100            # the outlier is still flagged huge
    same = spark.createDataFrame([(1, 5.0), (2, 5.0)], "id int, v double")
    assert all(r.robust is None
               for r in robust_scale(same, "v", "id").collect())


def test_count_min_sketch_properties(spark):
    from pyspark.sql import Row
    from feathr_spark.operators.sketch import cms_lookup, count_min_sketch
    docs = spark.createDataFrame(
        [Row(i=0, text=" ".join(["apple"] * 50 + ["banana"] * 20
                                + ["fig"]))]
        + [Row(i=i, text="noise words "
               + " ".join(f"w{j}" for j in range(50)))
           for i in range(1, 5)])
    sk = count_min_sketch(docs, depth=3, width=256)
    # sketch is bounded: at most depth*width cells, each row sums to N
    assert sk.count() <= 3 * 256
    row_sums = {r.row: r.total for r in
                sk.groupBy("row").agg(F.sum("cnt").alias("total"))
                .collect()}
    assert len(set(row_sums.values())) == 1      # every row sees all N
    q = spark.createDataFrame([("apple",), ("banana",), ("absent",)],
                              "term string")
    est = {r.term: r.est_count
           for r in cms_lookup(sk, q, depth=3, width=256).collect()}
    assert est["apple"] >= 50 and est["banana"] >= 20  # never underestimates
    n = next(iter(row_sums.values()))
    assert est["absent"] <= 8 * n / 256          # collisions stay bounded
    # mergeability: sketch(a ∪ b) == sketch(a) + sketch(b) cell-wise
    half1 = docs.where(F.col("i") < 2)
    half2 = docs.where(F.col("i") >= 2)
    merged = (count_min_sketch(half1, depth=3, width=256)
              .unionByName(count_min_sketch(half2, depth=3, width=256))
              .groupBy("row", "bucket").agg(F.sum("cnt").alias("cnt")))
    a = {(r.row, r.bucket): r.cnt for r in sk.collect()}
    b = {(r.row, r.bucket): r.cnt for r in merged.collect()}
    assert a == b


def test_mutual_info_extremes(spark):
    from feathr_spark.operators.stats import mutual_info
    dep = spark.createDataFrame([("x", "p")] * 5 + [("y", "q")] * 5,
                                "a string, b string")
    r = mutual_info(dep, "a", "b").collect()[0]
    assert (r.n, r.mi, r.mi_normalized) == (10, 1.0, 1.0)
    ind = spark.createDataFrame(
        [("x", "p")] * 5 + [("x", "q")] * 5 + [("y", "p")] * 5
        + [("y", "q")] * 5, "a string, b string")
    r2 = mutual_info(ind, "a", "b").collect()[0]
    assert r2.mi == 0.0 and r2.mi_normalized == 0.0
    const = spark.createDataFrame([("x", "p")] * 4, "a string, b string")
    assert mutual_info(const, "a", "b").collect()[0].mi_normalized is None


def test_random_projection_preserves_distances(spark):
    import itertools
    import numpy as np
    from pyspark.sql import Row
    from feathr_spark.operators.similarity import random_projection
    rng = np.random.default_rng(1)
    rows = [Row(vec_id=i,
                embedding=[float(x) for x in rng.standard_normal(64)])
            for i in range(30)]
    out = random_projection(spark.createDataFrame(rows),
                            out_dim=32, dim=64, seed=0).collect()
    orig = {r.vec_id: np.array(r.embedding) for r in out}
    proj = {r.vec_id: np.array(r.projected) for r in out}
    ratios = [np.linalg.norm(proj[a] - proj[b])
              / np.linalg.norm(orig[a] - orig[b])
              for a, b in itertools.combinations(range(30), 2)]
    # JL at 32 dims: distances preserved within a modest band on average
    assert 0.8 < float(np.mean(ratios)) < 1.2
    assert min(ratios) > 0.4 and max(ratios) < 1.8
    # determinism: same seed -> identical projection
    again = random_projection(spark.createDataFrame(rows),
                              out_dim=32, dim=64, seed=0).collect()
    assert {r.vec_id: r.projected for r in again} == \
        {r.vec_id: r.projected for r in out}


def test_rfm_cuts_matches_ntile_on_distinct_balanced_data(spark):
    """method='cuts' (broadcast percentile cuts, no global window — the
    extreme-cardinality path) assigns the same quintiles as ntile when
    metrics are distinct and classes divide evenly, and its plan
    contains NO window operator at all."""
    import datetime as dt
    from pyspark.sql import Row
    from feathr_spark.operators.encoding import rfm_scores
    t0 = dt.datetime(2024, 1, 1)
    # 10 customers, one order each: recency 0..9 days, amounts distinct
    rows = [Row(k=k, ts=t0 + dt.timedelta(days=k), amt=float(10 + k))
            for k in range(10)]
    df = spark.createDataFrame(rows)
    a = {r.k: r for r in rfm_scores(df, "k", "ts", "amt",
                                    n_tiles=5).collect()}
    b = {r.k: r for r in rfm_scores(df, "k", "ts", "amt", n_tiles=5,
                                    method="cuts").collect()}
    assert set(a) == set(b)
    for k in a:
        # r/m metrics are distinct + balanced: methods agree exactly
        # (frequency is all-ties, where the methods differ by design,
        # so the rfm concat string is not compared)
        assert (a[k].r_score, a[k].m_score) == \
               (b[k].r_score, b[k].m_score), k
    # frequency is all-ties (1 order each): cuts puts every key in ONE
    # class (portable tie rule), ntile force-splits — both monotone
    assert len({r.f_score for r in b.values()}) == 1
    plan = rfm_scores(df, "k", "ts", "amt", method="cuts") \
        ._jdf.queryExecution().executedPlan().toString()
    assert "Window" not in plan


def test_rfm_cuts_scores_monotone_under_ties(spark):
    import datetime as dt
    from pyspark.sql import Row
    from feathr_spark.operators.encoding import rfm_scores
    t0 = dt.datetime(2024, 1, 1)
    rows = [Row(k=k, ts=t0 + dt.timedelta(days=k % 3),
                amt=float([5, 5, 9, 9, 20, 20, 20, 41][k % 8]))
            for k in range(24)]
    out = rfm_scores(spark.createDataFrame(rows), "k", "ts", "amt",
                     n_tiles=4, method="cuts").collect()
    # equal monetary => equal m_score; higher monetary => >= m_score
    by_amt = {}
    for r in out:
        by_amt.setdefault(r.monetary, set()).add(r.m_score)
    assert all(len(s) == 1 for s in by_amt.values())
    amts = sorted(by_amt)
    scores = [by_amt[a].pop() for a in amts]
    assert scores == sorted(scores)
    assert all(1 <= s <= 4 for s in scores)
