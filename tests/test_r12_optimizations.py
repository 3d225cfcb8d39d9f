"""Round-12 optimization guards.

Pins the equivalences and documented ceilings behind the r12 changes:
the funnel selection-mode percentile path (the extreme-scale escape
hatch q_funnel_latency deliberately does NOT use at bench scale), the
grouped buffer-mode percentile per-group ceiling (VERDICT r11 item 7 —
measured at an adversarial hot-group distribution), and the
duplicate_components row-local edge fan-out (replacing the 4-branch
union build).
"""

import pytest
from pyspark.sql import functions as F


def test_funnel_latency_selection_mode_equals_buffer(spark):
    """percentile_mode='selection' (the 10^9-converted-users path) must
    reproduce the buffer plan's one-row output exactly — the bit-identity
    contract of selection_percentiles. q_funnel_latency stays on buffer
    mode (entity-sized multiset, measured 2-5x faster at bench scale);
    this test keeps the escape hatch proven-equivalent."""
    from feathr_spark.operators.funnel import funnel_latency
    rows = []
    for u in range(60):
        rows.append((u, "view", f"2031-01-01 00:{u % 50:02d}:00"))
        if u % 3 != 0:   # 2/3 convert, at varying latencies
            rows.append((u, "purchase",
                         f"2031-01-01 {1 + (u * 7) % 20:02d}:00:00"))
        if u % 5 == 0:   # purchase BEFORE first view: must not count
            rows.append((u, "purchase", "2030-12-31 23:00:00"))
    df = spark.createDataFrame(rows, "user_id long, event_type string, "
                                     "ts string")
    a = funnel_latency(df, "user_id", "event_type", "ts",
                       "view", "purchase").collect()
    b = funnel_latency(df, "user_id", "event_type", "ts",
                       "view", "purchase",
                       percentile_mode="selection").collect()
    assert [tuple(r) for r in a] == [tuple(r) for r in b]


def test_grouped_percentile_hot_group_ceiling(spark):
    """VERDICT r11 item 7: grouped buffer-mode percentiles (the
    window-agg PERCENTILE / funnel class) hold one value-multiset PER
    GROUP; a hot group concentrates that multiset in one task. This
    pins the documented ceiling with an adversarial distribution — one
    group owning 1M of 1M+40 rows — and checks the exact type-7
    interpolated answer against the closed form. Measured here: the
    1M-value hot group folds in ~1-2 s and ~24 MB of task state
    (doubles) — the documented "fine to ~10^7 per group" regime; past
    that, route the query through stats.selection_percentiles (global)
    or pre-bin per group (the two-pass plan weighted_percentiles
    already uses). The oracle contract is unchanged: this is a ceiling
    RECORD, not a behavior change."""
    n_hot = 1_000_000
    hot = spark.range(n_hot).select(
        F.lit("hot").alias("g"), F.col("id").cast("double").alias("v"))
    cold = spark.range(40).select(
        F.concat(F.lit("c"), (F.col("id") % 4).cast("string")).alias("g"),
        F.col("id").cast("double").alias("v"))
    df = hot.unionByName(cold)
    out = {r["g"]: (r["p50"], r["p90"])
           for r in (df.groupBy("g")
                     .agg(F.percentile("v", F.lit(0.5)).alias("p50"),
                          F.percentile("v", F.lit(0.9)).alias("p90"))
                     ).collect()}
    # type-7 interpolation over 0..n-1 : p50 = (n-1)/2, p90 = 0.9*(n-1)
    assert out["hot"][0] == pytest.approx((n_hot - 1) / 2.0)
    assert out["hot"][1] == pytest.approx(0.9 * (n_hot - 1))
    assert set(out) == {"hot", "c0", "c1", "c2", "c3"}


def test_kcore_survivor_join_strategies_agree(spark):
    """kcore_peel(survivor_join='shuffle_hash') — the production
    strategy once survivors outgrow the broadcast threshold (guide
    §3.1; 30x-scale: sort-merge paid a full edge-frame sort per join
    per round and one run died in GC-thrash, shuffled-hash completed)
    — must return exactly the default-planner result."""
    from feathr_spark.operators.graph import kcore_peel
    edges = [(a, b) for a in range(8) for b in range(8) if a < b]  # clique
    edges += [(100 + i, 101 + i) for i in range(10)]               # chain
    df = spark.createDataFrame(edges, "src long, dst long")
    a = sorted(tuple(r) for r in kcore_peel(df, k=3, rounds=3).collect())
    b = sorted(tuple(r) for r in
               kcore_peel(df, k=3, rounds=3,
                          survivor_join="shuffle_hash").collect())
    assert a == b and len(a) == 8
    with pytest.raises(ValueError):
        kcore_peel(df, k=3, rounds=3, survivor_join="merge")


def test_hits_score_join_strategies_agree(spark):
    """hits(score_join='shuffle_hash') — the escape hatch once the node
    set outgrows the broadcast threshold — must reproduce the default
    plan's scores (same sums, same final normalization)."""
    from feathr_spark.operators.graph import hits
    edges = spark.createDataFrame(
        [(i % 37, 100 + (i * 11) % 53) for i in range(500)],
        "src long, dst long")
    key = lambda r: (r["id"], round(r["hub"], 9), round(r["authority"], 9))
    a = sorted(key(r) for r in hits(edges, iters=3).collect())
    b = sorted(key(r) for r in
               hits(edges, iters=3, score_join="shuffle_hash").collect())
    assert a == b and len(a) == 90
    with pytest.raises(ValueError):
        hits(edges, iters=3, score_join="merge")


def test_duplicate_components_matches_union_find(spark):
    """The r12 row-local 4-orientation explode must label components
    identically to a python union-find on a random-ish pair set
    (chains, cliques, isolated self-pairs, duplicate pairs both ways)."""
    from feathr_spark.operators.dedup import duplicate_components
    pairs = [(1, 2), (2, 3), (3, 4),              # chain
             (10, 11), (11, 12), (10, 12),        # triangle
             (20, 21), (21, 20),                  # duplicate both ways
             (30, 30)]                            # self-pair
    df = spark.createDataFrame(pairs, "id_a long, id_b long")
    got = {r["doc_id"]: r["component_id"]
           for r in duplicate_components(df).collect()}
    parent = {}

    def find(x):
        parent.setdefault(x, x)
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in pairs:
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    want = {x: find(x) for x in parent}
    assert got == want


def test_spread_by_repartitions_once_and_surfaces_failure(spark):
    """spread_by guards only the partition-count lookup: a failing
    repartition is called once and its own error propagates, instead of
    being retried with the fallback counts."""
    from feathr_spark.operators._partition import spread_by
    df = spark.range(8)
    calls = []

    def failing_repartition(n, col):
        calls.append(n)
        raise RuntimeError("repartition failed")

    df.repartition = failing_repartition   # shadows the bound method
    with pytest.raises(RuntimeError, match="repartition failed"):
        spread_by(df, F.col("id"))
    assert calls == [int(spark.conf.get("spark.sql.shuffle.partitions"))]
    assert spread_by(spark.range(8), F.col("id")).rdd.getNumPartitions() \
        == calls[0]


def test_spread_by_falls_back_only_on_named_errors(spark, monkeypatch):
    """The partition-count lookup falls back to the context's parallelism
    on a non-integer value (ValueError); any other error from the lookup
    propagates instead of being swallowed."""
    from pyspark.sql.conf import RuntimeConfig
    from feathr_spark.operators._partition import spread_by
    real_get = RuntimeConfig.get

    def conf_get(value):
        def get(self, key, *default):
            if key == "spark.sql.shuffle.partitions":
                if isinstance(value, Exception):
                    raise value
                return value
            return real_get(self, key, *default)
        return get

    monkeypatch.setattr(RuntimeConfig, "get", conf_get("auto"))
    assert spread_by(spark.range(8), F.col("id")).rdd.getNumPartitions() \
        == spark.sparkContext.defaultParallelism
    monkeypatch.setattr(RuntimeConfig, "get", conf_get(KeyError("lookup bug")))
    with pytest.raises(KeyError, match="lookup bug"):
        spread_by(spark.range(8), F.col("id"))


def test_release_intermediates_propagates_real_failures(spark):
    """release_intermediates stays quiet only for a stopped session (a
    Py4J error from unpersist); any other failure of a dependency's
    unpersist propagates."""
    from py4j.protocol import Py4JError
    from feathr_spark.operators._cache import (
        attach_intermediates, cached_deps, release_intermediates)

    class Dep:
        def __init__(self, exc):
            self.exc = exc

        def unpersist(self):
            raise self.exc

    stopped = attach_intermediates(spark.range(1), [Dep(Py4JError("stopped"))])
    release_intermediates(stopped)
    assert cached_deps(stopped) == ()
    broken = attach_intermediates(spark.range(1), [Dep(ValueError("bad dep"))])
    with pytest.raises(ValueError, match="bad dep"):
        release_intermediates(broken)
