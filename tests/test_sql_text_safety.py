"""The planner writes its expressions as SQL text; these tests check that
no name or literal can break that text.

Key, column, timestamp and feature names hold a backtick, a dot, a space
and the reserved word ``order``; the filter, the ``group_by`` expression
and a derived feature hold string literals with ``'`` and ``)``. Every
``Aggregation`` variant (PERCENTILE at 0.1, DECAY at a 0.3-day
half-life) runs in the three contexts of the SQL aggregation mapping —
the point-in-time window (``get_offline_features``), ``groupBy``
(``compute_backfill``) and a streaming window (``stream_window_agg``) —
and ``group_by`` with and without ``limit`` runs in the interval join.
Every value is compared with ``test_property_window.brute_force`` or a
handwritten evaluation.
"""

import datetime as dt
import math

import pytest
from pyspark.sql import Row

from feathr_spark import (
    Aggregation, BackfillTime, DataFrameSource, DerivedFeature, Feature,
    FeatureAnchor, FeatureQuery, FeathrProject, ObservationSettings,
    TimeWindowParameters, TypedKey, WindowAggTransform,
)
from feathr_spark.functions import quote_ident
from tests.test_property_window import brute_force

A = Aggregation
BASE = dt.datetime(2024, 1, 1)
WINDOW_H = 5

K1, K2 = "order", "k`.e f"            # composite entity key
TS = "event ts.`x`"                   # source event time
VAL = "amt.`x` order"                 # source value
OBS_TS = "obs ts"
DROPPED_TAG = "it's )"
FILTER = "tag <> 'it''s )'"
V = quote_ident(VAL)
PARAMS = {A.PERCENTILE: 0.1, A.DECAY_SUM: 0.3, A.DECAY_AVG: 0.3}
ELEMENTWISE = (A.ELEMENTWISE_AVG, A.ELEMENTWISE_MIN, A.ELEMENTWISE_MAX,
               A.ELEMENTWISE_SUM)
DERIVED = "count.`d` order"
GROUPED = {"grouped.`top` order": 1, "grouped.`all` order": None}
GROUP_EXPR = f"CASE WHEN {V} > 3 THEN 'big )''s' ELSE 'small' END"

# (key, hour, value, tag): distinct hours per key, so NOP and LATEST
# have one answer; every third row is dropped by FILTER
ROWS = [((1 + i % 2, "a" if i % 3 else "b"), 2 * i + i % 2, float(i % 7),
         DROPPED_TAG if i % 3 == 0 else "ok")
        for i in range(14)]
KEPT = [(k, h, v) for k, h, v, tag in ROWS if tag != DROPPED_TAG]


def fname(agg):
    return f"{agg.value.lower()}.`f` order"


def _def(agg):
    return f"array({V}, {V} * 2)" if agg in ELEMENTWISE else V


def expected(agg, win, obs_h):
    """``agg`` over the window's (hour, value) rows, at hour ``obs_h``."""
    vals = [v for _, v in win]
    if agg == A.COUNT:
        return len(vals)
    if agg in (A.COUNT_DISTINCT, A.APPROX_COUNT_DISTINCT):
        return len(set(vals))
    if agg == A.UNION:
        return sorted(vals)
    if not vals:
        return None
    if agg in ELEMENTWISE:
        cols = [vals, [2 * v for v in vals]]
        red = {A.ELEMENTWISE_AVG: lambda c: sum(c) / len(c),
               A.ELEMENTWISE_MIN: min, A.ELEMENTWISE_MAX: max,
               A.ELEMENTWISE_SUM: sum}[agg]
        return [red(c) for c in cols]
    if agg in (A.DECAY_SUM, A.DECAY_AVG):
        w = [0.5 ** ((obs_h - h) / (PARAMS[agg] * 24)) for h, _ in win]
        s = sum(wi * v for wi, v in zip(w, vals))
        return s if agg == A.DECAY_SUM else s / sum(w)
    if agg == A.PERCENTILE:
        xs, r = sorted(vals), (len(vals) - 1) * PARAMS[agg]
        lo = math.floor(r)
        hi = min(lo + 1, len(xs) - 1)
        return xs[lo] + (r - lo) * (xs[hi] - xs[lo])
    by_hour = sorted(win)
    return {A.SUM: sum(vals), A.AVG: sum(vals) / len(vals), A.MIN: min(vals),
            A.MAX: max(vals), A.NOP: by_hour[0][1],
            A.LATEST: by_hour[-1][1]}[agg]


def same(got, want):
    if isinstance(want, float):
        return got is not None and math.isclose(got, want, rel_tol=1e-9,
                                                abs_tol=1e-12)
    if isinstance(want, list) and want and isinstance(want[0], float):
        return got is not None and len(got) == len(want) and all(
            math.isclose(g, w, rel_tol=1e-9) for g, w in zip(got, want))
    return got == want


def _source_frame(spark):
    return spark.createDataFrame(
        [Row(**{K1: k[0], K2: k[1], TS: BASE + dt.timedelta(hours=h),
                VAL: v, "tag": tag}) for k, h, v, tag in ROWS])


def _project(spark):
    key = [TypedKey(key_column=K1),
           TypedKey(key_column=quote_ident(K2), key_column_alias=K2)]
    feats = [Feature(name=fname(a), key=key, transform=WindowAggTransform(
        _def(a), a, f"{WINDOW_H}h", filter=FILTER, agg_param=PARAMS.get(a)))
        for a in A]
    feats += [Feature(name=n, key=key, transform=WindowAggTransform(
        V, A.SUM, f"{WINDOW_H}h", filter=FILTER, group_by=GROUP_EXPR,
        limit=lim)) for n, lim in GROUPED.items()]
    p = FeathrProject("sql_text", spark)
    anchor = p.register_anchor(FeatureAnchor(
        name="a", features=feats, source=DataFrameSource(
            name="src", df=_source_frame(spark),
            time_window_parameters=TimeWindowParameters(timestamp_column=TS))))
    p.register_derived(DerivedFeature(
        name=DERIVED,
        transform=f"concat(CAST({quote_ident(fname(A.COUNT))} AS STRING), ' )''s')",
        input_features=[anchor[fname(A.COUNT)]]))
    return p


def _grouped(k, win, limit):
    """``group_by`` rows of key ``k`` over every window row (FILTER nulls
    the value, not the row): SUM per group, top ``limit`` by value (NULL
    last) then group, sorted by group."""
    per_g = {}
    for h, v in win:
        g = "big )'s" if v > 3 else "small"
        keep = (k, h, v) in KEPT
        per_g[g] = (per_g.get(g) or 0.0) + v if keep else per_g.get(g)
    if not per_g:
        return None
    top = sorted(per_g.items(),
                 key=lambda gv: (gv[1] is None, -(gv[1] or 0.0), gv[0]))
    return sorted(top[:limit])


def test_window_context(spark):
    """Point-in-time window: the lane window for every variant and the
    interval join for ``group_by``."""
    p = _project(spark)
    obs_keys = [(1, "a"), (2, "b"), (1, "b"), (3, "a")]
    obs_hours = [0, 3, 9, 16, 30]
    obs = spark.createDataFrame(
        [Row(**{K1: k[0], K2: k[1], OBS_TS: BASE + dt.timedelta(hours=h),
                "id": i})
         for i, (k, h) in enumerate((k, h) for k in obs_keys for h in obs_hours)])
    names = [fname(a) for a in A] + list(GROUPED) + [DERIVED]
    out = p.get_offline_features(
        ObservationSettings(timestamp_column=OBS_TS).with_event_ts(obs),
        FeatureQuery(names)).collect()
    assert len(out) == len(obs_keys) * len(obs_hours)
    cells = [(k, h) for k in obs_keys for h in obs_hours]
    want = brute_force(KEPT, WINDOW_H, cells)
    every = brute_force([(k, h, v) for k, h, v, _ in ROWS], WINDOW_H, cells)
    for r in out:
        d = r.asDict()
        h = int((d[OBS_TS] - BASE).total_seconds() // 3600)
        win = want[((d[K1], d[K2]), h)]["win"]
        for a in A:
            assert same(d[fname(a)], expected(a, win, h)), (a, d[K1], d[K2], h)
        for n, lim in GROUPED.items():
            got = d[n] and [(x.group, x.value) for x in d[n]]
            assert got == _grouped((d[K1], d[K2]), every[((d[K1], d[K2]), h)]["win"],
                                   lim), (n, d[K1], d[K2], h)
        assert d[DERIVED] == f"{len(win)} )'s"


def test_group_by_context(spark):
    """Snapshot ``groupBy``: one row per key and cutoff, for every key
    with a source row at or before the cutoff."""
    p = _project(spark)
    bt = BackfillTime(start=BASE + dt.timedelta(hours=8),
                      end=BASE + dt.timedelta(hours=16), step="HOURLY")
    out = p.compute_backfill(spark, [fname(a) for a in A] + [DERIVED], bt).collect()
    cut_hours = [int((c - BASE).total_seconds() // 3600) for c in bt.cutoffs()]
    cells = [(k, c) for c in cut_hours for k in sorted({k for k, *_ in ROWS})
             if any(k2 == k and h <= c for k2, h, *_ in ROWS)]
    assert sorted(((r[K1], r[K2]), r.feathr_cutoff) for r in out) == sorted(
        (k, (BASE + dt.timedelta(hours=c)).strftime("%Y-%m-%d %H:%M:%S"))
        for k, c in cells)
    want = brute_force(KEPT, WINDOW_H, cells)
    for r in out:
        d = r.asDict()
        c = int((dt.datetime.strptime(d["feathr_cutoff"], "%Y-%m-%d %H:%M:%S")
                 - BASE).total_seconds() // 3600)
        win = want[((d[K1], d[K2]), c)]["win"]
        for a in A:
            assert same(d[fname(a)], expected(a, win, c)), (a, d[K1], d[K2], c)
        assert d[DERIVED] == f"{len(win)} )'s"


def test_streaming_context(spark, tmp_path):
    """``stream_window_agg`` over a file stream: tumbling windows of
    WINDOW_H hours. DECAY needs an observation time, which a streaming
    window has not, and is refused."""
    from feathr_spark.streaming.job import run_streaming_query, stream_window_agg
    src_dir = str(tmp_path / "stream_in")
    df = _source_frame(spark)
    df.write.parquet(src_dir)
    stream = spark.readStream.schema(df.schema).parquet(src_dir)
    key = [TypedKey(key_column=K1)]
    aggs = [a for a in A if a not in (A.DECAY_SUM, A.DECAY_AVG)]
    feats = [Feature(name=fname(a), key=key, transform=WindowAggTransform(
        _def(a), a, f"{WINDOW_H}h", filter=FILTER, agg_param=PARAMS.get(a)))
        for a in aggs]
    keys, ts = [K1, quote_ident(K2)], quote_ident(TS)
    for a in (A.DECAY_SUM, A.DECAY_AVG):
        with pytest.raises(ValueError):
            stream_window_agg(stream, keys, ts, [Feature(
                name=fname(a), key=key, transform=WindowAggTransform(
                    V, a, f"{WINDOW_H}h", agg_param=PARAMS[a]))])
    out = stream_window_agg(stream, keys, ts, feats, watermark="1 hour")
    run_streaming_query(out, format="memory", query_name="t_sql_text",
                        output_mode="complete", timeout_ms=0)
    got = spark.sql("SELECT * FROM t_sql_text").collect()

    epoch_h = int(BASE.replace(tzinfo=dt.timezone.utc).timestamp() // 3600)
    windows = {}
    for k, h, v, tag in ROWS:
        start = (epoch_h + h) // WINDOW_H * WINDOW_H - epoch_h
        rows = windows.setdefault((k, start), [])
        if tag != DROPPED_TAG:
            rows.append((h, v))
    assert len(got) == len(windows)
    for r in got:
        d = r.asDict()
        start = int((d["window_start"] - BASE).total_seconds() // 3600)
        assert d["window_end"] - d["window_start"] == dt.timedelta(hours=WINDOW_H)
        win = windows[((d[K1], d[K2]), start)]
        for a in aggs:
            assert same(d[fname(a)], expected(a, win, None)), (a, d[K1], d[K2], start)
