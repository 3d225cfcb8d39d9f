"""Property-based check of point-in-time window semantics.

Hypothesis generates small random event sets; the engine's PIT result is
compared against a brute-force pure-Python evaluation of the
(t − w, t] window definition (reference model.rs:254-293). Catches
boundary-inclusion, duplicate-timestamp, and empty-window regressions that
example-based tests can miss.
"""

import datetime as dt
import math

import pytest
from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st
from pyspark.sql import Row
from pyspark.sql import functions as F

from feathr_spark import (
    Aggregation, DataFrameSource, Feature, FeatureAnchor, FeatureQuery,
    FeathrProject, ObservationSettings, TimeWindowParameters, TypedKey,
    WindowAggTransform,
)

BASE = dt.datetime(2024, 1, 1)

events = st.lists(
    st.tuples(
        st.integers(min_value=1, max_value=3),            # key
        st.integers(min_value=0, max_value=96),           # hour offset
        st.integers(min_value=-50, max_value=50),         # value (int: no fp fuzz)
    ),
    min_size=1, max_size=12,
)


def brute_force(rows, window_hours, obs=None):
    """(key, t) -> dict of expected aggregates over (t-w, t].

    ``obs`` lists the observation (key, hour) pairs (default: the rows'
    own). A row or an observation with a NULL key or hour joins nothing
    (SQL join semantics); ``win`` holds the window's (hour, value) rows."""
    out = {}
    wms = window_hours * 3600
    for k, h in (obs if obs is not None else [(k, h) for k, h, _ in rows]):
        win = [] if k is None or h is None else [
            (h2, v) for (k2, h2, v) in rows
            if k2 == k and h2 is not None and h * 3600 - wms < h2 * 3600 <= h * 3600]
        in_win = [v for _, v in win]
        latest_h = max((h2 for h2, _ in win), default=None)
        out[(k, h)] = {
            "sum": float(sum(in_win)) if in_win else None,
            "cnt": len(in_win),
            "mx": float(max(in_win)) if in_win else None,
            "union": sorted(float(v) for v in in_win),
            # max_by semantics: value at the max timestamp (ties: engine
            # picks one; we keep only when unique at latest ts)
            "latest_ts": latest_h,
            "win": win,
        }
    return out


@pytest.mark.usefixtures("spark")
@given(rows=events, window_hours=st.sampled_from([1, 5, 24, 48]))
@settings(max_examples=12, deadline=None,
          suppress_health_check=[HealthCheck.function_scoped_fixture])
def test_window_semantics_match_brute_force(spark, rows, window_hours):
    df = spark.createDataFrame(
        [Row(k=k, t=BASE + dt.timedelta(hours=h), v=float(v))
         for k, h, v in rows]).dropDuplicates(["k", "t"])
    kept = {(r.k, int((r.t - BASE).total_seconds() // 3600)): r.v
            for r in df.collect()}
    rows = [(k, h, int(v)) for (k, h), v in kept.items()]

    p = FeathrProject("prop", spark)
    key = TypedKey(key_column="k")
    src = DataFrameSource(name="s", df=df, time_window_parameters=
                          TimeWindowParameters(timestamp_column="t"))
    p.register_anchor(FeatureAnchor(name="a", source=src, features=[
        Feature(name="f_sum", transform=WindowAggTransform(
            "v", Aggregation.SUM, f"{window_hours}h"), key=[key]),
        Feature(name="f_cnt", transform=WindowAggTransform(
            "v", Aggregation.COUNT, f"{window_hours}h"), key=[key]),
        Feature(name="f_max", transform=WindowAggTransform(
            "v", Aggregation.MAX, f"{window_hours}h"), key=[key]),
        Feature(name="f_union", transform=WindowAggTransform(
            "v", Aggregation.UNION, f"{window_hours}h"), key=[key]),
    ]))
    obs = ObservationSettings(timestamp_column="t")
    out = p.get_offline_features(
        obs.with_event_ts(df),
        FeatureQuery(["f_sum", "f_cnt", "f_max", "f_union"]))

    expected = brute_force(rows, window_hours)
    for r in out.collect():
        h = int((r.t - BASE).total_seconds() // 3600)
        e = expected[(r.k, h)]
        assert r.f_sum == e["sum"], (r, e)
        assert r.f_cnt == e["cnt"], (r, e)
        assert r.f_max == e["mx"], (r, e)
        assert sorted(r.f_union) == e["union"], (r, e)


# ---------------------------------------------------------------------------
# several sources on one key (the lane-ordered window serves them in one
# pass): every union-window aggregation, a different window per source,
# NULL keys and timestamps, duplicate timestamps, integer values
# ---------------------------------------------------------------------------

_nullable_rows = st.lists(
    st.tuples(
        st.one_of(st.none(), st.integers(min_value=1, max_value=3)),   # key
        st.one_of(st.none(), st.integers(min_value=0, max_value=72)),  # hour
        st.integers(min_value=-20, max_value=20),                      # value
    ),
    max_size=10,
)
multi_source_case = st.tuples(
    st.lists(st.tuples(_nullable_rows, st.sampled_from([1, 5, 24, 48])),
             min_size=2, max_size=3),
    st.lists(st.tuples(st.one_of(st.none(), st.integers(1, 3)),
                       st.one_of(st.none(), st.integers(0, 72))),
             min_size=1, max_size=8),
)

_VEC = "array(v, v * 2)"
_HALF_LIFE_D = 0.5
# (feature suffix, aggregation, def_expr, agg_param) — every aggregation the
# union-window path serves
_LANE_AGGS = [
    ("sum", Aggregation.SUM, "v", None),
    ("avg", Aggregation.AVG, "v", None),
    ("min", Aggregation.MIN, "v", None),
    ("max", Aggregation.MAX, "v", None),
    ("cnt", Aggregation.COUNT, "v", None),
    ("ndist", Aggregation.COUNT_DISTINCT, "v", None),
    ("adist", Aggregation.APPROX_COUNT_DISTINCT, "v", None),
    ("p50", Aggregation.PERCENTILE, "v", 0.5),
    ("first", Aggregation.NOP, "v", None),
    ("latest", Aggregation.LATEST, "v", None),
    ("union", Aggregation.UNION, "v", None),
    ("dsum", Aggregation.DECAY_SUM, "v", _HALF_LIFE_D),
    ("davg", Aggregation.DECAY_AVG, "v", _HALF_LIFE_D),
    ("esum", Aggregation.ELEMENTWISE_SUM, _VEC, None),
    ("eavg", Aggregation.ELEMENTWISE_AVG, _VEC, None),
    ("emin", Aggregation.ELEMENTWISE_MIN, _VEC, None),
    ("emax", Aggregation.ELEMENTWISE_MAX, _VEC, None),
]


def _expected_lane_aggs(win, obs_h):
    """Expected value per _LANE_AGGS suffix over one window's
    (hour, value) rows, except adist (checked against Spark's own HLL
    over the same values); NOP/LATEST map to the set of values at the
    earliest/latest hour (ties: the engine picks one)."""
    vals = [v for _, v in win]
    if not vals:
        return {"cnt": 0, "ndist": 0, "union": []}
    n, s = len(vals), sum(vals)
    srt = sorted(vals)
    pos = (n - 1) * 0.5
    lo, hi = math.floor(pos), math.ceil(pos)
    p50 = float(srt[lo]) if lo == hi or srt[lo] == srt[hi] else \
        (hi - pos) * srt[lo] + (pos - lo) * srt[hi]
    first_h, last_h = min(h for h, _ in win), max(h for h, _ in win)
    half_ms = _HALF_LIFE_D * 86400000.0
    w = [0.5 ** ((obs_h * 3600000.0 - h * 3600000.0) / half_ms) for h, _ in win]
    return {
        "sum": s, "avg": s / n, "min": min(vals), "max": max(vals),
        "cnt": n, "ndist": len(set(vals)), "p50": p50,
        "first": {v for h, v in win if h == first_h},
        "latest": {v for h, v in win if h == last_h},
        "union": srt,
        "dsum": sum(wi * v for wi, (_, v) in zip(w, win)),
        "davg": sum(wi * v for wi, (_, v) in zip(w, win)) / sum(w),
        "esum": [s, 2 * s], "eavg": [s / n, 2 * s / n],
        "emin": [min(vals), 2 * min(vals)], "emax": [max(vals), 2 * max(vals)],
    }


@pytest.mark.usefixtures("spark")
@given(case=multi_source_case)
@settings(max_examples=10, deadline=None,
          suppress_health_check=[HealthCheck.function_scoped_fixture])
def test_multi_source_windows_match_brute_force(spark, case):
    sources, obs_rows = case

    def ts(h):
        return None if h is None else BASE + dt.timedelta(hours=h)

    p = FeathrProject("lanes", spark)
    key = TypedKey(key_column="k")
    names = []
    for i, (rows, wh) in enumerate(sources):
        df = spark.createDataFrame(
            [Row(k=k, t=ts(h), v=v) for k, h, v in rows],
            "k int, t timestamp, v bigint")
        feats = [Feature(name=f"s{i}_{sfx}", key=[key],
                         transform=WindowAggTransform(
                             expr, agg, f"{wh}h", agg_param=param))
                 for sfx, agg, expr, param in _LANE_AGGS]
        # a second window length and a filter in the same lane
        feats.append(Feature(name=f"s{i}_fsum2", key=[key],
                             transform=WindowAggTransform(
                                 "v", Aggregation.SUM, f"{2 * wh}h",
                                 filter="v > 0")))
        p.register_anchor(FeatureAnchor(
            name=f"a{i}", features=feats, source=DataFrameSource(
                name=f"src{i}", df=df, time_window_parameters=
                TimeWindowParameters(timestamp_column="t"))))
        names += [f.name for f in feats]
    # boundary probes per source row at t: an observation at t (the row
    # is in its window) and at t + w (the row sits on the window's open
    # lower end)
    obs_rows = obs_rows + [(k, h2) for rows, wh in sources for k, h, _ in rows
                           for h2 in (h, None if h is None else h + wh)]
    obs = spark.createDataFrame(
        [Row(k=k, t=ts(h)) for k, h in obs_rows], "k int, t timestamp")
    out = p.get_offline_features(
        ObservationSettings(timestamp_column="t").with_event_ts(obs),
        FeatureQuery(names))
    assert out.columns == ["k", "t"] + names
    got = out.collect()
    assert len(got) == len(obs_rows)

    obs_pairs = sorted(set(obs_rows), key=repr)
    expected, adist_rows = {}, []
    for i, (rows, wh) in enumerate(sources):
        bf = brute_force(rows, wh, obs=obs_pairs)
        bf2 = brute_force([r for r in rows if r[2] > 0], 2 * wh, obs=obs_pairs)
        for j, kh in enumerate(obs_pairs):
            e = _expected_lane_aggs(bf[kh]["win"], kh[1])
            e["fsum2"] = bf2[kh]["sum"]
            expected[(i, kh)] = e
            adist_rows += [(i, j, v) for _, v in bf[kh]["win"]]
    adist = {}
    if adist_rows:
        adist = {(r.i, r.j): r.n for r in spark.createDataFrame(
            adist_rows, "i int, j int, v bigint").groupBy("i", "j").agg(
            F.approx_count_distinct("v").alias("n")).collect()}

    for r in got:
        h = None if r.t is None else int((r.t - BASE).total_seconds() // 3600)
        kh = (r.k, h)
        for i in range(len(sources)):
            e = expected[(i, kh)]
            for sfx, agg, _, _ in _LANE_AGGS + [("fsum2", None, None, None)]:
                v = r[f"s{i}_{sfx}"]
                if sfx == "adist":
                    assert v == adist.get((i, obs_pairs.index(kh)), 0), (r, i)
                elif sfx in ("first", "latest"):
                    assert (v is None) if sfx not in e else v in e[sfx], (r, i, sfx)
                elif sfx in ("dsum", "davg"):
                    assert (v is None) if sfx not in e else \
                        math.isclose(v, e[sfx], rel_tol=1e-12, abs_tol=1e-12), \
                        (r, i, sfx, e.get(sfx))
                else:
                    assert v == e.get(sfx), (r, i, sfx, e.get(sfx))


# ---------------------------------------------------------------------------
# group_by sub-clause (the grouped interval-join path) with NULL keys and
# NULL timestamps — the simple path's null semantics are property-tested
# above; this pins the grouped path to the same contract: null-key/null-ts
# source rows contribute to no window, null-key/null-ts observation rows
# get an empty (NULL) grouped aggregate, and non-null rows are unaffected.
# ---------------------------------------------------------------------------

nullable_events = st.lists(
    st.tuples(
        st.one_of(st.none(), st.integers(min_value=1, max_value=2)),  # key
        st.one_of(st.none(), st.integers(min_value=0, max_value=48)), # hour
        st.integers(min_value=1, max_value=20),                       # value
        st.sampled_from(["g1", "g2"]),                                # group
    ),
    min_size=1, max_size=10,
)


def brute_force_grouped(rows, obs_rows, window_hours, limit):
    """(key, t) -> sorted [(group, sum)] top-`limit` by (sum desc, group)."""
    out = {}
    wms = window_hours * 3600
    for k, h in obs_rows:
        if k is None or h is None:
            out[(k, h)] = None
            continue
        t = h * 3600
        per_g = {}
        for (k2, h2, v, g) in rows:
            if k2 is None or h2 is None or k2 != k:
                continue
            if t - wms < h2 * 3600 <= t:
                per_g[g] = per_g.get(g, 0.0) + float(v)
        if not per_g:
            out[(k, h)] = None
            continue
        top = sorted(per_g.items(), key=lambda kv: (-kv[1], kv[0]))[:limit]
        out[(k, h)] = sorted((g, v) for g, v in top)
    return out


@pytest.mark.usefixtures("spark")
@given(rows=nullable_events, window_hours=st.sampled_from([5, 24]))
@settings(max_examples=8, deadline=None,
          suppress_health_check=[HealthCheck.function_scoped_fixture])
def test_grouped_window_null_semantics_match_brute_force(spark, rows,
                                                         window_hours):
    from feathr_spark.operators.point_in_time import (
        PitSource, WindowFeatureSpec, point_in_time_join)

    def ts(h):
        return None if h is None else BASE + dt.timedelta(hours=h)

    src = spark.createDataFrame(
        [Row(k=k, t=ts(h), v=float(v), g=g) for k, h, v, g in rows],
        "k int, t timestamp, v double, g string")
    # observations: every distinct (key, hour) incl. null combos, plus a
    # guaranteed (null, null) probe row
    obs_rows = sorted({(k, h) for k, h, _, _ in rows} | {(None, None)},
                      key=repr)
    obs = spark.createDataFrame(
        [Row(k=k, t=ts(h)) for k, h in obs_rows], "k int, t timestamp")

    spec = WindowFeatureSpec(
        out_name="f_g",
        transform=WindowAggTransform("v", Aggregation.SUM,
                                     f"{window_hours}h", group_by="g",
                                     limit=2))
    out = point_in_time_join(obs, "t", [PitSource(src, ["k"], ["k"], "t", [spec])])
    expected = brute_force_grouped(rows, obs_rows, window_hours, limit=2)
    got = {}
    for r in out.collect():
        h = None if r.t is None else int((r.t - BASE).total_seconds() // 3600)
        val = None if r.f_g is None else sorted(
            (x["group"], x["value"]) for x in r.f_g)
        got[(r.k, h)] = val
    assert got == expected


# ---------------------------------------------------------------------------
# as-of join property: union-window plan vs brute force
# ---------------------------------------------------------------------------

asof_case = st.tuples(
    st.lists(  # left rows: (key, hour-or-None)
        st.tuples(st.integers(1, 3),
                  st.one_of(st.none(), st.integers(0, 48))),
        min_size=1, max_size=8),
    st.lists(  # right rows: (key-or-None, hour-or-None, value)
        st.tuples(st.one_of(st.none(), st.integers(1, 3)),
                  st.one_of(st.none(), st.integers(0, 48)),
                  st.integers(-9, 9)),
        min_size=0, max_size=10),
    st.sampled_from(["backward", "forward"]),
)


def _brute_asof(lrows, rrows, direction):
    """Expected (ts_r, v_r) per left row index: the single matchable right
    row with max ts <= lt (backward) / min ts >= lt (forward); ties on
    identical right timestamps cannot occur (strategy deduplicates)."""
    out = {}
    for i, (lk, lh) in enumerate(lrows):
        cand = [(rh, v) for (rk, rh, v) in rrows
                if rk is not None and rh is not None
                and lk is not None and lh is not None and rk == lk
                and (rh <= lh if direction == "backward" else rh >= lh)]
        if not cand:
            out[i] = (None, None)
        elif direction == "backward":
            out[i] = max(cand)
        else:
            out[i] = min(cand)
    return out


@settings(max_examples=12, deadline=None,
          suppress_health_check=[HealthCheck.too_slow])
@given(asof_case)
def test_property_asof_join_vs_brute_force(spark, case):
    from feathr_spark.operators.asof import asof_join
    lrows, rrows, direction = case
    # dedupe right (key, ts): duplicate-timestamp match choice is
    # documented as unspecified — exclude it from the property
    seen, rdedup = set(), []
    for rk, rh, v in rrows:
        if (rk, rh) in seen:
            continue
        seen.add((rk, rh))
        rdedup.append((rk, rh, v))

    def ts(h):
        return None if h is None else BASE + dt.timedelta(hours=h)

    left = spark.createDataFrame(
        [Row(lid=i, k=k, t=ts(h)) for i, (k, h) in enumerate(lrows)],
        "lid int, k int, t timestamp")
    right = spark.createDataFrame(
        [Row(k=k, t=ts(h), v=float(v)) for k, h, v in rdedup],
        "k int, t timestamp, v double")
    out = asof_join(left, right, ["k"], "t", "t",
                    direction=direction)
    got = {r.lid: ((None if r.t_r is None
                    else int((r.t_r - BASE).total_seconds() // 3600)),
                   r.v_r)
           for r in out.collect()}
    expected = {i: (h, None if v is None else float(v))
                for i, (h, v) in _brute_asof(lrows, rdedup,
                                             direction).items()}
    assert got == expected


# ---------------------------------------------------------------------------
# funnel property: sorted-fold plan vs brute-force greedy matcher
# ---------------------------------------------------------------------------

funnel_case = st.tuples(
    st.lists(  # events: (user, hour, step-type index 0..3)
        st.tuples(st.integers(1, 4), st.integers(0, 24),
                  st.integers(0, 3)),
        min_size=1, max_size=20),
    st.one_of(st.none(), st.integers(1, 12)),   # within hours
)

_TYPES = ["a", "b", "c", "d"]


def _brute_funnel(rows, steps, within_h):
    """Greedy-earliest depth per user over timestamp-sorted events (ties
    broken by step index — matching sort_array on (ts, idx) structs)."""
    depths = {}
    by_user = {}
    for u, h, t in rows:
        by_user.setdefault(u, []).append((h, steps.index(_TYPES[t])
                                          if _TYPES[t] in steps else None,
                                          _TYPES[t]))
    for u, evs in by_user.items():
        evs = sorted((h, i) for h, i, ty in evs if ty in steps)
        n, last, t0 = 0, None, None
        for h, i in evs:
            ok = n < len(steps) and i == n and (n == 0 or h > last)
            if within_h is not None:
                ok = ok and (n == 0 or h - t0 <= within_h)
            if ok:
                last = h
                if n == 0:
                    t0 = h
                n += 1
        depths[u] = n
    return {s: sum(1 for d in depths.values() if d >= i + 1)
            for i, s in enumerate(steps)}


@settings(max_examples=10, deadline=None,
          suppress_health_check=[HealthCheck.too_slow])
@given(funnel_case)
def test_property_funnel_vs_brute_force(spark, case):
    from feathr_spark.operators.funnel import funnel_counts
    rows, within_h = case
    steps = ["a", "b", "c"]
    df = spark.createDataFrame(
        [Row(user_id=u, ts=BASE + dt.timedelta(hours=h),
             event_type=_TYPES[t]) for u, h, t in rows],
        "user_id int, ts timestamp, event_type string")
    within = None if within_h is None else f"{within_h}h"
    out = {r.step_type: r.n_users
           for r in funnel_counts(df, steps, within=within).collect()}
    assert out == _brute_funnel(rows, steps, within_h)


@settings(max_examples=20, deadline=None,
          suppress_health_check=[HealthCheck.function_scoped_fixture])
@given(data=st.data())
def test_range_join_matches_bruteforce_property(spark, data):
    """Property: binned range join == brute-force inequality join for
    random points/intervals/bin widths (incl. empty and degenerate
    intervals)."""
    import datetime as dt
    from feathr_spark.operators.rangejoin import range_join
    base = dt.datetime(2024, 1, 1)
    n_p = data.draw(st.integers(0, 25), label="n_points")
    n_i = data.draw(st.integers(0, 12), label="n_intervals")
    bin_w = data.draw(st.sampled_from([60, 300, 3600]), label="bin_w")
    points = [(i, base + dt.timedelta(
        seconds=data.draw(st.integers(0, 7200), label=f"p{i}")))
        for i in range(n_p)]
    ivs = []
    for j in range(n_i):
        s = data.draw(st.integers(0, 7200), label=f"s{j}")
        ln = data.draw(st.integers(-60, 3600), label=f"l{j}")
        ivs.append((j, base + dt.timedelta(seconds=s),
                    base + dt.timedelta(seconds=s + ln)))
    p_df = spark.createDataFrame(points or [(0, base)],
                                 "pid int, ts timestamp")
    if not points:
        p_df = p_df.where("pid < 0")
    i_df = spark.createDataFrame(ivs or [(0, base, base)],
                                 "iid int, start timestamp, end timestamp")
    if not ivs:
        i_df = i_df.where("iid < 0")
    got = {(r.iid, r.pid) for r in
           range_join(p_df, i_df, "ts", "start", "end",
                      bin_width_s=bin_w).collect()}
    brute = {(j, i) for i, t in points for j, s, e in ivs
             if s <= t < e}
    assert got == brute


@settings(max_examples=15, deadline=None,
          suppress_health_check=[HealthCheck.function_scoped_fixture])
@given(data=st.data())
def test_dedup_spans_matches_bruteforce_property(spark, data):
    """Property: span dedup == a python brute-force keep-first pass for
    random small corpora over a tiny vocabulary (maximizing collisions)."""
    from feathr_spark.operators.text import dedup_spans
    vocab = ["aa", "bb", "cc"]
    k = data.draw(st.integers(1, 3), label="span_words")
    docs = []
    n_docs = data.draw(st.integers(0, 6), label="n_docs")
    for i in range(n_docs):
        n_words = data.draw(st.integers(0, 9), label=f"n{i}")
        words = [data.draw(st.sampled_from(vocab), label=f"w{i}_{j}")
                 for j in range(n_words)]
        docs.append((i, " ".join(words)))
    df = spark.createDataFrame(docs or [(0, "x")],
                               "doc_id bigint, text string")
    if not docs:
        df = df.where("doc_id < 0")
    got = {r.doc_id: (r.text_clean, r.n_spans_kept, r.n_spans_dropped)
           for r in dedup_spans(df, span_words=k).collect()}

    seen, expect = set(), {}
    for i, text in docs:
        words = text.split() if text.strip() else []
        spans = [" ".join(words[s:s + k]) for s in range(0, len(words), k)]
        spans = [s for s in spans if s]
        kept = []
        dropped = 0
        for sp in spans:
            if sp in seen:
                dropped += 1
            else:
                seen.add(sp)
                kept.append(sp)
        if spans:
            expect[i] = (" ".join(kept), len(kept), dropped)
    assert got == expect


@settings(max_examples=10, deadline=None,
          suppress_health_check=[HealthCheck.function_scoped_fixture])
@given(data=st.data())
def test_heavy_hitters_error_bound_property(spark, data):
    """Property: for random word distributions and tiny capacities, every
    reported term satisfies est <= true <= est + max_err, and any term
    with true count > max_err appears in a top-k covering the summary."""
    from feathr_spark.operators.sketch import heavy_hitters
    n_terms = data.draw(st.integers(1, 30), label="n_terms")
    counts = {f"t{i:02d}": data.draw(st.integers(1, 60), label=f"c{i}")
              for i in range(n_terms)}
    words = [t for t, c in counts.items() for _ in range(c)]
    # deterministic interleave across a few docs
    docs = [(j, " ".join(words[j::3])) for j in range(3)]
    df = spark.createDataFrame(docs, "doc_id bigint, text string")
    cap = data.draw(st.sampled_from([4, 8, 16, 64]), label="cap")
    k = min(cap, n_terms)
    out = heavy_hitters(df, "text", k=k, capacity=cap).collect()
    for r in out:
        assert r.est_count <= counts[r.term] <= r.est_count + r.max_err, r


@pytest.mark.usefixtures("spark")
@given(data=st.data())
@settings(max_examples=10, deadline=None,
          suppress_health_check=[HealthCheck.function_scoped_fixture])
def test_property_skyline_matches_brute_force(spark, data):
    """skyline_2d over random integer clouds (heavy ties on both axes,
    every bucket layout) equals the O(n^2) dominance definition."""
    from feathr_spark.operators.olap import skyline_2d
    n = data.draw(st.integers(min_value=1, max_value=60), label="n")
    span = data.draw(st.sampled_from([1, 3, 10, 1000]), label="span")
    rows = [(i,
             float(data.draw(st.integers(0, span), label=f"x{i}")),
             data.draw(st.integers(0, span), label=f"y{i}"))
            for i in range(n)]
    min_x = data.draw(st.booleans(), label="min_x")
    max_y = data.draw(st.booleans(), label="max_y")
    df = spark.createDataFrame(rows, "id int, x double, y int")
    got = sorted(r.id for r in skyline_2d(
        df, "x", "y", minimize_x=min_x, maximize_y=max_y,
        n_buckets=data.draw(st.sampled_from([1, 2, 7, 1024]))).collect())

    def better_x(q, p):
        return q[1] < p[1] if min_x else q[1] > p[1]

    def better_y(q, p):
        return q[2] > p[2] if max_y else q[2] < p[2]

    def dominated(p):
        return any((better_x(q, p) or q[1] == p[1])
                   and (better_y(q, p) or q[2] == p[2])
                   and (better_x(q, p) or better_y(q, p)) for q in rows)

    want = sorted(p[0] for p in rows if not dominated(p))
    assert got == want


@pytest.mark.usefixtures("spark")
@given(data=st.data())
@settings(max_examples=8, deadline=None,
          suppress_health_check=[HealthCheck.function_scoped_fixture])
def test_property_cms_never_underestimates(spark, data):
    """Count-Min over random corpora: every queried term's estimate is
    >= its true count (structural one-sided error), exact when the
    sketch is collision-free for that term."""
    from collections import Counter
    from pyspark.sql import Row
    from feathr_spark.operators.sketch import cms_lookup, count_min_sketch
    vocab = [f"t{i}" for i in range(data.draw(
        st.integers(2, 40), label="vocab"))]
    docs, truth = [], Counter()
    for d in range(data.draw(st.integers(1, 6), label="docs")):
        words = data.draw(st.lists(st.sampled_from(vocab), min_size=1,
                                   max_size=80), label=f"d{d}")
        truth.update(words)
        docs.append(Row(text=" ".join(words)))
    width = data.draw(st.sampled_from([8, 64, 512]), label="width")
    depth = data.draw(st.sampled_from([1, 3]), label="depth")
    df = spark.createDataFrame(docs)
    sk = count_min_sketch(df, depth=depth, width=width)
    q = spark.createDataFrame([(t,) for t in vocab], "term string")
    est = {r.term: r.est_count
           for r in cms_lookup(sk, q, depth=depth, width=width).collect()}
    n = sum(truth.values())
    for t in vocab:
        assert est[t] >= truth[t], (t, est[t], truth[t])
        assert est[t] <= n  # a counter can never exceed the stream size


@settings(max_examples=12, deadline=None,
          suppress_health_check=[HealthCheck.function_scoped_fixture])
@given(data=st.data())
def test_selection_percentile_property_matches_builtin(spark, data):
    """Property: distributed-selection percentile == F.percentile bitwise
    for arbitrary multisets (heavy ties, huge spread, tiny n) and
    arbitrary fractions."""
    from pyspark.sql import functions as F
    from feathr_spark.operators.stats import selection_percentile
    n = data.draw(st.integers(1, 60), label="n")
    base = data.draw(st.lists(
        st.floats(min_value=-1e6, max_value=1e6,
                  allow_nan=False, allow_infinity=False),
        min_size=1, max_size=8, unique=True), label="levels")
    vals = [base[data.draw(st.integers(0, len(base) - 1), label=f"v{i}")]
            for i in range(n)]
    frac = data.draw(st.floats(min_value=0.0, max_value=1.0,
                               allow_nan=False), label="frac")
    buckets = data.draw(st.sampled_from([2, 7, 64]), label="buckets")
    df = spark.createDataFrame([(v,) for v in vals], "v double")
    a = selection_percentile(df, "v", frac, buckets=buckets) \
        .collect()[0][0]
    b = df.agg(F.percentile(F.col("v"), F.lit(float(frac)))) \
        .collect()[0][0]
    assert a == b, (vals, frac, buckets, a, b)
