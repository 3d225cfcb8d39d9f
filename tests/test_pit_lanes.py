"""The lane-ordered point-in-time window: every windowed source without
``group_by`` on one observation key set runs in one shuffle, sort and
Window pass.

Covers the plan shape (one Exchange, one Window for several sources),
the lane bounds (windows past the bound are refused at plan time, event
times outside Spark's timestamp range raise at run time, the first and
last representable milliseconds get correct windows), a hot key (the
plan stays one window pass and planning runs no job), column order when
the lane window, the group_by interval join and observation keys mix,
and ``time_prune``'s single bounds job.
"""

import random
import re

import pytest
from pyspark.sql import Row
from pyspark.sql import functions as F

from feathr_spark import (
    Aggregation, DataFrameSource, Feature, FeatureAnchor, FeatureQuery,
    FeathrProject, ObservationSettings, TimeWindowParameters, TypedKey,
    WindowAggTransform,
)
from feathr_spark.operators import point_in_time as pit

T_MIN, T_MAX = pit.T_MIN, pit.T_MAX  # 0001-01-01, 9999-12-31 23:59:59.999
DAY = 86_400_000


def _frame(spark, rows, schema="k int, ms bigint, v bigint"):
    """(key, epoch ms, value) rows with their timestamp column ``t``."""
    return spark.createDataFrame(rows, schema).withColumn(
        "t", F.timestamp_millis("ms"))


def _project(spark, sources, window="2d", extra=()):
    """One anchor per source frame: SUM and COUNT of ``v`` over
    ``window`` keyed by ``k``, plus ``extra`` (name, transform) pairs on
    the first source."""
    p = FeathrProject("lanes", spark)
    key = [TypedKey(key_column="k")]
    names = []
    for i, df in enumerate(sources):
        feats = [
            Feature(name=f"s{i}_sum", key=key, transform=WindowAggTransform(
                "v", Aggregation.SUM, window)),
            Feature(name=f"s{i}_cnt", key=key, transform=WindowAggTransform(
                "v", Aggregation.COUNT, window)),
        ]
        if i == 0:
            feats += [Feature(name=n, key=key, transform=t) for n, t in extra]
        p.register_anchor(FeatureAnchor(
            name=f"a{i}", features=feats, source=DataFrameSource(
                name=f"src{i}", df=df, time_window_parameters=
                TimeWindowParameters(timestamp_column="t"))))
        names += [f.name for f in feats]
    return p, names


def _obs(df):
    return ObservationSettings(timestamp_column="t").with_event_ts(df)


def _count(plan_text, op):
    return len(set(re.findall(rf"\b{op} \((\d+)\)", plan_text)))


def test_sources_on_one_key_share_one_exchange_and_window(spark):
    srcs = [_frame(spark, [(k, d * DAY, 10 * i + d) for k in (1, 2)
                           for d in range(4)]) for i in range(3)]
    obs = _frame(spark, [(1, 2 * DAY, 0), (2, 3 * DAY, 0)])
    for n in (2, 3):
        p, names = _project(spark, srcs[:n])
        out = p.get_offline_features(_obs(obs), FeatureQuery(names))
        text = spark._jvm.PythonSQLUtils.explainString(
            out._jdf.queryExecution(), "formatted")
        assert (_count(text, "Exchange"), _count(text, "Window")) == (1, 1), text
        # s_i sums v over (t − 2d, t]: days 1..2 for the obs at day 2
        got = {r.k: r for r in out.collect()}
        assert [got[1][f"s{i}_sum"] for i in range(n)] == \
            [(10 * i + 1) + (10 * i + 2) for i in range(n)]
        assert [got[2][f"s{i}_cnt"] for i in range(n)] == [2] * n


def test_hot_key_stays_one_window_pass(spark, count_jobs):
    """One key holds 60% of the source rows and 60% of the observation
    rows: the plan is still one Exchange and one Window with no join,
    planning runs no Spark job, and COUNT, SUM, MAX and LATEST equal the
    brute-force window."""
    from tests.test_property_window import brute_force
    rnd = random.Random(12)
    hours = range(0, 24 * 30)
    # (key, hour, value) with one event per (key, hour): LATEST is unique
    src = [(0, h, rnd.randint(-50, 50)) for h in rnd.sample(hours, 180)]
    src += [(k, h, rnd.randint(-50, 50)) for k in range(1, 11)
            for h in rnd.sample(hours, 12)]
    obs = [(0, rnd.choice(hours)) for _ in range(60)]
    obs += [(rnd.randint(1, 12), rnd.choice(hours)) for _ in range(40)]
    windows = {"cnt": 24, "sum": 72, "mx": 72, "latest": 168}
    aggs = {"cnt": Aggregation.COUNT, "sum": Aggregation.SUM,
            "mx": Aggregation.MAX, "latest": Aggregation.LATEST}
    key = [TypedKey(key_column="k")]
    p = FeathrProject("hot", spark)
    p.register_anchor(FeatureAnchor(name="a", source=DataFrameSource(
        name="src", df=_frame(spark, [(k, h * 3_600_000, v) for k, h, v in src]),
        time_window_parameters=TimeWindowParameters(timestamp_column="t")),
        features=[Feature(name=f"f_{n}", key=key, transform=WindowAggTransform(
            "v", aggs[n], f"{wh}h")) for n, wh in windows.items()]))
    out, jobs = count_jobs(lambda: p.get_offline_features(
        _obs(_frame(spark, [(k, h * 3_600_000, 0) for k, h in obs])),
        FeatureQuery([f"f_{n}" for n in windows])))
    assert jobs == 0
    text = spark._jvm.PythonSQLUtils.explainString(
        out._jdf.queryExecution(), "formatted")
    assert (_count(text, "Exchange"), _count(text, "Window")) == (1, 1), text
    assert not re.search(r"Join \(\d+\)", text), text

    bf = {n: brute_force(src, wh, obs=obs) for n, wh in windows.items()}
    got = out.collect()
    assert len(got) == len(obs)
    for r in got:
        kh = (r.k, r.ms // 3_600_000)
        e = bf["latest"][kh]
        latest = [v for h, v in e["win"] if h == e["latest_ts"]]
        assert (r.f_cnt, r.f_sum, r.f_mx, r.f_latest) == (
            bf["cnt"][kh]["cnt"], bf["sum"][kh]["sum"], bf["mx"][kh]["mx"],
            latest[0] if latest else None), r


@pytest.mark.parametrize("window_ms", [pit.MAX_WINDOW_MS + 1, 1 << 49, 0])
def test_window_past_lane_bound_is_refused(spark, window_ms):
    src = _frame(spark, [(1, 0, 1)])
    p, names = _project(spark, [src], window=window_ms)
    with pytest.raises(ValueError, match="lane bound"):
        p.get_offline_features(_obs(src), FeatureQuery(names))


def test_extreme_timestamps_get_correct_windows(spark):
    """Events from the first to the last representable millisecond, in
    three lanes, with a one-day window and the longest window the lanes
    allow: no row leaks into another lane's frame, none is lost. The
    events are spread over the whole range, so lanes narrower than it
    would put another lane's rows into some frame."""
    step = (T_MAX - T_MIN) // 10
    events = {
        0: [(T_MIN + j * step, j + 1) for j in range(11)]
           + [(T_MAX, 100), (T_MAX - DAY, 200)],
        1: [(T_MIN + j * step + step // 2, 1000 * (j + 1)) for j in range(10)]
           + [(T_MIN, 5000), (T_MIN + 1, 7000), (T_MAX, 9000)],
    }
    events[2] = events[1]
    obs_ms = sorted({ms for ev in events.values() for ms, _ in ev}
                    | {T_MIN + DAY - 1, T_MIN + DAY})
    longest = pit.MAX_WINDOW_MS
    key = [TypedKey(key_column="k")]
    p = FeathrProject("extremes", spark)
    windows = {"1d": DAY, "max": longest}
    for i, ev in events.items():
        p.register_anchor(FeatureAnchor(
            name=f"a{i}", source=DataFrameSource(
                name=f"src{i}", df=_frame(spark, [(1, ms, v) for ms, v in ev]),
                time_window_parameters=TimeWindowParameters(timestamp_column="t")),
            features=[Feature(name=f"s{i}_{agg.value}_{w}", key=key,
                              transform=WindowAggTransform("v", agg, wms))
                      for w, wms in windows.items()
                      for agg in (Aggregation.SUM, Aggregation.UNION)]))
    names = [f.name for a in p.anchors.values() for f in a.features]
    obs = _frame(spark, [(1, ms, 0) for ms in obs_ms])
    out = p.get_offline_features(_obs(obs), FeatureQuery(names))
    got = {r.ms: r for r in out.drop("t").collect()}  # year 1: no Python datetime
    assert sorted(got) == obs_ms
    for t, r in got.items():
        for i, ev in events.items():
            for w, wms in windows.items():
                vals = sorted(v for ms, v in ev if t - wms < ms <= t)
                assert r[f"s{i}_SUM_{w}"] == (sum(vals) if vals else None), (t, i, w)
                assert sorted(r[f"s{i}_UNION_{w}"]) == vals, (t, i, w)
    assert (got[T_MAX].s0_SUM_1d, got[T_MIN].s1_SUM_1d,
            got[T_MIN + DAY - 1].s1_SUM_1d, got[T_MIN + DAY].s1_SUM_1d) == \
        (100 + 11, 5000, 12000, 7000)  # event 11 sits 9 ms before T_MAX


@pytest.mark.parametrize("side", ["source", "observation"])
def test_event_time_outside_timestamp_range_raises(spark, side):
    good = _frame(spark, [(1, 0, 1)])
    bad = _frame(spark, [(1, T_MAX + 1, 1)])  # 10000-01-01
    p, names = _project(spark, [bad if side == "source" else good, good])
    out = p.get_offline_features(
        _obs(good if side == "source" else bad), FeatureQuery(names))
    with pytest.raises(Exception, match="outside 0001-01-01..9999-12-31"):
        out.collect()


def test_mixed_strategies_and_keys_keep_column_order(spark):
    """Lane-window sources on two observation key sets and a group_by
    feature (the interval join): the columns come in group order, and
    the rows equal handwritten ones."""
    ev = spark.createDataFrame(
        [Row(k=k, j=j, ms=d * DAY, v=d + k, g=f"g{d % 2}")
         for k in (1, 2) for j in (1, 2) for d in range(5)]
    ).withColumn("t", F.timestamp_millis("ms"))
    obs = spark.createDataFrame(
        [Row(k=k, j=j, ms=d * DAY) for k in (1, 2, 3) for j in (1, 2)
         for d in (1, 3)]).withColumn("t", F.timestamp_millis("ms"))

    p = FeathrProject("mix", spark)
    kk, jj = [TypedKey(key_column="k")], [TypedKey(key_column="j")]
    tw = TimeWindowParameters(timestamp_column="t")

    def src(name):
        return DataFrameSource(name=name, df=ev, time_window_parameters=tw)

    def w(name, key, agg, window, **kw):
        return Feature(name=name, key=key, transform=WindowAggTransform(
            "v", agg, window, **kw))

    p.register_anchor(FeatureAnchor(name="a", source=src("ea"), features=[
        w("a_top", kk, Aggregation.SUM, "3d", group_by="g", limit=1),
        w("a_sum", kk, Aggregation.SUM, "2d")]))
    p.register_anchor(FeatureAnchor(name="b", source=src("eb"), features=[
        w("b_max_j", jj, Aggregation.MAX, "3d")]))
    p.register_anchor(FeatureAnchor(name="c", source=src("ec"), features=[
        w("c_cnt", kk, Aggregation.COUNT, "4d")]))
    out = p.get_offline_features(
        _obs(obs), FeatureQuery(["a_top", "a_sum", "b_max_j", "c_cnt"]))
    rows = sorted(map(tuple, out.drop("t").collect()), key=repr)

    # ev holds v = d + k on day d twice per k (j = 1, 2), in group g{d % 2}.
    # Per observation (k, day 1 | day 3): a_sum over days d-1..d, a_top the
    # larger group sum over days d-2..d (always g1), b_max_j the max over
    # both k on days d-2..d, c_cnt the rows on days d-3..d.
    def expected_row(k, j, d):
        if k == 3:  # no history on k; j still matches both k
            return (k, j, d * DAY, None, None, d + 2, 0)
        days = [x for x in range(d - 2, d + 1) if x >= 0]
        return (k, j, d * DAY, 2 * sum(x + k for x in (d - 1, d)),
                [("g1", 2 * sum(x + k for x in days if x % 2))],
                d + 2, 2 * len([x for x in range(d - 3, d + 1) if x >= 0]))

    expected = sorted((expected_row(k, j, d) for k in (1, 2, 3)
                       for j in (1, 2) for d in (1, 3)), key=repr)
    assert out.columns == ["k", "j", "ms", "t", "a_sum", "a_top", "b_max_j", "c_cnt"]
    assert rows == expected


def test_time_prune_runs_one_bounds_job(spark, count_jobs):
    """The observation's time bounds are computed once per call, on the
    observation frame: two windowed groups launch the jobs of one bounds
    query (an AQE aggregate may take two jobs), like one group does."""
    srcs = [_frame(spark, [(k, d * DAY, d + i) for k in (1, 2)
                           for d in range(-30, 10)]) for i in range(2)]
    obs = _frame(spark, [(1, 2 * DAY, 0), (2, 5 * DAY, 0), (1, 9 * DAY, 0)])

    def plan(sources, prune):
        p, names = _project(spark, sources)
        return p.get_offline_features(_obs(obs), FeatureQuery(names),
                                      time_prune=prune)

    _, one_group = count_jobs(lambda: plan(srcs[:1], True))
    pruned, two_groups = count_jobs(lambda: plan(srcs, True))
    assert one_group >= 1 and two_groups == one_group
    assert sorted(pruned.collect(), key=repr) == \
        sorted(plan(srcs, False).collect(), key=repr)


def test_time_prune_near_first_timestamp(spark):
    """An observation less than one window after 0001-01-01 puts the
    pruning bound before year 1, which has no datetime literal: the scan
    is then pruned from above only, and the rows equal the unpruned ones."""
    rows = [(1, T_MIN, 1), (1, T_MIN + 3 * DAY, 2), (1, T_MIN + 90 * DAY, 4)]
    src = _frame(spark, rows)
    obs = _frame(spark, [(1, ms, 0) for _, ms, _ in rows])
    p, names = _project(spark, [src], window="30d")

    def run(prune):
        out = p.get_offline_features(_obs(obs), FeatureQuery(names),
                                     time_prune=prune)
        return sorted(out.drop("t").collect())  # year 1: no Python datetime

    assert run(True) == run(False)
    assert [r.s0_sum for r in run(True)] == [1, 3, 4]
