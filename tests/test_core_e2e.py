"""End-to-end slice: passthrough exprs, keyed join, PIT window agg, derived.

Value-level assertions against hand-computed expectations on tiny frames
plus the driver's sf0.001 tables (the reference only asserts job success —
SURVEY §5 — we assert values).
"""

import datetime as dt

import pytest
from pyspark.sql import Row
from pyspark.sql import functions as F

from feathr_spark import (
    Aggregation,
    DataFrameSource,
    DerivedFeature,
    Feature,
    FeatureAnchor,
    FeatureQuery,
    FeathrProject,
    INPUT_CONTEXT,
    ObservationSettings,
    TimeWindowParameters,
    TypedKey,
    WindowAggTransform,
)


def ts(s):
    return dt.datetime.fromisoformat(s)


@pytest.fixture()
def tiny(spark):
    """Observation = source (self-join style, like the reference taxi test)."""
    rows = [
        # key 1: values at day 1, 2, 3, 10
        Row(k=1, t=ts("2024-01-01 00:00:00"), v=10.0),
        Row(k=1, t=ts("2024-01-02 00:00:00"), v=20.0),
        Row(k=1, t=ts("2024-01-03 00:00:00"), v=30.0),
        Row(k=1, t=ts("2024-01-10 00:00:00"), v=40.0),
        # key 2: single row
        Row(k=2, t=ts("2024-01-05 00:00:00"), v=5.0),
    ]
    return spark.createDataFrame(rows)


def test_sql_shims_registered_in_session_reusing_dead_id(spark):
    """CPython hands a collected session's id() to a later object. A new
    session that gets a dead session's id must still be registered, so
    ``cast_float`` resolves in its ad-hoc SQL."""
    import gc
    from feathr_spark.functions import register_feathr_functions
    dead = set()
    for _ in range(2000):
        s = spark.newSession()
        reused = id(s) in dead
        register_feathr_functions(s)
        if reused:
            break
        dead.add(id(s))
        del s
        gc.collect()
    else:
        pytest.fail("no new session reused a dead session's id")
    assert s.sql("SELECT cast_float('1.5') AS v").first().v == 1.5


def test_nested_cast_rewrite(spark):
    from feathr_spark.functions import feathr_expr, rewrite_feathr_expr
    assert rewrite_feathr_expr("cast_float(coalesce(a, b))") == \
        "CAST((coalesce(a, b)) AS FLOAT)"
    assert rewrite_feathr_expr("cast_int(cast_float(x))") == \
        "CAST((CAST((x) AS FLOAT)) AS INT)"
    # parens inside string literals don't confuse the balanced scan
    assert rewrite_feathr_expr("cast_string(concat(a, '('))") == \
        "CAST((concat(a, '(')) AS STRING)"
    df = spark.createDataFrame([Row(a="1.5", b="2.5")])
    out = df.select(feathr_expr("cast_float(coalesce(a, b)) * 2").alias("x")).first()
    assert out.x == 3.0
    with pytest.raises(ValueError):
        rewrite_feathr_expr("cast_float(unclosed")
    # a shim name INSIDE a string literal is not a call — left untouched
    assert rewrite_feathr_expr("concat('see cast_float(x)', y)") == \
        "concat('see cast_float(x)', y)"
    assert rewrite_feathr_expr("concat('cast_float(a)', cast_float(b))") == \
        "concat('cast_float(a)', CAST((b) AS FLOAT))"
    # backslash-escaped and doubled quotes inside literals don't derail
    # the scan (both are legal Spark SQL escape styles)
    assert rewrite_feathr_expr(r"cast_string(concat(a, 'it\'s (ok)'))") == \
        r"CAST((concat(a, 'it\'s (ok)')) AS STRING)"
    assert rewrite_feathr_expr("cast_string(concat(a, 'it''s (ok)'))") == \
        "CAST((concat(a, 'it''s (ok)')) AS STRING)"
    # double-quoted literals too (Spark non-ANSI mode)
    assert rewrite_feathr_expr('concat("cast_int(z)", cast_int(w))') == \
        'concat("cast_int(z)", CAST((w) AS INT))'


def test_passthrough_and_derived(spark, tiny):
    p = FeathrProject("t", spark)
    anchor = FeatureAnchor(
        name="pt",
        source=INPUT_CONTEXT,
        features=[
            Feature(name="f_double_v", transform="v * 2"),
            Feature(name="f_is_big", transform="cast_float(v) > 15"),
        ],
    )
    p.register_anchor(anchor)
    p.register_derived(DerivedFeature(
        name="f_quad", transform="f_double_v * 2",
        input_features=[anchor.features[0]]))

    out = p.get_offline_features(tiny, FeatureQuery(["f_double_v", "f_is_big", "f_quad"]))
    got = {r.k: r for r in out.where("t = timestamp'2024-01-02 00:00:00'").collect()}
    assert got[1].f_double_v == 40.0
    assert got[1].f_is_big is True
    assert got[1].f_quad == 80.0


def test_window_agg_2day(spark, tiny):
    """(t − 2d, t] window: exclusive lower bound, inclusive upper."""
    p = FeathrProject("t", spark)
    key = TypedKey(key_column="k")
    src = DataFrameSource(
        name="src", df=tiny,
        time_window_parameters=TimeWindowParameters(timestamp_column="t"))
    anchor = FeatureAnchor(
        name="agg",
        source=src,
        features=[
            Feature(name="f_sum_2d",
                    transform=WindowAggTransform("v", Aggregation.SUM, "2d"), key=[key]),
            Feature(name="f_avg_2d",
                    transform=WindowAggTransform("v", Aggregation.AVG, "2d"), key=[key]),
            Feature(name="f_cnt_2d",
                    transform=WindowAggTransform("v", Aggregation.COUNT, "2d"), key=[key]),
            Feature(name="f_latest_2d",
                    transform=WindowAggTransform("v", Aggregation.LATEST, "2d"), key=[key]),
            Feature(name="f_union_2d",
                    transform=WindowAggTransform("v", Aggregation.UNION, "2d"), key=[key]),
        ],
    )
    p.register_anchor(anchor)

    obs = ObservationSettings(timestamp_column="t")
    out = p.get_offline_features(obs.with_event_ts(tiny),
                                 FeatureQuery(["f_sum_2d", "f_avg_2d", "f_cnt_2d",
                                               "f_latest_2d", "f_union_2d"]))
    rows = {(r.k, r.t): r for r in out.collect()}

    # key1 @ jan03: window (jan01, jan03] -> {20, 30}; jan01 EXCLUDED (lower bound)
    r = rows[(1, ts("2024-01-03 00:00:00"))]
    assert r.f_sum_2d == 50.0
    assert r.f_avg_2d == 25.0
    assert r.f_cnt_2d == 2
    assert r.f_latest_2d == 30.0
    assert r.f_union_2d == [20.0, 30.0]

    # key1 @ jan10: only itself in window
    r = rows[(1, ts("2024-01-10 00:00:00"))]
    assert r.f_sum_2d == 40.0 and r.f_cnt_2d == 1

    # key2 single row: itself
    r = rows[(2, ts("2024-01-05 00:00:00"))]
    assert r.f_sum_2d == 5.0


def test_window_agg_filter_and_nop(spark, tiny):
    p = FeathrProject("t", spark)
    key = TypedKey(key_column="k")
    src = DataFrameSource(
        name="src", df=tiny,
        time_window_parameters=TimeWindowParameters(timestamp_column="t"))
    p.register_anchor(FeatureAnchor(
        name="agg", source=src,
        features=[
            Feature(name="f_max_small",
                    transform=WindowAggTransform("v", Aggregation.MAX, "30d",
                                                 filter="v < 25"), key=[key]),
            Feature(name="f_nop",
                    transform=WindowAggTransform("v", Aggregation.NOP, "30d"), key=[key]),
        ]))
    obs = ObservationSettings(timestamp_column="t")
    out = p.get_offline_features(obs.with_event_ts(tiny),
                                 FeatureQuery(["f_max_small", "f_nop"]))
    rows = {(r.k, r.t): r for r in out.collect()}
    r = rows[(1, ts("2024-01-10 00:00:00"))]
    assert r.f_max_small == 20.0  # filter keeps 10, 20
    assert r.f_nop == 10.0        # earliest in window


def test_keyed_join_dimension(spark, tiny):
    dims = spark.createDataFrame([Row(kk=1, seg="GOLD"), Row(kk=2, seg="SILVER")])
    p = FeathrProject("t", spark)
    key = TypedKey(key_column="kk", key_column_alias="k")
    p.register_anchor(FeatureAnchor(
        name="dim", source=DataFrameSource(name="dims", df=dims),
        features=[Feature(name="f_seg", transform="seg", key=[key])]))
    out = p.get_offline_features(tiny, FeatureQuery(["f_seg"]))
    got = {r.k: r.f_seg for r in out.select("k", "f_seg").distinct().collect()}
    assert got == {1: "GOLD", 2: "SILVER"}


def test_group_by_limit(spark):
    rows = [
        Row(k=1, t=ts("2024-01-05 00:00:00"), v=1.0, g="a"),
        Row(k=1, t=ts("2024-01-05 01:00:00"), v=2.0, g="a"),
        Row(k=1, t=ts("2024-01-05 02:00:00"), v=9.0, g="b"),
        Row(k=1, t=ts("2024-01-05 03:00:00"), v=4.0, g="c"),
        Row(k=1, t=ts("2024-01-06 00:00:00"), v=0.0, g="obs"),
    ]
    df = spark.createDataFrame(rows)
    p = FeathrProject("t", spark)
    key = TypedKey(key_column="k")
    src = DataFrameSource(name="src", df=df,
                          time_window_parameters=TimeWindowParameters("t"))
    p.register_anchor(FeatureAnchor(
        name="agg", source=src,
        features=[Feature(
            name="f_top2",
            transform=WindowAggTransform("v", Aggregation.SUM, "7d",
                                         group_by="g", limit=2),
            key=[key])]))
    obs = ObservationSettings(timestamp_column="t")
    out = p.get_offline_features(obs.with_event_ts(df), FeatureQuery(["f_top2"]))
    r = [x for x in out.collect() if x.g == "obs"][0]
    # sums: a=3, b=9, c=4, obs=0 -> top2 by value desc = b(9), c(4); sorted by group
    assert [(e.group, e.value) for e in r.f_top2] == [("b", 9.0), ("c", 4.0)]


def test_elementwise(spark):
    rows = [
        Row(k=1, t=ts("2024-01-01 00:00:00"), a=[1.0, 2.0]),
        Row(k=1, t=ts("2024-01-02 00:00:00"), a=[3.0, 4.0]),
        Row(k=1, t=ts("2024-01-03 00:00:00"), a=[5.0, 6.0]),
    ]
    df = spark.createDataFrame(rows)
    p = FeathrProject("t", spark)
    key = TypedKey(key_column="k")
    src = DataFrameSource(name="src", df=df,
                          time_window_parameters=TimeWindowParameters("t"))
    p.register_anchor(FeatureAnchor(
        name="agg", source=src,
        features=[
            Feature(name="f_esum",
                    transform=WindowAggTransform("a", Aggregation.ELEMENTWISE_SUM, "2d"),
                    key=[key]),
            Feature(name="f_eavg",
                    transform=WindowAggTransform("a", Aggregation.ELEMENTWISE_AVG, "2d"),
                    key=[key]),
        ]))
    obs = ObservationSettings(timestamp_column="t")
    out = p.get_offline_features(obs.with_event_ts(df),
                                 FeatureQuery(["f_esum", "f_eavg"]))
    r = {x.t: x for x in out.collect()}[ts("2024-01-03 00:00:00")]
    assert r.f_esum == [8.0, 10.0]
    assert r.f_eavg == [4.0, 5.0]


def test_window_aggs_match_handwritten_rows(spark, tiny):
    """Every aggregation kind of the lane-ordered window against
    handwritten rows, including an observation row with an empty
    window."""
    obs_extra = tiny.union(spark.createDataFrame(
        # key 3 exists only in the observation: empty window everywhere
        [Row(k=3, t=ts("2024-01-04 00:00:00"), v=1.0)]))

    p = FeathrProject("t", spark)
    key = TypedKey(key_column="k")
    src = DataFrameSource(
        name="src", df=tiny,
        time_window_parameters=TimeWindowParameters(timestamp_column="t"))
    p.register_anchor(FeatureAnchor(name="agg", source=src, features=[
        Feature(name="f_sum", transform=WindowAggTransform("v", Aggregation.SUM, "2d"), key=[key]),
        Feature(name="f_avg", transform=WindowAggTransform("v", Aggregation.AVG, "2d"), key=[key]),
        Feature(name="f_cnt", transform=WindowAggTransform("v", Aggregation.COUNT, "2d"), key=[key]),
        Feature(name="f_min", transform=WindowAggTransform("v", Aggregation.MIN, "5d"), key=[key]),
        Feature(name="f_latest", transform=WindowAggTransform("v", Aggregation.LATEST, "2d"), key=[key]),
        Feature(name="f_first", transform=WindowAggTransform("v", Aggregation.NOP, "5d"), key=[key]),
        Feature(name="f_union", transform=WindowAggTransform("v", Aggregation.UNION, "5d"), key=[key]),
        Feature(name="f_filt", transform=WindowAggTransform(
            "v", Aggregation.SUM, "5d", filter="v > 15"), key=[key]),
        Feature(name="f_ndist", transform=WindowAggTransform(
            "v", Aggregation.COUNT_DISTINCT, "5d"), key=[key]),
        Feature(name="f_adist", transform=WindowAggTransform(
            "v", Aggregation.APPROX_COUNT_DISTINCT, "5d"), key=[key]),
    ]))
    obs = ObservationSettings(timestamp_column="t")
    out = p.get_offline_features(
        obs.with_event_ts(obs_extra),
        FeatureQuery(["f_sum", "f_avg", "f_cnt", "f_min", "f_latest",
                      "f_first", "f_union", "f_filt", "f_ndist",
                      "f_adist"]))
    got = {(r.k, r.t): tuple(r) for r in out.collect()}
    # (k, day, v): 2d sum, avg, count, latest; 5d min, first, union,
    # filtered sum, distinct counts
    expected = [
        (1, 1, 10.0, 10.0, 10.0, 1, 10.0, 10.0, 10.0, [10.0], None, 1, 1),
        (1, 2, 20.0, 30.0, 15.0, 2, 10.0, 20.0, 10.0, [10.0, 20.0], 20.0, 2, 2),
        (1, 3, 30.0, 50.0, 25.0, 2, 10.0, 30.0, 10.0, [10.0, 20.0, 30.0],
         50.0, 3, 3),
        (1, 10, 40.0, 40.0, 40.0, 1, 40.0, 40.0, 40.0, [40.0], 40.0, 1, 1),
        (2, 5, 5.0, 5.0, 5.0, 1, 5.0, 5.0, 5.0, [5.0], None, 1, 1),
        (3, 4, 1.0, None, None, 0, None, None, None, [], None, 0, 0),
    ]
    assert got == {(k, ts(f"2024-01-{d:02d} 00:00:00")):
                   (k, ts(f"2024-01-{d:02d} 00:00:00"), *rest)
                   for k, d, *rest in expected}
    # sanity: the empty-window key has null sum but count 0
    k3 = got[(3, ts("2024-01-04 00:00:00"))]
    assert k3[3] is None and k3[5] == 0


def test_null_keys_and_ts_match_brute_force(spark, tiny):
    """NULL entity keys / NULL timestamps: source rows with NULLs never
    contribute to any window (SQL join semantics), and NULL-key/-ts
    observation rows get empty-window aggregates (COUNT 0, others NULL),
    as the brute-force window evaluation has it."""
    from pyspark.sql.types import (DoubleType, LongType, StructField,
                                   StructType, TimestampType)
    from tests.test_property_window import brute_force
    schema = StructType([StructField("k", LongType(), True),
                         StructField("t", TimestampType(), True),
                         StructField("v", DoubleType(), True)])
    nulls = spark.createDataFrame([
        (None, ts("2024-01-02 12:00:00"), 999.0),   # null key: never aggregated
        (1, None, 888.0),                            # null ts: never aggregated
        (None, None, 777.0),
    ], schema)
    src_df = tiny.select("k", "t", "v").union(nulls)
    obs_df = src_df

    p = FeathrProject("t", spark)
    key = TypedKey(key_column="k")
    src = DataFrameSource(
        name="src", df=src_df,
        time_window_parameters=TimeWindowParameters(timestamp_column="t"))
    p.register_anchor(FeatureAnchor(name="agg", source=src, features=[
        Feature(name="f_sum", transform=WindowAggTransform(
            "v", Aggregation.SUM, "2d"), key=[key]),
        Feature(name="f_cnt", transform=WindowAggTransform(
            "v", Aggregation.COUNT, "2d"), key=[key]),
    ]))
    obs = ObservationSettings(timestamp_column="t")
    out = p.get_offline_features(
        obs.with_event_ts(obs_df), FeatureQuery(["f_sum", "f_cnt"]))
    uw = sorted([tuple(r) for r in out.collect()], key=repr)

    base = ts("2024-01-01 00:00:00")

    def hour(t):
        return None if t is None else int((t - base).total_seconds() // 3600)

    src_rows = src_df.collect()
    rows = [(r.k, hour(r.t), r.v) for r in src_rows]
    bf = brute_force(rows, 48)  # the observation is the source
    expected = sorted([(r.k, r.t, r.v, bf[(r.k, h)]["sum"], bf[(r.k, h)]["cnt"])
                       for r, (_, h, _) in zip(src_rows, rows)], key=repr)
    assert uw == expected
    # null-key/null-ts observation rows: empty window (sum NULL, count 0)
    for r in uw:
        if r[0] is None or r[1] is None:
            assert r[3] is None and r[4] == 0, r
    # the null source rows (999/888/777) contributed to no window: key 1's
    # day-2 observation must aggregate exactly days 1+2 (10+20), unpolluted
    day2 = [r for r in uw if r[0] == 1 and r[1] == ts("2024-01-02 00:00:00")][0]
    assert day2[3] == 30.0 and day2[4] == 2


def test_approx_count_distinct_accuracy_and_state(spark):
    """APPROX_COUNT_DISTINCT extension: the HLL++ estimate lands within
    the documented error bound (default rsd 0.05 → assert 3 sigma = 15%)
    of the exact windowed distinct count, and the plan carries NO
    collect_set state — the exact variant keeps one entry per distinct
    value per window, which is memory-prohibitive for high-cardinality
    100 TB windows; the sketch is constant-size."""
    rows = [Row(k=i % 3,
                t=ts("2024-01-01 00:00:00") + dt.timedelta(minutes=i),
                v=float((i * 7919) % 251))
            for i in range(900)]
    df = spark.createDataFrame(rows)

    def run(agg):
        p = FeathrProject("t", spark)
        src = DataFrameSource(name="src", df=df, time_window_parameters=
                              TimeWindowParameters(timestamp_column="t"))
        p.register_anchor(FeatureAnchor(name="a", source=src, features=[
            Feature(name="f_d", transform=WindowAggTransform(
                "v", agg, "6h"), key=[TypedKey(key_column="k")]),
        ]))
        return p.get_offline_features(
            ObservationSettings(timestamp_column="t").with_event_ts(df),
            FeatureQuery(["f_d"]))

    exact_df = run(Aggregation.COUNT_DISTINCT)
    approx_df = run(Aggregation.APPROX_COUNT_DISTINCT)
    exact = {(r.k, r.t): r.f_d for r in exact_df.collect()}
    approx = {(r.k, r.t): r.f_d for r in approx_df.collect()}
    assert set(exact) == set(approx) and len(exact) == 900
    for key, n in exact.items():
        est = approx[key]
        assert abs(est - n) <= max(2, 0.15 * n), (key, n, est)
    # max windowed cardinality is large enough that the bound is meaningful
    assert max(exact.values()) >= 100

    plan = approx_df._jdf.queryExecution().executedPlan().toString()
    assert "approx_count_distinct" in plan
    assert "collect_set" not in plan, (
        "approx variant must not keep per-distinct-value state")
