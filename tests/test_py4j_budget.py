"""Planning-time py4j round-trip budgets.

Building a feature query is Python code talking to the JVM: every
``pyspark.sql.functions`` builder, ``Column`` operator and DataFrame call
is one or more py4j round trips. With Column builders, planning took
about 30% of a perfbench job's CPU, most of it in those round trips, so
the planner builds its expressions as SQL text (about one round trip
per parsed expression). These tests count the round trips of a warm planning call
on a project shaped like perfbench's (8 windowed features over two file
sources, one with a filter; a keyed dimension join; 2 derived
features), so a change that puts builder calls back into the planner
fails here.
"""

import datetime as dt
import os

import pyarrow as pa
import pyarrow.parquet as pq
import pytest
from pyspark.sql import functions as F

from feathr_spark import (
    Aggregation, BackfillTime, DerivedFeature, Feature, FeatureAnchor,
    FeatureQuery, FeathrProject, HdfsSource, ObservationSettings,
    TimeWindowParameters, TypedKey, WindowAggTransform,
)

GET_OFFLINE_FEATURES_BUDGET = 300
COMPUTE_BACKFILL_BUDGET = 200

BASE = dt.datetime(2024, 1, 1)
PIT_FEATURES = (
    "ev_cnt_7d", "ev_amt_sum_30d", "ev_amt_avg_90d", "ev_amt_max_30d",
    "ev_click_cnt_30d", "pu_price_sum_90d", "pu_cnt_30d", "pu_last_price_90d",
    "user_segment", "user_signup_day", "amt_per_click_30d", "purchase_share_30d")
BACKFILL_FEATURES = ("ev_cnt_7d", "ev_amt_sum_30d", "pu_cnt_30d", "pu_price_sum_90d")


def _write(path, cols):
    os.makedirs(path)
    pq.write_table(pa.table(cols), os.path.join(path, "part-0.parquet"))


@pytest.fixture(scope="module")
def data_dir(tmp_path_factory):
    root = tmp_path_factory.mktemp("py4j_budget")
    days = [BASE + dt.timedelta(days=d) for d in range(12)]
    _write(str(root / "events"), {
        "user_id": pa.array([i % 3 for i in range(12)], pa.int64()),
        "event_ts": pa.array(days, pa.timestamp("us")),
        "amount": pa.array([float(i) for i in range(12)]),
        "kind": pa.array([i % 2 for i in range(12)], pa.int64())})
    _write(str(root / "purchases"), {
        "user_id": pa.array([i % 2 for i in range(6)], pa.int64()),
        "purchase_ts": pa.array(days[:6], pa.timestamp("us")),
        "price": pa.array([1.5 * i for i in range(6)])})
    _write(str(root / "users"), {
        "user_id": pa.array([0, 1, 2], pa.int64()),
        "segment": pa.array(["a", "b", "a"]),
        "signup_day": pa.array([1, 2, 3], pa.int64())})
    _write(str(root / "observations"), {
        "user_id": pa.array([0, 1, 2, 3], pa.int64()),
        "obs_ts": pa.array(days[2:6], pa.timestamp("us"))})
    return str(root)


def _project(spark, data_dir):
    key = [TypedKey(key_column="user_id")]
    events = HdfsSource(
        name="events", path=os.path.join(data_dir, "events"),
        time_window_parameters=TimeWindowParameters("event_ts"))
    purchases = HdfsSource(
        name="purchases", path=os.path.join(data_dir, "purchases"),
        time_window_parameters=TimeWindowParameters("purchase_ts"))
    users = HdfsSource(name="users", path=os.path.join(data_dir, "users"))

    def w(name, expr, agg, window, **kw):
        return Feature(name=name, key=key, transform=WindowAggTransform(
            expr, agg, window, **kw))

    A = Aggregation
    p = FeathrProject("py4j_budget", spark)
    ev = p.register_anchor(FeatureAnchor(name="ev", source=events, features=[
        w("ev_cnt_7d", "1", A.COUNT, "7d"),
        w("ev_amt_sum_30d", "amount", A.SUM, "30d"),
        w("ev_amt_avg_90d", "amount", A.AVG, "90d"),
        w("ev_amt_max_30d", "amount", A.MAX, "30d"),
        w("ev_click_cnt_30d", "1", A.COUNT, "30d", filter="kind = 1"),
    ]))
    pu = p.register_anchor(FeatureAnchor(name="pu", source=purchases, features=[
        w("pu_price_sum_90d", "price", A.SUM, "90d"),
        w("pu_cnt_30d", "1", A.COUNT, "30d"),
        w("pu_last_price_90d", "price", A.LATEST, "90d"),
    ]))
    p.register_anchor(FeatureAnchor(name="dim", source=users, features=[
        Feature(name="user_segment", transform="segment", key=key),
        Feature(name="user_signup_day", transform="signup_day", key=key),
    ]))
    p.register_derived(DerivedFeature(
        name="amt_per_click_30d",
        transform="ev_amt_sum_30d / greatest(ev_click_cnt_30d, 1)",
        input_features=[ev["ev_amt_sum_30d"], ev["ev_click_cnt_30d"]]))
    p.register_derived(DerivedFeature(
        name="purchase_share_30d",
        transform="CAST(pu_cnt_30d AS DOUBLE) / (pu_cnt_30d + ev_click_cnt_30d + 1)",
        input_features=[pu["pu_cnt_30d"], ev["ev_click_cnt_30d"]]))
    return p


def _warm_count(spark, count_py4j, plan):
    """Round trips of the second of two ``plan()`` calls (the first one
    infers the file schemas and registers the SQL shims), with the plan's
    rows collected after each call."""
    plan().collect()
    df, trips = count_py4j(plan)
    assert df.collect()
    return trips


def test_get_offline_features_round_trip_budget(spark, data_dir, count_py4j):
    p = _project(spark, data_dir)
    obs = ObservationSettings(
        observation_path=os.path.join(data_dir, "observations"),
        timestamp_column="obs_ts")
    trips = _warm_count(spark, count_py4j, lambda: p.get_offline_features(
        obs, FeatureQuery(PIT_FEATURES), spark=spark))
    print(f"get_offline_features: {trips} py4j round trips")
    assert trips <= GET_OFFLINE_FEATURES_BUDGET, trips


def test_compute_backfill_round_trip_budget(spark, data_dir, count_py4j):
    p = _project(spark, data_dir)
    bt = BackfillTime(start=BASE + dt.timedelta(days=8),
                      end=BASE + dt.timedelta(days=10), step="DAILY")
    trips = _warm_count(spark, count_py4j, lambda: p.compute_backfill(
        spark, BACKFILL_FEATURES, bt))
    print(f"compute_backfill: {trips} py4j round trips")
    assert trips <= COMPUTE_BACKFILL_BUDGET, trips


def test_round_trip_guard_can_fail(spark, data_dir, count_py4j):
    """The guard sees Column builders in the counted call: sixteen extra
    ``F.col`` calls (about 13 round trips each, against about one per
    expression of a SQL-text projection) break the budget that the
    planner's own call keeps."""
    p = _project(spark, data_dir)
    bt = BackfillTime(start=BASE + dt.timedelta(days=8),
                      end=BASE + dt.timedelta(days=10), step="DAILY")

    def plan_with_builders():
        df = p.compute_backfill(spark, BACKFILL_FEATURES, bt)
        for c in BACKFILL_FEATURES * 4:
            F.col(c)
        return df

    trips = _warm_count(spark, count_py4j, plan_with_builders)
    print(f"compute_backfill with builders: {trips} py4j round trips")
    assert trips > COMPUTE_BACKFILL_BUDGET, trips
