"""File sources infer their schema once per session (HdfsSource.read).

Each test reads paths under its own ``tmp_path``, so memo entries never
carry over between tests that share the session."""

import datetime as dt
import gc
import sys
import weakref
from concurrent.futures import ThreadPoolExecutor

import pyarrow as pa
import pyarrow.parquet as papq
from pyspark.sql import Row

from feathr_spark import (
    Aggregation, Feature, FeatureAnchor, FeatureQuery, FeathrProject,
    HdfsSource, ObservationSettings, TimeWindowParameters, TypedKey,
    ValueType, WindowAggTransform,
)

T0 = dt.datetime(2024, 1, 1)
KEY = [TypedKey(key_column="user_id", key_column_type=ValueType.INT64)]
FEATURES = ["ev_cnt_7d", "ev_amt_sum_7d", "pu_cnt_30d", "user_segment"]


def _events():
    return [Row(user_id=i % 5, event_ts=T0 + dt.timedelta(hours=5 * i),
                amount=float(i)) for i in range(80)]


def _write_inputs(spark, root):
    """Observations plus three parquet sources (two time-aware, one
    dimension), as perfbench's ``pit_join`` reads them."""
    paths = {n: str(root / n) for n in ("obs", "events", "purchases", "users")}
    spark.createDataFrame(
        [Row(request_id=i, user_id=i % 7, obs_ts=T0 + dt.timedelta(hours=11 * i))
         for i in range(40)]).write.parquet(paths["obs"])
    spark.createDataFrame(_events()).write.parquet(paths["events"])
    spark.createDataFrame(
        [Row(user_id=i % 6, purchase_ts=T0 + dt.timedelta(hours=13 * i),
             price=float(2 * i)) for i in range(30)]).write.parquet(paths["purchases"])
    spark.createDataFrame(
        [Row(user_id=u, segment=f"s{u % 3}") for u in range(7)]).write.parquet(paths["users"])
    return paths


def _project(spark, paths, extra_event_features=()):
    def w(name, expr, agg, window):
        return Feature(name=name, key=KEY,
                       transform=WindowAggTransform(expr, agg, window))

    p = FeathrProject("schema_memo", spark)
    events = HdfsSource(name="events", path=paths["events"],
                        time_window_parameters=TimeWindowParameters("event_ts"))
    purchases = HdfsSource(name="purchases", path=paths["purchases"],
                           time_window_parameters=TimeWindowParameters("purchase_ts"))
    users = HdfsSource(name="users", path=paths["users"])
    p.register_anchor(FeatureAnchor(name="ev", source=events, features=[
        w("ev_cnt_7d", "1", Aggregation.COUNT, "7d"),
        w("ev_amt_sum_7d", "amount", Aggregation.SUM, "7d"),
        *(w(*f) for f in extra_event_features)]))
    p.register_anchor(FeatureAnchor(name="pu", source=purchases, features=[
        w("pu_cnt_30d", "1", Aggregation.COUNT, "30d")]))
    p.register_anchor(FeatureAnchor(name="dim", source=users, features=[
        Feature(name="user_segment", transform="segment", key=KEY)]))
    return p


def _query(project, paths, features=FEATURES):
    return project.get_offline_features(
        ObservationSettings(observation_path=paths["obs"], timestamp_column="obs_ts"),
        FeatureQuery(list(features)))


def _rows(df):
    return sorted(tuple(r) for r in df.collect())


def test_unchanged_parquet_sources_infer_once(spark, tmp_path, count_jobs):
    """The first query infers the observations' and the three sources'
    schemas (one job each); the second runs no job while planning and
    returns the same rows."""
    paths = _write_inputs(spark, tmp_path)
    project = _project(spark, paths)
    first, first_jobs = count_jobs(lambda: _query(project, paths))
    second, second_jobs = count_jobs(lambda: _query(project, paths))
    assert (first_jobs, second_jobs) == (4, 0)
    assert _rows(second) == _rows(first)
    assert len(_rows(first)) == 40


def test_appended_file_is_read(spark, tmp_path, count_jobs):
    paths = _write_inputs(spark, tmp_path)
    src = HdfsSource(name="events", path=paths["events"])
    assert src.read(spark).count() == 80
    df, jobs = count_jobs(lambda: src.read(spark))
    assert jobs == 0 and df.count() == 80
    spark.createDataFrame([Row(user_id=9, event_ts=T0, amount=1.5)]) \
        .write.mode("append").parquet(paths["events"])
    df, jobs = count_jobs(lambda: src.read(spark))
    assert jobs == 1  # the listing changed: inferred again
    assert df.count() == 81
    assert df.where("user_id = 9").collect()[0].amount == 1.5


def test_overwrite_with_new_column_resolves(spark, tmp_path):
    """A Spark overwrite that adds a column writes new file names; a
    feature over the new column resolves on the next query."""
    paths = _write_inputs(spark, tmp_path)
    project = _project(spark, paths, extra_event_features=[
        ("ev_bonus_sum_7d", "bonus", Aggregation.SUM, "7d")])
    before = _rows(_query(project, paths))
    spark.createDataFrame(
        [Row(**r.asDict(), bonus=2 * r.amount) for r in _events()]) \
        .write.mode("overwrite").parquet(paths["events"])
    after = _query(project, paths, FEATURES + ["ev_bonus_sum_7d"])
    assert _rows(after.drop("ev_bonus_sum_7d")) == before
    sums = after.select("ev_amt_sum_7d", "ev_bonus_sum_7d").collect()
    assert any(amt for amt, _ in sums)
    assert all(bonus == (None if amt is None else 2 * amt) for amt, bonus in sums)


def test_same_name_rewrite_with_new_size_is_inferred_again(spark, tmp_path,
                                                           count_jobs):
    """Rewriting a file under its own name is seen when its byte count
    changes: the schema is inferred again and the new column appears."""
    d = tmp_path / "users"
    d.mkdir()
    f = str(d / "part-0.parquet")
    papq.write_table(pa.table({"user_id": [1, 2], "segment": ["a", "b"]}), f)
    src = HdfsSource(name="users", path=str(d))
    assert src.read(spark).columns == ["user_id", "segment"]
    assert count_jobs(lambda: src.read(spark))[1] == 0
    papq.write_table(pa.table({"user_id": [1, 2], "segment": ["a", "b"],
                               "tier": [3, 4]}), f)
    df, jobs = count_jobs(lambda: src.read(spark))
    assert jobs == 1
    assert df.columns == ["user_id", "segment", "tier"]
    assert sorted(tuple(r) for r in df.collect()) == [(1, "a", 3), (2, "b", 4)]


def test_csv_schema_inferred_once(spark, tmp_path, count_jobs):
    """CSV with inferSchema costs two jobs per read; the second read of
    an unchanged file runs none and reads the same typed rows."""
    p = str(tmp_path / "scores.csv")
    with open(p, "w") as fh:
        fh.write("id,name,score\n1,alice,0.9\n2,bob,0.5\n")
    src = HdfsSource(name="csv", path=p)
    first, first_jobs = count_jobs(lambda: src.read(spark))
    second, second_jobs = count_jobs(lambda: src.read(spark))
    assert (first_jobs, second_jobs) == (2, 0)
    assert second.dtypes == first.dtypes == [
        ("id", "int"), ("name", "string"), ("score", "double")]
    assert sorted(second.collect()) == sorted(first.collect())


def test_concurrent_planning_in_one_session(spark, tmp_path):
    """More threads than cores plan the same query at once in one
    session — all on a cold memo, then all on a warm one — with a short
    switch interval so they interleave inside ``HdfsSource.read``; every
    one gets the right rows."""
    ref = _write_inputs(spark, tmp_path / "ref")
    expect = _rows(_query(_project(spark, ref), ref))
    paths = _write_inputs(spark, tmp_path / "cold")
    project = _project(spark, paths)
    interval = sys.getswitchinterval()
    sys.setswitchinterval(1e-6)
    try:
        for _ in range(2):
            with ThreadPoolExecutor(max_workers=6) as pool:
                futures = [pool.submit(lambda: _rows(_query(project, paths)))
                           for _ in range(6)]
                assert [f.result(timeout=300) for f in futures] == [expect] * 6
    finally:
        sys.setswitchinterval(interval)


def test_memo_is_per_session(spark, tmp_path, count_jobs):
    """A new session starts with no entries, and the memo does not keep
    a dropped session alive."""
    paths = _write_inputs(spark, tmp_path)
    src = HdfsSource(name="events", path=paths["events"])
    src.read(spark)
    assert count_jobs(lambda: src.read(spark))[1] == 0
    other = spark.newSession()
    df, jobs = count_jobs(lambda: src.read(other))
    assert jobs == 1 and df.count() == 80
    assert count_jobs(lambda: src.read(other))[1] == 0
    gone = weakref.ref(other)
    del other, df
    spark.newSession()  # PySpark's RDD.toDF hook holds the newest session
    gc.collect()
    assert gone() is None


def test_datasource_v2_read_is_inferred_every_time(spark, tmp_path, count_jobs):
    """With parquet switched to DataSource V2 the read has no file
    relation to fingerprint: nothing is kept and every read infers, as
    before the memo."""
    paths = _write_inputs(spark, tmp_path)
    src = HdfsSource(name="events", path=paths["events"])
    v2 = spark.newSession()
    v2.conf.set("spark.sql.sources.useV1SourceList", "")
    for _ in range(2):
        df, jobs = count_jobs(lambda: src.read(v2))
        assert jobs == 1 and df.count() == 80
