"""The reference's canonical E2E scenario, value-asserted.

Mirrors /root/reference/feathr-rs/src/client.rs:310-502 (join_e2e_job) and
python/test-script/feathrs_e2e.py: NYC-taxi-shaped observation, 4
passthrough features, 2 x 90-day window aggregations keyed by
DOLocationID, 2 derived features, 1 UDF-preprocessed feature. The
reference only asserts job success; we assert values.
"""

import datetime as dt

import pytest
from pyspark.sql import Row
from pyspark.sql import functions as F

from feathr_spark import (
    Aggregation, DataFrameSource, DerivedFeature, Feature, FeatureAnchor,
    FeatureQuery, FeathrProject, INPUT_CONTEXT, ObservationSettings,
    TimeWindowParameters, TypedKey, ValueType, WindowAggTransform,
)


@pytest.fixture()
def taxi(spark):
    rows = [
        # DOLocationID 10: three trips across 100 days
        Row(trip_id=1, DOLocationID=10,
            lpep_pickup_datetime="2020-01-01 10:00:00",
            lpep_dropoff_datetime="2020-01-01 10:30:00",
            trip_distance=5.0, fare_amount=20.0, passenger_count=1),
        Row(trip_id=2, DOLocationID=10,
            lpep_pickup_datetime="2020-02-15 09:00:00",
            lpep_dropoff_datetime="2020-02-15 09:45:00",
            trip_distance=35.0, fare_amount=80.0, passenger_count=2),
        Row(trip_id=3, DOLocationID=10,
            lpep_pickup_datetime="2020-04-20 12:00:00",
            lpep_dropoff_datetime="2020-04-20 12:10:00",
            trip_distance=2.0, fare_amount=10.0, passenger_count=1),
        # DOLocationID 20: one trip
        Row(trip_id=4, DOLocationID=20,
            lpep_pickup_datetime="2020-03-01 00:00:00",
            lpep_dropoff_datetime="2020-03-01 01:00:00",
            trip_distance=12.0, fare_amount=40.0, passenger_count=3),
    ]
    return spark.createDataFrame(rows)


def test_canonical_taxi_scenario(spark, taxi):
    p = FeathrProject("nyc_taxi", spark)

    # --- 4 passthrough features (client.rs:341-371) ---
    pt = FeatureAnchor(name="request_features", source=INPUT_CONTEXT, features=[
        Feature(name="f_trip_distance", feature_type=__import__("feathr_spark").FeatureType.FLOAT(),
                transform="trip_distance"),
        Feature(name="f_trip_time_duration",
                transform="(to_unix_timestamp(lpep_dropoff_datetime) - "
                          "to_unix_timestamp(lpep_pickup_datetime)) / 60"),
        Feature(name="f_is_long_trip_distance",
                transform="cast_float(trip_distance) > 30"),
        Feature(name="f_day_of_week", transform="dayofweek(lpep_dropoff_datetime)"),
    ])
    p.register_anchor(pt)

    # --- 2 x 90d window aggs keyed by DOLocationID (client.rs:383-406) ---
    loc_key = TypedKey(key_column="DOLocationID", key_column_type=ValueType.INT32)
    src = DataFrameSource(
        name="nycTaxiBatchSource", df=taxi,
        time_window_parameters=TimeWindowParameters(
            "lpep_dropoff_datetime", "yyyy-MM-dd HH:mm:ss"))
    agg = FeatureAnchor(name="aggregationFeatures", source=src, features=[
        Feature(name="f_location_avg_fare",
                transform=WindowAggTransform("cast_float(fare_amount)",
                                             Aggregation.AVG, "90d"),
                key=[loc_key]),
        Feature(name="f_location_max_fare",
                transform=WindowAggTransform("cast_float(fare_amount)",
                                             Aggregation.MAX, "90d"),
                key=[loc_key]),
    ])
    p.register_anchor(agg)

    # --- 2 derived features (client.rs:408-423) ---
    p.register_derived(DerivedFeature(
        name="f_trip_time_distance", transform="f_trip_distance * f_trip_time_duration",
        input_features=[pt.features[0], pt.features[1]]))
    p.register_derived(DerivedFeature(
        name="f_trip_time_rounded", transform="f_trip_time_duration % 10",
        input_features=[pt.features[1]]))

    # --- UDF-preprocessed feature (testudf.py add_new_fare_amount) ---
    udf_src = DataFrameSource(
        name="nycTaxiBatchSource_with_new_dropoff", df=taxi,
        preprocessing=lambda df: df.withColumn(
            "fare_amount_new", F.col("fare_amount") + 8000000),
    )
    p.register_anchor(FeatureAnchor(
        name="udfFeatures", source=udf_src,
        features=[Feature(name="fare_amount_new", transform="fare_amount_new",
                          key=[TypedKey(key_column="trip_id")])]))

    obs = ObservationSettings(
        timestamp_column="lpep_dropoff_datetime",
        timestamp_format="yyyy-MM-dd HH:mm:ss")
    out = p.get_offline_features(
        obs.with_event_ts(taxi),
        FeatureQuery([
            "f_trip_distance", "f_trip_time_duration", "f_is_long_trip_distance",
            "f_day_of_week", "f_location_avg_fare", "f_location_max_fare",
            "f_trip_time_distance", "f_trip_time_rounded", "fare_amount_new",
        ]))
    rows = {r.trip_id: r for r in out.collect()}

    # trip 2 (loc 10, 2020-02-15): window covers trips 1+2 -> avg 50, max 80
    r = rows[2]
    assert r.f_trip_distance == 35.0
    assert r.f_trip_time_duration == 45.0
    assert r.f_is_long_trip_distance is True
    assert r.f_location_avg_fare == 50.0
    assert r.f_location_max_fare == 80.0
    assert r.f_trip_time_distance == 35.0 * 45.0
    assert r.f_trip_time_rounded == 45.0 % 10
    assert r.fare_amount_new == 8000080.0

    # trip 3 (loc 10, 2020-04-20): trip 1 (110d earlier) is OUTSIDE 90d,
    # trip 2 (65d earlier) inside -> avg/max over {80, 10}
    r = rows[3]
    assert r.f_location_avg_fare == 45.0
    assert r.f_location_max_fare == 80.0

    # trip 4 (loc 20): only itself
    r = rows[4]
    assert r.f_location_avg_fare == 40.0
    assert r.f_day_of_week == 1  # 2020-03-01 is a Sunday


def test_udf_transform_registered(spark, taxi):
    """Transformation::Udf{name}: feature computed by a named registered
    UDF (reference model.rs:274-277)."""
    from feathr_spark.model import UdfTransform
    p = FeathrProject("t", spark)
    p.register_udf("halve", lambda df, out: df.withColumn(
        out, F.col("fare_amount") / 2))
    p.register_anchor(FeatureAnchor(
        name="u", source=INPUT_CONTEXT,
        features=[Feature(name="f_half_fare", transform=UdfTransform("halve"))]))
    out = p.get_offline_features(taxi, FeatureQuery(["f_half_fare"]))
    assert {r.trip_id: r.f_half_fare for r in out.collect()}[1] == 10.0


def test_multiple_queries_per_job(spark, taxi):
    """A join job takes several FeatureQuery objects, each with its own key
    set (reference project.rs:248-263)."""
    p = FeathrProject("t", spark)
    pt = FeatureAnchor(name="pt", source=INPUT_CONTEXT, features=[
        Feature(name="f_dist", transform="trip_distance")])
    key = TypedKey(key_column="DOLocationID")
    src = DataFrameSource(name="s", df=taxi, time_window_parameters=
                          TimeWindowParameters("lpep_dropoff_datetime",
                                               "yyyy-MM-dd HH:mm:ss"))
    agg = FeatureAnchor(name="agg", source=src, features=[
        Feature(name="f_cnt",
                transform=WindowAggTransform("1", Aggregation.COUNT, "365d"),
                key=[key])])
    p.register_anchor(pt)
    p.register_anchor(agg)
    obs = ObservationSettings(timestamp_column="lpep_dropoff_datetime",
                              timestamp_format="yyyy-MM-dd HH:mm:ss")
    out = p.get_offline_features(
        obs.with_event_ts(taxi),
        [FeatureQuery(["f_dist"]), FeatureQuery(["f_cnt"])])
    r = {x.trip_id: x for x in out.collect()}
    assert r[3].f_dist == 2.0 and r[3].f_cnt == 3


def test_feature_config_generation(spark, taxi):
    """IR #1 parity (reference project.rs:374-437): anchors grouped with
    key sqlExpr + feature defs, derivations with inputs, sources."""
    p = FeathrProject("cfg", spark)
    key = TypedKey(key_column="DOLocationID")
    src = DataFrameSource(name="taxi", df=taxi,
                          time_window_parameters=TimeWindowParameters(
                              "lpep_dropoff_datetime", "yyyy-MM-dd HH:mm:ss"))
    pt = FeatureAnchor(name="pt", source=INPUT_CONTEXT, features=[
        Feature(name="f_dist", transform="trip_distance")])
    agg = FeatureAnchor(name="agg", source=src, features=[
        Feature(name="f_fare_90d",
                transform=WindowAggTransform("fare_amount", Aggregation.AVG,
                                             "90d", filter="fare_amount > 0"),
                key=[key])])
    p.register_anchor(pt)
    p.register_anchor(agg)
    p.register_derived(DerivedFeature(
        name="f_dist_x2", transform="f_dist * 2", input_features=["f_dist"]))

    cfg = p.to_feature_config()
    assert cfg["anchors"]["agg"]["source"] == "taxi"
    assert cfg["anchors"]["agg"]["key"]["sqlExpr"] == ["DOLocationID"]
    f = cfg["anchors"]["agg"]["features"]["f_fare_90d"]
    untyped = {"type": "TENSOR", "tensorCategory": "DENSE",
               "dimensionType": [], "valType": "UNSPECIFIED"}
    assert f == {"def": "fare_amount", "aggregation": "AVG",
                 "window": "90d", "filter": "fare_amount > 0",
                 "type": untyped}
    assert cfg["anchors"]["pt"]["features"]["f_dist"] == {
        "def": {"sqlExpr": "trip_distance"}, "type": untyped}
    assert cfg["derivations"]["f_dist_x2"]["inputs"] == ["f_dist"]
    assert cfg["sources"]["taxi"]["twp"]["timestamp_column"] == "lpep_dropoff_datetime"
    import json
    json.dumps(cfg)  # fully JSON-serializable


def test_join_and_materialization_config_generation(spark, taxi):
    """IR #2 parity (FeatureJoinConfig, project.rs:327-357) + per-cutoff
    generation configs (materialization.rs:149-231: backwards from end,
    'yyyy-MM-dd HH:mm:ss' endTime, sinks serialized per OutputSink)."""
    import datetime as dt
    import json

    from feathr_spark.materialization import (BackfillTime, HdfsSink,
                                              MaterializationSettings,
                                              RedisSink)

    p = FeathrProject("cfg2", spark)
    key = TypedKey(key_column="DOLocationID")
    src = DataFrameSource(name="taxi", df=taxi,
                          time_window_parameters=TimeWindowParameters(
                              "lpep_dropoff_datetime", "yyyy-MM-dd HH:mm:ss"))
    p.register_anchor(FeatureAnchor(name="agg", source=src, features=[
        Feature(name="f_fare_90d",
                transform=WindowAggTransform("fare_amount", Aggregation.AVG,
                                             "90d"), key=[key])]))

    obs = ObservationSettings(observation_path="/data/obs.parquet",
                              timestamp_column="lpep_dropoff_datetime",
                              timestamp_format="yyyy-MM-dd HH:mm:ss")
    jc = p.to_join_config(obs, FeatureQuery(["f_fare_90d"]), "/out/x")
    assert jc["observationPath"] == "/data/obs.parquet"
    assert jc["settings"]["joinTimeSettings"]["timestampColumn"] == {
        "def": "lpep_dropoff_datetime", "format": "yyyy-MM-dd HH:mm:ss"}
    # key defaulted from the feature's own key aliases
    assert jc["featureList"] == [{"featureList": ["f_fare_90d"],
                                  "key": ["DOLocationID"]}]
    assert jc["outputPath"] == "/out/x"
    json.dumps(jc)

    ms = MaterializationSettings(
        name="m1",
        sinks=[HdfsSink("/out/m", num_parts=1),
               RedisSink(table_name="t", streaming=True, timeout_ms=1000)],
        feature_names=["f_fare_90d"],
        backfill_time=BackfillTime(start=dt.datetime(2022, 1, 1, 0),
                                   end=dt.datetime(2022, 1, 1, 3),
                                   step="HOURLY"))
    cfgs = p.to_materialization_configs(ms)
    assert [c["operational"]["endTime"] for c in cfgs] == [
        "2022-01-01 03:00:00", "2022-01-01 02:00:00", "2022-01-01 01:00:00"]
    op = cfgs[0]["operational"]
    assert op["resolution"] == "HOURLY"
    assert op["output"][0]["name"] == "HDFS"
    assert op["output"][0]["params"]["numParts"] == 1
    assert op["output"][1] == {"name": "REDIS", "params": {
        "tableName": "t", "host": "localhost", "port": 6379,
        "streaming": True, "timeoutMs": 1000}}
    assert cfgs[0]["features"] == ["f_fare_90d"]
    json.dumps(cfgs)
