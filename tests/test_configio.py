"""Reference-config ingestion tests.

Round-trip: emit this engine's reference-shaped configs, parse them back,
and prove the re-built project computes identical values. Lineage:
``from_lineage`` loads the reference registry's Atlas shape — a
handwritten payload with the entities of the reference's sample registry
(registry/test-data/sample.json), run end-to-end on a synthetic taxi
frame; and this engine's own registry payload in that shape
(``save_project`` then ``RegistryApi.get_project_lineage``), whose
rebuilt project must compute the original's values.
"""

import datetime as dt
import json
import uuid

import pytest
from pyspark.sql import Row

from feathr_spark import (
    Aggregation, DataFrameSource, DerivedFeature, Feature, FeatureAnchor,
    FeatureQuery, FeathrProject, HdfsSource, INPUT_CONTEXT,
    ObservationSettings, TimeWindowParameters, TypedKey, WindowAggTransform,
)
from feathr_spark.client import FeathrClient
from feathr_spark.configio import (
    from_feature_config, from_join_config, from_lineage,
)
from feathr_spark.registry.api import RegistryApi
from feathr_spark.registry.catalog import Registry
from feathr_spark.registry.roundtrip import save_project


def ts(s):
    return dt.datetime.fromisoformat(s)


@pytest.fixture()
def canonical_project(spark, tmp_path):
    """The reference's canonical E2E shape (client.rs:310-502): passthrough
    exprs + keyed 90d window agg + derived ratio, over a parquet source."""
    rows = [Row(k=1 + i % 3, t=ts("2024-01-01") + dt.timedelta(hours=6 * i),
                v=float(10 + i)) for i in range(24)]
    path = str(tmp_path / "src.parquet")
    spark.createDataFrame(rows).write.mode("overwrite").parquet(path)

    p = FeathrProject("cfg_rt", spark)
    key = TypedKey(key_column="k")
    src = HdfsSource(name="src", path=path, time_window_parameters=
                     TimeWindowParameters(timestamp_column="t"))
    p.register_source(src)
    pt = FeatureAnchor(name="pt", source=INPUT_CONTEXT, features=[
        Feature(name="f_v2", transform="v * 2"),
        Feature(name="f_big", transform="cast_float(v) > 20"),
    ])
    w = FeatureAnchor(name="w", source=src, features=[
        Feature(name="f_avg_2d", transform=WindowAggTransform(
            "v", Aggregation.AVG, "2d"), key=[key]),
        Feature(name="f_cnt_2d", transform=WindowAggTransform(
            "v", Aggregation.COUNT, "2d", filter="v > 12"), key=[key]),
    ])
    p.register_anchor(pt)
    p.register_anchor(w)
    p.register_derived(DerivedFeature(
        name="f_ratio", transform="f_v2 / f_avg_2d",
        input_features=[pt.features[0], w.features[0]]))
    obs_df = spark.createDataFrame(rows)
    return p, obs_df


FEATS = ["f_v2", "f_big", "f_avg_2d", "f_cnt_2d", "f_ratio"]


def _run(project, obs_df):
    out = project.get_offline_features(
        ObservationSettings(timestamp_column="t").with_event_ts(obs_df),
        FeatureQuery(FEATS))
    return sorted([tuple(r) for r in out.select("k", "t", *FEATS).collect()],
                  key=repr)


def test_feature_config_round_trip(spark, canonical_project):
    p, obs_df = canonical_project
    cfg = p.to_feature_config()
    # parse back — through JSON to prove serializability
    p2 = from_feature_config(json.dumps(cfg), spark)
    assert set(p2.anchors) == {"pt", "w"}
    assert set(p2.derived) == {"f_ratio"}
    w2 = p2.anchors["w"]
    f_avg = next(f for f in w2.features if f.name == "f_avg_2d")
    assert isinstance(f_avg.transform, WindowAggTransform)
    assert f_avg.transform.agg_func == Aggregation.AVG
    assert f_avg.transform.window == "2d"
    assert f_avg.key_aliases == ("k",)
    f_cnt = next(f for f in w2.features if f.name == "f_cnt_2d")
    assert f_cnt.transform.filter == "v > 12"
    # identical answers from the original and the re-parsed project
    assert _run(p2, obs_df) == _run(p, obs_df)


def test_join_config_round_trip(spark, canonical_project):
    p, obs_df = canonical_project
    cfg = p.to_join_config(
        ObservationSettings(observation_path="/tmp/obs.parquet",
                            timestamp_column="t"),
        [FeatureQuery(FEATS)], "/tmp/out.parquet")
    req = from_join_config(json.dumps(cfg))
    assert req.observation.observation_path == "/tmp/obs.parquet"
    assert req.observation.timestamp_column == "t"
    assert req.output_path == "/tmp/out.parquet"
    assert req.queries[0].feature_list == tuple(FEATS)
    out = p.get_offline_features(
        req.observation.with_event_ts(obs_df), list(req.queries))
    assert out.count() == obs_df.count()


ATLAS_PROJECT = "feathr_ci_registry_lineage"


def _atlas_lineage() -> dict:
    """A lineage payload in the reference registry's Atlas shape: every
    entity's attributes carry its ``qualifiedName`` and ``name``, anchors
    list their features and reference their source by guid, derived
    features reference their inputs by guid, and key types are ordinal
    strings. The entities are those of the reference's sample registry:
    a PASSTHROUGH source with 4 request features, a taxi batch source with
    2 windowed features, and 3 derived features, one derived from
    another. Entities are listed dependents-first, so the decoder has to
    order derived features itself."""
    ents, rels = {}, []

    def entity(type_name, name, **attrs):
        qn = name if type_name == "feathr_workspace_v1" \
            else f"{ATLAS_PROJECT}__{name}"
        guid = str(uuid.uuid5(uuid.NAMESPACE_URL, qn))
        ents[guid] = {"guid": guid, "typeName": type_name,
                      "status": "ACTIVE", "displayText": qn,
                      "attributes": {"qualifiedName": qn, "name": name,
                                     "tags": {}, **attrs}}
        return {"guid": guid, "typeName": type_name,
                "uniqueAttributes": {"qualifiedName": qn}}

    def relate(a, kind, inverse, b):
        for x, k, y in ((a, kind, b), (b, inverse, a)):
            rels.append({"relationshipId": str(uuid.uuid4()),
                         "relationshipType": k,
                         "fromEntityId": x["guid"], "toEntityId": y["guid"]})

    def tensor(val_type):
        return {"type": "TENSOR", "tensorCategory": "DENSE",
                "dimensionType": [], "valType": val_type}

    dummy_key = [{"full_name": "feathr.dummy_typedkey",
                  "key_column": "NOT_NEEDED", "key_column_alias": "NOT_NEEDED",
                  "key_column_type": "UNSPECIFIED",
                  "description": "A dummy typed key for passthrough"}]
    location_key = [{"full_name": "nyc_taxi.location_id",
                     "key_column": "DOLocationID",
                     "key_column_alias": "DOLocationID",
                     "key_column_type": "2",
                     "description": "location id in NYC"}]

    ws = entity("feathr_workspace_v1", ATLAS_PROJECT)
    passthrough = entity("feathr_source_v1", "PASSTHROUGH",
                         type="PASSTHROUGH")
    batch = entity(
        "feathr_source_v1", "nycTaxiBatchSource", type="wasbs",
        path="wasbs://public@feathrstorage.blob.core.windows.net/"
             "sample_data/green_tripdata_2020-04_with_index.csv",
        preprocessing="def add_new_dropoff_and_fare_amount_column(df): ...",
        event_timestamp_column="lpep_dropoff_datetime",
        timestamp_format="yyyy-MM-dd HH:mm:ss")
    request = {
        "f_trip_distance": ("trip_distance", "FLOAT"),
        "f_is_long_trip_distance": ("cast_float(trip_distance)>30",
                                    "BOOLEAN"),
        "f_trip_time_duration": (
            "(to_unix_timestamp(lpep_dropoff_datetime) - "
            "to_unix_timestamp(lpep_pickup_datetime))/60", "INT"),
        "f_day_of_week": ("dayofweek(lpep_dropoff_datetime)", "INT"),
    }
    feats = {n: entity("feathr_anchor_feature_v1", n, type=tensor(vt),
                       transformation={"transform_expr": expr},
                       key=dummy_key)
             for n, (expr, vt) in request.items()}
    for n, agg in (("f_location_avg_fare", "AVG"),
                   ("f_location_max_fare", "MAX")):
        feats[n] = entity("feathr_anchor_feature_v1", n, type=tensor("FLOAT"),
                          transformation={"def_expr": "cast_float(fare_amount)",
                                          "agg_func": agg, "window": "90d"},
                          key=location_key)
    anchors = {
        "request_features": (passthrough, list(request)),
        "aggregationFeatures": (batch, ["f_location_avg_fare",
                                        "f_location_max_fare"]),
    }
    for aname, (src, fnames) in anchors.items():
        anchor = entity("feathr_anchor_v1", aname, source=src,
                        features=[feats[n] for n in fnames])
        relate(ws, "Contains", "BelongsTo", anchor)
        relate(anchor, "Consumes", "Produces", src)
        for n in fnames:
            relate(anchor, "Contains", "BelongsTo", feats[n])
            relate(feats[n], "Consumes", "Produces", src)

    def derived(name, expr, val_type, anchor_inputs=(), derived_inputs=()):
        d = entity("feathr_derived_feature_v1", name, type=tensor(val_type),
                   transformation={"transform_expr": expr}, key=dummy_key,
                   input_anchor_features=[feats[n] for n in anchor_inputs],
                   input_derived_features=list(derived_inputs))
        relate(ws, "Contains", "BelongsTo", d)
        for inp in [feats[n] for n in anchor_inputs] + list(derived_inputs):
            relate(d, "Consumes", "Produces", inp)
        return d

    derived("f_trip_time_distance", "f_trip_distance * f_trip_time_duration",
            "FLOAT", ["f_trip_distance", "f_trip_time_duration"])
    rounded = derived("f_trip_time_rounded", "f_trip_time_duration % 10",
                      "INT", ["f_trip_time_duration"])
    derived("f_trip_time_rounded_plus", "f_trip_time_rounded + 100", "INT",
            derived_inputs=[rounded])
    for src in (passthrough, batch):
        relate(ws, "Contains", "BelongsTo", src)
    return {"guidEntityMap": dict(reversed(list(ents.items()))),
            "relations": rels}


def test_lineage_atlas_structure(spark):
    """An Atlas-shaped lineage payload parses into the expected project
    graph (2 anchors, 4 passthrough + 2 windowed features, 3 derived
    features in dependency order)."""
    p = from_lineage(json.dumps(_atlas_lineage()), spark)
    assert p.name == ATLAS_PROJECT
    assert set(p.anchors) == {"request_features", "aggregationFeatures"}
    req = p.anchors["request_features"]
    assert req.source.is_input_context
    assert len(req.features) == 4
    agg = p.anchors["aggregationFeatures"]
    assert agg.source.name == "nycTaxiBatchSource"
    assert agg.source.time_window_parameters.timestamp_column == \
        "lpep_dropoff_datetime"
    assert agg.source.time_window_parameters.timestamp_column_format == \
        "yyyy-MM-dd HH:mm:ss"
    fmax = next(f for f in agg.features if f.name == "f_location_max_fare")
    assert isinstance(fmax.transform, WindowAggTransform)
    assert fmax.transform.agg_func == Aggregation.MAX
    assert fmax.transform.window == "90d"
    assert fmax.key_aliases == ("DOLocationID",)
    assert set(p.derived) == {"f_trip_time_distance", "f_trip_time_rounded",
                              "f_trip_time_rounded_plus"}
    # derived input resolution crossed entities correctly
    assert "f_trip_time_duration" in p.derived["f_trip_time_rounded"].input_names
    assert p.derived["f_trip_time_rounded_plus"].input_names == \
        ("f_trip_time_rounded",)


def test_lineage_atlas_runs_end_to_end(spark):
    """Load the Atlas-shaped payload with the batch source re-bound to a
    synthetic taxi frame and compute passthrough + windowed + derived
    features."""
    taxi = spark.createDataFrame([
        Row(trip_distance=35.0, fare_amount=100.0, DOLocationID=7,
            lpep_pickup_datetime="2020-04-01 10:00:00",
            lpep_dropoff_datetime="2020-04-01 10:30:00"),
        Row(trip_distance=5.0, fare_amount=20.0, DOLocationID=7,
            lpep_pickup_datetime="2020-04-02 09:00:00",
            lpep_dropoff_datetime="2020-04-02 09:10:00"),
        Row(trip_distance=2.0, fare_amount=10.0, DOLocationID=9,
            lpep_pickup_datetime="2020-04-03 12:00:00",
            lpep_dropoff_datetime="2020-04-03 12:05:00"),
    ])
    p = from_lineage(_atlas_lineage(), spark,
                     source_frames={"nycTaxiBatchSource": taxi})
    obs = ObservationSettings(timestamp_column="lpep_dropoff_datetime",
                              timestamp_format="yyyy-MM-dd HH:mm:ss")
    out = p.get_offline_features(
        obs.with_event_ts(taxi),
        FeatureQuery(["f_is_long_trip_distance", "f_location_avg_fare",
                      "f_location_max_fare", "f_trip_time_rounded_plus"]))
    got = {(r.DOLocationID, r.lpep_dropoff_datetime): r for r in out.collect()}
    r1 = got[(7, "2020-04-01 10:30:00")]
    assert r1.f_is_long_trip_distance is True     # 35 > 30
    assert r1.f_location_avg_fare == 100.0        # only itself in window
    assert r1.f_trip_time_rounded_plus == 100.0   # 30 min % 10 + 100
    r2 = got[(7, "2020-04-02 09:10:00")]
    assert r2.f_is_long_trip_distance is False
    assert r2.f_location_avg_fare == 60.0         # (100+20)/2, 90d window
    assert r2.f_location_max_fare == 100.0


def test_lineage_registry_payload_loads_and_matches(spark, canonical_project):
    """The registry's own payload (save_project, then RegistryApi's
    project lineage) rebuilds through from_lineage and through
    FeathrClient.load_project_from_json, and both rebuilt projects
    compute the original's values."""
    p, obs_df = canonical_project
    reg = Registry()
    save_project(reg, p)
    payload = RegistryApi(reg).get_project_lineage("cfg_rt")
    rebuilt = [
        from_lineage(payload, spark),
        FeathrClient(spark=spark).load_project_from_json(json.dumps(payload)),
    ]
    expected = _run(p, obs_df)
    for p2 in rebuilt:
        assert p2.name == "cfg_rt"
        assert set(p2.sources) == set(p.sources)
        assert set(p2.anchors) == {"pt", "w"}
        assert set(p2.derived) == {"f_ratio"}
        f_cnt = next(f for f in p2.anchors["w"].features
                     if f.name == "f_cnt_2d")
        assert f_cnt.transform.filter == "v > 12"
        assert f_cnt.key_aliases == ("k",)
        assert _run(p2, obs_df) == expected


def test_lineage_registry_payload_names_hints_and_frames(spark):
    """Project and anchor names containing "__" survive the registry's
    qualified names, broadcast_hint survives, and a DataFrame source —
    saved without its frame — is re-bound through source_frames."""
    dims = spark.createDataFrame([Row(uid=1, score=0.5),
                                  Row(uid=2, score=1.5)])
    p = FeathrProject("team__proj", spark)
    p.register_anchor(FeatureAnchor(
        name="user__dims", source=DataFrameSource(name="users", df=dims),
        features=[Feature(name="f_s", transform="score",
                          key=[TypedKey(key_column="uid")])],
        broadcast_hint=True))
    reg = Registry()
    save_project(reg, p)
    p2 = from_lineage(RegistryApi(reg).get_project_lineage("team__proj"),
                      spark, source_frames={"users": dims})
    assert p2.name == "team__proj"
    assert set(p2.anchors) == {"user__dims"}
    assert p2.anchors["user__dims"].broadcast_hint
    out = p2.get_offline_features(spark.createDataFrame([Row(uid=2)]),
                                  FeatureQuery(["f_s"]))
    assert out.collect()[0].f_s == 1.5


def test_parameterized_agg_round_trip(spark, tmp_path):
    """agg_param-carrying aggregations (PERCENTILE fraction, DECAY half-
    life) must survive IR emit -> parse with values and enum intact."""
    import json
    df = spark.createDataFrame([Row(k=1, ts=ts("2024-01-01 00:00:00"),
                                    v=1.0)])
    path = str(tmp_path / "param_src.parquet")
    df.write.parquet(path)
    p = FeathrProject("pp", spark)
    src = HdfsSource(name="s", path=path,
                     time_window_parameters=TimeWindowParameters("ts"))
    key = [TypedKey(key_column="k")]
    p.register_anchor(FeatureAnchor(name="a", source=src, features=[
        Feature(name="p90", transform=WindowAggTransform(
            "v", Aggregation.PERCENTILE, "30d", agg_param=0.9), key=key),
        Feature(name="dsum", transform=WindowAggTransform(
            "v", Aggregation.DECAY_SUM, "30d", agg_param=7.0), key=key),
    ]))
    cfg = p.to_feature_config()
    p2 = from_feature_config(json.dumps(cfg), spark)
    feats = {f.name: f for a in p2.anchors.values() for f in a.features}
    assert feats["p90"].transform.agg_func == Aggregation.PERCENTILE
    assert feats["p90"].transform.agg_param == 0.9
    assert feats["dsum"].transform.agg_func == Aggregation.DECAY_SUM
    assert feats["dsum"].transform.agg_param == 7.0


def test_aggregation_payload_without_window_is_rejected():
    """A window aggregation payload must name its window, in either
    shape; a missing one is an error, not a default."""
    from feathr_spark.configio import _transformation
    for d in ({"def": "v", "aggregation": "SUM"},
              {"def_expr": "v", "agg_func": "SUM", "filter": "v > 0"}):
        with pytest.raises(ValueError, match="window"):
            _transformation(d)
    cfg = {"sources": {}, "anchors": {"a": {
        "source": "PASSTHROUGH", "key": {"sqlExpr": ["NOT_NEEDED"]},
        "features": {"f": {"def": "v", "aggregation": "SUM"}}}}}
    with pytest.raises(ValueError, match="window"):
        from_feature_config(cfg)


def test_feature_config_reads_camel_case_agg_param():
    """IR #1 names the window fields in camelCase too: ``aggParam`` reads
    like ``agg_param``, next to ``groupBy``."""
    features = {
        "p0": {"def": "v", "aggregation": "PERCENTILE", "window": "3d",
               "aggParam": 0.0},
        "dsum": {"def": "v", "aggregation": "DECAY_SUM", "window": "3d",
                 "aggParam": 7.0, "groupBy": "g", "limit": 2}}
    cfg = {"sources": {"s": {
               "location": {"path": "/data/s.parquet"},
               "timeWindowParameters": {"timestampColumn": "ts"}}},
           "anchors": {"a": {"source": "s", "key": {"sqlExpr": ["k"]},
                             "features": features}}}
    feats = {f.name: f.transform for f in
             from_feature_config(json.dumps(cfg)).anchors["a"].features}
    assert feats["p0"] == WindowAggTransform(
        "v", Aggregation.PERCENTILE, "3d", agg_param=0.0)
    assert feats["dsum"] == WindowAggTransform(
        "v", Aggregation.DECAY_SUM, "3d", group_by="g", limit=2,
        agg_param=7.0)
