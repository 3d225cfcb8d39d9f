"""Streaming feature job + registry/catalog tests."""

import datetime as dt
import tempfile

import pytest
from pyspark.sql import Row
from pyspark.sql import functions as F

from feathr_spark import (
    Aggregation, DataFrameSource, DerivedFeature, Feature, FeatureAnchor,
    FeathrProject, INPUT_CONTEXT, TypedKey, WindowAggTransform,
)


def ts(s):
    return dt.datetime.fromisoformat(s)


def test_stream_expression_features(spark, tmp_path):
    from feathr_spark.streaming.job import (
        run_streaming_query, stream_expression_features)
    src_dir = str(tmp_path / "stream_in")
    df = spark.createDataFrame(
        [Row(k=1, v=10.0), Row(k=2, v=20.0)])
    df.write.parquet(src_dir)

    stream = spark.readStream.schema(df.schema).parquet(src_dir)
    feats = [Feature(name="f_v2", transform="v * 2"),
             Feature(name="f_big", transform="v > 15")]
    out = stream_expression_features(stream, feats)
    assert out.isStreaming
    q = run_streaming_query(out, format="memory", query_name="t_expr",
                            timeout_ms=0)
    rows = {r.k: r for r in spark.sql("select * from t_expr").collect()}
    assert rows[1].f_v2 == 20.0 and rows[1].f_big is False
    assert rows[2].f_v2 == 40.0 and rows[2].f_big is True


def test_stream_window_agg(spark, tmp_path):
    from feathr_spark.streaming.job import run_streaming_query, stream_window_agg
    src_dir = str(tmp_path / "stream_agg_in")
    df = spark.createDataFrame([
        Row(k=1, t=ts("2024-01-01 00:00:10"), v=1.0),
        Row(k=1, t=ts("2024-01-01 00:00:50"), v=3.0),
        Row(k=1, t=ts("2024-01-01 00:01:10"), v=5.0),
    ])
    df.write.parquet(src_dir)
    stream = spark.readStream.schema(df.schema).parquet(src_dir)
    key = TypedKey(key_column="k")
    feats = [Feature(name="f_sum_1m",
                     transform=WindowAggTransform("v", Aggregation.SUM, "1m"),
                     key=[key])]
    out = stream_window_agg(stream, ["k"], "t", feats, watermark="10 minutes")
    q = run_streaming_query(out, format="memory", query_name="t_agg",
                            output_mode="complete", timeout_ms=0)
    rows = sorted(spark.sql("select * from t_agg").collect(),
                  key=lambda r: r.window_start)
    assert [r.f_sum_1m for r in rows] == [4.0, 5.0]


def test_stream_kafka_shaped_avro_window_sink(spark, tmp_path):
    """The full Kafka pipeline minus the connector, composed end-to-end:
    a stream with Kafka's exact frame shape (key/value binary, topic,
    partition, offset, timestamp) → pure-Python Avro decode → watermarked
    tumbling window aggregation → sink. Codec, window, and sink were each
    tested separately; this proves they compose on one streaming plan."""
    from feathr_spark.streaming.avro import compile_schema, decode_avro_payload
    from feathr_spark.streaming.job import (
        run_streaming_query, stream_window_agg)
    schema = ('{"type":"record","name":"trip","fields":['
              '{"name":"city","type":"string"},'
              '{"name":"fare","type":"double"}]}')
    _, enc, _ = compile_schema(schema)
    t0 = ts("2024-01-01 00:00:00")
    recs = [("nyc", 10.0, 10), ("nyc", 5.0, 50),    # window 00:00
            ("sf", 2.0, 20),                         # window 00:00
            ("nyc", 7.0, 70)]                        # window 00:01
    kafka_shaped = spark.createDataFrame(
        [Row(key=str(i).encode(), value=bytes(enc({"city": c, "fare": f})),
             topic="trips", partition=i % 2, offset=i,
             timestamp=t0 + dt.timedelta(seconds=s))
         for i, (c, f, s) in enumerate(recs)])
    src_dir = str(tmp_path / "kafka_shaped")
    kafka_shaped.write.parquet(src_dir)
    stream = spark.readStream.schema(kafka_shaped.schema).parquet(src_dir)
    assert stream.columns == ["key", "value", "topic", "partition",
                              "offset", "timestamp"]
    decoded = decode_avro_payload(stream, schema, keep_cols=("timestamp",))
    assert decoded.isStreaming
    feats = [Feature(name="f_fare_1m",
                     transform=WindowAggTransform("fare", Aggregation.SUM,
                                                  "1m"),
                     key=[TypedKey(key_column="city")])]
    out = stream_window_agg(decoded, ["city"], "timestamp", feats,
                            watermark="10 minutes")
    run_streaming_query(out, format="memory", query_name="t_kafka_avro",
                        output_mode="complete", timeout_ms=0)
    rows = {(r.city, r.window_start.strftime("%H:%M")): r.f_fare_1m
            for r in spark.sql("select * from t_kafka_avro").collect()}
    assert rows == {("nyc", "00:00"): 15.0, ("sf", "00:00"): 2.0,
                    ("nyc", "00:01"): 7.0}


def test_stream_sliding_window(spark, tmp_path):
    """slide= makes an event contribute to every overlapping window."""
    from feathr_spark.streaming.job import run_streaming_query, stream_window_agg
    src_dir = str(tmp_path / "stream_slide_in")
    df = spark.createDataFrame([
        Row(k=1, t=ts("2024-01-01 00:00:50"), v=3.0),
    ])
    df.write.parquet(src_dir)
    stream = spark.readStream.schema(df.schema).parquet(src_dir)
    feats = [Feature(name="f_sum_1m",
                     transform=WindowAggTransform("v", Aggregation.SUM, "1m"),
                     key=[TypedKey(key_column="k")])]
    out = stream_window_agg(stream, ["k"], "t", feats, slide="30s")
    run_streaming_query(out, format="memory", query_name="t_slide",
                        output_mode="complete", timeout_ms=0)
    starts = sorted(r.window_start.strftime("%H:%M:%S")
                    for r in spark.sql("select * from t_slide").collect())
    assert starts == ["00:00:00", "00:00:30"]


def test_stream_watermark_drops_late_data(spark, tmp_path):
    """A row older than the watermark arriving in a later micro-batch
    cannot resurrect its (already finalized) window."""
    from feathr_spark.streaming.job import run_streaming_query, stream_window_agg
    src_dir = tmp_path / "stream_late_in"
    src_dir.mkdir()
    ckpt = str(tmp_path / "ckpt")
    schema_df = spark.createDataFrame(
        [Row(k=1, t=ts("2024-01-01 00:00:10"), v=1.0)])

    def build():
        stream = spark.readStream.schema(schema_df.schema) \
            .parquet(str(src_dir / "*"))
        feats = [Feature(name="f_sum_1m",
                         transform=WindowAggTransform("v", Aggregation.SUM, "1m"),
                         key=[TypedKey(key_column="k")])]
        return stream_window_agg(stream, ["k"], "t", feats,
                                 watermark="10 minutes")

    captured = []

    def run_once(tag):
        # memory sink cannot recover from a checkpoint; foreachBatch can,
        # and the watermark is restored from the checkpoint on restart
        def sink(batch_df, _bid):
            captured.extend((tag, r.window_start.strftime("%H:%M"), r.f_sum_1m)
                            for r in batch_df.collect())
        q = build().writeStream.foreachBatch(sink).outputMode("update") \
            .option("checkpointLocation", ckpt).start()
        q.processAllAvailable()
        q.stop()

    # run 1: an early window + an event far enough ahead to advance the
    # watermark (10 min delay) past the early window's end
    schema_df.union(spark.createDataFrame(
        [Row(k=1, t=ts("2024-01-01 01:00:00"), v=7.0)])) \
        .coalesce(1).write.parquet(str(src_dir / "b1"))
    run_once("r1")
    r1 = {w: v for tag, w, v in captured if tag == "r1"}
    assert r1["00:00"] == 1.0 and r1["01:00"] == 7.0

    # run 2 (same checkpoint, watermark = 00:50): one too-late row
    # (00:00:30) + one on-time row (01:00:30)
    spark.createDataFrame([
        Row(k=1, t=ts("2024-01-01 00:00:30"), v=100.0),
        Row(k=1, t=ts("2024-01-01 01:00:30"), v=2.0),
    ]).coalesce(1).write.parquet(str(src_dir / "b2"))
    run_once("r2")
    r2 = {w: v for tag, w, v in captured if tag == "r2"}
    # the late 100.0 never reached the finalized 00:00 window...
    assert "00:00" not in r2
    # ...while the on-time row updated its window (7 -> 9)
    assert r2["01:00"] == 9.0


def test_registry_graph_and_lineage():
    from feathr_spark.registry.catalog import (
        EdgeType, EntityType, Registry, RegistryError)
    from feathr_spark.registry.roundtrip import save_project
    reg = Registry()
    p = FeathrProject("proj")
    src = DataFrameSource(name="orders_src", df=None)
    key = TypedKey(key_column="k")
    anchor = FeatureAnchor(name="a1", source=src, features=[
        Feature(name="f_a", transform="x + 1", key=[key]),
        Feature(name="f_b", transform="x * 2", key=[key]),
    ])
    p.register_anchor(anchor)
    p.register_derived(DerivedFeature(
        name="f_c", transform="f_a + f_b",
        input_features=[anchor.features[0], anchor.features[1]]))

    ids = save_project(reg, p)
    # lineage: upstream of derived feature = its inputs (+ their source)
    up = reg.lineage(ids["f_c"], "upstream")
    names = {e.qualified_name for e in up}
    assert "proj__f_a" in names and "proj__f_b" in names
    assert "proj__orders_src" in names  # transitive via Consumes
    # downstream of source reaches the derived feature
    down = reg.lineage(ids["orders_src"], "downstream")
    assert "proj__f_c" in {e.qualified_name for e in down}
    # validity matrix rejects nonsense edges
    with pytest.raises(RegistryError):
        reg.add_edge(ids["orders_src"], EdgeType.Contains, ids["f_a"])
    # search
    assert any(e.entity_type == EntityType.AnchorFeature
               for e in reg.search("f_a"))


def test_registry_fts_search():
    """Tokenized/prefix/field-weighted search (reference fts.rs behavior):
    camelCase splitting, multi-token AND, prefix match, name-over-body
    ranking."""
    from feathr_spark.registry.catalog import EntityType, Registry
    reg = Registry()
    reg.create_entity("proj__nycTaxiBatchSource", EntityType.Source,
                      {"name": "nycTaxiBatchSource", "path": "abfs://x"})
    reg.create_entity("proj__request_features", EntityType.Anchor,
                      {"name": "request_features"})
    reg.create_entity("proj__f_location_avg_fare", EntityType.AnchorFeature,
                      {"name": "f_location_avg_fare",
                       "transformation": {"def_expr": "cast_float(fare_amount)",
                                          "agg_func": "AVG"}})
    # camelCase split: `taxi` finds the source
    assert [e.qualified_name for e in reg.search("taxi")] == \
        ["proj__nycTaxiBatchSource"]
    # multi-token AND: both terms must hit the same entity
    assert [e.qualified_name for e in reg.search("avg fare")] == \
        ["proj__f_location_avg_fare"]
    assert reg.search("avg nonexistent") == []
    # prefix match: `loc` hits location
    assert any(e.qualified_name == "proj__f_location_avg_fare"
               for e in reg.search("loc"))
    # body tokens searchable, but name hits rank first for the same term
    hits = reg.search("fare")
    assert hits[0].qualified_name == "proj__f_location_avg_fare"
    # entity-type filter still applies
    assert reg.search("taxi", entity_type=EntityType.Anchor) == []
    # empty/no-token query returns nothing rather than everything
    assert reg.search("  ") == []


def test_registry_versioning():
    from feathr_spark.registry.catalog import EntityType, Registry
    reg = Registry()
    reg.create_entity("proj__f", EntityType.AnchorFeature, {"v": "one"})
    reg.create_entity("proj__f", EntityType.AnchorFeature, {"v": "two"})
    assert reg.get_entity("proj__f").attributes["v"] == "two"
    assert reg.get_entity("proj__f:latest").attributes["v"] == "two"
    assert reg.get_entity("proj__f:1").attributes["v"] == "one"


def test_materialization_backfill(spark, tmp_path):
    from feathr_spark.materialization import (
        BackfillTime, GenericSink, MaterializationSettings)
    from feathr_spark.source import TimeWindowParameters
    rows = [
        Row(k=1, t=ts("2024-01-01 06:00:00"), v=10.0),
        Row(k=1, t=ts("2024-01-02 06:00:00"), v=20.0),
        Row(k=2, t=ts("2024-01-02 07:00:00"), v=5.0),
    ]
    df = spark.createDataFrame(rows)
    p = FeathrProject("m", spark)
    key = TypedKey(key_column="k")
    src = DataFrameSource(name="src", df=df,
                          time_window_parameters=TimeWindowParameters("t"))
    p.register_anchor(FeatureAnchor(name="agg", source=src, features=[
        Feature(name="f_sum_1d",
                transform=WindowAggTransform("v", Aggregation.SUM, "1d"),
                key=[key]),
    ]))
    out_dir = str(tmp_path / "snap")
    bt = BackfillTime(start=ts("2024-01-01 12:00:00"),
                      end=ts("2024-01-03 12:00:00"), step="DAILY")
    assert len(bt.cutoffs()) == 2  # backwards from end while > start
    sink = GenericSink(format="parquet", path=out_dir, mode="append")
    written = p.materialize_features(MaterializationSettings(
        name="job", sinks=[sink], feature_names=["f_sum_1d"],
        backfill_time=bt))
    assert len(written) == 2
    got = spark.read.parquet(out_dir)
    rows_by = {(r.k, r.feathr_cutoff): r.f_sum_1d for r in got.collect()}
    # cutoff 01-02 12:00: window (01-01 12:00, 01-02 12:00]
    assert rows_by[(1, "2024-01-02 12:00:00")] == 20.0
    assert rows_by[(2, "2024-01-02 12:00:00")] == 5.0
    # cutoff 01-03 12:00: window (01-02 12:00, 01-03 12:00] — empty for both
    assert rows_by[(1, "2024-01-03 12:00:00")] is None
    assert rows_by[(2, "2024-01-03 12:00:00")] is None


def test_backfill_single_pass_one_scan(spark, tmp_path):
    """compute_backfill runs ALL cutoffs in one pass: the physical plan
    reads the source exactly once for 3 cutoffs (the per-cutoff
    formulation would scan 3 times), contains no join of any kind for a
    single-group job, and fans rows out with a narrow explode."""
    from feathr_spark.materialization import BackfillTime
    from feathr_spark.source import HdfsSource, TimeWindowParameters
    src_path = str(tmp_path / "src")
    spark.createDataFrame([
        Row(k=1, t=ts("2024-01-01 06:00:00"), v=10.0),
        Row(k=1, t=ts("2024-01-02 06:00:00"), v=20.0),
        Row(k=2, t=ts("2024-01-03 13:00:00"), v=5.0),
    ]).write.parquet(src_path)
    p = FeathrProject("m", spark)
    key = TypedKey(key_column="k")
    src = HdfsSource(name="src", path=src_path,
                     time_window_parameters=TimeWindowParameters("t"))
    p.register_anchor(FeatureAnchor(name="agg", source=src, features=[
        Feature(name="f_sum_1d",
                transform=WindowAggTransform("v", Aggregation.SUM, "1d"),
                key=[key]),
        Feature(name="f_latest", transform="v", key=[key]),
    ]))
    bt = BackfillTime(start=ts("2024-01-01 12:00:00"),
                      end=ts("2024-01-04 12:00:00"), step="DAILY")
    assert len(bt.cutoffs()) == 3
    out = p.compute_backfill(spark, ["f_sum_1d", "f_latest"], bt)
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert plan.count("Scan parquet") == 1, plan
    assert "Join" not in plan, plan
    assert "Generate explode" in plan, plan
    # values: per-cutoff parity with the old unioned-snapshot shape
    got = {(r.k, r.feathr_cutoff): (r.f_sum_1d, r.f_latest)
           for r in out.collect()}
    assert got[(1, "2024-01-02 12:00:00")] == (20.0, 20.0)
    assert got[(1, "2024-01-03 12:00:00")] == (None, 20.0)   # stale key kept
    assert got[(1, "2024-01-04 12:00:00")] == (None, 20.0)
    assert got[(2, "2024-01-04 12:00:00")] == (5.0, 5.0)
    # key 2's first event is after the 01-02 cutoff: no row for it there
    assert (2, "2024-01-02 12:00:00") not in got
    assert (2, "2024-01-03 12:00:00") not in got


def _multi_source_project(spark):
    """Two time-aware sources and one dimension source on key alias k.
    Key 3 has only events, key 4 only purchases, key 5 only a dim row."""
    from feathr_spark.source import TimeWindowParameters
    events = spark.createDataFrame([
        Row(k=1, t=ts("2024-01-01 06:00:00"), v=10.0, kind=1),
        Row(k=1, t=ts("2024-01-02 06:00:00"), v=20.0, kind=2),
        Row(k=1, t=ts("2024-01-03 09:00:00"), v=40.0, kind=1),
        Row(k=2, t=ts("2024-01-02 07:00:00"), v=5.0, kind=1),
        Row(k=3, t=ts("2024-01-01 08:00:00"), v=7.0, kind=2),
        Row(k=3, t=ts("2024-01-03 10:00:00"), v=9.0, kind=1),
    ])
    purchases = spark.createDataFrame([
        Row(k=1, t=ts("2024-01-02 11:00:00"), price=3.5),
        Row(k=2, t=ts("2024-01-01 01:00:00"), price=1.25),
        Row(k=2, t=ts("2024-01-03 02:00:00"), price=2.0),
        Row(k=4, t=ts("2024-01-02 03:00:00"), price=8.0),
    ])
    dims = spark.createDataFrame([
        Row(k=1, seg="a"), Row(k=2, seg="b"), Row(k=5, seg="c")])
    p = FeathrProject("multi", spark)
    key = [TypedKey(key_column="k")]
    W = WindowAggTransform
    ev = p.register_anchor(FeatureAnchor(
        name="ev",
        source=DataFrameSource(name="events", df=events,
                               time_window_parameters=TimeWindowParameters("t")),
        features=[
            Feature(name="ev_cnt_2d", transform=W("1", Aggregation.COUNT, "2d"), key=key),
            Feature(name="ev_kind1_cnt_2d", key=key, transform=W(
                "1", Aggregation.COUNT, "2d", filter="kind = 1")),
            Feature(name="ev_sum_1d", transform=W("v", Aggregation.SUM, "1d"), key=key),
            Feature(name="ev_first_2d", transform=W("v", Aggregation.NOP, "2d"), key=key),
            Feature(name="ev_dsum_3d", key=key, transform=W(
                "v", Aggregation.DECAY_SUM, "3d", agg_param=1.0)),
        ]))
    pu = p.register_anchor(FeatureAnchor(
        name="pu",
        source=DataFrameSource(name="purchases", df=purchases,
                               time_window_parameters=TimeWindowParameters("t")),
        features=[
            Feature(name="pu_cnt_2d", transform=W("1", Aggregation.COUNT, "2d"), key=key),
            Feature(name="pu_last_2d", transform=W("price", Aggregation.LATEST, "2d"),
                    key=key),
        ]))
    p.register_anchor(FeatureAnchor(
        name="dim", source=DataFrameSource(name="dims", df=dims),
        features=[Feature(name="seg", transform="seg", key=key)]))
    p.register_derived(DerivedFeature(
        name="ev_per_pu", transform="ev_sum_1d / greatest(pu_cnt_2d, 1)",
        input_features=[ev["ev_sum_1d"], pu["pu_cnt_2d"]]))
    return p


_MULTI_GROUPS = (("ev_cnt_2d", "ev_kind1_cnt_2d", "ev_sum_1d", "ev_first_2d",
                  "ev_dsum_3d"), ("pu_cnt_2d", "pu_last_2d"), ("seg",))
_MULTI_FEATURES = sum(_MULTI_GROUPS, ()) + ("ev_per_pu",)


def test_backfill_multi_source_matches_joined_snapshots(spark):
    """compute_backfill over three source groups equals the per-group
    formulation: single-group snapshots per cutoff, full-outer-joined on
    (key, cutoff). A key absent from a group at a cutoff reads NULL for
    that group's features (a COUNT too, not 0)."""
    import math
    from functools import reduce
    from feathr_spark.feature import FeathrError
    from feathr_spark.materialization import BackfillTime
    p = _multi_source_project(spark)
    bt = BackfillTime(start=ts("2024-01-01 12:00:00"),
                      end=ts("2024-01-04 12:00:00"), step="DAILY")
    cutoffs = bt.cutoffs()
    assert len(cutoffs) == 3
    out = p.compute_backfill(spark, list(_MULTI_FEATURES), bt)
    assert out.columns == ["k", *_MULTI_FEATURES, "feathr_cutoff"]

    per_cutoff = []
    for c in cutoffs:
        snaps = [p.compute_snapshot(spark, list(g), c) for g in _MULTI_GROUPS]
        per_cutoff.append(reduce(
            lambda a, b: a.join(b, on=["k", "feathr_cutoff"], how="full_outer"),
            snaps))
    want = reduce(lambda a, b: a.unionByName(b), per_cutoff).withColumn(
        "ev_per_pu", F.expr("ev_sum_1d / greatest(pu_cnt_2d, 1)"))

    def rows(df):
        return {(r.k, r.feathr_cutoff): r.asDict() for r in df.collect()}
    got, exp = rows(out), rows(want)
    assert got.keys() == exp.keys()
    for key, e in exp.items():
        g = got[key]
        assert math.isclose(g.pop("ev_dsum_3d") or 0.0,
                            e.pop("ev_dsum_3d") or 0.0, rel_tol=1e-12), key
        assert g == e, key
    # spot values: key 4 has only purchases, key 5 only a dim row
    assert got[(4, "2024-01-03 12:00:00")]["ev_cnt_2d"] is None
    assert got[(4, "2024-01-03 12:00:00")]["pu_cnt_2d"] == 1
    assert got[(5, "2024-01-02 12:00:00")]["seg"] == "c"
    assert got[(5, "2024-01-02 12:00:00")]["pu_cnt_2d"] is None
    assert got[(2, "2024-01-04 12:00:00")]["ev_cnt_2d"] == 0
    assert got[(1, "2024-01-03 12:00:00")]["ev_kind1_cnt_2d"] == 1

    q = FeathrProject("mismatch", spark)
    for name, alias in (("a", "k"), ("b", "other")):
        q.register_anchor(FeatureAnchor(
            name=name, source=DataFrameSource(
                name=name, df=spark.createDataFrame([Row(k=1, v=1.0)])),
            features=[Feature(name=f"f_{name}", transform="v",
                              key=[TypedKey(key_column="k", key_column_alias=alias)])]))
    with pytest.raises(FeathrError, match="must share key aliases"):
        q.compute_backfill(spark, ["f_a", "f_b"], bt)


def test_snapshot_rejects_group_by_and_limit(spark):
    """A snapshot holds one value per key, so a group_by or limit feature
    cannot be materialized: compute_snapshot raises, naming the feature,
    instead of writing the plain window aggregate."""
    from feathr_spark import TimeWindowParameters
    from feathr_spark.feature import FeathrError
    df = spark.createDataFrame([
        Row(k=1, g=1, t=ts("2024-01-01 00:00:00"), v=4.0),
        Row(k=1, g=2, t=ts("2024-01-01 01:00:00"), v=2.0)])
    p = FeathrProject("grouped", spark)
    key = [TypedKey(key_column="k")]
    p.register_anchor(FeatureAnchor(
        name="a", source=DataFrameSource(
            name="s", df=df, time_window_parameters=TimeWindowParameters("t")),
        features=[
            Feature(name="f_top", key=key, transform=WindowAggTransform(
                "v", Aggregation.SUM, "1d", group_by="g", limit=1)),
            Feature(name="f_limited", key=key, transform=WindowAggTransform(
                "v", Aggregation.SUM, "1d", limit=1)),
            Feature(name="f_sum", key=key, transform=WindowAggTransform(
                "v", Aggregation.SUM, "1d")),
        ]))
    cutoff = ts("2024-01-01 12:00:00")
    for name in ("f_top", "f_limited"):
        with pytest.raises(FeathrError, match=name):
            p.compute_snapshot(spark, ["f_sum", name], cutoff)
    assert [r.f_sum for r in p.compute_snapshot(
        spark, ["f_sum"], cutoff).collect()] == [6.0]


def test_backfill_multi_source_single_pass(spark, monkeypatch, count_jobs):
    """Two sources × three cutoffs: materialize_features loads each source
    once (the per-cutoff loop loaded each once per cutoff) and writes the
    sink once, and the backfill plan has one hash Exchange and no join. An
    empty backfill range writes nothing and returns []."""
    import re
    from feathr_spark.feature import FeathrError
    from feathr_spark.materialization import (
        BackfillTime, MaterializationSettings, Sink)
    from feathr_spark.source import Source
    p = _multi_source_project(spark)
    feats = ["ev_cnt_2d", "ev_sum_1d", "pu_cnt_2d", "ev_per_pu"]
    bt = BackfillTime(start=ts("2024-01-01 12:00:00"),
                      end=ts("2024-01-04 12:00:00"), step="DAILY")

    class Recording(Sink):
        def __init__(self):
            self.writes = []

        def write(self, df):
            self.writes.append(df.collect())

    loads = []
    real_load = Source.load
    monkeypatch.setattr(Source, "load",
                        lambda self, s: loads.append(self.name) or real_load(self, s))
    sink = Recording()
    written, jobs = count_jobs(lambda: p.materialize_features(
        MaterializationSettings(name="m", sinks=[sink], feature_names=feats,
                                backfill_time=bt)))
    assert sorted(loads) == ["events", "purchases"]
    assert written == bt.cutoffs()
    # one write per sink; each cutoff's slice of it is that cutoff's snapshot
    assert len(sink.writes) == 1
    rows = sink.writes[0]
    cuts = [c.strftime("%Y-%m-%d %H:%M:%S") for c in written]
    assert {r.feathr_cutoff for r in rows} == set(cuts)
    for cutoff, cut in zip(written, cuts):
        snap = p.compute_snapshot(spark, feats, cutoff)
        want = sorted(tuple(r) for r in snap.collect())
        assert want and sorted(tuple(r) for r in rows
                               if r.feathr_cutoff == cut) == want
    # the per-cutoff loop launched at least two jobs per cutoff (15 here)
    assert jobs < 2 * len(written), jobs

    plan = p.compute_backfill(spark, feats, bt)._jdf.queryExecution() \
        .executedPlan().toString()
    assert len(re.findall(r"Exchange hashpartitioning", plan)) == 1, plan
    assert "Join" not in plan, plan

    empty = BackfillTime(start=ts("2024-01-04 12:00:00"),
                         end=ts("2024-01-04 12:00:00"), step="DAILY")
    sink = Recording()
    assert p.materialize_features(MaterializationSettings(
        name="m", sinks=[sink], feature_names=feats,
        backfill_time=empty)) == []
    assert sink.writes == []
    with pytest.raises(FeathrError):
        p.compute_backfill(spark, feats, empty)


def test_materialize_releases_cache(spark, tmp_path):
    """A multi-sink backfill leaves nothing cached: the frame is persisted
    at most once and released after the writes, also when a sink raises."""
    from feathr_spark.materialization import (
        BackfillTime, GenericSink, MaterializationSettings, Sink)
    p = _multi_source_project(spark)
    bt = BackfillTime(start=ts("2024-01-02 12:00:00"),
                      end=ts("2024-01-04 12:00:00"), step="DAILY")
    spark.catalog.clearCache()
    cache = spark._jsparkSession.sharedState().cacheManager()
    # RDDs other tests left persisted may be cleaned meanwhile, never added
    persisted = lambda: set(spark.sparkContext._jsc.getPersistentRDDs().keys())
    before = persisted()

    class Failing(Sink):
        def write(self, df):
            raise RuntimeError("sink down")

    sinks = [GenericSink(path=str(tmp_path / "a"), mode="append"),
             GenericSink(path=str(tmp_path / "b"), mode="append")]
    assert len(p.materialize_features(MaterializationSettings(
        name="m", sinks=sinks, feature_names=["ev_cnt_2d", "seg"],
        backfill_time=bt))) == 2
    assert spark.read.parquet(str(tmp_path / "b")).count() == \
        spark.read.parquet(str(tmp_path / "a")).count() > 0
    assert cache.isEmpty()
    assert persisted() <= before

    with pytest.raises(RuntimeError, match="sink down"):
        p.materialize_features(MaterializationSettings(
            name="m", sinks=[GenericSink(path=str(tmp_path / "c")), Failing()],
            feature_names=["ev_cnt_2d", "seg"], backfill_time=bt))
    assert cache.isEmpty()
    assert persisted() <= before


_SINK_FEATURES = ["ev_cnt_2d", "ev_sum_1d", "pu_cnt_2d", "pu_last_2d", "seg",
                  "ev_per_pu"]


def _three_cutoffs():
    from feathr_spark.materialization import BackfillTime
    return BackfillTime(start=ts("2024-01-01 12:00:00"),
                        end=ts("2024-01-04 12:00:00"), step="DAILY")


def _by_key_cutoff(df):
    return {(r.k, r.feathr_cutoff): r.asDict() for r in df.collect()}


def _materialize(p, bt, *sinks):
    from feathr_spark.materialization import MaterializationSettings
    return p.materialize_features(MaterializationSettings(
        name="m", sinks=list(sinks), feature_names=_SINK_FEATURES,
        backfill_time=bt))


def test_backfill_overwrite_sink_holds_every_cutoff(spark, tmp_path):
    """A default GenericSink replaces what its path held with ALL cutoffs
    of the backfill (one slice write per cutoff left only the oldest)."""
    from feathr_spark.materialization import GenericSink
    p = _multi_source_project(spark)
    bt = _three_cutoffs()
    path = str(tmp_path / "out")
    p.compute_snapshot(spark, _SINK_FEATURES, ts("2024-01-01 18:00:00")) \
        .write.parquet(path)
    assert _materialize(p, bt, GenericSink(path=path)) == bt.cutoffs()
    want = _by_key_cutoff(p.compute_backfill(spark, _SINK_FEATURES, bt))
    assert {c for _, c in want} == {c.strftime("%Y-%m-%d %H:%M:%S")
                                   for c in bt.cutoffs()}
    assert _by_key_cutoff(spark.read.parquet(path)) == want


def test_backfill_error_mode_sink_writes_once(spark, tmp_path):
    """mode="error" takes the whole backfill in one write (a second slice
    write into the same path raised PATH_ALREADY_EXISTS)."""
    from feathr_spark.materialization import GenericSink
    p = _multi_source_project(spark)
    bt = _three_cutoffs()
    path = str(tmp_path / "out")
    assert _materialize(p, bt, GenericSink(path=path, mode="error")) \
        == bt.cutoffs()
    assert _by_key_cutoff(spark.read.parquet(path)) == \
        _by_key_cutoff(p.compute_backfill(spark, _SINK_FEATURES, bt))


def test_backfill_redis_sink_keeps_newest_cutoff(spark, tmp_path):
    """A RedisSink holds one hash per entity key, so a backfill writes it
    the newest cutoff only: every key reads its newest-cutoff values."""
    import json
    from feathr_spark.materialization import RedisSink

    class LoggedRedis:
        """Each pipeline appends its HSETs to one shared log in execution
        order (executors run in other processes); replaying the log into a
        dict gives the hashes a server would hold."""

        def __init__(self, log):
            self.log, self.calls = log, []

        def pipeline(self):
            return self

        def hset(self, name, mapping=None):
            self.calls.append([name, mapping])

        def execute(self):
            import fcntl
            import json
            with open(self.log, "a") as f:
                fcntl.flock(f, fcntl.LOCK_EX)
                f.write("".join(json.dumps(c) + "\n" for c in self.calls))
            self.calls = []

    p = _multi_source_project(spark)
    bt = _three_cutoffs()
    log = str(tmp_path / "hset.jsonl")
    sink = RedisSink(table_name="t", client_factory=lambda: LoggedRedis(log))
    assert _materialize(p, bt, sink) == bt.cutoffs()
    store = {}
    with open(log) as f:
        for line in f:
            name, mapping = json.loads(line)
            store.setdefault(name, {}).update(mapping)
    newest = p.compute_snapshot(spark, _SINK_FEATURES, bt.cutoffs()[0])
    want = dict(RedisSink.encode_row(r.asDict(), ["k"], "t")
                for r in newest.collect())
    assert len(want) == 5
    assert store == want


def test_backfill_jobs_do_not_grow_with_cutoffs(spark, tmp_path, count_jobs):
    """A single-sink backfill launches as many Spark jobs at 6 cutoffs as
    at 3 (one slice write per cutoff added jobs per cutoff)."""
    from feathr_spark.materialization import BackfillTime, GenericSink
    p = _multi_source_project(spark)
    jobs = {}
    for n in (3, 6):
        end = ts("2024-01-03 12:00:00")
        bt = BackfillTime(start=end - dt.timedelta(hours=n), end=end,
                          step="HOURLY")
        path = str(tmp_path / str(n))
        written, jobs[n] = count_jobs(
            lambda: _materialize(p, bt, GenericSink(path=path, mode="append")))
        assert len(written) == n
        assert spark.read.parquet(path).select("feathr_cutoff").distinct() \
            .count() == n
    assert jobs[3] == jobs[6], jobs


def test_materialize_small_backfill_one_file(spark, tmp_path):
    """A small single-sink backfill (3 cutoffs, 200 keys of a parquet
    source) is one write of one parquet file holding every cutoff, and each
    cutoff's slice is that cutoff's snapshot."""
    import glob
    import pyarrow.parquet as pq
    from feathr_spark.materialization import (
        GenericSink, MaterializationSettings)
    from feathr_spark.source import HdfsSource, TimeWindowParameters
    src_path = str(tmp_path / "src")
    spark.createDataFrame([
        Row(k=k, t=dt.datetime(2024, 1, 1) + dt.timedelta(hours=7 * i + k % 7),
            v=float(k * i))
        for k in range(200) for i in range(1, 4)]).write.parquet(src_path)
    p = FeathrProject("sized", spark)
    key = [TypedKey(key_column="k")]
    p.register_anchor(FeatureAnchor(
        name="agg", source=HdfsSource(
            name="src", path=src_path,
            time_window_parameters=TimeWindowParameters("t")),
        features=[
            Feature(name="v_sum_1d", key=key,
                    transform=WindowAggTransform("v", Aggregation.SUM, "1d")),
            Feature(name="v_cnt_2d", key=key,
                    transform=WindowAggTransform("1", Aggregation.COUNT, "2d")),
            Feature(name="v_latest", transform="v", key=key),
        ]))
    feats = ["v_sum_1d", "v_cnt_2d", "v_latest"]
    bt = _three_cutoffs()
    out = str(tmp_path / "out")
    cutoffs = p.materialize_features(MaterializationSettings(
        name="sized", feature_names=feats, backfill_time=bt,
        sinks=[GenericSink(path=out)]))
    assert cutoffs == bt.cutoffs() and len(cutoffs) == 3
    files = glob.glob(f"{out}/part-*.parquet")
    assert len(files) == 1, files
    assert set(pq.read_table(files[0], columns=["feathr_cutoff"])
               .column(0).to_pylist()) == {
        c.strftime("%Y-%m-%d %H:%M:%S") for c in cutoffs}
    got = spark.read.parquet(out)
    for c in cutoffs:
        snap = p.compute_snapshot(spark, feats, c)
        slice_ = got.where(F.col("feathr_cutoff") == c.strftime(
            "%Y-%m-%d %H:%M:%S")).select(*snap.columns)
        assert sorted(slice_.collect()) == sorted(snap.collect())


def test_key_alias_reuse(spark):
    """with_key: one feature joined under two different observation key
    columns (viewer/viewee pattern, reference feature.rs:224-241)."""
    dims = spark.createDataFrame([Row(uid=1, score=0.9), Row(uid=2, score=0.5)])
    obs = spark.createDataFrame([Row(viewer=1, viewee=2)])
    p = FeathrProject("t", spark)
    key = TypedKey(key_column="uid")
    anchor = FeatureAnchor(
        name="u", source=DataFrameSource(name="users", df=dims),
        features=[Feature(name="f_score", transform="score", key=[key])])
    p.register_anchor(anchor)
    from feathr_spark import FeatureQuery
    out = p.get_offline_features(
        obs, [FeatureQuery(["f_score"], key=["viewer"]),
              ])
    r = out.collect()[0]
    assert r.f_score == 0.9


def test_as_feature_viewer_viewee_double_join(spark):
    """as_feature + with_key: the full viewer/viewee pattern — the SAME
    feature joined twice in one query, each occurrence under its own key
    alias AND its own column name, then a derived feature over both
    copies (reference feature.rs:230-241, 330-351)."""
    from feathr_spark import DerivedFeature, FeatureQuery
    dims = spark.createDataFrame([Row(uid=1, score=0.9), Row(uid=2, score=0.5)])
    obs = spark.createDataFrame([Row(viewer=1, viewee=2)])
    p = FeathrProject("t", spark)
    base = Feature(name="f_score", transform="score",
                   key=[TypedKey(key_column="uid")])
    src = DataFrameSource(name="users", df=dims)
    p.register_anchor(FeatureAnchor(
        name="u_viewer", source=src,
        features=[base.with_key(["viewer"]).as_feature("f_score_viewer")]))
    p.register_anchor(FeatureAnchor(
        name="u_viewee", source=src,
        features=[base.with_key(["viewee"]).as_feature("f_score_viewee")]))
    p.register_derived(DerivedFeature(
        name="f_affinity", transform="f_score_viewer * f_score_viewee",
        input_features=["f_score_viewer", "f_score_viewee"]))
    # no query-level key override: each aliased copy carries its own
    # observation key alias from with_key
    out = p.get_offline_features(
        obs, FeatureQuery(["f_score_viewer", "f_score_viewee", "f_affinity"]))
    r = out.collect()[0]
    assert r.f_score_viewer == 0.9 and r.f_score_viewee == 0.5
    assert abs(r.f_affinity - 0.45) < 1e-9
    # introspection getters (reference python/src/lib.rs surface)
    assert set(p.get_anchor_features()) == {"f_score_viewer",
                                            "f_score_viewee"}
    assert p.get_anchor_group("u_viewer").source.name == "users"
    assert "users" in p.get_sources()
    assert p.get_derived_feature("f_affinity").name == "f_affinity"
    assert p.get_input_context().is_input_context
    # anchor-group __getitem__ (lib.rs AnchorGroup::__getitem__)
    assert p.get_anchor_group("u_viewer")["f_score_viewer"].name == \
        "f_score_viewer"
    with pytest.raises(KeyError):
        p.get_anchor_group("u_viewer")["nope"]
    from feathr_spark.feature import FeathrError
    with pytest.raises(FeathrError):
        p.get_source("nope")
    with pytest.raises(FeathrError):
        p.get_anchor_group("nope")
    with pytest.raises(FeathrError):
        p.get_derived_feature("nope")


def test_registry_project_roundtrip(spark):
    """Entry point C: save a full project to the registry, reconstruct it,
    and get identical query results (reference project.rs:742-846)."""
    import datetime as dt
    from feathr_spark import (
        Aggregation, Feature, FeatureAnchor, FeatureQuery, FeathrProject,
        HdfsSource, INPUT_CONTEXT, ObservationSettings, TimeWindowParameters,
        TypedKey, WindowAggTransform, DerivedFeature,
    )
    from feathr_spark.registry.catalog import Registry
    from feathr_spark.registry.roundtrip import load_project, save_project

    sf = "/root/testdata/sf0.001"
    p = FeathrProject("rt", spark)
    p.register_anchor(FeatureAnchor(name="pt", source=INPUT_CONTEXT, features=[
        Feature(name="f_total", transform="o_totalprice")]))
    key = TypedKey(key_column="o_custkey")
    p.register_anchor(FeatureAnchor(
        name="w",
        source=HdfsSource(name="orders", path=f"{sf}/orders.parquet",
                          time_window_parameters=TimeWindowParameters("o_orderdate")),
        features=[Feature(name="f_avg_90d", transform=WindowAggTransform(
            "o_totalprice", Aggregation.AVG, "90d"), key=[key])]))
    p.register_derived(DerivedFeature(
        name="f_ratio", transform="f_total / f_avg_90d",
        input_features=["f_total", "f_avg_90d"]))

    reg = Registry()
    save_project(reg, p)
    p2 = load_project(reg, "rt", spark)

    assert set(p2.sources) == set(p.sources)
    assert set(p2.anchors) == set(p.anchors)
    assert set(p2.derived) == set(p.derived)

    obs = ObservationSettings(observation_path=f"{sf}/orders.parquet",
                              timestamp_column="o_orderdate")
    q = FeatureQuery(["f_total", "f_avg_90d", "f_ratio"])
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    a = sorted(tuple(r) for r in p.get_offline_features(obs, q)
               .select("o_orderkey", "f_ratio").collect())
    b = sorted(tuple(r) for r in p2.get_offline_features(obs, q)
               .select("o_orderkey", "f_ratio").collect())
    assert a == b and len(a) > 0


def test_stream_latest_features_stateful(spark, tmp_path):
    """applyInPandasWithState per-key latest view: upserts only when a
    newer event wins; late (older) rows are ignored."""
    from feathr_spark.streaming.stateful import stream_latest_features
    src_dir = tmp_path / "stateful_in"
    src_dir.mkdir()
    ckpt = str(tmp_path / "ckpt")
    df1 = spark.createDataFrame([
        Row(k=1, t=ts("2024-01-01 00:00:10"), v=1.0),
        Row(k=1, t=ts("2024-01-01 00:00:50"), v=3.0),
        Row(k=2, t=ts("2024-01-01 00:00:20"), v=7.0),
    ])
    df1.write.parquet(str(src_dir / "b1.parquet"))
    stream = spark.readStream.schema(df1.schema).parquet(str(src_dir) + "/*")
    out = stream_latest_features(stream, ["k"], "t", ["v"])
    q = (out.writeStream.format("memory").queryName("t_state")
         .outputMode("update").option("checkpointLocation", ckpt).start())
    try:
        q.processAllAvailable()
        rows = {r.k: r for r in spark.sql("select * from t_state").collect()}
        assert rows["1"].v == 3.0 and rows["2"].v == 7.0

        # batch 2: newer row for k=1, LATE (older) row for k=2 -> ignored
        spark.createDataFrame([
            Row(k=1, t=ts("2024-01-01 00:02:00"), v=9.0),
            Row(k=2, t=ts("2024-01-01 00:00:05"), v=0.5),
        ]).write.parquet(str(src_dir / "b2.parquet"))
        q.processAllAvailable()
        allrows = spark.sql("select * from t_state").collect()
        latest = {}
        for r in sorted(allrows, key=lambda r: r.ts_ms):
            latest[r.k] = r.v
        assert latest["1"] == 9.0     # upserted
        assert latest["2"] == 7.0     # late row ignored, no new emit
    finally:
        q.stop()


def test_stream_session_window_stats(spark, tmp_path):
    """Native session_window sessions on a stream match the batch
    sessionize semantics (modulo the documented half-open boundary):
    3 events within 30m gaps = one session; a 36m gap opens a new one."""
    from feathr_spark.streaming.job import (
        run_streaming_query, stream_session_stats,
    )
    src_dir = str(tmp_path / "stream_sess_in")
    df = spark.createDataFrame([
        Row(user_id=1, t=ts("2024-01-01 00:00:00"), v=1.0),
        Row(user_id=1, t=ts("2024-01-01 00:10:00"), v=2.0),
        Row(user_id=1, t=ts("2024-01-01 00:29:00"), v=3.0),
        Row(user_id=1, t=ts("2024-01-01 01:05:00"), v=4.0),
        Row(user_id=2, t=ts("2024-01-01 00:07:00"), v=9.0),
    ])
    df.write.parquet(src_dir)
    stream = spark.readStream.schema(df.schema).parquet(src_dir)
    out = stream_session_stats(stream, "user_id", "t", gap="30m",
                               value_col="v")
    run_streaming_query(out, format="memory", query_name="t_sess",
                        output_mode="complete", timeout_ms=0)
    rows = sorted(spark.sql("select * from t_sess").collect(),
                  key=lambda r: (r.user_id, r.session_start))
    assert [(r.user_id, r.n_events, r.sum_v) for r in rows] == [
        (1, 3, 6.0), (1, 1, 4.0), (2, 1, 9.0)]
    s1 = rows[0]
    assert s1.session_start == ts("2024-01-01 00:00:00")
    # session end = last event + gap (half-open)
    assert s1.session_end == ts("2024-01-01 00:59:00")


def test_stream_incremental_minhash_ingestion(spark, tmp_path):
    """Streaming corpus ingestion: each micro-batch builds its index
    rows, pairs against the ACCUMULATED index via
    minhash_pairs_incremental, then joins the index — a pair is found
    exactly when its second member arrives, so the union over batches
    equals the one-shot result regardless of batch order."""
    from feathr_spark.operators.dedup import (
        minhash_index, minhash_lsh_pairs, minhash_pairs_incremental)
    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet") \
        .select("doc_id", "text")
    src_dir, idx_dir = str(tmp_path / "in"), str(tmp_path / "idx")
    # two files -> two micro-batches (maxFilesPerTrigger=1)
    docs.where("doc_id < 250").coalesce(1).write.parquet(src_dir)
    docs.where("doc_id >= 250").coalesce(1).write.parquet(
        src_dir, mode="append")

    kw = dict(num_perm=64, bands=21, threshold=0.7)
    found = []

    def ingest(batch_df, batch_id):
        idx_new = minhash_index(batch_df, "text", "doc_id",
                                num_perm=64, shingle_k=5).localCheckpoint()
        try:
            stored = batch_df.sparkSession.read.parquet(idx_dir)
            pairs = minhash_pairs_incremental(stored, idx_new, **kw)
        except Exception:  # first batch: empty index
            pairs = minhash_pairs_incremental(
                idx_new.limit(0), idx_new, **kw)
        found.extend((r.id_a, r.id_b, r.jaccard) for r in pairs.collect())
        idx_new.write.mode("append").parquet(idx_dir)

    stream = (spark.readStream.schema(docs.schema)
              .option("maxFilesPerTrigger", 1).parquet(src_dir))
    q = (stream.writeStream.foreachBatch(ingest)
         .option("checkpointLocation", str(tmp_path / "ckpt"))
         .trigger(availableNow=True).start())
    q.awaitTermination(120)

    one_shot = {(r.id_a, r.id_b): r.jaccard for r in minhash_lsh_pairs(
        docs, "text", "doc_id", shingle_k=5, **kw).collect()}
    accumulated = {(a, b): j for a, b, j in found}
    assert accumulated == one_shot and len(one_shot) > 0


def test_stream_dedup_keeps_first_within_watermark(spark, tmp_path):
    """Streaming exact dedup: duplicates (same normalized text) within
    the watermark horizon collapse to one event; distinct texts pass.
    State is the md5 fingerprint, evicted past the watermark."""
    from feathr_spark.streaming.job import run_streaming_query, stream_dedup
    src_dir = str(tmp_path / "stream_dedup_in")
    df = spark.createDataFrame([
        Row(event_id=1, t=ts("2024-01-01 00:00:00"), text="Hello  World"),
        Row(event_id=2, t=ts("2024-01-01 00:01:00"), text="hello world "),
        Row(event_id=3, t=ts("2024-01-01 00:02:00"), text="different doc"),
        Row(event_id=4, t=ts("2024-01-01 00:03:00"), text="HELLO WORLD"),
    ])
    df.write.parquet(src_dir)
    stream = spark.readStream.schema(df.schema).parquet(src_dir)
    out = stream_dedup(stream, text_col="text", ts_col="t",
                       watermark="10 minutes")
    assert out.isStreaming and "__fp" not in out.columns
    run_streaming_query(out, format="memory", query_name="t_dedup",
                        timeout_ms=0)
    rows = spark.sql("select * from t_dedup").collect()
    # one survivor per distinct normalized content; ids 2 and 4 dropped
    texts = sorted(r.text.lower().strip() for r in rows)
    assert len(rows) == 2
    assert texts[0] == "different doc"
    # key-column variant + arg validation
    out2 = stream_dedup(stream, dedup_cols=["event_id"], ts_col="t")
    assert out2.isStreaming
    with pytest.raises(ValueError):
        stream_dedup(stream, dedup_cols=["event_id"], text_col="text")
    with pytest.raises(ValueError):
        stream_dedup(stream)


def test_stream_interval_join_matches_batch_range_join(spark, tmp_path):
    """Stream-stream interval join result == the batch range_join on the
    same data (inner, with an equi key), proving the watermarked streaming
    formulation computes the batch semantics."""
    from feathr_spark.streaming.job import (run_streaming_query,
                                            stream_interval_join)
    from feathr_spark.operators.rangejoin import range_join

    sig = spark.createDataFrame([
        Row(sid=1, u=1, sts=ts("2024-01-01 00:00:00")),
        Row(sid=2, u=2, sts=ts("2024-01-01 00:10:00")),
        Row(sid=3, u=1, sts=ts("2024-01-01 01:00:00")),
    ])
    pur = spark.createDataFrame([
        Row(pid=10, u=1, pts=ts("2024-01-01 00:05:00")),   # sid 1
        Row(pid=11, u=2, pts=ts("2024-01-01 00:20:00")),   # sid 2
        Row(pid=12, u=1, pts=ts("2024-01-01 01:29:59")),   # sid 3 (29:59 in)
        Row(pid=13, u=1, pts=ts("2024-01-01 02:00:00")),   # no match
        Row(pid=14, u=2, pts=ts("2024-01-01 00:05:00")),   # u mismatch for sid1
    ])
    d1, d2 = str(tmp_path / "sig_in"), str(tmp_path / "pur_in")
    sig.write.parquet(d1)
    pur.write.parquet(d2)
    s_sig = spark.readStream.schema(sig.schema).parquet(d1)
    s_pur = spark.readStream.schema(pur.schema).parquet(d2)

    out = stream_interval_join(s_pur, s_sig, "pts", "sts", 1800,
                               on=["u"], watermark="5 minutes")
    run_streaming_query(out, format="memory", query_name="t_sj",
                        output_mode="append", timeout_ms=0)
    got = {(r.sid, r.pid) for r in spark.sql("select * from t_sj").collect()}

    batch_iv = sig.select("sid", "u", F.col("sts").alias("start_ts"),
                          (F.col("sts") + F.expr("INTERVAL 30 MINUTES"))
                          .alias("end_ts"))
    batch = range_join(pur.select("pid", "u", "pts"), batch_iv,
                       "pts", "start_ts", "end_ts",
                       bin_width_s=1800, on=["u"])
    expect = {(r.sid, r.pid) for r in batch.collect()}
    assert got == expect == {(1, 10), (2, 11), (3, 12)}

    with pytest.raises(ValueError):
        stream_interval_join(s_pur, s_sig, "pts", "sts", 1800, how="full")


def test_stream_decay_counters_match_batch_decay(spark, tmp_path):
    """Streaming decayed counters: two micro-batches (the second carrying
    a LATE event) converge to exactly the batch DECAY_SUM at the same
    reference instant — the rescale-merge is lossless."""
    import time as _time
    from feathr_spark.streaming.stateful import stream_decay_counters

    src_dir = tmp_path / "decay_stream_in"
    src_dir.mkdir()
    base = ts("2024-01-01 00:00:00")
    b1 = spark.createDataFrame([
        Row(k="a", t=base, v=10.0),
        Row(k="a", t=ts("2024-01-03 00:00:00"), v=20.0),
    ])
    b2 = spark.createDataFrame([               # late: before the ref
        Row(k="a", t=ts("2024-01-02 00:00:00"), v=40.0),
    ])
    b1.write.parquet(str(src_dir / "f1.parquet"))
    _time.sleep(1.1)                           # distinct mtimes -> 2 batches
    b2.write.parquet(str(src_dir / "f2.parquet"))

    stream = (spark.readStream.schema(b1.schema)
              .option("maxFilesPerTrigger", 1)
              .parquet(str(src_dir) + "/*"))
    out = stream_decay_counters(stream, ["k"], "t", "v",
                                half_life_days=1.0)
    q = (out.writeStream.format("memory").queryName("t_decay")
         .outputMode("update").start())
    q.processAllAvailable()
    q.stop()
    got = sorted(r.decayed_sum
                 for r in spark.sql("select * from t_decay").collect())
    # batch1 state: 10*0.5^2 + 20 = 22.5 ; after late merge: + 40*0.5^1
    assert any(abs(g - 22.5) < 1e-9 for g in got)
    assert any(abs(g - 42.5) < 1e-9 for g in got)

    # cross-check the final value against the batch DECAY_SUM operator
    from feathr_spark.model import Aggregation, WindowAggTransform
    from feathr_spark.operators.point_in_time import (
        PitSource, WindowFeatureSpec, point_in_time_join)
    allev = b1.unionByName(b2)
    obs = spark.createDataFrame([Row(k="a",
                                     ots=ts("2024-01-03 00:00:00"))])
    batch = point_in_time_join(obs, "ots", [PitSource(
        allev, ["k"], ["k"], "t",
        [WindowFeatureSpec("ds", WindowAggTransform(
            "v", Aggregation.DECAY_SUM, "30d", agg_param=1.0))])]
    ).collect()[0].ds
    assert abs(batch - max(got)) < 1e-9


def test_stream_features_to_online_store_e2e(spark, tmp_path):
    """End-to-end streaming materialization into the online store: a
    file-stream of events -> stateful latest-feature view -> foreachBatch
    RedisSink write (injected in-memory client) — the reference's
    streaming:true online-refresh flow with every hop value-checked."""
    import json
    import os
    from feathr_spark.materialization import RedisSink
    from feathr_spark.streaming.stateful import stream_latest_features

    out_dir = str(tmp_path / "online_calls")
    os.makedirs(out_dir)

    class _FakeRedis:
        def __init__(self):
            self.calls = []

        def pipeline(self):
            return self

        def hset(self, name, mapping=None):
            self.calls.append({"name": name, "mapping": mapping})

        def execute(self):
            import uuid
            p = os.path.join(out_dir, f"{uuid.uuid4().hex}.jsonl")
            with open(p, "w") as f:
                for c in self.calls:
                    f.write(json.dumps(c) + "\n")
            self.calls = []

    src = str(tmp_path / "stream_online_in")
    df = spark.createDataFrame([
        Row(key_user="1", t=ts("2024-01-01 00:00:10"), f_bal=5.0),
        Row(key_user="1", t=ts("2024-01-01 00:02:00"), f_bal=9.0),
        Row(key_user="2", t=ts("2024-01-01 00:01:00"), f_bal=7.0),
    ])
    df.write.parquet(src)
    stream = spark.readStream.schema(df.schema).parquet(src)
    latest = stream_latest_features(stream, ["key_user"], "t", ["f_bal"])

    sink = RedisSink(table_name="feat", streaming=True,
                     client_factory=_FakeRedis)
    q = (latest.writeStream.outputMode("update")
         .foreachBatch(lambda batch, _bid: sink.write(batch))
         .start())
    q.processAllAvailable()
    q.stop()

    latest_row = {}
    for fn in sorted(os.listdir(out_dir)):
        with open(os.path.join(out_dir, fn)) as f:
            for line in f:
                c = json.loads(line)
                latest_row[c["name"]] = c["mapping"]
    assert set(latest_row) == {"feat:1", "feat:2"}
    assert json.loads(latest_row["feat:1"]["f_bal"]) == 9.0
    assert json.loads(latest_row["feat:2"]["f_bal"]) == 7.0


def test_stream_quantile_monitor_matches_batch_kll(spark, tmp_path):
    """Streaming KLL percentile monitor: per-window p50/p95 equal the
    batch sketch over the same slice (exact mode: n < sketch capacity),
    and n is the exact event count. Uses complete mode so the still-open
    window is visible too."""
    from feathr_spark.streaming.job import (
        run_streaming_query, stream_quantile_monitor,
    )
    src_dir = str(tmp_path / "stream_kll_in")
    rows = [Row(k="svc", t=ts(f"2024-01-01 00:{m:02d}:00"), v=float(m))
            for m in range(30)]          # window 1: 0..14, window 2: 15..29
    df = spark.createDataFrame(rows)
    df.write.parquet(src_dir)
    stream = spark.readStream.schema(df.schema).parquet(src_dir)
    out = stream_quantile_monitor(stream, ["k"], ts_col="t",
                                  value_col="v", window="15m",
                                  watermark="1 minute",
                                  fracs=(0.5, 0.95))
    run_streaming_query(out, format="memory", query_name="t_kll",
                        output_mode="complete", timeout_ms=0)
    got = {r.window_start: r for r in spark.sql("select * from t_kll")
           .collect()}
    assert len(got) == 2
    w1 = got[ts("2024-01-01 00:00:00")]
    w2 = got[ts("2024-01-01 00:15:00")]
    assert (w1.n, w2.n) == (15, 15)
    assert w1.window_end == ts("2024-01-01 00:15:00")
    # exact mode: sketch holds all 15 values -> exact order statistics,
    # identical to the batch sketch over the same slice
    batch = (df.groupBy(F.window("t", "15 minutes").alias("__w"))
             .agg(F.kll_sketch_agg_double("v", F.lit(200)).alias("s"))
             .select(F.col("__w.start").alias("ws"),
                     F.kll_sketch_get_quantile_double("s", F.lit(0.5))
                     .alias("p50"),
                     F.kll_sketch_get_quantile_double("s", F.lit(0.95))
                     .alias("p95")))
    ref = {r.ws: r for r in batch.collect()}
    for ws, r in got.items():
        assert (r.p50, r.p95) == (ref[ws].p50, ref[ws].p95)
    assert w1.p50 == 7.0 and w2.p50 == 22.0


def test_stream_heavy_hitters_closed_window_equals_batch(spark, tmp_path):
    """The MG state of a CLOSED window equals the batch heavy_hitters
    summary over the same slice (exact regime: capacity >= vocabulary),
    and state is evicted after emission (bounded-state contract)."""
    from feathr_spark.operators.sketch import heavy_hitters
    from feathr_spark.streaming.stateful import stream_heavy_hitters
    src = tmp_path / "hh_stream"
    src.mkdir()
    t0 = ts("2024-01-01 00:10:00")
    w1 = [Row(ts=t0, text="apple apple banana"),
          Row(ts=ts("2024-01-01 00:20:00"), text="apple fig banana")]
    # batch 2 sits two hours later: watermark (10 min) passes the end of
    # window 1 and must close it
    w2 = [Row(ts=ts("2024-01-01 02:30:00"), text="zebra zebra")]
    spark.createDataFrame(w1).write.parquet(str(src / "b1.parquet"))
    schema = spark.read.parquet(str(src / "b1.parquet")).schema
    stream = spark.readStream.schema(schema).parquet(str(src) + "/*")
    out = stream_heavy_hitters(stream, window="1h", k=5, capacity=64)
    q = (out.writeStream.format("memory").queryName("t_hh")
         .outputMode("append")
         .option("checkpointLocation", str(tmp_path / "hh_ckpt")).start())
    try:
        q.processAllAvailable()
        assert spark.sql("select * from t_hh").count() == 0  # still open
        spark.createDataFrame(w2).write.parquet(str(src / "b2.parquet"))
        q.processAllAvailable()
        # one more batch so the timeout (evaluated at batch start) fires
        spark.createDataFrame(
            [Row(ts=ts("2024-01-01 03:30:00"), text="tail")]
        ).write.parquet(str(src / "b3.parquet"))
        q.processAllAvailable()
        rows = spark.sql("select * from t_hh").collect()
    finally:
        q.stop()
    w1_start = int(ts("2024-01-01 00:00:00").timestamp() * 1000)
    got_w1 = {(r.term, r.est_count, r.max_err)
              for r in rows if r.window_start == w1_start}
    got_other = {(r.term, r.est_count) for r in rows
                 if r.window_start != w1_start}
    batch = heavy_hitters(spark.createDataFrame(w1), "text",
                          k=5, capacity=64)
    want = {(r.term, r.est_count, r.max_err) for r in batch.collect()}
    assert got_w1 == want and ("apple", 3, 0) in got_w1
    # window 2 (zebra) closed too once the tail batch advanced the
    # watermark past its end
    assert got_other == {("zebra", 2)}


def test_stream_distinct_monitor_closed_window_equals_batch(spark,
                                                           tmp_path):
    """A closed window's distinct count equals batch countDistinct on
    the same slice in the exact regime (distinct <= k), and the KMV
    estimator stays within its error band when saturated."""
    from feathr_spark.streaming.stateful import stream_distinct_monitor
    src = tmp_path / "dm_stream"
    src.mkdir()
    w1 = [Row(ts=ts("2024-01-01 00:10:00"), user_id=f"u{i % 7}")
          for i in range(30)]
    w2 = [Row(ts=ts("2024-01-01 02:30:00"), user_id=f"v{i}")
          for i in range(40)]
    spark.createDataFrame(w1).write.parquet(str(src / "b1.parquet"))
    schema = spark.read.parquet(str(src / "b1.parquet")).schema
    stream = spark.readStream.schema(schema).parquet(str(src) + "/*")
    out = stream_distinct_monitor(stream, window="1h", k=16)
    q = (out.writeStream.format("memory").queryName("t_dm")
         .outputMode("append")
         .option("checkpointLocation", str(tmp_path / "dm_ckpt")).start())
    try:
        q.processAllAvailable()
        assert spark.sql("select * from t_dm").count() == 0
        spark.createDataFrame(w2).write.parquet(str(src / "b2.parquet"))
        q.processAllAvailable()
        spark.createDataFrame(
            [Row(ts=ts("2024-01-01 03:30:00"), user_id="tail")]
        ).write.parquet(str(src / "b3.parquet"))
        q.processAllAvailable()
        rows = {r.window_start: r for r in
                spark.sql("select * from t_dm").collect()}
    finally:
        q.stop()
    w1_start = int(ts("2024-01-01 00:00:00").timestamp() * 1000)
    w2_start = int(ts("2024-01-01 02:00:00").timestamp() * 1000)
    # window 1: 7 distinct <= k -> exact
    assert rows[w1_start].distinct_est == 7
    assert rows[w1_start].exact == "true"
    # window 2: 40 distinct > k=16 -> KMV estimate within ~4/sqrt(14)
    r2 = rows[w2_start]
    assert r2.exact == "false"
    assert abs(r2.distinct_est - 40) <= 40


def test_stream_bloom_decontamination_equals_batch(spark, tmp_path):
    """Streaming decontamination: micro-batches of incoming documents are
    bloom-anti-joined (foreachBatch) against a STATIC eval corpus; the
    union of the streamed outputs must equal the batch bloom_anti_join
    of the full corpus — the exactness contract is mode-independent."""
    from pyspark.sql import Row
    from feathr_spark.operators.bloom import bloom_anti_join

    eval_docs = spark.createDataFrame(
        [Row(k=f"eval{i}") for i in range(40)])
    rows = ([Row(doc_id=i, k=f"eval{i % 40}") for i in range(0, 30)]
            + [Row(doc_id=i, k=f"fresh{i}") for i in range(30, 90)])
    batch_df = spark.createDataFrame(rows)
    expect = {tuple(r) for r in
              bloom_anti_join(batch_df, eval_docs, "k",
                              expected_items=64).collect()}

    src = str(tmp_path / "in")
    batch_df.repartition(4).write.parquet(src)  # several input splits
    got = []

    def sink(bdf, epoch_id):
        clean = bloom_anti_join(bdf, eval_docs, "k", expected_items=64)
        got.extend(tuple(r) for r in clean.collect())

    stream = (spark.readStream.schema(batch_df.schema)
              .option("maxFilesPerTrigger", "1").parquet(src))
    q = stream.writeStream.foreachBatch(sink).outputMode("append") \
        .option("checkpointLocation", str(tmp_path / "ck")) \
        .trigger(availableNow=True).start()
    q.awaitTermination(120)
    assert set(got) == expect
    assert len(got) == len(expect)  # no duplicates across micro-batches
    assert all(not r[1].startswith("eval") for r in got)
