"""Definition round trips through both written formats.

Registry: ``save_project`` then ``load_project`` (or ``from_lineage`` on
the project's lineage payload) rebuilds definitions equal to the saved
ones — sources, anchors and their features, derived features. IR #1:
``from_feature_config(to_feature_config())`` rebuilds equal feature names,
types, transforms and typed keys, and equal sources. IR #1 does not carry
an anchor's ``broadcast_hint``, a feature's ``registry_tags``, or a
DataFrame source's frame (it comes back ``None``, as from the registry).

The fixed project covers every ``Aggregation`` (with ``filter``,
``group_by`` + ``limit`` and ``agg_param``, 0.0 among them), an aliased
typed key, scalar and vector feature types, tags, passthrough and
derived-of-derived features, a derived feature whose inputs put a
derived feature before an anchor feature, a broadcast hint and every
source kind; a
Hypothesis property varies the window fields, types and keys.
"""

import json

from hypothesis import given, settings
from hypothesis import strategies as st

from feathr_spark import (
    Aggregation, DataFrameSource, DerivedFeature, Feature, FeatureAnchor,
    FeathrProject, FeatureType, GenericSource, HdfsSource, INPUT_CONTEXT,
    JdbcSource, KafkaSource, TimeWindowParameters, TypedKey, UdfTransform,
    ValueType, WindowAggTransform,
)
from feathr_spark.configio import from_feature_config, from_lineage
from feathr_spark.model import TensorCategory
from feathr_spark.registry.api import RegistryApi
from feathr_spark.registry.catalog import Registry
from feathr_spark.registry.roundtrip import load_project, save_project

UID = TypedKey(key_column="user_id", key_column_type=ValueType.INT64,
               full_name="user.id", description="user id",
               key_column_alias="uid")
PARAMS = {Aggregation.PERCENTILE: 0.0, Aggregation.DECAY_SUM: 7.0,
          Aggregation.DECAY_AVG: 0.5}
VECTOR_AGGS = {Aggregation.UNION, Aggregation.ELEMENTWISE_AVG,
               Aggregation.ELEMENTWISE_MIN, Aggregation.ELEMENTWISE_MAX,
               Aggregation.ELEMENTWISE_SUM}


def _project(frame=None) -> FeathrProject:
    p = FeathrProject("rt_all")
    events = HdfsSource(
        name="events", path="/data/events.csv", format="csv",
        options={"sep": "|", "header": "true"},
        time_window_parameters=TimeWindowParameters(
            "ts", "yyyy-MM-dd HH:mm:ss"))
    users = JdbcSource(name="users", url="jdbc:postgresql://db:5432/app",
                       dbtable="users", auth="userpass",
                       options={"fetchsize": "100"})
    clicks = KafkaSource(
        name="clicks", brokers=("b1:9092", "b2:9092"), topics=("clicks",),
        avro_schema_json='{"type": "record", "name": "Click", "fields": '
                         '[{"name": "user_id", "type": "long"}]}',
        options={"startingOffsets": "earliest"},
        time_window_parameters=TimeWindowParameters("event_time"))
    cosmos = GenericSource(
        name="cosmos", format="cosmos.oltp", mode="append",
        options={"spark__cosmos__accountKey": "${COSMOS_KEY}"})
    framed = DataFrameSource(name="frame", df=frame,
                             time_window_parameters=TimeWindowParameters("ts"))

    windowed = [
        Feature(name=f"f_{a.value.lower()}",
                feature_type=(FeatureType.FLOAT_VECTOR() if a in VECTOR_AGGS
                              else FeatureType.DOUBLE()),
                transform=WindowAggTransform("amount", a, "7d",
                                             agg_param=PARAMS.get(a)),
                key=[UID], registry_tags={"agg": a.value})
        for a in Aggregation]
    windowed += [
        Feature(name="f_big_sum", feature_type=FeatureType.DOUBLE(),
                transform=WindowAggTransform("amount", Aggregation.SUM, "30d",
                                             filter="amount > 100"),
                key=[UID]),
        Feature(name="f_top_category", feature_type=FeatureType.FLOAT(),
                transform=WindowAggTransform(
                    "amount", Aggregation.SUM, "3d", group_by="category",
                    filter="amount > 0", limit=2),
                key=[UID]),
    ]
    event_aggs = p.register_anchor(FeatureAnchor(
        name="event_aggs", source=events, features=windowed))
    dims = p.register_anchor(FeatureAnchor(
        name="user_dims", source=users, broadcast_hint=True, features=[
            Feature(name="f_age", feature_type=FeatureType.INT32(),
                    transform="age", key=[UID],
                    registry_tags={"owner": "growth", "pii": "false"})]))
    p.register_anchor(FeatureAnchor(name="click_feats", source=clicks, features=[
        Feature(name="f_clicks_1h", feature_type=FeatureType.INT64(),
                transform=WindowAggTransform("1", Aggregation.COUNT, "1h"),
                key=[UID])]))
    p.register_anchor(FeatureAnchor(name="cosmos_feats", source=cosmos, features=[
        Feature(name="f_segment", feature_type=FeatureType.STRING(),
                transform="segment", key=[UID])]))
    p.register_anchor(FeatureAnchor(name="frame_feats", source=framed, features=[
        Feature(name="f_frame_max", feature_type=FeatureType.DOUBLE(),
                transform=WindowAggTransform("amount", Aggregation.MAX, "2d"),
                key=[UID])]))
    request = p.register_anchor(FeatureAnchor(
        name="request", source=INPUT_CONTEXT, features=[
            Feature(name="f_amount_x2", feature_type=FeatureType.DOUBLE(),
                    transform="amount * 2", registry_tags={"kind": "request"}),
            Feature(name="f_embedding",
                    feature_type=FeatureType.DOUBLE_VECTOR(),
                    transform=UdfTransform("embed")),
        ]))

    ratio = p.register_derived(DerivedFeature(
        name="d_ratio", transform="f_sum / f_avg",
        feature_type=FeatureType.DOUBLE(),
        input_features=[event_aggs["f_sum"], event_aggs["f_avg"]]))
    scaled = p.register_derived(DerivedFeature(
        name="d_ratio_by_age", transform="d_ratio * f_age",
        feature_type=FeatureType.FLOAT(),
        input_features=[dims["f_age"], ratio]))
    doubled = p.register_derived(DerivedFeature(
        name="d_request", transform="f_amount_x2 + 1",
        input_features=[request["f_amount_x2"]]))
    p.register_derived(DerivedFeature(
        name="d_both", transform="d_ratio_by_age + d_request",
        feature_type=FeatureType.DOUBLE(), input_features=[scaled, doubled]))
    # a derived input before an anchor input: Atlas lists the two kinds
    # apart, and the order must still come back
    p.register_derived(DerivedFeature(
        name="d_mixed", transform="d_ratio - f_age",
        input_features=[ratio, dims["f_age"]]))
    return p


def _saved_lineage(p: FeathrProject) -> dict:
    reg = Registry()
    save_project(reg, p)
    # through JSON, as the HTTP layer serves it
    return json.loads(json.dumps(RegistryApi(reg).get_project_lineage(p.name)))


def _assert_same_definitions(got: FeathrProject, want: FeathrProject):
    assert got.sources == want.sources
    assert got.anchors == want.anchors
    assert got.derived == want.derived


def test_registry_round_trip_rebuilds_equal_definitions():
    p = _project()
    reg = Registry()
    save_project(reg, p)
    _assert_same_definitions(load_project(reg, p.name), p)


def test_lineage_round_trip_rebinds_dataframe_source():
    frame = object()  # any frame object: it is re-bound, never serialized
    p = _project(frame)
    got = from_lineage(_saved_lineage(p), source_frames={"frame": frame})
    _assert_same_definitions(got, p)
    assert got.sources["frame"].df is frame


def _feature_defs(p: FeathrProject) -> dict:
    out = {f.name: (f.feature_type, f.transform, f.key)
           for a in p.anchors.values() for f in a.features}
    out.update({d.name: (d.feature_type, d.transform, d.key, d.input_names)
                for d in p.derived.values()})
    return out


def test_feature_config_round_trip_keeps_types_transforms_and_keys():
    p = _project()
    got = from_feature_config(json.dumps(p.to_feature_config()))
    assert _feature_defs(got) == _feature_defs(p)
    assert got.sources == p.sources
    assert {a: tuple(f.name for f in x.features)
            for a, x in got.anchors.items()} == \
        {a: tuple(f.name for f in x.features) for a, x in p.anchors.items()}
    cfg = p.to_feature_config()
    # the reference's key.sqlExpr: the source key columns, not the aliases
    assert cfg["anchors"]["user_dims"]["key"] == {"sqlExpr": ["user_id"]}
    f = got.anchors["event_aggs"]["f_percentile"].transform
    assert f.agg_func == Aggregation.PERCENTILE and f.agg_param == 0.0


_value_types = st.sampled_from(list(ValueType))
_names = st.text("abcdefghijklmnopqrstuvwxyz_", min_size=1, max_size=8)


@st.composite
def _features(draw):
    agg = draw(st.sampled_from(list(Aggregation)))
    transform = WindowAggTransform(
        def_expr=draw(st.sampled_from(["amount", "cast(x AS double) + 1"])),
        agg_func=agg,
        window=draw(st.sampled_from(["1d", "90d", "36h", "15m", "500ms"])),
        group_by=draw(st.none() | st.just("category")),
        filter=draw(st.none() | st.just("amount >= 0 AND kind = 'a'")),
        limit=draw(st.none() | st.integers(0, 5)),
        agg_param=draw(st.none() | st.just(0.0)
                       | st.floats(0, 1, allow_nan=False)))
    ftype = FeatureType(
        tensor_category=draw(st.sampled_from(list(TensorCategory))),
        dimension_type=tuple(draw(st.lists(_value_types, max_size=2))),
        val_type=draw(_value_types))
    n_keys = draw(st.integers(1, 2))
    keys = [TypedKey(key_column=f"k{i}_{draw(_names)}",
                     key_column_type=draw(_value_types),
                     full_name=draw(st.none() | _names),
                     description=draw(st.none() | _names),
                     key_column_alias=draw(st.none() | _names))
            for i in range(n_keys)]
    return ftype, transform, keys


@settings(max_examples=60, deadline=None)
@given(_features(), st.dictionaries(_names, _names, max_size=2))
def test_round_trip_property(feature, tags):
    ftype, transform, keys = feature
    p = FeathrProject("prop")
    src = HdfsSource(name="s", path="/data/s.parquet",
                     time_window_parameters=TimeWindowParameters("ts"))
    a = p.register_anchor(FeatureAnchor(name="a", source=src, features=[
        Feature(name="f", feature_type=ftype, transform=transform, key=keys,
                registry_tags=tags)]))
    p.register_derived(DerivedFeature(name="d", transform="f + 1",
                                      feature_type=ftype,
                                      input_features=[a["f"]]))
    _assert_same_definitions(from_lineage(_saved_lineage(p)), p)
    got = from_feature_config(json.dumps(p.to_feature_config()))
    assert _feature_defs(got) == _feature_defs(p)
