"""HTTP layer tests: the reference registry's REST surface
(/root/reference/registry/raft-registry/src/network/api_v2.rs routes,
nested under {api_base}/v{1,2} per feathr-registry/src/main.rs:150-205)
served by the stdlib shim in feathr_spark.registry.http and driven over
real localhost sockets — CRUD, search/paging, versions, lineage, error
mapping, and a full rebuild-and-run of a project fetched over the wire.
Every test runs twice: against the single-node server and, in
``TestOnRaftNode``, against a one-node Raft server (raft_http.py), which
mounts the same front end.
"""

import json
import urllib.error
import urllib.request

import pytest
from pyspark.sql import Row

from feathr_spark import (
    Aggregation, DerivedFeature, Feature, FeatureAnchor, FeatureQuery,
    FeathrProject, FeatureType, HdfsSource, INPUT_CONTEXT,
    ObservationSettings, TimeWindowParameters, TypedKey, ValueType,
    WindowAggTransform,
)
from feathr_spark.configio import from_lineage
from feathr_spark.registry.api import RegistryApi
from feathr_spark.registry.catalog import Registry
from feathr_spark.registry.http import RegistryHttpServer
from feathr_spark.registry.roundtrip import save_project

SF = "/root/testdata/sf0.001"


def _get(url, expect=200):
    try:
        with urllib.request.urlopen(url) as r:
            assert r.status == expect
            return json.loads(r.read())
    except urllib.error.HTTPError as e:
        assert e.code == expect, f"{url}: {e.code} != {expect}: {e.read()}"
        return json.loads(e.read())


def _post(url, body, expect=201):
    data = body if isinstance(body, bytes) else json.dumps(body).encode()
    req = urllib.request.Request(
        url, data=data, headers={"Content-Type": "application/json"},
        method="POST")
    try:
        with urllib.request.urlopen(req) as r:
            assert r.status == expect
            return json.loads(r.read())
    except urllib.error.HTTPError as e:
        assert e.code == expect, f"{url}: {e.code} != {expect}: {e.read()}"
        return json.loads(e.read())


def _preloaded_api():
    """Project 'rt' saved with full serialized definitions (save_project)
    so lineage payloads are reconstructable."""
    reg = Registry()
    p = FeathrProject("rt")
    p.register_anchor(FeatureAnchor(name="pt", source=INPUT_CONTEXT, features=[
        Feature(name="f_total", transform="o_totalprice")]))
    key = TypedKey(key_column="o_custkey")
    p.register_anchor(FeatureAnchor(
        name="w",
        source=HdfsSource(name="orders", path=f"{SF}/orders.parquet",
                          time_window_parameters=TimeWindowParameters(
                              "o_orderdate")),
        features=[Feature(name="f_avg_90d", transform=WindowAggTransform(
            "o_totalprice", Aggregation.AVG, "90d"), key=[key])]))
    p.register_derived(DerivedFeature(
        name="f_ratio", transform="f_total / f_avg_90d",
        input_features=["f_total", "f_avg_90d"]))
    save_project(reg, p)
    return RegistryApi(reg)


@pytest.fixture(scope="module")
def server():
    """One single-node server for the module's tests."""
    with RegistryHttpServer(_preloaded_api()) as url:
        yield url


def test_version_probe_and_unrouted_paths(server):
    v = _get(f"{server}/version")
    assert v["api_versions"] == ["v1", "v2"]
    assert v["rbac"] is False          # no store passed -> RbacDisabled
    _get(f"{server}/api/v3/projects", expect=404)
    # RBAC routes exist (round 4); on a non-enforcing server the role
    # list is served (empty) rather than 403
    assert _get(f"{server}/api/v1/userroles") == []
    _get(f"{server}/nonsense", expect=404)


def test_project_crud_and_listing(server):
    names = [p["qualifiedName"] for p in _get(f"{server}/api/v1/projects")]
    assert "rt" in names
    got = _get(f"{server}/api/v1/projects/rt")
    assert got["typeName"] == "feathr_workspace_v1"
    _get(f"{server}/api/v1/projects/nope", expect=404)

    created = _post(f"{server}/api/v1/projects", {"name": "p2"})
    assert created["qualifiedName"] == "p2"
    src = _post(f"{server}/api/v2/projects/p2/datasources",
                {"name": "s1", "kind": "hdfs", "path": "/tmp/x.parquet",
                 "twp": None, "has_preprocessing": False})
    assert src["qualifiedName"] == "p2__s1"
    anchor = _post(f"{server}/api/v1/projects/p2/anchors",
                   {"name": "a1", "source": "s1"})
    feat = _post(f"{server}/api/v1/projects/p2/anchors/a1/features",
                 {"name": "f1", "transformation": {"transform_expr": "x + 1"},
                  "key": []})
    assert anchor["name"] == "a1" and feat["qualifiedName"] == "p2__a1__f1"
    listed = _get(f"{server}/api/v1/projects/p2/anchors/a1/features")
    assert [f["name"] for f in listed] == ["f1"]


def test_rebuild_project_built_through_the_api(server):
    """A project posted piece by piece (source, anchor naming its source,
    Atlas-shaped features) rebuilds from its lineage payload: the anchor's
    features are served from its Contains edges."""
    _post(f"{server}/api/v1/projects", {"name": "p3"})
    _post(f"{server}/api/v1/projects/p3/datasources",
          {"name": "s1", "kind": "hdfs", "path": "/tmp/p3.parquet",
           "twp": {"timestamp_column": "ts", "timestamp_column_format": None},
           "has_preprocessing": False})
    _post(f"{server}/api/v1/projects/p3/anchors",
          {"name": "a1", "source": "s1"})
    key = {"key_column": "uid", "key_column_type": "INT64"}
    for name, transformation in (
            ("f1", {"transform_expr": "x + 1"}),
            ("f2", {"def_expr": "x", "agg_func": "SUM", "window": "2d"})):
        _post(f"{server}/api/v1/projects/p3/anchors/a1/features",
              {"name": name, "transformation": transformation, "key": [key],
               "type": {"type": "TENSOR", "tensorCategory": "DENSE",
                        "dimensionType": [], "valType": "DOUBLE"}})
    assert "features" not in _get(
        f"{server}/api/v1/projects/p3/anchors/a1")["attributes"]

    p3 = from_lineage(_get(f"{server}/api/v1/projects/p3/lineage"))
    assert p3.anchors["a1"].source == HdfsSource(
        name="s1", path="/tmp/p3.parquet",
        time_window_parameters=TimeWindowParameters("ts"))
    uid = [TypedKey(key_column="uid", key_column_type=ValueType.INT64)]
    assert list(p3.anchors["a1"].features) == [
        Feature(name="f1", feature_type=FeatureType.DOUBLE(),
                transform="x + 1", key=uid),
        Feature(name="f2", feature_type=FeatureType.DOUBLE(),
                transform=WindowAggTransform("x", Aggregation.SUM, "2d"),
                key=uid)]


def test_search_paging_and_versions(server):
    # keyword search rides the FTS index; paging via size/offset
    feats = _get(f"{server}/api/v1/projects/rt/features")
    assert {"f_total", "f_avg_90d", "f_ratio"} == {f["name"] for f in feats}
    hit = _get(f"{server}/api/v1/projects/rt/features?keyword=f_ratio")
    assert [f["name"] for f in hit] == ["f_ratio"]
    page = _get(f"{server}/api/v1/projects/rt/features?size=1&offset=1")
    assert len(page) == 1 and page[0]["name"] == feats[1]["name"]

    # re-POST the same datasource name → version bump, both listed
    _post(f"{server}/api/v1/projects/p2/datasources",
          {"name": "s1", "kind": "hdfs", "path": "/tmp/y.parquet",
           "twp": None, "has_preprocessing": False})
    vs = _get(f"{server}/api/v1/projects/p2/datasources/s1/versions")
    assert [v["version"] for v in vs] == [1, 2]
    v1 = _get(f"{server}/api/v1/projects/p2/datasources/s1/versions/1")
    assert v1["attributes"]["path"] == "/tmp/x.parquet"
    latest = _get(f"{server}/api/v1/projects/p2/datasources/s1")
    assert latest["version"] == 2
    _get(f"{server}/api/v1/projects/p2/datasources/s1/versions/9",
         expect=404)


def test_feature_lineage_and_entity_project(server):
    lin = _get(f"{server}/api/v1/features/rt__f_ratio/lineage")
    names = {e["name"] for e in lin["guidEntityMap"].values()}
    assert {"f_ratio", "f_total", "f_avg_90d"} <= names
    proj = _get(f"{server}/api/v1/features/rt__f_avg_90d/project")
    assert proj["qualifiedName"] == "rt"


def test_error_mapping_bad_json_body(server):
    out = _post(f"{server}/api/v1/projects", b"{not json", expect=400)
    assert "error" in out


def test_rebuild_project_from_http_lineage_and_run(server, spark):
    """The wire criterion: GET the lineage payload over HTTP, rebuild a
    runnable project from the JSON alone, and its query results match the
    in-process original bit-for-bit."""
    payload = _get(f"{server}/api/v1/projects/rt/lineage")
    p2 = from_lineage(json.dumps(payload), spark)
    assert set(p2.anchors) == {"pt", "w"}
    assert set(p2.derived) == {"f_ratio"}

    obs = ObservationSettings(observation_path=f"{SF}/orders.parquet",
                              timestamp_column="o_orderdate")
    q = FeatureQuery(["f_total", "f_avg_90d", "f_ratio"])
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    out = p2.get_offline_features(obs, q)
    rows = sorted((r.o_orderkey, round(r.f_ratio, 9))
                  for r in out.select("o_orderkey", "f_ratio").collect())
    # independent in-process reference project, same defs
    ref = FeathrProject("ref", spark)
    ref.register_anchor(FeatureAnchor(name="pt", source=INPUT_CONTEXT,
                                      features=[Feature(
                                          name="f_total",
                                          transform="o_totalprice")]))
    key = TypedKey(key_column="o_custkey")
    ref.register_anchor(FeatureAnchor(
        name="w",
        source=HdfsSource(name="orders", path=f"{SF}/orders.parquet",
                          time_window_parameters=TimeWindowParameters(
                              "o_orderdate")),
        features=[Feature(name="f_avg_90d", transform=WindowAggTransform(
            "o_totalprice", Aggregation.AVG, "90d"), key=[key])]))
    ref.register_derived(DerivedFeature(
        name="f_ratio", transform="f_total / f_avg_90d",
        input_features=["f_total", "f_avg_90d"]))
    want = sorted((r.o_orderkey, round(r.f_ratio, 9))
                  for r in ref.get_offline_features(obs, q)
                  .select("o_orderkey", "f_ratio").collect())
    assert rows == want and len(rows) > 0


class TestOnRaftNode:
    """Every test above, unchanged, against a one-node Raft server over
    the same preloaded api: both servers mount one REST front end."""

    @pytest.fixture(scope="class")
    def server(self, one_node_raft):
        with one_node_raft(_preloaded_api()) as url:
            yield url

    test_version_probe_and_unrouted_paths = staticmethod(
        test_version_probe_and_unrouted_paths)
    test_project_crud_and_listing = staticmethod(
        test_project_crud_and_listing)
    test_rebuild_project_built_through_the_api = staticmethod(
        test_rebuild_project_built_through_the_api)
    test_search_paging_and_versions = staticmethod(
        test_search_paging_and_versions)
    test_feature_lineage_and_entity_project = staticmethod(
        test_feature_lineage_and_entity_project)
    test_error_mapping_bad_json_body = staticmethod(
        test_error_mapping_bad_json_body)
    test_rebuild_project_from_http_lineage_and_run = staticmethod(
        test_rebuild_project_from_http_lineage_and_run)
