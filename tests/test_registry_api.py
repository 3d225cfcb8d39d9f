"""In-process registry API facade tests (reference api_provider.rs
FeathrApiRequest vocabulary, minus Raft/RBAC)."""

import pytest

from feathr_spark import (
    Aggregation, DerivedFeature, Feature, FeatureAnchor, FeathrProject,
    HdfsSource, TimeWindowParameters, TypedKey, WindowAggTransform,
)
from feathr_spark.registry.api import RegistryApi
from feathr_spark.registry.catalog import Registry, RegistryError
from feathr_spark.registry.roundtrip import save_project


@pytest.fixture()
def api():
    reg = Registry()
    p = FeathrProject("proj")
    key = TypedKey(key_column="k")
    src = HdfsSource(name="orders_src", path="/tmp/o.parquet",
                     time_window_parameters=TimeWindowParameters("t"))
    p.register_source(src)
    anchor = FeatureAnchor(name="agg", source=src, features=[
        Feature(name="f_a", transform=WindowAggTransform(
            "x", Aggregation.SUM, "1d"), key=[key]),
        Feature(name="f_b", transform=WindowAggTransform(
            "x", Aggregation.AVG, "1d"), key=[key]),
    ])
    p.register_anchor(anchor)
    p.register_derived(DerivedFeature(
        name="f_c", transform="f_a + f_b",
        input_features=[anchor.features[0], anchor.features[1]]))
    save_project(reg, p)
    return RegistryApi(reg)


def test_project_listing_and_fetch(api):
    projects = api.handle({"type": "GetProjects"})
    assert [p["qualifiedName"] for p in projects] == ["proj"]
    assert api.handle({"type": "GetProject", "id_or_name": "proj"})[
        "typeName"] == "feathr_workspace_v1"
    with pytest.raises(RegistryError):
        api.handle({"type": "GetProject", "id_or_name": "nope"})
    # RBAC in scope since round 4: role list serves (empty) on a
    # non-enforcing facade
    assert api.handle({"type": "GetUserRoles"}) == []


def test_children_listing_keyword_and_paging(api):
    feats = api.get_project_features("proj")
    names = [f["name"] for f in feats]
    assert names == ["f_a", "f_b", "f_c"]
    # keyword filter rides the FTS search
    assert [f["name"] for f in api.get_project_features("proj", keyword="f_c")] \
        == ["f_c"]
    # pagination
    assert [f["name"] for f in api.get_project_features(
        "proj", size=1, offset=1)] == ["f_b"]
    assert [s["name"] for s in api.get_project_data_sources("proj")] == \
        ["orders_src"]
    assert [a["name"] for a in api.get_project_anchors("proj")] == ["agg"]
    assert [d["name"] for d in api.get_project_derived_features("proj")] == \
        ["f_c"]
    assert [f["name"] for f in api.get_anchor_features("proj", "agg")] == \
        ["f_a", "f_b"]
    assert api.get_anchor_feature("proj", "agg", "f_a")["name"] == "f_a"


def test_short_keyword_terms_match_whole_tokens(api):
    """A query term under 3 characters matches whole tokens only: the
    ``c`` of ``f_c`` does not prefix-match ``column`` in every feature's
    key attributes, while a longer term still matches as a prefix."""
    reg = api.registry
    assert [e.qualified_name for e in reg.search("c")] == ["proj__f_c"]
    # entities that refer to f_b hit too, ranked below f_b itself
    assert [e.qualified_name for e in reg.search("f_b")] == \
        ["proj__f_b", "proj__f_c", "proj__agg"]
    hits = {e.qualified_name for e in reg.search("col")}
    assert {"proj__f_a", "proj__f_b", "proj__f_c"} <= hits


def test_lineage_payloads(api):
    lin = api.handle({"type": "GetProjectLineage", "id_or_name": "proj"})
    types = {e["typeName"] for e in lin["guidEntityMap"].values()}
    assert "feathr_workspace_v1" in types and "feathr_source_v1" in types
    assert any(r["relationshipType"] == "Contains" for r in lin["relations"])
    flin = api.get_feature_lineage("proj__f_c")
    names = {e["name"] for e in flin["guidEntityMap"].values()}
    assert {"f_a", "f_b", "f_c"} <= names
    assert api.get_entity_project("proj__f_a")["qualifiedName"] == "proj"


def test_create_and_versions(api):
    api.handle({"type": "CreateProjectDataSource",
                "project_id_or_name": "proj",
                "definition": {"name": "s2", "kind": "hdfs", "path": "/a"}})
    api.create_project_data_source("proj", {"name": "s2", "kind": "hdfs",
                                            "path": "/b"})
    vs = api.get_project_data_source_versions("proj", "s2")
    assert [v["version"] for v in vs] == [1, 2]
    assert api.get_project_data_source_version("proj", "s2")["attributes"][
        "path"] == "/b"
    assert api.get_project_data_source_version("proj", "s2", version=1)[
        "attributes"]["path"] == "/a"
    f = api.create_anchor_feature("proj", "agg", {"name": "f_new"})
    assert f["qualifiedName"] == "proj__agg__f_new"
    assert any(x["name"] == "f_new"
               for x in api.get_anchor_features("proj", "agg"))
