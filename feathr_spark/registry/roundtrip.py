"""Project ⇄ registry round-trip (reference entry point C).

The reference reconstructs a ``FeathrProjectImpl`` from the registry's
lineage payload by walking BelongsTo/Consumes edges
(/root/reference/feathr-rs/src/project.rs:742-846, client.rs:36-60). Here
the same graph lives in :class:`catalog.Registry`; ``save_project`` stores
full serialized definitions in entity attributes and ``load_project``
rebuilds a runnable :class:`FeathrProject` from the project's lineage
payload. This module holds the write side; decoding is
:func:`feathr_spark.configio.from_lineage`, the one lineage decoder.

Non-serializable pieces degrade explicitly: ``DataFrameSource`` frames and
``preprocessing`` callables are recorded by flag only and must be re-bound
after load (``FeathrProject.register_udf`` / replacing the source) — the
reference has the same limitation (Python UDFs ship as code files, not
registry entities).
"""

from __future__ import annotations

from typing import Dict, Optional

from ..configio import from_lineage
from ..feature import Feature
from ..model import (
    ExpressionTransform, TypedKey, UdfTransform, WindowAggTransform,
)
from ..source import (
    DataFrameSource, GenericSource, HdfsSource, JdbcSource, KafkaSource,
    Source, TimeWindowParameters,
)
from .catalog import EdgeType, EntityType, Registry, RegistryError


# ---------------------------------------------------------------------------
# serialization
# ---------------------------------------------------------------------------

def _twp_to_dict(twp: Optional[TimeWindowParameters]) -> Optional[dict]:
    if twp is None:
        return None
    return {"timestamp_column": twp.timestamp_column,
            "timestamp_column_format": twp.timestamp_column_format}


def source_to_dict(src: Source) -> dict:
    d: dict = {"name": src.name, "twp": _twp_to_dict(src.time_window_parameters),
               "has_preprocessing": src.preprocessing is not None}
    if src.is_input_context:
        d["kind"] = "input_context"
    elif isinstance(src, HdfsSource):
        d.update(kind="hdfs", path=src.path, format=src.format,
                 options=dict(src.options))
    elif isinstance(src, JdbcSource):
        d.update(kind="jdbc", url=src.url, dbtable=src.dbtable,
                 query=src.query, auth=src.auth, options=dict(src.options))
    elif isinstance(src, KafkaSource):
        d.update(kind="kafka", brokers=list(src.brokers),
                 topics=list(src.topics), avro_schema_json=src.avro_schema_json,
                 options=dict(src.options))
    elif isinstance(src, GenericSource):
        d.update(kind="generic", format=src.format, path=src.path,
                 mode=src.mode, options=dict(src.options))
    elif isinstance(src, DataFrameSource):
        d["kind"] = "dataframe"  # frame itself is not serializable
    else:
        d["kind"] = "unknown"
    return d


def _key_to_dict(k: TypedKey) -> dict:
    return {"key_column": k.key_column,
            "key_column_type": k.key_column_type.value,
            "full_name": k.full_name, "description": k.description,
            "key_column_alias": k.key_column_alias}


def _transform_to_dict(t) -> dict:
    if isinstance(t, WindowAggTransform):
        return {"kind": "window", "def_expr": t.def_expr,
                "agg_func": t.agg_func.value, "window": t.window,
                "group_by": t.group_by, "filter": t.filter,
                "limit": t.limit, "agg_param": t.agg_param}
    if isinstance(t, UdfTransform):
        return {"kind": "udf", "name": t.name}
    if isinstance(t, ExpressionTransform):
        return {"kind": "expr", "sql_expr": t.sql_expr}
    raise RegistryError(f"unserializable transform {t!r}")


def feature_to_dict(f: Feature) -> dict:
    return {"name": f.name, "transform": _transform_to_dict(f.transform),
            "keys": [_key_to_dict(k) for k in f.key]}


# ---------------------------------------------------------------------------
# save / load
# ---------------------------------------------------------------------------

def save_project(registry: Registry, project) -> Dict[str, str]:
    """Register the project's full definition graph with serialized
    attributes; returns name → entity id. Structure matches
    :meth:`catalog.Registry.register_project` (edges per edge.rs validity
    matrix) with definition payloads added."""
    ids: Dict[str, str] = {}
    p = registry.create_entity(project.name, EntityType.Project)
    ids[project.name] = p.id
    for sname, src in project.sources.items():
        e = registry.create_entity(f"{project.name}__{sname}", EntityType.Source,
                                   source_to_dict(src))
        ids[sname] = e.id
        registry.add_edge(e.id, EdgeType.BelongsTo, p.id)
        registry.add_edge(p.id, EdgeType.Contains, e.id)
    for aname, anchor in project.anchors.items():
        ae = registry.create_entity(f"{project.name}__{aname}", EntityType.Anchor,
                                    {"source": anchor.source.name,
                                     "broadcast_hint": anchor.broadcast_hint})
        ids[aname] = ae.id
        registry.add_edge(ae.id, EdgeType.BelongsTo, p.id)
        registry.add_edge(p.id, EdgeType.Contains, ae.id)
        registry.add_edge(ae.id, EdgeType.Consumes, ids[anchor.source.name])
        for f in anchor.features:
            fe = registry.create_entity(f"{project.name}__{f.name}",
                                        EntityType.AnchorFeature,
                                        feature_to_dict(f))
            ids[f.name] = fe.id
            registry.add_edge(fe.id, EdgeType.BelongsTo, ae.id)
            registry.add_edge(ae.id, EdgeType.Contains, fe.id)
            registry.add_edge(fe.id, EdgeType.Consumes, ids[anchor.source.name])
            registry.add_edge(ids[anchor.source.name], EdgeType.Produces, fe.id)
    for dname, d in project.derived.items():
        de = registry.create_entity(
            f"{project.name}__{dname}", EntityType.DerivedFeature,
            {"name": d.name, "sql_expr": d.transform.sql_expr,
             "inputs": list(d.input_names),
             "keys": [_key_to_dict(k) for k in d.key]})
        ids[dname] = de.id
        registry.add_edge(de.id, EdgeType.BelongsTo, p.id)
        registry.add_edge(p.id, EdgeType.Contains, de.id)
        for inp in d.input_features:
            registry.add_edge(de.id, EdgeType.Consumes, ids[inp.name])
            registry.add_edge(ids[inp.name], EdgeType.Produces, de.id)
    return ids


def load_project(registry: Registry, name: str, spark=None):
    """Rebuild a runnable FeathrProject from the registry graph
    (reference project.rs:742-846: walk BelongsTo/Contains edges from the
    project entity). UDF callables / DataFrame sources must be re-bound
    by the caller after load. Decoded by
    :func:`~feathr_spark.configio.from_lineage` from the same lineage
    payload the API (and its HTTP layer) serves, so in-process and
    over-the-wire reconstruction cannot drift."""
    from .api import RegistryApi

    pe = registry.get_entity(name)
    if pe.entity_type != EntityType.Project:
        raise RegistryError(f"{name} is a {pe.entity_type.value}, not a Project")
    payload = RegistryApi(registry).get_project_lineage(name)
    return from_lineage(payload, spark)
