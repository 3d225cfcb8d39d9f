"""Project ⇄ registry round-trip (reference entry point C).

The reference reconstructs a ``FeathrProjectImpl`` from the registry's
lineage payload by walking BelongsTo/Consumes edges (reference
project.rs:742-846, client.rs:36-60). Here the same graph lives in
:class:`catalog.Registry`: ``save_project`` stores each definition as
entity attributes in the reference registry's Atlas shape, and
``load_project`` rebuilds a runnable :class:`FeathrProject` from the
project's lineage payload. This module only walks the graph; the
attribute format is written and read in :mod:`feathr_spark.configio`
(:func:`~feathr_spark.configio.from_lineage` is the one lineage decoder).

Non-serializable pieces degrade explicitly: ``DataFrameSource`` frames and
``preprocessing`` callables are recorded by flag only and must be re-bound
after load (``FeathrProject.register_udf`` / replacing the source) — the
reference has the same limitation (Python UDFs ship as code files, not
registry entities).
"""

from __future__ import annotations

from typing import Dict

from ..configio import (
    anchor_attributes, anchor_feature_attributes, derived_feature_attributes,
    from_lineage, source_to_dict,
)
from .catalog import EdgeType, Entity, EntityType, Registry, RegistryError


def save_project(registry: Registry, project) -> Dict[str, str]:
    """Register the project's definition graph (edges per the edge.rs
    validity matrix) with each definition in its entity's attributes;
    returns name → entity id."""
    p = registry.create_entity(project.name, EntityType.Project)
    ids: Dict[str, str] = {project.name: p.id}
    sources: Dict[str, Entity] = {}
    features: Dict[str, Entity] = {}

    def create(name: str, entity_type: EntityType, attributes: dict,
               parent: Entity) -> Entity:
        e = registry.create_entity(f"{project.name}__{name}", entity_type,
                                   attributes)
        ids[name] = e.id
        registry.add_edge(e.id, EdgeType.BelongsTo, parent.id)
        registry.add_edge(parent.id, EdgeType.Contains, e.id)
        return e

    for sname, src in project.sources.items():
        sources[sname] = create(sname, EntityType.Source, source_to_dict(src),
                                p)
    for aname, anchor in project.anchors.items():
        se = sources[anchor.source.name]
        # features first: the anchor's attributes refer to them
        fes = [registry.create_entity(f"{project.name}__{f.name}",
                                      EntityType.AnchorFeature,
                                      anchor_feature_attributes(f))
               for f in anchor.features]
        ae = create(aname, EntityType.Anchor,
                    anchor_attributes(anchor, se, fes), p)
        registry.add_edge(ae.id, EdgeType.Consumes, se.id)
        for f, fe in zip(anchor.features, fes):
            ids[f.name] = fe.id
            features[f.name] = fe
            registry.add_edge(fe.id, EdgeType.BelongsTo, ae.id)
            registry.add_edge(ae.id, EdgeType.Contains, fe.id)
            registry.add_edge(fe.id, EdgeType.Consumes, se.id)
            registry.add_edge(se.id, EdgeType.Produces, fe.id)
    for dname, d in project.derived.items():
        inputs = [features[n] for n in d.input_names]
        features[dname] = create(dname, EntityType.DerivedFeature,
                                 derived_feature_attributes(d, inputs), p)
        for inp in inputs:
            registry.add_edge(features[dname].id, EdgeType.Consumes, inp.id)
            registry.add_edge(inp.id, EdgeType.Produces, features[dname].id)
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
