"""Reference-config ingestion: parse Feathr config payloads into runnable
:class:`FeathrProject` objects.

A migrating Feathr user's first action is "load my existing config". Three
entry points, one per payload shape the reference produces:

* :func:`from_feature_config` — the feature-definition config (IR #1)
  emitted by the reference client's ``get_feature_config``
  (/root/reference/feathr-rs/src/project.rs:321-325, serializer at
  374-437): ``anchors`` (group → key sqlExpr + source + features with
  untagged Expression/WindowAgg/Udf transformations, model.rs:248-276),
  ``derivations``, ``sources``. Accepts both the reference's camelCase
  serialization and this engine's :meth:`FeathrProject.to_feature_config`
  output (round-trip).
* :func:`from_join_config` — the join request (IR #2,
  project.rs:327-357 / observation.rs:50-97): ``observationPath`` +
  ``settings.joinTimeSettings.timestampColumn{def,format}`` +
  ``featureList`` + ``outputPath``.
* :func:`from_lineage` — a registry lineage payload (``guidEntityMap`` +
  ``relations``), mirroring the reference's ``TryFrom<EntityLineage> for
  FeathrProjectImpl`` (project.rs:742-846). It reads both payload
  families: the reference registry's Atlas-style attributes (the shape
  of its registry/test-data/sample.json) and the
  ``kind``-tagged definitions :func:`registry.roundtrip.save_project`
  stores, as :class:`registry.api.RegistryApi` serves them. It is the
  only lineage decoder: :func:`registry.roundtrip.load_project` and the
  :class:`client.FeathrClient` loaders all go through it.

Python ``preprocessing`` source code embedded in lineage payloads is NOT
executed (arbitrary code); re-bind callables after load, as with
registry round-trips.
"""

from __future__ import annotations

import json
from dataclasses import dataclass
from typing import Dict, List, Optional, Sequence

from .feature import DerivedFeature, Feature, FeatureAnchor
from .model import (
    Aggregation, ExpressionTransform, FeatureType, TensorCategory, TypedKey,
    UdfTransform, ValueType, VectorType, WindowAggTransform,
)
from .project import FeathrProject, FeatureQuery
from .registry.catalog import EdgeType, RegistryError
from .source import (
    INPUT_CONTEXT, DataFrameSource, GenericSource, HdfsSource, JdbcSource,
    KafkaSource, ObservationSettings, Source, TimeWindowParameters,
)

# reference model.rs:12-30 — registry payloads store either the serde name
# or the ordinal as a string
_VALUE_TYPES = {
    "UNSPECIFIED": ValueType.UNSPECIFIED, "0": ValueType.UNSPECIFIED,
    "BOOLEAN": ValueType.BOOL, "BOOL": ValueType.BOOL, "1": ValueType.BOOL,
    "INT": ValueType.INT32, "INT32": ValueType.INT32, "2": ValueType.INT32,
    "LONG": ValueType.INT64, "INT64": ValueType.INT64, "3": ValueType.INT64,
    "FLOAT": ValueType.FLOAT, "4": ValueType.FLOAT,
    "DOUBLE": ValueType.DOUBLE, "5": ValueType.DOUBLE,
    "STRING": ValueType.STRING, "6": ValueType.STRING,
    "BYTES": ValueType.BYTES, "7": ValueType.BYTES,
}


def _value_type(v) -> ValueType:
    return _VALUE_TYPES.get(str(v).upper(), ValueType.UNSPECIFIED)


def _feature_type(d: Optional[dict]) -> FeatureType:
    if not d:
        return FeatureType()
    return FeatureType(
        type_=VectorType(d.get("type", "TENSOR")),
        tensor_category=TensorCategory(d.get("tensorCategory", "DENSE")),
        dimension_type=tuple(d.get("dimensionType", ())),
        val_type=_value_type(d.get("valType", "UNSPECIFIED")),
    )


def _typed_key(d: dict) -> TypedKey:
    """One key entry of either lineage family: ``key_column_type`` is the
    enum value ``save_project`` writes or the reference's name/ordinal."""
    return TypedKey(
        key_column=d["key_column"],
        key_column_type=_value_type(d.get("key_column_type", "UNSPECIFIED")),
        full_name=d.get("full_name"),
        description=d.get("description"),
        key_column_alias=d.get("key_column_alias"),
    )


def _keys_from_list(keys: Optional[Sequence[dict]]) -> tuple:
    """Key list from a registry payload; the dummy/NOT_NEEDED sentinel maps
    to an empty tuple (Feature defaults it back to DUMMY_KEY)."""
    if not keys:
        return ()
    parsed = [_typed_key(k) for k in keys
              if k.get("key_column") not in (None, "NOT_NEEDED")]
    return tuple(parsed)


def _transformation(d, keys: tuple = ()):
    """Untagged Transformation (reference model.rs:248-276 serde shapes +
    the registry's {transform_expr}/{def_expr, agg_func, ...} attributes)."""
    if isinstance(d, str):
        return d
    if "udf" in d:
        return UdfTransform(d["udf"])
    if set(d) == {"name"}:
        return UdfTransform(d["name"])
    agg = d.get("aggregation") or d.get("agg_func")
    if agg:
        expr = d.get("def", d.get("def_expr"))
        if isinstance(expr, dict):
            expr = expr["sqlExpr"]
        return WindowAggTransform(
            def_expr=expr,
            agg_func=Aggregation(agg),
            window=d.get("window") or "1d",
            group_by=d.get("group_by") or d.get("groupBy"),
            filter=d.get("filter"),
            limit=d.get("limit"),
            agg_param=d.get("agg_param") or d.get("aggParam"),
        )
    expr = d.get("def", d.get("definition", d.get("transform_expr")))
    if isinstance(expr, dict):
        expr = expr["sqlExpr"]
    if expr is None:
        raise ValueError(f"unrecognized transformation payload: {d!r}")
    return expr


def source_from_dict(d: dict) -> Source:
    """Inverse of :func:`registry.roundtrip.source_to_dict`."""
    twp = d.get("twp")
    twp_obj = TimeWindowParameters(**twp) if twp else None
    kind = d.get("kind")
    if kind == "input_context":
        return INPUT_CONTEXT
    common = {"name": d["name"], "time_window_parameters": twp_obj}
    if kind == "hdfs":
        return HdfsSource(path=d["path"], format=d.get("format"),
                          options=d.get("options") or {}, **common)
    if kind == "jdbc":
        return JdbcSource(url=d["url"], dbtable=d.get("dbtable"),
                          query=d.get("query"), auth=d.get("auth", "anonymous"),
                          options=d.get("options") or {}, **common)
    if kind == "kafka":
        return KafkaSource(brokers=tuple(d.get("brokers") or ()),
                           topics=tuple(d.get("topics") or ()),
                           avro_schema_json=d.get("avro_schema_json"),
                           options=d.get("options") or {}, **common)
    if kind == "generic":
        return GenericSource(format=d.get("format", "parquet"),
                             path=d.get("path"), mode=d.get("mode"),
                             options=d.get("options") or {}, **common)
    if kind == "dataframe":
        return DataFrameSource(df=None, **common)
    raise RegistryError(f"cannot reconstruct source kind {kind!r}")


def _transform_from_dict(d: dict):
    """Inverse of :func:`registry.roundtrip._transform_to_dict`."""
    kind = d.get("kind")
    if kind == "window":
        return WindowAggTransform(
            def_expr=d["def_expr"], agg_func=Aggregation(d["agg_func"]),
            window=d["window"], group_by=d.get("group_by"),
            filter=d.get("filter"), limit=d.get("limit"),
            agg_param=d.get("agg_param"))
    if kind == "udf":
        return UdfTransform(d["name"])
    if kind == "expr":
        return ExpressionTransform(d["sql_expr"])
    raise RegistryError(f"unknown transform kind {kind!r}")


def feature_from_dict(d: dict) -> Feature:
    """Inverse of :func:`registry.roundtrip.feature_to_dict`."""
    return Feature(name=d["name"],
                   transform=_transform_from_dict(d["transform"]),
                   key=tuple(_typed_key(k) for k in d.get("keys") or ()))


def _source_from_config(name: str, d: dict) -> Source:
    """SourceImpl shape (reference source.rs:274-289: ``location`` +
    ``timeWindowParameters``), the registry's Atlas source attributes
    (``path`` + ``event_timestamp_column``/``timestamp_format``), or this
    engine's ``source_to_dict`` shape."""
    if d.get("kind"):  # our own registry round-trip shape
        return source_from_dict(d)
    twp = None
    twp_d = d.get("timeWindowParameters") or d.get("time_window_parameters")
    if twp_d:
        twp = TimeWindowParameters(
            timestamp_column=twp_d.get("timestampColumn",
                                       twp_d.get("timestamp_column")),
            timestamp_column_format=twp_d.get(
                "timestampColumnFormat", twp_d.get("timestamp_column_format")),
        )
    elif d.get("event_timestamp_column"):
        twp = TimeWindowParameters(
            timestamp_column=d["event_timestamp_column"],
            timestamp_column_format=d.get("timestamp_format"))
    loc = d.get("location", d)
    if isinstance(loc, str):  # DataLocation::InputContext serializes bare
        return INPUT_CONTEXT
    if name == INPUT_CONTEXT.name or \
            loc.get("type") in ("PASSTHROUGH", "INPUT_CONTEXT"):
        return INPUT_CONTEXT
    ltype = str(loc.get("type", "hdfs")).lower()
    if "url" in loc or ltype == "jdbc":
        auth = loc.get("auth") or "anonymous"
        if isinstance(auth, dict):  # JdbcAuth enum object → tag name
            auth = str(auth.get("type", next(iter(auth), "anonymous"))).lower()
        return JdbcSource(name=name, url=loc.get("url", ""),
                          dbtable=loc.get("dbtable"), query=loc.get("query"),
                          auth=auth, time_window_parameters=twp)
    if "brokers" in loc or ltype == "kafka":
        # KafkaSchema.avroJson (source.rs:48-54) is a STRING already
        # containing the Avro schema JSON — pass it through verbatim;
        # json.dumps only if someone stored it as a parsed object
        # (double-encoding a string breaks from_avro/compile_schema)
        schema = loc.get("schema")
        if isinstance(schema, dict):
            aj = schema.get("avroJson")
            avro_json = aj if isinstance(aj, str) or aj is None \
                else json.dumps(aj)
        else:
            avro_json = loc.get("avroJson")
        return KafkaSource(name=name, brokers=tuple(loc.get("brokers", ())),
                           topics=tuple(loc.get("topics", ())),
                           avro_schema_json=avro_json,
                           time_window_parameters=twp)
    if ltype == "generic" or ("format" in loc and "path" not in loc):
        return GenericSource(name=name, format=loc.get("format", "parquet"),
                             path=loc.get("path"),
                             options=dict(loc.get("options", {})),
                             time_window_parameters=twp)
    return HdfsSource(name=name, path=loc.get("path", ""),
                      format=loc.get("format"), time_window_parameters=twp)


def from_feature_config(cfg, spark=None,
                        name: str = "imported") -> FeathrProject:
    """Build a runnable project from a feature-definition config dict (or
    JSON string) in the reference's shape. Inverse of
    :meth:`FeathrProject.to_feature_config`."""
    if isinstance(cfg, str):
        cfg = json.loads(cfg)
    p = FeathrProject(name, spark)

    sources: Dict[str, Source] = {}
    for sname, sd in (cfg.get("sources") or {}).items():
        src = _source_from_config(sname, sd)
        sources[sname] = src
        p.register_source(src)

    feature_index: Dict[str, Feature] = {}
    for aname, ad in (cfg.get("anchors") or {}).items():
        sname = ad["source"]
        src = (INPUT_CONTEXT if sname in (INPUT_CONTEXT.name, "PASSTHROUGH")
               else sources[sname])
        key_aliases = [a for a in (ad.get("key", {}).get("sqlExpr") or ())
                       if a != "NOT_NEEDED"]
        keys = tuple(TypedKey(key_column=a) for a in key_aliases)
        feats = []
        for fname, fd in ad["features"].items():
            f = Feature(name=fname,
                        feature_type=_feature_type(fd.get("type")),
                        transform=_transformation(fd),
                        key=keys)
            feats.append(f)
            feature_index[fname] = f
        p.register_anchor(FeatureAnchor(name=aname, source=src,
                                        features=feats))

    def input_names(dd: dict) -> List[str]:
        inputs = dd.get("inputs", ())
        if isinstance(inputs, dict):  # reference: {alias: {key, feature}}
            return [v["feature"] for v in inputs.values()]
        return list(inputs)

    pending: Dict[str, tuple] = {}
    for dname, dd in (cfg.get("derivations") or {}).items():
        pending[dname] = (input_names(dd), dict(
            feature_type=_feature_type(dd.get("type")),
            transform=_transformation(dd),
            key=_keys_from_list(dd.get("key"))
            if dd.get("key") and isinstance(dd["key"][0], dict) else (),
        ))
    _register_derived(p, pending, feature_index)
    return p


def _register_derived(p: FeathrProject, pending: Dict[str, tuple],
                      feature_index: Dict[str, Feature]) -> None:
    """Register derived features in dependency order (inputs before
    dependents). ``pending`` maps each name to ``(input names,
    DerivedFeature keyword arguments)``; input names resolve through
    ``feature_index``, which gains each derived feature as it registers."""
    def add(name: str):
        if name not in pending:  # anchor feature, or already registered
            return
        inputs, kwargs = pending.pop(name)
        for dep in inputs:
            add(dep)
        feature_index[name] = p.register_derived(DerivedFeature(
            name=name, input_features=[feature_index[n] for n in inputs],
            **kwargs))

    for name in list(pending):
        add(name)


@dataclass(frozen=True)
class JoinRequest:
    """Parsed FeatureJoinConfig (reference project.rs:327-357)."""
    observation: ObservationSettings
    queries: tuple
    output_path: Optional[str] = None


def from_join_config(cfg) -> JoinRequest:
    """Parse a join request dict (or JSON string) in the reference's
    FeatureJoinConfig shape. Inverse of
    :meth:`FeathrProject.to_join_config`."""
    if isinstance(cfg, str):
        cfg = json.loads(cfg)
    ts = ((cfg.get("settings") or {}).get("joinTimeSettings") or {}) \
        .get("timestampColumn") or {}
    obs = ObservationSettings(
        observation_path=cfg.get("observationPath"),
        timestamp_column=ts.get("def"),
        timestamp_format=ts.get("format"),
    )
    def _key(q: dict):
        # the reference serializes the dummy key as the NOT_NEEDED sentinel
        # (feature.rs get_key_alias filters it on read — mirror that)
        cols = tuple(k for k in q.get("key", ()) if k != "NOT_NEEDED")
        return cols or None

    queries = tuple(
        FeatureQuery(q["featureList"], key=_key(q))
        for q in cfg.get("featureList", ())
    )
    return JoinRequest(observation=obs, queries=queries,
                       output_path=cfg.get("outputPath"))


# ---------------------------------------------------------------------------
# registry lineage payload (Atlas shape and save_project shape)
# ---------------------------------------------------------------------------

_WS, _SRC, _ANCHOR, _AF, _DF = (
    "feathr_workspace_v1", "feathr_source_v1", "feathr_anchor_v1",
    "feathr_anchor_feature_v1", "feathr_derived_feature_v1")


def _qualified_name(e: dict) -> str:
    # Atlas entities carry it among their attributes; RegistryApi entities
    # carry it beside them
    return e["attributes"].get("qualifiedName") or e["qualifiedName"]


def _lineage_feature(a: dict) -> Feature:
    if "transform" in a:  # save_project's kind-tagged definition
        return feature_from_dict(a)
    return Feature(
        name=a["name"],
        feature_type=_feature_type(a.get("type")),
        transform=_transformation(a.get("transformation", {})),
        key=_keys_from_list(a.get("key")),
    )


def from_lineage(payload, spark=None,
                 source_frames: Optional[dict] = None) -> FeathrProject:
    """Rebuild a runnable project from a registry lineage payload
    (``guidEntityMap`` + ``relations``), the shape the reference registry
    returns and that its client consumes in ``TryFrom<EntityLineage>``
    (project.rs:742-846). Entity attributes may come in either payload
    family (see the module docstring): Atlas-style anchors list their
    features and reference their source by guid, while ``save_project``
    anchors name their source and own their features through
    ``Contains`` relations. ``source_frames`` optionally re-binds named
    sources to in-memory DataFrames (remote paths in archived payloads
    are rarely reachable, DataFrame sources are saved without their
    frame, and embedded preprocessing code is never executed)."""
    if isinstance(payload, str):
        payload = json.loads(payload)
    ents: Dict[str, dict] = payload["guidEntityMap"]
    by_type: Dict[str, list] = {}
    for guid, e in ents.items():
        by_type.setdefault(e["typeName"], []).append((guid, e))
    contains: Dict[str, list] = {}
    for r in payload.get("relations", ()):
        if r["relationshipType"] == EdgeType.Contains.value:
            contains.setdefault(r["fromEntityId"], []).append(r["toEntityId"])

    ws = by_type[_WS][0][1]
    project_name = ws["attributes"].get("name") or _qualified_name(ws)
    p = FeathrProject(project_name, spark)

    sources: Dict[str, Source] = {}  # by guid, qualified name and name
    for guid, e in by_type.get(_SRC, ()):
        a = e["attributes"]
        src = _source_from_config(a["name"], a)
        if source_frames and src.name in source_frames:
            src = DataFrameSource(
                name=src.name, df=source_frames[src.name],
                time_window_parameters=src.time_window_parameters)
        p.register_source(src)
        sources.update({guid: src, _qualified_name(e): src, src.name: src})

    # strip the known project prefix by length — splitting on the first
    # "__" would land inside a project name that itself contains "__"
    prefix = f"{project_name}__"
    feature_index: Dict[str, Feature] = {}
    for guid, e in by_type.get(_ANCHOR, ()):
        a = e["attributes"]
        sref = a.get("source")
        if isinstance(sref, dict):  # Atlas entity reference
            sref = sref.get("guid") if sref.get("guid") in sources else \
                (sref.get("uniqueAttributes") or {}).get("qualifiedName")
        feature_guids = ([r["guid"] for r in a["features"]]
                         if "features" in a else contains.get(guid, ()))
        feats = [_lineage_feature(ents[g]["attributes"])
                 for g in feature_guids
                 if g in ents and ents[g]["typeName"] == _AF]
        qn = _qualified_name(e)
        name = a.get("name") or (qn[len(prefix):] if qn.startswith(prefix)
                                 else qn)
        p.register_anchor(FeatureAnchor(
            name=name, source=sources.get(sref, INPUT_CONTEXT),
            features=feats,
            broadcast_hint=bool(a.get("broadcast_hint"))))
        feature_index.update((f.name, f) for f in feats)

    pending: Dict[str, tuple] = {}
    for _, e in by_type.get(_DF, ()):
        a = e["attributes"]
        if "sql_expr" in a:  # save_project shape: inputs by name
            inputs = list(a.get("inputs") or ())
            kwargs = dict(
                transform=a["sql_expr"],
                key=tuple(_typed_key(k) for k in a.get("keys") or ()),
            )
        else:  # Atlas shape: inputs by entity reference
            refs = list(a.get("input_anchor_features", ())) + \
                list(a.get("input_derived_features", ()))
            inputs = [ents[r["guid"]]["attributes"]["name"] for r in refs]
            kwargs = dict(
                feature_type=_feature_type(a.get("type")),
                transform=_transformation(a.get("transformation", {})),
                key=_keys_from_list(a.get("key")),
            )
        pending[a["name"]] = (inputs, kwargs)
    _register_derived(p, pending, feature_index)
    return p
