"""Feathr definition formats: every encoder next to its decoder.

The engine plans from dataclasses; definitions leave Python only in the
formats below, and each is written and read in this module alone:

* the feature-definition config (IR #1) of the reference client's
  ``get_feature_config`` (reference project.rs:321-325, serializer at
  374-437): ``anchors`` (group → ``key.sqlExpr`` + source + features with
  untagged Expression/WindowAgg/Udf transformations and a ``type``,
  model.rs:248-276), ``derivations`` and ``sources``.
  :func:`feature_config` writes it (:meth:`FeathrProject.to_feature_config`)
  and :func:`from_feature_config` reads it, and the reference's camelCase
  serialization too.
* the join request (IR #2, project.rs:327-357 / observation.rs:50-97):
  :func:`from_join_config` reads ``observationPath`` +
  ``settings.joinTimeSettings.timestampColumn{def,format}`` +
  ``featureList`` + ``outputPath``.
* the registry's entity attributes, in the reference registry's Atlas
  shape (its registry/test-data/sample.json): anchor and derived features
  carry ``type``, ``transformation``, a typed ``key`` list and ``tags``;
  an anchor refers to its ``source`` and ``features``, a derived feature
  to its inputs, by entity reference. :func:`anchor_feature_attributes`,
  :func:`derived_feature_attributes` and :func:`anchor_attributes` write
  them (:func:`registry.roundtrip.save_project`); an anchor's
  ``broadcast_hint`` and the ``input_order`` of a derived feature's
  inputs ride as extra attributes. Sources keep this
  engine's ``kind``-tagged :func:`source_to_dict` shape, as in IR #1:
  Atlas has no fields for JDBC auth or Kafka/generic options.
  :func:`from_lineage` reads a lineage payload (``guidEntityMap`` +
  ``relations``), mirroring the reference's ``TryFrom<EntityLineage> for
  FeathrProjectImpl`` (project.rs:742-846). It is the only lineage
  decoder: :func:`registry.roundtrip.load_project` and the
  :class:`client.FeathrClient` loaders all go through it.

Python ``preprocessing`` source code embedded in lineage payloads is NOT
executed (arbitrary code); re-bind callables after load, as with
registry round-trips.
"""

from __future__ import annotations

import json
from dataclasses import asdict, dataclass
from typing import Dict, List, Optional, Sequence

from .feature import DerivedFeature, Feature, FeatureAnchor
from .model import (
    DUMMY_KEY_NAME, Aggregation, ExpressionTransform, FeatureType,
    TensorCategory, TypedKey, UdfTransform, ValueType, VectorType,
    WindowAggTransform,
)
from .project import FeathrProject, FeatureQuery
from .registry.api import TYPE_NAMES, entity_ref
from .registry.catalog import Entity, EntityType, RegistryError
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
    if isinstance(v, ValueType):
        return v
    return _VALUE_TYPES.get(str(v).upper(), ValueType.UNSPECIFIED)


# ---------------------------------------------------------------------------
# shared pieces: feature type, typed key, transformation, source
# ---------------------------------------------------------------------------

def _feature_type_to_dict(t: FeatureType) -> dict:
    """The reference's tensor type (model.rs:55-63, camelCase)."""
    return {"type": t.type_.value, "tensorCategory": t.tensor_category.value,
            "dimensionType": [_value_type(v).value for v in t.dimension_type],
            "valType": t.val_type.value}


def _feature_type(d: Optional[dict]) -> FeatureType:
    if not d:
        return FeatureType()
    return FeatureType(
        type_=VectorType(d.get("type", "TENSOR")),
        tensor_category=TensorCategory(d.get("tensorCategory", "DENSE")),
        dimension_type=tuple(_value_type(v)
                             for v in d.get("dimensionType", ())),
        val_type=_value_type(d.get("valType", "UNSPECIFIED")),
    )


def _typed_key_to_dict(k: TypedKey) -> dict:
    """One typed key (model.rs:146-167); the type is its serde name."""
    return {"key_column": k.key_column,
            "key_column_type": k.key_column_type.value,
            "full_name": k.full_name, "description": k.description,
            "key_column_alias": k.key_column_alias}


def _typed_key(d: dict) -> TypedKey:
    """One typed key entry; ``key_column_type`` is a serde name or an
    ordinal."""
    return TypedKey(
        key_column=d["key_column"],
        key_column_type=_value_type(d.get("key_column_type", "UNSPECIFIED")),
        full_name=d.get("full_name"),
        description=d.get("description"),
        key_column_alias=d.get("key_column_alias"),
    )


def _keys_from_list(keys: Optional[Sequence[dict]]) -> tuple:
    """Key list from a payload; the dummy/NOT_NEEDED sentinel maps to an
    empty tuple (Feature defaults it back to DUMMY_KEY)."""
    return tuple(_typed_key(k) for k in keys or ()
                 if k.get("key_column") not in (None, DUMMY_KEY_NAME))


# WindowAggTransform field → (registry attribute, IR #1 config key, other
# accepted config spellings); the decoder reads any of them
_WINDOW_KEYS = {
    "def_expr": ("def_expr", "def"),
    "agg_func": ("agg_func", "aggregation"),
    "window": ("window", "window"),
    "group_by": ("group_by", "groupBy"),
    "filter": ("filter", "filter"),
    "limit": ("limit", "limit"),
    "agg_param": ("agg_param", "agg_param", "aggParam"),
}
_ATTRIBUTE, _CONFIG = 0, 1  # spellings in _WINDOW_KEYS


def _window_fields(t: WindowAggTransform, spelling: int) -> dict:
    """``t``'s set fields, named by their ``spelling`` in
    :data:`_WINDOW_KEYS`."""
    values = {**asdict(t), "agg_func": t.agg_func.value}
    return {keys[spelling]: values[field]
            for field, keys in _WINDOW_KEYS.items()
            if values[field] is not None}


def _transformation_attributes(t) -> dict:
    """The registry's untagged Transformation attributes:
    ``{transform_expr}`` / ``{def_expr, agg_func, window, ...}`` /
    ``{name}``."""
    if isinstance(t, WindowAggTransform):
        return _window_fields(t, _ATTRIBUTE)
    if isinstance(t, UdfTransform):
        return {"name": t.name}
    if isinstance(t, ExpressionTransform):
        return {"transform_expr": t.sql_expr}
    raise RegistryError(f"unserializable transform {t!r}")


def _transformation_config(t) -> dict:
    """An IR #1 feature entry's transformation: ``{def: {sqlExpr}}`` /
    ``{def, aggregation, window, ...}`` / ``{udf}``."""
    if isinstance(t, WindowAggTransform):
        return _window_fields(t, _CONFIG)
    if isinstance(t, UdfTransform):
        return {"udf": t.name}
    if isinstance(t, ExpressionTransform):
        return {"def": {"sqlExpr": t.sql_expr}}
    raise ValueError(f"unserializable transform {t!r}")


def _transformation(d):
    """Inverse of :func:`_transformation_attributes` and
    :func:`_transformation_config`, and the reference's serde shapes
    (model.rs:248-276)."""
    if isinstance(d, str):
        return d
    if "udf" in d:
        return UdfTransform(d["udf"])
    if set(d) == {"name"}:
        return UdfTransform(d["name"])
    if "agg_func" in d or "aggregation" in d:
        kw = {}
        for field, keys in _WINDOW_KEYS.items():
            present = [k for k in keys if k in d]
            if present:
                kw[field] = d[present[0]]
        if kw.get("window") is None:
            raise ValueError(f"window aggregation without a window: {d!r}")
        if isinstance(kw.get("def_expr"), dict):
            kw["def_expr"] = kw["def_expr"]["sqlExpr"]
        kw["agg_func"] = Aggregation(kw["agg_func"])
        return WindowAggTransform(**kw)
    expr = d.get("def", d.get("definition", d.get("transform_expr")))
    if isinstance(expr, dict):
        expr = expr["sqlExpr"]
    if expr is None:
        raise ValueError(f"unrecognized transformation payload: {d!r}")
    return expr


def _twp_to_dict(twp: Optional[TimeWindowParameters]) -> Optional[dict]:
    if twp is None:
        return None
    return {"timestamp_column": twp.timestamp_column,
            "timestamp_column_format": twp.timestamp_column_format}


def source_to_dict(src: Source) -> dict:
    """This engine's ``kind``-tagged source shape, for IR #1 and the
    registry alike."""
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


def source_from_dict(d: dict) -> Source:
    """Inverse of :func:`source_to_dict`."""
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


def feature_config(p: FeathrProject) -> dict:
    """IR #1 of ``p`` (see :meth:`FeathrProject.to_feature_config`).

    An anchor's ``key.sqlExpr`` lists the source key columns of its first
    feature, and ``typedKey`` that feature's typed keys (alias and type):
    IR #1 holds one key list per anchor. It does not carry an anchor's
    ``broadcast_hint``, a feature's ``registry_tags``, a DataFrame
    source's frame or a source's ``preprocessing`` callable."""
    anchors = {}
    for aname, anchor in p.anchors.items():
        keys = anchor.features[0].key
        anchors[aname] = {
            "source": anchor.source.name,
            "key": {"sqlExpr": [k.key_column for k in keys]},
            "typedKey": [_typed_key_to_dict(k) for k in keys],
            "features": {
                f.name: {**_transformation_config(f.transform),
                         "type": _feature_type_to_dict(f.feature_type)}
                for f in anchor.features},
        }
    derivations = {
        d.name: {"definition": {"sqlExpr": d.transform.sql_expr},
                 "inputs": list(d.input_names),
                 "key": [_typed_key_to_dict(k) for k in d.key],
                 "type": _feature_type_to_dict(d.feature_type)}
        for d in p.derived.values()
    }
    sources = {s.name: source_to_dict(s) for s in p.sources.values()
               if not s.is_input_context}
    return {"anchors": anchors, "derivations": derivations,
            "sources": sources}


def from_feature_config(cfg, spark=None,
                        name: str = "imported") -> FeathrProject:
    """Build a runnable project from a feature-definition config dict (or
    JSON string) in the reference's shape. Inverse of
    :func:`feature_config`; without ``typedKey`` (the reference's own
    config) the ``key.sqlExpr`` columns become untyped keys."""
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
        if "typedKey" in ad:
            keys = _keys_from_list(ad["typedKey"])
        else:
            keys = tuple(TypedKey(key_column=c)
                         for c in ad.get("key", {}).get("sqlExpr") or ()
                         if c != DUMMY_KEY_NAME)
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
# registry entity attributes and lineage payload (Atlas shape)
# ---------------------------------------------------------------------------

_WS, _SRC, _ANCHOR, _AF, _DF = (
    TYPE_NAMES[EntityType.Project], TYPE_NAMES[EntityType.Source],
    TYPE_NAMES[EntityType.Anchor], TYPE_NAMES[EntityType.AnchorFeature],
    TYPE_NAMES[EntityType.DerivedFeature])


def anchor_feature_attributes(f: Feature) -> dict:
    return {"name": f.name, "type": _feature_type_to_dict(f.feature_type),
            "transformation": _transformation_attributes(f.transform),
            "key": [_typed_key_to_dict(k) for k in f.key],
            "tags": dict(f.registry_tags)}


def derived_feature_attributes(d: DerivedFeature,
                               inputs: Sequence[Entity]) -> dict:
    """``inputs`` are the entities of ``d.input_features``, in order. Atlas
    refers to anchor and derived inputs in two lists; ``input_order``
    keeps their interleaving (the order of a derived feature's inputs
    orders the anchor features a query resolves)."""
    return {"name": d.name, "type": _feature_type_to_dict(d.feature_type),
            "transformation": _transformation_attributes(d.transform),
            "key": [_typed_key_to_dict(k) for k in d.key], "tags": {},
            "input_anchor_features": [
                entity_ref(e) for e in inputs
                if e.entity_type == EntityType.AnchorFeature],
            "input_derived_features": [
                entity_ref(e) for e in inputs
                if e.entity_type == EntityType.DerivedFeature],
            "input_order": list(d.input_names)}


def anchor_attributes(anchor: FeatureAnchor, source: Entity,
                      features: Sequence[Entity]) -> dict:
    return {"name": anchor.name, "source": entity_ref(source),
            "features": [entity_ref(e) for e in features], "tags": {},
            "broadcast_hint": anchor.broadcast_hint}


def _qualified_name(e: dict) -> str:
    # Atlas entities carry it among their attributes; RegistryApi entities
    # carry it beside them
    return e["attributes"].get("qualifiedName") or e["qualifiedName"]


def _lineage_feature(a: dict) -> Feature:
    return Feature(
        name=a["name"],
        feature_type=_feature_type(a.get("type")),
        transform=_transformation(a.get("transformation", {})),
        key=_keys_from_list(a.get("key")),
        registry_tags=dict(a.get("tags") or {}),
    )


def from_lineage(payload, spark=None,
                 source_frames: Optional[dict] = None) -> FeathrProject:
    """Rebuild a runnable project from a registry lineage payload
    (``guidEntityMap`` + ``relations``), the shape the reference registry
    returns and that its client consumes in ``TryFrom<EntityLineage>``
    (project.rs:742-846). Anchors list their features and refer to their
    source by entity reference; derived features refer to their inputs
    in two lists, anchor features then derived features, in the order of
    their ``input_order`` names where a payload has one (the reference's
    payloads do not). ``source_frames`` optionally re-binds
    named sources to in-memory DataFrames (remote paths in archived
    payloads are rarely reachable, DataFrame sources are saved without
    their frame, and embedded preprocessing code is never executed)."""
    if isinstance(payload, str):
        payload = json.loads(payload)
    ents: Dict[str, dict] = payload["guidEntityMap"]
    by_type: Dict[str, list] = {}
    for guid, e in ents.items():
        by_type.setdefault(e["typeName"], []).append((guid, e))

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
    for _, e in by_type.get(_ANCHOR, ()):
        a = e["attributes"]
        sref = a.get("source")
        if isinstance(sref, dict):  # Atlas entity reference
            sref = sref.get("guid") if sref.get("guid") in sources else \
                (sref.get("uniqueAttributes") or {}).get("qualifiedName")
        feats = [_lineage_feature(ents[r["guid"]]["attributes"])
                 for r in a.get("features", ())
                 if r["guid"] in ents and ents[r["guid"]]["typeName"] == _AF]
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
        refs = list(a.get("input_anchor_features", ())) + \
            list(a.get("input_derived_features", ()))
        inputs = [ents[r["guid"]]["attributes"]["name"] for r in refs]
        rank = {n: i for i, n in enumerate(a.get("input_order", ()))}
        inputs.sort(key=lambda n: rank.get(n, len(rank)))
        pending[a["name"]] = (
            inputs,
            dict(feature_type=_feature_type(a.get("type")),
                 transform=_transformation(a.get("transformation", {})),
                 key=_keys_from_list(a.get("key"))))
    _register_derived(p, pending, feature_index)
    return p
