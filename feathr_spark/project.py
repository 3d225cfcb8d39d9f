"""FeathrProject: feature registration + the query planner.

The reference compiles feature definitions into HOCON/JSON configs and
submits remote Spark jobs (/root/reference/feathr-rs/src/project.rs,
job_client/mod.rs). This engine is in-process: definitions are dataclasses
and ``get_offline_features`` plans and returns a *lazy* DataFrame — Catalyst
is the physical layer, there is no process boundary until ``.write``.

Planner responsibilities (SURVEY §4 — the only custom planning logic):
  * group features by (source, key-alias list) so one anchor group costs one
    source scan / one shuffle (scan+agg sharing, project.rs:374-437);
  * passthrough features are ``withColumn`` — no join;
  * non-windowed keyed anchors become left equi-joins (dimension semantics);
  * windowed anchors go through the point-in-time operator;
  * derived features are topologically ordered ``withColumn``s.
"""

from __future__ import annotations

from dataclasses import dataclass
from datetime import datetime
from typing import Callable, Dict, List, Optional, Sequence, Tuple, Union

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .feature import DerivedFeature, FeathrError, Feature, FeatureAnchor
from .functions import (
    feathr_expr, quote_ident, register_feathr_functions, sql_expr, sql_ref,
    sql_str)
from .materialization import DATETIME_FMT, MaterializationSettings, RedisSink
from .model import ExpressionTransform, UdfTransform, WindowAggTransform
from .operators.aggregations import agg_sql
from .operators.point_in_time import (
    T_MIN, PitSource, WindowFeatureSpec, point_in_time_join)
from .source import EVENT_TS_COL, ObservationSettings, Source


@dataclass(frozen=True)
class FeatureQuery:
    """Requested features + the observation key columns to join them on
    (reference feature_query.rs:7-10). ``key`` positionally overrides each
    feature's own key aliases; None means use the aliases as-is."""
    feature_list: Tuple[str, ...]
    key: Optional[Tuple[str, ...]] = None

    def __post_init__(self):
        object.__setattr__(self, "feature_list", tuple(self.feature_list))
        if self.key is not None:
            object.__setattr__(self, "key", tuple(self.key))


class FeathrProject:
    """Container of sources, anchors and derived features
    (reference project.rs:28-30, 361-372)."""

    def __init__(self, name: str, spark: Optional[SparkSession] = None):
        self.name = name
        self.spark = spark
        self.sources: Dict[str, Source] = {}
        self.anchors: Dict[str, FeatureAnchor] = {}
        self.derived: Dict[str, DerivedFeature] = {}
        self.udfs: Dict[str, Callable] = {}
        self._feature_index: Dict[str, Tuple[FeatureAnchor, Feature]] = {}

    # ------------------------------------------------------------------
    # registration
    # ------------------------------------------------------------------
    def register_source(self, source: Source) -> Source:
        self.sources[source.name] = source
        return source

    def register_anchor(self, anchor: FeatureAnchor) -> FeatureAnchor:
        if anchor.name in self.anchors:
            raise FeathrError(f"duplicate anchor {anchor.name}")
        self.anchors[anchor.name] = anchor
        self.sources.setdefault(anchor.source.name, anchor.source)
        for f in anchor.features:
            if f.name in self._feature_index or f.name in self.derived:
                raise FeathrError(f"duplicate feature {f.name}")
            self._feature_index[f.name] = (anchor, f)
        return anchor

    def register_derived(self, d: DerivedFeature) -> DerivedFeature:
        if d.name in self.derived or d.name in self._feature_index:
            raise FeathrError(f"duplicate feature {d.name}")
        for inp in d.input_features:
            if inp.name not in self._feature_index and inp.name not in self.derived:
                raise FeathrError(f"derived {d.name}: unknown input {inp.name}")
        self.derived[d.name] = d
        return d

    def register_udf(self, name: str, fn: Callable) -> None:
        self.udfs[name] = fn

    # ------------------------------------------------------------------
    # introspection (reference python/src/lib.rs FeathrProject getters:
    # get_sources/get_source/get_anchor_groups/get_anchor_group/
    # get_anchor_features/get_derived_features/get_derived_feature/
    # get_input_context)
    # ------------------------------------------------------------------
    def get_sources(self) -> Dict[str, Source]:
        return dict(self.sources)

    def get_source(self, name: str) -> Source:
        try:
            return self.sources[name]
        except KeyError:
            raise FeathrError(f"unknown source {name}") from None

    def get_anchor_groups(self) -> Dict[str, FeatureAnchor]:
        return dict(self.anchors)

    def get_anchor_group(self, name: str) -> FeatureAnchor:
        try:
            return self.anchors[name]
        except KeyError:
            raise FeathrError(f"unknown anchor {name}") from None

    def get_anchor_features(self) -> List[str]:
        return list(self._feature_index)

    def get_derived_features(self) -> Dict[str, DerivedFeature]:
        return dict(self.derived)

    def get_derived_feature(self, name: str) -> DerivedFeature:
        try:
            return self.derived[name]
        except KeyError:
            raise FeathrError(f"unknown derived feature {name}") from None

    def get_input_context(self):
        from .source import INPUT_CONTEXT
        return INPUT_CONTEXT

    # ------------------------------------------------------------------
    # planning
    # ------------------------------------------------------------------
    def _resolve(self, names: Sequence[str]) -> Tuple[List[Tuple[FeatureAnchor, Feature]], List[DerivedFeature]]:
        """Expand requested names (+ transitive derived inputs) into anchor
        features and topologically-ordered derived features."""
        anchor_feats: Dict[str, Tuple[FeatureAnchor, Feature]] = {}
        derived_order: List[DerivedFeature] = []
        visiting: set = set()
        done: set = set()

        def visit(n: str):
            if n in done:
                return
            if n in visiting:
                raise FeathrError(f"cycle in derived features at {n}")
            visiting.add(n)
            if n in self.derived:
                d = self.derived[n]
                for inp in d.input_names:
                    visit(inp)
                derived_order.append(d)
            elif n in self._feature_index:
                anchor_feats[n] = self._feature_index[n]
            else:
                raise FeathrError(f"unknown feature {n}")
            visiting.discard(n)
            done.add(n)

        for n in names:
            visit(n)
        return list(anchor_feats.values()), derived_order

    def get_offline_features(
        self,
        observation: Union[DataFrame, ObservationSettings],
        feature_query: Union[FeatureQuery, Sequence[FeatureQuery]],
        observation_settings: Optional[ObservationSettings] = None,
        spark: Optional[SparkSession] = None,
        time_prune: bool = False,
    ) -> DataFrame:
        """Point-in-time-correct LEFT feature join onto the observation
        frame (reference project.rs:248-278). Returns a lazy DataFrame.

        ``time_prune=True`` eagerly computes the observation's event-time
        bounds (one tiny aggregate job per call, over the observation
        frame, shared by every windowed group and query) and restricts
        every windowed source scan to ``(min_obs_ts − max_window,
        max_obs_ts]`` — at scale this reaches parquet row-group/partition
        pruning (SURVEY §4 'partition pruning by time'). Leave False when
        observation ≈ source (self-join shape) where it prunes nothing.

        Planning is lazy: the returned DataFrame is built without running
        a Spark job, except for the ``time_prune`` bounds job above and,
        on the first read of each file source (``HdfsSource``,
        ``ObservationSettings``) in a session, Spark's schema-inference
        job(s); later reads of unchanged files reuse the inferred schema
        and run none (see ``HdfsSource.read``). Windowed features without
        ``group_by`` use the lane-ordered window, ``group_by`` ones an
        interval join (see operators.point_in_time).
        """
        spark = spark or self.spark
        if isinstance(observation, ObservationSettings):
            observation_settings = observation
            obs_df = observation.load(spark)
        else:
            obs_df = observation
        if observation_settings is not None:
            obs_df = observation_settings.with_event_ts(obs_df)
        if spark is None:
            spark = obs_df.sparkSession
        register_feathr_functions(spark)

        queries = [feature_query] if isinstance(feature_query, FeatureQuery) else list(feature_query)
        bounds: list = []

        def obs_bounds() -> Optional[Tuple[int, int]]:
            # one eager job, on the observation frame itself, for all groups
            if not bounds:
                r = obs_df.select(
                    F.unix_millis(F.min(EVENT_TS_COL).cast("timestamp")).alias("lo"),
                    F.unix_millis(F.max(EVENT_TS_COL).cast("timestamp")).alias("hi"),
                ).first()
                bounds.append((r.lo, r.hi) if r and r.lo is not None else None)
            return bounds[0]

        out = obs_df
        for q in queries:
            out = self._apply_query(spark, out, q,
                                    obs_bounds if time_prune else None)
        return out.drop(EVENT_TS_COL)

    def _apply_query(self, spark: SparkSession, obs: DataFrame, q: FeatureQuery,
                     obs_bounds: Optional[Callable[[], Optional[Tuple[int, int]]]]
                     ) -> DataFrame:
        anchor_feats, derived_order = self._resolve(q.feature_list)

        def obs_keys_for(f: Feature) -> List[str]:
            aliases = list(f.key_aliases)
            if q.key is not None:
                if len(q.key) != len(aliases):
                    raise FeathrError(
                        f"{f.name}: query key arity {len(q.key)} != feature key arity {len(aliases)}")
                return list(q.key)
            return aliases

        # ---- passthrough (INPUT_CONTEXT) features: plain column exprs ----
        out = obs
        for anchor, f in anchor_feats:
            if not anchor.is_passthrough:
                continue
            out = self._attach_expression(out, f)

        # ---- group keyed features by (source, key columns, windowed?) ----
        joins: Dict[Tuple, List[Tuple[FeatureAnchor, Feature]]] = {}
        windows: Dict[Tuple, List[Tuple[FeatureAnchor, Feature]]] = {}
        for anchor, f in anchor_feats:
            if anchor.is_passthrough:
                continue
            gkey = (anchor.source.name,
                    tuple(k.key_column for k in f.key),
                    tuple(obs_keys_for(f)))
            (windows if f.is_windowed else joins).setdefault(gkey, []).append((anchor, f))

        for (src_name, src_keys, obs_keys), feats in joins.items():
            out = self._attach_keyed_join(spark, out, src_keys, obs_keys, feats)

        # ---- windowed groups: ONE point-in-time call, so the union-window
        # sources on one observation key set share one shuffle, sort and
        # Window pass ----
        if windows:
            if EVENT_TS_COL not in out.columns:
                raise FeathrError(
                    "windowed features require observation timestamp settings "
                    "(ObservationSettings.timestamp_column)")
            sources = [self._windowed_source(spark, src_keys, obs_keys, feats,
                                             obs_bounds)
                       for (_, src_keys, obs_keys), feats in windows.items()]
            out = point_in_time_join(out, EVENT_TS_COL, sources)

        # ---- derived features: topo-ordered column expressions ----
        for d in derived_order:
            assert isinstance(d.transform, ExpressionTransform)
            out = out.withColumn(d.name, feathr_expr(d.transform.sql_expr))
        return out

    def _attach_expression(self, df: DataFrame, f: Feature) -> DataFrame:
        t = f.transform
        if isinstance(t, ExpressionTransform):
            return df.withColumn(f.name, feathr_expr(t.sql_expr))
        if isinstance(t, UdfTransform):
            fn = self.udfs.get(t.name)
            if fn is None:
                raise FeathrError(f"{f.name}: UDF {t.name} not registered")
            return fn(df, f.name)
        raise FeathrError(f"{f.name}: unsupported passthrough transform {t}")

    def _attach_keyed_join(self, spark: SparkSession, obs: DataFrame,
                           src_keys: Sequence[str], obs_keys: Sequence[str],
                           feats: List[Tuple[FeatureAnchor, Feature]]) -> DataFrame:
        """Non-windowed keyed anchor: dimension-table semantics — project the
        source to (keys, feature exprs) and LEFT-join on the (aliased) keys.
        One scan serves every feature of the group. Spark/AQE picks
        broadcast vs shuffled join from size estimates."""
        anchor = feats[0][0]
        cols = [f"{sql_ref(sk)} AS {quote_ident(ok)}"
                for sk, ok in zip(src_keys, obs_keys)]
        for _, f in feats:
            assert isinstance(f.transform, ExpressionTransform)
            cols.append(f"{sql_expr(f.transform.sql_expr)} AS {quote_ident(f.name)}")
        feature_df = anchor.source.load(spark).selectExpr(*cols)
        if anchor.broadcast_hint:
            feature_df = feature_df.hint("broadcast")
        return obs.join(feature_df, on=list(obs_keys), how="left")

    def _windowed_source(self, spark: SparkSession, src_keys: Sequence[str],
                         obs_keys: Sequence[str],
                         feats: List[Tuple[FeatureAnchor, Feature]],
                         obs_bounds: Optional[Callable[[], Optional[Tuple[int, int]]]],
                         ) -> PitSource:
        """One windowed group's source frame and specs. ``obs_bounds``
        (time_prune only) returns the observation's event-time bounds in
        epoch ms, or None for no non-NULL time; the source scan is then
        restricted to ``(lo − max_window, hi]``."""
        anchor = feats[0][0]
        src_df = anchor.source.load(spark)
        specs = [WindowFeatureSpec(out_name=f.name, transform=f.transform)
                 for _, f in feats]
        bounds = obs_bounds() if obs_bounds is not None else None
        if bounds is not None:
            max_w = max(f.transform.window_ms for _, f in feats)
            # no row is older than year 1, and timestamp_millis raises
            # "long overflow" for a bound far before it (a very long window)
            lo_ms = max(bounds[0] - max_w, T_MIN - 1)
            # Windows compare whole epoch ms, so the upper bound keeps the
            # sub-ms rows of millisecond hi. On the event-time column,
            # Catalyst unwraps the cast of a timestamp or timestamp_ntz
            # source column and pushes this into the parquet scan
            # (row-group and partition pruning).
            src_df = src_df.where(
                f"{EVENT_TS_COL} > timestamp_millis({lo_ms}) AND "
                f"{EVENT_TS_COL} < timestamp_millis({bounds[1] + 1})")
        return PitSource(src_df, list(obs_keys), list(src_keys), EVENT_TS_COL,
                         specs)

    def to_feature_config(self) -> dict:
        """Serialize definitions in the reference's feature-config shape
        (IR #1, project.rs:321-325 / 374-437): ``sources``, ``anchors``
        (group → key sqlExpr + features with type/def/aggregation), and
        ``derivations``. Our engine never round-trips through this config —
        it exists for interop/debugging parity with the reference; see
        :func:`~feathr_spark.configio.feature_config` for what it carries."""
        from .configio import feature_config
        return feature_config(self)

    def to_join_config(self, observation: ObservationSettings,
                       feature_queries, output_path: str) -> dict:
        """Serialize a join request in the reference's FeatureJoinConfig
        shape (IR #2, project.rs:327-357 / observation.rs:50-97):
        observationPath, settings.joinTimeSettings.timestampColumn
        {def, format}, featureList [{featureList, key}], outputPath. Like
        ``to_feature_config`` this is interop/debugging parity only — the
        engine plans directly from the dataclasses."""
        if isinstance(feature_queries, FeatureQuery):
            feature_queries = [feature_queries]
        settings: dict = {}
        if observation.timestamp_column is not None:
            ts = {"def": observation.timestamp_column}
            if observation.timestamp_format is not None:
                ts["format"] = observation.timestamp_format
            settings["joinTimeSettings"] = {"timestampColumn": ts}
        feature_list = []
        for q in feature_queries:
            key = q.key
            if key is None:
                anchor_feats, _ = self._resolve(q.feature_list)
                key = tuple(anchor_feats[0][1].key_aliases) if anchor_feats \
                    else ()
            feature_list.append({"featureList": list(q.feature_list),
                                 "key": list(key)})
        return {"observationPath": observation.observation_path,
                "settings": settings,
                "featureList": feature_list,
                "outputPath": output_path}

    def to_materialization_configs(
            self, settings: MaterializationSettings) -> List[dict]:
        """One config per cutoff, newest first, in the reference's
        feature-generation shape (materialization.rs:149-231: operational
        {name, endTime 'yyyy-MM-dd HH:mm:ss', resolution, output sinks} +
        feature name list; one submitted job per cutoff,
        job_client/mod.rs:756-793)."""
        from .materialization import sink_to_dict
        cutoffs = (settings.backfill_time.cutoffs()
                   if settings.backfill_time else [])
        resolution = (settings.backfill_time.step
                      if settings.backfill_time else "DAILY")
        return [{
            "operational": {
                "name": settings.name,
                "endTime": cutoff.strftime("%Y-%m-%d %H:%M:%S"),
                "endTimeFormat": "yyyy-MM-dd HH:mm:ss",
                "resolution": resolution,
                "output": [sink_to_dict(s) for s in settings.sinks],
            },
            "features": list(settings.feature_names),
        } for cutoff in cutoffs]

    def save_offline_features(self, observation, feature_query, sink,
                              **kwargs) -> None:
        """Offline join-job output (reference project.rs:266-277): compute
        the feature join and write it through a sink (any GenericSink —
        format/path/mode/options; ``num_parts`` mirrors ``--num-parts``)."""
        df = self.get_offline_features(observation, feature_query, **kwargs)
        sink.write(df)

    # ------------------------------------------------------------------
    # materialization (reference entry point B, project.rs:283-308)
    # ------------------------------------------------------------------
    def compute_snapshot(self, spark: SparkSession, feature_names: Sequence[str],
                         cutoff: datetime) -> DataFrame:
        """Latest-per-key feature values as of ``cutoff``: windowed features
        aggregate over (cutoff − w, cutoff]; plain keyed features take the
        LATEST row per key (or any row for non-time-aware sources)."""
        return self._compute_snapshots(spark, feature_names, [cutoff])

    def _compute_snapshots(self, spark: SparkSession,
                           feature_names: Sequence[str],
                           cutoffs: Sequence[datetime]) -> DataFrame:
        """Snapshots for every cutoff in ONE pass: one scan per source
        group and ONE aggregate over all groups.

        Each source row is fanned out to the cutoffs it can contribute to
        with ``explode(filter(<literal cutoff array>, c -> ts <= c))`` — a
        narrow per-row projection, NO join (a broadcast range join against
        a cutoff table would plan a BroadcastNestedLoopJoin; the literal
        array is evaluated inside the scan stage). Per-cutoff window masks
        are ordinary projections referencing the exploded cutoff column.

        Each group projects its fanned rows to the keys, the cutoff, a
        presence tag ``__g<i> = 1`` and one masked value column and one ts
        column per feature; the groups are ``unionByName``-ed (a column of
        another group reads NULL, which every aggregate ignores) and
        aggregated by a single ``groupBy(keys, cutoff)``. So an N-cutoff,
        G-group backfill costs G source scans and one shuffle — no full
        outer join of per-group aggregates; map-side partial aggregation
        compresses the fan-out to |keys| × N rows before the exchange.
        With more than one group each feature is wrapped in
        ``when(count(__g<i>) > 0, agg)``, so a key absent from a group's
        source at a cutoff reads NULL for that group's features (not 0 for
        a COUNT), as in a full outer join of the per-group snapshots.

        A key keeps a (possibly all-NULL) row for every cutoff at or after
        its first source row — identical to the per-cutoff formulation
        (filter ``ts <= cutoff`` then aggregate), which is why stale keys
        are not pruned by window reach here.
        """
        register_feathr_functions(spark)
        anchor_feats, derived_order = self._resolve(feature_names)
        if not cutoffs:
            raise FeathrError("no cutoffs to materialize")

        groups: Dict[Tuple, List[Tuple[FeatureAnchor, Feature]]] = {}
        for anchor, f in anchor_feats:
            if anchor.is_passthrough:
                raise FeathrError(
                    f"{f.name}: passthrough features cannot be materialized")
            gkey = (anchor.source.name, tuple(k.key_column for k in f.key),
                    tuple(k.alias for k in f.key))
            groups.setdefault(gkey, []).append((anchor, f))
        if not groups:
            raise FeathrError("no features to materialize")

        # naive cutoffs are interpreted as UTC (the engine pins timestamps
        # to UTC instants; see also the tests' session timeZone=UTC)
        from datetime import timezone
        cut_items = []
        for cutoff in cutoffs:
            cutoff_utc = (cutoff if cutoff.tzinfo
                          else cutoff.replace(tzinfo=timezone.utc))
            cut_items.append((cutoff.strftime(DATETIME_FMT),
                              int(cutoff_utc.timestamp() * 1000)))
        cut_array = "array({})".format(", ".join(
            f"named_struct('cut_str', {sql_str(s)}, 'cut_ms', {ms})"
            for s, ms in cut_items))
        ts_ms = f"unix_millis(CAST({EVENT_TS_COL} AS TIMESTAMP))"

        from .model import Aggregation
        tagged = len(groups) > 1
        parts: List[DataFrame] = []
        aggs: List[str] = []
        join_keys: Optional[List[str]] = None
        feature_order: List[str] = []
        for i, ((src_name, src_keys, aliases), feats) in enumerate(groups.items()):
            if join_keys is None:
                join_keys = list(aliases)
            elif list(aliases) != join_keys:
                raise FeathrError(
                    "materialized features must share key aliases "
                    f"({join_keys} vs {list(aliases)})")
            anchor = feats[0][0]
            src_df = anchor.source.load(spark)
            time_aware = EVENT_TS_COL in src_df.columns
            fanned = src_df.selectExpr("*", (
                f"explode(filter({cut_array}, __c -> {ts_ms} <= __c.cut_ms))"
                if time_aware else f"explode({cut_array})") + " AS __cut")
            # cut_ms is grouped alongside cut_str (1:1 — group set is
            # unchanged) so DECAY's post-transform may reference the cutoff
            # epoch as a grouping expression.
            cols = [f"{sql_ref(sk)} AS {quote_ident(a)}"
                    for sk, a in zip(src_keys, aliases)]
            cols += ["__cut.cut_str AS feathr_cutoff",
                     "__cut.cut_ms AS __feathr_cut_ms"]
            if tagged:
                cols.append(f"1 AS __g{i}")
            for _, f in feats:
                t = f.transform
                if isinstance(t, WindowAggTransform):
                    if not time_aware:
                        raise FeathrError(f"{f.name}: windowed feature needs event time")
                    if t.group_by is not None or t.limit is not None:
                        raise FeathrError(
                            f"{f.name}: group_by/limit features cannot be "
                            "materialized (a snapshot holds one value per key)")
                    v = (f"CASE WHEN {ts_ms} > __cut.cut_ms - {t.window_ms} "
                         f"THEN {sql_expr(t.def_expr)} END")
                    if t.filter:
                        v = f"CASE WHEN {sql_expr(t.filter)} THEN {v} END"
                    # ts in epoch MILLIS to match obs_ts (cut_ms): DECAY
                    # subtracts the two; order-based aggs (NOP/LATEST) are
                    # unaffected by the monotone unit change.
                    agg, ts, param = t.agg_func, ts_ms, t.agg_param
                else:
                    assert isinstance(t, ExpressionTransform)
                    v = sql_expr(t.sql_expr)
                    agg = Aggregation.LATEST if time_aware else Aggregation.NOP
                    ts = EVENT_TS_COL if time_aware else "0"
                    param = None
                j = len(feature_order)
                cols += [f"{v} AS __v{j}", f"{ts} AS __t{j}"]
                a = agg_sql(agg, f"__v{j}", f"__t{j}", param,
                            obs_ts="__feathr_cut_ms")
                if tagged:
                    a = f"CASE WHEN count(__g{i}) > 0 THEN {a} END"
                aggs.append(f"{a} AS {quote_ident(f.name)}")
                feature_order.append(f.name)
            parts.append(fanned.selectExpr(*cols))

        union = parts[0]
        for part in parts[1:]:
            union = union.unionByName(part, allowMissingColumns=True)
        result = union.groupBy(*map(quote_ident, join_keys), "feathr_cutoff",
                               "__feathr_cut_ms").agg(*map(F.expr, aggs))
        for d in derived_order:
            result = result.withColumn(d.name, feathr_expr(d.transform.sql_expr))
            feature_order.append(d.name)
        # column order matches the historical per-cutoff shape:
        # keys..., features..., feathr_cutoff last
        return result.selectExpr(*map(quote_ident, [*join_keys, *feature_order,
                                                    "feathr_cutoff"]))

    def compute_backfill(self, spark: SparkSession, feature_names: Sequence[str],
                         backfill_time) -> DataFrame:
        """All backfill snapshots as one DataFrame (``feathr_cutoff``
        distinguishes them). Same cutoff stepping as
        ``materialize_features`` (materialization.rs:200-231) without the
        sink writes: this is the frame that method writes to each sink.

        Unlike the reference's one-job-per-cutoff submission loop, all
        cutoffs run in a single pass: one scan per source and one shuffle
        total (see :meth:`_compute_snapshots`) — the difference between 365
        scans of each source and 1 for a year's daily backfill."""
        cutoffs = backfill_time.cutoffs()
        if not cutoffs:
            raise FeathrError("backfill range produced no cutoffs")
        return self._compute_snapshots(spark, feature_names, cutoffs)

    def materialize_features(self, settings: MaterializationSettings,
                             spark: Optional[SparkSession] = None) -> List[datetime]:
        """One snapshot per backfill cutoff, iterating backwards from end
        (materialization.rs:200-231), written to every sink.

        The reference submits one job per cutoff (job_client/mod.rs:756-793);
        here every cutoff is computed in ONE pass (:meth:`compute_backfill`)
        and each sink gets ONE write of that frame: every row carries its
        ``feathr_cutoff``, so a file sink holds all cutoffs, also in a
        replacing (``overwrite``) or ``error`` mode. The exception is a
        :class:`RedisSink`: it keeps one hash per entity key, which can hold
        one cutoff only, so it is written the newest cutoff's slice.
        Nothing is persisted: with several sinks each write re-runs the
        pass. Returns the cutoffs, newest first; an empty backfill range
        writes nothing and returns ``[]``."""
        spark = spark or self.spark
        bt = settings.backfill_time
        if bt is None:
            raise FeathrError("materialization requires backfill_time")
        cutoffs = bt.cutoffs()
        if not cutoffs:
            return []
        df = self.compute_backfill(spark, settings.feature_names, bt)
        for sink in settings.sinks:
            if isinstance(sink, RedisSink):
                sink.write(df.where("feathr_cutoff = "
                                    + sql_str(cutoffs[0].strftime(DATETIME_FMT))))
            else:
                sink.write(df)
        return cutoffs
