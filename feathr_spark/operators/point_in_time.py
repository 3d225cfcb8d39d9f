"""Point-in-time sliding-window aggregation — the core Feathr operator.

Semantics (reference /root/reference/feathr-rs/src/model.rs:254-293 as
consumed by FeatureJoinJob): for each observation row with key *k* and
event time *t*, aggregate ``def_expr`` over source rows with key *k* and
source event time in ``(t − window, t]``, after applying ``filter``,
optionally sub-grouped by ``group_by`` keeping at most ``limit`` groups.

Two physical strategies, chosen per feature group:

**union-window (default).** Tag source rows and observation rows, union
them on (key, epoch_ms), and compute every aggregate with
``Window.partitionBy(keys).orderBy(t).rangeBetween(-(w-1), 0)`` where the
aggregated value is NULL on observation rows. One shuffle + one sort per
(source, key-set) group — *no join, no row explosion* — and every window
length / agg function over the same group shares that single
shuffle+sort. This is the 100 TB-safe plan: cost is O(|obs|+|src|) state,
skew handled by AQE; contrast with the naive interval join whose output is
O(|obs| × rows-per-window).

**interval-join (for group_by/limit).** Equi-join on keys with a range
predicate, then two-level groupBy. Used only when the aggregation has a
``group_by`` sub-clause, whose grouped top-k output is not expressible as
a window aggregate. The join is a plain shuffled equi-join on the entity
key; the range predicate is applied post-join (Catalyst pushes it into the
join when profitable).
"""

from __future__ import annotations

from dataclasses import dataclass
from typing import List, Sequence

from py4j.protocol import Py4JError
from pyspark.errors import PySparkException
from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from ..functions import feathr_expr
from ..model import Aggregation, WindowAggTransform
from .aggregations import make_agg, simple_agg

_T = "__feathr_t"          # epoch millis ordering column
_TAG = "__feathr_is_obs"   # 1 = observation row, NULL = source row


@dataclass(frozen=True)
class WindowFeatureSpec:
    out_name: str
    transform: WindowAggTransform


def _value_col(t: WindowAggTransform) -> Column:
    v = feathr_expr(t.def_expr)
    if t.filter:
        v = F.when(feathr_expr(t.filter), v)
    return v


def choose_pit_strategy(
    source: DataFrame,
    src_keys: Sequence[str],
    sample_rows: int = 100_000,
    hot_share: float = 0.2,
) -> str:
    """Pick the physical PIT strategy from a sampled key-skew statistic.

    A window function needs an entity key's entire history in ONE task —
    a pathologically hot key (bot account, null-like sentinel id) pins a
    partition no matter how many executors exist, and AQE cannot split a
    window partition. The interval join, by contrast, is a shuffled
    equi-join whose skewed key AQE splits across tasks. So: sample up to
    ``sample_rows`` source rows (key columns only — pruned scan), and if
    the most frequent key tuple holds ≥ ``hot_share`` of the sample,
    return ``"interval_join"``; else ``"union_window"``.

    Cost: one small aggregate job at plan time over a column-pruned
    sampled scan (LocalLimit short-circuits the read). The sample is
    per-partition-prefix rather than uniform — fine for a coarse
    one-key-dominates signal; borderline skew just below the threshold
    still runs union_window correctly. Decisions are memoized on the
    source plan's semantic hash, so re-planning over the same source
    (multiple anchors, repeated jobs in one session) samples once.
    """
    try:
        cache_key = (source.semanticHash(), tuple(src_keys), hot_share)
    except (Py4JError, PySparkException):
        cache_key = None
    # one .get(), not `in` then `[]`: another query planning in the same
    # session may clear() the memo between the two
    hit = _STRATEGY_CACHE.get(cache_key)
    if hit is not None:
        return hit
    sample = source.select(*src_keys).limit(sample_rows)
    top = (sample.groupBy(*src_keys).count()
           .agg(F.max("count").alias("mx"), F.sum("count").alias("n"))
           .first())
    decision = "union_window"
    if top and top.n and top.mx / top.n >= hot_share:
        decision = "interval_join"
    if cache_key is not None:
        if len(_STRATEGY_CACHE) > 256:
            _STRATEGY_CACHE.clear()
        _STRATEGY_CACHE[cache_key] = decision
    return decision


_STRATEGY_CACHE: dict = {}


def point_in_time_aggregate(
    obs: DataFrame,
    source: DataFrame,
    obs_keys: Sequence[str],
    src_keys: Sequence[str],
    obs_ts: str,
    src_ts: str,
    specs: Sequence[WindowFeatureSpec],
    strategy: str = "auto",
) -> DataFrame:
    """Attach one column per spec to ``obs``.

    ``obs_keys``/``src_keys`` are positionally matched join columns.
    ``obs_ts``/``src_ts`` are TimestampType column names.

    ``strategy`` selects the physical plan for simple (non-group_by) specs:

    * ``"auto"`` (default) — :func:`choose_pit_strategy` samples the
      source's key distribution and picks ``interval_join`` when one key
      tuple dominates (≥20% of the sample), else ``union_window``.
    * ``"union_window"`` — one shuffle+sort, no row explosion;
      the right choice almost always. Its one weakness is a pathologically
      hot entity key: window functions need a key's full history in one
      task and AQE cannot split it.
    * ``"interval_join"`` — shuffled equi-join on the key + range predicate
      + groupBy(distinct key/timestamp combo). Output is O(|obs| ×
      rows-per-window), but AQE's skew-join splitting applies, so a single
      mega-key spreads over many tasks. Pick this when key skew dominates.

    Both strategies compute identical results (property-tested, including
    null keys/timestamps).

    NULL semantics (both strategies, matching SQL join semantics as the
    reference's Spark join does): source rows with a NULL entity key or
    NULL timestamp never contribute to any window; observation rows with a
    NULL key or timestamp get empty-window aggregates (NULL, COUNT 0).
    """
    simple = [s for s in specs if s.transform.group_by is None]
    grouped = [s for s in specs if s.transform.group_by is not None]
    out = obs
    if simple:
        if strategy == "auto":
            strategy = choose_pit_strategy(source, src_keys)
        if strategy == "interval_join":
            out = _interval_join_simple(out, source, obs_keys, src_keys,
                                        obs_ts, src_ts, simple)
        elif strategy == "union_window":
            out = _union_window(out, source, obs_keys, src_keys, obs_ts, src_ts, simple)
        else:
            raise ValueError(f"unknown point-in-time strategy: {strategy}")
    for s in grouped:
        out = _interval_join_grouped(out, source, obs_keys, src_keys, obs_ts, src_ts, s)
    return out


def _union_window(
    obs: DataFrame,
    source: DataFrame,
    obs_keys: Sequence[str],
    src_keys: Sequence[str],
    obs_ts: str,
    src_ts: str,
    specs: Sequence[WindowFeatureSpec],
) -> DataFrame:
    # Deduplicate identical (def_expr, filter) value expressions: N aggs over
    # the same input shuffle ONE value column, not N (shuffle bytes scale
    # with width; e.g. avg/max/min/sum/count of one expr share a column).
    expr_index: dict = {}
    spec_val: List[str] = []
    for s in specs:
        key = (s.transform.def_expr, s.transform.filter)
        if key not in expr_index:
            expr_index[key] = f"__feathr_v{len(expr_index)}"
        spec_val.append(expr_index[key])
    val_cols = list(expr_index.values())

    # Source side: only keys + ordering + value columns survive the union —
    # column pruning reaches the parquet scan.
    uniq_specs = {vc: key for key, vc in expr_index.items()}
    src_proj = source.select(
        *[F.col(sk).alias(ok) for sk, ok in zip(src_keys, obs_keys)],
        F.unix_millis(F.col(src_ts).cast("timestamp")).alias(_T),
        *[
            _value_col(WindowAggTransform(def_expr=de, agg_func=Aggregation.NOP,
                                          window="1d", filter=flt)).alias(vc)
            for vc, (de, flt) in uniq_specs.items()
        ],
    )
    # NULL-key/NULL-ts source rows never contribute (SQL join semantics —
    # Window.partitionBy would otherwise group NULL keys together and
    # aggregate them, diverging from the interval-join strategy and the
    # reference's join behavior).
    null_free = F.col(_T).isNotNull()
    for k in obs_keys:
        null_free = null_free & F.col(k).isNotNull()
    src_proj = src_proj.where(null_free)
    obs_tagged = obs.withColumn(_T, F.unix_millis(F.col(obs_ts).cast("timestamp"))).withColumn(_TAG, F.lit(1))
    unioned = obs_tagged.unionByName(src_proj, allowMissingColumns=True)

    ts_for_order = F.col(_T)
    out_cols: List[Column] = []
    for s, vc in zip(specs, spec_val):
        wms = s.transform.window_ms
        # (t − w, t] with millisecond granularity: rangeBetween is
        # inclusive on both ends, so shift the lower bound by 1 ms.
        frame = (
            Window.partitionBy(*obs_keys)
            .orderBy(_T)
            .rangeBetween(-(wms - 1), Window.currentRow)
        )
        # obs_ts: in the post-transform's select context F.col(_T) is the
        # CURRENT (observation) row's epoch — the same name the frame rows
        # contributed to the aggregate state refers, per row, to each
        # source event's epoch. DECAY uses both.
        agg, post = make_agg(s.transform.agg_func, F.col(vc), ts_for_order,
                             s.transform.agg_param, obs_ts=F.col(_T))
        out_cols.append(post(agg.over(frame)).alias(s.out_name))

    result = unioned.select("*", *out_cols).where(F.col(_TAG) == 1)
    return result.drop(_T, _TAG, *val_cols)


def _interval_join_simple(
    obs: DataFrame,
    source: DataFrame,
    obs_keys: Sequence[str],
    src_keys: Sequence[str],
    obs_ts: str,
    src_ts: str,
    specs: Sequence[WindowFeatureSpec],
) -> DataFrame:
    """Skew-tolerant strategy: equi-join on keys, range predicate, one
    groupBy per distinct (key-tuple, timestamp) computing every spec's
    aggregate, then a deterministic attach join back onto the observation
    frame. AQE can split a skewed key's join output across tasks (unlike a
    window partition). LEFT join keeps combos with an empty window
    (aggregates null/0 as in the window strategy).

    The aggregate is a pure function of (keys, event time), so it is
    computed once per DISTINCT combo — never per observation row (repeated
    observations are free) — and the attach join needs no synthetic row id
    (``monotonically_increasing_id`` is order-dependent and can disagree
    between two evaluations of the same plan when lineage contains a
    shuffle, silently mis-attaching features)."""
    max_w = max(s.transform.window_ms for s in specs)
    kcols = [f"__k{i}" for i in range(len(obs_keys))]
    left = obs.select(
        *[F.col(k).alias(a) for k, a in zip(obs_keys, kcols)],
        F.unix_millis(F.col(obs_ts).cast("timestamp")).alias("__ot"),
    ).distinct()
    right = source.select(
        *[F.col(k).alias(a) for k, a in zip(src_keys, kcols)],
        F.unix_millis(F.col(src_ts).cast("timestamp")).alias("__st"),
        *[_value_col(s.transform).alias(f"__v{i}") for i, s in enumerate(specs)],
    )
    cond = [left[a] == right[a] for a in kcols]
    # range predicate INSIDE the left-join condition: combos whose matches
    # all fall outside the window survive with nulls (count 0), exactly
    # like an empty window frame.
    cond.append((right["__st"] > left["__ot"] - max_w) & (right["__st"] <= left["__ot"]))
    joined = left.join(right, cond, "left")
    aggs = []
    for i, s in enumerate(specs):
        wms = s.transform.window_ms
        v = F.col(f"__v{i}")
        if wms != max_w:  # narrower windows mask values outside their range
            v = F.when(F.col("__st") > F.col("__ot") - wms, v)
        aggs.append(simple_agg(s.transform.agg_func, v, F.col("__st"),
                               s.transform.agg_param,
                               obs_ts=left["__ot"]).alias(s.out_name))
    per_combo = joined.groupBy(*[left[a] for a in kcols], left["__ot"]).agg(*aggs)
    # null-SAFE attach: a NULL-key/NULL-ts observation row still matches its
    # distinct combo row, whose source join found nothing (NULL condition),
    # i.e. it receives empty-window aggregates (COUNT 0) exactly like the
    # union-window strategy — not a missing match.
    attach = [obs[k].eqNullSafe(per_combo[a]) for k, a in zip(obs_keys, kcols)]
    attach.append(F.unix_millis(F.col(obs_ts).cast("timestamp"))
                  .eqNullSafe(per_combo["__ot"]))
    return obs.join(per_combo, attach, "left").drop(*kcols, "__ot")


def _interval_join_grouped(
    obs: DataFrame,
    source: DataFrame,
    obs_keys: Sequence[str],
    src_keys: Sequence[str],
    obs_ts: str,
    src_ts: str,
    spec: WindowFeatureSpec,
) -> DataFrame:
    """group_by sub-clause (+ optional limit top-k): result per observation
    row is a group→aggregate mapping, represented as an array of
    ``struct<group, value>`` sorted by group for deterministic output.
    Same deterministic distinct-(keys, ts) frame as the simple interval
    join — no synthetic row ids."""
    t = spec.transform
    wms = t.window_ms

    kcols = [f"__k{i}" for i in range(len(obs_keys))]
    left = obs.select(
        *[F.col(k).alias(a) for k, a in zip(obs_keys, kcols)],
        F.unix_millis(F.col(obs_ts).cast("timestamp")).alias("__ot"),
    ).distinct()
    right = source.select(
        *[F.col(k).alias(a) for k, a in zip(src_keys, kcols)],
        F.unix_millis(F.col(src_ts).cast("timestamp")).alias("__st"),
        _value_col(t).alias("__v"),
        feathr_expr(t.group_by).alias("__g"),
    )
    cond = [left[a] == right[a] for a in kcols]
    joined = left.join(right, cond, "inner").where(
        (F.col("__st") > F.col("__ot") - wms) & (F.col("__st") <= F.col("__ot"))
    )
    combo = [left[a] for a in kcols] + [left["__ot"]]
    per_group = joined.groupBy(*combo, "__g").agg(
        simple_agg(t.agg_func, F.col("__v"), F.col("__st"),
                   t.agg_param, obs_ts=F.col("__ot")).alias("__gv")
    )
    if t.limit is not None:
        rank_w = Window.partitionBy(*kcols, "__ot").orderBy(
            F.col("__gv").desc(), F.col("__g").asc())
        per_group = per_group.withColumn("__rn", F.row_number().over(rank_w)) \
            .where(F.col("__rn") <= t.limit).drop("__rn")
    per_combo = per_group.groupBy(*kcols, "__ot").agg(
        F.array_sort(
            F.collect_list(F.struct(F.col("__g").alias("group"),
                                    F.col("__gv").alias("value")))
        ).alias(spec.out_name)
    )
    # Plain == attach, NOT eqNullSafe. Invariant: per_combo's key/ts columns
    # are non-null by construction — the source join above is INNER, so NULL
    # keys/ts never reach per_combo, and == vs eqNullSafe cannot diverge
    # (pinned by the grouped-null property test in test_property_window).
    # eqNullSafe would compile the keys to coalesce/isnull expressions whose
    # required distribution no longer matches the upstream groupBy exchange,
    # forcing a fresh Exchange+Sort on both sides (measured 6.4x slowdown).
    attach = [obs[k] == per_combo[a] for k, a in zip(obs_keys, kcols)]
    attach.append(F.unix_millis(F.col(obs_ts).cast("timestamp"))
                  == per_combo["__ot"])
    return obs.join(per_combo, attach, "left").drop(*kcols, "__ot")
