"""Point-in-time sliding-window aggregation — the core Feathr operator.

Semantics (reference /root/reference/feathr-rs/src/model.rs:254-293 as
consumed by FeatureJoinJob): for each observation row with key *k* and
event time *t*, aggregate ``def_expr`` over source rows with key *k* and
source event time in ``(t − window, t]``, after applying ``filter``,
optionally sub-grouped by ``group_by`` keeping at most ``limit`` groups.

Two physical plans, chosen per spec from its shape alone by
:func:`choose_pit_strategy`, so planning is lazy: this operator runs no
Spark job. (The eager steps of a feature query come before it: the
observation-bounds job of ``get_offline_features(time_prune=True)``, and
Spark's schema inference on a file source's first read in a session.)

**lane-ordered window (``union_window``, every spec without
``group_by``).** Every source on one observation key set is unioned with
the observation rows into ONE frame, partitioned by the keys and sorted
by a lane-ordered epoch ``__feathr_o = __feathr_t + p``: observation
rows use p = 0, source group i uses p_i = (2i+1)·2^49 ms. Each feature
of group i is one aggregate ``OVER (… RANGE BETWEEN p_i − w + 1
FOLLOWING AND p_i FOLLOWING)``. So
one shuffle, one sort and one Window pass serve every source and every
window length —
*no join, no row explosion*, cost O(|obs| + Σ|src|) state; contrast
with an interval join, whose output is O(|obs| × rows-per-window).
A hot key's whole history is folded in one task; this plan still beat
an interval join with 30% and 60% of the rows on one key (AQE splits
only the observation side of that LEFT OUTER join, so the hot source key
stays in one task there too).

  * *Exactness.* An observation row at t sees, in group i's frame,
    exactly group i's source rows with event time in (t − w, t], in
    time order: the rows, in the order, that a per-source window over
    (key, t) would fold, minus the NULL-valued observation rows that no
    aggregate counts. So the result is bit-identical to one window per
    source. LATEST, NOP and DECAY read the raw ``__feathr_t``, never the
    lane-shifted order value.
  * *Why lanes.* Observation rows are in no frame buffer, so a frame's
    aggregate is recomputed only when a source row enters or leaves it
    (Spark's sliding frame re-folds its whole buffer on every change).
    A source row's frames fall on ranges holding no row at all: two odd
    multiples of 2^49 sum to an even one, and even multiples other than
    0 hold no rows.
  * *Bounds.* Spark timestamps span 0001-01-01 … 9999-12-31, about
    3.2e14 ms; 2^49 ms ≈ 5.6e14 leaves room for any window up to
    ``MAX_WINDOW_MS`` (≈ 7,840 years) — a longer window raises
    ``ValueError`` at plan time, and an event time outside the range
    raises at run time (it must never land in another lane). The largest
    order value plus frame offset, (4N − 2)·2^49 plus the time range,
    stays below 2^63 for up to ``MAX_LANES`` groups.

**interval join (``group_by`` specs).** Equi-join on keys with a range
predicate, then two-level groupBy: the grouped top-k output is not
expressible as a window aggregate. The join is a plain shuffled
equi-join on the entity key; the range predicate is applied post-join
(Catalyst pushes it into the join when profitable).
"""

from __future__ import annotations

from dataclasses import dataclass
from typing import Dict, List, Sequence, Tuple

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..functions import quote_ident, sql_expr, sql_ref
from ..model import WindowAggTransform
from .aggregations import agg_sql, value_sql

_T = "__feathr_t"          # epoch millis (event time)
_O = "__feathr_o"          # lane-ordered epoch: _T + the row's lane offset
_TAG = "__feathr_is_obs"   # 1 = observation row, NULL = source row

_LANE = 1 << 49                 # ms between an offset and the next lane's
T_MIN = -62_135_596_800_000     # 0001-01-01 00:00:00.000 UTC
T_MAX = 253_402_300_799_999     # 9999-12-31 23:59:59.999 UTC
# the longest window whose frames stay inside their own lane
MAX_WINDOW_MS = _LANE - (T_MAX - T_MIN)
# (4N − 2)·2^49 + T_MAX, the largest order value plus frame offset, < 2^63
MAX_LANES = ((1 << 63) - T_MAX) // (4 * _LANE)


@dataclass(frozen=True)
class WindowFeatureSpec:
    out_name: str
    transform: WindowAggTransform


@dataclass(frozen=True, eq=False)
class PitSource:
    """One source's windowed features for :func:`point_in_time_join`:
    ``src_keys`` match the observation's ``obs_keys`` positionally and
    ``src_ts`` is a TimestampType column. ``obs_keys`` name top-level
    observation columns; ``src_keys`` and ``src_ts`` are column
    references as for ``F.col`` (a dot selects a nested field; quote a
    name holding a dot or backtick in backticks)."""
    df: DataFrame
    obs_keys: Sequence[str]
    src_keys: Sequence[str]
    src_ts: str
    specs: Sequence[WindowFeatureSpec]


def choose_pit_strategy(spec: WindowFeatureSpec) -> str:
    """The physical plan for one spec: ``"interval_join"`` for a
    ``group_by`` spec, ``"union_window"`` (the lane-ordered window) for
    every other. The choice reads only the spec, so it runs no job."""
    return "union_window" if spec.transform.group_by is None else "interval_join"


def point_in_time_join(
    obs: DataFrame,
    obs_ts: str,
    sources: Sequence[PitSource],
) -> DataFrame:
    """Attach one column per spec of every source to ``obs``, in source
    then spec order (each source's ``group_by`` specs after its simple
    ones). ``obs_ts`` is the observation's TimestampType column.

    All simple specs of the sources on one ``obs_keys`` share one
    lane-ordered window (one shuffle, one sort and one Window pass);
    each ``group_by`` spec is one interval join.

    NULL semantics (matching SQL join semantics as the reference's Spark
    join does): source rows with a NULL entity key or NULL timestamp never
    contribute to any window; observation rows with a NULL key or
    timestamp get empty-window aggregates (NULL, COUNT 0).
    """
    lanes: Dict[Tuple[str, ...], List[PitSource]] = {}
    grouped: List[Tuple[PitSource, WindowFeatureSpec]] = []
    for src in sources:
        simple = []
        for s in src.specs:
            if choose_pit_strategy(s) == "union_window":
                simple.append(s)
            else:
                grouped.append((src, s))
        if simple:
            lanes.setdefault(tuple(src.obs_keys), []).append(
                PitSource(src.df, src.obs_keys, src.src_keys, src.src_ts, simple))
    out = obs
    for obs_keys, group in lanes.items():
        out = _lane_window(out, obs_keys, obs_ts, group)
    for src, s in grouped:
        out = _interval_join_grouped(out, src.df, src.obs_keys, src.src_keys,
                                     obs_ts, src.src_ts, s)
    names = _output_names(sources)
    attached = _output_names([p for g in lanes.values() for p in g])
    if attached + [s.out_name for _, s in grouped] != names:
        out = out.selectExpr(*map(quote_ident, obs.columns + names))
    return out


def _output_names(sources: Sequence[PitSource]) -> List[str]:
    """Feature columns in output order: per source, its simple specs,
    then its ``group_by`` ones."""
    return [s.out_name for src in sources for grouped in (False, True)
            for s in src.specs if (s.transform.group_by is not None) == grouped]


# Every expression below is SQL text, parsed with its projection
# (``selectExpr``/``where``/``F.expr``): one py4j round trip per
# expression, where ``Column`` builders make one or more per function
# call. Observation keys name top-level columns (``quote_ident``); source
# keys and timestamps are column references (``sql_ref``).
def _epoch_ms(ts: str) -> str:
    return f"unix_millis(CAST({sql_ref(ts)} AS TIMESTAMP))"


def _lane_order(ts: str, offset: int) -> str:
    """``unix_millis(ts) + offset AS __feathr_o``, raising on an event
    time outside Spark's timestamp range: such a time would fall into
    another lane."""
    t = _epoch_ms(ts)
    return (f"CASE WHEN {t} < {T_MIN} OR {t} > {T_MAX} THEN raise_error("
            "concat('point-in-time event time outside 0001-01-01..9999-12-31: ', "
            f"CAST({t} AS STRING), ' ms')) ELSE {t} + {offset} END AS {_O}")


def _lane_window(
    obs: DataFrame,
    obs_keys: Sequence[str],
    obs_ts: str,
    lanes: Sequence[PitSource],
) -> DataFrame:
    if len(lanes) > MAX_LANES:
        raise ValueError(f"{len(lanes)} windowed sources on one key exceed "
                         f"the {MAX_LANES} lanes of one window pass")
    parts = [obs.selectExpr("*", f"{_epoch_ms(obs_ts)} AS {_T}",
                            _lane_order(obs_ts, 0), f"1 AS {_TAG}")]
    by_key = f"PARTITION BY {', '.join(map(quote_ident, obs_keys))} ORDER BY {_O}"
    out_cols: List[str] = []
    val_cols: List[str] = []
    for i, src in enumerate(lanes):
        p = (2 * i + 1) * _LANE
        # Deduplicate identical (def_expr, filter) value expressions within
        # the lane: N aggs over the same input shuffle ONE value column,
        # not N (shuffle bytes scale with width; e.g. avg/max/min/sum/count
        # of one expr share a column).
        lane_vals: Dict[Tuple, str] = {}
        for s in src.specs:
            t = s.transform
            wms = t.window_ms
            if not 0 < wms <= MAX_WINDOW_MS:
                raise ValueError(
                    f"{s.out_name}: window of {wms} ms is outside "
                    f"(0, {MAX_WINDOW_MS}] ms, the point-in-time lane bound")
            vc = lane_vals.setdefault((t.def_expr, t.filter),
                                      f"__feathr_l{i}_v{len(lane_vals)}")
            # (t − w, t] in this lane: the frame is inclusive on both
            # ends, so the lower bound is shifted by 1 ms.
            frame = (f"{by_key} RANGE BETWEEN {p - wms + 1} FOLLOWING "
                     f"AND {p} FOLLOWING")
            # Outside the OVER clause _T is the CURRENT (observation)
            # row's epoch; inside the aggregate it is each frame row's own
            # event time. DECAY uses both; LATEST/NOP order by the latter.
            out_cols.append(agg_sql(t.agg_func, vc, _T, t.agg_param,
                                    obs_ts=_T, over=frame)
                            + f" AS {quote_ident(s.out_name)}")
        val_cols += lane_vals.values()
        # Source side: only keys + ordering + value columns survive the
        # union — column pruning reaches the parquet scan. NULL-key/NULL-ts
        # source rows never contribute (SQL join semantics — the partition
        # would otherwise group NULL keys together and aggregate them,
        # diverging from the grouped interval join and the reference's
        # join behavior).
        null_free = " AND ".join(f"{c} IS NOT NULL" for c in
                                 [_epoch_ms(src.src_ts)]
                                 + [sql_ref(k) for k in src.src_keys])
        parts.append(src.df.where(null_free).selectExpr(
            *[f"{sql_ref(sk)} AS {quote_ident(ok)}"
              for sk, ok in zip(src.src_keys, obs_keys)],
            f"{_epoch_ms(src.src_ts)} AS {_T}",
            _lane_order(src.src_ts, p),
            *[f"{value_sql(de, flt)} AS {vc}"
              for (de, flt), vc in lane_vals.items()]))

    unioned = parts[0]
    for part in parts[1:]:
        unioned = unioned.unionByName(part, allowMissingColumns=True)
    result = unioned.selectExpr("*", *out_cols).where(f"{_TAG} = 1")
    return result.drop(_T, _O, _TAG, *val_cols)


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

    The aggregate is a pure function of (keys, event time), so it is
    computed once per DISTINCT combo — never per observation row — and
    the attach join needs no synthetic row id
    (``monotonically_increasing_id`` is order-dependent and can disagree
    between two evaluations of the same plan when lineage contains a
    shuffle, silently mis-attaching features)."""
    t = spec.transform
    wms = t.window_ms

    kcols = [f"__k{i}" for i in range(len(obs_keys))]
    left = obs.selectExpr(
        *[f"{quote_ident(k)} AS {a}" for k, a in zip(obs_keys, kcols)],
        f"{_epoch_ms(obs_ts)} AS __ot",
    ).distinct()
    right = source.selectExpr(
        *[f"{sql_ref(k)} AS {a}" for k, a in zip(src_keys, kcols)],
        f"{_epoch_ms(src_ts)} AS __st",
        f"{value_sql(t.def_expr, t.filter)} AS __v",
        f"{sql_expr(t.group_by)} AS __g",
    )
    joined = left.join(right, kcols, "inner").where(
        f"__st > __ot - {wms} AND __st <= __ot")
    per_group = joined.groupBy(*kcols, "__ot", "__g").agg(F.expr(
        agg_sql(t.agg_func, "__v", "__st", t.agg_param, obs_ts="__ot")
        + " AS __gv"))
    if t.limit is not None:
        per_group = per_group.selectExpr("*", (
            f"row_number() OVER (PARTITION BY {', '.join(kcols)}, __ot "
            "ORDER BY __gv DESC, __g ASC) AS __rn")).where(f"__rn <= {t.limit}")
    per_combo = per_group.groupBy(*kcols, "__ot").agg(F.expr(
        "array_sort(collect_list(named_struct('group', __g, 'value', __gv)))"
        f" AS {quote_ident(spec.out_name)}"))
    # Plain = attach, NOT <=>. Invariant: per_combo's key/ts columns
    # are non-null by construction — the source join above is INNER, so NULL
    # keys/ts never reach per_combo, and = vs <=> cannot diverge
    # (pinned by the grouped-null property test in test_property_window).
    # <=> would compile the keys to coalesce/isnull expressions whose
    # required distribution no longer matches the upstream groupBy exchange,
    # forcing a fresh Exchange+Sort on both sides (measured 6.4x slowdown).
    attach = [f"{quote_ident(k)} = {a}" for k, a in zip(obs_keys, kcols)]
    attach.append(f"{_epoch_ms(obs_ts)} = __ot")
    return obs.join(per_combo, F.expr(" AND ".join(attach)), "left") \
        .drop(*kcols, "__ot")
