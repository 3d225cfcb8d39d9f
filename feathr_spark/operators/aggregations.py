"""Aggregation-function mapping for window and snapshot aggregations.

Covers every reference Aggregation variant
(/root/reference/feathr-rs/src/model.rs:200-216) plus the COUNT extension.
All constructions stay JVM-side (built-in functions / higher-order
functions) — no Python UDFs in the hot path.

:func:`agg_sql` maps one aggregation to ONE SQL expression, as text. The
planner parses it with the rest of its projection (``selectExpr``,
``F.expr``), so an aggregation costs no py4j round trip of its own; a
``Column`` builder costs one or more per function call. The same text
serves both contexts: with ``over`` every aggregate call carries an
inline ``OVER (...)`` clause (a scalar post-transform, e.g. sorting a
collected list, then wraps the windowed aggregate, which is legal in a
select), and without it the expression is legal in ``groupBy().agg``.

Operands are SQL text too: quote column names with
:func:`feathr_spark.functions.sql_ref`, and write doubles with
:func:`sql_double` (a bare ``0.1`` parses as DECIMAL in Spark SQL).
Lambda variables are named ``__acc``, ``__x``, …, so that they do not
shadow a column an operand reads inside the lambda.
"""

from __future__ import annotations

import math

from ..functions import sql_expr
from ..model import Aggregation

_ELEMENTWISE = {
    Aggregation.ELEMENTWISE_AVG, Aggregation.ELEMENTWISE_MIN,
    Aggregation.ELEMENTWISE_MAX, Aggregation.ELEMENTWISE_SUM,
}

_SIMPLE = {
    Aggregation.AVG: "avg", Aggregation.SUM: "sum", Aggregation.MIN: "min",
    Aggregation.MAX: "max", Aggregation.COUNT: "count",
    # HLL++ sketch (Spark default rsd = 0.05): fixed-size state per
    # group/frame instead of COUNT_DISTINCT's per-distinct-value
    # collect_set entry — the memory-safe variant for high-cardinality
    # 100 TB windows. Ignores nulls, so the filter clause works as for
    # every other aggregate here.
    Aggregation.APPROX_COUNT_DISTINCT: "approx_count_distinct",
}


def value_sql(def_expr: str, filter_expr) -> str:
    """The SQL value an aggregation folds: ``def_expr`` where the Feathr
    ``filter_expr`` holds, NULL elsewhere."""
    v = sql_expr(def_expr)
    if filter_expr:
        v = f"CASE WHEN {sql_expr(filter_expr)} THEN {v} END"
    return v


def sql_double(x: float) -> str:
    """``x`` as a SQL DOUBLE literal."""
    x = float(x)
    return repr(x) + "D" if math.isfinite(x) else f"CAST('{x!r}' AS DOUBLE)"


def _reduce(items: str, agg: Aggregation, sparse: bool) -> str:
    """Element-wise reduce an ``array<array<T>>`` SQL expression —
    ELEMENTWISE_AVG/MIN/MAX/SUM over 1-d dense tensors (model.rs:209) —
    or, with ``sparse``, an ``array<map<K, V>>`` one (see
    :func:`elementwise_reduce_sparse`). Uses ``aggregate`` +
    ``zip_with``/``map_zip_with`` higher-order functions (whole-stage
    codegen'd, no UDF). Empty input → null."""
    if agg not in _ELEMENTWISE:
        raise ValueError(f"not an elementwise aggregation: {agg}")
    n = f"size({items})"
    if agg == Aggregation.ELEMENTWISE_MIN:
        pick = "least(__a, __b)"
    elif agg == Aggregation.ELEMENTWISE_MAX:
        pick = "greatest(__a, __b)"
    else:
        pick = None
    if not sparse:
        merge = f"zip_with(__acc, __x, (__a, __b) -> {pick or '__a + __b'})"
    elif pick is None:
        merge = ("map_zip_with(__acc, __x, (__k, __a, __b) -> "
                 "coalesce(__a, 0.0D) + coalesce(__b, 0.0D))")
    else:
        merge = f"map_zip_with(__acc, __x, (__k, __a, __b) -> coalesce({pick}, __a, __b))"
    reduced = (f"aggregate(slice({items}, 2, greatest({n} - 1, 0)), "
               f"element_at({items}, 1), (__acc, __x) -> {merge})")
    if agg == Aggregation.ELEMENTWISE_AVG:
        reduced = (f"transform_values({reduced}, (__k, __e) -> __e / {n})" if sparse
                   else f"transform({reduced}, __e -> __e / {n})")
    return f"CASE WHEN {n} > 0 THEN {reduced} END"


def elementwise_reduce_sparse(maps: str, agg: Aggregation) -> str:
    """Element-wise reduce an ``array<map<K, V>>`` SQL expression — the
    SPARSE tensor counterpart of the dense ELEMENTWISE aggregations (SURVEY §1.2
    maps the reference's ``TensorCategory::SPARSE`` to ``MapType``; the
    reference declares the category, model.rs:44-47, but its test surface
    never exercises it — semantics documented here as the engine's
    contract):

    - SUM/AVG: missing coordinates are implicit zeros (true sparse-tensor
      semantics); AVG divides by the TOTAL tensor count ``n``.
    - MIN/MAX: reduce over PRESENT values per key only — the implicit-
      zero reading would collapse every partially-present key to ≤0/≥0,
      which discards exactly the information a sparse min/max carries.

    All map unions happen via ``map_zip_with`` higher-order functions
    (JVM-side, no UDF). Empty input → null.
    """
    return _reduce(maps, agg, sparse=True)


def agg_sql(agg: Aggregation, value: str, ts: str, param: float = None,
            obs_ts: str = None, over: str = None) -> str:
    """One SQL expression aggregating ``value`` over a frame or a group.

    ``value``, ``ts`` and ``obs_ts`` are SQL expressions. ``value`` is
    null outside the aggregation's filter; all builtins here ignore
    nulls, which implements the pre-aggregation ``filter`` clause
    (model.rs:270) for free. ``param`` parameterizes PERCENTILE (the
    fraction) and DECAY_SUM/DECAY_AVG (half-life in days) and is ignored
    elsewhere. ``obs_ts`` is the observation-time epoch-ms expression the
    post-transform may reference (required by the DECAY aggregations; the
    callers guarantee it is legal there — the current row in a window
    select, a grouping column in ``groupBy().agg``). ``over`` is a window
    specification (``PARTITION BY … ORDER BY … RANGE BETWEEN …``); given,
    every aggregate call is evaluated over it.
    """
    w = f" OVER ({over})" if over is not None else ""
    v = f"({value})"

    def call(fn: str, *args: str) -> str:
        return f"{fn}({', '.join(args)}){w}"

    if agg in (Aggregation.DECAY_SUM, Aggregation.DECAY_AVG):
        # Exponentially time-decayed sum / weighted mean. The frame state
        # is the (value, ts) pair list — the exact-arithmetic formulation:
        # weights use only NON-POSITIVE exponents ((t - obs)/half <= 0
        # inside any window frame), so no overflow for any half-life /
        # time-range combination, unlike the sum(v * exp(k*t)) * exp(-k*obs)
        # factorization whose intermediate blows up past ~710/k. Same
        # state class as UNION/PERCENTILE (memory caveat documented there);
        # decayed partials are mergeable by rescaling to a common reference
        # time if an incremental rollup is needed (profile.merge_rollups
        # pattern).
        if param is None or float(param) <= 0.0:
            raise ValueError(
                f"{agg.value} requires agg_param = half-life in days > 0, "
                f"got {param!r}")
        if obs_ts is None:
            raise ValueError(f"{agg.value} requires the observation-time "
                             "column (obs_ts)")
        pairs = call("collect_list", (
            f"CASE WHEN {v} IS NOT NULL AND ({ts}) IS NOT NULL THEN "
            f"named_struct('v', CAST({value} AS DOUBLE), "
            f"'t', CAST({ts} AS DOUBLE)) END"))
        weight = (f"power(0.5D, (CAST({obs_ts} AS DOUBLE) - __x.t) / "
                  f"{sql_double(float(param) * 86400000.0)})")
        wsum = f"aggregate({pairs}, 0.0D, (__acc, __x) -> __acc + __x.v * {weight})"
        if agg == Aggregation.DECAY_AVG:
            den = f"aggregate({pairs}, 0.0D, (__acc, __x) -> __acc + {weight})"
            wsum = f"{wsum} / {den}"
        return f"CASE WHEN size({pairs}) > 0 THEN {wsum} END"
    if agg == Aggregation.PERCENTILE:
        # exact interpolated percentile — ANSI PERCENTILE_CONT semantics
        # ((n-1)·p rank, linear interpolation), identical to DuckDB
        # quantile_cont. Window-frame-legal (plain aggregate, not an
        # ordered-set syntax). State is the frame's value list — same
        # class as UNION/COUNT_DISTINCT; for 100 TB high-cardinality
        # windows pre-bucket values or use approx_percentile upstream.
        if param is None or not (0.0 <= float(param) <= 1.0):
            raise ValueError(
                "PERCENTILE requires agg_param in [0, 1], got "
                f"{param!r}")
        return call("percentile", v, sql_double(param), "1")
    if agg in _SIMPLE:
        return call(_SIMPLE[agg], v)
    if agg == Aggregation.COUNT_DISTINCT:
        # collect_set + size is window-frame-legal (COUNT(DISTINCT) isn't
        # allowed over a range frame); state is one entry per distinct
        # value, the same as any exact distinct count. For cardinality at
        # 100 TB scale prefer an approx sketch upstream.
        return f"size({call('collect_set', v)})"
    if agg == Aggregation.NOP:
        # "no aggregation — pick value as-is": earliest value in scope.
        return call("min_by", v, f"CASE WHEN {v} IS NOT NULL THEN {ts} END")
    if agg == Aggregation.LATEST:
        # value with max timestamp (model.rs:214)
        return call("max_by", v, f"CASE WHEN {v} IS NOT NULL THEN {ts} END")
    if agg == Aggregation.UNION:
        # collect into one list; sorted for deterministic output
        return f"array_sort({call('collect_list', v)})"
    if agg in _ELEMENTWISE:
        return _reduce(call("collect_list", v), agg, sparse=False)
    raise ValueError(f"unsupported aggregation: {agg}")
