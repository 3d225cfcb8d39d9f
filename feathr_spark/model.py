"""Core data model: types, keys, transformations, durations, timestamps.

Re-expresses the reference client's feature model
(/root/reference/feathr-rs/src/model.rs) as plain Python dataclasses.
No Spark imports here — this module is pure metadata.
"""

from __future__ import annotations

import re
from dataclasses import dataclass
from enum import Enum
from typing import Optional, Union

from .functions import quote_ident, sql_str


# ---------------------------------------------------------------------------
# Value / tensor types (reference: feathr-rs/src/model.rs:12-63)
# ---------------------------------------------------------------------------

class ValueType(str, Enum):
    UNSPECIFIED = "UNSPECIFIED"
    BOOL = "BOOLEAN"
    INT32 = "INT"
    INT64 = "LONG"
    FLOAT = "FLOAT"
    DOUBLE = "DOUBLE"
    STRING = "STRING"
    BYTES = "BYTES"

    @property
    def spark_type_name(self) -> str:
        """DDL name of the corresponding Spark SQL type."""
        return {
            ValueType.UNSPECIFIED: "string",
            ValueType.BOOL: "boolean",
            ValueType.INT32: "int",
            ValueType.INT64: "bigint",
            ValueType.FLOAT: "float",
            ValueType.DOUBLE: "double",
            ValueType.STRING: "string",
            ValueType.BYTES: "binary",
        }[self]


class TensorCategory(str, Enum):
    DENSE = "DENSE"
    SPARSE = "SPARSE"


class VectorType(str, Enum):
    # The reference has exactly one variant (model.rs:33-35).
    TENSOR = "TENSOR"


@dataclass(frozen=True)
class FeatureType:
    """Tensor-typed feature type (reference model.rs:55-63).

    Every feature is a tensor; scalars are rank-0 dense tensors and vectors
    are rank-1 dense tensors.  NOTE: the reference's ``*_VECTOR()``
    constructors all set ``val_type = BOOL`` (an evident copy-paste bug at
    model.rs:115,124,132,140); we implement the intended semantics — the
    val_type matches the named element type — and document the divergence
    here.
    """

    type_: VectorType = VectorType.TENSOR
    tensor_category: TensorCategory = TensorCategory.DENSE
    dimension_type: tuple = ()
    val_type: ValueType = ValueType.UNSPECIFIED

    # --- scalar constructors (model.rs:67-108) ---
    @staticmethod
    def BOOLEAN() -> "FeatureType":
        return FeatureType(val_type=ValueType.BOOL)

    @staticmethod
    def INT32() -> "FeatureType":
        return FeatureType(val_type=ValueType.INT32)

    @staticmethod
    def INT64() -> "FeatureType":
        return FeatureType(val_type=ValueType.INT64)

    @staticmethod
    def FLOAT() -> "FeatureType":
        return FeatureType(val_type=ValueType.FLOAT)

    @staticmethod
    def DOUBLE() -> "FeatureType":
        return FeatureType(val_type=ValueType.DOUBLE)

    @staticmethod
    def STRING() -> "FeatureType":
        return FeatureType(val_type=ValueType.STRING)

    @staticmethod
    def BYTES() -> "FeatureType":
        return FeatureType(val_type=ValueType.BYTES)

    # --- rank-1 dense vector constructors (model.rs:110-143, bug fixed) ---
    @staticmethod
    def INT32_VECTOR() -> "FeatureType":
        return FeatureType(dimension_type=(ValueType.INT32,), val_type=ValueType.INT32)

    @staticmethod
    def INT64_VECTOR() -> "FeatureType":
        return FeatureType(dimension_type=(ValueType.INT32,), val_type=ValueType.INT64)

    @staticmethod
    def FLOAT_VECTOR() -> "FeatureType":
        return FeatureType(dimension_type=(ValueType.INT32,), val_type=ValueType.FLOAT)

    @staticmethod
    def DOUBLE_VECTOR() -> "FeatureType":
        return FeatureType(dimension_type=(ValueType.INT32,), val_type=ValueType.DOUBLE)

    @property
    def spark_ddl(self) -> str:
        base = self.val_type.spark_type_name
        if len(self.dimension_type) == 0:
            return base
        ddl = base
        for _ in self.dimension_type:
            ddl = f"array<{ddl}>"
        return ddl


# ---------------------------------------------------------------------------
# Typed keys (reference model.rs:146-167)
# ---------------------------------------------------------------------------

DUMMY_KEY_NAME = "NOT_NEEDED"


@dataclass(frozen=True)
class TypedKey:
    """Entity-key column: name + type + optional alias.

    ``key_column_alias`` defaults to ``key_column`` — the alias is the
    column name expected on the *observation* side of a join.
    """

    key_column: str
    key_column_type: ValueType = ValueType.UNSPECIFIED
    full_name: Optional[str] = None
    description: Optional[str] = None
    key_column_alias: Optional[str] = None

    @property
    def alias(self) -> str:
        return self.key_column_alias or self.key_column

    def as_key(self, alias: str) -> "TypedKey":
        """Re-alias this key (reference feature.rs:224-241 ``with_key``)."""
        return TypedKey(
            key_column=self.key_column,
            key_column_type=self.key_column_type,
            full_name=self.full_name,
            description=self.description,
            key_column_alias=alias,
        )

    @staticmethod
    def DUMMY_KEY() -> "TypedKey":
        # reference model.rs:159-167
        return TypedKey(
            key_column=DUMMY_KEY_NAME,
            key_column_type=ValueType.UNSPECIFIED,
            full_name="feathr.dummy_typedkey",
            description="A dummy typed key for passthrough features.",
        )

    @property
    def is_dummy(self) -> bool:
        return self.key_column == DUMMY_KEY_NAME


# ---------------------------------------------------------------------------
# Durations (reference utils.rs:62-94 — HOCON style)
# ---------------------------------------------------------------------------

_DUR_RE = re.compile(
    r"^\s*(\d+(?:\.\d+)?)\s*"
    r"(ns|nano|nanos|nanosecond|nanoseconds|"
    r"us|micro|micros|microsecond|microseconds|"
    r"ms|milli|millis|millisecond|milliseconds|"
    r"s|second|seconds|"
    r"m|minute|minutes|"
    r"h|hour|hours|"
    r"d|day|days)?\s*$",
    re.IGNORECASE,
)

_UNIT_MS = {
    "ns": 1e-6, "nano": 1e-6, "nanos": 1e-6, "nanosecond": 1e-6, "nanoseconds": 1e-6,
    "us": 1e-3, "micro": 1e-3, "micros": 1e-3, "microsecond": 1e-3, "microseconds": 1e-3,
    "ms": 1, "milli": 1, "millis": 1, "millisecond": 1, "milliseconds": 1,
    "s": 1000, "second": 1000, "seconds": 1000,
    "m": 60_000, "minute": 60_000, "minutes": 60_000,
    "h": 3_600_000, "hour": 3_600_000, "hours": 3_600_000,
    "d": 86_400_000, "day": 86_400_000, "days": 86_400_000,
}


def parse_duration_ms(s: Union[str, int, float]) -> int:
    """Parse a HOCON-style duration to integer milliseconds.

    Mirrors /root/reference/feathr-rs/src/utils.rs:62-94 including the quirk
    that a **bare number means milliseconds** (utils.rs:80-84).
    """
    if isinstance(s, (int, float)):
        return int(s)
    m = _DUR_RE.match(s)
    if not m:
        raise ValueError(f"invalid duration: {s!r}")
    num = float(m.group(1))
    unit = (m.group(2) or "ms").lower()
    return int(round(num * _UNIT_MS[unit]))


def format_duration(ms: int) -> str:
    """Render milliseconds back to the shortest HOCON unit (utils.rs round-trip)."""
    for unit, unit_ms in (("d", 86_400_000), ("h", 3_600_000), ("m", 60_000), ("s", 1000)):
        if ms % unit_ms == 0 and ms != 0:
            return f"{ms // unit_ms}{unit}"
    return f"{ms}ms"


# ---------------------------------------------------------------------------
# Timestamp formats (reference observation.rs:99-117)
# ---------------------------------------------------------------------------

EPOCH = "epoch"
EPOCH_MILLIS = "epoch_millis"


def timestamp_col_expr(column: str, fmt: Optional[str]):
    """Return a Spark SQL expression string parsing `column` to TimestampType.

    Formats: ``epoch`` (seconds), ``epoch_millis``, or a Java
    SimpleDateFormat pattern (passed through — Spark shares the pattern
    language for the subset Feathr uses, e.g. ``yyyy-MM-dd HH:mm:ss``).
    ``None`` means the column is already a timestamp.
    """
    col = quote_ident(column)
    if fmt is None:
        return f"CAST({col} AS TIMESTAMP)"
    if fmt == EPOCH:
        return f"CAST(CAST({col} AS BIGINT) AS TIMESTAMP)"
    if fmt == EPOCH_MILLIS:
        return f"TIMESTAMP_MILLIS(CAST({col} AS BIGINT))"
    return f"TO_TIMESTAMP({col}, {sql_str(fmt)})"


# ---------------------------------------------------------------------------
# Aggregations (reference model.rs:200-216)
# ---------------------------------------------------------------------------

class Aggregation(str, Enum):
    NOP = "NOP"          # earliest value in window (no aggregation)
    AVG = "AVG"
    MAX = "MAX"
    MIN = "MIN"
    SUM = "SUM"
    COUNT = "COUNT"      # engine extension (not in reference enum)
    COUNT_DISTINCT = "COUNT_DISTINCT"  # engine extension: distinct values in window
    # engine extension: HLL++ distinct estimate (relative sd ~5%). Constant
    # per-group state vs COUNT_DISTINCT's one-entry-per-distinct-value —
    # the right choice for high-cardinality windows at 100 TB.
    APPROX_COUNT_DISTINCT = "APPROX_COUNT_DISTINCT"
    # engine extension: exact interpolated percentile of the window's
    # values (the fraction comes from WindowAggTransform.agg_param).
    # Same interpolation as ANSI PERCENTILE_CONT / DuckDB quantile_cont.
    PERCENTILE = "PERCENTILE"
    # engine extensions: exponentially time-decayed sum / weighted mean
    # ("decayed counters" — the classic fraud/abuse feature). agg_param is
    # the HALF-LIFE IN DAYS: a source row t_d days before the observation
    # contributes value * 0.5**(t_d / agg_param). DECAY_AVG is the decay-
    # weighted mean (sum of w*v over sum of w).
    DECAY_SUM = "DECAY_SUM"
    DECAY_AVG = "DECAY_AVG"
    UNION = "UNION"      # collect all values into one list
    ELEMENTWISE_AVG = "ELEMENTWISE_AVG"
    ELEMENTWISE_MIN = "ELEMENTWISE_MIN"
    ELEMENTWISE_MAX = "ELEMENTWISE_MAX"
    ELEMENTWISE_SUM = "ELEMENTWISE_SUM"
    LATEST = "LATEST"    # value with max timestamp in window


# ---------------------------------------------------------------------------
# Transformations (reference model.rs:218-293)
# ---------------------------------------------------------------------------

@dataclass(frozen=True)
class ExpressionTransform:
    """Row-level Spark SQL expression feature (model.rs:248-253)."""
    sql_expr: str


@dataclass(frozen=True)
class WindowAggTransform:
    """Point-in-time sliding-window aggregation (model.rs:254-293).

    For each observation row with key *k* and event time *t*, aggregate
    ``def_expr`` over source rows with key *k* and event time in
    ``(t - window, t]``, after applying ``filter``, optionally sub-grouped
    by ``group_by`` keeping at most ``limit`` groups.
    """
    def_expr: str
    agg_func: Aggregation
    window: str  # HOCON duration string
    group_by: Optional[str] = None
    filter: Optional[str] = None
    limit: Optional[int] = None
    # parameter for parameterized aggregations (PERCENTILE: the fraction
    # in [0, 1]); ignored by every other agg_func
    agg_param: Optional[float] = None

    @property
    def window_ms(self) -> int:
        return parse_duration_ms(self.window)


@dataclass(frozen=True)
class UdfTransform:
    """Named-UDF transformation (model.rs:274-277). The callable is looked
    up in the project's UDF registry at plan time."""
    name: str


Transformation = Union[ExpressionTransform, WindowAggTransform, UdfTransform]


def as_transformation(t: Union[str, Transformation]) -> Transformation:
    """Strings coerce to expression transforms (model.rs:296-307)."""
    if isinstance(t, str):
        return ExpressionTransform(t)
    return t
