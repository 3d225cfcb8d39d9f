"""Feathr SQL extension functions.

The reference's expression DSL *is* Spark SQL (SURVEY §2.2), plus a few
Feathr-specific helpers like ``cast_float`` seen in its tests
(/root/reference/feathr-rs/src/client.rs:360,383-388). We register those as
tiny SQL shims so expression strings from reference configs run verbatim.
"""

from __future__ import annotations

import re
import weakref

from pyspark.errors import PySparkException
from pyspark.sql import SparkSession

# name -> 1-arg SQL template
_SHIMS = {
    "cast_float": "CAST(({0}) AS FLOAT)",
    "cast_double": "CAST(({0}) AS DOUBLE)",
    "cast_int": "CAST(({0}) AS INT)",
    "cast_long": "CAST(({0}) AS BIGINT)",
    "cast_string": "CAST(({0}) AS STRING)",
    "cast_boolean": "CAST(({0}) AS BOOLEAN)",
}

# weak: a session's id() is reused once it is collected, and a new
# session must not inherit a dead one's registration
_registered_sessions: "weakref.WeakSet[SparkSession]" = weakref.WeakSet()


def register_feathr_functions(spark: SparkSession) -> None:
    """Best-effort: register the shims as SQL UDFs (Spark ≥3.5 DDL) so
    ad-hoc ``spark.sql`` queries can use them too. The engine itself never
    relies on this — planner-built expressions go through
    :func:`rewrite_feathr_expr`, which inlines plain CAST expressions that
    Catalyst folds (no UDF call overhead)."""
    if spark in _registered_sessions:
        return
    for name, template in _SHIMS.items():
        body = template.format("CAST(x AS STRING)")
        try:
            spark.sql(
                f"CREATE OR REPLACE TEMPORARY FUNCTION {name}(x STRING) RETURNS "
                f"{_ret_type(name)} RETURN {body}"
            )
        except PySparkException:  # no SQL-function DDL in this Spark
            break
    _registered_sessions.add(spark)


def _ret_type(name: str) -> str:
    return {
        "cast_float": "FLOAT", "cast_double": "DOUBLE", "cast_int": "INT",
        "cast_long": "BIGINT", "cast_string": "STRING", "cast_boolean": "BOOLEAN",
    }[name]


def feathr_expr(expr: str):
    """Parse a Feathr expression string into a Spark Column (shims inlined)."""
    from pyspark.sql import functions as F
    return F.expr(rewrite_feathr_expr(expr))


# SQL-text building blocks. The planner writes its expressions as SQL
# text and parses each projection once (``selectExpr``/``F.expr``): one
# py4j round trip per parsed expression, where a ``Column`` builder makes
# one or more per function call.
def quote_ident(name: str) -> str:
    """``name`` as one quoted SQL identifier (dots and spaces included)."""
    return "`" + name.replace("`", "``") + "`"


def sql_ref(col: str) -> str:
    """SQL for ``F.col(col)``: dots separate nested fields, and a name
    with backticks is already quoted."""
    return col if "`" in col else ".".join(map(quote_ident, col.split(".")))


def sql_expr(expr: str) -> str:
    """A Feathr expression (shims inlined) as a parenthesized SQL operand.
    The newline ends a trailing ``--`` comment inside the expression."""
    return f"({rewrite_feathr_expr(expr)}\n)"


def sql_str(s: str) -> str:
    """``s`` as a SQL string literal."""
    return "'" + s.replace("\\", "\\\\").replace("'", "\\'") + "'"


def _skip_string(s: str, j: int) -> int:
    """``s[j]`` opens a string literal: return the index just past its end.
    Handles both Spark SQL escape styles — backslash (``'a\\'b'``) and
    doubled quotes (``'a''b'``) — and both quote characters (Spark's
    non-ANSI mode also accepts double-quoted string literals). An
    unterminated literal consumes the rest of the string (Catalyst will
    reject the expression with its own parse error)."""
    q = s[j]
    j += 1
    while j < len(s):
        c = s[j]
        if c == "\\":
            j += 2
            continue
        if c == q:
            if j + 1 < len(s) and s[j + 1] == q:  # doubled-quote escape
                j += 2
                continue
            return j + 1
        j += 1
    return j


def rewrite_feathr_expr(expr: str) -> str:
    """Textual rewrite of Feathr helpers into ANSI casts.

    Used for every planner-built expression (and oracle SQL generation).
    Handles arbitrarily nested calls — ``cast_float(coalesce(a, b))``,
    ``cast_int(cast_float(x))`` — via a string-literal-aware balanced-paren
    scan: a shim name occurring *inside* a literal (``concat('see
    cast_float(x)', y)``) is left untouched, and backslash-escaped or
    doubled quotes inside literals don't derail the scan. Raises on an
    unclosed call rather than silently falling through to the string-typed
    SQL-UDF shim (which would round-trip numerics through STRING)."""
    call_re = re.compile(rf"\b({'|'.join(_SHIMS)})\s*\(")

    def rewrite(s: str) -> str:
        # find the first shim call whose start is OUTSIDE any string literal
        m, j = None, 0
        while j < len(s):
            if s[j] in "'\"":
                j = _skip_string(s, j)
                continue
            m = call_re.match(s, j)
            if m is not None:
                break
            j += 1
        if m is None:
            return s
        name, open_p = m.group(1), m.end() - 1
        depth, j = 0, open_p
        while j < len(s):
            c = s[j]
            if c in "'\"":
                j = _skip_string(s, j)
                continue
            if c == "(":
                depth += 1
            elif c == ")":
                depth -= 1
                if depth == 0:
                    break
            j += 1
        if depth != 0:
            raise ValueError(f"unbalanced parentheses in {name}(...): {s!r}")
        inner = rewrite(s[open_p + 1:j])
        return (s[:m.start()] + _SHIMS[name].format(inner)
                + rewrite(s[j + 1:]))

    return rewrite(expr)
