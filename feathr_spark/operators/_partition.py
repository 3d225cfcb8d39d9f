"""Shared pre-explosion spread: hash-repartition with an EXPLICIT
partition count.

Why it exists (r11): a single-file parquet source arrives as ONE input
partition locally, serializing expensive per-row work (shingle/gram
explosion, brute-force scoring fan-outs) onto one task. A keys-only
``repartition(col)`` is REPARTITION_BY_COL, which AQE's partition
coalescer collapses back toward ONE partition when the shuffled bytes
are under its 1 MB minimum — but these exchanges exist for the work
AFTER them (100-1000x fan-outs AQE cannot see). An explicit count makes
the shuffle REPARTITION_BY_NUM, which AQE must preserve.

The count comes from ``spark.sql.shuffle.partitions`` — session/driver
configured, so scale-adaptive rather than a local constant; at cluster
scale the input is already multi-file parallel and this stays a cheap
balanced exchange (skew-free when the key is unique per row).

Hoisted here in r12 (ADVICE r11) from three copies, in dedup,
similarity and the entry file's vocab_growth; all three call it
directly.
"""
from __future__ import annotations

from py4j.protocol import Py4JError
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


def spread_by(df: DataFrame, col: Column) -> DataFrame:
    """Hash-repartition ``df`` on ``col`` into the session's configured
    shuffle-partition count (see module docstring).

    The no-default ``conf.get`` is deliberate: it consults the session
    value AND the entry's built-in default (a ``get(key, None)`` form
    skips the built-in default and hands back None on sessions that
    never set the key). Only the count lookup is guarded: its except-arm
    catches "auto" strings on exotic platforms (ValueError) and Py4J
    errors from a stale session handle in long multi-session processes,
    and falls back to the context's parallelism, then to Spark's stock
    200 (a stopped context has no JVM handle and raises AttributeError
    there). ``repartition`` runs once, outside it, so a genuine failure
    (e.g. an unresolved column) surfaces as itself."""
    sess = df.sparkSession
    try:
        n = int(sess.conf.get("spark.sql.shuffle.partitions"))
    except (ValueError, Py4JError):
        try:
            n = sess.sparkContext.defaultParallelism
        except (AttributeError, Py4JError):
            n = 200
    return df.repartition(n, col)
