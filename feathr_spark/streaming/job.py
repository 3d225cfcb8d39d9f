"""Streaming feature computation (reference SURVEY §2.8).

The reference's streaming surface is thin: a Kafka+Avro source
(source.rs:563-650) and sinks flagged ``streaming: true`` with a
``timeoutMs`` that bounds the run (materialization.rs:31-55) — the job is
a Structured Streaming query killed after the timeout. It has no
watermark/window DSL; windowed aggregation features on streams are our
documented extension mapped to ``withWatermark`` + ``F.window`` tumbling
windows (late data handled by the watermark).

Everything here takes/returns streaming DataFrames, so it works with any
``readStream`` source (Kafka, files, rate, memory) — the engine does not
care which connector produced the stream.
"""

from __future__ import annotations

from typing import Optional, Sequence

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.streaming import StreamingQuery

from ..feature import Feature
from ..functions import feathr_expr, quote_ident, sql_ref, sql_str
from ..model import ExpressionTransform, WindowAggTransform
from ..operators.aggregations import agg_sql, value_sql


def stream_expression_features(stream_df: DataFrame,
                               features: Sequence[Feature]) -> DataFrame:
    """Row-level expression features on a stream — identical semantics to
    batch passthrough features (stateless, fully pipelined)."""
    out = stream_df
    for f in features:
        t = f.transform
        if not isinstance(t, ExpressionTransform):
            raise ValueError(f"{f.name}: streaming expression features only")
        out = out.withColumn(f.name, feathr_expr(t.sql_expr))
    return out


def stream_window_agg(
    stream_df: DataFrame,
    keys: Sequence[str],
    ts_col: str,
    features: Sequence[Feature],
    watermark: str = "10 minutes",
    slide: Optional[str] = None,
) -> DataFrame:
    """Windowed aggregation features on a stream.

    Each feature's ``window`` becomes an event-time window (``F.window``):
    tumbling by default, sliding when ``slide`` (a HOCON duration like
    ``"30s"``) is given — an event then lands in window/slide overlapping
    windows, the streaming analogue of the batch PIT frame evaluated at
    slide granularity. ``withWatermark`` bounds state and drops data later
    than the watermark (state for closed windows is evicted, so a
    too-late row cannot resurrect them).
    All features must share one window length (one groupBy per call —
    call repeatedly for mixed windows; state is per (key, window)).
    Output: keys + window_start/window_end + one column per feature.
    """
    from ..model import parse_duration_ms
    if not features:
        raise ValueError("no features")
    wms = {f.transform.window_ms for f in features}
    if len(wms) != 1:
        raise ValueError("streaming window group must share one window length")
    dur = f"{wms.pop()} milliseconds"  # Spark accepts exact-ms durations
    slide_dur = f"{parse_duration_ms(slide)} milliseconds" if slide else None

    wm = stream_df.withWatermark(ts_col, watermark)
    aggs = []
    for f in features:
        t = f.transform
        assert isinstance(t, WindowAggTransform)
        aggs.append(F.expr(agg_sql(t.agg_func, value_sql(t.def_expr, t.filter),
                                   sql_ref(ts_col), t.agg_param)
                           + f" AS {quote_ident(f.name)}"))
    durs = ", ".join(map(sql_str, filter(None, (dur, slide_dur))))
    grouped = wm.groupBy(F.expr(f"window({sql_ref(ts_col)}, {durs}) AS __w"),
                         *map(sql_ref, keys)).agg(*aggs)
    return grouped.selectExpr(
        *map(sql_ref, keys), "__w.start AS window_start",
        "__w.end AS window_end", *(quote_ident(f.name) for f in features))


def stream_session_stats(
    stream_df: DataFrame,
    user_col: str = "user_id",
    ts_col: str = "ts",
    gap: str = "30m",
    value_col: Optional[str] = None,
    watermark: str = "10 minutes",
) -> DataFrame:
    """Streaming analogue of :func:`operators.sessions.session_stats`:
    per-(user, session) aggregates over gap-based sessions, built on
    Spark's native ``session_window`` (state merges adjacent events and
    evicts sessions closed past the watermark — bounded state by
    construction).

    Convention note: ``session_window`` sessions are half-open
    ``[start, last_event + gap)``, so an event arriving EXACTLY ``gap``
    after the previous one starts a new session, where the batch
    operator's strict ``diff > gap`` test keeps it — the one documented
    divergence between the two.

    Output: user + session_start/session_end + n_events [+ sum_<value>].
    """
    from ..model import parse_duration_ms
    gap_dur = f"{parse_duration_ms(gap)} milliseconds"
    wm = stream_df.withWatermark(ts_col, watermark)
    aggs = [F.count("*").cast("bigint").alias("n_events")]
    if value_col is not None:
        aggs.append(F.round(F.sum(value_col), 4).cast("double")
                    .alias(f"sum_{value_col}"))
    grouped = wm.groupBy(
        F.session_window(F.col(ts_col), gap_dur).alias("__s"),
        F.col(user_col)).agg(*aggs)
    return grouped.select(
        user_col,
        F.col("__s.start").alias("session_start"),
        F.col("__s.end").alias("session_end"),
        *[a for a in grouped.columns if a not in ("__s", user_col)],
    )


def stream_dedup(
    stream_df: DataFrame,
    dedup_cols: Optional[Sequence[str]] = None,
    text_col: Optional[str] = None,
    ts_col: str = "ts",
    watermark: str = "10 minutes",
) -> DataFrame:
    """Streaming exact dedup: keep the FIRST event per fingerprint, with
    state bounded by the watermark horizon (the streaming analogue of
    :func:`operators.dedup.exact_dedup`'s keep-one semantics).

    ``dropDuplicatesWithinWatermark`` stores one state row per distinct
    fingerprint and EVICTS it once the watermark passes — so a duplicate
    arriving within ``watermark`` of the first occurrence is dropped,
    while the same content re-appearing much later is treated as new.
    That horizon semantics is the standard bounded-state trade-off: an
    unbounded ``dropDuplicates`` on an infinite stream would grow state
    forever (and is exactly what this function exists to avoid).

    Dedup key: ``dedup_cols`` verbatim, or — when ``text_col`` is given —
    the md5 fingerprint of whitespace-normalized lowercase text (the
    batch ``exact_dedup`` fingerprint), computed into ``__fp`` so the
    comparison state holds a 32-char hash instead of the payload.
    """
    if (dedup_cols is None) == (text_col is None):
        raise ValueError("pass exactly one of dedup_cols / text_col")
    out = stream_df.withWatermark(ts_col, watermark)
    if text_col is not None:
        from ..operators.text import md5_fingerprint
        out = out.withColumn("__fp", md5_fingerprint(F.col(text_col)))
        return out.dropDuplicatesWithinWatermark(["__fp"]).drop("__fp")
    return out.dropDuplicatesWithinWatermark(list(dedup_cols))


def run_streaming_query(
    df: DataFrame,
    format: str = "memory",
    query_name: str = "feathr_stream",
    output_mode: str = "append",
    timeout_ms: Optional[int] = None,
    checkpoint: Optional[str] = None,
    trigger_interval: Optional[str] = None,
    **options,
) -> StreamingQuery:
    """Start the query; when ``timeout_ms`` is set, block until the timeout
    then stop — the reference's ``streaming: true`` + ``timeoutMs`` sink
    semantics (materialization.rs:48-55)."""
    writer = df.writeStream.format(format).outputMode(output_mode) \
        .queryName(query_name)
    if checkpoint:
        writer = writer.option("checkpointLocation", checkpoint)
    if trigger_interval:
        writer = writer.trigger(processingTime=trigger_interval)
    if options:
        writer = writer.options(**options)
    q = writer.start()
    if timeout_ms is not None:
        q.processAllAvailable() if timeout_ms == 0 else q.awaitTermination(timeout_ms / 1000)
        q.stop()
    return q


def stream_interval_join(
    points: DataFrame,
    intervals: DataFrame,
    point_ts: str,
    interval_ts: str,
    window_s: int,
    on: Optional[Sequence[str]] = None,
    watermark: str = "10 minutes",
    how: str = "inner",
) -> DataFrame:
    """Stream-stream interval join: match each point event to interval
    events such that ``interval_ts <= point_ts < interval_ts + window_s``
    (the streaming analogue of :func:`operators.rangejoin.range_join`
    with intervals anchored at an event time).

    Both inputs must be STREAMING frames; Spark requires watermarks on both
    sides plus the event-time range constraint so the join state is
    GC-able: each side buffers only rows younger than
    ``watermark + window_s``, giving bounded state at any input volume —
    the property that makes this run forever at production rates.

    ``on`` adds equi-key columns. ``how`` is ``inner`` or ``left_outer``
    (Spark emits the null-padded interval row only once the watermark
    passes, i.e. late in processing time — correct, not missing).
    Column names of the two sides must be disjoint apart from ``on``.
    """
    if how not in ("inner", "left_outer"):
        raise ValueError(
            f"stream_interval_join: how must be inner|left_outer, got {how!r}")
    on = list(on or [])
    p = points.withWatermark(point_ts, watermark)
    iv = intervals.withWatermark(interval_ts, watermark)
    cond = (
        (p[point_ts] >= iv[interval_ts])
        & (p[point_ts] < iv[interval_ts]
           + F.expr(f"INTERVAL {int(window_s)} SECONDS"))
    )
    for k in on:
        cond = cond & (p[k] == iv[k])
    joined = iv.join(p, cond, how)
    # de-duplicate the equi-key columns (both sides carry them after an
    # expression-condition join)
    keep = [iv[c] for c in intervals.columns] + \
           [p[c] for c in points.columns if c not in on]
    return joined.select(*keep)


def stream_quantile_monitor(
    stream_df: DataFrame,
    key_cols: Sequence[str],
    ts_col: str = "ts",
    value_col: str = "value",
    window: str = "1 hour",
    watermark: str = "10 minutes",
    fracs: Sequence[float] = (0.5, 0.95),
    k: int = 200,
) -> DataFrame:
    """Streaming percentile monitor: per-(keys, tumbling window) KLL
    quantile sketches with watermarked state — the latency-dashboard /
    drift-alarm readout (p50/p95 per service per window) computed with
    CONSTANT per-window state however many events land in it. The
    streaming face of :func:`..operators.profile.quantile_rollup`:
    same sketch family, same rank-error guarantee (~1.33/k at 99%
    confidence), and a closed window's sketch state is exactly what the
    batch operator would have built over the same slice (value-tested
    as equality in exact mode).

    Append-mode semantics: a window emits once, after the watermark
    passes its end — late events inside the watermark still merge into
    the open sketch; later ones drop (standard watermark contract).

    Output: keys + window_start + window_end + n (exact event count) +
    ``p{frac*100}`` per requested fraction.
    """
    from ..model import parse_duration_ms
    win = f"{parse_duration_ms(window)} milliseconds"
    keys = list(key_cols)
    wm = stream_df.withWatermark(ts_col, watermark)
    agg = (wm.groupBy(F.window(F.col(ts_col), win).alias("__w"), *keys)
           .agg(F.kll_sketch_agg_double(
                    F.col(value_col).cast("double"), F.lit(int(k)))
                .alias("__qsk")))
    pcols = [F.kll_sketch_get_quantile_double(F.col("__qsk"),
                                              F.lit(float(f)))
             .alias(f"p{round(f * 100)}") for f in fracs]
    return agg.select(
        *keys,
        F.col("__w.start").alias("window_start"),
        F.col("__w.end").alias("window_end"),
        F.kll_sketch_get_n_double(F.col("__qsk")).cast("bigint")
        .alias("n"),
        *pcols)
