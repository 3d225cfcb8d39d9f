"""Dataset profiling and multi-resolution time rollups.

Both are analytics primitives a feature platform needs around its data
(the reference delegates all columnar compute to Spark via expression
strings, `/root/reference/feathr-rs/src/model.rs:248-253`; these are the
engine-side operators that make that delegation useful at scale).

Portability note (why the decimal casts): double summation is
order-dependent, so the same mean computed by two engines (or two runs
with different partitioning!) can differ in the last ulp. Profiles and
rollups here sum ``DECIMAL`` — exact, associative, engine-portable — and
only convert to double at the output edge. This also makes the operators
deterministic across cluster sizes, which matters for snapshot-diffing
data-quality checks.
"""

from __future__ import annotations

from typing import List, Optional, Sequence

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

_DEC = "decimal(27,6)"


def profile_numeric(
    df: DataFrame,
    cols: Sequence[str],
    group_by: Optional[Sequence[str]] = None,
    approx: bool = False,
    rsd: float = 0.05,
    quantiles: Sequence[float] = (0.5, 0.95),
) -> DataFrame:
    """Per-column numeric profile: count / nulls / distinct / min / max /
    exact-decimal sum and mean — optionally per ``group_by`` group.

    One shuffle total (a single groupBy computes every column's
    aggregates side by side; map-side partial aggregation keeps the
    shuffle payload at one small row per group per map task). In exact
    mode every aggregate is order-independent, so results are bit-stable
    across partitionings and engines.

    ``approx=True`` is the 100 TB mode: exact ``countDistinct`` keeps
    per-group distinct-value state (memory ∝ cardinality), so the sketch
    variant swaps in ``approx_count_distinct`` (HLL++, constant ~1.5 KB
    state, relative error ``rsd``) and adds ``percentile_approx``
    quantile columns ``{c}_p{q}`` (bounded-size quantile sketch) —
    aggregates that stream through any cardinality. The accuracy
    contract is tested (distinct within 3·rsd of exact; quantiles within
    the sketch's rank tolerance) the same way the ANN recall gates are.

    Output columns per profiled column c: ``{c}_count, {c}_nulls,
    {c}_distinct, {c}_min, {c}_max, {c}_sum, {c}_mean`` (+ ``{c}_p50``
    etc. in approx mode; sum/mean as DOUBLE rounded to 4 dp).
    """
    if not cols:
        raise ValueError("cols must be non-empty")
    aggs: List = []
    for c in cols:
        d = F.col(c).cast(_DEC)
        distinct = (F.approx_count_distinct(c, rsd) if approx
                    else F.countDistinct(c))
        aggs += [
            F.count(c).cast("bigint").alias(f"{c}_count"),
            F.count_if(F.col(c).isNull()).cast("bigint").alias(f"{c}_nulls"),
            distinct.cast("bigint").alias(f"{c}_distinct"),
            F.min(c).cast("double").alias(f"{c}_min"),
            F.max(c).cast("double").alias(f"{c}_max"),
            F.round(F.sum(d).cast("double"), 4).alias(f"{c}_sum"),
            # mean = (exact decimal sum as double) / count: ONE IEEE
            # division on identical inputs is bit-identical everywhere,
            # unlike decimal division whose result scale is engine-specific
            F.round(F.sum(d).cast("double") / F.count(c), 4)
            .alias(f"{c}_mean"),
        ]
        if approx:
            for q in quantiles:
                aggs.append(
                    F.percentile_approx(c, q, 10000).cast("double")
                    .alias(f"{c}_p{int(q * 100)}"))
    if group_by:
        return df.groupBy(*group_by).agg(*aggs)
    return df.agg(*aggs)


def time_rollup(
    df: DataFrame,
    ts_col: str,
    key_cols: Sequence[str],
    value_col: str,
    levels: Sequence[str] = ("hour", "day"),
    raw: bool = False,
) -> DataFrame:
    """Multi-resolution time rollup (the hypertable continuous-aggregate
    cascade): per (keys, bucket) aggregates at each requested resolution,
    where every coarser level re-aggregates the FINER level's partials
    instead of rescanning the source.

    For levels (hour, day, week): the raw table shuffles ONCE into hourly
    partials (count/sum/min/max — all composable); daily rows re-group
    the hourly rows (a shuffle over data already ~3-4 orders of magnitude
    smaller than the source), weekly re-groups daily. At 100 TB this is
    the difference between one full-data shuffle and one per level.
    ``avg`` is derived at the output edge as sum/count (exact decimal),
    never averaged across levels.

    ``levels`` must be orderd finest→coarsest from ``second, minute,
    hour, day, week, month, year`` (``date_trunc`` units). Output:
    keys + resolution + bucket_start + n_events, v_sum, v_min, v_max,
    v_avg.

    ``raw=True`` keeps the EXACT decimal sum (column ``__sum``) instead
    of the rounded-double output columns — the mergeable-partials form
    for incremental refresh: :func:`merge_rollups` combines raw rollups
    of disjoint batches losslessly (decimal addition is exact and
    associative, so merge-then-finalize equals recompute-from-scratch
    bit-for-bit; merging FINALIZED rollups would add rounded doubles and
    drift). Finalize with :func:`finalize_rollup`.
    """
    order = ["second", "minute", "hour", "day", "week", "month", "year"]
    if not levels or [order.index(l) for l in levels] != sorted(
            order.index(l) for l in levels):
        raise ValueError(f"levels must be finest-to-coarsest from {order}")
    keys = list(key_cols)
    d = F.col(value_col).cast(_DEC)
    finest = levels[0]
    cur = (df
           .groupBy(*keys, F.date_trunc(finest, F.col(ts_col))
                    .alias("bucket_start"))
           .agg(F.count("*").cast("bigint").alias("n_events"),
                F.sum(d).alias("__sum"),
                F.min(value_col).cast("double").alias("v_min"),
                F.max(value_col).cast("double").alias("v_max")))
    outs = []
    for i, level in enumerate(levels):
        if i > 0:
            cur = (cur
                   .groupBy(*keys, F.date_trunc(level, F.col("bucket_start"))
                            .alias("bucket_start"))
                   .agg(F.sum("n_events").cast("bigint").alias("n_events"),
                        F.sum("__sum").alias("__sum"),
                        F.min("v_min").alias("v_min"),
                        F.max("v_max").alias("v_max")))
        if len(levels) > 1:
            # each level feeds BOTH the output union and the next level's
            # regroup; Spark does not share subplans across union
            # branches, so an unpersisted level would re-run its whole
            # upstream cascade once per appearance
            cur = cur.persist()
        outs.append(cur.select(
            *keys, F.lit(level).alias("resolution"), "bucket_start",
            "n_events", "__sum", "v_min", "v_max"))
    out = outs[0]
    for o in outs[1:]:
        out = out.unionByName(o)
    return out if raw else finalize_rollup(out)


def merge_rollups(*rollups: DataFrame) -> DataFrame:
    """Merge RAW rollups (``time_rollup(..., raw=True)``) of disjoint
    batches — the incremental-refresh step of the continuous-aggregate
    pattern: new data rolls up alone (touching only its own buckets) and
    merges into the stored partials; history is never rescanned.

    count/sum/min/max all compose, and the sum is exact decimal, so
    finalize(merge(raw(A), raw(B))) == finalize(raw(A ∪ B)) bit-for-bit
    (tested). One shuffle over the (tiny) partial frames.
    """
    if not rollups:
        raise ValueError("no rollups to merge")
    keys = [c for c in rollups[0].columns
            if c not in ("n_events", "__sum", "v_min", "v_max")]
    out = rollups[0]
    for r in rollups[1:]:
        out = out.unionByName(r)
    return (out.groupBy(*keys)
            .agg(F.sum("n_events").cast("bigint").alias("n_events"),
                 F.sum("__sum").cast(_DEC).alias("__sum"),
                 F.min("v_min").alias("v_min"),
                 F.max("v_max").alias("v_max")))


def finalize_rollup(raw: DataFrame) -> DataFrame:
    """Raw partials → the output schema (rounded-double v_sum / v_avg)."""
    keys = [c for c in raw.columns
            if c not in ("n_events", "__sum", "v_min", "v_max")]
    # +1e-9 nudge (repo-wide convention): Spark's round() goes through
    # the double's SHORTEST DECIMAL string (BigDecimal.valueOf), so a
    # binary value just under a half-boundary can round UP in Spark and
    # DOWN in engines that round the raw binary (observed: 307.03/8 =
    # 38.3787499…97 → Spark "38.37875"→38.3788, DuckDB →38.3787); the
    # nudge lands both engines on the same side of every boundary.
    return raw.select(
        *keys, "n_events",
        F.round(F.col("__sum").cast("double") + F.lit(1e-9), 4)
        .alias("v_sum"),
        "v_min", "v_max",
        F.round(F.col("__sum").cast("double") / F.col("n_events")
                + F.lit(1e-9), 4).alias("v_avg"))


def gapfill(
    df: DataFrame,
    key_cols: Sequence[str],
    ts_col: str,
    value_col: str,
    bucket_s: int = 86400,
    fill: str = "locf",
) -> DataFrame:
    """Regularize an irregular per-key time series onto a fixed bucket
    grid, filling empty buckets — the hypertable ``time_bucket_gapfill``
    operation (TimescaleDB's continuous-aggregate companion).

    Per (key, bucket): the bucket value is the exact decimal AVG of the
    raw values (deterministic — no per-row tie-break needed). The grid
    spans each key's own [first, last] observed bucket. ``fill``:

    * ``"locf"`` — last observation carried forward (gap buckets take the
      most recent earlier bucket's value; the canonical fill for state-like
      series). The first bucket always has a value by construction.
    * ``"zero"`` — gaps become 0.0 (event-count-like series).
    * ``"null"`` — gaps stay NULL, only the grid is materialized.

    Plan shape: one shuffle into (key, bucket) partials; the per-key span
    and the grid explode re-group the ALREADY-AGGREGATED bucket rows (3-4
    orders of magnitude smaller than the source at daily buckets); the
    LOCF window sorts those same small rows per key. The raw table is
    scanned and shuffled exactly once. Grid size is bounded by
    time-range/bucket per key, independent of event volume. A
    pathologically hot KEY is harmless here (buckets are pre-aggregated);
    only a key whose SPAN/bucket ratio is astronomical can blow up the
    explode — cap with a coarser bucket.

    Output: keys + ``bucket_start`` (timestamp) + ``value`` (double) +
    ``is_gap`` (true where no raw row landed in the bucket).
    """
    if fill not in ("locf", "zero", "null"):
        raise ValueError(f"gapfill: unknown fill {fill!r}")
    keys = list(key_cols)
    b = F.floor(F.unix_timestamp(F.col(ts_col).cast("timestamp"))
                / F.lit(int(bucket_s)))
    per = (df.groupBy(*keys, b.alias("__b"))
           .agg(F.avg(F.col(value_col).cast("decimal(18,6)"))
                .alias("__v")))
    grid = (per.groupBy(*keys)
            .agg(F.min("__b").alias("__lo"), F.max("__b").alias("__hi"))
            .select(*keys, F.explode(F.sequence(F.col("__lo"),
                                                F.col("__hi")))
                    .alias("__b")))
    filled = grid.join(per, keys + ["__b"], "left")
    v = F.col("__v").cast("double")
    if fill == "locf":
        w = (Window.partitionBy(*keys).orderBy("__b")
             .rowsBetween(Window.unboundedPreceding, Window.currentRow))
        v = F.last(v, ignorenulls=True).over(w)
    elif fill == "zero":
        v = F.coalesce(v, F.lit(0.0))
    return filled.select(
        *keys,
        F.timestamp_seconds(F.col("__b") * int(bucket_s))
        .alias("bucket_start"),
        v.alias("value"),
        F.col("__v").isNull().alias("is_gap"))


def rolling_anomalies(
    df: DataFrame,
    key_cols: Sequence[str],
    ts_col: str,
    value_col: str,
    window_s: int = 7 * 86400,
    z_thresh: float = 3.0,
    min_points: int = 5,
) -> DataFrame:
    """Rolling z-score anomaly flags: each row is scored against the
    mean/std of its key's TRAILING ``window_s`` seconds (current row
    included — the score is a population z-score of the row within its
    own recent context).

    One shuffle (the per-key window sort); mean/std come from the same
    RANGE frame via sum/sum-of-squares, so no self-join and no second
    pass. Rows with fewer than ``min_points`` frame rows or zero variance
    get NULL z (and are never flagged) — z-scores over 2-3 points are
    noise, not anomalies.

    Output: input columns + ``roll_mean``, ``roll_z``, ``is_anomaly``.
    Skew caveat: one key's history sorts in one task (same bound as every
    per-key window op here); pre-bucket pathological keys upstream.
    """
    t = F.unix_timestamp(F.col(ts_col).cast("timestamp"))
    frame = (Window.partitionBy(*key_cols).orderBy(t)
             .rangeBetween(-(int(window_s) - 1), Window.currentRow))
    v = F.col(value_col).cast("double")
    n = F.count(value_col).over(frame)
    s = F.sum(v).over(frame)
    ss = F.sum(v * v).over(frame)
    mean = s / n
    var = (ss - s * s / n) / n
    std = F.sqrt(F.greatest(var, F.lit(0.0)))  # FP guard: var >= 0
    z = F.when((n >= min_points) & (std > 0), (v - mean) / std)
    return (df.withColumn("roll_mean", mean)
            .withColumn("roll_z", z)
            .withColumn("is_anomaly",
                        F.coalesce(F.abs(z) > z_thresh, F.lit(False))))


def histogram(
    df: DataFrame,
    value_col: str,
    bins: int = 10,
    lo: float = None,
    hi: float = None,
) -> DataFrame:
    """Equal-width histogram of ``value_col``: ``bins`` buckets over
    [lo, hi] (data min/max when omitted — computed in the same job via a
    broadcast 1-row bounds frame, not a driver collect). Values exactly
    at ``hi`` fall in the last bucket (closed upper edge, the standard
    histogram convention); NULLs are excluded.

    One aggregate over the bucket index — the shuffle carries at most
    ``bins`` rows per partition after partial aggregation. Empty buckets
    are materialized with count 0 via a sequence explode so downstream
    plotting/statistics see the full grid.

    Output: (bucket, bucket_lo, bucket_hi, n) with bucket in [0, bins).
    """
    if bins <= 0:
        raise ValueError("histogram: bins must be positive")
    v = F.col(value_col).cast("double")
    if lo is None or hi is None:
        bounds = df.agg(F.min(v).alias("__lo"), F.max(v).alias("__hi"))
        data = df.crossJoin(F.broadcast(bounds))
        blo, bhi = F.col("__lo"), F.col("__hi")
    else:
        data = df
        blo, bhi = F.lit(float(lo)), F.lit(float(hi))
    width = (bhi - blo) / F.lit(int(bins))
    idx = F.when(v.isNull() | (v < blo) | (v > bhi), None).otherwise(
        F.least(F.floor((v - blo) / width), F.lit(int(bins) - 1)))
    counts = (data.select(idx.alias("__bkt"))
              .where(F.col("__bkt").isNotNull())
              .groupBy("__bkt")
              .agg(F.count("*").alias("n")))
    # full grid (empty buckets included): the bounds frame is 1 row
    if lo is None or hi is None:
        grid_src = bounds
    else:
        grid_src = df.sparkSession.range(1).select(
            F.lit(float(lo)).alias("__lo"), F.lit(float(hi)).alias("__hi"))
    grid = grid_src.select(
        F.explode(F.sequence(F.lit(0), F.lit(int(bins) - 1)))
        .alias("bucket"), "__lo", "__hi")
    w = (F.col("__hi") - F.col("__lo")) / F.lit(int(bins))
    return (grid.join(counts, grid.bucket == counts.__bkt, "left")
            .select(F.col("bucket").cast("bigint").alias("bucket"),
                    (grid["__lo"] + F.col("bucket") * w).alias("bucket_lo"),
                    (grid["__lo"] + (F.col("bucket") + 1) * w)
                    .alias("bucket_hi"),
                    F.coalesce(F.col("n"), F.lit(0)).cast("bigint")
                    .alias("n")))


def key_skew(
    df: DataFrame,
    key_cols: Sequence[str],
    top_k: int = 20,
    summary: bool = False,
) -> DataFrame:
    """Join/aggregation skew diagnosis for a key set: how concentrated
    the per-key row counts are. The pre-flight readout for every
    shuffle-on-key operator here, such as the point-in-time window, which
    folds each key's whole history in one task; the planner samples
    nothing at plan time, so this query is where a hot key shows.

    Plan: ONE data-sized shuffle (the per-key groupBy count, map-side
    combined); everything after operates on the keys-sized counts frame
    — the top-k hot keys compile to TakeOrderedAndProject (partition-
    local heads, no global sort) and the share/rank window runs on
    those k rows only. NULL keys count as a real key group (that is
    where skew usually hides — e.g. events with a missing user id all
    landing on one reducer).

    Output (default): the ``top_k`` hottest keys as (key..., n, share,
    rank), ties broken by key ascending. With ``summary=True``: one row
    (n_rows, n_keys, max_key_n, top1_share, entropy, norm_entropy) —
    ``entropy`` is the Shannon entropy of the key distribution in nats
    (= ln(n_keys) when perfectly uniform; ``norm_entropy`` = entropy /
    ln(n_keys) ∈ [0, 1], NULL for a single key), computed as
    ``ln N − Σ n·ln n / N`` so it folds in the same single pass over
    the counts frame.
    """
    if top_k < 1:
        raise ValueError("key_skew: top_k must be >= 1")
    keys = list(key_cols)
    if not keys:
        raise ValueError("key_skew: key_cols must be non-empty")
    counts = df.groupBy(*keys).agg(F.count("*").alias("__n"))
    if summary:
        n = F.col("__n")
        tot = counts.agg(
            F.sum(n).alias("__N"),
            F.count(F.lit(1)).alias("__K"),
            F.max(n).alias("__mx"),
            F.sum(n.cast("double") * F.log(n.cast("double")))
            .alias("__nlogn"))
        N = F.col("__N").cast("double")
        K = F.col("__K").cast("double")
        ent = F.log(N) - F.col("__nlogn") / N
        return tot.select(
            F.col("__N").cast("bigint").alias("n_rows"),
            F.col("__K").cast("bigint").alias("n_keys"),
            F.col("__mx").cast("bigint").alias("max_key_n"),
            (F.col("__mx") / N).alias("top1_share"),
            ent.alias("entropy"),
            F.when(K > 1, ent / F.log(K)).alias("norm_entropy"))
    top = (counts.orderBy(F.col("__n").desc(),
                          *[F.col(k).asc_nulls_last() for k in keys])
           .limit(int(top_k)))
    tot = counts.agg(F.sum("__n").alias("__tot"))
    w = Window.orderBy(F.col("__n").desc(),
                       *[F.col(k).asc_nulls_last() for k in keys])
    return (top.crossJoin(F.broadcast(tot))
            .select(*keys,
                    F.col("__n").cast("bigint").alias("n"),
                    (F.col("__n") / F.col("__tot").cast("double"))
                    .alias("share"),
                    F.row_number().over(w).alias("rank")))


def distinct_rollup(
    df: DataFrame,
    ts_col: str,
    key_cols: Sequence[str],
    value_col: str,
    level: str = "day",
    lgk: int = 12,
) -> DataFrame:
    """Per-(keys, bucket) MERGEABLE distinct-count sketches: the
    COUNT(DISTINCT) analogue of :func:`time_rollup`'s cascade. Exact
    distinct does not compose across buckets (daily distincts cannot be
    added into a weekly), so the continuous-aggregate pattern for
    distinct counts stores a Datasketches HLL sketch per bucket
    (``hll_sketch_agg``, ~2^lgk bytes, constant whatever the
    cardinality) and UNIONS sketches to coarsen or refresh.  The union
    carries the SAME lgk error bound as sketching the unioned data
    directly, but is estimate-identical to it only while both paths
    remain in the same internal representation (the small-cardinality
    sparse regime): past the sparse→dense transition the two paths can
    transition modes at different points and the estimates drift by a
    fraction of the error bound (observed ≤0.7% at 1500 true distincts,
    lgk=12).  Gate cascade-vs-direct on the analytic bound — twice the
    sketch RSE, ``2·1.04/√2^lgk`` (~3.25% at lgk=12) — like the KLL
    cascade below, never on equality.

    One data-sized shuffle (the bucket groupBy with map-side partial
    sketches); every downstream merge handles bucket-count-sized frames
    of fixed-width binaries. Coarsen with :func:`merge_distinct_rollup`,
    read estimates off with :func:`finalize_distinct`.

    Output: keys + bucket_start + ``__sk`` (binary sketch).
    """
    keys = list(key_cols)
    return (df
            .groupBy(*keys, F.date_trunc(level, F.col(ts_col))
                     .alias("bucket_start"))
            .agg(F.hll_sketch_agg(F.col(value_col), F.lit(int(lgk)))
                 .alias("__sk")))


def merge_distinct_rollup(
    rollup: DataFrame,
    level: str,
    lgk: int = 12,
) -> DataFrame:
    """Coarsen a distinct rollup to a coarser ``date_trunc`` level (or
    merge same-bucket partials from disjoint batches after a union) by
    HLL-unioning the sketches — history is never rescanned, and the
    shuffle carries one fixed-width sketch per (keys, bucket) per map
    task."""
    keys = [c for c in rollup.columns
            if c not in ("bucket_start", "__sk")]
    return (rollup
            .groupBy(*keys, F.date_trunc(level, F.col("bucket_start"))
                     .alias("bucket_start"))
            .agg(F.hll_union_agg(F.col("__sk"), F.lit(True))
                 .alias("__sk")))


def finalize_distinct(rollup: DataFrame) -> DataFrame:
    """Sketches → ``distinct_est`` (bigint) estimates."""
    other = [c for c in rollup.columns if c != "__sk"]
    return rollup.select(
        *other,
        F.hll_sketch_estimate(F.col("__sk")).cast("bigint")
        .alias("distinct_est"))


def quantile_rollup(
    df: DataFrame,
    ts_col: str,
    key_cols: Sequence[str],
    value_col: str,
    level: str = "day",
    k: int = 200,
) -> DataFrame:
    """Per-(keys, bucket) MERGEABLE quantile sketches: the
    percentile analogue of :func:`distinct_rollup`'s HLL cascade.
    Exact percentiles do not compose across buckets (daily medians
    cannot be combined into a monthly median), so the
    continuous-aggregate pattern for quantiles stores a Datasketches
    KLL sketch per bucket (``kll_sketch_agg_double``, O(k·log n/k)
    values whatever the row count) and MERGES sketches to coarsen or
    refresh — weekly/monthly p50/p95/p99 never rescan the source.

    KLL guarantees normalized rank error ~1.33/k at 99% confidence
    (±0.67% of rank at the default k=200) and the guarantee SURVIVES
    merging. Compaction is randomized, so merged-vs-direct sketches
    agree in rank error, not bit-for-bit (unlike the HLL cascade's
    exact union identity) — gate on rank tolerance, never equality.

    One data-sized shuffle (the bucket groupBy with map-side partial
    sketches); downstream merges carry one fixed-width binary per
    (keys, bucket). Coarsen with :func:`merge_quantile_rollup`, read
    percentiles off with :func:`finalize_quantiles`.

    Output: keys + bucket_start + ``__qsk`` (binary sketch).
    """
    keys = list(key_cols)
    return (df
            .groupBy(*keys, F.date_trunc(level, F.col(ts_col))
                     .alias("bucket_start"))
            .agg(F.kll_sketch_agg_double(
                     F.col(value_col).cast("double"), F.lit(int(k)))
                 .alias("__qsk")))


def merge_quantile_rollup(
    rollup: DataFrame,
    level: str,
    k: int = 200,
) -> DataFrame:
    """Coarsen a quantile rollup to a coarser ``date_trunc`` level (or
    merge same-bucket partials from disjoint batches) by KLL-merging
    the sketches — history is never rescanned."""
    keys = [c for c in rollup.columns
            if c not in ("bucket_start", "__qsk")]
    return (rollup
            .groupBy(*keys, F.date_trunc(level, F.col("bucket_start"))
                     .alias("bucket_start"))
            .agg(F.kll_merge_agg_double(F.col("__qsk"), F.lit(int(k)))
                 .alias("__qsk")))


def finalize_quantiles(
    rollup: DataFrame,
    fracs: Sequence[float] = (0.5, 0.95, 0.99),
) -> DataFrame:
    """Sketches → percentile estimate columns ``p{frac*100:g}`` plus
    the exact row count ``n`` the sketch saw."""
    other = [c for c in rollup.columns if c != "__qsk"]
    cols = [F.kll_sketch_get_quantile_double(
                F.col("__qsk"), F.lit(float(f)))
            .alias(f"p{round(f * 100)}")
            for f in fracs]
    return rollup.select(
        *other,
        F.kll_sketch_get_n_double(F.col("__qsk")).cast("bigint")
        .alias("n"), *cols)


def audience_overlap(
    a: DataFrame,
    b: DataFrame,
    value_col: str,
    lg_nom: int = 12,
) -> DataFrame:
    """Distinct-value set algebra between two cohorts via Theta
    sketches: |A|, |B|, |A∪B|, |A∩B|, |A\\B|, |B\\A| in ONE row —
    the audience-overlap readout (users who did X AND Y / X but not
    Y) that exact COUNT(DISTINCT) needs a full self-join for. HLL
    unions only; Theta sketches close the set algebra (intersection
    and difference compose from the same mergeable state), which is
    why this operator exists alongside :func:`distinct_rollup`.

    Each side folds to one ~2^lg_nom-bounded sketch in a single
    aggregate pass (map-side partials — the cohort never shuffles
    wide); the two 1-row frames broadcast-cross into the set
    expressions. Below ~2^lg_nom distinct values a Theta sketch is in
    exact mode and every readout is exact; above, estimates carry the
    standard Theta relative-error bound (~1/sqrt(2^lg_nom) ≈ 1.6% at
    the default lg_nom=12).

    Output (one row): n_a, n_b, n_union, n_intersection, n_only_a,
    n_only_b (bigint estimates).
    """
    ska = a.agg(F.theta_sketch_agg(F.col(value_col), F.lit(int(lg_nom)))
                .alias("__ta"))
    skb = b.agg(F.theta_sketch_agg(F.col(value_col), F.lit(int(lg_nom)))
                .alias("__tb"))
    one = ska.crossJoin(F.broadcast(skb))
    ta, tb = F.col("__ta"), F.col("__tb")
    est = F.theta_sketch_estimate
    return one.select(
        est(ta).cast("bigint").alias("n_a"),
        est(tb).cast("bigint").alias("n_b"),
        est(F.theta_union(ta, tb, F.lit(int(lg_nom)))).cast("bigint")
        .alias("n_union"),
        est(F.theta_intersection(ta, tb)).cast("bigint")
        .alias("n_intersection"),
        est(F.theta_difference(ta, tb)).cast("bigint").alias("n_only_a"),
        est(F.theta_difference(tb, ta)).cast("bigint").alias("n_only_b"))


def theta_rollup(
    df: DataFrame,
    ts_col: str,
    key_cols: Sequence[str],
    value_col: str,
    level: str = "week",
    lg_nom: int = 12,
) -> DataFrame:
    """Per-(keys, bucket) MERGEABLE Theta sketches of the distinct
    ``value_col`` set — :func:`distinct_rollup` with set ALGEBRA: HLL
    buckets only union, Theta buckets also intersect and difference,
    which is what period-over-period questions (retention, churn,
    new-vs-returning) actually need. One data-sized shuffle; each
    bucket's state is ~2^lg_nom bounded and exact below that many
    distincts. Coarsen with :func:`merge_theta_rollup`; consume
    consecutive-bucket intersections with :func:`sketch_retention`.

    Output: keys + bucket_start + ``__tsk`` (binary sketch).
    """
    keys = list(key_cols)
    return (df
            .groupBy(*keys, F.date_trunc(level, F.col(ts_col))
                     .alias("bucket_start"))
            .agg(F.theta_sketch_agg(F.col(value_col), F.lit(int(lg_nom)))
                 .alias("__tsk")))


def merge_theta_rollup(
    rollup: DataFrame,
    level: str,
    lg_nom: int = 12,
) -> DataFrame:
    """Coarsen a theta rollup by unioning sketches into coarser
    ``date_trunc`` buckets — same contract as the HLL/KLL cascades:
    history is never rescanned."""
    keys = [c for c in rollup.columns
            if c not in ("bucket_start", "__tsk")]
    return (rollup
            .groupBy(*keys, F.date_trunc(level, F.col("bucket_start"))
                     .alias("bucket_start"))
            .agg(F.theta_union_agg(F.col("__tsk"), F.lit(int(lg_nom)))
                 .alias("__tsk")))


def sketch_retention(rollup: DataFrame, lag: int = 1) -> DataFrame:
    """Period-over-period retention straight from a
    :func:`theta_rollup`: for each (keys, bucket), intersect the
    bucket's sketch with the sketch ``lag`` buckets earlier —
    |prev ∩ cur| distinct members retained — without ever rescanning
    the raw events (the classic retention query re-joins two scans of
    the fact table per period pair; here it is sketch algebra over a
    bucket-count-sized frame).

    ``lag`` counts ORDERED buckets per key group, so a calendar gap in
    the rollup makes "previous" the nearest earlier bucket — feed a
    gap-free rollup (or gapfill first) for strict period-over-period.
    The lag window sorts the bucket-count-sized sketch frame per key
    group — never data-sized. First ``lag`` buckets have no
    predecessor: NULL prev metrics.

    Output: keys + bucket_start + n_prev, n_cur, n_retained, n_new
    (cur minus prev), n_churned (prev minus cur) — bigint estimates, exact
    below 2^lg_nom — + retention (double, retained / prev, NULL when
    no predecessor or empty prev).
    """
    from pyspark.sql import Window
    keys = [c for c in rollup.columns
            if c not in ("bucket_start", "__tsk")]
    w = Window.partitionBy(*(keys or [F.lit(0)])).orderBy("bucket_start")
    prev = F.lag("__tsk", int(lag)).over(w)
    est = F.theta_sketch_estimate
    d = rollup.select(*keys, "bucket_start", F.col("__tsk").alias("__c"),
                      prev.alias("__p"))
    n_prev = F.when(F.col("__p").isNotNull(), est(F.col("__p")))
    n_ret = F.when(F.col("__p").isNotNull(),
                   est(F.theta_intersection(F.col("__p"), F.col("__c"))))
    # new = in cur but not prev; churned = in prev but not cur — the
    # same sketch algebra, so the full new/retained/churned decomposition
    # costs nothing extra
    n_new = F.when(F.col("__p").isNotNull(),
                   est(F.theta_difference(F.col("__c"), F.col("__p"))))
    n_churn = F.when(F.col("__p").isNotNull(),
                     est(F.theta_difference(F.col("__p"), F.col("__c"))))
    return d.select(
        *keys, "bucket_start",
        n_prev.cast("bigint").alias("n_prev"),
        est(F.col("__c")).cast("bigint").alias("n_cur"),
        n_ret.cast("bigint").alias("n_retained"),
        n_new.cast("bigint").alias("n_new"),
        n_churn.cast("bigint").alias("n_churned"),
        F.when(n_prev > 0, n_ret / n_prev).cast("double")
        .alias("retention"))


def hbos_scores(
    df: DataFrame,
    feature_cols: Sequence[str],
    id_col: str,
    bins: int = 16,
    round_dp: int = 4,
) -> DataFrame:
    """Histogram-Based Outlier Score (Goldstein & Dengel, KI-2012): per
    feature, an equal-width histogram over [min, max]; a row's score is
    the sum over features of −ln(relative bin frequency) — rows in thin
    bins on many features score high. The unsupervised anomaly detector
    that needs no pairwise distances, no iterations, and no model state:
    exactly three column-pruned scans at any corpus size.

    Physical shape: one bounds aggregate (1 row, broadcast), one JOINT
    bucket-grid aggregate (≤ bins^n_features rows — the marginals for
    every feature derive from this single shuffle), and one scoring scan
    that joins the bins-sized marginal tables back by bucket index
    (broadcast). Nothing scales with the row count except the scans.

    Cross-engine determinism: bucket indices come from one fixed
    floating-point expression tree (IEEE ops are deterministic given the
    same tree), counts are exact integers, and each feature's
    ln(density) is quantized to integer micro-nats BEFORE the cross-
    feature sum (the repo's lm_score convention) — so scores are exact
    integer arithmetic until the output edge.

    Rows with a NULL in any feature get a NULL score (no silent bin 0).
    Output: (id_col, hbos).
    """
    if not feature_cols:
        raise ValueError("hbos_scores: need at least one feature column")
    b = int(bins)
    feats = [F.col(c).cast("double").alias(f"__x{i}")
             for i, c in enumerate(feature_cols)]
    base = df.select(F.col(id_col).alias("__id"), *feats)
    names = [f"__x{i}" for i in range(len(feature_cols))]

    bounds = base.agg(*[a for i in range(len(names))
                        for a in (F.min(names[i]).alias(f"__lo{i}"),
                                  F.max(names[i]).alias(f"__hi{i}"))])
    withb = base.crossJoin(F.broadcast(bounds))

    def bucket(i):
        v, lo, hi = (F.col(names[i]), F.col(f"__lo{i}"), F.col(f"__hi{i}"))
        width = (hi - lo) / F.lit(float(b))
        return (F.when(v.isNull(), None)
                .when(hi == lo, F.lit(0))
                .otherwise(F.least(F.floor((v - lo) / width),
                                   F.lit(b - 1)))).cast("bigint")

    idx = withb.select("__id", *[bucket(i).alias(f"__b{i}")
                                 for i in range(len(names))])
    # joint grid: ONE shuffle, <= bins^k rows; marginals derive from it
    joint = (idx.dropna()
             .groupBy(*[f"__b{i}" for i in range(len(names))])
             .agg(F.count("*").alias("__n")))
    total = joint.agg(F.sum("__n").cast("double").alias("__nn"))

    scored = idx
    for i in range(len(names)):
        marg = (joint.groupBy(f"__b{i}")
                .agg(F.sum("__n").cast("double").alias("__cnt"))
                .crossJoin(F.broadcast(total))
                .select(F.col(f"__b{i}").alias(f"__mb{i}"),
                        F.round(F.log(F.col("__cnt") / F.col("__nn"))
                                * F.lit(1e6), 0).cast("bigint")
                        .alias(f"__u{i}")))
        scored = scored.join(F.broadcast(marg),
                             scored[f"__b{i}"] == marg[f"__mb{i}"], "left")
    u_sum = None
    for i in range(len(names)):
        u_sum = F.col(f"__u{i}") if u_sum is None else u_sum + F.col(f"__u{i}")
    return scored.select(
        F.col("__id").alias(id_col),
        F.round(-u_sum / F.lit(1e6) + F.lit(10.0 ** -(round_dp + 5)),
                round_dp).cast("double").alias("hbos"))
