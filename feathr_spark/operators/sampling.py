"""Deterministic corpus-sampling operators for training-data pipelines.

All randomness is md5-of-id based — no RNG state, so every engine (and the
DuckDB oracle) derives the identical sample, and re-runs at 100 TB are
reproducible without seed plumbing. md5 hex is lowercase in both Spark and
DuckDB, so order/threshold comparisons agree byte-for-byte.

Scale notes: quota_sample is one window (single shuffle on the group
column; skew = biggest group's rows in one partition — cap small groups or
pre-filter first); hash_split is a pure narrow projection (zero shuffles).
"""

from __future__ import annotations

from typing import Dict, Sequence

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F


def sample_key(id_col: Column, salt: str = "") -> Column:
    """Deterministic pseudo-random sort key: md5 of salt + id."""
    return F.md5(F.concat(F.lit(salt), id_col.cast("string")))


def quota_sample(df: DataFrame, group_col: str, cap: int,
                 id_col: str = "doc_id", salt: str = "") -> DataFrame:
    """Keep at most ``cap`` rows per group, chosen uniformly-at-"random"
    (deterministic md5 order) — the domain-rebalancing step that stops one
    crawl source from dominating a training mix. One window over a single
    shuffle on ``group_col``."""
    w = Window.partitionBy(group_col).orderBy(
        sample_key(F.col(id_col), salt), F.col(id_col))
    return (df.withColumn("__rk", F.row_number().over(w))
            .where(F.col("__rk") <= cap)
            .drop("__rk"))


def split_expr(id_col: Column, fractions: Dict[str, float],
               salt: str = "") -> Column:
    """The :func:`hash_split` assignment as a pure COLUMN expression —
    split is a function of the id alone, so any operator can recompute
    it in place (e.g. on a pair frame's two id columns) instead of
    joining a split table: zero extra shuffle at any scale."""
    total = sum(fractions.values())
    assert abs(total - 1.0) < 1e-9, f"fractions must sum to 1, got {total}"
    key = F.substring(sample_key(id_col, salt), 1, 4)
    expr = None
    cum = 0.0
    items = list(fractions.items())
    for name, frac in items[:-1]:
        cum += frac
        thr = format(int(cum * 65536), "04x")
        cond = key < F.lit(thr)
        expr = F.when(cond, name) if expr is None else expr.when(cond, name)
    last = items[-1][0]
    return F.lit(last) if expr is None else expr.otherwise(last)


def hash_split(df: DataFrame, fractions: Dict[str, float],
               id_col: str = "doc_id", salt: str = "") -> DataFrame:
    """Assign a stable ``split`` label (train/val/test...) per row from the
    first 4 md5 hex chars (65536 buckets): fractions map to cumulative
    hex thresholds, compared as strings. Zero shuffles, stable under
    re-partitioning, resampling-free on incremental data."""
    return df.withColumn("split",
                         split_expr(F.col(id_col), fractions, salt))


def split_thresholds_sql(fractions: Dict[str, float]) -> str:
    """The CASE expression a SQL oracle needs to mirror ``hash_split``
    (same 4-hex-char buckets and thresholds) given column ``__sk`` =
    substr(md5(id),1,4)."""
    items = list(fractions.items())
    parts, cum = [], 0.0
    for name, frac in items[:-1]:
        cum += frac
        parts.append(f"WHEN __sk < '{format(int(cum * 65536), '04x')}' "
                     f"THEN '{name}'")
    return "CASE " + " ".join(parts) + f" ELSE '{items[-1][0]}' END"


def weighted_sample(df: DataFrame, weight_col: str,
                    id_col: str = "doc_id", salt: str = "",
                    scale: float = 1.0) -> DataFrame:
    """Deterministic Poisson-style weighted sampling: keep each row with
    probability ``min(1, weight * scale)``, decided by comparing the
    row's md5-derived uniform draw against its own inclusion
    probability — per-row, zero shuffle, no RNG state, and reproducible
    across engines/cluster sizes (the same discipline as
    :func:`hash_split`; quality-score-weighted corpus downsampling is
    the canonical use).

    The uniform draw is the first 15 hex digits of md5(salt + id) mapped
    to [0, 1) — identical to the oracle's SQL expression, so inclusion
    decisions are bit-reproducible.
    """
    draw = (F.conv(F.substring(sample_key(F.col(id_col), salt), 1, 15),
                   16, 10).cast("double") / F.lit(float(16 ** 15)))
    p = F.least(F.col(weight_col).cast("double") * F.lit(float(scale)),
                F.lit(1.0))
    return df.where(draw < p)


def negative_sample(df: DataFrame, left_col: str, right_col: str,
                    k: int = 4, salt: str = "") -> DataFrame:
    """Deterministic negative sampling: for every distinct ``left`` value,
    draw ``k`` pseudo-random ``right`` values from the observed right
    domain and keep those NOT observed with that left — the standard
    negative-pair generator for contrastive / recommendation training,
    with md5 draws instead of RNG state so the sample is bit-reproducible
    across engines and cluster sizes.

    Plan shape: the right domain is ranked once (a dimension-sized
    single-partition sort — rights are items/labels/types, not events)
    and broadcast twice (index lookup + count); the left side fans out
    only k rows per DISTINCT left; the observed-pair anti-join runs on
    the (left, right) key. Draws that collide with a positive or with
    each other are DROPPED, not redrawn (keeps the operator one-pass;
    with k << |rights| the loss is small and unbiased).

    Output: (left, right, draw) — ``draw`` is the 0-based draw index
    that produced the pair.
    """
    from pyspark.sql import Window

    lefts = df.select(F.col(left_col).alias("__l")).distinct()
    rights = (df.select(F.col(right_col).alias("__r")).distinct()
              .withColumn("__idx",
                          F.row_number().over(
                              Window.partitionBy().orderBy("__r")) - 1))
    n_r = rights.groupBy().agg(F.count("*").alias("__nr"))
    draws = (lefts.crossJoin(F.broadcast(n_r))
             .select("__l", "__nr",
                     F.explode(F.sequence(F.lit(0), F.lit(int(k) - 1)))
                     .alias("draw")))
    idx = F.pmod(
        F.conv(F.substring(
            F.md5(F.concat(F.lit(salt), F.col("__l").cast("string"),
                           F.lit(":"), F.col("draw").cast("string"))),
            1, 15), 16, 10).cast("bigint"),
        F.col("__nr"))
    cand = (draws.withColumn("__idx", idx)
            .join(F.broadcast(rights), "__idx")
            .groupBy("__l", "__r")
            .agg(F.min("draw").cast("bigint").alias("draw")))
    pos = df.select(F.col(left_col).alias("__l"),
                    F.col(right_col).alias("__r")).distinct()
    return (cand.join(pos, ["__l", "__r"], "left_anti")
            .select(F.col("__l").alias(left_col),
                    F.col("__r").alias(right_col), "draw"))


def stratified_sample(df: DataFrame, strata_cols: Sequence[str],
                      fractions, id_col: str = "doc_id",
                      salt: str = "") -> DataFrame:
    """Deterministic stratified FRACTIONAL sampling: keep each row with
    its stratum's probability, decided by the row's md5-derived uniform
    draw (same 15-hex-digit contract as :func:`weighted_sample`) — the
    per-stratum complement to :func:`quota_sample`'s hard cap, e.g.
    "keep 5% of web but 100% of books" corpus mixing by rate instead of
    count.

    ``fractions`` is either a single float (uniform downsample) or a
    dict mapping a stratum KEY to its rate, where the key is the value
    of ``strata_cols[0]`` for a single column or the tuple of values
    for several. Strata absent from the dict fall back to ``default``
    (0.0 — drop, the explicit-domain discipline: an unexpected stratum
    should vanish loudly in counts, not silently pass through).

    Zero shuffle, zero stats pass (the rate table compiles to a literal
    CASE over the strata columns); bit-reproducible across engines and
    cluster sizes. NULL stratum values never match a dict key and take
    the default.
    """
    keys = list(strata_cols)
    if not keys:
        raise ValueError("stratified_sample: strata_cols must be non-empty")
    draw = (F.conv(F.substring(sample_key(F.col(id_col), salt), 1, 15),
                   16, 10).cast("double") / F.lit(float(16 ** 15)))
    if isinstance(fractions, (int, float)):
        p = F.lit(float(fractions))
    else:
        expr = None
        for k, frac in fractions.items():
            kt = k if isinstance(k, tuple) else (k,)
            if len(kt) != len(keys):
                raise ValueError(
                    f"stratified_sample: key {k!r} does not match "
                    f"{len(keys)} strata column(s)")
            cond = F.lit(True)
            for c, v in zip(keys, kt):
                cond = cond & (F.col(c) == F.lit(v))
            expr = (F.when(cond, float(frac)) if expr is None
                    else expr.when(cond, float(frac)))
        p = expr.otherwise(F.lit(0.0)) if expr is not None else F.lit(0.0)
    return df.where(draw < p)


def kfold_assign(df: DataFrame, k: int = 5, id_col: str = "doc_id",
                 salt: str = "") -> DataFrame:
    """Deterministic k-fold assignment: ``fold`` in [0, k) from the
    row's md5 draw — the cross-validation companion to
    :func:`hash_split` with the same contract (zero shuffle, stable
    under repartitioning, incremental data lands in folds without
    reshuffling history). Adds ``fold`` (int)."""
    if k < 2:
        raise ValueError("kfold_assign: k must be >= 2")
    bucket = F.conv(F.substring(sample_key(F.col(id_col), salt), 1, 15),
                    16, 10).cast("bigint") % F.lit(int(k))
    return df.withColumn("fold", bucket.cast("int"))


def time_split(df: DataFrame, ts_col: str, cutoff,
               embargo_s: int = 0) -> DataFrame:
    """Temporal train/test split with an optional EMBARGO gap: rows
    strictly before ``cutoff − embargo`` are ``train``, rows at/after
    ``cutoff`` are ``test``, and rows inside the embargo window get
    NULL (excluded from both) — the leakage guard for autocorrelated
    data, where a sample just before the cutoff leaks near-future
    information into training (the purged split of financial ML).

    Row-local, zero shuffle. ``cutoff`` is an ISO timestamp string or
    datetime. Adds ``split`` (train / test / NULL).
    """
    if embargo_s < 0:
        raise ValueError("time_split: embargo_s must be >= 0")
    cut = F.lit(str(cutoff)).cast("timestamp")
    ts = F.col(ts_col).cast("timestamp")
    lo = cut - F.expr(f"INTERVAL {int(embargo_s)} SECOND")
    split = (F.when(ts < lo, "train")
             .when(ts >= cut, "test")
             .otherwise(F.lit(None).cast("string")))
    return df.withColumn("split", split)


# cumulative Poisson(1) probabilities P(X <= k); the CASE ladder below is
# written with these exact literals on BOTH engines so every row's
# multiplicity is bit-identical whichever side evaluates it
_POISSON1_CDF = [
    0.36787944117144233, 0.7357588823428847, 0.9196986029286058,
    0.9810118431238462, 0.9963401531726563, 0.9994058151824183,
    0.9999167588507119, 0.9999897508033253,
]


def poisson_bootstrap_ci(
    df: DataFrame,
    value_col: str,
    id_col: str,
    n_boot: int = 32,
    lo: float = 0.025,
    hi: float = 0.975,
    salt: str = "",
) -> DataFrame:
    """Percentile bootstrap confidence interval for the MEAN of
    ``value_col``, web-scale formulation (Poisson bootstrap): instead
    of materializing B resamples, each row draws an independent
    Poisson(1) multiplicity per replicate from a deterministic
    md5-derived uniform (inverse-CDF CASE ladder — no RNG state, bit-
    reproducible on any engine/cluster).

    Plan: explode ``n_boot`` replicate ids per row, map-side partial
    aggregation collapses to ``n_boot`` rows per task BEFORE the
    exchange, so the shuffle is B-bounded however large the table; the
    replicate means and the percentile fold are B-sized. Sums
    accumulate in DECIMAL so replicate means are exact
    (order-independent) and the CI is bit-stable at any parallelism.

    Hashing cost is amortized 4x: one md5 per (row, chunk-of-4
    replicates), each replicate reading its own 8-hex lane (32-bit
    uniforms — the CASE thresholds differ by >= 1e-5, three orders
    above the 2.3e-10 lane resolution). Replicate b uses chunk b//4,
    lane b%4 of ``md5(salt + id + ':' + chunk)``.

    The two-narrow-column (id, value) projection is repartitioned to the
    configured parallelism before the replicate fan-out: the downstream
    work is ``n_boot/4`` hashes plus ``n_boot`` inverse-CDF ladder
    evaluations PER INPUT ROW, so when the input arrives in few
    partitions (one small parquet file locally; a coalesced upstream)
    the spread is the difference between a single-task pipeline and
    cluster-wide execution (measured 9.2 s -> 1.5 s at sf0.1
    local[32]). That projection shuffle is the only data-sized exchange
    in the operator.

    Output: 1 row ``(n, n_boot, mean, ci_lo, ci_hi)``.
    """
    if n_boot < 2:
        raise ValueError("poisson_bootstrap_ci: n_boot must be >= 2")
    n_chunks = (n_boot + 3) // 4
    d0 = (df.where(F.col(value_col).isNotNull())
            .select(F.col(id_col).cast("string").alias("__id"),
                    F.col(value_col).cast("decimal(18,4)").alias("__x")))
    # base stats fold off the UN-spread projection (a plain scan-agg
    # gains nothing from the fan-out); only the replicate path pays it
    d = d0.repartition(int(df.sparkSession.conf.get(
        "spark.sql.shuffle.partitions", "32")))
    chunk = d.select(
        "__x",
        F.explode(F.sequence(F.lit(0), F.lit(n_chunks - 1)))
        .alias("__c"),
        F.md5(F.concat(F.lit(salt), F.col("__id"), F.lit(":"),
                       F.col("__c").cast("string"))).alias("__h"))
    rep = (chunk.select(
        "__x", "__h", "__c",
        F.explode(F.sequence(F.lit(0), F.lit(3))).alias("__lane"))
        .withColumn("__b", F.col("__c") * 4 + F.col("__lane"))
        .where(F.col("__b") < n_boot))
    lane_pos = F.col("__lane") * 8 + 1
    u = (F.conv(F.substring(F.col("__h"), lane_pos, 8), 16, 10)
         .cast("double") / F.lit(float(16 ** 8)))
    mult = F.lit(8)
    for kk in range(len(_POISSON1_CDF) - 1, -1, -1):
        mult = F.when(u < _POISSON1_CDF[kk], F.lit(kk)).otherwise(mult)
    means = (rep.select("__b", "__x", mult.alias("__m"))
             .groupBy("__b")
             .agg(F.sum(F.col("__m").cast("decimal(18,4)")
                        * F.col("__x")).alias("__s"),
                  F.sum("__m").alias("__w"))
             .select((F.col("__s").cast("double")
                      / F.col("__w").cast("double")).alias("__mean")))
    base = d0.agg(F.count(F.lit(1)).alias("__n"),
                 F.sum("__x").alias("__sx"))
    ci = means.agg(
        F.expr(f"percentile(__mean, array({lo!r}, {hi!r}))").alias("__q"))
    out = base.crossJoin(F.broadcast(ci))
    return out.select(
        F.col("__n").cast("bigint").alias("n"),
        F.lit(n_boot).cast("bigint").alias("n_boot"),
        (F.col("__sx").cast("double") / F.col("__n")).cast("double")
        .alias("mean"),
        F.col("__q")[0].cast("double").alias("ci_lo"),
        F.col("__q")[1].cast("double").alias("ci_hi"))


def reservoir_sample(
    df: DataFrame,
    k: int,
    id_col: str = "doc_id",
    weight_col: str = None,
    salt: str = "",
) -> DataFrame:
    """Fixed-size-k uniform (or weighted) sample without replacement —
    the distributed equivalent of reservoir sampling, as deterministic
    bottom-k selection on an md5-derived key.

    Unweighted: keep the k rows with the smallest uniform draw.
    Weighted (Efraimidis-Spirakis A-ES): key = -ln(u)/w — the k
    smallest keys are a weighted sample without replacement with
    inclusion probability proportional to weight.

    Plan: the selection is ``ORDER BY key LIMIT k`` — Spark compiles it
    to TakeOrderedAndProject (per-partition k-heaps, no global sort),
    so the operator ships at most k rows per task whatever the table
    size. No RNG state: the same (salt, id) always draws the same key,
    so the sample is bit-reproducible across engines and re-runs
    (the hash_split/weighted_sample discipline).
    """
    if k < 1:
        raise ValueError("reservoir_sample: k must be >= 1")
    u = (F.conv(F.substring(sample_key(F.col(id_col), salt), 1, 15),
                16, 10).cast("double") / F.lit(float(16 ** 15)))
    u = F.greatest(u, F.lit(1e-18))  # md5 prefix of all zeros
    base = df
    if weight_col is None:
        key = u
    else:
        w = F.col(weight_col).cast("double")
        base = df.where(w.isNotNull() & (w > 0))
        key = -F.log(u) / w
    return (base.withColumn("__rk", key)
            .orderBy(F.col("__rk").asc())
            .limit(k)
            .drop("__rk"))


def shard_shuffle(df: DataFrame, n_shards: int = 64,
                  id_col: str = "doc_id", salt: str = "") -> DataFrame:
    """The training-export global shuffle: assign every row a shard and
    a position such that reading shards in (shard, pos) order replays
    ONE deterministic pseudo-random permutation of the corpus — the
    last step before a corpus ships to the trainer, where "order" must
    be random-looking, reproducible, and resumable (shard+pos IS the
    checkpoint cursor; re-deal per epoch via ``salt``).

    shard = first 15 md5 hex digits of the salted id mod ``n_shards``
    (the same engine-portable draw as :func:`weighted_sample`), pos =
    rank within the shard by (md5 key, id). Shard sizes concentrate
    tightly around n/n_shards (multinomial), so no shard becomes a
    straggler.

    ONE keyed shuffle: a window partitioned by shard, sorted in-partition
    by the md5 key — never a global row_number (a single-partition sort
    cannot ship 100 TB). At scale set ``n_shards`` >= cluster cores so
    every sort fits one task; the output is exactly what
    ``partitionBy("shard")`` writers consume.

    Output: input columns + (shard, pos).
    """
    if n_shards <= 0:
        raise ValueError("shard_shuffle: n_shards must be > 0")
    key = sample_key(F.col(id_col), salt)
    d = df.withColumn("__sk", key).withColumn(
        "shard",
        F.pmod(F.conv(F.substring("__sk", 1, 15), 16, 10).cast("bigint"),
               F.lit(int(n_shards))).cast("bigint"))
    w = Window.partitionBy("shard").orderBy(F.col("__sk"),
                                            F.col(id_col))
    return (d.withColumn("pos",
                         F.row_number().over(w).cast("bigint"))
            .drop("__sk"))


def forward_label(
    df: DataFrame,
    key_cols: Sequence[str],
    ts_col: str,
    horizon_s: int,
    id_col: str = "event_id",
) -> DataFrame:
    """Leakage-safe future-window label generation — the complement of
    the backward point-in-time windows: for each row, did the SAME key
    produce another event within ``(t, t + horizon]``? This is the
    standard churn/retention/conversion label factory, with the two
    leakage traps handled structurally:

    * the label looks only FORWARD (a backward window here would be the
      classic target-leak);
    * rows whose horizon extends past the corpus watermark (max ts)
      cannot observe a full window (``observable = false``). A
      within-horizon next event still labels them TRUE — the positive
      outcome was observed — but absence of one yields NULL, never a
      fake negative (right-censoring, the kaplan_meier lesson:
      treating censored rows as negatives biases every downstream
      model toward churn).

    One per-key window (lead) + a 1-row watermark broadcast; gaps are
    exact integer milliseconds. Output: ``id_col`` + key_cols +
    (ts_ms, gap_ms, label, observable).
    """
    keys = list(key_cols)
    if not keys:
        raise ValueError("forward_label: need at least one key column")
    if horizon_s <= 0:
        raise ValueError("forward_label: horizon_s must be positive")
    from pyspark.sql import Window
    ts = F.unix_millis(F.col(ts_col).cast("timestamp"))
    base = df.select(F.col(id_col).alias("__id"), *keys,
                     ts.alias("__ts"))
    wm = base.agg(F.max("__ts").alias("__wm"))
    w = Window.partitionBy(*keys).orderBy(F.col("__ts").asc(),
                                          F.col("__id").asc())
    nxt = F.lead("__ts", 1).over(w)
    h_ms = F.lit(int(horizon_s) * 1000)
    staged = (base.withColumn("__next", nxt)
              .crossJoin(F.broadcast(wm)))
    observable = (F.col("__ts") + h_ms) <= F.col("__wm")
    gap = F.col("__next") - F.col("__ts")
    label = (F.when(gap <= h_ms, F.lit(True))
             .when(observable, F.lit(False))
             .otherwise(F.lit(None).cast("boolean")))
    return staged.select(
        F.col("__id").alias(id_col), *keys,
        F.col("__ts").alias("ts_ms"),
        gap.cast("bigint").alias("gap_ms"),
        label.alias("label"),
        observable.alias("observable"))


def nested_thresholds(fractions) -> list:
    """(fraction, integer threshold) pairs for :func:`nested_subsets` —
    thresholds live on the md5 15-hex-digit integer scale (2^60), so
    membership tests are pure integer comparisons with NO float math
    anywhere; a SQL oracle embeds the identical literals."""
    return [(float(f), int(round(float(f) * 16 ** 15)))
            for f in sorted(float(f) for f in fractions)]


def nested_subsets(df: DataFrame, fractions, id_col: str = "doc_id",
                   salt: str = "") -> DataFrame:
    """Nested deterministic corpus subsets — the scaling-law/ablation
    ladder: ``min_subset`` is the SMALLEST fraction whose subset
    contains the row, and because every fraction tests the SAME md5
    draw against a larger threshold, subset(f₁) ⊆ subset(f₂) for
    f₁ < f₂ BY CONSTRUCTION. Training curves at different corpus sizes
    stay comparable because the smaller corpus is literally contained
    in the larger — the property independent per-fraction sampling
    destroys. Rows outside the largest fraction get NULL.

    Row-local (zero shuffle, repartition-stable, incremental-data-
    stable like :func:`hash_split`); integer-threshold membership is
    bit-reproducible across engines.
    """
    key_int = F.conv(F.substring(sample_key(F.col(id_col), salt),
                                 1, 15), 16, 10).cast("bigint")
    expr = F.lit(None).cast("double")
    for f, thr in reversed(nested_thresholds(fractions)):
        expr = F.when(key_int < F.lit(thr), F.lit(f)).otherwise(expr)
    return df.withColumn("min_subset", expr)
