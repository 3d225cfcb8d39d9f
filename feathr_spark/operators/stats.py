"""Experiment statistics: Welch's two-sample t and ROC-AUC readouts.

The A/B readout every event-analytics platform ships. One aggregate pass
computes each variant's exact decimal moments (the same bit-stable
discipline as profile_numeric/standardize); the t statistic and
Welch–Satterthwaite degrees of freedom are scalar arithmetic on the tiny
per-variant frame. No p-value column on purpose: neither engine exposes
the t CDF portably — consumers threshold |t| (|t| > 1.96 ≈ 5% for the
df's this targets) or feed t/df to scipy driver-side.

``roc_auc`` is the scorer-quality companion: exact AUC (the Mann–Whitney
probability that a random positive outscores a random negative, ties at
half credit) WITHOUT the global sort the textbook rank formula implies —
see its docstring for the bucketed distributed-cumsum plan.
"""
from __future__ import annotations

import math
from typing import Optional, Sequence

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F


def ab_welch_t(
    df: DataFrame,
    group_col: str,
    metric_col: str,
    control: str,
    treatment: str,
) -> DataFrame:
    """Welch's unequal-variance t-test between two variants.

    Output (one row): n/mean/std per variant (sample std, ddof=1),
    ``mean_diff`` (treatment − control), ``t_stat`` and ``welch_df``.
    Groups need n ≥ 2 and non-zero variance in at least one arm, else
    the t columns are NULL. The metric frame is scanned ONCE (two
    filtered aggregate sets side by side — no per-variant jobs).
    """
    d = F.col(metric_col).cast("decimal(28,8)")

    def side(tag, value):
        cond = F.col(group_col) == F.lit(value)
        return [
            F.count(F.when(cond, F.col(metric_col))).alias(f"__n_{tag}"),
            F.sum(F.when(cond, d)).alias(f"__s_{tag}"),
            F.sum(F.when(cond, d * d)).alias(f"__ss_{tag}"),
        ]

    stats = df.agg(*(side("c", control) + side("t", treatment)))

    def derived(tag):
        n = F.col(f"__n_{tag}").cast("double")
        s = F.col(f"__s_{tag}").cast("double")
        ss = F.col(f"__ss_{tag}").cast("double")
        mean = s / n
        var = F.when(n > 1, (ss - s * s / n) / (n - 1))
        return n, mean, var

    nc, mc, vc = derived("c")
    nt, mt, vt = derived("t")
    se2 = vc / nc + vt / nt
    t = F.when(se2 > 0, (mt - mc) / F.sqrt(se2))
    dfree = F.when(
        se2 > 0,
        (se2 * se2) / ((vc / nc) * (vc / nc) / (nc - 1)
                       + (vt / nt) * (vt / nt) / (nt - 1)))
    return stats.select(
        F.lit(control).alias("control"),
        F.lit(treatment).alias("treatment"),
        F.col("__n_c").cast("bigint").alias("n_control"),
        F.col("__n_t").cast("bigint").alias("n_treatment"),
        mc.alias("mean_control"),
        mt.alias("mean_treatment"),
        F.sqrt(vc).alias("std_control"),
        F.sqrt(vt).alias("std_treatment"),
        (mt - mc).alias("mean_diff"),
        t.alias("t_stat"),
        dfree.alias("welch_df"))


def roc_auc(
    df: DataFrame,
    label_col: str,
    score_col: str,
    by: Optional[Sequence[str]] = None,
    buckets: int = 64,
) -> DataFrame:
    """Exact ROC-AUC of ``score_col`` against boolean ``label_col``,
    optionally per group: the Mann–Whitney statistic
    P(score_pos > score_neg) + 0.5 * P(score_pos = score_neg).

    Distributed-cumsum plan — NO global sort (the textbook rank formula
    sorts the whole table into one task):

    1. collapse to per-distinct-score (pos_n, neg_n) counts — the only
       data-sized shuffle;
    2. assign each distinct score an order-preserving equal-width range
       bucket from a broadcast min/max frame;
    3. per-bucket negative totals (a buckets-sized frame) turn into
       running prefix offsets with a window over that TINY frame;
    4. negatives strictly below each score = within-bucket running sum
       (window partitioned by bucket — parallel across buckets) + the
       bucket's offset; pair credit = pos_n * (neg_below + 0.5 *
       neg_at_this_score);
    5. AUC = total credit / (P * N).

    Rows with NULL label or NULL score are excluded. Degenerate groups
    (no positives or no negatives) get NULL auc. Output per group:
    (by..., auc, n_pos, n_neg). Exact — buckets only partition the
    cumsum, they never quantize scores.

    The per-group bounds and prefix-offset frames are force-broadcast:
    they are |groups|- and |groups|×buckets-sized, small for the usual
    few-arm grouping (a ``by`` of millions of groups would not fit the
    driver).
    """
    if buckets < 1:
        raise ValueError("roc_auc: buckets must be >= 1")
    keys = list(by or [])
    lab, sc = F.col(label_col), F.col(score_col).cast("double")
    d = (df.where(lab.isNotNull() & sc.isNotNull())
           .select(*keys, lab.cast("boolean").alias("__y"),
                   sc.alias("__s")))
    # 1. per-distinct-score counts (pos/neg at that exact score)
    s = (d.groupBy(*keys, "__s")
          .agg(F.count_if(F.col("__y")).alias("__p"),
               F.count_if(~F.col("__y")).alias("__n")))
    # 2. order-preserving range bucket from broadcast per-group bounds
    bounds = s.groupBy(*keys).agg(F.min("__s").alias("__lo"),
                                  F.max("__s").alias("__hi"))
    if keys:
        sb = s.join(F.broadcast(bounds), keys)
    else:
        sb = s.crossJoin(F.broadcast(bounds))
    lo, hi = F.col("__lo"), F.col("__hi")
    width = (hi - lo) / F.lit(int(buckets))
    bkt = (F.when(hi == lo, F.lit(0))
           .otherwise(F.least(F.floor((F.col("__s") - lo) / width),
                              F.lit(int(buckets) - 1)))).cast("bigint")
    sb = sb.select(*keys, "__s", "__p", "__n", bkt.alias("__b"))
    # 3. per-bucket totals -> prefix offsets (buckets-sized frame; the
    # __g constant keeps the window partitioned-by-construction for the
    # global case — the frame is <= `buckets` rows per group either way)
    g = F.lit(0).alias("__g")
    bt = sb.groupBy(*keys, g, "__b").agg(F.sum("__n").alias("__bn"),
                                         F.sum("__p").alias("__bp"))
    woff = Window.partitionBy(*(keys or ["__g"])).orderBy("__b") \
        .rowsBetween(Window.unboundedPreceding, -1)
    wtot = Window.partitionBy(*(keys or ["__g"]))
    offs = bt.select(
        *keys, "__b",
        F.coalesce(F.sum("__bn").over(woff), F.lit(0)).alias("__off"),
        F.sum("__bn").over(wtot).alias("__tn"),
        F.sum("__bp").over(wtot).alias("__tp"))
    # 4. within-bucket running negatives (parallel across buckets)
    wrun = Window.partitionBy(*keys, "__b").orderBy("__s") \
        .rowsBetween(Window.unboundedPreceding, -1)
    scored = (sb.join(F.broadcast(offs), keys + ["__b"])
              .select(*keys, "__tp", "__tn",
                      (F.col("__p").cast("double") *
                       (F.coalesce(F.sum("__n").over(wrun), F.lit(0))
                        + F.col("__off")
                        + 0.5 * F.col("__n"))).alias("__credit")))
    # 5. fold per group
    out = (scored.groupBy(*keys)
           .agg(F.sum("__credit").alias("__c"),
                F.first("__tp").alias("__tp"),
                F.first("__tn").alias("__tn")))
    auc = F.when((F.col("__tp") > 0) & (F.col("__tn") > 0),
                 F.col("__c") / (F.col("__tp") * F.col("__tn")))
    return out.select(*keys, auc.alias("auc"),
                      F.col("__tp").cast("bigint").alias("n_pos"),
                      F.col("__tn").cast("bigint").alias("n_neg"))


def cohens_kappa(
    df: DataFrame,
    rater_a: str,
    rater_b: str,
    by: Optional[Sequence[str]] = None,
) -> DataFrame:
    """Cohen's kappa between two label columns — chance-corrected
    inter-annotator agreement, the annotation-QA readout for labeled
    training data: ``kappa = (p_o − p_e) / (1 − p_e)`` with ``p_o`` the
    observed agreement rate and ``p_e`` the chance rate from the two
    raters' marginals.

    One groupBy((keys), a, b) pass builds the contingency table (the
    only data-sized shuffle; everything after is classes²-sized);
    marginals come from window sums over that small frame. Rows where
    either label is NULL are excluded. Perfect agreement on a single
    label class has ``p_e = 1`` → NULL kappa (undefined, not 1.0).

    Output per group: (by..., n, po, pe, kappa).
    """
    keys = list(by or [])
    a, b = F.col(rater_a), F.col(rater_b)
    d = (df.where(a.isNotNull() & b.isNotNull())
           .select(*keys, a.cast("string").alias("__a"),
                   b.cast("string").alias("__b")))
    # contingency table: the only data-sized shuffle — fans out into
    # the marginals and the totals below, persist against recompute
    cont = (d.groupBy(*keys, "__a", "__b")
            .agg(F.count("*").alias("__n")).persist())
    # pe needs per-CLASS marginals (na_c/n)(nb_c/n) even for classes
    # one rater never uses — full-outer join of the two marginal frames
    cls = (cont.select(*keys, F.col("__a").alias("__c"), "__n")
           .groupBy(*keys, "__c").agg(F.sum("__n").alias("__na"))
           .join(cont.select(*keys, F.col("__b").alias("__c"), "__n")
                 .groupBy(*keys, "__c").agg(F.sum("__n").alias("__nb")),
                 keys + ["__c"], "full_outer")
           .select(*keys,
                   F.coalesce("__na", F.lit(0)).alias("__na"),
                   F.coalesce("__nb", F.lit(0)).alias("__nb")))
    tot = cont.groupBy(*keys).agg(
        F.sum("__n").alias("__N"),
        F.sum(F.when(F.col("__a") == F.col("__b"), F.col("__n"))
              .otherwise(F.lit(0))).alias("__agree"))
    pe_f = (cls.join(tot, keys) if keys
            else cls.crossJoin(F.broadcast(tot)))
    pe_rows = pe_f.groupBy(*keys).agg(
        F.sum(F.col("__na").cast("double") * F.col("__nb")
              / (F.col("__N").cast("double") * F.col("__N")))
        .alias("__pe"),
        F.first("__N").alias("__N"), F.first("__agree").alias("__agree"))
    po = F.col("__agree").cast("double") / F.col("__N")
    pe = F.col("__pe")
    kappa = F.when(pe < 1.0, (po - pe) / (1.0 - pe))
    return pe_rows.select(
        *keys, F.col("__N").cast("bigint").alias("n"),
        po.alias("po"), pe.alias("pe"), kappa.alias("kappa"))


def calibration_report(
    df: DataFrame,
    label_col: str,
    prob_col: str,
    bins: int = 10,
    summary: bool = False,
) -> DataFrame:
    """Reliability diagram + Brier score for a probabilistic scorer:
    bin predicted probabilities into ``bins`` equal-width buckets over
    [0, 1] (closed upper edge, the ``profile.histogram`` convention),
    and per bucket report the mean predicted probability against the
    observed positive rate — a calibrated scorer sits on the diagonal.

    ONE aggregate pass: the bucket groupBy carries (count, positives,
    sum p, sum (p-y)^2) partials, so the shuffle ships at most ``bins``
    rows per partition whatever the data size; the grid (empty buckets
    included) and the Brier fold are bins-sized. Probabilities outside
    [0, 1] raise at runtime via a guarded bucket (they indicate a
    scorer bug, not drift); NULL label or prob rows are excluded.

    Output: (bucket, p_lo, p_hi, n, mean_pred, pos_rate, gap) where
    ``gap = pos_rate - mean_pred``; empty buckets have NULL rates.
    With ``summary=True``: one row (n, brier, ece) — Brier = mean
    squared error of p vs y, ECE = expected calibration error
    (count-weighted mean |gap|).
    """
    if bins <= 0:
        raise ValueError("calibration_report: bins must be positive")
    y = F.col(label_col).cast("boolean")
    p = F.col(prob_col).cast("double")
    d = (df.where(y.isNotNull() & p.isNotNull())
           .select(y.cast("int").alias("__y"), p.alias("__p")))
    idx = (F.when((F.col("__p") < 0) | (F.col("__p") > 1),
                  F.raise_error(F.lit(
                      f"calibration_report: {prob_col} outside [0, 1]")))
           .otherwise(F.least(F.floor(F.col("__p") * bins),
                              F.lit(int(bins) - 1)))).cast("bigint")
    # decimal partials: double summation is order-dependent, and the
    # same frame must hash identically across partitionings/engines
    # (profile.py discipline) — p quantizes to 10 dp first, so the sums
    # are exact and associative
    pd_ = F.col("__p").cast("decimal(20,10)")
    err = pd_ - F.col("__y").cast("decimal(20,10)")
    counts = (d.select(idx.alias("__b"), "__y", "__p")
              .groupBy("__b")
              .agg(F.count("*").alias("__n"),
                   F.sum("__y").alias("__pos"),
                   F.sum(pd_).alias("__sp"),
                   F.sum((err * err).cast("decimal(30,20)"))
                   .alias("__se")))
    if summary:
        tot = counts.agg(F.sum("__n").alias("__N"),
                         F.sum("__se").alias("__SE"),
                         F.sum(F.abs(F.col("__pos") - F.col("__sp")))
                         .alias("__AE"))
        return tot.select(
            F.col("__N").cast("bigint").alias("n"),
            F.when(F.col("__N") > 0, F.col("__SE") / F.col("__N"))
            .cast("double").alias("brier"),
            F.when(F.col("__N") > 0, F.col("__AE") / F.col("__N"))
            .cast("double").alias("ece"))
    grid = df.sparkSession.range(int(bins)).select(
        F.col("id").cast("bigint").alias("bucket"))
    out = grid.join(counts, grid.bucket == counts.__b, "left")
    n = F.coalesce(F.col("__n"), F.lit(0))
    return out.select(
        "bucket",
        (F.col("bucket") / bins).alias("p_lo"),
        ((F.col("bucket") + 1) / bins).alias("p_hi"),
        n.cast("bigint").alias("n"),
        F.when(n > 0, F.col("__sp") / n).cast("double").alias("mean_pred"),
        F.when(n > 0, F.col("__pos") / n).cast("double").alias("pos_rate"),
        F.when(n > 0, (F.col("__pos") - F.col("__sp")) / n)
        .cast("double").alias("gap"))


def entropy_by(
    df: DataFrame,
    key_col: str,
    cat_col: str,
    base2: bool = True,
    round_dp: int = 4,
) -> DataFrame:
    """Shannon entropy of the ``cat_col`` distribution per ``key_col`` —
    the diversity readout behind per-user behavioral profiling and
    per-source corpus mix monitoring (a user who only ever fires one
    event type has entropy 0; uniform over k types, log k).

    Plan: two cascaded aggregations, never a window. The identity
    H = log n − (Σ c·log c)/n over the per-(key, cat) counts lets the
    second aggregate consume only the first's output — the (key, cat)
    count shuffle is the data-sized one, the per-key fold is
    category-bounded. A window formulation (count / sum-over-key) would
    add a third exchange and a per-key sort; this shape is exactly two
    shuffles with map-side partial aggregation on both.

    Output: (``key_col``, n, n_cats, entropy), entropy in bits by
    default (``base2=False`` for nats).
    """
    counts = (df.where(F.col(cat_col).isNotNull())
              .groupBy(key_col, cat_col)
              .agg(F.count("*").alias("__c")))
    c = F.col("__c").cast("double")
    folded = counts.groupBy(key_col).agg(
        F.sum("__c").alias("__n"),
        F.count("*").alias("__k"),
        F.sum(c * F.log(c)).alias("__clnc"))
    n = F.col("__n").cast("double")
    ent_nats = F.when(n > 0, F.log(n) - F.col("__clnc") / n) \
        .otherwise(F.lit(0.0))
    ent = ent_nats / F.lit(math.log(2)) if base2 else ent_nats
    return folded.select(
        F.col(key_col),
        F.col("__n").cast("bigint").alias("n"),
        F.col("__k").cast("bigint").alias("n_cats"),
        F.round(ent, round_dp).cast("double").alias("entropy"))


def gini_by(
    df: DataFrame,
    key_col: str,
    value_col: str,
    id_col: str,
    round_dp: int = 4,
) -> DataFrame:
    """Gini coefficient of non-negative ``value_col`` per ``key_col``
    group (0 = perfectly equal, →1 = concentrated) — the inequality
    readout for revenue/usage concentration dashboards.

    Uses the rank identity G = (2·Σ i·xᵢ)/(n·Σ xᵢ) − (n+1)/n over
    values sorted ascending within each group. The rank window is
    PARTITIONED by the group key — per-group parallel sort, never a
    global one — and ties order deterministically by ``id_col`` (the
    identity is tie-order invariant: exchanging equal values swaps
    equal terms). One exchange (hash by key) shared by the window and
    the fold.

    Output: (``key_col``, n, total, gini). Groups whose sum is 0 get
    NULL gini (undefined).
    """
    w = Window.partitionBy(key_col).orderBy(
        F.col(value_col).asc(), F.col(id_col).asc())
    x = F.col(value_col).cast("decimal(28,8)")
    ranked = (df.where(F.col(value_col).isNotNull()
                       & (F.col(value_col) >= 0))
              .select(key_col, value_col, id_col)
              .withColumn("__i", F.row_number().over(w)))
    folded = ranked.groupBy(key_col).agg(
        F.count("*").alias("__n"),
        F.sum(x).alias("__s"),
        F.sum(F.col("__i") * x).alias("__is"))
    n = F.col("__n").cast("double")
    s = F.col("__s").cast("double")
    gini = F.when(s > 0,
                  2.0 * F.col("__is").cast("double") / (n * s)
                  - (n + 1.0) / n)
    return folded.select(
        F.col(key_col),
        F.col("__n").cast("bigint").alias("n"),
        F.round(s, round_dp).cast("double").alias("total"),
        F.round(gini, round_dp).cast("double").alias("gini"))


def chi2_independence(
    df: DataFrame,
    a_col: str,
    b_col: str,
    round_dp: int = 4,
) -> DataFrame:
    """Pearson chi-square test of independence between two categorical
    columns, plus Cramér's V effect size — the contingency-table
    counterpart to :func:`ab_welch_t` (no p-value on purpose, same
    reason: the chi-square CDF isn't portable across engines; consumers
    threshold the statistic or feed (chi2, dof) to scipy driver-side).

    Plan: ONE data-sized aggregate (the (a, b) cell counts); marginals
    come from windows over the CELL frame (cardinality |a|·|b| — tiny),
    so the raw data is scanned exactly once and nothing data-sized
    shuffles twice. χ² = N·(Σ cᵢⱼ²/(rᵢ·kⱼ) − 1) is evaluated in that
    algebraic form — expected counts never materialize, so empty cells
    (which contribute nothing to the sum but would need generating for
    the textbook (o−e)²/e) cost nothing.

    Output (one row): n, dof, chi2, cramers_v.
    """
    cells = (df.where(F.col(a_col).isNotNull() & F.col(b_col).isNotNull())
             .groupBy(a_col, b_col).agg(F.count("*").alias("__c")))
    wa = Window.partitionBy(a_col)
    wb = Window.partitionBy(b_col)
    c = F.col("__c").cast("double")
    terms = cells.select(
        "__c",
        (c * c / (F.sum("__c").over(wa).cast("double")
                  * F.sum("__c").over(wb).cast("double"))).alias("__t"),
        F.col(a_col).alias("__a"), F.col(b_col).alias("__b"))
    folded = terms.agg(
        F.sum("__c").alias("__n"),
        F.sum("__t").alias("__sum_t"),
        F.count_distinct("__a").alias("__ra"),
        F.count_distinct("__b").alias("__rb"))
    n = F.col("__n").cast("double")
    # float fold of Σ cᵢⱼ²/(rᵢ·kⱼ) can land a hair under 1.0 on exactly
    # independent data — clamp: χ² is non-negative by construction, and
    # an un-clamped -1e-14 poisons V with sqrt(negative) = NaN
    chi2 = F.greatest(n * (F.col("__sum_t") - 1.0), F.lit(0.0))
    r, k = F.col("__ra").cast("double"), F.col("__rb").cast("double")
    dof = (r - 1) * (k - 1)
    minrk = F.least(r, k) - 1
    v = F.when((n > 0) & (minrk > 0), F.sqrt(chi2 / (n * minrk)))
    return folded.select(
        F.col("__n").cast("bigint").alias("n"),
        dof.cast("bigint").alias("dof"),
        F.round(chi2, round_dp).cast("double").alias("chi2"),
        F.round(v, round_dp).cast("double").alias("cramers_v"))


def ols_trend(
    df: DataFrame,
    x_col: str,
    y_col: str,
    key_cols: Sequence[str] = (),
    round_dp: int = 4,
) -> DataFrame:
    """Per-group simple linear regression (closed-form OLS): slope,
    intercept, and r² of y on x — the trend readout behind
    metric-over-time monitoring, computed from exact moment sums in ONE
    map-side-combined aggregate pass (never an iterative solver, never a
    collect).

    The five moments (n, Σx, Σy, Σxy, Σx², Σy²) accumulate as
    DECIMAL — order-independent exact sums, so the derived statistics
    are bit-identical across engines and partitionings; the closed-form
    division happens once per group in double. Degenerate groups
    (n < 2 or zero x-variance) get NULL slope/intercept/r².

    Output: keys + (n, slope, intercept, r2).
    """
    keys = list(key_cols)
    x = F.col(x_col).cast("decimal(28,8)")
    y = F.col(y_col).cast("decimal(28,8)")
    m = (df.where(F.col(x_col).isNotNull() & F.col(y_col).isNotNull())
         .groupBy(*keys)
         .agg(F.count("*").alias("__n"),
              F.sum(x).alias("__sx"), F.sum(y).alias("__sy"),
              F.sum((x * y).cast("decimal(38,10)")).alias("__sxy"),
              F.sum((x * x).cast("decimal(38,10)")).alias("__sxx"),
              F.sum((y * y).cast("decimal(38,10)")).alias("__syy")))
    n = F.col("__n").cast("double")
    sx, sy = F.col("__sx").cast("double"), F.col("__sy").cast("double")
    sxy = F.col("__sxy").cast("double")
    sxx = F.col("__sxx").cast("double")
    syy = F.col("__syy").cast("double")
    vx = n * sxx - sx * sx
    vy = n * syy - sy * sy
    cov = n * sxy - sx * sy
    slope = F.when(vx > 0, cov / vx)
    intercept = F.when(vx > 0, (sy - slope * sx) / n)
    r2 = F.when((vx > 0) & (vy > 0), (cov * cov) / (vx * vy)) \
        .when((vx > 0) & (vy == 0), F.lit(1.0))
    return m.select(
        *keys,
        F.col("__n").cast("bigint").alias("n"),
        F.round(slope, round_dp).cast("double").alias("slope"),
        F.round(intercept, round_dp).cast("double").alias("intercept"),
        F.round(r2, round_dp).cast("double").alias("r2"))


def mutual_info(
    df: DataFrame,
    a_col: str,
    b_col: str,
    base2: bool = True,
    round_dp: int = 4,
) -> DataFrame:
    """Mutual information between two categorical columns —
    I(A;B) = Σ p(a,b)·log(p(a,b)/(p(a)p(b))) — the feature-relevance /
    redundancy readout that, unlike correlation, sees nonlinear and
    non-ordinal association. Same plan skeleton as
    :func:`chi2_independence`: ONE data-sized aggregate to the
    contingency cells, marginals from windows over the tiny cell frame,
    one final fold. Also emits the normalized variant
    I/min(H(A), H(B)) (0..1, comparable across feature pairs).

    Output (one row): n, mi, mi_normalized (NULL when either marginal
    entropy is 0 — a constant column carries no information).
    """
    cells = (df.where(F.col(a_col).isNotNull() & F.col(b_col).isNotNull())
             .groupBy(a_col, b_col).agg(F.count("*").alias("__c")))
    wa = Window.partitionBy(a_col)
    wb = Window.partitionBy(b_col)
    wall = Window.partitionBy()
    c = F.col("__c").cast("double")
    n = F.sum("__c").over(wall).cast("double")
    ca = F.sum("__c").over(wa).cast("double")
    cb = F.sum("__c").over(wb).cast("double")
    # I = Σ (c/n)·log(c·n/(ca·cb)); H(A) = log n − Σ_a ca·log ca / n
    # computed from the SAME cell pass (per-cell ca/ca duplicates fold
    # out by dividing each cell's marginal term by the partner count)
    terms = cells.select(
        "__c",
        ((c / n) * F.log(c * n / (ca * cb))).alias("__mi"),
        ((c / n) * F.log(ca / n)).alias("__ha"),   # sums to −H(A) in nats
        ((c / n) * F.log(cb / n)).alias("__hb"))
    folded = terms.agg(F.sum("__c").alias("__n"),
                       F.sum("__mi").alias("__i"),
                       (-F.sum("__ha")).alias("__Ha"),
                       (-F.sum("__hb")).alias("__Hb"))
    scale = F.lit(math.log(2)) if base2 else F.lit(1.0)
    mi = F.col("__i") / scale
    hmin = F.least(F.col("__Ha"), F.col("__Hb")) / scale
    return folded.select(
        F.col("__n").cast("bigint").alias("n"),
        F.round(mi, round_dp).cast("double").alias("mi"),
        F.round(F.when(hmin > 0, mi / hmin), round_dp).cast("double")
        .alias("mi_normalized"))


def spearman_corr(
    df: DataFrame,
    pairs: Sequence[tuple],
    by: Sequence[str] = (),
) -> DataFrame:
    """Spearman rank correlation for one or more column pairs, per key
    group: Pearson correlation over AVERAGE ranks (the exact tie
    convention — min-rank + (ties−1)/2 — so tied values share the mean
    of the positions they span, matching every stats package).
    Monotone-association readout that is robust to outliers and
    nonlinear scale, the standard complement to the Pearson
    ``corr_matrix``.

    Plan shape: one rank window per DISTINCT column involved (not per
    pair) — ``rank()`` over (keys, value) plus a tie-count window on
    the same partitioning — then ONE aggregate computes every pair's
    ``corr`` together. Rows with a NULL in ANY ranked column are
    dropped first so all pairs share one ranking universe (listwise
    deletion — the multi-pair contract; run single pairs separately
    for pairwise deletion). The rank windows sort within key groups:
    with ``by`` keys this partitions (scales with balanced groups);
    without keys it is a single-partition global sort — fine for the
    grouped analytics it targets, use sampled/approximate ranks
    beyond that.

    Output: keys + n + one ``rho_<x>__<y>`` column per pair, NULL when
    a column is constant within the group (zero rank variance).
    """
    keys = [F.col(k) for k in by]
    cols = []
    for x, y in pairs:
        for c in (x, y):
            if c not in cols:
                cols.append(c)
    base = df.select(*keys, *[F.col(c).cast("double").alias(c)
                              for c in cols])
    for c in cols:
        base = base.where(F.col(c).isNotNull())
    ranked = base
    for c in cols:
        wv = Window.partitionBy(*by).orderBy(F.col(c))
        wt = Window.partitionBy(*[F.col(k) for k in by], F.col(c))
        ranked = ranked.withColumn(
            f"__r_{c}",
            F.rank().over(wv).cast("double")
            + (F.count(F.lit(1)).over(wt).cast("double") - 1.0) / 2.0)
    aggs = [F.count(F.lit(1)).cast("bigint").alias("n")]
    for x, y in pairs:
        aggs.append(F.corr(F.col(f"__r_{x}"), F.col(f"__r_{y}"))
                    .alias(f"rho_{x}__{y}"))
    return ranked.groupBy(*[F.col(k) for k in by]).agg(*aggs)


def _avg_rank_frame(
    per_value: DataFrame,
    keys: Sequence[str],
    value_col: str = "__s",
    count_col: str = "__t",
    buckets: int = 64,
) -> DataFrame:
    """Attach the average pooled rank (1-based, midpoint of each tied
    block) to a per-distinct-value count frame WITHOUT a global sort —
    the same bucketed distributed-cumsum plan as :func:`roc_auc`:
    order-preserving range buckets from a broadcast min/max frame,
    prefix offsets over the buckets-sized frame, within-bucket running
    sums partitioned by bucket (parallel). Adds ``__rank`` (double).
    """
    g = F.lit(0).alias("__g")
    bounds = per_value.groupBy(*keys).agg(F.min(value_col).alias("__lo"),
                                          F.max(value_col).alias("__hi"))
    if keys:
        sb = per_value.join(F.broadcast(bounds), list(keys))
    else:
        sb = per_value.crossJoin(F.broadcast(bounds))
    lo, hi = F.col("__lo"), F.col("__hi")
    width = (hi - lo) / F.lit(int(buckets))
    bkt = (F.when(hi == lo, F.lit(0))
           .otherwise(F.least(F.floor((F.col(value_col) - lo) / width),
                              F.lit(int(buckets) - 1)))).cast("bigint")
    sb = sb.withColumn("__b", bkt).drop("__lo", "__hi")
    bt = sb.groupBy(*keys, g, "__b").agg(F.sum(count_col).alias("__bn"))
    woff = Window.partitionBy(*(keys or ["__g"])).orderBy("__b") \
        .rowsBetween(Window.unboundedPreceding, -1)
    offs = bt.select(
        *keys, "__b",
        F.coalesce(F.sum("__bn").over(woff), F.lit(0)).alias("__off"))
    wrun = Window.partitionBy(*keys, "__b").orderBy(value_col) \
        .rowsBetween(Window.unboundedPreceding, -1)
    return (sb.join(F.broadcast(offs), list(keys) + ["__b"])
            .withColumn(
                "__rank",
                (F.coalesce(F.sum(count_col).over(wrun), F.lit(0))
                 + F.col("__off")).cast("double")
                + (F.col(count_col).cast("double") + 1.0) / 2.0)
            .drop("__b", "__off"))


def mann_whitney_u(
    df: DataFrame,
    group_col: str,
    value_col: str,
    by: Optional[Sequence[str]] = None,
) -> DataFrame:
    """Mann–Whitney U (Wilcoxon rank-sum) test: do two groups draw from
    the same distribution? The nonparametric complement to
    :func:`ab_welch_t` — rank-based, so heavy tails and outliers don't
    distort it, and ties get the standard midrank treatment.

    U is EXACTLY the ROC-AUC pair statistic (``U_a = AUC · n_a · n_b``
    with ties at half credit), so this reuses :func:`roc_auc`'s
    bucketed distributed-cumsum plan — no global sort at any data
    size. The tie-corrected normal approximation

        z = (U_a − n_a n_b / 2) /
            sqrt( n_a n_b / 12 · ((n+1) − Σ(t³−t)/(n(n−1))) )

    adds one per-distinct-value aggregate for Σ(t³−t) — map-side
    combined, no window. No p-value column (no portable normal CDF;
    threshold |z|, e.g. 1.96 ≈ 5%).

    Output per group: (by..., group_a, group_b, n_a, n_b, u_a, u_b, z)
    with groups ordered by label; z NULL when a side is empty or all
    values tie. Raises unless ``group_col`` has exactly 2 distinct
    non-NULL values.
    """
    keys = list(by or [])
    base = (df.where(F.col(group_col).isNotNull()
                     & F.col(value_col).isNotNull())
            .select(*keys, F.col(group_col).alias("__grp"),
                    F.col(value_col).cast("double").alias("__s")))
    groups = [r[0] for r in
              base.select("__grp").distinct().orderBy("__grp").limit(3)
              .collect()]
    if len(groups) != 2:
        raise ValueError(
            f"mann_whitney_u: need exactly 2 groups, saw {groups}")
    ga, gb = groups
    auc = roc_auc(base.withColumn("__y", F.col("__grp") == F.lit(ga)),
                  "__y", "__s", by=keys or None)
    ties = (base.groupBy(*keys, "__s")
            .agg(F.count(F.lit(1)).cast("double").alias("__t"))
            .groupBy(*keys)
            .agg(F.sum(F.col("__t") ** 3 - F.col("__t")).alias("__tc")))
    if keys:
        j = auc.join(ties, keys)
    else:
        j = auc.crossJoin(F.broadcast(ties))
    na = F.col("n_pos").cast("double")
    nb = F.col("n_b").cast("double")
    j = j.withColumnRenamed("n_neg", "n_b")
    n = na + nb
    u_a = F.col("auc") * na * nb
    mu = na * nb / 2.0
    var = (na * nb / 12.0) * ((n + 1.0)
                              - F.col("__tc") / (n * (n - 1.0)))
    z = F.when(var > 0, (u_a - mu) / F.sqrt(var))
    return j.select(
        *keys,
        F.lit(ga).alias("group_a"), F.lit(gb).alias("group_b"),
        F.col("n_pos").cast("bigint").alias("n_a"),
        F.col("n_b").cast("bigint").alias("n_b"),
        u_a.alias("u_a"), (na * nb - u_a).alias("u_b"), z.alias("z"))


def kruskal_wallis(
    df: DataFrame,
    group_col: str,
    value_col: str,
    by: Optional[Sequence[str]] = None,
    buckets: int = 64,
) -> DataFrame:
    """Kruskal–Wallis H: the k-group generalization of Mann–Whitney —
    one-way ANOVA on midranks. H = (12/(n(n+1))) Σ_g R_g²/n_g − 3(n+1),
    divided by the tie correction 1 − Σ(t³−t)/(n³−n); chi-squared with
    k−1 dof under the null.

    Plan: one data-sized ``groupBy(value, group)``; average pooled
    ranks come from the bucketed prefix plan (:func:`_avg_rank_frame` —
    no global sort); one aggregate folds R_g per group and a second
    folds the statistic. Output per ``by`` group: (by..., n, k, h) — h
    NULL when every value ties or k < 2.
    """
    keys = list(by or [])
    base = (df.where(F.col(group_col).isNotNull()
                     & F.col(value_col).isNotNull())
            .select(*keys, F.col(group_col).alias("__grp"),
                    F.col(value_col).cast("double").alias("__s")))
    # pv is the only data-sized aggregate and fans out to the pooled
    # per-value frame AND the per-group rank fold — persist or the raw
    # table is scanned+shuffled once per consumer
    pv = (base.groupBy(*keys, "__s", "__grp")
          .agg(F.count(F.lit(1)).alias("__c")).persist())
    pooled = (pv.groupBy(*keys, "__s")
              .agg(F.sum("__c").alias("__t")).persist())
    ranked = _avg_rank_frame(pooled, keys, buckets=buckets)
    if keys:
        pj = pv.join(ranked.select(*keys, "__s", "__rank", "__t"),
                     keys + ["__s"])
    else:
        pj = pv.join(ranked.select("__s", "__rank", "__t"), ["__s"])
    per_g = (pj.groupBy(*keys, "__grp")
             .agg(F.sum(F.col("__c") * F.col("__rank")).alias("__rg"),
                  F.sum("__c").alias("__ng")))
    tie = (pooled.groupBy(*keys)
           .agg(F.sum(F.col("__t").cast("double") ** 3
                      - F.col("__t")).alias("__tc")))
    stat = (per_g.groupBy(*keys)
            .agg(F.sum(F.col("__rg") ** 2 / F.col("__ng")).alias("__sr"),
                 F.sum("__ng").alias("__n"),
                 F.count(F.lit(1)).alias("__k")))
    if keys:
        j = stat.join(tie, keys)
    else:
        j = stat.crossJoin(F.broadcast(tie))
    n = F.col("__n").cast("double")
    h_raw = 12.0 / (n * (n + 1.0)) * F.col("__sr") - 3.0 * (n + 1.0)
    corr = 1.0 - F.col("__tc") / (n ** 3 - n)
    h = F.when((F.col("__k") >= 2) & (corr > 0), h_raw / corr)
    out = j.select(*keys, F.col("__n").cast("bigint").alias("n"),
                   F.col("__k").cast("bigint").alias("k"), h.alias("h"))
    from ._cache import attach_intermediates
    return attach_intermediates(out, [pv, pooled])


def cramers_v(
    df: DataFrame,
    pairs: Sequence[tuple],
    round_dp: int = 4,
) -> DataFrame:
    """Cramér's V association matrix for categorical column pairs —
    the contingency counterpart to ``corr_matrix`` (Pearson only sees
    numerics; V ∈ [0, 1] ranks which categorical dimensions actually
    move together). A thin multi-pair batcher over
    :func:`chi2_independence`, which already evaluates χ² in the
    algebraic form that needs no dense grid (empty cells contribute
    nothing) and derives V; one map-side-combined cell aggregate per
    pair, results union into one labeled frame. V is NULL for
    degenerate tables (min(r, c) = 1). Output: (col_x, col_y, n, dof,
    chi2, v).
    """
    outs = []
    for x, y in pairs:
        one = chi2_independence(df, x, y, round_dp=round_dp)
        outs.append(one.select(
            F.lit(x).alias("col_x"), F.lit(y).alias("col_y"),
            "n", "dof", "chi2",
            F.col("cramers_v").alias("v")))
    res = outs[0]
    for o in outs[1:]:
        res = res.unionByName(o)
    return res


def weighted_percentiles(
    df: DataFrame,
    value_col: str,
    weight_col: str,
    ps: Sequence[float],
    by: Optional[Sequence[str]] = None,
    buckets: int = 64,
) -> DataFrame:
    """Weight-aware percentiles: the smallest value whose cumulative
    weight reaches p · total_weight (lower-boundary / type-1 — the
    portable convention both engines can state exactly, no
    interpolation). "Median price weighted by quantity sold" — the
    question plain ``percentile_approx`` (row-weighted) answers
    wrongly.

    Plan: one ``groupBy(keys, value)`` weight fold (the only
    data-sized shuffle), cumulative weights via the same bucketed
    prefix plan as :func:`_avg_rank_frame` (no global sort), then one
    min-aggregate per (key, p) over the rows at-or-past each
    threshold. Weights fold as DECIMAL the whole way — exact and
    order-independent, so the threshold row is a FACT, not a
    float-summation race (a double cumsum accumulates in partition
    order; two engines/runs can disagree on the boundary row). Weights
    must be positive; NULL/zero-weight rows drop out. Output:
    (by..., p, value).
    """
    keys = list(by or [])
    w = F.col(weight_col).cast("decimal(28,8)")
    pv = (df.where(F.col(value_col).isNotNull()
                   & F.col(weight_col).isNotNull()
                   & (F.col(weight_col).cast("double") > 0))
          .groupBy(*keys, F.col(value_col).cast("double").alias("__s"))
          .agg(F.sum(w).alias("__t")))
    # bucketed prefix cumsum, decimal-exact end to end
    g = F.lit(0).alias("__g")
    bounds = pv.groupBy(*keys).agg(F.min("__s").alias("__lo"),
                                   F.max("__s").alias("__hi"))
    if keys:
        sb = pv.join(F.broadcast(bounds), keys)
    else:
        sb = pv.crossJoin(F.broadcast(bounds))
    lo, hi = F.col("__lo"), F.col("__hi")
    width = (hi - lo) / F.lit(int(buckets))
    bkt = (F.when(hi == lo, F.lit(0))
           .otherwise(F.least(F.floor((F.col("__s") - lo) / width),
                              F.lit(int(buckets) - 1)))).cast("bigint")
    sb = sb.withColumn("__b", bkt).drop("__lo", "__hi")
    bt = sb.groupBy(*keys, g, "__b").agg(F.sum("__t").alias("__bw"))
    woff = Window.partitionBy(*(keys or ["__g"])).orderBy("__b") \
        .rowsBetween(Window.unboundedPreceding, -1)
    wtot = Window.partitionBy(*(keys or ["__g"]))
    offs = bt.select(
        *keys, "__b",
        F.coalesce(F.sum("__bw").over(woff),
                   F.lit(0).cast("decimal(28,8)")).alias("__off"),
        F.sum("__bw").over(wtot).alias("__tw"))
    wrun = Window.partitionBy(*keys, "__b").orderBy("__s") \
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    j = (sb.join(F.broadcast(offs), list(keys) + ["__b"])
         .withColumn("__cw", (F.col("__off")
                              + F.sum("__t").over(wrun)).cast("double"))
         .withColumn("__twd", F.col("__tw").cast("double")))
    pframe = F.array(*[F.lit(float(p)) for p in ps])
    exploded = (j.withColumn("__p", F.explode(pframe))
                .where(F.col("__cw") >= F.col("__p") * F.col("__twd")))
    return (exploded.groupBy(*keys, "__p")
            .agg(F.min("__s").alias("value"))
            .select(*keys, F.col("__p").cast("double").alias("p"),
                    "value"))


def bh_fdr(
    df: DataFrame,
    p_col: str,
    id_cols: Sequence[str],
    alpha: float = 0.05,
) -> DataFrame:
    """Benjamini-Hochberg false-discovery-rate control over a frame of
    test results: running many tests (one per segment / month / metric)
    at raw α≈0.05 manufactures false positives by volume; BH adjusts
    each p-value to a q-value (the smallest FDR at which that test
    would be rejected) so "reject q ≤ α" bounds the EXPECTED fraction
    of false discoveries at α.

        q_(i) = min_{j ≥ i} ( p_(j) · n / j )

    over the p-ascending order — a running min from the LARGEST p
    down, i.e. one cumulative-min window over the tests frame sorted
    descending. The frame is tests-count-sized (one row per test the
    caller ran — hundreds at most), so the single-partition window is
    inherent and irrelevant; the heavy lifting happened upstream in
    whatever produced the p-values. Ties in p order by ``id_cols`` —
    the q-values are provably identical under any tie order (larger
    rank ⇒ smaller raw q, and the running min spans the whole tied
    block), the tie-break just pins row order for the hash compare.

    Output: id_cols + (p, rank, q, rejected) sorted by p.
    """
    w = (Window.orderBy(F.col("__p").desc(),
                        *[F.col(c).desc() for c in id_cols])
         .rowsBetween(Window.unboundedPreceding, Window.currentRow))
    base = (df.where(F.col(p_col).isNotNull())
            .select(*id_cols, F.col(p_col).cast("double").alias("__p")))
    # n = the number of TESTS (non-null p rows) — a window count over
    # the tiny tests frame, not a driver-side action
    wn = Window.partitionBy(F.lit(1))
    wr = Window.orderBy(F.col("__p"), *[F.col(c) for c in id_cols])
    ranked = (base
              .withColumn("__n", F.count(F.lit(1)).over(wn))
              .withColumn("__i", F.row_number().over(wr)))
    q = F.min(F.col("__p") * F.col("__n").cast("double")
              / F.col("__i")).over(w)
    return (ranked
            .withColumn("__q", F.least(q, F.lit(1.0)))
            .select(*id_cols, F.col("__p").alias("p"),
                    F.col("__i").cast("bigint").alias("rank"),
                    F.col("__q").alias("q"),
                    (F.col("__q") <= F.lit(float(alpha)))
                    .alias("rejected")))


def ols_multi2(
    df: DataFrame,
    y_col: str,
    x1_col: str,
    x2_col: str,
    by: Optional[Sequence[str]] = None,
) -> DataFrame:
    """Two-feature linear regression with intercept, per group:
    ``y ~ b0 + b1*x1 + b2*x2`` solved in closed form (Cramer's rule on
    the 3x3 normal equations).

    Every moment (n, Σx1, Σx2, Σx1², Σx1x2, Σx2², Σy, Σx1y, Σx2y, Σy²)
    accumulates as DECIMAL in ONE aggregate pass — exact and
    order-independent — so the determinant algebra sees bit-identical
    inputs at any parallelism, the multi-feature extension of
    ``ols_trend``'s discipline. Inputs quantize to 6 dp on entry.

    Degenerate groups (singular normal matrix — collinear or constant
    regressors) return NULL coefficients. Output per group:
    ``(by..., n, b0, b1, b2, r2)``.
    """
    keys = list(by or [])
    q = lambda c: F.round(F.col(c).cast("double"), 6) \
        .cast("decimal(18,6)")
    d = (df.where(F.col(y_col).isNotNull() & F.col(x1_col).isNotNull()
                  & F.col(x2_col).isNotNull())
           .select(*keys, q(y_col).alias("__y"), q(x1_col).alias("__a"),
                   q(x2_col).alias("__b")))
    m = d.groupBy(*keys).agg(
        F.count(F.lit(1)).alias("__n"),
        F.sum("__a").alias("__sa"), F.sum("__b").alias("__sb"),
        F.sum(F.col("__a") * F.col("__a")).alias("__saa"),
        F.sum(F.col("__a") * F.col("__b")).alias("__sab"),
        F.sum(F.col("__b") * F.col("__b")).alias("__sbb"),
        F.sum("__y").alias("__sy"),
        F.sum(F.col("__a") * F.col("__y")).alias("__say"),
        F.sum(F.col("__b") * F.col("__y")).alias("__sby"),
        F.sum(F.col("__y") * F.col("__y")).alias("__syy"))
    dd = lambda c: F.col(c).cast("double")
    n, sa, sb = dd("__n"), dd("__sa"), dd("__sb")
    saa, sab, sbb = dd("__saa"), dd("__sab"), dd("__sbb")
    sy, say, sby, syy = dd("__sy"), dd("__say"), dd("__sby"), dd("__syy")
    # det of [[n, sa, sb], [sa, saa, sab], [sb, sab, sbb]]
    det = (n * (saa * sbb - sab * sab)
           - sa * (sa * sbb - sab * sb)
           + sb * (sa * sab - saa * sb))
    # Cramer numerators: replace column i with [sy, say, sby]
    det0 = (sy * (saa * sbb - sab * sab)
            - sa * (say * sbb - sab * sby)
            + sb * (say * sab - saa * sby))
    det1 = (n * (say * sbb - sab * sby)
            - sy * (sa * sbb - sab * sb)
            + sb * (sa * sby - say * sb))
    det2 = (n * (saa * sby - say * sab)
            - sa * (sa * sby - say * sb)
            + sy * (sa * sab - saa * sb))
    ok = F.abs(det) > 1e-9
    b0 = F.when(ok, det0 / det)
    b1 = F.when(ok, det1 / det)
    b2 = F.when(ok, det2 / det)
    sse = syy - (b0 * sy + b1 * say + b2 * sby)
    sst = syy - sy * sy / n
    r2 = F.when(ok & (sst > 0), 1.0 - sse / sst)
    return m.select(*keys, F.col("__n").cast("bigint").alias("n"),
                    b0.cast("double").alias("b0"),
                    b1.cast("double").alias("b1"),
                    b2.cast("double").alias("b2"),
                    r2.cast("double").alias("r2"))


def cuped_adjust(
    df: DataFrame,
    group_col: str,
    metric_col: str,
    covariate_col: str,
    control: str,
    treatment: str,
) -> DataFrame:
    """CUPED variance-reduced A/B readout (Deng et al., WSDM 2013).

    Uses a pre-experiment covariate X to shrink the metric's variance:
    ``theta = cov(X, Y) / var(X)`` fitted on the POOLED arms (the
    standard unbiased choice — theta is independent of assignment), then
    each arm's adjusted mean is ``mean(Y) - theta * (mean(X) -
    mean_pooled(X))`` and its adjusted variance is ``var(Y) - 2*theta*
    cov(X,Y) + theta^2*var(X)`` (per arm, ddof=1).

    ONE aggregate pass accumulates pooled + per-arm DECIMAL moments of
    (Y, X, XY, X^2, Y^2) side by side — the ``ab_welch_t`` single-scan
    discipline — so the scalar algebra on the 1-row frame is bit-stable
    at any parallelism. Output (one row): theta, per-arm raw/adjusted
    means, adjusted diff, the z statistic on the adjusted metric, and
    ``var_reduction`` (1 - adjusted/raw pooled variance — the fraction
    of noise CUPED removed; 0 when X is uncorrelated).

    Zero pooled covariate variance (constant X) degrades gracefully to
    theta = 0 — the readout equals the unadjusted t. Rows with NULL
    metric or covariate are excluded from every moment.
    """
    y = F.round(F.col(metric_col).cast("double"), 6).cast("decimal(18,6)")
    x = F.round(F.col(covariate_col).cast("double"), 6) \
        .cast("decimal(18,6)")
    ok = F.col(metric_col).isNotNull() & F.col(covariate_col).isNotNull()

    def side(tag, cond):
        c = ok & cond
        return [
            F.count(F.when(c, F.lit(1))).alias(f"__n_{tag}"),
            F.sum(F.when(c, y)).alias(f"__sy_{tag}"),
            F.sum(F.when(c, x)).alias(f"__sx_{tag}"),
            F.sum(F.when(c, x * y)).alias(f"__sxy_{tag}"),
            F.sum(F.when(c, x * x)).alias(f"__sxx_{tag}"),
            F.sum(F.when(c, y * y)).alias(f"__syy_{tag}"),
        ]

    both = (F.col(group_col) == F.lit(control)) | \
        (F.col(group_col) == F.lit(treatment))
    stats = df.agg(*(side("p", both)
                     + side("c", F.col(group_col) == F.lit(control))
                     + side("t", F.col(group_col) == F.lit(treatment))))

    def mom(tag):
        n = F.col(f"__n_{tag}").cast("double")
        sy = F.col(f"__sy_{tag}").cast("double")
        sx = F.col(f"__sx_{tag}").cast("double")
        sxy = F.col(f"__sxy_{tag}").cast("double")
        sxx = F.col(f"__sxx_{tag}").cast("double")
        syy = F.col(f"__syy_{tag}").cast("double")
        my, mx = sy / n, sx / n
        vy = F.when(n > 1, (syy - sy * sy / n) / (n - 1))
        vx = F.when(n > 1, (sxx - sx * sx / n) / (n - 1))
        cxy = F.when(n > 1, (sxy - sx * sy / n) / (n - 1))
        return n, my, mx, vy, vx, cxy

    np_, myp, mxp, vyp, vxp, cxyp = mom("p")
    nc, myc, mxc, vyc, vxc, cxyc = mom("c")
    nt, myt, mxt, vyt, vxt, cxyt = mom("t")
    theta = F.when(vxp > 0, cxyp / vxp).otherwise(F.lit(0.0))
    adj_c = myc - theta * (mxc - mxp)
    adj_t = myt - theta * (mxt - mxp)
    av_c = vyc - 2 * theta * cxyc + theta * theta * vxc
    av_t = vyt - 2 * theta * cxyt + theta * theta * vxt
    se2 = av_c / nc + av_t / nt
    z = F.when(se2 > 0, (adj_t - adj_c) / F.sqrt(se2))
    av_p = vyp - 2 * theta * cxyp + theta * theta * vxp
    red = F.when(vyp > 0, 1.0 - av_p / vyp)
    return stats.select(
        F.lit(control).alias("control"),
        F.lit(treatment).alias("treatment"),
        F.col("__n_c").cast("bigint").alias("n_control"),
        F.col("__n_t").cast("bigint").alias("n_treatment"),
        theta.cast("double").alias("theta"),
        myc.cast("double").alias("mean_control"),
        myt.cast("double").alias("mean_treatment"),
        adj_c.cast("double").alias("adj_mean_control"),
        adj_t.cast("double").alias("adj_mean_treatment"),
        (adj_t - adj_c).cast("double").alias("adj_diff"),
        z.cast("double").alias("z_stat"),
        red.cast("double").alias("var_reduction"))


def two_proportion_ztest(
    df: DataFrame,
    group_col: str,
    success_col: str,
    control: str,
    treatment: str,
    expected_ratio: float = 1.0,
) -> DataFrame:
    """Two-sample proportions z-test + sample-ratio-mismatch guard —
    the conversion-rate A/B readout.

    ONE aggregate pass counts trials and successes for both arms
    (``success_col`` is boolean or 0/1; NULL rows excluded). The z
    statistic uses the pooled standard error; ``srm_chi2`` is the
    1-dof chi-square of the observed arm split against
    ``expected_ratio`` (treatment/control allocation, default 1:1) —
    the assignment-integrity check every experimentation platform runs
    before trusting the metric readout.
    """
    s = F.col(success_col).cast("int")
    ok = F.col(success_col).isNotNull()

    def side(tag, value):
        c = ok & (F.col(group_col) == F.lit(value))
        return [
            F.count(F.when(c, F.lit(1))).alias(f"__n_{tag}"),
            F.sum(F.when(c, s)).alias(f"__k_{tag}"),
        ]

    stats = df.agg(*(side("c", control) + side("t", treatment)))
    nc = F.col("__n_c").cast("double")
    nt = F.col("__n_t").cast("double")
    kc = F.col("__k_c").cast("double")
    kt = F.col("__k_t").cast("double")
    pc, pt = kc / nc, kt / nt
    pool = (kc + kt) / (nc + nt)
    se2 = pool * (1 - pool) * (1 / nc + 1 / nt)
    z = F.when(se2 > 0, (pt - pc) / F.sqrt(se2))
    # SRM: expected treatment share under the declared allocation
    share = float(expected_ratio) / (1.0 + float(expected_ratio))
    et = (nc + nt) * F.lit(share)
    ec = (nc + nt) * F.lit(1.0 - share)
    srm = F.when((ec > 0) & (et > 0),
                 (nc - ec) * (nc - ec) / ec + (nt - et) * (nt - et) / et)
    return stats.select(
        F.lit(control).alias("control"),
        F.lit(treatment).alias("treatment"),
        F.col("__n_c").cast("bigint").alias("n_control"),
        F.col("__n_t").cast("bigint").alias("n_treatment"),
        F.col("__k_c").cast("bigint").alias("successes_control"),
        F.col("__k_t").cast("bigint").alias("successes_treatment"),
        pc.cast("double").alias("p_control"),
        pt.cast("double").alias("p_treatment"),
        (pt - pc).cast("double").alias("p_diff"),
        z.cast("double").alias("z_stat"),
        srm.cast("double").alias("srm_chi2"))


def delta_ratio_ci(
    df: DataFrame,
    unit_col: str,
    group_col: str,
    numerator_col: str,
    denominator_col: str,
    control: str,
    treatment: str,
) -> DataFrame:
    """Delta-method CI for ratio metrics (revenue-per-session,
    clicks-per-view — Deng/Knoblich/Lu KDD 2018).

    Ratio metrics violate the i.i.d. assumption at the ROW level (rows
    cluster within randomization units), so the correct readout
    aggregates per unit FIRST: one co-keyed (group, unit) aggregate
    collapses each unit's numerator/denominator sums — the only
    data-sized shuffle — then per arm the ratio ``R = ΣN / ΣD`` gets a
    delta-method variance ``(var(n) - 2R·cov(n,d) + R²·var(d)) /
    (n_units · mean(d)²)`` from ONE moment pass over the unit frame.
    Output (one row): per-arm ratio + standard error, the difference,
    and its z statistic. Arms with a zero denominator yield NULLs.
    """
    qn = F.round(F.coalesce(F.col(numerator_col).cast("double"),
                            F.lit(0.0)), 6).cast("decimal(18,6)")
    qd = F.round(F.coalesce(F.col(denominator_col).cast("double"),
                            F.lit(0.0)), 6).cast("decimal(18,6)")
    units = (df.where((F.col(group_col) == F.lit(control))
                      | (F.col(group_col) == F.lit(treatment)))
             .groupBy(group_col, unit_col)
             .agg(F.sum(qn).alias("__un"), F.sum(qd).alias("__ud")))

    # per-unit sums fit comfortably back in (18,6); recasting keeps the
    # second-moment products exact DECIMAL in BOTH engines (38-width cap)
    un = F.col("__un").cast("decimal(18,6)")
    ud = F.col("__ud").cast("decimal(18,6)")

    def side(tag, value):
        c = F.col(group_col) == F.lit(value)
        return [
            F.count(F.when(c, F.lit(1))).alias(f"__m_{tag}"),
            F.sum(F.when(c, un)).alias(f"__sn_{tag}"),
            F.sum(F.when(c, ud)).alias(f"__sd_{tag}"),
            F.sum(F.when(c, un * un)).alias(f"__snn_{tag}"),
            F.sum(F.when(c, un * ud)).alias(f"__snd_{tag}"),
            F.sum(F.when(c, ud * ud)).alias(f"__sdd_{tag}"),
        ]

    stats = units.agg(*(side("c", control) + side("t", treatment)))

    def arm(tag):
        m = F.col(f"__m_{tag}").cast("double")
        sn = F.col(f"__sn_{tag}").cast("double")
        sd = F.col(f"__sd_{tag}").cast("double")
        snn = F.col(f"__snn_{tag}").cast("double")
        snd = F.col(f"__snd_{tag}").cast("double")
        sdd = F.col(f"__sdd_{tag}").cast("double")
        ratio = F.when(sd != 0, sn / sd)
        mn, md = sn / m, sd / m
        vn = F.when(m > 1, (snn - sn * sn / m) / (m - 1))
        vd = F.when(m > 1, (sdd - sd * sd / m) / (m - 1))
        cnd = F.when(m > 1, (snd - sn * sd / m) / (m - 1))
        var_r = F.when(
            (md != 0) & (m > 1),
            (vn - 2 * ratio * cnd + ratio * ratio * vd) / (m * md * md))
        se = F.when(var_r >= 0, F.sqrt(var_r))
        return m, ratio, se

    mc, rc, sec = arm("c")
    mt, rt, set_ = arm("t")
    se2 = sec * sec + set_ * set_
    z = F.when(se2 > 0, (rt - rc) / F.sqrt(se2))
    return stats.select(
        F.lit(control).alias("control"),
        F.lit(treatment).alias("treatment"),
        F.col("__m_c").cast("bigint").alias("units_control"),
        F.col("__m_t").cast("bigint").alias("units_treatment"),
        rc.cast("double").alias("ratio_control"),
        rt.cast("double").alias("ratio_treatment"),
        sec.cast("double").alias("se_control"),
        set_.cast("double").alias("se_treatment"),
        (rt - rc).cast("double").alias("ratio_diff"),
        z.cast("double").alias("z_stat"))


def qini_uplift(
    df: DataFrame,
    treat_col: str,
    outcome_col: str,
    score_col: str,
    buckets: int = 10,
    percentile_mode: str = "buffer",
) -> DataFrame:
    """Qini / uplift curve by score bucket (Radcliffe 2007): rank the
    population by a targeting score, split into equal-frequency buckets,
    and report the cumulative incremental responses captured at each
    depth — THE offline evaluation for uplift models and campaign
    targeting rules (random targeting ⇒ qini ≈ 0 at every depth; a
    perfect model front-loads all incremental response).

    ``treat_col`` is boolean/0-1 treatment assignment, ``outcome_col``
    a 0/1 (or bounded numeric) response. Bucketing reuses
    :func:`feathr_spark.operators.scaling.quantile_bins` (exact interior
    percentiles broadcast, count-strictly-below — no global ntile
    sort); bucket ``buckets-1`` holds the HIGHEST scores and the curve
    cumulates from it downward.

    Per prefix (depth d = buckets-1 .. 0):

        qini(d) = (cumR_t/cumN_t - cumR_c/cumN_c) * (cumN_t + cumN_c)

    (the incremental-responses estimate at that targeting depth; NULL
    while either arm is empty). One data-sized aggregate after the
    bucket scan; the cumulative window runs over the buckets-sized
    frame only. Output per bucket, highest scores first: ``(bucket,
    n_treat, n_ctrl, resp_treat, resp_ctrl, cum_n, uplift_rate,
    qini)``.

    ``percentile_mode`` forwards to :func:`scaling.quantile_bins`: the
    default ``'buffer'`` folds the global decile cuts in one exact
    percentile aggregate (fine to ~10⁷ scored units, and lazy);
    ``'selection'`` routes them through distributed selection
    (bit-identical cuts, no task buffers the score multiset — the
    10⁹-unit path; EAGER, see selection_percentiles).
    """
    from .scaling import quantile_bins
    t = F.col(treat_col).cast("int") == 1
    y = F.round(F.col(outcome_col).cast("double"), 6).cast("decimal(18,6)")
    zero = F.lit(0).cast("decimal(18,6)")
    b = quantile_bins(df.where(F.col(score_col).isNotNull()
                               & F.col(treat_col).isNotNull()
                               & F.col(outcome_col).isNotNull()),
                      score_col, bins=buckets, round_cuts_dp=6,
                      percentile_mode=percentile_mode)
    per = (b.groupBy(F.col(f"{score_col}_bin").alias("bucket"))
           .agg(F.count_if(t).alias("__nt"),
                F.count_if(~t).alias("__nc"),
                F.coalesce(F.sum(F.when(t, y)), zero).alias("__rt"),
                F.coalesce(F.sum(F.when(~t, y)), zero).alias("__rc")))
    w = (Window.orderBy(F.col("bucket").desc())
         .rowsBetween(Window.unboundedPreceding, 0))
    cnt = (F.sum("__nt").over(w), F.sum("__nc").over(w),
           F.sum("__rt").over(w), F.sum("__rc").over(w))
    cum = per.select(
        "bucket", "__nt", "__nc", "__rt", "__rc",
        cnt[0].alias("__cnt"), cnt[1].alias("__cnc"),
        cnt[2].alias("__crt"), cnt[3].alias("__crc"))
    cnt_t = F.col("__cnt").cast("double")
    cnt_c = F.col("__cnc").cast("double")
    rt = F.col("__crt").cast("double")
    rc = F.col("__crc").cast("double")
    ok = (cnt_t > 0) & (cnt_c > 0)
    uplift = F.when(ok, rt / cnt_t - rc / cnt_c)
    qini = F.when(ok, (rt / cnt_t - rc / cnt_c) * (cnt_t + cnt_c))
    return cum.select(
        F.col("bucket").cast("bigint").alias("bucket"),
        F.col("__nt").cast("bigint").alias("n_treat"),
        F.col("__nc").cast("bigint").alias("n_ctrl"),
        F.col("__rt").cast("double").alias("resp_treat"),
        F.col("__rc").cast("double").alias("resp_ctrl"),
        (F.col("__cnt") + F.col("__cnc")).cast("bigint").alias("cum_n"),
        uplift.cast("double").alias("uplift_rate"),
        qini.cast("double").alias("qini"))


def selection_percentiles(
    df: DataFrame,
    value_col: str,
    fracs: Sequence[float],
    buckets: int = 65536,
) -> list:
    """EXACT interpolated percentiles of an arbitrarily large column via
    distributed selection, ALL fractions in one histogram pass — the
    scale path when ``F.percentile``/``F.median``'s buffer-every-value
    aggregate becomes the bottleneck (its partial state is the full
    value multiset, merged and sorted in ONE final task: ~10 s for 3M
    doubles locally, unusable at 100 TB).

    Two fully parallel data passes regardless of ``len(fracs)``:
    (1) count/min/max + a fixed-width bucket histogram (the shuffle is
    <= ``buckets`` rows); (2) only the rows of the bucket(s) containing
    any target order statistic are re-scanned and ranked INSIDE their
    bucket (partitioned window — no global sort anywhere). The 1-row
    stats frame, the <= ``buckets``-row histogram, and the
    <= ``2*len(fracs)``-row pick set are BOUNDED driver collects (same
    class as the documented k-row centroid / d-cell Gram collects).

    The narrow ``(value)`` projection is persisted internally for the
    duration of the call (and unpersisted before returning), so the
    passes share ONE materialization even when the caller hands in an
    expensive un-persisted lineage — and a non-deterministic input
    (e.g. containing ``rand()``) cannot produce an inconsistent
    histogram vs candidate pass (which would be a *wrong* percentile,
    not just a slow one). NOTE: this makes the call EAGER — the input
    is computed when the function runs, not when a downstream plan
    executes (selection modes are opt-in; plan-then-run callers should
    use the default buffer mode).

    Interpolation is ``(1-d)*lower + d*higher`` — verified
    bit-identical to Spark 4's own Percentile (F.percentile /
    F.median) on generated cases, so swapping this in never changes a
    value. Adversarial inputs (most of the mass in one bucket, e.g.
    heavy ties) degrade gracefully: the candidate ranking grows toward
    the tie count, and an all-equal column short-circuits to that
    value.

    Returns a Python list of floats (or Nones for an empty input),
    aligned with ``fracs`` — values, not a plan: embed them as
    literals so downstream expressions stay codegen'd.
    """
    fracs = [float(f) for f in fracs]
    v = F.col(value_col).cast("double")
    vals = df.where(v.isNotNull()).select(v.alias("__v")).persist()
    try:
        return _selection_percentiles_on(vals, fracs, buckets)
    finally:
        vals.unpersist()


def _selection_percentiles_on(vals, fracs, buckets):
    n, lo, hi = vals.agg(F.count("*"), F.min("__v"), F.max("__v")).first()
    if n == 0:
        return [None] * len(fracs)
    if lo == hi:
        return [float(lo)] * len(fracs)
    # 0-based target ranks per frac: floor and ceil of (n-1)*frac
    targets = {}
    for f in fracs:
        r = (n - 1) * f
        targets.setdefault(int(math.floor(r)), None)
        targets.setdefault(int(math.ceil(r)), None)
    width = (hi - lo) / float(buckets)
    bkt = F.least(F.floor((F.col("__v") - F.lit(float(lo)))
                          / F.lit(width)),
                  F.lit(buckets - 1)).cast("long")
    # bounded collect: <= `buckets` (bucket-id, count) rows
    hist = sorted(vals.groupBy(bkt.alias("__b"))
                  .agg(F.count("*").alias("__c")).collect())
    below = 0
    cand = {}                        # bucket id -> below-count offset
    for b, c in hist:
        if any(below <= k < below + c for k in targets):
            cand[b] = below
        below += c
    spark = vals.sparkSession
    offs = spark.createDataFrame(
        [(int(b), int(o)) for b, o in cand.items()],
        "__b long, __off long")
    ranked = (vals.withColumn("__b", bkt)
              .join(F.broadcast(offs), "__b")
              .select("__v",
                      (F.row_number().over(
                          Window.partitionBy("__b").orderBy("__v"))
                       - 1 + F.col("__off")).alias("__k")))
    picks = dict(ranked.where(
        F.col("__k").isin(*[int(k) for k in targets]))
        .select("__k", "__v").collect())
    out = []
    for f in fracs:
        r = (n - 1) * f
        k0, k1 = int(math.floor(r)), int(math.ceil(r))
        lo_v, hi_v = picks[k0], picks[k1]
        # EXACT mirror of Spark's builtin `percentile`
        # (Percentile.getPercentile): equal neighbors short-circuit to
        # the value itself, else the SYMMETRIC two-weight form
        # (ceil(pos)-pos)*lo + (pos-floor(pos))*hi in that evaluation
        # order.  Neither `lo + d*(hi-lo)` nor `(1-d)*lo + d*hi` is
        # IEEE-equivalent to it on all inputs — hypothesis found both
        # divergence classes (equal neighbors at 883011.9999999999
        # under the plain symmetric form; a 2-ulp drift at
        # lo=-126371.486..., hi=0, d=0.90625 under the lerp form) —
        # and the selection paths promise bit-equality with the
        # builtin buffer paths.
        if lo_v == hi_v:
            out.append(float(lo_v))
        else:
            out.append(float((math.ceil(r) - r) * lo_v
                             + (r - math.floor(r)) * hi_v))
    return out


def selection_percentile(
    df: DataFrame,
    value_col: str,
    frac: float = 0.5,
    buckets: int = 65536,
) -> DataFrame:
    """1-row DataFrame ``(value double)`` wrapper over
    :func:`selection_percentiles` for the single-fraction case (the
    theil_sen slope-median consumer)."""
    val = selection_percentiles(df, value_col, [frac], buckets)[0]
    return df.sparkSession.range(1).select(
        F.lit(val).cast("double").alias("value"))


def msprt_two_sample(
    df: DataFrame,
    time_col: str,
    value_col: str,
    treat_col: str,
    sigma2: float,
    tau2: float = 1.0,
    value_scale: int = 1000,
    round_dp: int = 4,
) -> DataFrame:
    """Always-valid sequential two-sample test: the mixture Sequential
    Probability Ratio Test (Johari, Koomen, Pekelis & Walsh, KDD'17 /
    "Peeking at A/B tests") with a Gaussian prior of variance ``tau2``
    on the lift and design-time variance ``sigma2``. Unlike a fixed-
    horizon z-test, the p-value sequence is valid under CONTINUOUS
    monitoring: p_t = min(1, 1/max_{s<=t} Lambda_s) never lies no matter
    when the experimenter stops.

        ln Lambda_t = 0.5 ln(V_t / (V_t + tau2))
                      + delta_t^2 * tau2 / (2 V_t (V_t + tau2)),
        V_t = sigma2 (1/n_a + 1/n_b)   (theta_0 = 0).

    Physical shape: ONE data-sized aggregate to per-period arm sums
    (map-side combined), then all cumulative statistics are windows over
    the period-count-sized series — the unpartitioned ordered window is
    over days, not rows (partition by experiment id when running many
    experiments at once). Values are quantized to ``1/value_scale``
    units and summed as exact integers (sums stay below 2^53 up to
    ~1e12 rows at unit scale; raise the scale's decimal type if your
    metric needs more), so every cumulative statistic is exact and the
    sequence is identical on any engine and any partitioning.

    Output per period: (time_col, n_a, n_b, delta, ln_lambda, p_value);
    periods where either arm is still empty report NULL test columns.
    """
    day = F.col(time_col)
    treat = F.col(treat_col)
    vq = F.round(F.col(value_col).cast("double") * F.lit(float(value_scale)),
                 0).cast("bigint")
    per = (df.groupBy(day.alias("__t"))
           .agg(F.count(F.when(treat, 1)).alias("__na"),
                F.coalesce(F.sum(F.when(treat, vq)), F.lit(0))
                .alias("__sa"),
                F.count(F.when(~treat, 1)).alias("__nb"),
                F.coalesce(F.sum(F.when(~treat, vq)), F.lit(0))
                .alias("__sb")))
    w = Window.orderBy("__t").rowsBetween(Window.unboundedPreceding, 0)
    cum = per.select(
        "__t",
        F.sum("__na").over(w).alias("na"),
        F.sum("__sa").over(w).alias("sa"),
        F.sum("__nb").over(w).alias("nb"),
        F.sum("__sb").over(w).alias("sb"))
    scale = F.lit(float(value_scale))
    mean_a = F.col("sa").cast("double") / scale / F.col("na")
    mean_b = F.col("sb").cast("double") / scale / F.col("nb")
    delta = mean_a - mean_b
    v_t = (F.lit(float(sigma2))
           * (F.lit(1.0) / F.col("na") + F.lit(1.0) / F.col("nb")))
    t2 = F.lit(float(tau2))
    lnl = (F.lit(0.5) * F.log(v_t / (v_t + t2))
           + delta * delta * t2 / (F.lit(2.0) * v_t * (v_t + t2)))
    nudge = F.lit(10.0 ** -(round_dp + 5))
    lnl_r = F.round(lnl + nudge, round_dp)
    both = (F.col("na") > 0) & (F.col("nb") > 0)
    staged = cum.select(
        "__t", "na", "nb",
        F.when(both, F.round(delta + nudge, round_dp)).cast("double")
        .alias("delta"),
        F.when(both, lnl_r).cast("double").alias("ln_lambda"))
    runmax = F.max("ln_lambda").over(
        Window.orderBy("__t").rowsBetween(Window.unboundedPreceding, 0))
    return staged.select(
        F.col("__t").alias(time_col),
        F.col("na").cast("bigint").alias("n_a"),
        F.col("nb").cast("bigint").alias("n_b"),
        "delta", "ln_lambda",
        F.round(F.least(F.lit(1.0), F.exp(-runmax)) + nudge, round_dp)
        .cast("double").alias("p_value"))
