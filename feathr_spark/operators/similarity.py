"""Similarity search over embedding columns (array<float>).

Baseline: brute-force cosine top-k — broadcast the (small) query set,
compute dot products with builtin higher-order functions (JVM-side), and
take per-query top-k with a rank window. Scale path: LSH bucketing
(random-hyperplane signs) and IVF (centroid routing) limit each query to
a fraction of the corpus; both are pure DataFrame pipelines with
deterministic seeded projections.
"""

from __future__ import annotations

import math
from typing import List, Optional

import numpy as np
import pandas as pd

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from ._partition import spread_by


def dot(a: Column, b: Column) -> Column:
    return F.aggregate(F.zip_with(a, b, lambda x, y: x * y),
                       F.lit(0.0), lambda acc, x: acc + x)


def l2_norm(a: Column) -> Column:
    return F.sqrt(F.aggregate(a, F.lit(0.0), lambda acc, x: acc + x * x))


def cosine(a: Column, b: Column) -> Column:
    denom = l2_norm(a) * l2_norm(b)
    return F.when(denom > 0, dot(a, b) / denom).otherwise(F.lit(0.0))


# NOTE (measured, sf0.1, Spark 4.1): statically unrolling dot/norm into
# 64-term GetArrayItem chains is ~3-5x SLOWER than the higher-order-function
# fold — the giant expression falls out of whole-stage codegen into
# interpreted evaluation, while zip_with/aggregate lambdas are evaluated
# efficiently. Keep vector math in HOFs.


def _planes(n_planes: int, dim: int, seed: int = 0) -> List[List[float]]:
    """Deterministic pseudo-random unit-ish hyperplanes (LCG-based — no RNG
    state, reproducible everywhere). ``seed`` derives independent plane
    families for multi-table LSH."""
    out = []
    state = (0x853C49E6748FEA9B + 0x9E3779B97F4A7C15 * seed) % (1 << 63)
    for _ in range(n_planes):
        v = []
        for _ in range(dim):
            state = (state * 6364136223846793005 + 1442695040888963407) % (1 << 63)
            v.append((state / float(1 << 63)) * 2.0 - 1.0)
        out.append(v)
    return out


def lsh_bucket(vec: Column, n_planes: int = 16, dim: int = 64,
               seed: int = 0) -> Column:
    """Random-hyperplane signature: bit i = sign(vec · plane_i). Returns a
    bigint bucket id. Planes are fixed literals — evaluated JVM-side.

    Pure-expression form — fine for a handful of planes (IVF's coarse
    bucket). For many planes × many tables use :func:`lsh_buckets_all`:
    the stacked higher-order-function expression tree falls out of
    whole-stage codegen and evaluates interpreted at ~10 µs per array
    element (measured: 24 tables × 4 planes × 64 dims ≈ 7 s for 2 000
    rows on 32 cores), while one Arrow-batched matmul does the same work
    in milliseconds."""
    planes = _planes(n_planes, dim, seed)
    bucket = F.lit(0).cast("bigint")
    for i, p in enumerate(planes):
        plane = F.array(*[F.lit(x) for x in p])
        bit = F.when(dot(vec, plane) >= 0,
                     F.shiftleft(F.lit(1).cast("bigint"), i)).otherwise(F.lit(0).cast("bigint"))
        bucket = bucket.bitwiseOR(bit)
    return bucket


def lsh_buckets_all(vec: Column, n_planes: int, n_tables: int,
                    dim: int = 64) -> Column:
    """Hyperplane buckets for ALL tables in one vectorized pass: returns
    ``array<long>`` with element t = the table-t bucket of ``vec`` (same
    plane families as ``lsh_bucket(..., seed=t)``).

    One Arrow-batched pandas UDF does a single (batch × dim) @
    (dim × tables·planes) matmul and packs sign bits per table — the
    per-row cost is a few dozen fused flops instead of tables × planes
    interpreted higher-order-function folds (~1000× measured at 24×4).
    Bit semantics match ``lsh_bucket`` (bit i set iff dot ≥ 0); only the
    float summation order differs, so a dot within one ulp of zero may
    bucket differently — irrelevant for an approximate candidate
    generator. Rows shorter than ``dim`` are zero-padded (the expression
    form nulls the dot instead; both land in a deterministic bucket).
    """
    from pyspark.sql.functions import pandas_udf

    mat = np.array([_planes(n_planes, dim, seed=t) for t in range(n_tables)],
                   dtype=np.float64).reshape(n_tables * n_planes, dim).T
    weights = (np.int64(1) << np.arange(n_planes, dtype=np.int64))

    @pandas_udf("array<bigint>")
    def _buckets(col: pd.Series) -> pd.Series:
        if col.empty:
            return pd.Series([], dtype=object)
        x = np.zeros((len(col), dim), dtype=np.float64)
        for i, v in enumerate(col.to_numpy()):
            if v is None:
                continue
            a = np.asarray(v, dtype=np.float64)[:dim]
            x[i, :a.shape[0]] = np.nan_to_num(a)
        signs = (x @ mat) >= 0.0                     # (n, tables*planes)
        bits = signs.reshape(len(col), n_tables, n_planes).astype(np.int64)
        buckets = (bits * weights).sum(axis=2)       # (n, tables)
        return pd.Series(list(buckets))

    return _buckets(vec)


def _two_stage_topk(scored: DataFrame, k: int) -> DataFrame:
    """Per-query top-k without hot partitions. A single rank window over
    ``partitionBy(query_id)`` shuffles EVERY scored row onto n_query
    partitions — with a small query set that is a handful of hot
    partitions holding all candidates. Stage 1 ranks within
    (input-partition, query) — the partition id spreads the shuffle
    uniformly — keeping at most k rows per (partition, query); stage 2
    ranks the ≤ k·n_partitions·n_query survivors, which is tiny.

    Input: (query_id, neighbor_id, __score). Output: (query_id, rank,
    neighbor_id, score) with rank 1-based, ties broken by neighbor_id.

    Ranking happens on ``__score`` AS PROVIDED — callers that round
    scores for output (all three ANN entry points round to 4dp) must
    round BEFORE ranking, so the rank order and the emitted scores agree
    with each other and with a SQL oracle ranking the same rounded
    values (round-before-rank convention; candidates closer than 5e-5
    tie-break deterministically on neighbor_id instead of float noise).
    """
    local_w = Window.partitionBy("__pid", "query_id").orderBy(
        F.col("__score").desc(), F.col("neighbor_id").asc())
    local = (scored.withColumn("__pid", F.spark_partition_id())
             .withColumn("__lr", F.row_number().over(local_w))
             .where(F.col("__lr") <= k).drop("__pid", "__lr"))
    w = Window.partitionBy("query_id").orderBy(
        F.col("__score").desc(), F.col("neighbor_id").asc())
    return (local.withColumn("rank", F.row_number().over(w))
            .where(F.col("rank") <= k)
            .select("query_id", F.col("rank").cast("bigint").alias("rank"),
                    "neighbor_id", F.col("__score").alias("score")))


def cosine_pairs_exact(
    df: DataFrame,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    threshold: float = 0.45,
    round_dp: int = 4,
) -> DataFrame:
    """Exact all-pairs cosine ≥ threshold (the small-corpus baseline; the
    LSH/IVF paths are the 100 TB story — all-pairs is O(n²) by definition).

    Physical shape: per-row L2 norms are computed once, the right side is
    broadcast, and the left side is hash-repartitioned so the nested-loop
    product is partition-parallel instead of a single task. The per-pair
    work is one dot product + one divide. The float formula and
    association are identical to ``cosine()``, so rounded scores match SQL
    oracles bit-for-bit.
    """
    v = df.select(F.col(id_col).alias("__id"),
                  F.col(vec_col).cast("array<double>").alias("__v"))
    withn = v.select("__id", "__v", l2_norm(F.col("__v")).alias("__n"))
    left = spread_by(withn, F.col("__id")).alias("a")
    right = F.broadcast(withn).alias("b")
    # Join condition carries ONLY the cheap id ordering. Scoring happens in
    # the projection above, and the persist() seals the plan so the
    # threshold filter cannot be predicate-pushed back into the
    # nested-loop join condition — otherwise Catalyst inlines the whole
    # dot-product expression there and evaluates it for all n² id
    # combinations instead of the n²/2 surviving pairs (and then again in
    # the project). Cache size is one (id,id,double) row per pair.
    pairs = left.join(right, F.col("a.__id") < F.col("b.__id"))
    denom = F.col("a.__n") * F.col("b.__n")
    score = F.when(denom > 0, dot(F.col("a.__v"), F.col("b.__v")) / denom) \
        .otherwise(F.lit(0.0))
    scored = pairs.select(F.col("a.__id").alias("id_a"),
                          F.col("b.__id").alias("id_b"),
                          F.round(score, round_dp).cast("double").alias("cosine")
                          ).persist()
    return scored.where(F.col("cosine") >= threshold)


def cosine_topk(
    corpus: DataFrame,
    queries: DataFrame,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    k: int = 5,
    exclude_self: bool = True,
) -> DataFrame:
    """Brute-force cosine top-k: per query row, the k nearest corpus rows.

    The query side is broadcast (small); the corpus side is repartitioned
    (a single-file local read is otherwise ONE task) and scanned once fully
    partition-parallel — no wide shuffle until the final per-query top-k.
    Output: (query_id, rank, neighbor_id, score), rank 1-based.
    """
    # norms are computed ONCE PER ROW before the pair loop (same
    # expression, so the same double as cosine()'s inline norms — but a
    # pair costs one array fold + one multiply instead of three folds;
    # measured ~3x on the sf0.1 knn_agreement run)
    c = corpus.select(F.col(id_col).alias("neighbor_id"),
                      F.col(vec_col).cast("array<double>").alias("__cv"))
    c = c.select("neighbor_id", "__cv", l2_norm(F.col("__cv")).alias("__cn"))
    q = queries.select(F.col(id_col).alias("query_id"),
                       F.col(vec_col).cast("array<double>").alias("__qv"))
    q = q.select("query_id", "__qv", l2_norm(F.col("__qv")).alias("__qn"))
    joined = spread_by(c, F.col("neighbor_id")).join(
        F.broadcast(q), on=None, how="cross")
    if exclude_self:
        joined = joined.where(F.col("query_id") != F.col("neighbor_id"))
    # rank on 4-dp-rounded scores: makes the top-k reproducible across
    # engines/summation orders (ulp differences cannot flip ranks).
    # denom keeps cosine()'s (query-norm x corpus-norm) multiply order —
    # bit-identical to the inline form.
    denom = F.col("__qn") * F.col("__cn")
    score = F.when(denom > 0,
                   dot(F.col("__qv"), F.col("__cv")) / denom) \
        .otherwise(F.lit(0.0))
    scored = joined.select(
        "query_id", "neighbor_id",
        F.round(score, 4).cast("double").alias("__score"))
    return _two_stage_topk(scored, k)


def lsh_topk(
    corpus: DataFrame,
    queries: DataFrame,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    k: int = 5,
    n_planes: int = 8,
    dim: int = 64,
    n_tables: int = 1,
) -> DataFrame:
    """Approximate top-k: candidates restricted to the query's LSH bucket(s)
    (plus exact rescoring within them). One table scans ~2^-planes of the
    corpus per query; ``n_tables`` independent plane families (standard
    multi-table LSH) union their buckets before rescoring, trading scan
    fraction (~L/2^planes) for recall — the knob that makes hyperplane LSH
    usable on weakly-clustered embeddings. Candidate dedup happens on the
    (query_id, neighbor_id) pair before any scoring."""
    c = corpus.select(F.col(id_col).alias("neighbor_id"),
                      F.col(vec_col).cast("array<double>").alias("__cv"))
    q = queries.select(F.col(id_col).alias("query_id"),
                       F.col(vec_col).cast("array<double>").alias("__qv"))
    # one (table, bucket) row per input row per table; join key carries the
    # table id so buckets from different plane families never collide. All
    # tables' buckets come from ONE Arrow-batched matmul per side
    # (lsh_buckets_all), not tables × planes interpreted HOF folds.
    c_b = c.select("neighbor_id", "__cv", F.posexplode(
        lsh_buckets_all(F.col("__cv"), n_planes, n_tables, dim)
    ).alias("__table", "__bucket"))
    q_b = q.select("query_id", "__qv", F.posexplode(
        lsh_buckets_all(F.col("__qv"), n_planes, n_tables, dim)
    ).alias("__table", "__bucket"))
    joined = c_b.join(F.broadcast(q_b), on=["__table", "__bucket"]) \
        .where(F.col("query_id") != F.col("neighbor_id")) \
        .dropDuplicates(["query_id", "neighbor_id"])
    scored = joined.select(
        "query_id", "neighbor_id",
        F.round(cosine(F.col("__qv"), F.col("__cv")), 4).cast("double").alias("__score"))
    return _two_stage_topk(scored, k)


def ivf_topk(
    corpus: DataFrame,
    queries: DataFrame,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    k: int = 5,
    n_centroids: int = 16,
    n_probe: int = 4,
) -> DataFrame:
    """IVF-style ANN: centroids = elementwise mean per LSH coarse bucket
    (one distributed pass, deterministic); corpus rows are assigned to their
    nearest centroid; each query probes its `n_probe` nearest centroids and
    rescores only those inverted lists. All joins broadcast the tiny
    centroid table; the corpus shuffles once on centroid id."""
    planes = max(1, int(math.log2(n_centroids)))
    c = corpus.select(F.col(id_col).alias("neighbor_id"),
                      F.col(vec_col).cast("array<double>").alias("__cv"))
    coarse = c.withColumn("__cb", lsh_bucket(F.col("__cv"), planes))
    # centroid = elementwise mean of its coarse bucket (posexplode → avg)
    cent = (coarse.select("__cb", F.posexplode("__cv").alias("pos", "v"))
            .groupBy("__cb", "pos").agg(F.avg("v").alias("m"))
            .groupBy("__cb").agg(F.transform(
                F.array_sort(F.collect_list(F.struct("pos", "m"))),
                lambda s: s.m).alias("__centroid")))
    assigned = coarse.join(F.broadcast(cent), on="__cb") \
        .select("neighbor_id", "__cv", F.col("__cb").alias("__list"))

    q = queries.select(F.col(id_col).alias("query_id"),
                       F.col(vec_col).cast("array<double>").alias("__qv"))
    qc = q.crossJoin(F.broadcast(cent)).select(
        "query_id", "__qv", "__cb",
        cosine(F.col("__qv"), F.col("__centroid")).alias("__cs"))
    wq = Window.partitionBy("query_id").orderBy(F.col("__cs").desc(), F.col("__cb").asc())
    probes = qc.withColumn("__r", F.row_number().over(wq)) \
        .where(F.col("__r") <= n_probe).select("query_id", "__qv",
                                               F.col("__cb").alias("__list"))

    joined = assigned.join(F.broadcast(probes), on="__list") \
        .where(F.col("query_id") != F.col("neighbor_id"))
    scored = joined.select(
        "query_id", "neighbor_id",
        F.round(cosine(F.col("__qv"), F.col("__cv")), 4).cast("double").alias("__score"))
    return _two_stage_topk(scored, k)


def random_projection(
    df: DataFrame,
    vec_col: str = "embedding",
    out_dim: int = 16,
    dim: int = 64,
    seed: int = 0,
    out_col: str = "projected",
) -> DataFrame:
    """Johnson–Lindenstrauss dimensionality reduction: project each
    vector through a deterministic ±1/√d sign matrix — the standard
    cheap pre-step that shrinks embedding scan/shuffle cost ~dim/out_dim
    before ANN or clustering while approximately preserving pairwise
    distances (JL lemma: distortion ≤ ε needs out_dim ≈ 8·ln n / ε²).

    The sign matrix entry R[j][i] is the parity of
    ``md5(f"{seed}_{j}_{i}")``'s leading 60 bits — data-independent, so
    it is computed ONCE driver-side with hashlib and embedded as plan
    literals: at runtime each component is a single codegen'd
    ``zip_with`` + ``aggregate`` fold over the input array, zero
    hashing, zero shuffle, no UDF. The same md5 formula is trivially
    reproducible in any SQL engine (portable_hash64 family), which is
    what gives the driver query an exact independent oracle.

    ``dim`` must match the input vector length (plan-time constant —
    the matrix is baked into the expression tree).

    Output: input columns + ``out_col`` array<double> of ``out_dim``.
    """
    import hashlib
    inv_sqrt = 1.0 / math.sqrt(out_dim)

    def sign(j: int, i: int) -> float:
        h = hashlib.md5(f"{seed}_{j}_{i}".encode()).hexdigest()
        return 1.0 if int(h[:15], 16) % 2 == 0 else -1.0

    v = F.col(vec_col).cast("array<double>")

    def component(i: int) -> Column:
        signs = F.array(*[F.lit(sign(j, i) * inv_sqrt)
                          for j in range(dim)])
        return F.aggregate(F.zip_with(v, signs, lambda x, r: x * r),
                           F.lit(0.0), lambda acc, x: acc + x)

    return df.withColumn(out_col,
                         F.array(*[component(i) for i in range(out_dim)]))


def gram_matrix(df: DataFrame, vec_col: str = "embedding",
                quantize_dp: int = 6, use_arrow: bool = True) -> DataFrame:
    """Upper-triangle Gram matrix G[i,j] = Σ_rows v[i]·v[j] of a vector
    column — the d²-bounded sufficient statistic behind PCA, ridge
    regression and whitening, computed WITHOUT ever collecting the
    vectors.

    Plan: two row-local posexplodes fan each row into its d(d+1)/2
    upper-triangle products, then ONE (i, j) aggregate whose map-side
    partial combine caps every task's shuffle output at d(d+1)/2 rows
    — corpus size never reaches the exchange. Components quantize to
    integer micro-units (``quantize_dp`` dp), the per-pair product is
    a cheap exact BIGINT multiply, and only the SUM widens to DECIMAL
    (overflow-safe at any corpus size) — exact, order-independent,
    bit-identical on any engine.

    The default path is ONE Arrow ``mapInPandas`` pass: each partition
    computes its integer partial Gram with a numpy int64 matmul and
    emits exactly d(d+1)/2 rows — the same per-partition-matmul shape
    as the ANN scorers. Rounding is half-away-from-zero to match
    Spark/DuckDB ``round`` exactly. int64 partials are exact while
    ``rows_per_partition × (scale·|v|_max)² < 2^63`` (≈1M rows per
    partition at |v| ≤ 3, the default file-split sizing); the
    cross-partition SUM widens to DECIMAL. ``use_arrow=False`` selects
    a pure-JVM double-posexplode fallback with identical output.

    Output: (i, j, g) for 0 <= i <= j < d.
    """
    scale = 10 ** quantize_dp
    if use_arrow:
        import numpy as np
        import pandas as pd

        def _partials(it):
            for pdf in it:
                if pdf.empty:
                    continue
                M = np.stack(pdf[vec_col].to_numpy())
                X = M.astype(np.float64) * scale
                Q = (np.floor(np.abs(X) + 0.5)
                     * np.sign(X)).astype(np.int64)
                G = Q.T @ Q
                iu = np.triu_indices(G.shape[0])
                yield pd.DataFrame({"i": iu[0].astype(np.int64),
                                    "j": iu[1].astype(np.int64),
                                    "p": G[iu]})

        parts = (df.select(vec_col)
                 .mapInPandas(_partials, "i long, j long, p long"))
        return (parts.groupBy("i", "j")
                .agg(F.sum(F.col("p").cast("decimal(38,0)"))
                     .alias("__g"))
                .select(F.col("i").cast("bigint").alias("i"),
                        F.col("j").cast("bigint").alias("j"),
                        (F.col("__g").cast("double")
                         / F.lit(float(scale) * scale)).alias("g")))
    e = df.select(F.posexplode(F.col(vec_col)).alias("__i", "__vi"),
                  F.col(vec_col).alias("__v"))
    e = e.select(
        "__i",
        F.round(F.col("__vi").cast("double") * scale, 0).cast("bigint")
        .alias("__qi"),
        F.posexplode(F.slice(F.col("__v"), F.col("__i") + 1,
                             F.size(F.col("__v")))).alias("__dj", "__vj"))
    e = e.select(
        "__i", (F.col("__i") + F.col("__dj")).alias("__j"),
        (F.col("__qi")
         * F.round(F.col("__vj").cast("double") * scale, 0)
         .cast("bigint")).alias("__p"))
    return (e.groupBy("__i", "__j")
            .agg(F.sum(F.col("__p").cast("decimal(38,0)")).alias("__g"))
            .select(F.col("__i").cast("bigint").alias("i"),
                    F.col("__j").cast("bigint").alias("j"),
                    (F.col("__g").cast("double")
                     / F.lit(float(scale) * scale)).alias("g")))


def pca_components(df: DataFrame, vec_col: str = "embedding",
                   k: int = 2, quantize_dp: int = 6):
    """Top-k principal components of a vector column: mean-center via
    the covariance identity ``C = (G - n·μμᵀ) / (n-1)`` where G is the
    :func:`gram_matrix` statistic, then eigensolve the d×d matrix on
    the driver (numpy) — the pq/clustering bounded-collect discipline:
    driver traffic is d² + d values whatever the corpus size.

    Returns ``(components, explained_ratio)``: a (k, d) numpy array of
    unit eigenvectors (sign-normalized: largest-|coord| entry positive)
    and the fraction of variance each explains.
    """
    import numpy as np

    first = df.select(F.size(F.col(vec_col)).alias("__d")).first()
    if first is None:
        raise ValueError("pca_components: empty input")
    d = first["__d"]
    gm = gram_matrix(df, vec_col, quantize_dp).collect()
    stats = df.select(
        F.count(F.lit(1)).alias("__n"),
        *[F.sum(F.round(F.col(vec_col)[i].cast("double"), quantize_dp)
                .cast("decimal(18,6)")).cast("double").alias(f"__s{i}")
          for i in range(d)]).first()
    n = stats["__n"]
    if n < 2:
        raise ValueError("pca_components: need >= 2 rows")
    mu = np.array([stats[f"__s{i}"] for i in range(d)]) / n
    G = np.zeros((d, d))
    for r in gm:
        G[r.i, r.j] = G[r.j, r.i] = r.g
    C = (G - n * np.outer(mu, mu)) / (n - 1)
    vals, vecs = np.linalg.eigh(C)
    order = np.argsort(vals)[::-1][:k]
    comps = []
    for idx in order:
        v = vecs[:, idx]
        if v[np.argmax(np.abs(v))] < 0:
            v = -v
        comps.append(v)
    total = float(vals.sum()) if vals.sum() > 0 else 1.0
    ratio = [float(vals[idx]) / total for idx in order]
    return np.array(comps), ratio


def knn_label_agreement(
    df: DataFrame,
    queries: DataFrame,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    label_col: str = "label",
    k: int = 5,
) -> DataFrame:
    """k-NN label-agreement audit: for each query row, the fraction of
    its k cosine-nearest corpus neighbors that share its label, plus the
    neighborhood's majority label. The confident-learning-style label-
    noise detector for embedded training data (Northcutt et al., JAIR
    2021 reduced to its kNN core): rows whose neighborhoods disagree
    with their recorded label are mislabel/boundary candidates to gate
    or re-annotate before training.

    Built on :func:`cosine_topk` (query side broadcast, corpus scanned
    once partition-parallel, ranks decided on 4-dp-rounded scores with
    id tie-breaks — cross-engine reproducible); the label joins are
    id-keyed broadcasts of the query frame. Agreement fractions are
    exact multiples of 1/k and the majority label breaks ties
    lexicographically on exact counts, so output is engine-portable
    with no float rounding at all.

    Output: (id_col, label_col, knn_pred, agree_frac) per query row.
    """
    from pyspark.sql import Window
    nn = cosine_topk(df, queries, vec_col, id_col, k=k)
    labels = df.select(F.col(id_col).alias("__lid"),
                       F.col(label_col).cast("string").alias("__lbl"))
    qlab = queries.select(F.col(id_col).alias("query_id"),
                          F.col(label_col).cast("string").alias("__qlbl"))
    joined = (nn.join(labels, nn["neighbor_id"] == labels["__lid"])
              .join(F.broadcast(qlab), "query_id"))
    votes = (joined.groupBy("query_id", "__qlbl", "__lbl")
             .agg(F.count("*").alias("__v")))
    w = Window.partitionBy("query_id").orderBy(
        F.col("__v").desc(), F.col("__lbl").asc())
    best = (votes.withColumn("__rk", F.row_number().over(w))
            .withColumn("__agree",
                        F.sum(F.when(F.col("__lbl") == F.col("__qlbl"),
                                     F.col("__v")).otherwise(F.lit(0)))
                        .over(Window.partitionBy("query_id")))
            .withColumn("__ktot",
                        F.sum("__v").over(Window.partitionBy("query_id")))
            .where(F.col("__rk") == 1))
    return best.select(
        F.col("query_id").alias(id_col),
        F.col("__qlbl").alias(label_col),
        F.col("__lbl").alias("knn_pred"),
        (F.col("__agree").cast("double") / F.col("__ktot"))
        .alias("agree_frac"))


def dot_topk(
    corpus: DataFrame,
    queries: DataFrame,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    k: int = 5,
    exclude_self: bool = True,
) -> DataFrame:
    """Brute-force inner-product top-k — cosine_topk without the norm
    (maximum-inner-product retrieval, the recommender-scoring variant;
    comparing its ranking against cosine's via rank_overlap_rbo reads
    out how norm-sensitive a corpus is). Same physical shape: query
    side broadcast, corpus scanned once partition-parallel, ranks on
    4-dp-rounded scores with id tie-breaks."""
    c = corpus.select(F.col(id_col).alias("neighbor_id"),
                      F.col(vec_col).cast("array<double>").alias("__cv"))
    q = queries.select(F.col(id_col).alias("query_id"),
                       F.col(vec_col).cast("array<double>").alias("__qv"))
    joined = spread_by(c, F.col("neighbor_id")).join(
        F.broadcast(q), on=None, how="cross")
    if exclude_self:
        joined = joined.where(F.col("query_id") != F.col("neighbor_id"))
    scored = joined.select(
        "query_id", "neighbor_id",
        F.round(dot(F.col("__qv"), F.col("__cv")), 4).cast("double")
        .alias("__score"))
    return _two_stage_topk(scored, k)


def cosine_and_dot_topk(
    corpus: DataFrame,
    queries: DataFrame,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    k: int = 5,
) -> tuple:
    """Both brute-force rankings (cosine AND inner-product) from ONE
    scoring pass; self-matches are ALWAYS excluded (the fixed
    ``exclude_self=True`` behavior of the two functions this fuses —
    callers needing self-matches must use those directly).

    r11: running :func:`cosine_topk` and :func:`dot_topk`
    separately scans the corpus × queries pair space twice, but the two
    scores share the dot product — the only per-pair work cosine adds is
    one divide by the hoisted norms. One joined+scored frame (persisted,
    pair-sized ids+scores only) feeds both two-stage top-k's.

    Value-identical to the separate runs: the dot fold, the norm
    product, the when(denom>0) guard and the 4-dp round are the same
    expressions evaluated on the same operands (the shared dot
    projection stays materialized — Catalyst keeps non-cheap
    multiply-referenced aliases split), and the two-stage top-k ranks
    on the identical rounded scores with the identical id tie-breaks.

    Returns ``(cosine_run, dot_run)`` with the cached scored frame
    attached to the cosine run for release.
    """
    from ._cache import attach_intermediates
    c = corpus.select(F.col(id_col).alias("neighbor_id"),
                      F.col(vec_col).cast("array<double>").alias("__cv"))
    c = c.select("neighbor_id", "__cv", l2_norm(F.col("__cv")).alias("__cn"))
    q = queries.select(F.col(id_col).alias("query_id"),
                       F.col(vec_col).cast("array<double>").alias("__qv"))
    q = q.select("query_id", "__qv", l2_norm(F.col("__qv")).alias("__qn"))
    joined = spread_by(c, F.col("neighbor_id")).join(
        F.broadcast(q), on=None, how="cross") \
        .where(F.col("query_id") != F.col("neighbor_id"))
    withd = joined.select(
        "query_id", "neighbor_id", "__qn", "__cn",
        dot(F.col("__qv"), F.col("__cv")).alias("__d"))
    denom = F.col("__qn") * F.col("__cn")
    cos = F.when(denom > 0, F.col("__d") / denom).otherwise(F.lit(0.0))
    scored = withd.select(
        "query_id", "neighbor_id",
        F.round(cos, 4).cast("double").alias("__sc"),
        F.round(F.col("__d"), 4).cast("double").alias("__sd")).persist()
    run_cos = _two_stage_topk(
        scored.select("query_id", "neighbor_id",
                      F.col("__sc").alias("__score")), k)
    run_dot = _two_stage_topk(
        scored.select("query_id", "neighbor_id",
                      F.col("__sd").alias("__score")), k)
    return attach_intermediates(run_cos, (scored,)), run_dot


def hard_negatives(
    corpus: DataFrame,
    queries: DataFrame,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    k: int = 5,
    label_col: Optional[str] = None,
    positives: Optional[DataFrame] = None,
    min_score: Optional[float] = None,
    max_score: Optional[float] = None,
) -> DataFrame:
    """Hard-negative mining for contrastive/embedding training: per
    query, the ``k`` highest-cosine corpus rows that are NOT positives
    — the standard way to build (anchor, negative) pairs that actually
    carry gradient (random negatives are trivially separable; the hard
    ones near the decision boundary do the teaching).

    Exclusions compose:

    * self is always excluded;
    * ``label_col``: rows sharing the query's label are in-batch
      positives, excluded (NULL labels are unknown, never treated as
      positive — kept);
    * ``positives``: an explicit (query_id, neighbor_id) pair frame of
      known positives, removed by anti-join (ids aliased from its
      first two columns);
    * ``min_score``/``max_score``: the semi-hard band. ``max_score``
      guards against FALSE negatives (a 0.99-cosine "negative" is
      usually an unlabeled duplicate — mining it poisons the loss);
      ``min_score`` drops too-easy negatives. Bounds apply to the
      4-dp-rounded score, inclusive low / exclusive high, so the band
      cut is cross-engine exact.

    Physical shape = ``cosine_topk``: query side broadcast, corpus
    scanned once partition-parallel with per-row norms hoisted, every
    exclusion a pushed row-local predicate inside the scan stage, then
    the two-stage top-k (no hot query partitions). The optional
    positives anti-join is pair-frame-sized. Ranks on rounded scores
    with neighbor-id tie-breaks (round-before-rank convention).

    Output: (query_id, rank, neighbor_id, score), rank 1-based.
    """
    has_label = label_col is not None
    ccols = [F.col(id_col).alias("neighbor_id"),
             F.col(vec_col).cast("array<double>").alias("__cv")]
    qcols = [F.col(id_col).alias("query_id"),
             F.col(vec_col).cast("array<double>").alias("__qv")]
    if has_label:
        ccols.append(F.col(label_col).alias("__cl"))
        qcols.append(F.col(label_col).alias("__ql"))
    c = corpus.select(*ccols)
    c = c.select("*", l2_norm(F.col("__cv")).alias("__cn"))
    q = queries.select(*qcols)
    q = q.select("*", l2_norm(F.col("__qv")).alias("__qn"))
    joined = spread_by(c, F.col("neighbor_id")).join(
        F.broadcast(q), on=None, how="cross")
    joined = joined.where(F.col("query_id") != F.col("neighbor_id"))
    if has_label:
        joined = joined.where(
            F.col("__ql").isNull() | F.col("__cl").isNull()
            | (F.col("__ql") != F.col("__cl")))
    denom = F.col("__qn") * F.col("__cn")
    score = F.when(denom > 0,
                   dot(F.col("__qv"), F.col("__cv")) / denom) \
        .otherwise(F.lit(0.0))
    scored = joined.select(
        "query_id", "neighbor_id",
        F.round(score, 4).cast("double").alias("__score"))
    if min_score is not None:
        scored = scored.where(F.col("__score") >= float(min_score))
    if max_score is not None:
        scored = scored.where(F.col("__score") < float(max_score))
    if positives is not None:
        pq, pn = positives.columns[:2]
        pos = positives.select(F.col(pq).alias("query_id"),
                               F.col(pn).alias("neighbor_id"))
        scored = scored.join(F.broadcast(pos),
                             ["query_id", "neighbor_id"], "left_anti")
    return _two_stage_topk(scored, k)
