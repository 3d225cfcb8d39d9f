"""Distributed k-means over embedding columns + SemDeDup-style semantic
deduplication (cluster, then pair only within clusters), and the one
Lloyd's kernel behind both k-means and PQ codebook training (``pq.py``).

The reference's expression DSL delegates scalar work to Spark SQL
(`/root/reference/feathr-rs/src/model.rs:248-253`); embedding clustering
is an engine extension a training-data pipeline needs (SemDeDup, Abbas et
al. 2023: k-means the corpus embeddings, then search for near-duplicates
only inside each cluster — turning an O(n²) all-pairs problem into
Σ O(|cluster|²) with k as the knob).

Design for scale (Lloyd's algorithm, Spark-first — the MLlib shape):
``lloyd`` fits ``m`` independent codebooks, one per contiguous subspace
of the vector, in the same passes; k-means is the ``m = 1`` case.
  * ASSIGNMENT IS ZERO-SHUFFLE AND VECTORIZED: one Arrow-batched pandas
    UDF per pass emits all ``m`` codes, each the argmin of a (batch × k)
    squared-distance matrix computed as a single matmul — a few fused
    flops per (vector, centroid), ~1000× an interpreted HOF fold (same
    trade as ``lsh_buckets_all``);
  * the centroid UPDATE shuffles only m×k×d_sub rows: ``posexplode`` the
    assigned vectors and ``groupBy(subspace, code, pos)`` with map-side
    combine — partials collapse to m×k×d_sub per task before the
    exchange;
  * centroids are the ONE documented driver action (MLlib does the same):
    m×k×d_sub doubles collected per iteration and shipped back inside the
    UDF closure — bounded state, never corpus rows;
  * per-iteration cost = one corpus scan (the caller persists the vectors
    once) + one small shuffle + one collect; the loop stops at the
    fixpoint, n_iter is a small constant (default 5).

Determinism: centroid components are quantized to 6 decimals after every
update (well above double noise, well below embedding resolution), the
centroid matrices are sorted by code, and ties break to the first/lowest
position via stable argmin/argsort — assignment is therefore a pure
per-row function, bit-stable across partitionings and runs.
"""

from __future__ import annotations

import math
from functools import partial
from typing import List, Tuple

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.functions import pandas_udf

from .similarity import _planes


def _stack(col: pd.Series) -> np.ndarray:
    """An Arrow batch of array<double> values as one (n, dim) matrix."""
    return np.stack([np.asarray(v, dtype=np.float64)
                     for v in col.to_numpy()])


def sq_dists(x: np.ndarray, cmat: np.ndarray) -> np.ndarray:
    """(n, k) squared L2 distances |x|² − 2x·c + |c|² from each row of
    ``x`` to each centroid row of ``cmat`` — one matmul. Cancellation can
    leave a few ulps below 0 for a vector sitting on its centroid."""
    return ((x * x).sum(axis=1)[:, None] - 2.0 * (x @ cmat.T)
            + (cmat * cmat).sum(axis=1)[None, :])


def nearest_codes(x: np.ndarray, mats: List[np.ndarray]) -> np.ndarray:
    """(n, m) codes: per contiguous subspace s, the POSITION of the
    nearest row of ``mats[s]`` (stable: first minimum)."""
    d_sub = x.shape[1] // len(mats)
    codes = np.empty((len(x), len(mats)), dtype=np.int32)
    for s, cmat in enumerate(mats):
        codes[:, s] = sq_dists(x[:, s * d_sub:(s + 1) * d_sub],
                               cmat).argmin(axis=1)
    return codes


def _plane_codes(x: np.ndarray, m: int, bits: int) -> np.ndarray:
    """(n, m) initial codes: per subspace s, the sign bits of the
    subvector against ``bits`` hyperplanes ``_planes(seed=s)`` of the
    subvector's own length (bit i set iff dot ≥ 0)."""
    d_sub = x.shape[1] // m
    weights = 1 << np.arange(bits)
    codes = np.empty((len(x), m), dtype=np.int32)
    for s in range(m):
        planes = np.asarray(_planes(bits, d_sub, seed=s))
        codes[:, s] = ((x[:, s * d_sub:(s + 1) * d_sub] @ planes.T)
                       >= 0) @ weights
    return codes


def _codes_udf(codes_fn):
    """Arrow-batched array<int> column of all ``m`` codes per vector."""

    @pandas_udf("array<int>")
    def _codes(col: pd.Series) -> pd.Series:
        if col.empty:
            return pd.Series([], dtype=object)
        return pd.Series(list(codes_fn(_stack(col))))

    return _codes


def _update(vecs: DataFrame, col: str, codes_fn,
            m: int) -> List[Tuple[List[int], np.ndarray]]:
    """One assignment pass + quantized mean update: per subspace, the
    (codes, code-sorted centroid matrix) of its non-empty clusters. The
    subspace width is each row's length // m, so the vector width comes
    from the data at no extra job. Codes are computed in a projection
    BELOW the posexplode, so the UDF runs once per vector, not once per
    exploded component."""
    d = F.col("__d")
    sub = (F.col("__p") / d).cast("int")
    cent = (vecs
            .select(col, (F.size(col) / m).cast("int").alias("__d"),
                    _codes_udf(codes_fn)(F.col(col)).alias("__codes"))
            .select(F.posexplode(F.col(col)).alias("__p", "__x"),
                    "__codes", "__d")
            .select(sub.alias("__s"), F.get("__codes", sub).alias("__c"),
                    (F.col("__p") % d).alias("__pos"), "__x")
            .groupBy("__s", "__c", "__pos")
            .agg(F.round(F.avg("__x"), 6).alias("__m"))
            .collect())
    if not cent:
        raise ValueError("lloyd: no vectors to fit")
    d_sub = 1 + max(r["__pos"] for r in cent)
    if any(r["__s"] >= m for r in cent):
        width = 1 + max(r["__s"] * d_sub + r["__pos"] for r in cent)
        raise ValueError(
            f"lloyd: vector width {width} not divisible by m {m}")
    books = []
    for s in range(m):
        rows = [r for r in cent if r["__s"] == s]
        cids = sorted({int(r["__c"]) for r in rows})
        mat = np.zeros((len(cids), d_sub))
        pos_of = {c: i for i, c in enumerate(cids)}
        for r in rows:
            mat[pos_of[int(r["__c"])], int(r["__pos"])] = r["__m"]
        books.append((cids, mat))
    return books


def lloyd(vecs: DataFrame, col: str, m: int, kc: int,
          n_iter: int) -> List[Tuple[List[int], np.ndarray]]:
    """Lloyd's loop over the persisted array<double> column ``col``,
    fitting ``m`` codebooks of at most ``kc`` centroids JOINTLY — one
    corpus scan, one shuffle and one collect per round for all subspaces
    (a per-subspace loop costs m× the jobs for identical results).
    Returns (codes, code-sorted centroid matrix) per subspace.

    The vector width is read from the data and must divide into ``m``
    subspaces. Init: sign-bit hyperplane buckets per subspace
    (``_planes(seed=s)``) — data-dependent, seedless, reproducible.
    Empty clusters drop out (``kc`` is an upper bound). Later rounds'
    codes are POSITIONS into the previous matrices. The loop stops once
    no matrix changes: centroids are 6-dp-quantized, so exact equality
    IS the fixpoint."""
    bits = max(1, int(math.ceil(math.log2(max(2, kc)))))
    books = _update(vecs, col, partial(_plane_codes, m=m, bits=bits), m)
    for _ in range(n_iter):
        mats = [mat for _, mat in books]
        books = _update(vecs, col, partial(nearest_codes, mats=mats), m)
        if all(new.shape == old.shape and bool((new == old).all())
               for (_, new), old in zip(books, mats)):
            break
    return books


def _nearest_expr(mat: np.ndarray, n: int):
    """Arrow-batched top-``n`` nearest centroids for an array<double>
    column: returns struct<clusters: array<bigint>, sq_dist: double>
    (clusters are positions in ``mat``; sq_dist = distance to the
    nearest, clamped at 0). Ties break to the lowest position."""
    n = min(n, len(mat))

    @pandas_udf("clusters array<bigint>, sq_dist double")
    def _nearest(col: pd.Series) -> pd.DataFrame:
        if col.empty:
            return pd.DataFrame({"clusters": [], "sq_dist": []})
        d = sq_dists(_stack(col), mat)
        if n == 1:
            idx = d.argmin(axis=1)[:, None]      # first min = lowest pos
        else:
            idx = np.argsort(d, axis=1, kind="stable")[:, :n]
        return pd.DataFrame({
            "clusters": list(idx.astype(np.int64)),
            "sq_dist": np.maximum(d[np.arange(len(d)), idx[:, 0]], 0.0),
        })

    return _nearest


def kmeans_assign(
    df: DataFrame,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    k: int = 16,
    n_iter: int = 5,
) -> DataFrame:
    """Lloyd's k-means; returns (``id_col``, cluster, sq_dist), where
    cluster is the position of the nearest centroid."""
    vecs = (df.select(F.col(id_col).alias("__id"),
                      F.col(vec_col).cast("array<double>").alias("__v"))
            .persist())
    [(_, mat)] = lloyd(vecs, "__v", 1, k, n_iter)
    out = (vecs.select("__id", _nearest_expr(mat, 1)("__v").alias("__a"))
           .select(F.col("__id").alias(id_col),
                   F.col("__a.clusters")[0].alias("cluster"),
                   F.round("__a.sq_dist", 6).alias("sq_dist")))
    vecs.unpersist()
    return out


def semantic_dedup_pairs(
    df: DataFrame,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    threshold: float = 0.45,
    k: int = 16,
    n_iter: int = 5,
    n_assign: int = 2,
) -> DataFrame:
    """SemDeDup: cosine near-duplicate pairs searched ONLY within k-means
    clusters. Approximate by design (pairs whose members share none of
    their probed clusters are unseen) — recall against the exact
    all-pairs result is gated in the driver's ``semantic_dedup_recall``
    query, the ANN-recall pattern.

    ``n_assign`` is the multi-probe knob: each vector participates in its
    ``n_assign`` nearest clusters, which recovers the boundary pairs
    top-1 SemDeDup misses on weakly-clustered embeddings (measured here:
    recall 0.57 top-1 -> 0.93 top-2 -> 1.00 top-3 at k=16, sf0.01) for
    ~n_assign× join volume.

    Scale: Σ|cluster|² replaces n²; pick k so the expected cluster is
    10³-10⁴ docs (k ≈ n_assign·n / 4000). The intra-cluster join carries
    (id, vector) only and shuffles on the cluster id; a pathological hot
    cluster is bounded by raising k, the documented SemDeDup trade-off.
    Output: (id_a, id_b, cos_sim), id_a < id_b.
    """
    vecs = (df.select(F.col(id_col).alias("__id"),
                      F.col(vec_col).cast("array<double>").alias("__v"))
            .persist())
    [(_, mat)] = lloyd(vecs, "__v", 1, k, n_iter)
    nearest = _nearest_expr(mat, max(1, n_assign))
    side = (vecs.select("__id", "__v",
                        F.explode(nearest("__v")["clusters"])
                        .alias("cluster")))

    thr = float(threshold)

    def _score_cluster(pdf: pd.DataFrame) -> pd.DataFrame:
        # per-cluster cosine matmul: X_norm @ X_norm.T beats per-pair
        # expression evaluation by ~100×; rows are id-sorted so emitted
        # pairs are canonical (id_a < id_b). Memory is O(chunk·|cluster|)
        # scores — the row-chunked loop bounds it for the 10⁴-doc
        # clusters the k knob targets.
        pdf = pdf.sort_values("__id")
        ids = pdf["__id"].to_numpy()
        x = _stack(pdf["__v"])
        norms = np.linalg.norm(x, axis=1)
        norms[norms == 0.0] = 1.0                 # zero vec -> cos 0
        xn = x / norms[:, None]
        out_a, out_b, out_s = [], [], []
        chunk = 2048
        for lo in range(0, len(ids), chunk):
            hi = min(lo + chunk, len(ids))
            s = xn[lo:hi] @ xn.T                  # (chunk, n)
            s = np.round(s, 4)
            for i in range(lo, hi):
                cols = np.nonzero(s[i - lo, i + 1:] >= thr)[0] + i + 1
                if cols.size:
                    out_a.extend([ids[i]] * cols.size)
                    out_b.extend(ids[cols])
                    out_s.extend(s[i - lo, cols])
        return pd.DataFrame({"id_a": pd.Series(out_a, dtype="int64"),
                             "id_b": pd.Series(out_b, dtype="int64"),
                             "cos_sim": pd.Series(out_s, dtype="float64")})

    out = (side.groupBy("cluster")
           .applyInPandas(_score_cluster,
                          "id_a long, id_b long, cos_sim double")
           .dropDuplicates(["id_a", "id_b"]))
    vecs.unpersist()
    return out


def silhouette_labels(
    df: DataFrame,
    vec_col: str = "embedding",
    label_col: str = "label",
    quantize_dp: int = 4,
    round_dp: int = 4,
) -> DataFrame:
    """Simplified (centroid-based) silhouette per cluster label — the
    cluster-quality readout for SemDeDup/IVF partitions (Hruschka et
    al.'s simplified silhouette: a(i) = distance to OWN centroid,
    b(i) = distance to the nearest OTHER centroid, s = (b−a)/max(a,b);
    O(n·k) instead of the classic O(n²) pairwise form — the only
    variant that survives a 100 TB corpus).

    Cross-engine determinism contract: vector components quantize to
    ``quantize_dp``-dp integers q (exact on both engines); centroid
    components are the ONE division float(Σq)/float(n) of exact
    integers; the per-(row, label) distance folds (q − c)² strictly
    LEFT-TO-RIGHT in float64 — the same sequential order a DuckDB
    ``list_reduce`` mirror uses — so every intermediate double is
    bit-identical on any engine and any partitioning (the diffs are
    vector-scale-bounded: no magnitude ever grows with corpus size).
    Per-row silhouettes quantize to integer micro-units
    (half-away-from-zero, the gram_matrix rounding) and aggregate as
    exact BIGINT sums.

    Plan: ONE k×d-bounded centroid aggregate (map-side combined,
    collected — the documented bounded driver action, same as the
    k-means loop), then one Arrow-batched ``mapInPandas`` scoring pass
    that emits k-row PARTIAL sums per batch (the numpy matà-la
    gram_matrix — the interpreted HOF form of the same fold measured
    ~50× slower), and a k-row final aggregate. Rows with NULL vector or
    NULL label are dropped. Singleton-cluster rows score a = 0 (the
    simplified-variant convention). Output: (label, n_vecs, mean_sil),
    one row per label.
    """
    scale = 10 ** quantize_dp
    lab = F.col(label_col)
    base = (df.where(F.col(vec_col).isNotNull() & lab.isNotNull())
            .select(lab.alias("__lab"),
                    F.transform(
                        F.col(vec_col),
                        lambda x: F.round(x.cast("double") * scale, 0)
                        .cast("bigint")).alias("__q")))
    ex = base.select("__lab", F.posexplode("__q").alias("__p", "__x"))
    cent = (ex.groupBy("__lab", "__p")
            .agg(F.sum("__x").alias("__s"), F.count("*").alias("__n"))
            .collect())                      # k×d rows, bounded
    sums: dict = {}
    ns: dict = {}
    for r in cent:
        sums.setdefault(r["__lab"], {})[r["__p"]] = int(r["__s"])
        ns[r["__lab"]] = int(r["__n"])
    labels = sorted(sums)
    if len(labels) < 2:
        raise ValueError("silhouette_labels: need >= 2 labels "
                         f"(got {len(labels)})")
    dim = max(len(v) for v in sums.values())
    # centroid components in q-units: float(Σq)/float(n) — the same
    # two-step double rounding as SQL CAST(s AS DOUBLE)/CAST(n AS
    # DOUBLE) (exact-int true division would differ past 2^53)
    cmat = np.array([[float(sums[lv].get(p, 0)) / float(ns[lv])
                      for p in range(dim)] for lv in labels],
                    dtype=np.float64)
    lab_index = {lv: i for i, lv in enumerate(labels)}
    lab_field = base.schema["__lab"]
    from pyspark.sql.types import LongType, StructField, StructType
    out_schema = StructType([
        StructField("label", lab_field.dataType),
        StructField("__n", LongType()),
        StructField("__sm", LongType()),
    ])
    k = len(labels)
    fscale = float(scale)

    def _score(it):
        for pdf in it:
            if pdf.empty:
                continue
            Q = _stack(pdf["__q"])
            n_rows = Q.shape[0]
            dists = np.empty((n_rows, k), dtype=np.float64)
            for j in range(k):
                acc = np.zeros(n_rows, dtype=np.float64)
                for p in range(dim):
                    t = Q[:, p] - cmat[j, p]
                    acc = acc + t * t       # strict left-to-right fold
                dists[:, j] = np.sqrt(acc) / fscale
            own = np.array([lab_index[lv] for lv in pdf["__lab"]],
                           dtype=np.int64)
            rows = np.arange(n_rows)
            a = dists[rows, own]
            masked = dists.copy()
            masked[rows, own] = np.inf
            b = masked.min(axis=1)
            mx = np.maximum(a, b)
            s = np.where(mx > 0, (b - a) / np.where(mx > 0, mx, 1.0), 0.0)
            x = s * 1_000_000.0
            micro = (np.floor(np.abs(x) + 0.5)
                     * np.sign(x)).astype(np.int64)  # half-away (gram)
            g = pd.DataFrame({"label": pdf["__lab"].to_numpy(),
                              "__m": micro})
            agg = g.groupby("label", sort=False)["__m"] \
                .agg(["count", "sum"]).reset_index()
            yield pd.DataFrame({"label": agg["label"],
                                "__n": agg["count"].astype("int64"),
                                "__sm": agg["sum"].astype("int64")})

    partials = base.mapInPandas(_score, schema=out_schema)
    out = (partials.groupBy("label")
           .agg(F.sum("__n").cast("bigint").alias("n_vecs"),
                F.sum("__sm").alias("__sm")))
    from .lm import _nudged_round
    mean = _nudged_round(
        F.col("__sm") / F.lit(1_000_000.0) / F.col("n_vecs"), round_dp)
    return out.select("label", "n_vecs",
                      mean.cast("double").alias("mean_sil"))
