"""Deduplication operators: exact, MinHash+LSH, SimHash, n-gram Jaccard,
embedding-cosine near-dup.

Scale design (100 TB): every method is a pure DataFrame pipeline —
shingle/hash/signature computation is per-row (narrow, codegen'd builtin
expressions, no Python UDFs); candidate generation is a band-bucket
self-join (shuffle on bucket id only, never an all-pairs product);
verification runs only on bucket-colliding pairs. Buckets with a single
member never join. Deterministic seeds throughout (reproducible runs).
"""

from __future__ import annotations

from typing import List

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from ._cache import attach_intermediates
from ._partition import spread_by

# Permutation family h_j(x) = (a_j*x + b_j) mod M31 over 31-bit base
# hashes: 31-bit operands keep a*h + b < 2^62, inside int64 even with ANSI
# overflow checks. M31 collisions are irrelevant for minhash accuracy.
_MERSENNE = (1 << 31) - 1


def _perm_params(num_perm: int) -> List[tuple]:
    # deterministic LCG-derived parameters (no RNG dependency)
    params = []
    a, b = 0x4A7C15, 0x27D4EB4F
    for _ in range(num_perm):
        a = (a * 6364136223846793005 + 1442695040888963407) % _MERSENNE
        b = (b * 6364136223846793005 + 1442695040888963407) % _MERSENNE
        params.append((a | 1, b))
    return params


def _sig_est_expr(num_perm: int) -> Column:
    """Signature-agreement Jaccard estimate between aliases a/b as ONE
    parsed SQL expression (r11: the Column-API form cost ~5 py4j
    round-trips per term — ~0.4 s of driver build time at num_perm=64;
    the parsed tree is expression-identical)."""
    return F.expr(
        "(" + " + ".join(
            f"(CASE WHEN a.__s{j} = b.__s{j} THEN 1 ELSE 0 END)"
            for j in range(num_perm)) + f") / {num_perm}")


def _band_array_expr(bands: int, rows_per_band: int) -> Column:
    """array(xxhash64(concat_ws(',', CAST(__s.. AS STRING)...))) band
    bucket hashes as ONE parsed SQL expression (same r11 rationale)."""
    band_cols = ", ".join(
        "xxhash64(concat_ws(',', " + ", ".join(
            f"CAST(__s{b * rows_per_band + i} AS STRING)"
            for i in range(rows_per_band)) + "))"
        for b in range(bands))
    return F.expr(f"array({band_cols})")


def normalize_text(col: Column) -> Column:
    return F.lower(F.trim(F.regexp_replace(col, r"\s+", " ")))


def portable_hash64(col: Column) -> Column:
    """Engine-portable 60-bit hash: the first 15 hex chars of md5 as a
    non-negative bigint. Identical in Spark (``conv(substr(md5(x),1,15),
    16,10)``) and DuckDB (``('0x' || substr(md5(x),1,15))::BIGINT``) —
    the base hash for pipelines that need an independent SQL oracle
    (SimHash, fake multimodal codec). 60 bits keeps the value inside a
    signed int64 with no sign-bit special cases."""
    return F.conv(F.substring(F.md5(col), 1, 15), 16, 10).cast("bigint")


def exact_dedup(df: DataFrame, text_col: str = "text",
                id_col: str = "doc_id") -> DataFrame:
    """Exact dedup via hash-groupBy on normalized text: one representative
    (min id) per distinct content + the duplicate count. Single shuffle on
    the md5 fingerprint (not the full text — short keys, skew-safe)."""
    fp = F.md5(normalize_text(F.col(text_col)))
    return (df.select(F.col(id_col), fp.alias("fingerprint"))
            .groupBy("fingerprint")
            .agg(F.min(id_col).alias("keep_id"),
                 F.count("*").cast("bigint").alias("n_dups")))


def _char_shingles_from_norm(norm: Column, k: int = 5,
                             distinct: bool = True) -> Column:
    """Character k-shingles over an ALREADY-MATERIALIZED normalized
    column. ``norm`` must be a plain attribute (not an expression): Catalyst
    inlines expression arguments into the per-element lambda, turning one
    normalization per row into one per shingle.

    ``distinct=False`` skips the per-row ``array_distinct`` pass —
    correct whenever the consumer is duplicate-invariant (MinHash minima
    don't change under repetition; ``array_intersect``/``array_union``
    have set semantics; a downstream ``collect_set`` dedupes inside the
    aggregation shuffle it already pays for)."""
    n = F.length(norm)
    sh = F.transform(F.sequence(F.lit(1), n - k + 1),
                     lambda i: norm.substr(i, F.lit(k)))
    if distinct:
        sh = F.array_distinct(sh)
    return F.when(n < k, F.array(norm)).otherwise(sh)


def char_shingles(col: Column, k: int = 5) -> Column:
    """Distinct character k-shingles of normalized text (builtin
    transform/sequence — no UDF). Row-local form; bulk pipelines should
    materialize ``normalize_text`` in a projection first (see
    ``_shingled_frame``) so the normalization isn't re-evaluated per
    shingle element."""
    return _char_shingles_from_norm(normalize_text(col), k)


def _word_ngrams_from_tokens(tokens: Column, n: int = 3,
                             distinct: bool = True) -> Column:
    """Word n-grams over an already-materialized token array (``distinct``
    as in :func:`_char_shingles_from_norm`)."""
    cnt = F.size(tokens)
    grams = F.transform(F.sequence(F.lit(1), cnt - n + 1),
                        lambda i: F.concat_ws(" ", F.slice(tokens, i, n)))
    if distinct:
        grams = F.array_distinct(grams)
    return F.when(cnt < n, F.array(F.concat_ws(" ", tokens))).otherwise(grams)


def word_ngrams(col: Column, n: int = 3) -> Column:
    """Distinct word n-grams of normalized text (row-local form — see
    ``char_shingles`` note on materialization)."""
    return _word_ngrams_from_tokens(F.split(normalize_text(col), " "), n)


def _shingled_frame(df: DataFrame, text_col: str, id_col: str,
                    kind: str, k: int, distinct: bool = True) -> DataFrame:
    """(__id, __sh) with the normalized text materialized in its own
    projection. Two-step select matters: normalization is a regex chain, and
    if it's inlined into the shingle lambda Catalyst evaluates it once per
    ELEMENT (and the explode-inferred filter re-evaluates the whole array
    expression pre-shuffle). CollapseProject keeps the split because the
    alias is non-cheap and multiply-referenced."""
    pre = spread_by(df, F.col(id_col))
    if kind == "char":
        normed = pre.select(F.col(id_col).alias("__id"),
                            normalize_text(F.col(text_col)).alias("__norm"))
        return normed.select(
            "__id",
            _char_shingles_from_norm(F.col("__norm"), k, distinct).alias("__sh"))
    normed = pre.select(F.col(id_col).alias("__id"),
                        F.split(normalize_text(F.col(text_col)), " ").alias("__toks"))
    return normed.select(
        "__id",
        _word_ngrams_from_tokens(F.col("__toks"), k, distinct).alias("__sh"))


def _hashed_char_tokens(df: DataFrame, text_col: str, id_col: str,
                        k: int) -> DataFrame:
    """(__id, __h): 62-bit hashes of the normalized text's char
    k-shingles, DISTINCT per document — the Arrow-batched fast path for
    the MinHash family's token frame.

    The expression form (transform/substr array + explode + xxhash64)
    evaluates the per-position lambda interpreted and allocates a string
    per shingle; here each document is a few vectorized numpy passes
    (utf-32 code view, k Horner steps for two 31-bit polynomial hashes
    combined to 62 bits, one unique). Any uniform injective-in-practice
    hash serves MinHash identically (signature minima and hashed-set
    Jaccard are hash-family-agnostic; collisions ~n²/2^62), so this is a
    drop-in for the xxhash64 tokens — but index builds and pair runs must
    use the SAME family, which is why every minhash entry point routes
    through this function. Emitting per-doc distinct hashes also shrinks
    the downstream aggregation input (the old path deduped inside the
    shuffle). Short texts (< k chars) hash whole-string, like
    ``_char_shingles_from_norm``; empty texts hash to 0.
    """
    import numpy as np
    import pandas as pd

    B1, B2, P = 257, 263, 2147483647

    def _toks(it):
        for pdf in it:
            ids, hs = [], []
            for i, t in zip(pdf["__id"].to_numpy(),
                            pdf["__t"].to_numpy()):
                if t is None:
                    continue
                codes = np.frombuffer(t.encode("utf-32-le"),
                                      dtype=np.uint32).astype(np.int64)
                n = codes.shape[0]
                if n < k:
                    h1 = np.int64(0)
                    h2 = np.int64(0)
                    for c in codes:
                        h1 = (h1 * B1 + c) % P
                        h2 = (h2 * B2 + c) % P
                    u = np.array([(int(h1) << 31) | int(h2)],
                                 dtype=np.int64)
                else:
                    L = n - k + 1
                    h1 = codes[:L] % P
                    h2 = codes[:L] % P
                    for j in range(1, k):
                        h1 = (h1 * B1 + codes[j:j + L]) % P
                        h2 = (h2 * B2 + codes[j:j + L]) % P
                    u = np.unique((h1 << 31) | h2)
                ids.append(np.full(u.shape[0], i, dtype=np.int64))
                hs.append(u)
            if ids:
                yield pd.DataFrame({"__id": np.concatenate(ids),
                                    "__h": np.concatenate(hs)})

    norm = spread_by(df, F.col(id_col)).select(
        F.col(id_col).alias("__id"),
        normalize_text(F.col(text_col)).alias("__t"))
    return norm.mapInPandas(_toks, "__id long, __h long")


def jaccard(a: Column, b: Column) -> Column:
    inter = F.size(F.array_intersect(a, b))
    union = F.size(F.array_union(a, b))
    return F.when(union > 0, inter / union).otherwise(F.lit(0.0))


def _jaccard_lsh_pairs(
    shingled: DataFrame,
    num_perm: int,
    bands: int,
    threshold: float,
    verify: bool,
    prefilter_margin: float = 0.2,
    min_band_collisions: int = 1,
    tok: DataFrame = None,
    max_bucket_size: "int | None" = None,
) -> DataFrame:
    """Shared MinHash-LSH near-dup pipeline over ``shingled(__id, __sh)``.

    Stages (each one a narrow/standard shuffle, no payload in wide joins):

    1. **Signatures** — explode shingles → ``groupBy(__id)`` with
       ``num_perm`` min-aggregates. Map-side partial aggregation means the
       shuffle carries ≤ num_perm longs per doc per map task; each agg is a
       small codegen'd expression (vs. num_perm whole-array passes per row).
    2. **Banding** — ``posexplode`` of per-band bucket hashes; self-join on
       (band, bucket) emitting only id pairs; pair dedup is a
       ``groupBy(id_a, id_b).count()`` on the 16-byte pairs *before*
       anything wide is attached — the count is free (same shuffle a
       ``dropDuplicates`` would take) and ``min_band_collisions`` ≥ 2
       drops the long tail of single-band coincidences. With b bands of
       r rows, a true-threshold pair collides per band w.p. s^r, so at
       s=0.8, r=3, b=21 the expected collision count is ~10.7 and
       P(<2 collisions) ≈ 7e-6 — recall is untouched while the candidate
       set shrinks ~15× on template-heavy corpora whose background
       similarity produces one-off band coincidences.
    3. **Signature prefilter** — join the (tiny: num_perm longs/doc) WIDE
       signature table back and estimate Jaccard as the fraction of equal
       signature components, computed as a sum of num_perm column-equality
       int terms (whole-stage-codegen'd; the equivalent
       ``zip_with``/``aggregate`` higher-order-function form is evaluated
       interpreted and measured ~10-25% slower end-to-end at sf0.1).
       Discard pairs estimated below ``threshold − prefilter_margin``.
       With num_perm=64 the estimator's σ ≈ 0.06, so a 0.2 margin is >3σ —
       false negatives are negligible while (crucially) candidate pairs
       from band collisions between genuinely dissimilar docs never reach
       exact verification. This is what keeps low rows-per-band (chosen
       for recall) from degenerating into all-pairs verification.
    4. **Exact verify** — survivors only: join the per-doc *hashed* shingle
       set (array<long>, cheaper to intersect than strings; xxhash64
       collisions are ~n²/2⁶⁴) and compute exact Jaccard ≥ threshold.

    AQE picks broadcast for the signature/shingle-set joins when the doc
    table is small; at scale they are plain equi-joins on the id.
    """
    rows_per_band = num_perm // bands
    params = _perm_params(num_perm)

    if tok is None:
        # explode_outer, not explode: plain explode infers a `size(__sh)>0
        # AND isnotnull(__sh)` filter that predicate-pushdown drags below
        # the repartition exchange, re-evaluating the whole shingle
        # expression (twice) on the unparallelized input. The post-Generate
        # isNotNull is equivalent (shingle arrays are never empty) and
        # cannot be pushed down.
        tok = shingled.select("__id", F.explode_outer("__sh").alias("__s")) \
            .where(F.col("__s").isNotNull()) \
            .select("__id", F.xxhash64("__s").alias("__h"))
    tok = tok.persist()
    # tok keeps the full 64-bit hash (the exact-verify sets below need
    # negligible collision odds); the 31-bit base for the permutation
    # family is taken inside the aggregate. It is persisted because BOTH
    # the signature aggregate and the exact-verify hash sets consume it:
    # the sig cache boundary (InMemoryRelation) would otherwise hide the
    # common Exchange from reuse and re-run shingling — the pipeline's
    # single most expensive narrow stage — twice. Cache payload is two
    # longs per shingle, orders of magnitude smaller than the text.
    # r11: the permutation aggregates / band hashes / prefilter sum are
    # built as SQL strings (ONE py4j round-trip per expression) instead
    # of stacked Column calls (~8 round-trips each): constructing this
    # pipeline through the Column API measured 2.1 s of pure driver
    # build time PER BENCH REP at num_perm=64. F.expr parses to the
    # identical analyzed expressions (a/b/M31 < 2^31 stay INT literals,
    # CAST/CASE/pmod unchanged), so plans and values are bit-identical.
    M = _MERSENNE
    sig = tok.groupBy("__id").agg(*[
        F.expr(f"min(pmod(pmod(__h, {M}) * {a} + {b}, {M})) AS __s{j}")
        for j, (a, b) in enumerate(params)
    ]).persist()

    banded = sig.select(
        "__id",
        F.posexplode(_band_array_expr(bands, rows_per_band))
        .alias("__band", "__bucket"))
    anchor_pairs = None
    banded_cached = None
    if max_bucket_size is not None:
        # Hot-bucket cap: on template-heavy corpora the globally-minimal
        # shingle hashes recur across huge doc fractions, so a few band
        # buckets hold O(corpus) docs and the self-join on them is
        # quadratic in CORPUS size, not near-dup density (measured on the
        # sf0.1 corpus: ONE bucket of 1,604 docs out of 5,000 produced
        # 1.3M of 2.6M candidates — 21% of all-pairs). Buckets over the
        # cap are NOT dropped (a duplicate cluster larger than the cap
        # would over-fill EVERY one of its band buckets, and dropping
        # them all would silently lose the whole cluster — exactly the
        # giant-boilerplate-cluster case web-scale dedup exists for).
        # Instead they degrade from the quadratic clique join to an
        # anchor STAR: every member pairs with the bucket's min-id
        # member, O(bucket) candidates instead of O(bucket²)/2. For the
        # downstream keep-one/connected-components consumer a star is
        # equivalent to the clique (same components); the direct
        # member↔member pairs inside an over-cap bucket are the only
        # recall cost, and only when NO under-cap bucket catches them.
        # Anchor pairs are weighted `min_band_collisions` in the
        # collision count so a cluster surviving only in hot buckets is
        # not re-lost to the ≥2-band filter (near-dup — not identical —
        # clusters can elect different anchors per band, leaving true
        # (anchor, member) pairs with a single band collision);
        # the prefilter + exact verification still discard every
        # dissimilar anchor pair at O(bucket) cost.
        #
        # Bucket size and anchor come from ONE window over (band,
        # bucket) on the frame the pipeline must hash-partition on that
        # exact key anyway (the candidate self-join below): the persisted
        # windowed frame comes back HashPartitioning(__band, __bucket),
        # so the anchor-star filter, the cold filter, AND both self-join
        # sides all read it Exchange-free. Two alternative shapes were
        # measured and rejected on identical output: (a) counts
        # aggregate + anchors aggregate fanned back through semi/anti
        # joins, and (b) one partial-aggregated count/min pass broadcast
        # back in a left join — both skew-immune (map-side combine; hot
        # rows never cross a (band,bucket) shuffle) but both pay an
        # extra full pass plus a broadcast barrier: 7.2 s / 12.7 s
        # (pairs / components, sf0.1 cold min-of-3) vs 4.5 s / 6.9 s
        # for this window. The window's cost is that a hot bucket's
        # rows land in one sort task; that is bounded by the LARGEST
        # band bucket, spill-safe, and strictly better than the
        # uncapped quadratic self-join on the same rows — an
        # adversarial all-identical corpus degrades to one per-band
        # straggler sort, not a failure. If a real corpus ever hits
        # that, the documented escalation is a salt-chunked anchor
        # FOREST (per-chunk anchors + anchor-anchor links), which keeps
        # connectivity at O(bucket/S) per task for S salt chunks.
        wb = Window.partitionBy("__band", "__bucket")
        banded = banded_cached = (banded
                  .withColumn("__bn", F.count(F.lit(1)).over(wb))
                  .withColumn("__aid", F.min("__id").over(wb))
                  .persist())
        hot = F.col("__bn") > int(max_bucket_size)
        anchor_pairs = (banded.where(hot
                                     & (F.col("__id") != F.col("__aid")))
                        .select(F.col("__aid").alias("id_a"),
                                F.col("__id").alias("id_b"),
                                F.lit(int(min_band_collisions)).alias("__w")))
        banded = banded.where(~hot).select("__id", "__band", "__bucket")

    left, right = banded.alias("l"), banded.alias("r")
    clique_pairs = (left.join(right,
                              (F.col("l.__band") == F.col("r.__band")) &
                              (F.col("l.__bucket") == F.col("r.__bucket")) &
                              (F.col("l.__id") < F.col("r.__id")))
                    .select(F.col("l.__id").alias("id_a"),
                            F.col("r.__id").alias("id_b"),
                            F.lit(1).alias("__w")))
    if anchor_pairs is not None:
        clique_pairs = clique_pairs.unionByName(anchor_pairs)
    cand = (clique_pairs
            .groupBy("id_a", "id_b")
            .agg(F.sum("__w").alias("__nb"))
            .where(F.col("__nb") >= min_band_collisions)
            .select("id_a", "id_b"))
    cached = [tok, sig] + ([banded_cached] if banded_cached is not None
                           else [])
    if not verify:
        return attach_intermediates(cand, cached)

    est = _sig_est_expr(num_perm)
    prefiltered = (cand
                   .join(sig.alias("a"), F.col("id_a") == F.col("a.__id"))
                   .join(sig.alias("b"), F.col("id_b") == F.col("b.__id"))
                   .where(est >= threshold - prefilter_margin)
                   .select("id_a", "id_b"))

    # Exact-verify sets from the SAME exploded/hashed tokens as the
    # signatures: the groupBy(__id) shares its shuffle with the signature
    # aggregation (ReusedExchange) instead of re-shingling the corpus text
    # twice. xxhash64 sets intersect like the string sets (collision odds
    # ~n²/2⁶⁴); shingles are distinct, so pmod-hashing preserves set sizes.
    hset = tok.groupBy("__id").agg(F.collect_set("__h").alias("__hs"))
    out = (prefiltered
           .join(hset.alias("ha"), F.col("id_a") == F.col("ha.__id"))
           .join(hset.alias("hb"), F.col("id_b") == F.col("hb.__id"))
           .withColumn("jaccard", jaccard(F.col("ha.__hs"), F.col("hb.__hs")))
           .where(F.col("jaccard") >= threshold)
           .select("id_a", "id_b",
                   F.round("jaccard", 4).cast("double").alias("jaccard")))
    return attach_intermediates(out, cached)


def minhash_index(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    num_perm: int = 64,
    shingle_k: int = 5,
) -> DataFrame:
    """Persistable near-dup index: one row per document with the MinHash
    signature components (``__s0..__s{num_perm-1}``) and the hashed
    shingle set (``__hs``) — everything incremental dedup needs to
    compare FUTURE batches against this corpus without re-shingling it.

    One groupBy computes the signature minima AND the shingle set in the
    same aggregation (single shuffle). Write the result to parquet as
    the corpus grows; :func:`minhash_pairs_incremental` consumes it.
    Parameters must match between index builds (``num_perm``,
    ``shingle_k`` are baked into the rows).
    """
    params = _perm_params(num_perm)
    if _integral_id(df, id_col):
        # same token family as minhash_pairs — index rows and pair runs
        # MUST hash identically for incremental dedup to compose
        tok = _hashed_char_tokens(df, text_col, id_col, shingle_k)
    else:
        shingled = _shingled_frame(df, text_col, id_col, "char", shingle_k,
                                   distinct=False)
        tok = shingled.select("__id", F.explode_outer("__sh").alias("__s")) \
            .where(F.col("__s").isNotNull()) \
            .select("__id", F.xxhash64("__s").alias("__h"))
    base = F.pmod(F.col("__h"), F.lit(_MERSENNE))
    return tok.groupBy("__id").agg(
        *[F.min(F.pmod(base * a + b, F.lit(_MERSENNE))).alias(f"__s{j}")
          for j, (a, b) in enumerate(params)],
        F.collect_set("__h").alias("__hs"))


def minhash_pairs_incremental(
    index: DataFrame,
    new_index: DataFrame,
    num_perm: int = 64,
    bands: int = 16,
    threshold: float = 0.8,
    min_band_collisions: int = 2,
    prefilter_margin: float = 0.2,
) -> DataFrame:
    """Near-dup pairs TOUCHING A NEW DOCUMENT: the incremental-ingestion
    step. ``index`` is the existing corpus (:func:`minhash_index` rows,
    typically read back from parquet), ``new_index`` the new batch's
    rows; the result contains every old↔new and new↔new pair at
    ``threshold`` — old↔old pairs were found when THEIR batches arrived,
    so a streaming corpus pays O(|new| · collision-rate) per batch
    instead of re-processing history (union with prior results for the
    running pair set; tested equivalent to the one-shot operator on the
    full corpus).

    Plan shape mirrors :func:`minhash_lsh_pairs`: the band join is
    ASYMMETRIC — all banded rows against the new banded rows only — so
    the candidate volume scales with the batch, not the corpus. Each
    qualifying pair is counted once: an old row only ever sits on the
    left, and new-new pairs are ordered ``l < r``. The signature
    prefilter and exact verification read both frames' stored columns —
    no text is ever touched.
    """
    rows_per_band = num_perm // bands
    combined = (index.withColumn("__new", F.lit(False))
                .unionByName(new_index.withColumn("__new", F.lit(True)))
                .persist())

    banded = combined.select(
        "__id", "__new",
        F.posexplode(_band_array_expr(bands, rows_per_band))
        .alias("__band", "__bucket"))
    left, right = banded.alias("l"), banded.alias("r").where(F.col("__new"))
    # (old,new): old is always l (any id order). (new,new): l < r. Either
    # way each colliding band contributes exactly one candidate row.
    ok_order = F.when(F.col("l.__new"),
                      F.col("l.__id") < F.col("r.__id")) \
        .otherwise(F.col("l.__id") != F.col("r.__id"))
    cand = (left.join(right,
                      (F.col("l.__band") == F.col("r.__band")) &
                      (F.col("l.__bucket") == F.col("r.__bucket")) &
                      ok_order)
            .select(F.least(F.col("l.__id"), F.col("r.__id")).alias("id_a"),
                    F.greatest(F.col("l.__id"), F.col("r.__id")).alias("id_b"))
            .groupBy("id_a", "id_b")
            .agg(F.count("*").alias("__nb"))
            .where(F.col("__nb") >= min_band_collisions)
            .select("id_a", "id_b"))

    est = _sig_est_expr(num_perm)
    sig = combined
    prefiltered = (cand
                   .join(sig.alias("a"), F.col("id_a") == F.col("a.__id"))
                   .join(sig.alias("b"), F.col("id_b") == F.col("b.__id"))
                   .where(est >= threshold - prefilter_margin)
                   .select("id_a", "id_b"))
    hset = combined.select("__id", "__hs")
    out = (prefiltered
           .join(hset.alias("ha"), F.col("id_a") == F.col("ha.__id"))
           .join(hset.alias("hb"), F.col("id_b") == F.col("hb.__id"))
           .withColumn("jaccard", jaccard(F.col("ha.__hs"), F.col("hb.__hs")))
           .where(F.col("jaccard") >= threshold)
           .select("id_a", "id_b",
                   F.round("jaccard", 4).cast("double").alias("jaccard")))
    return attach_intermediates(out, [combined])


def minhash_lsh_pairs(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    num_perm: int = 64,
    bands: int = 16,
    shingle_k: int = 5,
    threshold: float = 0.8,
    verify: bool = True,
    min_band_collisions: int = 2,
    max_bucket_size: "int | None" = 200,
) -> DataFrame:
    """Near-duplicate pairs via MinHash banding over char k-shingles.

    Output: (id_a, id_b, jaccard), id_a < id_b. Low rows-per-band keeps
    recall ≈ 1 at the threshold; the band-collision count filter (≥2 of 21
    bands, miss odds ~7e-6 at J=0.8) and the signature prefilter inside
    ``_jaccard_lsh_pairs`` keep the resulting false-candidate flood away
    from exact verification.

    ``max_bucket_size`` (default 200) degrades band buckets holding more
    docs than the cap from the quadratic candidate self-join to an
    anchor star (every member vs. the bucket's min-id member) — the
    guard that keeps template-heavy corpora (where the globally-minimal
    shingles recur in O(corpus) docs and ONE bucket can hold 30% of all
    docs) from degrading to an all-pairs join, while a duplicate
    cluster LARGER than the cap stays connected through its anchors
    instead of being silently dropped. Inside an over-cap bucket only
    direct member↔member pairs (not anchor↔member) can be missed, and
    only when no under-cap bucket catches them — for keep-one dedup via
    connected components the star is equivalent. Verified
    output-identical on the test corpora at caps 100-300; 5x-scale
    stress: 36 s -> sub-linear after the cap. Set None for exact
    all-clique candidate generation.
    """
    tok = None
    shingled = None
    if _integral_id(df, id_col):
        tok = _hashed_char_tokens(df, text_col, id_col, shingle_k)
    else:
        shingled = _shingled_frame(df, text_col, id_col, "char", shingle_k,
                                   distinct=False)
    return _jaccard_lsh_pairs(shingled, num_perm, bands, threshold, verify,
                              min_band_collisions=min_band_collisions,
                              tok=tok, max_bucket_size=max_bucket_size)


def _integral_id(df: DataFrame, id_col: str) -> bool:
    """The Arrow token fast path emits a static long __id column; fall
    back to the expression pipeline for non-integral document ids."""
    from pyspark.sql.types import ByteType, IntegerType, LongType, ShortType
    return isinstance(df.schema[id_col].dataType,
                      (ByteType, ShortType, IntegerType, LongType))


def ngram_jaccard_pairs(df: DataFrame, text_col: str = "text",
                        id_col: str = "doc_id", n: int = 3,
                        threshold: float = 0.5,
                        num_perm: int = 64, bands: int = 32) -> DataFrame:
    """Word n-gram Jaccard near-dup pairs, LSH-candidated (lower thresholds
    need more bands: bands=32 → rows_per_band=2 catches J≈0.5 pairs)."""
    shingled = _shingled_frame(df, text_col, id_col, "word", n, distinct=False)
    return _jaccard_lsh_pairs(shingled, num_perm, bands, threshold, verify=True)


SIMHASH_BITS = 60  # 60-bit signature: portable_hash64 range, 4 bands x 15


def simhash64(col: Column, k: int = 3, n_bits: int = SIMHASH_BITS) -> Column:
    """SimHash over word k-shingles: bit i of the result is the sign of the
    vote sum over shingle-hash bit i. 60-bit by default (portable_hash64
    base — the whole pipeline is reproducible in any md5-capable engine,
    which is what gives simhash_pairs an independent SQL oracle). Bit loop
    is unrolled in Python (Spark disallows nested higher-order lambdas);
    each vote is a builtin ``aggregate`` over the shared shingle-hash
    array."""
    hashes = word_ngrams(col, k)
    hvals = F.transform(hashes, lambda s: portable_hash64(s))

    def vote_fn(mask: int):
        return lambda acc, h: acc + F.when(
            h.bitwiseAND(F.lit(mask)) != 0, F.lit(1)).otherwise(F.lit(-1))

    out = F.lit(0).cast("bigint")
    for i in range(n_bits):
        mask = 1 << i
        vote = F.aggregate(hvals, F.lit(0).cast("bigint"), vote_fn(mask))
        out = out.bitwiseOR(F.when(vote > 0, F.lit(mask).cast("bigint"))
                            .otherwise(F.lit(0).cast("bigint")))
    return out


def hamming64(a: Column, b: Column) -> Column:
    return F.bit_count(a.bitwiseXOR(b))


def simhash_signatures(df: DataFrame, text_col: str = "text",
                       id_col: str = "doc_id", k: int = 3) -> DataFrame:
    """Bulk SimHash: explode word k-shingles → ``groupBy(id)`` with
    ``SIMHASH_BITS`` per-bit vote sums → compose the signature. Same result
    as ``simhash64`` but each aggregate is a tiny codegen'd expression with
    map-side partial aggregation (the row-local form builds 60 whole-array
    ``aggregate`` calls per row — quadratically worse and codegen-hostile).
    Base hash is ``portable_hash64`` so the whole pipeline has an
    independent DuckDB oracle. Returns (``__id``, ``__sim``)."""
    shingled = _shingled_frame(df, text_col, id_col, "word", k)
    tok = shingled.select("__id", F.explode_outer("__sh").alias("__s")) \
        .where(F.col("__s").isNotNull()) \
        .select("__id", portable_hash64(F.col("__s")).alias("__h"))

    # r11: the 60 vote aggregates + the 60-term signature composition
    # are built as SQL strings (one py4j round-trip per expression
    # instead of ~7 each — the Column-API form cost ~1.5 s of driver
    # build time per bench rep); parsed trees and values are identical.
    votes = tok.groupBy("__id").agg(*[
        F.expr(f"sum(CASE WHEN (__h & {1 << i}) != 0 THEN 1 ELSE -1 END)"
               f" AS __v{i}")
        for i in range(SIMHASH_BITS)
    ])
    sim_sql = "CAST(0 AS BIGINT)"
    for i in range(SIMHASH_BITS):
        sim_sql = (f"({sim_sql} | (CASE WHEN __v{i} > 0 THEN "
                   f"CAST({1 << i} AS BIGINT) ELSE CAST(0 AS BIGINT) END))")
    return votes.select("__id", F.expr(sim_sql).alias("__sim"))


def simhash_pairs(df: DataFrame, text_col: str = "text", id_col: str = "doc_id",
                  max_hamming: int = 3) -> DataFrame:
    """SimHash near-dup pairs: 4×15-bit band bucketing (any pair within
    hamming ≤ 3 of 60 bits shares at least one exact 15-bit band by
    pigeonhole when the 3 differing bits fall in ≤3 bands), then exact
    hamming verification."""
    sig = simhash_signatures(df, text_col, id_col).persist()
    banded = sig.select(
        "__id", "__sim",
        F.posexplode(F.array(*[
            F.shiftrightunsigned(F.col("__sim"), b * 15).bitwiseAND(F.lit(0x7FFF))
            for b in range(4)
        ])).alias("__band", "__bucket"))
    left, right = banded.alias("l"), banded.alias("r")
    cand = (left.join(right,
                      (F.col("l.__band") == F.col("r.__band")) &
                      (F.col("l.__bucket") == F.col("r.__bucket")) &
                      (F.col("l.__id") < F.col("r.__id")))
            .select(F.col("l.__id").alias("id_a"), F.col("r.__id").alias("id_b"),
                    F.col("l.__sim").alias("sim_a"), F.col("r.__sim").alias("sim_b"))
            .dropDuplicates(["id_a", "id_b"]))
    out = (cand.withColumn("hamming", hamming64(F.col("sim_a"), F.col("sim_b")))
           .where(F.col("hamming") <= max_hamming)
           .select("id_a", "id_b",
                   F.col("hamming").cast("bigint").alias("hamming")))
    return attach_intermediates(out, [sig])


def embedding_cosine_pairs(df: DataFrame, vec_col: str = "embedding",
                           id_col: str = "vec_id", threshold: float = 0.95,
                           planes: int = 16, n_tables: int = 1,
                           strategy: str = "auto") -> DataFrame:
    """Embedding near-dup pairs: random-hyperplane LSH bucket (sign bits of
    deterministic pseudo-random projections) → in-bucket cosine verify.
    For very high thresholds one 16-bit bucket has high recall; for lower
    thresholds raise ``n_tables`` (independent plane families, standard
    multi-table LSH) — scan cost grows ~linearly with tables while recall
    approaches 1 exponentially.

    ``strategy``: ``"lsh"``, ``"exact"``, or ``"auto"`` (default). Sign-LSH
    only pays for itself when the banding actually prunes: two UNRELATED
    vectors (cosine ≈ 0) agree on one sign bit w.p. 1/2, so they collide in
    a ``planes``-bit table w.p. 2^-planes and in ≥1 of ``n_tables`` tables
    w.p. f = 1 − (1 − 2^-planes)^n_tables. f IS the fraction of all n²/2
    pairs that reach exact verification — at 4 planes × 24 tables f ≈ 0.79,
    i.e. the "approximate" plan verifies more pairs than the exact plan
    scores, plus banding/dedup overhead (measured 5× slower end-to-end).
    ``auto`` therefore computes f from the parameters (no data scan) and
    routes to :func:`~feathr_spark.operators.similarity.cosine_pairs_exact`
    when f > 0.05; recall-lossy configs never silently run. The low-
    threshold regime is exactly where hyperplane LSH cannot prune without
    losing borderline pairs, so "exact, partition-parallel" is the honest
    100 TB plan there (or raise the threshold / use more planes).

    LSH path plan shape: the L2-normalized vectors are computed once and
    persisted (bucket signs are scale-invariant, so normalizing first is
    free); all ``n_tables`` bucket ids come from ONE Arrow-batched matmul
    (:func:`~feathr_spark.operators.similarity.lsh_buckets_all` — the
    tables × planes higher-order-function form evaluates interpreted and
    measured ~7 s for 2 000 rows); the per-table bucket rows carry the id
    ONLY, so the (table, bucket) self-join, and the pair-dedup shuffle
    behind it, move 16-byte id pairs — never vectors. The deduped pairs
    then attach the normalized vectors with two equi-joins against the
    persisted vector frame (broadcast when small, shuffle-on-id at scale —
    either way each vector crosses the wire once), and verification is a
    single dot product per unique pair.
    """
    from .similarity import (cosine_pairs_exact, dot, l2_norm,
                             lsh_buckets_all)
    if strategy not in ("auto", "lsh", "exact"):
        raise ValueError(f"unknown strategy {strategy!r}")
    if strategy == "auto":
        frac = 1.0 - (1.0 - 0.5 ** planes) ** n_tables
        strategy = "exact" if frac > 0.05 else "lsh"
    if strategy == "exact":
        return cosine_pairs_exact(df, vec_col, id_col, threshold)
    v = spread_by(df, F.col(id_col)).select(
        F.col(id_col).alias("__id"),
        F.col(vec_col).cast("array<double>").alias("__v"))
    norm = F.greatest(l2_norm(F.col("__v")), F.lit(1e-12))
    nrm = v.select(
        "__id",
        F.transform("__v", lambda x: x / norm).alias("__nv"),
    ).persist()
    buckets = nrm.select("__id", F.posexplode(
        lsh_buckets_all(F.col("__nv"), planes, n_tables)
    ).alias("__table", "__bucket")).persist()

    left, right = buckets.alias("l"), buckets.alias("r")
    cand = (left.join(right, (F.col("l.__table") == F.col("r.__table")) &
                      (F.col("l.__bucket") == F.col("r.__bucket")) &
                      (F.col("l.__id") < F.col("r.__id")))
            .select(F.col("l.__id").alias("id_a"), F.col("r.__id").alias("id_b"))
            .dropDuplicates(["id_a", "id_b"]))
    scored = (cand
              .join(nrm.select(F.col("__id").alias("id_a"),
                               F.col("__nv").alias("__nva")), "id_a")
              .join(nrm.select(F.col("__id").alias("id_b"),
                               F.col("__nv").alias("__nvb")), "id_b")
              .select("id_a", "id_b",
                      dot(F.col("__nva"), F.col("__nvb")).alias("cosine")))
    out = (scored.where(F.col("cosine") >= threshold)
           .select("id_a", "id_b",
                   F.round("cosine", 4).cast("double").alias("cosine")))
    return attach_intermediates(out, [nrm, buckets])


def cross_corpus_containment(
    df_a: DataFrame,
    df_b: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    n: int = 3,
    threshold: float = 0.5,
    max_df: int = None,
) -> DataFrame:
    """Cross-corpus contamination check: for each (a, b) document pair,
    the fraction of *a*'s distinct word n-grams that also occur in *b*
    (containment, the standard benchmark-decontamination statistic —
    asymmetric on purpose: a small eval doc fully contained in a large
    training doc scores 1.0 regardless of the training doc's length).

    Plan shape: both sides shingle narrowly, the inner join runs on the
    n-gram STRING hash only (ids ride along, payloads never join), and
    the per-pair intersection count + a's gram count give the score.

    ``max_df`` is the hot-gram guard for template-heavy corpora: the join
    key distribution is the corpus vocabulary, and a boilerplate gram
    ("terms of service …") present in most docs on both sides makes every
    such document pair meet in ONE join group — per-gram output is
    |A-docs| × |B-docs| for that gram, quadratic on exactly the most
    common grams. With ``max_df`` set, grams whose document frequency on
    EITHER side exceeds it are removed from the gram universe (both the
    intersection and *a*'s denominator — a fully-contained doc still
    scores 1.0), bounding every join group to ``max_df²`` output rows.
    This is standard in decontamination pipelines: ubiquitous grams carry
    no discriminative containment signal. The banned-gram frame is left
    unhinted: its bound (total gram occurrences / max_df) is usually tiny
    but can reach 1e8+ entries at extreme corpus scale with a low
    ``max_df``, so AQE decides at runtime whether the anti-joins broadcast
    (small list) or shuffle (huge list) instead of a forced broadcast that
    could OOM the driver.

    Output: (id_a, id_b, containment), containment ≥ threshold.
    """
    sh_a = _shingled_frame(df_a, text_col, id_col, "word", n) \
        .select(F.col("__id").alias("__ida"), F.explode_outer("__sh").alias("__s")) \
        .where(F.col("__s").isNotNull()) \
        .select("__ida", F.xxhash64("__s").alias("__h"))
    sh_b = _shingled_frame(df_b, text_col, id_col, "word", n) \
        .select(F.col("__id").alias("__idb"), F.explode_outer("__sh").alias("__s")) \
        .where(F.col("__s").isNotNull()) \
        .select("__idb", F.xxhash64("__s").alias("__h"))
    # persist both shingle frames: each fans into 2+ consumers (the
    # max_df document-frequency aggregate + its own anti-join probe,
    # then a's side feeds BOTH the denominator count and the
    # intersection join) — unpersisted, the shingling pipeline (the
    # most expensive narrow stage) re-executes once per consumer.
    # Cache payload is two longs per gram occurrence.
    sh_a = sh_a.persist()
    sh_b = sh_b.persist()
    cached = [sh_a, sh_b]
    if max_df is not None:
        banned = (sh_a.groupBy("__h").agg(F.count("*").alias("__df"))
                  .where(F.col("__df") > max_df).select("__h")
                  .union(sh_b.groupBy("__h").agg(F.count("*").alias("__df"))
                         .where(F.col("__df") > max_df).select("__h"))
                  .distinct())
        # post-ban a-side also fans out (denominator + intersection)
        sh_a = sh_a.join(banned, "__h", "left_anti").persist()
        sh_b = sh_b.join(banned, "__h", "left_anti")
        cached.append(sh_a)
    n_a = sh_a.groupBy("__ida").agg(F.count("*").alias("__na"))
    inter = (sh_a.join(sh_b, "__h")
             .groupBy("__ida", "__idb").agg(F.count("*").alias("__i")))
    out = (inter.join(n_a, "__ida")
           .withColumn("containment", F.col("__i") / F.col("__na"))
           .where(F.col("containment") >= threshold)
           .select(F.col("__ida").alias("id_a"), F.col("__idb").alias("id_b"),
                   F.round("containment", 4).cast("double").alias("containment")))
    return attach_intermediates(out, cached)


def resolve_duplicates(df: DataFrame, components: DataFrame,
                       id_col: str = "doc_id") -> DataFrame:
    """Keep one representative per duplicate cluster: drop every row whose
    id appears in ``components`` with ``component_id != doc_id`` (the
    canonical min-id member survives; rows outside any cluster pass
    through untouched). The anti-join runs on ids only — document
    payloads never shuffle, and the non-canonical id list is tiny (one
    row per dropped duplicate), so AQE broadcasts it."""
    non_canonical = (components
                     .where(F.col("doc_id") != F.col("component_id"))
                     .select(F.col("doc_id").alias(id_col)))
    return df.join(non_canonical, id_col, "left_anti")


def duplicate_components(pairs: DataFrame, id_a: str = "id_a",
                         id_b: str = "id_b", max_iter: int = 25) -> DataFrame:
    """Connected components over near-dup pairs: assign every document the
    minimum doc id reachable through duplicate edges (the canonical
    "keep one representative per duplicate cluster" step after any of the
    pair generators above).

    Iterative min-label propagation with self-loops: each round every
    node takes ``min(label over neighbours ∪ self)``; converged when no
    label changes. Rounds needed = graph diameter — near-dup components
    are threshold cliques (diameter 1-2), so 1-2 fully-distributed rounds
    in practice; the driver only sees the per-round changed-count
    (scalar). Two plan economies vs the textbook formulation:

    - **Round 1 is free**: with labels initialized to ids, the first
      propagation is just ``min(src) grouped by dst`` over the self-loop
      edge table — no label join at all. For clique-shaped duplicate
      clusters this alone reaches the fixpoint, leaving one confirming
      round.
    - **One join per round, not two**: the self-loop row carries each
      node's own label through the same ``groupBy(dst)`` that aggregates
      the neighbours, so the round is join→groupBy instead of
      join→groupBy→join-back (the old-vs-new attach), and the change
      flag falls out of ``min(label) < old label`` inside the aggregate.

    Materialization policy (r12): the four edge orientations (forward,
    reversed, both self-loops) explode ROW-LOCALLY from each pair row —
    one scan of the pair pipeline instead of the former 4-branch union
    over a persisted pair frame (Spark does not share common subplans
    across union branches, so that needed an extra cache and scanned it
    four times). Each round ends in a LAZY
    ``localCheckpoint(eager=False)`` — the plan truncates immediately
    (lineage stays O(1) per round; an untruncated loop compounds
    superlinearly — measured: thousands of Exchange nodes after
    convergence) but the blocks materialize inside the changed-count,
    which is now the ONE action per round instead of the former eager
    checkpoint + re-scan job pair. On a real cluster swap
    ``localCheckpoint`` for reliable ``checkpoint`` if executor loss
    during the loop must be survivable. For adversarial long-chain
    graphs switch to large-star/small-star (O(log n) rounds); duplicate
    clusters never look like that.

    Output: (doc_id, component_id) for every id present in ``pairs``;
    LAZY — caches attached for ``_cache.release_intermediates``. Raises
    ``RuntimeError`` if labels still change after ``max_iter`` rounds.
    """
    s, d = F.col(id_a), F.col(id_b)
    # neighbours ∪ self, exploded row-locally: the self-loop keeps
    # isolated-after-filter nodes alive and carries each node's current
    # label into the aggregation. One pass over the (possibly expensive)
    # pair pipeline; distinct dedupes across rows as the union did.
    orient = F.array(
        F.struct(s.alias("src"), d.alias("dst")),
        F.struct(d.alias("src"), s.alias("dst")),
        F.struct(s.alias("src"), s.alias("dst")),
        F.struct(d.alias("src"), d.alias("dst")))
    edges = (pairs.select(F.explode(orient).alias("__e"))
             .select(F.col("__e.src").alias("src"),
                     F.col("__e.dst").alias("dst"))
             .distinct().localCheckpoint(eager=False))
    # round 1 fused into initialization: labels ARE ids, so min-over-
    # neighbourhood needs no join yet (lazy: materializes inside round
    # 1's changed-count action)
    labels = (edges.groupBy("dst").agg(F.min("src").alias("label"))
              .select(F.col("dst").alias("id"), "label"))
    for _ in range(max_iter):
        prop = edges.join(labels, edges.src == labels.id)
        stepped = (prop.groupBy("dst").agg(
            F.min("label").alias("label"),
            # the self-loop row is the only one with src == dst: its
            # label is the node's current label
            (F.min("label") <
             F.min(F.when(F.col("src") == F.col("dst"), F.col("label"))))
            .alias("__chg"))
            .select(F.col("dst").alias("id"), "label", "__chg")
            .localCheckpoint(eager=False))  # lazy: plan cut NOW, blocks
        # materialize inside the changed-count — ONE action per round
        changed = stepped.where(F.col("__chg")).count()
        labels = stepped.select("id", "label")
        if changed == 0:
            break
    else:
        raise RuntimeError(
            f"duplicate_components: labels still changing after {max_iter} "
            "rounds (raise max_iter; rounds needed = graph diameter)")
    return labels.select(F.col("id").alias("doc_id"),
                         F.col("label").alias("component_id"))


def cross_split_cosine_leakage(
    df: DataFrame,
    fractions,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    threshold: float = 0.95,
    train_split: str = "train",
    salt: str = "",
    planes: int = 16,
    n_tables: int = 1,
    strategy: str = "auto",
) -> DataFrame:
    """Semantic eval-set contamination: near-duplicate embedding pairs
    (cosine ≥ ``threshold``) that STRADDLE the train/held-out boundary
    of a deterministic :func:`~feathr_spark.operators.sampling.hash_split`
    — the embedding-level companion of the fingerprint-level
    ``split_leakage`` audit (exact-dup leaks are the easy case; a
    held-out document whose near-paraphrase sits in train leaks just as
    surely, and only the embedding space sees it).

    Plan shape: pair generation is :func:`embedding_cosine_pairs`
    unchanged (cost-based exact/LSH routing, id-only band shuffles);
    the split labels are then RECOMPUTED per pair side as a pure md5
    expression of the id (:func:`~feathr_spark.operators.sampling
    .split_expr` — the identical thresholds hash_split assigns), so the
    audit adds ZERO joins and zero shuffles on top of the pair scan at
    any corpus size. Output: one row per leaking pair —
    (held_id, train_id, split, cosine), where ``split`` is the held-out
    side's label.
    """
    from .sampling import split_expr
    if train_split not in fractions:
        raise ValueError(f"cross_split_cosine_leakage: train_split "
                         f"{train_split!r} not in fractions")
    pairs = embedding_cosine_pairs(df, vec_col, id_col, threshold,
                                   planes, n_tables, strategy)
    sp_a = split_expr(F.col("id_a"), fractions, salt)
    sp_b = split_expr(F.col("id_b"), fractions, salt)
    j = pairs.select("id_a", "id_b", "cosine",
                     sp_a.alias("__sp_a"), sp_b.alias("__sp_b"))
    a_train = F.col("__sp_a") == train_split
    b_train = F.col("__sp_b") == train_split
    cross = j.where(a_train != b_train)
    held = F.when(a_train, F.col("id_b")).otherwise(F.col("id_a"))
    train = F.when(a_train, F.col("id_a")).otherwise(F.col("id_b"))
    split = F.when(a_train, F.col("__sp_b")).otherwise(F.col("__sp_a"))
    return cross.select(held.alias("held_id"), train.alias("train_id"),
                        split.alias("split"), "cosine")


def exact_substring_spans(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    min_len: int = 40,
    round_dp: int = 4,
) -> DataFrame:
    """Exact-substring duplication report, the ExactSubstr dedup of Lee
    et al. 2022 ("Deduplicating Training Data Makes Language Models
    Better") re-expressed for Spark: for every document, the MAXIMAL
    character spans of length >= ``min_len`` that occur verbatim
    elsewhere in the corpus (any alignment, any document), with the
    corpus-order FIRST occurrence of each substring exempt (keep-first
    — removing every copy would delete the content from the corpus).

    Lee et al. build a monolithic suffix array; the Spark-shaped
    equivalent is stride-1 gram hashing + interval algebra, exact for
    spans at the ``min_len`` granularity:

    1. every char position starts an ``min_len``-gram, hashed with md5
       (collision-free in practice AND portable — the oracle computes
       the identical digest);
    2. ONE hash-keyed rank finds each gram's first corpus occurrence
       ((id, pos) order); every later occurrence marks [pos,
       pos+min_len) as duplicated — boilerplate grams form huge groups,
       which is exactly the skew AQE's skew-join/window split handles;
    3. per document, overlapping/adjacent duplicated intervals merge
       into maximal spans with the gap-and-islands window pattern
       (new island when pos > running max end) — two narrow windows on
       the dup-position rows, never the corpus.

    A span of length s >= min_len duplicated elsewhere yields
    s - min_len + 1 duplicated grams covering exactly [start, start+s)
    after the merge, so reported spans are the true maximal duplicated
    regions; sub-``min_len`` duplications are invisible by design.

    Shuffle budget: gram rank (hash-keyed, rows are (id, pos, 16-byte
    digest) — the TEXT never shuffles) + the per-doc island windows +
    the final per-doc fold. Output per document with >= 1 duplicated
    span: (``id_col``, n_dup_spans, dup_chars, n_chars, dup_ratio).
    """
    from pyspark.sql import Window

    L = int(min_len)
    t = F.col(text_col)
    # docs shorter than min_len have no qualifying gram (filter BEFORE
    # the sequence: Spark's sequence(1, 0) counts DOWN, it isn't empty)
    # r11: spread_by first — a single-file local read is ONE partition, so
    # the stride-1 gram explosion (the pipeline's heaviest narrow stage,
    # 54 MB of gram digests at sf0.1) serialized onto one task (measured
    # 3.1 s of its 4.0 s wall); the exchange moves only the raw rows
    grams = (spread_by(df, F.col(id_col)).select(F.col(id_col), t.alias("__t"))
             .where(F.length("__t") >= L)
             .select(F.col(id_col),
                     F.length("__t").alias("__n"),
                     F.explode(F.sequence(
                         F.lit(1), F.length("__t") - L + 1)).alias("pos"),
                     F.col("__t"))
             .select(F.col(id_col), F.col("__n"), F.col("pos"),
                     F.md5(F.expr(
                         f"substring(__t, pos, {L})")).alias("__h")))
    rnk = Window.partitionBy("__h").orderBy(F.col(id_col).asc(),
                                            F.col("pos").asc())
    dups = (grams
            .withColumn("__rn", F.row_number().over(rnk))
            .where(F.col("__rn") > 1)
            .select(id_col, "__n", "pos"))
    w_ord = Window.partitionBy(id_col).orderBy("pos")
    prev_end = F.max(F.col("pos") + L).over(
        w_ord.rowsBetween(Window.unboundedPreceding, -1))
    isl = (dups
           .withColumn("__new", F.when(prev_end.isNull()
                                       | (F.col("pos") > prev_end), 1)
                       .otherwise(0))
           .withColumn("__isl", F.sum("__new").over(
               w_ord.rowsBetween(Window.unboundedPreceding, 0))))
    spans = (isl.groupBy(id_col, "__isl")
             .agg(F.min("pos").alias("__s"),
                  (F.max("pos") + L).alias("__e"),
                  F.first("__n").alias("__n")))
    nudge = F.lit(10.0 ** -(round_dp + 5))
    return (spans.groupBy(id_col)
            .agg(F.count("*").cast("bigint").alias("n_dup_spans"),
                 F.sum(F.col("__e") - F.col("__s")).cast("bigint")
                 .alias("dup_chars"),
                 F.first("__n").cast("bigint").alias("n_chars"))
            .select(id_col, "n_dup_spans", "dup_chars", "n_chars",
                    F.round(F.col("dup_chars")
                            / F.col("n_chars") + nudge, round_dp)
                    .cast("double").alias("dup_ratio")))
