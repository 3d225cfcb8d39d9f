"""Text-analysis operators for large-scale training-data pipelines.

All hot paths are built-in Spark SQL expressions (JVM-side, codegen'd) —
no Python UDFs — so they scale linearly with partitions: language ID
(stopword-hit heuristic), quality scoring (length/punct/stopword ratios),
token counting (whitespace + BPE-ish regex), and document fingerprinting
(md5 exact + rolling word-shingle min-hash).

These extend the reference surface (Azure/Feathr has no text operators);
they are first-class engine operators per the project north star.
"""

from __future__ import annotations

from typing import Dict, List

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

# Tiny per-language stopword marker lists. Deliberately small and fixed:
# the heuristic must be reproducible in plain SQL on any engine.
LANG_MARKERS: Dict[str, List[str]] = {
    "en": [" the ", " and ", " of ", " to ", " is "],
    "de": [" der ", " und ", " die ", " ist ", " das "],
    "fr": [" le ", " la ", " et ", " est ", " les "],
    "es": [" el ", " de la ", " que ", " y ", " es "],
}


def substring_count(col: Column, pat: str) -> Column:
    """Occurrences of a literal substring — portable SQL idiom
    (length difference / pattern length), no regex."""
    return (F.length(col) - F.length(F.replace(col, F.lit(pat), F.lit("")))) / len(pat)


def token_count(col: Column) -> Column:
    """Whitespace token count (0 for empty/blank)."""
    trimmed = F.trim(col)
    return F.when(F.length(trimmed) == 0, F.lit(0)).otherwise(
        F.size(F.split(trimmed, r"\s+"))).cast("bigint")


def word_token_count(col: Column) -> Column:
    """BPE-ish token estimate: words + punctuation marks counted separately
    (regexp-based, still JVM-side)."""
    words = F.size(F.regexp_extract_all(col, F.lit(r"[A-Za-z0-9]+"), F.lit(0)))
    puncts = F.size(F.regexp_extract_all(col, F.lit(r"[^\sA-Za-z0-9]"), F.lit(0)))
    return (words + puncts).cast("bigint")


def char_count(col: Column) -> Column:
    return F.length(col).cast("bigint")


def punct_ratio(col: Column) -> Column:
    """Fraction of non-alphanumeric, non-space characters."""
    n = F.length(col)
    p = F.size(F.regexp_extract_all(col, F.lit(r"[^\sA-Za-z0-9]"), F.lit(0)))
    return F.when(n > 0, p / n).otherwise(F.lit(0.0))


def stopword_hits(col: Column, lang: str = "en") -> Column:
    """Total occurrences of the language's marker stopwords (padded match)."""
    padded = F.concat(F.lit(" "), F.lower(col), F.lit(" "))
    total = F.lit(0.0)
    for m in LANG_MARKERS[lang]:
        total = total + substring_count(padded, m)
    return total


def quality_score(col: Column) -> Column:
    """Composite quality heuristic in [0, 1]: rewards moderate length,
    low punctuation density, and presence of English stopwords. Fixed
    weights; deterministic; portable to plain SQL."""
    n_tok = token_count(col)
    len_score = F.least(n_tok / F.lit(20.0), F.lit(1.0))
    punct_score = F.lit(1.0) - F.least(punct_ratio(col) * 4, F.lit(1.0))
    stop_score = F.least(stopword_hits(col, "en") / F.greatest(n_tok, F.lit(1)) * 5,
                         F.lit(1.0))
    return (len_score * 0.4 + punct_score * 0.3 + stop_score * 0.3)


def lang_scores(col: Column) -> Dict[str, Column]:
    """Per-language marker-hit rate (hits per character)."""
    padded = F.concat(F.lit(" "), F.lower(col), F.lit(" "))
    n = F.greatest(F.length(col), F.lit(1))
    out = {}
    for lang, markers in LANG_MARKERS.items():
        total = F.lit(0.0)
        for m in markers:
            total = total + substring_count(padded, m)
        out[lang] = total / n
    return out


def lang_id(col: Column) -> Column:
    """Predicted language = arg-max marker-hit rate; ties break by language
    code ascending; all-zero → 'und' (undetermined)."""
    scores = lang_scores(col)
    langs = sorted(scores)  # tie-break: first in alphabetical order wins
    best = scores[langs[0]]
    for lang in langs[1:]:
        best = F.greatest(best, scores[lang])
    result = F.lit("und")
    # reverse order so earlier languages overwrite later on equality
    for lang in reversed(langs):
        result = F.when((scores[lang] >= best) & (best > 0), F.lit(lang)) \
            .otherwise(result)
    return result


GOPHER_STOPWORDS = ["the", "and", "of", "to", "is", "be", "with", "that"]


def gopher_quality_flags(df: DataFrame, text_col: str = "text",
                         id_col: str = "doc_id",
                         min_words: int = 5, max_words: int = 100000,
                         min_mean_word_len: float = 3.0,
                         max_mean_word_len: float = 10.0,
                         max_symbol_ratio: float = 0.1,
                         min_distinct_stopwords: int = 2) -> DataFrame:
    """Gopher/C4-style document quality gates as NAMED boolean rules (the
    rule set from the Gopher paper's quality-filtering appendix, minus the
    line-level bullet/ellipsis rules — the repetition rules live in
    :func:`repetition_stats`):

    - ``ok_word_count``: ``min_words ≤ words ≤ max_words``
    - ``ok_mean_word_len``: mean word length in
      ``[min_mean_word_len, max_mean_word_len]``
    - ``ok_symbol_ratio``: (# + …/... occurrences) / words ≤
      ``max_symbol_ratio``
    - ``ok_stopwords``: ≥ ``min_distinct_stopwords`` DISTINCT members of
      the 8-word Gopher stop list appear
    - ``keep`` = conjunction of all rules.

    Every rule is a builtin row-local expression (tokens computed once
    per row) — ZERO shuffles at any scale; the downstream filter is
    simply ``.where("keep")`` which Catalyst pushes into the scan.
    Output: (id, n_words, mean_word_len, symbol_ratio,
    n_distinct_stopwords, ok_*, keep).
    """
    toks = F.split(F.lower(F.trim(F.regexp_replace(F.col(text_col),
                                                   r"\s+", " "))), " ")
    base = df.select(F.col(id_col), toks.alias("__w"))
    n_words = F.size("__w")
    # mean word length over the whitespace tokens (chars excl. separators)
    total_chars = F.aggregate("__w", F.lit(0),
                              lambda acc, x: acc + F.length(x))
    mean_wl = total_chars / F.greatest(n_words, F.lit(1))
    sym = (F.size(F.filter("__w", lambda x: x.contains("#")))
           + F.size(F.filter("__w", lambda x: x.contains("..."))))
    sym_ratio = sym / F.greatest(n_words, F.lit(1))
    n_stop = F.size(F.array_intersect(
        "__w", F.array(*[F.lit(s) for s in GOPHER_STOPWORDS])))
    out = base.select(
        id_col,
        n_words.cast("bigint").alias("n_words"),
        F.round(mean_wl, 4).cast("double").alias("mean_word_len"),
        F.round(sym_ratio, 4).cast("double").alias("symbol_ratio"),
        n_stop.cast("bigint").alias("n_distinct_stopwords"),
    )
    return out.select(
        "*",
        ((F.col("n_words") >= min_words)
         & (F.col("n_words") <= max_words)).alias("ok_word_count"),
        ((F.col("mean_word_len") >= min_mean_word_len)
         & (F.col("mean_word_len") <= max_mean_word_len))
        .alias("ok_mean_word_len"),
        (F.col("symbol_ratio") <= max_symbol_ratio).alias("ok_symbol_ratio"),
        (F.col("n_distinct_stopwords") >= min_distinct_stopwords)
        .alias("ok_stopwords"),
    ).withColumn("keep", F.col("ok_word_count") & F.col("ok_mean_word_len")
                 & F.col("ok_symbol_ratio") & F.col("ok_stopwords"))


def md5_fingerprint(col: Column, normalize: bool = True) -> Column:
    """Exact-duplicate fingerprint: md5 of whitespace-normalized lowercase
    text. md5 is portable across engines (same hex output everywhere)."""
    c = col
    if normalize:
        c = F.lower(F.trim(F.regexp_replace(c, r"\s+", " ")))
    return F.md5(c)


# Winnowing polynomial-hash constants (Horner base / modulus). P = 2^31-1
# keeps every intermediate (h*B + code) far below 2^63 for any Unicode
# code point, so the arithmetic is portable 64-bit integer math.
WINNOW_HASH_BASE = 257
WINNOW_HASH_MOD = 2147483647


def winnow_fingerprints_expr(df: DataFrame, text_col: str = "text",
                             id_col: str = "doc_id", k: int = 5,
                             w: int = 4) -> DataFrame:
    """Winnowing document fingerprints (Schleimer/Wilkerson/Aiken, SIGMOD
    2003 — the MOSS algorithm): char ``k``-gram rolling hashes; every
    window of ``w`` consecutive hashes contributes its MINIMUM; the
    distinct minima are the document's fingerprint set.

    The winnowing guarantee: any substring match of length ≥ k + w − 1
    between two documents produces at least one SHARED fingerprint, while
    the expected fingerprint density is only 2/(w+1) of positions — the
    standard local-selection sketch for plagiarism/overlap detection
    where MinHash's global sketch can't localize matches.

    Plan shape: everything is row-local builtin expressions (per-char
    code array → Horner polynomial k-gram hashes → sliding ``array_min``
    → ``array_distinct`` → explode); ZERO shuffles at any scale, and the
    fingerprint stream feeds an id-keyed overlap join downstream. The
    hash is a polynomial rolling hash over character codes
    (``h = fold(h*257 + code) mod (2^31 - 1)`` — pure 64-bit-safe integer
    arithmetic), so an independent SQL engine reproduces every value
    bit-for-bit and the per-position cost is ``k`` integer ops instead of
    an md5 over an allocated substring (~2x wall-clock on the sketch
    pass, measured at sf0.1). 31-bit hashes collide at ~n²/2^32 over n
    distinct grams; winnowing tolerates that (a collision only
    over-matches if BOTH documents select it as a window minimum), and
    the overlap join's ``min_shared`` threshold suppresses the residue.

    Degenerate inputs follow the shingle conventions: text shorter than
    ``k`` hashes as one whole-string gram; fewer than ``w`` grams form
    one window. Output: (``id_col``, fingerprint) distinct per document.
    """
    from .dedup import normalize_text
    B, P = WINNOW_HASH_BASE, WINNOW_HASH_MOD
    norm = df.select(F.col(id_col).alias("__id"),
                     normalize_text(F.col(text_col)).alias("__t"))
    ln = F.length("__t")
    codes = F.transform(
        F.sequence(F.lit(1), F.greatest(ln, F.lit(1))),
        lambda i: F.ascii(F.col("__t").substr(i, F.lit(1))).cast("long"))
    with_codes = norm.select("__id", ln.alias("__ln"),
                             codes.alias("__codes"))

    def gram_hash(i):
        h = F.element_at(F.col("__codes"), i) % P
        for j in range(1, k):
            h = (h * B + F.element_at(F.col("__codes"), i + F.lit(j))) % P
        return h

    whole = F.aggregate(
        F.col("__codes"), F.lit(0).cast("long"),
        lambda acc, c: (acc * B + c) % P)
    hs = (F.when(F.col("__ln") == 0, F.array(F.lit(0).cast("long")))
          .when(F.col("__ln") < k, F.array(whole))
          .otherwise(F.transform(
              F.sequence(F.lit(1), F.col("__ln") - k + 1), gram_hash)))
    hashed = with_codes.select("__id", hs.alias("__hs"))
    n = F.size("__hs")
    mins = F.when(n < w, F.array(F.array_min("__hs"))).otherwise(
        F.transform(F.sequence(F.lit(1), n - w + 1),
                    lambda j: F.array_min(F.slice(F.col("__hs"), j, w))))
    return (hashed
            .select("__id", F.explode(F.array_distinct(mins)).alias("fingerprint"))
            .select(F.col("__id").alias(id_col),
                    F.col("fingerprint").cast("bigint")))


def winnow_overlap_pairs(
    df_a: DataFrame,
    df_b: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    k: int = 5,
    w: int = 4,
    min_shared: int = 2,
    max_df: int = None,
) -> DataFrame:
    """Cross-corpus EXACT-substring overlap via winnowing fingerprints —
    the char-level counterpart to the word-n-gram containment check: by
    the winnowing guarantee, any literal substring of length ≥ k + w − 1
    shared between an A-doc and a B-doc produces at least one shared
    fingerprint, so ``n_shared`` counts verbatim-copy evidence (quotes,
    boilerplate, benchmark leakage) that paraphrase-tolerant Jaccard
    measures dilute.

    Plan shape: both corpora sketch row-locally (zero shuffle, ~2/(w+1)
    of positions), the inner join runs on the 8-byte fingerprint with ids
    only, and the per-pair count groups the matches. ``max_df`` is the
    hot-fingerprint guard (same scale argument as the contamination
    check): a boilerplate fingerprint present in f_A docs of A and f_B of
    B meets in ONE join group and emits f_A·f_B rows — quadratic on
    exactly the most common content — so fingerprints with document
    frequency > ``max_df`` on either side leave the universe first (AQE
    decides anti-join strategy).

    Output: (id_a, id_b, n_shared), n_shared ≥ ``min_shared``.
    """
    fa = winnow_fingerprints(df_a, text_col, id_col, k, w) \
        .select(F.col(id_col).alias("__ida"), "fingerprint")
    fb = winnow_fingerprints(df_b, text_col, id_col, k, w) \
        .select(F.col(id_col).alias("__idb"), "fingerprint")
    if max_df is not None:
        # The df census below AND the overlap join both consume fa/fb, so
        # without a persist each corpus is sketched TWICE (the md5-per-
        # position pass is the dominant cost). The cached frame is (id,
        # 8-byte fingerprint) — ~2/(w+1) rows per char, spill-safe.
        fa = fa.persist()
        fb = fb.persist()
        banned = (fa.groupBy("fingerprint").agg(F.count("*").alias("__df"))
                  .where(F.col("__df") > max_df).select("fingerprint")
                  .union(fb.groupBy("fingerprint")
                         .agg(F.count("*").alias("__df"))
                         .where(F.col("__df") > max_df).select("fingerprint"))
                  .distinct())
        fa = fa.join(banned, "fingerprint", "left_anti")
        fb = fb.join(banned, "fingerprint", "left_anti")
    return (fa.join(fb, "fingerprint")
            .groupBy("__ida", "__idb")
            .agg(F.count("*").cast("bigint").alias("n_shared"))
            .where(F.col("n_shared") >= min_shared)
            .select(F.col("__ida").alias("id_a"),
                    F.col("__idb").alias("id_b"), "n_shared"))


def text_stats(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Attach the full stats column set (one projection, one scan)."""
    c = F.col(text_col)
    return df.select(
        "*",
        char_count(c).alias("n_chars_computed"),
        token_count(c).alias("n_tokens"),
        word_token_count(c).alias("n_tokens_bpe"),
        # +1e-9 nudges exact half-way values (e.g. 0.83125) off the rounding
        # boundary so Spark and SQL oracles agree at 4dp.
        F.round(punct_ratio(c) + F.lit(1e-9), 4).cast("double").alias("punct_ratio"),
        F.round(quality_score(c) + F.lit(1e-9), 4).cast("double").alias("quality"),
        lang_id(c).alias("lang_pred"),
        md5_fingerprint(c).alias("fingerprint"),
    )


# PII patterns deliberately restricted to the regex subset shared by Java
# regex (Spark) and RE2 (DuckDB/Go) so redaction is oracle-checkable and
# engine-portable. Order matters: emails before phone-ish digit runs.
PII_PATTERNS: List[tuple] = [
    ("email", r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}", "<EMAIL>"),
    ("ipv4", r"\b\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}\b", "<IP>"),
    ("phone", r"\+?\d[\d()\- ]{7,}\d", "<PHONE>"),
]


def redact_pii(col: Column, kinds: List[str] = None) -> Column:
    """Replace common PII spans (emails, IPv4 addresses, phone-like digit
    runs) with typed placeholders — the standard scrub step before a
    corpus ships to training. Chained builtin ``regexp_replace`` (JVM,
    replace-all), zero shuffles, linear in the scan."""
    out = col
    for name, pat, repl in PII_PATTERNS:
        if kinds is None or name in kinds:
            out = F.regexp_replace(out, pat, repl)
    return out


def top_ngrams(df: DataFrame, text_col: str = "text", n: int = 2,
               k: int = 20) -> DataFrame:
    """Corpus-level top-k word n-grams by occurrence count (every
    occurrence counts, not per-document sets) — frequency tables for
    boilerplate detection and tokenizer sanity checks.

    One narrow explode + one count shuffle on the n-gram string + a
    scale-safe global top-k: ``orderBy().limit(k)`` compiles to
    ``TakeOrderedAndProject`` — each task keeps only its local top-k and
    the driver merges k·P candidate rows, never sorting the full
    distinct-gram table (the corpus vocabulary — billions of rows at
    100 TB) on one task. Rank is derived afterwards with a window over
    the already-bounded k-row frame; ties break lexicographically for
    determinism. Documents shorter than ``n`` words contribute their
    whole text as a single gram (the same convention as the n-gram
    shingle sets).
    """
    from pyspark.sql import Window
    tokens = F.split(F.lower(F.trim(F.regexp_replace(F.col(text_col),
                                                     r"\s+", " "))), " ")
    base = df.select(tokens.alias("__toks"))
    cnt = F.size(F.col("__toks"))
    grams = F.when(cnt < n, F.array(F.concat_ws(" ", F.col("__toks")))) \
        .otherwise(F.transform(
            F.sequence(F.lit(1), cnt - n + 1),
            lambda i: F.concat_ws(" ", F.slice(F.col("__toks"), i, n))))
    counted = (base.select(F.explode(grams).alias("ngram"))
               .groupBy("ngram").agg(F.count("*").alias("n_occurrences")))
    order = [F.col("n_occurrences").desc(), F.col("ngram").asc()]
    top = counted.orderBy(*order).limit(k)
    # The unpartitioned window below only ever sees the k surviving rows —
    # bounded by the TakeOrderedAndProject above, not a scale concern.
    w = Window.orderBy(*order)
    return (top.withColumn("rank", F.row_number().over(w))
            .select(F.col("rank").cast("bigint").alias("rank"), "ngram",
                    F.col("n_occurrences").cast("bigint").alias("n_occurrences")))


def repetition_stats(df: DataFrame, text_col: str = "text",
                     id_col: str = "doc_id", n: int = 2) -> DataFrame:
    """Per-document repetition signals (Gopher-style quality filters):
    the fraction of repeated words and the coverage of the single most
    frequent word n-gram — boilerplate and degenerate-generation
    detectors that length/punctuation stats miss.

    Output per document: ``n_words``, ``dup_word_frac``
    (1 − distinct/total words), ``top_gram`` (most frequent n-gram,
    count ties broken lexicographically ascending), ``top_gram_count``,
    ``top_gram_frac`` (its share of all n-gram occurrences). Documents
    shorter than ``n`` words contribute their whole text as one gram
    (the shared n-gram convention); fractions round to 4dp.

    Scale shape: ``dup_word_frac`` is a narrow higher-order-function
    projection (zero shuffle); the top-gram stats explode to
    (doc, gram) rows and aggregate with ONE shuffle on the doc id —
    per-doc mode via array HOFs would be O(distinct·total) per document,
    quadratic on exactly the long documents that matter at 100 TB. The
    final attach is a doc-id equi-join AQE resolves (broadcast when the
    per-doc frame is small).
    """
    from pyspark.sql import Window
    toks = F.split(F.lower(F.trim(F.regexp_replace(F.col(text_col),
                                                   r"\s+", " "))), " ")
    base = df.select(F.col(id_col).alias("__id"), toks.alias("__toks"))
    cnt = F.size(F.col("__toks"))
    # total gram occurrences per doc is a function of the word count
    # (cnt − n + 1 sliding grams, 1 for short docs) — no need to sum the
    # per-gram counts back up with a second window.
    word_stats = base.select(
        "__id", cnt.alias("n_words"),
        F.greatest(cnt - n + 1, F.lit(1)).alias("__total"),
        F.round(F.lit(1.0) - F.size(F.array_distinct(F.col("__toks"))) / cnt
                + F.lit(1e-9), 4).cast("double").alias("dup_word_frac"))
    grams = F.when(cnt < n, F.array(F.concat_ws(" ", F.col("__toks")))) \
        .otherwise(F.transform(
            F.sequence(F.lit(1), cnt - n + 1),
            lambda i: F.concat_ws(" ", F.slice(F.col("__toks"), i, n))))
    gram_counts = (base.select("__id", F.explode(grams).alias("__g"))
                   .groupBy("__id", "__g").agg(F.count("*").alias("__c")))
    ranked = (gram_counts
              .withColumn("__rn", F.row_number().over(
                  Window.partitionBy("__id").orderBy(
                      F.col("__c").desc(), F.col("__g").asc())))
              .where(F.col("__rn") == 1))
    top = ranked.select(
        "__id", F.col("__g").alias("top_gram"),
        F.col("__c").cast("bigint").alias("top_gram_count"))
    return (word_stats.join(top, "__id")
            .select(F.col("__id").alias(id_col),
                    F.col("n_words").cast("bigint").alias("n_words"),
                    "dup_word_frac", "top_gram", "top_gram_count",
                    F.round(F.col("top_gram_count") / F.col("__total")
                            + F.lit(1e-9), 4)
                    .cast("double").alias("top_gram_frac")))


def chunk_documents(df: DataFrame, text_col: str = "text",
                    id_col: str = "doc_id", chunk_tokens: int = 64,
                    stride: int = 48) -> DataFrame:
    """Token-bounded overlapping chunks — the standard pre-tokenization
    split for LLM training corpora. Whitespace tokens; chunk *i* covers
    tokens ``[i*stride, i*stride + chunk_tokens)``; the last chunk may be
    short; an empty document yields one empty chunk (chunk_index 0).

    Pure builtin expressions (split → sequence of starts → posexplode →
    slice): per-row narrow work, no shuffle at all — the one pipeline
    stage fans each document out to its chunks in place, so it scales
    with the scan. Output: (id, chunk_index, chunk_text, n_tokens).
    """
    toks = F.filter(F.split(F.col(text_col), r"\s+"),
                    lambda t: t != F.lit(""))
    base = df.select(F.col(id_col), toks.alias("__toks"))
    n = F.size(F.col("__toks"))
    starts = F.sequence(F.lit(0), F.greatest(n - 1, F.lit(0)), F.lit(stride))
    return (base
            .select(id_col, "__toks", n.alias("__n"),
                    F.posexplode(starts).alias("chunk_index", "__start"))
            .select(
                F.col(id_col),
                F.col("chunk_index").cast("bigint").alias("chunk_index"),
                F.concat_ws(" ", F.slice(F.col("__toks"),
                                         F.col("__start") + 1,
                                         chunk_tokens)).alias("chunk_text"),
                F.least(F.col("__n") - F.col("__start"),
                        F.lit(chunk_tokens)).cast("bigint").alias("n_tokens"),
            ))


def dedup_spans(df: DataFrame, text_col: str = "text",
                id_col: str = "doc_id", span_words: int = 16) -> DataFrame:
    """C4-style span-level corpus dedup: remove repeated spans, keep the
    FIRST occurrence in corpus order (``id`` asc, position asc), and
    reassemble each document from its surviving spans.

    C4 (Raffel et al. 2020) drops duplicate three-sentence spans across the
    whole corpus; the synthetic tables have no sentence boundaries, so the
    span unit here is a non-overlapping window of ``span_words`` whitespace
    tokens (the operator is unit-agnostic — any upstream segmentation that
    produces one span row per position works the same).

    Plan shape (2 shuffles, both key-bounded): (1) spans are built by pure
    narrow expressions (split → sequence → posexplode → slice, all
    codegen'd); the keep-first rank is ONE shuffle partitioned by the span's
    md5 — group sizes are duplicate multiplicities, so AQE's skew split
    handles boilerplate spans; (2) reassembly is ONE shuffle back on the
    document id. Dropped spans travel to the reassembly as a boolean flag
    (no second join against the corpus), so fully-duplicated documents
    still come out (empty ``text_clean``) and per-doc drop counts are free.
    Documents that are empty after tokenization produce no output row.

    Output: ``(id, text_clean, n_spans_kept, n_spans_dropped)``.

    Tokenization is pinned to the explicit class ``[ \\t\\n\\r]+`` rather
    than ``\\s`` — Java regex ``\\s`` includes vertical tab (and, with
    UNICODE_CHARACTER_CLASS, all Unicode spaces) while RE2-based engines
    (the DuckDB oracle) stop at ``[\\t\\n\\f\\r ]``. Note the class is
    deliberately NARROWER than the Java/RE2 intersection: form feed
    ``\\f`` IS whitespace in both engines but is excluded here (with
    ``\\x0B``, which only Java treats as ``\\s``), so documents
    containing ``\\f`` keep it inside tokens. Pinned this way since r7
    so span boundaries stay stable round-over-round against the
    driver-recorded oracle; widen to ``[ \\t\\n\\f\\r]+`` on BOTH
    engines simultaneously if C4-faithful ``\\f`` splitting ever
    matters for a real corpus.
    """
    from pyspark.sql import Window

    toks = F.filter(F.split(F.trim(F.col(text_col)), "[ \t\n\r]+"),
                    lambda t: t != F.lit(""))
    base = df.select(F.col(id_col), toks.alias("__toks"))
    n = F.size(F.col("__toks"))
    starts = F.sequence(F.lit(0), F.greatest(n - 1, F.lit(0)),
                        F.lit(span_words))
    spans = (base
             .select(id_col, "__toks",
                     F.posexplode(starts).alias("__pos", "__start"))
             .select(F.col(id_col), F.col("__pos"),
                     F.concat_ws(" ", F.slice(F.col("__toks"),
                                              F.col("__start") + 1,
                                              span_words)).alias("__span"))
             .where(F.col("__span") != ""))
    w = (Window.partitionBy(F.md5(F.col("__span")))
         .orderBy(F.col(id_col).asc(), F.col("__pos").asc()))
    flagged = spans.withColumn("__keep", F.row_number().over(w) == 1)
    surviving = F.filter(
        F.array_sort(F.collect_list(F.struct("__pos", "__keep", "__span"))),
        lambda s: s["__keep"])
    return (flagged.groupBy(id_col)
            .agg(F.sum(F.col("__keep").cast("long")).alias("n_spans_kept"),
                 F.sum((~F.col("__keep")).cast("long"))
                  .alias("n_spans_dropped"),
                 F.concat_ws(" ", F.transform(surviving,
                                              lambda s: s["__span"]))
                  .alias("text_clean")))


def winnow_fingerprints(df: DataFrame, text_col: str = "text",
                        id_col: str = "doc_id", k: int = 5,
                        w: int = 4) -> DataFrame:
    """Winnowing fingerprints — Arrow-batched implementation (default).

    Value-identical to :func:`winnow_fingerprints_expr` (the pure-
    expression form, kept as the semantic reference and pinned equal by a
    test): same normalization, same Horner polynomial hash (base 257,
    mod 2^31-1, exact int64), same window-min selection and distinct
    rule. The per-position fold is where the expression form loses —
    Spark evaluates higher-order functions interpreted, per element —
    while here each document's whole sketch is a handful of vectorized
    numpy passes (codes via utf-32 view, k Horner steps over strided
    slices, one sliding-window min). Zero shuffle either way; ~2-4x
    wall-clock on the sketch pass at sf0.1.
    """
    import numpy as np
    import pandas as pd

    from .dedup import normalize_text
    B, P = WINNOW_HASH_BASE, WINNOW_HASH_MOD

    def _sketch(it):
        for pdf in it:
            ids, fps = [], []
            for i, t in zip(pdf["__id"].to_numpy(),
                            pdf["__t"].to_numpy()):
                if t is None:
                    continue
                codes = np.frombuffer(t.encode("utf-32-le"),
                                      dtype=np.uint32).astype(np.int64)
                n = codes.shape[0]
                if n == 0:
                    hs = np.array([0], dtype=np.int64)
                elif n < k:
                    h = np.int64(0)
                    for c in codes:
                        h = (h * B + c) % P
                    hs = np.array([h], dtype=np.int64)
                else:
                    L = n - k + 1
                    hs = codes[:L] % P
                    for j in range(1, k):
                        hs = (hs * B + codes[j:j + L]) % P
                if hs.shape[0] < w:
                    mins = hs.min(keepdims=True)
                else:
                    mins = np.lib.stride_tricks.sliding_window_view(
                        hs, w).min(axis=1)
                u = np.unique(mins)
                ids.append(np.full(u.shape[0], i, dtype=np.int64))
                fps.append(u)
            if ids:
                yield pd.DataFrame({
                    "__id": np.concatenate(ids),
                    "fingerprint": np.concatenate(fps)})

    norm = df.select(F.col(id_col).alias("__id"),
                     normalize_text(F.col(text_col)).alias("__t"))
    out = norm.mapInPandas(_sketch, "__id long, fingerprint long")
    return out.select(F.col("__id").alias(id_col),
                      F.col("fingerprint").cast("bigint"))


def type_token_stats(df: DataFrame, text_col: str = "text",
                     id_col: str = "doc_id") -> DataFrame:
    """Per-document lexical-diversity profile: token count, vocabulary
    size (types), type-token ratio, and hapax-legomena ratio (share of
    types occurring exactly once) — the classic corpus-quality signals
    for spotting boilerplate (low TTR) and OCR noise (high hapax).

    Tokens are lowercase ``[a-z0-9]+`` runs (ASCII — identical regex
    semantics on every engine). Plan: one (doc, term) collapse — the
    only data-sized shuffle — then a per-doc fold over the term-count
    frame; no per-doc quadratic HOF scans, so a 1 MB document costs the
    same per token as a tweet.
    """
    toks = F.explode(
        F.regexp_extract_all(F.lower(F.col(text_col)),
                             F.lit(r"[a-z0-9]+"), F.lit(0)))
    terms = (df.select(F.col(id_col).alias("__id"), toks.alias("__t"))
             .groupBy("__id", "__t")
             .agg(F.count(F.lit(1)).alias("__c")))
    out = (terms.groupBy("__id")
           .agg(F.sum("__c").alias("__n"),
                F.count(F.lit(1)).alias("__types"),
                F.count_if(F.col("__c") == 1).alias("__hapax")))
    return out.select(
        F.col("__id").alias(id_col),
        F.col("__n").cast("bigint").alias("n_tokens"),
        F.col("__types").cast("bigint").alias("n_types"),
        (F.col("__types") / F.col("__n")).cast("double").alias("ttr"),
        (F.col("__hapax") / F.col("__types")).cast("double")
        .alias("hapax_ratio"))


def readability(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Row-local Flesch reading ease + Flesch-Kincaid grade per
    document, appended as columns (zero shuffle).

    Heuristics chosen for cross-engine determinism: words = lowercase
    ``[a-z]+`` runs, syllables = vowel-group runs ``[aeiouy]+`` (vowel
    groups never span a non-letter, so the text-level count equals the
    per-word sum), sentences = ``[.!?]+`` runs clamped to >= 1.
    Documents with zero words get NULL scores rather than a divide
    error.
    """
    low = F.lower(F.col(text_col))
    words = F.size(F.regexp_extract_all(low, F.lit(r"[a-z]+"), F.lit(0)))
    syls = F.size(F.regexp_extract_all(low, F.lit(r"[aeiouy]+"),
                                       F.lit(0)))
    sents = F.greatest(
        F.size(F.regexp_extract_all(F.col(text_col), F.lit(r"[.!?]+"),
                                    F.lit(0))), F.lit(1))
    w = words.cast("double")
    flesch = (F.lit(206.835) - 1.015 * w / sents.cast("double")
              - 84.6 * syls.cast("double") / w)
    fk = (0.39 * w / sents.cast("double")
          + 11.8 * syls.cast("double") / w - F.lit(15.59))
    ok = words > 0
    return (df.withColumn("n_words", words.cast("bigint"))
            .withColumn("n_sentences", sents.cast("bigint"))
            .withColumn("n_syllables", syls.cast("bigint"))
            .withColumn("flesch",
                        F.when(ok, flesch).cast("double"))
            .withColumn("fk_grade", F.when(ok, fk).cast("double")))


def lexical_richness(
    df: DataFrame,
    text_col: str = "text",
    by: Sequence[str] = ("source",),
    round_dp: int = 4,
) -> DataFrame:
    """Per-group lexical-richness profile: type-token ratio, hapax
    ratio, and Yule's K — the repetitiveness fingerprint of a corpus
    slice (template/boilerplate-heavy sources show low TTR and high K;
    K is length-insensitive where raw TTR is not, which is why both
    ship). K = 10^4 · (Σ_t tf_t² − N) / N² (Yule 1944, the Σ m²·V_m
    form collapsed over types).

    Everything up to the final ratios is exact integer arithmetic from
    one (group, term) aggregate — map-side combined, no second corpus
    scan: N, V, V₁ and Σtf² all fold from the same frame. At extreme
    per-group token counts move Σtf² to DECIMAL (BIGINT holds to
    ~Σtf² < 9·10^18; a 10^9-token group of one repeated token is the
    overflow shape).

    Output: (by..., n_tokens, n_types, n_hapax, ttr, hapax_ratio,
    yule_k).
    """
    from .search import _norm_tokens
    keys = list(by)
    toks = df.select(*keys,
                     F.explode(_norm_tokens(F.col(text_col))).alias("term"))
    tf = (toks.groupBy(*keys, "term")
          .agg(F.count("*").cast("bigint").alias("__tf")))
    g = (tf.groupBy(*keys)
         .agg(F.sum("__tf").cast("bigint").alias("n_tokens"),
              F.count("*").cast("bigint").alias("n_types"),
              F.sum(F.when(F.col("__tf") == 1, 1).otherwise(0))
              .cast("bigint").alias("n_hapax"),
              F.sum(F.col("__tf") * F.col("__tf")).cast("bigint")
              .alias("__sq")))
    n = F.col("n_tokens").cast("double")
    nudge = F.lit(10.0 ** -(round_dp + 5))
    return g.select(
        *keys, "n_tokens", "n_types", "n_hapax",
        F.round(F.col("n_types").cast("double") / n + nudge, round_dp)
        .cast("double").alias("ttr"),
        F.round(F.col("n_hapax").cast("double")
                / F.col("n_types").cast("double") + nudge, round_dp)
        .cast("double").alias("hapax_ratio"),
        F.round(F.lit(1e4) * (F.col("__sq") - F.col("n_tokens"))
                .cast("double") / (n * n) + nudge, round_dp)
        .cast("double").alias("yule_k"))
