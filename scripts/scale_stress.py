"""Scale-stress harness for the heavy dedup/ANN query family.

VERDICT r4 item 7: the 100 TB story for minhash_pairs /
dedup_components / semantic_dedup_pairs / ann_pq_topk (+ the winnow /
contamination substring family) rested on design argument alone — every
recorded run is sf0.1. This script MEASURES the growth curve: it
generates documents/embeddings corpora at 1x / 3x / 5x the sf0.1 size
with the same statistical character (empirical unigram + length
distributions fitted from the real sf0.1 corpus, ~5%% injected near-
duplicates; per-label Gaussian clusters fitted from the real sf0.1
embeddings), runs each heavy query at each scale in one Spark session,
and prints sec-vs-scale with the fitted growth exponent
(log t ~ a + b log n; b < 2 = sub-quadratic).

Corpora land under .stress/ (gitignored); /root/testdata is never
touched. Usage:

    python scripts/scale_stress.py              # 1x/3x/5x, min-of-2
    python scripts/scale_stress.py 1 3          # custom scale list
    python scripts/scale_stress.py --pit --queries=pit_multi_source
    python scripts/scale_stress.py --pit --queries=pit_hot_key,pit_hot_key_90,pit_hot_key_90u

``--pit`` runs the point-in-time family (driver queries plus the cases
in ``PIT_CASES``) and prints each one's shuffle Exchange count next to
its time.
"""
import os
import sys
import time

import numpy as np

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
SRC = "/root/testdata/sf0.1"
OUT = os.path.join(REPO, ".stress")
HEAVY = ["minhash_pairs", "dedup_components", "winnow_overlap",
         "contamination_check", "semantic_dedup_pairs", "ann_pq_topk",
         "ccnet_buckets", "dsir_weights",
         # r6 document/embedding additions
         "gram_embeddings", "ttr_docs", "doc_keywords",
         "reservoir_docs",
         # r6 late-session document-heavy additions
         "dedup_cluster_stats", "vocab_growth", "token_fertility",
         "dup_rate_by_source", "centroid_drift",
         # r9: Bloom-prefiltered exact containment joins + the
         # composed dedup->quality->decontaminate->account job
         "bloom_contained_docs", "bloom_decontam_counts",
         "curation_pipeline",
         # r9 batch 3: leakage audit, padding ladder, BPE pair mining,
         # mixture planning, export shuffle
         "split_leakage", "padding_waste", "bpe_pair_counts",
         "token_budget_plan", "shard_export",
         # r9 batch 4: PMI collocations (docs), simplified silhouette +
         # cross-split cosine leakage (embeddings)
         "pmi_collocations", "silhouette_embeddings",
         "embedding_leakage",
         # r9 batch 5: NB classifier + vocab coverage (docs).
         # knn_agreement is deliberately NOT stressed: its query slice
         # (vec_id % 17) grows with the corpus, so the brute audit is
         # O(n^2/17) BY CONSTRUCTION — the scale path swaps the
         # candidate stage for ivf/lsh_topk (exponents already
         # measured); see BASELINE.md r9 batch-5 notes
         "nb_lang", "vocab_coverage",
         # r9 batch 6 (all documents-based)
         "zipf_fit", "compaction_plan", "lexical_richness",
         # r10: real-codec decode + URL ops (documents-based, row-local
         # by design — exponents should read ~1.0 data-linear or flat
         # on the per-job floor). hard_negatives is deliberately NOT
         # stressed: fixed 20-query slice x corpus = linear by
         # construction, same scale story as ann_topk (swap candidate
         # stage for ivf/lsh at scale)
         "wav_decode", "ppm_decode", "url_canon", "url_dedup",
         "exact_substr"]
BASE_DOCS = 5000       # sf0.1 documents rows
BASE_VECS = 2000       # sf0.1 embeddings rows
NEAR_DUP_FRAC = 0.05   # injected mutated-copy rate
MUTATE_FRAC = 0.10     # tokens flipped per near-dup copy


def fit_source(con):
    """Empirical unigram / length / lang / source distributions and the
    per-label embedding cluster moments from the real sf0.1 tables."""
    words = con.sql(
        f"SELECT w, count(*) n FROM (SELECT unnest(string_split(text,' '))"
        f" w FROM '{SRC}/documents.parquet') WHERE w <> '' GROUP BY 1"
    ).fetchall()
    vocab = np.array([w for w, _ in words])
    wp = np.array([n for _, n in words], dtype=float)
    wp /= wp.sum()
    lens = np.array([r[0] for r in con.sql(
        f"SELECT len(string_split(text,' ')) FROM '{SRC}/documents.parquet'"
    ).fetchall()])
    langs = con.sql(f"SELECT lang, count(*) FROM '{SRC}/documents.parquet'"
                    " GROUP BY 1").fetchall()
    srcs = con.sql(f"SELECT source, count(*) FROM '{SRC}/documents.parquet'"
                   " GROUP BY 1").fetchall()
    emb = con.sql(f"SELECT label, embedding FROM '{SRC}/embeddings.parquet'"
                  ).fetchall()
    by_label = {}
    for lab, vec in emb:
        by_label.setdefault(lab, []).append(np.asarray(vec, dtype=np.float32))
    moments = {lab: (np.mean(v, axis=0), np.std(v, axis=0).mean())
               for lab, v in ((l, np.stack(vs))
                              for l, vs in by_label.items())}
    return vocab, wp, lens, langs, srcs, moments


def gen_dir(scale, fitted, con):
    """Deterministic corpus at `scale` x sf0.1, same shape; returns dir."""
    vocab, wp, lens, langs, srcs, moments = fitted
    d = os.path.join(OUT, f"x{scale}")
    if (os.path.exists(os.path.join(d, "documents.parquet"))
            and os.path.exists(os.path.join(d, "embeddings.parquet"))):
        return d
    os.makedirs(d, exist_ok=True)
    rng = np.random.default_rng(42 + scale)
    n_docs, n_vecs = BASE_DOCS * scale, BASE_VECS * scale

    lang_v = np.array([l for l, _ in langs])
    lang_p = np.array([n for _, n in langs], dtype=float)
    lang_p /= lang_p.sum()
    src_v = np.array([s for s, _ in srcs])
    src_p = np.array([n for _, n in srcs], dtype=float)
    src_p /= src_p.sum()

    texts = []
    for i in range(n_docs):
        if i > 0 and rng.random() < NEAR_DUP_FRAC:
            toks = texts[rng.integers(0, i)].split(" ")
            flip = rng.random(len(toks)) < MUTATE_FRAC
            repl = rng.choice(vocab, size=int(flip.sum()), p=wp)
            toks = np.array(toks, dtype=object)
            toks[flip] = repl
            texts.append(" ".join(toks.tolist()))
        else:
            ln = int(rng.choice(lens))
            texts.append(" ".join(rng.choice(vocab, size=ln, p=wp)))
    doc_lang = rng.choice(lang_v, size=n_docs, p=lang_p)
    doc_src = rng.choice(src_v, size=n_docs, p=src_p)

    import pyarrow as pa
    import pyarrow.parquet as pq
    pq.write_table(pa.table({
        "doc_id": pa.array(range(n_docs), pa.int64()),
        "text": pa.array(texts, pa.string()),
        "lang": pa.array(doc_lang.tolist(), pa.string()),
        "source": pa.array(doc_src.tolist(), pa.string()),
        "n_chars": pa.array([len(t) for t in texts], pa.int64()),
    }), os.path.join(d, "documents.parquet"))

    labels = rng.integers(0, len(moments), size=n_vecs)
    dim = len(next(iter(moments.values()))[0])
    vecs = np.empty((n_vecs, dim), dtype=np.float32)
    for lab, (mu, sd) in moments.items():
        mask = labels == lab
        vecs[mask] = (mu + rng.standard_normal((int(mask.sum()), dim))
                      * sd).astype(np.float32)
    pq.write_table(pa.table({
        "vec_id": pa.array(range(n_vecs), pa.int64()),
        "embedding": pa.array([v.tolist() for v in vecs],
                              pa.list_(pa.float32())),
        "label": pa.array(labels.tolist(), pa.int32()),
    }), os.path.join(d, "embeddings.parquet"))
    return d


def gen_edges(spark, scale, rng_seed=7):
    """Deterministic power-law-ish edge list at `scale` x the sf0.1
    part-graph size (~6k nodes / ~60k edges): preferential-attachment
    style dst draws produce the hub skew an iterative operator has to
    survive at 100 TB (uniform graphs hide hot-key behavior)."""
    rng = np.random.default_rng(rng_seed + scale)
    n_nodes, n_edges = 6000 * scale, 60000 * scale
    src = rng.integers(0, n_nodes, size=n_edges)
    # Zipf-ish dst: rank r chosen with p ~ 1/(r+10)
    ranks = np.arange(n_nodes)
    p = 1.0 / (ranks + 10.0)
    p /= p.sum()
    dst = rng.choice(n_nodes, size=n_edges, p=p)
    keep = src != dst
    import pandas as pd
    return spark.createDataFrame(pd.DataFrame({
        "src": src[keep].astype("int64"), "dst": dst[keep].astype("int64")}))


def gen_pit_dir(scale, con):
    """Scaled orders/lineitem/events at `scale` x sf0.1 by replicating the
    REAL tables with per-replica entity-key offsets: pure horizontal
    growth (key count scales, per-key history and the time range stay
    fixed) — the "same distribution, more data" model a 100 TB cluster
    sees. Full schema preserved so the PIT project shapes run unchanged."""
    d = os.path.join(OUT, f"pit_x{scale}")
    done = [os.path.exists(os.path.join(d, f"{t}.parquet"))
            for t in ("orders", "lineitem", "events", "customer",
                      "supplier", "part", "nation", "region")]
    if all(done):
        return d
    os.makedirs(d, exist_ok=True)
    OFF = 10_000_000  # far above any sf0.1 key
    copies = {
        "orders": ("o_orderkey + r.i * {o} AS o_orderkey, "
                   "o_custkey + r.i * {o} AS o_custkey, "
                   "o_orderstatus, o_totalprice, o_orderdate, "
                   "o_orderpriority"),
        "lineitem": ("l_orderkey + r.i * {o} AS l_orderkey, "
                     "l_partkey + r.i * {o} AS l_partkey, "
                     "l_suppkey + r.i * {o} AS l_suppkey, "
                     "l_linenumber, l_quantity, l_extendedprice, "
                     "l_discount, l_tax, l_returnflag, l_linestatus, "
                     "l_shipdate"),
        "events": ("event_id + r.i * {o} AS event_id, ts, "
                   "user_id + r.i * {o} AS user_id, event_type, value, "
                   "props"),
        # r9 TPC-H wave: fact keys above are offset per replica, so the
        # keyed dims must replicate with the SAME offsets (nationkeys
        # stay unoffset — nation/region are genuinely fixed-size dims
        # at any scale and copy verbatim below)
        "customer": ("c_custkey + r.i * {o} AS c_custkey, c_name, "
                     "c_nationkey, c_acctbal, c_mktsegment"),
        "supplier": ("s_suppkey + r.i * {o} AS s_suppkey, s_name, "
                     "s_nationkey, s_acctbal"),
        "part": ("p_partkey + r.i * {o} AS p_partkey, p_name, p_brand, "
                 "p_type, p_size, p_retailprice"),
    }
    for t, cols in copies.items():
        con.execute(
            f"COPY (SELECT {cols.format(o=OFF)} "
            f"FROM '{SRC}/{t}.parquet', range({scale}) r(i)) "
            f"TO '{os.path.join(d, t + '.parquet')}' (FORMAT PARQUET)")
    for t in ("nation", "region"):
        con.execute(
            f"COPY (SELECT * FROM '{SRC}/{t}.parquet') "
            f"TO '{os.path.join(d, t + '.parquet')}' (FORMAT PARQUET)")
    return d


def pit_multi_source(spark, sf_dir):
    """Several windowed sources on one observation key, the shape no
    driver query covers: the orders observation joined to 4 windowed
    anchors over 3 sources keyed by customer — all orders, urgent orders
    and large orders (each a filtered read of orders.parquet, so the
    case runs on the replicated tables above). The point-in-time
    planner gives all of them one shuffle, one sort and one Window pass
    when they share the observation key."""
    import __spark_entry__ as entry
    from feathr_spark import (
        Aggregation, FeathrProject, Feature, FeatureAnchor, FeatureQuery,
        HdfsSource, ObservationSettings, TimeWindowParameters, TypedKey,
        WindowAggTransform)
    entry._utc(spark)
    path = f"{sf_dir}/orders.parquet"
    key = [TypedKey(key_column="o_custkey")]

    def orders(name, where=None):
        return HdfsSource(
            name=name, path=path,
            preprocessing=None if where is None else (lambda df: df.where(where)),
            time_window_parameters=TimeWindowParameters("o_orderdate"))

    def w(name, expr, agg, window):
        return Feature(name=name, key=key,
                       transform=WindowAggTransform(expr, agg, window))

    A = Aggregation
    p = FeathrProject("pit_multi_source", spark)
    all_orders = orders("orders")
    urgent = orders("urgent_orders", "o_orderpriority = '1-URGENT'")
    large = orders("large_orders", "o_totalprice > 200000")
    p.register_anchor(FeatureAnchor(name="spend", source=all_orders, features=[
        w("spend_sum_90d", "o_totalprice", A.SUM, "90d"),
        w("spend_avg_365d", "o_totalprice", A.AVG, "365d")]))
    p.register_anchor(FeatureAnchor(name="activity", source=all_orders, features=[
        w("orders_cnt_30d", "1", A.COUNT, "30d")]))
    p.register_anchor(FeatureAnchor(name="urgent", source=urgent, features=[
        w("urgent_cnt_90d", "1", A.COUNT, "90d"),
        w("urgent_max_365d", "o_totalprice", A.MAX, "365d")]))
    p.register_anchor(FeatureAnchor(name="large", source=large, features=[
        w("large_last_365d", "o_totalprice", A.LATEST, "365d")]))
    names = [f.name for a in p.anchors.values() for f in a.features]
    obs = ObservationSettings(timestamp_column="o_orderdate").with_event_ts(
        spark.read.parquet(path).select("o_orderkey", "o_custkey", "o_orderdate"))
    return p.get_offline_features(obs, FeatureQuery(names))


def pit_hot_key(src_share, obs_share):
    """A case with one hot customer: the orders are the source and a
    tenth of them the observation, and the key is rewritten to -1 (no
    real customer) on ``src_share`` of the source rows and ``obs_share``
    of the observation rows. The hot key's history grows with the scale
    while the time range stays fixed, so its window frames grow too."""
    def case(spark, sf_dir):
        import __spark_entry__ as entry
        from pyspark.sql import functions as F
        from feathr_spark import (
            Aggregation, FeathrProject, Feature, FeatureAnchor, FeatureQuery,
            HdfsSource, ObservationSettings, TimeWindowParameters, TypedKey,
            WindowAggTransform)
        entry._utc(spark)
        path = f"{sf_dir}/orders.parquet"

        def hot(df, sample, share):
            # the hash picks the hot rows independently of the sample
            return df.where(sample).withColumn("o_custkey", F.expr(
                f"CASE WHEN pmod(xxhash64(o_orderkey), 100) < {round(share * 100)} "
                "THEN -1 ELSE o_custkey END"))

        src = HdfsSource(
            name="orders", path=path,
            preprocessing=lambda df: hot(df, "true", src_share),
            time_window_parameters=TimeWindowParameters("o_orderdate"))
        key = [TypedKey(key_column="o_custkey")]
        A = Aggregation
        p = FeathrProject("pit_hot_key", spark)
        p.register_anchor(FeatureAnchor(name="orders", source=src, features=[
            Feature(name=n, key=key, transform=WindowAggTransform(e, a, w))
            for n, e, a, w in (
                ("cnt_7d", "1", A.COUNT, "7d"),
                ("sum_30d", "o_totalprice", A.SUM, "30d"),
                ("max_30d", "o_totalprice", A.MAX, "30d"),
                ("last_90d", "o_totalprice", A.LATEST, "90d"))]))
        obs = hot(spark.read.parquet(path).select(
            "o_orderkey", "o_custkey", "o_orderdate"),
            "pmod(o_orderkey, 10) = 1", obs_share)
        return p.get_offline_features(
            ObservationSettings(timestamp_column="o_orderdate").with_event_ts(obs),
            FeatureQuery(["cnt_7d", "sum_30d", "max_30d", "last_90d"]))
    return case


# scale cases defined here rather than as driver queries
PIT_CASES = {"pit_multi_source": pit_multi_source,
             # one key holds 60% of both sides
             "pit_hot_key": pit_hot_key(0.6, 0.6),
             # one key holds 90% of the source and 5% of the observation
             "pit_hot_key_90": pit_hot_key(0.9, 0.05),
             # ... and none of the observation
             "pit_hot_key_90u": pit_hot_key(0.9, 0.0)}


def shuffle_exchanges(df):
    """Distinct shuffle Exchange operators of the formatted plan (the
    count tests/test_plan_quality.py budgets)."""
    import re
    text = df.sparkSession._jvm.PythonSQLUtils.explainString(
        df._jdf.queryExecution(), "formatted")
    return len(set(re.findall(r"\bExchange \((\d+)\)", text)))


def stress_pit(spark, scales, con, only=None):
    """VERDICT r6 item 7: measure (not argue) the PIT core's growth —
    the union-window point-in-time join (single-key 90d window family,
    composite-key 365d family) and the generic as-of join, on 1x/3x/5x
    horizontally-scaled orders/lineitem/events."""
    import __spark_entry__ as entry
    qs = entry.queries()
    names = ["window_agg_basic", "multi_key_window", "asof_join",
             # several windowed sources on one observation key
             "pit_multi_source",
             # one hot key
             "pit_hot_key", "pit_hot_key_90", "pit_hot_key_90u",
             # r7 widening: one representative per orders/events family
             # (exact-percentile fold, global-ntile segmentation,
             # gap-rule sessions, +1/-1 concurrency sweep, recursive
             # EWMA window, first-purchase attribution, two-pass MAD)
             "qini_orders", "rfm_segments", "sessionize",
             "peak_concurrency_daily", "ewma_daily",
             "attribution_events", "mad_outliers_events",
             # r8 widening: the remaining >2s orders/lineitem queries
             # with no recorded exponent.  Replicated lineitem keeps the
             # co-purchase graph as `scale` disconnected copies — pure
             # horizontal growth, so triangle counting's classic
             # superlinear hazard (adjacency self-join) is exactly what
             # gets measured rather than argued.
             "weighted_pctile", "decile_bins", "theil_sen_daily",
             "powerlaw_parts", "triangles_parts", "components_parts",
             "hits_bipartite",
             # r9 widening: the third TPC-H wave — q21's distinct-pair
             # semi/anti composition and q5's 6-table join are the two
             # shapes with classic superlinear hazards; the rest ride
             # along (they're one fold each)
             "tpch_q1_pricing", "tpch_q3_unshipped",
             "tpch_q5_region_volume", "tpch_q6_forecast",
             "tpch_q15_top_supplier", "tpch_q21_waiting",
             "tpch_q22_dormant",
             # r9 batch 4: split-conformal intervals on scaled events
             "forecast_conformal",
             # r9 batch 5: joint-grid HBOS on scaled orders, mSPRT
             # day-series on scaled events
             "hbos_orders", "msprt_events",
             # r9 batch 6: the salted shuffled-hash fact-dim join
             "salted_join_brands",
             # r9 batch 8: histogram-split screening on scaled orders
             "stump_screen",
             # r9 batch 9: future-window label factory on scaled events,
             # cumulative-hazard fold on scaled orders
             "forward_label", "nelson_aalen"]
    if only:
        names = [n for n in names if n in set(only)]
    dirs = {s: gen_pit_dir(s, con) for s in scales}

    def build(q, d):
        return (PIT_CASES.get(q) or qs[q])(spark, d)

    def run(q, d):
        # .count() would let Catalyst PRUNE the whole feature pipeline
        # (windows never change row count); the noop sink materializes
        # every output column JVM-side, like a real write would
        build(q, d).write.format("noop").mode("overwrite").save()

    for q in names:  # warm JVM/codegen on the smallest scale
        run(q, dirs[scales[0]])
    results = {q: {} for q in names}
    for s in scales:
        for q in names:
            best = float("inf")
            for _ in range(2):
                t0 = time.time()
                run(q, dirs[s])
                best = min(best, time.time() - t0)
            results[q][s] = best
            print(f"x{s} {q:24s} {best:7.2f}s "
                  f"exchanges={shuffle_exchanges(build(q, dirs[s]))}", flush=True)
    return results


def stress_iterative(spark, scales):
    """VERDICT r5 item 5: measure (not argue) the iteration family's
    growth — pagerank at fixed 3 iters and connected components, on
    1x/3x/5x edge counts."""
    from feathr_spark.operators.dedup import duplicate_components
    from feathr_spark.operators.graph import hits, kcore_peel, pagerank
    from pyspark.sql import functions as F
    results = {"pagerank_3it": {}, "components": {},
               "hits_3it": {}, "kcore_k3r4": {}}
    for s in scales:
        edges = gen_edges(spark, s).persist()
        edges.count()
        for name, fn in (
            ("pagerank_3it",
             lambda e: pagerank(e, iters=3).agg(F.sum("rank")).collect()),
            ("components",
             lambda e: duplicate_components(
                 e.select(F.col("src").alias("id_a"),
                          F.col("dst").alias("id_b"))).count()),
            ("hits_3it",
             lambda e: hits(e, iters=3).agg(F.sum("hub")).collect()),
            ("kcore_k3r4",
             lambda e: kcore_peel(e, k=3, rounds=4).count()),
        ):
            best = float("inf")
            for _ in range(2):
                t0 = time.time()
                fn(edges)
                best = min(best, time.time() - t0)
            results[name][s] = best
            print(f"x{s} {name:24s} {best:7.2f}s", flush=True)
        edges.unpersist()
    return results


def report(results, scales):
    print("\nquery                     " +
          "".join(f"  x{s:<6d}" for s in scales) + "  growth-exp")
    for q, by_scale in results.items():
        ts = [by_scale[s] for s in scales]
        if len(scales) > 1:
            b = np.polyfit(np.log(scales), np.log(ts), 1)[0]
        else:
            b = float("nan")
        print(f"{q:26s}" + "".join(f"  {t:6.2f}" for t in ts)
              + f"  {b:5.2f}")


def main():
    import duckdb
    args = sys.argv[1:]
    graph_only = "--graph" in args
    pit_only = "--pit" in args
    args = [a for a in args if a not in ("--graph", "--pit")]
    only = None
    for a in list(args):
        if a.startswith("--queries="):
            only = a.split("=", 1)[1].split(",")
            args.remove(a)
    scales = [int(a) for a in args] or [1, 3, 5]
    con = duckdb.connect()
    sys.path.insert(0, REPO)
    from pyspark.sql import SparkSession
    spark = (SparkSession.builder.master(
                 f"local[{os.environ.get('SPARK_GRAFT_CPUS', '32')}]")
             .config("spark.sql.shuffle.partitions", "32")
             .config("spark.ui.enabled", "false")
             .config("spark.driver.memory", "24g")
             .getOrCreate())
    if graph_only:
        report(stress_iterative(spark, scales), scales)
        return
    if pit_only:
        report(stress_pit(spark, scales, con, only), scales)
        return
    fitted = fit_source(con)
    dirs = {s: gen_dir(s, fitted, con) for s in scales}

    import __spark_entry__ as entry
    qs = entry.queries()
    heavy = only or HEAVY

    def run(q, d):
        # r7: noop sink, not .count() — count lets Catalyst prune any
        # computation that can't change row count (row-local text
        # metrics, window columns, aggregate values), silently
        # under-measuring those queries; noop materializes every column
        qs[q](spark, d).write.format("noop").mode("overwrite").save()

    # warm the JVM/codegen once on the smallest scale
    for q in heavy:
        run(q, dirs[scales[0]])

    results = {q: {} for q in heavy}
    for s in scales:
        for q in heavy:
            best = float("inf")
            for _ in range(2):
                t0 = time.time()
                run(q, dirs[s])
                best = min(best, time.time() - t0)
            results[q][s] = best
            print(f"x{s} {q:24s} {best:7.2f}s", flush=True)

    report(results, scales)
    if not only:
        # --queries= runs are targeted; don't append the ~5-min graph
        # sweep to every spot measurement
        report(stress_iterative(spark, scales), scales)


if __name__ == "__main__":
    main()
