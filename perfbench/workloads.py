"""The three perfbench workloads.

Each workload drives the engine only through public entry points:

* ``pit_join`` — ``FeathrProject.get_offline_features`` (default
  ``pit_strategy="auto"``) written to the ``noop`` sink;
* ``backfill`` — ``FeathrProject.materialize_features`` over
  BACKFILL_CUTOFFS DAILY cutoffs, written as parquet to a fresh
  directory on every job;
* ``iterative_ops`` — six iterative operators, each output written as
  parquet.

A workload object is built once per process from the generated inputs.
``register`` is the input-registration part of set-up (it runs again on
every set-up round, against that round's session). ``job`` is one timed
job: it returns what ``check`` needs, and ``check`` runs after the timer
stops and returns a list of problems (empty when the output is right).
"""

from __future__ import annotations

import os
import shutil
from datetime import datetime, timedelta, timezone

import pyarrow.parquet as pq
from pyspark.sql import Observation
from pyspark.sql import functions as F

import feathr_spark as fs
from feathr_spark.operators import clustering, dedup, graph, pq as pqmod

import gen
import oracle

# Sizes fit the per-run time budget of a 4-core host (about 2 s per job).
# Per-key history length drives the point-in-time cost: the hottest of
# the 1,000 users holds about 6.5% of all rows, and the sliding window
# frames over its history take about half of a job's time in one task.
FS_SIZES = gen.FeatureStoreSizes(
    users=1_000, cold_users=100, events=25_000, purchases=6_250,
    observations=10_000)
FS_ORACLE_SIZES = gen.FeatureStoreSizes(
    users=150, cold_users=20, events=6_000, purchases=1_500,
    observations=1_500)
IT_SIZES = gen.IterativeSizes(
    nodes=2_000, extra_edges=3_000, docs=2_000, vectors=1_000, queries=20)

BACKFILL_CUTOFFS = 2

# operator arguments, shared with the reference checks; iteration counts
# are kept small so that one pass stays short
IT_PARAMS = {
    "pagerank": dict(damping=0.85, iters=3),
    "kcore": dict(k=3, rounds=2),
    "pq": dict(k=5, m=8, kc=16, rerank="auto", n_iter=1),
    "semdedup": dict(threshold=0.9, k=8, n_iter=2, n_assign=2),
    "queries": IT_SIZES.queries,
    "pq_recall_floor": 0.70,
    "semdedup_recall_floor": 0.90,
}


def _key():
    return fs.TypedKey(key_column="user_id", key_column_type=fs.ValueType.INT64)


def feature_project(spark, data_dir: str) -> fs.FeathrProject:
    """The feature definitions shared by ``pit_join`` and ``backfill``:
    8 windowed features over two time-aware sources (one with a filter),
    one keyed dimension join and two derived features."""
    key = [_key()]
    events = fs.HdfsSource(
        name="events", path=os.path.join(data_dir, "events"),
        time_window_parameters=fs.TimeWindowParameters("event_ts"))
    purchases = fs.HdfsSource(
        name="purchases", path=os.path.join(data_dir, "purchases"),
        time_window_parameters=fs.TimeWindowParameters("purchase_ts"))
    users = fs.HdfsSource(name="users", path=os.path.join(data_dir, "users"))

    def w(name, expr, agg, window, **kw):
        return fs.Feature(name=name, key=key, transform=fs.WindowAggTransform(
            expr, agg, window, **kw))

    A = fs.Aggregation
    p = fs.FeathrProject("perfbench", spark)
    ev = p.register_anchor(fs.FeatureAnchor(name="ev", source=events, features=[
        w("ev_cnt_7d", "1", A.COUNT, "7d"),
        w("ev_amt_sum_30d", "amount", A.SUM, "30d"),
        w("ev_amt_avg_90d", "amount", A.AVG, "90d"),
        w("ev_amt_max_30d", "amount", A.MAX, "30d"),
        w("ev_click_cnt_30d", "1", A.COUNT, "30d", filter="kind = 1"),
    ]))
    pu = p.register_anchor(fs.FeatureAnchor(name="pu", source=purchases, features=[
        w("pu_price_sum_90d", "price", A.SUM, "90d"),
        w("pu_cnt_30d", "1", A.COUNT, "30d"),
        w("pu_last_price_90d", "price", A.LATEST, "90d"),
    ]))
    p.register_anchor(fs.FeatureAnchor(name="dim", source=users, features=[
        fs.Feature(name="user_segment", transform="segment", key=key),
        fs.Feature(name="user_signup_day", transform="signup_day", key=key),
    ]))
    p.register_derived(fs.DerivedFeature(
        name="amt_per_click_30d",
        transform="ev_amt_sum_30d / greatest(ev_click_cnt_30d, 1)",
        input_features=[ev["ev_amt_sum_30d"], ev["ev_click_cnt_30d"]]))
    p.register_derived(fs.DerivedFeature(
        name="purchase_share_30d",
        transform="CAST(pu_cnt_30d AS DOUBLE) / (pu_cnt_30d + ev_click_cnt_30d + 1)",
        input_features=[pu["pu_cnt_30d"], ev["ev_click_cnt_30d"]]))
    return p


PIT_FEATURES = (
    "ev_cnt_7d", "ev_amt_sum_30d", "ev_amt_avg_90d", "ev_amt_max_30d",
    "ev_click_cnt_30d", "pu_price_sum_90d", "pu_cnt_30d", "pu_last_price_90d",
    "user_segment", "user_signup_day", "amt_per_click_30d", "purchase_share_30d")
BACKFILL_FEATURES = ("ev_cnt_7d", "ev_amt_sum_30d", "pu_cnt_30d", "pu_price_sum_90d")


NOOP_SINK = fs.GenericSink(format="noop", mode="overwrite")


def _obs_settings(data_dir: str) -> fs.ObservationSettings:
    return fs.ObservationSettings(
        observation_path=os.path.join(data_dir, "observations"),
        timestamp_column="obs_ts")


def _weighted_checksums():
    """Observed per-job checksums of the COUNT features: plain sums and
    sums weighted by (request_id % 97 + 1), which catch a feature value
    attached to the wrong observation row."""
    wgt = F.col("request_id") % 97 + 1
    cols = []
    for c in oracle.PIT_COUNT_FEATURES:
        cols.append(F.sum(c).alias(f"sum_{c}"))
        cols.append(F.sum(F.col(c) * wgt).alias(f"wsum_{c}"))
    for c in oracle.PIT_SUM_FEATURES:
        cols.append(F.sum(c).alias(f"sum_{c}"))
    return cols


class PitJoin:
    name = "pit_join"

    def __init__(self, root: str, seed: int):
        self.data = gen.feature_store_inputs(os.path.join(root, "data"), seed, FS_SIZES)
        self.small = gen.feature_store_inputs(os.path.join(root, "data"), seed, FS_ORACLE_SIZES)
        self.expect = oracle.pit_expected_checksums(self.data)
        self.rows = FS_SIZES.observations

    def register(self, spark):
        self.project = feature_project(spark, self.data)
        self.obs = _obs_settings(self.data)

    def job(self, spark, tr):
        df = self.project.get_offline_features(
            self.obs, fs.FeatureQuery(PIT_FEATURES), spark=spark)
        chk = Observation("pit_check")
        cold = F.col("user_id") >= self.expect["cold_user_min_id"]
        counts = [F.col(c) for c in oracle.PIT_COUNT_FEATURES]
        df = df.observe(
            chk, F.count(F.lit(1)).alias("rows"),
            F.min(F.least(*counts)).alias("min_count"),
            F.sum(sum((c.isNull().cast("int") for c in counts), F.lit(0))).alias("null_counts"),
            F.sum(F.when(cold, 1).otherwise(0)).alias("cold_rows"),
            F.sum(F.when(cold, sum(counts, F.lit(0))).otherwise(0)).alias("cold_count_sum"),
            *_weighted_checksums())
        with tr.span("exec.write"):
            NOOP_SINK.write(df)
        return chk

    def check(self, chk) -> list:
        got = chk.get
        exp = self.expect
        problems = []
        if got["rows"] != self.rows:
            problems.append(f"rows {got['rows']} != observations {self.rows}")
        if got["min_count"] is None or got["min_count"] < 0 or got["null_counts"]:
            problems.append(f"bad COUNT values: min {got['min_count']}, "
                            f"nulls {got['null_counts']}")
        if got["cold_rows"] != exp["cold_rows"] or got["cold_count_sum"] != 0:
            problems.append(f"keys with no history: {got['cold_rows']} rows "
                            f"(expected {exp['cold_rows']}), COUNT sum "
                            f"{got['cold_count_sum']} (expected 0)")
        for k, v in exp["checksums"].items():
            if not oracle.close(got[k], v):
                problems.append(f"{k}: {got[k]} != expected {v}")
        return problems

    def oracle_check(self, spark) -> list:
        """Every output value of a small instance against DuckDB."""
        p = feature_project(spark, self.small)
        rows = p.get_offline_features(
            _obs_settings(self.small), fs.FeatureQuery(PIT_FEATURES),
            spark=spark).collect()
        return oracle.compare_pit(self.small, rows, PIT_FEATURES)


class Backfill:
    name = "backfill"

    def __init__(self, root: str, seed: int):
        self.data = gen.feature_store_inputs(os.path.join(root, "data"), seed, FS_SIZES)
        self.out_root = os.path.join(root, "out", "backfill")
        end = datetime.fromtimestamp(
            (gen.START_MS + gen.HISTORY_DAYS * gen.DAY_MS) / 1000, tz=timezone.utc
        ).replace(tzinfo=None)
        self.bt = fs.BackfillTime(start=end - timedelta(days=BACKFILL_CUTOFFS),
                                  end=end, step="DAILY")
        self.cutoffs = self.bt.cutoffs()
        self.expect_rows = oracle.snapshot_row_counts(self.data, self.cutoffs)
        self.rows = sum(self.expect_rows.values())
        self.n_jobs = 0

    def register(self, spark):
        self.project = feature_project(spark, self.data)

    def job(self, spark, tr):
        self.n_jobs += 1
        path = os.path.join(self.out_root, f"job-{self.n_jobs}")
        settings = fs.MaterializationSettings(
            name="perfbench_backfill",
            sinks=[fs.GenericSink(format="parquet", path=path, mode="append")],
            feature_names=list(BACKFILL_FEATURES), backfill_time=self.bt)
        written = self.project.materialize_features(settings, spark=spark)
        return path, written

    def check(self, result) -> list:
        path, written = result
        problems = []
        if sorted(written) != sorted(self.cutoffs):
            problems.append(f"wrote {len(written)} cutoffs, expected {len(self.cutoffs)}")
        got = oracle.rows_per_cutoff(path)
        for c, n in self.expect_rows.items():
            if got.get(c, 0) != n:
                problems.append(f"cutoff {c}: {got.get(c, 0)} rows, expected {n}")
        # one cutoff recomputed in full, a different one on every job
        cut = self.cutoffs[self.n_jobs % len(self.cutoffs)]
        problems += oracle.compare_snapshot(self.data, path, cut)
        return problems

    def sink_stats(self, path: str):
        files = [f for f in os.listdir(path) if f.endswith(".parquet")]
        return len(files), sum(os.path.getsize(os.path.join(path, f)) for f in files)

    def cleanup(self, result):
        shutil.rmtree(result[0], ignore_errors=True)


class IterativeOps:
    """Not in BENCHMARK.json: one run takes about two and a half minutes
    on a 4-core host, more than twice as long as a listed workload's
    run. Run it by hand for operator-layer claims."""
    name = "iterative_ops"

    def __init__(self, root: str, seed: int):
        self.data = gen.iterative_inputs(os.path.join(root, "data"), seed, IT_SIZES)
        self.out_root = os.path.join(root, "out", "iterative")
        self.ref = oracle.IterativeReference(self.data, IT_PARAMS)
        self.rows = None

    def register(self, spark):
        read = lambda t: spark.read.parquet(os.path.join(self.data, t))
        self.edges, self.pairs, self.emb = read("edges"), read("pairs"), read("embeddings")

    def _ops(self):
        p = IT_PARAMS
        queries = self.emb.where(F.col("vec_id") < p["queries"])
        return (
            ("graph.pagerank", lambda: graph.pagerank(self.edges, weight="w", **p["pagerank"])),
            ("graph.connected_components",
             lambda: graph.connected_components(self.edges.select("src", "dst"))),
            ("graph.kcore_peel", lambda: graph.kcore_peel(self.edges, **p["kcore"])),
            ("dedup.duplicate_components", lambda: dedup.duplicate_components(self.pairs)),
            ("pq.pq_topk", lambda: pqmod.pq_topk(
                self.emb, queries, "embedding", "vec_id", **p["pq"])),
            ("clustering.semantic_dedup_pairs", lambda: clustering.semantic_dedup_pairs(
                self.emb, "embedding", "vec_id", **p["semdedup"])),
        )

    def job(self, spark, tr):
        paths = {}
        for name, call in self._ops():
            out = call()
            paths[name] = os.path.join(self.out_root, name)
            with tr.span("exec.write", frame=out):
                out.write.mode("overwrite").parquet(paths[name])
        return paths

    def check(self, paths) -> list:
        tables = {name: pq.read_table(p).to_pandas() for name, p in paths.items()}
        self.rows = sum(len(t) for t in tables.values())
        return self.ref.check(tables)


WORKLOADS = {w.name: w for w in (PitJoin, Backfill, IterativeOps)}
