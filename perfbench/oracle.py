"""Expected outputs, computed without Spark.

* Point-in-time join: exact full-size checksums of the COUNT and SUM
  features from sorted numpy arrays, and a DuckDB oracle that recomputes
  every output value of a small instance.
* Backfill: snapshot row counts per cutoff (numpy) and one cutoff
  recomputed in DuckDB.
* Iterative operators: numpy PageRank, union-find components, k-core
  peel, exact cosine top-k and exact near-duplicate pairs.

Windows are (t − w, t] at millisecond granularity throughout, the
engine's documented semantics.
"""

from __future__ import annotations

import json
import math
import os
from datetime import datetime

import duckdb
import numpy as np
import pyarrow.parquet as pq

DAY_MS = 86_400_000
PIT_COUNT_FEATURES = ("ev_cnt_7d", "ev_click_cnt_30d", "pu_cnt_30d")
PIT_SUM_FEATURES = ("ev_amt_sum_30d", "pu_price_sum_90d")
REL_TOL = 1e-9


def close(got, want, rel=REL_TOL) -> bool:
    if got is None or want is None:
        return got is None and want is None
    if isinstance(want, str) or isinstance(got, str):
        return got == want
    if isinstance(want, (int, np.integer)) and isinstance(got, (int, np.integer)):
        return int(got) == int(want)
    return math.isclose(float(got), float(want), rel_tol=rel, abs_tol=1e-9)


def _load(data_dir: str, table: str, ts_col: str = None):
    t = pq.read_table(os.path.join(data_dir, table))
    cols = {c: t.column(c).to_numpy() for c in t.column_names}
    if ts_col:
        cols[ts_col] = cols[ts_col].astype("datetime64[ms]").astype(np.int64)
    return cols


def _window(src_keys, src_ts, src_val, obs_keys, obs_ts, window_ms):
    """Per-observation (count, sum) over source rows with the same key
    and ts in (t − w, t], by binary search on (key, ts)-sorted rows."""
    shift = np.int64(1) << np.int64(42)
    sk = src_keys.astype(np.int64) * shift + src_ts
    order = np.argsort(sk, kind="stable")
    sk = sk[order]
    cs = np.concatenate([[0.0], np.cumsum(src_val[order])])
    ok = obs_keys.astype(np.int64) * shift
    hi = np.searchsorted(sk, ok + obs_ts, side="right")
    lo = np.searchsorted(sk, ok + obs_ts - window_ms, side="right")
    return hi - lo, cs[hi] - cs[lo]


def pit_expected_checksums(data_dir: str) -> dict:
    with open(os.path.join(data_dir, "meta.json")) as f:
        meta = json.load(f)
    o = _load(data_dir, "observations", "obs_ts")
    e = _load(data_dir, "events", "event_ts")
    p = _load(data_dir, "purchases", "purchase_ts")
    wgt = o["request_id"] % 97 + 1
    ones_e = np.ones(len(e["user_id"]))
    clicks = (e["kind"] == 1).astype(np.float64)
    counts = {
        "ev_cnt_7d": _window(e["user_id"], e["event_ts"], ones_e,
                             o["user_id"], o["obs_ts"], 7 * DAY_MS)[0],
        "ev_click_cnt_30d": _window(e["user_id"], e["event_ts"], clicks,
                                    o["user_id"], o["obs_ts"], 30 * DAY_MS)[1],
        "pu_cnt_30d": _window(p["user_id"], p["purchase_ts"],
                              np.ones(len(p["user_id"])),
                              o["user_id"], o["obs_ts"], 30 * DAY_MS)[0],
    }
    sums = {
        "ev_amt_sum_30d": _window(e["user_id"], e["event_ts"], e["amount"],
                                  o["user_id"], o["obs_ts"], 30 * DAY_MS),
        "pu_price_sum_90d": _window(p["user_id"], p["purchase_ts"], p["price"],
                                    o["user_id"], o["obs_ts"], 90 * DAY_MS),
    }
    checks = {}
    for c, v in counts.items():
        v = np.rint(v).astype(np.int64)
        checks[f"sum_{c}"] = int(v.sum())
        checks[f"wsum_{c}"] = int((v * wgt).sum())
    for c, (n, s) in sums.items():
        # SUM over an empty window is NULL, which the sum skips
        checks[f"sum_{c}"] = float(s[n > 0].sum())
    cold_min = meta["cold_user_min_id"]
    return {"cold_user_min_id": cold_min,
            "cold_rows": int((o["user_id"] >= cold_min).sum()),
            "checksums": checks}


_PIT_SQL = """
WITH o AS (SELECT request_id, user_id, epoch_ms(obs_ts) AS t
           FROM read_parquet('{d}/observations/*.parquet')),
e AS (SELECT user_id, epoch_ms(event_ts) AS t, amount, kind
      FROM read_parquet('{d}/events/*.parquet')),
p AS (SELECT user_id, epoch_ms(purchase_ts) AS t, price
      FROM read_parquet('{d}/purchases/*.parquet')),
u AS (SELECT user_id, segment, signup_day FROM read_parquet('{d}/users/*.parquet')),
ev AS (
  SELECT o.request_id,
    count(e.t) FILTER (WHERE e.t > o.t - 7 * {day}) AS ev_cnt_7d,
    sum(e.amount) FILTER (WHERE e.t > o.t - 30 * {day}) AS ev_amt_sum_30d,
    avg(e.amount) AS ev_amt_avg_90d,
    max(e.amount) FILTER (WHERE e.t > o.t - 30 * {day}) AS ev_amt_max_30d,
    count(e.t) FILTER (WHERE e.t > o.t - 30 * {day} AND e.kind = 1) AS ev_click_cnt_30d
  FROM o LEFT JOIN e ON e.user_id = o.user_id AND e.t <= o.t AND e.t > o.t - 90 * {day}
  GROUP BY o.request_id),
pu AS (
  SELECT o.request_id,
    sum(p.price) AS pu_price_sum_90d,
    count(p.t) FILTER (WHERE p.t > o.t - 30 * {day}) AS pu_cnt_30d,
    arg_max(p.price, p.t) AS pu_last_price_90d
  FROM o LEFT JOIN p ON p.user_id = o.user_id AND p.t <= o.t AND p.t > o.t - 90 * {day}
  GROUP BY o.request_id)
SELECT o.request_id, ev.* EXCLUDE (request_id), pu.* EXCLUDE (request_id), u.segment AS user_segment, u.signup_day AS user_signup_day,
  ev.ev_amt_sum_30d / greatest(ev.ev_click_cnt_30d, 1) AS amt_per_click_30d,
  CAST(pu.pu_cnt_30d AS DOUBLE) / (pu.pu_cnt_30d + ev.ev_click_cnt_30d + 1) AS purchase_share_30d
FROM o JOIN ev USING (request_id) JOIN pu USING (request_id)
LEFT JOIN u ON u.user_id = o.user_id
"""


def compare_pit(data_dir: str, rows, features) -> list:
    with duckdb.connect() as con:
        want = con.execute(_PIT_SQL.format(d=data_dir, day=f"{DAY_MS}::BIGINT")).fetchdf()
    want = want.set_index("request_id")
    problems = []
    if len(rows) != len(want):
        problems.append(f"oracle instance: {len(rows)} rows, expected {len(want)}")
    for r in rows:
        exp = want.loc[r["request_id"]]
        for f in features:
            w = exp[f]
            w = None if w is None or (isinstance(w, float) and math.isnan(w)) else w
            if isinstance(w, (np.integer, np.floating)):
                w = w.item()
            if not close(r[f], w):
                problems.append(f"oracle instance: request {r['request_id']} "
                                f"{f} = {r[f]}, expected {w}")
                if len(problems) > 5:
                    return problems
    return problems


def _cut_ms(cutoff: datetime) -> int:
    """Epoch millis of a naive cutoff, read as UTC (the engine's rule)."""
    return int((cutoff - datetime(1970, 1, 1)).total_seconds() * 1000)


def snapshot_row_counts(data_dir: str, cutoffs) -> dict:
    """Rows per cutoff: one per user with an event or a purchase at or
    before the cutoff."""
    e = _load(data_dir, "events", "event_ts")
    p = _load(data_dir, "purchases", "purchase_ts")
    keys = np.concatenate([e["user_id"], p["user_id"]])
    ts = np.concatenate([e["event_ts"], p["purchase_ts"]])
    first = np.full(keys.max() + 1, np.iinfo(np.int64).max)
    np.minimum.at(first, keys, ts)
    return {c.strftime("%Y-%m-%d %H:%M:%S"): int((first <= _cut_ms(c)).sum())
            for c in cutoffs}


def rows_per_cutoff(path: str) -> dict:
    with duckdb.connect() as con:
        got = con.execute(
            f"SELECT feathr_cutoff, count(*) FROM read_parquet('{path}/*.parquet') "
            "GROUP BY 1").fetchall()
    return dict(got)


_SNAPSHOT_SQL = """
WITH ev AS (
  SELECT user_id,
    count(CASE WHEN epoch_ms(event_ts) > {c} - 7 * {day} THEN 1 END) AS ev_cnt_7d,
    sum(CASE WHEN epoch_ms(event_ts) > {c} - 30 * {day} THEN amount END) AS ev_amt_sum_30d
  FROM read_parquet('{d}/events/*.parquet') WHERE epoch_ms(event_ts) <= {c}
  GROUP BY user_id),
pu AS (
  SELECT user_id,
    count(CASE WHEN epoch_ms(purchase_ts) > {c} - 30 * {day} THEN 1 END) AS pu_cnt_30d,
    sum(CASE WHEN epoch_ms(purchase_ts) > {c} - 90 * {day} THEN price END) AS pu_price_sum_90d
  FROM read_parquet('{d}/purchases/*.parquet') WHERE epoch_ms(purchase_ts) <= {c}
  GROUP BY user_id)
SELECT user_id, ev_cnt_7d, ev_amt_sum_30d, pu_cnt_30d, pu_price_sum_90d
FROM ev FULL OUTER JOIN pu USING (user_id)
"""


def compare_snapshot(data_dir: str, out_path: str, cutoff) -> list:
    cut = cutoff.strftime("%Y-%m-%d %H:%M:%S")
    cols = ("ev_cnt_7d", "ev_amt_sum_30d", "pu_cnt_30d", "pu_price_sum_90d")
    with duckdb.connect() as con:
        want = con.execute(_SNAPSHOT_SQL.format(
            d=data_dir, c=_cut_ms(cutoff), day=f"{DAY_MS}::BIGINT")).fetchdf()
        got = con.execute(
            f"SELECT user_id, {', '.join(cols)} FROM read_parquet('{out_path}/*.parquet') "
            "WHERE feathr_cutoff = ?", [cut]).fetchdf()
    want, got = want.set_index("user_id"), got.set_index("user_id")
    if len(got) != len(want) or not got.index.sort_values().equals(want.index.sort_values()):
        return [f"snapshot {cut}: {len(got)} keys, expected {len(want)}"]
    problems = []
    got = got.loc[want.index]
    for c in cols:
        a, b = got[c].to_numpy(dtype=float), want[c].to_numpy(dtype=float)
        same_null = np.isnan(a) == np.isnan(b)
        ok = same_null & (np.isnan(a) | np.isclose(a, b, rtol=REL_TOL, atol=1e-9))
        if not ok.all():
            problems.append(f"snapshot {cut}: {c} differs on {int((~ok).sum())} keys")
    return problems


def _min_label_components(a: np.ndarray, b: np.ndarray) -> dict:
    """Union-find over edges (a[i], b[i]); every endpoint maps to the
    smallest id of its component."""
    parent = {}

    def find(x):
        root = x
        while parent.setdefault(root, root) != root:
            root = parent[root]
        while parent[x] != root:
            parent[x], x = root, parent[x]
        return root

    for u, v in zip(a.tolist(), b.tolist()):
        ru, rv = find(u), find(v)
        if ru != rv:
            parent[max(ru, rv)] = min(ru, rv)
    return {x: find(x) for x in list(parent)}


def _pagerank(src, dst, w, damping: float, iters: int) -> dict:
    nodes = np.unique(np.concatenate([src, dst]))
    idx = {v: i for i, v in enumerate(nodes.tolist())}
    s = np.array([idx[v] for v in src.tolist()])
    d = np.array([idx[v] for v in dst.tolist()])
    n = len(nodes)
    pos = w > 0
    s, d, w = s[pos], d[pos], w[pos]
    outw = np.bincount(s, weights=w, minlength=n)
    dangling = outw == 0
    frac = w / outw[s]
    r = np.full(n, 1.0 / n)
    for _ in range(iters):
        c = np.bincount(d, weights=r[s] * frac, minlength=n)
        r = (1.0 - damping) / n + damping * (c + r[dangling].sum() / n)
    return dict(zip(nodes.tolist(), r.tolist()))


def _kcore(src, dst, k: int, rounds: int) -> dict:
    e = np.unique(np.stack([np.concatenate([src, dst]),
                            np.concatenate([dst, src])], axis=1), axis=0)
    e = e[e[:, 0] != e[:, 1]]
    for _ in range(rounds):
        ids, deg = np.unique(e[:, 0], return_counts=True)
        keep = ids[deg >= k]
        e = e[np.isin(e[:, 0], keep) & np.isin(e[:, 1], keep)]
    ids, deg = np.unique(e[:, 0], return_counts=True)
    return dict(zip(ids.tolist(), deg.tolist()))


class IterativeReference:
    """Reference results for the ``iterative_ops`` inputs, computed once.
    ``params`` holds the operator arguments the workload uses."""

    def __init__(self, data_dir: str, params: dict):
        self.params = params
        e = _load(data_dir, "edges")
        p = _load(data_dir, "pairs")
        self.ranks = _pagerank(e["src"], e["dst"], e["w"], **params["pagerank"])
        self.components = _min_label_components(e["src"], e["dst"])
        self.kcore = _kcore(e["src"], e["dst"], **params["kcore"])
        self.dups = _min_label_components(p["id_a"], p["id_b"])
        emb = pq.read_table(os.path.join(data_dir, "embeddings")).to_pandas()
        x = np.stack(emb["embedding"].to_numpy())[np.argsort(emb["vec_id"].to_numpy())]
        self.x = x = x / np.linalg.norm(x, axis=1, keepdims=True)
        nq = params["queries"]
        sims = x[:nq] @ x.T
        sims[np.arange(nq), np.arange(nq)] = -np.inf
        self.topk = {q: set(np.argsort(-sims[q], kind="stable")[:5].tolist())
                     for q in range(nq)}
        pairs = set()
        for lo in range(0, len(x), 512):
            # the operator rounds cosines to 4 dp before the threshold test
            s = np.round(x[lo:lo + 512] @ x.T, 4)
            ii, jj = np.nonzero(s >= params["semdedup"]["threshold"])
            pairs.update((i + lo, j) for i, j in zip(ii.tolist(), jj.tolist()) if i + lo < j)
        self.pairs = pairs

    def check(self, t: dict) -> list:
        """Problems in the operator outputs ``t`` (name -> pandas frame)."""
        problems = []
        pr = t["graph.pagerank"]
        got = dict(zip(pr["id"].tolist(), pr["rank"].tolist()))
        mass = sum(got.values())
        if abs(mass - 1.0) > 1e-9:
            problems.append(f"pagerank: rank mass {mass!r} != 1")
        if got.keys() != self.ranks.keys() or max(
                abs(got[k] - v) for k, v in self.ranks.items()) > 1e-12:
            problems.append("pagerank: ranks differ from the numpy power iteration")

        cc = t["graph.connected_components"]
        if dict(zip(cc["id"].tolist(), cc["component"].tolist())) != self.components:
            problems.append("connected_components: partition differs from union-find")
        if not (cc.groupby("component")["id"].transform("size") == cc["component_size"]).all():
            problems.append("connected_components: component_size is wrong")

        kc = t["graph.kcore_peel"]
        if dict(zip(kc["id"].tolist(), kc["degree"].tolist())) != self.kcore:
            problems.append("kcore_peel: survivors differ from the numpy peel")

        dc = t["dedup.duplicate_components"]
        if dict(zip(dc["doc_id"].tolist(), dc["component_id"].tolist())) != self.dups:
            problems.append("duplicate_components: partition differs from union-find")

        topk = t["pq.pq_topk"]
        hits = sum(1 for q, nb in zip(topk["query_id"], topk["neighbor_id"])
                   if nb in self.topk.get(q, ()))
        total = sum(len(v) for v in self.topk.values())
        floor = self.params["pq_recall_floor"]
        if len(topk) != total or hits / total < floor:
            problems.append(f"pq_topk: {len(topk)} rows, recall@5 {hits / total:.3f} "
                            f"(floor {floor})")

        sd = t["clustering.semantic_dedup_pairs"]
        got = set(zip(sd["id_a"].tolist(), sd["id_b"].tolist()))
        exact = np.einsum("ij,ij->i", self.x[sd["id_a"].to_numpy()],
                          self.x[sd["id_b"].to_numpy()])
        if len(got) != len(sd) or not got <= self.pairs \
                or np.abs(exact - sd["cos_sim"].to_numpy()).max(initial=0) > 1e-4:
            problems.append("semantic_dedup_pairs: pairs or scores differ from numpy")
        recall = len(got & self.pairs) / max(len(self.pairs), 1)
        floor = self.params["semdedup_recall_floor"]
        if recall < floor:
            problems.append(f"semantic_dedup_pairs: recall {recall:.3f} (floor {floor})")
        return problems
