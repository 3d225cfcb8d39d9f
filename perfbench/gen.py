"""Seeded input generator for the three perfbench workloads.

Every input is a function of (workload, seed, sizes): the same arguments
give byte-identical parquet files. Inputs are written once per
(workload, seed, sizes) under the given root and reused; the engine only
ever reads these files.

Feature-store inputs (``pit_join`` and ``backfill``)
  * ``events`` — user_id, event_ts, amount, kind;
  * ``purchases`` — user_id, purchase_ts, price, qty;
  * ``users`` — the keyed dimension table (user_id, segment, signup_day);
  * ``observations`` — request_id, user_id, obs_ts.
  User popularity follows a power law: user id i is drawn with weight
  (i + 1)^-ALPHA. The id of each popularity rank is the same for every
  seed, so the hash partition that the hottest keys land in, which sets
  the task skew of the point-in-time shuffle, does not change with the
  seed; the seed changes which rows are drawn. ``cold_users`` extra ids
  appear in observations and in ``users`` but never in events or
  purchases: their windowed COUNT features must be 0. Timestamps are
  unique within a source, so LATEST has one right answer.

Iterative-operator inputs (``iterative_ops``)
  * ``edges`` — a directed graph (src, dst, w): every node has one
    out-edge to a uniform node plus power-law extra edges, so the graph
    has a dense core (k-core), hubs (PageRank) and many components;
  * ``pairs`` — near-duplicate document pairs (id_a < id_b) from a
    corpus of planted duplicate clusters, the input of duplicate-cluster
    resolution;
  * ``embeddings`` — vec_id, embedding[DIM]: vectors around planted
    topic centers with a share of near-copies (cosine well above the
    near-duplicate threshold).
"""

from __future__ import annotations

import json
import os
from dataclasses import asdict, dataclass

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

ALPHA = 0.8                  # key-popularity exponent: weight ∝ rank^-ALPHA
DAY_MS = 86_400_000
START_MS = 1_704_067_200_000  # 2024-01-01T00:00:00Z
HISTORY_DAYS = 180
FILES_PER_TABLE = 4          # so a scan has one split per core at local[4]
DIM = 64                     # embedding width (pq_topk's default dim)


@dataclass(frozen=True)
class FeatureStoreSizes:
    users: int
    cold_users: int
    events: int
    purchases: int
    observations: int


@dataclass(frozen=True)
class IterativeSizes:
    nodes: int
    extra_edges: int
    docs: int
    vectors: int
    queries: int


def _power_law_ids(rng, n_ids: int, size: int) -> np.ndarray:
    """``size`` draws of ids 0..n_ids-1; id i has popularity rank i + 1
    and weight (i + 1)^-ALPHA."""
    w = np.arange(1, n_ids + 1, dtype=np.float64) ** -ALPHA
    return rng.choice(n_ids, size=size, p=w / w.sum()).astype(np.int64)


def _unique_times(rng, size: int, lo_ms: int, hi_ms: int) -> np.ndarray:
    """``size`` distinct epoch-millisecond instants in [lo_ms, hi_ms), in
    random order."""
    t = np.sort(rng.integers(lo_ms, hi_ms - size, size=size))
    t = np.maximum.accumulate(t - np.arange(size)) + np.arange(size)
    return rng.permutation(t)


def _write(table: pa.Table, path: str) -> None:
    os.makedirs(path, exist_ok=True)
    n = table.num_rows
    bounds = np.linspace(0, n, FILES_PER_TABLE + 1).astype(int)
    for i in range(FILES_PER_TABLE):
        part = table.slice(bounds[i], bounds[i + 1] - bounds[i])
        pq.write_table(part, os.path.join(path, f"part-{i:03d}.parquet"))


def _ts(ms: np.ndarray) -> pa.Array:
    return pa.array(ms, type=pa.int64()).cast(pa.timestamp("ms", tz="UTC"))


def feature_store_inputs(root: str, seed: int, sizes: FeatureStoreSizes) -> str:
    tag = "fs-{}-{}".format(seed, "-".join(str(v) for v in asdict(sizes).values()))
    out = os.path.join(root, tag)
    if os.path.exists(os.path.join(out, "meta.json")):
        return out
    rng = np.random.default_rng(seed)
    end_ms = START_MS + HISTORY_DAYS * DAY_MS

    uid = _power_law_ids(rng, sizes.users, sizes.events)
    _write(pa.table({
        "user_id": uid,
        "event_ts": _ts(_unique_times(rng, sizes.events, START_MS, end_ms)),
        "amount": np.round(rng.lognormal(3.0, 1.0, sizes.events), 2),
        "kind": rng.choice(3, size=sizes.events, p=[0.6, 0.3, 0.1]).astype(np.int32),
    }), os.path.join(out, "events"))

    uid = _power_law_ids(rng, sizes.users, sizes.purchases)
    _write(pa.table({
        "user_id": uid,
        "purchase_ts": _ts(_unique_times(rng, sizes.purchases, START_MS, end_ms)),
        "price": np.round(rng.lognormal(4.0, 0.8, sizes.purchases), 2),
        "qty": rng.integers(1, 6, size=sizes.purchases).astype(np.int32),
    }), os.path.join(out, "purchases"))

    n_all = sizes.users + sizes.cold_users
    _write(pa.table({
        "user_id": np.arange(n_all, dtype=np.int64),
        "segment": pa.array([f"s{v}" for v in rng.integers(0, 8, size=n_all)]),
        "signup_day": rng.integers(0, 720, size=n_all).astype(np.int32),
    }), os.path.join(out, "users"))

    n_cold = sizes.observations // 50
    obs_uid = np.concatenate([
        _power_law_ids(rng, sizes.users, sizes.observations - n_cold),
        sizes.users + rng.integers(0, sizes.cold_users, size=n_cold)])
    order = rng.permutation(sizes.observations)
    # observations cover the second half of the history, so 90-day
    # windows are full
    obs_ms = rng.integers(START_MS + 90 * DAY_MS, end_ms, size=sizes.observations)
    _write(pa.table({
        "request_id": np.arange(sizes.observations, dtype=np.int64),
        "user_id": obs_uid[order],
        "obs_ts": _ts(obs_ms),
    }), os.path.join(out, "observations"))

    meta = {"seed": seed, "alpha": ALPHA, "history_days": HISTORY_DAYS,
            "start_ms": START_MS, "cold_user_min_id": sizes.users,
            **asdict(sizes)}
    with open(os.path.join(out, "meta.json"), "w") as f:
        json.dump(meta, f, indent=1)
    return out


def iterative_inputs(root: str, seed: int, sizes: IterativeSizes) -> str:
    tag = "it-{}-{}".format(seed, "-".join(str(v) for v in asdict(sizes).values()))
    out = os.path.join(root, tag)
    if os.path.exists(os.path.join(out, "meta.json")):
        return out
    rng = np.random.default_rng(seed)

    # graph: a random out-edge per node (many small trees, no dangling
    # node), plus power-law extra edges that grow hubs and a dense core
    n = sizes.nodes
    src = np.concatenate([np.arange(n), rng.integers(0, n, size=sizes.extra_edges)])
    dst = np.concatenate([rng.integers(0, n, size=n),
                          _power_law_ids(rng, n, sizes.extra_edges)])
    keep = src != dst
    src, dst = src[keep].astype(np.int64), dst[keep].astype(np.int64)
    _write(pa.table({"src": src, "dst": dst,
                     "w": rng.integers(1, 6, size=len(src)).astype(np.float64)}),
           os.path.join(out, "edges"))

    # duplicate clusters: geometric sizes; each member pairs with the
    # cluster's first doc and, with probability 1/2, with its predecessor
    ids = rng.permutation(sizes.docs).astype(np.int64)
    a_list, b_list, pos = [], [], 0
    while pos < sizes.docs:
        size = min(int(rng.geometric(0.4)), sizes.docs - pos)
        members = ids[pos:pos + size]
        pos += size
        for j in range(1, size):
            a_list.append(members[0]); b_list.append(members[j])
            if j > 1 and rng.random() < 0.5:
                a_list.append(members[j - 1]); b_list.append(members[j])
    a, b = np.array(a_list, dtype=np.int64), np.array(b_list, dtype=np.int64)
    _write(pa.table({"id_a": np.minimum(a, b), "id_b": np.maximum(a, b)}),
           os.path.join(out, "pairs"))

    # embeddings: 32 topic centers; 10% of vectors are near-copies of an
    # earlier vector
    v = sizes.vectors
    centers = rng.normal(size=(32, DIM))
    x = centers[rng.integers(0, 32, size=v)] + 0.9 * rng.normal(size=(v, DIM))
    copies = rng.choice(np.arange(v // 2, v), size=v // 10, replace=False)
    x[copies] = x[rng.integers(0, v // 2, size=len(copies))] \
        + 0.15 * rng.normal(size=(len(copies), DIM))
    _write(pa.table({
        "vec_id": np.arange(v, dtype=np.int64),
        "embedding": pa.array(list(np.round(x, 6)), type=pa.list_(pa.float64())),
    }), os.path.join(out, "embeddings"))

    meta = {"seed": seed, "alpha": ALPHA, "dim": DIM, **asdict(sizes)}
    with open(os.path.join(out, "meta.json"), "w") as f:
        json.dump(meta, f, indent=1)
    return out
