"""SCALING_r12: core-scaling evidence beyond sf0.1 (VERDICT r11 item 6).

The r11 c8/c32 block proved sf0.1 is scheduler-latency-bound everywhere
(no per-query ratio near the 4x core ratio), so the §2 scale claims
rested on plan shape alone. This script builds a 10x fixture
(".stress/sf1") and solo-runs the heavy data-bound queries at 32 vs 8
cores in ONE window, recording the ratios + both runs' machine
calibration into SCALING_r12.json.

Fixture construction (deterministic, /root/testdata untouched):
  * TPC-H-ish tables (lineitem/orders/customer/part): 10 key-shifted
    copies of the sf0.1 tables — distributions preserved exactly; the
    co-purchase / purchase-bipartite graphs become 10 disjoint copies of
    the sf0.1 graph, so per-round join/aggregate volume scales 10x.
  * documents/embeddings: scale_stress's fitted synthesizer at 10x
    (empirical unigram/length/cluster moments, ~5% injected near-dups)
    so dedup pair volume scales like a real corpus, not like 10 exact
    clones of every row.
  * remaining small tables copied verbatim (queries here don't read
    them, but bench.py's warmup at sf0.001 does not touch this dir).

Usage: python scripts/scaling_r12.py            # build + run + write
       python scripts/scaling_r12.py --gen-only
       python scripts/scaling_r12.py --scale 30 --queries a,b --out F.json
"""
from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
SRC = "/root/testdata/sf0.1"
SCALE = 10
if "--scale" in sys.argv:
    SCALE = int(sys.argv[sys.argv.index("--scale") + 1])
OUT = os.path.join(REPO, ".stress", "sf1" if SCALE == 10 else f"x{SCALE}tpch")

QUERIES = [
    "part_pagerank", "hits_bipartite", "components_parts", "kcore_graph",
    "triangles_parts", "dedup_components", "dedup_cluster_stats",
    "minhash_pairs", "exact_substr", "vocab_growth", "ols2_lineitem",
]

SHIFTS = {
    # table -> {column: key-space-name}; each copy c adds c * (max+1)
    "orders": {"o_orderkey": "order", "o_custkey": "cust"},
    "lineitem": {"l_orderkey": "order", "l_partkey": "part",
                 "l_suppkey": "supp"},
    "customer": {"c_custkey": "cust"},
    "part": {"p_partkey": "part"},
    "supplier": {"s_suppkey": "supp"},
}


def gen_fixture():
    import duckdb
    os.makedirs(OUT, exist_ok=True)
    con = duckdb.connect()
    # key-space sizes from the source tables
    spans = {
        "order": con.sql(f"SELECT max(o_orderkey)+1 FROM "
                         f"'{SRC}/orders.parquet'").fetchone()[0],
        "cust": con.sql(f"SELECT max(c_custkey)+1 FROM "
                        f"'{SRC}/customer.parquet'").fetchone()[0],
        "part": con.sql(f"SELECT max(p_partkey)+1 FROM "
                        f"'{SRC}/part.parquet'").fetchone()[0],
        "supp": con.sql(f"SELECT max(s_suppkey)+1 FROM "
                        f"'{SRC}/supplier.parquet'").fetchone()[0],
    }
    for table, shifted in SHIFTS.items():
        dst = os.path.join(OUT, f"{table}.parquet")
        if os.path.exists(dst):
            continue
        cols = [r[0] for r in con.sql(
            f"DESCRIBE SELECT * FROM '{SRC}/{table}.parquet'").fetchall()]
        sel = ", ".join(
            f"({c} + c.copy * {spans[shifted[c]]})::BIGINT AS {c}"
            if c in shifted else c for c in cols)
        con.sql(
            f"COPY (SELECT {sel} FROM '{SRC}/{table}.parquet', "
            f"(SELECT unnest(range({SCALE})) AS copy) c) "
            f"TO '{dst}' (FORMAT PARQUET)")
        print(f"wrote {dst}")
    for table in ("region", "nation", "events"):
        dst = os.path.join(OUT, f"{table}.parquet")
        if not os.path.exists(dst):
            shutil.copy(f"{SRC}/{table}.parquet", dst)
    # documents/embeddings via the fitted synthesizer
    need = [t for t in ("documents", "embeddings")
            if not os.path.exists(os.path.join(OUT, f"{t}.parquet"))]
    if need:
        sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
        import scale_stress
        fitted = scale_stress.fit_source(con)
        d = scale_stress.gen_dir(SCALE, fitted, con)
        for t in need:
            shutil.copy(os.path.join(d, f"{t}.parquet"),
                        os.path.join(OUT, f"{t}.parquet"))
            print(f"copied {t} from {d}")
    con.close()


def run_bench(cpus: int, queries, reps=2):
    env = dict(os.environ,
               SPARK_GRAFT_SF_DIR=OUT,
               SPARK_GRAFT_CPUS=str(cpus),
               SPARK_GRAFT_BENCH_ONLY=",".join(queries),
               SPARK_GRAFT_BENCH_REPS=str(reps))
    p = subprocess.run([sys.executable, os.path.join(REPO, "bench.py")],
                       env=env, capture_output=True, text=True)
    lines = [ln for ln in p.stdout.splitlines() if ln.startswith("{")]
    if p.returncode != 0 or not lines:
        print(p.stderr, file=sys.stderr)
        raise RuntimeError(
            f"bench.py at {cpus} cpus exited {p.returncode} with "
            f"{len(lines)} JSON lines on stdout")
    return json.loads(lines[-1])


def main():
    queries = QUERIES
    if "--queries" in sys.argv:
        queries = sys.argv[sys.argv.index("--queries") + 1].split(",")
    outfile = os.path.join(REPO, "SCALING_r12.json")
    if "--out" in sys.argv:
        outfile = sys.argv[sys.argv.index("--out") + 1]
    gen_fixture()
    if "--gen-only" in sys.argv:
        return
    out = {"fixture": OUT, "scale_vs_sf01": SCALE, "queries": {}}
    r32 = run_bench(32, queries)
    r8 = run_bench(8, queries)
    out["calib_c32run"] = r32.get("calib")
    out["calib_c8run"] = r8.get("calib")
    for q in queries:
        a, b = r32["queries"].get(q), r8["queries"].get(q)
        out["queries"][q] = {
            "c32_sec": a, "c8_sec": b,
            "ratio_c8_over_c32": round(b / a, 2) if a and b else None,
        }
    with open(outfile, "w") as f:
        json.dump(out, f, indent=1, sort_keys=True)
    print(json.dumps(out, indent=1, sort_keys=True))
    print(f"wrote {outfile}")


if __name__ == "__main__":
    main()
