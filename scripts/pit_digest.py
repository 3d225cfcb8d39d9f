"""Bit-level output digests of the driver's point-in-time queries.

Usage (from the repository root):

    python3 scripts/pit_digest.py [sf_dir] [query ...]

It finds every driver query whose function reaches
``get_offline_features``, ``compute_snapshot`` or ``compute_backfill``
(an AST call graph over ``__spark_entry__.py``, so queries that call
them through a helper count too), runs each at ``sf_dir`` (default:
``$SPARK_GRAFT_SF_DIR``), and prints one line per query: its name, row
count, a SHA-256 over its rows and a short hash of its schema (column
names, order and types). Cells are normalised as
``check_oracles.py --exact`` does — every double by its IEEE-754 bit
pattern, NaN as one token, lists and structs cell by cell — and rows are
sorted, so the digest ignores row order and nothing else.

To check that a change to the point-in-time path or materialization
keeps every output bit-identical, run the script in a checkout of the
parent commit and in the change, and compare the two outputs line by
line (``diff``). The last line counts the queries.
"""

from __future__ import annotations

import ast
import hashlib
import os
import sys

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)
sys.path.insert(0, os.path.join(REPO, "scripts"))

ENTRY_POINTS = {"get_offline_features", "compute_snapshot", "compute_backfill"}


def pit_functions(path: str) -> set:
    """Names of the module-level functions in ``path`` that call one of
    ENTRY_POINTS, directly or through other module-level functions."""
    tree = ast.parse(open(path).read())
    calls, direct = {}, set()
    for node in tree.body:
        if not isinstance(node, (ast.FunctionDef, ast.AsyncFunctionDef)):
            continue
        names = set()
        for sub in ast.walk(node):
            if isinstance(sub, ast.Attribute) and sub.attr in ENTRY_POINTS:
                direct.add(node.name)
            elif isinstance(sub, ast.Name):
                names.add(sub.id)
        calls[node.name] = names
    reached = set(direct)
    changed = True
    while changed:
        changed = False
        for fn, names in calls.items():
            if fn not in reached and names & reached:
                reached.add(fn)
                changed = True
    return reached


def digest(rows, norm_cell) -> str:
    cells = sorted(repr(tuple(norm_cell(v) for v in r)) for r in rows)
    h = hashlib.sha256()
    for c in cells:
        h.update(c.encode())
        h.update(b"\n")
    return h.hexdigest()


def main(argv=None) -> int:
    args = list(sys.argv[1:] if argv is None else argv)
    sf_dir = args.pop(0) if args else os.environ.get("SPARK_GRAFT_SF_DIR")
    if not sf_dir:
        print("usage: pit_digest.py sf_dir [query ...] "
              "(or set SPARK_GRAFT_SF_DIR)", file=sys.stderr)
        return 2
    only = set(args)

    import check_oracles
    check_oracles.EXACT = True
    import __spark_entry__ as entry
    from pyspark.sql import SparkSession

    funcs = pit_functions(entry.__file__)
    queries = {n: fn for n, fn in entry.queries().items()
               if getattr(fn, "__name__", None) in funcs
               and (not only or n in only)}
    spark = (SparkSession.builder.master("local[4]")
             .appName("pit-digest")
             .config("spark.sql.shuffle.partitions", "8")
             .config("spark.sql.adaptive.enabled", "true")
             .config("spark.ui.enabled", "false")
             .getOrCreate())
    try:
        for name, fn in queries.items():
            df = fn(spark, sf_dir)
            rows = df.collect()
            schema = df.schema.simpleString()
            print(f"{name:28s} rows={len(rows):<8d} "
                  f"{digest(rows, check_oracles.norm_cell)} "
                  f"schema={hashlib.sha256(schema.encode()).hexdigest()[:12]}",
                  flush=True)
    finally:
        spark.stop()
    print(f"{len(queries)} queries")
    return 0


if __name__ == "__main__":
    sys.exit(main())
