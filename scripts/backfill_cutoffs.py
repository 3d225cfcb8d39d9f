"""Time ``FeathrProject.materialize_features`` at several DAILY cutoff counts.

Run from the repository root:

    python3 scripts/backfill_cutoffs.py
    python3 scripts/backfill_cutoffs.py --cutoffs 2,14,30 --reps 4 --seed 102
    python3 scripts/backfill_cutoffs.py --cutoffs 2,14,30 --sinks 2

This is perfbench's ``backfill`` workload at other cutoff counts. It uses
perfbench's generated inputs, feature definitions, session settings and
CPU counter (``perfbench/gen.py``, ``workloads.py``, ``run.py``, imported
as they are) and writes under ``.perfbench/``, like perfbench.

For each cutoff count it runs one untimed warm-up job, then ``--reps``
timed jobs, the counts interleaved. Every job writes ``--sinks``
append-mode parquet sinks (default 1). Per count it prints the Spark
jobs one timed ``materialize_features`` call launches (the first
warm-up job also pays the session's schema inference, so its count is
not used), the parquet files of one sink in total and the most that
hold one cutoff (a file may hold several cutoffs), the median CPU
seconds of this process and its descendants less JIT threads
(``run.engine_cpu_s``) and wall seconds, the rows of one sink and a
SHA-256 digest of its rows, sorted. Run it in two checkouts to check
that their outputs are bit-identical. Every job's rows per cutoff, and
every cutoff of the warm-up job in full, are checked against
perfbench's DuckDB/numpy oracle; a mismatch, sinks of one job that
differ in digest, or timed jobs of one count that differ in job count,
file counts or digest, exits with code 1. The last line is one JSON
object.
"""

from __future__ import annotations

import argparse
import collections
import hashlib
import json
import os
import shutil
import statistics
import sys
import time
from datetime import datetime, timedelta, timezone
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent
sys.path.insert(0, str(ROOT))
sys.path.insert(0, str(ROOT / "perfbench"))


def _digest(path: str) -> str:
    import pyarrow.parquet as pq
    table = pq.read_table(path)
    rows = sorted(table.to_pylist(),
                  key=lambda r: (r["feathr_cutoff"], r["user_id"]))
    body = json.dumps([table.column_names, rows], default=str)
    return hashlib.sha256(body.encode()).hexdigest()


def _files(path: str) -> tuple:
    """(parquet files in ``path``, the most of them holding one cutoff)."""
    import pyarrow.parquet as pq
    parts = list(Path(path).glob("part-*.parquet"))
    files = collections.Counter()
    for f in parts:
        cuts = pq.read_table(f, columns=["feathr_cutoff"]).column(0).unique()
        files.update(cuts.to_pylist())
    return len(parts), max(files.values(), default=0)


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--cutoffs", default="2,14",
                    help="comma-separated DAILY cutoff counts (default 2,14)")
    ap.add_argument("--reps", type=int, default=3)
    ap.add_argument("--seed", type=int, default=101)
    ap.add_argument("--sinks", type=int, default=1,
                    help="parquet sinks per materialize_features call "
                         "(default 1)")
    args = ap.parse_args(argv)
    if args.sinks < 1:
        ap.error("--sinks must be at least 1")
    counts = [int(c) for c in args.cutoffs.split(",")]

    work = ROOT / ".perfbench"
    for d in ("tmp", "spark-local", "data", "out"):
        (work / d).mkdir(parents=True, exist_ok=True)
    os.environ["TMPDIR"] = str(work / "tmp")
    os.environ["SPARK_LOCAL_DIRS"] = str(work / "spark-local")
    os.environ["PYSPARK_PYTHON"] = sys.executable
    os.environ["JAVA_TOOL_OPTIONS"] = \
        "-XX:-UsePerfData -XX:-UseDynamicNumberOfCompilerThreads"

    import feathr_spark as fs
    import gen
    import oracle
    import run
    import workloads

    data = gen.feature_store_inputs(str(work / "data"), args.seed,
                                    workloads.FS_SIZES)
    # the end of the generated history, as in workloads.Backfill
    end = datetime.fromtimestamp(
        (gen.START_MS + gen.HISTORY_DAYS * gen.DAY_MS) / 1000, tz=timezone.utc
    ).replace(tzinfo=None)
    cores = min(run.MAX_CORES, len(os.sched_getaffinity(0)))
    spark = run._session(cores, work)
    sc = spark.sparkContext
    project = workloads.feature_project(spark, data)
    out_root = work / "out" / "backfill_cutoffs"
    problems: list = []
    samples = {n: [] for n in counts}
    rows, digests = {}, {n: set() for n in counts}
    jobs = {n: set() for n in counts}
    files = {n: set() for n in counts}

    def one_job(n: int, tag: str, full_check: bool):
        bt = fs.BackfillTime(start=end - timedelta(days=n), end=end,
                             step="DAILY")
        paths = [str(out_root / f"{n}-{tag}-{i}") for i in range(args.sinks)]
        for path in paths:
            shutil.rmtree(path, ignore_errors=True)
        settings = fs.MaterializationSettings(
            name="backfill_cutoffs",
            sinks=[fs.GenericSink(format="parquet", path=path, mode="append")
                   for path in paths],
            feature_names=list(workloads.BACKFILL_FEATURES), backfill_time=bt)
        group = f"backfill_cutoffs_{n}_{tag}"
        sc.setJobGroup(group, group)
        cpu, t = run.engine_cpu_s(), time.perf_counter()
        try:
            written = project.materialize_features(settings, spark=spark)
        finally:
            took, took_cpu = time.perf_counter() - t, run.engine_cpu_s() - cpu
            sc.setLocalProperty("spark.jobGroup.id", None)
        n_jobs = len(sc.statusTracker().getJobIdsForGroup(group))
        cutoffs = bt.cutoffs()
        if written != cutoffs:
            problems.append(f"{n} cutoffs: wrote {len(written)}")
        # the sinks must hold the same rows; the oracle checks the first
        sink_digests = {_digest(path) for path in paths}
        if len(sink_digests) != 1:
            problems.append(f"{n} cutoffs: sinks differ in output")
        digests[n].update(sink_digests)
        path = paths[0]
        expect = oracle.snapshot_row_counts(data, cutoffs)
        got = oracle.rows_per_cutoff(path)
        if got != expect:
            problems.append(f"{n} cutoffs: rows per cutoff {got} != {expect}")
        if full_check:
            for c in cutoffs:
                problems.extend(oracle.compare_snapshot(data, path, c))
        n_files = {_files(path) for path in paths}
        for path in paths:
            shutil.rmtree(path, ignore_errors=True)
        return n_jobs, n_files, sum(got.values()), took_cpu, took

    try:
        for n in counts:
            _, _, rows[n], _, _ = one_job(n, "warmup", full_check=True)
        for rep in range(args.reps):
            for n in counts:
                n_jobs, n_files, rows[n], took_cpu, took = \
                    one_job(n, str(rep), False)
                jobs[n].add(n_jobs)
                files[n].update(n_files)
                samples[n].append((took_cpu, took))
    finally:
        run._stop(spark)

    result = {}
    for n in counts:
        cpu = statistics.median(s[0] for s in samples[n])
        wall = statistics.median(s[1] for s in samples[n])
        for what, seen in (("output", digests[n]), ("job count", jobs[n]),
                           ("file count", files[n])):
            if len(seen) != 1:
                problems.append(f"{n} cutoffs: {what} differs between jobs: "
                                f"{sorted(seen)}")
        digest, n_jobs, (n_files, per_cutoff) = \
            (max(x) for x in (digests[n], jobs[n], files[n]))
        print(f"cutoffs={n:<3d} jobs={n_jobs:<3d} files/sink={n_files:<2d} "
              f"files/cutoff={per_cutoff:<2d} cpu_s={cpu:.3f} wall_s={wall:.3f} "
              f"(median of {len(samples[n])}) rows={rows[n]} "
              f"digest={digest[:16]}")
        result[str(n)] = {"jobs": n_jobs, "files_per_sink": n_files,
                          "files_per_cutoff": per_cutoff,
                          "cpu_s": round(cpu, 4), "wall_s": round(wall, 4),
                          "rows": rows[n], "digest": digest}
    for p in problems:
        print(f"problem: {p}", file=sys.stderr)
    print(json.dumps({"seed": args.seed, "cores": cores, "sinks": args.sinks,
                      "correct": not problems, "cutoffs": result}))
    return 1 if problems else 0


if __name__ == "__main__":
    sys.exit(main())
