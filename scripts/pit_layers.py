"""Split a perfbench feature job into its planning call and its write.

Run from the repository root:

    python3 scripts/pit_layers.py
    python3 scripts/pit_layers.py --queries 20 --seed 102
    python3 scripts/pit_layers.py --workload backfill --queries 12

It runs one perfbench job (``perfbench/gen.py``, ``workloads.py`` and
``run.py``, imported as they are; inputs and scratch files under
``.perfbench/``, like perfbench) in one session: one untimed warm-up
job, then ``--queries`` timed ones. ``--workload pit_join`` (the
default) splits each ``pit_join`` query into the
``get_offline_features`` call (``plan``: planning, with its eager side
jobs), the building of perfbench's output-check columns (``check``) and
the write to the noop sink (``write``); ``--workload backfill`` splits
each ``backfill`` job into the ``compute_backfill`` call inside
``materialize_features`` (``plan``: everything up to its return) and
the parquet sink write after it (``write``). For each part it prints
the Spark jobs, the CPU seconds of this process and its descendants
less JIT threads (``run.engine_cpu_s``), the wall seconds and the py4j
round trips (commands this process sent to the JVM). Every job's output
is checked with the workload's own check; a failed check exits with
code 1. The last line is one JSON object with the medians.
"""

from __future__ import annotations

import argparse
import contextlib
import json
import os
import statistics
import sys
import time
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent
sys.path.insert(0, str(ROOT))
sys.path.insert(0, str(ROOT / "perfbench"))


class _Split:
    """Stands in for perfbench's tracer. A job starts in the ``plan``
    part and switches when the wrapped entry point returns (see
    ``_switch_after``); ``PitJoin.job`` opens one span, ``exec.write``,
    around its write. Each part runs under its own job group, so its
    jobs can be counted."""

    def __init__(self, sc, engine_cpu_s):
        self.sc = sc
        self.cpu_s = engine_cpu_s
        self.query = None
        self.parts = {}
        self._at = None
        self.trips = 0
        from py4j.clientserver import ClientServerConnection
        send = ClientServerConnection.send_command

        def counted(conn, command):
            self.trips += 1
            return send(conn, command)

        ClientServerConnection.send_command = counted

    def switch(self, part):
        """Close the open part, if any, and open ``part`` (None: none)."""
        cpu, t, trips = self.cpu_s(), time.perf_counter(), self.trips
        if self._at is not None:
            name, cpu0, t0, trips0 = self._at
            jobs = len(self.sc.statusTracker().getJobIdsForGroup(self._group(name)))
            self.parts[name] = {"jobs": jobs, "cpu_s": cpu - cpu0,
                                "wall_s": t - t0, "py4j": trips - trips0}
        if part:
            self.sc.setJobGroup(self._group(part), part)
        else:
            self.sc.setLocalProperty("spark.jobGroup.id", None)
        # the switch's own round trips are counted in no part
        self._at = (part, self.cpu_s(), time.perf_counter(), self.trips) \
            if part else None

    def _group(self, part):
        return f"pit_layers_{self.query}_{part}"

    def run(self, wl, spark, query):
        self.query, self.parts = query, {}
        self.switch("plan")
        try:
            return wl.job(spark, self)
        finally:
            self.switch(None)

    @contextlib.contextmanager
    def span(self, name, **attrs):
        self.switch("write")
        yield None


def _switch_after(obj, method, split, part):
    """Switch ``split`` to ``part`` when ``obj.method`` returns."""
    call = getattr(obj, method)

    def call_then_switch(*args, **kwargs):
        out = call(*args, **kwargs)
        split.switch(part)
        return out

    setattr(obj, method, call_then_switch)


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--queries", type=int, default=12)
    ap.add_argument("--seed", type=int, default=101)
    ap.add_argument("--workload", choices=("pit_join", "backfill"),
                    default="pit_join")
    args = ap.parse_args(argv)

    work = ROOT / ".perfbench"
    for d in ("tmp", "spark-local", "data"):
        (work / d).mkdir(parents=True, exist_ok=True)
    os.environ["TMPDIR"] = str(work / "tmp")
    os.environ["SPARK_LOCAL_DIRS"] = str(work / "spark-local")
    os.environ["PYSPARK_PYTHON"] = sys.executable
    os.environ["JAVA_TOOL_OPTIONS"] = \
        "-XX:-UsePerfData -XX:-UseDynamicNumberOfCompilerThreads"

    import run
    import workloads

    wl = workloads.WORKLOADS[args.workload](str(work), args.seed)
    cores = min(run.MAX_CORES, len(os.sched_getaffinity(0)))
    spark = run._session(cores, work)
    split = _Split(spark.sparkContext, run.engine_cpu_s)
    wl.register(spark)
    if args.workload == "backfill":
        _switch_after(wl.project, "compute_backfill", split, "write")
    else:
        _switch_after(wl.project, "get_offline_features", split, "check")
    problems, samples = [], []
    try:
        for q in range(args.queries + 1):
            result = split.run(wl, spark, q)
            problems += wl.check(result)
            if hasattr(wl, "cleanup"):
                wl.cleanup(result)
            if q:  # query 0 warms up
                samples.append(split.parts)
                print(f"query {q:<3d} " + " | ".join(
                    f"{part}: jobs={m['jobs']} cpu_s={m['cpu_s']:.3f} "
                    f"wall_s={m['wall_s']:.3f} py4j={m['py4j']}"
                    for part, m in split.parts.items()), flush=True)
    finally:
        run._stop(spark)

    medians = {part: {k: round(statistics.median(s[part][k] for s in samples), 4)
                      for k in ("jobs", "cpu_s", "wall_s", "py4j")}
               for part in samples[0]}
    for p in problems:
        print(f"problem: {p}", file=sys.stderr)
    print(json.dumps({"workload": args.workload, "seed": args.seed,
                      "cores": cores, "queries": len(samples),
                      "correct": not problems, "median": medians}))
    return 1 if problems else 0


if __name__ == "__main__":
    sys.exit(main())
