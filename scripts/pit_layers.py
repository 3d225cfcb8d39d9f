"""Split perfbench's ``pit_join`` query into its planning call and its write.

Run from the repository root:

    python3 scripts/pit_layers.py
    python3 scripts/pit_layers.py --queries 20 --seed 102

It runs perfbench's ``pit_join`` job (``perfbench/gen.py``,
``workloads.py`` and ``run.py``, imported as they are; inputs and
scratch files under ``.perfbench/``, like perfbench) in one session: one
untimed warm-up query, then ``--queries`` timed ones. For each query it
prints the Spark jobs and the CPU seconds of this process and its
descendants less JIT threads (``run.engine_cpu_s``) spent in the
``get_offline_features`` call (planning, with its eager side jobs) and,
separately, in the write to the noop sink, plus wall seconds of both.
Every query's output is checked with the workload's own check; a failed
check exits with code 1. The last line is one JSON object with the
medians.
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
    """Stands in for perfbench's tracer. ``PitJoin.job`` opens one span,
    ``exec.write``, around the write; the rest of the job is the planning
    call. Each part runs under its own job group, so its jobs can be
    counted."""

    def __init__(self, sc, engine_cpu_s):
        self.sc = sc
        self.cpu_s = engine_cpu_s
        self.query = None
        self.parts = {}
        self._at = None

    def _switch(self, part):
        """Close the open part, if any, and open ``part`` (None: none)."""
        cpu, t = self.cpu_s(), time.perf_counter()
        if self._at is not None:
            name, cpu0, t0 = self._at
            jobs = len(self.sc.statusTracker().getJobIdsForGroup(self._group(name)))
            self.parts[name] = {"jobs": jobs, "cpu_s": cpu - cpu0, "wall_s": t - t0}
        self._at = (part, cpu, t) if part else None
        if part:
            self.sc.setJobGroup(self._group(part), part)
        else:
            self.sc.setLocalProperty("spark.jobGroup.id", None)

    def _group(self, part):
        return f"pit_layers_{self.query}_{part}"

    def run(self, wl, spark, query):
        self.query, self.parts = query, {}
        self._switch("plan")
        try:
            return wl.job(spark, self)
        finally:
            self._switch(None)

    @contextlib.contextmanager
    def span(self, name, **attrs):
        self._switch("write")
        yield None


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--queries", type=int, default=12)
    ap.add_argument("--seed", type=int, default=101)
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

    wl = workloads.PitJoin(str(work), args.seed)
    cores = min(run.MAX_CORES, len(os.sched_getaffinity(0)))
    spark = run._session(cores, work)
    split = _Split(spark.sparkContext, run.engine_cpu_s)
    wl.register(spark)
    problems, samples = [], []
    try:
        for q in range(args.queries + 1):
            problems += wl.check(split.run(wl, spark, q))
            if q:  # query 0 warms up
                samples.append(split.parts)
                plan, write = split.parts["plan"], split.parts["write"]
                print(f"query {q:<3d} plan: jobs={plan['jobs']} cpu_s={plan['cpu_s']:.3f} "
                      f"wall_s={plan['wall_s']:.3f} | write: jobs={write['jobs']} "
                      f"cpu_s={write['cpu_s']:.3f} wall_s={write['wall_s']:.3f}", flush=True)
    finally:
        run._stop(spark)

    medians = {part: {k: round(statistics.median(s[part][k] for s in samples), 4)
                      for k in ("jobs", "cpu_s", "wall_s")}
               for part in ("plan", "write")}
    for p in problems:
        print(f"problem: {p}", file=sys.stderr)
    print(json.dumps({"seed": args.seed, "cores": cores, "queries": len(samples),
                      "correct": not problems, "median": medians}))
    return 1 if problems else 0


if __name__ == "__main__":
    sys.exit(main())
