"""perfbench: end-to-end and per-layer benchmark of the feathr_spark engine.

Run from the repository root:

    python3 perfbench/run.py --workload pit_join --seed 1 --seconds 5 --trace 0

One process, one local Spark session with n = min(4, available cores)
task slots. A run

1. generates the workload's inputs from ``--seed`` (once per seed and
   size; reused from ``.perfbench/data`` afterwards);
2. sets up SETUP_ROUNDS times — start a session, register the inputs,
   run one warm-up job — and reports the median CPU time of a round as
   ``setup_s``. The PIT skew-sample memo is cleared before each round, so
   every round pays the sample once, as a fresh process does;
3. runs the fixed c1/cN calibration jobs of ``bench.py`` (best of two,
   as there), the workload's oracle check, and WARMUP_JOBS untimed jobs;
4. with ``--trace 0``, runs jobs back to back for ``--seconds`` seconds
   (at least MIN_JOBS) and reports the end-to-end metrics; with
   ``--trace 1``, runs untraced jobs for half the time, then restarts the
   session with the event log on and the entry points wrapped in spans,
   runs one traced set-up round and traced jobs for the other half, and
   reports the per-layer metrics plus the tracing overhead.

The graded end-to-end times are CPU seconds of this process and its
descendants (the driver JVM and its Python workers), not wall seconds:
on a virtual machine whose host is shared, wall time follows the time
the hypervisor steals from the virtual CPUs, while CPU time does not.
Wall times are printed on the summary line and in the stamp.

Every job's output is checked (see ``workloads.py`` and ``oracle.py``);
a job that raises or fails its check counts as failed. The last line of
stdout is one JSON object: correct, attempted, failed, metrics. The line
before it stamps the host: calibration, nproc, Spark, Python and Java
versions.
"""

from __future__ import annotations

import argparse
import json
import os
import platform
import statistics
import subprocess
import sys
import time
from pathlib import Path

SETUP_ROUNDS = 3
WARMUP_JOBS = 1      # untimed jobs after set-up; a count, not a time, so
                     # every run times jobs at the same point of JIT warm-up
MIN_JOBS = 5
MAX_CORES = 4
DRIVER_MEMORY = "1g"


def _session(cores: int, work: Path, event_log: Path = None):
    from pyspark.sql import SparkSession
    b = (SparkSession.builder.master(f"local[{cores}]")
         .appName("perfbench")
         .config("spark.sql.shuffle.partitions", str(cores))
         .config("spark.sql.adaptive.enabled", "true")
         .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
         .config("spark.driver.memory", DRIVER_MEMORY)
         .config("spark.ui.enabled", "false")
         .config("spark.ui.showConsoleProgress", "false")
         .config("spark.sql.session.timeZone", "UTC")
         .config("spark.local.dir", str(work / "spark-local"))
         .config("spark.sql.warehouse.dir", str(work / "warehouse"))
         .config("spark.driver.extraJavaOptions",
                 # a heap committed at its full size from the start keeps the
                 # resident set from growing with GC timing
                 f"-Xms{DRIVER_MEMORY} -Djava.io.tmpdir={work / 'tmp'} "
                 f"-Dderby.system.home={work / 'tmp'}")
         .config("spark.eventLog.enabled", "true" if event_log else "false"))
    if event_log:
        b = b.config("spark.eventLog.dir", event_log.as_uri()) \
             .config("spark.eventLog.compress", "false") \
             .config("spark.eventLog.rolling.enabled", "false")
    spark = b.getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def _clear_pit_memo():
    """Forget memoized PIT strategy decisions, so a set-up round samples
    like a fresh process. Tolerates the memo being renamed or removed."""
    from feathr_spark.operators import point_in_time
    memo = getattr(point_in_time, "_STRATEGY_CACHE", None)
    if isinstance(memo, dict):
        memo.clear()


def _calibrate(spark, cores: int) -> dict:
    """The fixed data-independent jobs of bench.py, best of two: c1 (one
    partition, per-core latency) and cN (N partitions, parallel
    throughput)."""
    out = {}
    for label, parts, n in (("c1_sec", 1, 20_000_000),
                            (f"c{cores}_sec", cores, 10_000_000 * cores)):
        best = None
        for _ in range(2):
            t = time.perf_counter()
            (spark.range(0, n, 1, parts)
             .selectExpr("sum(id * 2654435761 % 1000003) AS s")
             .write.format("noop").mode("overwrite").save())
            took = time.perf_counter() - t
            best = took if best is None else min(best, took)
        out[label] = round(best, 4)
    return out


def _java_version(spark) -> str:
    sys_props = spark.sparkContext._jvm.System
    return f"{sys_props.getProperty('java.vm.name')} {sys_props.getProperty('java.runtime.version')}"


def _descendants(pid: int) -> list:
    children = {}
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat") as f:
                ppid = int(f.read().rsplit(")", 1)[1].split()[1])
        except (OSError, IndexError, ValueError):
            continue
        children.setdefault(ppid, []).append(int(d))
    out, todo = [], [pid]
    while todo:
        for c in children.get(todo.pop(), []):
            out.append(c)
            todo.append(c)
    return out


def _proc_stat(pid) -> list:
    """Fields of /proc/<pid>/stat after the command name; utime, stime,
    cutime and cstime are fields 11 to 14."""
    with open(f"/proc/{pid}/stat") as f:
        return f.read().rsplit(")", 1)[1].split()


def _jit_cpu_ticks(pid: int) -> int:
    """CPU ticks of a JVM's JIT compiler threads (fixed for the JVM's life
    with -XX:-UseDynamicNumberOfCompilerThreads)."""
    try:
        tids = os.listdir(f"/proc/{pid}/task")
    except OSError:
        return 0
    total = 0
    for tid in tids:
        try:
            with open(f"/proc/{pid}/task/{tid}/comm") as f:
                if "CompilerThre" not in f.read():
                    continue
            fields = _proc_stat(f"{pid}/task/{tid}")
            total += int(fields[11]) + int(fields[12])
        except (OSError, IndexError, ValueError):
            continue
    return total


def engine_cpu_s() -> float:
    """CPU seconds used so far by this process and its descendants (the
    driver JVM and its Python workers), counting descendants that have
    already ended, less the JVM's JIT compiler threads: how much they
    compile during a job depends on how far warm-up has got, not on the
    job. Time the hypervisor steals from a virtual CPU is not charged to
    any process, so this does not move with the host's load."""
    ticks = 0
    for pid in _descendants(os.getpid()):
        try:
            fields = _proc_stat(pid)
            ticks += sum(int(x) for x in fields[11:15]) - _jit_cpu_ticks(pid)
        except (OSError, IndexError, ValueError):
            continue
    return time.process_time() + ticks / os.sysconf("SC_CLK_TCK")


def reset_peak_rss():
    """Restart the peak-RSS counter (VmHWM) of every descendant."""
    for pid in _descendants(os.getpid()):
        try:
            with open(f"/proc/{pid}/clear_refs", "w") as f:
                f.write("5")
        except OSError:
            continue


def peak_rss_bytes() -> int:
    """Summed peak RSS of the descendants since reset_peak_rss."""
    total = 0
    for pid in _descendants(os.getpid()):
        try:
            with open(f"/proc/{pid}/status") as f:
                total += next(int(l.split()[1]) * 1024 for l in f if l.startswith("VmHWM:"))
        except (OSError, StopIteration, IndexError, ValueError):
            continue
    return total


class Runner:
    """Runs and checks jobs, counting attempts and failures."""

    def __init__(self, wl):
        self.wl = wl
        self.attempted = 0
        self.failed = 0
        self.problems = []
        self.job_returned_at = None

    def checked_job(self, spark, tr, root_name: str = "job"):
        """One job: timed, in wall and CPU seconds, from the entry-point
        call until the write returns; the output check runs after."""
        self.attempted += 1
        cpu = engine_cpu_s()
        t = time.perf_counter()
        try:
            with tr.span(root_name) as root:
                result = self.wl.job(spark, tr)
        except Exception as e:  # a failed job is counted, the run goes on
            self.failed += 1
            self.problems.append(f"job raised {type(e).__name__}: {e}")
            return None
        finally:
            self.job_returned_at = time.perf_counter()
            self.job_cpu_at = engine_cpu_s()
        took = self.job_returned_at - t
        try:
            problems = self.wl.check(result)
        except Exception as e:
            problems = [f"check raised {type(e).__name__}: {e}"]
        extra = {"rows": self.wl.rows, "cpu": self.job_cpu_at - cpu}
        if hasattr(self.wl, "sink_stats"):
            extra["files"], extra["bytes"] = self.wl.sink_stats(result[0])
            self.wl.cleanup(result)
        spark.catalog.clearCache()
        if problems:
            self.failed += 1
            self.problems.extend(problems)
            return None
        return took, extra, root

    def timed_jobs(self, spark, tr, seconds: float, min_jobs: int = MIN_JOBS) -> list:
        out, fails_in_row = [], 0
        deadline = time.perf_counter() + seconds
        while time.perf_counter() < deadline or len(out) < min_jobs:
            r = self.checked_job(spark, tr)
            if r is None:
                fails_in_row += 1
                if fails_in_row >= MIN_JOBS:
                    break
                continue
            fails_in_row = 0
            out.append(r)
        return out


def _stop(spark):
    """Stop the session and the JVM behind it, and wait for both."""
    from pyspark import SparkContext
    gw = SparkContext._gateway
    spark.stop()
    if gw is not None:
        proc = getattr(gw, "proc", None)
        gw.shutdown()
        SparkContext._gateway = None
        SparkContext._jvm = None
        if proc is not None:
            proc.stdin.close()
            try:
                proc.wait(timeout=60)
            except subprocess.TimeoutExpired:
                proc.kill()
                proc.wait()


def _run_all(args, names) -> int:
    """Run every workload in turn, each in a fresh process as a single
    workload run would be; forward their output and end with one JSON
    line whose metrics are prefixed by the workload name."""
    correct, attempted, failed, metrics = True, 0, 0, {}
    for name in names:
        out = subprocess.run(
            [sys.executable, __file__, "--workload", name, "--seed", str(args.seed),
             "--seconds", str(args.seconds), "--trace", str(args.trace)],
            stdout=subprocess.PIPE, text=True)
        lines = out.stdout.splitlines()
        print("\n".join(lines[:-1]), flush=True)
        try:
            res = json.loads(lines[-1])
        except (IndexError, ValueError):
            print(f"perfbench: {name} exited with {out.returncode} and no result",
                  file=sys.stderr)
            return 1
        correct &= res["correct"]
        attempted += res["attempted"]
        failed += res["failed"]
        metrics.update({f"{name}.{k}": v for k, v in res["metrics"].items()})
    print(json.dumps({"correct": correct, "attempted": attempted, "failed": failed,
                      "metrics": metrics}))
    return 0


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True,
                    help="a workload name, or 'all' to run each in turn")
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    root = Path(__file__).resolve().parent.parent
    if not (root / "feathr_spark" / "__init__.py").is_file():
        print(f"perfbench: no feathr_spark package under {root}; "
              "run from a checkout of the repository", file=sys.stderr)
        return 2
    work = root / ".perfbench"
    for d in ("tmp", "spark-local", "data", "out", "eventlog", "trace"):
        (work / d).mkdir(parents=True, exist_ok=True)
    os.environ["TMPDIR"] = str(work / "tmp")
    os.environ["SPARK_LOCAL_DIRS"] = str(work / "spark-local")
    os.environ["PYSPARK_PYTHON"] = sys.executable
    # every JVM started from here (Spark's launcher, the driver) would
    # otherwise write its perf counters to /tmp; compiler threads that live
    # as long as the JVM keep their CPU time readable (see engine_cpu_s)
    os.environ["JAVA_TOOL_OPTIONS"] = \
        "-XX:-UsePerfData -XX:-UseDynamicNumberOfCompilerThreads"
    sys.path.insert(0, str(root))

    import pyspark
    import spans as tracing
    import workloads

    if args.workload == "all":
        return _run_all(args, list(workloads.WORKLOADS))
    if args.workload not in workloads.WORKLOADS:
        print(f"perfbench: unknown workload {args.workload!r}; choose from "
              f"{sorted(workloads.WORKLOADS)} or 'all'", file=sys.stderr)
        return 2
    cores = min(MAX_CORES, len(os.sched_getaffinity(0)))

    t0 = time.perf_counter()
    wl = workloads.WORKLOADS[args.workload](str(work), args.seed)
    gen_s = time.perf_counter() - t0
    run = Runner(wl)
    null = tracing.NullTracer()

    spark, setup, setup_wall = None, [], []
    for _ in range(SETUP_ROUNDS):
        if spark is not None:
            spark.stop()
        cpu, t = engine_cpu_s(), time.perf_counter()
        spark = _session(cores, work)
        _clear_pit_memo()
        wl.register(spark)
        run.checked_job(spark, null, "setup")
        # the output check is not set-up
        setup.append(run.job_cpu_at - cpu)
        setup_wall.append(run.job_returned_at - t)
    phases = {"setup": time.perf_counter() - t0}
    calib = _calibrate(spark, cores)
    java = _java_version(spark)
    if hasattr(wl, "oracle_check"):
        run.attempted += 1
        try:
            problems = wl.oracle_check(spark)
        except Exception as e:
            problems = [f"oracle check raised {type(e).__name__}: {e}"]
        if problems:
            run.failed += 1
            run.problems.extend(problems)
    phases["checks"] = time.perf_counter() - t0
    for _ in range(WARMUP_JOBS):
        run.checked_job(spark, null)
    phases["warmup"] = time.perf_counter() - t0

    summary, extras = "", {}
    if not args.trace:
        reset_peak_rss()
        jobs = run.timed_jobs(spark, null, args.seconds)
        peak = peak_rss_bytes()
        _stop(spark)
        metrics = {"job_cpu_s": (statistics.median(j[1]["cpu"] for j in jobs), "s"),
                   "rows_per_cpu_s": (statistics.median(j[1]["rows"] / j[1]["cpu"]
                                                        for j in jobs), "1/s"),
                   "setup_s": (statistics.median(setup), "s"),
                   "peak_rss_mb": (peak / 2**20, "MB")} if jobs else {}
        if jobs:
            sink = (f"{statistics.median(j[1]['bytes'] / j[1]['rows'] for j in jobs):.2f} B/row"
                    if "bytes" in jobs[0][1] else "n/a (no files written)")
            job_s = statistics.median(j[0] for j in jobs)
            summary = (f"job_cpu_s={metrics['job_cpu_s'][0]:.4f} s (median of {len(jobs)}), "
                       f"rows_per_cpu_s={metrics['rows_per_cpu_s'][0]:.1f} 1/s, "
                       f"setup_s={metrics['setup_s'][0]:.4f} s CPU (median of {len(setup)}), "
                       f"peak_rss_mb={metrics['peak_rss_mb'][0]:.1f} MB; "
                       f"wall: job_s={job_s:.4f} s, "
                       f"rows_per_s={statistics.median(j[1]['rows'] / j[0] for j in jobs):.1f} 1/s, "
                       f"setup wall {statistics.median(setup_wall):.4f} s; "
                       f"fail_ratio={run.failed / run.attempted:.4f} "
                       f"({run.failed}/{run.attempted}), "
                       f"sink_bytes_per_row={sink}")
    else:
        # two jobs per half keep a traced run about as long as an untraced one
        untraced = run.timed_jobs(spark, null, args.seconds / 2, min_jobs=2)
        spark.stop()
        spark = _session(cores, work, event_log=work / "eventlog")
        tr = tracing.Tracer(spark.sparkContext)
        tr.install()
        _clear_pit_memo()
        with tr.span("setup"):
            wl.register(spark)
        run.checked_job(spark, tr, "setup")
        jobs = run.timed_jobs(spark, tr, args.seconds / 2, min_jobs=2)
        for s in tr.spans:
            frame = s["attrs"].pop("frame", None)
            if frame is not None:
                s["attrs"]["phases_ms"] = tracing.catalyst_phases_ms(frame)
        tr.uninstall()
        log_file = work / "eventlog" / spark.sparkContext.applicationId
        _stop(spark)
        log = tracing.parse_event_log(log_file)
        os.remove(log_file)
        per_job = [tracing.job_metrics(tr, j[2]["id"], log, cores, j[1]) for j in jobs]
        gap = max((m["self_gap_s"] for m in per_job), default=0.0)
        if gap > 1e-6:
            run.failed += 1
            run.problems.append(f"span self times miss the job wall time by {gap:.6f} s")
        with open(work / "trace" / f"{args.workload}-seed{args.seed}.json", "w") as f:
            json.dump({"spans": tr.spans, "per_job": per_job}, f, default=str)
        metrics = {}
        if per_job and untraced:
            layers = {k: (statistics.fmean if k in tracing.MEAN_OVER_JOBS else
                          statistics.median)(m[k] for m in per_job) for k in per_job[0]}
            layers["point_in_time.skew_sample_s"], layers["point_in_time.skew_sample_jobs"] = \
                tracing.skew_sample(tr, log)
            layers["trace.overhead_ratio"] = \
                layers["trace.job_s"] / statistics.median(j[0] for j in untraced)
            metrics = {k: (layers.pop(k), tracing.unit(k)) for k in tracing.PER_LAYER}
            extras = {k: round(v, 6) for k, v in layers.items()}
            summary = (f"traced job_s={metrics['trace.job_s'][0]:.4f} s (median of {len(jobs)}), "
                       f"tracing overhead {metrics['trace.overhead_ratio'][0]:.3f}x "
                       f"(vs {len(untraced)} untraced jobs), self times sum to each "
                       f"job's wall time within {gap:.1e} s")

    stamp = {"workload": args.workload, "seed": args.seed, "trace": args.trace,
             "cores": cores, "nproc": os.cpu_count(), "calibration": calib,
             "spark": pyspark.__version__, "python": platform.python_version(),
             "java": java, "input_gen_s": round(gen_s, 3),
             "setup_rounds_cpu_s": [round(s, 4) for s in setup],
             "setup_rounds_wall_s": [round(s, 4) for s in setup_wall],
             "job_cpu_s_samples": [round(j[1]["cpu"], 4) for j in jobs],
             "job_s_samples": [round(j[0], 4) for j in jobs],
             "phases_end_s": {k: round(v, 1) for k, v in phases.items()},
             "run_s": round(time.perf_counter() - t0, 1)}
    print("perfbench stamp " + json.dumps(stamp))
    if extras:
        print("perfbench layers " + json.dumps(extras))
    if summary:
        print(f"perfbench {args.workload}: {summary}")
    for p in run.problems:
        print(f"perfbench problem: {p}", file=sys.stderr)
    print(json.dumps({
        "correct": run.failed == 0 and bool(metrics),
        "attempted": run.attempted,
        "failed": run.failed,
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
