"""Ranking benchmark: one workload, closed loop, one job at a time.

    python3 perfbench/run.py --workload pages_full --seed 1 --seconds 10 --trace 0

Run from a checkout of the repository.  After the Spark session starts,
set-up (input generation from the seed, one warm-up) runs several times
and ``setup_s`` is the session start plus the median repetition.  A
workload with a resume check makes its untimed interrupted run next.
Then jobs run back to back from this single driver process on
``local[N]``, N = the CPUs this process may use, until ``--seconds``
have passed.  Every job's output is checked; a job that fails its
checks counts in ``failed`` and is not timed.

``--trace 0`` prints the end-to-end metrics.  ``--trace 1`` alternates
untraced and traced jobs and prints the per-layer metrics; its spans are
written to ``.perfbench_out/`` when the run ends.  The last line of
standard output is the result object; the line before it holds
provenance and details.  See perfbench/README.md.
"""
from __future__ import annotations

import argparse
import json
import os
import platform
import shutil
import signal
import statistics
import subprocess
import sys
import threading
import time
import traceback
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent
SETUP_REPS = 3
TAIL_PERCENTILE = 90
# a fixed, pre-touched heap keeps the JVM's share of peak_rss_mb from
# following G1's heap resizing from run to run
DRIVER_MEMORY = "1g"

END_TO_END = {  # name -> unit
    "setup_s": "s", "job_s": "s", "rows_per_s": "1/s", "slice_s_p50": "s",
    "slice_s_tail": "s", "peak_rss_mb": "MB",
}
PER_LAYER = {
    "operators.pair_scoring.s": "s",
    "operators.pair_scoring.tasks": "count",
    "operators.pair_scoring.batches": "count",
    "operators.pair_scoring.triplets": "count",
    "operators.pair_scoring.subsample_s": "s",
    "operators.sketch_build.s": "s",
    "operators.sketch_build.tasks": "count",
    "operators.sketch_build.keys": "count",
    "operators.sketch_build.blob_bytes": "bytes",
    "operators.sketch_build.card_err_sigma_max": "sigma",
    "sources.readers.s": "s",
    "plans.reports.s": "s",
    "plans.reports.memory_estimate_s": "s",
    "plans.reports.bytes": "bytes",
    "operators.derived.s": "s",
    "operators.interactions.s": "s",
    "plans.combinations.pairs": "count",
    "plans.ranking_job.median_s": "s",
    "plans.ranking_job.singles_s": "s",
    "streaming.ranking_stream.process_batch_s": "s",
    "streaming.ranking_stream.result_s": "s",
    "streaming.ranking_stream.state_bytes": "bytes",
    "streaming.ranking_stream.state_bytes_written": "bytes",
    "spark.jobs": "count",
    "spark.stages": "count",
    "spark.tasks": "count",
    "spark.failed_tasks": "count",
    "trace.overhead_s": "s",
}
# per-layer metric -> (span name, field summed over the job's spans)
SPAN_FIELDS = {
    "operators.pair_scoring.s": ("operators.pair_scoring", "s"),
    "operators.pair_scoring.tasks": ("operators.pair_scoring", "tasks"),
    "operators.pair_scoring.batches": ("operators.pair_scoring", "batches"),
    "operators.pair_scoring.triplets": ("operators.pair_scoring", "triplets"),
    "operators.pair_scoring.subsample_s":
        ("operators.pair_scoring.subsample", "s"),
    "operators.sketch_build.s": ("operators.sketch_build", "s"),
    "operators.sketch_build.tasks": ("operators.sketch_build", "tasks"),
    "operators.sketch_build.keys": ("operators.sketch_build", "keys"),
    "operators.sketch_build.blob_bytes":
        ("operators.sketch_build", "blob_bytes"),
    "sources.readers.s": ("sources.readers", "s"),
    "plans.reports.s": ("plans.reports", "s"),
    "plans.reports.memory_estimate_s": ("plans.reports.memory_estimate", "s"),
    "plans.reports.bytes": ("plans.reports", "bytes"),
    "operators.derived.s": ("operators.derived", "s"),
    "operators.interactions.s": ("operators.interactions", "s"),
    "plans.combinations.pairs": ("plans.combinations", "pairs"),
    "plans.ranking_job.median_s": ("plans.ranking_job.median", "s"),
    "plans.ranking_job.singles_s": ("plans.ranking_job.singles", "s"),
    "streaming.ranking_stream.process_batch_s":
        ("streaming.ranking_stream.process_batch", "s"),
    "streaming.ranking_stream.result_s":
        ("streaming.ranking_stream.result", "s"),
}


def log(msg: str) -> None:
    print(f"[perfbench {time.strftime('%H:%M:%S')}] {msg}", file=sys.stderr,
          flush=True)


# -- processes and memory -------------------------------------------------
def _children_map() -> dict[int, list[int]]:
    kids: dict[int, list[int]] = {}
    for entry in os.listdir("/proc"):
        if not entry.isdigit():
            continue
        try:
            with open(f"/proc/{entry}/stat") as f:
                ppid = int(f.read().rsplit(")", 1)[1].split()[1])
        except (OSError, IndexError, ValueError):
            continue
        kids.setdefault(ppid, []).append(int(entry))
    return kids


def descendants(pid: int) -> list[int]:
    kids, out, todo = _children_map(), [], [pid]
    while todo:
        for k in kids.get(todo.pop(), []):
            out.append(k)
            todo.append(k)
    return out


def tree_rss_bytes() -> int:
    """RSS of this process plus every descendant (Spark JVM, Python
    workers), read from /proc."""
    page = os.sysconf("SC_PAGE_SIZE")
    total = 0
    for pid in [os.getpid(), *descendants(os.getpid())]:
        try:
            with open(f"/proc/{pid}/statm") as f:
                total += int(f.read().split()[1]) * page
        except (OSError, IndexError, ValueError):
            pass
    return total


class PeakRss:
    """Samples the process tree's RSS on a thread while active."""

    def __init__(self, period_s: float = 0.2):
        self.peak = 0
        self._period = period_s
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)

    def _run(self):
        while not self._stop.is_set():
            self.peak = max(self.peak, tree_rss_bytes())
            self._stop.wait(self._period)

    def __enter__(self):
        self._thread.start()
        return self

    def __exit__(self, *exc):
        self._stop.set()
        self._thread.join(timeout=10)


# -- Spark session ----------------------------------------------------------
def start_session(work: Path, cores: int):
    from pyspark.sql import SparkSession

    spark = (
        SparkSession.builder.master(f"local[{cores}]")
        .appName("perfbench")
        .config("spark.ui.enabled", "false")
        .config("spark.ui.showConsoleProgress", "false")
        .config("spark.driver.memory", DRIVER_MEMORY)
        .config("spark.local.dir", str(work / "spark-local"))
        .config("spark.sql.warehouse.dir", str(work / "warehouse"))
        .config("spark.driver.extraJavaOptions",
                f"-Xms{DRIVER_MEMORY} -XX:+AlwaysPreTouch -XX:-UsePerfData "
                f"-Djava.io.tmpdir={work / 'tmp'}")
        # what rank_job's own session sets
        .config("spark.sql.adaptive.enabled", "true")
        .getOrCreate()
    )
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def stop_everything(spark) -> None:
    """Stop Spark, end the JVM it launched and wait for every process
    this run started to exit."""
    from pyspark import SparkContext

    procs = descendants(os.getpid())
    gateway = SparkContext._gateway
    if spark is not None:
        spark.stop()
    if gateway is not None:
        gateway.shutdown()
        proc = getattr(gateway, "proc", None)
        if proc is not None:
            proc.stdin.close()  # the gateway JVM exits on stdin EOF
            try:
                proc.wait(timeout=30)
            except subprocess.TimeoutExpired:
                proc.kill()
                proc.wait(timeout=10)
    deadline = time.monotonic() + 20
    while True:
        alive = [p for p in procs if os.path.exists(f"/proc/{p}")
                 and _state(p) != "Z"]
        if not alive:
            return
        if time.monotonic() > deadline:
            for p in alive:
                try:
                    os.kill(p, signal.SIGKILL)
                except ProcessLookupError:
                    pass
            deadline = time.monotonic() + 10
        time.sleep(0.1)


def _state(pid: int) -> str:
    try:
        with open(f"/proc/{pid}/stat") as f:
            return f.read().rsplit(")", 1)[1].split()[0]
    except (OSError, IndexError):
        return "Z"


# -- statistics -------------------------------------------------------------
def tail(values: list[float]) -> float:
    """The ``TAIL_PERCENTILE``-th percentile, linearly interpolated.

    A run holds at most a few dozen slices, too few for any percentile
    above the median to have ten samples beyond it; the maximum of so
    few is set by single outliers, and the interpolated 90th percentile
    much less so."""
    if len(values) == 1:
        return values[0]
    return statistics.quantiles(values, n=100, method="inclusive")[
        TAIL_PERCENTILE - 1]


def provenance(spark, wl, args, cores: int) -> dict:
    import numpy
    import pandas
    import pyarrow
    import pyspark

    head = ROOT / ".git" / "HEAD"
    commit = None
    if head.is_file():
        ref = head.read_text().strip()
        if ref.startswith("ref: "):
            ref_file = ROOT / ".git" / ref[5:]
            commit = ref_file.read_text().strip() if ref_file.is_file() \
                else ref[5:]
        else:
            commit = ref
    return {
        "workload": wl.name, "seed": args.seed, "seconds": args.seconds,
        "trace": args.trace, "nproc": os.cpu_count(), "cores_used": cores,
        "master": spark.sparkContext.master,
        "spark_conf": dict(sorted(spark.sparkContext.getConf().getAll())),
        "versions": {"python": platform.python_version(),
                     "pyspark": pyspark.__version__,
                     "pandas": pandas.__version__, "numpy": numpy.__version__,
                     "pyarrow": pyarrow.__version__},
        "input": {**wl.provenance(), "tiny": args.tiny},
        "git_commit": commit,
    }


# -- the run ------------------------------------------------------------------
class Counts:
    def __init__(self):
        self.attempted = 0
        self.failed = 0
        self.failures: list[str] = []

    def record(self, what: str, fails: list[str]) -> bool:
        self.attempted += 1
        if fails:
            self.failed += 1
            self.failures.append(f"{what}: {'; '.join(fails)}")
            log(f"check failed: {self.failures[-1]}")
        return not fails


def run_job(wl, spark, out: str, counts: Counts, tracer=None):
    """One checked job: (seconds, output, card error), or None when it
    raised or failed a check.  A traced job must also reproduce the
    first untraced job's output."""
    t0 = time.perf_counter()
    try:
        if tracer is None:
            res = wl.job(spark, out)
            dt = time.perf_counter() - t0
        else:
            with tracer.job() as root:
                res = wl.job(spark, out, tracer)
            dt = root.duration
            res.trace_job = root.job
    except Exception:  # noqa: BLE001 -- a failed job is counted, not fatal
        counts.record(out, [traceback.format_exc(limit=3)])
        return None
    fails, err = wl.check(res)
    if tracer is not None and wl.reference_output is not None:
        fails += wl.same_output(res, wl.reference_output)
    if not counts.record(out, fails):
        return None
    return dt, res, err


def setup(wl, work: Path, seed: int, cores: int):
    """Start the session once, then generate the input and warm up
    ``SETUP_REPS`` times in it.  Returns the session, the session start
    seconds and the seconds of each repetition."""
    t0 = time.perf_counter()
    spark = start_session(work, cores)
    session_s = time.perf_counter() - t0
    reps = []
    for rep in range(SETUP_REPS):
        t0 = time.perf_counter()
        wl.generate(spark, str(work / f"input-{rep}"), seed)
        wl.warm_up(spark, str(work / f"warm-up-{rep}"))
        reps.append(time.perf_counter() - t0)
        log(f"set-up {rep}: {reps[-1]:.2f}s")
    return spark, session_s, reps


def measure(wl, spark, work: Path, seconds: float, counts: Counts,
            trace: bool):
    """Closed loop until ``seconds`` pass; with ``trace`` untraced and
    traced jobs alternate.  Returns untraced and traced (seconds,
    output) lists, the tracer, peak RSS and per-job card errors."""
    from tracing import Tracer

    jobs, traced, errs = [], [], []
    tracer = Tracer(spark.sparkContext) if trace else None
    deadline = time.perf_counter() + seconds
    k = 0
    with PeakRss() as rss:
        # past the deadline, a few more tries for a passing job of each kind
        while (time.perf_counter() < deadline
               or ((not jobs or (trace and not traced)) and k < 4)):
            is_traced = trace and k % 2 == 1
            out = str(work / "jobs" / f"{k}{'-traced' if is_traced else ''}")
            k += 1
            got = run_job(wl, spark, out, counts,
                          tracer if is_traced else None)
            if got is None:
                continue
            dt, res, err = got
            errs.append(err)
            (traced if is_traced else jobs).append((dt, res))
            if wl.reference_output is None and not is_traced:
                wl.reference_output = res
    return jobs, traced, tracer, rss.peak, errs


def per_layer_metrics(tracer, jobs, traced, errs) -> dict:
    """Median over traced jobs of each per-layer metric."""
    rows = []
    for _, res in traced:
        agg = tracer.per_job(res.trace_job)
        row = {m: agg[span][field] if span in agg else 0.0
               for m, (span, field) in SPAN_FIELDS.items()}
        for f in ("jobs", "stages", "tasks", "failed_tasks"):
            row[f"spark.{f}"] = sum(a[f] for a in agg.values())
        row["streaming.ranking_stream.state_bytes"] = res.state_bytes
        row["streaming.ranking_stream.state_bytes_written"] = \
            res.state_bytes_written
        rows.append(row)
    out = {m: statistics.median(r[m] for r in rows) for m in rows[0]}
    out["operators.sketch_build.card_err_sigma_max"] = max(errs)
    out["trace.overhead_s"] = (statistics.median(d for d, _ in traced)
                               - statistics.median(d for d, _ in jobs))
    return {m: {"value": out[m], "unit": PER_LAYER[m]} for m in PER_LAYER}


def main(argv=None) -> int:
    p = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    p.add_argument("--workload", required=True)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    p.add_argument("--tiny", action="store_true",
                   help="smallest inputs, for the smoke test")
    args = p.parse_args(argv)

    if not (ROOT / "outrank_spark" / "__init__.py").is_file():
        print(f"perfbench: no outrank_spark package under {ROOT}; run from "
              "a checkout of the repository", file=sys.stderr)
        return 2
    sys.path.insert(0, str(ROOT))
    sys.path.insert(0, str(Path(__file__).resolve().parent))
    from workloads import WORKLOADS

    if args.workload not in WORKLOADS:
        print(f"perfbench: unknown workload {args.workload!r}; one of "
              f"{sorted(WORKLOADS)}", file=sys.stderr)
        return 2

    work = ROOT / ".perfbench_work" / (
        f"{args.workload}-{args.seed}-{os.getpid()}")
    out_dir = ROOT / ".perfbench_out"
    (work / "tmp").mkdir(parents=True)
    out_dir.mkdir(exist_ok=True)
    # executors import the package; temp files stay inside the checkout
    os.environ["PYTHONPATH"] = os.pathsep.join(
        [str(ROOT), os.environ.get("PYTHONPATH", "")]).rstrip(os.pathsep)
    os.environ["PYSPARK_PYTHON"] = sys.executable
    os.environ["TMPDIR"] = str(work / "tmp")
    os.environ["SPARK_LOCAL_DIRS"] = str(work / "spark-local")
    cores = len(os.sched_getaffinity(0))

    wl = WORKLOADS[args.workload](args.tiny)
    counts = Counts()
    spark = None
    try:
        spark, session_s, setup_reps = setup(wl, work, args.seed, cores)
        wl.compute_exact_cards(spark)
        try:
            resumed = wl.interrupted_run(spark, str(work))
        except Exception:  # noqa: BLE001 -- counted like a failed job
            counts.record("resume check", [traceback.format_exc(limit=3)])
            resumed = None
        jobs, traced, tracer, peak, errs = measure(
            wl, spark, work, args.seconds, counts, bool(args.trace))
        if resumed is not None:
            counts.record("resume check", wl.resume_fails(resumed))
        prov = provenance(spark, wl, args, cores)
    finally:
        stop_everything(spark)
        shutil.rmtree(work, ignore_errors=True)

    if not jobs or (args.trace and not traced):
        print("perfbench: no job passed its checks: "
              + " | ".join(counts.failures), file=sys.stderr)
        return 1
    job_times = [d for d, _ in jobs]
    slices = [s for _, r in jobs for s in (r.slice_s or [])] or job_times
    details = {
        "jobs_timed": len(job_times), "job_s_all": job_times,
        "slice_s_all": slices if wl.n_slices > 1 else [],
        "slice_n": len(slices), "slice_tail_percentile": TAIL_PERCENTILE,
        "slices_per_job": wl.n_slices,
        "session_start_s": session_s, "setup_s_reps": setup_reps,
        "card_err_sigma_max": max(errs),
        "failures": counts.failures,
    }
    if args.trace:
        metrics = per_layer_metrics(tracer, jobs, traced, errs)
        layer, self_s = tracer.dominant_layer(
            [res.trace_job for _, res in traced])
        spans_file = out_dir / f"spans-{wl.name}-{args.seed}-{os.getpid()}.json"
        tracer.write(str(spans_file))
        details.update(
            traced_jobs=len(traced), spans_file=str(spans_file.relative_to(ROOT)),
            dominant_layer=layer, dominant_layer_self_s=self_s,
            predicted_dominant_layer=wl.predicted_layer,
            dominant_layer_as_predicted=layer == wl.predicted_layer,
            overhead_note=("traced jobs run run_ranking's sketch job after "
                           "scoring instead of beside it, force lazy layer "
                           "outputs inside their spans and checkpoint the "
                           "scored triplets; trace.overhead_s includes all "
                           "of it"))
    else:
        job_s = statistics.median(job_times)
        values = {
            "setup_s": session_s + statistics.median(setup_reps),
            "job_s": job_s,
            "rows_per_s": wl.rows / job_s,
            "slice_s_p50": statistics.median(slices),
            "slice_s_tail": tail(slices),
            "peak_rss_mb": peak / 2 ** 20,
        }
        metrics = {m: {"value": values[m], "unit": u}
                   for m, u in END_TO_END.items()}
    print(json.dumps({"provenance": prov, "details": details}))
    print(json.dumps({"correct": counts.failed == 0,
                      "attempted": counts.attempted,
                      "failed": counts.failed, "metrics": metrics}))
    return 0


if __name__ == "__main__":
    sys.exit(main())
