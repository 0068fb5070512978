"""The repository benchmark: one workload per invocation.

    python3 perfbench/run.py --workload docs_scan --seed 1 --seconds 5 --trace 0

Run from the root of a checkout. It starts Spark on ``local[nproc]``
from this one process, builds the workload's inputs from ``--seed``,
runs one warm-up job, then times complete jobs for ``--seconds``
seconds. Every job's output is checked against closed-form identities
that hold at any size (for docs_scan also against a NumPy count of the
point-in-polygon hits and knn_join's exactness bound), and every failed
check counts in ``failed``.
The last line of standard output is one JSON object ``{"correct",
"attempted", "failed", "metrics"}``.

``--trace 0`` reports the end-to-end metrics:
  setup_s           session start + median of 3 input builds
  job_s             wall time of one complete job, median over the timed
                    jobs that ran undisturbed by stolen CPU time (see
                    STEAL_MAX; for hotspot_write the job includes the
                    resume of its checkpointed write)
  input_rows_per_s  input docs / job_s
  peak_rss_mb       peak RSS of the Spark JVM and its Python workers
                    during a job, median over the same jobs
``failed_frac`` (failed / attempted jobs) is printed on the summary
line above the JSON.

``--trace 1`` is the traced run. It times every node of the workload's
graph by materialising the pipeline prefix up to it with a ``noop``
sink; a node's self time is its prefix time minus its parent's. It
enables Spark's event log and reads task totals from it, prints each
layer's self time next to the full pipeline span, reports the per-layer
metrics and writes all spans to ``.perfbench_out/``. It also checks a
small instance of the workload exactly against an independent
NumPy/pandas reference (``reference.py``).

All scratch data lives in ``.perfbench_work/`` under the checkout and is
removed at exit; Spark's local dirs and temp files are pointed there too.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import sys
import tempfile
import time
import traceback
from dataclasses import dataclass, field

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, ROOT)

import geotools_spark  # noqa: E402,F401  (fails fast outside a checkout)
from geotools_spark.session import get_spark  # noqa: E402
from pyspark import SparkContext  # noqa: E402

import tracing  # noqa: E402
from workloads import WORKLOADS, Workload  # noqa: E402

END_TO_END = {"setup_s": "s", "job_s": "s", "input_rows_per_s": "1/s", "peak_rss_mb": "MB"}
PER_LAYER = {
    "session.start_s": "s",
    "sources.build_s": "s",
    "sources.snapshot_bytes": "bytes",
    "sources.scan_s": "s",
    "spans.explode_s": "s",
    "spans.parse_s": "s",
    "spans.rows_out": "count",
    "spans.rows_per_doc": "ratio",
    "cells.encode_s": "s",
    "gridstats.agg_s": "s",
    "gridstats.groups_out": "count",
    "salting.agg_s": "s",
    "salting.task_skew": "ratio",
    "pip.join_s": "s",
    "pip.hits": "count",
    "pip.hit_ratio": "ratio",
    "neighbors.knn_s": "s",
    "neighbors.candidate_pairs": "count",
    "neighbors.kept_ratio": "ratio",
    "zonal.stats_s": "s",
    "lineage.write_s": "s",
    "lineage.bytes_written": "bytes",
    "lineage.files_written": "count",
    "lineage.resume_skip_s": "s",
    "plan.build_s": "s",
    "exchange.shuffle_write_bytes": "bytes",
    "exchange.shuffle_read_bytes": "bytes",
    "exchange.spill_bytes": "bytes",
    "executor.cpu_s": "s",
    "executor.gc_s": "s",
    "tasks.failed": "count",
    "pipeline.full_s": "s",
    "pipeline.unattributed_s": "s",
    "trace.overhead_s": "s",
    "run.failed_frac": "ratio",
}
SETUP_REPS = 3
HEAP = "4g"  # the default heap of geotools_spark.session.get_spark
YOUNG = "1g"
MIN_JOBS = 2
MAX_JOBS = MIN_JOBS + 1  # when fewer than MIN_JOBS ran undisturbed
# A timed job counts only if the hypervisor took at most this share of the
# machine's CPU time while it ran: on a shared 4-vCPU host, bursts of 10-20%
# stolen time lasting tens of seconds stretched jobs by 40-80%.
STEAL_MAX = 0.05


@dataclass
class Tally:
    attempted: int = 0
    failed: int = 0
    job_s: list = field(default_factory=list)
    peak_rss: list = field(default_factory=list)
    steal: list = field(default_factory=list)  # share of CPU time stolen per job

    @property
    def failed_frac(self) -> float:
        return self.failed / max(self.attempted, 1)

    def calm(self) -> list[int]:
        return [i for i, s in enumerate(self.steal) if s <= STEAL_MAX]

    def counted(self) -> list[int]:
        """The timed jobs the host left undisturbed, or the MIN_JOBS least
        disturbed ones if fewer were."""
        calm = self.calm()
        if len(calm) >= MIN_JOBS:
            return calm
        return sorted(range(len(self.steal)), key=self.steal.__getitem__)[:MIN_JOBS]


def cores() -> int:
    return len(os.sched_getaffinity(0))


def stolen_s() -> float:
    """CPU seconds the hypervisor has taken from this machine, all CPUs."""
    with open("/proc/stat") as fh:
        return int(fh.readline().split()[8]) / os.sysconf("SC_CLK_TCK")


def start_session(work: str, n_cores: int, event_log: str | None):
    """SparkSession on local[n_cores] whose local dirs, temp files and
    warehouse stay under ``work``. Returns (spark, seconds)."""
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "local")
    os.environ["TMPDIR"] = tmp
    # Python workers import the engine too
    paths = os.environ.get("PYTHONPATH", "").split(os.pathsep)
    if ROOT not in paths:
        os.environ["PYTHONPATH"] = os.pathsep.join(p for p in [ROOT, *paths] if p)
    tempfile.tempdir = None
    # every JVM, the spark-submit launcher included, keeps its files here
    os.environ["JAVA_TOOL_OPTIONS"] = f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData"
    conf = {
        "spark.local.dir": os.environ["SPARK_LOCAL_DIRS"],
        "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
        # A fixed heap and young generation. G1 otherwise resizes the heap,
        # which moves job times by tens of percent run to run, and grows the
        # young generation collection by collection, so resident memory
        # would count the collections a run has had so far.
        "spark.driver.memory": HEAP,
        "spark.driver.extraJavaOptions": f"-Xms{HEAP} -Xmn{YOUNG}",
        "spark.ui.showConsoleProgress": "false",
    }
    if event_log:
        os.makedirs(event_log, exist_ok=True)
        conf.update({
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": event_log,
            "spark.eventLog.compress": "false",
            "spark.eventLog.rolling.enabled": "false",
        })
    t0 = time.perf_counter()
    spark = get_spark("perfbench", cores=n_cores, extra_conf=conf)
    seconds = time.perf_counter() - t0
    spark.sparkContext.setLogLevel("ERROR")
    return spark, seconds


def stop_session(spark) -> None:
    """Stop Spark and wait for the JVM and every process under it."""
    gateway = spark.sparkContext._gateway
    proc = gateway.proc
    pids = tracing.process_tree(proc.pid)
    spark.stop()
    gateway.shutdown()
    proc.stdin.close()  # the gateway JVM exits on EOF
    proc.wait(timeout=60)
    deadline = time.time() + 30
    while time.time() < deadline and any(os.path.exists(f"/proc/{p}") for p in pids):
        time.sleep(0.1)
    # a later session in this process must launch a fresh JVM
    SparkContext._gateway = None
    SparkContext._jvm = None


def attempt(w: Workload, tally: Tally, *, reference=False, sampler=None, tamper=None,
            record=True) -> None:
    """One checked job; ``record`` adds its time and memory to the tally."""
    tally.attempted += 1
    try:
        if sampler:
            sampler.take_peak()
        s0, t0 = stolen_s(), time.perf_counter()
        result = w.job()
        elapsed = time.perf_counter() - t0
        steal = (stolen_s() - s0) / (os.cpu_count() * elapsed)
        peak = sampler.take_peak() if sampler else 0
        if tamper:
            tamper(result)
        errs = w.check(result) + (w.reference_check(result) if reference else [])
        w.cleanup(result)
    except Exception as exc:  # a job that raises counts as failed; keep measuring
        traceback.print_exc()
        errs = [f"raised {exc!r}"]
    if errs:
        tally.failed += 1
        print(f"[{w.name}] FAILED CHECK: {'; '.join(errs)}", file=sys.stderr)
    elif record:
        tally.job_s.append(elapsed)
        tally.peak_rss.append(peak)
        tally.steal.append(steal)


def setup(cls, spark, work: str, seed: int, n_cores: int, params: dict):
    """Build the inputs SETUP_REPS times; returns (workload, build seconds)."""
    w = cls(spark, work, seed=seed, cores=n_cores, **params)
    builds, prev = [], None
    for i in range(SETUP_REPS):
        path = os.path.join(work, f"input-{i}")
        t0 = time.perf_counter()
        w.build(path)
        builds.append(time.perf_counter() - t0)
        if prev:
            shutil.rmtree(prev)
        prev = path
    return w, builds


def validate(cls, spark, work: str, seed: int, n_cores: int, tally: Tally, tamper=None) -> None:
    """A small instance's job, checked exactly against the reference."""
    small = cls(spark, os.path.join(work, "small"), seed=seed, cores=n_cores, small=True)
    small.build(os.path.join(work, "small", "input"))
    attempt(small, tally, reference=True, tamper=tamper, record=False)


def measure(w: Workload, tally: Tally, seconds: float, sampler, tamper=None) -> None:
    """One checked warm-up job, which pays for the JIT, Spark's code
    generation and the Python workers' start, then checked jobs for
    ``seconds`` and until MIN_JOBS of them ran undisturbed by stolen CPU
    time, but past ``seconds`` no more than MAX_JOBS."""
    attempt(w, tally, sampler=sampler, tamper=tamper, record=False)
    t_end = time.perf_counter() + seconds
    while time.perf_counter() < t_end or (
            len(tally.calm()) < MIN_JOBS and len(tally.job_s) < MAX_JOBS):
        attempt(w, tally, sampler=sampler, tamper=tamper)
        if tally.failed > MIN_JOBS and not tally.job_s:
            break  # every job fails: stop early


def noop(df) -> None:
    df.write.format("noop").mode("overwrite").save()


def traced_iteration(w: Workload, tracer: tracing.Tracer) -> dict:
    """One traced pass: plan build, every node's prefix and the full job.
    Returns its spans by name, the full job's result and the frames."""
    nodes = w.graph()
    with tracer.span("iteration"):
        with tracer.span("plan") as s_plan:
            frames = w.frames()
            for n in nodes:
                if n.sink is not None and n.name in frames:
                    frames[n.name]._jdf.queryExecution().executedPlan()
        spans, sunk = {"plan": s_plan}, {}
        for n in nodes:
            with tracer.span(n.name) as s:
                if n.make is not None:
                    noop(frames[n.name])
                else:
                    sunk[n.name] = n.sink(frames[n.parent])
            spans[n.name] = s
        w.cleanup(sunk)
        with tracer.span("full") as s_full:
            result = w.job()
        spans["full"] = s_full
    return {"spans": spans, "result": result, "frames": frames}


def traced(w: Workload, tally: Tally, seconds: float, tracer, tamper=None) -> dict:
    """Per-layer metrics from traced iterations (at least one) after one
    warm-up job. Each iteration is preceded by one untraced job, so the
    tracing overhead compares jobs equally far into the run."""
    attempt(w, tally, tamper=tamper, record=False)
    nodes = w.graph()
    iters, counts = [], {}
    t_end = time.perf_counter() + seconds
    while not iters or time.perf_counter() < t_end:
        attempt(w, tally, tamper=tamper)
        tally.attempted += 1
        try:
            it = traced_iteration(w, tracer)
            if tamper:
                tamper(it["result"])
            errs = w.check(it["result"])
            if not counts and not errs:
                counts = w.counts(it["frames"], it["result"])
            w.cleanup(it["result"])
        except Exception as exc:
            traceback.print_exc()
            errs = [f"raised {exc!r}"]
        if errs:
            tally.failed += 1
            print(f"[{w.name}] FAILED CHECK (traced): {'; '.join(errs)}", file=sys.stderr)
            if not iters and tally.failed > 3:
                break
            continue
        iters.append(it["spans"])
    if not iters:
        return {}

    def med(values):
        return statistics.median(values)

    layer_self: dict[str, list[float]] = {}
    for spans in iters:
        per_layer: dict[str, float] = {}
        for n in nodes:
            parent = spans[n.parent].seconds if n.parent else 0.0
            per_layer[n.layer] = per_layer.get(n.layer, 0.0) + spans[n.name].seconds - parent
        for layer, v in per_layer.items():
            layer_self.setdefault(layer, []).append(v)
    metrics = {k: 0.0 for k in PER_LAYER}
    metrics.update({k: med(v) for k, v in layer_self.items()})
    full = med([s["full"].seconds for s in iters])
    metrics["pipeline.full_s"] = full
    metrics["pipeline.unattributed_s"] = full - sum(med(v) for v in layer_self.values())
    if tally.job_s:
        metrics["trace.overhead_s"] = full - statistics.median(tally.job_s)
    metrics["plan.build_s"] = med([s["plan"].seconds for s in iters])
    metrics.update(counts)
    return {"metrics": metrics, "iters": iters}


def add_event_log(metrics: dict, iters: list, log_dir: str, run_id: str) -> None:
    totals = tracing.read_event_log(log_dir)

    def of(span) -> tracing.TaskTotals:
        return totals.get(f"{run_id}/{span.id}", tracing.TaskTotals())

    full = [of(s["full"]) for s in iters]
    med = statistics.median
    metrics["exchange.shuffle_write_bytes"] = med(t.shuffle_write_bytes for t in full)
    metrics["exchange.shuffle_read_bytes"] = med(t.shuffle_read_bytes for t in full)
    metrics["exchange.spill_bytes"] = med(t.spill_bytes for t in full)
    metrics["executor.cpu_s"] = med(t.cpu_s for t in full)
    metrics["executor.gc_s"] = med(t.gc_s for t in full)
    metrics["tasks.failed"] = sum(t.failed for t in totals.values())
    if "salting" in iters[0]:
        metrics["salting.task_skew"] = med(of(s["salting"]).task_skew() for s in iters)


def print_layers(name: str, metrics: dict, nodes) -> None:
    full = metrics["pipeline.full_s"]
    print(f"# {name}: layer self times next to the full pipeline span ({full:.3f} s)")
    for layer in dict.fromkeys(n.layer for n in nodes):
        print(f"#   {layer:<24} {metrics[layer]:8.3f} s")
    print(f"#   {'(unattributed)':<24} {metrics['pipeline.unattributed_s']:8.3f} s")
    print(f"#   {'plan.build_s':<24} {metrics['plan.build_s']:8.3f} s"
          f"   trace overhead {metrics['trace.overhead_s']:+.3f} s")


def run(workload: str, seed: int, seconds: float, trace: bool, *, params=None,
        tamper=None) -> dict:
    """One benchmark run; returns the result object that run.py prints."""
    cls = WORKLOADS[workload]
    n_cores = cores()
    run_id = f"{workload}-seed{seed}-{os.getpid()}"
    work = os.path.join(ROOT, ".perfbench_work", run_id)
    log_dir = os.path.join(work, "eventlog") if trace else None
    tally = Tally()
    t_start = time.perf_counter()

    def phase(name: str) -> None:
        print(f"# [{workload}] {name} done at {time.perf_counter() - t_start:.1f} s",
              file=sys.stderr, flush=True)

    try:
        spark, session_s = start_session(work, n_cores, log_dir)
        try:
            phase("session")
            w, builds = setup(cls, spark, work, seed, n_cores, params or {})
            phase("setup")
            if trace:
                tracer = tracing.Tracer(run_id, spark.sparkContext)
                out = traced(w, tally, seconds, tracer, tamper)
            else:
                with tracing.RssSampler(spark.sparkContext._gateway.proc.pid) as sampler:
                    measure(w, tally, seconds, sampler, tamper)
            phase("measurement")
            if trace:
                validate(cls, spark, work, seed, n_cores, tally, tamper)
                phase("validation")
        finally:
            stop_session(spark)
        phase("stop")
        if trace:
            if not out:
                raise RuntimeError("no traced iteration passed its checks")
            metrics = out["metrics"]
            add_event_log(metrics, out["iters"], log_dir, run_id)
            metrics.update({
                "session.start_s": session_s,
                "sources.build_s": statistics.median(builds),
                "sources.snapshot_bytes": getattr(w, "snapshot_bytes", 0),
                "run.failed_frac": tally.failed_frac,
            })
            tracer.dump(os.path.join(ROOT, ".perfbench_out", f"trace-{run_id}.json"))
            print_layers(workload, metrics, w.graph())
            units = PER_LAYER
        else:
            if not tally.job_s:
                raise RuntimeError("no job passed its checks")
            counted = tally.counted()
            job_s = statistics.median(tally.job_s[i] for i in counted)
            metrics = {
                "setup_s": session_s + statistics.median(builds),
                "job_s": job_s,
                "input_rows_per_s": w.input_rows / job_s,
                "peak_rss_mb": statistics.median(tally.peak_rss[i] for i in counted) / 2**20,
            }
            units = END_TO_END
            print(f"# {workload} seed={seed} local[{n_cores}] input_rows={w.input_rows} "
                  f"job_s={job_s:.4f} (jobs {[round(j, 2) for j in tally.job_s]}, stolen "
                  f"{[round(s, 3) for s in tally.steal]}, counted {counted}) "
                  f"setup_s={metrics['setup_s']:.4f} (session {session_s:.3f} + build "
                  f"median of {[round(b, 3) for b in builds]}) "
                  f"failed_frac={tally.failed}/{tally.attempted}={tally.failed_frac:.4f} "
                  f"peak_rss_mb per job {[round(p / 2**20) for p in tally.peak_rss]}")
    finally:
        shutil.rmtree(work, ignore_errors=True)
    return {
        "correct": tally.failed == 0,
        "attempted": tally.attempted,
        "failed": tally.failed,
        "metrics": {k: {"value": metrics[k], "unit": u} for k, u in units.items()},
    }


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)
    result = run(args.workload, args.seed, args.seconds, bool(args.trace))
    print(json.dumps(result), flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
