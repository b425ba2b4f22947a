"""Web-text pipeline benchmark.

    python3 perfbench/run.py --workload crawl_fresh --seed 1 --seconds 6 --trace 0

Runs one workload (see workloads.py) at ``local[nproc]`` from the root
of a source checkout: generates the seeded inputs, sets up once (JVM
and session start, then WARM_RUNS unchecked runs of the workload, the
first of which builds and broadcasts the enrich UDF's models), then
repeats the workload's operation for ``--seconds`` seconds (at least
MIN_RUNS times) and checks every run's output.  The last stdout line is
one JSON object ``{"correct", "attempted", "failed", "metrics"}``: with
``--trace 0`` the end-to-end metrics of BENCHMARK.json, with ``--trace 1``
its per-layer ledger, which adds one traced run (a span around
``CheckpointedWriter.write_resumable`` plus Spark's own SQL and stage
metrics), the kernel ceiling at K=1 and K=nproc pinned processes, on
crawl_fresh one run at ``local[nproc/4]`` on as many pinned cores for
``scaling_eff``, and on crawl_stream one pass of the registry queries
that read the ``documents`` table (queries.py).  Each invocation also
writes a result record under perfbench/results/.  Everything it writes
stays under perfbench/.

The end-to-end cost of a run is ``cpu_ms_per_doc``: the CPU time the
machine spent busy during the run (user, system and interrupt time of
every process: driver JVM, Python workers, kernel), less the JIT
compiler threads' CPU time, per input doc.  The JIT compiles in the
background for many runs after the warm-up, and how much of that lands
in a run depends on how fast the host let the set-up go; without it a
run's CPU time is flat from the first measured run on.  ``setup_s`` is
the machine's busy CPU time over the set-up, JIT included.  The time a
virtual machine's host steals from its CPUs is not in them; wall times
(``run_s``, ``docs_per_s``, ``session.start_s``, ``warmup_s``, in the
ledger) follow that steal.

The process becomes the reaper of its orphaned descendants and, on every
way out, waits for each process below it to end (signalling those that
do not), so nothing it started outlives it.
"""

from __future__ import annotations

import argparse
import contextlib
import datetime
import json
import os
import shutil
import signal
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, ROOT)

from perfbench import kernels, queries, sparkstore as ss  # noqa: E402
from perfbench.procs import (  # noqa: E402
    MIB, TreeSampler, become_subreaper, cpu_seconds, end_descendants, fingerprint,
    jit_seconds, pin_descendants)
from perfbench.workloads import WORKLOADS, Checks  # noqa: E402

# Measured runs per invocation, at least: a fixed count keeps the medians
# made of the same runs whether the box is fast or slow.  WARM_RUNS
# full-size runs go before them, counted in set-up: the first pays code
# generation and Python worker start, and the JIT compiles most during
# them (its CPU time is left out of cpu_ms_per_doc, but it competes with
# the runs for the CPUs: 3.9, 2.3, 1.8, 1.6 CPU s in the four measured
# runs of one crawl_fresh invocation).
MIN_RUNS = 4
WARM_RUNS = 2
N_DOCS = 12_000
N_BUCKETS = 8
KERNEL_SECONDS = 1.5


T_START = time.perf_counter()


def log(msg: str) -> None:
    print(f"[perfbench {time.perf_counter() - T_START:6.1f}s] {msg}", file=sys.stderr, flush=True)


@contextlib.contextmanager
def span(obj, attr: str, spans: dict, name: str):
    """Record the duration of every call to ``obj.attr`` under ``name``."""
    orig = getattr(obj, attr)

    def timed(*a, **kw):
        t0 = time.perf_counter()
        try:
            return orig(*a, **kw)
        finally:
            spans.setdefault(name, []).append(time.perf_counter() - t0)

    setattr(obj, attr, timed)
    try:
        yield
    finally:
        setattr(obj, attr, orig)


class Bench:
    def __init__(self, args, work: str):
        self.work = work
        self.cpus = len(os.sched_getaffinity(0))
        self.wl = WORKLOADS[args.workload](work, args.seed, args.docs, N_BUCKETS)
        self.checks = Checks(log)
        self.spark = None
        self.conf = {"spark.sql.warehouse.dir": os.path.join(work, "warehouse")}

    # ---- set-up -----------------------------------------------------
    def set_up(self) -> dict[str, float]:
        """The one cold set-up an invocation pays: ``get_spark`` (JVM launch
        and session start), then WARM_RUNS unchecked runs of the workload on
        the measured input.  The first pays code generation, Python worker
        start and the enrich UDF's model build and broadcast (timed as
        ``models``); the others let the JIT compile what every run takes."""
        from packs_spark.pipeline import udfs
        from packs_spark.session import get_spark

        spans: dict[str, list[float]] = {}
        busy0, steal0, _ = cpu_seconds()
        t0 = time.perf_counter()
        self.spark = get_spark("perfbench", master=f"local[{self.cpus}]", extra_conf=self.conf)
        t1 = time.perf_counter()
        with span(udfs, "make_enrich_udf", spans, "models"):
            self.wl.warm(self.spark, full=True)
        for _ in range(WARM_RUNS - 1):
            self.wl.warm(self.spark, full=True)
        t2 = time.perf_counter()
        busy1, steal1, _ = cpu_seconds()
        log(f"set-up: {t2 - t0:.2f} s, {busy1 - busy0:.2f} CPU s, {steal1 - steal0:.2f} s stolen")
        return {"total": t2 - t0, "session": t1 - t0, "warmup": t2 - t1,
                "models": sum(spans.get("models", [])), "cpu_s": busy1 - busy0,
                "steal_s": steal1 - steal0}

    def shut_down(self) -> None:
        """Stop the session, then end the JVM and wait for it, also when the
        session is half started or a signal broke its gateway connection."""
        from pyspark import SparkContext

        try:
            if self.spark is not None:
                self.spark.stop()
        finally:
            self.spark = None
            gw = SparkContext._gateway
            if gw is not None:
                SparkContext._gateway = SparkContext._jvm = None
                try:
                    gw.shutdown()
                finally:
                    gw.proc.stdin.close()  # the gateway JVM exits at stdin EOF
                    gw.proc.wait(timeout=60)

    # ---- measured runs ----------------------------------------------
    def run_once(self, i: int, sampler: TreeSampler) -> dict:
        """One timed run of the workload, then its output checks."""
        out = os.path.join(self.work, f"out-{i}")
        sampler.reset_peak()
        pys0 = set(sampler.python_pids)
        jit0 = jit_seconds()
        busy0, steal0, _ = cpu_seconds()
        t0 = time.perf_counter()
        stats = self.wl.run(self.spark, self.wl.src, out)
        dt = time.perf_counter() - t0
        busy1, steal1, _ = cpu_seconds()
        jit1 = jit_seconds()
        sampler.sample()
        run = {"s": dt, "cpu_s": busy1 - busy0, "jit_s": jit1 - jit0, "steal_s": steal1 - steal0,
               "py_spawned": len(sampler.python_pids - pys0), "stats": stats,
               "bytes": self.wl.out_bytes(out), **sampler.peak}
        self.wl.check(out, self.checks)
        self.wl.cleanup(out)
        return run

    def measure(self, seconds: float, sampler: TreeSampler) -> list[dict]:
        runs = []
        _, steal0, total0 = cpu_seconds()
        t_start = time.perf_counter()
        while len(runs) < MIN_RUNS or time.perf_counter() - t_start < seconds:
            runs.append(self.run_once(len(runs), sampler))
            r = runs[-1]
            log(f"run {len(runs)}: {r['s']:.3f} s, {r['cpu_s']:.2f} CPU s ({r['jit_s']:.2f} JIT), "
                f"{r['steal_s']:.2f} s stolen, {r['py_spawned']} Python workers started")
        _, steal1, total1 = cpu_seconds()
        self.steal_frac = (steal1 - steal0) / max(total1 - total0, 1)
        log(f"host steal during the runs: {self.steal_frac:.1%} of CPU time")
        return runs

    # ---- traced run -------------------------------------------------
    def traced_run(self, sampler: TreeSampler) -> tuple[float, dict]:
        """One more run with a span around ``CheckpointedWriter.write_resumable``,
        then the Spark status-store ledger of the executions it started."""
        from packs_spark.io.lakehouse import CheckpointedWriter

        store = ss.StatusStore(self.spark)
        before = store.execution_ids()
        pids_before = set(sampler.python_pids)
        spans: dict[str, list[float]] = {}
        with span(CheckpointedWriter, "write_resumable", spans, "write"):
            run = self.run_once(-1, sampler)
        stats = run["stats"]
        new = sorted(store.execution_ids() - before)
        store.wait_complete(new)
        ledger = spark_ledger(store, [store.execution(e) for e in new])
        if "write" in spans:
            ledger["write.s"] = sum(spans["write"])
            ledger["write.commit_s"] = ledger["write.s"] - ledger["write.job_s"]
        else:  # the workload bypasses CheckpointedWriter
            ledger.update(dict.fromkeys(("write.s", "write.commit_s", "write.job_s",
                                         "write.files", "write.bytes"), 0.0))
        ledger.update({
            "metrics.s": float(stats.get("metrics_s", 0.0)),
            "rss.driver_mb": run["jvm"] / MIB,
            "rss.py_workers_mb": run["python"] / MIB,
            "py.workers_spawned": float(len(sampler.python_pids - pids_before)),
            **stream_ledger(getattr(self.wl, "last_progress", [])),
        })
        return run["s"], ledger

    def scaling_leg(self, n: int, sampler: TreeSampler) -> float:
        """docs/s of one run at local[n] with the driver JVM and its Python
        workers pinned to n cores.  The session restarts in the same JVM, so
        JIT and generated code stay warm; the warm-up only starts the new
        session's Python workers, before the pinning."""
        from packs_spark.session import get_spark

        self.spark.stop()
        self.spark = get_spark("perfbench", master=f"local[{n}]", extra_conf=self.conf)
        self.wl.warm(self.spark)
        pin_descendants(set(sorted(os.sched_getaffinity(0))[:n]))
        return self.wl.n_docs / self.run_once(-2, sampler)["s"]


def _metric(execs: list[dict], node: str, metric: str, field: str = "total") -> list:
    return [m[field] for x in execs for m in x["nodes"].get(node, {}).get(metric, [])
            if m[field] is not None]


def spark_ledger(store: ss.StatusStore, execs: list[dict]) -> dict:
    """Per-layer numbers from Spark's SQL metrics and stage data of the
    traced run's executions.  The executions with an ArrowEvalPython node
    are the enrich (and, for crawl_fresh, bucket shuffle and write) jobs;
    the others are run_batch's metrics pass.  When the scan runs in the
    enrich stage (crawl_stream) ``stage.scan.task_s`` is 0 and
    ``scan.tasks`` counts the enrich stage's tasks."""
    py = [x for x in execs if ss.ARROW_EVAL in x["nodes"]]
    rest = [x for x in execs if ss.ARROW_EVAL not in x["nodes"]]
    enrich_ids = set(_metric(py, ss.ARROW_EVAL, ss.PY_RUN, "stage"))
    enrich = [store.stage(s) for s in sorted(enrich_ids)]
    scan = [store.stage(s) for s in sorted(set(_metric(py, ss.SCAN, ss.SCAN_TIME, "stage"))
                                           - enrich_ids)]
    tasks = [t for s in enrich for t in s["tasks"]]
    shuffle = sorted(t["shuffle_bytes"] for t in tasks)
    metric_ids = {s for x in rest for j in x["jobs"] for s in store.job_stages(j)}
    init_med = _metric(py, ss.ARROW_EVAL, ss.PY_INIT, "med")
    writes = [x for x in py if ss.INSERT in x["nodes"]]
    return {
        "scan.time_s": sum(_metric(py, ss.SCAN, ss.SCAN_TIME)),
        "scan.bytes": sum(_metric(py, ss.SCAN, ss.SCAN_BYTES)),
        "scan.tasks": float(sum(len(s["tasks"]) for s in scan) or len(tasks)),
        "shuffle.bytes": sum(_metric(py, ss.EXCHANGE, ss.SHUFFLE_BYTES)),
        "shuffle.records": sum(_metric(py, ss.EXCHANGE, ss.SHUFFLE_RECORDS)),
        "shuffle.write_s": sum(_metric(py, ss.EXCHANGE, ss.SHUFFLE_WRITE_TIME)),
        "shuffle.fetch_wait_s": sum(_metric(py, ss.EXCHANGE, ss.FETCH_WAIT)),
        "shuffle.skew": shuffle[-1] / statistics.median(shuffle)
        if shuffle and statistics.median(shuffle) > 0 else 0.0,
        "py.tasks": float(len(tasks)),
        "py.empty_tasks": float(sum(1 for t in tasks if t["records"] == 0)),
        "py.start_s": sum(_metric(py, ss.ARROW_EVAL, ss.PY_START)),
        "py.init_s": sum(_metric(py, ss.ARROW_EVAL, ss.PY_INIT)),
        "py.init_ms.med": 1e3 * statistics.median(init_med) if init_med else 0.0,
        "py.run_s": sum(_metric(py, ss.ARROW_EVAL, ss.PY_RUN)),
        "py.bytes_sent": sum(_metric(py, ss.ARROW_EVAL, ss.PY_SENT)),
        "py.bytes_recv": sum(_metric(py, ss.ARROW_EVAL, ss.PY_RECV)),
        "stage.enrich.task_s": sum(s["run_s"] for s in enrich),
        "stage.enrich.cpu_s": sum(s["cpu_s"] for s in enrich),
        "stage.scan.task_s": sum(s["run_s"] for s in scan),
        "stage.metrics.task_s": sum(store.stage(s)["run_s"] for s in sorted(metric_ids)),
        "write.job_s": sum(x["duration_s"] for x in writes),
        "write.files": sum(_metric(writes, ss.INSERT, ss.WRITTEN_FILES)),
        "write.bytes": sum(_metric(writes, ss.INSERT, ss.WRITTEN_BYTES)),
    }


def stream_ledger(progress: list) -> dict:
    """``streaming.pipeline`` numbers from ``StreamingQuery.recentProgress``."""
    batches = [p for p in progress if p.numInputRows > 0]
    trigger_ms = sum(p.durationMs.get("triggerExecution", 0) for p in batches)
    rows = sum(p.numInputRows for p in batches)
    return {
        "stream.batches": float(len(batches)),
        "stream.trigger_ms": float(trigger_ms),
        "stream.add_batch_ms": float(sum(p.durationMs.get("addBatch", 0) for p in batches)),
        "stream.rows_per_s": 1e3 * rows / trigger_ms if trigger_ms else 0.0,
    }


def bench(args, work: str) -> tuple[dict[str, list[float]], Bench]:
    """Every metric's samples (the end-to-end ones, or with ``--trace 1``
    the per-layer ledger) and the finished bench."""
    b = Bench(args, work)
    wl = b.wl
    log(f"{wl.name}: seed {args.seed}, {wl.n_docs} docs, local[{b.cpus}]")
    wl.make_inputs()
    log("inputs written")
    with TreeSampler() as sampler:
        try:
            setup = b.setup = b.set_up()
            runs = b.runs = b.measure(args.seconds, sampler)
            if args.trace:
                traced_s, ledger = b.traced_run(sampler)
            if wl.name == "crawl_stream":
                wl.check_against_batch(b.spark, b.checks)
            query_s = {}
            if args.trace and wl.name == "crawl_stream":
                query_s = queries.run(b.spark, wl.pages, os.path.join(work, "documents"),
                                      b.checks)
            if args.trace and wl.name == "crawl_fresh":
                leg = max(1, b.cpus // 4)
                leg_dps = b.scaling_leg(leg, sampler)
        finally:
            b.shut_down()
            log("session stopped")
    times = [r["s"] for r in runs]
    dps = [wl.n_docs / t for t in times]
    if not args.trace:
        return {
            "cpu_ms_per_doc": [1e3 * (r["cpu_s"] - r["jit_s"]) / wl.n_docs for r in runs],
            "setup_s": [setup["cpu_s"]],
            "py_peak_rss_mb": [r["python"] / MIB for r in runs],
            "out_bytes_per_doc": [r["bytes"] / wl.n_docs for r in runs],
        }, b

    # the rest of the ledger: set-up parts, kernel ceiling, scaling
    k1 = kernels.measure(wl.kernel_texts, 1, KERNEL_SECONDS)
    kn = kernels.measure(wl.kernel_texts, b.cpus, KERNEL_SECONDS)
    scaling = statistics.median(dps) / (b.cpus / leg * leg_dps) if wl.name == "crawl_fresh" \
        else 0.0
    qt = sorted(query_s.values())
    ledger.update({
        "session.start_s": setup["session"],
        "models.build_s": setup["models"],
        "warmup_s": setup["warmup"],
        "kernel.ngram_ms_per_10k": k1["ms_per_10k"]["ngram"],
        "kernel.scrub_ms_per_10k": k1["ms_per_10k"]["scrub"],
        "kernel.heur_ms_per_10k": k1["ms_per_10k"]["heur"],
        "kernel.docs_per_s.k1": k1["docs_per_s"],
        "kernel.docs_per_s.kN": kn["docs_per_s"],
        "ceiling_frac": statistics.median(dps) / kn["docs_per_s"],
        "docs_per_s": statistics.median(dps),
        "run_s": statistics.median(times),
        "peak_rss_mb": statistics.median(r["total"] / MIB for r in runs),
        "jit.cpu_s": statistics.median(r["jit_s"] for r in runs),
        "scaling_eff": scaling,
        "trace.overhead_frac": traced_s / statistics.median(times) - 1,
        **{f"query.{q}.s": query_s.get(q, 0.0) for q in queries.DOC_QUERIES},
        "query_s.p50": statistics.median(qt) if qt else 0.0,
        "query_s.p90": statistics.quantiles(qt, n=10, method="inclusive")[-1] if qt else 0.0,
    })
    return {k: [v] for k, v in ledger.items()}, b


def summary(values: list[float]) -> dict:
    med = statistics.median(values)
    q1, _, q3 = statistics.quantiles(values, n=4) if len(values) > 1 else (med, med, med)
    return {"median": med, "q1": q1, "q3": q3, "n": len(values), "samples": values}


def git_sha() -> str:
    try:
        return subprocess.run(["git", "-C", ROOT, "rev-parse", "HEAD"], capture_output=True,
                              text=True, timeout=10, check=True).stdout.strip()
    except (OSError, subprocess.SubprocessError):
        return "unknown"  # a plain source checkout is not a git repository


def write_record(args, metrics: dict, b: Bench) -> None:
    import pyarrow
    import pyspark

    stamp = datetime.datetime.now(datetime.timezone.utc).strftime("%Y%m%dT%H%M%SZ")
    path = os.path.join(HERE, "results", f"{args.workload}-seed{args.seed}-trace{args.trace}"
                                         f"-{stamp}-{os.getpid()}.json")
    os.makedirs(os.path.dirname(path), exist_ok=True)
    record = {
        "workload": args.workload, "seed": args.seed, "seconds": args.seconds,
        "trace": args.trace, "docs": args.docs, "buckets": N_BUCKETS,
        "git_sha": git_sha(), "hardware": fingerprint(), "host_steal_frac": b.steal_frac,
        "versions": {"python": sys.version.split()[0], "pyspark": pyspark.__version__,
                     "pyarrow": pyarrow.__version__},
        "attempted": b.checks.attempted, "failed": b.checks.failed, "metrics": metrics,
        "setup": {k: b.setup[k] for k in ("total", "cpu_s", "steal_s")},
        "runs": [{k: r[k] for k in ("s", "cpu_s", "jit_s", "steal_s", "py_spawned", "jvm",
                                    "python")} for r in b.runs],
    }
    with open(path, "w") as f:
        json.dump(record, f, indent=1)


def _exit_on_signal(signum, frame):
    raise SystemExit(128 + signum)  # runs the finally blocks that stop every process


def main() -> int:
    for sig in (signal.SIGTERM, signal.SIGHUP, signal.SIGINT):
        signal.signal(sig, _exit_on_signal)
    become_subreaper()
    try:
        return _main()
    finally:
        for sig in (signal.SIGTERM, signal.SIGHUP, signal.SIGINT):
            signal.signal(sig, signal.SIG_IGN)  # let the clean-up finish
        left = end_descendants()
        if left:
            log(f"ended {len(left)} process(es) that outlived the run: {left}")


def _main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--docs", type=int, default=N_DOCS, help="input docs (smaller for smoke tests)")
    args = ap.parse_args()
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)["per_layer" if args.trace else "end_to_end"]

    work = os.path.join(HERE, "_work", str(os.getpid()))
    os.makedirs(os.path.join(work, "tmp"), exist_ok=True)
    os.environ.update({
        "TMPDIR": os.path.join(work, "tmp"),
        # every JVM (spark-submit's launcher and the driver): temp files in
        # the work dir, and no hsperfdata file, which HotSpot puts in /tmp
        "JAVA_TOOL_OPTIONS": f"-Djava.io.tmpdir={os.path.join(work, 'tmp')} -XX:-UsePerfData"
                             " -XX:-UseDynamicNumberOfCompilerThreads",
        "SPARK_LOCAL_DIRS": os.path.join(work, "spark-local"),
        # Python workers import packs_spark from this checkout
        "PYTHONPATH": os.pathsep.join(p for p in (ROOT, os.environ.get("PYTHONPATH")) if p),
    })
    try:
        samples, b = bench(args, work)
    finally:
        shutil.rmtree(work, ignore_errors=True)
    names = [m["name"] for m in spec]
    if sorted(samples) != sorted(names):
        raise RuntimeError(f"metrics {sorted(samples)} do not match BENCHMARK.json {sorted(names)}")
    stats = {m["name"]: {**summary(samples[m["name"]]), "unit": m["unit"]} for m in spec}
    write_record(args, stats, b)
    checks = b.checks
    metrics = {k: {"value": s["median"], "unit": s["unit"]} for k, s in stats.items()}
    print(json.dumps({"correct": checks.failed == 0, "attempted": checks.attempted,
                      "failed": checks.failed, "metrics": metrics}), flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
