"""Benchmark entry point.

    python3 perfbench/run.py --workload NAME --seed N --seconds S --trace 0|1

Run from the repository root.  Generates the workload's inputs from the
seed, sets up three times (``setup_s`` is the session start plus the
median set-up), runs operations for ``--seconds``, checks the outputs
and prints one JSON line: the end-to-end metrics of ``BENCHMARK.json``
with ``--trace 0``, its per-layer metrics with ``--trace 1``.  Exits 1
when an output check fails and 2 when the package cannot be found.
See ``perfbench/README.md`` for the metrics and the layer map.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import subprocess
import sys
import time
import traceback
from collections import defaultdict

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(ROOT, ".perfbench_work")
SHM = "/dev/shm/vr_spark_shm"
SETUP_REPS = 3
DRIVER_MEMORY = "1536m"


def _args(argv):
    p = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    p.add_argument("--workload", required=True)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return p.parse_args(argv)


def _spark_env(run_dir: str) -> None:
    """Keep every file Spark, the JVM and the Python workers write
    inside the run directory, and let the workers import the package."""
    for sub in ("local", "tmp", "events", "data"):
        os.makedirs(os.path.join(run_dir, sub), exist_ok=True)
    path = os.environ.get("PYTHONPATH")
    os.environ["PYTHONPATH"] = ROOT + (os.pathsep + path if path else "")
    os.environ["SPARK_GRAFT_CPUS"] = str(len(os.sched_getaffinity(0)))
    os.environ["SPARK_DRIVER_MEMORY"] = DRIVER_MEMORY
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(run_dir, "local")
    os.environ["TMPDIR"] = os.path.join(run_dir, "tmp")


def _spark_conf(run_dir: str, trace: bool) -> dict:
    conf = {
        "spark.ui.showConsoleProgress": "false",
        "spark.sql.warehouse.dir": os.path.join(run_dir, "warehouse"),
        "spark.driver.extraJavaOptions": (
            f"-Djava.io.tmpdir={os.path.join(run_dir, 'tmp')} -XX:-UsePerfData"
            # a heap committed and touched at start-up, so peak_rss_mb does
            # not depend on when the collector chose to grow it
            f" -Xms{DRIVER_MEMORY} -XX:+AlwaysPreTouch"
        ),
        # keep every job and stage of the run for job-group accounting
        "spark.ui.retainedJobs": "100000",
        "spark.ui.retainedStages": "100000",
    }
    if trace:
        conf["spark.eventLog.enabled"] = "true"
        conf["spark.eventLog.dir"] = "file://" + os.path.join(run_dir, "events")
        # one plain JSON-lines file per application
        conf["spark.eventLog.rolling.enabled"] = "false"
        conf["spark.eventLog.compress"] = "false"
    return conf


def _stop_spark(spark) -> None:
    """Stop the session, then the JVM it runs in, and wait for it."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    if gateway is None:
        return
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    if proc is not None:
        proc.stdin.close()  # the gateway JVM exits on end of its stdin
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
    SparkContext._gateway = SparkContext._jvm = None


def _log(msg: str) -> None:
    print(f"perfbench: {time.monotonic() - _T0:7.2f}s {msg}", file=sys.stderr, flush=True)


_T0 = time.monotonic()


def _median(xs):
    return statistics.median(xs) if xs else 0.0


def per_layer(tracer, ev, wl, ops, loop_counts, pair_counts, recall) -> dict[str, float]:
    """Per-layer metrics from the detailed spans: times are mean self
    seconds per call, jobs/tasks mean self counts per call."""
    from workloads import K

    det = defaultdict(list)
    for s in tracer.spans:
        if s["detail"]:
            det[s["name"]].append(s)

    def mean(name, f):
        xs = det[name]
        return sum(f(s) for s in xs) / len(xs) if xs else 0.0

    def ev_of(key):
        return lambda s: ev.get(s["group"], {}).get(key, 0.0)

    self_s, jobs, tasks = (lambda s: s["self_s"]), (lambda s: s["jobs"]), (lambda s: s["tasks"])
    m = {}
    for span in ("sources.gen", "sources.load", "driver.create_df", "exact.gt",
                 "persistence.save", "metrics.eval", "ivf.append", "dedup.pairs",
                 "dedup.components", "kernels.query_broadcast", "serving.broadcast_pack"):
        m[f"{span}_s"] = mean(span, self_s)
    for span in ("exact.gt", "metrics.eval", "ivf.append"):
        m[f"{span}_jobs"] = mean(span, jobs)
    m["ivf.append_shuffle_mb"] = mean("ivf.append", ev_of("shuffle_mb"))
    m["persistence.save_mb"] = mean("persistence.save", lambda s: s["mb"])
    for fam in ("ivf", "graph_ann"):
        for phase in ("build", "plan", "exec"):
            span = f"{fam}.{phase}"
            m[f"{span}_s"] = mean(span, self_s)
            m[f"{span}_jobs"] = mean(span, jobs)
            if phase != "plan":
                m[f"{span}_tasks"] = mean(span, tasks)
                m[f"{span}_cpu_s"] = mean(span, ev_of("cpu_s"))
        m[f"{fam}.build_shuffle_mb"] = mean(f"{fam}.build", ev_of("shuffle_mb"))
        n_q = sum(s["n_q"] for s in det[f"{fam}.exec"])
        ndis = sum(s["ndis"] for s in det[f"{fam}.exec"])
        m[f"{fam}.ndis_per_query"] = ndis / n_q if n_q else 0.0
        m[f"{fam}.ndis_per_result"] = ndis / (n_q * K) if n_q else 0.0
    reads = sum(1 for o in ops if o["kind"] == wl.read_kind)
    m["kernels.query_broadcast_calls"] = (
        loop_counts["kernels.query_broadcast"] / reads if reads else 0.0
    )
    m["serving.broadcast_pack_calls"] = tracer.counts["serving.broadcast_pack"]
    for key in ("jobs", "shuffle_mb"):
        f = jobs if key == "jobs" else ev_of("shuffle_mb")
        m[f"dedup.{key}"] = mean("dedup.pairs", f) + mean("dedup.components", f)
    cand, verified = pair_counts
    m["dedup.candidate_pairs"], m["dedup.verified_pairs"] = cand, verified
    m["dedup.verify_yield"] = verified / cand if cand else 0.0
    fam_recall = getattr(wl, "family_recall", {"ivf": recall if wl.read_kind == "read" else 0.0})
    m["ivf.recall_at_10"] = fam_recall.get("ivf", 0.0)
    m["graph_ann.recall_at_10"] = fam_recall.get("graph_ann", 0.0)
    detailed_ops = {o["i"] for o in ops if o["detail"]}
    op_spans = [s for s in tracer.spans if s["request"] in detailed_ops and s["detail"]]
    n = max(len(detailed_ops), 1)
    m["spark.jobs"] = sum(s["jobs"] for s in op_spans) / n
    m["spark.gc_s"] = sum(ev_of("gc_s")(s) for s in op_spans) / n
    m["spark.failed_tasks"] = sum(g.get("failed_tasks", 0) for g in ev.values())
    plain = [o["wall"] for o in ops if o["kind"] == wl.read_kind and not o["detail"]]
    traced = [o["wall"] for o in ops if o["kind"] == wl.read_kind and o["detail"]]
    m["trace.overhead_pct"] = (
        100.0 * (_median(traced) / _median(plain) - 1.0) if plain and traced else 0.0
    )
    return m


def run(args, run_dir: str, spec: dict, sampler) -> tuple[dict, bool]:
    import spans as spans_mod
    from vectordb_retrieval_spark.functions import kernels
    from vectordb_retrieval_spark.operators import serving
    from vectordb_retrieval_spark.session import get_spark
    from workloads import WORKLOADS

    if args.workload not in WORKLOADS:
        raise SystemExit(f"unknown workload {args.workload!r}; one of {sorted(WORKLOADS)}")
    trace = bool(args.trace)
    t0 = time.perf_counter()
    spark = get_spark("perfbench", extra_conf=_spark_conf(run_dir, trace))
    session_s = time.perf_counter() - t0
    _log(f"session started in {session_s:.2f}s")
    try:
        tracer = spans_mod.Tracer(spark.sparkContext)
        if trace:
            tracer.wrap(kernels, "query_broadcast_cached", "kernels.query_broadcast")
            # only calls that pack: later calls return the memoized broadcast
            tracer.wrap(
                serving, "artifact_serving_broadcast", "serving.broadcast_pack",
                should_trace=lambda art, *a, **k: "_serving_bc" not in art.params,
            )
        wl = WORKLOADS[args.workload](spark, tracer, args.seed, os.path.join(run_dir, "data"))
        wl.prepare()
        setup_walls = []
        for rep in range(SETUP_REPS):
            final = rep == SETUP_REPS - 1
            tracer.detail = trace and final
            if final:
                tracer.counts.clear()
            t = time.perf_counter()
            wl.setup(rep)
            setup_walls.append(time.perf_counter() - t)
            _log(f"set-up {rep + 1}/{SETUP_REPS} took {setup_walls[-1]:.2f}s")
        # a traced run interleaves plain and detailed operations (plain,
        # detailed, detailed, plain, ...) after at least one warm-up
        # cycle, so trace.overhead_pct compares like with like
        first = max(wl.warmup_ops, wl.cycle if trace else 0)
        min_ops = first + (2 if trace else 1)
        ops, errors, before = [], 0, {}
        i, t_loop = 0, time.perf_counter()
        # the loop ends on a whole cycle, so every run has the same mix of
        # operation kinds
        while (
            i < min_ops
            or time.perf_counter() - t_loop < args.seconds
            or (i - first) % wl.cycle
        ) and errors < 3:
            if i == first:
                before = dict(tracer.counts)
                t_loop = time.perf_counter()
            tracer.detail = trace and i >= first and (i - first) % 4 in (1, 2)
            tracer.request = i
            try:
                o = wl.op(i)
            except Exception:
                traceback.print_exc()
                errors += 1
            else:
                o.update(i=i, detail=tracer.detail, warmup=i < first)
                ops.append(o)
            i += 1
        tracer.request, tracer.detail = None, False
        _log(f"{i} operations done; walls ms " + json.dumps(
            [round(1e3 * o["wall"]) for o in ops if not o["warmup"]]))
        loop_counts = {k: v - before.get(k, 0) for k, v in tracer.counts.items()}
        ops = [o for o in ops if not o["warmup"]]
        attempted = len(ops) + errors
        recall = wl.finish() if ops else 0.0
        pair_counts = wl.pair_counts() if trace and hasattr(wl, "pair_counts") else (0, 0)
        _log("outputs checked")
        tracer.spark_counts()
        _log("spark work counted")
    finally:
        _stop_spark(spark)
        _log("spark stopped")
    peak_mb = sampler.stop()
    reads = [o["wall"] for o in ops if o["kind"] == wl.read_kind]
    busy = sum(o["wall"] for o in ops)
    failed = min(attempted, errors + len(wl.failures))
    for msg in wl.failures:
        print(f"perfbench: check failed: {msg}", file=sys.stderr)
    if trace:
        ev = spans_mod.event_log_metrics(os.path.join(run_dir, "events"))
        values = per_layer(tracer, ev, wl, ops, defaultdict(int, loop_counts), pair_counts, recall)
        declared = spec["per_layer"]
        _write_trace(args, tracer, ev, values)
    else:
        values = {
            "setup_s": session_s + _median(setup_walls),
            "latency_p50_ms": 1e3 * _median(reads),
            "throughput_per_s": sum(o["items"] for o in ops) / busy if busy else 0.0,
            "recall": recall,
            "peak_rss_mb": peak_mb,
        }
        declared = spec["end_to_end"]
        jobs = defaultdict(list)
        for s in tracer.spans:
            jobs[s["name"]].append(s["jobs"])
        print("perfbench: jobs per call " + json.dumps(
            {k: round(_median(v), 2) for k, v in sorted(jobs.items())}), file=sys.stderr)
    metrics = {d["name"]: {"value": values[d["name"]], "unit": d["unit"]} for d in declared}
    result = {"correct": failed == 0, "attempted": attempted, "failed": failed, "metrics": metrics}
    return result, failed == 0


def _write_trace(args, tracer, ev, values) -> None:
    out = os.path.join(WORK, "traces")
    os.makedirs(out, exist_ok=True)
    spans = [
        {k: s.get(k) for k in ("name", "id", "parent", "request", "start", "end",
                               "self_s", "detail", "jobs", "stages", "tasks")}
        | dict(ev.get(s["group"], {}))
        for s in tracer.spans
    ]
    path = os.path.join(out, f"{args.workload}-seed{args.seed}.json")
    with open(path, "w") as fh:
        json.dump({"workload": args.workload, "seed": args.seed,
                   "per_layer": values, "spans": spans}, fh, indent=1)
    print(f"perfbench: trace written to {path}", file=sys.stderr)


def main(argv=None) -> int:
    args = _args(argv)
    if not os.path.isdir(os.path.join(ROOT, "vectordb_retrieval_spark")):
        print(f"perfbench: no vectordb_retrieval_spark package under {ROOT}", file=sys.stderr)
        return 2
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        spec = json.load(fh)
    run_dir = os.path.join(WORK, f"run-{os.getpid()}")
    shutil.rmtree(run_dir, ignore_errors=True)
    _spark_env(run_dir)
    sys.path[:0] = [ROOT, HERE]
    shm_before = set(os.listdir(SHM)) if os.path.isdir(SHM) else set()
    from spans import RssSampler

    sampler = RssSampler(os.getpid()).start()
    try:
        result, ok = run(args, run_dir, spec, sampler)
    finally:
        sampler.stop()
        shutil.rmtree(run_dir, ignore_errors=True)
        # the engine publishes node-local index copies under /dev/shm;
        # remove the ones this run created so runs do not pile up memory
        if os.path.isdir(SHM):
            for entry in set(os.listdir(SHM)) - shm_before:
                shutil.rmtree(os.path.join(SHM, entry), ignore_errors=True)
    print(json.dumps(result))
    return 0 if ok else 1


if __name__ == "__main__":
    sys.exit(main())
