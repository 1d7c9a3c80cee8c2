"""Run one benchmark workload and print its metrics.

    python3 perfbench/run.py --workload ingest_mixed --seed 1 --seconds 20 --trace 0

Run from the repository root.  The run generates its inputs from
``--seed`` (perfbench/gen.py) into ``.perfbench_work/``, starts one
Spark driver on ``local[N]`` (N = half the CPUs this process may use), warms
up, sets up (timed, ``SETUP_REPS`` times), then runs the workload's
closed loop for about ``--seconds`` seconds, checking every output
against a driver-side oracle.  The last line of standard output is one JSON object:

    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}

``--trace 0`` reports the end-to-end metrics; ``--trace 1`` runs one
unit untraced and the same unit traced (their wall difference is the
tracing overhead), then per-layer probes, and reports the per-layer
metrics.  Spans are written to ``.perfbench_work/spans-*.json``.
Exits non-zero without a result line when the library is not there.
"""

from __future__ import annotations

import argparse
import json
import os
import shlex
import shutil
import statistics
import subprocess
import sys
import tempfile
import time

import gen
import workloads
from spans import Tracer, covered_ms

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
WORK = os.path.join(ROOT, ".perfbench_work")
SETUP_REPS = 7


def _env() -> None:
    """Keep every file Spark and Python write inside the checkout and
    size the driver for a shared host."""
    tmp = os.path.join(WORK, "tmp")
    local = os.path.join(WORK, "spark-local")
    for d in (tmp, local):
        os.makedirs(d, exist_ok=True)
    os.environ["TMPDIR"] = tmp
    tempfile.tempdir = tmp
    os.environ["SPARK_LOCAL_DIRS"] = local
    # task threads for half the CPUs: the rest is left to the JVM's JIT
    # and GC threads, this Python driver and the Python workers
    os.environ["SPARK_GRAFT_CPUS"] = str(max(1, len(os.sched_getaffinity(0)) // 2))
    os.environ["SPARK_GRAFT_DRIVER_MEM"] = "2g"
    # no hsperfdata files under /tmp, from the launcher JVM or the driver
    java_opts = f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData"
    os.environ["SPARK_LAUNCHER_OPTS"] = java_opts
    os.environ["PYSPARK_SUBMIT_ARGS"] = shlex.join([
        "--conf", "spark.ui.showConsoleProgress=false",
        "--conf", f"spark.local.dir={local}",
        "--conf", f"spark.sql.warehouse.dir={os.path.join(WORK, 'warehouse')}",
        "--driver-java-options", java_opts + " -XX:+UseSerialGC -Xms2g",
        "pyspark-shell",
    ])


def _vm_hwm_kb(pid: int | str) -> int:
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1])
    return 0


def _peak_rss_mb(jvm_pid: int) -> float:
    """Peak resident set of this Python driver plus its JVM child."""
    return (_vm_hwm_kb("self") + _vm_hwm_kb(jvm_pid)) / 1024.0


_TICK = os.sysconf("SC_CLK_TCK")

# JIT compiler threads: their work falls as a fresh JVM warms up, so it
# is warm-up cost, not the cost of an op
_JIT_THREADS = ("C1 CompilerThre", "C2 CompilerThre", "Sweeper thread")


def _stat(path: str) -> tuple[str, list[str]]:
    """(name, fields after the name) of a /proc stat file."""
    with open(path) as f:
        raw = f.read()
    head, rest = raw.rsplit(")", 1)
    return head.split("(", 1)[1], rest.split()


def cpu_snapshot(jvm: int) -> dict:
    """CPU ticks (user + system) used so far by this process, by each
    thread of the JVM other than its JIT compilers, and by each live
    descendant process of the JVM (the Python workers).  The kernel
    keeps the hypervisor's steal time apart, so it is not counted."""
    parent, ticks = {}, {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            _, fields = _stat(f"/proc/{name}/stat")
        except OSError:  # the process ended while we looked
            continue
        parent[int(name)] = int(fields[1])
        ticks[int(name)] = int(fields[11]) + int(fields[12])
    keep, todo = {os.getpid()}, [jvm]
    while todo:
        p = todo.pop()
        kids = [pid for pid, pp in parent.items() if pp == p]
        keep.update(kids)
        todo.extend(kids)
    snap = {("p", p): ticks[p] for p in keep if p in ticks}
    try:
        tids = os.listdir(f"/proc/{jvm}/task")
    except OSError:  # the JVM is gone
        tids = []
    for tid in tids:
        try:
            name, fields = _stat(f"/proc/{jvm}/task/{tid}/stat")
        except OSError:  # the thread ended while we looked
            continue
        if not name.startswith(_JIT_THREADS):
            snap[("t", int(tid))] = int(fields[11]) + int(fields[12])
    return snap


def cpu_seconds(before: dict, after: dict) -> float:
    """CPU seconds between two snapshots.  A thread or process that
    started in between counts whole; one that ended in between is lost,
    which is at most its share of the interval."""
    return sum(v - before.get(k, 0) for k, v in after.items()) / _TICK


def _steal(since=None):
    """(steal, total) jiffies of all CPUs from /proc/stat; with
    ``since``, the share of CPU time the hypervisor took since then."""
    with open("/proc/stat") as f:
        v = [int(x) for x in f.readline().split()[1:]]
    now = (v[7] if len(v) > 7 else 0, sum(v[:8]))
    if since is None:
        return now
    total = now[1] - since[1]
    return (now[0] - since[0]) / total if total else 0.0


def _median(xs):
    return statistics.median(xs) if xs else 0.0


def _tail(xs) -> tuple[float | None, float | None]:
    """The highest percentile with at least ten samples beyond it, as
    (percentile, value); (None, None) with fewer than 11 samples."""
    n = len(xs)
    if n < 11:
        return None, None
    s = sorted(xs)
    return 100.0 * (n - 10) / n, s[n - 11]


def end_to_end(log, setups) -> dict:
    cpu = [o["cpu_ms"] for o in log.ops]
    return {
        "setup_s": (_median(setups), "s"),
        "op_cpu_ms": (_median(cpu), "ms"),
        "docs_per_cpu_s": (sum(o["docs"] for o in log.ops) / (sum(cpu) / 1000.0), "1/s"),
    }


def per_layer(tr, overhead_ms: float, rss_mb: float) -> dict:
    """Per-layer metrics from the traced unit and the probes (0 where
    the workload does not call the layer)."""

    def med(name, **match):
        xs = [tr.wall_ms(s) for s in tr.named(name)
              if all(s.get(k) == v for k, v in match.items())]
        return _median(xs)

    def attr(name, key, agg=max):
        xs = [s[key] for s in tr.named(name) if s.get(key) is not None]
        return agg(xs) if xs else 0

    def execs(name):
        return [ex for s in tr.named(name) for ex in s.get("spark", {}).get("executions", [])]

    def join_rows(name):
        rows = [n["rows"] or 0 for ex in execs(name) for n in ex["nodes"] if "Join" in n["name"]]
        return max(rows, default=0)

    ops = [s for s in tr.spans if s["name"] in ("round", "pass") and s["end"] is not None]
    op_spark = []  # the Spark-grouped spans inside each op, probes excluded
    for op in ops:
        inner = [s for s in tr.spans if s.get("spark") and not s.get("probe")
                 and s["start"] >= op["start"] and s["end"] <= op["end"]]
        op_spark.append(inner)
    n_ops = max(len(ops), 1)

    def per_op(key):
        return sum(s["spark"][key] for inner in op_spark for s in inner) / n_ops

    queries = tr.named("collection.query_call")
    collects = [s for s in tr.named("spark.collect") if s.get("shape")]
    jobs_per_query = (
        sum(s["spark"]["jobs"] for s in queries + collects) / len(queries) if queries else 0
    )
    gap = sum(
        tr.wall_ms(op) - _covered(op, inner) for op, inner in zip(ops, op_spark)
    ) / n_ops
    verified = attr("dedup.jaccard", "verified")
    cand = join_rows("dedup.jaccard")
    lsh_cand = join_rows("dedup.minhash_lsh_pairs")
    lsh_pairs = attr("dedup.minhash_lsh_pairs", "pairs")
    jac_execs = execs("dedup.jaccard")
    scans = next((sum(1 for n in ex["nodes"] if n["name"] == "Scan ExistingRDD")
                  for ex in jac_execs if any(n["name"] == "Scan ExistingRDD" for n in ex["nodes"])), 0)
    m = {
        "session.get_spark_ms": (med("session.get_spark"), "ms"),
        "db.create_collection_ms": (med("db.create_collection"), "ms"),
        "collection.add_df_ms": (med("collection.add_df"), "ms"),
        "collection.count_ms": (med("collection.count", probe=True), "ms"),
        "collection.query_call_ms": (med("collection.query_call"), "ms"),
        "collection.write_ms": (med("collection.write"), "ms"),
        "collection.get_by_id_ms": (med("collection.get_by_id"), "ms"),
        "collection.query_batch_ms": (med("collection.query_batch"), "ms"),
        "collection.plan_nodes": (attr("round", "plan_nodes"), "count"),
        "collection.plan_window_nodes": (attr("round", "plan_window_nodes"), "count"),
        "collection.jobs_per_query": (jobs_per_query, "count"),
        "spark.collect_ms": (_median([tr.wall_ms(s) for s in tr.named("spark.collect")]), "ms"),
        "filters.compile_ms": (med("filters.compile"), "ms"),
        "knn.single_ms": (med("knn.single"), "ms"),
        "knn.numpy_floor_ms": (med("knn.numpy_floor"), "ms"),
        "knn.block_ms": (med("knn.block"), "ms"),
        "knn.rows_scored": (attr("knn.block", "rows_scored"), "count"),
        "router.choose_tier_ms": (med("router.choose_tier"), "ms"),
        "router.routed_batch_ms": (med("router.routed_batch"), "ms"),
        "dedup.clusters_ms": (med("dedup.dedup_clusters"), "ms"),
        "dedup.lsh_ms": (med("dedup.minhash_lsh_pairs"), "ms"),
        "dedup.shingle_ms": (med("dedup.shingle"), "ms"),
        "dedup.shingle_rows": (attr("dedup.shingle", "rows"), "count"),
        "dedup.jaccard_ms": (med("dedup.jaccard"), "ms"),
        "dedup.candidate_rows": (cand, "count"),
        "dedup.verified_pairs": (verified, "count"),
        "dedup.candidate_precision": (verified / cand if cand else 0.0, "ratio"),
        "dedup.minhash_ms": (med("dedup.minhash"), "ms"),
        "dedup.lsh_candidates": (lsh_cand, "count"),
        "dedup.lsh_precision": (lsh_pairs / lsh_cand if lsh_cand else 0.0, "ratio"),
        "dedup.cc_ms": (med("dedup.cc"), "ms"),
        "dedup.cc_jobs": (attr("dedup.cc", "spark", lambda xs: xs[0]["jobs"]), "count"),
        "dedup.checkpoint_scans": (scans, "count"),
        "spark.jobs": (per_op("jobs"), "count"),
        "spark.tasks": (per_op("tasks"), "count"),
        "spark.task_run_ms": (per_op("task_run_ms"), "ms"),
        "spark.shuffle_bytes": (per_op("shuffle_bytes"), "B"),
        "driver.gap_ms": (gap, "ms"),
        "trace.overhead_ms": (overhead_ms, "ms"),
        "process.peak_rss_mb": (rss_mb, "MB"),
    }
    return m


def _covered(op: dict, inner: list[dict]) -> float:
    start = op["epoch_ms"]
    end = start + (op["end"] - op["start"]) * 1000.0
    iv = [(max(a, start), min(b, end)) for s in inner for a, b in s["spark"]["job_intervals"]]
    return covered_ms([x for x in iv if x[1] > x[0]])


def main() -> int:
    ap = argparse.ArgumentParser(description="perfbench: one workload, one seed")
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()

    if not os.path.isfile(os.path.join(ROOT, "chromem_go_spark", "__init__.py")):
        print(f"perfbench: no chromem_go_spark package under {ROOT}", file=sys.stderr)
        return 2
    sys.path.insert(0, ROOT)
    if args.workload not in workloads.WORKLOADS:
        print(f"perfbench: unknown workload {args.workload!r}", file=sys.stderr)
        return 2
    cls, which = workloads.WORKLOADS[args.workload]
    _env()
    input_dir = os.path.join(WORK, f"inputs-{args.seed}-{which}")
    try:
        t0 = time.perf_counter()
        inputs = gen.write_inputs(args.seed, input_dir, which)
        return _run(args, cls, inputs, {"inputs": time.perf_counter() - t0})
    finally:
        shutil.rmtree(input_dir, ignore_errors=True)


def _run(args, cls, inputs, phases: dict) -> int:

    from chromem_go_spark import get_spark
    from pyspark import SparkContext

    t0 = time.perf_counter()
    spark = get_spark("perfbench")
    get_spark_ms = (time.perf_counter() - t0) * 1000.0
    phases["get_spark"] = get_spark_ms / 1000.0
    spark.sparkContext.setLogLevel("ERROR")
    jvm = SparkContext._gateway.proc
    try:
        traced = bool(args.trace)
        tr = Tracer(spark, enabled=traced)
        off = Tracer()
        if traced:  # the session start, as a span with its measured wall
            tr.spans.append({"id": 0, "name": "session.get_spark", "parent": None,
                             "request": None, "start": t0, "end": t0 + get_spark_ms / 1000.0,
                             "epoch_ms": time.time() * 1000.0 - get_spark_ms})
        log = workloads.OpLog()
        log.cpu_clock, log.cpu_seconds = lambda: cpu_snapshot(jvm.pid), cpu_seconds
        wl = cls(spark, inputs, log)

        # warm-up, not recorded; a workload that reuses its state across
        # ops goes on with the warmed state
        log.record = False
        w0 = time.perf_counter()
        warm = wl.setup(off)
        wl.warm_up(warm)
        log.record = True
        phases["warm_up"] = time.perf_counter() - w0

        setups, setup_cpu, states = [], [], []
        for _ in range(SETUP_REPS):
            s0, c0 = time.perf_counter(), log.cpu_clock()
            states.append(wl.setup(tr if traced else off))
            setups.append(time.perf_counter() - s0)
            setup_cpu.append(cpu_seconds(c0, log.cpu_clock()))

        extra = {}
        if traced:
            # the same unit untraced, then traced: the wall difference is
            # the tracing overhead
            log.record = False
            s0 = time.perf_counter()
            wl.unit(states.pop(0) if wl.fresh_state_per_unit else warm, 0, off)
            w0 = (time.perf_counter() - s0) * 1000.0
            log.record = True
            state = states.pop(0) if wl.fresh_state_per_unit else warm
            s0 = time.perf_counter()
            wl.unit(state, 0, tr)
            w1 = (time.perf_counter() - s0) * 1000.0
            w1 -= sum(tr.wall_ms(s) for s in tr.spans if s.get("probe") and s["end"])
            wl.sweep(state, tr)
            wl.finish(state, tr)
            metrics = per_layer(tr, w1 - w0, _peak_rss_mb(jvm.pid))
            extra = {"untraced_unit_ms": w0, "traced_unit_ms": w1}
        else:
            steal0 = _steal()
            start, i, last = time.perf_counter(), 0, 0.0
            state = warm
            while i == 0 or (time.perf_counter() - start) + last <= args.seconds:
                if wl.fresh_state_per_unit:
                    if states:
                        state = states.pop(0)
                    else:
                        s0, c0 = time.perf_counter(), log.cpu_clock()
                        state = wl.setup(off)
                        setups.append(time.perf_counter() - s0)
                        setup_cpu.append(cpu_seconds(c0, log.cpu_clock()))
                u0 = time.perf_counter()
                wl.unit(state, i, off)
                last = time.perf_counter() - u0
                i += 1
            wl.finish(state, off)
            metrics = end_to_end(log, setups)
            extra = {"units": i, "steal_frac": _steal(steal0)}
            phases["loop"] = time.perf_counter() - start
    finally:
        s0 = time.perf_counter()
        spark.stop()
        jvm.stdin.close()
        try:
            jvm.wait(timeout=60)
        except subprocess.TimeoutExpired:  # the JVM did not exit on EOF
            jvm.kill()
            jvm.wait()
        phases["stop"] = time.perf_counter() - s0

    # the checks made outside the timed ops (warm-up, probes, end-of-run
    # state) count as one more attempted op
    attempted = len(log.ops) + 1
    failed = sum(1 for o in log.ops if not o["ok"]) + (1 if log.outside_ops else 0)
    walls = [o["ms"] for o in log.ops]
    pct, tail = _tail(walls)
    detail = {
        "workload": args.workload, "seed": args.seed, "trace": args.trace,
        "setup_samples_s": setups, "setup_cpu_s": setup_cpu, "op_ms": walls,
        "op_cpu_ms": [o.get("cpu_ms") for o in log.ops], **extra, "phases_s": phases,
        "op_tail": {"percentile": pct, "ms": tail, "samples": len(walls)},
        "failures": log.failures[:20],
    }
    if traced:
        path = os.path.join(WORK, f"spans-{args.workload}-seed{args.seed}.json")
        tr.dump(path, {"detail": detail})
        detail["spans"] = os.path.relpath(path, ROOT)
    for name, (value, unit) in metrics.items():
        print(f"{name:32s} {value:16.4f} {unit}")
    print("detail " + json.dumps(detail))
    print(json.dumps({
        "correct": not log.failures,
        "attempted": attempted,
        "failed": failed,
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
