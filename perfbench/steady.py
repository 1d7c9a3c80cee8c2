"""Steadiness check: run workloads over several seeds, one fresh JVM per
run, and report each end-to-end metric's spread.

    python3 perfbench/steady.py --workloads ingest_mixed dedup_batch \
        --seeds 1 2 3 4 5 6 7 8 9 10 --out perfbench/results/steady.json

Spread = (third quartile - first quartile) / median, with the quartiles
of ``statistics.quantiles(values, n=4)``.  Runs are sequential (two
Spark JVMs on one host distort each other).  The raw result of every
run is kept in ``--out``.
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import subprocess
import sys
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def spread(values: list[float]) -> tuple[float, float]:
    """(median, IQR / median)."""
    med = statistics.median(values)
    q1, _, q3 = statistics.quantiles(values, n=4)
    return med, (q3 - q1) / med if med else float("inf")


def run_one(workload: str, seed: int, seconds: int) -> dict:
    t0 = time.time()
    p = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", workload,
         "--seed", str(seed), "--seconds", str(seconds), "--trace", "0"],
        cwd=ROOT, capture_output=True, text=True, timeout=600,
    )
    lines = p.stdout.strip().splitlines()
    result = json.loads(lines[-1]) if p.returncode == 0 and lines else None
    detail = next((json.loads(ln[len("detail "):]) for ln in lines if ln.startswith("detail ")), None)
    return {"workload": workload, "seed": seed, "returncode": p.returncode,
            "wall_s": time.time() - t0, "result": result, "detail": detail,
            "stderr_tail": p.stderr[-2000:] if p.returncode else ""}


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workloads", nargs="+", required=True)
    ap.add_argument("--seeds", nargs="+", type=int, required=True)
    ap.add_argument("--out", required=True)
    args = ap.parse_args()
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        bench = json.load(f)
    bounds = {m["name"]: m["bound"] for m in bench["end_to_end"]}
    runs = []
    for w in args.workloads:
        for s in args.seeds:
            r = run_one(w, s, bench["run_seconds"])
            runs.append(r)
            res = r["result"] or {}
            print(f"{w} seed={s} rc={r['returncode']} wall={r['wall_s']:.1f}s "
                  f"correct={res.get('correct')} failed={res.get('failed')}", flush=True)
            with open(args.out, "w") as f:
                json.dump({"run_seconds": bench["run_seconds"], "runs": runs}, f, indent=1)
    summary = {}
    for w in args.workloads:
        ok = [r["result"] for r in runs if r["workload"] == w and r["result"]]
        for name, bound in bounds.items():
            vals = [res["metrics"][name]["value"] for res in ok]
            if len(vals) < 2:
                continue
            med, sp = spread(vals)
            summary[f"{w}/{name}"] = {"median": med, "spread": sp, "bound": bound,
                                      "within_third": sp < bound / 3}
            print(f"{w:14s} {name:12s} median={med:12.4f} spread={sp:.4f} "
                  f"bound/3={bound / 3:.4f} {'ok' if sp < bound / 3 else 'WIDE'}")
    with open(args.out, "w") as f:
        json.dump({"run_seconds": bench["run_seconds"], "runs": runs, "summary": summary},
                  f, indent=1)
    return 0


if __name__ == "__main__":
    sys.exit(main())
