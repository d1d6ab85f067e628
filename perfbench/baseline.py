"""Record a baseline: sets of seeded runs of every workload, with spreads.

    python3 perfbench/baseline.py --sets 2 --seeds 10 --out perfbench/baseline/seed.json

Run from the repository root. Each set runs run.py once per workload and
seed (seeds 1..N in set 1, N+1..2N in set 2, ...), untraced, with
BENCHMARK.json's ``run_seconds``. For every end-to-end metric it records
the median, the quartiles (``statistics.quantiles(n=4)``) and the
inter-quartile spread as a share of the median, per set, over every run
that reported it, failed runs included, plus the drift of each later
set's median from the first. ``ok_share`` is instead pooled over the set:
1 - total failed / total attempted. A run that crashes or times out
counts as one failed attempt. One traced run per workload
(seed 1) adds the per-layer metrics, the span table and the tracing
overhead: its traced pass wall minus the untraced seed-1 run's wall.
"""

from __future__ import annotations

import argparse
import json
import statistics
import subprocess
import sys
import time
from pathlib import Path

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent


def run_once(workload: str, seed: int, seconds: int, trace: int) -> dict:
    """One run; a crash, a timeout or a missing result line is a failed run
    with no metrics, never a dropped one."""
    t0 = time.time()
    cmd = [sys.executable, str(HERE / "run.py"), "--workload", workload, "--seed", str(seed),
           "--seconds", str(seconds), "--trace", str(trace)]
    try:
        proc = subprocess.run(cmd, cwd=ROOT, capture_output=True, text=True, timeout=180)
        lines = proc.stdout.strip().splitlines()
        result = json.loads(lines[-1])
        result.update(exit_code=proc.returncode, report=json.loads("\n".join(lines[:-1])))
    except (subprocess.TimeoutExpired, json.JSONDecodeError, IndexError) as e:
        result = {"correct": False, "attempted": 1, "failed": 1, "metrics": {},
                  "exit_code": None, "report": {"error": repr(e)}}
    result.update(seed=seed, elapsed_s=round(time.time() - t0, 1))
    return result


def spread(values: list[float]) -> dict:
    if len(values) < 2:
        return {"median": values[0] if values else None, "n": len(values)}
    q1, med, q3 = statistics.quantiles(values, n=4)
    return {"median": med, "q1": q1, "q3": q3,
            "iqr_share": (q3 - q1) / med if med else 0.0, "n": len(values)}


def set_metrics(runs: list[dict], names) -> dict:
    """Spread of every metric over all runs of a set that reported it,
    failed runs included; ok_share pools the set's attempts instead."""
    metrics = {name: spread([r["metrics"][name]["value"] for r in runs
                             if name in r["metrics"]])
               for name in names}
    attempted = sum(r["attempted"] for r in runs)
    metrics["ok_share"] = {"median": 1 - sum(r["failed"] for r in runs) / attempted,
                           "pooled": True, "n": len(runs)}
    return metrics


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--sets", type=int, default=2)
    ap.add_argument("--seeds", type=int, default=10)
    ap.add_argument("--out", required=True)
    ap.add_argument("--workloads", nargs="*")
    args = ap.parse_args()
    bench = json.loads((ROOT / "BENCHMARK.json").read_text())
    workloads = args.workloads or [w["name"] for w in bench["workloads"]]
    bounds = {m["name"]: m["bound"] for m in bench["end_to_end"]}
    out = {"run_seconds": bench["run_seconds"], "workloads": {}}
    for w in workloads:
        sets = []
        for k in range(args.sets):
            runs = [run_once(w, k * args.seeds + i + 1, bench["run_seconds"], 0)
                    for i in range(args.seeds)]
            metrics = set_metrics(runs, bounds)
            sets.append({"runs": [{k2: r[k2] for k2 in ("seed", "correct", "attempted", "failed",
                                                        "exit_code", "elapsed_s", "metrics")}
                                  for r in runs],
                         "metrics": metrics})
            print(w, f"set {k + 1}",
                  {n: round(m.get("iqr_share", 0.0), 4) for n, m in metrics.items()},
                  flush=True)
        drift = {
            name: [s["metrics"][name]["median"] / sets[0]["metrics"][name]["median"] - 1
                   if s["metrics"][name]["median"] and sets[0]["metrics"][name]["median"]
                   else None
                   for s in sets[1:]]
            for name in bounds
        }
        traced = run_once(w, 1, bench["run_seconds"], 1)
        untraced = sets[0]["runs"][0]["metrics"]
        overhead = (traced["metrics"]["trace.wall_s"]["value"] - untraced["wall_s"]["value"]
                    if "trace.wall_s" in traced["metrics"] and "wall_s" in untraced else None)
        out["workloads"][w] = {
            "sets": sets,
            "drift_from_first_set": drift,
            "traced": {"metrics": traced["metrics"], "correct": traced["correct"],
                       "elapsed_s": traced["elapsed_s"],
                       "overhead_s": overhead,
                       "report": traced["report"]},
        }
        Path(args.out).parent.mkdir(parents=True, exist_ok=True)
        Path(args.out).write_text(json.dumps(out, indent=1) + "\n")
    return 0


if __name__ == "__main__":
    sys.exit(main())
