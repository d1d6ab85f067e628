"""Summarize interleaved A/B JSONL into per-metric tables.

Usage: python scripts/ab_summarize.py <runs.jsonl>

Two formats are read:
- scripts/ab.sh output (one perfbench run per line, ``side`` base or
  change): per end-to-end metric, each side's median and quartiles and
  how many pairs the change won, in BENCHMARK.json's direction (a pair
  whose change run failed counts as a loss);
- the round-6 full-bench legs (plans/r06/ab_final_r6.jsonl): per-query
  matched-pair tables.
"""

from __future__ import annotations

import json
import statistics
import sys
from collections import defaultdict
from pathlib import Path

BENCHMARK = Path(__file__).resolve().parent.parent / "BENCHMARK.json"


def quartiles(xs: list[float]) -> tuple[float, float, float]:
    if len(xs) < 2:
        return xs[0], xs[0], xs[0]
    q1, q2, q3 = statistics.quantiles(xs, n=4, method="inclusive")
    return q1, q2, q3


def _ok_metrics(run: dict) -> dict | None:
    """A run's end-to-end metrics, or None if it crashed, timed out,
    printed nothing or failed its checks."""
    result = run["result"] or {}
    return result.get("metrics") if result.get("correct") else None


def summarize_runs(runs: list[dict]) -> None:
    better = {m["name"]: m["better"] for m in json.loads(BENCHMARK.read_text())["end_to_end"]}
    pairs: dict[int, dict[str, dict]] = defaultdict(dict)
    for r in runs:
        pairs[r["pair"]][r["side"]] = r
    complete = {p: s for p, s in sorted(pairs.items()) if {"base", "change"} <= set(s)}
    failed = {k: sum(_ok_metrics(s[k]) is None for s in complete.values()) for k in ("base", "change")}
    print(f"{len(complete)} complete pairs, failed runs: base {failed['base']}, change "
          f"{failed['change']}; seeds {[s['base']['seed'] for s in complete.values()]}")
    print(f"{'metric':14s} {'base median [q1, q3]':>30s} {'change median [q1, q3]':>30s}"
          f" {'ratio':>6s} {'wins':>6s}")
    for name, direction in better.items():
        vals = {"base": [], "change": []}
        wins = 0
        for sides in complete.values():
            v = {k: ((_ok_metrics(sides[k]) or {}).get(name) or {}).get("value") for k in vals}
            for k in vals:
                if v[k] is not None:
                    vals[k].append(v[k])
            # every pair stays in the denominator: a failed change side is
            # a loss, a failed base side against a passing change a win
            b, c = v["base"], v["change"]
            if c is not None:
                wins += b is None or (c < b if direction == "lower" else c > b)
        if not (vals["base"] and vals["change"]):
            continue
        cells = []
        for k in ("base", "change"):
            q1, med, q3 = quartiles(vals[k])
            cells.append(f"{med:10.4g} [{q1:.4g}, {q3:.4g}]")
        ratio = statistics.median(vals["change"]) / (statistics.median(vals["base"]) or 1)
        print(f"{name:14s} {cells[0]:>30s} {cells[1]:>30s} {ratio:6.3f} {wins:3d}/{len(complete)}")


def main():
    if len(sys.argv) != 2:
        sys.exit(__doc__)
    legs = [json.loads(line) for line in open(sys.argv[1]) if line.strip()]
    if legs and "side" in legs[0]:
        summarize_runs(legs)
        return
    by_sf = defaultdict(lambda: defaultdict(dict))
    for leg in legs:
        sf = leg.get("sf", "?")
        tree = "r5" if "r5tree" in leg["tree"] else "r6"
        by_sf[sf][leg["pair"]][tree] = leg
    for sf, pairs in sorted(by_sf.items()):
        print(f"\n== {sf} ==")
        qnames = None
        for p in sorted(pairs):
            row = pairs[p]
            if len(row) < 2:
                print(f" pair {p}: incomplete ({list(row)})")
                continue
            if qnames is None:
                qnames = list(row["r5"]["r"]["queries"])
            for tree in ("r5", "r6"):
                r = row[tree]["r"]
                qs = " ".join(f"{q.split('_')[0]}={r['queries'][q]:.2f}" for q in qnames)
                print(
                    f" p{p} {tree} band={row[tree]['band_before']}->{row[tree]['band_after']}"
                    f" tot={r['value']:.1f} corpus={r.get('corpus_clean_sec')} {qs}"
                )
        # per-query min across legs per tree (the keep-best convention)
        mins = {t: defaultdict(lambda: 1e9) for t in ("r5", "r6")}
        cmins = {t: 1e9 for t in ("r5", "r6")}
        for p, row in pairs.items():
            for t, leg in row.items():
                for q, v in leg["r"]["queries"].items():
                    mins[t][q] = min(mins[t][q], v)
                c = leg["r"].get("corpus_clean_sec")
                if c is not None:
                    cmins[t] = min(cmins[t], c)
        if qnames:
            print(" best-of-legs per query:")
            for q in qnames:
                a, b = mins["r5"][q], mins["r6"][q]
                print(f"  {q:24s} r5={a:7.2f}  r6={b:7.2f}  ratio={b/a:5.2f}")
            print(f"  {'corpus_clean':24s} r5={cmins['r5']:7.2f}  r6={cmins['r6']:7.2f}"
                  f"  ratio={cmins['r6']/cmins['r5']:5.2f}")


if __name__ == "__main__":
    main()
