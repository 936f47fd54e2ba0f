"""Compare a change against its parent with the workload benchmark.

    python3 perfbench/compare.py --parent ../parent --change . \\
        --workload soc_pipeline --pairs 10 --first-seed 1000

Runs ``--pairs`` parent/change pairs, alternating which side runs first;
both sides of a pair use the same seed.  Each side runs its own
``perfbench/run.py`` from its own checkout, so the two checkouts must hold
the same benchmark (the script refuses to compare two different
``perfbench/`` trees).  For every end-to-end metric in ``BENCHMARK.json``,
and for each workload's own named metrics from the run record, it reports
each side's median and quartiles and the share of pairs the change won
(ties count for neither).  A metric is

- ``unresolved`` when the parent's own spread (quartile distance over its
  median) is wider than the metric's bound, unless every run of the change
  reads better than every run of the parent;
- ``gain`` when at least ``MIN_PAIRS`` pairs ran, the change won at least
  nine tenths of them and the medians differ by more than the parent's
  quartile distance;
- ``regression`` when the change's median is worse than the parent's by
  more than the bound;
- ``no change`` otherwise.

Named metrics without a bound in ``BENCHMARK.json`` use ``NAMED_BOUND``,
the largest bound a gated metric may have.
The full report is also written as JSON to ``--out``.
"""

from __future__ import annotations

import argparse
import hashlib
import json
import os
import statistics
import subprocess
import sys

NAMED_BOUND = 0.25
#: fewest pairs a gain may rest on
MIN_PAIRS = 10


def tree_digest(root: str) -> str:
    """Digest of the benchmark's own files in a checkout."""
    h = hashlib.sha256()
    bench = os.path.join(root, "perfbench")
    for dirpath, dirnames, files in sorted(os.walk(bench)):
        dirnames[:] = sorted(d for d in dirnames if d != "__pycache__")
        for name in sorted(files):
            if name.endswith((".py", ".md", ".json")):
                path = os.path.join(dirpath, name)
                h.update(os.path.relpath(path, bench).encode())
                with open(path, "rb") as f:
                    h.update(f.read())
    return h.hexdigest()


def run_once(root: str, workload: str, seed: int, seconds: int) -> dict:
    """One benchmark run in ``root``; returns the result and the record."""
    out = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", workload,
         "--seed", str(seed), "--seconds", str(seconds), "--trace", "0"],
        cwd=root, capture_output=True, text=True, timeout=900,
    )
    lines = out.stdout.strip().splitlines()
    if out.returncode != 0 or len(lines) < 2:
        raise RuntimeError(f"run failed in {root} (seed {seed}):\n{out.stderr[-2000:]}")
    return {"result": json.loads(lines[-1]), "record": json.loads(lines[-2])["record"]}


def summarize(values: list[float]) -> dict:
    q1, q2, q3 = statistics.quantiles(values, n=4) if len(values) > 1 else values * 3
    return {"median": q2, "q1": q1, "q3": q3,
            "spread": (q3 - q1) / q2 if q2 else float("inf")}


def verdict(parent: list[float], change: list[float], better: str, bound: float) -> dict:
    p, c = summarize(parent), summarize(change)
    sign = 1 if better == "lower" else -1
    wins = sum(1 for a, b in zip(parent, change) if sign * (a - b) > 0)
    worse_by = sign * (c["median"] - p["median"]) / p["median"] if p["median"] else 0.0
    every_run_better = (max(change) < min(parent) if better == "lower"
                        else min(change) > max(parent))
    if p["spread"] > bound and not every_run_better:
        v = "unresolved"
    elif (len(parent) >= MIN_PAIRS and wins >= 0.9 * len(parent)
          and abs(c["median"] - p["median"]) > p["q3"] - p["q1"]):
        v = "gain"
    elif worse_by > bound:
        v = "regression"
    else:
        v = "no change"
    return {"parent": p, "change": c, "change_won": f"{wins}/{len(parent)}",
            "change_worse_by": round(worse_by, 4), "bound": bound, "verdict": v}


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--parent", required=True)
    ap.add_argument("--change", required=True)
    ap.add_argument("--workload", action="append", required=True)
    ap.add_argument("--pairs", type=int, default=10)
    ap.add_argument("--first-seed", type=int, default=1000)
    ap.add_argument("--out", default="perfbench-compare.json")
    args = ap.parse_args(argv)

    if tree_digest(args.parent) != tree_digest(args.change):
        print("compare: the two checkouts hold different benchmarks", file=sys.stderr)
        return 2
    with open(os.path.join(args.change, "BENCHMARK.json")) as f:
        bench = json.load(f)
    e2e = {m["name"]: m for m in bench["end_to_end"]}

    report: dict = {}
    for workload in args.workload:
        runs: dict[str, list[dict]] = {"parent": [], "change": []}
        for i in range(args.pairs):
            seed = args.first_seed + i
            order = ("parent", "change") if i % 2 == 0 else ("change", "parent")
            for side in order:
                root = args.parent if side == "parent" else args.change
                runs[side].append(run_once(root, workload, seed, bench["run_seconds"]))
                r = runs[side][-1]["result"]
                print(f"{workload} pair {i} {side}: correct={r['correct']} "
                      f"failed={r['failed']}/{r['attempted']}", flush=True)
        rows = {}
        for name, m in e2e.items():
            rows[name] = verdict(
                [r["result"]["metrics"][name]["value"] for r in runs["parent"]],
                [r["result"]["metrics"][name]["value"] for r in runs["change"]],
                m["better"], m["bound"],
            )
        for name, meta in runs["parent"][0]["record"]["metrics"].items():
            values = [r["record"]["metrics"][name]["value"]
                      for side in runs.values() for r in side]
            if name in e2e or None in values:
                continue
            better = "higher" if meta["unit"].endswith("/s") else "lower"
            rows[name] = verdict(
                [r["record"]["metrics"][name]["value"] for r in runs["parent"]],
                [r["record"]["metrics"][name]["value"] for r in runs["change"]],
                better, NAMED_BOUND,
            )
        report[workload] = {
            "metrics": rows,
            "all_correct": all(r["result"]["correct"] for side in runs.values() for r in side),
            "probe_s": {side: summarize([r["record"]["calibration_probe_s"] for r in rs])
                        for side, rs in runs.items()},
        }
        print(f"\n{workload}  (all outputs correct: {report[workload]['all_correct']})")
        print(f"{'metric':32s} {'parent median [q1,q3]':34s} {'change median [q1,q3]':34s} "
              f"{'won':>6s}  verdict")
        for name, v in rows.items():
            p, c = v["parent"], v["change"]
            print(f"{name:32s} {p['median']:10.4g} [{p['q1']:.4g},{p['q3']:.4g}]"
                  f"{'':6s} {c['median']:10.4g} [{c['q1']:.4g},{c['q3']:.4g}]{'':6s} "
                  f"{v['change_won']:>6s}  {v['verdict']}")
    with open(args.out, "w") as f:
        json.dump(report, f, indent=1)
    return 0


if __name__ == "__main__":
    sys.exit(main())
