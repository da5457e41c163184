"""Run a workload once per seed and report each metric's spread.

    python3 carebench/steadiness.py --workload corpus_build --seeds 1-10 [--trace 0|1|both]

For every metric: the median over the runs and the spread, which is the
distance between the first and third quartile (``statistics.quantiles(values,
n=4)``) as a share of the median. Runs go one after another, never in
parallel, so they do not slow each other down. ``--trace both`` runs each
seed untraced and then traced, and also reports ``trace.overhead_vs_untraced``:
the median, over the traced run's traced ops, of each one's time over the
time of the untraced run's op at the same position, minus one. Matching
positions keeps the warm-up trend of successive ops (the first timed op is
the slowest) out of the comparison. Each run's result line is appended, with its report line, to
``.carebench_work/steadiness-<workload>.jsonl``.
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


def seeds(spec: str) -> list[int]:
    out = []
    for part in spec.split(","):
        lo, _, hi = part.partition("-")
        out.extend(range(int(lo), int(hi or lo) + 1))
    return out


def spread(values: list[float]) -> float:
    q1, _q2, q3 = statistics.quantiles(values, n=4)
    return (q3 - q1) / statistics.median(values)


def run_once(args, seed: int, trace: str, log: str) -> dict | None:
    t = time.time()
    proc = subprocess.run(
        [sys.executable, os.path.join(HERE, "run.py"), "--workload", args.workload,
         "--seed", str(seed), "--seconds", args.seconds, "--trace", trace],
        cwd=ROOT, capture_output=True, text=True,
    )
    wall = time.time() - t
    if proc.returncode != 0:
        print(f"seed {seed} trace {trace}: exit {proc.returncode}\n{proc.stderr[-2000:]}",
              file=sys.stderr)
        return None
    lines = proc.stdout.strip().splitlines()
    res = json.loads(lines[-1])
    report = next((ln[len("report "):] for ln in lines if ln.startswith("report ")), "null")
    res.update(seed=seed, wall_s=wall, report=json.loads(report))
    with open(log, "a") as fh:
        fh.write(json.dumps(res) + "\n")
    print(f"seed {seed} trace {trace}: wall {wall:.1f}s correct={res['correct']} "
          f"ops={res['attempted']} "
          + " ".join(f"{k}={v['value']:.4g}" for k, v in res["metrics"].items()
                     if trace == "0" or k == "trace.overhead_frac"),
          flush=True)
    return res


def summary(title: str, results: list[dict], extra: dict[str, list[float]]) -> None:
    print(f"{title}: {len(results)} runs, mean wall "
          f"{statistics.mean(r['wall_s'] for r in results):.1f}s, all correct: "
          f"{all(r['correct'] for r in results)}")
    table = {name: [r["metrics"][name]["value"] for r in results]
             for name in results[0]["metrics"]}
    for name, vals in {**table, **extra}.items():
        sp = spread(vals) if len(vals) > 1 and statistics.median(vals) else float("nan")
        print(f"  {name:45s} median {statistics.median(vals):12.6g}  spread {sp:.4f}")


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seeds", default="1-10")
    ap.add_argument("--seconds", default="12")
    ap.add_argument("--trace", choices=("0", "1", "both"), default="0")
    args = ap.parse_args()
    log = os.path.join(ROOT, ".carebench_work", f"steadiness-{args.workload}.jsonl")
    os.makedirs(os.path.dirname(log), exist_ok=True)
    modes = ("0", "1") if args.trace == "both" else (args.trace,)
    results: dict[str, list[dict]] = {m: [] for m in modes}
    overhead: list[float] = []
    for seed in seeds(args.seeds):
        for mode in modes:
            res = run_once(args, seed, mode, log)
            if res is None:
                return 1
            results[mode].append(res)
        if args.trace == "both":
            untraced = [op["seconds"] for op in results["0"][-1]["report"]["ops"]]
            ratios = [op["seconds"] / untraced[i]
                      for i, op in enumerate(results["1"][-1]["report"]["ops"])
                      if op["traced"] and i < len(untraced)]
            if ratios:
                overhead.append(statistics.median(ratios) - 1.0)
    for mode in modes:
        extra = {"trace.overhead_vs_untraced": overhead} if mode == "1" and overhead else {}
        summary(f"{args.workload} trace {mode}", results[mode], extra)
    return 0


if __name__ == "__main__":
    sys.exit(main())
