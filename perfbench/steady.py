"""Steadiness check: run each workload under several seeds and report,
per end-to-end metric, the spread of its values against the bound in
``BENCHMARK.json``.

    python3 perfbench/steady.py --seeds 1-10 [--workload live] [--overhead]

Spread is the distance between the first and third quartile
(``statistics.quantiles(values, n=4)``) as a share of the median.  A
metric is steady when its spread stays below a third of its bound.
``--overhead`` adds one traced run per workload and prints how far the
end-to-end numbers measured under tracing sit from the untraced median.
Runs are sequential; each one is a fresh process.
"""

from __future__ import annotations

import argparse
import json
import math
import os
import statistics
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


def _seeds(text: str) -> list:
    if "-" in text:
        lo, hi = text.split("-")
        return list(range(int(lo), int(hi) + 1))
    return [int(s) for s in text.split(",")]


def run_once(manifest: dict, workload: str, seed: int, trace: int) -> tuple[dict, list]:
    cmd = manifest["command"] + ["--workload", workload, "--seed", str(seed),
                                 "--seconds", str(manifest["run_seconds"]), "--trace", str(trace)]
    proc = subprocess.run(cmd, cwd=ROOT, capture_output=True, text=True, timeout=900)
    lines = proc.stdout.strip().splitlines()
    if proc.returncode != 0 or not lines:
        sys.stderr.write(proc.stderr[-4000:])
        raise SystemExit(f"{workload} seed {seed}: exit {proc.returncode}")
    return json.loads(lines[-1]), lines[:-1]


def spread(values: list) -> float:
    if len(values) < 2:
        return float("nan")
    q1, _, q3 = statistics.quantiles(values, n=4)
    return (q3 - q1) / statistics.median(values)


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--seeds", default="1-10")
    ap.add_argument("--workload", action="append")
    ap.add_argument("--overhead", action="store_true")
    args = ap.parse_args(argv)
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        manifest = json.load(fh)
    workloads = args.workload or [w["name"] for w in manifest["workloads"]]
    bounds = {m["name"]: m["bound"] for m in manifest["end_to_end"]}
    worst = 0.0
    for wl in workloads:
        values: dict = {name: [] for name in bounds}
        for seed in _seeds(args.seeds):
            result, _ = run_once(manifest, wl, seed, 0)
            if not result["correct"] or result["failed"]:
                raise SystemExit(f"{wl} seed {seed}: correct={result['correct']} failed={result['failed']}")
            for name in bounds:
                values[name].append(result["metrics"][name]["value"])
            print(f"{wl} seed {seed}: " + " ".join(
                f"{k}={v['value']:.4g}" for k, v in result["metrics"].items()), flush=True)
        print(f"\n{wl}: {'metric':<30} {'median':>12} {'spread':>8} {'bound':>6}  verdict")
        for name, vals in values.items():
            s = spread(vals)
            judged = not math.isnan(s)  # one seed: nothing to judge
            ok = s < bounds[name] / 3
            if judged:
                worst = max(worst, s / bounds[name])
            verdict = "steady" if ok else ("within bound" if s <= bounds[name] else "TOO WIDE")
            print(f"{wl}: {name:<30} {statistics.median(vals):>12.5g} {s:>8.3f} "
                  f"{bounds[name]:>6.2f}  {verdict if judged else 'reported'}")
        if args.overhead:
            _, lines = run_once(manifest, wl, _seeds(args.seeds)[0], 1)
            traced = next((json.loads(l.split(":", 1)[1]) for l in lines
                           if l.startswith("end_to_end_under_trace:")), {})
            for name, v in traced.items():
                if name in values:
                    base = statistics.median(values[name])
                    print(f"{wl}: tracing moves {name} by {(v - base) / base:+.1%} ({base:.4g} -> {v:.4g})")
        print()
    print(f"worst spread / bound: {worst:.2f} (steady below 0.33)")
    return 0


if __name__ == "__main__":
    sys.exit(main())
