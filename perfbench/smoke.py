"""Smoke test of the benchmark itself, at tiny sizes.

    python3 perfbench/smoke.py [--quick]

1. ``BENCHMARK.json`` matches the harness: workload names and reasons,
   end-to-end and per-layer names and units.
2. Each workload runs untraced and traced at tiny sizes: exit 0, a
   correct result with no failures, exactly the declared metrics.
3. In a directory holding only ``BENCHMARK.json`` and the benchmark's
   files, the command exits non-zero without printing a result.

``--quick`` skips step 2.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

import per_layer  # noqa: E402
import run  # noqa: E402


def check_manifest(manifest: dict) -> None:
    assert set(manifest) == {"command", "paths", "run_seconds", "workloads", "end_to_end", "per_layer"}
    assert {w["name"]: w["why"] for w in manifest["workloads"]} == {
        name: w["why"] for name, w in run.WORKLOADS.items()}, "workloads differ from run.WORKLOADS"
    assert {m["name"]: m["unit"] for m in manifest["end_to_end"]} == run.END_TO_END
    assert [m["name"] for m in manifest["per_layer"]] == per_layer.names()
    assert all(m["unit"] == per_layer.UNITS[m["name"]] for m in manifest["per_layer"])
    setup = next(m for m in manifest["end_to_end"] if m["name"] == "setup_s")
    assert setup["bound"] == max(m["bound"] for m in manifest["end_to_end"])
    assert all(0 < m["bound"] <= 0.25 for m in manifest["end_to_end"])


def _result(stdout: str):
    lines = stdout.strip().splitlines()
    try:
        out = json.loads(lines[-1]) if lines else None
    except json.JSONDecodeError:
        return None
    return out if isinstance(out, dict) and "metrics" in out else None


def tiny_runs(manifest: dict) -> None:
    for w in manifest["workloads"]:
        for trace in (0, 1):
            cmd = manifest["command"] + ["--workload", w["name"], "--seed", "7", "--seconds", "4",
                                         "--trace", str(trace), "--size", "tiny"]
            proc = subprocess.run(cmd, cwd=ROOT, capture_output=True, text=True, timeout=600)
            res = _result(proc.stdout)
            want = [m["name"] for m in manifest["per_layer" if trace else "end_to_end"]]
            ok = (proc.returncode == 0 and res is not None and res["correct"] and res["failed"] == 0
                  and sorted(res["metrics"]) == sorted(want))
            print(f"tiny {w['name']} trace={trace}: {'ok' if ok else 'FAILED'}", flush=True)
            if not ok:
                print(proc.stdout[-3000:], proc.stderr[-3000:], sep="\n")
                raise SystemExit(1)


def empty_dir_run(manifest: dict) -> None:
    where = os.path.join(ROOT, ".perfbench_work", "smoke-empty")
    shutil.rmtree(where, ignore_errors=True)
    os.makedirs(where)
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), where)
    for p in manifest["paths"]:
        shutil.copytree(os.path.join(ROOT, p), os.path.join(where, p),
                        ignore=shutil.ignore_patterns("__pycache__"))
    cmd = manifest["command"] + ["--workload", manifest["workloads"][0]["name"], "--seed", "1",
                                 "--seconds", str(manifest["run_seconds"]), "--trace", "0"]
    try:
        proc = subprocess.run(cmd, cwd=where, capture_output=True, text=True, timeout=180)
    finally:
        shutil.rmtree(where, ignore_errors=True)
    ok = proc.returncode != 0 and _result(proc.stdout) is None
    print(f"empty checkout: exit {proc.returncode}, {'ok' if ok else 'FAILED'}")
    if not ok:
        raise SystemExit(1)


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--quick", action="store_true")
    args = ap.parse_args(argv)
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        manifest = json.load(fh)
    check_manifest(manifest)
    print("manifest: ok")
    empty_dir_run(manifest)
    if not args.quick:
        tiny_runs(manifest)
    return 0


if __name__ == "__main__":
    sys.exit(main())
