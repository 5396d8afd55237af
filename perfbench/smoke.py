#!/usr/bin/env python3
"""Smoke test of the benchmark: all three workloads at the tiny smoke size.

    python3 perfbench/smoke.py [--update-golden]

Each workload runs traced (``--trace 1``), so one run yields both metric
sets. The test asserts that every end-to-end and per-layer metric of
BENCHMARK.json is reported with its unit, that the workload-specific names and
``failed_ratio`` are printed, that every output check passed, and that the
mart, export and ledger digests of seed 1 equal perfbench/golden.json.
``--update-golden`` rewrites golden.json from this run instead of
comparing. Takes a few minutes: three JVMs, each with a Spark session.
"""
import json
import subprocess
import sys
from pathlib import Path

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent
GOLDEN = HERE / "golden.json"
SEED = 1


def main() -> int:
    update = "--update-golden" in sys.argv[1:]
    spec = json.loads((ROOT / "BENCHMARK.json").read_text())
    layers = json.loads((HERE / "layers.json").read_text())
    golden = json.loads(GOLDEN.read_text()) if GOLDEN.exists() else {}
    problems = []
    for w in layers["workloads"]:
        p = subprocess.run(
            [sys.executable, str(HERE / "run.py"), "--workload", w,
             "--seed", str(SEED), "--seconds", "4", "--trace", "1",
             "--size", "smoke"],
            cwd=ROOT, stdout=subprocess.PIPE, stderr=subprocess.PIPE,
            text=True, timeout=600)
        lines = p.stdout.strip().splitlines()
        if p.returncode != 0 or not lines:
            problems.append(f"{w}: exit {p.returncode}\n{p.stderr[-3000:]}")
            continue
        last = json.loads(lines[-1])
        res = json.loads((ROOT / ".bench_build" / "results" /
                          f"{w}-seed{SEED}-trace1-smoke.json").read_text())
        for m in spec["per_layer"]:
            got = last["metrics"].get(m["name"])
            if not got or got.get("unit") != m["unit"]:
                problems.append(f"{w}: per-layer {m['name']} missing: {got}")
        for m in spec["end_to_end"]:
            got = res["end_to_end"].get(m["name"])
            if not got or got.get("unit") != m["unit"] or got["value"] is None:
                problems.append(f"{w}: end-to-end {m['name']} missing: {got}")
        for name, (_, unit) in layers["workloads"][w]["reported_as"].items():
            if not any(l.startswith(f"perfbench: {w} {name} = ") and
                       l.endswith(f" {unit}") for l in lines):
                problems.append(f"{w}: {name} not printed with unit {unit}")
        if not any(l.startswith(f"perfbench: {w} failed_ratio = 0.0 ratio")
                   for l in lines):
            problems.append(f"{w}: failed_ratio is not 0")
        bad = [c for c in res["checks"] if not c["ok"]]
        if not last["correct"] or bad or not res["checks"]:
            problems.append(f"{w}: checks failed: {bad}")
        if update:
            golden[w] = res["digests"]
        elif res["digests"] != golden.get(w):
            diff = {k: (v, golden.get(w, {}).get(k))
                    for k, v in res["digests"].items()
                    if golden.get(w, {}).get(k) != v}
            problems.append(f"{w}: digests differ from golden.json: {diff}")
        print(f"smoke: {w} ran, {len(res['checks'])} checks", flush=True)
    if update and not problems:
        GOLDEN.write_text(json.dumps(golden, indent=1, sort_keys=True) + "\n")
    for pr in problems:
        print(f"smoke: FAIL {pr}", file=sys.stderr)
    print("smoke: " + ("ok" if not problems else f"{len(problems)} problems"))
    return 1 if problems else 0


if __name__ == "__main__":
    sys.exit(main())
