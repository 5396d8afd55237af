#!/usr/bin/env python3
"""Product-path benchmark of the engine: one workload per invocation.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> \
        --trace <0|1> [--size full|smoke]

Workloads (see BENCHMARK.json and perfbench/layers.json):
  api_lookup        read-only API tier: 2 client threads over cached marts;
                    set-up is one full refresh pass
  curation_stream   micro-batches through the streaming curation sink
  advisory_refresh  back-to-back full re-imports: OSV parse, advisory log,
                    advisory pipeline, every mart, federated export (run by
                    hand; not in BENCHMARK.json, see layers.json)

The engine and the harness are compiled from source on first use (see
perfbench/build.py). Each run gets a fresh scratch directory under
.bench_build/ that is deleted when the run ends. The detailed result
(checks, provenance, workload-specific metric names, spans of a traced run)
is kept in .bench_build/results/. The last line of stdout is the result:
{"correct", "attempted", "failed", "metrics"}; with --trace 0 the metrics
are the end-to-end metrics, with --trace 1 the per-layer metrics. The exit
code is 0 only when every output check passed.
"""
import argparse
import json
import os
import shutil
import signal
import subprocess
import sys
import time
from pathlib import Path

HERE = Path(__file__).resolve().parent
sys.path.insert(0, str(HERE))
import build  # noqa: E402

ROOT = build.ROOT
RUN_TIMEOUT_S = 170
# fixed heap: a heap that resizes between runs moves GC cost and the
# live-heap reading from run to run
HEAP = "3g"

JDK_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
    "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]


def fail(msg: str, code: int = 2):
    print(f"perfbench: {msg}", file=sys.stderr, flush=True)
    sys.exit(code)


def on_sigterm(*_):
    """SIGTERM unwinds like Ctrl-C, so the JVM is stopped and scratch removed."""
    raise KeyboardInterrupt()


def load_spec():
    spec_path = ROOT / "BENCHMARK.json"
    layers_path = HERE / "layers.json"
    if not spec_path.exists() or not layers_path.exists():
        fail("BENCHMARK.json or perfbench/layers.json missing")
    return json.loads(spec_path.read_text()), json.loads(layers_path.read_text())


def run_java(classes: Path, args, scratch: Path, out: Path, log: Path) -> int:
    jars = build.spark_jars()
    cp = os.pathsep.join([str(classes), str(build.resources()),
                          str(jars / "*")])
    cmd = (["java", f"-Xms{HEAP}", f"-Xmx{HEAP}", "-XX:+UseG1GC",
            "-XX:-UsePerfData", f"-Djava.io.tmpdir={scratch / 'tmp'}"] +
           [x for p in JDK_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")] +
           ["-cp", cp, "perfbench.Main",
            "--workload", args.workload, "--seed", str(args.seed),
            "--seconds", str(args.seconds), "--trace", str(args.trace),
            "--scratch", str(scratch), "--out", str(out),
            "--size", args.size])
    env = dict(os.environ, SPARK_LOCAL_DIRS=str(scratch / "spark-local"))
    with open(log, "w") as lf:
        proc = subprocess.Popen(cmd, stdout=lf, stderr=subprocess.STDOUT,
                                cwd=str(scratch), env=env,
                                start_new_session=True)
        try:
            return proc.wait(timeout=RUN_TIMEOUT_S)
        except BaseException:
            # timeout or interrupt: stop the JVM's whole process group
            try:
                os.killpg(proc.pid, signal.SIGKILL)
            except ProcessLookupError:
                pass
            proc.wait()
            raise


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), required=True)
    ap.add_argument("--size", choices=("full", "smoke"), default="full")
    args = ap.parse_args()

    spec, layers = load_spec()
    # BENCHMARK.json lists the workloads a check runs; layers.json also
    # lists the ones that are only run by hand
    names = list(layers["workloads"])
    if args.workload not in names:
        fail(f"unknown workload {args.workload}; one of {names}")
    try:
        classes = build.build()
    except build.BuildError as e:
        fail(f"build failed: {e}")

    results = build.BUILD / "results"
    results.mkdir(parents=True, exist_ok=True)
    scratch = build.BUILD / "scratch" / f"run-{os.getpid()}-{time.time_ns()}"
    (scratch / "tmp").mkdir(parents=True)
    stem = f"{args.workload}-seed{args.seed}-trace{args.trace}-{args.size}"
    out, log = scratch / "result.json", results / f"{stem}.log"
    signal.signal(signal.SIGTERM, on_sigterm)
    try:
        try:
            code = run_java(classes, args, scratch, out, log)
        except subprocess.TimeoutExpired:
            fail(f"run exceeded {RUN_TIMEOUT_S} s; log: {log}")
        if not out.exists():
            fail(f"no result (exit {code}); log tail:\n" +
                 "".join(log.read_text().splitlines(True)[-30:]))
        res = json.loads(out.read_text())
        shutil.copy(out, results / f"{stem}.json")
        spans = scratch / "result.spans.jsonl"
        if spans.exists():
            shutil.copy(spans, results / f"{stem}.spans.jsonl")
    except KeyboardInterrupt:
        fail("interrupted", 130)
    finally:
        shutil.rmtree(scratch, ignore_errors=True)

    wl = layers["workloads"][args.workload]
    # workload-specific names of the end-to-end figures, for people reading logs
    for name, (src, unit) in wl["reported_as"].items():
        v = (res["end_to_end"].get(src) or res["summary"].get(src) or {}).get("value")
        print(f"perfbench: {args.workload} {name} = {v} {unit}")
    ratio = res["failed"] / max(1, res["attempted"])
    print(f"perfbench: {args.workload} failed_ratio = {ratio} ratio "
          f"({res['failed']} of {res['attempted']} operations)")
    for c in res["checks"]:
        if not c["ok"]:
            print(f"perfbench: CHECK FAILED {c['name']}: {c['detail']}",
                  file=sys.stderr)

    if args.trace == 0:
        wanted = spec["end_to_end"]
        got = res["end_to_end"]
    else:
        wanted = spec["per_layer"]
        got = res["per_layer"]
    # a layer this workload never calls did no work: its metrics read 0
    idle = set(layers["layer_names"]) - set(wl["layers"])
    metrics, missing = {}, []
    for m in wanted:
        n = m["name"]
        parts = n.split(".")
        if n in got and got[n]["value"] is not None:
            metrics[n] = {"value": got[n]["value"], "unit": m["unit"]}
        elif args.trace == 1 and (parts[0] in idle or
                                  parts[0] == "self_s" and parts[1] in idle):
            metrics[n] = {"value": 0.0, "unit": m["unit"]}
        else:
            missing.append(n)
    if missing:
        fail(f"metrics not measured: {missing}")
    correct = bool(res["correct"])
    print(json.dumps({"correct": correct, "attempted": res["attempted"],
                      "failed": res["failed"], "metrics": metrics}), flush=True)
    sys.exit(0 if correct else 1)


if __name__ == "__main__":
    main()
