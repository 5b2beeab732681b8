#!/usr/bin/env python3
"""Message-path and analytics benchmark of polarspark.

    python3 perfbench/run.py --workload ingest|pubsub|analytics --seed N \
        --seconds S --trace 0|1

Builds the program from source on first use (perfbench/build.py), runs one
workload in one JVM and prints, as the last line of stdout, one JSON object
{"correct", "attempted", "failed", "metrics"}: the end-to-end metrics of
BENCHMARK.json with --trace 0, the per-layer metrics with --trace 1. The
traced run also writes its spans to .bench_build/trace/ and, when untraced
runs of the same workload were made in this checkout, prints the tracing
overhead against their medians. Exits non-zero when a correctness check
fails or the run cannot complete.
"""
import argparse
import json
import shutil
import signal
import statistics
import subprocess
import sys
from pathlib import Path

sys.dont_write_bytecode = True
sys.path.insert(0, str(Path(__file__).resolve().parent))
import build  # noqa: E402

WORKLOADS = ("ingest", "pubsub", "analytics")
RUN_TIMEOUT_S = 170


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()
    signal.signal(signal.SIGTERM, build.stop_children)
    signal.signal(signal.SIGINT, build.stop_children)

    spec_path = build.ROOT / "BENCHMARK.json"
    try:
        spec = json.loads(spec_path.read_text())
        classes, fixtures = build.build()
    except (OSError, ValueError, build.BuildError) as e:
        print(f"[perfbench] cannot run: {e}", file=sys.stderr)
        return 2
    wanted = [m["name"] for m in spec["per_layer" if a.trace else "end_to_end"]]

    work = build.BUILD / "runs" / f"{a.workload}-{a.seed}-{a.trace}"
    shutil.rmtree(work, ignore_errors=True)
    work.mkdir(parents=True)
    log = work.parent / f"{a.workload}-{a.seed}-{a.trace}.log"
    cmd = build.java_cmd(classes, "run", a.workload, str(a.seed), str(a.seconds), str(a.trace),
                         str(work), str(fixtures))
    with open(log, "w") as lf:
        proc = subprocess.Popen(cmd, stdout=subprocess.PIPE, stderr=lf, cwd=work, text=True,
                                env=build.child_env())
        build.CHILDREN.append(proc)
        try:
            out, _ = proc.communicate(timeout=RUN_TIMEOUT_S)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
            print(f"[perfbench] run exceeded {RUN_TIMEOUT_S}s; log: {log}", file=sys.stderr)
            return 1
    lines = [l for l in out.splitlines() if l.strip()]
    if proc.returncode != 0 or not lines or not lines[-1].startswith("{"):
        print(f"[perfbench] run failed (exit {proc.returncode}); log: {log}", file=sys.stderr)
        print("\n".join(lines[-20:]), file=sys.stderr)
        return 1
    for l in lines[:-1]:
        print(l)
    res = json.loads(lines[-1])
    if (work / "trace").is_dir():
        dst = build.BUILD / "trace"
        dst.mkdir(exist_ok=True)
        for f in (work / "trace").iterdir():
            shutil.copyfile(f, dst / f.name)
    shutil.rmtree(work, ignore_errors=True)

    results = build.BUILD / "results"
    results.mkdir(exist_ok=True)
    (results / f"{a.workload}-seed{a.seed}-trace{a.trace}.json").write_text(json.dumps(res) + "\n")
    if a.trace:
        report_overhead(results, a.workload, res["e2e"])

    source = res["layer" if a.trace else "e2e"]
    missing = [m for m in wanted if m not in source]
    if missing:
        print(f"[perfbench] metrics not measured: {missing}", file=sys.stderr)
    for g in res["guards"]:
        print(f"[perfbench] validity guard tripped: {g}", file=sys.stderr)
    correct = bool(res["correct"]) and not missing
    print(json.dumps({"correct": correct, "attempted": res["attempted"], "failed": res["failed"],
                      "metrics": {m: source[m] for m in wanted if m in source}}))
    return 0 if correct else 1


def report_overhead(results, workload, traced):
    """Traced end-to-end values against the median of this checkout's
    untraced runs of the same workload."""
    runs = [json.loads(p.read_text())["e2e"] for p in results.glob(f"{workload}-seed*-trace0.json")]
    if not runs:
        print(f"tracing overhead: no untraced {workload} run in this checkout to compare with")
        return
    for name, m in traced.items():
        vals = [r[name]["value"] for r in runs if name in r]
        base = statistics.median(vals) if vals else 0
        if base:
            print(f"tracing overhead: {name} traced {m['value']:.4g} vs untraced median "
                  f"{base:.4g} over {len(runs)} runs ({100.0 * (m['value'] / base - 1):+.1f}%)")


if __name__ == "__main__":
    sys.exit(main())
