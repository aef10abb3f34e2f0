#!/usr/bin/env python3
"""Run one benchmark workload and print its result as the last line.

    python3 perfbench/run.py --workload live|catalog --seed N \
        --seconds S --trace 0|1

Run from the root of a checkout. The first run compiles the engine and
the harness into $CARGO_TARGET_DIR/perfbench (default .bench_build). With
--trace 0 the result carries the end-to-end metrics; with --trace 1 it
carries the per-layer metrics and a per-layer self-time table is printed
before it. See perfbench/README.md.
"""
import argparse
import json
import os
import shutil
import subprocess
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from pb import build, catalog_data, context, metrics, oracle, traceview  # noqa: E402

WORKLOADS = ("live", "catalog")
CATALOG_SF = 0.005
GEN_REPS = 3
JVM_TIMEOUT_S = 170


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()

    root = os.getcwd()
    build_dir = os.path.join(root, os.environ.get("CARGO_TARGET_DIR", ".bench_build"), "perfbench")
    os.makedirs(build_dir, exist_ok=True)
    classes = build.build(root, build_dir)

    work = os.path.join(build_dir, "runs", f"{args.workload}-{args.trace}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    ctx = {"nproc": os.cpu_count(), "commit": context.commit(root),
           "loadavg_1m_start": context.loadavg_1m(), "seed": args.seed}
    stat0 = context.cpu_times()

    jvm_args = [args.workload, args.seed, args.seconds, args.trace, work]
    gen_reps = []
    data_dir = None
    if args.workload == "catalog":
        data_dir = os.path.join(build_dir, "data", f"catalog-{args.seed}")
        for _ in range(GEN_REPS):
            t = time.time()
            catalog_data.generate(data_dir, args.seed, CATALOG_SF)
            gen_reps.append(time.time() - t)
        jvm_args.append(data_dir)

    launch_ms = time.time() * 1000
    with open(os.path.join(work, "jvm.log"), "w") as log:
        tmp = os.path.join(work, "tmp")
        os.makedirs(tmp)
        proc = subprocess.Popen(build.harness_cmd(root, classes, jvm_args, tmp), stdout=log,
                                stderr=subprocess.STDOUT, cwd=work,
                                env=dict(os.environ, SPARK_LOCAL_DIRS=tmp))
        try:
            code = proc.wait(timeout=JVM_TIMEOUT_S)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
            raise SystemExit(f"harness timed out after {JVM_TIMEOUT_S} s; see {log.name}")
    if code != 0:
        raise SystemExit(f"harness failed with code {code}; see {os.path.join(work, 'jvm.log')}")
    with open(os.path.join(work, "raw.json")) as f:
        raw = json.load(f)
    ctx["loadavg_1m_end"] = context.loadavg_1m()
    ctx["steal_pct"] = context.steal_pct(stat0, context.cpu_times())
    ctx["cores"] = int(raw["cpus"])  # engine cores
    ctx["jvm_flags"] = raw["jvm_flags"]
    jvm_start_s = (raw["main_entry_ms"] - launch_ms) / 1000.0

    sqls = {r["query"]: r["oracle_sql"] for r in raw["check"].get("results", []) if r["oracle_sql"]}
    fps = oracle.fingerprints(data_dir, sqls) if data_dir else None
    attempted_checks, failures = metrics.check(raw, work, fps)
    attempted, failed = metrics.counts(raw, attempted_checks, failures)
    for f in failures:
        print("CHECK FAILED:", f, file=sys.stderr)

    e2e = metrics.end_to_end(raw, jvm_start_s, gen_reps)
    last = os.path.join(build_dir, f"last-untraced-{args.workload}.json")
    if args.trace:
        chosen = metrics.per_layer(raw, jvm_start_s, gen_reps)
        rows, main_ms, serve_ms, _ = traceview.table(raw["spans"], metrics.request_spans(raw))
        print(f"per-layer self time, workload {args.workload} (traced run):")
        print(traceview.render(rows, main_ms, serve_ms))
        if os.path.exists(last):
            with open(last) as f:
                base = json.load(f)
            print("tracing overhead (traced vs last untraced run of this workload):")
            for k, (v, unit) in e2e.items():
                b = base.get(k)
                if b:
                    print(f"  {k:18} {b:12.3f} -> {v:12.3f} {unit:5} ({100.0 * (v - b) / b:+.1f}%)")
    else:
        chosen = e2e
        with open(last, "w") as f:
            json.dump({k: v for k, (v, _) in e2e.items()}, f)
    with open(os.path.join(work, "context.json"), "w") as f:
        json.dump(ctx, f)
    print("context:", json.dumps(ctx))
    print(json.dumps({
        "correct": not failures and failed == 0,
        "attempted": attempted,
        "failed": failed,
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in chosen.items()},
    }))


if __name__ == "__main__":
    main()
