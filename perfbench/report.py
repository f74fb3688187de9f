#!/usr/bin/env python3
"""Per-layer report: where a request's time goes, per workload.

    python3 perfbench/report.py [--seed N] [--seconds S] [workload ...]

For each workload it makes an untraced and a traced run with the same
seed, then prints a Markdown table per workload: the untraced end-to-end
numbers, the traced per-layer self time per measured request (the self
times add up to the traced request time), and the tracing overhead as
the traced minus the untraced mean request time.
"""
import argparse
import json
import os
import statistics
import subprocess
import sys
import tempfile

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import run  # noqa: E402

LAYERS = [
    ("self.request_s", "harness glue around the request"),
    ("self.text2sql_s", "Text2Sql.text2sql (prompt, translate), less llm"),
    ("self.llm_s", "LLM callback (StubLlm)"),
    ("self.exec.run_sql_s", "Runner.runSql driver work (rewrite, analysis, DML)"),
    ("self.exec.result_s", "Runner.resultJson driver work"),
    ("self.spark.jobs_s", "Spark jobs (wall time)"),
]


def one(workload, seed, seconds, trace, keep):
    p = subprocess.run([sys.executable, os.path.join(HERE, "run.py"),
                        "--workload", workload, "--seed", str(seed),
                        "--seconds", str(seconds), "--trace", str(trace),
                        "--keep", keep], cwd=run.ROOT, capture_output=True,
                       text=True)
    if p.returncode != 0:
        sys.exit(f"{workload} trace={trace} failed:\n{p.stderr[-2000:]}")
    with open(os.path.join(keep, "result.json")) as fh:
        return json.loads(p.stdout.strip().splitlines()[-1]), json.load(fh)


def report(workload, seed, seconds):
    with tempfile.TemporaryDirectory(dir=run.ROOT, prefix=".bench_report") as tmp:
        plain, raw0 = one(workload, seed, seconds, 0, os.path.join(tmp, "t0"))
        traced, raw1 = one(workload, seed, seconds, 1, os.path.join(tmp, "t1"))
    lat0 = run.times(raw0, *run.REQUESTS[workload])
    mean0 = statistics.mean(lat0)
    req1 = raw1["layers"]["trace.request_s"]
    print(f"## {workload} (seed {seed}, {seconds} s)\n")
    print("| end-to-end, untraced | value |\n|---|---|")
    for k, v in plain["metrics"].items():
        print(f"| {k} | {v['value']:.4g} {v['unit']} |")
    print(f"| mean request | {mean0:.4g} s ({len(lat0)} requests) |\n")
    print("| layer (traced) | self time / request | share |\n|---|---|---|")
    total = 0.0
    for k, what in LAYERS:
        v = raw1["layers"].get(k, 0.0)
        if v:
            total += v
            print(f"| {what} | {v * 1e3:.1f} ms | {100 * v / req1:.1f}% |")
    print(f"| sum of self times | {total * 1e3:.1f} ms | {100 * total / req1:.1f}% |")
    print(f"| traced request | {req1 * 1e3:.1f} ms | 100% |\n")
    print(f"Tracing overhead: {(req1 - mean0) * 1e3:+.1f} ms per request "
          f"({100 * (req1 - mean0) / mean0:+.1f}% of the untraced mean).\n")
    keys = ["ingest_s", "reingest_s", "llm.s", "ingest.jobs", "ingest.hash_s",
            "ingest.snapshot_s", "ingest.cache_write_s", "plan.analysis_s",
            "plan.optimization_s", "plan.planning_s", "spark.jobs",
            "spark.tasks", "driver_gap_s", "dml.jobs_per_stmt",
            "exec.insert_s", "exec.upsert_s", "exec.upsert_conflict_s",
            "exec.update_s", "exec.delete_s", "pass_s", "cold_pass_s"]
    rows = [(k, traced["metrics"][k]) for k in keys
            if k in traced["metrics"] and traced["metrics"][k]["value"]]
    if rows:
        print("| other traced numbers | value |\n|---|---|")
        for k, v in rows:
            print(f"| {k} | {v['value']:.4g} {v['unit']} |")
        print()


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=int, default=run.load_spec()["run_seconds"])
    ap.add_argument("workloads", nargs="*")
    a = ap.parse_args()
    for w in a.workloads or [w["name"] for w in run.load_spec()["workloads"]]:
        report(w, a.seed, a.seconds)


if __name__ == "__main__":
    main()
