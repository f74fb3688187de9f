#!/usr/bin/env python3
"""Benchmark entry point.

    python3 perfbench/run.py --workload ask|dml --seed N --seconds S \
        --trace 0|1

Run from the root of a checkout. It builds the library together with the
harness (sbt, once per source state), makes the seeded inputs in a fresh
working directory under `.bench_work/`, runs one workload in one JVM,
checks every answer against the golden engines (SQLite and DuckDB over
the same parquet) and prints one JSON line as the last line of stdout:

    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}

With --trace 0 the metrics are the end-to-end ones; with --trace 1 the
per-layer ones, and a traced `ask` run also makes the operator passes
(see perfbench/README.md).
"""
import argparse
import hashlib
import json
import os
import shutil
import signal
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import gen  # noqa: E402
import golden  # noqa: E402

ROOT = os.path.dirname(HERE)
LIB_SRC = os.path.join(ROOT, "src", "main", "scala")
BUILD_DIR = os.path.join(HERE, "target")
WORK_ROOT = os.path.join(ROOT, ".bench_work")
DEADLINE_S = 175  # the whole run, build excepted
SF = 0.01  # scale factor of the generated tables

# Seconds one measured block takes on the reference host (4 cores). The
# number of measured blocks is --seconds over this, so it is fixed by the
# command line and every build under test runs the same requests; a run
# that takes longer than CAP x --seconds stops early, as a safety net.
BLOCK_S = {"ask": 4.5, "dml": 9.0}
CAP = 4
# operator passes of a traced `ask` run: one cold, the rest warm
OPS_PASSES = 4

JVM_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
    "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]


def fail(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


class HarnessFailed(Exception):
    pass


def source_stamp():
    h = hashlib.sha256()
    for base in (LIB_SRC, os.path.join(HERE, "src")):
        for d, _, files in sorted(os.walk(base)):
            for f in sorted(files):
                p = os.path.join(d, f)
                h.update(p[len(ROOT):].encode())
                with open(p, "rb") as fh:
                    h.update(fh.read())
    with open(os.path.join(HERE, "build.sbt"), "rb") as fh:
        h.update(fh.read())
    return h.hexdigest()


def build():
    """Compile library + harness with sbt unless this source state is built;
    returns the runtime classpath."""
    stamp_f = os.path.join(BUILD_DIR, "perfbench.stamp")
    cp_f = os.path.join(BUILD_DIR, "perfbench.classpath")
    stamp = source_stamp()
    if os.path.exists(stamp_f) and os.path.exists(cp_f):
        with open(stamp_f) as fh:
            if fh.read() == stamp:
                with open(cp_f) as fh2:
                    return fh2.read().strip()
    os.makedirs(BUILD_DIR, exist_ok=True)
    if os.path.exists(os.path.join(BUILD_DIR, "perfbench.jsa")):
        os.remove(os.path.join(BUILD_DIR, "perfbench.jsa"))
    log = os.path.join(BUILD_DIR, "build.log")
    cmd = ["sbt", "--batch", "-Dsbt.log.noformat=true",
           "-Dsbt.server.autostart=false", "compile",
           "export Runtime/fullClasspath"]
    with open(log, "w") as fh:
        p = subprocess.run(cmd, cwd=HERE, stdout=subprocess.PIPE,
                           stderr=fh, text=True, timeout=840)
        fh.write(p.stdout)
    lines = [l for l in p.stdout.splitlines() if l.strip() and not l.startswith("[")]
    if p.returncode != 0 or not lines:
        fail(f"build failed, see {log}")
    cp = lines[-1].strip()
    with open(cp_f, "w") as fh:
        fh.write(cp)
    make_archive(cp)
    with open(stamp_f, "w") as fh:
        fh.write(stamp)
    return cp


def make_archive(cp):
    """Class-data sharing: one throwaway `ask` set-up (ingest and warm-up
    block, nothing measured) archives the classes it loaded as its JVM
    exits; every measured run then maps the same archive. If no archive
    can be made, no run uses one, so runs still start alike."""
    jsa = os.path.join(BUILD_DIR, "perfbench.jsa")
    work = os.path.join(WORK_ROOT, f"archive-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    try:
        data = os.path.join(work, "input")
        gen.make_tables(data, SF, 0, gen.TPCH)
        inputs = make_inputs("ask", 0, 0, 0, 0, data)
        run_jvm(cp, work, inputs, time.time() + DEADLINE_S,
                f"-XX:ArchiveClassesAtExit={jsa}")
    except HarnessFailed as e:
        print(f"perfbench: no class-data archive, runs start without one: {e}",
              file=sys.stderr)
        if os.path.exists(jsa):
            os.remove(jsa)
    finally:
        shutil.rmtree(work, ignore_errors=True)


def run_jvm(cp, work, inputs, deadline, cds):
    """Run the harness in its own process group and wait for it."""
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    in_f, out_f = os.path.join(work, "inputs.json"), os.path.join(work, "result.json")
    with open(in_f, "w") as fh:
        json.dump(inputs, fh)
    cmd = ["java", "-Xmx4g", f"-Djava.io.tmpdir={tmp}",
           "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC"]
    cmd += [cds] if cds else []
    for o in JVM_OPENS:
        cmd += ["--add-opens", f"{o}=ALL-UNNAMED"]
    cmd += ["-cp", cp, "perfbench.Main", "--inputs", in_f, "--out", out_f]
    env = dict(os.environ, SPARK_LOCAL_DIRS=tmp,
               GRAFT_CACHE_DIR=os.path.join(work, "cache"))
    with open(os.path.join(work, "jvm.log"), "w") as log:
        p = subprocess.Popen(cmd, cwd=work, env=env, stdout=log, stderr=log,
                             start_new_session=True)

        def stop(*_):
            os.killpg(p.pid, signal.SIGKILL)
            p.wait()
        # a stopped benchmark stops its JVM too (and `main` cleans up)
        for sig in (signal.SIGTERM, signal.SIGINT):
            signal.signal(sig, lambda *_: (stop(), fail("interrupted")))
        try:
            p.wait(timeout=max(5, deadline - time.time()))
        except subprocess.TimeoutExpired:
            stop()
            raise HarnessFailed("harness timed out")
    if p.returncode != 0 or not os.path.exists(out_f):
        with open(os.path.join(work, "jvm.log")) as fh:
            tail = fh.read()[-3000:]
        raise HarnessFailed(f"harness exited {p.returncode}:\n{tail}")
    with open(out_f) as fh:
        return json.load(fh)


def pct(xs, q):
    """Linear-interpolated percentile q (0-100) of xs."""
    xs = sorted(xs)
    if not xs:
        return 0.0
    k = (len(xs) - 1) * q / 100.0
    lo = int(k)
    hi = min(lo + 1, len(xs) - 1)
    return xs[lo] + (xs[hi] - xs[lo]) * (k - lo)


def med(xs):
    return statistics.median(xs) if xs else 0.0


def main(argv=None):
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=sorted(BLOCK_S))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, default=0, choices=[0, 1])
    # keep the raw result, spans and log of this run in a directory
    ap.add_argument("--keep", default="")
    a = ap.parse_args(argv)
    if not os.path.isdir(LIB_SRC):
        fail(f"library sources not found at {LIB_SRC}")
    cp = build()
    t_start = time.time()

    blocks = max(1, round(a.seconds / BLOCK_S[a.workload]))
    work = os.path.join(WORK_ROOT, f"{a.workload}-{a.seed}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    data = os.path.join(work, "input")
    os.makedirs(work)
    try:
        ops = a.workload == "ask" and a.trace == 1
        gen.make_tables(data, SF, a.seed, gen.ALL_TABLES if ops else gen.TPCH)
        inputs = make_inputs(a.workload, a.seed, blocks, CAP * a.seconds,
                             a.trace, data)
        t_gen = time.time()
        jsa = os.path.join(BUILD_DIR, "perfbench.jsa")
        try:
            res = run_jvm(cp, work, inputs, t_start + DEADLINE_S,
                          f"-XX:SharedArchiveFile={jsa}" if os.path.exists(jsa) else "")
        except HarnessFailed as e:
            fail(str(e))
        t_jvm = time.time()
        check = {"ask": golden.check_ask, "dml": golden.check_dml}[a.workload]
        attempted, failed, notes = check(res, inputs, data)
        if ops:
            att, fl, nt = golden.check_operators(res, inputs, data)
            attempted, failed, notes = attempted + att, failed + fl, notes + nt
        ran = sum(1 for x in res["samples"] if x["measured"])
        if ran < blocks * inputs["per_block"]:
            print(f"perfbench: stopped after {ran} measured requests at the "
                  f"{CAP * a.seconds:g} s cap", file=sys.stderr)
        for n in notes[:20]:
            print(f"perfbench: {n}", file=sys.stderr)
        print(f"perfbench: inputs {t_gen - t_start:.1f}s, harness "
              f"{t_jvm - t_gen:.1f}s, checks {time.time() - t_jvm:.1f}s",
              file=sys.stderr)
        if a.keep:
            os.makedirs(a.keep, exist_ok=True)
            for f in ("result.json", "spans.jsonl", "jvm.log"):
                if os.path.exists(os.path.join(work, f)):
                    shutil.copy(os.path.join(work, f), a.keep)
        metrics = end_to_end(a.workload, res) if a.trace == 0 else \
            per_layer(res, attempted, failed)
    finally:
        shutil.rmtree(work, ignore_errors=True)
        try:
            os.rmdir(WORK_ROOT)
        except OSError:
            pass
    print(json.dumps({"correct": failed == 0, "attempted": attempted,
                      "failed": failed, "metrics": metrics}))


def make_inputs(workload, seed, blocks, cap_s, trace, data):
    """What the harness reads: its settings and the seeded request stream,
    the warm-up block plus `blocks` measured ones."""
    inputs = {"workload": workload, "trace": trace, "cores": os.cpu_count(),
              "data_dir": data, "blocks": blocks, "cap_s": cap_s, "seed": seed,
              "sf": SF}
    if workload == "ask":
        qs = gen.questions(seed, SF, blocks + 1)
        inputs["questions"] = [{k: q[k] for k in ("id", "block", "text", "sql")}
                               for q in qs]
        inputs["per_block"] = len(gen.TEMPLATES)
        if trace:
            inputs["key_orders"] = gen.key_orders(seed, OPS_PASSES)
            inputs["keys"] = gen.OPERATOR_KEYS
    else:
        inputs["setup_sql"] = gen.dml_setup()
        inputs["statements"] = gen.statements(seed, SF, blocks + 1)
        inputs["per_block"] = gen.BLOCK_STATEMENTS
        inputs["final_tables"] = {t: v[0] for t, v in gen.DML_TABLES.items()}
    return inputs


def times(res, *kinds, measured=True):
    """Latencies of the successful samples of the given kinds."""
    return [x["s"] for x in res["samples"] if x["kind"] in kinds and x["ok"]
            and x["measured"] == measured]


WRITES = ("insert", "upsert", "upsert_conflict", "update", "delete")
REQUESTS = {"ask": ("ask",), "dml": WRITES + ("read",)}


def end_to_end(workload, res):
    lat = times(res, *REQUESTS[workload])
    return {
        "setup_s": {"value": res["setup_s"], "unit": "s"},
        "p50_s": {"value": med(lat), "unit": "s"},
        "retained_heap_mb": {"value": res["retained_heap_mb"], "unit": "MiB"},
    }


def load_spec():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        return json.load(fh)


def per_layer(res, attempted, failed):
    """Every per-layer metric of BENCHMARK.json; 0 where the workload does
    not exercise that layer."""
    vals = dict(res["layers"])
    writes = times(res, *WRITES)
    vals.update({
        "ingest_s": med(times(res, "ingest", measured=False)),
        "reingest_s": med(times(res, "reingest", measured=False)),
        "ask_p50_s": med(times(res, "ask")), "ask_p90_s": pct(times(res, "ask"), 90),
        "write_p50_s": med(writes), "write_p90_s": pct(writes, 90),
        "read_p50_s": med(times(res, "read")),
        "fail_ratio": failed / max(attempted, 1),
    })
    # the operator passes (traced `ask` only): pass 0 is cold
    passes, warm = {}, {}
    for x in res["samples"]:
        if x["kind"] != "key":
            continue
        p, key = x["id"].split(":", 1)
        passes.setdefault(int(p), []).append(x["s"])
        if p == "0":
            vals[f"ops.{key}.cold_s"] = x["s"]
        else:
            warm.setdefault(key, []).append(x["s"])
    if passes:
        vals["cold_pass_s"] = sum(passes.pop(0))
        vals["pass_s"] = med([sum(v) for v in passes.values()])
    for key, v in warm.items():
        vals[f"ops.{key}.warm_s"] = med(v)
    return {m["name"]: {"value": float(vals.get(m["name"], 0.0)), "unit": m["unit"]}
            for m in load_spec()["per_layer"]}


if __name__ == "__main__":
    main()
