#!/usr/bin/env python3
"""graft benchmark: one workload, one seed, one result line.

    python3 perfbench/run.py --workload <train_stream|curate_corpus|ann_serve>
        --seed <n> --seconds <s> --trace <0|1>

Run from the root of a graft checkout. It builds graft and the harness from
source (perfbench/build.py), generates the seeded input (perfbench/gen.py),
runs the harness JVM on local[nproc], replays graft's oracle SQL in DuckDB
(perfbench/checks.py), and prints as its last stdout line

    {"correct": .., "attempted": .., "failed": .., "metrics": {..}}

with the end-to-end metrics (--trace 0) or the per-layer metrics (--trace 1)
that BENCHMARK.json lists. The line before it is the full record: every
workload metric with its unit and sample count, the per-layer counters,
check outcomes, input sizes and the environment. See perfbench/README.md.
"""
import argparse
import json
import os
import shutil
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)
sys.dont_write_bytecode = True  # leave nothing in the checkout outside .bench_build

import build  # noqa: E402
import checks  # noqa: E402
import gen  # noqa: E402

# workload -> (table, factor of the sf0.1 row count)
WORKLOADS = {
    "train_stream": ("lineitem", 0.25),
    "curate_corpus": ("documents", 0.2),
    "ann_serve": ("embeddings", 10),
}
JVM_HEAP = "3g"
HARNESS_TIMEOUT_S = 150
# Spark on JDK 17 outside spark-submit needs these (build.sbt's jdk17AddOpens).
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]


def load_bench_spec():
    with open(os.path.join(build.ROOT, "BENCHMARK.json")) as f:
        return json.load(f)


def pct(values, p):
    """Linear-interpolated percentile p (0-100) of a non-empty list."""
    v = sorted(values)
    if len(v) == 1:
        return v[0]
    x = (len(v) - 1) * p / 100.0
    lo = int(x)
    hi = min(lo + 1, len(v) - 1)
    return v[lo] + (v[hi] - v[lo]) * (x - lo)


def timing(samples, name, ps):
    """{name.pN: value} for each percentile, plus the sample count."""
    vals = samples.get(name, [])
    out = {f"{name}.p{p}": pct(vals, p) if vals else None for p in ps}
    out[f"{name}.n"] = len(vals)
    return out


def workload_metrics(rec):
    """The metrics the workload reports, named as in README.md."""
    s = rec["samples"]
    m = {"setup_s": statistics.median(s["setup_s"]),
         "rss_peak_mb": rec["env"]["rss_peak_mb"],
         "ops_failed_frac": rec["failed"] / max(1, rec["attempted"])}
    w = rec["workload"]
    if w == "train_stream":
        # Epoch 0 also builds the source index; epoch 1 reuses it.
        for e in (0, 1):
            m[f"first_batch_s.e{e}"] = statistics.median(s[f"first_batch_s.e{e}"])
        # Per iteration, the mean over its two epochs; then the median.
        m["first_batch_s"] = statistics.median(
            (a + b) / 2 for a, b in zip(s["first_batch_s.e0"], s["first_batch_s.e1"]))
        m["examples_per_s"] = sum(s["examples"]) / sum(s["epoch_s"])
        m.update(timing(s, "batch_wait_ms", [50, 99]))
    elif w == "curate_corpus":
        m["docs_per_s"] = statistics.median(s["docs_per_s"])
        m["call_s"] = statistics.median(s["call_s"])
    elif w == "ann_serve":
        m["index_build_s"] = s["index_build_s"][0]
        m.update(timing(s, "probe_ms", [50, 90]))
        m["probe_s"] = m["probe_ms.p50"] / 1e3
        m.update(timing(s, "append_ms", [50]))
        m["queries_per_s"] = sum(s["queries"]) / sum(s["round_s"])
        m["recall_at_5"] = statistics.mean(s["recall_at_5"]) if s.get("recall_at_5") else None
    return m


def layer_metrics(rec, names):
    """Per-layer metrics: the median over the workload's measured steps, or
    over the harness's own samples for set-up and ANN operations."""
    main_kind = {"train_stream": "epoch", "curate_corpus": "call", "ann_serve": "round"}
    out = {}
    for n in names:
        if n in rec["samples"]:
            out[n] = statistics.median(rec["samples"][n])
        elif n == "sources.load_s":
            out[n] = statistics.median(rec["samples"]["load_s"])
        else:
            kind = "open" if n == "ann.read_index_jobs" else main_kind[rec["workload"]]
            vals = [st["counters"][n] for st in rec.get("steps", [])
                    if st["kind"] == kind and n in st["counters"]]
            out[n] = statistics.median(vals) if vals else 0.0
    return out


def fail(msg, code=2):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(code)


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    a = ap.parse_args()

    spec = load_bench_spec()
    os.makedirs(build.BUILD_DIR, exist_ok=True)
    log_path = os.path.join(build.BUILD_DIR, f"{a.workload}_s{a.seed}_t{a.trace}.log")
    with open(log_path, "w") as log:
        try:
            classes, jars = build.ensure(log=log)
        except (build.BuildError, subprocess.TimeoutExpired) as e:
            fail(f"build failed ({e}); see {log_path}")
        table, factor = WORKLOADS[a.workload]
        data_dir, meta = gen.generate(table, factor, a.seed,
                                      os.path.join(build.BUILD_DIR, "inputs"))
        work = os.path.join(build.BUILD_DIR, "work", f"{a.workload}_{a.seed}")
        shutil.rmtree(work, ignore_errors=True)
        os.makedirs(work)
        out = os.path.join(work, "record.json")
        cpus = os.cpu_count() or 1
        opens = [x for p in ADD_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")]
        cmd = (["java", f"-Xms{JVM_HEAP}", f"-Xmx{JVM_HEAP}", "-Xss8m", "-XX:+UseParallelGC",
                f"-Djava.io.tmpdir={work}", "-Dspark.callstack.depth=60"] + opens +
               ["-cp", classes + os.pathsep + os.path.join(jars, "*"), "perfbench.Harness",
                a.workload, data_dir, str(a.seconds), str(a.trace), work, str(cpus),
                str(a.seed), out])
        t0 = time.time()
        try:
            res = subprocess.run(cmd, stdout=log, stderr=log, timeout=HARNESS_TIMEOUT_S)
        except subprocess.TimeoutExpired:
            fail(f"harness timed out after {HARNESS_TIMEOUT_S} s; see {log_path}")
        if res.returncode != 0 or not os.path.exists(out):
            fail(f"harness exited with {res.returncode}; see {log_path}")
        with open(out) as f:
            rec = json.load(f)
        wall = time.time() - t0

    check_list = [(n, c["ok"], c["detail"]) for n, c in rec["checks"].items()]
    try:
        check_list += getattr(checks, a.workload)(rec, data_dir)
    except Exception as e:  # an oracle that cannot run is a failed check
        check_list.append((f"{a.workload}.duckdb", False, repr(e)))
    failed = rec["failed"]
    if not all(ok for _, ok, _ in check_list):
        failed = rec["attempted"]  # a failed replay means no output was right
    rec["failed"] = failed

    wm = workload_metrics(rec)
    full = {
        "workload": a.workload, "seed": a.seed, "traced": bool(a.trace),
        "input": {"table": table, "factor": factor, **meta},
        "metrics": wm,
        "checks": {n: {"ok": ok, "detail": d} for n, ok, d in check_list},
        "iterations": rec["iterations"], "measured_s": rec["measured_s"],
        "check_s": rec["check_s"],
        "harness_wall_s": wall, "env": {**rec["env"], "cpus": cpus},
    }
    if a.trace:
        full["layers"] = layer_metrics(rec, [x["name"] for x in spec["per_layer"]])
        full["attribution"] = rec.get("attribution")
        full["modules"] = rec.get("modules")
    records = os.path.join(build.BUILD_DIR, "records")
    os.makedirs(records, exist_ok=True)
    with open(os.path.join(records, f"{a.workload}_s{a.seed}_t{a.trace}.json"), "w") as f:
        json.dump({**full, "record": rec}, f, indent=1)
    shutil.rmtree(work, ignore_errors=True)

    if a.trace:
        metrics = {x["name"]: {"value": full["layers"][x["name"]], "unit": x["unit"]}
                   for x in spec["per_layer"]}
    else:
        metrics = {x["name"]: {"value": e2e_value(a.workload, x["name"], wm), "unit": x["unit"]}
                   for x in spec["end_to_end"]}
    print(json.dumps(full))
    print(json.dumps({"correct": failed == 0 and all(ok for _, ok, _ in check_list),
                      "attempted": rec["attempted"], "failed": failed,
                      "metrics": metrics}))


# The end-to-end metrics every workload reports, from its own metrics:
# first_result_s is the time to a first result and throughput_per_s the
# items completed per second (README.md, "End-to-end metrics").
E2E_SOURCES = {
    "train_stream": {"first_result_s": "first_batch_s", "throughput_per_s": "examples_per_s"},
    "curate_corpus": {"first_result_s": "call_s", "throughput_per_s": "docs_per_s"},
    "ann_serve": {"first_result_s": "probe_s", "throughput_per_s": "queries_per_s"},
}


def e2e_value(workload, name, wm):
    return wm.get(E2E_SOURCES[workload].get(name, name))


if __name__ == "__main__":
    main()
