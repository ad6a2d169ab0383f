#!/usr/bin/env python3
"""Cold-vs-warm pass benchmark of the graft engine.

    python3 perfbench/run.py --workload curation --seed 1 --seconds 10 --trace 0

Builds the library and the meter (see build.py), derives the workload's
inputs from the seed (inputs.py), runs one JVM with one closed-loop
client: a cold pass over the workload's queries, then warm passes for
`--seconds`. The output gate (gate.py) checks every query's result
against its DuckDB oracle. The last line of stdout is one JSON object:
the end-to-end metrics with `--trace 0`, the per-layer metrics of the
traced run with `--trace 1`. README.md defines every metric.
"""
import argparse
import json
import math
import os
import shutil
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)
import build  # noqa: E402
import gate  # noqa: E402
import inputs  # noqa: E402

# Why these workloads and these query subsets: README.md, "Workloads".
WORKLOADS = {
    "curation": {
        "queries": ["exact_dedup", "doc_quality", "corpus_curation", "bpe_pairs",
                    "dup_spans", "winnow_containment", "semdedup", "record_linkage"],
        "tables": ["documents", "embeddings"],
    },
    "iterative": {
        "queries": ["trade_scc", "part_rank", "copurchase_triangles", "merge_upsert",
                    "changelog_compact", "scd2_history", "stream_static_join", "stream_stream_join"],
        "tables": ["lineitem", "orders", "customer", "supplier", "part", "nation", "region", "events"],
    },
}
TAIL_BEYOND = 10        # the tail percentile keeps this many samples beyond it
JVM_HEAP = "3g"
# The meter JVM gets this long for set-up, the cold pass, the probes and
# the gate's result writes, plus JVM_TIME_PER_SECOND x the measuring time.
JVM_ALLOWANCE_S = 120
JVM_TIME_PER_SECOND = 3


def fail(msg):
    sys.stderr.write(f"perfbench: {msg}\n")
    sys.exit(2)


def jvm(classpath, run_dir, args, timeout):
    tmp = os.path.join(run_dir, "tmp")
    os.makedirs(tmp, exist_ok=True)
    cmd = (["java", f"-Xms{JVM_HEAP}", f"-Xmx{JVM_HEAP}", f"-Djava.io.tmpdir={tmp}", "-Dspark.ui.enabled=false"]
           + build.jvm_opens() + ["-cp", classpath, "graft.perfbench.PassMeter"]
           + [f"{k}={v}" for k, v in args.items()])
    with open(os.path.join(run_dir, "jvm.log"), "a") as log:
        try:
            r = subprocess.run(cmd, stdout=log, stderr=subprocess.STDOUT, timeout=timeout)
        except subprocess.TimeoutExpired:
            fail(f"meter JVM did not finish within {timeout} s")
    if r.returncode != 0:
        with open(os.path.join(run_dir, "jvm.log")) as f:
            log = f.read()
        at = log.find("Exception in thread")
        fail(f"meter JVM exited {r.returncode}:\n{log[at:at + 2000] if at >= 0 else log[-2000:]}")


def hd_quantile(xs, p):
    """Harrell-Davis estimate of the p-quantile (0 < p < 1): the mean of
    the order statistics weighted by a Beta(p(n+1), (1-p)(n+1)) density.
    With few distinct queries the latencies form clusters, and a plain
    order statistic jumps between neighbouring clusters; this one moves
    smoothly."""
    s = sorted(xs)
    n = len(s)
    a, b = p * (n + 1), (1 - p) * (n + 1)
    lnorm = math.lgamma(a + b) - math.lgamma(a) - math.lgamma(b)
    steps = 64  # midpoint rule per order statistic's interval
    w = []
    for i in range(n):
        h = 1.0 / n / steps
        w.append(h * sum(math.exp(lnorm + (a - 1) * math.log(x) + (b - 1) * math.log1p(-x))
                         for x in (i / n + (k + 0.5) * h for k in range(steps))))
    return sum(wi * xi for wi, xi in zip(w, s)) / sum(w)


def du_mb(*paths):
    total = 0
    for p in paths:
        for dirpath, _, files in os.walk(p):
            total += sum(os.path.getsize(os.path.join(dirpath, f)) for f in files)
    return total / 1e6


def self_times(spans):
    """Per-layer self time: a span's duration minus its children's."""
    child = {}
    for s in spans:
        if s["parent"] >= 0:
            child[s["parent"]] = child.get(s["parent"], 0) + s["end_ns"] - s["start_ns"]
    out = {}
    for s in spans:
        own = s["end_ns"] - s["start_ns"] - child.get(s["id"], 0)
        out[s["layer"]] = out.get(s["layer"], 0) + own / 1e9
    return out


def layer_metrics(rep, cores, run_dir):
    """The per-layer metrics of a traced run."""
    passes = rep["passes"]
    spans = rep["spans"]
    cold_req = {f"0/{q['query']}" for q in passes[0]["queries"]}
    traced_warm = [i for i, p in enumerate(passes) if i > 0 and p["traced"]]
    untraced_warm = [i for i, p in enumerate(passes) if i > 0 and not p["traced"]]
    warm_req = {f"{i}/{q['query']}" for i in traced_warm for q in passes[i]["queries"]}
    construct = [s for s in spans if s["name"] == "construct"]
    reads = [s for s in spans if s["name"] == "read" and s["req"] in warm_req]
    n = len(traced_warm)

    def tot(key, ss=reads):
        return sum(s[key] for s in ss) / n

    read_s = sum(s["end_ns"] - s["start_ns"] for s in reads) / 1e9 / n
    run_s = tot("run_ms") / 1e3
    qps = lambda idx: statistics.median(len(passes[i]["queries"]) / passes[i]["wall_s"] for i in idx)
    m = {
        "queries.construct_cold_s": sum(s["end_ns"] - s["start_ns"] for s in construct
                                        if s["req"] in cold_req) / 1e9,
        "queries.construct_warm_s": statistics.median(
            sum(q["construct_s"] for q in p["queries"]) for p in passes[1:]),
        "queries.construct_jobs": rep["construct_jobs"],
        "queries.artifact_builds": rep["artifact_builds"],
        "queries.artifact_write_mb": du_mb(os.path.join(run_dir, "artifacts"), os.path.join(run_dir, "tmp")),
        "queries.pinned_mb": rep["pinned_mb"],
        "stages.read_s": read_s,
        "stages.jobs": tot("jobs"),
        "stages.stages": tot("stages"),
        "stages.tasks": tot("tasks"),
        "stages.executor_run_s": run_s,
        "stages.executor_cpu_s": tot("cpu_ns") / 1e9,
        "stages.core_util": run_s / (read_s * cores),
        "stages.idle_core_s": read_s * cores - run_s,
        "stages.gc_s": tot("gc_ms") / 1e3,
        "stages.shuffle_write_mb": tot("shuffle_write_b") / 1e6,
        "stages.shuffle_read_mb": tot("shuffle_read_b") / 1e6,
        "stages.spill_mb": tot("spill_b") / 1e6,
        "stages.storage_mb": rep["storage_mb_peak"],
        "trace.qps_ratio": qps(untraced_warm) / qps(traced_warm),
    }
    m.update(rep["probes"])
    return m


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    a = ap.parse_args()

    with open(os.path.join(build.ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    os.makedirs(build.WORK, exist_ok=True)
    classpath = build.build()
    wl = WORKLOADS[a.workload]
    run_dir = os.path.join(build.WORK, f"run-{os.getpid()}")
    shutil.rmtree(run_dir, ignore_errors=True)
    os.makedirs(run_dir)
    try:
        t0 = time.time()
        data = os.path.join(run_dir, "data")
        inputs.sf001(data)
        out = os.path.join(run_dir, "report.json")
        gate_dir = os.path.join(run_dir, "gate")
        jvm(classpath, run_dir, {
            "dir": data, "queries": ",".join(wl["queries"]), "tables": ",".join(wl["tables"]),
            "seed": a.seed, "seconds": a.seconds, "trace": a.trace, "local_dir": os.path.join(run_dir, "local"),
            "artifacts_dir": os.path.join(run_dir, "artifacts"), "gate": gate_dir, "out": out},
            JVM_ALLOWANCE_S + JVM_TIME_PER_SECOND * a.seconds)
        with open(out) as f:
            rep = json.load(f)
        cores = rep["cores"]
        mismatch = {q: why for q, why in gate.check(data, gate_dir, wl["queries"], cores).items() if why}

        passes = rep["passes"]
        executions = [q for p in passes for q in p["queries"]]
        failed = sum(q["error"] is not None or q["query"] in mismatch for q in executions)
        lat = [q["construct_s"] + q["read_s"] for p in passes[1:] for q in p["queries"]]
        pct = math.floor(100 * (len(lat) - TAIL_BEYOND) / len(lat))
        if a.trace:
            metrics = layer_metrics(rep, cores, run_dir)
            metrics["queries.error_rate"] = failed / len(executions)
        else:
            metrics = {
                "setup_s": rep["setup_end_ms"] / 1000.0 - t0,
                "cold_pass_s": passes[0]["wall_s"],
                "warm_qps": statistics.median(len(p["queries"]) / p["wall_s"] for p in passes[1:]),
                "warm_query_p50_s": hd_quantile(lat, 0.5),
                "warm_query_tail_s": hd_quantile(lat, pct / 100),
            }
        declared = {m["name"]: m["unit"] for m in spec["per_layer" if a.trace else "end_to_end"]}
        if set(declared) != set(metrics):
            fail(f"metrics differ from BENCHMARK.json: {sorted(set(declared) ^ set(metrics))}")

        by_query = {}
        for p in passes[1:]:
            for q in p["queries"]:
                by_query.setdefault(q["query"], []).append(q["construct_s"] + q["read_s"])
        print("warm latencies (s): " + "; ".join(
            f"{q} " + " ".join(f"{x:.3f}" for x in xs) for q, xs in sorted(by_query.items())))
        cold = sorted(passes[0]["queries"], key=lambda q: -q["construct_s"])
        print(f"{a.workload} seed={a.seed}: artifact_builds={rep['artifact_builds']} "
              f"construct_jobs={rep['construct_jobs']} pinned_mb={rep['pinned_mb']:.1f}")
        print(f"set-up (s): inputs {rep['jvm_start_ms'] / 1000.0 - t0:.2f}, JVM start "
              f"{(rep['session_ms'] - rep['jvm_start_ms']) / 1000.0:.2f} (session included), "
              f"table warmup {(rep['setup_end_ms'] - rep['session_ms']) / 1000.0:.2f}")
        print("pass walls (s): cold " + " ".join(f"{p['wall_s']:.2f}" for p in passes[:1]) +
              ", warm " + " ".join(f"{p['wall_s']:.2f}" for p in passes[1:]))
        print("top cold construction costs: " + ", ".join(
            f"{q['query']} {q['construct_s']:.2f}s" for q in cold[:5]))
        print(f"warm_query_tail_s is p{pct} of {len(lat)} warm samples")
        for q, why in sorted(mismatch.items()):
            print(f"GATE FAIL {q}: {why}")
        for q in executions:
            if q["error"]:
                print(f"ERROR {q['query']}: {q['error']}")
        if a.trace:
            print("layer self time (s): " + ", ".join(
                f"{k} {v:.2f}" for k, v in sorted(self_times(rep["spans"]).items())))
            spans = os.path.join(build.WORK, f"spans-{a.workload}-{a.seed}.json")
            with open(spans, "w") as f:
                json.dump(rep["spans"], f)
            print(f"spans written to {os.path.relpath(spans)}")
        result = {
            "correct": failed == 0,
            "attempted": len(executions),
            "failed": failed,
            "metrics": {k: {"value": v, "unit": declared[k]} for k, v in metrics.items()},
        }
        print(json.dumps(result))
        return 0 if result["correct"] else 1
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)


if __name__ == "__main__":
    sys.exit(main())
