#!/usr/bin/env python3
"""Scale slope of the relational query shapes.

    python3 perfbench/slope.py

Runs the relational query list on key-offset copies of the sf0.01
tables (inputs.olap: 1 copy = sf0.01, 10 copies = lineitem at sf0.1
size, ...), one JVM per scale, and fits read = fixed + slope * rows per
query by least squares over the median warm read of each scale (rows
= lineitem rows). Writes the table to perfbench/scale_slope.md. A query
whose fixed term dominates its read at sf0.1 size is overhead-bound;
one whose slope term dominates is data-bound.
"""
import json
import os
import shutil
import statistics
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)
import build  # noqa: E402
import inputs  # noqa: E402
import run  # noqa: E402

QUERIES = ["tpch_q3", "tpch_q5", "tpch_q9", "tpch_q10", "tpch_q12", "tpch_q18", "tpch_q21",
           "pricing_summary", "join_large", "window_rank", "asof_join_native", "asof_join_broadcast"]
TABLES = ["lineitem", "orders", "customer", "supplier", "part", "nation", "region"]
BASE_LINEITEM_ROWS = 60_000  # rows of the sf0.01 lineitem table
COPIES = [1, 10, 40]  # scales, in copies of the sf0.01 relational tables
SEED = 1


def fit(xs, ys):
    mx, my = statistics.fmean(xs), statistics.fmean(ys)
    sxx = sum((x - mx) ** 2 for x in xs)
    slope = sum((x - mx) * (y - my) for x, y in zip(xs, ys)) / sxx
    return my - slope * mx, slope


def main():
    os.makedirs(build.WORK, exist_ok=True)
    classpath = build.build()
    reads = {}
    for c in COPIES:
        d = os.path.join(build.WORK, f"slope-{c}")
        shutil.rmtree(d, ignore_errors=True)
        inputs.olap(os.path.join(d, "data"), SEED, c, os.cpu_count())
        out = os.path.join(d, "report.json")
        run.jvm(classpath, d, {
            "dir": os.path.join(d, "data"), "queries": ",".join(QUERIES), "tables": ",".join(TABLES),
            "seed": SEED, "seconds": 0, "local_dir": os.path.join(d, "local"),
            "artifacts_dir": os.path.join(d, "artifacts"), "out": out}, 3600)
        with open(out) as f:
            passes = json.load(f)["passes"][1:]
        reads[c] = {q: statistics.median(s["read_s"] for p in passes for s in p["queries"] if s["query"] == q)
                    for q in QUERIES}
        shutil.rmtree(d, ignore_errors=True)
    mrows = [c * BASE_LINEITEM_ROWS / 1e6 for c in COPIES]
    lines = ["# Scale slope of the relational query shapes", "",
             f"Generated by `python3 perfbench/slope.py` (seed {SEED}, copies {', '.join(map(str, COPIES))}) on "
             f"{os.cpu_count()} cores (`local[{os.cpu_count()}]`). Reads are the median warm "
             "`toRdd.count()` seconds; the fit is read = fixed_s + slope_s_per_mrow x lineitem Mrows.", "",
             "| query | " + " | ".join(f"read @ {m:.2f} Mrows" for m in mrows) +
             " | fixed_s | slope_s_per_mrow | fixed share @ 0.60 Mrows |",
             "|---" * (len(mrows) + 4) + "|"]
    rows = QUERIES + ["(sum)"]
    for q in rows:
        ys = [sum(reads[c].values()) if q == "(sum)" else reads[c][q] for c in COPIES]
        fixed, slope = fit(mrows, ys)
        share = fixed / (fixed + slope * 0.6)
        lines.append(f"| {q} | " + " | ".join(f"{y:.3f}" for y in ys) +
                     f" | {fixed:.3f} | {slope:.3f} | {share:.0%} |")
    with open(os.path.join(HERE, "scale_slope.md"), "w") as f:
        f.write("\n".join(lines) + "\n")
    print("\n".join(lines))


if __name__ == "__main__":
    main()
