#!/usr/bin/env python3
"""Run one benchmark workload against the engine in this checkout.

    python3 perfbench/run.py --workload fixed_cost --seed 1 --seconds 10 --trace 0

Builds the engine and the harness with sbt on first use (or when their
sources change), sets up one JVM (`local[4]`, one client, closed loop) and
times passes over the workload's queries: the workload's number of passes,
and more until `--seconds` have been measured. Set-up is timed from JVM
start to the first timed query. The inputs are the engine's fixed sf0.01
test tables in perfbench/data/, so every run does the same work per query,
and the seed draws each pass's query order (as TPC-H fixes its data and
draws query streams from a seed). Every query's `count()` is checked against
DuckDB's count for the engine's oracle SQL.

Prints each metric with its unit and the output check, then, as the last
line, one JSON object: {"correct", "attempted", "failed", "metrics"}.
With --trace 0 the metrics are the end-to-end ones. With --trace 1 they
are the per-layer ones: two passes, each query traced in one of them and
untraced in the other, and the span tree is written to
perfbench/.work/traces/.
Exits non-zero without a result line if the benchmark itself fails.
"""
import argparse
import json
import os
import random
import shutil
import signal
import sys

import engine
import metrics
import oracle
from workloads import WORKLOADS

CPUS = 4
DATA = os.path.join(engine.BENCH, "data", "sf0.01")
SETUP_LIMIT_S = 60  # time allowed for set-up before the harness JVM is killed


def show(name, value, unit, n=None):
    count = f"  (n={n})" if n is not None else ""
    print(f"{name:28s} {value:14.6f} {unit}{count}")


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    args = ap.parse_args()
    wl = WORKLOADS[args.workload]

    engine.classpath()  # builds on first use; not part of any time limit
    rng = random.Random(f"{args.workload}/{args.seed}")
    orders = [rng.sample(wl["queries"], len(wl["queries"])) for _ in range(64)]
    passes = 2 if args.trace else wl["passes"]
    spec = {"data": DATA, "cpus": CPUS, "trace": bool(args.trace), "warmup": wl["warmup"],
            "orders": orders, "seconds": args.seconds, "min_passes": passes}
    # the last pass may start just before --seconds are up
    limit = SETUP_LIMIT_S + max(passes * wl["pass_limit_s"], args.seconds + wl["pass_limit_s"])
    raw = engine.harness(spec, timeout=limit)

    expected = oracle.counts(raw["oracle_sql"], DATA, os.path.join(engine.WORK, "oracle_counts.json"),
                             engine.IO_DIR)
    shutil.rmtree(engine.IO_DIR, ignore_errors=True)
    rows_only = set(raw["rows_only"])
    measured = raw["queries"]
    failures = [(q["name"], why) for q in measured
                if (why := oracle.check(q, expected, rows_only))]

    print(f"workload {args.workload}  seed {args.seed}  mode warm"
          f"  passes {len(raw['passes'])}  queries/pass {len(wl['queries'])}")
    print(f"set-up from JVM start (s): {raw['setup']['setup_s']:.2f}"
          f" (pin {raw['setup']['pin_s']:.2f})")
    print("passes (s): " + " ".join(f"{p['wall_s']:.2f}" for p in raw["passes"]))
    print("query wall (s): " + " ".join(f"{q['name']}={q['wall_s']:.2f}" for q in measured))
    if args.trace:
        m = metrics.per_layer(raw)
        walls = {t: sum(q["wall_s"] for q in measured if q["traced"] == t) for t in (False, True)}
        m["trace.overhead_frac"] = ((walls[True] - walls[False]) / walls[False], "ratio", len(measured))
        m["check.failed_frac"] = (len(failures) / len(measured), "ratio", len(measured))
        span_list = metrics.spans(raw)
        trace_dir = os.path.join(engine.WORK, "traces")
        os.makedirs(trace_dir, exist_ok=True)
        trace_file = os.path.join(trace_dir, f"{args.workload}-s{args.seed}.json")
        self_s = metrics.layer_self_times(span_list)
        with open(trace_file, "w") as fh:
            json.dump({"spans": span_list, "self_s": self_s}, fh)
        print(f"trace: {len(span_list)} spans -> {trace_file}; build + plan + execute "
              f"differ from query wall by at most {100 * metrics.phase_gap(span_list):.2f}%")
        for layer, t in sorted(self_s.items()):
            show(f"self time: {layer}", t, "s")
    else:
        m = metrics.end_to_end(raw)
        show("failed_frac", len(failures) / len(measured), "ratio", len(measured))
    for name, (value, unit, n) in m.items():
        show(name, value, unit, n)
    checked = len(measured) - sum(1 for q in measured if q["name"] in rows_only)
    print(f"output check: {len(measured) - len(failures)}/{len(measured)} queries passed "
          f"({checked} against DuckDB row counts, {len(measured) - checked} rows-only "
          f"queries for a non-empty result only)")
    for name, why in failures:
        print(f"  FAILED {name}: {why}")
    for w in raw["warmup_errors"]:
        print(f"  warm-up query {w['query']} failed: {w['error']}")
    # the result line carries exactly BENCHMARK.json's end_to_end
    # (--trace 0) or per_layer (--trace 1) metrics
    with open(os.path.join(engine.ROOT, "BENCHMARK.json")) as fh:
        names = [x["name"] for x in json.load(fh)["per_layer" if args.trace else "end_to_end"]]
    print(json.dumps({
        "correct": not failures, "attempted": len(measured), "failed": len(failures),
        "metrics": {k: {"value": m[k][0], "unit": m[k][1]} for k in names}}))


if __name__ == "__main__":
    # SIGTERM unwinds like an exception, so the harness JVM is killed too
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    try:
        main()
    except engine.BenchError as e:
        engine.log(f"error: {e}")
        sys.exit(2)
