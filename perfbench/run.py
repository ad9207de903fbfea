#!/usr/bin/env python3
"""The repo benchmark: one command, one workload per invocation.

    python3 perfbench/run.py --workload follower --seed 1 --seconds 12 --trace 0

Builds the program from source (perfbench/build.py), generates the
workload's inputs from the seed (perfbench/gen.py), runs the workload in one
JVM on local[4] with a single client (perfbench/src/BenchMain.scala), checks
the outputs, and prints a report whose last line is one JSON object:
{"correct", "attempted", "failed", "metrics"}. With --trace 0 the metrics are
the end-to-end ones; with --trace 1 they are the per-layer ones from the
traced ops, and the per-layer table is printed above the JSON line and
written to <build dir>/trace/.

Everything it writes stays under the build directory of the checkout.
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

import build  # noqa: E402
import gen  # noqa: E402
import oracle  # noqa: E402
import stats  # noqa: E402

JVM_TIMEOUT_S = 165

# One query per graft.queries module; the Curation one is the ROADMAP's
# RM3 target (q168), the slowest of the eight.
QUERY_MIX = [
    "q01_agg_sum_groupby",          # Relational
    "q21_payment_json_pipeline",    # JsonPipelines
    "q33_city_pagerank",            # Graphs
    "q76_append_series",            # Sinks
    "q82_cms_heavy_hitters",        # Summaries
    "q158_drift_registry",          # Extensions
    "q28_minhash_lsh_pairs",        # LlmPipelines
    "q168_rm3_expansion",           # Curation
]

WORKLOADS = ("follower", "query_mix")

END_TO_END_UNITS = {"setup_s": "s", "op_geomean_s": "s", "throughput_per_s": "1/s",
                    "heap_live_peak_mb": "MB"}


def run_jvm(workload, seed, seconds, trace, cores, data, work, opts):
    raw_path = os.path.join(work, "raw.json")
    log_path = os.path.join(work, "jvm.log")
    os.makedirs(os.path.join(work, "tmp"), exist_ok=True)
    cmd = (build.java_cmd(os.path.join(work, "tmp"))
           + [workload, str(seed), str(seconds), str(trace), str(cores), data, work, raw_path]
           + [f"{k}={v}" for k, v in opts.items()])
    with open(log_path, "w") as log:
        r = subprocess.run(cmd, cwd=work, stdout=log, stderr=subprocess.STDOUT,
                           timeout=JVM_TIMEOUT_S)
    if r.returncode != 0 or not os.path.exists(raw_path):
        with open(log_path) as f:
            sys.stderr.write(f.read()[-4000:])
        raise RuntimeError(f"benchmark JVM exited with {r.returncode}")
    with open(raw_path) as f:
        return json.load(f)


def end_to_end(workload, raw):
    walls = [o["wall_s"] for o in raw["ops"]]
    if workload == "query_mix":
        throughput = len(walls) / sum(walls)          # queries per second
    else:
        throughput = raw["facts"]["source_rows"] / sum(walls)  # source rows per second
    return {
        "setup_s": raw["setup"]["setup_s"],
        "op_geomean_s": stats.kind_geomean(raw["ops"]),
        "throughput_per_s": throughput,
        "heap_live_peak_mb": raw["heap_live_peak_mb"],
    }


def print_layer_table(rows):
    cols = ["spans", "self_s", "jobs", "busy_s", "cpu_s", "tasks", "shuffle_write",
            "spill", "records_read", "bytes_written", "files_written", "max_task_s"]
    print("layer        " + " ".join(f"{c:>13}" for c in cols))
    for layer in sorted(rows):
        r = rows[layer]
        print(f"{layer:<12} " + " ".join(
            f"{r[c]:>13.3f}" if isinstance(r[c], float) else f"{r[c]:>13d}" for c in cols))


def main(argv=None):
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--cores", type=int, default=4,
                    help="local[N] executor threads (4; 1 for the scaling baseline)")
    a = ap.parse_args(argv)

    try:
        build.build()
    except (FileNotFoundError, RuntimeError, subprocess.TimeoutExpired) as e:
        print(f"build failed: {e}", file=sys.stderr)
        return 2

    work = os.path.join(build.build_dir(), "work", f"{a.workload}-{a.seed}-{a.trace}")
    shutil.rmtree(work, ignore_errors=True)
    data = os.path.join(work, "data")
    os.makedirs(data)
    t0 = time.monotonic()
    try:
        if a.workload == "query_mix":
            size = gen.tables(a.seed, data)
            opts = {"queries": ",".join(QUERY_MIX)}
        else:
            size = gen.chain(a.seed, data)
            c = gen.CHAIN
            opts = {k: c[k] for k in ("blocks", "genesis", "block_seconds", "window_days")}
        t_gen = time.monotonic() - t0
        raw = run_jvm(a.workload, a.seed, a.seconds, a.trace, a.cores, data, work, opts)

        checks = [(c["name"], c["ok"], c["detail"]) for c in raw["checks"]]
        oracle_failed = []
        if a.workload == "query_mix":
            facts = raw["facts"]
            for name, (ok, detail) in oracle.check(data, facts["results_dir"],
                                                   facts["oracle_sql"]).items():
                checks.append((f"{name} = DuckDB oracle", ok, detail))
                if not ok:
                    oracle_failed.append(name)
        attempted, failed = stats.count_outcomes(raw["ops"], oracle_failed)
        correct = failed == 0 and all(ok for _, ok, _ in checks)

        walls = [o["wall_s"] for o in raw["ops"]]
        print(f"workload {a.workload}  seed {a.seed}  local[{a.cores}]  one client, closed loop")
        print("input " + json.dumps(size, sort_keys=True))
        print("setup " + json.dumps(raw["setup"]))
        print(f"harness: input generation {t_gen:.1f} s, total {time.monotonic() - t0:.1f} s")
        for name, ok, detail in checks:
            print(f"check {'OK  ' if ok else 'FAIL'} {name}: {detail}")
        tail = stats.tail_percentile(walls)
        print(f"ops n={len(walls)} p50={statistics.median(walls):.4f}s " + (
            f"tail p{tail[0]}={tail[1]:.4f}s" if tail else
            f"tail: fewer than 11 samples, max={max(walls):.4f}s"))
        print(f"failed_share {stats.failed_share(attempted, failed):.4f} "
              f"({failed} of {attempted} ops)")

        if a.trace:
            # every workload reports every per-layer metric; the query
            # metrics read 0 on the follower, which runs no queries
            metrics, rows, tree, op_ids = stats.per_layer_metrics(raw, QUERY_MIX)
            print(f"per-layer table over {len(op_ids)} traced ops "
                  f"(rounds traced, untraced, untraced, traced)")
            print_layer_table(rows)
            for i in op_ids:
                parts = {}
                for k in tree.subtree(i):
                    layer = tree.spans[k]["layer"]
                    parts[layer] = parts.get(layer, 0.0) + tree.self_time(k)
                print(f"op {tree.spans[i]['name']} wall {tree.wall(i):.4f} s = self times "
                      + " + ".join(f"{k} {v:.4f}" for k, v in sorted(parts.items()))
                      + f"; jobs cover {tree.wall(i) - tree.driver_gap(i):.4f} s, "
                      f"driver gap {tree.driver_gap(i):.4f} s")
            print(f"tracing overhead: {metrics['trace.overhead_s']:+.4f} s per op "
                  f"({metrics['trace.overhead_share']:+.2%})")
            trace_dir = os.path.join(build.build_dir(), "trace")
            os.makedirs(trace_dir, exist_ok=True)
            with open(os.path.join(trace_dir, f"{a.workload}-{a.seed}.json"), "w") as f:
                json.dump({"spans": raw["spans"], "jobs": raw["jobs"], "layers": rows,
                           "metrics": metrics}, f)
            out = {k: {"value": v, "unit": unit_of(k)} for k, v in metrics.items()}
        else:
            e2e = end_to_end(a.workload, raw)
            out = {k: {"value": v, "unit": END_TO_END_UNITS[k]} for k, v in e2e.items()}
        print(json.dumps({"correct": correct, "attempted": attempted, "failed": failed,
                          "metrics": out}))
        return 0
    finally:
        shutil.rmtree(work, ignore_errors=True)


def unit_of(name):
    if name.endswith("_s") or name.endswith(".s"):
        return "s"
    if name.endswith("bytes_per_row"):
        return "bytes/row"
    if "bytes" in name:
        return "bytes"
    if name.endswith("_share") or name.endswith("write_amp"):
        return "ratio"
    return "count"


if __name__ == "__main__":
    sys.exit(main())
