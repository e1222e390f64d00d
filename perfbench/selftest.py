#!/usr/bin/env python3
"""Self-test of the benchmark on tiny inputs.

    python3 perfbench/selftest.py

Runs every workload at sf0.001 with one copy and one CDC wave, with tracing
off and on, and asserts that each run reports every metric BENCHMARK.json
names (end-to-end with --trace 0, per-layer with --trace 1), each with its
unit, and no failed operation. A layer a workload does not run reads 0, so
the traced run must also read non-zero on the layers the workload does
run (LIVE below); a zero there means a measurement stopped matching. Then it reruns each workload with one
expected result corrupted and asserts that the run reports the failure,
which proves the correctness gate is live. Exits non-zero on any failure.
"""
import json
import os
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
TINY = "0.001,1,1"
# one checked item per workload to corrupt
CORRUPT = {"query_light": "q_stats_agg", "query_heavy": "q_exact_percentile",
           "pipeline_cdc": "gold_orders"}
# per-layer metrics each workload's traced run must read non-zero
_QUERY_LIVE = ["queries.build_s", "catalyst.optimization_s",
               "catalyst.planning_s", "spark.job_s", "spark.jobs",
               "spark.stages", "spark.tasks", "spark.executor_run_s",
               "spark.input_bytes", "plan.exchanges"]
LIVE = {
    "query_light": _QUERY_LIVE,
    "query_heavy": _QUERY_LIVE,
    "pipeline_cdc": [f"{n}.{k}" for k in ("cold", "wave", "noop") for n in (
        "spark.jobs", "spark.job_s", "pipeline.bronze_s")] + [
        f"{n}.{k}" for k in ("cold", "wave") for n in (
            "pipeline.silver_s", "pipeline.gold_s", "stream.batches",
            "stream.add_batch_s", "store.files_written",
            "catalyst.planning_s", "pipeline.rows_written_per_changed_row")] + [
        f"store.bytes_written.{a}.wave" for a in ("bronze", "silver", "gold", "state")] + [
        "pipeline.feed_extract_s.wave", "pipeline.feed_drain_s.wave",
        "pipeline.compactions.wave", "pipeline.skip_ratio.noop",
        "store.live_files", "read.files_scanned", "store.bytes"],
}


def run(workload, trace, corrupt=""):
    cmd = [sys.executable, os.path.join(HERE, "run.py"), "--workload", workload,
           "--seed", "7", "--seconds", "1", "--trace", str(trace),
           "--scale", TINY]
    if corrupt:
        cmd += ["--corrupt", corrupt]
    p = subprocess.run(cmd, cwd=ROOT, stdout=subprocess.PIPE,
                       stderr=subprocess.PIPE, text=True, timeout=900)
    if p.returncode != 0:
        sys.stderr.write(p.stderr[-3000:])
        raise AssertionError(f"{workload} trace={trace}: exit {p.returncode}")
    return json.loads(p.stdout.strip().splitlines()[-1])


def main():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        bench = json.load(f)
    wanted = {0: {m["name"]: m["unit"] for m in bench["end_to_end"]},
              1: {m["name"]: m["unit"] for m in bench["per_layer"]}}
    problems = []
    for w in CORRUPT:
        for trace in (0, 1):
            res = run(w, trace)
            got = res["metrics"]
            missing = sorted(set(wanted[trace]) - set(got))
            if missing:
                problems.append(f"{w} trace={trace}: missing {missing}")
            bad_unit = sorted(n for n in wanted[trace] if n in got and
                              got[n].get("unit") != wanted[trace][n])
            if bad_unit:
                problems.append(f"{w} trace={trace}: wrong unit {bad_unit}")
            dead = sorted(n for n in LIVE[w] if trace and n in got and
                          not got[n]["value"] > 0)
            if dead:
                problems.append(f"{w} trace={trace}: reads 0 on {dead}")
            if res["failed"] != 0 or not res["correct"] or res["attempted"] < 1:
                problems.append(f"{w} trace={trace}: failed {res['failed']} "
                                f"of {res['attempted']}")
            print(f"[selftest] {w} trace={trace}: {len(got)} metrics, "
                  f"{res['failed']}/{res['attempted']} failed", flush=True)
        res = run(w, 0, corrupt=CORRUPT[w])
        if res["failed"] < 1 or res["correct"]:
            problems.append(f"{w}: a corrupted expected result passed the gate")
        print(f"[selftest] {w} corrupted: {res['failed']}/{res['attempted']} "
              f"failed", flush=True)
    for p in problems:
        print(f"[selftest] FAIL {p}", flush=True)
    print("[selftest] " + ("FAILED" if problems else "all checks passed"))
    sys.exit(1 if problems else 0)


if __name__ == "__main__":
    main()
