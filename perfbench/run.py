#!/usr/bin/env python3
"""graft benchmark: one workload per invocation.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run from the root of a checkout. The first call builds the engine and the
harness from source with sbt (perfbench/build.sbt); later calls reuse the
build while the sources are unchanged. A run generates its inputs from the
seed, starts one Spark session (local[4], 4 shuffle partitions), warms up,
measures for --seconds, checks the outputs, and prints one JSON line:

    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}

--trace 0 reports the end-to-end metrics, --trace 1 the per-layer metrics
of a traced pass. Workloads, metrics and their layers: perfbench/README.md.
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

import cdc  # noqa: E402
import gate  # noqa: E402
import gen  # noqa: E402
import layers  # noqa: E402

ROOT = os.path.dirname(HERE)
ENGINE_SRC = os.path.join(ROOT, "src", "main", "scala")
BUILD_DIR = os.path.join(HERE, "target")
WORK_ROOT = os.path.join(HERE, "target", "work")
DEADLINE_S = 175.0

# scale of each workload's inputs: (scale factor, copies)
SCALE = {"query_light": (0.1, 1), "query_heavy": (0.1, 2),
         "pipeline_cdc": (0.02, 1)}
JDK_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
    "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar"]


def log(msg):
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def source_stamp():
    h = hashlib.sha1()
    roots = [ENGINE_SRC, os.path.join(HERE, "src")]
    files = [os.path.join(HERE, "build.sbt"),
             os.path.join(HERE, "project", "build.properties")]
    for r in roots:
        for d, _, fs in os.walk(r):
            files += [os.path.join(d, f) for f in fs]
    for f in sorted(files):
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(hashlib.sha1(fh.read()).digest())
    return h.hexdigest()


def build():
    """Compile engine + harness with sbt; returns the runtime classpath."""
    if not os.path.isdir(os.path.join(ENGINE_SRC, "graft")):
        raise SystemExit(f"engine sources not found under {ENGINE_SRC}")
    stamp = source_stamp()
    stamp_file = os.path.join(BUILD_DIR, "perfbench.stamp")
    cp_file = os.path.join(BUILD_DIR, "perfbench.classpath")
    if os.path.exists(stamp_file) and os.path.exists(cp_file):
        with open(stamp_file) as f:
            if f.read() == stamp:
                with open(cp_file) as g:
                    return g.read()
    env = dict(os.environ, COURSIER_MODE="offline")
    opts = ["-Dsbt.offline=true", "-Dsbt.override.build.repos=true", "-Xmx2g"]
    repos = os.path.expanduser("~/.sbt/repositories")
    if os.path.exists(repos):
        opts.append(f"-Dsbt.repository.config={repos}")
    env["SBT_OPTS"] = " ".join(opts)
    log("building engine + harness with sbt")
    p = subprocess.run(
        ["sbt", "--batch", "-Dsbt.log.noformat=true", "compile",
         "export Runtime/fullClasspath"],
        cwd=HERE, env=env, stdout=subprocess.PIPE, stderr=subprocess.STDOUT,
        text=True, timeout=800)
    if p.returncode != 0:
        sys.stderr.write(p.stdout[-4000:])
        raise SystemExit("sbt build failed")
    cps = [l for l in p.stdout.splitlines()
           if l.startswith("/") and "scala-library" in l]
    if not cps:
        raise SystemExit("sbt printed no classpath")
    os.makedirs(BUILD_DIR, exist_ok=True)
    with open(cp_file, "w") as f:
        f.write(cps[-1])
    with open(stamp_file, "w") as f:
        f.write(stamp)
    return cps[-1]


def read_list(name):
    with open(os.path.join(HERE, name)) as f:
        return [l.strip() for l in f if l.strip() and not l.startswith("#")]


def run_jvm(cp, conf, work, deadline):
    """Launch the harness; returns its result.json (raises on failure)."""
    args = ["java"]
    for o in JDK_OPENS:
        args += ["--add-opens", f"{o}=ALL-UNNAMED"]
    args += ["-Xmx4g", "-XX:+UseParallelGC",
             f"-Djava.io.tmpdir={work}/tmp", "-Dspark.ui.enabled=false",
             "-Dspark.sql.session.timeZone=UTC", "-cp", cp,
             "perfbench.Harness"] + [f"{k}={v}" for k, v in conf.items()]
    os.makedirs(os.path.join(work, "tmp"), exist_ok=True)
    errf = open(os.path.join(work, "jvm.err"), "w")
    launch_ms = time.time() * 1000.0
    proc = subprocess.Popen(args, cwd=ROOT, stdout=errf, stderr=errf,
                            start_new_session=True)
    try:
        rc = proc.wait(timeout=max(1.0, deadline - time.monotonic()))
    except subprocess.TimeoutExpired:
        os.killpg(proc.pid, signal.SIGKILL)
        proc.wait()
        raise RuntimeError("harness timed out")
    finally:
        errf.close()
    if rc != 0:
        with open(os.path.join(work, "jvm.err")) as f:
            tail = f.read()[-3000:]
        sys.stderr.write(tail)
        raise RuntimeError(f"harness exited with {rc}")
    with open(os.path.join(conf["out"], "result.json")) as f:
        res = json.load(f)
    res["launch_ms"] = launch_ms
    return res


def pctl(xs, q):
    """q-quantile (0<q<1) by linear interpolation between order stats."""
    xs = sorted(xs)
    pos = q * (len(xs) - 1)
    lo = int(pos)
    hi = min(lo + 1, len(xs) - 1)
    return xs[lo] + (xs[hi] - xs[lo]) * (pos - lo)


def metric(v, unit):
    return {"value": v, "unit": unit}


def query_workload(args, cp, work, deadline):
    name = args.workload
    sf, copies = SCALE[name]
    queries = read_list(f"queries_{name.split('_')[1]}.txt")
    data = os.path.join(work, "data")
    t0 = time.monotonic()
    gen.generate(data, sf, args.seed, copies)
    gen_s = time.monotonic() - t0
    out = os.path.join(work, "out")
    with open(os.path.join(work, "queries.txt"), "w") as f:
        f.write("\n".join(queries) + "\n")
    conf = {"workload": name, "data": data,
            "queries": os.path.join(work, "queries.txt"),
            "seed": args.seed, "seconds": args.seconds, "trace": args.trace,
            "gate": ",".join(queries), "out": out, "work": work}
    res = run_jvm(cp, conf, work, deadline)
    log(f"jvm done at {time.time() * 1000 - res['launch_ms']:.0f} ms after launch; "
        f"setup {res['setup_done_ms'] - res['launch_ms']:.0f}, gate dump "
        f"{res['gate_start_ms'] - res['launch_ms']:.0f}-{res['gate_end_ms'] - res['launch_ms']:.0f}")
    setup_s = gen_s + (res["setup_done_ms"] - res["launch_ms"]) / 1000.0
    checked = gate.check_queries(data, os.path.join(out, "gate"),
                                 corrupt=args.corrupt)
    # a query that failed outright is counted once, as that failure
    wrong = [n for n, ok in checked.items() if not ok and n not in res["failed"]]
    attempted = int(res["attempted"]) + len(checked)
    failed = len(res["failed"]) + len(wrong)
    log(f"gate done at {time.time() * 1000 - res['launch_ms']:.0f} ms after launch")
    side = {"workload": name, "seed": args.seed,
            "calib_before_s": res["calib_before_s"],
            "calib_after_s": res["calib_after_s"],
            "gate_checked": len(checked), "gate_wrong": wrong}
    if args.trace:
        metrics = layers.query_layers(res)
        side["trace"] = {"per_query": res["trace"],
                         "untraced_pass_s": res["untraced_pass_s"],
                         "traced_pass_s": res["traced_pass_s"]}
    else:
        qs = [t for _, t in res["query_s"]]
        side["query_p90_s"] = pctl(qs, 0.9)
        side["query_samples"] = len(qs)
        side["passes"] = len(res["pass_s"])
        metrics = {"setup_s": metric(setup_s, "s"),
                   "suite_s": metric(statistics.median(res["pass_s"]), "s"),
                   "op_p50_s": metric(statistics.median(qs), "s")}
    return attempted, failed, metrics, side


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True,
                    choices=["query_light", "query_heavy", "pipeline_cdc"])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    ap.add_argument("--corrupt", default="",
                    help="self-test: corrupt this gate item's expected result")
    ap.add_argument("--scale", default="",
                    help="self-test: override sf,copies,waves (e.g. 0.001,1,1)")
    ap.add_argument("--trace-out", default="",
                    help="with --trace 1: write the per-query or per-run "
                         "layer numbers to this JSON file")
    args = ap.parse_args()
    started = time.monotonic()
    cp = build()
    deadline = time.monotonic() + DEADLINE_S
    if args.scale:
        sf, copies, waves = args.scale.split(",")
        SCALE[args.workload] = (float(sf), int(copies))
        cdc.WAVES = int(waves)
    work = os.path.join(WORK_ROOT, f"{args.workload}-{args.seed}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    try:
        if args.workload == "pipeline_cdc":
            attempted, failed, metrics, side = cdc.workload(
                args, SCALE["pipeline_cdc"][0], work,
                lambda conf: run_jvm(cp, conf, work, deadline))
        else:
            attempted, failed, metrics, side = query_workload(
                args, cp, work, deadline)
    finally:
        shutil.rmtree(work, ignore_errors=True)
    side["wall_s"] = time.monotonic() - started
    detail = side.pop("trace", None)
    if args.trace_out and detail is not None:
        with open(args.trace_out, "w") as f:
            json.dump({"workload": args.workload, "seed": args.seed,
                       "metrics": {k: v["value"] for k, v in metrics.items()},
                       **detail}, f, indent=1, sort_keys=True)
            f.write("\n")
    print(json.dumps({"side": side}))
    print(json.dumps({"correct": failed == 0, "attempted": attempted,
                      "failed": failed, "metrics": metrics}))


if __name__ == "__main__":
    main()
