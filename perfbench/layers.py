"""Per-layer metrics of the traced pass.

Every workload reports every metric below, so one list serves the whole
benchmark: a layer a workload does not exercise reads 0 there (the query
workloads run no pipeline; the pipeline builds no registry query). The
query workloads sum each metric over one pass of their list. pipeline_cdc
reports the unsuffixed metrics summed over its whole history, and the
suffixed ones per run kind: `.cold` (the cold load), `.wave` (summed over
the CDC waves) and `.noop` (summed over the no-change reruns).
"""
import re

QUERY = [  # name, unit
    ("queries.build_s", "s"), ("catalyst.analysis_s", "s"),
    ("catalyst.optimization_s", "s"), ("catalyst.planning_s", "s"),
    ("spark.job_s", "s"), ("driver.gap_s", "s"), ("spark.jobs", "count"),
    ("spark.stages", "count"), ("spark.tasks", "count"),
    ("spark.executor_run_s", "s"), ("spark.executor_cpu_s", "s"),
    ("spark.gc_s", "s"), ("spark.slot_busy", "ratio"),
    ("spark.input_bytes", "bytes"), ("spark.shuffle_read_bytes", "bytes"),
    ("spark.shuffle_write_bytes", "bytes"), ("spark.spill_bytes", "bytes"),
    ("spark.straggler_s", "s"), ("plan.exchanges", "count"),
    ("plan.broadcast_joins", "count"), ("plan.sort_merge_joins", "count"),
    ("plan.shuffled_hash_joins", "count"),
    ("plan.single_partition_windows", "count"), ("tracing.overhead_s", "s"),
]
KINDS = ["cold", "wave", "noop"]
PER_KIND = [
    ("catalyst.analysis_s", "s"), ("catalyst.optimization_s", "s"),
    ("catalyst.planning_s", "s"), ("spark.job_s", "s"), ("driver.gap_s", "s"),
    ("spark.jobs", "count"), ("spark.stages", "count"), ("spark.tasks", "count"),
    ("pipeline.bronze_s", "s"), ("pipeline.silver_s", "s"),
    ("pipeline.gold_s", "s"), ("pipeline.feed_extract_s", "s"),
    ("pipeline.feed_drain_s", "s"), ("pipeline.compactions", "count"),
    ("pipeline.skip_ratio", "ratio"), ("stream.batches", "count"),
    ("stream.add_batch_s", "s"), ("stream.planning_s", "s"),
    ("stream.commit_s", "s"), ("store.bytes_written.bronze", "bytes"),
    ("store.bytes_written.silver", "bytes"), ("store.bytes_written.gold", "bytes"),
    ("store.bytes_written.state", "bytes"), ("store.files_written", "count"),
    ("pipeline.rows_written_per_changed_row", "ratio"),
]
STORE = [("store.live_files", "count"), ("read.files_scanned", "count"),
         ("store.bytes", "bytes")]

ALL = QUERY + [(f"{n}.{k}", u) for n, u in PER_KIND for k in KINDS] + STORE

CORES = 4


def _m(values):
    units = dict(ALL)
    return {n: {"value": float(values.get(n, 0.0)), "unit": units[n]}
            for n, _ in ALL}


def query_layers(res):
    """Per-pass sums of the traced query pass."""
    v = {}
    for per in res["trace"].values():
        for k, x in per.items():
            v[k] = v.get(k, 0.0) + x
    v["spark.slot_busy"] = (v["spark.executor_run_s"] /
                            (v["spark.job_s"] * CORES)) if v.get("spark.job_s") else 0.0
    v["tracing.overhead_s"] = res["traced_pass_s"] - res["untraced_pass_s"]
    return _m(v)


FEED = re.compile(r"feed (extract|drain) .*?(\d+\.\d+)s")


def run_log(run):
    """Phase seconds, feed seconds, compactions and skips of one run, from
    the runner's `[pipeline +Ns]` lines (arrival time relative to the run's
    start)."""
    out = {"pipeline.feed_extract_s": 0.0, "pipeline.feed_drain_s": 0.0,
           "pipeline.compactions": 0, "skips": 0}
    done = {}
    for t, line in run["log"]:
        m = re.search(r"phase (bronze|silver|gold) done", line)
        if m:
            done[m.group(1)] = t
        m = FEED.search(line)
        if m:
            out[f"pipeline.feed_{m.group(1)}_s"] += float(m.group(2))
        if "compacting buckets" in line or " compacted (" in line:
            out["pipeline.compactions"] += 1
        if "skipping the silver republish" in line or \
                "skipping the gold republish" in line:
            out["skips"] += 1
    b, s, g = done.get("bronze", 0.0), done.get("silver", 0.0), done.get("gold", 0.0)
    out["pipeline.bronze_s"] = b
    out["pipeline.silver_s"] = max(0.0, s - b)
    out["pipeline.gold_s"] = max(0.0, g - s)
    return out


def pipeline_layers(res, changed_rows, base_rows, flows):
    """Per-kind sums over the traced history, plus store-level numbers."""
    v = {}
    runs = res["runs"]
    for kind in KINDS:
        rs = [r for r in runs if r["kind"] == kind]
        acc = {}
        for r in rs:
            vals = dict(r)
            vals.update(run_log(r))
            for area in ("bronze", "silver", "gold", "state"):
                vals[f"store.bytes_written.{area}"] = \
                    r["written"].get(area, {}).get("bytes", 0.0)
            vals["store.files_written"] = sum(
                a["files"] for a in r["written"].values())
            for k, x in vals.items():
                if isinstance(x, (int, float)) and not isinstance(x, bool):
                    acc[k] = acc.get(k, 0.0) + x
        acc["pipeline.skip_ratio"] = acc.get("skips", 0.0) / (flows * max(1, len(rs)))
        denom = {"cold": base_rows, "wave": changed_rows}.get(kind)
        acc["pipeline.rows_written_per_changed_row"] = \
            acc.get("spark.rows_written", 0.0) / denom if denom else 0.0
        for n, _ in PER_KIND:
            v[f"{n}.{kind}"] = acc.get(n, 0.0)
        for n, _ in QUERY:
            v[n] = v.get(n, 0.0) + acc.get(n, 0.0)
    job_s = v.get("spark.job_s", 0.0)
    v["spark.slot_busy"] = v.get("spark.executor_run_s", 0.0) / (job_s * CORES) if job_s else 0.0
    v["tracing.overhead_s"] = res["traced_pass_s"] - res["untraced_pass_s"]
    for n, _ in STORE:
        v[n] = res[n]
    return _m(v)
