"""pipeline_cdc: seeded CDC histories, and their independent recompute.

The sources are built from the generated `lineitem`, `orders` and
`customer` tables. One history is:

  cold    the three base tables arrive;
  wave w  seeded change files arrive (W waves): lineitem updates, soft
          deletes (op = 'D'), inserts and expectation violators; orders
          updates and inserts; customer updates. Wave min(2, W) also
          delivers one late lineitem file whose modification time predates
          the files already ingested, and the last wave's lineitem file
          carries one added column (`l_comment`). The share of each kind
          of change is set, with its source, at the top of this module;
  noop    reruns with nothing new (NOOPS of them).

The config declares a merge-on-read bucketed incremental silver with soft
deletes and an expectation (lineitem), full-mode silvers (orders,
customer), a streaming-cadence join mart (lineitem x orders), an
incremental aggregate mart (orders) and a batch join mart (customer x
orders).

The expected silver, active-view and gold tables are recomputed from the
history files with DuckDB: keep the latest version of each key by arrival
order, drop keys whose latest version fails the expectation, then join or
aggregate.
"""
import json
import os
import statistics
import sys
import time

import duckdb
import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

import gate
import gen
import layers

WAVES = 1
NOOPS = 2
ENTITIES = ["customer", "lineitem", "orders"]
PK = {"lineitem": ["l_orderkey", "l_linenumber"], "orders": ["o_orderkey"],
      "customer": ["c_custkey"]}
LATE_MTIME_MS = -3_600_000  # one hour before delivery

# Wave sizes, as 1 in N rows of a table. The shares are those of the CDC
# waves the engine's own pipeline queries drive (src/main/scala/graft/
# PipelineQueries.scala; src/test/scala/graft/tools/StreamMartBench.scala
# replays the same waves):
UPDATE_1_IN = 13     # fact updates: key % 13 (orders_wave13, docs_wave_a)
VIOLATOR_1_IN = 11   # expectation violators: key % 11 of the rows not
                     # updated (orders_wave11, docs_wave_a)
DIM_UPDATE_1_IN = 7  # orders and customer updates: key % 7 (orders_wave7
                     # of q_gold_agg, customer_wave7 of q_stream_medallion*)
LATE_1_IN = 5        # late file: q_gold_scd2_incr withholds the key % 5
                     # slice and delivers it one run late
# No repo wave delivers soft deletes or new keys, so these two shares are
# the benchmark's own choice, not measured traffic: 1 in 100 rows each,
# enough that every bucket and shuffle partition sees some, and small
# beside the update slices.
DELETE_1_IN = 100    # lineitem soft deletes
INSERT_1_IN = 100    # new lineitem rows and new orders

CONFIG = {
    "lineitem": {
        "raw_file_format": "parquet",
        "unique_primary_key": ["l_orderkey", "l_linenumber"],
        "silver_mode": "incremental",
        "silver_merge": "merge_on_read",
        "silver_buckets": 8,
        "silver_compact_after": 1,
        "expect_all_or_drop": {"qty_ok": "l_quantity > 0"},
        "gold": {"cadence": "streaming", "compact_after": 1,
                 "join": [{"entity": "orders", "on": "l_orderkey = o_orderkey"}],
                 "select": ["l_orderkey", "l_linenumber", "l_extendedprice",
                            "l_discount", "op", "o_orderstatus",
                            "o_orderdate"]}},
    "orders": {
        "raw_file_format": "parquet",
        "unique_primary_key": ["o_orderkey"],
        "gold": {"mode": "incremental", "compact_after": 1,
                 "aggregate": {
                     "group_by": ["o_orderstatus", "o_orderpriority"],
                     "aggs": [{"op": "count", "as": "n_orders"},
                              {"op": "sum_x1e6", "expr": "o_totalprice",
                               "as": "total_x1e6"}]}}},
    "customer": {
        "raw_file_format": "parquet",
        "unique_primary_key": ["c_custkey"],
        "gold": {"join": [{"entity": "orders", "on": "c_custkey = o_custkey"}],
                 "select": ["c_custkey", "c_name AS customer",
                            "c_mktsegment AS segment", "o_orderkey",
                            "o_totalprice"]}},
}

EXPECTED = {
    "silver_lineitem":
        "SELECT * FROM latest_lineitem WHERE coalesce(l_quantity > 0, false)",
    "active_lineitem": "SELECT * FROM silver_lineitem WHERE op <> 'D'",
    "silver_orders": "SELECT * FROM latest_orders",
    "active_orders": "SELECT * FROM silver_orders",
    "silver_customer": "SELECT * FROM latest_customer",
    "active_customer": "SELECT * FROM silver_customer",
    "gold_lineitem":
        "SELECT l_orderkey, l_linenumber, l_extendedprice, l_discount, op, "
        "o_orderstatus, o_orderdate FROM silver_lineitem "
        "JOIN silver_orders ON l_orderkey = o_orderkey",
    "gold_orders":
        "SELECT o_orderstatus, o_orderpriority, count(*)::BIGINT AS n_orders, "
        "CAST(COALESCE(SUM(CAST(floor(CASE WHEN isfinite(o_totalprice) "
        "THEN o_totalprice END * 1000000.0) AS BIGINT)), 0) AS BIGINT) "
        "AS total_x1e6 FROM silver_orders GROUP BY 1, 2",
    "gold_customer":
        "SELECT c_custkey, c_name AS customer, c_mktsegment AS segment, "
        "o_orderkey, o_totalprice FROM silver_customer "
        "JOIN silver_orders ON c_custkey = o_custkey",
}


def _pick(rng, n, k, taken):
    """k distinct row indices in [0, n) not in `taken` (which is updated)."""
    out = []
    while len(out) < k:
        for i in rng.integers(0, n, 2 * (k - len(out)) + 8):
            i = int(i)
            if i not in taken:
                taken.add(i)
                out.append(i)
                if len(out) == k:
                    break
    return np.array(sorted(out), dtype=np.int64)


def _with(t, **cols):
    for name, values in cols.items():
        arr = values if isinstance(values, pa.Array) else pa.array(values)
        if name in t.column_names:
            t = t.set_column(t.column_names.index(name), name,
                             arr.cast(t.schema.field(name).type))
        else:
            t = t.append_column(name, arr)
    return t


def sources(sf, seed):
    base = gen.base_tables(sf, seed)
    li = base["lineitem"].sort_by([("l_orderkey", "ascending"),
                                   ("l_linenumber", "ascending")])
    ok = li["l_orderkey"].to_numpy()
    first = np.r_[0, np.flatnonzero(np.diff(ok)) + 1]
    lineno = np.arange(len(ok)) - np.repeat(first, np.diff(np.r_[first, len(ok)]))
    li = _with(li, l_linenumber=pa.array((lineno + 1).astype(np.int32)),
               op=["I"] * len(li))
    return {"lineitem": li, "orders": base["orders"],
            "customer": base["customer"]}


def waves(src, seed, n_waves):
    """[(wave number, entity, file tag, table, mtime_ms)] of the CDC waves."""
    rng = np.random.default_rng(seed + 7_777)
    li, od, cu = src["lineitem"], src["orders"], src["customer"]
    n_li, n_od, n_cu = len(li), len(od), len(cu)
    out = []
    prev_upd = np.array([], dtype=np.int64)
    for w in range(1, n_waves + 1):
        taken = set()
        upd = _pick(rng, n_li, max(1, n_li // UPDATE_1_IN), taken)
        bad = _pick(rng, n_li, max(1, (n_li - len(upd)) // VIOLATOR_1_IN), taken)
        dele = _pick(rng, n_li, max(1, n_li // DELETE_1_IN), taken)
        ins_orders = rng.choice(n_od, max(1, n_li // INSERT_1_IN), replace=False)
        u = li.take(pa.array(upd))
        u = _with(u, l_extendedprice=np.round(
            u["l_extendedprice"].to_numpy() + rng.integers(1, 10_000, len(u)) / 100.0, 2),
            l_quantity=rng.integers(1, 51, len(u)).astype(np.float64),
            op=["U"] * len(u))
        d = _with(li.take(pa.array(dele)), op=["D"] * len(dele))
        b = _with(li.take(pa.array(bad)),
                  l_quantity=pa.nulls(len(bad), pa.float64()), op=["U"] * len(bad))
        ins = li.take(pa.array(rng.integers(0, n_li, len(ins_orders))))
        ins = _with(ins, l_orderkey=od["o_orderkey"].to_numpy()[np.sort(ins_orders)],
                    l_linenumber=np.full(len(ins), 100 + w, dtype=np.int32),
                    op=["I"] * len(ins))
        wave_li = pa.concat_tables([u, d, b, ins])
        if w == n_waves:
            wave_li = _with(wave_li, l_comment=[f"c{w}-{i}" for i in range(len(wave_li))])
        out.append((w, "lineitem", "main", wave_li, 0))
        if w == min(2, n_waves):
            # late file: re-updates of keys the previous wave (or the cold
            # load) delivered and this wave's main file does not touch
            prev = prev_upd if w > 1 else _pick(rng, n_li, len(upd), set(taken))
            cand = np.array([i for i in prev if i not in taken], dtype=np.int64)
            late = cand[: max(1, len(cand) // LATE_1_IN)]
            lt = li.take(pa.array(late))
            lt = _with(lt, l_discount=np.round(
                rng.integers(0, 11, len(lt)) / 100.0, 2), op=["U"] * len(lt))
            out.append((w, "lineitem", "late", lt, LATE_MTIME_MS))
        prev_upd = upd
        ou = od.take(pa.array(_pick(rng, n_od, max(1, n_od // DIM_UPDATE_1_IN), set())))
        ou = _with(ou, o_totalprice=np.round(
            ou["o_totalprice"].to_numpy() + rng.integers(1, 100_000, len(ou)) / 100.0, 2),
            o_orderstatus=np.array(["F", "O", "P"])[rng.integers(0, 3, len(ou))])
        n_new = max(1, n_od // INSERT_1_IN)
        oi = od.take(pa.array(rng.integers(0, n_od, n_new)))
        oi = _with(oi, o_orderkey=np.arange(n_od + (w - 1) * n_new,
                                            n_od + w * n_new, dtype=np.int64))
        out.append((w, "orders", "main", pa.concat_tables([ou, oi]), 0))
        cw = cu.take(pa.array(_pick(rng, n_cu, max(1, n_cu // DIM_UPDATE_1_IN), set())))
        cw = _with(cw, c_name=[f"upd{w}: {s}" for s in cw["c_name"].to_pylist()],
                   c_mktsegment=np.array(gen.SEGMENTS)[rng.integers(0, 5, len(cw))],
                   c_acctbal=np.round(cw["c_acctbal"].to_numpy() + 1.0, 2))
        out.append((w, "customer", "main", cw, 0))
    return out


def write_history(hist_dir, sf, seed, n_waves, n_noops):
    """Write source files + history file; returns (history path, files by
    step, changed rows delivered by the waves, rows of the cold load)."""
    os.makedirs(hist_dir, exist_ok=True)
    cfg = os.path.join(hist_dir, "dp_config_template.json")
    with open(cfg, "w") as f:
        json.dump(CONFIG, f, indent=1)
    src = sources(sf, seed)
    steps = [("cold", "2024-03-01 00:00:00",
              [(e, "base", src[e], 0) for e in ENTITIES])]
    ws = waves(src, seed, n_waves)
    for w in range(1, n_waves + 1):
        steps.append(("wave", f"2024-03-{1 + w:02d} 00:00:00",
                      [(e, tag, t, m) for (ww, e, tag, t, m) in ws if ww == w]))
    for i in range(n_noops):
        steps.append(("noop", f"2024-04-{1 + i:02d} 00:00:00", []))
    lines = [f"config {cfg}", "entities " + ",".join(ENTITIES)]
    files = []
    changed = 0
    for i, (kind, clock, deliveries) in enumerate(steps):
        lines.append(f"step {kind} {clock}")
        for e, tag, t, mtime in deliveries:
            p = os.path.join(hist_dir, e, f"s{i:02d}_{tag}.parquet")
            os.makedirs(os.path.dirname(p), exist_ok=True)
            pq.write_table(t, p)
            lines.append(f"file {e} {p} {mtime}")
            files.append((i, e, p))
            if kind == "wave":
                changed += len(t)
    path = os.path.join(hist_dir, "history.txt")
    with open(path, "w") as f:
        f.write("\n".join(lines) + "\n")
    return path, files, changed, sum(len(src[e]) for e in ENTITIES)


def expected_tables(files):
    """DuckDB recompute of every checked table from the history files."""
    con = duckdb.connect()
    con.execute("SET threads TO 4")
    for e in ENTITIES:
        parts = [f"SELECT *, {i} AS _seq FROM read_parquet('{p}')"
                 for i, ee, p in files if ee == e]
        keys = ", ".join(PK[e])
        con.execute(
            f"CREATE VIEW latest_{e} AS SELECT * EXCLUDE (_seq, _rn) FROM ("
            f"SELECT *, row_number() OVER (PARTITION BY {keys} "
            f"ORDER BY _seq DESC) AS _rn FROM ("
            + " UNION ALL BY NAME ".join(parts) + ")) WHERE _rn = 1")
    out = {}
    for name in ["silver_lineitem", "silver_orders", "silver_customer"]:
        con.execute(f"CREATE VIEW {name} AS {EXPECTED[name]}")
    for name, sql in EXPECTED.items():
        out[name] = con.sql(sql).df()
    return out


def check_tables(gate_dir, expected, corrupt=""):
    """{table: ok}: engine tables (audit columns dropped) vs the recompute."""
    result = {}
    for name, exp in sorted(expected.items()):
        got = gate.load_result(os.path.join(gate_dir, name))
        if got is None:
            print(f"[gate] FAIL {name}: no output", file=sys.stderr)
            result[name] = False
            continue
        got = got[[c for c in got.columns if not c.startswith("_")]]
        keys = sorted(set(got.columns) & set(exp.columns))
        got = got.sort_values(keys).reset_index(drop=True)
        exp = exp.sort_values(keys).reset_index(drop=True)
        if name == corrupt:
            exp = gate.corrupt_frame(exp)
        why = gate.compare(got, exp)
        if why:
            print(f"[gate] FAIL {name}: {why}", file=sys.stderr)
        result[name] = why is None
    return result


def _metric(v):
    return {"value": v, "unit": "s"}


def workload(args, sf, work, launch):
    """One pipeline_cdc run; returns (attempted, failed, metrics, side).
    `launch(conf)` runs the harness and returns its result."""
    t0 = time.monotonic()
    hist, files, changed, base_rows = write_history(
        os.path.join(work, "hist"), sf, args.seed, WAVES, NOOPS)
    gen_s = time.monotonic() - t0
    out = os.path.join(work, "out")
    conf = {"workload": "pipeline_cdc", "history": hist,
            "seed": args.seed, "seconds": args.seconds, "trace": args.trace,
            "out": out, "work": work}
    res = launch(conf)
    print(f"[perfbench] jvm done {time.time() * 1000 - res['launch_ms']:.0f} ms after "
          f"launch", file=sys.stderr)
    setup_s = gen_s + (res["setup_done_ms"] - res["launch_ms"]) / 1000.0
    side = {"workload": "pipeline_cdc", "seed": args.seed,
            "calib_before_s": res["calib_before_s"],
            "calib_after_s": res["calib_after_s"], "changed_rows": changed}
    if args.trace:
        checked = {}
        metrics = layers.pipeline_layers(
            res, changed, base_rows, flows=2 * len(ENTITIES))
        side["trace"] = {"per_run": res["runs"],
                         "untraced_pass_s": res["untraced_pass_s"],
                         "traced_pass_s": res["traced_pass_s"]}
    else:
        checked = check_tables(res["gate_dir"],
                               expected_tables(files), corrupt=args.corrupt)
        runs = res["runs"]
        walls = {k: [r["wall_s"] for r in runs if r["kind"] == k]
                 for k in ("cold", "wave", "noop")}
        wave_bytes = sum(a["bytes"] for r in runs if r["kind"] == "wave"
                         for a in r["written"].values())
        side.update({
            "cold_run_s": walls["cold"][0],
            "wave_run_s": statistics.median(walls["wave"]),
            "noop_run_s": statistics.median(walls["noop"]),
            "bytes_per_changed_row": wave_bytes / changed,
            "space_amp": res["store.bytes"] / res["compact_bytes"],
            "read_s": statistics.median(res["read_s"])})
        metrics = {
            "setup_s": _metric(setup_s),
            "suite_s": _metric(sum(sum(v) for v in walls.values())),
            "op_p50_s": _metric(side["wave_run_s"])}
    wrong = [n for n, ok in checked.items() if not ok]
    side["gate_checked"] = len(checked)
    side["gate_wrong"] = wrong
    attempted = len(res["runs"]) + len(checked)
    return attempted, len(wrong), metrics, side
