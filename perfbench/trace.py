"""Traced run: the per-layer ledger of one workload.

`run.py --trace 1` calls `traced_run`, which starts three job processes:

1. an untraced catch-up over the backlog (the reference wall for the
   tracing overhead);
2. the traced run: catch-up plus live phase, with the plain event log on
   (`spark.eventLog.compress=false`, rolling off) and `install`
   wrapping `streaming.job.write_batch_idempotent` (sink spans, in the
   job's driver) and the function `streaming.job.make_tail_fn` returns
   (tail spans, in the Python workers);
3. an untraced catch-up at local[1], for `scaling_1_to_4`.

Per-layer numbers come from those spans, Spark's streaming progress
reports, the event log's per-operator SQL metrics and task metrics, and
an in-process replay of every committed `aggs/` file through
`rows_to_windows`, `StreamingTail.process_window` and pickle.

The ledger attributes each millisecond of the traced catch-up wall to
one layer. Detect is the query that finishes catch-up, so a millisecond
in a detect trigger goes to the parts of that trigger (offset listing,
tail, sinks, micro-batch bookkeeping); a millisecond in which detect
waits goes to what the aggregate query is doing then (source offsets,
extraction, aggregation, `aggs/` sink, bookkeeping). Within a trigger
the parts share its interval in proportion to their measured times.
Milliseconds in which neither query runs a trigger stay unattributed.
"""

from __future__ import annotations

import glob
import json
import os
import pickle
import statistics
import threading
import time
from collections import defaultdict
from datetime import datetime

LAYERS = ["sources", "functions", "aggregate", "sink", "hop", "tail", "engine"]


# ---------------------------------------------------------------- in the job


class Recorder:
    """Spans recorded inside the job process; `install` creates it."""

    def __init__(self, trace_dir: str):
        self.trace_dir = trace_dir
        os.makedirs(trace_dir, exist_ok=True)
        self.sink_spans: list[dict] = []
        self._lock = threading.Lock()

    def wrap_sink(self, real):
        def traced(df, batch_id, out_dir, coalesce=1):
            t0 = time.time()
            try:
                return real(df, batch_id, out_dir, coalesce)
            finally:
                span = {"sink": os.path.basename(out_dir), "batch": batch_id,
                        "t0": t0, "t1": time.time()}
                with self._lock:
                    self.sink_spans.append(span)

        return traced

    def dump(self) -> None:
        with self._lock, open(os.path.join(self.trace_dir, "sinks.json"), "w") as f:
            json.dump(self.sink_spans, f)


def wrap_make_tail_fn(real_make, trace_dir: str):
    """`make_tail_fn` whose functions append one span per call (one key
    of one batch) to `tail-<pid>.jsonl` in the worker that ran it."""

    def make(config, with_key=False):
        fn = real_make(config, with_key=with_key)

        def traced(key, pdf_iter, state):
            t0 = time.time()
            rows_in = rows_out = 0

            def counted():
                nonlocal rows_in
                for pdf in pdf_iter:
                    rows_in += len(pdf)
                    yield pdf

            for frame in fn(key, counted(), state):
                rows_out += len(frame)
                yield frame
            span = {"t0": t0, "t1": time.time(), "rows_in": rows_in, "rows_out": rows_out}
            path = os.path.join(trace_dir, f"tail-{os.getpid()}.jsonl")
            with open(path, "a") as f:
                f.write(json.dumps(span) + "\n")

        return traced

    return make


def install(trace_dir: str) -> Recorder:
    """Wrap the sink and the tail function of `streaming.job` before the
    queries start; the program's own code is unchanged."""
    from online_anomaly_detection_root_cause_analysis_spark.streaming import job

    rec = Recorder(trace_dir)
    job.write_batch_idempotent = rec.wrap_sink(job.write_batch_idempotent)
    job.make_tail_fn = wrap_make_tail_fn(job.make_tail_fn, trace_dir)
    return rec


# ---------------------------------------------------------------- event log


def _query_of(description: str) -> tuple[str, int | None]:
    lines = (description or "").splitlines()
    if not lines:
        return "other", None
    batch = None
    for line in lines[1:]:
        if line.startswith("batch = "):
            try:
                batch = int(line.split("=", 1)[1])
            except ValueError:
                pass
    name = lines[0].strip()
    return (name if batch is not None else "other"), batch


def parse_eventlog(path: str) -> dict:
    """Jobs with their (query, batch), per-(query, batch) sums of SQL
    metrics by (operator, metric), and task run time per (query, batch)."""
    stage_owner: dict[int, tuple] = {}
    exec_owner: dict[int, tuple] = {}
    acc_meta: dict[int, tuple[int, str, str]] = {}
    acc_sum: dict[int, float] = defaultdict(float)
    jobs: dict[int, dict] = {}
    task = defaultdict(float)

    def walk(exec_id: int, node: dict) -> None:
        for m in node.get("metrics", []):
            acc_meta[m["accumulatorId"]] = (exec_id, node["nodeName"], m["name"])
        for child in node.get("children", []):
            walk(exec_id, child)

    with open(path) as f:
        for line in f:
            e = json.loads(line)
            ev = e["Event"]
            if ev == "SparkListenerJobStart":
                props = e.get("Properties") or {}
                owner = _query_of(props.get("spark.job.description", ""))
                for sid in e.get("Stage IDs", []):
                    stage_owner[sid] = owner
                jobs[e["Job ID"]] = {"query": owner[0], "batch": owner[1],
                                     "start": e["Submission Time"] / 1000.0, "end": None}
            elif ev == "SparkListenerJobEnd":
                if e["Job ID"] in jobs:
                    jobs[e["Job ID"]]["end"] = e["Completion Time"] / 1000.0
            elif ev.endswith("SparkListenerSQLExecutionStart"):
                owner = _query_of(e.get("description", ""))
                root = e.get("rootExecutionId", e["executionId"])
                exec_owner[e["executionId"]] = (
                    owner if owner[0] != "other" else exec_owner.get(root, owner)
                )
                walk(e["executionId"], e["sparkPlanInfo"])
            elif ev.endswith("SparkListenerSQLAdaptiveExecutionUpdate"):
                walk(e["executionId"], e["sparkPlanInfo"])
            elif ev.endswith("SparkListenerDriverAccumUpdates"):
                for acc_id, value in e.get("accumUpdates", []):
                    acc_sum[acc_id] += float(value)
            elif ev == "SparkListenerTaskEnd":
                owner = stage_owner.get(e["Stage ID"], ("other", None))
                for acc in (e.get("Task Info") or {}).get("Accumulables", []):
                    if acc.get("ID") in acc_meta and "Update" in acc:
                        try:
                            acc_sum[acc["ID"]] += float(acc["Update"])
                        except (TypeError, ValueError):
                            pass
                tm = e.get("Task Metrics") or {}
                task[owner + ("run_ms",)] += tm.get("Executor Run Time", 0)
    sql = defaultdict(float)
    for acc_id, value in acc_sum.items():
        exec_id, node, metric = acc_meta[acc_id]
        owner = exec_owner.get(exec_id, ("other", None))
        sql[owner + (node, metric)] += value
    return {"jobs": [j for j in jobs.values() if j["end"] is not None],
            "sql": dict(sql), "task": dict(task)}


def sql_total(ev: dict, query: str, node_prefix: str, metric: str, batch=None) -> float:
    return sum(
        v for (q, b, node, m), v in ev["sql"].items()
        if q == query and node.startswith(node_prefix) and m == metric
        and (batch is None or b == batch)
    )


def _union_ms(intervals: list[tuple[float, float]], lo: float, hi: float) -> float:
    total, cur_end = 0.0, lo
    for s, e in sorted(intervals):
        s, e = max(s, cur_end), min(e, hi)
        if e > s:
            total += e - s
            cur_end = e
    return total * 1000.0


def sink_self_ms(spans: list[dict], jobs: list[dict], query: str) -> dict:
    """Driver-side time of each sink call: its span minus the Spark jobs
    of the same query that ran inside it (the lazily planned batch)."""
    ivs = [(j["start"], j["end"]) for j in jobs if j["query"] == query]
    out = {}
    for s in spans:
        inside = [(a, b) for a, b in ivs if b > s["t0"] and a < s["t1"]]
        out[(s["sink"], s["batch"])] = (s["t1"] - s["t0"]) * 1000.0 - _union_ms(inside, s["t0"], s["t1"])
    return out


# ---------------------------------------------------------------- progress


def _epoch(ts: str) -> float:
    return datetime.fromisoformat(ts.replace("Z", "+00:00")).timestamp()


def triggers(progress: dict, query: str) -> list[dict]:
    """Micro-batches that ran a plan (offset-only polls are dropped)."""
    out = []
    for raw in progress[query]["progress"]:
        p = json.loads(raw)
        d = p.get("durationMs") or {}
        if "addBatch" not in d:
            continue
        start = _epoch(p["timestamp"])
        out.append({"batch": p["batchId"], "start": start,
                    "end": start + d.get("triggerExecution", 0) / 1000.0,
                    "d": d, "rows": p.get("numInputRows", 0),
                    "state": p.get("stateOperators") or []})
    return out


# ---------------------------------------------------------------- tail replay


def replay_tail(run_dir: str, w, detect_order: dict[str, int]) -> dict:
    """Replay the committed `aggs/` files, in detect order, through the
    tail's building blocks, timing each one."""
    import pyarrow.parquet as pq

    from online_anomaly_detection_root_cause_analysis_spark.streaming import state as st

    from perfbench.job import tail_config

    cfg = tail_config(w)
    files = sorted(detect_order, key=detect_order.get)
    t = defaultdict(float)
    counts = defaultdict(int)
    blobs: dict = {}
    real_rca = st.StreamingTail._rca_rows

    def timed_rca(self, *a, **k):
        t0 = time.perf_counter()
        try:
            return real_rca(self, *a, **k)
        finally:
            t["rca"] += time.perf_counter() - t0

    st.StreamingTail._rca_rows = timed_rca
    try:
        for name in files:
            pdf = pq.read_table(os.path.join(run_dir, "aggs", name)).to_pandas()
            groups = pdf.groupby("tail_key") if w.key else [(0, pdf)]
            for key, g in groups:
                t0 = time.perf_counter()
                tail = pickle.loads(blobs[key]) if key in blobs else st.StreamingTail(cfg)
                t1 = time.perf_counter()
                windows = list(st.rows_to_windows(g))
                t2 = time.perf_counter()
                rows = []
                for ws, cur, recs, bd, hier in windows:
                    rows.extend(tail.process_window(ws, cur, recs, bd, hier))
                t3 = time.perf_counter()
                blobs[key] = pickle.dumps(tail)
                t4 = time.perf_counter()
                t["load"] += t1 - t0
                t["r2w"] += t2 - t1
                t["pw"] += t3 - t2
                t["save"] += t4 - t3
                counts["windows"] += len(windows)
                counts["alerts"] += sum(r["row_type"] == "alert" for r in rows)
                counts["rca_rows"] += sum(r["row_type"] == "rca" for r in rows)
    finally:
        st.StreamingTail._rca_rows = real_rca
    sizes = [len(b) for b in blobs.values()]
    return {
        "state_load_ms": t["load"] * 1e3, "state_save_ms": t["save"] * 1e3,
        "rows_to_windows_ms": t["r2w"] * 1e3, "process_window_ms": t["pw"] * 1e3,
        "rca_ms": t["rca"] * 1e3, "detect_ms": (t["pw"] - t["rca"]) * 1e3,
        "state_bytes_per_key": statistics.mean(sizes) if sizes else 0.0,
        "keys": len(blobs), **counts,
    }


# ---------------------------------------------------------------- ledger


def critical_path(agg: list[dict], det: list[dict], t0: float, t1: float,
                  agg_parts, det_parts, hop_waits: list[tuple[float, float]]) -> dict:
    """Attribute each millisecond of [t0, t1] to a layer (module doc).
    A millisecond in which neither query runs a trigger goes to `hop`
    when a committed `aggs/` file waits for detect to pick it up, and to
    `engine` before the aggregate query's first trigger."""
    import numpy as np

    n = max(1, int(round((t1 - t0) * 1000)))

    def bins(lo: float, hi: float) -> slice:
        return slice(max(0, int((lo - t0) * 1000)), max(0, min(n, int((hi - t0) * 1000))))

    owner_det = np.full(n, -1)
    owner_agg = np.full(n, -1)
    for arr, trig in ((owner_det, det), (owner_agg, agg)):
        for i, b in enumerate(trig):
            arr[bins(b["start"], b["end"])] = i
    out = defaultdict(float)
    det_ms = np.bincount(owner_det[owner_det >= 0], minlength=len(det))
    waiting = owner_det < 0
    agg_ms = np.bincount(owner_agg[waiting & (owner_agg >= 0)], minlength=len(agg))
    for trig, ms, parts in ((det, det_ms, det_parts), (agg, agg_ms, agg_parts)):
        for b, m in zip(trig, ms):
            if m == 0:
                continue
            shares = parts(b)
            total = sum(shares.values()) or 1.0
            for layer, v in shares.items():
                out[layer] += m * v / total
    idle = waiting & (owner_agg < 0)
    pending = np.zeros(n, dtype=bool)
    for lo, hi in hop_waits:
        pending[bins(lo, hi)] = True
    out["hop"] += float(np.sum(idle & pending))
    if agg:
        before = np.zeros(n, dtype=bool)
        before[bins(t0, agg[0]["start"])] = True
        out["engine"] += float(np.sum(idle & ~pending & before))
        idle &= ~before
    out["unattributed"] = float(np.sum(idle & ~pending))
    return dict(out)


def build_ledger(run: dict, w, untraced_catchup_s: float, local1_pps: float) -> tuple[dict, dict]:
    run_dir = run["run_dir"]
    progress = run["progress"]
    ev_files = glob.glob(os.path.join(run_dir, "eventlog", "*"))
    ev = parse_eventlog(ev_files[0])
    with open(os.path.join(run_dir, "trace", "sinks.json")) as f:
        spans = json.load(f)
    tail_spans = []
    for path in glob.glob(os.path.join(run_dir, "trace", "tail-*.jsonl")):
        with open(path) as f:
            tail_spans.extend(json.loads(line) for line in f)
    sink_self = sink_self_ms([s for s in spans if s["sink"] == "aggs"], ev["jobs"], "aggregate")
    sink_self.update(sink_self_ms([s for s in spans if s["sink"] != "aggs"], ev["jobs"], "detect"))
    agg = triggers(progress, "aggregate")
    det = triggers(progress, "detect")

    def ratio_functions(batch: int) -> float:
        py = sql_total(ev, "aggregate", "ArrowEvalPython", "time to run Python workers", batch)
        run_ms = ev["task"].get(("aggregate", batch, "run_ms"), 0.0)
        return min(1.0, py / run_ms) if run_ms else 0.0

    def agg_parts(b: dict) -> dict:
        d = b["d"]
        sink = max(0.0, sink_self.get(("aggs", b["batch"]), 0.0))
        compute = max(0.0, d["addBatch"] - sink)
        f = ratio_functions(b["batch"])
        return {
            "sources": d.get("latestOffset", 0) + d.get("getBatch", 0),
            "functions": compute * f,
            "aggregate": compute * (1 - f),
            "sink": sink,
            "engine": max(0.0, d["triggerExecution"] - d.get("latestOffset", 0)
                          - d.get("getBatch", 0) - d["addBatch"]),
        }

    def det_parts(b: dict) -> dict:
        d = b["d"]
        sink = sum(max(0.0, sink_self.get((s, b["batch"]), 0.0)) for s in ("alerts", "rca"))
        return {
            "hop": d.get("latestOffset", 0) + d.get("getBatch", 0),
            "tail": max(0.0, d["addBatch"] - sink),
            "sink": sink,
            "engine": max(0.0, d["triggerExecution"] - d.get("latestOffset", 0)
                          - d.get("getBatch", 0) - d["addBatch"]),
        }

    # hop: aggs commit (end of its sink span) -> start of the detect
    # trigger that read the file
    from perfbench.run import CommitIndex

    index = CommitIndex(run_dir)
    index.refresh()
    det_start = {b["batch"]: b["start"] for b in det}
    aggs_end = {s["batch"]: s["t1"] for s in spans if s["sink"] == "aggs"}
    hop_waits = []
    for name, dbatch in index.file_detect_batch.items():
        abatch = int(name.split("-")[1])
        if abatch in aggs_end and dbatch in det_start:
            hop_waits.append((aggs_end[abatch], det_start[dbatch]))
    hops = [(b - a) * 1000.0 for a, b in hop_waits]

    wall_ms = (run["t_catchup_end"] - run["t_start"]) * 1000.0
    cp = critical_path(agg, det, run["t_start"], run["t_catchup_end"], agg_parts, det_parts,
                       hop_waits)
    attributed = sum(v for k, v in cp.items() if k != "unattributed")
    aggs_rows = _rows_per_file(os.path.join(run_dir, "aggs"))
    replay = replay_tail(run_dir, w, index.file_detect_batch)

    def so_sum(trig, field):
        return sum(so.get(field, 0) or 0 for b in trig for so in b["state"])

    last_state = agg[-1]["state"] if agg else []
    in_rows = sum(b["rows"] for b in agg)
    expand_rows = sum(
        v for (q, _b, node, m), v in ev["sql"].items()
        if q == "aggregate" and node == "Expand" and m == "number of output rows"
    )
    sinks_by = defaultdict(float)
    for (sink, _b), v in sink_self.items():
        sinks_by[sink] += max(0.0, v)
    m = {
        "sources.offset_ms": (sum(b["d"].get("latestOffset", 0) + b["d"].get("getBatch", 0) for b in agg), "ms"),
        "sources.rows": (in_rows, "count"),
        "functions.extract_python_ms": (
            sql_total(ev, "aggregate", "ArrowEvalPython", "time to run Python workers"), "ms"),
        "functions.extract_bytes": (sql_total(ev, "aggregate", "ArrowEvalPython", "data sent to Python workers"), "bytes"),
        "functions.python_init_ms": (
            sql_total(ev, "aggregate", "ArrowEvalPython", "time to initialize Python workers")
            + sql_total(ev, "aggregate", "ArrowEvalPython", "time to start Python workers"), "ms"),
        "aggregate.self_ms": (sum(b["d"]["addBatch"] for b in agg) - sinks_by["aggs"], "ms"),
        "aggregate.expand_ratio": (expand_rows / in_rows if in_rows else 0.0, "ratio"),
        "aggregate.shuffle_bytes": (sql_total(ev, "aggregate", "Exchange", "shuffle bytes written"), "bytes"),
        "aggregate.fetch_wait_ms": (sql_total(ev, "aggregate", "Exchange", "fetch wait time"), "ms"),
        "aggregate.state_rows": (sum(so.get("numRowsTotal", 0) for so in last_state), "count"),
        "aggregate.state_bytes": (sum(so.get("memoryUsedBytes", 0) for so in last_state), "bytes"),
        "aggregate.state_commit_ms": (so_sum(agg, "commitTimeMs"), "ms"),
        "aggregate.late_dropped": (so_sum(agg, "numRowsDroppedByWatermark"), "count"),
        "aggregate.rows_out": (sum(aggs_rows.values()), "count"),
        "sink.aggs_ms": (sinks_by["aggs"], "ms"),
        "sink.alerts_ms": (sinks_by["alerts"], "ms"),
        "sink.rca_ms": (sinks_by["rca"], "ms"),
        "sink.empty_frac": (sum(1 for v in aggs_rows.values() if v == 0) / max(1, len(aggs_rows)), "fraction"),
        "hop.wait_ms": (statistics.median(hops) if hops else 0.0, "ms"),
        "detect.offset_ms": (sum(b["d"].get("latestOffset", 0) + b["d"].get("getBatch", 0) for b in det), "ms"),
        "detect.empty_frac": (sum(1 for b in det if b["rows"] == 0) / max(1, len(det)), "fraction"),
        "tail.self_ms": (sum(b["d"]["addBatch"] for b in det) - sinks_by["alerts"] - sinks_by["rca"], "ms"),
        "tail.python_ms": (sum((s["t1"] - s["t0"]) * 1000.0 for s in tail_spans), "ms"),
        # Spark 4.1.2 leaves "data sent" at 0 for this operator, so the
        # Arrow traffic is counted both ways
        "tail.arrow_bytes": (
            sql_total(ev, "detect", "FlatMapGroupsInPandasWithState", "data sent to Python workers")
            + sql_total(ev, "detect", "FlatMapGroupsInPandasWithState", "data returned from Python workers"),
            "bytes"),
        "tail.python_init_ms": (
            sql_total(ev, "detect", "FlatMapGroupsInPandasWithState", "time to initialize Python workers")
            + sql_total(ev, "detect", "FlatMapGroupsInPandasWithState", "time to start Python workers"),
            "ms"),
        "tail.python_run_ms": (
            sql_total(ev, "detect", "FlatMapGroupsInPandasWithState", "time to run Python workers"), "ms"),
        "tail.state_load_ms": (replay["state_load_ms"], "ms"),
        "tail.state_save_ms": (replay["state_save_ms"], "ms"),
        "tail.state_bytes_per_key": (replay["state_bytes_per_key"], "bytes"),
        "tail.rows_to_windows_ms": (replay["rows_to_windows_ms"], "ms"),
        "tail.process_window_ms": (replay["process_window_ms"], "ms"),
        "tail.windows": (replay["windows"], "count"),
        "algorithms.detect_ms": (replay["detect_ms"], "ms"),
        "algorithms.rca_ms": (replay["rca_ms"], "ms"),
        "algorithms.alerts": (replay["alerts"], "count"),
        "algorithms.rca_rows": (replay["rca_rows"], "count"),
    }
    for layer in LAYERS:
        m[f"ledger.{layer}_ms"] = (cp.get(layer, 0.0), "ms")
    m["ledger.catchup_wall_ms"] = (wall_ms, "ms")
    m["ledger.coverage"] = (attributed / wall_ms if wall_ms else 0.0, "fraction")
    m["trace.overhead_s"] = (run["catchup_s"] - untraced_catchup_s, "s")
    pps4 = run["stream"].backlog_pages / untraced_catchup_s
    m["scaling_1_to_4"] = (pps4 / local1_pps if local1_pps else 0.0, "ratio")
    metrics = {k: {"value": float(v), "unit": u} for k, (v, u) in m.items()}
    detail = {
        "workload": w.name,
        "catchup_wall_s": {"traced": run["catchup_s"], "untraced": untraced_catchup_s},
        "ledger_ms": {**{k: round(v, 1) for k, v in cp.items()}, "wall": round(wall_ms, 1)},
        "coverage": round(attributed / wall_ms, 4) if wall_ms else None,
        "catchup_pages_per_s": {"local4": pps4, "local1": local1_pps},
        "efficiency_vs_4x": pps4 / local1_pps / 4.0 if local1_pps else None,
        "tail_keys": replay["keys"],
        "hop_samples": len(hops),
        "detect_batches": len(det),
        "aggregate_batches": len(agg),
        "tail_spans": len(tail_spans),
    }
    return metrics, detail


def _rows_per_file(aggs_dir: str) -> dict[str, int]:
    import pyarrow.parquet as pq

    return {
        os.path.basename(p): pq.ParquetFile(p).metadata.num_rows
        for p in glob.glob(os.path.join(aggs_dir, "part-*.parquet"))
    }


def traced_run(w, stream, work_root: str, cpus: int) -> tuple[dict, dict]:
    from perfbench.run import is_correct, log, run_stream

    base = run_stream(w, stream, work_root, "untraced", cpus, live=False, check=False)
    log(f"untraced catch-up {base['catchup_s']:.2f} s")
    traced = run_stream(w, stream, work_root, "traced", cpus, live=True, trace=True)
    log(f"traced catch-up {traced['catchup_s']:.2f} s")
    one = run_stream(w, stream, work_root, "local1", 1, live=False, check=False)
    log(f"local[1] catch-up {one['catchup_s']:.2f} s")
    metrics, detail = build_ledger(
        traced, w, base["catchup_s"], stream.backlog_pages / one["catchup_s"]
    )
    chk = traced["check"]
    detail["error_rate"] = chk["failed"] / max(1, chk["attempted"])
    detail["spans_hit"] = chk["spans_hit"]
    detail["alerts"] = chk["alerts"]
    result = {
        "correct": is_correct(traced),
        "attempted": chk["attempted"],
        "failed": chk["failed"],
        "metrics": metrics,
    }
    return result, detail
