"""End-to-end benchmark of the streaming AD+RCA job.

    python3 perfbench/run.py --workload minute_threshold --seed 1 \
        --seconds 30 --trace 0

One run, from the root of a checkout:

1. generate the page stream from `--seed` (`sources.pages.generate_pages`
   with one planted anomaly span in the backlog and one in the live
   part) and split it into backlog files and live files;
2. launch a fresh job process; `setup_s` is the time from launch until
   both queries run;
3. drain the pre-written backlog (catch-up), then append the live
   files on an open-loop schedule for `--seconds` seconds from a single
   generator thread (this process);
4. stop the job, check its outputs against the batch oracles it wrote
   (`job.py`) and print one JSON result as the last line of stdout.

`--trace 1` makes a separate traced run instead (`trace.py`): per-layer
numbers, tracing overhead and the local[1] scaling ratio.

The job process gets `SPARK_GRAFT_CPUS` (default 4),
`SPARK_GRAFT_DRIVER_MEM` (default 2g), a directory of its own under
`SPARK_LOCAL_DIRS` (default `perfbench/_work/spark-local`) and the
checkout on `PYTHONPATH`.
Everything a run writes stays under `perfbench/_work/`.
"""

from __future__ import annotations

import argparse
import glob
import json
import math
import os
import queue
import shutil
import signal
import subprocess
import sys
import threading
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
if ROOT not in sys.path:
    sys.path.insert(0, ROOT)

from perfbench.workloads import WORKLOADS, Workload  # noqa: E402

MIN_TIMED_FILES = 5
READY_TIMEOUT_S = 90
CATCHUP_TIMEOUT_S = 80
DRAIN_TIMEOUT_S = 40
STOP_TIMEOUT_S = 60
PLANTED_LANG = "el"
PLANTED_HOST_IDX = 7


T0 = time.time()


def log(msg: str) -> None:
    print(f"[perfbench {time.time() - T0:6.1f}s] {msg}", file=sys.stderr, flush=True)


class BenchError(RuntimeError):
    """A run that cannot produce a result (setup failed, job died)."""


# ---------------------------------------------------------------- inputs


class PageStream:
    """The seeded page table of one run, cut into backlog and live
    files, with the event-time bookkeeping the metrics need."""

    def __init__(self, w: Workload, seed: int, seconds: float):
        import numpy as np
        import pyarrow as pa

        from online_anomaly_detection_root_cause_analysis_spark.sources.pages import (
            AnomalySpan,
            PagesSpec,
            generate_pages,
        )

        n_live_files = max(1, math.ceil(seconds * w.live_files_per_s))
        n_live = n_live_files * w.live_file_pages
        n = w.backlog_pages + n_live
        b = w.backlog_pages
        spans = [
            AnomalySpan(w.backlog_span[0] * b / n, w.backlog_span[1] * b / n,
                        host_idx=PLANTED_HOST_IDX, lang=PLANTED_LANG),
            AnomalySpan((b + w.live_span[0] * n_live) / n, (b + w.live_span[1] * n_live) / n,
                        host_idx=PLANTED_HOST_IDX, lang=PLANTED_LANG),
        ]
        pdf = generate_pages(
            PagesSpec(n_pages=n, seed=seed,
                      out_of_order_fraction=w.out_of_order_fraction,
                      anomaly_spans=spans)
        )
        pdf["warc_ts"] = pdf["warc_ts"].astype("datetime64[us]")
        self.backlog_pages = b
        cuts = list(range(0, b, w.backlog_file_pages)) + list(range(b, n, w.live_file_pages))
        self.n_backlog_files = len(range(0, b, w.backlog_file_pages))
        bounds = cuts + [n]
        self.tables = [
            pa.Table.from_pandas(pdf.iloc[lo:hi], preserve_index=False)
            for lo, hi in zip(bounds[:-1], bounds[1:])
        ]
        ts = pdf["warc_ts"].to_numpy().astype("datetime64[s]").astype("int64")
        file_max = np.array([ts[lo:hi].max() for lo, hi in zip(bounds[:-1], bounds[1:])])
        self.cummax = np.maximum.accumulate(file_max)
        self.span_ranges = []
        for s in spans:
            lo, hi = int(s.start_frac * n), int(s.end_frac * n)
            self.span_ranges.append((int(ts[lo:hi].min()), int(ts[lo:hi].max())))
        # every window holding at least one page, and the file whose
        # arrival moves the watermark past its end
        size, slide, wm = w.size_s, w.slide_s, w.watermark_s
        firsts = np.unique(ts // slide * slide)
        starts = set()
        for k in range(size // slide):
            starts.update((firsts - k * slide).tolist())
        self.windows = {}
        for ws in sorted(starts):
            if ws + size <= ts.min():
                continue
            idx = int(np.searchsorted(self.cummax, ws + size + wm, side="left"))
            self.windows[ws] = idx if idx < len(self.cummax) else None
        self.host = f"h{PLANTED_HOST_IDX}.site{PLANTED_HOST_IDX % 25}"

    def truncated(self, last_file: int) -> "PageStream":
        """The same stream cut after file `last_file`."""
        import copy

        cut = copy.copy(self)
        cut.tables = self.tables[: last_file + 1]
        cut.cummax = self.cummax[: last_file + 1]
        cut.windows = {ws: (f if f is not None and f <= last_file else None)
                       for ws, f in self.windows.items()}
        cut.span_ranges = [r for r in self.span_ranges if r[1] <= cut.cummax[-1]]
        return cut

    def finalised(self, upto_file: int | None = None) -> list[int]:
        """Window starts closed by files [0, upto_file] (all files if None)."""
        last = len(self.tables) - 1 if upto_file is None else upto_file
        return sorted(ws for ws, f in self.windows.items() if f is not None and f <= last)


def write_page_file(table, pages_dir: str, idx: int, mtime: float) -> float:
    """Atomically publish one page file: write under a hidden name the
    file source ignores, stamp its mtime, rename. Returns publish time."""
    import pyarrow.parquet as pq

    tmp = os.path.join(pages_dir, f".tmp-{idx:06d}.parquet")
    pq.write_table(table, tmp)
    os.utime(tmp, (mtime, mtime))
    os.replace(tmp, os.path.join(pages_dir, f"pages-{idx:06d}.parquet"))
    return time.time()


# ---------------------------------------------------------------- job process


def spark_local_dir(work_root: str) -> str:
    """SPARK_LOCAL_DIRS names a parent; each run gets (and removes) its own."""
    parent = os.environ.get("SPARK_LOCAL_DIRS") or os.path.join(HERE, "_work", "spark-local")
    return os.path.join(os.path.abspath(os.path.join(ROOT, parent)), os.path.basename(work_root))


def child_env(work_root: str) -> dict[str, str]:
    env = dict(os.environ)
    env.setdefault("SPARK_GRAFT_CPUS", "4")
    env.setdefault("SPARK_GRAFT_DRIVER_MEM", "2g")
    env["SPARK_LOCAL_DIRS"] = spark_local_dir(work_root)
    os.makedirs(env["SPARK_LOCAL_DIRS"], exist_ok=True)
    tmp = os.path.join(work_root, "tmp")
    os.makedirs(tmp, exist_ok=True)
    env["TMPDIR"] = tmp
    # keep the JVMs' temp files (native libraries, perf data) in the run too
    env["JAVA_TOOL_OPTIONS"] = f"-XX:-UsePerfData -Djava.io.tmpdir={tmp}"
    env["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, env.get("PYTHONPATH")) if p
    )
    env["PYSPARK_PYTHON"] = sys.executable
    env["PYSPARK_DRIVER_PYTHON"] = sys.executable
    return env


class JobProcess:
    """One `job.py` process in its own process group."""

    def __init__(self, cfg: dict, work_root: str):
        os.makedirs(cfg["work"], exist_ok=True)
        cfg_path = os.path.join(cfg["work"], "job.json")
        with open(cfg_path, "w") as f:
            json.dump(cfg, f)
        self.log_path = os.path.join(cfg["work"], "job.log")
        self._log = open(self.log_path, "w")
        self.lines: queue.Queue[str] = queue.Queue()
        self.t_launch = time.time()
        self.proc = subprocess.Popen(
            [sys.executable, os.path.join(HERE, "job.py"), cfg_path],
            stdin=subprocess.PIPE, stdout=subprocess.PIPE, stderr=self._log,
            text=True, cwd=cfg["work"], env=child_env(work_root),
            start_new_session=True,
        )
        self._reader = threading.Thread(target=self._read, daemon=True)
        self._reader.start()

    def _read(self) -> None:
        for line in self.proc.stdout:
            self.lines.put(line.rstrip("\n"))
        self.lines.put("")

    def expect(self, prefix: str, timeout: float) -> str:
        deadline = time.time() + timeout
        while True:
            try:
                line = self.lines.get(timeout=max(0.01, deadline - time.time()))
            except queue.Empty:
                raise BenchError(f"job gave no {prefix!r} within {timeout:.0f} s; {self.tail_log()}")
            if line.startswith(prefix):
                return line[len(prefix):].strip()
            if line == "" and self.proc.poll() is not None:
                raise BenchError(f"job exited ({self.proc.returncode}) before {prefix!r}; {self.tail_log()}")

    def tail_log(self) -> str:
        self._log.flush()
        with open(self.log_path, errors="replace") as f:
            return "job log tail: " + f.read()[-1500:]

    def stop(self) -> None:
        self.proc.stdin.write("STOP\n")
        self.proc.stdin.flush()
        self.expect("DONE", STOP_TIMEOUT_S)
        self.proc.wait(timeout=STOP_TIMEOUT_S)

    def kill(self) -> None:
        if self.proc.poll() is None:
            try:
                os.killpg(self.proc.pid, signal.SIGKILL)
            except ProcessLookupError:
                pass
        self.proc.wait(timeout=30)
        self._reader.join(timeout=10)
        self._log.close()


class RssSampler(threading.Thread):
    """Peak summed RSS of a process tree, sampled from /proc."""

    def __init__(self, root_pid: int, period: float = 0.1):
        super().__init__(daemon=True)
        self.root_pid, self.period = root_pid, period
        self.peak_kb = 0
        self._stop_evt = threading.Event()
        self._page_kb = os.sysconf("SC_PAGE_SIZE") // 1024

    def run(self) -> None:
        while not self._stop_evt.is_set():
            self.peak_kb = max(self.peak_kb, self.sample())
            self._stop_evt.wait(self.period)

    def sample(self) -> int:
        children: dict[int, list[int]] = {}
        for d in os.listdir("/proc"):
            if not d.isdigit():
                continue
            try:
                with open(f"/proc/{d}/stat") as f:
                    ppid = int(f.read().rsplit(")", 1)[1].split()[1])
            except (OSError, IndexError, ValueError):
                continue
            children.setdefault(ppid, []).append(int(d))
        total, todo = 0, [self.root_pid]
        while todo:
            pid = todo.pop()
            todo.extend(children.get(pid, ()))
            try:
                with open(f"/proc/{pid}/comm") as f:
                    comm = f.read()
                # Hadoop's local file system forks the JVM to run chmod and
                # readlink; until exec, such a child carries the forking
                # thread's name and repeats the JVM's RSS
                if not comm.startswith(("java", "python")):
                    continue
                with open(f"/proc/{pid}/statm") as f:
                    total += int(f.read().split()[1]) * self._page_kb
            except (OSError, IndexError, ValueError):
                pass
        return total

    def stop(self) -> float:
        self._stop_evt.set()
        self.join(timeout=5)
        return self.peak_kb / 1024.0


# ---------------------------------------------------------------- outputs


class CommitIndex:
    """Which detect commit published each window: aggs file -> aggs
    batch -> detect batch (file-source log) -> `rca/_committed_<n>`."""

    def __init__(self, work: str):
        self.work = work
        self.window_file: dict[int, str] = {}
        self._read_files: set[str] = set()
        self.file_detect_batch: dict[str, int] = {}

    def refresh(self) -> None:
        import pyarrow.parquet as pq

        aggs = os.path.join(self.work, "aggs")
        for path in sorted(glob.glob(os.path.join(aggs, "part-*.parquet"))):
            name = os.path.basename(path)
            if name in self._read_files:
                continue
            col = pq.read_table(path, columns=["window_start_epoch"]).column(0)
            for ws in set(col.to_pylist()):
                self.window_file.setdefault(ws, name)
            self._read_files.add(name)
        src_log = os.path.join(self.work, "checkpoints", "detect", "sources", "0")
        for path in glob.glob(os.path.join(src_log, "*")):
            if os.path.basename(path).startswith("."):
                continue
            try:
                with open(path) as f:
                    lines = f.read().splitlines()[1:]
            except OSError:
                continue
            for line in lines:
                try:
                    e = json.loads(line)
                except ValueError:
                    continue
                self.file_detect_batch[os.path.basename(e["path"])] = e["batchId"]

    def commit_time(self, ws: int) -> float | None:
        name = self.window_file.get(ws)
        if name is None or name not in self.file_detect_batch:
            return None
        marker = os.path.join(
            self.work, "rca", f"_committed_{self.file_detect_batch[name]:010d}"
        )
        try:
            return os.path.getmtime(marker)
        except OSError:
            return None

    def drained(self) -> bool:
        """Every `aggs/` file so far has reached a detect commit."""
        batches = [self.file_detect_batch.get(n) for n in self._read_files]
        return None not in batches and all(
            os.path.exists(os.path.join(self.work, "rca", f"_committed_{b:010d}"))
            for b in batches
        )

    def wait_idle(self, job: JobProcess, quiet: float, timeout: float) -> None:
        """Wait until both queries have nothing in flight for `quiet` s."""
        deadline = time.time() + timeout
        since, seen = time.time(), len(self._read_files)
        while time.time() < deadline:
            self.refresh()
            if len(self._read_files) != seen or not self.drained():
                since, seen = time.time(), len(self._read_files)
            elif time.time() - since >= quiet:
                return
            if job.proc.poll() is not None:
                raise BenchError(f"job exited ({job.proc.returncode}); {job.tail_log()}")
            time.sleep(0.05)
        raise BenchError(f"job still busy {timeout:.0f} s after catch-up; {job.tail_log()}")

    def wait_for(self, ws: int, job: JobProcess, timeout: float) -> float:
        deadline = time.time() + timeout
        while time.time() < deadline:
            self.refresh()
            t = self.commit_time(ws)
            if t is not None:
                return t
            if job.proc.poll() is not None:
                raise BenchError(f"job exited ({job.proc.returncode}); {job.tail_log()}")
            time.sleep(0.05)
        raise BenchError(f"window {ws} not committed within {timeout:.0f} s; {job.tail_log()}")


def read_frame(path: str):
    import pyarrow.parquet as pq

    files = sorted(glob.glob(os.path.join(path, "*.parquet")))
    if not files:
        return None
    import pandas as pd

    return pd.concat([pq.read_table(f).to_pandas() for f in files], ignore_index=True)


def _canon(df, cols, key_cols):
    """Rows of `df` grouped per window unit, as sorted tuples; numbers
    become floats rounded to 6 dp (the engine quantises its outputs far
    coarser, and the two sides type some columns differently)."""
    import pandas as pd

    out: dict = {}
    if df is None or len(df) == 0:
        return out
    df = df[cols].copy()
    for c in cols:
        if pd.api.types.is_numeric_dtype(df[c]) and not pd.api.types.is_bool_dtype(df[c]):
            df[c] = df[c].astype("float64").round(6)
    df = df.astype(object).where(df.notna(), None)
    for row in df.itertuples(index=False):
        unit = tuple(getattr(row, k) for k in key_cols)
        out.setdefault(unit, []).append(tuple(row))
    return {u: sorted(rows, key=repr) for u, rows in out.items()}


def check_outputs(work: str, w: Workload, stream: PageStream) -> dict:
    """Window-level comparison of the streaming outputs against the
    oracles, plus the planted-span gate."""
    from online_anomaly_detection_root_cause_analysis_spark.streaming.state import (
        tail_output_schema,
    )

    agg_cols = ["window_start_epoch", "dim_name", "dim_value", "dim_group",
                "dim_level", "dim_sum", "dim_count"]
    unit_cols = ["window_start_epoch"]
    if w.key:
        agg_cols = ["tail_key"] + agg_cols
        unit_cols = ["tail_key"] + unit_cols
    tail_cols = [c.split()[0] for c in tail_output_schema(bool(w.key)).split(", ")]
    tail_cols.remove("row_type")
    final = set(stream.finalised())
    oracle_aggs = read_frame(os.path.join(work, "oracle_aggs"))
    oracle_aggs = oracle_aggs[oracle_aggs["window_start_epoch"].isin(final)]
    exp_aggs = _canon(oracle_aggs, agg_cols, unit_cols)
    got_aggs = _canon(read_frame(os.path.join(work, "aggs")), agg_cols, unit_cols)

    alerts = read_frame(os.path.join(work, "alerts"))
    rca = read_frame(os.path.join(work, "rca"))
    oracle_tail = read_frame(os.path.join(work, "oracle_tail"))
    got_tail: dict = {}
    exp_tail: dict = {}
    for kind, frame in (("alert", alerts), ("rca", rca)):
        for u, rows in _canon(frame, tail_cols, unit_cols).items():
            got_tail.setdefault(u, []).extend((kind,) + r for r in rows)
        if oracle_tail is not None:
            exp = oracle_tail[oracle_tail["row_type"] == kind]
            for u, rows in _canon(exp, tail_cols, unit_cols).items():
                exp_tail.setdefault(u, []).extend((kind,) + r for r in rows)

    failed = sum(
        1 for u in exp_aggs
        if got_aggs.get(u) != exp_aggs[u] or got_tail.get(u, []) != exp_tail.get(u, [])
    )
    extra = [u for u in set(got_aggs) | set(got_tail) if u not in exp_aggs and u[-1] in final]

    # planted spans: an alert whose RCA names the planted (lang, host)
    spans_hit = []
    for lo, hi in stream.span_ranges:
        hit = False
        if rca is not None and len(rca):
            in_span = rca[(rca["window_start_epoch"] + w.size_s > lo)
                          & (rca["window_start_epoch"] <= hi)]
            for _, g in in_span.groupby(unit_cols):
                named = set(zip(g["dim_name"], g["dim_value"]))
                if ("lang", PLANTED_LANG) in named and any(
                    n == "url_host" and v.startswith(stream.host + ".") for n, v in named
                ):
                    hit = True
                    break
        spans_hit.append(hit)
    n_alerts = 0 if alerts is None else len(alerts)
    n_rca = 0 if rca is None else len(rca)
    return {
        "attempted": len(exp_aggs),
        "failed": failed + len(extra),
        "spans_hit": spans_hit,
        "alerts": n_alerts,
        "rca_rows": n_rca,
    }


def late_dropped(progress: dict) -> int:
    total = 0
    for p in progress.get("aggregate", {}).get("progress", []):
        for so in json.loads(p).get("stateOperators", []):
            total += int(so.get("numRowsDroppedByWatermark", 0))
    return total


# ---------------------------------------------------------------- one run


def job_config(w: Workload, run_dir: str, pages_dir: str, cpus: int,
               trace: bool = False, oracle: bool = True) -> dict:
    return {
        "oracle": oracle,
        "work": run_dir,
        "pages_dir": pages_dir,
        "cpus": cpus,
        "workload": w.name,
        "smoke": w != WORKLOADS[w.name],
        "trace": trace,
        "eventlog_dir": os.path.join(run_dir, "eventlog"),
        "trace_dir": os.path.join(run_dir, "trace"),
    }


def run_stream(w: Workload, stream: PageStream, work_root: str, name: str,
               cpus: int, live: bool, trace: bool = False, check: bool = True) -> dict:
    """One job process: catch-up over the backlog, then (if `live`) the
    open-loop live phase. Returns raw timings and the output check."""
    run_dir = os.path.join(work_root, name)
    pages_dir = os.path.join(run_dir, "pages")
    os.makedirs(pages_dir, exist_ok=True)
    now = time.time()
    for i in range(stream.n_backlog_files):
        write_page_file(stream.tables[i], pages_dir, i, now - stream.n_backlog_files + i)
    last_file = len(stream.tables) - 1 if live else stream.n_backlog_files - 1
    if not live:
        # a catch-up-only run checks only what the backlog finalises
        stream = stream.truncated(last_file)

    job = JobProcess(job_config(w, run_dir, pages_dir, cpus, trace, check), work_root)
    rss = RssSampler(job.proc.pid)
    rss.start()
    try:
        ready = json.loads(job.expect("READY", READY_TIMEOUT_S))
        index = CommitIndex(run_dir)
        backlog_final = stream.finalised(stream.n_backlog_files - 1)
        if not backlog_final:
            raise BenchError("the backlog finalises no window")
        log(f"{name}: ready after {ready['t_ready'] - job.t_launch:.2f} s")
        t_catchup_end = index.wait_for(backlog_final[-1], job, CATCHUP_TIMEOUT_S)
        log(f"{name}: caught up in {t_catchup_end - ready['t_start']:.2f} s")

        writes: dict[int, float] = {}
        lateness = []
        if live:
            # the no-data batches that follow catch-up finish before the
            # schedule starts, so the first live file does not queue behind them
            index.wait_idle(job, quiet=0.5, timeout=DRAIN_TIMEOUT_S)
            t0 = time.time()
            for k, i in enumerate(range(stream.n_backlog_files, len(stream.tables))):
                due = t0 + k / w.live_files_per_s
                delay = due - time.time()
                if delay > 0:
                    time.sleep(delay)
                writes[i] = write_page_file(stream.tables[i], pages_dir, i, time.time())
                lateness.append(writes[i] - due)
            all_final = stream.finalised()
            index.wait_for(all_final[-1], job, DRAIN_TIMEOUT_S)
            log(f"{name}: live phase drained")
        # the peak covers the streaming job only, not the oracles it
        # computes after STOP
        peak_mb = rss.stop()
        job.stop()
        log(f"{name}: job stopped")
    finally:
        rss.stop()
        job.kill()

    with open(os.path.join(run_dir, "progress.json")) as f:
        progress = json.load(f)
    for q, st in progress.items():
        if st["exception"]:
            raise BenchError(f"query {q} failed: {st['exception']}")
    index.refresh()
    latencies = []
    per_file: dict[int, float] = {}
    for ws, f in stream.windows.items():
        if f in writes:
            t = index.commit_time(ws)
            if t is not None:
                latencies.append(t - writes[f])
                per_file[f] = max(per_file.get(f, 0.0), t - writes[f])
    return {
        "run_dir": run_dir,
        "t_start": ready["t_start"],
        "setup_s": ready["t_ready"] - job.t_launch,
        "catchup_s": t_catchup_end - ready["t_start"],
        "t_catchup_end": t_catchup_end,
        "latencies": latencies,
        "file_latency_s": [round(per_file[f], 3) for f in sorted(per_file)],
        "lateness": lateness,
        "peak_rss_mb": peak_mb,
        "late_dropped": late_dropped(progress),
        "progress": progress,
        "check": check_outputs(run_dir, w, stream) if check else None,
        "stream": stream,
    }


def percentile(values: list[float], q: float) -> float:
    import numpy as np

    return float(np.percentile(np.asarray(values), q))


def is_correct(r: dict) -> bool:
    """Every finalised window equals the oracle, every planted span is
    named by an alert's RCA, and no row was dropped as late."""
    chk = r["check"]
    return chk["failed"] == 0 and all(chk["spans_hit"]) and r["late_dropped"] == 0


def cpu_probe_s() -> float:
    """Seconds a fixed pure-Python loop takes here: a validity field that
    shows when the host itself ran slow, not a metric."""
    t0 = time.perf_counter()
    sum(i * i for i in range(3_000_000))
    return time.perf_counter() - t0


def timed_run(w: Workload, stream: PageStream, work_root: str, cpus: int,
              min_files: int = MIN_TIMED_FILES) -> tuple[dict, dict]:
    probe = cpu_probe_s()
    r = run_stream(w, stream, work_root, "main", cpus, live=True)
    lat = r["latencies"]
    # the windows a file closes reach the same detect commit, so the
    # independent latency samples are the timed files, not the windows
    if len(r["file_latency_s"]) < min_files:
        raise BenchError(f"only {len(r['file_latency_s'])} timed live files; "
                         f"need {min_files} (raise --seconds)")
    chk = r["check"]
    failed = chk["failed"]
    metrics = {
        "setup_s": {"value": r["setup_s"], "unit": "s"},
        "catchup_pages_per_s": {"value": stream.backlog_pages / r["catchup_s"], "unit": "pages/s"},
        "window_latency_p50_s": {"value": percentile(lat, 50), "unit": "s"},
        "window_latency_p95_s": {"value": percentile(lat, 95), "unit": "s"},
        "peak_rss_mb": {"value": r["peak_rss_mb"], "unit": "MiB"},
    }
    detail = {
        "workload": w.name,
        "samples": {"setup_s": 1, "window_latency": len(lat),
                    "timed_files": len(r["file_latency_s"]),
                    "catchup_pages": stream.backlog_pages},
        "catchup_s": r["catchup_s"],
        "error_rate": failed / max(1, chk["attempted"]),
        "late_dropped": r["late_dropped"],
        "spans_hit": chk["spans_hit"],
        "alerts": chk["alerts"],
        "rca_rows": chk["rca_rows"],
        "generator_lateness_s": {"p50": percentile(r["lateness"], 50),
                                 "max": max(r["lateness"])},
        "live_files": len(r["lateness"]),
        "cpu_probe_s": probe,
        "file_latency_s": r["file_latency_s"],
        "window_latency_s": {f"p{q}": percentile(lat, q) for q in (50, 75, 90, 95, 99)},
    }
    result = {"correct": is_correct(r), "attempted": chk["attempted"],
              "failed": failed, "metrics": metrics}
    return result, detail


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    ap.add_argument("--smoke", action="store_true",
                    help="tiny inputs: checks the harness end to end")
    args = ap.parse_args()

    try:
        import online_anomaly_detection_root_cause_analysis_spark  # noqa: F401
    except ImportError as e:
        print(f"perfbench: the engine package is not importable here: {e}", file=sys.stderr)
        return 2

    w = WORKLOADS[args.workload]
    if args.smoke:
        w = w.smoke()
    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", "4"))
    work_root = os.path.join(HERE, "_work", f"{w.name}-{args.seed}-{os.getpid()}")
    os.makedirs(work_root, exist_ok=True)
    try:
        stream = PageStream(w, args.seed, args.seconds)
        if args.trace:
            from perfbench import trace

            result, detail = trace.traced_run(w, stream, work_root, cpus)
        else:
            result, detail = timed_run(w, stream, work_root, cpus,
                                       *((1,) if args.smoke else ()))
    except BenchError as e:
        print(f"perfbench: {e}", file=sys.stderr)
        return 1
    finally:
        shutil.rmtree(spark_local_dir(work_root), ignore_errors=True)
        shutil.rmtree(work_root, ignore_errors=True)
    print(json.dumps(detail))
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
