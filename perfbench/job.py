"""The job process of one benchmark run.

Started fresh by `run.py` for every measurement:

    python3 perfbench/job.py <config.json>

It builds the session with `session.get_spark`, starts the shipped
two-query topology (`StreamingJob.start_aggregate_query` over the
page stream, then `start_detect_query`), prints one `READY <json>`
line and waits for `STOP` on stdin. It then stops both queries, saves
their progress reports and, if `oracle` is set, writes the batch
oracles next to the streaming outputs:

- `oracle_aggs/`: batch `long_form_window_aggs` over every page file;
- `oracle_tail/`: `make_batch_tail` replayed over the committed `aggs/`.

With `trace` set, the event log is on and `trace.install` wraps the
sinks and the tail function before the queries start.
"""

from __future__ import annotations

import json
import os
import sys
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
if ROOT not in sys.path:
    sys.path.insert(0, ROOT)

from perfbench.workloads import WORKLOADS, Workload  # noqa: E402


def tail_config(w: Workload):
    from online_anomaly_detection_root_cause_analysis_spark.streaming.state import (
        TailConfig,
    )

    if w.detector == "zscore":
        return TailConfig(mode="zscore", rca_mode="simple")
    return TailConfig(
        mode="threshold", rca_mode="simple", min_value=0.0, max_value=w.max_value
    )


def session_conf(cfg: dict) -> dict[str, str]:
    conf = {
        # enough progress reports to cover a whole run (default 100)
        "spark.sql.streaming.numRecentProgressUpdates": "100000",
        # one Arrow chunk per tail group and micro-batch: make_tail_fn
        # handles each chunk of a group on its own, which reorders and
        # splits windows once a group exceeds the default 10 000 rows
        # (NOTES.md, "Defects"); no batch of these workloads comes near
        # this limit
        "spark.sql.execution.arrow.maxRecordsPerBatch": "1000000",
    }
    if cfg.get("trace"):
        conf.update(
            {
                "spark.eventLog.enabled": "true",
                "spark.eventLog.dir": cfg["eventlog_dir"],
                "spark.eventLog.compress": "false",
                "spark.eventLog.rolling.enabled": "false",
            }
        )
    return conf


def main(config_path: str) -> None:
    with open(config_path) as f:
        cfg = json.load(f)
    w = WORKLOADS[cfg["workload"]]
    if cfg["smoke"]:
        w = w.smoke()

    from online_anomaly_detection_root_cause_analysis_spark.config import (
        web_pages_config,
    )
    from online_anomaly_detection_root_cause_analysis_spark.session import get_spark
    from online_anomaly_detection_root_cause_analysis_spark.sources.pages import (
        read_pages_stream,
    )
    from online_anomaly_detection_root_cause_analysis_spark.sources.records import (
        build_page_records,
    )
    from online_anomaly_detection_root_cause_analysis_spark.streaming.job import (
        StreamingJob,
    )

    recorder = None
    if cfg.get("trace"):
        os.makedirs(cfg["eventlog_dir"], exist_ok=True)
        from perfbench import trace

        recorder = trace.install(cfg["trace_dir"])

    spark = get_spark(app_name="perfbench", cpus=cfg["cpus"], extra_conf=session_conf(cfg))
    engine_cfg = web_pages_config()
    job = StreamingJob(
        work_dir=cfg["work"],
        cfg=engine_cfg,
        tail=tail_config(w),
        size_s=w.size_s,
        slide_s=w.slide_s,
        watermark=f"{w.watermark_s} seconds",
        key=w.key,
    )
    pages = read_pages_stream(spark, cfg["pages_dir"], w.max_files_per_trigger)
    records = build_page_records(pages, engine_cfg, use_extracted_text=w.use_extracted_text)
    t_start = time.time()
    q_agg = job.start_aggregate_query(records)
    q_det = job.start_detect_query(spark)
    print("READY " + json.dumps({"t_start": t_start, "t_ready": time.time()}), flush=True)
    line = sys.stdin.readline()
    if line.strip() != "STOP":
        raise SystemExit(f"expected STOP on stdin, got {line!r}")
    status = {}
    for q in (q_agg, q_det):
        exc = q.exception()
        status[q.name] = {
            "active": q.isActive,
            "exception": None if exc is None else str(exc)[:2000],
            "progress": [p.json for p in q.recentProgress],
        }
        q.stop()
    with open(os.path.join(cfg["work"], "progress.json"), "w") as f:
        json.dump(status, f)
    if recorder is not None:
        recorder.dump()

    if cfg["oracle"]:
        write_oracles(spark, cfg, w, job, engine_cfg)
    spark.stop()
    print("DONE", flush=True)


def write_oracles(spark, cfg: dict, w: Workload, job, engine_cfg) -> None:
    from online_anomaly_detection_root_cause_analysis_spark.sources.pages import (
        read_pages,
    )
    from online_anomaly_detection_root_cause_analysis_spark.sources.records import (
        build_page_records,
    )
    from online_anomaly_detection_root_cause_analysis_spark.streaming.job import (
        long_form_window_aggs,
    )
    from online_anomaly_detection_root_cause_analysis_spark.streaming.state import (
        make_batch_tail,
    )

    spark.sparkContext.setJobDescription("perfbench oracle")
    records = build_page_records(
        read_pages(spark, cfg["pages_dir"]), engine_cfg,
        use_extracted_text=w.use_extracted_text,
    )
    long_form_window_aggs(
        records, engine_cfg, w.size_s, w.slide_s, watermark=None, key=w.key
    ).write.mode("overwrite").parquet(os.path.join(cfg["work"], "oracle_aggs"))
    agg_schema = (
        "window_start_epoch long, dim_name string, dim_value string, "
        "dim_group string, dim_level int, dim_sum double, dim_count long"
    )
    if w.key is not None:
        agg_schema = "tail_key string, " + agg_schema
    committed = spark.read.schema(agg_schema).parquet(job.aggs_dir)
    make_batch_tail(
        committed, tail_config(w), key_col="tail_key" if w.key else None
    ).write.mode("overwrite").parquet(os.path.join(cfg["work"], "oracle_tail"))


if __name__ == "__main__":
    main(sys.argv[1])
