"""Workload definitions for the streaming AD+RCA benchmark.

Every size, rate and threshold of a workload is fixed here, so two
commits measured with the same benchmark code see the same inputs for
the same seed. The seed only reaches `sources.pages.generate_pages`.
"""

from __future__ import annotations

from dataclasses import dataclass, replace


@dataclass(frozen=True)
class Workload:
    name: str
    # aggregation shape
    size_s: int
    slide_s: int
    watermark_s: int
    max_files_per_trigger: int
    use_extracted_text: bool
    key: str | None
    # tail: "threshold" (max_value) or "zscore" (EWMA defaults of
    # jobs/run_streaming.py); RCA is always the simple contributor finder
    detector: str
    max_value: float
    # page stream: one generated table, split into a pre-written backlog
    # and a live part appended on an open-loop schedule
    backlog_pages: int
    backlog_file_pages: int
    live_file_pages: int
    live_files_per_s: float
    out_of_order_fraction: float
    # one planted anomaly span in each part, as (start, end) fractions
    # of that part's pages
    backlog_span: tuple[float, float] = (0.50, 0.53)
    live_span: tuple[float, float] = (0.40, 0.50)

    def smoke(self) -> "Workload":
        """A few hundred pages in small files: the whole path from
        generator to oracle check in well under a minute."""
        return replace(self, backlog_pages=1_200, backlog_file_pages=400,
                       live_file_pages=200, live_files_per_s=1.0,
                       backlog_span=(0.4, 0.6), live_span=(0.3, 0.7))


WORKLOADS: dict[str, Workload] = {
    w.name: w
    for w in [
        # jobs/run_streaming.py's shipped shape: 300/60 s windows, threshold
        # + simple RCA, 4 files per trigger, 1% out-of-order rows; per-batch
        # sink, hop and tail costs dominate
        Workload(
            name="minute_threshold",
            size_s=300,
            slide_s=60,
            watermark_s=600,
            max_files_per_trigger=4,
            use_extracted_text=False,
            key=None,
            detector="threshold",
            max_value=60_000.0,
            backlog_pages=6_000,
            backlog_file_pages=750,
            live_file_pages=400,
            live_files_per_s=0.2,
            out_of_order_fraction=0.01,
        ),
        # html -> extract_text pandas UDF, 3600/600 s windows: the only
        # workload with UDF extraction and six window copies per page; the
        # tail sees few windows. Its catch-up is still led by the tail's
        # fixed cost per micro-batch (the committed ledger)
        Workload(
            name="hourly_extract",
            size_s=3600,
            slide_s=600,
            watermark_s=600,
            max_files_per_trigger=4,
            use_extracted_text=True,
            key=None,
            detector="threshold",
            max_value=600_000.0,
            backlog_pages=32_000,
            backlog_file_pages=4_000,
            live_file_pages=600,
            live_files_per_s=0.2,
            out_of_order_fraction=0.0,
            # an hour of pages per window: a short span would raise no alert
            live_span=(0.2, 0.6),
        ),
        # the minute shape keyed by url_host: 50 z-score tails, many small
        # states against one large serial state
        Workload(
            name="host_keyed",
            size_s=300,
            slide_s=60,
            watermark_s=600,
            max_files_per_trigger=4,
            use_extracted_text=False,
            key="url_host",
            detector="zscore",
            max_value=float("inf"),
            backlog_pages=9_000,
            backlog_file_pages=750,
            live_file_pages=800,
            live_files_per_s=0.2,
            out_of_order_fraction=0.01,
        ),
    ]
}
