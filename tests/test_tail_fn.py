"""The applyInPandasWithState tail function (`make_tail_fn`) driven
without Spark through a stand-in GroupState: its output must not
depend on how Spark chunks a group's rows into Arrow batches, and a
state written under another PICKLE_VERSION must fail loudly."""

import pickle

import pandas as pd
import pytest

from online_anomaly_detection_root_cause_analysis_spark.streaming.state import (
    PICKLE_VERSION,
    TOTAL_DIM,
    StreamingTail,
    TailConfig,
    make_tail_fn,
)

from .test_fuzz import _FakeLSHState

ALERT_WINDOW = 25


def _aggs_rows(n_windows: int = 40) -> pd.DataFrame:
    """Long-form aggregate rows for `n_windows` 60 s windows: one
    '__total__' row plus two values of each of three dimensions per
    window; window ALERT_WINDOW carries a 10x spike on lang=el. Rows
    are shuffled, as Spark gives no ordering guarantee."""
    rows = []
    for w in range(n_windows):
        ws = 1_700_000_000 + 60 * w
        dims = {
            ("lang", "en", "content"): 10.0,
            ("lang", "el", "content"): 100.0 if w == ALERT_WINDOW else 10.0,
            ("host", "a.uk", "traffic"): 12.0,
            ("host", "b.de", "traffic"): 8.0,
            ("kind", "x", "misc"): 15.0,
            ("kind", "y", "misc"): 5.0,
        }
        total = sum(v for (name, _, _), v in dims.items() if name == "lang")
        rows.append((ws, TOTAL_DIM, "", "", 0, total, int(total)))
        for (name, value, group), v in dims.items():
            rows.append((ws, name, value, group, 1, v, int(v)))
    pdf = pd.DataFrame(
        rows,
        columns=[
            "window_start_epoch", "dim_name", "dim_value", "dim_group",
            "dim_level", "dim_sum", "dim_count",
        ],
    )
    return pdf.sample(frac=1.0, random_state=7).reset_index(drop=True)


def _drive(fn, chunks) -> pd.DataFrame:
    frames = list(fn(("k",), iter(chunks), _FakeLSHState()))
    return pd.concat(frames, ignore_index=True)


def test_tail_fn_output_independent_of_arrow_chunking():
    cfg = TailConfig(mode="threshold", rca_mode="simple", max_value=50.0)
    fn = make_tail_fn(cfg, with_key=True)
    pdf = _aggs_rows()
    whole = _drive(fn, [pdf])
    n = len(pdf) // 3
    chunked = _drive(fn, [pdf.iloc[:n], pdf.iloc[n : 2 * n], pdf.iloc[2 * n :]])

    alerts = whole[whole["row_type"] == "alert"]
    assert alerts["seq"].tolist() == [ALERT_WINDOW + 1]
    assert (whole["row_type"] == "rca").any()
    pd.testing.assert_frame_equal(chunked, whole)


def test_tail_fn_rejects_other_state_version():
    fn = make_tail_fn(TailConfig())
    state = _FakeLSHState()
    stale = PICKLE_VERSION + 1
    state.update((stale, pickle.dumps(StreamingTail(TailConfig()))))
    with pytest.raises(ValueError, match=f"version {stale}.*version {PICKLE_VERSION}"):
        list(fn(("k",), iter([_aggs_rows(2)]), state))
