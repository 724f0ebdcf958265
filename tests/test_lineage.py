"""The lineage snapshot's latest-wins order, closing fold and window-state
reads, in plain Python (no Spark): rows are CHECKPOINT_SCHEMA-shaped."""

import datetime as dt

from gbif_data_validator_spark.plans.checkpoint import Lineage, latest

T0 = dt.datetime(2025, 1, 1)

#: the state columns of a row without window state
NO_STATE = (None,) * 6


def _row(run_id, pid, status="PASS", n_rows=1, minutes=0, state=NO_STATE):
    t = T0 + dt.timedelta(minutes=minutes)
    return (run_id, pid, status, n_rows, 0, {}, t, t, *state)


def test_latest_prefers_newest_then_smallest_run_id():
    rows = Lineage().with_checkpoints(
        [_row("b", "w", minutes=1), _row("a", "w", minutes=1), _row("c", "w")]
    ).checkpoints
    assert latest(rows, lambda r: r.partition_id)["w"].run_id == "a"
    rows = Lineage().with_checkpoints([_row("a", "w"), _row("b", "w", minutes=1)]).checkpoints
    assert latest(rows, lambda r: r.partition_id)["w"].run_id == "b"


def test_run_summary_folds_history_only_for_a_chain():
    history = Lineage().with_checkpoints(
        [
            _row("A", "2024-01", "FAIL", 10),
            _row("A", "GLOBAL", "FAIL", 0),
            _row("A", "stream:0:2024-01", "PASS", 5),
        ]
    )
    run = history.with_checkpoints(
        [_row("B", "2024-02", n_rows=3, minutes=1), _row("B", "GLOBAL", n_rows=0, minutes=1)]
    )
    assert run.run_summary("B", chain=False) == ({"2024-02": "PASS", "GLOBAL": "PASS"}, 3)
    assert run.run_summary("B", chain=True) == (
        {"2024-02": "PASS", "GLOBAL": "PASS", "2024-01": "FAIL"},
        13,
    )
    assert run.completed_all_runs() == ["2024-01", "2024-02", "GLOBAL"]
    assert run.latest_run() == "B"


def test_window_state_reads_skip_rows_without_that_state():
    """The checkpoint rows carry both states: a drift-off run's newer row
    (no sketch) does not hide an older sketch, and a streaming sketch-only
    row (no profile) is not a window profile."""
    profile = ({}, {}, {}, {})
    lineage = Lineage().with_checkpoints(
        [
            _row("A", "2024-01", n_rows=10, state=(*profile, 10, [1.0, 2.0])),
            _row("B", "2024-01", n_rows=12, minutes=1, state=(*profile, None, None)),
            _row("B", "GLOBAL", n_rows=0, minutes=1),
            _row("s", "stream:0:2024-02", n_rows=5, state=(None,) * 4 + (5, [3.0])),
        ]
    )
    assert lineage.window_sketches() == {
        "2024-01": (10, [1.0, 2.0]),
        "stream:0:2024-02": (5, [3.0]),
    }
    assert lineage.window_sketches("B") == {}
    assert {p: s["n_rows"] for p, s in lineage.window_profiles().items()} == {"2024-01": 12}
