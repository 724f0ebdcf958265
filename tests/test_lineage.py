"""The lineage snapshot's latest-wins order and closing fold, in plain
Python (no Spark): rows are CHECKPOINT_SCHEMA-shaped tuples."""

import datetime as dt

from gbif_data_validator_spark.plans.checkpoint import Lineage, latest

T0 = dt.datetime(2025, 1, 1)


def _row(run_id, pid, status="PASS", n_rows=1, minutes=0):
    t = T0 + dt.timedelta(minutes=minutes)
    return (run_id, pid, status, n_rows, 0, {}, t, t)


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
