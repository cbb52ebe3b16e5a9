"""A per-layer metric the workload should have measured and did not
fails the run instead of reading 0."""

import pytest

import collect as C
from run import per_layer_metrics

SPEC = {"per_layer": [{"name": "drain.state.commit_ms", "unit": "ms", "better": "lower"},
                      {"name": "query.q.exec_s", "unit": "s", "better": "lower"}]}


def test_idle_layer_reads_zero():
    got = per_layer_metrics(SPEC, {"drain.state.commit_ms": 12.0}, ("query.",))
    assert got == {"drain.state.commit_ms": {"value": 12.0, "unit": "ms"},
                   "query.q.exec_s": {"value": 0.0, "unit": "s"}}


def test_missing_exercised_layer_fails():
    with pytest.raises(ValueError, match="drain.state.commit_ms"):
        per_layer_metrics(SPEC, {}, ("query.",))


def test_unreported_counter_is_none_not_zero():
    prog = [{"durationMs": {"addBatch": 5}, "stateOperators": [{"commitTimeMs": 0}]}]
    assert C.sum_duration(prog, "addBatch") == 5.0
    assert C.sum_duration(prog, "walCommit") is None
    assert C.sum_state(prog, "commitTimeMs") == 0.0
    assert C.sum_state(prog, "numRowsDroppedByWatermark") is None
    execs = [[("Exchange", "shuffleBytesWritten", 0.0)]]
    assert C.metric_sum(execs, "Exchange", "shuffleBytesWritten") == 0.0
    assert C.metric_sum(execs, "Exchange", "shuffle bytes written") is None
