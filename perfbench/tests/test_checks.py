"""A wrong answer is counted as a failed operation."""

import pandas as pd

import gen
import stream
from batch import Tally, compare
from common import ROOT, load_module

V = load_module("verify_oracle", f"{ROOT}/tools/verify_oracle.py")


def test_injected_wrong_query_result_fails_one_operation():
    oracle = pd.DataFrame({"source": ["a", "b"], "n": [1, 2], "x": [0.5, 1.5]})
    right = oracle.iloc[::-1].reset_index(drop=True)  # order does not matter
    wrong = right.copy()
    wrong.loc[0, "x"] = 1.5000001
    t = Tally()
    t.record("q", compare(right, oracle, V), mismatch=True)
    t.record("q", compare(wrong, oracle, V), mismatch=True)
    t.record("q", compare(right.iloc[:1], oracle, V), mismatch=True)
    t.record("q", "RuntimeError: query failed")
    assert (t.attempted, t.failed, t.mismatches) == (4, 3, 2)


def events_rows(exp):
    return [(d, n, s, ts, ck, 0) for d, (n, s, ts, ck) in exp.rows.items()]


def test_stream_check_counts_each_bad_row():
    exp = gen.reference(gen.generate(2, 3, 40, mean_ntok=30))
    rows = events_rows(exp)
    lineage = [{"rows": len(rows)}]
    assert stream.check_events(exp, rows, lineage)[:2] == (len(exp.rows), 0)
    bad = list(rows)
    d, n, s, ts, ck, b = bad[0]
    bad[0] = (d, n, s, ts, ck + 1, b)  # wrong checksum
    bad.append(bad[1])  # duplicated row
    bad.pop(2)  # missing row
    assert stream.check_events(exp, bad, [{"rows": len(bad)}])[1] == 3
    assert stream.check_events(exp, rows, [{"rows": len(rows) - 1}])[1] == 1
