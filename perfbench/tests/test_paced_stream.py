"""The file -> query batch -> commit mapping on a tiny real paced stream.

Between two files the continuous pipeline runs no-data batches (the
watermark moved), so query batch ids run ahead of the file source's own
log numbers; a wrong mapping shows up as files whose batch holds another
file's rows."""

import pytest

import collect as C
import stream
from common import Sessions


@pytest.fixture(scope="module")
def spark(tmp_path_factory):
    s = Sessions(C.Tracer("test", enabled=False))
    warm = stream.make_warmup(str(tmp_path_factory.mktemp("warm")), seed=1)
    try:
        yield s.open("local[2]", warm)
    finally:
        s.shutdown()


def test_every_file_lands_in_the_batch_that_admitted_it(spark, tmp_path, monkeypatch):
    # Slow enough that the engine idles between files, and event time far
    # enough apart that the watermark moves: the engine then runs a
    # no-data batch between files.
    monkeypatch.setattr(stream, "PACED_RATE_HZ", 0.25)
    monkeypatch.setattr(stream, "PACED_FILE_SPAN_S", 400.0)
    paced = stream.Paced(str(tmp_path), seed=3, n_files=4)
    res = paced.segment(spark, "t", C.Tracer("test", enabled=False))
    assert res["failed"] == 0, res["info"]
    batches = res["info"]["file_batches"]
    assert batches[-1] > len(batches) - 1, f"no no-data batch ran: {batches}"
    assert res["attempted"] == 4 + len(paced.windows)
    assert len(res["latencies"]) == 4
    assert all(0 < v < stream.COMMIT_WAIT_S for v in res["latencies"])
