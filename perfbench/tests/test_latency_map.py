"""File -> epoch -> commit mapping on a tiny paced stream's checkpoint,
laid out the way Spark's file source and commit logs write it."""

import json
import os

import collect as C
import stream


def write_log(path, entries):
    with open(path, "w") as f:
        f.write("v1\n")
        for e in entries:
            f.write(json.dumps(e) + "\n")


def entry(name, batch):
    return {"path": f"file:///x/in/{name}", "timestamp": 1, "batchId": batch}


def fake_checkpoint(root, commits):
    """Twelve files, one a batch, but query batch 3 is a no-data batch
    (only the watermark moved), so file k lands in query batch k + 1
    from k = 3 on; the last file's batch never commits."""
    src, off, com = (os.path.join(root, d) for d in ("sources/0", "offsets", "commits"))
    for d in (src, off, com):
        os.makedirs(d)
    # source log entries 0..9 compact into 9.compact (Spark's default interval 10)
    write_log(os.path.join(src, "9.compact"), [entry(f"part_{i:05d}.parquet", i) for i in range(10)])
    write_log(os.path.join(src, "10"), [entry("part_00010.parquet", 10)])
    write_log(os.path.join(src, "11"), [entry("part_00011.parquet", 11)])
    with open(os.path.join(src, ".11.crc"), "w") as f:
        f.write("junk")
    log_offsets = [0, 1, 2, 2] + list(range(3, 12))  # query batch -> source log offset
    for b, n in enumerate(log_offsets):
        write_log(os.path.join(off, str(b)), [{"batchWatermarkMs": 0}, {"logOffset": n}])
    for b, t in commits.items():
        p = os.path.join(com, str(b))
        with open(p, "w") as f:
            f.write('v1\n{"nextBatchWatermarkMs":0}\n')
        os.utime(p, (t, t))


def test_files_map_to_the_query_batch_that_admitted_them(tmp_path):
    commits = {b: 1000.0 + b for b in range(12)}  # batch 12 never commits
    fake_checkpoint(str(tmp_path), commits)
    epoch_of = C.epoch_of_files(str(tmp_path))
    assert [epoch_of[f"part_{i:05d}.parquet"] for i in range(12)] == [0, 1, 2] + list(range(4, 13))
    scheduled = {f"part_{i:05d}.parquet": 999.5 + i for i in range(12)}
    scheduled["part_00012.parquet"] = 1020.0  # published, never admitted
    lat, missing = C.file_latencies(scheduled, epoch_of, C.commit_times(str(tmp_path / "commits")))
    assert sorted(missing) == ["part_00011.parquet", "part_00012.parquet"]
    assert lat["part_00002.parquet"] == 0.5
    assert all(lat[f"part_{i:05d}.parquet"] == 1.5 for i in range(3, 11))


def test_backlog_counts_published_not_committed():
    scheduled = {"a": 0.0, "b": 1.0, "c": 2.0}
    assert stream.backlog_max(scheduled, {"a": 0.5, "b": 1.5, "c": 2.5}) == 1
    assert stream.backlog_max(scheduled, {"a": 2.5, "b": 2.6, "c": 2.7}) == 3
