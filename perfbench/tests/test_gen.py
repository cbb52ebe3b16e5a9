"""The generator is deterministic per seed, and its reference agrees
with a plain-Python recount."""

import numpy as np
import pyarrow.parquet as pq

import gen


def brute_force(files):
    out, first = {}, set()
    for batch in files:
        for r in batch:
            toks = [int(t) for t in r.tokens]
            valid = len(toks) == r.n_tok and all(0 <= t < gen.VOCAB for t in toks)
            gated = r.source in gen.ALLOW and r.n_tok >= gen.MIN_N_TOK
            if not (valid and gated) or r.doc_id in first:
                continue
            first.add(r.doc_id)
            ck = sum((i + 1) * t for i, t in enumerate(toks)) % 2**31
            out[r.doc_id] = (r.n_tok, r.source, r.ts_us, ck)
    return out


def flat(files):
    return [(r.doc_id, r.tokens.tobytes(), r.n_tok, r.source, r.ts_us) for b in files for r in b]


def test_same_seed_same_stream():
    assert flat(gen.generate(5, 4, 50, mean_ntok=60)) == flat(gen.generate(5, 4, 50, mean_ntok=60))
    assert flat(gen.generate(5, 4, 50, mean_ntok=60)) != flat(gen.generate(6, 4, 50, mean_ntok=60))


def test_reference_matches_brute_force():
    for seed in (1, 2, 3):
        files = gen.generate(seed, 6, 60, mean_ntok=40, file_span_s=90.0)
        exp = gen.reference(files)
        assert exp.rows == brute_force(files)
        assert exp.input_rows == sum(len(b) for b in files)


def test_stream_has_the_hard_cases():
    files = gen.generate(11, 8, 200, mean_ntok=50)
    rows = [r for b in files for r in b]
    ids = [r.doc_id for r in rows]
    assert len(ids) > len(set(ids)), "duplicates"
    assert any(r.tokens.size == 0 for r in rows), "empty token rows"
    assert any(not gen.is_valid(r) for r in rows), "invalid rows"
    assert any(r.source not in gen.ALLOW for r in rows), "gated sources"
    # file tails: an empty-token row and an invalid row both end some file
    assert any(b[-1].tokens.size == 0 for b in files)
    assert any(not gen.is_valid(b[-1]) for b in files)
    # and every empty tail follows a row that must be emitted
    exp = gen.reference(files)
    for f, b in enumerate(files):
        if b[-1].tokens.size == 0:
            assert exp.file_of.get(b[-2].doc_id) == f


def test_every_row_is_ahead_of_the_watermark():
    """A row in file f is never older than the watermark the engine can
    hold when it reads f: max ts of earlier files minus 300 s."""
    for seed in range(5):
        files = gen.generate(seed, 10, 100, mean_ntok=20, file_span_s=90.0)
        seen_max = None
        for b in files:
            if seen_max is not None:
                wm = seen_max - gen.WATERMARK_S * 1_000_000
                assert min(r.ts_us for r in b) > wm
            seen_max = max([r.ts_us for r in b] + ([seen_max] if seen_max else []))


def test_duplicates_are_bit_identical():
    files = gen.generate(4, 6, 100, mean_ntok=30)
    by_id = {}
    for b in files:
        for r in b:
            key = (r.tokens.tobytes(), r.n_tok, r.source, r.ts_us)
            assert by_id.setdefault(r.doc_id, key) == key


def test_written_file_round_trips(tmp_path):
    files = gen.generate(9, 2, 30, mean_ntok=20)
    paths = gen.write_backlog(files, str(tmp_path), row_groups=3)
    t = pq.read_table(paths[0])
    assert t.num_rows == len(files[0])
    assert pq.ParquetFile(paths[0]).metadata.num_row_groups == 3
    toks = t["tokens"].to_pylist()
    assert all(np.array_equal(np.array(a, dtype=np.int32), r.tokens) for a, r in zip(toks, files[0]))


def test_window_rollup_only_closed_windows():
    files = gen.generate(3, 12, 40, mean_ntok=20, file_span_s=90.0)
    exp = gen.reference(files)
    wm = gen.final_watermark_us(files)
    w = gen.window_rollup(exp, wm)
    assert w, "some windows close"
    assert all(start + gen.WINDOW_S * 1_000_000 <= wm for start, _ in w)
    closed = [v for v in exp.rows.values()
              if v[2] - (v[2] - gen.T0_US) % (gen.WINDOW_S * 1_000_000) + gen.WINDOW_S * 1_000_000 <= wm]
    assert sum(v[0] for v in w.values()) == len(closed)


def test_shape_brackets_the_engine_fixture():
    """The seed ranges bracket datagen.py / FIXTURES.md §1: ~1 % exact
    duplicates, ~5 % rows late by 1-4 min, one source with ~60 % of the
    rows, n_tok uniform over [0, 2048) at the widest."""
    for seed in range(50):
        s = gen.Shape.from_seed(seed)
        assert 0.005 <= s.dup_share <= 0.02
        assert 0.03 <= s.late_share <= 0.07
        assert 0.5 <= s.hot_share <= 0.7
        assert 0.5 <= s.ntok_halfwidth <= 1.0
    files = gen.generate(3, 2, 2000, mean_ntok=gen.MAX_TOK // 2)
    rows = [r for b in files for r in b]
    s = gen.Shape.from_seed(3)
    dups = len(rows) - len({r.doc_id for r in rows})
    assert abs(dups / len(rows) - s.dup_share) < 0.01
    hot = sum(r.source == gen.SOURCES[0] for r in rows) / len(rows)
    assert abs(hot - s.hot_share) < 0.05
    assert max(r.n_tok for r in rows) < gen.MAX_TOK
    # a late row (not a duplicate copy of an earlier file's row) is 1-4 min
    # behind its file's clock
    first, lag = set(), []
    for f, b in enumerate(files):
        for r in b:
            if r.doc_id not in first:
                first.add(r.doc_id)
                lag.append(gen.T0_US + f * 60_000_000 - r.ts_us)
    late = [x for x in lag if x > 0]
    assert late and all(gen.LATE_MIN_S * 1e6 <= x < gen.LATE_MAX_S * 1e6 for x in late)
