"""Seeded sequence-stream generator with an independent reference.

Pure numpy + pyarrow: nothing here imports Spark or the engine package,
so the expected output is computed without the code under test.

A stream is a list of files in the ``SEQUENCES`` schema (doc_id, tokens,
n_tok, source, ts).  The seed picks the traffic shape inside ranges that
bracket the engine's own sequence fixture (``FIXTURES.md`` §1 and
``bitquery_kafka_streams_rust_spark/datagen.py``):

- duplicate share 0.5-2 % around its ~1 % exact duplicates;
- late-row share 3-7 % around its ~5 % rows late by 1-4 min (so always
  inside the 300 s watermark);
- hot-source share 50-70 % around its one hot source with ~60 % of the
  rows, the other sources sharing the rest evenly;
- n_tok uniform around the mean, its half-width 50-100 % of the mean;
  at 100 % and mean 1024 this is datagen's n_tok in [0, 2048).

Rows below the gate's minimum n_tok, empty-token rows and invalid rows
are rare edge cases at fixed rates (datagen's uniform n_tok puts 16 in
2048 rows below 16 and 1 in 2048 at 0; no fixture gives an invalid-row
rate, so it is kept at the empty-row rate), plus the file tails below.
The reference then says which rows must come out of the exactly-once
pipeline: a row survives when it is valid, passes the gate and is the
first row of its doc_id.  Duplicates are bit-identical copies, as the
engine's fixtures require, so "first" is well defined.
"""

from __future__ import annotations

import os
from dataclasses import dataclass

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

VOCAB = 50257
MOD = 2**31
WATERMARK_S = 300
WINDOW_S = 600
# Late rows are 1-4 min late (datagen.py), so they and duplicate copies
# stay at least 60 s inside the watermark and no correct engine may drop
# them.
LATE_MIN_S, LATE_MAX_S = 60, 240
# datagen.py's n_tok is uniform in [0, 2048): 16 in 2048 rows fall below
# the gate's minimum, 1 in 2048 is empty.
MAX_TOK = 2048
# Sources from most to least frequent; the gate admits the first four.
SOURCES = ("pumpfun", "raydium", "orca", "meteora", "phoenix", "jupiter")
# The gate the benchmark runs (jobs/run_pipeline.py --sources ... --min-n-tok 16).
ALLOW = SOURCES[:4]
MIN_N_TOK = 16
SHORT_SHARE = MIN_N_TOK / MAX_TOK
EMPTY_SHARE = INVALID_SHARE = 1 / MAX_TOK
T0_US = 1_704_067_200_000_000  # 2024-01-01T00:00:00Z

SCHEMA = pa.schema(
    [
        pa.field("doc_id", pa.string(), nullable=False),
        pa.field("tokens", pa.list_(pa.field("element", pa.int32(), nullable=False)), nullable=False),
        pa.field("n_tok", pa.int32(), nullable=False),
        pa.field("source", pa.string(), nullable=False),
        pa.field("ts", pa.timestamp("us", tz="UTC"), nullable=False),
    ]
)


@dataclass(frozen=True)
class Shape:
    """The seed-chosen traffic properties (recorded with every run)."""

    dup_share: float
    late_share: float
    hot_share: float
    ntok_halfwidth: float  # share of the mean

    @classmethod
    def from_seed(cls, seed: int) -> "Shape":
        r = np.random.default_rng([seed, 1])
        return cls(
            dup_share=float(r.uniform(0.005, 0.02)),
            late_share=float(r.uniform(0.03, 0.07)),
            hot_share=float(r.uniform(0.5, 0.7)),
            ntok_halfwidth=float(r.uniform(0.5, 1.0)),
        )

    def source_weights(self) -> np.ndarray:
        cold = (1.0 - self.hot_share) / (len(SOURCES) - 1)
        return np.array([self.hot_share] + [cold] * (len(SOURCES) - 1))


@dataclass
class Row:
    doc_id: str
    tokens: np.ndarray
    n_tok: int
    source: str
    ts_us: int


def checksum(tokens: np.ndarray) -> int:
    """sum((i+1) * t) mod 2^31 — the engine's token_checksum, recomputed."""
    if tokens.size == 0:
        return 0
    w = np.arange(1, tokens.size + 1, dtype=np.int64)
    return int((w * tokens.astype(np.int64)).sum() % MOD)


def is_valid(row: Row) -> bool:
    t = row.tokens
    return t.size == row.n_tok and (t.size == 0 or (int(t.min()) >= 0 and int(t.max()) < VOCAB))


def passes_gate(row: Row) -> bool:
    return row.source in ALLOW and row.n_tok >= MIN_N_TOK


def generate(
    seed: int,
    n_files: int,
    rows_per_file: int,
    mean_ntok: int = MAX_TOK // 2,
    file_span_s: float = 60.0,
    tag: str = "",
) -> list[list[Row]]:
    """Rows per file, in arrival order.

    Event time advances ``file_span_s`` per file.  A late row is up to
    ``LATE_MAX_S`` older than its file's clock, and a duplicate copies a
    row whose ts is at most ``LATE_MAX_S`` behind the clock, so every
    row arrives ahead of the watermark (max ts of earlier epochs - 300 s)
    and no dedup key expires before its last copy arrives."""
    shape = Shape.from_seed(seed)
    r = np.random.default_rng([seed, 2, n_files, rows_per_file])
    weights = shape.source_weights()
    half = int(shape.ntok_halfwidth * mean_ntok)
    lo, hi = max(MIN_N_TOK, mean_ntok - half), mean_ntok + half
    span_us = int(file_span_s * 1e6)
    files: list[list[Row]] = []
    recent: list[Row] = []  # candidates for duplicate copies
    serial = 0
    for f in range(n_files):
        clock = T0_US + f * span_us
        recent = [x for x in recent if x.ts_us >= clock - LATE_MAX_S * 1_000_000]
        rows: list[Row] = []
        for _ in range(rows_per_file):
            if recent and r.random() < shape.dup_share:
                src = recent[int(r.integers(len(recent)))]
                rows.append(Row(src.doc_id, src.tokens, src.n_tok, src.source, src.ts_us))
                continue
            if r.random() < SHORT_SHARE:
                n = int(r.integers(1, MIN_N_TOK))
            else:
                n = int(r.integers(lo, hi))
            tokens = r.integers(0, VOCAB, size=n, dtype=np.int32)
            n_tok = n
            kind = r.random()
            if kind < EMPTY_SHARE:
                tokens, n_tok = tokens[:0], 0
            elif kind < EMPTY_SHARE + INVALID_SHARE:
                if r.random() < 0.5:
                    n_tok = n + int(r.integers(1, 5))  # declared length mismatch
                else:
                    tokens = tokens.copy()
                    tokens[int(r.integers(n))] = VOCAB + int(r.integers(0, 1000))
            ts = clock + int(r.integers(0, span_us))
            if r.random() < shape.late_share:
                ts = clock - int(r.integers(LATE_MIN_S * 1_000_000, LATE_MAX_S * 1_000_000))
            src_name = SOURCES[int(r.choice(len(SOURCES), p=weights))]
            row = Row(f"d{tag}{seed}-{serial}", tokens, n_tok, src_name, ts)
            serial += 1
            rows.append(row)
            recent.append(row)
        # Half the files end on a surviving row followed by an empty-token
        # row: a batch tail the Arrow decode kernel has to reduce correctly
        # (a kernel that truncates the last non-empty segment before an
        # empty tail emits a wrong checksum for a row that is kept).  A
        # quarter end on a row whose declared length is wrong.
        if f % 2 == 0:
            keep = r.integers(0, VOCAB, size=MIN_N_TOK + 8, dtype=np.int32)
            rows.append(Row(f"d{tag}{seed}-{serial}", keep, keep.size, ALLOW[0], clock))
            rows.append(Row(f"d{tag}{seed}-{serial + 1}", np.zeros(0, np.int32), 0, ALLOW[0], clock))
            serial += 2
        elif f % 4 == 1:
            bad = r.integers(0, VOCAB, size=MIN_N_TOK, dtype=np.int32)
            rows.append(Row(f"d{tag}{seed}-{serial}", bad, MIN_N_TOK + 1, ALLOW[0], clock))
            serial += 1
        files.append(rows)
    return files


def to_table(rows: list[Row]) -> pa.Table:
    lens = np.fromiter((x.tokens.size for x in rows), dtype=np.int32, count=len(rows))
    offsets = np.zeros(len(rows) + 1, dtype=np.int32)
    np.cumsum(lens, out=offsets[1:])
    values = np.concatenate([x.tokens for x in rows]) if rows else np.zeros(0, np.int32)
    tokens = pa.ListArray.from_arrays(pa.array(offsets), pa.array(values, pa.int32()))
    return pa.Table.from_arrays(
        [
            pa.array([x.doc_id for x in rows], pa.string()),
            tokens.cast(SCHEMA.field("tokens").type),
            pa.array([x.n_tok for x in rows], pa.int32()),
            pa.array([x.source for x in rows], pa.string()),
            pa.array([x.ts_us for x in rows], pa.timestamp("us", tz="UTC")),
        ],
        schema=SCHEMA,
    )


def write_backlog(files: list[list[Row]], out_dir: str, row_groups: int = 1) -> list[str]:
    """Write the files with strictly increasing mtimes, so the file
    source admits them oldest-first, one per epoch.  Several row groups a
    file let Spark split it across cores the way a large production file
    would be."""
    os.makedirs(out_dir, exist_ok=True)
    paths = []
    base = 1_700_000_000
    for i, rows in enumerate(files):
        p = os.path.join(out_dir, f"part_{i:05d}.parquet")
        pq.write_table(to_table(rows), p, row_group_size=max(1, -(-len(rows) // row_groups)))
        os.utime(p, (base + i, base + i))
        paths.append(p)
    return paths


# --------------------------------------------------------------------------
# reference
# --------------------------------------------------------------------------


@dataclass(frozen=True)
class Expected:
    """What the exactly-once pipeline must emit for a stream."""

    rows: dict[str, tuple[int, str, int, int]]  # doc_id -> (n_tok, source, ts_us, cksum)
    file_of: dict[str, int]  # doc_id -> index of the file that admits it
    input_rows: int
    valid_gated_rows: int  # valid and through the gate, duplicates included

    def per_file(self, n_files: int) -> list[set[str]]:
        out: list[set[str]] = [set() for _ in range(n_files)]
        for d, f in self.file_of.items():
            out[f].add(d)
        return out


def reference(files: list[list[Row]]) -> Expected:
    rows: dict[str, tuple[int, str, int, int]] = {}
    file_of: dict[str, int] = {}
    n_in = n_pass = 0
    for f, batch in enumerate(files):
        for x in batch:
            n_in += 1
            if not (is_valid(x) and passes_gate(x)):
                continue
            n_pass += 1
            if x.doc_id not in rows:
                rows[x.doc_id] = (x.n_tok, x.source, x.ts_us, checksum(x.tokens))
                file_of[x.doc_id] = f
    return Expected(rows, file_of, n_in, n_pass)


def final_watermark_us(files: list[list[Row]]) -> int:
    return max(x.ts_us for batch in files for x in batch) - WATERMARK_S * 1_000_000


def window_rollup(exp: Expected, watermark_us: int) -> dict[tuple[int, str], tuple[int, int, int]]:
    """600 s tumbling windows per source over the survivors, for every
    window the final watermark has closed: (win_start_us, source) ->
    (n_seq, sum_tok, sum_cksum)."""
    w = WINDOW_S * 1_000_000
    out: dict[tuple[int, str], list[int]] = {}
    for n_tok, source, ts, ck in exp.rows.values():
        start = ts - (ts - T0_US) % w
        if start + w > watermark_us:
            continue
        acc = out.setdefault((start, source), [0, 0, 0])
        acc[0] += 1
        acc[1] += n_tok
        acc[2] += ck
    return {k: tuple(v) for k, v in out.items()}
