"""The ``stream`` workload: the exactly-once pipeline in two phases.

Drain phase: a pre-written backlog of fat sequences drained with
``availableNow`` (the engine reads as fast as it can), several times on
fresh checkpoints.  Per-row work dominates: decode over token arrays,
the dedup shuffle and state updates.

Paced phase (traced run only): an open loop.  A generator thread
publishes small files on a fixed schedule, and the engine runs the
production continuous configuration: 500 ms processingTime trigger, 1
file per trigger, the windowed rollup as a second query, the JSON
metrics listener attached and the health server's /metrics polled once
a second.  Fixed per-epoch costs dominate.
"""

from __future__ import annotations

import dataclasses
import http.client
import itertools
import os
import shutil
import threading
import time
from contextlib import contextmanager

import pyarrow as pa
import pyarrow.dataset as ds

import collect as C
import gen
from common import NPROC, Sessions, fresh_dir, job_config
from stats import median, tail

# Drain: 3 files of 3000 sequences (mean n_tok 1024, ~9M tokens), 8 row
# groups a file so one epoch's scan splits across the cores.  After one
# untimed drain (the JIT is still warming on full-size epochs), one timed
# drain per DRAIN_SECONDS_PER_REP of --seconds, at least 4, so every run
# of a given length does the same work.
DRAIN_FILES, DRAIN_ROWS, DRAIN_ROW_GROUPS = 3, 3000, 8
DRAIN_SECONDS_PER_REP = 5
# Paced: PACED_FILES files of 40 sequences published at a fixed rate
# below what the engine sustains with both queries running (see
# perfbench/README.md).
PACED_ROWS, PACED_NTOK, PACED_RATE_HZ, PACED_FILES = 40, 400, 0.6, 24
PACED_FILE_SPAN_S = 90.0
WARM_FILES, WARM_ROWS = 1, 1000
COMMIT_WAIT_S = 30.0
EVENTS_QUERY = "sequence_events"
# Per-layer metric prefixes of the other workload: explicit zeros here.
IDLE_LAYERS = ("batch.", "query.", "kernel.", "oracle.")


def _us(col: pa.ChunkedArray) -> list[int]:
    unit = col.type.unit
    v = col.cast(pa.timestamp(unit)).cast(pa.int64()).to_numpy()
    if unit == "ns":
        return (v // 1000).tolist()
    return (v * {"s": 1_000_000, "ms": 1000, "us": 1}[unit]).tolist()


def read_output(out_dir: str, columns: list[str]) -> pa.Table | None:
    if not os.path.isdir(out_dir) or not any(n.startswith("batch_id=") for n in os.listdir(out_dir)):
        return None
    return ds.dataset(out_dir, format="parquet", partitioning="hive").to_table(columns=columns)


def read_events(out_dir: str) -> list[tuple]:
    """(doc_id, n_tok, source, ts_us, cksum, batch_id) for every output row."""
    t = read_output(out_dir, ["doc_id", "n_tok", "source", "ts", "cksum", "batch_id"])
    if t is None:
        return []
    cols = [t["doc_id"].to_pylist(), t["n_tok"].to_pylist(), t["source"].to_pylist(),
            _us(t["ts"]), t["cksum"].to_pylist(), t["batch_id"].to_pylist()]
    return list(zip(*cols))


def read_lineage(out_dir: str) -> list[dict]:
    from bitquery_kafka_streams_rust_spark.streaming.sink import read_lineage as rl

    return rl(out_dir) if os.path.isdir(os.path.join(out_dir, "_lineage")) else []


def _by_doc(rows: list[tuple]) -> tuple[dict[str, tuple], int]:
    got: dict[str, tuple] = {}
    dups = 0
    for d, n, s, ts, ck, _b in rows:
        if d in got:
            dups += 1
        else:
            got[d] = (int(n), s, int(ts), int(ck))
    return got, dups


def check_events(exp: gen.Expected, rows: list[tuple], lineage: list[dict]) -> tuple[int, int, dict]:
    """Row-for-row comparison on (doc_id, n_tok, source, ts, cksum).
    Each expected row is one operation; a missing, extra, duplicated or
    wrong row is one failure, and so is each row of disagreement
    between the lineage manifests and the output."""
    got, dups = _by_doc(rows)
    missing = sum(1 for d in exp.rows if d not in got)
    extra = sum(1 for d in got if d not in exp.rows)
    wrong = sum(1 for d in got if d in exp.rows and got[d] != exp.rows[d])
    lineage_gap = abs(sum(int(m["rows"]) for m in lineage) - len(rows))
    detail = {"missing": missing, "extra": extra, "wrong": wrong,
              "duplicate": dups, "lineage_gap": lineage_gap}
    return len(exp.rows), missing + extra + wrong + dups + lineage_gap, detail


def check_files(exp: gen.Expected, names: list[str], epoch_of: dict[str, int],
                committed: dict[int, float], rows: list[tuple]) -> tuple[int, dict]:
    """Each published file is one operation: it fails when its epoch
    never committed, or when that epoch's output is not exactly the
    survivors the file admits."""
    per_file = exp.per_file(len(names))
    by_epoch: dict[int, list[tuple]] = {}
    for r in rows:
        by_epoch.setdefault(int(r[5]), []).append(r)
    uncommitted = wrong = 0
    for i, name in enumerate(names):
        b = epoch_of.get(name)
        if b is None or b not in committed:
            uncommitted += 1
            continue
        got, dups = _by_doc(by_epoch.get(b, []))
        want = {d: exp.rows[d] for d in per_file[i]}
        if dups or got != want:
            wrong += 1
    return uncommitted + wrong, {"uncommitted": uncommitted, "wrong_rows": wrong}


def check_rollup(exp_windows: dict, out_dir: str) -> tuple[int, int]:
    """(windows expected, windows missing/extra/wrong) for the rollup."""
    t = read_output(out_dir, ["win_start", "source", "n_seq", "sum_tok", "sum_cksum"])
    got: dict = {}
    if t is not None:
        for k in zip(_us(t["win_start"]), t["source"].to_pylist(), t["n_seq"].to_pylist(),
                     t["sum_tok"].to_pylist(), t["sum_cksum"].to_pylist()):
            key = (k[0], k[1])
            got[key] = None if key in got else (int(k[2]), int(k[3]), int(k[4]))
    bad = sum(1 for k, v in exp_windows.items() if got.get(k) != v)
    bad += sum(1 for k in got if k not in exp_windows)
    return len(exp_windows), bad


@contextmanager
def traced_sink(spark, tracer: C.Tracer, parent: list, plans: list):
    """Swap the pipeline's sink class for a timing subclass while the
    queries are built.  Each call is a span under ``parent[0]``; after an
    events epoch its executed plan is kept in ``plans`` (one call into
    the JVM; its node metrics are read after the run)."""
    from bitquery_kafka_streams_rust_spark.streaming import pipeline as P

    if not tracer.enabled:
        yield
        return
    orig = P.ExactlyOnceParquetSink
    streams = spark._jsparkSession.streams()

    class TimedSink(orig):
        def __call__(self, batch_df, batch_id):
            name = os.path.basename(self.out_dir)
            with tracer.span("sink.call", parent=parent[0], sink=name, batch=batch_id):
                super().__call__(batch_df, batch_id)
            if name == "events":
                for q in streams.active():
                    if q.name() == EVENTS_QUERY:
                        plans.append(q.streamingQuery().lastExecution().executedPlan())

        def _write_manifest(self, batch_id, totals):
            with tracer.span("sink.manifest", batch=batch_id):
                super()._write_manifest(batch_id, totals)

    P.ExactlyOnceParquetSink = TimedSink
    try:
        yield
    finally:
        P.ExactlyOnceParquetSink = orig


# --------------------------------------------------------------------------
# per-layer metrics
# --------------------------------------------------------------------------


def measured(lay: dict) -> dict[str, float]:
    """Drop what the engine did not report (None): run.py then fails on
    the missing metric instead of printing a 0."""
    return {k: v for k, v in lay.items() if v is not None}


def progress_layers(prog: list[dict]) -> dict[str, float]:
    ep = C.data_epochs(prog)
    fixed = [p["durationMs"].get("triggerExecution", 0) - p["durationMs"].get("addBatch", 0)
             for p in ep] or [0]
    return measured({
        "source.input_rows": float(sum(p.get("numInputRows", 0) for p in ep)),
        "source.epochs": float(len(ep)),
        "source.latest_offset_ms": C.sum_duration(ep, "latestOffset"),
        "source.get_batch_ms": C.sum_duration(ep, "getBatch"),
        "pipeline.query_planning_ms": C.sum_duration(ep, "queryPlanning"),
        "pipeline.wal_commit_ms": C.sum_duration(ep, "walCommit"),
        "pipeline.commit_offsets_ms": C.sum_duration(ep, "commitOffsets"),
        "pipeline.add_batch_ms": C.sum_duration(ep, "addBatch"),
        "pipeline.epoch_fixed_ms_p50": float(median(fixed)),
        "state.rows_total": C.last_state(prog, "numRowsTotal"),
        "state.memory_bytes": C.last_state(prog, "memoryUsedBytes"),
        "state.update_ms": C.sum_state(ep, "allUpdatesTimeMs"),
        "state.commit_ms": C.sum_state(ep, "commitTimeMs"),
        "state.rows_dropped_by_watermark": C.sum_state(prog, "numRowsDroppedByWatermark"),
    })


def plan_layers(plans: list) -> dict[str, float]:
    """Decode/gate/dedup and shuffle counts from the events epochs'
    executed plans.  Validity and the gate fuse into one Filter node,
    so the engine reports one count for both."""
    m = [C.plan_metrics(p) for p in plans]
    scanned = C.metric_sum(m, "Scan", "numOutputRows")
    kept = C.metric_sum(m, "Filter", "numOutputRows")
    deduped = C.metric_sum(m, "StreamingDeduplicateWithinWatermark", "numOutputRows")
    sh_bytes = C.metric_sum(m, "Exchange", "shuffleBytesWritten")
    sh_rows = C.metric_sum(m, "Exchange", "shuffleRecordsWritten")

    def ratio(a, b):
        return a / b if a is not None and b else None

    return measured({
        "decode.rows_out": kept,
        "gate.pass_ratio": ratio(kept, scanned),
        "dedup.unique_ratio": ratio(deduped, kept),
        "shuffle.bytes": sh_bytes,
        "shuffle.bytes_per_row": ratio(sh_bytes, sh_rows),
    })


def sink_layers(tracer: C.Tracer, spans: list[dict], out_dir: str) -> dict[str, float]:
    lin = read_lineage(out_dir)
    tot = tracer.totals_by_name([s for s in spans if s.get("sink", "events") == "events"])
    return {
        "sink.call_ms": 1e3 * tot.get("sink.call", (0.0, 0.0))[0],
        "sink.manifest_ms": 1e3 * tot.get("sink.manifest", (0.0, 0.0))[0],
        "sink.rows": float(sum(int(m["rows"]) for m in lin)),
        "sink.files": float(sum(len(m["files"]) for m in lin)),
        "sink.bytes": float(sum(f["bytes"] for m in lin for f in m["files"])),
    }


def span_layers(tracer: C.Tracer, spans: list[dict]) -> dict[str, float]:
    """Where one traced drain's wall went: start_pipeline; process_all's
    self time (the engine's per-epoch work outside the sink: planning,
    offsets, WAL and commit logs, trigger scheduling); the sink calls,
    which run the upstream plan lazily, less their manifest writes."""
    tot = tracer.totals_by_name(spans)

    def get(name, i=0):
        return tot.get(name, (0.0, 0.0))[i]

    return {
        "trace.drain_s": get("drain"),
        "trace.start_pipeline_s": get("start_pipeline"),
        "trace.process_all_s": get("process_all"),
        "trace.process_all_self_s": get("process_all", 1),
        "trace.sink_call_self_s": get("sink.call", 1),
        "trace.manifest_s": get("sink.manifest"),
        "trace.unaccounted_s": get("drain", 1),
    }


def median_layers(runs: list[dict]) -> dict[str, float]:
    return {k: median([r[k] for r in runs]) for k in runs[0]} if runs else {}


# --------------------------------------------------------------------------
# warm-up
# --------------------------------------------------------------------------


def make_warmup(work: str, seed: int):
    """A warm-up pass: drain a small backlog through the pipeline, on a
    fresh checkpoint each time."""
    from bitquery_kafka_streams_rust_spark.streaming import pipeline as P

    in_dir = os.path.join(work, "warm_in")
    gen.write_backlog(gen.generate(seed, WARM_FILES, WARM_ROWS, tag="w"), in_dir)
    n = itertools.count()

    def run(spark):
        base = fresh_dir(os.path.join(work, f"warm_{next(n)}"))
        cfg = job_config(in_dir, f"{base}/ck", f"{base}/out", gen.ALLOW, gen.MIN_N_TOK)
        rp = P.start_pipeline(spark, in_dir, cfg, with_rollup=False)
        rp.process_all()
        rp.stop()

    return run


def _calibrate(spark, cores: int) -> float:
    """Pure-CPU codegen aggregate: the best any Spark job scales to here."""
    from pyspark.sql import functions as F

    df = spark.range(0, 150_000_000, 1, cores * 4).agg(
        F.sum(F.xxhash64(F.col("id")) % 1000 + F.xxhash64(F.col("id") + 1) % 1000)
    )
    t0 = time.perf_counter()
    df.collect()
    return time.perf_counter() - t0


# --------------------------------------------------------------------------
# drain phase
# --------------------------------------------------------------------------


class Drain:
    """A backlog of fat sequences, drained with ``availableNow`` on a
    fresh checkpoint each time; every drain's output is checked."""

    def __init__(self, work: str, seed: int):
        self.work = work
        self.in_dir = os.path.join(work, "drain_in")
        files = gen.generate(seed, DRAIN_FILES, DRAIN_ROWS)
        self.exp = gen.reference(files)
        gen.write_backlog(files, self.in_dir, DRAIN_ROW_GROUPS)
        self.reps = itertools.count()
        self.attempted = self.failed = 0
        self.checks: list[dict] = []

    def once(self, spark, tracer: C.Tracer) -> tuple[float, list[float], dict]:
        """Returns the drain wall (start_pipeline + process_all), each data
        epoch's duration and, when ``tracer`` is on, the layer metrics."""
        from bitquery_kafka_streams_rust_spark.streaming import pipeline as P

        base = fresh_dir(os.path.join(self.work, f"drain_{next(self.reps)}"))
        cfg = job_config(self.in_dir, f"{base}/ck", f"{base}/out", gen.ALLOW, gen.MIN_N_TOK)
        i0 = len(tracer.spans)
        parent, plans = [None], []
        t0 = time.perf_counter()
        with tracer.span("drain") as sid:
            parent[0] = sid
            with traced_sink(spark, tracer, parent, plans), tracer.span("start_pipeline"):
                rp = P.start_pipeline(spark, self.in_dir, cfg, with_rollup=False)
            with tracer.span("process_all") as pid:
                parent[0] = pid
                rp.process_all()
        wall = time.perf_counter() - t0
        prog = C.progress_dicts(rp.events_query)
        rp.stop()
        out = f"{base}/out/events"
        a, f, d = check_events(self.exp, read_events(out), read_lineage(out))
        self.attempted += a
        self.failed += f
        self.checks.append(d)
        lay = {}
        if tracer.enabled:
            spans = tracer.spans[i0:]
            lay = progress_layers(prog)
            lay.update(plan_layers(plans))
            lay.update(sink_layers(tracer, spans, out))
            lay.update(span_layers(tracer, spans))
        shutil.rmtree(base, ignore_errors=True)
        epochs = [p["durationMs"]["triggerExecution"] / 1e3 for p in C.data_epochs(prog)]
        return wall, epochs, lay


# --------------------------------------------------------------------------
# paced phase
# --------------------------------------------------------------------------


class Poller:
    """GET /metrics once a second through one HTTP connection object
    (it reconnects when the server closes the socket)."""

    def __init__(self, port: int):
        self.conn = http.client.HTTPConnection("127.0.0.1", port, timeout=5)
        self.ms: list[float] = []
        self.errors = 0
        self._stop = threading.Event()
        self._t = threading.Thread(target=self._run, daemon=True)

    def _run(self) -> None:
        while not self._stop.wait(1.0):
            t0 = time.perf_counter()
            try:
                self.conn.request("GET", "/metrics")
                r = self.conn.getresponse()
                r.read()
                if r.status != 200:
                    self.errors += 1
            except (OSError, http.client.HTTPException):
                self.errors += 1
                self.conn.close()
                continue
            self.ms.append(1e3 * (time.perf_counter() - t0))

    def __enter__(self) -> "Poller":
        self._t.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._t.join()
        self.conn.close()


class Publisher(threading.Thread):
    """Moves pre-written files into the watched directory by atomic
    rename at ``t0 + k / rate``, whether or not the engine keeps up."""

    def __init__(self, stage: list[str], watch: str, rate: float, t0: float):
        super().__init__(daemon=True)
        self.stage, self.watch, self.rate, self.t0 = stage, watch, rate, t0
        self.scheduled: dict[str, float] = {}
        self.late: list[float] = []

    def run(self) -> None:
        for k, src in enumerate(self.stage):
            due = self.t0 + k / self.rate
            time.sleep(max(0.0, due - time.time()))
            name = os.path.basename(src)
            os.utime(src, (due, due))
            os.replace(src, os.path.join(self.watch, name))
            self.late.append(time.time() - due)
            self.scheduled[name] = due


def _iso_us(us: int) -> str:
    t = time.gmtime(us // 1_000_000)
    return time.strftime("%Y-%m-%dT%H:%M:%S", t) + f".{(us % 1_000_000) // 1000:03d}Z"


def backlog_max(scheduled: dict[str, float], done: dict[str, float]) -> int:
    """Most files published but not yet committed, at any publish."""
    ends = sorted(done.values())
    worst = 0
    for i, t in enumerate(sorted(scheduled.values())):
        finished = sum(1 for e in ends if e <= t)
        worst = max(worst, i + 1 - finished)
    return worst


class Paced:
    """Small files published on a fixed schedule into a watched
    directory that the continuous pipeline reads."""

    def __init__(self, work: str, seed: int, n_files: int):
        self.work = work
        self.files = gen.generate(seed, n_files, PACED_ROWS, mean_ntok=PACED_NTOK,
                                  file_span_s=PACED_FILE_SPAN_S, tag="p")
        self.exp = gen.reference(self.files)
        self.wm_final = gen.final_watermark_us(self.files)
        self.windows = gen.window_rollup(self.exp, self.wm_final)

    def segment(self, spark, tag: str, tracer: C.Tracer) -> dict:
        from bitquery_kafka_streams_rust_spark.streaming import pipeline as P
        from bitquery_kafka_streams_rust_spark.streaming.health import HealthServer
        from bitquery_kafka_streams_rust_spark.streaming.listener import JsonMetricsListener

        base = fresh_dir(os.path.join(self.work, f"paced_{tag}"))
        watch = fresh_dir(f"{base}/in")
        stage = gen.write_backlog(self.files, fresh_dir(f"{base}/stage"))
        names = [os.path.basename(p) for p in stage]
        cfg = job_config(watch, f"{base}/ck", f"{base}/out", gen.ALLOW, gen.MIN_N_TOK)
        ck = f"{base}/ck/events"
        listener = JsonMetricsListener(f"{base}/metrics.jsonl")
        spark.streams.addListener(listener)
        health = HealthServer(spark, port=0)
        port = health.start()
        i0 = len(tracer.spans)
        parent, plans = [None], []
        try:
            with tracer.span("paced") as sid:
                parent[0] = sid
                t0 = time.perf_counter()
                with traced_sink(spark, tracer, parent, plans), tracer.span("start_pipeline"):
                    rp = P.start_pipeline(spark, watch, cfg, with_rollup=True, available_now=False)
                start_s = time.perf_counter() - t0
                try:
                    with Poller(port) as poll:
                        pub = Publisher(stage, watch, PACED_RATE_HZ, time.time() + 1.0)
                        pub.start()
                        pub.join()
                        self._wait(rp, names, ck)
                    ev_prog = C.progress_dicts(rp.events_query)
                finally:
                    rp.stop()
        finally:
            health.stop()
            spark.streams.removeListener(listener)
        epoch_of = C.epoch_of_files(ck)
        committed = C.commit_times(f"{ck}/commits")
        lat, _ = C.file_latencies(pub.scheduled, epoch_of, committed)
        rows = read_events(f"{base}/out/events")
        f_bad, f_detail = check_files(self.exp, names, epoch_of, committed, rows)
        w_n, w_bad = check_rollup(self.windows, f"{base}/out/rollup")
        ep = C.data_epochs(ev_prog)
        res = {
            "latencies": [lat[n] for n in names if n in lat],
            "attempted": len(names) + w_n,
            "failed": f_bad + w_bad,
            "info": {**f_detail, "windows": w_n, "windows_bad": w_bad,
                     "file_batches": [epoch_of.get(n) for n in names],
                     "gen_late_max_s": max(pub.late), "metrics_get_errors": poll.errors,
                     "epoch_s": [p["durationMs"]["triggerExecution"] / 1e3 for p in ep]},
        }
        if tracer.enabled:
            spans = tracer.spans[i0:]
            done = {n: committed[epoch_of[n]] for n in names if epoch_of.get(n) in committed}
            with open(f"{base}/metrics.jsonl") as f:
                n_events = sum(1 for _ in f)
            lay = progress_layers(ev_prog)
            lay.update(plan_layers(plans))
            lay.update(sink_layers(tracer, spans, f"{base}/out/events"))
            lay.update({
                "pipeline.start_s": start_s,
                "source.backlog_files_max": float(backlog_max(pub.scheduled, done)),
                "gen.late_max_s": max(pub.late),
                "listener.events": float(n_events),
                "health.metrics_get_ms_p50": median(poll.ms) if poll.ms else 0.0,
            })
            res["layers"] = lay
        shutil.rmtree(base, ignore_errors=True)
        return res

    def _wait(self, rp, names: list[str], ck: str) -> None:
        """Until every file's epoch has committed and the rollup has run
        with the final watermark (it then emits its last closed windows)."""
        deadline = time.time() + COMMIT_WAIT_S
        while time.time() < deadline:
            epoch_of = C.epoch_of_files(ck)
            committed = C.commit_times(f"{ck}/commits")
            if all(epoch_of.get(n) in committed for n in names):
                break
            time.sleep(0.05)
        want = _iso_us(self.wm_final)
        while time.time() < deadline:
            lp = C.last_progress(rp.rollup_query)
            if (lp.get("eventTime") or {}).get("watermark") == want and \
                    not rp.rollup_query.status["isTriggerActive"]:
                break
            time.sleep(0.05)


# --------------------------------------------------------------------------
# the workload
# --------------------------------------------------------------------------


def run_stream(work: str, seed: int, seconds: float, trace: bool, tracer: C.Tracer) -> dict:
    """Untraced: the drain phase.  Traced: the drain phase with tracing
    alternately on and off, the same drains at local[1], and the paced
    open loop (per-layer figures only; see perfbench/README.md)."""
    sessions = Sessions(tracer)
    warm = make_warmup(work, seed)
    off = C.Tracer(tracer.run_id, enabled=False)
    walls, epochs, on_walls, off_walls, lays = [], [], [], [], []

    def drains(spark, reps: int) -> None:
        for n in range(reps):
            # traced run: tracing on-off-off-on, so that warm-up drift
            # cancels out of the overhead
            on = trace and n % 4 in (0, 3)
            wall, ep, lay = drain.once(spark, tracer if on else off)
            walls.append(wall)
            epochs.extend(ep)
            (on_walls if on else off_walls).append(wall)
            if on:
                lays.append(lay)

    try:
        with C.RssSampler(enabled=trace) as rss:
            # Every set-up is timed alike, with nothing running alongside;
            # the first also launches the JVM.
            sessions.open(f"local[{NPROC}]", warm)
            drain = Drain(work, seed)
            if trace:
                spark = sessions.open("local[1]", warm)
                one = [drain.once(spark, off)[0] for _ in range(2)]
                cal1 = _calibrate(spark, 1)
            sessions.open(f"local[{NPROC}]", warm)
            spark = sessions.open(f"local[{NPROC}]", warm)
            drain.once(spark, off)
            drains(spark, max(4, round(seconds / DRAIN_SECONDS_PER_REP)))
            if trace:
                cal4 = _calibrate(spark, NPROC)
                seg = Paced(work, seed, PACED_FILES).segment(spark, "main", tracer)
    finally:
        sessions.shutdown()

    n_seq = drain.exp.input_rows
    tp = n_seq / median(walls)
    p_tail, v_tail = tail(epochs)
    res = {
        "e2e": {
            "setup_s": sessions.total_s(),
            "throughput_per_s": tp,
            "latency_p50_s": median(epochs),
        },
        "attempted": drain.attempted,
        "failed": drain.failed,
        "info": {"drain_input_rows": n_seq, "drain_expected_rows": len(drain.exp.rows),
                 "drain_walls_s": walls, "epoch_samples": len(epochs),
                 "epoch_tail": {"percentile": p_tail, "value_s": v_tail},
                 "setup_s": sessions.setup_s, "drain_checks": drain.checks,
                 "shape": dataclasses.asdict(gen.Shape.from_seed(seed))},
    }
    if trace:
        lat = seg["latencies"]
        p_tail, v_tail = tail(lat)
        res["attempted"] += seg["attempted"]
        res["failed"] += seg["failed"]
        res["info"]["paced"] = {**seg["info"], "files": PACED_FILES, "rate_hz": PACED_RATE_HZ,
                                "latency_samples": len(lat), "tail_percentile": p_tail}
        tp1 = n_seq / median(one)
        lay = {f"drain.{k}": v for k, v in median_layers(lays).items()}
        lay.update({f"paced.{k}": v for k, v in seg["layers"].items()})
        lay.update(sessions.layer_metrics())
        lay.update({
            "rss.peak_mb": rss.peak / 2**20,
            "drain.seq_per_s": tp,
            "drain.seq_per_s_1core": tp1,
            "drain.scaling.eff": (tp / tp1) / NPROC,
            "drain.scaling.cpu_ceiling_eff": (cal1 / cal4) / NPROC,
            "drain.trace.overhead_s": median(on_walls) - median(off_walls),
            "paced.latency_p50_s": median(lat),
            "paced.latency_tail_s": v_tail,
            "paced.latency_tail_pct": p_tail,
        })
        res["layers"] = lay
    res["idle_layers"] = IDLE_LAYERS
    return res
