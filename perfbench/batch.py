"""batch_headline: the headline contract queries through the noop sink.

A check pass builds and collects every query once (this is also the
JIT warm-up) and compares each result with its ``oracle_sql()`` twin in
DuckDB, using ``tools/verify_oracle``'s ``canon`` and ``cells_equal``.
Then timed passes run the queries in seed-permuted orders; a query's
wall is its Python-side plan build plus its execution into the noop
sink.
"""

from __future__ import annotations

import os
import time
from concurrent.futures import ThreadPoolExecutor

import numpy as np

import collect as C
from common import NPROC, ROOT, Sessions, load_module
from stats import median, tail

# The set-up's warm-up pass: one JVM-only headline query.
WARMUP_QUERY = "q1_pricing_summary"
# One timed pass per 10 s of --seconds (a warm pass over the nine queries
# takes 8-11 s at local[4] here): two at the recorded 20 s, so that the
# median is taken over 18 walls and no single slow spell sets it.
BATCH_SECONDS_PER_PASS = 10
# Queries whose plans run Arrow kernels in Python workers.
KERNEL_QUERIES = ("flagship_pipeline", "seq_dedup")
# Per-layer metric prefixes of the other workload: explicit zeros here.
IDLE_LAYERS = ("drain.", "paced.")
PY_METRICS = {
    "python_boot_ms": "time to start Python workers",
    "python_init_ms": "time to initialize Python workers",
    "python_run_ms": "time to run Python workers",
    "arrow_bytes": ("data sent to Python workers", "data returned from Python workers"),
}


def headline() -> tuple[list[str], str]:
    """The headline query names and the fixture directory, as ``bench.py``
    defines them (``$SPARK_GRAFT_SF_DIR`` overrides the directory)."""
    bench = load_module("bench_headline", os.path.join(ROOT, "bench.py"))
    return list(bench.HEADLINE), bench.SF_DIR


def compare(spark_df, oracle_df, V) -> str | None:
    """None when the frames agree the way the oracle gate requires
    (columns, row count, dtype kinds, cell values after canonical
    ordering); otherwise the first disagreement."""
    s, o = V.canon(spark_df), V.canon(oracle_df)
    if list(s.columns) != list(o.columns):
        return f"columns {list(s.columns)} != {list(o.columns)}"
    if len(s) != len(o):
        return f"rows {len(s)} != {len(o)}"
    for c in s.columns:
        sk, ok = s[c].dtype.kind, o[c].dtype.kind
        if sk != ok and not ({sk, ok} <= {"O", "U"}) and len(s) > 0:
            return f"column {c}: dtype {s[c].dtype} != {o[c].dtype}"
    for c in s.columns:
        for x, y in zip(s[c].tolist(), o[c].tolist()):
            if not V.cells_equal(x, y):
                return f"column {c}: {x!r} != {y!r}"
    return None


class Tally:
    """Query executions attempted and failed, with the reasons; oracle
    mismatches are also counted on their own."""

    def __init__(self):
        self.attempted = 0
        self.failed = 0
        self.mismatches = 0
        self.reasons: list[str] = []

    def record(self, name: str, error: str | None, mismatch: bool = False) -> None:
        self.attempted += 1
        if error is not None:
            self.failed += 1
            self.mismatches += mismatch
            self.reasons.append(f"{name}: {error[:300]}")


def kernel_layers(execs: list) -> dict[str, float]:
    """The Python-worker metrics the executions reported; a metric no
    node reported is left out rather than read as 0."""
    out = {}
    for key, metric in PY_METRICS.items():
        names = metric if isinstance(metric, tuple) else (metric,)
        vals = [C.metric_sum(execs, "", m) for m in names]
        if None not in vals:
            out[key] = sum(vals)
    return out


def oracle_frames(names: list[str], sf_dir: str, E, V) -> dict:
    """name -> the oracle's result frame, or the error that stopped it."""
    import duckdb

    con = duckdb.connect()
    con.execute(f"SET threads TO {NPROC}")
    for t in V.TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{sf_dir}/{t}.parquet'")
    sql = E.oracle_sql()
    out = {}
    try:
        for n in names:
            try:
                out[n] = con.execute(sql[n]).fetchdf()
            except (KeyError, duckdb.Error) as e:
                out[n] = e
    finally:
        con.close()
    return out


def run_batch(work: str, seed: int, seconds: float, trace: bool, tracer: C.Tracer) -> dict:
    import __spark_entry__ as E

    V = load_module("verify_oracle", os.path.join(ROOT, "tools", "verify_oracle.py"))
    names, sf_dir = headline()
    qs = E.queries()
    pool = ThreadPoolExecutor(1)
    rng = np.random.default_rng([seed, 3])
    tally = Tally()
    sessions = Sessions(tracer)
    off = C.Tracer(tracer.run_id, enabled=False)
    walls: dict[str, list[float]] = {n: [] for n in names}
    build: dict[str, list[float]] = {n: [] for n in names}
    execs: dict[str, list[float]] = {n: [] for n in names}
    kernels: dict[str, list[dict]] = {n: [] for n in names}
    suites: dict[bool, list[float]] = {True: [], False: []}

    def warm(spark):
        qs[WARMUP_QUERY](spark, sf_dir).write.format("noop").mode("overwrite").save()

    try:
        with C.RssSampler(enabled=trace) as rss:
            # every set-up is timed alike, with nothing running alongside;
            # the first also launches the JVM
            for _ in range(3):
                spark = sessions.open(f"local[{NPROC}]", warm)
            # check pass: collect each query once, while the oracle runs in
            # DuckDB, and compare each result with the oracle's
            oracle_bg = pool.submit(oracle_frames, names, sf_dir, E, V)
            got = {}
            for name in rng.permutation(names):
                with tracer.span("query.check", query=name):
                    try:
                        got[name] = qs[name](spark, sf_dir).toPandas()
                    except Exception as e:  # a failing query is a failed operation
                        got[name] = e
            oracle = oracle_bg.result()
            for name, pdf in got.items():
                want = oracle[name]
                if isinstance(pdf, Exception):
                    tally.record(name, f"{type(pdf).__name__}: {pdf}")
                elif isinstance(want, Exception):
                    tally.record(name, f"oracle: {type(want).__name__}: {want}")
                else:
                    tally.record(name, compare(pdf, want, V), mismatch=True)
            # timed passes: one per BATCH_SECONDS_PER_PASS of --seconds, at
            # least one.  The traced run makes four, tracing on-off-off-on,
            # so that the JIT's warm-up drift cancels out of the overhead.
            n_passes = 4 if trace else max(1, round(seconds / BATCH_SECONDS_PER_PASS))
            for passes in range(n_passes):
                on = trace and passes % 4 in (0, 3)
                tr = tracer if on else off
                store = C.StatusStore(spark) if on else None
                suite = 0.0
                for name in rng.permutation(names):
                    t0 = time.perf_counter()
                    try:
                        with tr.span("query.build", query=name):
                            df = qs[name](spark, sf_dir)
                        t1 = time.perf_counter()
                        with tr.span("query.exec", query=name):
                            df.write.format("noop").mode("overwrite").save()
                    except Exception as e:
                        tally.record(name, f"{type(e).__name__}: {e}")
                        continue
                    t2 = time.perf_counter()
                    tally.record(name, None)
                    walls[name].append(t2 - t0)
                    suite += t2 - t0
                    if on:
                        build[name].append(t1 - t0)
                        execs[name].append(t2 - t1)
                        kernels[name].append(kernel_layers(store.new_executions()))
                suites[on].append(suite)
    finally:
        sessions.shutdown()
        pool.shutdown()

    samples = [w for n in names for w in walls[n]]
    per_query = {n: median(walls[n]) for n in names if walls[n]}
    suite_s = sum(per_query.values())
    p_tail, v_tail = tail(samples)
    res = {
        "e2e": {
            "setup_s": sessions.total_s(),
            "throughput_per_s": len(per_query) / suite_s,
            "latency_p50_s": median(samples),
        },
        "attempted": tally.attempted,
        "failed": tally.failed,
        "info": {"sf_dir": sf_dir, "passes": n_passes, "suite_s": suite_s,
                 "pass_suites_s": suites[False] + suites[True], "per_query_s": per_query,
                 "walls_s": walls,
                 "latency_samples": len(samples),
                 "latency_tail": {"percentile": p_tail, "value_s": v_tail},
                 "setup_s": sessions.setup_s, "failures": tally.reasons},
    }
    if trace:
        lay = sessions.layer_metrics()
        lay["rss.peak_mb"] = rss.peak / 2**20
        lay["batch.suite_s"] = suite_s
        lay["oracle.mismatches"] = float(tally.mismatches)
        for n in names:
            lay[f"query.{n}.build_s"] = median(build[n]) if build[n] else 0.0
            lay[f"query.{n}.exec_s"] = median(execs[n]) if execs[n] else 0.0
        # a kernel metric is reported only when every traced pass of the
        # query had it; a missing one fails the run (run.py)
        totals: dict[str, float] = {}
        for n in names:
            for k in PY_METRICS:
                if not kernels[n] or any(k not in x for x in kernels[n]):
                    continue
                v = median([x[k] for x in kernels[n]])
                totals[k] = totals.get(k, 0.0) + v
                if n in KERNEL_QUERIES:
                    lay[f"kernel.{n}.{k}"] = v
        for k, v in totals.items():
            lay[f"kernel.all.{k}"] = v
        lay["batch.trace.overhead_s"] = median(suites[True]) - median(suites[False])
        res["layers"] = lay
    res["idle_layers"] = IDLE_LAYERS
    return res
