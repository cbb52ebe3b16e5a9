"""Run one benchmark workload and print its metrics as one JSON line.

    python3 perfbench/run.py --workload stream --seed 1 --seconds 20 --trace 0

Run from the repository root.  ``--trace 0`` prints the end-to-end
metrics named in BENCHMARK.json; ``--trace 1`` runs the same workload
with spans and the engine's own counters collected, and prints the
per-layer metrics: a layer the workload does not exercise (the other
workload's prefixes) reads 0, and a metric the workload should have
measured but did not fails the run.
Spans and per-run details go to ``.bench_work/results/``.  Everything
the run writes stays under ``.bench_work/`` in the working directory;
the headline queries read the fixture tables ``bench.py`` benchmarks
(``$SPARK_GRAFT_SF_DIR``).
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import sys
import traceback

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
PROGRAM = ("bitquery_kafka_streams_rust_spark/session.py", "__spark_entry__.py",
           "jobs/run_pipeline.py", "tools/verify_oracle.py", "bench.py")
WORKLOADS = ("stream", "batch_headline")


def parse_args(argv=None) -> argparse.Namespace:
    p = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    p.add_argument("--workload", required=True, choices=WORKLOADS)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return p.parse_args(argv)


def isolate(work: str) -> None:
    """Keep Spark's temporary files (block manager, RocksDB, shipped zips,
    JVM temp files) under the run's own directory.  Must run before the
    JVM starts."""
    tmp = os.path.join(work, "tmp")
    local = os.path.join(work, "spark-local")
    os.makedirs(tmp, exist_ok=True)
    os.makedirs(local, exist_ok=True)
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = local
    os.environ["PYSPARK_SUBMIT_ARGS"] = f"--driver-java-options -Djava.io.tmpdir={tmp} pyspark-shell"
    import tempfile

    tempfile.tempdir = tmp


def per_layer_metrics(spec: dict, layers: dict[str, float], idle: tuple[str, ...]) -> dict:
    """Every per-layer metric of ``spec`` with its value.  A metric under
    one of the ``idle`` prefixes (a layer this workload does not
    exercise) reads 0; any other metric the workload did not produce is
    an error, not a 0."""
    layers = dict(layers)
    for m in spec["per_layer"]:
        if m["name"].startswith(tuple(idle)):
            layers.setdefault(m["name"], 0.0)
    missing = [m["name"] for m in spec["per_layer"] if m["name"] not in layers]
    if missing:
        raise ValueError(f"per-layer metrics not measured: {missing}")
    return {m["name"]: {"value": float(layers[m["name"]]), "unit": m["unit"]}
            for m in spec["per_layer"]}


def main(argv=None) -> int:
    a = parse_args(argv)
    missing = [p for p in PROGRAM if not os.path.isfile(os.path.join(ROOT, p))]
    if missing:
        print(f"perfbench: program files missing: {missing}", file=sys.stderr)
        return 2
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    results = os.path.join(ROOT, ".bench_work", "results")
    work = os.path.join(ROOT, ".bench_work", f"{a.workload}-{a.seed}-{os.getpid()}")
    os.makedirs(results, exist_ok=True)
    isolate(work)
    sys.path[:0] = [HERE, ROOT]
    os.chdir(work)  # spark-warehouse and friends land in the run directory

    import collect as C

    run_id = f"{a.workload}-s{a.seed}-t{a.trace}"
    tracer = C.Tracer(run_id, enabled=bool(a.trace))
    try:
        if a.workload == "batch_headline":
            from batch import run_batch as run
        else:
            from stream import run_stream as run
        res = run(work, a.seed, a.seconds, bool(a.trace), tracer)
    finally:
        os.chdir(ROOT)
        shutil.rmtree(work, ignore_errors=True)

    if a.trace:
        metrics = per_layer_metrics(spec, res["layers"], res["idle_layers"])
        tracer.dump(os.path.join(results, f"{run_id}.spans.json"))
    else:
        metrics = {m["name"]: {"value": float(res["e2e"][m["name"]]), "unit": m["unit"]}
                   for m in spec["end_to_end"]}
    with open(os.path.join(results, f"{run_id}.json"), "w") as f:
        json.dump({"metrics": metrics, **{k: v for k, v in res.items() if k != "e2e"},
                   "e2e": res["e2e"]}, f, indent=1, default=str)
    line = {"correct": res["failed"] == 0, "attempted": int(res["attempted"]),
            "failed": int(res["failed"]), "metrics": metrics}
    print(json.dumps(line), flush=True)
    return 0


if __name__ == "__main__":
    try:
        sys.exit(main())
    except Exception:
        traceback.print_exc()
        sys.exit(1)
