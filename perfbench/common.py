"""Session lifecycle and the job configuration the stream workloads run."""

from __future__ import annotations

import functools
import importlib.util
import os
import shutil
import statistics
import subprocess
import time

from collect import Tracer

NPROC = len(os.sched_getaffinity(0))
ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def load_module(name: str, path: str):
    spec = importlib.util.spec_from_file_location(name, path)
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod


class Sessions:
    """Builds sessions the way ``jobs/run_pipeline.py`` does and times
    each set-up: ``get_spark`` plus the workload's warm-up pass.  The
    first set-up of a process also launches the JVM (the cold set-up);
    later ones reuse it."""

    def __init__(self, tracer: Tracer):
        from bitquery_kafka_streams_rust_spark.session import get_spark

        self._get_spark = get_spark
        self.tracer = tracer
        self.spark = None
        self.setup_s: list[float] = []
        self.start_s: list[float] = []
        self.warmup_s: list[float] = []

    def open(self, master: str, warmup, app_name: str = "sequence-pipeline"):
        self.close()
        t0 = time.perf_counter()
        with self.tracer.span("get_spark", master=master):
            self.spark = self._get_spark(app_name=app_name, master=master)
        t1 = time.perf_counter()
        with self.tracer.span("warmup", master=master):
            warmup(self.spark)
        t2 = time.perf_counter()
        self.start_s.append(t1 - t0)
        self.warmup_s.append(t2 - t1)
        self.setup_s.append(t2 - t0)
        return self.spark

    def close(self) -> None:
        if self.spark is not None:
            self.spark.stop()
            self.spark = None

    def shutdown(self) -> None:
        """Stop the session and the JVM, and wait for the JVM to exit."""
        self.close()
        from pyspark import SparkContext

        gw = SparkContext._gateway
        if gw is None:
            return
        proc = getattr(gw, "proc", None)
        try:
            gw.shutdown()
        finally:
            SparkContext._gateway = None
            SparkContext._jvm = None
            if proc is not None:
                if proc.stdin:
                    proc.stdin.close()
                try:
                    proc.wait(timeout=30)
                except subprocess.TimeoutExpired:
                    proc.kill()
                    proc.wait()

    def total_s(self) -> float:
        """Every set-up of the run, the cold one included: the median of
        the set-ups would drop the cold one, and with it any work moved
        into the JVM launch or the first session."""
        return sum(self.setup_s)

    def layer_metrics(self) -> dict[str, float]:
        return {
            "session.cold_start_s": self.start_s[0],
            "session.cold_warmup_s": self.warmup_s[0],
            "session.start_s": statistics.median(self.start_s[1:]),
            "session.warmup_s": statistics.median(self.warmup_s[1:]),
        }


@functools.cache
def _job():
    return load_module("run_pipeline_job", os.path.join(ROOT, "jobs", "run_pipeline.py"))


def job_config(input_dir: str, ck: str, out: str, allow, min_n_tok: int):
    """The engine config ``jobs/run_pipeline.py`` builds for
    ``--sources <allow> --min-n-tok <n>`` and otherwise default flags."""
    job = _job()
    a = job.parse_args(
        ["--input", input_dir, "--checkpoint", ck, "--output", out,
         "--sources", *allow, "--min-n-tok", str(min_n_tok)]
    )
    return job.build_config(a)


def fresh_dir(path: str) -> str:
    shutil.rmtree(path, ignore_errors=True)
    os.makedirs(path)
    return path
