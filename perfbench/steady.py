"""Steadiness check: run each workload on several seeds and report, per
end-to-end metric, the median, the quartiles and the spread (IQR as a
share of the median) against the metric's bound in BENCHMARK.json.

    python3 perfbench/steady.py --seeds 1-10 [--workload stream] [--out FILE]

Run from the repository root.  Runs are sequential (one Spark at a
time); each run's JSON line is kept in the output file.
"""

from __future__ import annotations

import argparse
import json
import os
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

from stats import quartiles, spread  # noqa: E402


def seeds(text: str) -> list[int]:
    a, _, b = text.partition("-")
    return list(range(int(a), int(b or a) + 1))


def main(argv=None) -> int:
    p = argparse.ArgumentParser(description="run seeds and report spreads")
    p.add_argument("--seeds", default="1-10")
    p.add_argument("--workload", action="append")
    p.add_argument("--out", default=os.path.join(ROOT, ".bench_work", "steady.json"))
    a = p.parse_args(argv)
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    names = a.workload or [w["name"] for w in spec["workloads"]]
    runs: dict[str, list[dict]] = {w: [] for w in names}
    for w in names:
        for s in seeds(a.seeds):
            t0 = time.time()
            cmd = spec["command"] + ["--workload", w, "--seed", str(s),
                                     "--seconds", str(spec["run_seconds"]), "--trace", "0"]
            r = subprocess.run(cmd, cwd=ROOT, capture_output=True, text=True, timeout=600)
            wall = time.time() - t0
            lines = r.stdout.strip().splitlines()
            if r.returncode != 0 or not lines:
                print(f"{w} seed {s}: exit {r.returncode}\n{r.stderr[-2000:]}", flush=True)
                return 1
            res = json.loads(lines[-1])
            res["seed"], res["wall_s"] = s, wall
            runs[w].append(res)
            print(f"{w} seed {s} {wall:.0f}s correct={res['correct']} "
                  + " ".join(f"{k}={v['value']:.4g}" for k, v in res["metrics"].items()), flush=True)
    report = {}
    for w, rs in runs.items():
        report[w] = {"runs": len(rs), "wall_s_total": sum(r["wall_s"] for r in rs),
                     "all_correct": all(r["correct"] for r in rs), "metrics": {}}
        for m in spec["end_to_end"]:
            vals = [r["metrics"][m["name"]]["value"] for r in rs]
            q1, q2, q3 = quartiles(vals)
            sp = spread(vals)
            report[w]["metrics"][m["name"]] = {"q1": q1, "median": q2, "q3": q3, "spread": sp,
                                              "bound": m["bound"]}
            flag = "ok" if sp < m["bound"] / 3 else ("within bound" if sp <= m["bound"] else "WIDE")
            print(f"{w:15s} {m['name']:18s} median={q2:.4g} q1={q1:.4g} q3={q3:.4g} "
                  f"spread={sp:.3f} bound={m['bound']} {flag}")
    os.makedirs(os.path.dirname(a.out), exist_ok=True)
    with open(a.out, "w") as f:
        json.dump({"report": report, "runs": runs}, f, indent=1)
    return 0


if __name__ == "__main__":
    sys.exit(main())
