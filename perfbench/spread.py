"""Run the benchmark on several seeds and report each end-to-end
metric's median and spread (inter-quartile range over the median, as
``statistics.quantiles(values, n=4)`` gives the quartiles).

    python3 perfbench/spread.py --workload log_stream --seeds 1-10 [--seconds S]

Run from the root of a checkout.  ``--seconds`` defaults to
``run_seconds`` of BENCHMARK.json.  Each run's result line and wall time
are appended to ``--out`` (JSON lines) as they finish.
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))


def _seeds(spec: str) -> list[int]:
    out = []
    for part in spec.split(","):
        lo, _, hi = part.partition("-")
        out.extend(range(int(lo), int(hi or lo) + 1))
    return out


def main() -> int:
    p = argparse.ArgumentParser()
    p.add_argument("--workload", required=True)
    p.add_argument("--seeds", default="1-10")
    p.add_argument("--seconds", type=int, default=None)
    p.add_argument("--trace", type=int, default=0)
    p.add_argument("--out", default=".perfbench/spread.jsonl")
    a = p.parse_args()
    with open("BENCHMARK.json") as f:
        bench = json.load(f)
    seconds = a.seconds or bench["run_seconds"]
    bounds = {m["name"]: m.get("bound") for m in bench["end_to_end"]}
    os.makedirs(os.path.dirname(a.out) or ".", exist_ok=True)
    values: dict[str, list[float]] = {}
    ok = True
    for seed in _seeds(a.seeds):
        t0 = time.time()
        proc = subprocess.run(
            [sys.executable, os.path.join(HERE, "run.py"), "--workload", a.workload,
             "--seed", str(seed), "--seconds", str(seconds), "--trace", str(a.trace)],
            stdout=subprocess.PIPE, stderr=subprocess.DEVNULL, text=True)
        wall = time.time() - t0
        lines = proc.stdout.strip().splitlines()
        res = json.loads(lines[-1]) if lines else None
        with open(a.out, "a") as f:
            f.write(json.dumps({"workload": a.workload, "seed": seed, "exit": proc.returncode,
                                "wall_s": wall, "result": res}) + "\n")
        print(f"seed {seed}: exit {proc.returncode} wall {wall:.1f}s "
              f"{json.dumps(res['metrics']) if res else 'no result'}", flush=True)
        if proc.returncode or not res or not res["correct"]:
            ok = False
            continue
        for k, v in res["metrics"].items():
            values.setdefault(k, []).append(v["value"])
    for k, v in values.items():
        if len(v) < 2:
            continue
        q1, med, q3 = statistics.quantiles(v, n=4)
        spread = (q3 - q1) / med if med else float("inf")
        b = bounds.get(k)
        note = f" bound {b} (third {b / 3:.3f})" if b else ""
        print(f"{k:28s} median {statistics.median(v):12.4f} spread {spread:.3f}{note}")
    return 0 if ok else 1


if __name__ == "__main__":
    sys.exit(main())
