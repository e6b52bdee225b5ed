"""Self-tests of the benchmark itself.

    python3 perfbench/selfcheck.py [--quick]

Run from the root of a checkout.  Checks that

1. the same seed gives byte-identical generated inputs (and another
   seed different ones);
2. a deliberately corrupted result fails the output check, on every
   gated workload;
3. a streaming query that dies mid-run is counted as failed operations
   and fails the run, rather than silently shortening the sample;
4. the driver heap is sized to the host and the JVM really gets it;
5. every metric ``spec.json``'s layer map names is a metric of
   BENCHMARK.json, so the map cannot drift from the metric list.

``--quick`` runs only 1, 4 and 5 (no full benchmark runs).  Exits 1 if any
check fails.
"""

from __future__ import annotations

import argparse
import filecmp
import json
import os
import shutil
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import gen  # noqa: E402
import harness  # noqa: E402

WORK = os.path.join(".perfbench", "selfcheck")


def _gen(mode: str, seed: int, out: str, *args: str) -> None:
    subprocess.run([sys.executable, os.path.join(HERE, "gen.py"), mode, "--seed",
                    str(seed), "--out", out, *args], check=True)


def same_seed_same_inputs() -> bool:
    same = all(gen.log_file(7, i, 300, i * 100, 100)[0] ==
               gen.log_file(7, i, 300, i * 100, 100)[0] for i in range(3))
    other = gen.log_file(7, 1, 300, 100, 100)[0] != gen.log_file(8, 1, 300, 100, 100)[0]
    dirs = [os.path.join(WORK, d) for d in ("a", "b", "c")]
    for d, seed in zip(dirs, (7, 7, 8)):
        _gen("tables", seed, d, "--sf", "0.002")
        _gen("docs", seed, d, "--docs", "200")
        _gen("logs-warmup", seed, d, "--warmup-files", "3", "--file-events", "200")
    files = sorted(os.listdir(dirs[0]))
    _, mismatch, errors = filecmp.cmpfiles(dirs[0], dirs[1], files, shallow=False)
    _, differ, _ = filecmp.cmpfiles(dirs[0], dirs[2], files, shallow=False)
    # nation is a fixed 25-row table, the same for every seed
    seeded = [f for f in files if f != "nation.parquet"]
    ok = (same and other and not mismatch and not errors
          and set(seeded) <= set(differ))
    print(f"same seed -> identical inputs ({len(files)} files), other seed -> "
          f"different: {'PASS' if ok else 'FAIL'}")
    return ok


def _run(workload: str, inject: str, seconds: int) -> tuple[int, dict | None]:
    p = subprocess.run([sys.executable, os.path.join(HERE, "run.py"), "--workload",
                        workload, "--seed", "1", "--seconds", str(seconds),
                        "--inject", inject], stdout=subprocess.PIPE,
                       stderr=subprocess.DEVNULL, text=True)
    lines = p.stdout.strip().splitlines()
    return p.returncode, (json.loads(lines[-1]) if lines else None)


def corrupted_result_fails(workloads: list[str], seconds: int) -> bool:
    ok = True
    for w in workloads:
        code, res = _run(w, "corrupt-result", seconds)
        good = code == 1 and res is not None and not res["correct"] and res["failed"] > 0
        print(f"{w}: corrupted result fails the check: {'PASS' if good else 'FAIL'} "
              f"(exit {code}, {res and {k: res[k] for k in ('correct', 'failed')}})")
        ok = ok and good
    return ok


def dead_stream_counted(seconds: int) -> bool:
    code, res = _run("log_stream", "stream-death", seconds)
    good = (code == 1 and res is not None and not res["correct"] and res["failed"] > 0
            and res["metrics"]["success_rate"]["value"] < 1.0)
    print(f"log_stream: a query dying mid-run is counted: {'PASS' if good else 'FAIL'} "
          f"(exit {code}, {res and {k: res[k] for k in ('correct', 'attempted', 'failed')}})")
    return good


def heap_sized_to_host() -> bool:
    facts = harness.host_facts()
    heap = harness.driver_heap_mb(facts["mem_total_mb"])
    r = harness.Run(os.getcwd(), "selfcheck", 0, 1, False)
    try:
        r.setup()
        jvm_max = r.spark.sparkContext._jvm.java.lang.Runtime.getRuntime().maxMemory()
        conf = r.spark.sparkContext.getConf().get("spark.driver.memory")
    finally:
        r.rss.stop()
        r.close()
        shutil.rmtree(r.work, ignore_errors=True)
    jvm_mb = jvm_max / 2**20
    ok = (conf == f"{heap}m" and heap <= facts["mem_total_mb"] // 2
          and jvm_mb <= heap and jvm_mb < facts["mem_total_mb"])
    print(f"driver heap {conf} (JVM max {jvm_mb:.0f} MB) on a {facts['mem_total_mb']} MB "
          f"host: {'PASS' if ok else 'FAIL'}")
    return ok


def layer_map_matches() -> bool:
    with open("BENCHMARK.json") as f:
        bench = json.load(f)
    with open(os.path.join(HERE, "spec.json")) as f:
        spec = json.load(f)
    known = {m["name"] for m in bench["end_to_end"] + bench["per_layer"]} | {"none"}
    queries = spec["workloads"]["ads_serve"]["queries"]
    unknown = []
    for e in spec["layer_map"]:
        for name in e["metric"].split(", ") + e["moves"].split(", "):
            names = ([name.replace("<query>", q) for q in queries]
                     if "<query>" in name else [name])
            unknown += [n for n in names if n not in known]
    print(f"layer map names only BENCHMARK.json metrics: {'PASS' if not unknown else 'FAIL'}"
          + (f" (unknown: {', '.join(unknown)})" if unknown else ""))
    return not unknown


def main() -> int:
    p = argparse.ArgumentParser()
    p.add_argument("--quick", action="store_true")
    p.add_argument("--seconds", type=int, default=10)
    a = p.parse_args()
    shutil.rmtree(WORK, ignore_errors=True)
    os.makedirs(WORK)
    results = [same_seed_same_inputs(), heap_sized_to_host(), layer_map_matches()]
    if not a.quick:
        with open("BENCHMARK.json") as f:
            gated = [w["name"] for w in json.load(f)["workloads"]]
        results += [corrupted_result_fails(gated, a.seconds), dead_stream_counted(a.seconds)]
    shutil.rmtree(WORK, ignore_errors=True)
    return 0 if all(results) else 1


if __name__ == "__main__":
    sys.exit(main())
