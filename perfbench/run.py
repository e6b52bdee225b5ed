"""Benchmark entry point.

    python3 perfbench/run.py --workload NAME --seed N --seconds S --trace 0|1

Run from the root of a checkout.  Builds its inputs from the seed with
the load generator (``gen.py``, a separate process), sets the program up,
measures for ``--seconds``, checks every output against an independent
computation (untimed), and prints one JSON line: with ``--trace 0`` the
end-to-end metrics, with ``--trace 1`` the per-layer ones.  Exits 1 when
an output check fails and 2 when the program is not in the checkout.
``spec.json`` lists the workloads, the metrics and which layer metric
should move which end-to-end metric.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import sys
import traceback

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import harness  # noqa: E402

WORKLOADS = ("log_stream", "ads_serve")


def _units(root: str) -> tuple[dict[str, str], dict[str, str]]:
    """Name -> unit of the end-to-end and per-layer metrics, as
    BENCHMARK.json at the root of the checkout lists them."""
    with open(os.path.join(root, "BENCHMARK.json")) as f:
        bench = json.load(f)
    return ({m["name"]: m["unit"] for m in bench["end_to_end"]},
            {m["name"]: m["unit"] for m in bench["per_layer"]})


# A run must end well inside the caller's 180 s limit.
RUN_LIMIT_S = 170


def _workload(name: str):
    if name == "log_stream":
        import wl_logs as m
    else:
        import wl_serve as m
    return m


def _trace_metrics(r: harness.Run) -> None:
    """Per-layer metrics from spans, listener progress and the event log."""
    L = r.layer
    L["session.get_spark_s"] = harness.median(r.tracer.durations("session.get_spark"))
    ups = r.tracer.durations("dim_store.upsert")
    if ups:
        L["dim_store.upserts"] = len(ups)
        L["dim_store.upsert_s_p50"] = harness.median(ups)
        L["dim_store.upsert_s_sum"] = sum(ups)
    trig_ms = 0.0
    if r.listener is not None:
        pm = harness.progress_metrics(r.listener.progress)
        trig_ms = pm.pop("_trigger_ms_sum")
        L.update({k: v for k, v in pm.items() if k not in L or v})
    if ups and trig_ms:
        L["dim_store.upsert_share"] = sum(ups) / (trig_ms / 1000.0)
    ex = harness.exec_metrics(r.event_log())
    groups = ex.pop("_group_task")
    waits = ex.pop("_waits")
    L.update(ex)
    L["plans.task_s"] = groups.get("plans", 0.0)
    L["llm.task_s"] = groups.get("llm", 0.0)
    plan_waits = waits.get("plans", [])
    if plan_waits:
        L["plans.scheduler_wait_s"] = harness.median(plan_waits)
    L["traced.latency_p50_s"] = r.e2e.get("latency_p50_s", 0.0)
    L["traced.throughput_per_s"] = r.e2e.get("throughput_per_s", 0.0)


def main(argv=None) -> int:
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True, choices=WORKLOADS)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=int, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    p.add_argument("--inject", choices=("stream-death", "corrupt-result"),
                   default="", help="self-test faults")
    a = p.parse_args(argv)
    root = os.getcwd()
    if not os.path.isdir(os.path.join(root, harness.PACKAGE)):
        print(f"perfbench: no {harness.PACKAGE}/ package in {root}; run from the "
              "root of a checkout", file=sys.stderr)
        return 2
    e2e_units, layer_units = _units(root)

    def _timeout(*_):
        raise TimeoutError(f"run exceeded {RUN_LIMIT_S} s")

    signal.signal(signal.SIGALRM, _timeout)
    signal.alarm(RUN_LIMIT_S)
    r = harness.Run(root, a.workload, a.seed, a.seconds, bool(a.trace), a.inject)
    wl = _workload(a.workload)
    correct = False
    try:
        r.setup()
        wl.run(r)
        if r.trace:
            pm = harness.progress_metrics(r.listener.progress)
            r.layer["streaming.rows_dropped_by_watermark"] = \
                pm["streaming.rows_dropped_by_watermark"]
        with r.tracer.span("check", group="check"):
            correct = bool(r.check()) and r.failed == 0
        r.layer["mem.peak_rss_mb"] = r.rss.stop()
    except Exception:
        traceback.print_exc()
        r.close()
        return 3
    r.close()
    signal.alarm(0)
    if r.trace:
        _trace_metrics(r)
        os.makedirs(os.path.join(root, ".perfbench"), exist_ok=True)
        r.tracer.write(os.path.join(root, ".perfbench",
                                    f"spans-{a.workload}-{a.seed}.json"))
    shutil.rmtree(r.work, ignore_errors=True)
    if r.trace:
        metrics = {k: (r.layer.get(k, 0.0), u) for k, u in layer_units.items()}
    else:
        e = dict(r.e2e, setup_s=r.setup_s,
                 success_rate=max(0.0, 1.0 - r.failed / max(r.attempted, 1)))
        metrics = {k: (e[k], u) for k, u in e2e_units.items()}
    harness.emit(r, correct, metrics)
    return 0 if correct else 1


if __name__ == "__main__":
    sys.exit(main())
