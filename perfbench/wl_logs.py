"""``log_stream``: the reference's main job chain (BaseLogApp ->
UniqueVisitApp -> VisitorStatsApp) under an open-loop app-log feed.

Two streaming queries read the ODS landing directory, one per sink, as
the program's layers are wired through topics:

* ``uv``: ``pipelines.dwd_layer`` -> entry pages ->
  ``unique_visit_stateful`` -> the benchmark's sink, which appends each
  batch of first visits to the DWM ``uv`` parquet directory.
* ``stats``: ``pipelines.dwd_layer`` -> page views, watermarked, in an
  update-mode 10 s window -> the benchmark's sink -> ``DimStore.upsert``
  into the ``visitor_stats`` table.

Both queries run a micro-batch every ``TRIGGER_S`` seconds, together.
An event's freshness is the wall time at which the last sink it reaches
returned, minus the event's due time at the generator: the stats sink
for every page view, and also the UV sink for a device's first entry
page.  Which batch read which file comes from the queries' file-source
logs.  The warm-up files are generated before the warm-up starts and
only moved into the landing directory inside it, so ``setup_s`` times
the program alone.  The traced run also reports the delivered rate:
the steady phase's events over the time from its start until both sinks
held all of them.
"""

from __future__ import annotations

import json
import os
import threading
import time

import numpy as np

import gen
from harness import Run, quantile, source_log

# Warm-up files, landed in two halves: a query's first two batches with
# data are slower than the rest (the first by about 3x, the second by up
# to 2x), so the steady phase starts with the third.
WARMUP_FILES = 10
PERIOD_S = 0.2
# Both queries run on this processing-time trigger.  Spark aligns the
# ticks to multiples of the interval, so the two queries fire together
# and their batches always overlap.  Free-running, the two batch cycles
# fell into overlapping or interleaved patterns at random, which moved
# freshness by a quarter between runs.  A steady phase that is a whole
# number of intervals long spreads the events evenly over the ticks.
TRIGGER_S = 6
# A stats batch takes 4-5 s on a 4-core host almost whatever its size,
# so at this rate both queries finish inside the interval with room for
# a slow batch.  (At 5 s, one slow batch made each following one start
# late.  At 500 events/s with free-running triggers the batches grew
# with the backlog.)
RATE_PER_S = 200
WATERMARK = "2 minutes"
WAIT_MAX_S = 90.0
FMT = "yyyy-MM-dd HH:mm:ss"
MEASURES = ("pv_ct", "sv_ct", "dur_sum")


def _is_entry():
    from pyspark.sql import functions as F

    return F.col("page.last_page_id").isNull() | (F.col("page.last_page_id") == "")


def _page_measures(page):
    from pyspark.sql import functions as F

    return page.select(
        F.timestamp_millis("ts").alias("event_time"),
        F.lit(1).alias("pv_ct"),
        _is_entry().cast("int").alias("sv_ct"),
        F.coalesce(F.col("page.during_time"), F.lit(0)).alias("dur_sum"),
    )


def run(r: Run) -> None:
    from pyspark.sql import functions as F

    from gmall_flink_2022_spark import pipelines
    from gmall_flink_2022_spark.sources.dim_store import DimStore
    from gmall_flink_2022_spark.streaming.runner import DEFAULT_STATE_PARTITIONS
    from gmall_flink_2022_spark.streaming.uv_state import unique_visit_stateful

    spark = r.spark
    steady_files = int(round(r.seconds / PERIOD_S))
    plan = gen.log_plan(WARMUP_FILES, steady_files, PERIOD_S, int(RATE_PER_S * PERIOD_S))
    staged, landing, uv_dir = r.path("staged", ""), r.path("landing", ""), r.path("dwm_uv", "")
    ck = {"uv": r.path("ck_uv"), "stats": r.path("ck_stats")}
    store = DimStore(spark, r.path("store", ""))
    manifest = r.path("manifest.json")
    gen_args = ["--warmup-files", str(WARMUP_FILES), "--steady-files", str(steady_files),
                "--period", str(PERIOD_S), "--file-events", str(int(RATE_PER_S * PERIOD_S))]
    done: dict[str, dict[int, float]] = {"uv": {}, "stats": {}}
    started = {"uv": threading.Event(), "stats": threading.Event()}
    retried = {"n": 0}

    def committed(name, batch_id):
        if batch_id in done[name]:
            retried["n"] += 1
        done[name][batch_id] = time.time()

    def sink_uv(batch, batch_id):
        started["uv"].set()
        with r.tracer.span("sink.uv", group="streaming"):
            batch.write.mode("append").parquet(uv_dir)
        committed("uv", batch_id)

    def sink_stats(batch, batch_id):
        started["stats"].set()
        with r.tracer.span("dim_store.upsert", group="sources"):
            store.upsert("visitor_stats", batch, pk="stt")
        committed("stats", batch_id)

    def page_stream():
        return pipelines.dwd_layer(spark.readStream.format("text").load(landing))["page"]

    uv = unique_visit_stateful(page_stream().filter(_is_entry()).select(
        F.regexp_extract("common.mid", r"(\d+)$", 1).cast("long").alias("user_id"),
        F.timestamp_millis("ts").alias("ts"),
    ), key="user_id")
    stats = (
        _page_measures(page_stream())
        .withWatermark("event_time", WATERMARK)
        .groupBy(F.window("event_time", f"{gen.WINDOW_S} seconds").alias("w"))
        .agg(*[F.sum(c).cast("long").alias(c) for c in MEASURES])
        .select(F.date_format("w.start", FMT).alias("stt"),
                F.date_format("w.end", FMT).alias("edt"), *MEASURES)
    )

    def where(files):
        """Per file, the commit time of each query's batch that read it."""
        logs = {q: source_log(c) for q, c in ck.items()}
        return {f: {q: done[q].get(logs[q].get(f)) for q in ck} for f in files}

    def wait_for(files, deadline):
        """Time at which both sinks held every file, or None."""
        while time.time() < deadline:
            if r.fault_after and time.time() > r.fault_after:
                r.fault_after = 0
                queries[1].stop()  # injected: the stats query dies mid-run
            dead = [q for q in queries if not q.isActive]
            if dead:
                for q in dead:
                    r.problem(f"streaming query {q.name} died: {q.exception()}")
                return None
            ts = [t for w in where(files).values() for t in w.values()]
            if all(t is not None for t in ts):
                return max(ts)
            time.sleep(0.1)
        r.problem(f"{len(files)} files not in both sinks after {WAIT_MAX_S} s")
        return None

    def land(files):
        for f in files:
            os.replace(os.path.join(staged, f), os.path.join(landing, f))

    names = [gen.log_name(p[0]) for p in plan]
    phase = {gen.log_name(p[0]): p[4] for p in plan}
    warm = [n for n in names if phase[n] == "warmup"]
    steady = [n for n in names if phase[n] == "steady"]
    queries = []
    r.gen("logs-warmup", "--out", staged, *gen_args)
    with r.warming():
        # the program's streaming plans pin this for their stateful queries
        spark.conf.set("spark.sql.shuffle.partitions", str(DEFAULT_STATE_PARTITIONS))
        trigger = f"{TRIGGER_S} seconds"
        queries += [
            uv.writeStream.foreachBatch(sink_uv).trigger(processingTime=trigger)
            .option("checkpointLocation", ck["uv"]).queryName("uv").start(),
            stats.writeStream.outputMode("update").foreachBatch(sink_stats)
            .trigger(processingTime=trigger)
            .option("checkpointLocation", ck["stats"]).queryName("stats").start(),
        ]
        # The first half lands just before a tick (the wait for it is
        # not set-up work) and makes each query's first batch.  The
        # second half lands once both of those batches have listed their
        # files and reached the sink, so it makes the second batch, which
        # starts as soon as the first (longer than an interval) ends.
        half = len(warm) // 2
        r.idle((-0.2 - time.time()) % TRIGGER_S)
        land(warm[:half])
        t_wait = time.time() + WAIT_MAX_S
        while (not all(e.is_set() for e in started.values()) and time.time() < t_wait
               and all(q.isActive for q in queries)):
            time.sleep(0.05)
        land(warm[half:])
        ok = wait_for(warm, time.time() + WAIT_MAX_S) is not None
    if r.inject == "stream-death":
        r.fault_after = time.time() + r.seconds / 2
    genp = r.gen("logs", "--out", landing, *gen_args, "--manifest", manifest, wait=False)
    ok = ok and wait_for(steady, time.time() + r.seconds + TRIGGER_S + WAIT_MAX_S) is not None
    genp.wait(timeout=WAIT_MAX_S)
    with open(manifest) as f:
        man = json.load(f)
    for q in queries:
        if q.isActive:
            q.stop()
    if r.listener is not None:
        # progress events reach the listener asynchronously; a query's
        # termination event is posted after all of its progress events
        t_wait = time.time() + 10
        while len(r.listener.terminated) < len(queries) and time.time() < t_wait:
            time.sleep(0.05)
    if retried["n"]:
        r.problem("micro-batches delivered twice to a sink", retried["n"])

    # ----------------------------------------------------------- metrics
    metas = {gen.log_name(p[0]): gen.log_file(r.seed, *p[:4])[1] for p in plan}
    r.attempted = sum(len(m["due_ms"]) for m in metas.values())
    uv_first = _uv_first_events(names, metas)
    at = where(names)
    fresh, lost = [], 0
    for f in steady:
        t_pv, t_uv = at[f]["stats"], at[f]["uv"]
        if t_pv is None or t_uv is None:
            lost += len(metas[f]["due_ms"])
            continue
        due = man["start"] + metas[f]["due_ms"] / 1000.0
        fresh.extend((np.where(uv_first[f], max(t_pv, t_uv), t_pv) - due).tolist())
    if lost:
        r.problem("steady-phase events never reached both sinks", lost)
    r.e2e["latency_p50_s"] = quantile(fresh, 0.5)
    r.e2e["latency_p95_s"] = quantile(fresh, 0.95)
    if ok and not lost:
        t_last = max(max(at[f].values()) for f in steady)
        r.e2e["throughput_per_s"] = len(fresh) / (t_last - man["start"])
    written = {gen.log_name(f["idx"]): f for f in man["files"]}
    r.layer["gen.late_p99_s"] = quantile(
        [written[f]["written"] - written[f]["due"] for f in steady], 0.99)
    r.layer["sources.lag_files_max"] = _lag_max(steady, written, at, done["stats"])
    r.layer["dim_store.upserts"] = len(done["stats"])
    r.layer["dim_store.file_count"] = store.file_count("visitor_stats")
    late = int(sum(int(m["late"].sum()) for m in metas.values()))
    r.layer["streaming.late_events_expected"] = late
    r.log(f"log_stream: {len(fresh)} steady events, "
          f"{len(done['uv'])}+{len(done['stats'])} batches, "
          f"gen late p99 {r.layer['gen.late_p99_s']:.3f}s, "
          f"lag max {r.layer['sources.lag_files_max']}")
    r.check = lambda: _check(r, landing, uv_dir, store, metas, late)


def _uv_first_events(names, metas) -> dict[str, np.ndarray]:
    """Per file, which events are their device's first entry page (the
    events that also reach the UV sink)."""
    seen: set[int] = set()
    out = {}
    for f in names:
        m = metas[f]
        first = np.zeros(len(m["dev"]), dtype=bool)
        for i in np.flatnonzero(m["entry"]):
            if int(m["dev"][i]) not in seen:
                seen.add(int(m["dev"][i]))
                first[i] = True
        out[f] = first
    return out


def _lag_max(steady, written, at, done_stats) -> int:
    """Most steady-phase landing files written but not yet in a committed
    stats batch, seen at each stats commit while the steady phase ran."""
    t_end = max(written[f]["written"] for f in steady)
    commit = {f: at[f]["stats"] or float("inf") for f in steady}
    lag = 0
    for t in [t for t in done_stats.values() if t <= t_end] + [t_end]:
        lag = max(lag, sum(1 for f in steady if written[f]["written"] <= t < commit[f]))
    return lag


def _check(r: Run, landing, uv_dir, store, metas, late_expected) -> bool:
    """Stats and UV against the batch composition of the program's
    pipelines over the same lines.  Returns whether they agree."""
    from pyspark.sql import functions as F

    from gmall_flink_2022_spark import pipelines
    from gmall_flink_2022_spark.operators.dws import tumbling_agg
    from gmall_flink_2022_spark.sources.logs import parse_logs

    spark = r.spark
    raw = spark.read.text(landing).cache()
    layer = pipelines.dwd_layer(raw)
    page = layer["page"]
    if r.trace:
        for name in ("start", "page", "display"):
            r.layer[f"operators.dwd.{name}_rows"] = layer[name].count()
    want = tumbling_agg(
        _page_measures(page), "event_time", gen.WINDOW_S, dims=[],
        aggs=[F.sum(c).cast("long").alias(c) for c in MEASURES],
    ).drop("w_start").toPandas()
    got = store.read("visitor_stats").toPandas()
    cutoff = time.strftime("%Y-%m-%d %H:%M:%S",
                           time.gmtime((gen.BASE_TS_MS - gen.VERY_LATE_MS // 2) / 1000))
    late_w, want = want[want["stt"] < cutoff], want[want["stt"] >= cutoff]
    ok = True
    if int(late_w["pv_ct"].sum()) != late_expected:
        r.problem(f"batch composition saw {int(late_w['pv_ct'].sum())} very late "
                  f"events, generator made {late_expected}")
        ok = False
    if (got["stt"] < cutoff).any():
        r.problem("very late events reached the stats store",
                  int(got.loc[got["stt"] < cutoff, "pv_ct"].sum()))
        ok = False
    if r.trace:
        dropped = int(r.layer.get("streaming.rows_dropped_by_watermark", -1))
        if dropped != late_expected:
            r.problem(f"watermark dropped {dropped} rows, generator made "
                      f"{late_expected} beyond the allowed lateness")
            ok = False
    if r.inject == "corrupt-result" and len(got):
        got.loc[got.index[0], "pv_ct"] += 1
    m = want.merge(got[got["stt"] >= cutoff], on="stt", how="outer", suffixes=("_w", "_g"))
    diff = 0
    for c in MEASURES:
        w, g = m[f"{c}_w"].fillna(0).astype("int64"), m[f"{c}_g"].fillna(0).astype("int64")
        diff += int((w - g).abs().sum()) if c == "pv_ct" else int((w != g).sum())
    if diff:
        r.problem(f"visitor stats differ from the batch composition ({diff} events "
                  f"lost, duplicated or mis-summed)", diff)
        ok = False
    uv_want = pipelines.dwm_unique_visit(page).select(
        F.regexp_extract("mid", r"(\d+)$", 1).cast("long").alias("user_id"),
        "dt", F.col("event_time").alias("first_ts"))
    uv_got = spark.read.parquet(uv_dir).select("user_id", "dt", "first_ts")
    n_uv = uv_want.exceptAll(uv_got).count() + uv_got.exceptAll(uv_want).count()
    if n_uv:
        r.problem(f"{n_uv} unique-visit rows differ from the batch composition", n_uv)
        ok = False
    n_dirty = parse_logs(raw).filter(F.col("_dirty")).count()
    n_gen = sum(int((m_["kind"] == 2).sum()) for m_ in metas.values())
    r.layer["sources.dirty_ratio"] = n_dirty / r.attempted
    if n_dirty != n_gen:
        r.problem(f"parser flagged {n_dirty} dirty lines, generator wrote {n_gen}")
        ok = False
    return ok
