"""Streaming-semantics tests: the stateful operators must match their batch
oracles on fixtures with out-of-order data, day rollovers, and bounce
timeouts (SURVEY §5 item 4)."""

from __future__ import annotations

import shutil

import pytest
from pyspark.sql import functions as F

from gmall_flink_2022_spark.operators.dwm import bounce_detect_batch
from gmall_flink_2022_spark.streaming.bounce_state import bounce_detect_stateful
from gmall_flink_2022_spark.streaming.runner import run_stream_to_table
from gmall_flink_2022_spark.streaming.uv_state import unique_visit_stateful

# (event_id, user_id, ts, event_type): u1 bounces at :00 (next view at :05
# within gap -> strict-next view = bounce) and at :05 (next event is a click
# 40 min later -> timeout bounce); u2's view at :10 is followed by a click
# 10 s later -> NOT a bounce; u3's trailing view never gets a successor ->
# timeout bounce (fires only because the sentinel advances the watermark).
FIXTURE = [
    (1, 1, "2024-01-01 10:00:00", "view"),
    (2, 1, "2024-01-01 10:00:05", "view"),
    (3, 1, "2024-01-01 10:40:05", "click"),
    (4, 2, "2024-01-01 10:00:10", "view"),
    (5, 2, "2024-01-01 10:00:20", "click"),
    (6, 3, "2024-01-01 10:30:00", "view"),
]
SENTINEL = [(999, 99, "2024-01-02 00:00:00", "click")]
GAP = 1800


def _events_df(spark, rows):
    return spark.createDataFrame(
        rows, "event_id long, user_id long, create_time string, event_type string"
    ).withColumn("ts", F.to_timestamp("create_time")).drop("create_time")


def test_bounce_batch_semantics(spark):
    df = _events_df(spark, FIXTURE)
    out = bounce_detect_batch(
        df, "user_id", "ts", F.col("event_type") == "view", GAP, tiebreak="event_id"
    )
    assert sorted(r["event_id"] for r in out.collect()) == [1, 2, 6]


def test_bounce_stateful_matches_batch(spark, tmp_path):
    # write fixture + sentinel as two files so the watermark advances past
    # the trailing pending entries (the CEP timeout branch)
    in_dir = str(tmp_path / "in")
    _events_df(spark, FIXTURE).coalesce(1).write.parquet(in_dir)
    _events_df(spark, SENTINEL).coalesce(1).write.mode("append").parquet(in_dir)

    sdf = (
        spark.readStream.schema(_events_df(spark, FIXTURE).schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(in_dir)
        .withColumn("is_entry", F.col("event_type") == "view")
        .select("user_id", "event_id", "ts", "is_entry")
    )
    out = bounce_detect_stateful(sdf, gap_seconds=GAP, watermark_delay="1 seconds")
    got = run_stream_to_table(out, "bounce_t", checkpoint=str(tmp_path / "ckpt"))
    got_ids = sorted(r["event_id"] for r in got.collect())
    # sentinel user 99's click is not an entry -> never emitted
    assert got_ids == [1, 2, 6]


def test_uv_stateful_day_rollover(spark, tmp_path):
    rows = [
        (1, "2024-01-01 23:59:00"),
        (1, "2024-01-01 08:00:00"),  # earlier same day -> the one emitted
        (1, "2024-01-02 00:01:00"),  # new day -> emitted
        (2, "2024-01-01 12:00:00"),
    ]
    df = spark.createDataFrame(rows, "user_id long, create_time string").withColumn(
        "ts", F.to_timestamp("create_time")
    ).select("user_id", "ts")
    in_dir = str(tmp_path / "uv_in")
    df.write.parquet(in_dir)
    sdf = spark.readStream.schema(df.schema).parquet(in_dir)
    out = run_stream_to_table(
        unique_visit_stateful(sdf), "uv_roll", checkpoint=str(tmp_path / "uvc")
    ).collect()
    got = {(r["user_id"], str(r["dt"])): r["first_ts"] for r in out}
    assert len(out) == 3
    assert str(got[(1, "2024-01-01")]) == "2024-01-01 08:00:00"
    assert (1, "2024-01-02") in got and (2, "2024-01-01") in got


def test_stream_batch_parity_visitor_stats(spark, sf_dir, tmp_path):
    """The same aggregation code path must produce identical results in
    batch and streaming (Structured Streaming's core contract)."""
    from gmall_flink_2022_spark.sources.io import read_stream_table, read_table

    batch = (
        read_table(spark, sf_dir, "events")
        .groupBy(F.window("ts", "1 hour").alias("w"), "event_type")
        .agg(F.count(F.lit(1)).alias("pv_ct"))
        .select(F.col("w.start").alias("stt"), "event_type", "pv_ct")
    )
    stream = (
        read_stream_table(spark, sf_dir, "events")
        .groupBy(F.window("ts", "1 hour").alias("w"), "event_type")
        .agg(F.count(F.lit(1)).alias("pv_ct"))
        .select(F.col("w.start").alias("stt"), "event_type", "pv_ct")
    )
    got = run_stream_to_table(
        stream, "vs_parity", output_mode="complete", checkpoint=str(tmp_path / "c")
    )
    b = sorted(map(tuple, batch.collect()))
    s = sorted(map(tuple, got.collect()))
    assert b == s


def test_watermark_drops_late_data(spark, tmp_path):
    """Late-data handling (SURVEY §2.6 W7): rows arriving after the
    watermark has passed their window's end are silently dropped — the
    reference has no allowedLateness anywhere, and Spark's default is the
    same drop. Three files + maxFilesPerTrigger=1 force three
    micro-batches (the file-replay watermark is applied one commit after
    it advances): batch 0 sees 11:00 data, batch 1 commits that watermark,
    so batch 2's 09:00 straggler is filtered while its in-time 11:00 row
    still lands. The final empty batch evicts and emits closed windows."""
    f1 = _events_df(
        spark,
        [
            (1, 1, "2024-01-01 09:00:01", "view"),
            (2, 1, "2024-01-01 11:00:00", "view"),
        ],
    )
    f2 = _events_df(spark, [(9, 1, "2024-01-01 11:00:05", "click")])
    f3 = _events_df(
        spark,
        [
            (3, 1, "2024-01-01 09:00:02", "view"),   # beyond watermark: dropped
            (4, 1, "2024-01-01 11:00:01", "view"),   # window still open: kept
            (5, 1, "2024-01-01 13:30:00", "click"),  # advances final watermark
        ],
    )
    import time

    in_dir = str(tmp_path / "in")
    f1.coalesce(1).write.parquet(in_dir, mode="overwrite")
    time.sleep(1.2)  # unambiguous file mtime order = replay order
    f2.coalesce(1).write.parquet(in_dir, mode="append")
    time.sleep(1.2)
    f3.coalesce(1).write.parquet(in_dir, mode="append")
    src = (
        spark.readStream.schema(f1.schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(in_dir)
    )
    agg = (
        src.withWatermark("ts", "10 seconds")
        .groupBy(F.window("ts", "1 hour").alias("w"))
        .agg(F.count(F.lit(1)).alias("ct"))
        .select(F.date_format("w.start", "HH:mm").alias("h"), "ct")
    )
    got = {
        r["h"]: r["ct"]
        for r in run_stream_to_table(agg, "late_drop_test", "append").collect()
    }
    # 09:00 closed with only the on-time row (straggler dropped); 11:00
    # kept all three in-time rows; the 13:00 window never finalized
    assert got == {"09:00": 1, "11:00": 3}


def test_uv_scale_plan_gate_no_collect_set(spark, sf_dir):
    """The scale UV aggregation must never reintroduce unbounded
    collect_set state: its only distinct-ish aggregate is the HLL
    sketch, and the plan must be watermarked (update-mode eligible)."""
    from gmall_flink_2022_spark.plans.streaming_plans import (
        visitor_stats_scale_agg,
    )
    from gmall_flink_2022_spark.sources.io import read_stream_table

    agg = visitor_stats_scale_agg(read_stream_table(spark, sf_dir, "events"))
    plan = agg._jdf.queryExecution().analyzed().toString()
    assert "collect_set" not in plan
    assert "approx_count_distinct" in plan
    assert "EventTimeWatermark" in plan


def test_idempotent_batch_store_replay(spark, tmp_path):
    """Replaying a micro-batch — Structured Streaming's failure mode
    between sink write and checkpoint commit — must not duplicate rows:
    committed batches no-op, uncommitted batches overwrite in place."""
    import os

    from gmall_flink_2022_spark.streaming.eos import IdempotentBatchStore

    store = IdempotentBatchStore(spark, str(tmp_path / "store"))
    b0 = spark.createDataFrame([("k1", 1), ("k2", 2)], "k string, v long")
    b1 = spark.createDataFrame([("k1", 10), ("k3", 3)], "k string, v long")
    store.write_batch(b0, 0)
    store.write_batch(b1, 1)

    def snapshot():
        return sorted(
            (r["k"], r["v"]) for r in store.read_latest(["k"]).collect()
        )

    want = [("k1", 10), ("k2", 2), ("k3", 3)]  # last writer wins for k1
    assert snapshot() == want
    # replay committed batch -> no-op
    store.write_batch(b1, 1)
    assert snapshot() == want
    # crash-before-commit: marker gone, data present; replay overwrites
    os.remove(os.path.join(store.commit_dir, "1"))
    store.write_batch(b1, 1)
    assert snapshot() == want
    assert store.committed_ids() == [0, 1]
    # append-mode view has exactly one copy of every written row
    rows = store.read_committed().count()
    assert rows == 4


def test_streaming_registry_no_collect_set_outside_parity_demos():
    """Registry-wide gate (VERDICT r2 #3): no streaming query may hold
    unbounded collect_set state except the explicitly-allowlisted
    complete-mode reference-parity demos, each of which now has a
    scale-safe twin that IS gated."""
    import inspect

    from gmall_flink_2022_spark.plans import REGISTRY

    # complete-mode exact-distinct demos mirror the reference's
    # per-window HashSet accumulators; the registry tags them
    # `exact_demo` (r4 verdict ask #7) so the scale twin is the obvious
    # deployment default. The allowlist IS the tag — adding a new
    # collect_set query without tagging it a demo fails this gate, and
    # tagging it forces a registered scale twin below.
    PARITY_DEMOS = {
        n for n, q in REGISTRY.items() if "exact_demo" in q.tags
    }
    assert PARITY_DEMOS == {
        "stream_visitor_stats",
        "stream_product_stats",
        "stream_two_hop_pipeline",
    }
    streaming = {n: q for n, q in REGISTRY.items() if "streaming" in q.tags}
    assert len(streaming) >= 15
    for name, q in streaming.items():
        if name in PARITY_DEMOS:
            continue
        src = inspect.getsource(q.fn)
        assert "collect_set(" not in src, (
            f"{name} holds collect_set state; use approx_count_distinct + "
            "tolerance contract (see stream_visitor_stats_scale)"
        )
    # every parity demo must actually have its scale twin registered
    for demo in PARITY_DEMOS:
        twin = {"stream_two_hop_pipeline": "stream_two_hop_scale"}.get(
            demo, demo + "_scale"
        )
        assert twin in REGISTRY, f"missing scale twin {twin} for {demo}"


def test_bounded_queries_start_only_in_runner():
    """Source gate: streaming/runner.py is the one place that starts a
    bounded query (trigger, checkpoint, state-partition pin), and
    sources/kafka.py holds the deployed Kafka sink. Any other
    ``writeStream`` or ``availableNow`` in the package is a hand-rolled
    copy of the runner."""
    import pathlib

    import gmall_flink_2022_spark as pkg

    root = pathlib.Path(pkg.__file__).parent
    allowed = {"streaming/runner.py", "sources/kafka.py"}
    offenders = []
    for f in sorted(root.rglob("*.py")):
        rel = f.relative_to(root).as_posix()
        src = f.read_text()
        if rel not in allowed and ("writeStream" in src or "availableNow" in src):
            offenders.append(rel)
    assert offenders == []


def test_scale_agg_builders_plan_gates(spark, sf_dir):
    """The scale-variant aggregation plans must be watermark-evictable
    (where windowed), sketch-based for distincts, and collect_set-free."""
    from gmall_flink_2022_spark.plans.streaming_plans import (
        order_enrich_scale_agg,
        product_stats_scale_agg,
        session_window_scale_agg,
    )
    from gmall_flink_2022_spark.sources.io import read_stream_table, read_table

    li = read_stream_table(spark, sf_dir, "lineitem")
    ev = read_stream_table(spark, sf_dir, "events")

    p = product_stats_scale_agg(li)._jdf.queryExecution().analyzed().toString()
    assert "collect_set" not in p
    assert "approx_count_distinct" in p
    assert "EventTimeWatermark" in p

    part = read_table(spark, sf_dir, "part")
    o = order_enrich_scale_agg(li, part)._jdf.queryExecution().analyzed().toString()
    assert "collect_set" not in o

    s = session_window_scale_agg(ev)._jdf.queryExecution().analyzed().toString()
    assert "collect_set" not in s
    assert "EventTimeWatermark" in s
    assert "session_window" in s


def test_checkpoint_restart_resumes_exactly_once(spark, sf_dir, tmp_path):
    """Kill-and-restart recovery: a streaming keyed aggregation consumes
    half the input, terminates (availableNow), gets MORE input, and
    restarts from the SAME checkpoint. The restarted query must (a) pick
    up only the unseen files (offset log), (b) resume its aggregation
    state (state store recovery — running totals continue, not restart
    at zero), and (c) leave the upsert store equal to the batch answer
    over the full input. This is the reference's
    checkpointing+restart-from-savepoint contract
    (gmall-realtime BaseApp env.enableCheckpointing / setRestartStrategy)
    rendered on Structured Streaming."""
    import os

    from gmall_flink_2022_spark.sources.dim_store import DimStore
    from gmall_flink_2022_spark.sources.io import read_table

    src = str(tmp_path / "src")
    ckpt = str(tmp_path / "ck")
    store = DimStore(spark, str(tmp_path / "store"))

    ev = read_table(spark, sf_dir, "events").select("event_id", "user_id", "value")
    first = ev.filter(F.col("event_id") % 2 == 0)
    second = ev.filter(F.col("event_id") % 2 == 1)
    first.write.mode("overwrite").parquet(src)
    schema = first.schema

    def agg_stream():
        return (
            spark.readStream.schema(schema)
            .parquet(src)
            .groupBy((F.col("user_id") % 50).alias("_k"))
            .agg(
                F.count(F.lit(1)).alias("n"),
                F.sum(F.col("value").cast("decimal(18,2)"))
                .cast("double")
                .alias("total"),
            )
        )

    def run_once():
        q = (
            agg_stream()
            .writeStream.outputMode("update")
            .foreachBatch(lambda b, bid: store.upsert("evagg", b, pk="_k"))
            .trigger(availableNow=True)
            .option("checkpointLocation", ckpt)
            .start()
        )
        q.awaitTermination()

    run_once()
    snap1 = {r["_k"]: r["n"] for r in store.read("evagg").collect()}
    assert sum(snap1.values()) == first.count()

    second.write.mode("append").parquet(src)
    run_once()  # restart: same checkpoint, new files only

    # (a) the offset log advanced by exactly one micro-batch — file1 was
    # NOT re-read (a from-scratch rerun would show a fresh batch 0 only)
    offsets = sorted(
        f for f in os.listdir(os.path.join(ckpt, "offsets")) if f.isdigit()
    )
    assert offsets == ["0", "1"]

    # (b) totals strictly grew on keys present in both halves
    snap2 = {r["_k"]: r["n"] for r in store.read("evagg").collect()}
    grew = [k for k in snap1 if snap2.get(k, 0) > snap1[k]]
    assert grew, "aggregation state did not resume across restart"

    # (c) settled store == batch aggregate over the full input
    want = {
        (r["_k"], r["n"], r["total"])
        for r in ev.groupBy((F.col("user_id") % 50).alias("_k"))
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(F.col("value").cast("decimal(18,2)")).cast("double").alias("total"),
        )
        .collect()
    }
    got = {
        (r["_k"], r["n"], r["total"])
        for r in store.read("evagg").select("_k", "n", "total").collect()
    }
    assert got == want


def test_decay_score_stateful_multi_batch_late_arrival(spark, tmp_path):
    """Bounded-state decay score across 3 micro-batches with a LATE
    arrival: an event in batch 3 that is OLDER than batch 1's events
    must slot into its time position (state orders by event time, not
    arrival), so the settled score equals the batch rendering."""
    import time

    from pyspark.sql import functions as F

    from gmall_flink_2022_spark.streaming.decay_state import (
        K,
        decay_score_stateful,
    )

    def ev_df(rows):
        return (
            spark.createDataFrame(
                rows, "event_id long, user_id long, ts string, value double"
            )
            .withColumn("ts", F.col("ts").cast("timestamp"))
        )

    f1 = ev_df([(1, 7, "2024-01-01 10:00:00", 1.0),
                (2, 7, "2024-01-01 11:00:00", 2.0)])
    f2 = ev_df([(3, 7, "2024-01-01 12:00:00", 4.0)])
    f3 = ev_df([(4, 7, "2024-01-01 09:00:00", 8.0)])  # late AND oldest

    in_dir = str(tmp_path / "in")
    f1.coalesce(1).write.parquet(in_dir, mode="overwrite")
    time.sleep(1.2)
    f2.coalesce(1).write.parquet(in_dir, mode="append")
    time.sleep(1.2)
    f3.coalesce(1).write.parquet(in_dir, mode="append")

    src = (
        spark.readStream.schema(f1.schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(in_dir)
    )
    scored = decay_score_stateful(
        src.select(
            "user_id", "ts", "event_id",
            F.floor(F.col("value") * 100).cast("long").alias("cents"),
        )
    )
    got = {}

    def sink(batch, batch_id):
        for r in batch.collect():
            got[r["user_id"]] = (r["n_scored"], r["num_q"])

    ckpt = str(tmp_path / "ckpt")
    q = (
        scored.writeStream.outputMode("update")
        .foreachBatch(sink)
        .trigger(availableNow=True)
        .option("checkpointLocation", ckpt)
        .start()
    )
    q.awaitTermination()
    # time order newest->oldest: e3(400), e2(200), e1(100), e4(800)
    want = (400 << 15) + (200 << 14) + (100 << 13) + (800 << 12)
    assert got[7] == (4, want)
    assert K == 16


@pytest.mark.parametrize(
    "name",
    [
        "stream_two_hop_pipeline",
        "stream_two_hop_eos",
        "stream_two_hop_scale",
        "stream_attribution_linear",
    ],
)
def test_stream_hop_empty_events_settles_empty(spark, tmp_path, name):
    """An events input whose first query writes ZERO hop data files must
    settle to an empty result, not raise 'unable to infer schema': the
    hop is re-read with the writing plan's schema (runner.run_stream_hop)."""
    from gmall_flink_2022_spark.plans.registry import REGISTRY

    sf = tmp_path / "sf_empty"
    sf.mkdir()
    empty = spark.createDataFrame(
        [],
        "event_id long, ts timestamp, user_id long, "
        "event_type string, value double, props string",
    )
    empty.write.parquet(str(sf / "events.parquet"))
    out = REGISTRY[name].fn(spark, str(sf))
    assert out.count() == 0


def test_stream_runs_leave_no_temp_dirs(spark, sf_dir):
    """A memory-sink entry and a hop entry must delete every checkpoint,
    hop and store dir they create under the temp dir."""
    import os
    import tempfile

    from gmall_flink_2022_spark.plans.registry import REGISTRY

    def gmall_dirs() -> set[str]:
        root = tempfile.gettempdir()
        return {
            n
            for n in os.listdir(root)
            if n.startswith("gmall_") and os.path.isdir(os.path.join(root, n))
        }

    before = gmall_dirs()
    for name in ("stream_uv_dropdup", "stream_two_hop_pipeline"):
        assert REGISTRY[name].fn(spark, sf_dir).count() > 0
    assert gmall_dirs() - before == set()


def test_curation_release_caches(spark):
    from gmall_flink_2022_spark.llm import cachereg, curation

    docs = spark.createDataFrame(
        [(i, "alpha beta gamma delta epsilon zeta eta theta iota kappa "
              f"word{i}") for i in range(8)],
        "doc_id long, text string",
    )
    curation.release_caches()  # start from a clean slate
    out = curation.curate(docs)
    assert out.count() > 0
    with cachereg._LOCK:
        cached = list(cachereg._LIVE)
    assert cached and all(d.storageLevel.useMemory for d in cached)
    curation.release_caches()
    with cachereg._LOCK:
        assert not cachereg._LIVE
    assert all(not d.storageLevel.useMemory for d in cached)


def test_stream_funnel_out_of_order_replay(spark, tmp_path):
    """The funnel's min-ts chain under LATE data, across real
    micro-batches (r9 VERDICT ask #2's replay test): batch 1 delivers
    a click (and a purchase) with NO view yet; batch 2 delivers the
    EARLIER view. The anchor shift must validate the buffered click —
    exactly the case a 3-timestamp state cannot recover. User 2 also
    has an on-time view that the late view UNDERCUTS (tv moves
    10:00 -> 09:00, validating the 09:30 click it had rejected)."""
    import datetime as dt
    import os

    from gmall_flink_2022_spark.streaming.funnel_state import funnel_stateful

    day = dt.datetime(2024, 5, 1)

    def t(h, m):
        return day + dt.timedelta(hours=h, minutes=m)

    schema = "user_id long, ts timestamp, event_type string"
    batch1 = spark.createDataFrame(
        [
            # user 1: click+purchase first, view late
            (1, t(9, 30), "click"),
            (1, t(9, 45), "purchase"),
            # user 2: on-time view at 10:00 REJECTS the 09:30 click;
            # the late 09:00 view must resurrect it from the buffer
            (2, t(10, 0), "view"),
            (2, t(9, 30), "click"),
            (2, t(11, 0), "purchase"),
            # user 3: control — never gets a view, must emit nothing
            (3, t(9, 0), "click"),
        ],
        schema,
    )
    batch2 = spark.createDataFrame(
        [(1, t(9, 0), "view"), (2, t(9, 0), "view")], schema
    )
    sentinel = spark.createDataFrame(
        [(-1, dt.datetime(2030, 1, 1), "click")], schema
    )
    import time

    in_dir = str(tmp_path / "in")
    # unambiguous mtimes pin replay order (file source replays by mtime;
    # a sentinel processed FIRST would advance the watermark past the
    # whole day and drop every real event as late)
    batch1.coalesce(1).write.parquet(in_dir, mode="overwrite")
    time.sleep(1.2)
    batch2.coalesce(1).write.parquet(in_dir, mode="append")
    time.sleep(1.2)
    sentinel.coalesce(1).write.parquet(in_dir, mode="append")
    sdf = (
        spark.readStream.schema(batch1.schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(in_dir)
    )
    # wide watermark so the deliberately-late batch-2 views are not
    # dropped as beyond-watermark (the engine's standard late contract)
    out = funnel_stateful(sdf, watermark_delay="4 hours")
    settled = run_stream_to_table(out, "funnel_ooo", output_mode="append")
    rows = {
        r["user_id"]: (r["reached_click"], r["reached_purchase"])
        for r in settled.filter(F.col("user_id") >= 0).collect()
    }
    # user 1: late view anchors at 09:00 -> click 09:30 valid ->
    # purchase 09:45 valid. user 2: anchor shifts 10:00 -> 09:00,
    # resurrecting the buffered 09:30 click; purchase 11:00 follows.
    assert rows == {1: (True, True), 2: (True, True)}
    # file order is load-bearing for the scenario: batch 1 really ran
    # without any view (a same-batch view would make this vacuous) —
    # guaranteed by maxFilesPerTrigger=1 + the three separate files
    assert len({f for f in os.listdir(in_dir) if f.endswith(".parquet")}) == 3


def test_stream_funnel_no_view_day_and_boundary(spark, tmp_path):
    """A click strictly AT the view timestamp does not convert (strict
    '>' chain), and a user-day with clicks but no view emits nothing."""
    import datetime as dt

    from gmall_flink_2022_spark.streaming.funnel_state import funnel_stateful

    day = dt.datetime(2024, 5, 2)
    schema = "user_id long, ts timestamp, event_type string"
    data = spark.createDataFrame(
        [
            (1, day + dt.timedelta(hours=9), "view"),
            (1, day + dt.timedelta(hours=9), "click"),      # tie: invalid
            (2, day + dt.timedelta(hours=8), "click"),       # no view
        ],
        schema,
    )
    sentinel = spark.createDataFrame(
        [(-1, dt.datetime(2030, 1, 1), "click")], schema
    )
    import time

    in_dir = str(tmp_path / "in")
    data.coalesce(1).write.parquet(in_dir, mode="overwrite")
    time.sleep(1.2)  # pin replay order: sentinel-first would drop the day
    sentinel.coalesce(1).write.parquet(in_dir, mode="append")
    sdf = (
        spark.readStream.schema(data.schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(in_dir)
    )
    out = funnel_stateful(sdf, watermark_delay="1 seconds")
    settled = run_stream_to_table(out, "funnel_edge", output_mode="append")
    rows = {
        r["user_id"]: (r["reached_click"], r["reached_purchase"])
        for r in settled.filter(F.col("user_id") >= 0).collect()
    }
    assert rows == {1: (False, False)}


def test_stream_funnel_type_filter_and_noise_immunity(spark, tmp_path):
    """r11: non-funnel event types are dropped JVM-side INSIDE
    funnel_stateful, before the shuffle + Arrow boundary — the filter
    shows in the unstarted streaming plan upstream of the stateful
    operator, and a noisy stream (signup/error rows interleaved,
    including a user-day with ONLY noise) produces bit-identical
    output to the clean one."""
    import datetime as dt

    from gmall_flink_2022_spark.streaming.funnel_state import funnel_stateful

    day = dt.datetime(2024, 5, 2)
    schema = "user_id long, ts timestamp, event_type string"
    clean = [
        (1, day + dt.timedelta(hours=9), "view"),
        (1, day + dt.timedelta(hours=10), "click"),
        (1, day + dt.timedelta(hours=11), "purchase"),
    ]
    noise = [
        (1, day + dt.timedelta(hours=8), "signup"),
        (1, day + dt.timedelta(hours=9, minutes=30), "error"),
        (3, day + dt.timedelta(hours=7), "error"),  # noise-only user-day
    ]
    sentinel = [(-1, dt.datetime(2030, 1, 1), "click")]
    import time

    results = {}
    for label, rows in (("clean", clean), ("noisy", clean + noise)):
        in_dir = str(tmp_path / f"in_{label}")
        spark.createDataFrame(rows, schema).coalesce(1).write.parquet(
            in_dir, mode="overwrite"
        )
        time.sleep(1.2)
        spark.createDataFrame(sentinel, schema).coalesce(1).write.parquet(
            in_dir, mode="append"
        )
        sdf = (
            spark.readStream.schema("user_id long, ts timestamp, "
                                    "event_type string")
            .option("maxFilesPerTrigger", 1)
            .parquet(in_dir)
        )
        out = funnel_stateful(sdf, watermark_delay="1 seconds")
        if label == "noisy":
            # the filter is upstream of the stateful op in the plan
            import contextlib
            import io

            buf = io.StringIO()
            with contextlib.redirect_stdout(buf):
                out.explain(True)
            plan = buf.getvalue()
            # a Filter node mentioning event_type IN (...) sits in the
            # plan (upstream of the stateful op by construction: the
            # operator applies it before groupBy)
            assert any(
                "Filter" in line and "event_type" in line
                for line in plan.splitlines()
            ), plan
        settled = run_stream_to_table(
            out, f"funnel_typef_{label}", output_mode="append"
        )
        results[label] = sorted(
            (r["user_id"], r["dt"], r["reached_click"], r["reached_purchase"])
            for r in settled.filter(F.col("user_id") >= 0).collect()
        )
    assert results["clean"] == results["noisy"] == [
        (1, "2024-05-02", True, True)
    ]


def test_stream_funnel_checkpoint_resume(spark, tmp_path):
    """The funnel state survives a query RESTART: run 1 ingests
    click+purchase (and user 2's provisional anchor), stops with state
    checkpointed and nothing emitted; run 2 — a NEW query on the SAME
    checkpoint — delivers the late earlier views and the sentinel. The
    resumed state must still recover the anchor shift (W8: restart =
    replay from checkpoint, state is the source of truth)."""
    import datetime as dt
    import time

    from gmall_flink_2022_spark.streaming.funnel_state import funnel_stateful
    from gmall_flink_2022_spark.streaming.runner import (
        DEFAULT_STATE_PARTITIONS,
        _pinned_shuffle_partitions,
    )

    day = dt.datetime(2024, 5, 3)

    def t(h, m):
        return day + dt.timedelta(hours=h, minutes=m)

    schema = "user_id long, ts timestamp, event_type string"
    in_dir = str(tmp_path / "in")
    ckpt = str(tmp_path / "ckpt")

    out_dir = str(tmp_path / "out")

    def run(name):
        # file sink, not memory: the memory sink does not support
        # checkpoint RECOVERY, which is the point of this test
        sdf = (
            spark.readStream.schema(
                "user_id long, ts timestamp, event_type string"
            )
            .option("maxFilesPerTrigger", 1)
            .parquet(in_dir)
        )
        out = funnel_stateful(sdf, watermark_delay="4 hours")
        with _pinned_shuffle_partitions(spark, DEFAULT_STATE_PARTITIONS):
            q = (
                out.writeStream.format("parquet")
                .option("path", out_dir)
                .outputMode("append")
                .trigger(availableNow=True)
                .option("checkpointLocation", ckpt)
                .start()
            )
            q.awaitTermination()
        return spark.read.schema(
            "user_id long, dt string, reached_click boolean, "
            "reached_purchase boolean"
        ).parquet(out_dir)

    batch1 = spark.createDataFrame(
        [
            (1, t(9, 30), "click"),
            (1, t(9, 45), "purchase"),
            (2, t(10, 0), "view"),
            (2, t(9, 30), "click"),
        ],
        schema,
    )
    batch1.coalesce(1).write.parquet(in_dir, mode="overwrite")
    first = run("funnel_resume1")
    assert first.count() == 0  # nothing timed out yet: all state, no output

    time.sleep(1.2)
    batch2 = spark.createDataFrame(
        [(1, t(9, 0), "view"), (2, t(9, 0), "view")], schema
    )
    batch2.coalesce(1).write.parquet(in_dir, mode="append")
    time.sleep(1.2)
    spark.createDataFrame(
        [(-1, dt.datetime(2030, 1, 1), "click")], schema
    ).coalesce(1).write.parquet(in_dir, mode="append")

    second = run("funnel_resume2")
    rows = {
        r["user_id"]: (r["reached_click"], r["reached_purchase"])
        for r in second.filter(F.col("user_id") >= 0).collect()
    }
    # both anchor recoveries worked THROUGH the restart: user 1's whole
    # chain was pre-anchor state from run 1; user 2's buffered rejected
    # click was resurrected by the run-2 late view
    assert rows == {1: (True, True), 2: (True, False)}


def test_stream_funnel_hot_user_data_branch_emission(spark, tmp_path):
    """r12 ADVICE (medium): Spark never invokes the timeout branch for
    a key that has new data in the same batch, so a HOT user — data in
    every batch — must emit-and-evict its settled days from the DATA
    branch, in the exact trigger whose input watermark passes the
    day's deadline (the per-(user, day) emission timing). Scenario:
    user 1's day-1 funnel arrives in batch 1 alongside a day-2 event
    from another user (which advances the watermark past day 1's
    deadline); batch 2 — the LAST batch — delivers MORE user-1 data.
    The day-1 row must appear IN batch 2 (batch_id 1), not in a
    trailing timeout batch and not never."""
    import datetime as dt
    import time

    from gmall_flink_2022_spark.streaming.funnel_state import funnel_stateful
    from gmall_flink_2022_spark.streaming.runner import (
        DEFAULT_STATE_PARTITIONS,
        _pinned_shuffle_partitions,
    )

    schema = "user_id long, ts timestamp, event_type string"
    in_dir = str(tmp_path / "in")
    batch1 = spark.createDataFrame(
        [
            (1, dt.datetime(2024, 5, 1, 9, 0), "view"),
            (1, dt.datetime(2024, 5, 1, 9, 30), "click"),
            # watermark driver: by batch 2 the wm is 05-02 12:00 - 1s,
            # past day 1's end-of-day + 1s deadline
            (99, dt.datetime(2024, 5, 2, 12, 0), "view"),
        ],
        schema,
    )
    # user 1 is HOT: more data in the final batch (a new pending day 2,
    # whose deadline never settles — it must NOT emit)
    batch2 = spark.createDataFrame(
        [(1, dt.datetime(2024, 5, 2, 13, 0), "view")], schema
    )
    batch1.coalesce(1).write.parquet(in_dir, mode="overwrite")
    time.sleep(1.2)
    batch2.coalesce(1).write.parquet(in_dir, mode="append")
    sdf = (
        spark.readStream.schema(batch1.schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(in_dir)
    )
    out = funnel_stateful(sdf, watermark_delay="1 seconds")
    emitted: list[tuple[int, tuple]] = []

    def capture(batch_df, batch_id):
        for r in batch_df.collect():
            emitted.append(
                (batch_id, (r["user_id"], r["dt"], r["reached_click"],
                            r["reached_purchase"]))
            )

    with _pinned_shuffle_partitions(spark, DEFAULT_STATE_PARTITIONS):
        q = (
            out.writeStream.foreachBatch(capture)
            .outputMode("append")
            .trigger(availableNow=True)
            .option("checkpointLocation", str(tmp_path / "ckpt"))
            .start()
        )
        q.awaitTermination()
    # exactly the settled day-1 row, emitted in batch 2's data branch —
    # pre-fix, the hot key's settled day either lingered into a trailing
    # timeout batch or (no trailing batch) was lost entirely
    assert emitted == [(1, (1, "2024-05-01", True, False))]


def test_stream_bounce_hot_key_data_branch_emission(spark, tmp_path):
    """r13 VERDICT ask #5: bounce_state.py's 'safe by design' was prose
    only — the funnel was also believed safe until its hot-key
    starvation surfaced (r12 ADVICE), so bounce gets the same
    batch-id-pinned behavior test. Spark never invokes the timeout
    branch for a key with data in the same batch, so a HOT mid — data
    in every batch — must have its expired pending entry resolved in
    the DATA branch, in the exact trigger that delivers the successor
    (reference W6, dwm/UserJumpDetailApp.java:54-104: an entry whose
    strict successor arrives after the gap is a bounce). Scenario:
    user 1's entry lands in batch 1 (pending, deadline ts+10s)
    alongside a watermark driver that pushes the watermark past the
    deadline; batch 2 delivers MORE user-1 data after the gap — the
    bounce must appear IN batch 2 (batch_id 1), resolved by the data
    branch, not deferred to a timeout that would never fire for a key
    with same-batch data. A final sentinel batch (watermark to 2030)
    then proves the resolved state is gone: nothing re-emits."""
    import datetime as dt
    import time

    from gmall_flink_2022_spark.streaming.bounce_state import (
        bounce_detect_stateful,
    )
    from gmall_flink_2022_spark.streaming.runner import (
        DEFAULT_STATE_PARTITIONS,
        _pinned_shuffle_partitions,
    )

    schema = "user_id long, event_id long, ts timestamp, is_entry boolean"
    t0 = dt.datetime(2024, 5, 1, 10, 0, 0)
    in_dir = str(tmp_path / "in")
    batch1 = spark.createDataFrame(
        [
            (1, 10, t0, True),  # pending entry; deadline 10:00:10
            # watermark driver: wm after batch 1 = 10:00:19 > deadline
            (99, 90, t0 + dt.timedelta(seconds=20), False),
        ],
        schema,
    )
    # user 1 is HOT: its successor arrives in batch 2, after the gap —
    # the entry's fate is decided by DATA, in this exact trigger
    batch2 = spark.createDataFrame(
        [(1, 11, t0 + dt.timedelta(seconds=30), False)], schema
    )
    sentinel = spark.createDataFrame(
        [(99, 91, dt.datetime(2030, 1, 1), False)], schema
    )
    batch1.coalesce(1).write.parquet(in_dir, mode="overwrite")
    time.sleep(1.2)
    batch2.coalesce(1).write.parquet(in_dir, mode="append")
    time.sleep(1.2)
    sentinel.coalesce(1).write.parquet(in_dir, mode="append")
    sdf = (
        spark.readStream.schema(batch1.schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(in_dir)
    )
    out = bounce_detect_stateful(sdf, gap_seconds=10, watermark_delay="1 seconds")
    emitted: list[tuple[int, tuple]] = []

    def capture(batch_df, batch_id):
        for r in batch_df.collect():
            emitted.append((batch_id, (r["user_id"], r["event_id"], r["ts"])))

    with _pinned_shuffle_partitions(spark, DEFAULT_STATE_PARTITIONS):
        q = (
            out.writeStream.foreachBatch(capture)
            .outputMode("append")
            .trigger(availableNow=True)
            .option("checkpointLocation", str(tmp_path / "ckpt"))
            .start()
        )
        q.awaitTermination()
    # exactly one bounce — user 1's batch-1 entry — emitted in batch 2
    # (the trigger that delivered its post-gap successor), never in the
    # sentinel batch: a deferred-to-timeout implementation would emit at
    # batch_id 2 (or starve the key entirely while data keeps arriving)
    assert emitted == [(1, (1, 10, t0))]


def test_stream_stage1_psl_norm_checkpoint_resume(spark, sf_dir, tmp_path):
    """r13 VERDICT ask #4: the composed stage-1 chain
    (stream_llm_stage1_psl_norm) crosses a RESTART — min-struct digest
    state + an idempotent keyed-upsert store + a stream-static PSL
    broadcast is exactly the composition where double-apply bugs live.
    Mirrors test_stream_funnel_checkpoint_resume: run 1 consumes only
    batch 1 and is stopped; run 2 restarts from the checkpoint with
    batch 2 appended. Asserts (a) run 2 does NOT re-apply batch 1 (the
    checkpoint's file-source log must skip it — a re-apply means the
    restart replayed committed work into the store), and (b) the settled
    table, scored post-settle like the live entry, matches the batch
    entry llm_stage1_psl_norm exactly. The even/odd doc split plants
    cross-batch digest collisions (the %5==0 canonical bodies), so the
    min-struct state MUST survive the restart for the winners to be
    right."""
    from pyspark.sql import Window

    from gmall_flink_2022_spark import plans
    from gmall_flink_2022_spark.llm import psl, urls
    from gmall_flink_2022_spark.llm import text as text_mod
    from gmall_flink_2022_spark.llm.sampling import _u32
    from gmall_flink_2022_spark.plans.llm_plans import (
        _DOMAIN_CAP,
        _variant_texts,
        _with_url_psl,
    )
    from gmall_flink_2022_spark.sources.dim_store import DimStore
    from gmall_flink_2022_spark.sources.io import read_table
    from gmall_flink_2022_spark.streaming.runner import (
        DEFAULT_STATE_PARTITIONS,
        _pinned_shuffle_partitions,
    )

    docs = read_table(spark, sf_dir, "documents").select("doc_id", "text")
    base = _with_url_psl(_variant_texts(docs))  # (doc_id, vtext, url)
    in_dir = str(tmp_path / "in")
    ckpt = str(tmp_path / "ckpt")
    store = DimStore(spark, str(tmp_path / "store"))
    table = "s1psln_resume"

    def run() -> list[int]:
        """One availableNow pass of the live chain's streaming half,
        recording which batch ids the upsert store APPLIED."""
        sdf = (
            spark.readStream.schema(base.schema)
            .option("maxFilesPerTrigger", 1)
            .parquet(in_dir)
        )
        norm = text_mod.normalize_text(sdf, "vtext", out_col="ntext").drop(
            "vtext"
        )
        h = norm.withColumn("host", urls.host_of(F.col("url")))
        dom = psl.registrable_domain_psl(h, "host", psl.psl_rules_df(spark))
        st = dom.select(
            F.md5(F.col("ntext")).alias("_k"),
            F.struct(
                F.col("doc_id"),
                urls.url_normalize(F.col("url")).alias("nrm"),
                F.col("domain"),
            ).alias("w"),
        )
        agg = st.groupBy("_k").agg(F.min("w").alias("w"))
        applied: list[int] = []

        def upsert(batch, batch_id):
            applied.append(batch_id)
            store.upsert(table, batch, pk="_k")

        with _pinned_shuffle_partitions(spark, DEFAULT_STATE_PARTITIONS):
            q = (
                agg.writeStream.outputMode("update")
                .foreachBatch(upsert)
                .trigger(availableNow=True)
                .option("checkpointLocation", ckpt)
                .start()
            )
            q.awaitTermination()
        return applied

    base.filter(F.col("doc_id") % 2 == 0).coalesce(1).write.parquet(
        in_dir, mode="overwrite"
    )
    assert run() == [0]  # run 1: batch 1 only, then the query STOPS

    base.filter(F.col("doc_id") % 2 == 1).coalesce(1).write.parquet(
        in_dir, mode="append"
    )
    # restart from the checkpoint: ONLY the new file may be applied —
    # [0, 1] here means the restart re-applied committed batch 1 into
    # the store (the double-apply this test exists to catch)
    assert run() == [1]

    # post-settle scoring, verbatim from the live entry
    settled = store.read(table).select("w.doc_id", "w.nrm", "w.domain")
    wu = Window.partitionBy("nrm").orderBy(F.col("doc_id").asc())
    s2 = (
        settled.withColumn("__rk", F.row_number().over(wu))
        .filter(F.col("__rk") == 1)
        .select(F.col("doc_id").alias("id"), "domain")
    )
    w = Window.partitionBy("domain").orderBy(
        _u32(F.col("id")).asc(), F.col("id").asc()
    )
    got = sorted(
        map(
            tuple,
            s2.withColumn("rk", F.row_number().over(w).cast("long"))
            .filter(F.col("rk") <= _DOMAIN_CAP)
            .select("id", "domain", "rk")
            .collect(),
        )
    )
    want = sorted(
        map(
            tuple,
            plans.REGISTRY["llm_stage1_psl_norm"].fn(spark, sf_dir).collect(),
        )
    )
    assert got == want and len(got) > 0
