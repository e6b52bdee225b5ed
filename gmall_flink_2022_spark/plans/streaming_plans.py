"""Streaming-mode registry entries.

Each runs a genuine Structured Streaming query to completion through
``streaming.runner`` (file source -> bounded trigger -> memory, hop or
foreachBatch sink) and returns the settled result as a
batch DataFrame, so the driver's correctness gate exercises the real
streaming code path — state stores, watermarks, stream-stream join — and
still hash-compares against a plain SQL oracle. This mirrors how every
reference job is a forever-Kafka-job with the same operators
(SURVEY §3.1/§3.2); only the endpoints differ in tests.
"""

from __future__ import annotations

import os
import shutil
import tempfile
import uuid

from pyspark.sql import DataFrame, SparkSession, functions as F

from ..sources.io import read_stream_table, read_table
from ..streaming.bounce_state import bounce_detect_stateful
from ..sources.dim_store import DimStore
from ..streaming.runner import (
    run_stream_foreach_batch,
    run_stream_hop,
    run_stream_to_table,
)
from ..streaming.uv_state import unique_visit_stateful
from .registry import register

DEC = "decimal(18,2)"


def _uniq(name: str) -> str:
    return f"{name}_{uuid.uuid4().hex[:8]}"


def _run_update_upsert(agg: DataFrame, table: str) -> DataFrame:
    """Run an update-mode streaming aggregation to completion through a
    keyed-upsert store on its ``_k`` column (per-trigger changed rows
    only) and read back the settled table without ``_k``. The 100 TB sink
    shape: state leaves the streaming job as idempotent upserts, never a
    complete-mode full re-emit."""
    spark = agg.sparkSession
    root = tempfile.mkdtemp(prefix="gmall_scale_store_")
    store = DimStore(spark, root)

    def upsert(batch: DataFrame, batch_id: int) -> None:
        store.upsert(table, batch, pk="_k")

    try:
        run_stream_foreach_batch(agg, upsert, output_mode="update")
        # If every micro-batch was empty (e.g. an empty source), the
        # empty-batch guard in DimStore.upsert never created the table —
        # return an empty result with the aggregation's schema instead
        # of letting store.read raise on the missing path.
        if not store.exists(table):
            return spark.createDataFrame([], agg.drop("_k").schema)
        # materialize before the finally deletes the store files the
        # returned plan would otherwise lazily read after cleanup
        return store.read(table).drop("_k").localCheckpoint(eager=True)
    finally:
        shutil.rmtree(root, ignore_errors=True)


def _pay_view_pairs(ev: DataFrame) -> DataFrame:
    """Stream-stream interval join of each purchase with the same user's
    views in the 15 minutes before it, 5 s watermarks on both sides: the
    PaymentWideApp band shared by the payment-wide and two-hop entries."""
    pay = (
        ev.filter(F.col("event_type") == "purchase")
        .select(
            F.col("event_id").alias("pay_event_id"),
            F.col("user_id"),
            F.col("ts").alias("pay_ts"),
        )
        .withWatermark("pay_ts", "5 seconds")
    )
    view = (
        ev.filter(F.col("event_type") == "view")
        .select(
            F.col("event_id").alias("view_event_id"),
            F.col("user_id").alias("v_user_id"),
            F.col("ts").alias("view_ts"),
        )
        .withWatermark("view_ts", "5 seconds")
    )
    return pay.join(
        view,
        (pay["user_id"] == view["v_user_id"])
        & (view["view_ts"] >= pay["pay_ts"] - F.expr("INTERVAL 900 SECONDS"))
        & (view["view_ts"] <= pay["pay_ts"]),
        "inner",
    ).select("pay_event_id", "view_event_id", "user_id", "pay_ts", "view_ts")


@register(
    "stream_visitor_stats",
    oracle="""
    SELECT strftime(date_trunc('hour', ts), '%Y-%m-%d %H:%M:%S') AS stt,
           event_type,
           COUNT(*) AS pv_ct,
           COUNT(DISTINCT user_id) AS uv_ct,
           CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS dur_sum
    FROM events
    GROUP BY date_trunc('hour', ts), event_type
    """,
    survey_ref="§2.4 A1 + §2.6 W1/W3 (streaming tumbling-window agg). "
    "EXACT-DISTINCT PARITY DEMO: complete-mode collect_set mirrors the "
    "reference's per-window HashSet; deploy stream_visitor_stats_scale "
    "(update mode + HLL + keyed upsert store) instead",
    tags=("streaming", "agg", "exact_demo"),
)
def stream_visitor_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = read_stream_table(spark, sf_dir, "events")
    fmt = "yyyy-MM-dd HH:mm:ss"
    agg = (
        ev.groupBy(F.window("ts", "1 hour").alias("w"), "event_type")
        .agg(
            F.count(F.lit(1)).alias("pv_ct"),
            F.size(F.collect_set("user_id")).cast("long").alias("uv_ct"),
            F.sum(F.col("value").cast(DEC)).cast("double").alias("dur_sum"),
        )
        .select(
            F.date_format(F.col("w.start"), fmt).alias("stt"),
            "event_type",
            "pv_ct",
            "uv_ct",
            "dur_sum",
        )
    )
    return run_stream_to_table(agg, _uniq("visitor_stats"), output_mode="complete")


@register(
    "stream_payment_wide",
    oracle="""
    SELECT p.event_id AS pay_event_id, v.event_id AS view_event_id,
           p.user_id, p.ts AS pay_ts, v.ts AS view_ts
    FROM events p
    JOIN events v
      ON p.user_id = v.user_id
     AND v.event_type = 'view'
     AND v.ts >= p.ts - INTERVAL 900 SECOND
     AND v.ts <= p.ts
    WHERE p.event_type = 'purchase'
    """,
    survey_ref="§2.3 J2 + §2.6 W1 (stream-stream interval join w/ watermarks)",
    tags=("streaming", "join"),
)
def stream_payment_wide(spark: SparkSession, sf_dir: str) -> DataFrame:
    joined = _pay_view_pairs(read_stream_table(spark, sf_dir, "events"))
    return run_stream_to_table(joined, _uniq("payment_wide"), output_mode="append")


@register(
    "stream_product_stats",
    oracle="""
    SELECT strftime(date_trunc('day', l_shipdate), '%Y-%m-%d') AS dt,
           l_partkey,
           CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS order_amount,
           COUNT(DISTINCT l_orderkey) AS order_ct
    FROM lineitem
    GROUP BY date_trunc('day', l_shipdate), l_partkey
    """,
    survey_ref="§2.4 A2 streaming (collect_set exact distinct — the "
    "streaming-legal rendering of the reference's HashSet accumulator). "
    "EXACT-DISTINCT PARITY DEMO: deploy stream_product_stats_scale "
    "(update mode + HLL + keyed upsert store) instead",
    tags=("streaming", "agg", "exact_demo"),
)
def stream_product_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = read_stream_table(spark, sf_dir, "lineitem")
    agg = (
        li.groupBy(F.window("l_shipdate", "1 day").alias("w"), "l_partkey")
        .agg(
            F.sum(F.col("l_extendedprice").cast(DEC)).cast("double").alias("order_amount"),
            F.size(F.collect_set("l_orderkey")).cast("long").alias("order_ct"),
        )
        .select(
            F.date_format(F.col("w.start"), "yyyy-MM-dd").alias("dt"),
            "l_partkey",
            "order_amount",
            "order_ct",
        )
    )
    return run_stream_to_table(agg, _uniq("product_stats"), output_mode="complete")


@register(
    "stream_user_jump",
    oracle="""
    WITH seq AS (
        SELECT event_id, user_id, ts, event_type,
               LEAD(ts)         OVER (PARTITION BY user_id ORDER BY ts, event_id) AS nxt_ts,
               LEAD(event_type) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS nxt_type
        FROM events
    )
    SELECT event_id, user_id, ts
    FROM seq
    WHERE event_type = 'view'
      AND (nxt_ts IS NULL OR nxt_type = 'view'
           OR nxt_ts > ts + INTERVAL 1800 SECOND)
    """,
    survey_ref="§2.6 W6 — the stateful CEP operator run as a REAL streaming "
    "job (event-time timeouts fired by a sentinel watermark advance), "
    "hash-matched against the batch lead() oracle",
    tags=("streaming", "stateful", "cep"),
)
def stream_user_jump(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The timeout branch of the CEP pattern only fires when the watermark
    passes a pending entry's deadline; a far-future sentinel event (from a
    user id outside the data's range) is appended as a second file so
    trailing pending entries flush. Both engines exclude the sentinel."""
    ev = read_table(spark, sf_dir, "events").select(
        "event_id", "user_id", "ts", "event_type"
    )
    stage = tempfile.mkdtemp(prefix="gmall_uj_in_")
    try:
        ev.coalesce(4).write.parquet(os.path.join(stage, "data"), mode="overwrite")
        sentinel = spark.createDataFrame(
            [(999999999, -1, "2030-01-01 00:00:00", "click")],
            "event_id long, user_id long, cts string, event_type string",
        ).select(
            "event_id",
            "user_id",
            F.to_timestamp("cts").alias("ts"),
            "event_type",
        )
        in_dir = os.path.join(stage, "in")
        spark.read.parquet(os.path.join(stage, "data")).coalesce(1).write.parquet(
            in_dir, mode="overwrite"
        )
        sentinel.coalesce(1).write.parquet(in_dir, mode="append")
        sdf = (
            spark.readStream.schema(ev.schema)
            .option("maxFilesPerTrigger", 1)
            .parquet(in_dir)
            .withColumn("is_entry", F.col("event_type") == "view")
            .select("user_id", "event_id", "ts", "is_entry")
        )
        out = bounce_detect_stateful(sdf, gap_seconds=1800, watermark_delay="1 seconds")
        settled = run_stream_to_table(out, _uniq("user_jump"), output_mode="append")
        return settled.filter(F.col("user_id") >= 0).select(
            "event_id", "user_id", "ts"
        )
    finally:
        shutil.rmtree(stage, ignore_errors=True)


@register(
    "stream_unique_visit",
    oracle="""
    SELECT user_id, strftime(ts, '%Y-%m-%d') AS dt, MIN(ts) AS first_ts
    FROM events
    GROUP BY user_id, strftime(ts, '%Y-%m-%d')
    """,
    survey_ref="§2.4 A5 + §2.6 W4 (applyInPandasWithState exact-TTL dedup)",
    tags=("streaming", "stateful"),
)
def stream_unique_visit(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = read_stream_table(spark, sf_dir, "events").select("user_id", "ts")
    out = unique_visit_stateful(ev, key="user_id").withColumn(
        "dt", F.date_format("dt", "yyyy-MM-dd")
    )
    return run_stream_to_table(out, _uniq("unique_visit"), output_mode="append")


@register(
    "stream_order_enrich",
    oracle="""
    SELECT p.p_brand,
           CAST(SUM(CAST(l.l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS order_amount,
           COUNT(*) AS line_ct
    FROM lineitem l LEFT JOIN part p ON l.l_partkey = p.p_partkey
    GROUP BY p.p_brand
    """,
    survey_ref="§2.3 J3 streaming (stream-static broadcast dim join — the "
    "reference's async Phoenix lookup path, re-read per micro-batch)",
    tags=("streaming", "join"),
)
def stream_order_enrich(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = read_stream_table(spark, sf_dir, "lineitem")
    part = read_table(spark, sf_dir, "part")  # static side, re-read per batch
    enriched = li.join(
        F.broadcast(part), li["l_partkey"] == part["p_partkey"], "left"
    )
    agg = enriched.groupBy("p_brand").agg(
        F.sum(F.col("l_extendedprice").cast(DEC)).cast("double").alias("order_amount"),
        F.count(F.lit(1)).alias("line_ct"),
    )
    return run_stream_to_table(agg, _uniq("order_enrich"), output_mode="complete")


@register(
    "stream_payment_wide_outer",
    oracle="""
    SELECT p.event_id AS pay_event_id, v.event_id AS view_event_id,
           p.user_id, p.ts AS pay_ts, v.ts AS view_ts
    FROM events p
    LEFT JOIN events v
      ON p.user_id = v.user_id
     AND v.event_type = 'view'
     AND v.ts >= p.ts - INTERVAL 900 SECOND
     AND v.ts <= p.ts
    WHERE p.event_type = 'purchase'
    """,
    survey_ref="§2.3 J2 outer variant — stream-stream LEFT OUTER interval "
    "join; unmatched rows emit with nulls only when the watermark passes "
    "their state boundary (sentinel rows on both sides force the flush)",
    tags=("streaming", "join", "outer"),
)
def stream_payment_wide_outer(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = read_table(spark, sf_dir, "events").select(
        "event_id", "user_id", "ts", "event_type"
    )
    stage = tempfile.mkdtemp(prefix="gmall_pwo_in_")
    try:
        in_dir = os.path.join(stage, "in")
        ev.coalesce(1).write.parquet(in_dir, mode="overwrite")
        sentinels = spark.createDataFrame(
            [
                (999999998, -1, "2030-01-01 00:00:00", "purchase"),
                (999999999, -1, "2030-01-01 00:00:00", "view"),
            ],
            "event_id long, user_id long, cts string, event_type string",
        ).select(
            "event_id", "user_id", F.to_timestamp("cts").alias("ts"), "event_type"
        )
        sentinels.coalesce(1).write.parquet(in_dir, mode="append")
        src = (
            spark.readStream.schema(ev.schema)
            .option("maxFilesPerTrigger", 1)
            .parquet(in_dir)
        )
        pay = (
            src.filter(F.col("event_type") == "purchase")
            .select(
                F.col("event_id").alias("pay_event_id"),
                F.col("user_id"),
                F.col("ts").alias("pay_ts"),
            )
            .withWatermark("pay_ts", "1 seconds")
        )
        view = (
            src.filter(F.col("event_type") == "view")
            .select(
                F.col("event_id").alias("view_event_id"),
                F.col("user_id").alias("v_user_id"),
                F.col("ts").alias("view_ts"),
            )
            .withWatermark("view_ts", "1 seconds")
        )
        joined = pay.join(
            view,
            (pay["user_id"] == view["v_user_id"])
            & (view["view_ts"] >= pay["pay_ts"] - F.expr("INTERVAL 900 SECONDS"))
            & (view["view_ts"] <= pay["pay_ts"]),
            "leftOuter",
        ).select("pay_event_id", "view_event_id", "user_id", "pay_ts", "view_ts")
        settled = run_stream_to_table(
            joined, _uniq("payment_wide_outer"), output_mode="append"
        )
        return settled.filter(F.col("user_id") >= 0)
    finally:
        shutil.rmtree(stage, ignore_errors=True)


@register(
    "stream_stats_upsert_sink",
    oracle="""
    SELECT strftime(date_trunc('hour', ts), '%Y-%m-%d %H:%M:%S') AS stt,
           event_type,
           COUNT(*) AS pv_ct,
           CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS dur_sum
    FROM events
    GROUP BY date_trunc('hour', ts), event_type
    """,
    survey_ref="§2.1 S9 + §2.4 A1 — update-mode windowed agg flowing "
    "through a foreachBatch keyed-upsert stats store (the ClickHouse "
    "JDBC batch sink shape: each micro-batch writes its changed rows; "
    "replay overwrites the same keys, so at-least-once delivery still "
    "converges to exactly the complete aggregate)",
    tags=("streaming", "agg", "sink"),
)
def stream_stats_upsert_sink(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = read_stream_table(spark, sf_dir, "events")
    fmt = "yyyy-MM-dd HH:mm:ss"
    agg = (
        ev.withWatermark("ts", "1 seconds")
        .groupBy(F.window("ts", "1 hour").alias("w"), "event_type")
        .agg(
            F.count(F.lit(1)).alias("pv_ct"),
            F.sum(F.col("value").cast(DEC)).cast("double").alias("dur_sum"),
        )
        .select(
            F.date_format(F.col("w.start"), fmt).alias("stt"),
            "event_type",
            "pv_ct",
            "dur_sum",
        )
        # surrogate upsert key = the group-by key (stt, event_type)
        .withColumn("_k", F.concat_ws("|", "stt", "event_type"))
    )
    return _run_update_upsert(agg, "visitor_stats")


@register(
    "stream_uv_dropdup",
    oracle="""
    SELECT DISTINCT user_id, strftime(ts, '%Y-%m-%d') AS dt
    FROM events
    """,
    survey_ref="§2.4 A5 alternative rendering — streaming dropDuplicates "
    "per (user, day): the watermarkless unbounded-state variant "
    "(SURVEY maps the exact-TTL variant to applyInPandasWithState — "
    "see stream_unique_visit; this one is the dropDuplicates mapping)",
    tags=("streaming", "dedup"),
)
def stream_uv_dropdup(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = read_stream_table(spark, sf_dir, "events")
    uv = (
        ev.select("user_id", F.date_format("ts", "yyyy-MM-dd").alias("dt"))
        .dropDuplicates(["user_id", "dt"])
    )
    return run_stream_to_table(uv, _uniq("uv_dropdup"), output_mode="append")


@register(
    "stream_session_window",
    oracle="""
    WITH marked AS (
        SELECT user_id, ts, event_id,
               CASE WHEN LAG(ts) OVER w IS NULL
                         OR ts > LAG(ts) OVER w + INTERVAL 1800 SECOND
                    THEN 1 ELSE 0 END AS new_sess
        FROM events
        WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
    ),
    sess AS (
        SELECT user_id, ts,
               CAST(SUM(new_sess) OVER (PARTITION BY user_id ORDER BY ts, event_id
                                        ROWS UNBOUNDED PRECEDING) AS BIGINT) AS sid
        FROM marked
    )
    SELECT user_id,
           MIN(ts) AS sess_start,
           MAX(ts) + INTERVAL 1800 SECOND AS sess_end,
           COUNT(*) AS n_events
    FROM sess
    GROUP BY user_id, sid
    """,
    survey_ref="§2.6 W3 extension: SESSION windows in a real streaming job "
    "(merging session state store), hash-matched against the batch "
    "lag+cumsum oracle",
    tags=("streaming", "agg", "session"),
)
def stream_session_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = read_stream_table(spark, sf_dir, "events")
    agg = (
        ev.withWatermark("ts", "1 seconds")
        .groupBy(F.session_window("ts", "1800 seconds").alias("w"), "user_id")
        .agg(F.count(F.lit(1)).alias("n_events"))
        .select(
            "user_id",
            F.col("w.start").alias("sess_start"),
            F.col("w.end").alias("sess_end"),
            "n_events",
        )
    )
    return run_stream_to_table(agg, _uniq("session_window"), output_mode="complete")


@register(
    "stream_two_hop_pipeline",
    oracle="""
    WITH pv AS (
        SELECT p.event_id AS pay_event_id, v.event_id AS view_event_id,
               p.user_id, p.ts AS pay_ts
        FROM events p
        JOIN events v
          ON p.user_id = v.user_id AND v.event_type = 'view'
         AND v.ts >= p.ts - INTERVAL 900 SECOND AND v.ts <= p.ts
        WHERE p.event_type = 'purchase'
    )
    SELECT strftime(date_trunc('hour', pay_ts), '%Y-%m-%d %H:%M:%S') AS stt,
           COUNT(*) AS pair_ct,
           COUNT(DISTINCT view_event_id) AS view_ct
    FROM pv GROUP BY date_trunc('hour', pay_ts)
    """,
    survey_ref="§7.3 #4 / §3.2 — the reference's layered Kafka-hop "
    "topology as TWO chained streaming jobs: stream-stream interval "
    "join lands in a hop dir (the 'topic'), a second streaming job "
    "windows and aggregates the hop output; oracle composes both "
    "stages in one SQL. EXACT-DISTINCT PARITY DEMO: deploy "
    "stream_two_hop_scale (update mode + HLL) instead",
    tags=("streaming", "join", "agg", "pipeline", "exact_demo"),
)
def stream_two_hop_pipeline(spark: SparkSession, sf_dir: str) -> DataFrame:
    stage = tempfile.mkdtemp(prefix="gmall_hop_")
    try:
        joined = _pay_view_pairs(read_stream_table(spark, sf_dir, "events"))
        # second job re-reads the hop exactly like PaymentWideApp re-reads
        # the dwm_order_wide topic
        hop_stream = run_stream_hop(
            joined.drop("view_ts"), os.path.join(stage, "hop_pay_view")
        )
        agg = (
            hop_stream.groupBy(F.window("pay_ts", "1 hour").alias("w"))
            .agg(
                F.count(F.lit(1)).alias("pair_ct"),
                F.size(F.collect_set("view_event_id")).cast("long").alias("view_ct"),
            )
            .select(
                F.date_format("w.start", "yyyy-MM-dd HH:mm:ss").alias("stt"),
                "pair_ct",
                "view_ct",
            )
        )
        # the memory sink holds the result, so the hop can go
        return run_stream_to_table(agg, _uniq("two_hop"), output_mode="complete")
    finally:
        shutil.rmtree(stage, ignore_errors=True)


def visitor_stats_scale_agg(ev: DataFrame) -> DataFrame:
    """The scale-safe UV aggregation plan: watermarked update-mode window
    agg whose only distinct-ish state is an HLL sketch. Exposed for the
    plan gate (test_streaming) which rejects any reintroduction of
    unbounded collect_set state."""
    fmt = "yyyy-MM-dd HH:mm:ss"
    return (
        ev.withWatermark("ts", "1 seconds")
        .groupBy(F.window("ts", "1 hour").alias("w"), "event_type")
        .agg(
            F.count(F.lit(1)).alias("pv_ct"),
            # HLL sketch per open window: O(kilobytes) state per group vs
            # collect_set's O(distinct users); rsd=0.02 -> <4% observed err
            F.approx_count_distinct("user_id", 0.02).alias("uv_ct_approx"),
            F.sum(F.col("value").cast(DEC)).cast("double").alias("dur_sum"),
        )
        .select(
            F.date_format(F.col("w.start"), fmt).alias("stt"),
            "event_type",
            "pv_ct",
            "uv_ct_approx",
            "dur_sum",
        )
        .withColumn("_k", F.concat_ws("|", "stt", "event_type"))
    )


@register(
    "stream_visitor_stats_scale",
    oracle="""
    SELECT strftime(date_trunc('hour', ts), '%Y-%m-%d %H:%M:%S') AS stt,
           event_type,
           COUNT(*) AS pv_ct,
           CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS dur_sum,
           TRUE AS uv_approx_ok
    FROM events
    GROUP BY date_trunc('hour', ts), event_type
    """,
    survey_ref="§2.4 A1/A2 scale path (dws/VisitorStatsApp.java:116-152 "
    "semantics): UPDATE-mode windowed agg with approx_count_distinct UV — "
    "the 100 TB-safe replacement for complete-mode collect_set (bounded "
    "HLL sketch state, watermark-evicted windows, per-trigger upsert of "
    "changed keys only). Exact pv/dur hash-checked; the HLL UV estimate "
    "is checked against the exact batch count via a per-group tolerance "
    "boolean (uv_approx_ok)",
    tags=("streaming", "agg", "approx", "scale"),
    bench=True,
)
def stream_visitor_stats_scale(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = read_stream_table(spark, sf_dir, "events")
    fmt = "yyyy-MM-dd HH:mm:ss"
    settled = _run_update_upsert(visitor_stats_scale_agg(ev), "visitor_stats_scale")
    # --- verification harness (batch side; NOT part of the pipeline) ---
    # fold the HLL estimate into a per-group tolerance boolean against the
    # exact batch count so the driver hash-checks approximation quality
    exact = (
        read_table(spark, sf_dir, "events")
        .groupBy(
            F.date_format(F.date_trunc("hour", "ts"), fmt).alias("stt"),
            "event_type",
        )
        .agg(F.countDistinct("user_id").alias("uv_exact"))
    )
    return (
        settled.join(exact, ["stt", "event_type"])
        .withColumn(
            "uv_approx_ok",
            F.abs(F.col("uv_ct_approx") - F.col("uv_exact"))
            <= F.greatest(F.lit(2.0), F.col("uv_exact") * F.lit(0.10)),
        )
        .select("stt", "event_type", "pv_ct", "dur_sum", "uv_approx_ok")
    )


@register(
    "stats_store_idempotent_upsert",
    oracle="""
    SELECT strftime(date_trunc('hour', ts), '%Y-%m-%d %H:%M:%S') AS stt,
           event_type,
           COUNT(*) AS pv_ct,
           CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS dur_sum
    FROM events
    GROUP BY date_trunc('hour', ts), event_type
    """,
    survey_ref="§2.6 W8 — effective exactly-once foreachBatch sink "
    "(utils/MyKafkaUtil.java:26-35 Semantic.EXACTLY_ONCE analog): "
    "batch-id-keyed overwrite + commit markers; the query DELIBERATELY "
    "replays its final micro-batch twice (committed no-op path AND "
    "crash-before-commit rewrite path) before reading back — any "
    "duplication would fail the rows/hash gate",
    tags=("streaming", "sink", "eos"),
)
def stats_store_idempotent_upsert(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..streaming.eos import IdempotentBatchStore

    ev_schema = read_table(spark, sf_dir, "events").schema
    stage = tempfile.mkdtemp(prefix="gmall_eos_in_")
    try:
        # stage the stream as 4 files -> 4 micro-batches, so cross-batch
        # update semantics (same key re-emitted with new totals) are real
        in_dir = os.path.join(stage, "in")
        read_table(spark, sf_dir, "events").repartition(4).write.parquet(
            in_dir, mode="overwrite"
        )
        src = (
            spark.readStream.schema(ev_schema)
            .option("maxFilesPerTrigger", 1)
            .parquet(in_dir)
        )
        fmt = "yyyy-MM-dd HH:mm:ss"
        agg = (
            src.groupBy(F.window("ts", "1 hour").alias("w"), "event_type")
            .agg(
                F.count(F.lit(1)).alias("pv_ct"),
                F.sum(F.col("value").cast(DEC)).cast("double").alias("dur_sum"),
            )
            .select(
                F.date_format(F.col("w.start"), fmt).alias("stt"),
                "event_type",
                "pv_ct",
                "dur_sum",
            )
        )
        store = IdempotentBatchStore(spark, os.path.join(stage, "store"))
        run_stream_foreach_batch(agg, store.write_batch, output_mode="update")
        # --- replay the final micro-batch, both failure modes ---
        ids = store.committed_ids()
        if not ids:  # empty input -> zero committed micro-batches
            return spark.createDataFrame(
                [], "stt string, event_type string, pv_ct bigint, dur_sum double"
            )
        last = ids[-1]
        # materialize before the overwrite-replay (same files would
        # otherwise be deleted out from under the lazy scan)
        replayed = spark.read.parquet(
            os.path.join(store.data_dir, f"batch={last}")
        ).localCheckpoint(eager=True)
        store.write_batch(replayed, last)  # committed -> must no-op
        os.remove(os.path.join(store.commit_dir, str(last)))  # crash sim
        store.write_batch(replayed, last)  # uncommitted -> overwrite, no dupes
        # materialize before the finally deletes the store under the stage
        return store.read_latest(["stt", "event_type"]).localCheckpoint(eager=True)
    finally:
        shutil.rmtree(stage, ignore_errors=True)


def _register_stream_cjk() -> None:
    """Registered via a helper so the oracle (and the doc_id->keyword
    derivation constants) stay single-sourced in plans.analytics."""
    from .analytics import _CJK_BRANDS, _CJK_PRODS, _CJK_SUFS, _cjk_oracle

    @register(
        "stream_keyword_stats_cjk",
        oracle=_cjk_oracle(),
        survey_ref="§2.7 U1 + §3.1 — dictionary segmentation INSIDE a "
        "Structured Streaming job (Arrow-batched pandas UDF per "
        "micro-batch; the KeywordStatsApp topology with the FMM "
        "tokenizer), hash-matched against the same recursive-CTE oracle "
        "as the batch variant",
        tags=("streaming", "udtf", "cjk"),
    )
    def stream_keyword_stats_cjk(spark: SparkSession, sf_dir: str) -> DataFrame:
        from ..functions.tokenize import cjk_tokens_udf

        def pick(options, idx):
            return F.element_at(
                F.array(*[F.lit(o) for o in options]), (idx + 1).cast("int")
            )

        d = read_stream_table(spark, sf_dir, "documents").filter(
            F.col("doc_id") < 200
        )
        kw = F.concat(
            pick(_CJK_BRANDS, F.col("doc_id") % 5),
            pick(_CJK_PRODS, F.floor(F.col("doc_id") / 5) % 4),
            pick(_CJK_SUFS, F.floor(F.col("doc_id") / 20) % 3),
        )
        agg = (
            d.select(F.explode(cjk_tokens_udf()(kw)).alias("word"))
            .groupBy("word")
            .agg(F.count(F.lit(1)).alias("ct"))
        )
        return run_stream_to_table(
            agg, _uniq("kw_cjk"), output_mode="complete"
        )


_register_stream_cjk()


@register(
    "stream_two_hop_eos",
    oracle="""
    WITH pv AS (
        SELECT p.event_id AS pay_event_id, v.event_id AS view_event_id,
               p.user_id, p.ts AS pay_ts
        FROM events p
        JOIN events v
          ON p.user_id = v.user_id AND v.event_type = 'view'
         AND v.ts >= p.ts - INTERVAL 900 SECOND AND v.ts <= p.ts
        WHERE p.event_type = 'purchase'
    )
    SELECT strftime(date_trunc('hour', pay_ts), '%Y-%m-%d %H:%M:%S') AS stt,
           COUNT(*) AS pair_ct
    FROM pv GROUP BY date_trunc('hour', pay_ts)
    """,
    survey_ref="§3.2 + §2.6 W8 capstone — the reference's full layered "
    "topology with exactly-once endpoints: stream-stream interval join "
    "-> parquet hop ('topic') -> second streaming job aggregates in "
    "update mode INTO the IdempotentBatchStore, whose final micro-batch "
    "is replayed through both failure paths before the read-back; any "
    "duplication fails the rows/hash gate",
    tags=("streaming", "join", "agg", "eos", "pipeline"),
)
def stream_two_hop_eos(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..streaming.eos import IdempotentBatchStore

    stage = tempfile.mkdtemp(prefix="gmall_hop_eos_")
    try:
        joined = _pay_view_pairs(read_stream_table(spark, sf_dir, "events"))
        # One file per trigger so the second job genuinely crosses
        # micro-batches. NO watermark here: the hop files are not
        # time-ordered (the join wrote them from many shuffle partitions),
        # so a watermark would mark almost everything after the first
        # trigger late and silently drop it — update mode without a
        # watermark keeps all window state for the bounded replay, same
        # as stats_store_idempotent_upsert.
        hop_stream = run_stream_hop(
            joined.drop("view_ts"), os.path.join(stage, "hop"), max_files_per_trigger=1
        )
        agg = (
            hop_stream
            .groupBy(F.window("pay_ts", "1 hour").alias("w"))
            .agg(F.count(F.lit(1)).alias("pair_ct"))
            .select(
                F.date_format("w.start", "yyyy-MM-dd HH:mm:ss").alias("stt"),
                "pair_ct",
            )
        )
        store = IdempotentBatchStore(spark, os.path.join(stage, "store"))
        run_stream_foreach_batch(agg, store.write_batch, output_mode="update")
        ids = store.committed_ids()
        if not ids:  # empty input -> zero committed micro-batches
            return spark.createDataFrame([], "stt string, pair_ct bigint")
        last = ids[-1]
        replayed = spark.read.parquet(
            os.path.join(store.data_dir, f"batch={last}")
        ).localCheckpoint(eager=True)
        store.write_batch(replayed, last)  # committed -> no-op
        os.remove(os.path.join(store.commit_dir, str(last)))
        store.write_batch(replayed, last)  # crash sim -> rewrite in place
        # materialize before the finally deletes the store under the stage
        return store.read_latest(["stt"]).localCheckpoint(eager=True)
    finally:
        shutil.rmtree(stage, ignore_errors=True)


# ---------------------------------------------------------------------------
# Scale-safe streaming variants (VERDICT r2 ask #3). The complete-mode
# queries above are reference-parity demos (the reference re-emits whole
# HashSet accumulators per element — dws/ProductStatsApp.java:209-252);
# these variants are the shapes you would actually deploy at 100 TB:
# UPDATE output mode (only changed keys per trigger), distinct counts as
# bounded HLL sketches instead of unbounded collect_set state, and a
# keyed upsert store as the sink (the ClickHouse ReplacingMergeTree
# shape), so replay converges instead of duplicating. Exact measures are
# hash-checked against the oracle; each HLL estimate is folded into a
# per-group tolerance boolean against the exact batch count (oracle
# emits literal TRUE), so approximation quality is driver-checked too.
# ---------------------------------------------------------------------------


def _tolerance_ok(approx_col: str, exact_col: str):
    """|approx - exact| <= max(2, 10% of exact) — the HLL rsd=0.02 bound
    with generous slack, folded to a hash-checkable boolean."""
    return F.abs(F.col(approx_col) - F.col(exact_col)) <= F.greatest(
        F.lit(2.0), F.col(exact_col) * F.lit(0.10)
    )


def product_stats_scale_agg(li: DataFrame) -> DataFrame:
    """Scale-safe product stats: watermarked daily window, exact DECIMAL
    revenue, per-window order count as an HLL sketch (bounded state) —
    update-mode eligible. Exposed for the plan gate."""
    return (
        li.withWatermark("l_shipdate", "1 seconds")
        .groupBy(F.window("l_shipdate", "1 day").alias("w"), "l_partkey")
        .agg(
            F.sum(F.col("l_extendedprice").cast(DEC)).cast("double").alias("order_amount"),
            F.approx_count_distinct("l_orderkey", 0.02).alias("order_ct_approx"),
        )
        .select(
            F.date_format(F.col("w.start"), "yyyy-MM-dd").alias("dt"),
            "l_partkey",
            "order_amount",
            "order_ct_approx",
        )
        .withColumn(
            "_k", F.concat_ws("|", "dt", F.col("l_partkey").cast("string"))
        )
    )


@register(
    "stream_product_stats_scale",
    oracle="""
    SELECT strftime(date_trunc('day', l_shipdate), '%Y-%m-%d') AS dt,
           l_partkey,
           CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS order_amount,
           TRUE AS order_ct_ok
    FROM lineitem
    GROUP BY date_trunc('day', l_shipdate), l_partkey
    """,
    survey_ref="§2.4 A2 scale path (dws/ProductStatsApp.java:209-252 "
    "semantics): update-mode windowed agg, HLL order-count instead of the "
    "reference's per-window HashSet, keyed upsert sink — bounded state at "
    "100 TB; exact revenue hash-checked, HLL checked via tolerance boolean",
    tags=("streaming", "agg", "approx", "scale"),
)
def stream_product_stats_scale(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = read_stream_table(spark, sf_dir, "lineitem")
    settled = _run_update_upsert(
        product_stats_scale_agg(li), "product_stats_scale"
    )
    exact = (
        read_table(spark, sf_dir, "lineitem")
        .groupBy(
            F.date_format(F.date_trunc("day", "l_shipdate"), "yyyy-MM-dd").alias("dt"),
            "l_partkey",
        )
        .agg(F.countDistinct("l_orderkey").alias("order_ct_exact"))
    )
    return (
        settled.join(exact, ["dt", "l_partkey"])
        .withColumn("order_ct_ok", _tolerance_ok("order_ct_approx", "order_ct_exact"))
        .select("dt", "l_partkey", "order_amount", "order_ct_ok")
    )


def order_enrich_scale_agg(li: DataFrame, part: DataFrame) -> DataFrame:
    """Scale-safe brand rollup: stream-static broadcast dim join into an
    unwindowed update-mode agg — state is one row per brand (dim-bounded),
    each trigger emits only brands it touched. Exposed for the plan gate."""
    enriched = li.join(F.broadcast(part), li["l_partkey"] == part["p_partkey"], "left")
    return (
        enriched.groupBy("p_brand")
        .agg(
            F.sum(F.col("l_extendedprice").cast(DEC)).cast("double").alias("order_amount"),
            F.count(F.lit(1)).alias("line_ct"),
        )
        .withColumn("_k", F.coalesce(F.col("p_brand"), F.lit("∅")))
    )


@register(
    "stream_order_enrich_scale",
    oracle="""
    SELECT p.p_brand,
           CAST(SUM(CAST(l.l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS order_amount,
           COUNT(*) AS line_ct
    FROM lineitem l LEFT JOIN part p ON l.l_partkey = p.p_partkey
    GROUP BY p.p_brand
    """,
    survey_ref="§2.3 J3 scale path: broadcast dim enrich -> update-mode "
    "agg -> keyed upsert store; replaces the complete-mode full re-emit "
    "of stream_order_enrich (exact result, same oracle)",
    tags=("streaming", "join", "agg", "scale"),
)
def stream_order_enrich_scale(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = read_stream_table(spark, sf_dir, "lineitem")
    part = read_table(spark, sf_dir, "part")  # static side, re-read per batch
    return _run_update_upsert(
        order_enrich_scale_agg(li, part), "order_enrich_scale"
    )


def session_window_scale_agg(src: DataFrame) -> DataFrame:
    """Scale-safe session windows: watermarked, APPEND output — a session
    emits exactly once, when the watermark passes its close; state is only
    the open sessions. Exposed for the plan gate."""
    return (
        src.withWatermark("ts", "1 seconds")
        .groupBy(F.session_window("ts", "1800 seconds").alias("w"), "user_id")
        .agg(F.count(F.lit(1)).alias("n_events"))
        .select(
            "user_id",
            F.col("w.start").alias("sess_start"),
            F.col("w.end").alias("sess_end"),
            "n_events",
        )
    )


@register(
    "stream_session_window_scale",
    oracle="""
    WITH marked AS (
        SELECT user_id, ts, event_id,
               CASE WHEN LAG(ts) OVER w IS NULL
                         OR ts > LAG(ts) OVER w + INTERVAL 1800 SECOND
                    THEN 1 ELSE 0 END AS new_sess
        FROM events
        WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
    ),
    sess AS (
        SELECT user_id, ts,
               CAST(SUM(new_sess) OVER (PARTITION BY user_id ORDER BY ts, event_id
                                        ROWS UNBOUNDED PRECEDING) AS BIGINT) AS sid
        FROM marked
    )
    SELECT user_id,
           MIN(ts) AS sess_start,
           MAX(ts) + INTERVAL 1800 SECOND AS sess_end,
           COUNT(*) AS n_events
    FROM sess
    GROUP BY user_id, sid
    """,
    survey_ref="§2.6 W3 scale path: append-mode session windows — each "
    "session emits once on watermark close (state = open sessions only), "
    "vs the complete-mode re-emit of stream_session_window; a far-future "
    "sentinel event advances the watermark so trailing sessions flush "
    "(both engines exclude the sentinel user)",
    tags=("streaming", "agg", "session", "scale"),
)
def stream_session_window_scale(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = read_table(spark, sf_dir, "events").select("event_id", "user_id", "ts")
    stage = tempfile.mkdtemp(prefix="gmall_sws_in_")
    try:
        in_dir = os.path.join(stage, "in")
        ev.coalesce(1).write.parquet(in_dir, mode="overwrite")
        sentinel = spark.createDataFrame(
            [(999999999, -1, "2030-01-01 00:00:00")],
            "event_id long, user_id long, cts string",
        ).select("event_id", "user_id", F.to_timestamp("cts").alias("ts"))
        sentinel.coalesce(1).write.parquet(in_dir, mode="append")
        src = (
            spark.readStream.schema(ev.schema)
            .option("maxFilesPerTrigger", 1)
            .parquet(in_dir)
        )
        settled = run_stream_to_table(
            session_window_scale_agg(src),
            _uniq("session_window_scale"),
            output_mode="append",
        )
        return settled.filter(F.col("user_id") >= 0)
    finally:
        shutil.rmtree(stage, ignore_errors=True)


@register(
    "stream_two_hop_scale",
    oracle="""
    WITH pv AS (
        SELECT p.event_id AS pay_event_id, v.event_id AS view_event_id,
               p.user_id, p.ts AS pay_ts
        FROM events p
        JOIN events v
          ON p.user_id = v.user_id AND v.event_type = 'view'
         AND v.ts >= p.ts - INTERVAL 900 SECOND AND v.ts <= p.ts
        WHERE p.event_type = 'purchase'
    )
    SELECT strftime(date_trunc('hour', pay_ts), '%Y-%m-%d %H:%M:%S') AS stt,
           COUNT(*) AS pair_ct,
           TRUE AS view_ct_ok
    FROM pv GROUP BY date_trunc('hour', pay_ts)
    """,
    survey_ref="§3.2 scale path: interval join -> parquet hop -> second "
    "job in UPDATE mode with HLL distinct-view count into a keyed upsert "
    "store. Per-window state is a bounded sketch, not the O(events) "
    "collect_set of stream_two_hop_pipeline. (No watermark on hop replay: "
    "hop files are shuffle-unordered — see stream_two_hop_eos; window "
    "count stays bounded by the stream's time range.)",
    tags=("streaming", "join", "agg", "approx", "scale", "pipeline"),
)
def stream_two_hop_scale(spark: SparkSession, sf_dir: str) -> DataFrame:
    stage = tempfile.mkdtemp(prefix="gmall_hop_scale_")
    try:
        joined = (
            _pay_view_pairs(read_stream_table(spark, sf_dir, "events"))
            .drop("view_ts")
            .coalesce(4)  # 4 hop files -> the replay genuinely crosses triggers
        )
        hop = os.path.join(stage, "hop")
        hop_stream = run_stream_hop(joined, hop, max_files_per_trigger=1)
        agg = (
            hop_stream.groupBy(F.window("pay_ts", "1 hour").alias("w"))
            .agg(
                F.count(F.lit(1)).alias("pair_ct"),
                F.approx_count_distinct("view_event_id", 0.02).alias("view_ct_approx"),
            )
            .select(
                F.date_format("w.start", "yyyy-MM-dd HH:mm:ss").alias("stt"),
                "pair_ct",
                "view_ct_approx",
            )
            .withColumn("_k", F.col("stt"))
        )
        settled = _run_update_upsert(agg, "two_hop_scale")
        exact = (
            spark.read.schema(joined.schema)
            .parquet(hop)
            .groupBy(
                F.date_format(F.date_trunc("hour", "pay_ts"), "yyyy-MM-dd HH:mm:ss").alias("stt")
            )
            .agg(F.countDistinct("view_event_id").alias("view_ct_exact"))
        )
        # materialize before the finally deletes the hop files the exact
        # side's lazy scan would otherwise read after cleanup
        return (
            settled.join(exact, "stt")
            .withColumn("view_ct_ok", _tolerance_ok("view_ct_approx", "view_ct_exact"))
            .select("stt", "pair_ct", "view_ct_ok")
        ).localCheckpoint(eager=True)
    finally:
        shutil.rmtree(stage, ignore_errors=True)


def _register_stream_cjk_scale() -> None:
    from .analytics import _CJK_BRANDS, _CJK_PRODS, _CJK_SUFS, _cjk_oracle

    @register(
        "stream_keyword_stats_cjk_scale",
        oracle=_cjk_oracle(),
        survey_ref="§2.7 U1 scale path: FMM segmentation per micro-batch "
        "-> unwindowed UPDATE-mode word count -> keyed upsert store "
        "(state = one row per vocabulary word, emits only words the "
        "trigger touched); exact result, same recursive-CTE oracle as "
        "the complete-mode parity demo",
        tags=("streaming", "udtf", "cjk", "scale"),
    )
    def stream_keyword_stats_cjk_scale(spark: SparkSession, sf_dir: str) -> DataFrame:
        from ..functions.tokenize import cjk_tokens_udf

        def pick(options, idx):
            return F.element_at(
                F.array(*[F.lit(o) for o in options]), (idx + 1).cast("int")
            )

        d = read_stream_table(spark, sf_dir, "documents").filter(
            F.col("doc_id") < 200
        )
        kw = F.concat(
            pick(_CJK_BRANDS, F.col("doc_id") % 5),
            pick(_CJK_PRODS, F.floor(F.col("doc_id") / 5) % 4),
            pick(_CJK_SUFS, F.floor(F.col("doc_id") / 20) % 3),
        )
        agg = (
            d.select(F.explode(cjk_tokens_udf()(kw)).alias("word"))
            .groupBy("word")
            .agg(F.count(F.lit(1)).alias("ct"))
            .withColumn("_k", F.col("word"))
        )
        return _run_update_upsert(agg, "kw_cjk_scale")


_register_stream_cjk_scale()


@register(
    "stream_uv_dropdup_ttl",
    oracle="""
    SELECT DISTINCT user_id, strftime(ts, '%Y-%m-%d') AS dt
    FROM events
    """,
    survey_ref="§2.4 A5 + §2.6 W4 third rendering — "
    "dropDuplicatesWithinWatermark: built-in first-per-key dedup whose "
    "state is EVICTED when the watermark passes key-arrival + delay — "
    "the exact analog of the reference's 24h-TTL ValueState "
    "(dwm/UniqueVisitApp.java:46-49) with bounded state, vs the "
    "unbounded-state dropDuplicates rendering (stream_uv_dropdup)",
    tags=("streaming", "dedup", "scale"),
)
def stream_uv_dropdup_ttl(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = read_stream_table(spark, sf_dir, "events")
    uv = (
        # the delay must cover the dedup key's event-time spread: two
        # events of one (user, day) can be up to 24h apart, so a 1-day
        # delay is the reference's 24h TTL. NOTE the guarantee is
        # watermark-relative, not per-key: state for (user, day) is
        # evicted once the GLOBAL watermark (max event time seen − 1d)
        # passes that key's first arrival + 1d, so with event-time-
        # unordered multi-batch replay a later-day batch can advance the
        # watermark and let a same-day duplicate re-emit. Exact here
        # because the file source delivers one micro-batch (same
        # single-batch replay assumption as stream_two_hop_scale); in
        # production this is the documented at-least-once dedup bound.
        ev.withWatermark("ts", "1 day")
        .select("user_id", F.date_format("ts", "yyyy-MM-dd").alias("dt"), "ts")
        .dropDuplicatesWithinWatermark(["user_id", "dt"])
        .select("user_id", "dt")
    )
    return run_stream_to_table(uv, _uniq("uv_dropdup_ttl"), output_mode="append")


@register(
    "stream_llm_dedup_exact",
    oracle="""
    SELECT md5(text) AS digest, MIN(doc_id) AS keep_id, COUNT(*) AS dup_ct
    FROM documents GROUP BY md5(text)
    """,
    survey_ref="extension x §2.6: exact dedup AS A STREAMING JOB — "
    "digest groupBy in update mode into the keyed upsert store (state "
    "one row per distinct content, emits only digests the trigger "
    "touched); the continuous-ingest rendering of llm_dedup_exact, "
    "same oracle",
    tags=("streaming", "llm", "dedup", "scale"),
)
def stream_llm_dedup_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = read_stream_table(spark, sf_dir, "documents")
    agg = (
        d.withColumn("digest", F.md5(F.col("text")))
        .groupBy("digest")
        .agg(
            F.min("doc_id").alias("keep_id"),
            F.count(F.lit(1)).alias("dup_ct"),
        )
        .withColumn("_k", F.col("digest"))
    )
    return _run_update_upsert(agg, "llm_dedup_exact_stream")


@register(
    "stream_llm_decontaminate",
    oracle="""
    WITH tk AS (
        SELECT doc_id,
               list_filter(regexp_split_to_array(lower(text), '[^a-z0-9]+'),
                           t -> t <> '') AS toks
        FROM documents
    ),
    sh AS (
        SELECT DISTINCT doc_id,
               toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2] AS shingle
        FROM tk, UNNEST(generate_series(1, len(toks) - 2)) AS t(i)
        WHERE len(toks) >= 3
    )
    SELECT DISTINCT s.doc_id AS id
    FROM sh s
    JOIN (SELECT DISTINCT shingle FROM sh WHERE doc_id % 50 = 0) b
      ON s.shingle = b.shingle
    WHERE s.doc_id % 50 <> 0
    """,
    survey_ref="extension x §2.6: benchmark decontamination AS A "
    "STREAMING JOB — stateless stream (shingle explode -> broadcast "
    "static benchmark-shingle semi-join) into the idempotent keyed "
    "store, which IS the dedup: zero streaming state, the 100 TB "
    "continuous-hygiene shape; same oracle as llm_decontaminate",
    tags=("streaming", "llm", "decontam", "scale"),
)
def stream_llm_decontaminate(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..llm.dedup import shingles

    stream_docs = read_stream_table(spark, sf_dir, "documents")
    train = stream_docs.filter(F.col("doc_id") % 50 != 0)
    bench_sh = (
        shingles(
            read_table(spark, sf_dir, "documents").filter(F.col("doc_id") % 50 == 0),
            "doc_id",
            "text",
            3,
        )
        .select("shingle")
        .distinct()
    )
    hits = (
        shingles(train, "doc_id", "text", 3)
        .join(F.broadcast(bench_sh), "shingle", "left_semi")
        .select("id")
        .withColumn("_k", F.col("id"))
    )
    return _run_update_upsert(hits, "llm_decontam_stream")


def _register_stream_mm() -> None:
    """Oracle single-sourced from the batch multimodal query."""
    from .registry import REGISTRY  # llm_plans registered earlier in import order

    mm_oracle = REGISTRY["mm_media_features"].oracle

    @register(
        "stream_mm_features",
        oracle=mm_oracle,
        survey_ref="extension x §2.6: multimodal feature extraction AS A "
        "STREAMING JOB — the same Arrow-batched mapInPandas decode "
        "pipeline (llm/multimodal.py) running per micro-batch, stateless "
        "append; the continuous-ingest rendering of mm_media_features, "
        "same oracle",
        tags=("streaming", "llm", "multimodal"),
    )
    def stream_mm_features(spark: SparkSession, sf_dir: str) -> DataFrame:
        from ..llm.multimodal import extract_features, media_from_documents

        d = read_stream_table(spark, sf_dir, "documents")
        feats = extract_features(media_from_documents(d))
        out = feats.select(
            "media_id",
            "kind",
            "n_bytes",
            "digest",
            *[F.col("feature")[i].alias(f"f{i}") for i in range(8)],
        )
        return run_stream_to_table(out, _uniq("mm_features"), output_mode="append")


_register_stream_mm()


@register(
    "stream_events_sliding",
    oracle="""
    WITH hop AS (
        SELECT e.value,
               to_timestamp(s) AS wstart
        FROM events e,
        UNNEST(generate_series(
            CAST(floor(epoch(e.ts) / 300) * 300 AS BIGINT) - 300,
            CAST(floor(epoch(e.ts) / 300) * 300 AS BIGINT),
            300)) AS t(s)
        WHERE epoch(e.ts) >= s AND epoch(e.ts) < s + 600
    )
    SELECT strftime(wstart, '%Y-%m-%d %H:%M:%S') AS stt,
           strftime(wstart + INTERVAL 600 SECOND, '%Y-%m-%d %H:%M:%S') AS edt,
           COUNT(*) AS n_events,
           CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS total_value
    FROM hop GROUP BY wstart
    """,
    survey_ref="§2.4 window family: SLIDING (hopping) windows as a real "
    "streaming job — each event updates size/slide = 2 overlapping "
    "window states (the Flink HOP surface; batch twin "
    "dws_events_sliding). Count/sum state only — bounded per window, "
    "no distinct sets",
    tags=("streaming", "agg", "window"),
)
def stream_events_sliding(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = read_stream_table(spark, sf_dir, "events")
    fmt = "yyyy-MM-dd HH:mm:ss"
    agg = (
        ev.withWatermark("ts", "1 seconds")
        .groupBy(F.window("ts", "600 seconds", "300 seconds").alias("w"))
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.sum(F.col("value").cast(DEC)).cast("double").alias("total_value"),
        )
        .select(
            F.date_format("w.start", fmt).alias("stt"),
            F.date_format("w.end", fmt).alias("edt"),
            "n_events",
            "total_value",
        )
    )
    return run_stream_to_table(agg, _uniq("events_sliding"), output_mode="complete")


@register(
    "stream_db_route",
    oracle="""
    WITH cfg(source_table, sink_type, sink_table) AS (
        VALUES ('view', 'kafka', 'dwd_page_log'),
               ('click', 'kafka', 'dwd_display_log'),
               ('purchase', 'kafka', 'dwd_order_info'),
               ('signup', 'hbase', 'dim_user_info')
    )
    SELECT e.event_id, e.user_id, e.event_type, c.sink_type, c.sink_table
    FROM events e JOIN cfg c ON e.event_type = c.source_table
    """,
    survey_ref="§3.1 BaseDBApp as a STREAMING job: the dynamic router "
    "(P5/J5/W5) on a live stream — stream-static broadcast join against "
    "the routing config, re-resolved per micro-batch (the cache-aside "
    "replacement design, SURVEY §4); batch twin dwd_db_route. "
    "(dwd/BaseDBApp.java:50-61, TableProcessFunction.java:74-78)",
    tags=("streaming", "dwd", "join"),
)
def stream_db_route(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.dwd import route_cdc
    from .warehouse import _ROUTES

    ev = (
        read_stream_table(spark, sf_dir, "events")
        .withColumnRenamed("event_type", "tableName")
        .withColumn("type", F.lit("insert"))
    )
    cfg = spark.createDataFrame(
        [(s, "insert", t, tbl) for s, t, tbl in _ROUTES],
        "source_table string, operate_type string, sink_type string, sink_table string",
    )
    routed = route_cdc(ev, cfg).select(
        "event_id",
        "user_id",
        F.col("tableName").alias("event_type"),
        "sink_type",
        "sink_table",
    )
    return run_stream_to_table(routed, _uniq("db_route"), output_mode="append")


@register(
    "stream_events_sliding_scale",
    oracle="""
    WITH hop AS (
        SELECT e.value,
               to_timestamp(s) AS wstart
        FROM events e,
        UNNEST(generate_series(
            CAST(floor(epoch(e.ts) / 300) * 300 AS BIGINT) - 300,
            CAST(floor(epoch(e.ts) / 300) * 300 AS BIGINT),
            300)) AS t(s)
        WHERE epoch(e.ts) >= s AND epoch(e.ts) < s + 600
    )
    SELECT strftime(wstart, '%Y-%m-%d %H:%M:%S') AS stt,
           strftime(wstart + INTERVAL 600 SECOND, '%Y-%m-%d %H:%M:%S') AS edt,
           COUNT(*) AS n_events,
           CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS total_value
    FROM hop GROUP BY wstart
    """,
    survey_ref="sliding-window scale path: UPDATE output mode + keyed "
    "upsert store (only windows a trigger touches are re-emitted; "
    "complete-mode demo stream_events_sliding re-emits every window per "
    "trigger). Watermark-evicted window state, exact measures, same hop "
    "oracle",
    tags=("streaming", "agg", "window", "scale"),
)
def stream_events_sliding_scale(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = read_stream_table(spark, sf_dir, "events")
    fmt = "yyyy-MM-dd HH:mm:ss"
    agg = (
        ev.withWatermark("ts", "1 seconds")
        .groupBy(F.window("ts", "600 seconds", "300 seconds").alias("w"))
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.sum(F.col("value").cast(DEC)).cast("double").alias("total_value"),
        )
        .select(
            F.date_format("w.start", fmt).alias("stt"),
            F.date_format("w.end", fmt).alias("edt"),
            "n_events",
            "total_value",
        )
        .withColumn("_k", F.col("stt"))
    )
    return _run_update_upsert(agg, "events_sliding_scale")


def _register_stream_gopher() -> None:
    from .registry import REGISTRY as _R  # reuse the batch oracle verbatim

    @register(
        "stream_llm_gopher_filter",
        oracle=_R["llm_gopher_filter"].oracle,
        survey_ref="streaming rendering of the Gopher rule filter: "
        "stateless narrow map per micro-batch (append mode, no state "
        "store) — the LLM-hygiene family runs batch OR streaming on "
        "the same operator code",
        tags=("streaming", "llm", "text"),
    )
    def stream_llm_gopher_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
        from ..llm.text import gopher_filter

        d = read_stream_table(spark, sf_dir, "documents")
        out = gopher_filter(d, "doc_id", "text")
        return run_stream_to_table(out, _uniq("gopher_stream"), output_mode="append")


_register_stream_gopher()


def _register_stream_incremental_dedup() -> None:
    """Continuous-ingest incremental dedup: TWO micro-batches through
    the persisted index; batch 2's arrivals dedupe against everything
    batch 1 added, proving the index advances between batches. The
    oracle unrolls both rounds (round-2 corpus = round-1 corpus plus
    round-1 'new' docs) from the raw tables."""
    from .llm_plans import _INC_SPLIT_SQL, _inc_round_sql

    @register(
        "stream_llm_dedup_incremental",
        oracle=f"""
        WITH {_INC_SPLIT_SQL},
        {_inc_round_sql("r1", "corpus", "arrv")},
        newdocs AS (SELECT a.doc_id, a.text FROM arrv a
                    JOIN dr1 d ON a.doc_id = d.doc_id
                    WHERE d.dup_kind = 'new'),
        corpus2 AS (SELECT doc_id, text FROM corpus
                    UNION ALL SELECT doc_id, text FROM newdocs),
        arr2 AS (SELECT doc_id + 300000 AS doc_id, text FROM arrv
                 WHERE doc_id % 3 = 0),
        {_inc_round_sql("r2", "corpus2", "arr2")}
        SELECT doc_id, dup_kind, match_id, agree_n FROM dr1
        UNION ALL
        SELECT doc_id, dup_kind, match_id, agree_n FROM dr2
        """,
        survey_ref="extension: incremental dedup as a STREAMING job "
        "(foreachBatch ingest against the DimStore index; batch N+1 "
        "dedupes against batch N's additions — the keyed first-per-key "
        "state of dwm/UniqueVisitApp.java:44-50 with content identity "
        "as the key; r5 VERDICT ask #2)",
        tags=("streaming", "llm", "dedup", "incremental"),
    )
    def stream_llm_dedup_incremental(spark: SparkSession, sf_dir: str) -> DataFrame:
        import glob
        import time

        from ..llm import incremental as inc
        from .llm_plans import _inc_corpus_arrivals

        corpus, arr1 = _inc_corpus_arrivals(spark, sf_dir)
        arr2 = arr1.filter(F.col("doc_id") % 3 == 0).select(
            (F.col("doc_id") + 300000).alias("doc_id"), "text"
        )
        stage = tempfile.mkdtemp(prefix="gmall_inc_in_")
        try:
            in_dir = os.path.join(stage, "in")
            arr1.coalesce(1).write.parquet(in_dir, mode="overwrite")
            # push batch-1 files into the past so the file source's
            # mtime ordering is deterministic even on coarse clocks
            past = time.time() - 3600
            for f in glob.glob(os.path.join(in_dir, "*.parquet")):
                os.utime(f, (past, past))
            arr2.coalesce(1).write.parquet(in_dir, mode="append")
            # index dir inside the stage so the finally rmtree reclaims it
            store = DimStore(spark, os.path.join(stage, "idx"))
            inc.build_dedup_index(store, corpus)
            out_dir = os.path.join(stage, "out")
            sdf = (
                spark.readStream.schema("doc_id long, text string")
                .option("maxFilesPerTrigger", 1)
                .parquet(in_dir)
            )
            run_stream_foreach_batch(sdf, inc.foreach_batch_ingester(store, out_dir))
            return spark.read.parquet(out_dir).localCheckpoint(eager=True)
        finally:
            shutil.rmtree(stage, ignore_errors=True)


_register_stream_incremental_dedup()


def _register_stream_quality_classifier() -> None:
    from .registry import REGISTRY as _R  # reuse the batch oracle verbatim

    @register(
        "stream_llm_quality_classifier",
        oracle=_R["llm_quality_classifier"].oracle,
        survey_ref="streaming rendering of the quality-classifier "
        "inference: stateless narrow map per micro-batch (append mode, "
        "no state store) — classifier filtering drops into a live "
        "ingest pipeline unchanged",
        tags=("streaming", "llm", "text"),
    )
    def stream_llm_quality_classifier(
        spark: SparkSession, sf_dir: str
    ) -> DataFrame:
        from ..llm.text import quality_classifier

        d = read_stream_table(spark, sf_dir, "documents")
        out = quality_classifier(d, "doc_id", "text")
        return run_stream_to_table(out, _uniq("qc_stream"), output_mode="append")


_register_stream_quality_classifier()


def _register_stream_embed_incremental() -> None:
    """Continuous-ingest incremental dedup for VECTORS: two ordered
    micro-batches through the persisted embedding index (batch 2's
    arrivals include exact copies of batch 1's vectors, so the oracle's
    two-round unroll proves the index advances for this modality too)."""
    from .llm_plans import (
        _EINC_PLANES,
        _EINC_SEED,
        _EINC_SPLIT_SQL,
        _EINC_TABLES,
        _EINC_THRESH,
        _einc_round_sql,
    )

    @register(
        "stream_llm_embed_dedup_incremental",
        oracle=f"""
        WITH {_EINC_SPLIT_SQL},
        {_einc_round_sql("e1", "ecorpus", "earrv")},
        enew AS (SELECT a.vec_id, a.embedding FROM earrv a
                 JOIN ede1 d ON a.vec_id = d.vec_id
                 WHERE d.dup_kind = 'new'),
        ecorpus2 AS (SELECT vec_id, embedding FROM ecorpus
                     UNION ALL SELECT vec_id, embedding FROM enew),
        earr2 AS (SELECT vec_id + 300000 AS vec_id, embedding FROM earrv
                  WHERE vec_id % 3 = 0),
        {_einc_round_sql("e2", "ecorpus2", "earr2")}
        SELECT vec_id, dup_kind, match_id, sim FROM ede1
        UNION ALL
        SELECT vec_id, dup_kind, match_id, sim FROM ede2
        """,
        survey_ref="extension: incremental embedding dedup as a "
        "STREAMING job (foreachBatch ingest against the DimStore vector "
        "index; batch N+1 dedupes against batch N's additions)",
        tags=("streaming", "llm", "dedup", "embedding", "incremental"),
    )
    def stream_llm_embed_dedup_incremental(
        spark: SparkSession, sf_dir: str
    ) -> DataFrame:
        import glob
        import time

        from ..llm import incremental as inc

        embs = read_table(spark, sf_dir, "embeddings").select(
            "vec_id", "embedding"
        )
        corpus = embs.filter(F.col("vec_id") % 10 < 8)
        arr1 = (
            embs.filter(F.col("vec_id") % 10 >= 8)
            .unionByName(
                corpus.filter(F.col("vec_id") % 7 == 0).select(
                    (F.col("vec_id") + 100000).alias("vec_id"), "embedding"
                )
            )
            .unionByName(
                corpus.filter(F.col("vec_id") % 11 == 0).select(
                    (F.col("vec_id") + 200000).alias("vec_id"),
                    F.transform(
                        F.col("embedding"),
                        lambda x: (x * F.lit(1.25)).cast("float"),
                    ).alias("embedding"),
                )
            )
        )
        arr2 = arr1.filter(F.col("vec_id") % 3 == 0).select(
            (F.col("vec_id") + 300000).alias("vec_id"), "embedding"
        )
        stage = tempfile.mkdtemp(prefix="gmall_einc_in_")
        try:
            in_dir = os.path.join(stage, "in")
            arr1.coalesce(1).write.parquet(in_dir, mode="overwrite")
            past = time.time() - 3600
            for f in glob.glob(os.path.join(in_dir, "*.parquet")):
                os.utime(f, (past, past))
            arr2.coalesce(1).write.parquet(in_dir, mode="append")
            # index dir inside the stage so the finally rmtree reclaims it
            store = DimStore(spark, os.path.join(stage, "idx"))
            kw = dict(
                dim=64, n_planes=_EINC_PLANES, n_tables=_EINC_TABLES,
                seed=_EINC_SEED,
            )
            inc.build_embed_index(store, corpus, "vec_id", "embedding", **kw)
            out_dir = os.path.join(stage, "out")
            sdf = (
                spark.readStream.schema("vec_id long, embedding array<float>")
                .option("maxFilesPerTrigger", 1)
                .parquet(in_dir)
            )
            run_stream_foreach_batch(
                sdf,
                inc.foreach_batch_embed_ingester(
                    store, out_dir, threshold=_EINC_THRESH, **kw
                ),
            )
            return spark.read.parquet(out_dir).localCheckpoint(eager=True)
        finally:
            shutil.rmtree(stage, ignore_errors=True)


_register_stream_embed_incremental()


def _register_stream_cluster_maintenance() -> None:
    """Continuous cluster maintenance: the three deterministic edge
    batches of llm_dup_clusters_incremental arrive as micro-batches
    (bootstrap CC on batch 0 via the same update path — an empty map
    contracts to the identity, so the first fold IS the bootstrap);
    the settled map must equal batch CC over the union, so the batch
    entry's recursive-closure oracle applies verbatim."""
    from .registry import REGISTRY as _R

    @register(
        "stream_llm_dup_clusters_incremental",
        oracle=_R["llm_dup_clusters_incremental"].oracle,
        survey_ref="extension: incremental cluster maintenance as a "
        "STREAMING job — foreachBatch folds each micro-batch of "
        "near-dup edges into the persisted map; the settled labeling "
        "is micro-batch-chop-independent because every fold preserves "
        "map == CC(edges seen) and edge union commutes",
        tags=("streaming", "llm", "dedup", "incremental", "iterative"),
    )
    def stream_llm_dup_clusters_incremental(
        spark: SparkSession, sf_dir: str
    ) -> DataFrame:
        import glob
        import time

        from ..llm import incremental as inc

        ids = read_table(spark, sf_dir, "documents").select("doc_id")
        b0 = ids.filter(F.col("doc_id") % 7 == 0).select(
            F.col("doc_id").alias("id_a"), (F.col("doc_id") + 1).alias("id_b")
        )
        ext = ids.filter(F.col("doc_id") % 14 == 0)
        b1 = ext.select(
            (F.col("doc_id") + 1).alias("id_a"),
            (F.col("doc_id") + 2).alias("id_b"),
        )
        b2 = ext.select(
            (F.col("doc_id") + 1).alias("id_a"),
            (F.col("doc_id") + 8).alias("id_b"),
        )
        stage = tempfile.mkdtemp(prefix="gmall_clstream_")
        try:
            in_dir = os.path.join(stage, "in")
            b0.coalesce(1).write.parquet(in_dir, mode="overwrite")
            past = time.time() - 7200
            for i, f in enumerate(sorted(glob.glob(os.path.join(in_dir, "*.parquet")))):
                os.utime(f, (past, past))
            b1.coalesce(1).write.parquet(in_dir, mode="append")
            newer = [
                f for f in glob.glob(os.path.join(in_dir, "*.parquet"))
                if os.path.getmtime(f) > past + 1
            ]
            for f in newer:
                os.utime(f, (past + 3600, past + 3600))
            b2.coalesce(1).write.parquet(in_dir, mode="append")
            store = DimStore(spark, os.path.join(stage, "map"))
            sdf = (
                spark.readStream.schema("id_a long, id_b long")
                .option("maxFilesPerTrigger", 1)
                .parquet(in_dir)
            )
            run_stream_foreach_batch(sdf, inc.foreach_batch_cluster_updater(store))
            return inc.read_cluster_map(store).localCheckpoint(eager=True)
        finally:
            shutil.rmtree(stage, ignore_errors=True)


_register_stream_cluster_maintenance()


def _register_stream_token_cms() -> None:
    """Streaming count-min sketch: the state-boundedness story made
    literal — the update-mode aggregation's key space is the fixed
    (depth x width) grid, so the state store holds at most w*d rows no
    matter how much text streams through; the settled sketch equals the
    batch sketch (cell addition commutes across micro-batches)."""
    from ..llm import sketch as sketch_mod
    from .llm_plans import _CMS_D, _CMS_SKETCH_CTES, _CMS_W

    @register(
        "stream_llm_token_cms",
        oracle=f"""
        WITH {_CMS_SKETCH_CTES}
        SELECT rw, bucket, CAST(cnt AS BIGINT) AS cnt FROM sketch
        """,
        survey_ref="extension: count-min sketch as a STREAMING "
        "aggregation — bounded state BY CONSTRUCTION (the grid is the "
        "key space); settled sketch == batch sketch because cell "
        "addition commutes; update-mode keyed upsert sink "
        "(dws/VisitorStatsApp.java keyed-state analog with O(1) keys)",
        tags=("streaming", "llm", "text", "sketch"),
    )
    def stream_llm_token_cms(spark: SparkSession, sf_dir: str) -> DataFrame:
        d = read_stream_table(spark, sf_dir, "documents")
        agg = sketch_mod.token_cms(d, "text", width=_CMS_W, depth=_CMS_D)
        keyed = agg.withColumn(
            "_k",
            F.concat_ws(":", F.col("rw").cast("string"), F.col("bucket").cast("string")),
        )
        out = _run_update_upsert(keyed, _uniq("token_cms"))
        return out.select(
            "rw", "bucket", F.col("cnt").cast("long").alias("cnt")
        )


_register_stream_token_cms()


def _register_stream_rare_token_score() -> None:
    """Streaming rarity scoring against a PERSISTED reference sketch:
    the sketch-as-dimension shape run as a live job — the reference
    corpus's count-min sketch sits in the DimStore and is re-read per
    micro-batch (the S11 cache-aside replacement: broadcast dim re-read
    each batch, SURVEY §4), so arriving documents are scored against
    corpus-wide token statistics while only the fixed w*d grid ever
    moves. Scoring is per-document (no cross-batch state), so the
    settled output equals the batch `llm_rare_token_score` answer and
    the batch oracle applies verbatim."""
    from ..llm import sketch as sketch_mod
    from .llm_plans import _CMS_D, _CMS_MIN_FREQ, _CMS_W
    from .registry import REGISTRY as _R

    @register(
        "stream_llm_rare_token_score",
        oracle=_R["llm_rare_token_score"].oracle,
        survey_ref="extension: rarity scoring as a STREAMING job — the "
        "reference sketch is a DimStore 'dimension' re-read per "
        "micro-batch (S11 cache-aside replacement with a sketch "
        "standing in for the dim table); per-doc scoring is stateless "
        "across batches, so settled == batch answer",
        tags=("streaming", "llm", "text", "sketch"),
    )
    def stream_llm_rare_token_score(
        spark: SparkSession, sf_dir: str
    ) -> DataFrame:
        docs = read_table(spark, sf_dir, "documents")
        stage = tempfile.mkdtemp(prefix="gmall_rare_stream_")
        try:
            store = DimStore(spark, os.path.join(stage, "dim"))
            ref = sketch_mod.token_cms(docs, "text", width=_CMS_W, depth=_CMS_D)
            # persist WITH build parameters (r8: save/load_sketch
            # validate width/depth/seed at probe time — a mismatched
            # grid would otherwise silently score every token rare)
            sketch_mod.save_sketch(
                store, "ref_sketch", ref, width=_CMS_W, depth=_CMS_D
            )
            out_dir = os.path.join(stage, "out")

            def score(batch: DataFrame, batch_id: int) -> None:
                # dim re-read PER BATCH (cache-aside replacement): a
                # concurrently-maintained sketch would be picked up at
                # the next micro-batch boundary
                sk = sketch_mod.load_sketch(
                    store, "ref_sketch", width=_CMS_W, depth=_CMS_D
                )
                out = sketch_mod.rare_token_score(
                    batch,
                    "doc_id",
                    "text",
                    sketch=sk,
                    min_freq=_CMS_MIN_FREQ,
                    width=_CMS_W,
                    depth=_CMS_D,
                )
                out.write.mode("append").parquet(out_dir)

            run_stream_foreach_batch(read_stream_table(spark, sf_dir, "documents"), score)
            return spark.read.parquet(out_dir).localCheckpoint(eager=True)
        finally:
            shutil.rmtree(stage, ignore_errors=True)


_register_stream_rare_token_score()


def _register_stream_dsir_score() -> None:
    """Streaming DSIR scoring against a PERSISTED weight table: the
    B-row importance-weight table (learned once, target-vs-raw) sits in
    the DimStore and is re-read per micro-batch — the identical
    cache-aside shape stream_llm_rare_token_score proved for sketches
    (VERDICT r7 ask #4), with the dim being the DSIR weight vector.
    Per-doc scoring is stateless across batches, so the settled output
    equals the batch dsir_score answer and the batch oracle's score CTE
    applies verbatim."""
    from ..llm import dsir
    from .llm_plans import _DSIR_B, _DSIR_GRAMS_CTE

    @register(
        "stream_llm_dsir_score",
        oracle=f"""
        WITH {_DSIR_GRAMS_CTE},
        dsc AS (SELECT o.doc_id, COUNT(*) AS n_feats, SUM(w.w) AS score
                FROM (SELECT doc_id, bucket FROM docc WHERE doc_id % 20 <> 0) o
                JOIN dw w ON o.bucket = w.bucket
                GROUP BY o.doc_id)
        SELECT a.doc_id AS id,
               CAST(COALESCE(s.n_feats, 0) AS BIGINT) AS n_feats,
               CAST(COALESCE(s.score, 0) AS BIGINT) AS score
        FROM (SELECT DISTINCT doc_id FROM documents WHERE doc_id % 20 <> 0) a
        LEFT JOIN dsc s ON a.doc_id = s.doc_id
        """,
        survey_ref="extension: DSIR importance scoring as a STREAMING "
        "job — the learned B-row weight table is a DimStore 'dimension' "
        "re-read per micro-batch (S11 cache-aside replacement, the "
        "utils/DimUtil.java:12-44 analog with the dim being a learned "
        "weight vector); arrivals broadcast-join the bounded table, so "
        "the raw pool behind the weights can be 100 TB; per-doc scoring "
        "is stateless across batches, settled == batch answer",
        tags=("streaming", "llm", "text", "sampling"),
    )
    def stream_llm_dsir_score(spark: SparkSession, sf_dir: str) -> DataFrame:
        docs = read_table(spark, sf_dir, "documents")
        stage = tempfile.mkdtemp(prefix="gmall_dsir_stream_")
        try:
            store = DimStore(spark, os.path.join(stage, "dim"))
            w = dsir.dsir_weights(
                docs.filter(F.col("doc_id") % 20 != 0),
                docs.filter(F.col("doc_id") % 20 == 0),
                "text",
                n_buckets=_DSIR_B,
            )
            store.upsert("dsir_weights", w, pk="bucket")
            out_dir = os.path.join(stage, "out")

            def score(batch: DataFrame, batch_id: int) -> None:
                # weight table re-read PER BATCH: a re-learned table
                # published between batches steers the very next one
                wt = store.read("dsir_weights").select("bucket", "w")
                out = dsir.dsir_score(
                    batch.filter(F.col("doc_id") % 20 != 0),
                    wt,
                    "doc_id",
                    "text",
                    n_buckets=_DSIR_B,
                )
                out.write.mode("append").parquet(out_dir)

            run_stream_foreach_batch(read_stream_table(spark, sf_dir, "documents"), score)
            return spark.read.parquet(out_dir).localCheckpoint(eager=True)
        finally:
            shutil.rmtree(stage, ignore_errors=True)


_register_stream_dsir_score()


def _register_stream_uv_hll() -> None:
    """Streaming HLL UV: the bounded-state answer to the reference's
    UV problem run as a live job — an update-mode MAX aggregation whose
    key space is (event_type x HLL_M buckets), so the state store holds
    at most groups*m rows for ANY number of distinct users (contrast
    stream_unique_visit: per-mid keyed state, the thing that grows
    without bound at 100 TB). MAX commutes across micro-batches, so the
    settled register table equals the batch dws_uv_hll answer and the
    batch oracle applies verbatim."""
    from ..llm import sketch as sketch_mod
    from .registry import REGISTRY as _R

    @register(
        "stream_uv_hll",
        oracle=_R["dws_uv_hll"].oracle,
        survey_ref="extension: HLL registers as a STREAMING aggregation "
        "— bounded state BY CONSTRUCTION (the register grid is the key "
        "space, dwm/UniqueVisitApp.java:37-76's per-mid ValueState "
        "replaced by m longs per group); settled == batch because MAX "
        "commutes; update-mode keyed upsert sink",
        tags=("streaming", "llm", "sketch", "events"),
    )
    def stream_uv_hll(spark: SparkSession, sf_dir: str) -> DataFrame:
        ev = read_stream_table(spark, sf_dir, "events")
        regs = sketch_mod.hll_registers(ev, "user_id", ["event_type"])
        keyed = regs.withColumn(
            "_k",
            F.concat_ws(
                ":", F.col("event_type"), F.col("bucket").cast("string")
            ),
        )
        out = _run_update_upsert(keyed, _uniq("uv_hll"))
        return out.select(
            "event_type", "bucket", F.col("rho").cast("long").alias("rho")
        )


_register_stream_uv_hll()


def _register_stream_value_histogram() -> None:
    """Streaming histogram sketch: an update-mode SUM whose key space is
    the fixed 256-bucket grid — bounded state for unbounded input, the
    quantile analog of stream_llm_token_cms / stream_uv_hll; counts
    commute across micro-batches so the settled histogram equals the
    batch one and a plain SQL oracle applies."""
    from ..llm import sketch as sketch_mod

    # width 4 over 256 bins covers events.value (< 328) interior;
    # power-of-two width keeps floor(v/4) engine-exact
    w, bins = 4, 256

    @register(
        "stream_value_histogram",
        oracle=f"""
        WITH h AS (SELECT LEAST(GREATEST(CAST(floor(value / {w}.0) AS BIGINT),
                                         0), {bins - 1}) AS bucket
                   FROM events WHERE value IS NOT NULL)
        SELECT bucket, CAST(COUNT(*) AS BIGINT) AS cnt FROM h GROUP BY bucket
        """,
        survey_ref="extension: histogram sketch as a STREAMING "
        "aggregation — bounded state BY CONSTRUCTION (the bucket grid "
        "is the key space); settled == batch because counts commute; "
        "any quantile of the live stream is answerable from the "
        "settled grid with <= one-bucket-width error",
        tags=("streaming", "llm", "sketch", "events"),
    )
    def stream_value_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
        ev = read_stream_table(spark, sf_dir, "events")
        hist = sketch_mod.value_histogram(ev, "value", width=w, n_bins=bins)
        keyed = hist.withColumn("_k", F.col("bucket").cast("string"))
        out = _run_update_upsert(keyed, _uniq("val_hist"))
        return out.select("bucket", F.col("cnt").cast("long").alias("cnt"))


_register_stream_value_histogram()


def _register_stream_daily_uv_hll() -> None:
    """The windowed-HLL UV as a live job: update-mode MAX whose key
    space is (day x event_type x HLL_M) — per-window state constant
    while windows roll forward; settles to the batch register table
    because MAX commutes across micro-batches."""
    from ..llm import sketch as sketch_mod
    from .registry import REGISTRY as _R

    @register(
        "stream_daily_uv_hll",
        oracle=_R["dws_daily_uv_hll"].oracle,
        survey_ref="§2.4 A1/A5 at scale, streaming: the daily-UV "
        "register grid as an update-mode aggregation — per-window "
        "state bounded BY CONSTRUCTION (contrast stream_unique_visit's "
        "per-mid state); settled == batch",
        tags=("streaming", "llm", "sketch", "events"),
    )
    def stream_daily_uv_hll(spark: SparkSession, sf_dir: str) -> DataFrame:
        ev = read_stream_table(spark, sf_dir, "events").select(
            F.date_format("ts", "yyyy-MM-dd").alias("dt"),
            "event_type",
            "user_id",
        )
        regs = sketch_mod.hll_registers(ev, "user_id", ["dt", "event_type"])
        keyed = regs.withColumn(
            "_k",
            F.concat_ws(
                ":", F.col("dt"), F.col("event_type"),
                F.col("bucket").cast("string"),
            ),
        )
        out = _run_update_upsert(keyed, _uniq("daily_uv_hll"))
        return out.select(
            "dt", "event_type", "bucket", F.col("rho").cast("long").alias("rho")
        )


_register_stream_daily_uv_hll()


def _register_stream_pii_redact() -> None:
    from .registry import REGISTRY as _R  # reuse the batch oracle verbatim

    @register(
        "stream_llm_pii_redact",
        oracle=_R["llm_pii_redact"].oracle,
        survey_ref="streaming rendering of PII redaction: stateless "
        "narrow map per micro-batch (append mode, no state store) — "
        "scrub-before-persist is how de-identification actually deploys "
        "on a live ingest feed",
        tags=("streaming", "llm", "text", "pii"),
    )
    def stream_llm_pii_redact(spark: SparkSession, sf_dir: str) -> DataFrame:
        from ..llm.text import pii_redact
        from .llm_plans import _plant_pii

        d = _plant_pii(
            read_stream_table(spark, sf_dir, "documents").select("doc_id", "text")
        )
        out = pii_redact(d, "doc_id", "text")
        return run_stream_to_table(out, _uniq("pii_redact"), output_mode="append")


_register_stream_pii_redact()


def _register_stream_lm_perplexity() -> None:
    from .registry import REGISTRY as _R  # reuse the batch oracle verbatim

    @register(
        "stream_llm_lm_perplexity",
        oracle=_R["llm_lm_perplexity"].oracle,
        survey_ref="streaming rendering of bigram-LM perplexity: the LM "
        "count tables are STATIC frames trained once from the reference "
        "corpus and stream-static hash-joined to arriving documents — "
        "the dim-enrichment shape of dwm/OrderWideApp.java with a "
        "LEARNED dim; per-doc totals settle in complete mode, and the "
        "vocab-size scalar travels as a collected literal (one bounded "
        "row) because a stream-static cross join is not a thing",
        tags=("streaming", "llm", "text", "quality"),
    )
    def stream_llm_lm_perplexity(spark: SparkSession, sf_dir: str) -> DataFrame:
        from ..llm.lm import _bigrams, _qlog2, train_bigram_lm
        from ..sources.io import read_table

        ref = read_table(spark, sf_dir, "documents").filter(
            F.col("doc_id") % 5 == 0
        )
        c12, c1, v = train_bigram_lm(ref, "doc_id", "text")
        v_lit = int(v.collect()[0]["v"])  # one bounded row, never corpus-shaped

        d = read_stream_table(spark, sf_dir, "documents").filter(
            F.col("doc_id") % 5 != 0
        )
        bg = _bigrams(d, "doc_id", "text")
        joined = (
            bg.join(F.broadcast(c12), ["w1", "w2"], "left")
            .join(F.broadcast(c1), ["w1"], "left")
            .select(
                "id",
                (
                    _qlog2(F.coalesce(F.col("c1"), F.lit(0)) + F.lit(v_lit))
                    - _qlog2(F.coalesce(F.col("c12"), F.lit(0)) + 1)
                ).alias("cost"),
            )
        )
        agg = joined.groupBy("id").agg(
            F.count(F.lit(1)).alias("n_bigrams"),
            F.sum("cost").alias("cost_q256"),
        )
        out = agg.select(
            "id",
            "n_bigrams",
            "cost_q256",
            (
                F.col("cost_q256").cast("double")
                / (256 * F.col("n_bigrams")).cast("double")
            ).alias("bits_per_token"),
        )
        return run_stream_to_table(out, _uniq("lm_ppl"), output_mode="complete")


_register_stream_lm_perplexity()


def _register_stream_cdc_materialize() -> None:
    from .registry import REGISTRY as _R  # reuse the batch oracle verbatim

    @register(
        "stream_cdc_materialize",
        oracle=_R["dwd_cdc_materialize"].oracle,
        survey_ref="§2.1 S1/S2 as an actual STREAM — the shape "
        "dwd/BaseDBApp.java really is: a live changelog keyed-upserted "
        "into latest row state. Keyed max(struct) aggregation in "
        "complete mode = one bounded state row per key (the RocksDB "
        "value state of the reference's Phoenix upsert path); deletes "
        "tombstone by losing the post-agg filter. The JSON envelope "
        "round-trips through the same parse_cdc as batch",
        tags=("streaming", "dwd", "cdc"),
    )
    def stream_cdc_materialize(spark: SparkSession, sf_dir: str) -> DataFrame:
        from .warehouse import _cdc_changelog_envelopes, _cdc_materialized

        o = read_stream_table(spark, sf_dir, "orders")
        out = _cdc_materialized(_cdc_changelog_envelopes(o))
        return run_stream_to_table(out, _uniq("cdc_mat"), output_mode="complete")


_register_stream_cdc_materialize()


def _register_stream_decay_score() -> None:
    from .registry import REGISTRY as _R  # batch oracle verbatim

    @register(
        "stream_user_decay_score",
        oracle=_R["ads_user_decay_score"].oracle,
        survey_ref="§2.6 W4 application: the time-decayed activity score "
        "maintained LIVE with bounded per-key state (last K=16 events as "
        "three long arrays — O(users*K) state regardless of stream "
        "length); each micro-batch upserts the changed users into a "
        "keyed store (S9 shape), so the settled table equals the batch "
        "window rendering exactly, late arrivals included (state orders "
        "by event time, not arrival)",
        tags=("streaming", "ads", "state"),
    )
    def stream_user_decay_score(spark: SparkSession, sf_dir: str) -> DataFrame:
        from ..streaming.decay_state import decay_score_stateful

        ev = read_stream_table(spark, sf_dir, "events").select(
            "user_id",
            "ts",
            "event_id",
            F.floor(F.col("value") * 100).cast("long").alias("cents"),
        )
        scored = decay_score_stateful(ev).withColumn("_k", F.col("user_id"))
        settled = _run_update_upsert(scored, "decay_scores")
        return settled.select(
            F.col("user_id").cast("long").alias("user_id"),
            F.col("n_scored").cast("long").alias("n_scored"),
            F.col("num_q").cast("long").alias("num_q"),
            (
                F.col("num_q").cast("double") / F.lit(float(100 * (1 << 15)))
            ).alias("decay_score"),
        )


_register_stream_decay_score()


def _register_stream_brand_price_quantiles() -> None:
    """The GROUPED quantile sketch live: stream-static broadcast dim
    join feeds per-(brand, bucket) update-mode SUM counts — state is the
    grid (brands x 256 bins), never the fact rows; quantile extraction
    runs over the settled grid and equals the batch rendering."""
    from ..llm import sketch as sketch_mod
    from .llm_plans import _PHIST_BINS, _PHIST_QS, _PHIST_W
    from .registry import REGISTRY as _R

    @register(
        "stream_brand_price_quantiles",
        oracle=_R["ads_brand_price_quantiles"].oracle,
        survey_ref="extension, streaming: per-brand price quantiles as "
        "an update-mode grid SUM behind a stream-static broadcast dim "
        "join — bounded per-group state (the histogram rows), settled "
        "== the batch grouped-quantile entry",
        tags=("streaming", "llm", "sketch", "serving"),
    )
    def stream_brand_price_quantiles(spark: SparkSession, sf_dir: str) -> DataFrame:
        li = read_stream_table(spark, sf_dir, "lineitem")
        pt = read_table(spark, sf_dir, "part").select("p_partkey", "p_brand")
        j = li.join(F.broadcast(pt), li["l_partkey"] == pt["p_partkey"]).select(
            "p_brand", "l_extendedprice"
        )
        hist = sketch_mod.value_histogram(
            j, "l_extendedprice", width=_PHIST_W, n_bins=_PHIST_BINS,
            group_cols=["p_brand"],
        )
        keyed = hist.withColumn(
            "_k", F.concat_ws("|", "p_brand", F.col("bucket").cast("string"))
        )
        settled = _run_update_upsert(keyed, _uniq("brand_hist"))
        grid = settled.select(
            "p_brand",
            F.col("bucket").cast("long").alias("bucket"),
            F.col("cnt").cast("long").alias("cnt"),
        )
        return sketch_mod.histogram_quantiles(
            grid, width=_PHIST_W, qs=_PHIST_QS, group_cols=["p_brand"]
        )


_register_stream_brand_price_quantiles()


def _register_stream_attribution() -> None:
    """Linear attribution live, TWO-HOP topology (stream-stream joins
    cannot share a job with update-mode aggregation): job 1 = the
    watermarked interval self-join (purchases x prior-24h touches on
    user_id) appended to a parquet hop — the reference's Kafka-hop
    shape; job 2 = update-mode per-(conversion, channel) counts through
    the keyed upsert store. The cross-channel normalizer and the
    exact-integer division run over the settled grain."""
    from .registry import REGISTRY as _R

    @register(
        "stream_attribution_linear",
        oracle=_R["ads_attribution_linear"].oracle,
        survey_ref="§2.3 J2 + §2.1 S9, streaming: revenue attribution "
        "as a two-hop topology — append-mode stream-stream interval "
        "join into a hop, then update-mode keyed-upsert counts; "
        "settled == the batch entry, one exact-integer division per "
        "output row",
        tags=("streaming", "ads", "join"),
    )
    def stream_attribution_linear(spark: SparkSession, sf_dir: str) -> DataFrame:
        from pyspark.sql import Window as W

        stage = tempfile.mkdtemp(prefix="gmall_attrib_hop_")
        try:
            ev = read_stream_table(spark, sf_dir, "events")
            p = (
                ev.filter(F.col("event_type") == "purchase")
                .select(
                    F.col("event_id").alias("purchase_id"),
                    "user_id",
                    F.col("ts").alias("p_ts"),
                    F.floor(F.col("value") * 100).cast("long").alias("cents"),
                )
                .withWatermark("p_ts", "1 seconds")
            )
            t = (
                ev.filter(F.col("event_type").isin("view", "click"))
                .select(
                    F.col("user_id").alias("t_user_id"),
                    F.col("ts").alias("t_ts"),
                    F.col("event_type").alias("channel"),
                )
                .withWatermark("t_ts", "1 seconds")
            )
            tp = p.join(
                t,
                (p["user_id"] == t["t_user_id"])
                & (t["t_ts"] < p["p_ts"])
                & (t["t_ts"] >= p["p_ts"] - F.expr("INTERVAL 24 HOURS")),
            ).select("purchase_id", "user_id", "cents", "channel")
            hop_stream = run_stream_hop(tp, os.path.join(stage, "hop"))
            per_chan = hop_stream.groupBy(
                "purchase_id", "user_id", "cents", "channel"
            ).agg(F.count(F.lit(1)).alias("channel_touches"))
            keyed = per_chan.withColumn(
                "_k", F.concat_ws("|", "purchase_id", "channel")
            )
            settled = _run_update_upsert(keyed, _uniq("attrib"))
            typed = settled.select(
                F.col("purchase_id").cast("long").alias("purchase_id"),
                F.col("user_id").cast("long").alias("user_id"),
                "channel",
                F.col("cents").cast("long").alias("cents"),
                F.col("channel_touches").cast("long").alias("channel_touches"),
            )
            n = F.sum("channel_touches").over(W.partitionBy("purchase_id"))
            return typed.select(
                "purchase_id",
                "user_id",
                "channel",
                n.cast("long").alias("n_touches"),
                "channel_touches",
                (
                    (F.col("cents") * F.col("channel_touches")).cast("double")
                    / (100 * n).cast("double")
                ).alias("attributed_revenue"),
            ).localCheckpoint(eager=True)
        finally:
            shutil.rmtree(stage, ignore_errors=True)


_register_stream_attribution()


def _register_stream_contamination_report() -> None:
    from .registry import REGISTRY as _R  # batch oracle verbatim

    @register(
        "stream_llm_contamination_report",
        oracle=_R["llm_contamination_report"].oracle,
        survey_ref="streaming rendering of the contamination report: "
        "benchmark shingles broadcast into every micro-batch's probe "
        "(a doc's shingles all live in its own row, so the per-doc "
        "aggregate is batch-local); update-mode keyed upsert settles "
        "to the batch report",
        tags=("streaming", "llm", "decontam"),
    )
    def stream_llm_contamination_report(
        spark: SparkSession, sf_dir: str
    ) -> DataFrame:
        from ..llm.decontam import contamination_report

        d_static = read_table(spark, sf_dir, "documents")
        bench = d_static.filter(F.col("doc_id") % 50 == 0)
        train = read_stream_table(spark, sf_dir, "documents").filter(
            F.col("doc_id") % 50 != 0
        )
        rep = contamination_report(train, bench, "doc_id", "text", n=3)
        keyed = rep.withColumn("_k", F.col("id").cast("string"))
        settled = _run_update_upsert(keyed, _uniq("contam_rep"))
        return settled.select(
            F.col("id").cast("long").alias("id"),
            F.col("n_shingles").cast("long").alias("n_shingles"),
            F.col("n_contaminated").cast("long").alias("n_contaminated"),
            (
                F.col("n_contaminated").cast("double")
                / F.col("n_shingles").cast("double")
            ).alias("contamination_frac"),
        )


_register_stream_contamination_report()


def _register_stream_outliers() -> None:
    from .registry import REGISTRY as _R  # batch oracle verbatim

    @register(
        "stream_events_value_outliers",
        oracle=_R["events_value_outliers"].oracle,
        survey_ref="streaming rendering of the 3-sigma gate: per-user "
        "(n, sum, sum-of-squares) are COMMUTATIVE integer sums, so they "
        "accumulate as update-mode state and upsert per micro-batch; "
        "the flags are scored post-settle against the static fact table "
        "with the same cross-multiplied integer test — settled == batch "
        "because the final state is the full-history sums",
        tags=("streaming", "dq", "events"),
    )
    def stream_events_value_outliers(
        spark: SparkSession, sf_dir: str
    ) -> DataFrame:
        ev = read_stream_table(spark, sf_dir, "events").select(
            "user_id", F.floor(F.col("value") * 100).cast("long").alias("cents")
        )
        s = ev.groupBy("user_id").agg(
            F.count(F.lit(1)).alias("n"),
            F.sum("cents").alias("sy"),
            F.sum(F.col("cents") * F.col("cents")).alias("syy"),
        )
        keyed = s.withColumn("_k", F.col("user_id").cast("string"))
        settled = _run_update_upsert(keyed, _uniq("user_stats")).select(
            F.col("user_id").cast("long").alias("user_id"),
            F.col("n").cast("long").alias("n"),
            F.col("sy").cast("long").alias("sy"),
            F.col("syy").cast("long").alias("syy"),
        )
        y = read_table(spark, sf_dir, "events").select(
            "event_id",
            "user_id",
            F.floor(F.col("value") * 100).cast("long").alias("cents"),
        )
        j = y.join(settled, "user_id")
        dev = F.col("n") * F.col("cents") - F.col("sy")
        return j.filter(
            dev * dev
            > 9 * (F.col("n") * F.col("syy") - F.col("sy") * F.col("sy"))
        ).select("event_id", "user_id", "cents", "n")


_register_stream_outliers()


def _register_stream_url_dedup() -> None:
    from .registry import REGISTRY as _R  # batch oracle verbatim

    @register(
        "llm_url_dedup_stream",
        oracle=_R["llm_url_dedup"].oracle,
        survey_ref="streaming twin of llm_url_dedup: stage-1 keep-first "
        "URL dedup live — the normalization is a narrow map on the "
        "stream, the (min id, count) per normalized URL runs in update "
        "mode, and only per-trigger changed keys leave the job through "
        "the keyed-upsert store (the 100 TB posture: URL-dedup state is "
        "an idempotent external KV, not a re-emitted table)",
        tags=("streaming", "llm", "url", "dedup"),
    )
    def llm_url_dedup_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
        from ..llm import urls
        from .llm_plans import _with_url

        d = read_stream_table(spark, sf_dir, "documents")
        agg = (
            _with_url(d)
            .select(
                urls.url_normalize(F.col("url")).alias("norm_url"),
                F.col("doc_id").alias("id"),
            )
            .groupBy("norm_url")
            .agg(
                F.min("id").alias("keep_id"),
                F.count(F.lit(1)).alias("dup_ct"),
            )
        )
        keyed = agg.withColumn("_k", F.col("norm_url"))
        return _run_update_upsert(keyed, _uniq("urldedup")).select(
            "norm_url",
            F.col("keep_id").cast("long").alias("keep_id"),
            F.col("dup_ct").cast("long").alias("dup_ct"),
        )


_register_stream_url_dedup()


def _register_stream_domain_mix() -> None:
    from .registry import REGISTRY as _R  # batch oracle verbatim

    @register(
        "stream_domain_mix",
        oracle=_R["llm_domain_mix"].oracle,
        survey_ref="streaming twin of llm_domain_mix: per-domain doc "
        "counts accumulate as update-mode state (one long per domain — "
        "bounded) through the keyed-upsert store; the cap thresholds "
        "and the selection count are scored post-settle against the "
        "static corpus (the stream_events_value_outliers pattern: "
        "commutative sums live, derived decisions after), because the "
        "threshold depends on the FINAL count",
        tags=("streaming", "llm", "url", "sampling"),
    )
    def stream_domain_mix(spark: SparkSession, sf_dir: str) -> DataFrame:
        from ..llm import urls
        from ..llm.sampling import _u32
        from .llm_plans import _DOMAIN_CAP, _with_url

        d = read_stream_table(spark, sf_dir, "documents").select("doc_id")
        dom = _with_url(d).select(
            "doc_id",
            urls.registrable_domain(
                urls.host_of(F.col("url"))
            ).alias("domain"),
        )
        agg = dom.groupBy("domain").agg(F.count(F.lit(1)).alias("n_docs"))
        keyed = agg.withColumn("_k", F.col("domain"))
        settled = _run_update_upsert(keyed, _uniq("dommix")).select(
            "domain", F.col("n_docs").cast("long").alias("n_docs")
        )
        rate = F.least(
            F.lit(1.0),
            F.lit(float(_DOMAIN_CAP)) / F.col("n_docs").cast("double"),
        )
        rates = settled.select(
            "domain",
            "n_docs",
            F.floor(rate * F.lit(float(1 << 32))).cast("long").alias("thresh_q32"),
        )
        static_dom = _with_url(
            read_table(spark, sf_dir, "documents").select("doc_id")
        ).select(
            "doc_id",
            urls.registrable_domain(
                urls.host_of(F.col("url"))
            ).alias("domain"),
        )
        sel = F.sum(
            F.when(
                _u32(F.col("doc_id")) < F.col("thresh_q32"), F.lit(1)
            ).otherwise(F.lit(0))
        )
        return (
            static_dom.join(F.broadcast(rates), "domain")
            .groupBy("domain", "n_docs", "thresh_q32")
            .agg(sel.cast("long").alias("n_selected"))
        )


_register_stream_domain_mix()


def _register_stream_domain_mix_psl() -> None:
    from .registry import REGISTRY as _R  # batch oracle verbatim

    @register(
        "stream_domain_mix_psl",
        oracle=_R["llm_domain_mix_psl"].oracle,
        survey_ref="r11: streaming twin of llm_domain_mix_psl — the "
        "PSL dim wired into the live path (PLAN_r11 candidate). The "
        "registrable domain comes from the broadcast rule dim via a "
        "STREAM-STATIC join (the reference's Redis cache-aside "
        "S11, rendered as Spark's per-batch broadcast re-read of a "
        "persistent dim: SURVEY §4); per-domain counts accumulate as "
        "update-mode state (one long per domain — bounded) and the cap "
        "thresholds are scored post-settle (stream_domain_mix's "
        "rate-dependent-decision pattern, because the threshold "
        "depends on the FINAL count)",
        tags=("streaming", "llm", "url", "sampling", "dim"),
    )
    def stream_domain_mix_psl(spark: SparkSession, sf_dir: str) -> DataFrame:
        from ..llm import psl, urls
        from .llm_plans import _DOMAIN_CAP, _with_url_psl

        d = read_stream_table(spark, sf_dir, "documents").select("doc_id")
        h = _with_url_psl(d).select(
            "doc_id", urls.host_of(F.col("url")).alias("host")
        )
        dom = psl.registrable_domain_psl(
            h, "host", psl.psl_rules_df(spark)
        ).select("doc_id", "domain")
        agg = dom.groupBy("domain").agg(F.count(F.lit(1)).alias("n_docs"))
        keyed = agg.withColumn("_k", F.col("domain"))
        settled = _run_update_upsert(keyed, _uniq("dommixpsl")).select(
            "domain", F.col("n_docs").cast("long").alias("n_docs")
        )
        rate = F.least(
            F.lit(1.0),
            F.lit(float(_DOMAIN_CAP)) / F.col("n_docs").cast("double"),
        )
        return settled.select(
            "domain",
            "n_docs",
            F.floor(rate * F.lit(float(1 << 32))).cast("long").alias("thresh_q32"),
        )


_register_stream_domain_mix_psl()


def _register_stream_domain_blocklist() -> None:
    from .registry import REGISTRY as _R  # batch oracle verbatim

    @register(
        "stream_domain_blocklist",
        oracle=_R["llm_domain_blocklist_filter"].oracle,
        survey_ref="r11: streaming twin of llm_domain_blocklist_filter "
        "— the Gopher verdict is a row-local JVM map on arrivals, the "
        "per-domain (n_keep, n_docs) sums are COMMUTATIVE update-mode "
        "state (two longs per domain — bounded), and the "
        "non-commutative decisions (keep-rate division, bottom-k rank, "
        "the anti-join against the corpus) run post-settle because the "
        "blocklist depends on the FINAL counts — the "
        "rate-dependent-decision pattern of stream_domain_mix",
        tags=("streaming", "llm", "url", "text", "quality"),
    )
    def stream_domain_blocklist(spark: SparkSession, sf_dir: str) -> DataFrame:
        from pyspark.sql import Window

        from ..llm import text as text_mod, urls
        from .llm_plans import _BLOCK_K, _with_url

        d = read_stream_table(spark, sf_dir, "documents").select(
            "doc_id", "text"
        )
        # the verdict and the domain are BOTH row-local functions of one
        # arrival row — one narrow chain, never a second stream branch
        # (a stream-stream self-join would be illegal without watermark
        # time bounds and pointless here)
        keep = text_mod.gopher_filter(d, "doc_id", "text").select(
            F.col("id").alias("doc_id"), "keep"
        )
        j = _with_url(keep).select(
            "keep",
            urls.registrable_domain(
                urls.host_of(F.col("url"))
            ).alias("domain"),
        )
        agg = j.groupBy("domain").agg(
            F.sum(F.when(F.col("keep"), 1).otherwise(0)).alias("n_keep"),
            F.count(F.lit(1)).alias("n_docs"),
        )
        keyed = agg.withColumn("_k", F.col("domain"))
        settled = _run_update_upsert(keyed, _uniq("domblock")).select(
            "domain",
            F.col("n_keep").cast("long").alias("n_keep"),
            F.col("n_docs").cast("long").alias("n_docs"),
        )
        rates = settled.select(
            "domain",
            (
                F.col("n_keep").cast("double") / F.col("n_docs").cast("double")
            ).alias("keep_rate"),
        )
        w = Window.orderBy(F.col("keep_rate").asc(), F.col("domain").asc())
        blocked = (
            rates.withColumn("rk", F.row_number().over(w))
            .filter(F.col("rk") <= _BLOCK_K)
            .select("domain")
        )
        static_dom = _with_url(
            read_table(spark, sf_dir, "documents").select("doc_id")
        ).select(
            "doc_id",
            urls.registrable_domain(
                urls.host_of(F.col("url"))
            ).alias("domain"),
        )
        return static_dom.join(
            F.broadcast(blocked), "domain", "left_anti"
        ).select("doc_id", "domain")


_register_stream_domain_blocklist()


def _register_stream_retention() -> None:
    from .registry import REGISTRY as _R  # batch oracle verbatim

    @register(
        "stream_retention_cohorts",
        oracle=_R["ads_retention_cohorts"].oracle,
        survey_ref="streaming twin of ads_retention_cohorts: two "
        "update-mode aggregations with COMMUTATIVE state — per-user "
        "min(first-seen date) and per-(user, activity-day) presence — "
        "each settled through the keyed-upsert store; the cohort "
        "triangle (a derived, non-commutative view: offsets move when "
        "an EARLIER first-seen day arrives late) is computed "
        "post-settle, the rate-dependent-decision pattern of "
        "stream_domain_mix",
        tags=("streaming", "ads", "events", "serving"),
    )
    def stream_retention_cohorts(spark: SparkSession, sf_dir: str) -> DataFrame:
        ev = read_stream_table(spark, sf_dir, "events")
        dt = F.col("ts").cast("date")
        f = ev.groupBy("user_id").agg(F.min(dt).alias("cohort_dt"))
        fk = f.withColumn("_k", F.col("user_id").cast("string"))
        cohorts = _run_update_upsert(fk, _uniq("ret_first")).select(
            F.col("user_id").cast("long").alias("user_id"),
            F.col("cohort_dt").cast("date").alias("cohort_dt"),
        )
        a = (
            ev.select("user_id", dt.alias("act_dt"))
            .groupBy("user_id", "act_dt")
            .agg(F.count(F.lit(1)).alias("_n"))
        )
        ak = a.withColumn(
            "_k", F.concat_ws("|", F.col("user_id"), F.col("act_dt"))
        )
        activity = _run_update_upsert(ak, _uniq("ret_act")).select(
            F.col("user_id").cast("long").alias("user_id"),
            F.col("act_dt").cast("date").alias("act_dt"),
        )
        j = activity.join(cohorts, "user_id")
        return j.groupBy(
            F.col("cohort_dt").cast("string").alias("cohort_dt"),
            F.datediff("act_dt", "cohort_dt").cast("long").alias("day_offset"),
        ).agg(F.count(F.lit(1)).cast("long").alias("n_active"))


_register_stream_retention()


def _register_stream_funnel() -> None:
    from .registry import REGISTRY as _R  # batch oracle verbatim

    @register(
        "stream_funnel_conversion",
        oracle=_R["ads_funnel_conversion"].oracle,
        survey_ref="streaming twin of ads_funnel_conversion (r9 VERDICT "
        "ask #2): the min-ts chain is NON-COMMUTATIVE under late data "
        "(a late earlier view shifts the anchor and can validate a "
        "previously-rejected click), so the live form is a stateful "
        "per-USER operator (applyInPandasWithState, the bounce-detector "
        "shape) holding a day -> (view anchor + pruned pre-anchor "
        "click/purchase buffers) map with manual day eviction — "
        "losslessly bounded because anchors only tighten downward and "
        "the map holds only watermark-pending days (see "
        "streaming/funnel_state.py; per-user keying cuts the per-group "
        "Python constant ~#active-days-fold, r11 VERDICT ask #4); each "
        "user-day emits once when the watermark passes end-of-day, then "
        "the per-day report is one tiny aggregate over settled "
        "user-grain rows",
        tags=("streaming", "stateful", "ads", "serving"),
    )
    def stream_funnel_conversion(spark: SparkSession, sf_dir: str) -> DataFrame:
        """Sentinel pattern as stream_user_jump: one data file plus a
        far-future sentinel file advance the watermark so every real
        day's event-time timeout fires before the bounded run drains."""
        from ..streaming.funnel_state import funnel_stateful

        ev = read_table(spark, sf_dir, "events").select(
            "user_id", "ts", "event_type"
        )
        stage = tempfile.mkdtemp(prefix="gmall_funnel_in_")
        try:
            in_dir = os.path.join(stage, "in")
            ev.coalesce(1).write.parquet(in_dir, mode="overwrite")
            sentinel = spark.createDataFrame(
                [(-1, "2030-01-01 00:00:00", "click")],
                "user_id long, cts string, event_type string",
            ).select(
                "user_id", F.to_timestamp("cts").alias("ts"), "event_type"
            )
            sentinel.coalesce(1).write.parquet(in_dir, mode="append")
            sdf = (
                spark.readStream.schema(ev.schema)
                .option("maxFilesPerTrigger", 1)
                .parquet(in_dir)
            )
            out = funnel_stateful(sdf, watermark_delay="1 seconds")
            settled = run_stream_to_table(
                out, _uniq("funnel"), output_mode="append"
            )
            per_day = settled.filter(F.col("user_id") >= 0)
            return per_day.groupBy("dt").agg(
                F.count(F.lit(1)).alias("n_view"),
                F.sum(F.when(F.col("reached_click"), 1).otherwise(0))
                .cast("long")
                .alias("n_click_after_view"),
                F.sum(F.when(F.col("reached_purchase"), 1).otherwise(0))
                .cast("long")
                .alias("n_purchase_after_click"),
            )
        finally:
            shutil.rmtree(stage, ignore_errors=True)


_register_stream_funnel()


def _register_stream_training_ingest() -> None:
    from .llm_plans import TOKS, _NORM_SQL, _URL_SQL, _INC_SPLIT_SQL, _inc_round_sql

    _GOPHER_Q = """
    gtk AS (SELECT doc_id, text,
                   COALESCE({toks}, CAST([] AS VARCHAR[])) AS toks
            FROM newall),
    gfeat AS (SELECT doc_id, text, len(toks) AS n,
              CAST(list_sum(list_transform(toks, t -> length(t))) AS DOUBLE)
                / CAST(len(toks) AS DOUBLE) AS mean_len,
              CAST(len(list_filter(toks, t -> regexp_matches(t, '[a-z]')))
                AS DOUBLE) / CAST(len(toks) AS DOUBLE) AS alpha_frac,
              len(list_filter(toks, t -> list_contains(
                  ['the','a','of','and','is','to','in'], t))) AS n_stop
              FROM gtk),
    gq AS (SELECT doc_id, text FROM gfeat
           WHERE (n > 0 AND n BETWEEN 20 AND 100000)
             AND COALESCE(n > 0 AND mean_len BETWEEN 3.0 AND 10.0, FALSE)
             AND COALESCE(n > 0 AND alpha_frac >= 0.8, FALSE)
             AND (n > 0 AND n_stop >= 2))""".format(toks=TOKS)

    @register(
        "stream_llm_training_ingest",
        # two-batch unroll (the llm_dedup_incremental oracle pattern):
        # per batch, within-batch URL keep-first -> incremental dedup vs
        # the index (batch 2's index includes batch 1's 'new' docs) ->
        # Gopher gate -> 6-gram decontamination vs the bench -> shard.
        # The gates are row-local / bench-only, so gating the union of
        # both batches' new docs equals gating per batch.
        oracle=f"""
        WITH {_INC_SPLIT_SQL},
        b1 AS (SELECT doc_id, text FROM arrv WHERE doc_id % 2 = 0),
        b2 AS (SELECT doc_id, text FROM arrv WHERE doc_id % 2 = 1),
        ub1 AS (SELECT doc_id, {_URL_SQL} AS url FROM b1),
        ub2 AS (SELECT doc_id, {_URL_SQL} AS url FROM b2),
        k1 AS (SELECT MIN(doc_id) AS doc_id FROM
               (SELECT doc_id, {_NORM_SQL} AS nrm FROM ub1) GROUP BY nrm),
        k2 AS (SELECT MIN(doc_id) AS doc_id FROM
               (SELECT doc_id, {_NORM_SQL} AS nrm FROM ub2) GROUP BY nrm),
        s1b1 AS (SELECT b.doc_id, b.text FROM b1 b JOIN k1 USING (doc_id)),
        s1b2 AS (SELECT b.doc_id, b.text FROM b2 b JOIN k2 USING (doc_id)),
        {_inc_round_sql("r1", "corpus", "s1b1")},
        new1 AS (SELECT s.doc_id, s.text FROM s1b1 s
                 JOIN dr1 d ON d.doc_id = s.doc_id AND d.dup_kind = 'new'),
        idx2 AS (SELECT doc_id, text FROM corpus
                 UNION ALL SELECT doc_id, text FROM new1),
        {_inc_round_sql("r2", "idx2", "s1b2")},
        new2 AS (SELECT s.doc_id, s.text FROM s1b2 s
                 JOIN dr2 d ON d.doc_id = s.doc_id AND d.dup_kind = 'new'),
        newall AS (SELECT * FROM new1 UNION ALL SELECT * FROM new2),
        {_GOPHER_Q},
        btk AS (SELECT {TOKS} AS toks FROM documents WHERE doc_id % 13 = 0),
        bsh AS (SELECT DISTINCT
                    array_to_string(list_slice(toks, i, i + 5), ' ') AS shingle
                FROM btk, UNNEST(generate_series(1, len(toks) - 5)) AS t(i)
                WHERE len(toks) >= 6),
        qtk AS (SELECT doc_id, {TOKS} AS toks FROM gq),
        qsh AS (SELECT doc_id,
                    array_to_string(list_slice(toks, i, i + 5), ' ') AS shingle
                FROM qtk, UNNEST(generate_series(1, len(toks) - 5)) AS t(i)
                WHERE len(toks) >= 6),
        bad AS (SELECT DISTINCT doc_id FROM qsh JOIN bsh USING (shingle))
        SELECT g.doc_id,
               CAST(g.doc_id % 8 AS BIGINT) AS shard,
               CAST(len(COALESCE({TOKS}, CAST([] AS VARCHAR[])))
                    AS BIGINT) AS n_tokens
        FROM gq g
        WHERE NOT EXISTS (SELECT 1 FROM bad WHERE bad.doc_id = g.doc_id)
        """,
        survey_ref="r9 VERDICT ask #3: streaming raw-to-shards ingestion "
        "— the live twin of llm_training_shards_full. Each arrival "
        "micro-batch: within-batch URL keep-first (stage 1) -> "
        "incremental content dedup vs the PERSISTED DimStore index "
        "(no corpus re-scan, arrivals broadcast — the "
        "test_incremental plan gates; batch 2 dedupes against batch "
        "1's additions) -> Gopher gate -> 6-gram decontamination "
        "(bench broadcasts) -> shard rows into the IdempotentBatchStore "
        "(W8: replay-safe). The continuously-crawling pipeline's shape: "
        "corpus-sized state lives in the index + shard store, "
        "per-trigger work is arrival-sized",
        tags=("streaming", "llm", "pipeline", "incremental", "eos"),
    )
    def stream_llm_training_ingest(spark: SparkSession, sf_dir: str) -> DataFrame:
        from ..llm import incremental as inc
        from ..llm.ingest import foreach_batch_training_ingest
        from ..streaming.eos import IdempotentBatchStore
        from .llm_plans import _inc_corpus_arrivals, _with_url

        corpus, arrivals = _inc_corpus_arrivals(spark, sf_dir)
        arr = arrivals.join(_with_url(arrivals.select("doc_id")), "doc_id")
        bench = read_table(spark, sf_dir, "documents").filter(
            F.col("doc_id") % 13 == 0
        ).select("doc_id", "text")
        stage = tempfile.mkdtemp(prefix="gmall_ingest_")
        idx = DimStore(spark, os.path.join(stage, "idx"))
        try:
            inc.build_dedup_index(idx, corpus)
            in_dir = os.path.join(stage, "in")
            arr.filter(F.col("doc_id") % 2 == 0).coalesce(1).write.parquet(
                in_dir, mode="overwrite"
            )
            arr.filter(F.col("doc_id") % 2 == 1).coalesce(1).write.parquet(
                in_dir, mode="append"
            )
            shard_store = IdempotentBatchStore(
                spark, os.path.join(stage, "shards")
            )
            sdf = (
                spark.readStream.schema(arr.schema)
                .option("maxFilesPerTrigger", 1)
                .parquet(in_dir)
            )
            run_stream_foreach_batch(
                sdf, foreach_batch_training_ingest(idx, shard_store, bench)
            )
            # batch column dropped: the surviving SET is order-independent
            # on this fixture (arrival batches contain no cross-batch
            # dups), the per-batch placement is the store's concern
            return (
                shard_store.read_committed()
                .select("doc_id", "shard", "n_tokens")
                .localCheckpoint(eager=True)
            )
        finally:
            shutil.rmtree(stage, ignore_errors=True)


_register_stream_training_ingest()


def _register_stream_training_ingest_norm() -> None:
    from .llm_plans import _INC_SPLIT_SQL, _norm_expr_sql
    from .registry import REGISTRY as _R

    # The SAME demo split, but every text is first DIRTIED with a
    # byte-variant prefix that differs between the indexed corpus (NBSP
    # separator) and the arrivals (tab + BEL + space) and then
    # normalized — stage 0 fronted. Without normalization the planted
    # exact replicas (id+100000) would be byte-DIFFERENT from their
    # corpus originals and every exact-digest index hit would be lost;
    # with it they collapse to identical canonical text and the chain
    # behaves like the raw twin. Prefixes normalize to pure ASCII
    # ('Intro: ') on purpose: the two engines' tokenizers disagree on
    # non-ASCII letters (DuckDB splits on [^a-z0-9], Spark on \\p{L});
    # NFC-specific recovery is covered by the batch entries
    # (llm_normalize_dedup, llm_stage1_pipeline_norm), which never
    # tokenize the normalized text.
    _NORM_SPLIT_SQL = f"""
    corpus0 AS (SELECT doc_id, text FROM documents WHERE doc_id % 10 < 8),
    arrv0 AS (SELECT doc_id, text FROM documents WHERE doc_id % 10 >= 8
             UNION ALL
             SELECT doc_id + 100000, text FROM corpus0 WHERE doc_id % 7 = 0
             UNION ALL
             SELECT doc_id + 200000, text || ' zz qq vv'
             FROM corpus0 WHERE doc_id % 11 = 0),
    corpus AS (SELECT doc_id,
                      {_norm_expr_sql("'Intro:' || chr(160) || text")} AS text
               FROM corpus0),
    arrv AS (SELECT doc_id,
                    {_norm_expr_sql("'Intro:' || chr(9) || chr(7) || ' ' || text")} AS text
             FROM arrv0)"""

    # splice the normalized split into the raw twin's oracle so the
    # two-batch unroll body CANNOT drift between the entries
    _base = _R["stream_llm_training_ingest"].oracle
    assert _INC_SPLIT_SQL in _base, "ingest oracle refactor broke the splice"

    @register(
        "stream_llm_training_ingest_norm",
        oracle=_base.replace(_INC_SPLIT_SQL, _NORM_SPLIT_SQL),
        survey_ref="r11 VERDICT ask #2, streaming half: stage-0 "
        "normalization composed into the live raw-to-shards ingest as "
        "a NEW entry — the dedup index is built over NORMALIZED corpus "
        "text and each arrival micro-batch normalizes in-stream "
        "(row-local Arrow NFC + JVM regexps, before the keyed work) "
        "ahead of URL keep-first, incremental index dedup, Gopher, "
        "decontamination, idempotent shards. Load-bearing: corpus and "
        "arrivals carry byte-DIFFERENT dirty prefixes, so every "
        "exact-digest hit in the chain exists only because stage 0 "
        "canonicalized both sides",
        tags=("streaming", "llm", "pipeline", "incremental", "eos", "text"),
    )
    def stream_llm_training_ingest_norm(
        spark: SparkSession, sf_dir: str
    ) -> DataFrame:
        from ..llm import incremental as inc
        from ..llm import text as text_mod
        from ..llm.ingest import foreach_batch_training_ingest
        from ..streaming.eos import IdempotentBatchStore
        from .llm_plans import _inc_corpus_arrivals, _with_url

        corpus0, arrivals0 = _inc_corpus_arrivals(spark, sf_dir)
        corpus = text_mod.normalize_text(
            corpus0.select(
                "doc_id",
                F.concat(F.lit("Intro:\u00a0"), F.col("text")).alias("vtext"),
            ),
            "vtext",
            out_col="text",
        ).select("doc_id", "text")
        adirty = arrivals0.select(
            "doc_id",
            F.concat(F.lit("Intro:\t\x07 "), F.col("text")).alias("vtext"),
        )
        arr = _with_url(adirty)  # (doc_id, vtext, url) — one projection
        bench = read_table(spark, sf_dir, "documents").filter(
            F.col("doc_id") % 13 == 0
        ).select("doc_id", "text")
        stage = tempfile.mkdtemp(prefix="gmall_ingestn_")
        idx = DimStore(spark, os.path.join(stage, "idx"))
        try:
            inc.build_dedup_index(idx, corpus)
            in_dir = os.path.join(stage, "in")
            arr.filter(F.col("doc_id") % 2 == 0).coalesce(1).write.parquet(
                in_dir, mode="overwrite"
            )
            arr.filter(F.col("doc_id") % 2 == 1).coalesce(1).write.parquet(
                in_dir, mode="append"
            )
            shard_store = IdempotentBatchStore(
                spark, os.path.join(stage, "shards")
            )
            sdf = (
                spark.readStream.schema(arr.schema)
                .option("maxFilesPerTrigger", 1)
                .parquet(in_dir)
            )
            # stage 0 runs ON THE STREAM: the staged files carry the
            # DIRTY variant text; normalization is part of the live
            # chain, not a batch preprocess
            sdf_norm = text_mod.normalize_text(
                sdf, "vtext", out_col="text"
            ).drop("vtext")
            run_stream_foreach_batch(
                sdf_norm, foreach_batch_training_ingest(idx, shard_store, bench)
            )
            return (
                shard_store.read_committed()
                .select("doc_id", "shard", "n_tokens")
                .localCheckpoint(eager=True)
            )
        finally:
            shutil.rmtree(stage, ignore_errors=True)


_register_stream_training_ingest_norm()


def _register_stream_stage1_psl_norm() -> None:
    from .registry import REGISTRY as _R  # batch oracle verbatim

    @register(
        "stream_llm_stage1_psl_norm",
        oracle=_R["llm_stage1_psl_norm"].oracle,
        survey_ref="r12 VERDICT ask #3: the fully-composed stage-1 "
        "chain (stage-0 normalize -> normalized-digest dedup -> URL "
        "keep-first -> real-PSL domain cap) as ONE live streaming "
        "query — the PSL rule dim rides the stream as a stream-static "
        "broadcast join (the reference's S11 cache-aside shape, "
        "utils/DimUtil.java:12-44, rendered as Spark's per-batch "
        "broadcast re-read: SURVEY §4) over its richest dim, applied "
        "row-local BEFORE the keyed state so each micro-batch "
        "normalizes, derives its domain, and folds into the digest "
        "keep-first (update-mode min-struct state, one narrow row per "
        "distinct digest — bounded). The URL keep-first and the "
        "per-domain cap are scored post-settle because both depend on "
        "the FINAL winner set (stream_domain_mix_psl's "
        "rate-dependent-decision pattern)",
        tags=("streaming", "llm", "url", "text", "dedup", "pipeline",
              "dim"),
    )
    def stream_llm_stage1_psl_norm(
        spark: SparkSession, sf_dir: str
    ) -> DataFrame:
        from pyspark.sql import Window

        from ..llm import psl, urls
        from ..llm import text as text_mod
        from ..llm.sampling import _u32
        from .llm_plans import _DOMAIN_CAP, _variant_texts, _with_url_psl

        d = read_stream_table(spark, sf_dir, "documents").select(
            "doc_id", "text"
        )
        base = _with_url_psl(_variant_texts(d))
        norm = text_mod.normalize_text(base, "vtext", out_col="ntext").drop(
            "vtext"
        )
        h = norm.withColumn("host", urls.host_of(F.col("url")))
        dom = psl.registrable_domain_psl(h, "host", psl.psl_rules_df(spark))
        # digest keep-first as commutative update-mode state: min over
        # (doc_id, norm-url, domain) structs IS min-doc_id-wins, and the
        # winner carries its OWN url/domain — exactly the batch chain's
        # s0 semantics under any arrival order
        st = dom.select(
            F.md5(F.col("ntext")).alias("_k"),
            F.struct(
                F.col("doc_id"),
                urls.url_normalize(F.col("url")).alias("nrm"),
                F.col("domain"),
            ).alias("w"),
        )
        agg = st.groupBy("_k").agg(F.min("w").alias("w"))
        settled = _run_update_upsert(agg, _uniq("s1psln")).select(
            "w.doc_id", "w.nrm", "w.domain"
        )
        wu = Window.partitionBy("nrm").orderBy(F.col("doc_id").asc())
        s2 = (
            settled.withColumn("__rk", F.row_number().over(wu))
            .filter(F.col("__rk") == 1)
            .select(F.col("doc_id").alias("id"), "domain")
        )
        w = Window.partitionBy("domain").orderBy(
            _u32(F.col("id")).asc(), F.col("id").asc()
        )
        return (
            s2.withColumn("rk", F.row_number().over(w).cast("long"))
            .filter(F.col("rk") <= _DOMAIN_CAP)
            .select("id", "domain", "rk")
        )


_register_stream_stage1_psl_norm()


def _register_stream_topk() -> None:
    from .registry import REGISTRY as _R  # batch oracle verbatim

    @register(
        "stream_domain_capped_topk",
        oracle=_R["llm_domain_capped_topk"].oracle,
        survey_ref="streaming twin of llm_domain_capped_topk: the exact "
        "per-domain top-cap with BOUNDED state — WindowGroupLimit's "
        "partial heap made persistent (streaming/topk_state.py: at most "
        "cap (hash, id) pairs per domain, heap-merge + truncate per "
        "micro-batch), full current ranking re-emitted per touched "
        "domain in update mode through the (domain, rank)-keyed upsert "
        "store; the settled table is bit-identical to the batch "
        "ranking because membership is by the same stable u32",
        tags=("streaming", "stateful", "llm", "url", "sampling"),
    )
    def stream_domain_capped_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
        from ..llm import urls
        from ..llm.sampling import _u32
        from ..streaming.topk_state import keyed_topk_stateful
        from .llm_plans import _DOMAIN_CAP, _with_url

        d = read_stream_table(spark, sf_dir, "documents").select("doc_id")
        rows = _with_url(d).select(
            F.col("doc_id").alias("id"),
            urls.registrable_domain(urls.host_of(F.col("url"))).alias(
                "domain"
            ),
            _u32(F.col("doc_id")).alias("_u"),
        )
        out = keyed_topk_stateful(rows, "domain", "id", "_u", _DOMAIN_CAP)
        keyed = out.withColumn(
            "_k", F.concat_ws("|", F.col("key"), F.col("rk"))
        )
        settled = _run_update_upsert(keyed, _uniq("domtopk"))
        return settled.select(
            F.col("id").cast("long").alias("id"),
            F.col("key").alias("domain"),
            F.col("rk").cast("long").alias("rk"),
        )


_register_stream_topk()
