"""sources.io: shipping the package to Python workers."""

from __future__ import annotations

import os
import tempfile
import threading

from pyspark.sql import functions as F

from gmall_flink_2022_spark.sources import io


def test_ship_package_concurrent_first_reads(spark):
    """Threads sharing one session that all make their first read at once
    must each see a complete package zip (an unlocked check-then-write
    let a second thread add a half-written zip, and workers then failed
    with the zip "exists and does not match contents"). A pandas UDF
    defined in the package must run on the workers afterwards."""
    sc = spark.sparkContext
    zpath = os.path.join(
        tempfile.gettempdir(), f"gmall_pkg_{os.getpid()}_{id(sc)}.zip"
    )
    io._SHIPPED.clear()
    if os.path.exists(zpath):
        os.remove(zpath)

    start = threading.Barrier(4)
    errors: list[Exception] = []

    def first_read() -> None:
        start.wait(timeout=60)
        try:
            io._ship_package(spark)
        except Exception as e:  # surfaced by the assert below
            errors.append(e)

    threads = [threading.Thread(target=first_read) for _ in range(4)]
    for t in threads:
        t.start()
    for t in threads:
        t.join(timeout=120)
    assert not any(t.is_alive() for t in threads)
    assert not errors, errors
    assert id(sc) in io._SHIPPED
    assert os.path.exists(zpath) and not os.path.exists(zpath + ".tmp")

    from gmall_flink_2022_spark.functions.tokenize import cjk_tokens_udf

    df = spark.createDataFrame([("小米智能手机壳",)], "kw string")
    got = df.select(F.explode(cjk_tokens_udf()("kw")).alias("w")).collect()
    assert [r["w"] for r in got] == ["小米", "智能手机", "壳"]
