"""Source/sink abstraction.

The reference wires every layer through Kafka topics
(gmall-realtime/.../utils/MyKafkaUtil.java:18-58). Here the message bus is a
pluggable format: tests use parquet dirs / memory sinks, production uses
Kafka — same transformation code either way (Structured Streaming's
batch/stream parity).

Scale note: ``read_table`` is a plain ``spark.read.parquet`` so Catalyst
pushes filters/projections into the scan (check ``PushedFilters`` in
``.explain``); no caching/collecting happens here.
"""

from __future__ import annotations

import os
import threading

from pyspark.sql import DataFrame, SparkSession, functions as F

TABLES = (
    "region nation customer supplier part orders lineitem events documents embeddings"
).split()

# events.parquet carries TIMESTAMP(NANOS) which Spark's vectorized reader
# rejects; read nanos as long and truncate to micros (same floor semantics
# as DuckDB's ns->us read, so oracles agree bit-for-bit).
_NANOS_TABLES = {"events": "ts"}


def _path(sf_dir: str, name: str) -> str:
    return os.path.join(sf_dir, f"{name}.parquet")


def _fix_nanos(df: DataFrame, name: str) -> DataFrame:
    col = _NANOS_TABLES.get(name)
    if col and dict(df.dtypes).get(col) == "bigint":
        df = df.withColumn(col, F.timestamp_micros(F.expr(f"{col} div 1000")))
    return df


_SHIPPED: set[int] = set()
_SHIP_LOCK = threading.Lock()


def _ship_package(spark: SparkSession) -> None:
    """Make this package importable on Python WORKERS. Stateful pandas
    operators (applyInPandasWithState fns) pickle by module reference; a
    driver that merely sys.path-inserted the repo leaves workers unable to
    import the module. Shipping a zip via addPyFile puts the package on
    every worker's path regardless of the driver's cwd/env.

    Concurrent first reads (serving threads sharing one session) must
    not see a half-written zip: the check, the write and ``addPyFile``
    run under one lock, and the zip is written under a temp name and
    renamed into place."""
    sc = spark.sparkContext
    with _SHIP_LOCK:
        if id(sc) in _SHIPPED:
            return
        import tempfile
        import zipfile

        pkg_root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
        parent = os.path.dirname(pkg_root)
        zpath = os.path.join(
            tempfile.gettempdir(), f"gmall_pkg_{os.getpid()}_{id(sc)}.zip"
        )
        if not os.path.exists(zpath):
            tmp = zpath + ".tmp"
            with zipfile.ZipFile(tmp, "w") as z:
                for dirpath, _dirs, files in os.walk(pkg_root):
                    for f in files:
                        if f.endswith(".py"):
                            full = os.path.join(dirpath, f)
                            z.write(full, os.path.relpath(full, parent))
            os.replace(tmp, zpath)
        sc.addPyFile(zpath)
        _SHIPPED.add(id(sc))


def _pin_session_confs(spark: SparkSession) -> None:
    """Runtime-settable confs every query depends on, applied defensively
    because the driver harness builds its own session: UTC so
    date_format/unix_timestamp match the DuckDB oracle on naive
    timestamps; nanosAsLong so events.parquet (TIMESTAMP NANOS) loads;
    inferTimestampNTZ disabled so naive parquet timestamps load as
    session-tz TIMESTAMP (watermark-compatible, oracle-matching);
    package shipped to workers for the stateful pandas operators."""
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    # naive parquet timestamps must load as (UTC) TIMESTAMP, not
    # TIMESTAMP_NTZ: watermarks reject NTZ and the oracles assume the
    # session-tz type. Runtime-settable, so pinning here also covers a
    # driver-built session.
    spark.conf.set("spark.sql.parquet.inferTimestampNTZ.enabled", "false")
    _ship_package(spark)


def read_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Batch read of one driver-testdata table."""
    _pin_session_confs(spark)
    if name in _NANOS_TABLES:
        spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    return _fix_nanos(spark.read.parquet(_path(sf_dir, name)), name)


def read_stream_table(
    spark: SparkSession, sf_dir: str, name: str, schema=None
) -> DataFrame:
    """Streaming read of the same table (file source, run to completion
    by ``streaming.runner`` in tests; swap for format('kafka') in prod)."""
    _pin_session_confs(spark)
    if name in _NANOS_TABLES:
        spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    if schema is None:
        schema = spark.read.parquet(_path(sf_dir, name)).schema
    # the file stream source lists a DIRECTORY; select just this table's
    # file with a glob filter
    sdf = (
        spark.readStream.schema(schema)
        .format("parquet")
        .option("pathGlobFilter", f"{name}.parquet")
        .load(sf_dir)
    )
    return _fix_nanos(sdf, name)


def scratch_dir(prefix: str) -> str:
    """Staging directory for DISTRIBUTED writes (executors write here,
    the driver reads back). Defaults to a driver-local tempdir — correct
    in local mode only; on a multi-node cluster set ``SPARK_GRAFT_SCRATCH``
    to a shared-filesystem / object-store URI so executors and driver see
    the same paths (r9 ADVICE: a bare mkdtemp path silently scatters
    executor output across node-local disks). Cleanup of env-configured
    scratch is the deployment's lifecycle policy (TTL'd bucket/dir);
    local tempdirs are removed by the callers' finally blocks."""
    import tempfile
    import uuid

    root = os.environ.get("SPARK_GRAFT_SCRATCH")
    if root:
        path = os.path.join(root, f"{prefix}{uuid.uuid4().hex}")
        os.makedirs(path, exist_ok=True)
        return path
    return tempfile.mkdtemp(prefix=prefix)


def write_sink(df: DataFrame, path: str, mode: str = "overwrite") -> None:
    """Batch parquet sink (the test-mode stand-in for the reference's
    ClickHouse JDBC batch sink, utils/ClickHouseUtil.java:17-57)."""
    df.write.mode(mode).parquet(path)
