"""``ads_serve``: the publisher/dashboard path.  Two client threads share
one session and send, closed-loop, a seeded mix of plans-registry
queries over seeded sf0.1 tables: the six serving queries of the
reference's dashboard plus ``llm_dedup_paragraph`` -- a shuffle-heavy
LLM dedup over the documents corpus, so the ``llm`` layer is measured
by a gated workload.  A request is the registry call plus the transfer
of its complete result to the client (Arrow).

Every query runs once before timing (warm-up).  After timing, the last
result each query returned is checked against the registry's DuckDB
oracle.
"""

from __future__ import annotations

import os
import threading
import time

import numpy as np

from harness import Run, median, quantile

QUERIES = ("ads_gmv_by_date", "ads_top_brand", "ads_topn_per_brand",
           "ads_gmv_month", "dws_province_stats", "dws_product_stats",
           "llm_dedup_paragraph")
CLIENTS = 2
# Small enough that an 18 s run holds 25-30 requests on 4 cores.
SF = 0.02
DOCS = 1_000
TABLES = ("orders", "lineitem", "part", "customer", "nation", "documents")


def _group(name: str) -> str:
    return "llm" if name.startswith("llm_") else "plans"


def _request(r: Run, name: str, data: str):
    from gmall_flink_2022_spark import plans

    with r.tracer.span(f"plans.{name}", group=_group(name)):
        with r.tracer.span("plans.build", group=_group(name)):
            df = plans.REGISTRY[name].fn(r.spark, data)
        return df.toArrow()


def run(r: Run) -> None:
    from gmall_flink_2022_spark.llm import cachereg

    data = r.path("tables", "")
    r.gen("tables", "--out", data, "--sf", str(SF))
    r.gen("docs", "--out", data, "--docs", str(DOCS))
    # (client, position in its sequence, query, seconds) per timed request
    lat: list[tuple[int, int, str, float]] = []
    last = {}  # query -> its most recent result, checked after the run
    lock = threading.Lock()
    errors: list[str] = []

    def client(k: int, names, deadline: float | None) -> None:
        for i, name in enumerate(names):
            # past the deadline, a client still finishes its first pass
            # through the query set, so every run has a full pass to time
            if deadline is not None and time.time() >= deadline and i >= len(QUERIES):
                return
            t0 = time.time()
            try:
                out = _request(r, name, data)
                with lock:
                    last[name] = out
            except Exception as e:  # a failed request is counted, the loop goes on
                with lock:
                    errors.append(f"{name}: {e!r}")
                continue
            finally:
                if _group(name) == "llm":
                    cachereg.release_all()
            if deadline is not None:
                with lock:
                    lat.append((k, i, name, time.time() - t0))

    def clients(plan, deadline):
        ts = [threading.Thread(target=client, args=(k, plan(k), deadline))
              for k in range(CLIENTS)]
        for t in ts:
            t.start()
        for t in ts:
            t.join()

    with r.warming():
        # One request alone first: the package's first table read ships
        # the package to the workers without a lock, and two threads
        # doing it at once make tasks fail.  Then the clients warm the
        # other queries between them.
        client(0, QUERIES[:1], None)
        clients(lambda k: QUERIES[1 + k::CLIENTS], None)
    t0 = time.time()
    clients(lambda k: _mix(r.seed, k), t0 + r.seconds)
    t_end = time.time()
    r.attempted = len(QUERIES) + len(lat) + len(errors)
    for e in errors:
        r.problem(f"query failed: {e}")
    # Latency percentiles over each client's complete passes through the
    # query set only, so every run weighs every query the same; the
    # median of a mix with unequal shares jumps between queries.
    n = len(QUERIES)
    full = {k: sum(1 for c, *_ in lat if c == k) // n * n for k in range(CLIENTS)}
    done = [s for c, i, _, s in lat if i < full[c]]
    r.e2e["latency_p50_s"] = median(done)
    r.e2e["latency_p95_s"] = quantile(done, 0.95)
    r.e2e["throughput_per_s"] = len(lat) / (t_end - t0)
    for q in QUERIES:
        r.layer[f"plans.{q}.s_p50"] = median([s for *_, name, s in lat if name == q])
    r.layer["plans.build_s_p50"] = median(r.tracer.durations("plans.build"))
    para = last.get("llm_dedup_paragraph")
    if para is not None and para.num_rows:
        removed = sum(para.column("n_removed").to_pylist())
        r.layer["llm.keep_ratio"] = 1.0 - removed / sum(para.column("n_segments").to_pylist())
    r.log(f"ads_serve: {len(lat)} requests ({len(done)} in full passes) in {t_end - t0:.2f}s, "
          f"p50 {r.e2e['latency_p50_s']:.3f}s p95 {r.e2e['latency_p95_s']:.3f}s")
    r.check = lambda: _check(r, data, last)


def _mix(seed: int, client: int) -> list[str]:
    """The client's request sequence: seeded permutations of all the
    queries, back to back, so every run sends the same mix."""
    rng = np.random.default_rng([seed, 7, client])
    return [QUERIES[i] for _ in range(1_000) for i in rng.permutation(len(QUERIES))]


def _digest(df):
    """Multiset of row hashes: columns by name, floats rounded to 1e-4,
    timestamps as naive UTC (Arrow results carry the session zone)."""
    import collections

    import pandas as pd

    df = df[sorted(df.columns)].copy()
    for c in df.columns:
        if pd.api.types.is_float_dtype(df[c]):
            df[c] = df[c].round(4)
        elif isinstance(df[c].dtype, pd.DatetimeTZDtype):
            df[c] = df[c].dt.tz_convert("UTC").dt.tz_localize(None)
        df[c] = df[c].astype(str)
    return collections.Counter(pd.util.hash_pandas_object(df, index=False).tolist())


def _check(r: Run, data: str, last) -> bool:
    """The last result each query returned during the run against the
    registry's DuckDB oracle over the same tables."""
    import duckdb

    from gmall_flink_2022_spark import plans

    con = duckdb.connect()
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{os.path.join(data, t)}.parquet'")
    oracle = plans.oracle_sql()
    bad = 0
    for name in QUERIES:
        if name not in last:
            r.problem(f"{name}: no result to check")
            bad += 1
            continue
        got_df = last[name].to_pandas()
        if r.inject == "corrupt-result" and name == QUERIES[0] and len(got_df):
            got_df.iloc[0, -1] = got_df.iloc[0, -1] + 1
        got, want = _digest(got_df), _digest(con.execute(oracle[name]).fetchdf())
        n = sum(((got - want) + (want - got)).values())
        if n:
            r.problem(f"{name}: {n} rows differ from the oracle")
            bad += n
    con.close()
    return not bad
