"""Seeded load generator for the benchmark, run as its own process.

Every input the program under test sees is written here, from the seed
alone: the same seed gives byte-identical files.  Timing only decides
*when* a file appears, never what it holds.

Modes (``python3 perfbench/gen.py <mode> --seed N --out DIR ...``):

``logs-warmup``  write the warm-up app-log files at once and exit.
``logs``         open-loop app-log schedule: one file every ``--period``
                 seconds (the steady phase).  Files are written under a
                 hidden name and renamed into place, so a reader never
                 sees a partial file.  The schedule never waits for the
                 system under test: a file written late is recorded as
                 late, never skipped.  A JSON manifest with the due and
                 written wall times goes to ``--manifest``.
``tables``       the serving tables (orders, lineitem, part, customer,
                 nation) at scale factor 0.1.
``docs``         the documents corpus with ~10% near-duplicates.
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import time
from functools import lru_cache

import numpy as np

# Event time of schedule offset 0 (2022-06-01 08:00:00 UTC, epoch ms).
BASE_TS_MS = 1654070400000
WINDOW_S = 10
# A very late event lands this far behind the schedule: every window it
# falls in is already behind any watermark once the first batch is done.
VERY_LATE_MS = 600_000
N_DEVICES = 20_000
DIRTY_P = 0.02
ENTRY_P = 0.25
START_P = 0.08
JITTER_P = 0.25
JITTER_MAX_MS = 3_000
LATE_P = 0.002
# No very-late events in the first steady files: the second query must
# have set its watermark before one arrives.
LATE_FIRST_FILE = 10

PAGES = ["home", "good_list", "good_detail", "cart", "trade", "payment",
         "search", "mine", "orders_unpaid", "activity"]
VCS = ["v2.1.134", "v2.1.132", "v2.1.111", "v2.0.1"]
CHS = ["xiaomi", "huawei", "oppo", "vivo", "Appstore", "web", "wandoujia", "360"]
ARS = ["110000", "310000", "440000", "230000", "370000", "420000", "500000",
       "530000"]
BAS = ["Xiaomi", "Huawei", "Oppo", "Vivo", "iPhone", "Honor"]
OSS = ["Android 11.0", "Android 10.0", "iOS 13.3.1", "iOS 14.2"]


def _rng(*key: int) -> np.random.Generator:
    return np.random.default_rng([int(k) for k in key])


@lru_cache(maxsize=4)
def _devices(seed: int) -> dict[str, np.ndarray]:
    r = _rng(seed, 1)
    return {
        "vc": r.integers(0, len(VCS), N_DEVICES),
        "ch": r.integers(0, len(CHS), N_DEVICES),
        "ar": r.integers(0, len(ARS), N_DEVICES),
        "ba": r.integers(0, len(BAS), N_DEVICES),
        "os": r.integers(0, len(OSS), N_DEVICES),
        "is_new": r.integers(0, 2, N_DEVICES),
        "uid": r.integers(1, 50_000, N_DEVICES),
    }


def log_file(seed: int, idx: int, n: int, t0_ms: int, span_ms: int):
    """Events of log file ``idx``: ``n`` events whose creation is due at
    schedule offsets spread evenly over ``(t0_ms, t0_ms + span_ms]``.

    Returns ``(text, meta)``: the file body (JSON lines) and per-event
    numpy arrays -- ``due_ms`` (creation offset), ``dev`` (device index),
    ``kind`` (0 page, 1 start, 2 dirty), ``entry``, ``late`` (beyond the
    allowed lateness), ``ts_ms`` (event time)."""
    r = _rng(seed, 2, idx)
    dev = _devices(seed)
    due = t0_ms + ((np.arange(n) + 1) * span_ms) // n
    d = (r.zipf(1.3, n) - 1) % N_DEVICES
    u = r.random((6, n))
    kind = np.where(u[0] < START_P, 1, 0)
    dirty = u[1] < DIRTY_P
    entry = (kind == 0) & (u[2] < ENTRY_P)
    page_body = (kind == 0) & ~entry
    late = page_body & ~dirty & (idx >= LATE_FIRST_FILE) & (u[3] < LATE_P)
    jitter = page_body & ~late & (u[4] < JITTER_P)
    ts = BASE_TS_MS + due
    ts = ts - np.where(jitter, (u[5] * JITTER_MAX_MS).astype(np.int64), 0)
    # each very late event gets a window of its own, so the watermark
    # drops exactly one partial aggregate per late event
    slot = idx * 32 + np.minimum(np.cumsum(late) - 1, 31)
    ts = np.where(late, BASE_TS_MS - VERY_LATE_MS - slot * WINDOW_S * 1000, ts)
    page = r.integers(0, len(PAGES), n)
    last = r.integers(0, len(PAGES), n)
    during = r.integers(1_000, 20_000, n)
    item = r.integers(1, 2_000, n)
    n_disp = np.where(r.random(n) < 0.3, r.integers(1, 5, n), 0)
    cut = r.random(n)
    lines = []
    for i in range(n):
        k = int(d[i])
        common = {
            "mid": f"mid_{k}", "uid": str(int(dev["uid"][k])),
            "vc": VCS[dev["vc"][k]], "ch": CHS[dev["ch"][k]],
            "ar": ARS[dev["ar"][k]], "ba": BAS[dev["ba"][k]],
            "md": f"{BAS[dev['ba'][k]]} {k % 13}", "os": OSS[dev["os"][k]],
            "is_new": str(int(dev["is_new"][k])),
        }
        ev: dict = {"common": common}
        if kind[i] == 1:
            ev["start"] = {"entry": "icon", "open_ad_id": int(item[i] % 20),
                           "loading_time": int(during[i] // 4),
                           "open_ad_ms": int(during[i] // 3),
                           "open_ad_skip_ms": 0}
        else:
            pg = {"page_id": PAGES[page[i]], "during_time": int(during[i])}
            if not entry[i]:
                pg["last_page_id"] = PAGES[last[i]]
            if PAGES[page[i]] == "good_detail":
                pg["item"] = str(int(item[i]))
                pg["item_type"] = "sku_id"
            ev["page"] = pg
            if n_disp[i]:
                ev["displays"] = [
                    {"display_type": "promotion", "item": str(int(item[i]) + j),
                     "item_type": "sku_id", "order": j + 1, "pos_id": j % 5}
                    for j in range(int(n_disp[i]))
                ]
        ev["ts"] = int(ts[i])
        line = json.dumps(ev, separators=(",", ":"))
        if dirty[i]:
            line = line[: 5 + int(cut[i] * (len(line) - 7))]
        lines.append(line)
    kind = np.where(dirty, 2, kind)
    meta = {"due_ms": due, "dev": d, "kind": kind, "entry": entry & ~dirty,
            "late": late, "ts_ms": ts}
    return "\n".join(lines) + "\n", meta


def log_plan(warmup_files: int, steady_files: int, period_s: float, file_events: int):
    """(index, n_events, t0_ms, span_ms, phase) of every log file, in
    order.  Warm-up files sit just before schedule offset 0."""
    span = int(period_s * 1000)
    plan = []
    for i in range(warmup_files):
        plan.append((i, file_events, (i - warmup_files) * span, span, "warmup"))
    for k in range(steady_files):
        plan.append((warmup_files + k, file_events, k * span, span, "steady"))
    return plan


def _put(out: str, name: str, body: str) -> None:
    tmp = os.path.join(out, "." + name + ".tmp")
    with open(tmp, "w") as f:
        f.write(body)
    os.replace(tmp, os.path.join(out, name))


def log_name(idx: int) -> str:
    return f"log-{idx:06d}.json"


def run_logs(a) -> None:
    plan = log_plan(a.warmup_files, a.steady_files, a.period, a.file_events)
    os.makedirs(a.out, exist_ok=True)
    if a.mode == "logs-warmup":
        for idx, n, t0, span, phase in plan:
            if phase == "warmup":
                _put(a.out, log_name(idx), log_file(a.seed, idx, n, t0, span)[0])
        return
    steady = [p for p in plan if p[4] == "steady"]
    # Pre-render the bodies so formatting time never delays the schedule.
    bodies = {p[0]: log_file(a.seed, p[0], p[1], p[2], p[3])[0] for p in steady}
    start = time.time() + 0.2
    files = []
    for idx, n, t0, span, _ in steady:
        due = start + (t0 + span) / 1000.0
        wait = due - time.time()
        if wait > 0:
            time.sleep(wait)
        _put(a.out, log_name(idx), bodies[idx])
        files.append({"idx": idx, "due": due, "written": time.time()})
    manifest = {"start": start, "files": files}
    with open(a.manifest + ".tmp", "w") as f:
        json.dump(manifest, f)
    os.replace(a.manifest + ".tmp", a.manifest)


# --------------------------------------------------------- serving tables
def run_tables(a) -> None:
    import pyarrow as pa
    import pyarrow.parquet as pq

    r = _rng(a.seed, 4)
    sf = a.sf
    n_ord, n_li = int(1_500_000 * sf), int(6_000_000 * sf)
    n_part, n_cust = int(200_000 * sf), int(150_000 * sf)
    day0 = np.datetime64("1992-01-01")
    days = 7 * 365
    os.makedirs(a.out, exist_ok=True)

    def put(name: str, cols: dict) -> None:
        pq.write_table(pa.table(cols), os.path.join(a.out, f"{name}.parquet"))

    def ts(d: np.ndarray) -> pa.Array:
        return pa.array((day0 + d).astype("datetime64[us]"))

    def pick(words: list[str], n: int) -> np.ndarray:
        return np.array(words, dtype=object)[r.integers(0, len(words), n)]

    put("nation", {
        "n_nationkey": pa.array(np.arange(25), pa.int32()),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array(np.arange(25) % 5, pa.int32())})
    put("customer", {
        "c_custkey": np.arange(n_cust),
        "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
        "c_nationkey": pa.array(r.integers(0, 25, n_cust), pa.int32()),
        "c_acctbal": np.round(r.uniform(-999, 9999, n_cust), 2),
        "c_mktsegment": pick(["BUILDING", "AUTOMOBILE", "MACHINERY",
                              "HOUSEHOLD", "FURNITURE"], n_cust)})
    put("part", {
        "p_partkey": np.arange(n_part),
        "p_name": pick(["large ring", "hot bolt", "small gear", "blue nut",
                        "steel pin", "red cap"], n_part),
        "p_brand": np.array([f"Brand#{i}" for i in range(1, 26)],
                            dtype=object)[r.zipf(1.5, n_part) % 25],
        "p_type": pick(["LARGE", "ECONOMY", "STANDARD", "PROMO", "SMALL"], n_part),
        "p_size": pa.array(r.integers(1, 51, n_part), pa.int32()),
        "p_retailprice": np.round(900 + np.arange(n_part) % 1000 * 0.1, 2)})
    put("orders", {
        "o_orderkey": np.arange(n_ord),
        "o_custkey": r.integers(0, n_cust, n_ord),
        "o_orderstatus": pick(["O", "F", "P"], n_ord),
        "o_totalprice": np.round(r.uniform(900, 500_000, n_ord), 2),
        "o_orderdate": ts(r.integers(0, days, n_ord)),
        "o_orderpriority": pick(["1-URGENT", "2-HIGH", "3-MEDIUM",
                                 "4-NOT SPECIFIED", "5-LOW"], n_ord)})
    put("lineitem", {
        "l_orderkey": r.integers(0, n_ord, n_li),
        "l_partkey": (r.zipf(1.2, n_li) - 1) % n_part,
        "l_suppkey": r.integers(0, int(10_000 * sf), n_li),
        "l_linenumber": pa.array(r.integers(1, 8, n_li), pa.int32()),
        "l_quantity": r.integers(1, 51, n_li).astype(np.float64),
        "l_extendedprice": np.round(r.uniform(900, 100_000, n_li), 2),
        "l_discount": np.round(r.integers(0, 11, n_li) * 0.01, 2),
        "l_tax": np.round(r.integers(0, 9, n_li) * 0.01, 2),
        "l_returnflag": pick(["A", "N", "R"], n_li),
        "l_linestatus": pick(["O", "F"], n_li),
        "l_shipdate": ts(r.integers(0, days + 120, n_li))})


# ------------------------------------------------------------- documents
VOCAB = ("a the spark stream table query join filter order key value "
         "window batch scan sort hash merge group agg row column part line "
         "data vector customer small big fast slow").split()
LANGS = ["en", "zh", "es", "fr", "de"]


def run_docs(a) -> None:
    import pyarrow as pa
    import pyarrow.parquet as pq

    r = _rng(a.seed, 5)
    n = a.docs
    os.makedirs(a.out, exist_ok=True)
    vocab = np.array(VOCAB, dtype=object)
    texts = [" ".join(vocab[r.integers(0, len(VOCAB), int(k))])
             for k in r.integers(8, 90, n)]
    # ~dup_frac of the corpus gets a near-duplicate copy: the original
    # text behind a one-token replica prefix (a crawl's typical re-post)
    dups = np.flatnonzero(r.random(n) < a.dup_frac)
    texts += [f"r{int(i) % 7} " + texts[int(i)] for i in dups]
    m = len(texts)
    pq.write_table(pa.table({
        "doc_id": np.arange(m),
        "text": texts,
        "lang": np.array(LANGS, dtype=object)[r.integers(0, len(LANGS), m)],
        "source": [f"src{i % 20}" for i in range(m)],
        "n_chars": np.array([len(t) for t in texts], dtype=np.int64),
    }), os.path.join(a.out, "documents.parquet"))


def main(argv: list[str] | None = None) -> None:
    p = argparse.ArgumentParser()
    p.add_argument("mode", choices=["logs-warmup", "logs", "tables", "docs"])
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--out", required=True)
    p.add_argument("--warmup-files", type=int, default=4)
    p.add_argument("--steady-files", type=int, default=100)
    p.add_argument("--period", type=float, default=0.1)
    p.add_argument("--file-events", type=int, default=100)
    p.add_argument("--manifest", default="")
    p.add_argument("--sf", type=float, default=0.1)
    p.add_argument("--docs", type=int, default=2_000)
    p.add_argument("--dup-frac", type=float, default=0.1)
    a = p.parse_args(argv)
    if a.mode.startswith("logs"):
        run_logs(a)
    elif a.mode == "tables":
        run_tables(a)
    else:
        run_docs(a)


if __name__ == "__main__":
    sys.exit(main())
