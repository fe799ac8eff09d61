"""Seeded input generators for the benchmark.

``write_tables`` writes the ten catalog tables (TPC-H-like star schema plus
``events``, ``documents`` and ``embeddings``) with the column names, types and
value distributions of the program's reference fixtures, scaled by ``sf``
(``sf=0.01`` gives 60k ``lineitem`` rows). ``stream_files`` builds the
event files the ``stream_events`` workload releases on a clock. Both are pure
functions of their seed: the same seed writes byte-identical inputs.
"""

from __future__ import annotations

import os
from dataclasses import dataclass

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

_STREAM_T0 = np.datetime64("2024-01-01T00:00:00", "us")
_VOCAB = (
    "a agg batch big column customer data fast filter group hash join key "
    "line merge order part query row scan slow small sort spark stream table "
    "the value vector window"
).split()
_LANGS = np.array(["en", "zh", "de", "fr", "es"])
_LANG_P = np.array([0.41, 0.15, 0.14, 0.15, 0.15])


def _us(day0: str, rng: np.random.Generator, n: int, days: int) -> pa.Array:
    base = np.datetime64(day0, "us")
    picked = base + rng.integers(0, days + 1, n).astype("timedelta64[D]")
    return pa.array(picked, pa.timestamp("us"))


def _write(out_dir: str, name: str, cols: dict) -> None:
    pq.write_table(pa.table(cols), os.path.join(out_dir, f"{name}.parquet"))


def write_tables(out_dir: str, seed: int, sf: float) -> dict[str, int]:
    """Write every catalog table under ``out_dir``; returns rows per table."""
    rng = np.random.default_rng(seed)
    os.makedirs(out_dir, exist_ok=True)
    n_cust = int(150_000 * sf)
    n_supp = int(10_000 * sf)
    n_part = int(200_000 * sf)
    n_ord = int(1_500_000 * sf)
    n_line = int(6_000_000 * sf)
    n_ev = int(1_000_000 * sf)
    n_users = int(15_000 * sf)
    n_docs = int(50_000 * sf)
    n_vec = max(500, int(20_000 * sf))
    i32 = pa.int32()

    _write(out_dir, "region", {
        "r_regionkey": pa.array(range(5), i32),
        "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"],
    })
    _write(out_dir, "nation", {
        "n_nationkey": pa.array(range(25), i32),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array([i % 5 for i in range(25)], i32),
    })
    _write(out_dir, "customer", {
        "c_custkey": np.arange(n_cust, dtype=np.int64),
        "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
        "c_nationkey": pa.array(rng.integers(0, 25, n_cust), i32),
        "c_acctbal": np.round(rng.uniform(-999.99, 9999.99, n_cust), 2),
        "c_mktsegment": rng.choice(
            ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"], n_cust
        ),
    })
    _write(out_dir, "supplier", {
        "s_suppkey": np.arange(n_supp, dtype=np.int64),
        "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
        "s_nationkey": pa.array(rng.integers(0, 25, n_supp), i32),
        "s_acctbal": np.round(rng.uniform(-999.99, 9999.99, n_supp), 2),
    })
    adj = np.array(["blue", "cold", "hot", "large", "new", "old", "red", "small"])
    noun = np.array(["anvil", "bolt", "gear", "gizmo", "plate", "ring", "rod", "widget"])
    pk = np.arange(n_part, dtype=np.int64)
    _write(out_dir, "part", {
        "p_partkey": pk,
        "p_name": np.char.add(np.char.add(rng.choice(adj, n_part), " "), rng.choice(noun, n_part)),
        "p_brand": np.char.add("Brand#", rng.integers(1, 26, n_part).astype(str)),
        "p_type": rng.choice(["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"], n_part),
        "p_size": pa.array(rng.integers(1, 51, n_part), i32),
        "p_retailprice": np.round(900.0 + (pk % 1000) / 10.0, 2),
    })
    _write(out_dir, "orders", {
        "o_orderkey": np.arange(n_ord, dtype=np.int64),
        "o_custkey": rng.integers(0, n_cust, n_ord),
        "o_orderstatus": rng.choice(["F", "O", "P"], n_ord),
        "o_totalprice": np.round(rng.uniform(1000.0, 500000.0, n_ord), 2),
        "o_orderdate": _us("1995-01-01", rng, n_ord, 2404),
        "o_orderpriority": rng.choice(
            ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"], n_ord
        ),
    })
    _write(out_dir, "lineitem", {
        "l_orderkey": rng.integers(0, n_ord, n_line),
        "l_partkey": rng.integers(0, n_part, n_line),
        "l_suppkey": rng.integers(0, n_supp, n_line),
        "l_linenumber": pa.array(rng.integers(1, 8, n_line), i32),
        "l_quantity": rng.integers(1, 51, n_line).astype(np.float64),
        "l_extendedprice": np.round(rng.uniform(900.0, 105000.0, n_line), 2),
        "l_discount": rng.integers(0, 11, n_line) / 100.0,
        "l_tax": rng.integers(0, 9, n_line) / 100.0,
        "l_returnflag": rng.choice(["A", "N", "R"], n_line),
        "l_linestatus": rng.choice(["F", "O"], n_line),
        "l_shipdate": _us("1995-01-02", rng, n_line, 2498),
    })
    # events: ordered by event_id, 30 days of event time, exponential gaps
    gaps = rng.exponential(30 * 86_400e6 / n_ev, n_ev).astype(np.int64)
    ts = np.datetime64("2024-01-01T00:00:00", "us") + np.cumsum(gaps).astype("timedelta64[us]")
    _write(out_dir, "events", {
        "event_id": np.arange(n_ev, dtype=np.int64),
        "ts": pa.array(ts, pa.timestamp("us")),
        "user_id": rng.integers(0, n_users, n_ev),
        "event_type": rng.choice(["click", "error", "purchase", "signup", "view"], n_ev),
        "value": np.round(rng.exponential(50.0, n_ev), 2),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n_ev)],
    })
    # documents: random words from a small vocabulary; ~5% are a copy of an
    # earlier document with " dup" appended (the near-duplicate population)
    vocab = np.array(_VOCAB)
    lens = rng.integers(10, 101, n_docs)
    texts = [" ".join(rng.choice(vocab, n)) for n in lens]
    for i in np.flatnonzero(rng.random(n_docs) < 0.05):
        texts[i] = texts[int(rng.integers(0, n_docs))] + " dup"
    _write(out_dir, "documents", {
        "doc_id": np.arange(n_docs, dtype=np.int64),
        "text": texts,
        "lang": rng.choice(_LANGS, n_docs, p=_LANG_P),
        "source": [f"src{i % 20}" for i in range(n_docs)],
        "n_chars": np.array([len(t) for t in texts], dtype=np.int64),
    })
    vec = rng.standard_normal((n_vec, 64)).astype(np.float32)
    vec /= np.linalg.norm(vec, axis=1, keepdims=True)
    _write(out_dir, "embeddings", {
        "vec_id": np.arange(n_vec, dtype=np.int64),
        "embedding": pa.array(list(vec), pa.list_(pa.float32())),
        "label": pa.array(rng.integers(0, 10, n_vec), i32),
    })
    return {
        "customer": n_cust, "supplier": n_supp, "part": n_part, "orders": n_ord,
        "lineitem": n_line, "events": n_ev, "documents": n_docs, "embeddings": n_vec,
    }


STREAM_SCHEMA = "event_id bigint, ts timestamp, user_id bigint, value double"


@dataclass(frozen=True)
class StreamPlan:
    """Parameters of the ``stream_events`` arrival schedule.

    The first ``warmup_files`` files are processed during set-up, file 0 alone
    first; file ``i`` >= ``warmup_files`` is released at wall offset
    ``(i - warmup_files) * period_s`` after set-up. File ``i`` carries
    ``events_per_file`` events whose on-time event times cover
    ``[i * span_s, (i + 1) * span_s)``. A share ``ooo_share`` of them is moved
    back by up to half the watermark delay (out of order, never dropped); a
    share ``late_share`` is moved behind the watermark that file 0 alone sets,
    so those rows are dropped under any batching of the later files.
    """

    files: int
    period_s: float
    events_per_file: int
    warmup_files: int = 3
    span_s: int = 20
    window_s: int = 2
    delay_s: int = 10
    users: int = 1000
    zipf_a: float = 1.3
    ooo_share: float = 0.10
    late_share: float = 0.02


def stream_files(plan: StreamPlan, seed: int, out_dir: str) -> dict:
    """Write the ``plan.files`` event files under ``out_dir/files`` and
    ``truth.parquet``, which flags each late event for the oracle (the
    stream never reads it). Returns the schedule facts the workload needs:
    file names, each file's largest on-time event time and the final
    watermark, all in epoch microseconds (the watermark at Spark's
    millisecond precision)."""
    rng = np.random.default_rng([seed, 7])
    files_dir = os.path.join(out_dir, "files")
    os.makedirs(files_dir, exist_ok=True)
    t0 = int((_STREAM_T0 - np.datetime64(0, "us")).astype(np.int64))
    span_us = plan.span_s * 1_000_000
    delay_us = plan.delay_s * 1_000_000
    n = plan.events_per_file
    # once file 0 is processed alone the watermark is >= (max ts of file 0)
    # - delay >= late_cut + 2 windows, so rows below late_cut are late under
    # any batching of the later files
    late_cut = span_us // 2 - delay_us - 2 * plan.window_s * 1_000_000
    names, file_max, truth_ids, truth_late = [], [], [], []
    for i in range(plan.files):
        ts = i * span_us + np.sort(rng.integers(0, span_us, n))
        ooo = rng.random(n) < plan.ooo_share
        ts[ooo] -= rng.integers(0, delay_us // 2, int(ooo.sum()))
        late = np.zeros(n, dtype=bool)
        if i > 0:
            late = rng.random(n) < plan.late_share
            ts[late] = late_cut - rng.integers(0, 3_600_000_000, int(late.sum()))
        if i == 0:
            ts[-1] = max(int(ts.max()), span_us // 2)
        if i == plan.files - 1:
            # the final watermark (ms precision) stays off a window boundary
            ts[-1] = (int(ts.max()) // 1_000_000 + 1) * 1_000_000 + 500_000
            late[-1] = False
        # odd microseconds keep every event time off a window boundary
        ts = (ts | 1) + t0
        ids = np.arange(i * n, (i + 1) * n, dtype=np.int64)
        users = np.minimum(rng.zipf(plan.zipf_a, n), plan.users).astype(np.int64)
        name = f"ev{i:05d}.parquet"
        pq.write_table(
            pa.table({
                "event_id": ids,
                "ts": pa.array(ts, pa.timestamp("us", tz="UTC")),
                "user_id": users,
                "value": np.round(rng.exponential(50.0, n), 2),
            }),
            os.path.join(files_dir, name),
        )
        names.append(name)
        file_max.append(int(ts[~late].max()))
        truth_ids.append(ids)
        truth_late.append(late)
    pq.write_table(
        pa.table({"event_id": np.concatenate(truth_ids), "late": np.concatenate(truth_late)}),
        os.path.join(out_dir, "truth.parquet"),
    )
    final_wm = max(file_max) // 1000 * 1000 - delay_us
    return {"files_dir": files_dir, "files": names, "file_max_us": file_max, "final_wm_us": final_wm}
