"""Seeded input generator for the benchmark.

Writes TPC-H-shaped fixture tables (the schema `feature_store_spark.tables`
loads) and builds the request and event sequences the workloads replay.
Everything is a pure function of the seed and the scale, so the same seed
gives byte-identical inputs; the program under test sees only the files.

Distributions follow the sf0.1 driver fixtures (TESTDATA.md): uniform custkeys,
order dates uniform over 1995-01-01..2001-08-01, three order statuses,
five priorities, ship dates uniform over the same span, events over the
first tenth of the users during January 2024.
"""

from __future__ import annotations

import datetime as dt
import os
from collections.abc import Iterator

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

ORDER_START = np.datetime64("1995-01-01")
ORDER_END = np.datetime64("2001-08-01")  # tables.REF_DATE: the newest order
SHIP_END = np.datetime64("2001-11-04")
EVENT_START = np.datetime64("2024-01-01T00:00:00", "us")
EVENT_SPAN_US = 30 * 86400 * 10**6  # events run to tables.EVENTS_NOW

SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
STATUSES = ["F", "O", "P"]
EVENT_TYPES = ["signup", "click", "purchase", "error", "view"]
LANGS = ["en", "de", "fr", "es", "zh"]
WORDS = ("spark batch stream value key table join scan sort hash group "
         "window query filter data row column order line part fast slow "
         "big small vector merge agg").split()


def _days(rng, lo, hi, n):
    span = int((hi - lo).astype(int))
    return (lo + rng.integers(0, span + 1, n)).astype("datetime64[us]")


def _prices(rng, n):
    """Uniform order totals plus a seeded 0.2% of far outliers, so the
    3-sigma outlier count the quality report computes is not zero."""
    p = rng.uniform(1000.0, 500000.0, n)
    wild = rng.random(n) < 0.002
    p[wild] *= 20.0
    return np.round(p, 2)


def write_tables(out_dir: str, seed: int, n_customers: int) -> dict[str, int]:
    """Write every fixture table as ``<name>.parquet`` under ``out_dir``.
    Returns the row count per table."""
    rng = np.random.default_rng(seed)
    os.makedirs(out_dir, exist_ok=True)
    n_c = n_customers
    n_o = 10 * n_c
    n_l = 4 * n_o
    n_users_ev = max(1, n_c // 10)
    n_e = max(100, (20 * n_c) // 3)
    n_d = max(50, n_c // 3)

    tables = {
        "customer": pa.table({
            "c_custkey": np.arange(n_c, dtype=np.int64),
            "c_name": [f"Customer#{i:09d}" for i in range(n_c)],
            "c_nationkey": rng.integers(0, 25, n_c).astype(np.int32),
            "c_acctbal": np.round(rng.uniform(-999.99, 9999.99, n_c), 2),
            "c_mktsegment": rng.choice(SEGMENTS, n_c),
        }),
        "orders": pa.table({
            "o_orderkey": np.arange(n_o, dtype=np.int64),
            "o_custkey": rng.integers(0, n_c, n_o).astype(np.int64),
            "o_orderstatus": rng.choice(STATUSES, n_o),
            "o_totalprice": _prices(rng, n_o),
            "o_orderdate": _days(rng, ORDER_START, ORDER_END, n_o),
            "o_orderpriority": rng.choice(PRIORITIES, n_o),
        }),
        "lineitem": pa.table({
            "l_orderkey": rng.integers(0, n_o, n_l).astype(np.int64),
            "l_partkey": rng.integers(0, 20000, n_l).astype(np.int64),
            "l_suppkey": rng.integers(0, 1000, n_l).astype(np.int64),
            "l_linenumber": rng.integers(1, 8, n_l).astype(np.int32),
            "l_quantity": rng.integers(1, 51, n_l).astype(np.float64),
            "l_extendedprice": np.round(rng.uniform(900.0, 100000.0, n_l), 2),
            "l_discount": np.round(rng.uniform(0.0, 0.1, n_l), 2),
            "l_tax": np.round(rng.uniform(0.0, 0.08, n_l), 2),
            "l_returnflag": rng.choice(["A", "N", "R"], n_l),
            "l_linestatus": rng.choice(["F", "O"], n_l),
            "l_shipdate": _days(rng, ORDER_START, SHIP_END, n_l),
        }),
        "events": pa.table({
            "event_id": np.arange(n_e, dtype=np.int64),
            "ts": np.sort(EVENT_START + rng.integers(0, EVENT_SPAN_US, n_e)
                          .astype("timedelta64[us]")),
            "user_id": rng.integers(0, n_users_ev, n_e).astype(np.int64),
            "event_type": rng.choice(EVENT_TYPES, n_e),
            "value": np.round(rng.uniform(0.0, 500.0, n_e), 2),
            "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n_e)],
        }),
    }
    n_words = rng.integers(5, 60, n_d)
    text = [" ".join(rng.choice(WORDS, k)) for k in n_words]
    # a few missing values, so the completeness report has work to show
    lang = pa.array(rng.choice(LANGS, n_d), mask=rng.random(n_d) < 0.02)
    tables["documents"] = pa.table({
        "doc_id": np.arange(n_d, dtype=np.int64),
        "text": pa.array(text, mask=rng.random(n_d) < 0.01),
        "lang": lang,
        "source": [f"src{k}" for k in rng.integers(0, 20, n_d)],
        "n_chars": np.array([len(t) for t in text], dtype=np.int64),
    })
    # dimension and LLM tables: unused by the workloads, written so the
    # fixture directory is complete (the DuckDB oracle registers them all)
    tables["region"] = pa.table({
        "r_regionkey": np.arange(5, dtype=np.int32),
        "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"],
    })
    tables["nation"] = pa.table({
        "n_nationkey": np.arange(25, dtype=np.int32),
        "n_name": [f"NATION{i}" for i in range(25)],
        "n_regionkey": (np.arange(25) % 5).astype(np.int32),
    })
    tables["supplier"] = pa.table({
        "s_suppkey": np.arange(1000, dtype=np.int64),
        "s_name": [f"Supplier#{i:09d}" for i in range(1000)],
        "s_nationkey": rng.integers(0, 25, 1000).astype(np.int32),
        "s_acctbal": np.round(rng.uniform(-999.99, 9999.99, 1000), 2),
    })
    tables["part"] = pa.table({
        "p_partkey": np.arange(20000, dtype=np.int64),
        "p_name": [f"part {i}" for i in range(20000)],
        "p_brand": [f"Brand#{k}" for k in rng.integers(11, 56, 20000)],
        "p_type": rng.choice(["STANDARD", "SMALL", "MEDIUM", "LARGE"], 20000),
        "p_size": rng.integers(1, 51, 20000).astype(np.int32),
        "p_retailprice": np.round(rng.uniform(900.0, 2100.0, 20000), 2),
    })
    tables["embeddings"] = pa.table({
        "vec_id": np.arange(64, dtype=np.int64),
        "embedding": pa.array(list(rng.standard_normal((64, 8)).astype(np.float32)),
                              type=pa.list_(pa.float32())),
        "label": rng.integers(0, 4, 64).astype(np.int32),
    })
    for name, t in tables.items():
        pq.write_table(t, os.path.join(out_dir, f"{name}.parquet"))
    return {name: t.num_rows for name, t in tables.items()}


def zipf_requests(seed: int, classes: dict[str, list[int]], batch_every: int,
                  batch_size: int, s: float = 1.0,
                  stream: int = 1) -> Iterator[tuple[str, object]]:
    """An endless fixed seeded request sequence of ('point', uid) and
    ('batch', [uids]); every ``batch_every``-th request is a batch of
    ``batch_size`` distinct users. ``stream`` picks an independent
    sequence for the same seed (the untimed warm-up uses its own).

    ``classes`` partitions the users by which feature groups they have.
    Each drawn key first takes its class from a fixed interleave in
    proportion to the class sizes, then a user within the class, Zipf(s)
    over a seeded permutation. So every seed sends the same traffic share
    to users lacking a group (the population's share) while the hot keys
    change with the seed; plain Zipf over all users lets the top few ranks
    swing that share by tens of points between seeds."""
    rng = np.random.default_rng([seed, stream])
    names = sorted(c for c in classes if classes[c])
    hot = {c: rng.permutation(np.asarray(sorted(classes[c]), dtype=np.int64))
           for c in names}
    total = sum(len(hot[c]) for c in names)
    share = {c: len(hot[c]) / total for c in names}
    cdf = {}
    for c in names:
        w = 1.0 / np.arange(1, len(hot[c]) + 1, dtype=np.float64) ** s
        cdf[c] = np.cumsum(w / w.sum())
    drawn = {c: 0 for c in names}
    n_drawn = 0

    def draw() -> int:
        nonlocal n_drawn
        n_drawn += 1
        c = max(names, key=lambda k: n_drawn * share[k] - drawn[k])
        drawn[c] += 1
        r = min(int(np.searchsorted(cdf[c], rng.random())), len(hot[c]) - 1)
        return int(hot[c][r])

    i = 0
    while True:
        i += 1
        if i % batch_every == 0:
            keys: dict[int, None] = {}
            while len(keys) < min(batch_size, total):
                keys[draw()] = None
            yield "batch", list(keys)
        else:
            yield "point", draw()


def event_batch(rng, user_ids, n_events: int, first_event_id: int,
                ts: dt.datetime) -> pa.Table:
    """One event file's rows: purchases for ``n_events`` distinct users
    (so the latest value per user is unambiguous), stamped ``ts``."""
    users = rng.choice(np.asarray(user_ids, dtype=np.int64), n_events,
                       replace=False)
    ts_arr = np.full(n_events, np.datetime64(ts, "us"))
    return pa.table({
        "event_id": np.arange(first_event_id, first_event_id + n_events,
                              dtype=np.int64),
        "ts": ts_arr,
        "user_id": users,
        "event_type": np.full(n_events, "purchase"),
        "value": np.round(rng.uniform(0.0, 500.0, n_events), 2),
        "props": np.full(n_events, '{"k": 0}'),
    })


def land_atomically(table: pa.Table, events_dir: str, name: str) -> str:
    """Write to a hidden temp name, then rename into the watched dir, so
    the stream never sees a half-written file."""
    tmp = os.path.join(events_dir, f".{name}.tmp")
    pq.write_table(table, tmp)
    final = os.path.join(events_dir, f"{name}.parquet")
    os.replace(tmp, final)
    return final
