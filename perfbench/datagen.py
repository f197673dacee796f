"""Seeded input tables for the benchmark.

Writes the tables the benchmarked entries read (``events``, ``customer``,
``orders``, ``lineitem``, ``documents``) as parquet, with the schemas of the
engine's scale tables (``TESTDATA.md``) and the properties its DuckDB
oracles rely on:

- ``events`` is stored in ``event_id`` order with strictly increasing
  millisecond timestamps, so no window ever sees peer rows;
- ``l_linenumber`` is unique within an order, so the ``sql_udaf_cate``
  ordering key and the ``sql_last_join`` tiebreak are unique;
- ``documents`` plant exact copies and one-token-longer near copies, so
  both dedup entries and the contamination audit have work to do.

The same seed gives the same tables.
"""

from __future__ import annotations

import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

#: 2024-01-01T00:00:00Z in epoch ms: start of the ``events`` history
EVENTS_START_MS = 1_704_067_200_000
EVENTS_SPAN_MS = 30 * 86_400_000
EVENT_TYPES = ("click", "view", "purchase", "signup", "error")
SEGMENTS = ("AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY")
LANGS = ("en", "de", "fr", "es", "zh")
#: document vocabulary: engine words plus one stopword of each language the
#: ``lang_id`` vote knows, so ``text_features`` guesses are not all 'und'
VOCAB = (
    "spark window merge table column vector stream value data small join "
    "filter big group hash customer sort order slow line part fast row agg "
    "key query scan batch the and der und le et el los"
).split()

_TS = pa.timestamp("us")


def _ms_to_ts(ms: np.ndarray) -> pa.Array:
    return pa.array(ms.astype("int64") * 1000, _TS)


def generate(out_dir: str, seed: int, sf: float) -> dict:
    """Write every table under ``out_dir``; return the row counts and the
    last history timestamp (request rows are stamped after it)."""
    rng = np.random.default_rng(seed)
    os.makedirs(out_dir, exist_ok=True)
    n_cust = max(100, int(150_000 * sf))
    n_events = max(1000, int(1_000_000 * sf))
    n_orders = max(1000, int(1_500_000 * sf))
    n_docs = max(100, int(50_000 * sf))

    def write(name: str, cols: dict) -> None:
        pq.write_table(pa.table(cols), os.path.join(out_dir, f"{name}.parquet"))

    write("customer", {
        "c_custkey": pa.array(np.arange(n_cust), pa.int64()),
        "c_name": pa.array([f"Customer#{i:09d}" for i in range(n_cust)]),
        "c_nationkey": pa.array(rng.integers(0, 25, n_cust), pa.int32()),
        "c_acctbal": pa.array(np.round(rng.uniform(-999.99, 9999.99, n_cust), 2)),
        "c_mktsegment": pa.array(rng.choice(SEGMENTS, n_cust)),
    })

    # strictly increasing ms timestamps: gaps of at least one second
    mean_gap = EVENTS_SPAN_MS // n_events
    gaps = rng.integers(1000, 2 * mean_gap - 1000, n_events)
    ts = EVENTS_START_MS + np.cumsum(gaps)
    users = rng.integers(0, n_cust, n_events)
    write("events", {
        "event_id": pa.array(np.arange(n_events), pa.int64()),
        "ts": _ms_to_ts(ts),
        "user_id": pa.array(users, pa.int64()),
        "event_type": pa.array(rng.choice(EVENT_TYPES, n_events)),
        "value": pa.array(np.round(rng.exponential(50.0, n_events), 2)),
        "props": pa.array([f'{{"k": {k}}}' for k in rng.integers(0, 100, n_events)]),
    })

    day_ms = 86_400_000
    odate = 788_918_400_000 + rng.integers(0, 2400, n_orders) * day_ms  # 1995-01-01 on
    write("orders", {
        "o_orderkey": pa.array(np.arange(n_orders), pa.int64()),
        "o_custkey": pa.array(rng.integers(0, n_cust, n_orders), pa.int64()),
        "o_orderstatus": pa.array(rng.choice(("O", "F", "P"), n_orders)),
        "o_totalprice": pa.array(np.round(rng.uniform(900, 450_000, n_orders), 2)),
        "o_orderdate": _ms_to_ts(odate),
        "o_orderpriority": pa.array(rng.choice(
            ("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"), n_orders)),
    })

    lines = rng.integers(1, 8, n_orders)  # 1..7 lines per order
    n_li = int(lines.sum())
    okey = np.repeat(np.arange(n_orders), lines)
    first = np.repeat(np.cumsum(lines) - lines, lines)
    linenumber = np.arange(n_li) - first + 1
    qty = rng.integers(1, 51, n_li).astype("float64")
    write("lineitem", {
        "l_orderkey": pa.array(okey, pa.int64()),
        "l_partkey": pa.array(rng.integers(0, max(200, int(200_000 * sf)), n_li), pa.int64()),
        "l_suppkey": pa.array(rng.integers(0, max(10, int(10_000 * sf)), n_li), pa.int64()),
        "l_linenumber": pa.array(linenumber, pa.int32()),
        "l_quantity": pa.array(qty),
        "l_extendedprice": pa.array(np.round(qty * rng.uniform(900, 2100, n_li), 2)),
        "l_discount": pa.array(rng.integers(0, 11, n_li) / 100.0),
        "l_tax": pa.array(rng.integers(0, 9, n_li) / 100.0),
        "l_returnflag": pa.array(rng.choice(("A", "N", "R"), n_li)),
        "l_linestatus": pa.array(rng.choice(("O", "F"), n_li)),
        "l_shipdate": _ms_to_ts(np.repeat(odate, lines) + rng.integers(1, 122, n_li) * day_ms),
    })

    lens = rng.integers(10, 101, n_docs)
    words = rng.choice(VOCAB, int(lens.sum()))
    texts = []
    pos = 0
    for k in lens:
        texts.append(" ".join(words[pos:pos + k]))
        pos += k
    for i in range(1, n_docs):
        r = rng.random()
        if r < 0.02:  # exact copy of an earlier document
            texts[i] = texts[rng.integers(0, i)]
        elif r < 0.07:  # near copy: one extra token
            texts[i] = texts[rng.integers(0, i)] + " dup"
    write("documents", {
        "doc_id": pa.array(np.arange(n_docs), pa.int64()),
        "text": pa.array(texts),
        "lang": pa.array(rng.choice(LANGS, n_docs)),
        "source": pa.array([f"src{k}" for k in rng.integers(0, 20, n_docs)]),
        "n_chars": pa.array([len(t) for t in texts], pa.int64()),
    })
    return {
        "customers": n_cust,
        "events": n_events,
        "documents": n_docs,
        "events_end_ms": int(ts[-1]),
    }
