"""Seeded input generators for the benchmark.

Everything is derived from one ``numpy.random.Generator`` per call, so the
same seed writes byte-identical parquet. Two families:

- ``write_raw_datapoints``: a dense HDB++ datapoint stream (regular
  sampling with jitter) for the ``/image`` workload. The caller pushes it
  through ``sources.hdbpp.write_datapoints``, so the store has the engine's
  own layout.
- ``write_testdata``: the ten testdata tables (``events``, ``documents``,
  ``embeddings`` and the TPC-H-style dimensions) in the shapes the engine's
  fixtures and extension queries read, at a chosen size.
"""

from __future__ import annotations

import os
from datetime import datetime, timezone

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

#: store epoch: all generated time series start at this instant (UTC)
EPOCH = datetime(2024, 1, 1)
_EPOCH_US = int(EPOCH.replace(tzinfo=timezone.utc).timestamp()) * 1_000_000
_DAY_US = 86_400_000_000

CS = "tango://bench:10000"
DATA_TYPE = "scalar_devdouble_ro"
#: value shapes: strictly positive decades (log axes), zero-crossing sines,
#: positive drift; every third attribute of each kind is its own family
_KINDS = ("pressure", "current", "temperature")


def dense_attribute_names(n_attrs: int) -> list[str]:
    """Catalog attribute names (without the control system), lower case."""
    return [
        f"r{i % 3}/{_KINDS[i % 3][:3]}/dev-{i // 3:02d}/{_KINDS[i % 3]}"
        for i in range(n_attrs)
    ]


def write_raw_datapoints(
    path: str, seed: int, n_attrs: int, days: int, step_s: int
) -> int:
    """One parquet file of (att_conf_id, data_type, ts, value_r,
    error_desc) rows: ``n_attrs`` series sampled every ``step_s`` seconds
    (uniform jitter of half a step) for ``days`` days from ``EPOCH``.
    About 0.2% of readings are error rows (NULL value, error text).
    Returns the number of points."""
    rng = np.random.default_rng(seed)
    step_us = step_s * 1_000_000
    per = days * 86_400 // step_s
    base = _EPOCH_US + np.arange(per, dtype=np.int64) * step_us
    ids, ts, vals = [], [], []
    for i in range(n_attrs):
        t = base + rng.integers(0, step_us // 2, per)
        hours = (t - _EPOCH_US) / 3.6e9
        # shape parameters follow the attribute index, not the seed, so the
        # raster draws about the same number of pixels on every seed
        period = 8.0 + i % 5
        phase = rng.uniform(0, 2 * np.pi)
        wave = np.sin(2 * np.pi * hours / period + phase)
        noise = rng.normal(0.0, 1.0, per)
        kind = _KINDS[i % 3]
        if kind == "pressure":
            v = 10.0 ** (-8.0 + 1.5 * wave + 0.05 * noise)
        elif kind == "current":
            v = (100 + 10 * (i % 7)) * wave + 2.0 * noise
        else:
            v = 20.0 + 0.02 * hours + 2.0 * wave + 0.1 * noise
        ids.append(np.full(per, i + 1, dtype=np.int64))
        ts.append(t)
        vals.append(v)
    ids = np.concatenate(ids)
    ts = np.concatenate(ts)
    vals = np.concatenate(vals)
    err = rng.random(len(vals)) < 0.002
    table = pa.table(
        {
            "att_conf_id": ids,
            "data_type": pa.array(np.full(len(ids), DATA_TYPE)),
            "ts": pa.array(ts, pa.timestamp("us", tz="UTC")),
            "value_r": pa.array(vals, mask=err),
            "error_desc": pa.array(np.where(err, "Read error", None)),
        }
    )
    pq.write_table(table, path)
    return len(ids)


#: the testdata documents' vocabulary
_WORDS = (
    "a agg batch big column customer data fast filter group hash join key "
    "line merge order part query row scan slow small sort spark stream "
    "table the value vector window"
).split()
_LANGS = ["en", "en", "en", "zh", "de", "es", "fr"]
_EVENT_TYPES = ["signup", "click", "error", "view", "purchase"]


def _events(rng, n_rows: int, n_users: int, days: int) -> pa.Table:
    ts = np.sort(_EPOCH_US + rng.integers(0, days * _DAY_US, n_rows))
    return pa.table(
        {
            "event_id": np.arange(n_rows, dtype=np.int64),
            "ts": pa.array(ts, pa.timestamp("us")),
            "user_id": rng.integers(0, n_users, n_rows),
            "event_type": pa.array(np.array(_EVENT_TYPES)[rng.integers(0, 5, n_rows)]),
            "value": np.round(rng.exponential(50.0, n_rows), 2) + 0.01,
            "props": pa.array([f'{{"k": {k}}}' for k in rng.integers(0, 100, n_rows)]),
        }
    )


def _documents(rng, n_docs: int) -> pa.Table:
    """Random-word documents with a fixed shape: lengths cycle through
    20..89 words and every 7th document is a near-duplicate (two words
    replaced) of a seeded earlier one, so the dedup and text operators do
    the same amount of work on every seed."""
    words = np.array(_WORDS)
    texts: list[str] = []
    for i in range(n_docs):
        if i % 7 == 6:
            dup = texts[int(rng.integers(0, i))].split()
            for k in rng.integers(0, len(dup), 2):
                dup[int(k)] = str(words[int(rng.integers(0, len(words)))])
            texts.append(" ".join(dup))
        else:
            texts.append(" ".join(words[rng.integers(0, len(words), 20 + (i * 37) % 70)]))
    return pa.table(
        {
            "doc_id": np.arange(n_docs, dtype=np.int64),
            "text": texts,
            "lang": np.array(_LANGS)[np.arange(n_docs) % len(_LANGS)],
            "source": [f"src{i % 20}" for i in range(n_docs)],
            "n_chars": np.array([len(t) for t in texts], dtype=np.int64),
        }
    )


def _embeddings(rng, n_vecs: int, dim: int = 64, n_labels: int = 10) -> pa.Table:
    centers = rng.normal(0.0, 0.12, (n_labels, dim))
    labels = np.arange(n_vecs) % n_labels
    vecs = (centers[labels] + rng.normal(0.0, 0.08, (n_vecs, dim))).astype(np.float32)
    return pa.table(
        {
            "vec_id": np.arange(n_vecs, dtype=np.int64),
            "embedding": pa.array(list(vecs), pa.list_(pa.float32())),
            "label": labels.astype(np.int32),
        }
    )


def _dimensions(rng, n_orders: int) -> dict[str, pa.Table]:
    n_cust, n_supp, n_part = max(n_orders // 10, 10), max(n_orders // 150, 5), max(n_orders // 7, 20)
    day = 86_400_000_000
    lo = int(datetime(1995, 1, 1, tzinfo=timezone.utc).timestamp()) * 1_000_000

    def dates(n):
        return pa.array(lo + rng.integers(0, 2400, n) * day, pa.timestamp("us"))

    n_li = n_orders * 4
    return {
        "region": pa.table({"r_regionkey": np.arange(5, dtype=np.int64),
                            "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]}),
        "nation": pa.table({"n_nationkey": np.arange(25, dtype=np.int64),
                            "n_name": [f"NATION_{i}" for i in range(25)],
                            "n_regionkey": np.arange(25, dtype=np.int64) % 5}),
        "customer": pa.table({"c_custkey": np.arange(n_cust, dtype=np.int64),
                              "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
                              "c_nationkey": rng.integers(0, 25, n_cust),
                              "c_acctbal": np.round(rng.uniform(-999, 9999, n_cust), 2),
                              "c_mktsegment": np.array(["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"])[rng.integers(0, 5, n_cust)]}),
        "supplier": pa.table({"s_suppkey": np.arange(n_supp, dtype=np.int64),
                              "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
                              "s_nationkey": rng.integers(0, 25, n_supp),
                              "s_acctbal": np.round(rng.uniform(-999, 9999, n_supp), 2)}),
        "part": pa.table({"p_partkey": np.arange(n_part, dtype=np.int64),
                          "p_name": np.array(["small ring", "red widget", "blue bolt", "steel gear"])[rng.integers(0, 4, n_part)],
                          "p_brand": [f"Brand#{b}" for b in rng.integers(1, 25, n_part)],
                          "p_type": np.array(["ECONOMY", "STANDARD", "PROMO", "LARGE"])[rng.integers(0, 4, n_part)],
                          "p_size": rng.integers(1, 50, n_part),
                          "p_retailprice": np.round(rng.uniform(900, 2000, n_part), 2)}),
        "orders": pa.table({"o_orderkey": np.arange(n_orders, dtype=np.int64),
                            "o_custkey": rng.integers(0, n_cust, n_orders),
                            "o_orderstatus": np.array(["F", "O", "P"])[rng.integers(0, 3, n_orders)],
                            "o_totalprice": np.round(rng.uniform(1000, 500000, n_orders), 2),
                            "o_orderdate": dates(n_orders),
                            "o_orderpriority": np.array(["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"])[rng.integers(0, 5, n_orders)]}),
        "lineitem": pa.table({"l_orderkey": rng.integers(0, n_orders, n_li),
                              "l_partkey": rng.integers(0, n_part, n_li),
                              "l_suppkey": rng.integers(0, n_supp, n_li),
                              "l_linenumber": rng.integers(1, 8, n_li).astype(np.int32),
                              "l_quantity": rng.integers(1, 51, n_li).astype(np.float64),
                              "l_extendedprice": np.round(rng.uniform(900, 100000, n_li), 2),
                              "l_discount": rng.integers(0, 11, n_li) / 100.0,
                              "l_tax": rng.integers(0, 9, n_li) / 100.0,
                              "l_returnflag": np.array(["A", "N", "R"])[rng.integers(0, 3, n_li)],
                              "l_linestatus": np.array(["F", "O"])[rng.integers(0, 2, n_li)],
                              "l_shipdate": dates(n_li)}),
    }


def write_testdata(
    sf_dir: str,
    seed: int,
    n_events: int,
    n_users: int,
    n_docs: int,
    n_vecs: int,
    n_orders: int,
    days: int = 30,
) -> None:
    """Write the ten testdata tables as ``<sf_dir>/<name>.parquet``."""
    rng = np.random.default_rng(seed)
    os.makedirs(sf_dir, exist_ok=True)
    tables = _dimensions(rng, n_orders)
    tables["events"] = _events(rng, n_events, n_users, days)
    tables["documents"] = _documents(rng, n_docs)
    tables["embeddings"] = _embeddings(rng, n_vecs)
    for name, table in tables.items():
        pq.write_table(table, os.path.join(sf_dir, f"{name}.parquet"))
