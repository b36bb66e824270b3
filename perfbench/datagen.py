"""Seeded inputs for the benchmark workloads.

Everything the engine sees is made here from ``--seed``: the ten
registry tables (TPC-H-shaped star plus ``events``, ``documents`` and
``embeddings``) and the weather-station polls the ETL workload loads.
The same seed always gives byte-identical parquet files and batches.
Only numpy and pyarrow are used, so generation needs no Spark session.
"""

from __future__ import annotations

import hashlib
import os

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq

_DAY_US = 86_400_000_000
_EPOCH_1995 = np.datetime64("1995-01-01", "us").astype(np.int64)
_EPOCH_2024 = np.datetime64("2024-01-01", "us").astype(np.int64)

_WORDS = (
    "a agg batch big column customer data fast filter group hash join key "
    "line merge order part query row scan slow small sort spark stream "
    "table the value vector window"
).split()
_LANGS = (["en", "zh", "es", "de", "fr"], [0.44, 0.15, 0.146, 0.14, 0.124])


def _round2(x: np.ndarray) -> np.ndarray:
    return np.round(x, 2)


def _ts(us: np.ndarray) -> pa.Array:
    return pa.array(us.astype(np.int64), type=pa.int64()).cast(pa.timestamp("us"))


def _n(base: int, sf: float) -> int:
    return max(1, int(round(base * sf / 0.001)))


def make_tables(seed: int, sf: float) -> dict[str, pa.Table]:
    """The ten registry tables at scale ``sf`` (row counts follow the
    TPC-H ratios: 6,000 lineitems per 0.001)."""
    rng = np.random.default_rng([seed, 1])
    t: dict[str, pa.Table] = {}

    t["region"] = pa.table({
        "r_regionkey": pa.array(np.arange(5), pa.int32()),
        "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"],
    })
    t["nation"] = pa.table({
        "n_nationkey": pa.array(np.arange(25), pa.int32()),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array(np.arange(25) % 5, pa.int32()),
    })

    n_c = _n(150, sf)
    t["customer"] = pa.table({
        "c_custkey": np.arange(n_c, dtype=np.int64),
        "c_name": [f"Customer#{i:09d}" for i in range(n_c)],
        "c_nationkey": pa.array(rng.integers(0, 25, n_c), pa.int32()),
        "c_acctbal": _round2(rng.uniform(-999.99, 9999.99, n_c)),
        "c_mktsegment": rng.choice(
            ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"], n_c
        ),
    })

    n_s = _n(10, sf)
    t["supplier"] = pa.table({
        "s_suppkey": np.arange(n_s, dtype=np.int64),
        "s_name": [f"Supplier#{i:09d}" for i in range(n_s)],
        "s_nationkey": pa.array(rng.integers(0, 25, n_s), pa.int32()),
        "s_acctbal": _round2(rng.uniform(-999.99, 9999.99, n_s)),
    })

    n_p = _n(200, sf)
    adj = np.array("blue cold hot large new old red small".split())
    noun = np.array("anvil bolt gear gizmo plate ring rod widget".split())
    keys = np.arange(n_p, dtype=np.int64)
    t["part"] = pa.table({
        "p_partkey": keys,
        "p_name": np.char.add(
            np.char.add(rng.choice(adj, n_p), " "), rng.choice(noun, n_p)
        ),
        "p_brand": np.char.add("Brand#", rng.integers(1, 26, n_p).astype(str)),
        "p_type": rng.choice(
            ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"], n_p
        ),
        "p_size": pa.array(rng.integers(1, 51, n_p), pa.int32()),
        "p_retailprice": _round2(900.0 + (keys % 1000) / 10.0),
    })

    n_o = _n(1500, sf)
    t["orders"] = pa.table({
        "o_orderkey": np.arange(n_o, dtype=np.int64),
        "o_custkey": rng.integers(0, n_c, n_o),
        "o_orderstatus": rng.choice(["F", "O", "P"], n_o),
        "o_totalprice": _round2(rng.uniform(1000.0, 500000.0, n_o)),
        "o_orderdate": _ts(_EPOCH_1995 + rng.integers(0, 2404, n_o) * _DAY_US),
        "o_orderpriority": rng.choice(
            ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"], n_o
        ),
    })

    n_l = _n(6000, sf)
    t["lineitem"] = pa.table({
        "l_orderkey": rng.integers(0, n_o, n_l),
        "l_partkey": rng.integers(0, n_p, n_l),
        "l_suppkey": rng.integers(0, n_s, n_l),
        "l_linenumber": pa.array(rng.integers(1, 8, n_l), pa.int32()),
        "l_quantity": rng.integers(1, 51, n_l).astype(np.float64),
        "l_extendedprice": _round2(rng.uniform(900.0, 105000.0, n_l)),
        "l_discount": rng.integers(0, 11, n_l) / 100.0,
        "l_tax": rng.integers(0, 9, n_l) / 100.0,
        "l_returnflag": rng.choice(["R", "A", "N"], n_l),
        "l_linestatus": rng.choice(["O", "F"], n_l),
        "l_shipdate": _ts(_EPOCH_1995 + (1 + rng.integers(0, 2499, n_l)) * _DAY_US),
    })

    n_e = _n(1000, sf)
    n_users = _n(15, sf)
    t["events"] = pa.table({
        "event_id": np.arange(n_e, dtype=np.int64),
        "ts": _ts(np.sort(_EPOCH_2024 + rng.integers(0, 30 * _DAY_US, n_e))),
        "user_id": rng.integers(0, n_users, n_e),
        "event_type": rng.choice(["click", "error", "purchase", "signup", "view"], n_e),
        "value": np.maximum(_round2(rng.exponential(50.0, n_e)), 0.01),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n_e)],
    })

    n_d = 500 if sf <= 0.01 else _n(50, sf)
    lens = rng.integers(10, 100, n_d)
    texts = [" ".join(rng.choice(_WORDS, k)) for k in lens]
    # One document in twenty is a near-duplicate: an earlier text with
    # one or two extra tokens, which the dedup families must find.
    for i in np.flatnonzero(rng.random(n_d) < 0.05):
        src = int(rng.integers(0, n_d))
        if src != i:
            texts[i] = texts[src] + " dup" * int(rng.integers(1, 3))
    t["documents"] = pa.table({
        "doc_id": np.arange(n_d, dtype=np.int64),
        "text": texts,
        "lang": rng.choice(_LANGS[0], n_d, p=_LANGS[1]),
        "source": [f"src{i % 20}" for i in range(n_d)],
        "n_chars": np.array([len(s) for s in texts], dtype=np.int64),
    })

    n_v = 500 if sf <= 0.01 else 2000
    centers = rng.normal(size=(10, 64))
    centers /= np.linalg.norm(centers, axis=1, keepdims=True)
    labels = rng.integers(0, 10, n_v)
    vecs = 0.15 * centers[labels] + rng.normal(scale=0.125, size=(n_v, 64))
    vecs /= np.linalg.norm(vecs, axis=1, keepdims=True)
    t["embeddings"] = pa.table({
        "vec_id": np.arange(n_v, dtype=np.int64),
        "embedding": pa.array(list(vecs.astype(np.float32)), pa.list_(pa.float32())),
        "label": pa.array(labels, pa.int32()),
    })
    return t


def write_tables(tables: dict[str, pa.Table], out_dir: str) -> int:
    """Write ``<name>.parquet`` per table; returns the total bytes."""
    os.makedirs(out_dir, exist_ok=True)
    total = 0
    for name, table in tables.items():
        path = os.path.join(out_dir, f"{name}.parquet")
        pq.write_table(table, path)
        total += os.path.getsize(path)
    return total


def make_batches(seed: int, n_batches: int, stations: int) -> list[pd.DataFrame]:
    """``n_batches`` consecutive 5-minute polls of ``stations`` weather
    stations, in the raw-API column layout the transform core takes.
    Stations sit on the 25 whole-hour UTC offsets, so a batch spans one
    or two local dates; the first poll falls on a seeded day of 2024,
    so seeds land in different seasons."""
    rng = np.random.default_rng([seed, 2])
    start = int(np.datetime64("2024-01-01", "s").astype(np.int64))
    start += int(rng.integers(0, 366)) * 86_400 + int(rng.integers(0, 288)) * 300
    ids = np.arange(stations, dtype=np.int64)
    tz = ((ids % 25) - 12) * 3600
    out = []
    for b in range(n_batches):
        ts = start + 300 * b + rng.integers(0, 300, stations)
        temp = _round2(rng.normal(18.0, 9.0, stations))
        out.append(pd.DataFrame({
            "station_id": ids,
            "timestamp": ts.astype(np.int64),
            "timezone": tz,
            "sunrise_ts": (ts - 21_600).astype(np.int64),
            "sunset_ts": (ts + 21_600).astype(np.int64),
            "temp": temp,
            "temp_min": _round2(temp - rng.uniform(0, 3, stations)),
            "temp_max": _round2(temp + rng.uniform(0, 3, stations)),
            "feels_like": _round2(temp + rng.normal(0, 1.5, stations)),
            "humidity": rng.integers(5, 101, stations).astype(np.float64),
            "pressure": np.round(rng.normal(1013.0, 6.0, stations), 1),
            "wind_speed": _round2(rng.gamma(2.0, 2.0, stations)),
            "wind_direction": rng.integers(0, 360, stations).astype(np.float64),
            "visibility": rng.choice([10000.0, 8000.0, 5000.0], stations),
            "cloudiness": rng.integers(0, 101, stations).astype(np.float64),
        }))
    return out


def digest(frames: list[pd.DataFrame] | dict[str, pa.Table]) -> str:
    """sha256 over the frames' contents, for the same-seed self-test."""
    h = hashlib.sha256()
    items = frames.items() if isinstance(frames, dict) else enumerate(frames)
    for key, f in items:
        h.update(str(key).encode())
        if isinstance(f, pa.Table):
            sink = pa.BufferOutputStream()
            pq.write_table(f, sink)
            h.update(sink.getvalue().to_pybytes())
        else:
            h.update(pd.util.hash_pandas_object(f, index=True).to_numpy().tobytes())
    return h.hexdigest()
