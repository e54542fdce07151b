"""Seeded input generators (NumPy + pyarrow, no Spark), so every run
builds its inputs inside the checkout and the same seed gives the same
bytes.

- ``write_registry_tables``: the ten tables the query registry reads
  (TPC-H-shaped star schema, an ``events`` stream, a ``documents``
  corpus with exact and near duplicates, and unit-norm ``embeddings``),
  with the column names, types and value domains the registry expects.
  Row counts scale with ``sf`` (0.1 = 600,000 lineitem rows).
- ``anomalies_frame``: an anomaly table in the detector's output schema,
  for the alerts API workload.
"""

from __future__ import annotations

import os

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq

REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
PART_ADJ = ["red", "blue", "hot", "cold", "old", "new", "small", "large"]
PART_NOUN = ["bolt", "ring", "plate", "rod", "gear", "anvil", "nut", "pipe"]
PART_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
LANGS = ["en", "de", "es", "fr", "zh"]
LANG_P = [0.41, 0.14, 0.15, 0.15, 0.15]
VOCAB = (
    "a agg batch big column customer data fast filter group hash join key "
    "line merge order part query row scan slow small sort spark stream table "
    "the value vector window"
).split()

DAY_US = 86_400 * 1_000_000


def _days(rng, lo: str, hi: str, n: int) -> np.ndarray:
    """Uniform whole days in [lo, hi] as microsecond timestamps."""
    d0 = np.datetime64(lo, "D").astype(np.int64)
    d1 = np.datetime64(hi, "D").astype(np.int64)
    return rng.integers(d0, d1 + 1, n, dtype=np.int64) * DAY_US


def _ts(us: np.ndarray) -> pa.Array:
    return pa.array(us, type=pa.timestamp("us"))


def write_registry_tables(out_dir: str, seed: int, sf: float = 0.1) -> dict[str, int]:
    """Write the registry's ten tables to ``out_dir``; return row counts."""
    rng = np.random.default_rng(seed)
    os.makedirs(out_dir, exist_ok=True)
    n_cust = int(150_000 * sf)
    n_supp = int(10_000 * sf)
    n_part = int(200_000 * sf)
    n_ord = int(1_500_000 * sf)
    n_line = int(6_000_000 * sf)
    n_evt = int(1_000_000 * sf)
    n_doc = max(500, int(50_000 * sf))
    n_emb = max(500, int(20_000 * sf))
    n_user = max(15, int(15_000 * sf))
    tables: dict[str, pa.Table] = {}

    tables["region"] = pa.table({
        "r_regionkey": pa.array(range(5), pa.int32()),
        "r_name": REGIONS,
    })
    tables["nation"] = pa.table({
        "n_nationkey": pa.array(range(25), pa.int32()),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32()),
    })
    tables["customer"] = pa.table({
        "c_custkey": np.arange(n_cust, dtype=np.int64),
        "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
        "c_nationkey": rng.integers(0, 25, n_cust).astype(np.int32),
        "c_acctbal": np.round(rng.uniform(-999.99, 9999.99, n_cust), 2),
        "c_mktsegment": np.array(SEGMENTS)[rng.integers(0, 5, n_cust)],
    })
    tables["supplier"] = pa.table({
        "s_suppkey": np.arange(n_supp, dtype=np.int64),
        "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
        "s_nationkey": rng.integers(0, 25, n_supp).astype(np.int32),
        "s_acctbal": np.round(rng.uniform(-999.99, 9999.99, n_supp), 2),
    })
    pk = np.arange(n_part, dtype=np.int64)
    names = np.array([f"{a} {b}" for a in PART_ADJ for b in PART_NOUN])
    tables["part"] = pa.table({
        "p_partkey": pk,
        "p_name": names[rng.integers(0, len(names), n_part)],
        "p_brand": np.array([f"Brand#{i}" for i in range(1, 26)])[rng.integers(0, 25, n_part)],
        "p_type": np.array(PART_TYPES)[rng.integers(0, 6, n_part)],
        "p_size": rng.integers(1, 51, n_part).astype(np.int32),
        "p_retailprice": np.round(900.0 + (pk % 1000) / 10.0, 2),
    })
    tables["orders"] = pa.table({
        "o_orderkey": np.arange(n_ord, dtype=np.int64),
        "o_custkey": rng.integers(0, n_cust, n_ord, dtype=np.int64),
        "o_orderstatus": np.array(["F", "O", "P"])[rng.integers(0, 3, n_ord)],
        "o_totalprice": np.round(rng.uniform(1000.0, 500_000.0, n_ord), 2),
        "o_orderdate": _ts(_days(rng, "1995-01-01", "2001-08-01", n_ord)),
        "o_orderpriority": np.array(PRIORITIES)[rng.integers(0, 5, n_ord)],
    })
    tables["lineitem"] = pa.table({
        "l_orderkey": rng.integers(0, n_ord, n_line, dtype=np.int64),
        "l_partkey": rng.integers(0, n_part, n_line, dtype=np.int64),
        "l_suppkey": rng.integers(0, n_supp, n_line, dtype=np.int64),
        "l_linenumber": rng.integers(1, 8, n_line).astype(np.int32),
        "l_quantity": rng.integers(1, 51, n_line).astype(np.float64),
        "l_extendedprice": np.round(rng.uniform(900.0, 105_000.0, n_line), 2),
        "l_discount": rng.integers(0, 11, n_line) / 100.0,
        "l_tax": rng.integers(0, 9, n_line) / 100.0,
        "l_returnflag": np.array(["A", "N", "R"])[rng.integers(0, 3, n_line)],
        "l_linestatus": np.array(["F", "O"])[rng.integers(0, 2, n_line)],
        "l_shipdate": _ts(_days(rng, "1995-01-02", "2001-11-04", n_line)),
    })
    t0 = np.datetime64("2024-01-01", "us").astype(np.int64)
    ts = np.sort(t0 + rng.integers(0, 30 * DAY_US, n_evt, dtype=np.int64))
    tables["events"] = pa.table({
        "event_id": np.arange(n_evt, dtype=np.int64),
        "ts": _ts(ts),
        "user_id": rng.integers(0, n_user, n_evt, dtype=np.int64),
        "event_type": np.array(EVENT_TYPES)[rng.integers(0, 5, n_evt)],
        "value": np.round(rng.exponential(50.0, n_evt), 2),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n_evt)],
    })
    tables["documents"] = pa.table(_documents(rng, n_doc))
    vec = rng.standard_normal((n_emb, 64)).astype(np.float32)
    vec /= np.linalg.norm(vec, axis=1, keepdims=True)
    tables["embeddings"] = pa.table({
        "vec_id": np.arange(n_emb, dtype=np.int64),
        "embedding": pa.array(list(vec), type=pa.list_(pa.float32())),
        "label": rng.integers(0, 10, n_emb).astype(np.int32),
    })
    for name, table in tables.items():
        pq.write_table(table, os.path.join(out_dir, f"{name}.parquet"))
    return {name: t.num_rows for name, t in tables.items()}


def _documents(rng, n: int) -> dict:
    """Random-word documents; about 5% are near duplicates of an earlier
    document (one word appended) and a few are exact copies, so the
    dedup and near-duplicate queries have clusters to find."""
    vocab = np.array(VOCAB)
    texts: list[str] = []
    for i in range(n):
        r = rng.random()
        if i > 10 and r < 0.05:
            texts.append(texts[int(rng.integers(0, i))] + " dup")
        elif i > 10 and r < 0.052:
            texts.append(texts[int(rng.integers(0, i))])
        else:
            words = vocab[rng.integers(0, len(vocab), int(rng.integers(10, 101)))]
            texts.append(" ".join(words))
    return {
        "doc_id": np.arange(n, dtype=np.int64),
        "text": texts,
        "lang": np.array(LANGS)[rng.choice(5, n, p=LANG_P)],
        "source": [f"src{i % 20}" for i in range(n)],
        "n_chars": np.array([len(t) for t in texts], dtype=np.int64),
    }


RULES = ["temp_drift", "clogged_filter", "compressor_failure",
         "oscillating_control", "isolation_forest"]
RULE_METRIC = {
    "temp_drift": "temp_zone_c", "clogged_filter": "fan_speed_pct",
    "compressor_failure": "power_kw", "oscillating_control": "temp_zone_c",
    "isolation_forest": "multiple",
}
SEVERITIES = ["low", "medium", "high"]
FAULTS = ["none", "clogged_filter", "compressor_failure", "temp_drift",
          "oscillating_control"]
ANOMALY_START = "2024-01-01"
ANOMALY_DAYS = 30


def anomalies_frame(seed: int, n: int = 100_000, n_zones: int = 10) -> pd.DataFrame:
    """An anomaly table in the detector's output schema: timestamps on a
    5-minute grid over 30 days, zones Z1..Zn, the five rule names, three
    severities and the injected-fault label."""
    rng = np.random.default_rng(seed)
    ticks = ANOMALY_DAYS * 288
    ts = (np.datetime64(ANOMALY_START, "us")
          + rng.integers(0, ticks, n) * np.timedelta64(5, "m"))
    rule = np.array(RULES)[rng.integers(0, len(RULES), n)]
    return pd.DataFrame({
        # UTC-adjusted, so Spark reads a TimestampType column
        "timestamp": pd.to_datetime(ts.astype("datetime64[us]")).tz_localize("UTC"),
        "zone_id": np.array([f"Z{i + 1}" for i in range(n_zones)])[rng.integers(0, n_zones, n)],
        "ahu_id": "AHU1",
        "metric": [RULE_METRIC[r] for r in rule],
        "score": np.round(rng.uniform(0.0, 3.0, n), 4),
        "rule_name": rule,
        "severity": np.array(SEVERITIES)[rng.integers(0, 3, n)],
        "fault_type_label": np.array(FAULTS)[rng.integers(0, len(FAULTS), n)],
    })
