"""Seeded benchmark inputs, written straight with pyarrow and cached.

* Journey ticks: the rows ``streaming.generator.JourneyGenerator.cycle``
  emits, laid out exactly as ``generator.write_tick`` lays them out (same
  virtual clock, same cycles per tick, one parquet file per table per
  tick), but without a round trip through ``createDataFrame``. Only the
  three tables the dashboard pipelines read are written.
* Analytic tables: a TPC-H-style star schema plus ``events``,
  ``documents`` and ``embeddings`` with the column names, types and value
  domains the ``workload.QUERIES`` builders read.

Every input is a pure function of its arguments. A finished input set is
cached under a directory named by those arguments and marked complete
with a ``_DONE`` file, so an interrupted write is never reused.
"""

from __future__ import annotations

import datetime as dt
import os
import shutil

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq
from pyspark.sql.pandas.types import to_arrow_schema

from cdc_pipeline_spark.streaming import generator

TICK_TABLES = ("orders", "user_events", "request_log")


def _cached(path: str, build) -> str:
    if os.path.exists(os.path.join(path, "_DONE")):
        return path
    shutil.rmtree(path, ignore_errors=True)
    tmp = path + ".partial"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    build(tmp)
    open(os.path.join(tmp, "_DONE"), "w").close()
    os.rename(tmp, path)
    return path


def _arrow_schemas() -> dict[str, pa.Schema]:
    # Spark TimestampType is an instant; naive generator datetimes are UTC.
    return {t: to_arrow_schema(generator.TABLE_SCHEMAS[t]) for t in TICK_TABLES}


def write_ticks(out: str, seed: int, n_ticks: int, rate: float, tick_seconds: float,
                error_rate: float) -> None:
    """``n_ticks`` ticks of ``rate × tick_seconds`` journey cycles each, as
    ``out/<table>/<tick:06d>.parquet``."""
    schemas = _arrow_schemas()
    gen = generator.JourneyGenerator(seed=seed, error_rate=error_rate)
    cycles = int(rate * tick_seconds)
    for table in TICK_TABLES:
        os.makedirs(os.path.join(out, table), exist_ok=True)
    utc = dt.timezone.utc
    for tick in range(n_ticks):
        rows: dict[str, list[dict]] = {t: [] for t in TICK_TABLES}
        for c in range(cycles):
            now = generator._BASE + dt.timedelta(
                seconds=tick * tick_seconds + (c / max(cycles, 1)) * tick_seconds
            )
            for table, got in gen.cycle(now).items():
                if table in rows:
                    rows[table].extend(got)
        for table in TICK_TABLES:
            schema = schemas[table]
            for row in rows[table]:
                for f in schema:
                    v = row.get(f.name)
                    if isinstance(v, dt.datetime):
                        row[f.name] = v.replace(tzinfo=utc)
            tbl = pa.Table.from_pylist(rows[table], schema=schema)
            pq.write_table(tbl, os.path.join(out, table, f"{tick:06d}.parquet"))


def ticks(cache: str, seed: int, n_ticks: int, rate: float, tick_seconds: float,
          error_rate: float) -> str:
    """Cached tick set; returns its directory (one subdirectory per table)."""
    key = f"ticks-s{seed}-n{n_ticks}-r{rate:g}-t{tick_seconds:g}-e{error_rate:g}"
    return _cached(os.path.join(cache, key),
                   lambda d: write_ticks(d, seed, n_ticks, rate, tick_seconds, error_rate))


# ---------------------------------------------------------------------------
# Analytic tables
# ---------------------------------------------------------------------------

_WORDS = ("join hash row batch scan column customer filter small slow merge order "
          "vector line table data agg value key stream window a spark part group "
          "big sort query fast the").split()
_LANGS = (["en", "zh", "es", "de", "fr"], [0.44, 0.15, 0.15, 0.14, 0.12])
_SEGMENTS = ["FURNITURE", "MACHINERY", "BUILDING", "HOUSEHOLD", "AUTOMOBILE"]
_PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
_PART_ADJ = ["cold", "small", "large", "blue", "old", "new", "red", "hot"]
_PART_NOUN = ["widget", "bolt", "rod", "anvil", "ring", "gear", "nut", "pipe"]
_PART_TYPES = ["ECONOMY", "PROMO", "LARGE", "MEDIUM", "STANDARD", "SMALL"]
_EVENT_TYPES = ["signup", "error", "click", "view", "purchase"]


def _ts(base: str, seconds: np.ndarray) -> pa.Array:
    start = np.datetime64(base, "us")
    return pa.array(start + (seconds * 1e6).astype("int64").astype("timedelta64[us]"),
                    type=pa.timestamp("us"))


def write_tables(out: str, seed: int, scale: float) -> None:
    """The ten analytic tables at ``scale`` (1.0 ≈ 60k lineitem rows)."""
    rng = np.random.default_rng(seed)
    n_cust, n_supp, n_part = int(1500 * scale), max(10, int(100 * scale)), int(2000 * scale)
    n_ord, n_line, n_ev = int(15000 * scale), int(60000 * scale), int(10000 * scale)
    n_docs = n_vec = 200
    day = 86400.0

    def save(name, cols):
        pq.write_table(pa.table(cols), os.path.join(out, f"{name}.parquet"))

    save("region", {"r_regionkey": pa.array(range(5), pa.int32()),
                    "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]})
    save("nation", {"n_nationkey": pa.array(range(25), pa.int32()),
                    "n_name": [f"NATION_{i}" for i in range(25)],
                    "n_regionkey": pa.array(rng.integers(0, 5, 25), pa.int32())})
    save("customer", {
        "c_custkey": np.arange(n_cust, dtype="int64"),
        "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
        "c_nationkey": pa.array(rng.integers(0, 25, n_cust), pa.int32()),
        "c_acctbal": np.round(rng.uniform(-999.99, 9999.99, n_cust), 2),
        "c_mktsegment": rng.choice(_SEGMENTS, n_cust).tolist(),
    })
    save("supplier", {
        "s_suppkey": np.arange(n_supp, dtype="int64"),
        "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
        "s_nationkey": pa.array(rng.integers(0, 25, n_supp), pa.int32()),
        "s_acctbal": np.round(rng.uniform(-999.99, 9999.99, n_supp), 2),
    })
    price = np.round(900.0 + (np.arange(n_part) % 200) * 0.1, 1)
    save("part", {
        "p_partkey": np.arange(n_part, dtype="int64"),
        "p_name": [f"{a} {b}" for a, b in zip(rng.choice(_PART_ADJ, n_part), rng.choice(_PART_NOUN, n_part))],
        "p_brand": [f"Brand#{i}" for i in rng.integers(1, 26, n_part)],
        "p_type": rng.choice(_PART_TYPES, n_part).tolist(),
        "p_size": pa.array(rng.integers(1, 51, n_part), pa.int32()),
        "p_retailprice": price,
    })
    save("orders", {
        "o_orderkey": np.arange(n_ord, dtype="int64"),
        "o_custkey": rng.integers(0, n_cust, n_ord),
        "o_orderstatus": rng.choice(["F", "O", "P"], n_ord).tolist(),
        "o_totalprice": np.round(rng.uniform(1000.0, 500000.0, n_ord), 2),
        "o_orderdate": _ts("1995-01-01", rng.integers(0, 2404, n_ord) * day),
        "o_orderpriority": rng.choice(_PRIORITIES, n_ord).tolist(),
    })
    partkey = rng.integers(0, n_part, n_line)
    qty = rng.integers(1, 51, n_line).astype("float64")
    save("lineitem", {
        "l_orderkey": rng.integers(0, n_ord, n_line),
        "l_partkey": partkey,
        "l_suppkey": rng.integers(0, n_supp, n_line),
        "l_linenumber": pa.array(rng.integers(1, 8, n_line), pa.int32()),
        "l_quantity": qty,
        # whole hundreds: price × (1 - discount) × (1 + tax) then has at most
        # two decimals, so the queries' round-half-up of a double sum never
        # meets a tie that summation order could break either way
        "l_extendedprice": 100.0 * np.round(qty * price[partkey] * rng.uniform(0.9, 1.1, n_line) / 100),
        "l_discount": rng.integers(0, 11, n_line) / 100.0,
        "l_tax": rng.integers(0, 9, n_line) / 100.0,
        "l_returnflag": rng.choice(["A", "N", "R"], n_line).tolist(),
        "l_linestatus": rng.choice(["O", "F"], n_line).tolist(),
        "l_shipdate": _ts("1995-01-02", rng.integers(0, 2499, n_line) * day),
    })
    save("events", {
        "event_id": np.arange(n_ev, dtype="int64"),
        "ts": _ts("2024-01-01", np.sort(rng.uniform(0, 30 * day, n_ev))),
        "user_id": rng.integers(0, 150, n_ev),
        "event_type": rng.choice(_EVENT_TYPES, n_ev).tolist(),
        "value": np.maximum(0.01, np.round(rng.lognormal(3.5, 0.9, n_ev), 2)),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n_ev)],
    })
    texts = [" ".join(rng.choice(_WORDS, rng.integers(10, 110))) for _ in range(n_docs)]
    for i in rng.choice(np.arange(1, n_docs), n_docs // 20, replace=False):
        texts[i] = texts[rng.integers(0, i)] + " dup"  # near-duplicates
    save("documents", {
        "doc_id": np.arange(n_docs, dtype="int64"),
        "text": texts,
        "lang": rng.choice(_LANGS[0], n_docs, p=_LANGS[1]).tolist(),
        "source": [f"src{i}" for i in rng.integers(0, 20, n_docs)],
        "n_chars": np.array([len(t) for t in texts], dtype="int64"),
    })
    labels = rng.integers(0, 10, n_vec)
    centers = rng.normal(size=(10, 64))
    # clusters overlap enough that embedding_kmeans runs all its Lloyd
    # iterations on every seed; tighter clusters converge after 3 to 5,
    # which made its cost, and the mix's, depend on the seed
    vecs = centers[labels] + rng.normal(scale=2.0, size=(n_vec, 64))
    for i in rng.choice(np.arange(1, n_vec), n_vec // 20, replace=False):
        vecs[i] = vecs[rng.integers(0, i)] + rng.normal(scale=0.01, size=64)
    vecs = (vecs / np.linalg.norm(vecs, axis=1, keepdims=True)).astype("float32")
    save("embeddings", {
        "vec_id": np.arange(n_vec, dtype="int64"),
        "embedding": pa.array(list(vecs), pa.list_(pa.float32())),
        "label": pa.array(labels, pa.int32()),
    })


def tables(cache: str, seed: int, scale: float) -> str:
    return _cached(os.path.join(cache, f"tables-s{seed}-x{scale:g}"),
                   lambda d: write_tables(d, seed, scale))
