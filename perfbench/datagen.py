"""Deterministic input generation for the benchmark.

Two kinds of input:

* ``write_tables`` writes the star-schema, events, documents and
  embeddings tables the registered queries read, one parquet file per
  table, with the schemas and value ranges of the engine's testdata.
  These tables come from a fixed data seed, so the output fingerprints
  in ``fixtures/fingerprints.json`` hold for every benchmark seed; the
  benchmark seed only sets the order of the ops.
* ``geo_inputs`` makes the points and polygons of the ``geoparquet_io``
  workload from the benchmark seed.

Only numpy and pyarrow are used here, so the inputs do not depend on the
engine under test.
"""

from __future__ import annotations

import hashlib
import json
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

DATA_SEED = 20240101
GENERATOR_VERSION = 1

_US_PER_DAY = 86_400_000_000
_EPOCH_1995 = np.datetime64("1995-01-01", "us")
_EPOCH_2024 = np.datetime64("2024-01-01", "us")

_REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
_SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
_PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
_PART_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
_ADJ = ["blue", "cold", "hot", "large", "new", "old", "red", "small"]
_NOUN = ["anvil", "bolt", "gear", "gizmo", "plate", "ring", "rod", "widget"]
_EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
_WORDS = (
    "a agg batch big column customer data fast filter group hash join key "
    "line merge order part query row scan slow small sort spark stream "
    "table the value vector window"
).split()
_LANGS = ["en", "de", "es", "fr", "zh"]
_LANG_P = [0.4, 0.15, 0.15, 0.15, 0.15]


def table_sizes(sf: float) -> dict[str, int]:
    """Row counts per table at scale factor ``sf`` (testdata's ratios)."""
    return {
        "supplier": int(10_000 * sf),
        "part": int(200_000 * sf),
        "customer": int(150_000 * sf),
        "orders": int(1_500_000 * sf),
        "lineitem": int(6_000_000 * sf),
        "events": int(1_000_000 * sf),
        "documents": max(500, int(50_000 * sf)),
        "embeddings": max(500, int(20_000 * sf)),
    }


def _choice(rng: np.random.Generator, values: list[str], n: int, p=None) -> pa.Array:
    return pa.array(np.asarray(values, dtype=object)[rng.choice(len(values), n, p=p)])


def _money(rng: np.random.Generator, lo: float, hi: float, n: int) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, n), 2)


def _days(rng: np.random.Generator, start: np.datetime64, span: int, n: int) -> pa.Array:
    ts = start + rng.integers(0, span, n).astype("timedelta64[D]").astype("timedelta64[us]")
    return pa.array(ts, pa.timestamp("us"))


def make_tables(sf: float, seed: int = DATA_SEED) -> dict[str, pa.Table]:
    """Every table at scale ``sf``; same ``(sf, seed)`` gives equal tables."""
    rng = np.random.default_rng(seed)
    size = table_sizes(sf)
    t: dict[str, pa.Table] = {}
    t["region"] = pa.table({
        "r_regionkey": pa.array(range(5), pa.int32()),
        "r_name": _REGIONS,
    })
    t["nation"] = pa.table({
        "n_nationkey": pa.array(range(25), pa.int32()),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32()),
    })
    n = size["supplier"]
    t["supplier"] = pa.table({
        "s_suppkey": np.arange(n, dtype=np.int64),
        "s_name": [f"Supplier#{i:09d}" for i in range(n)],
        "s_nationkey": rng.integers(0, 25, n).astype(np.int32),
        "s_acctbal": _money(rng, -999.99, 9999.99, n),
    })
    n = size["part"]
    names = [f"{a} {b}" for a in _ADJ for b in _NOUN]
    t["part"] = pa.table({
        "p_partkey": np.arange(n, dtype=np.int64),
        "p_name": _choice(rng, names, n),
        "p_brand": _choice(rng, [f"Brand#{i}" for i in range(1, 26)], n),
        "p_type": _choice(rng, _PART_TYPES, n),
        "p_size": rng.integers(1, 51, n).astype(np.int32),
        "p_retailprice": np.round(900.0 + (np.arange(n) % 1000) / 10.0, 2),
    })
    n = size["customer"]
    t["customer"] = pa.table({
        "c_custkey": np.arange(n, dtype=np.int64),
        "c_name": [f"Customer#{i:09d}" for i in range(n)],
        "c_nationkey": rng.integers(0, 25, n).astype(np.int32),
        "c_acctbal": _money(rng, -999.99, 9999.99, n),
        "c_mktsegment": _choice(rng, _SEGMENTS, n),
    })
    n = size["orders"]
    t["orders"] = pa.table({
        "o_orderkey": np.arange(n, dtype=np.int64),
        "o_custkey": rng.integers(0, size["customer"], n).astype(np.int64),
        "o_orderstatus": _choice(rng, ["F", "O", "P"], n),
        "o_totalprice": _money(rng, 1000.0, 500_000.0, n),
        "o_orderdate": _days(rng, _EPOCH_1995, 2404, n),
        "o_orderpriority": _choice(rng, _PRIORITIES, n),
    })
    n = size["lineitem"]
    t["lineitem"] = pa.table({
        "l_orderkey": rng.integers(0, size["orders"], n).astype(np.int64),
        "l_partkey": rng.integers(0, size["part"], n).astype(np.int64),
        "l_suppkey": rng.integers(0, size["supplier"], n).astype(np.int64),
        "l_linenumber": rng.integers(1, 8, n).astype(np.int32),
        "l_quantity": rng.integers(1, 51, n).astype(np.float64),
        "l_extendedprice": _money(rng, 900.0, 105_000.0, n),
        "l_discount": rng.integers(0, 11, n) / 100.0,
        "l_tax": rng.integers(0, 9, n) / 100.0,
        "l_returnflag": _choice(rng, ["A", "N", "R"], n),
        "l_linestatus": _choice(rng, ["F", "O"], n),
        "l_shipdate": _days(rng, _EPOCH_1995 + np.timedelta64(1, "D"), 2499, n),
    })
    n = size["events"]
    # Arrivals over 30 days, strictly increasing, µs precision.
    gaps = rng.exponential(1.0, n)
    span_us = 30 * _US_PER_DAY
    offs = np.cumsum(gaps) / gaps.sum() * (span_us - 1_000_000)
    offs = np.maximum.accumulate(offs.astype(np.int64) + np.arange(n))
    t["events"] = pa.table({
        "event_id": np.arange(n, dtype=np.int64),
        "ts": pa.array(_EPOCH_2024 + offs.astype("timedelta64[us]"), pa.timestamp("us")),
        "user_id": rng.integers(0, max(15, int(15_000 * sf)), n).astype(np.int64),
        "event_type": _choice(rng, _EVENT_TYPES, n),
        "value": np.round(rng.exponential(50.0, n), 2),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n)],
    })
    t["documents"] = _documents(rng, size["documents"])
    t["embeddings"] = _embeddings(rng, size["embeddings"])
    return t


def _documents(rng: np.random.Generator, n: int) -> pa.Table:
    """Random texts over a small vocabulary; 5% are near-duplicates: a
    copy of another document with the token ``dup`` appended."""
    lens = rng.integers(10, 101, n)
    words = np.asarray(_WORDS, dtype=object)
    texts = [" ".join(words[rng.integers(0, len(_WORDS), k)]) for k in lens]
    dups = rng.choice(n, n // 20, replace=False)
    for i in dups:
        j = int(rng.integers(0, n))
        if j != i:
            texts[i] = texts[j] + " dup"
    return pa.table({
        "doc_id": np.arange(n, dtype=np.int64),
        "text": texts,
        "lang": _choice(rng, _LANGS, n, p=_LANG_P),
        "source": [f"src{i % 20}" for i in range(n)],
        "n_chars": np.array([len(s) for s in texts], dtype=np.int64),
    })


def _embeddings(rng: np.random.Generator, n: int, dim: int = 64) -> pa.Table:
    """Unit float32 vectors in 10 weakly separated label clusters."""
    labels = rng.integers(0, 10, n).astype(np.int32)
    centers = rng.normal(0.0, 1.0, (10, dim))
    vecs = rng.normal(0.0, 1.0, (n, dim)) + 0.6 * centers[labels]
    vecs /= np.linalg.norm(vecs, axis=1, keepdims=True)
    flat = pa.array(vecs.astype(np.float32).ravel())
    return pa.table({
        "vec_id": np.arange(n, dtype=np.int64),
        "embedding": pa.FixedSizeListArray.from_arrays(flat, dim).cast(pa.list_(pa.float32())),
        "label": labels,
    })


def tables_digest(tables: dict[str, pa.Table]) -> str:
    """SHA-256 over every table's Arrow IPC bytes, in name order."""
    h = hashlib.sha256()
    for name in sorted(tables):
        sink = pa.BufferOutputStream()
        with pa.ipc.new_stream(sink, tables[name].schema) as w:
            w.write_table(tables[name])
        h.update(name.encode())
        h.update(sink.getvalue().to_pybytes())
    return h.hexdigest()


def write_tables(out_dir: str, sf: float) -> str:
    """Write the tables under ``out_dir`` once; return its path.

    A ``MANIFEST.json`` written last marks a complete data set, so an
    interrupted generation is redone on the next run."""
    manifest = os.path.join(out_dir, "MANIFEST.json")
    want = {"version": GENERATOR_VERSION, "sf": sf, "seed": DATA_SEED}
    if os.path.exists(manifest):
        with open(manifest) as f:
            if {k: v for k, v in json.load(f).items() if k in want} == want:
                return out_dir
    os.makedirs(out_dir, exist_ok=True)
    tables = make_tables(sf)
    for name, tbl in tables.items():
        pq.write_table(tbl, os.path.join(out_dir, f"{name}.parquet"))
    with open(manifest, "w") as f:
        json.dump({**want, "digest": tables_digest(tables)}, f)
    return out_dir


# ------------------------------------------------------------ geo inputs

EXTENT = (-180.0, -90.0, 180.0, 90.0)
TILES = 16  # tile grid per axis for the tile-ordered layout


def geo_inputs(seed: int, n_points: int, n_polygons: int) -> dict[str, np.ndarray]:
    """Points and small axis-aligned square polygons over ``EXTENT``.

    Returns columns ``id``, ``x``/``y`` (point coordinates, or polygon
    centres), ``half`` (polygon half-size, 0 for points), ``attr`` and
    ``tile`` (row-major index of the tile holding x/y)."""
    rng = np.random.default_rng(seed)
    n = n_points + n_polygons
    x0, y0, x1, y1 = EXTENT
    half = np.zeros(n)
    half[n_points:] = rng.uniform(0.05, 0.5, n_polygons)
    x = rng.uniform(x0 + 0.5, x1 - 0.5, n)
    y = rng.uniform(y0 + 0.5, y1 - 0.5, n)
    # Pin the extent's corners so the written bbox is known exactly.
    x[0], y[0], x[1], y[1] = x0, y0, x1, y1
    tx = np.minimum(((x - x0) / (x1 - x0) * TILES).astype(int), TILES - 1)
    ty = np.minimum(((y - y0) / (y1 - y0) * TILES).astype(int), TILES - 1)
    return {
        "id": np.arange(n, dtype=np.int64),
        "x": x,
        "y": y,
        "half": half,
        "attr": rng.integers(0, 1000, n).astype(np.int64),
        "tile": ty * TILES + tx,
    }


def windows(seed: int, fractions: tuple[float, ...]) -> list[tuple[float, float, float, float]]:
    """One query window per area fraction of ``EXTENT``, placed from ``seed``."""
    rng = np.random.default_rng(seed + 1)
    x0, y0, x1, y1 = EXTENT
    out = []
    for frac in fractions:
        w = (x1 - x0) * frac**0.5
        h = (y1 - y0) * frac**0.5
        cx = rng.uniform(x0 + w / 2, x1 - w / 2)
        cy = rng.uniform(y0 + h / 2, y1 - h / 2)
        out.append((round(cx - w / 2, 6), round(cy - h / 2, 6),
                    round(cx + w / 2, 6), round(cy + h / 2, 6)))
    return out
