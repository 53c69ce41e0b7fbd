"""Deterministic benchmark fixtures, built inside the checkout.

The benchmark cannot read fixtures from outside its checkout, so it
generates its own: the ten tables the engine loads (`schemas.TABLE_NAMES`),
with the same Arrow schemas and the same value domains as the engine's
reference fixtures (uniform TPC-H-shaped facts over a stable dimension
universe, an `events` stream, a planted-duplicate text corpus and
clustered unit embeddings). The generator seed is fixed: the run seed
varies op order and backfill dates, never the data, so every run of every
seed checks the same oracle results.

Two datasets are built once per generator fingerprint and cached under
`perfbench/.data/`:

- `base`: read by `curation_etl`;
- `x10`: ten key-shifted copies of the fact tables of a second generated
  dataset over its dimension tables, built by
  `tools/scale_stress.py:build_amplified`; read by `analytics_x10`.
"""

from __future__ import annotations

import datetime as dt
import hashlib
import os
import shutil

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

GEN_SEED = 42
AMP = 10

SCHEMAS = {
    "region": pa.schema([("r_regionkey", pa.int32()), ("r_name", pa.string())]),
    "nation": pa.schema(
        [("n_nationkey", pa.int32()), ("n_name", pa.string()), ("n_regionkey", pa.int32())]
    ),
    "customer": pa.schema(
        [("c_custkey", pa.int64()), ("c_name", pa.string()), ("c_nationkey", pa.int32()),
         ("c_acctbal", pa.float64()), ("c_mktsegment", pa.string())]
    ),
    "supplier": pa.schema(
        [("s_suppkey", pa.int64()), ("s_name", pa.string()), ("s_nationkey", pa.int32()),
         ("s_acctbal", pa.float64())]
    ),
    "part": pa.schema(
        [("p_partkey", pa.int64()), ("p_name", pa.string()), ("p_brand", pa.string()),
         ("p_type", pa.string()), ("p_size", pa.int32()), ("p_retailprice", pa.float64())]
    ),
    "orders": pa.schema(
        [("o_orderkey", pa.int64()), ("o_custkey", pa.int64()), ("o_orderstatus", pa.string()),
         ("o_totalprice", pa.float64()), ("o_orderdate", pa.timestamp("us")),
         ("o_orderpriority", pa.string())]
    ),
    "lineitem": pa.schema(
        [("l_orderkey", pa.int64()), ("l_partkey", pa.int64()), ("l_suppkey", pa.int64()),
         ("l_linenumber", pa.int32()), ("l_quantity", pa.float64()),
         ("l_extendedprice", pa.float64()), ("l_discount", pa.float64()),
         ("l_tax", pa.float64()), ("l_returnflag", pa.string()),
         ("l_linestatus", pa.string()), ("l_shipdate", pa.timestamp("us"))]
    ),
    "events": pa.schema(
        [("event_id", pa.int64()), ("ts", pa.timestamp("us")), ("user_id", pa.int64()),
         ("event_type", pa.string()), ("value", pa.float64()), ("props", pa.string())]
    ),
    "documents": pa.schema(
        [("doc_id", pa.int64()), ("text", pa.string()), ("lang", pa.string()),
         ("source", pa.string()), ("n_chars", pa.int64())]
    ),
    "embeddings": pa.schema(
        [("vec_id", pa.int64()), ("embedding", pa.list_(pa.float32())), ("label", pa.int32())]
    ),
}
REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PART_ADJ = ["blue", "cold", "hot", "large", "old", "red", "small", "shiny"]
PART_NOUN = ["anvil", "bolt", "gear", "plate", "ring", "rod", "widget", "valve"]
PART_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
LANGS = ["en", "zh", "de", "fr", "es"]
LANG_P = [0.41, 0.15, 0.14, 0.15, 0.15]
VOCAB = (
    "a agg batch big column customer data fast filter group hash join key line "
    "merge order part query row scan slow small sort spark stream table the "
    "value vector window"
).split()
DUP_TOKEN = "dup"

ORDER_DAY0 = dt.date(1995, 1, 1)
ORDER_DAYS = 2404  # o_orderdate spans 1995-01-01 .. 2001-08-01
SHIP_DAY0 = dt.date(1995, 1, 2)
SHIP_DAYS = 2499
EVENT_T0 = dt.datetime(2024, 1, 1)
EVENT_SPAN_US = 30 * 86_400 * 10**6


def _days(day0: dt.date, offsets: np.ndarray) -> pa.Array:
    base = np.datetime64(day0.isoformat(), "us")
    return pa.array(base + offsets.astype("timedelta64[D]"), pa.timestamp("us"))


def _money(rng: np.random.Generator, lo: float, hi: float, n: int) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, n), 2)


def _corpus(rng: np.random.Generator, n: int) -> list[str]:
    """Random-word documents with planted exact and near duplicates.

    A near duplicate is an earlier document of at least 30 words with one
    token appended, so its word-3-gram Jaccard with the original is at
    least 28/29: far above the near-dup threshold, which makes MinHash
    banding recall certain in practice for the fixed corpus."""
    texts: list[str] = []
    for i in range(n):
        roll = rng.random()
        if i >= 20 and roll < 0.02:
            texts.append(texts[int(rng.integers(0, i))])
        elif i >= 20 and roll < 0.06:
            long = [t for t in texts[-20:] if t.count(" ") >= 29]
            src = long[int(rng.integers(0, len(long)))] if long else None
            texts.append(f"{src} {DUP_TOKEN}" if src else _words(rng))
        else:
            texts.append(_words(rng))
    return texts


def _words(rng: np.random.Generator) -> str:
    n = int(rng.integers(10, 100))
    return " ".join(VOCAB[j] for j in rng.integers(0, len(VOCAB), n))


def generate(sf: float, out_dir: str) -> None:
    """Write the ten tables at scale factor ``sf`` into ``out_dir``."""
    rng = np.random.default_rng(GEN_SEED)
    n_cust, n_supp, n_part = int(150_000 * sf), int(10_000 * sf), int(200_000 * sf)
    n_ord, n_line, n_ev = int(1_500_000 * sf), int(6_000_000 * sf), int(1_000_000 * sf)
    n_users = max(1, int(15_000 * sf))
    n_docs, n_vec = max(500, int(50_000 * sf)), max(500, int(20_000 * sf))

    cust = np.arange(n_cust)
    supp = np.arange(n_supp)
    part = np.arange(n_part)
    ords = np.arange(n_ord)
    tables = {
        "region": {"r_regionkey": np.arange(5), "r_name": REGIONS},
        "nation": {
            "n_nationkey": np.arange(25),
            "n_name": [f"NATION_{i}" for i in range(25)],
            "n_regionkey": np.arange(25) % 5,
        },
        "customer": {
            "c_custkey": cust,
            "c_name": [f"Customer#{k:09d}" for k in cust],
            "c_nationkey": rng.integers(0, 25, n_cust),
            "c_acctbal": _money(rng, -999.99, 9999.99, n_cust),
            "c_mktsegment": rng.choice(SEGMENTS, n_cust).tolist(),
        },
        "supplier": {
            "s_suppkey": supp,
            "s_name": [f"Supplier#{k:09d}" for k in supp],
            "s_nationkey": rng.integers(0, 25, n_supp),
            "s_acctbal": _money(rng, -999.99, 9999.99, n_supp),
        },
        "part": {
            "p_partkey": part,
            "p_name": [
                f"{PART_ADJ[a]} {PART_NOUN[b]}"
                for a, b in zip(rng.integers(0, 8, n_part), rng.integers(0, 8, n_part))
            ],
            "p_brand": [f"Brand#{b}" for b in rng.integers(1, 26, n_part)],
            "p_type": rng.choice(PART_TYPES, n_part).tolist(),
            "p_size": rng.integers(1, 51, n_part),
            "p_retailprice": np.round(900 + (part % 1000) * 0.1, 2),
        },
        "orders": {
            "o_orderkey": ords,
            "o_custkey": rng.integers(0, n_cust, n_ord),
            "o_orderstatus": rng.choice(["F", "O", "P"], n_ord).tolist(),
            "o_totalprice": _money(rng, 1000, 500_000, n_ord),
            "o_orderdate": _days(ORDER_DAY0, rng.integers(0, ORDER_DAYS + 1, n_ord)),
            "o_orderpriority": rng.choice(PRIORITIES, n_ord).tolist(),
        },
        "lineitem": {
            "l_orderkey": rng.integers(0, n_ord, n_line),
            "l_partkey": rng.integers(0, n_part, n_line),
            "l_suppkey": rng.integers(0, n_supp, n_line),
            "l_linenumber": rng.integers(1, 8, n_line),
            "l_quantity": rng.integers(1, 51, n_line).astype(np.float64),
            # whole dollars: price x (1 - discount) then has two decimals,
            # so no group sum lands exactly on a half cent, where
            # round(sum, 2) would depend on summation order
            "l_extendedprice": np.round(rng.uniform(900, 105_000, n_line)),
            "l_discount": rng.integers(0, 11, n_line) / 100,
            "l_tax": rng.integers(0, 9, n_line) / 100,
            "l_returnflag": rng.choice(["A", "N", "R"], n_line).tolist(),
            "l_linestatus": rng.choice(["F", "O"], n_line).tolist(),
            "l_shipdate": _days(SHIP_DAY0, rng.integers(0, SHIP_DAYS, n_line)),
        },
        "events": {
            "event_id": np.arange(n_ev),
            "ts": pa.array(
                np.datetime64(EVENT_T0, "us")
                + np.sort(rng.integers(0, EVENT_SPAN_US, n_ev)).astype("timedelta64[us]"),
                pa.timestamp("us"),
            ),
            "user_id": rng.integers(0, n_users, n_ev),
            "event_type": rng.choice(EVENT_TYPES, n_ev).tolist(),
            "value": np.round(rng.exponential(50.0, n_ev), 2),
            "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n_ev)],
        },
    }
    texts = _corpus(rng, n_docs)
    tables["documents"] = {
        "doc_id": np.arange(n_docs),
        "text": texts,
        "lang": rng.choice(LANGS, n_docs, p=LANG_P).tolist(),
        "source": [f"src{i % 20}" for i in range(n_docs)],
        "n_chars": [len(t) for t in texts],
    }
    centers = rng.normal(size=(10, 64))
    labels = rng.integers(0, 10, n_vec)
    vecs = centers[labels] + rng.normal(scale=0.6, size=(n_vec, 64))
    vecs = (vecs / np.linalg.norm(vecs, axis=1, keepdims=True)).astype(np.float32)
    tables["embeddings"] = {
        "vec_id": np.arange(n_vec),
        "embedding": pa.array(list(vecs), pa.list_(pa.float32())),
        "label": labels,
    }
    os.makedirs(out_dir, exist_ok=True)
    for name, cols in tables.items():
        schema = SCHEMAS[name]
        arrays = [pa.array(cols[f.name], f.type) for f in schema]
        pq.write_table(pa.Table.from_arrays(arrays, schema=schema),
                       os.path.join(out_dir, f"{name}.parquet"))


def fingerprint(base_sf: float, x10_sf: float) -> str:
    """Hash of the generator, the amplification rule and their arguments."""
    root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    h = hashlib.sha1(repr((base_sf, x10_sf, AMP)).encode())
    for path in (__file__, os.path.join(root, "tools", "scale_stress.py")):
        with open(path, "rb") as f:
            h.update(f.read())
    return h.hexdigest()[:10]


def ensure(data_root: str, base_sf: float, x10_sf: float) -> tuple[dict[str, str], float | None]:
    """Paths of the ``base`` and ``x10`` datasets, building them if this
    fingerprint has none yet. Returns (paths, build seconds or None).

    Directory names carry the fingerprint because the engine keys its
    derived-layout cache (`.derived/<dir name>/`) on them."""
    import time

    from tools.scale_stress import build_amplified

    fp = fingerprint(base_sf, x10_sf)
    paths = {"base": os.path.join(data_root, f"pb_base_{fp}"),
             "x10": os.path.join(data_root, f"pb_x10_{fp}")}
    if all(os.path.exists(os.path.join(p, "embeddings.parquet")) for p in paths.values()):
        return paths, None
    t0 = time.perf_counter()
    for p in paths.values():
        shutil.rmtree(p, ignore_errors=True)
    tmp = {k: p + ".tmp" for k, p in paths.items()}
    src = paths["x10"] + ".src"
    for p in [*tmp.values(), src]:
        shutil.rmtree(p, ignore_errors=True)
    generate(base_sf, tmp["base"])
    if x10_sf == base_sf:
        src = tmp["base"]
    else:
        generate(x10_sf, src)
    build_amplified(src, AMP, tmp["x10"])
    if src != tmp["base"]:
        shutil.rmtree(src)
    for k in ("x10", "base"):
        os.rename(tmp[k], paths[k])
    return paths, time.perf_counter() - t0
