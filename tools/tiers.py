"""Generated fixture tiers for ``tools/check.py --sf <tier>``.

Each tier is a copy of sf0.001 in its own directory under ``.fuzz/``,
with one table file per ``schemas.TABLE_NAMES`` in the sf0.001 footer's
schema, built on demand by ``TIERS[name]()``, which returns the
directory:

- ``empty``: every table truncated to 0 rows. Zero-row inputs are what a
  filter-everything predicate, an empty ingest partition or a date with
  no events produce; on them an operator must return exactly what its
  oracle returns (usually 0 rows, or one all-NULL/zero row for global
  aggregates), never raise.
- ``empty_facts``: the fact tables empty, the dimensions populated — the
  realistic mixed shape of an empty fact partition.
- ``one_row``: every table truncated to its first row (degenerate
  statistics: variance of one point, 0/0 ratios, windows of width one).
- ``fuzz``: sf0.001 with realistic edges appended (see below); a key can
  be green at every SF and still crash or diverge on them.
- ``fuzz_nulls``: ``fuzz`` plus NULLs in nullable non-key columns.

Fuzz perturbations (deterministic):
- documents: empty/1-char/29/30/31-char texts, shared verbatim
  boilerplate across 3 docs, unicode text, single-token text, runs of
  spaces, a 10k-char doc; (wave 3) beyond-BMP 4-byte UTF-8 with
  ZWJ/skin-tone/regional-indicator sequences, combining-mark vs
  precomposed spellings (NFD vs NFC), RTL+LTR mix, and LF/CRLF/tab
  control whitespace — any byte/UTF-16-unit/code-point confusion in
  either engine diverges on these.
- events: one user with inter-event gaps exactly 1799.999999 s /
  1800.0 s / 1800.000001 s; duplicate (user_id, ts) pairs with distinct
  event_ids; events exactly ON hour boundaries; value = 0.0 and 1e9;
  (wave 3) props with interior JSON whitespace and an explicit JSON
  null, still honoring the {"k": int} contract; (wave 4) ZERO-VARIANCE
  cohorts — one user with 10 identical values at identical gaps, one
  with constant zero — every per-user spread denominator (z-score, MAD,
  autocorr, peak/anomaly, regression) degenerates to 0/0 on them.
- orders: a childless order (no lineitems), an order whose o_custkey
  references no customer, totalprice 0.0 and 1e7, orders exactly on the
  fixture's min/max date boundary.
- lineitem: an orphan line (no parent order), quantity 0/1/50 with
  discount 0.0 and 0.9, extendedprice 0.0, shipdate == orderdate.
- customer: a duplicate c_name under a new key, negative and zero
  account balances, customers with no orders.
- part: p_size 1 and 50, retailprice 0.0.
- embeddings: an all-zero vector (norm 0 — divides by zero in cosine)
  and a tiny-norm (1e-6) vector; (wave 5) exact-duplicate vector
  classes with interleaved ids (the collapsed dedup_embedding regime),
  one of them byte-distinct but PARALLEL to the tiny-norm vector —
  normalization-identical without being collapse-mergeable.
- fuzz_nulls only: NULLs punched into nullable non-key columns
  (events.value, documents.lang/source, embeddings.label).
"""

from __future__ import annotations

import datetime as dt
import functools
import os
import shutil

import pyarrow as pa
import pyarrow.parquet as pq

from base_etl_spark.schemas import TABLE_NAMES

SRC_SF = "/root/testdata/sf0.001"
REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
EMPTY_SF = os.path.join(REPO, ".fuzz", "sfempty")
EMPTY_FACTS_SF = os.path.join(REPO, ".fuzz", "sfempty_facts")
ONE_ROW_SF = os.path.join(REPO, ".fuzz", "sfonerow")
FUZZ_SF = os.path.join(REPO, ".fuzz", "sffuzz")
FUZZ_NULLS_SF = os.path.join(REPO, ".fuzz", "sffuzz_nulls")

# The mixed tier's fact/dim split: dimensions exist from day one of any
# deployment; what production actually produces is an EMPTY FACT
# PARTITION against populated dims (a holiday with no orders, an ingest
# gap, a filter that eliminated the day).
FACTS = ["orders", "lineitem", "events", "documents", "embeddings"]


def _build_dir(dst_dir: str, empty: set[str]) -> str:
    """Copy of the sf0.001 tier with the named tables truncated to 0
    rows, schema preserved bit-for-bit (taken from the parquet footers,
    so nanos-timestamp layouts and nullability flags survive)."""
    os.makedirs(dst_dir, exist_ok=True)
    for name in TABLE_NAMES:
        dst = os.path.join(dst_dir, f"{name}.parquet")
        src = os.path.join(SRC_SF, f"{name}.parquet")
        if name in empty:
            tbl = pq.read_table(src)
            if (
                os.path.exists(dst)
                and pq.read_table(dst).schema.equals(tbl.schema)
                and pq.read_metadata(dst).num_rows == 0
            ):
                continue
            pq.write_table(tbl.slice(0, 0), dst)
        else:
            if (
                os.path.exists(dst)
                and os.path.getsize(dst) == os.path.getsize(src)
            ):
                continue
            shutil.copyfile(src, dst)
    return dst_dir


def build_empty_dir() -> str:
    """All-tables-empty tier."""
    return _build_dir(EMPTY_SF, set(TABLE_NAMES))


def build_empty_facts_dir() -> str:
    """Facts-empty / dims-populated tier (the realistic mixed shape)."""
    return _build_dir(EMPTY_FACTS_SF, set(FACTS))


def build_one_row_dir() -> str:
    """Every table truncated to its FIRST row — the degenerate-statistics
    tier: sample variance of one point, regression over one x, 0/0
    ratios, windows of width one. NaN-vs-NULL and 0-vs-NULL divergences
    between engines live exactly here. (Cross-table keys generally won't
    match, so joins mostly go empty — that shape is covered by the empty
    tiers; this one targets single-group aggregates.)"""
    os.makedirs(ONE_ROW_SF, exist_ok=True)
    for name in TABLE_NAMES:
        dst = os.path.join(ONE_ROW_SF, f"{name}.parquet")
        src = os.path.join(SRC_SF, f"{name}.parquet")
        tbl = pq.read_table(src)
        if (
            os.path.exists(dst)
            and pq.read_table(dst).schema.equals(tbl.schema)
            and pq.read_metadata(dst).num_rows == 1
        ):
            continue
        pq.write_table(tbl.slice(0, 1), dst)
    return ONE_ROW_SF


def _tpch_rows(name: str, with_nulls: bool) -> dict[str, list]:
    """Wave-2 perturbations for the relational tables (keys from
    2_000_000 up so they cannot collide with fixture keys)."""
    B = 2_000_000
    d = dt.datetime
    if name == "orders":
        return {
            # childless (no lineitems), boundary dates, orphan custkey,
            # zero and extreme totalprice
            "o_orderkey": [B, B + 1, B + 2, B + 3],
            "o_custkey": [7, B + 77, 11, 13],  # B+77 references nobody
            "o_orderstatus": ["O", "F", "P", "O"],
            "o_totalprice": [0.0, 1e7, 123.45, 0.01],
            "o_orderdate": [d(1995, 1, 1), d(2001, 8, 1),
                            d(1997, 6, 15), d(1997, 6, 15)],
            "o_orderpriority": ["3-MEDIUM", "1-URGENT", "5-LOW", "2-HIGH"],
        }
    if name == "lineitem":
        return {
            # B+100 is an orphan (no parent order); the rest attach to
            # existing order 10 with boundary qty/discount/price
            "l_orderkey": [B + 100, 10, 10, 10],
            "l_partkey": [1, 2, 3, 4],
            "l_suppkey": [1, 2, 3, 4],
            "l_linenumber": [901, 902, 903, 904],
            "l_quantity": [0.0, 1.0, 50.0, 7.0],
            "l_extendedprice": [0.0, 100.0, 5000.0, 250.25],
            "l_discount": [0.0, 0.9, 0.0, 0.05],
            "l_tax": [0.0, 0.0, 0.08, 0.0],
            "l_returnflag": ["N", "R", "A", "N"],
            "l_linestatus": ["O", "F", "F", "O"],
            "l_shipdate": [d(1997, 1, 1), d(1995, 1, 1),
                           d(2001, 8, 1), d(1997, 6, 15)],
        }
    if name == "customer":
        return {
            # duplicate c_name under a new key (fuzzy-join bait), zero
            # and negative balances, no orders for any of them
            "c_custkey": [B, B + 1, B + 2],
            "c_name": ["Customer#000000001", "Customer#002000001",
                       "Customer#002000002"],
            "c_nationkey": [0, 12, 24],
            "c_acctbal": [-999.99, 0.0, 9999.99],
            "c_mktsegment": ["BUILDING", "MACHINERY", "AUTOMOBILE"],
        }
    if name == "part":
        return {
            "p_partkey": [B, B + 1],
            "p_name": ["edge widget", "edge bolt"],
            "p_brand": ["Brand#13", "Brand#42"],
            "p_type": ["ECONOMY", "PROMO"],
            "p_size": [1, 50],
            "p_retailprice": [0.0, 1.0],
        }
    if name == "embeddings":
        # wave 5: exact-duplicate classes — the regime the collapsed
        # dedup_embedding path exists for. Class A: four byte-identical
        # copies of a constant vector, ids INTERLEAVED with class B so
        # rep expansion's least/greatest ordering is exercised. Class B:
        # two copies of a varied vector. Adversarial twist: class A's
        # constant vector is PARALLEL to the tiny-norm wave-1 vector
        # (identical after normalization, different bytes) — collapse
        # must NOT merge them, LSH must still pair them at cos 1.0.
        vec_b = [((i * 37) % 13 - 6) / 7.0 for i in range(64)]
        rows = {
            "vec_id": [B, B + 1, B + 10, B + 12, B + 11, B + 13, B + 14],
            "embedding": [
                [0.0] * 64, [1e-6] * 64,           # zero / tiny norm
                [0.25] * 64, vec_b, [0.25] * 64,   # A, B, A
                vec_b, [0.25] * 64,                # B, A
            ],
            "label": [0, 1, 2, 3, 2, 3, 2],
        }
        if with_nulls:
            rows["vec_id"].append(B + 2)
            rows["embedding"].append([0.5] * 64)
            rows["label"].append(None)
        return rows
    raise ValueError(name)


def build_fuzz_dir(with_nulls: bool) -> str:
    """The ``fuzz`` tier, or ``fuzz_nulls`` when ``with_nulls``; each is
    rebuilt from scratch in its own directory."""
    dst_dir = FUZZ_NULLS_SF if with_nulls else FUZZ_SF
    # Wipe this tier's directory only: .fuzz/ holds every tier, and a
    # sweep may be reading another one.
    shutil.rmtree(dst_dir, ignore_errors=True)
    os.makedirs(dst_dir)

    perturbed = ("documents", "events", "orders", "lineitem", "customer",
                 "part", "embeddings")
    for name in TABLE_NAMES:
        src = os.path.join(SRC_SF, f"{name}.parquet")
        if name not in perturbed:
            shutil.copy(src, os.path.join(dst_dir, f"{name}.parquet"))
            continue

        tbl = pq.read_table(src)
        if name in ("orders", "lineitem", "customer", "part", "embeddings"):
            rows = _tpch_rows(name, with_nulls)
            fields = {f.name: f.type for f in tbl.schema}
            extra = pa.table(
                {k: pa.array(v).cast(fields[k]) for k, v in rows.items()}
            )
            out = pa.concat_tables([tbl, extra.select(tbl.column_names)])
            pq.write_table(out, os.path.join(dst_dir, f"{name}.parquet"))
            continue
        if name == "documents":
            base_id = 1_000_000
            langs = ["en", "de", "fr"]
            texts = [
                "",                                   # empty
                "a",                                  # 1 char
                "x" * 29,                             # just under the span window
                "y" * 30,                             # exactly the span window
                "z" * 31,                             # just over
                "All rights reserved. Terms apply.",  # boilerplate (3 copies)
                "All rights reserved. Terms apply.",
                "All rights reserved. Terms apply.",
                "héllo wörld ünïcode ﬁ ß — émoji-free but multibyte",
                "single_token",
                "double  space   runs    here",
                ("lorem ipsum dolor sit amet " * 400).strip(),  # ~10k chars
                # wave 3: beyond-BMP (4-byte UTF-8), ZWJ sequences,
                # skin-tone modifiers, regional-indicator pairs — any
                # byte/UTF-16-unit/code-point confusion diverges here
                "\U0001d11e clef \U0001f44d\U0001f3fd thumbs "
                "\U0001f1e9\U0001f1ea flag "
                "\U0001f468‍\U0001f469‍\U0001f467 family",
                # combining marks vs precomposed (NFD vs NFC spellings)
                "café naivë vs café naïve",
                # RTL scripts mixed with LTR
                "שלום hello عالم done",
                # control whitespace: LF, CRLF, tab, trailing space
                "line1\nline2\r\nline3\ttab end ",
            ]
            rows = {
                "doc_id": [base_id + i for i in range(len(texts))],
                "text": texts,
                "lang": [langs[i % 3] for i in range(len(texts))],
                "source": ["fuzz"] * len(texts),
                "n_chars": [len(s) for s in texts],
            }
            if with_nulls:
                rows["doc_id"] += [base_id + 100, base_id + 101]
                rows["text"] += ["null lang doc", "null source doc"]
                rows["lang"] += [None, "en"]
                rows["source"] += ["fuzz", None]
                rows["n_chars"] += [13, 15]
            extra = pa.table(
                {k: pa.array(v, type=tbl.schema.field(k).type) for k, v in rows.items()}
            )
            out = pa.concat_tables([tbl, extra.select(tbl.column_names)])
        else:  # events
            base_id = 1_000_000
            t0 = dt.datetime(2024, 3, 1, 12, 0, 0, 123456)
            us = dt.timedelta(microseconds=1)
            s = dt.timedelta(seconds=1)
            ev = []  # (event_id, ts, user_id, event_type, value, props)
            # user A: gaps straddling the 30-min boundary by one microsecond
            tA = t0
            ev.append((base_id + 0, tA, 900001, "view", 1.0, "{}"))
            tA = tA + 1800 * s - us   # 1799.999999 s -> same session
            ev.append((base_id + 1, tA, 900001, "click", 2.0, "{}"))
            tA = tA + 1800 * s        # exactly 1800 s -> same session (not >)
            ev.append((base_id + 2, tA, 900001, "view", 3.0, "{}"))
            tA = tA + 1800 * s + us   # 1800.000001 s -> NEW session
            ev.append((base_id + 3, tA, 900001, "purchase", 4.0, "{}"))
            # user B: duplicate (user_id, ts) with distinct event_ids
            tB = dt.datetime(2024, 3, 2, 9, 30, 15, 500000)
            ev.append((base_id + 10, tB, 900002, "view", 5.0, "{}"))
            ev.append((base_id + 11, tB, 900002, "click", 6.0, "{}"))
            ev.append((base_id + 12, tB, 900002, "view", 6.5, "{}"))
            # user C: events exactly ON hour boundaries (bucket edges)
            tC = dt.datetime(2024, 3, 3, 10, 0, 0, 0)
            ev.append((base_id + 20, tC, 900003, "view", 0.0, "{}"))
            ev.append((base_id + 21, tC + 3600 * s, 900003, "click", 1e9, "{}"))
            # user D: single event (bounce)
            ev.append((base_id + 30, dt.datetime(2024, 3, 4, 23, 59, 59, 999999),
                       900004, "error", 7.0, "{}"))
            # user E (wave 3): props still honors the {"k": int} contract
            # but exercises JSON-surface edges — interior whitespace and
            # an explicit JSON null — where get_json_object/from_json vs
            # json_extract/json_keys could disagree
            tE = dt.datetime(2024, 3, 6, 14, 0, 0, 777000)
            ev.append((base_id + 40, tE, 900006, "view", 1.5, '{ "k" : 7 }'))
            ev.append((base_id + 41, tE + 60 * s, 900006, "click", 2.5,
                       '{"k": null}'))
            # user F (wave 4): a ZERO-VARIANCE cohort — 10 events with
            # identical value AND identical inter-arrival gap. Every
            # per-user statistic that divides by an in-group spread
            # (z-score, MAD, autocorrelation, peak/anomaly thresholds,
            # regression slope) hits 0/0 here; Spark's non-ANSI division
            # yields NULL while DuckDB float math yields NaN or raises —
            # any engine that resolves the degenerate group differently
            # from its oracle diverges on this user.
            tF = dt.datetime(2024, 3, 7, 8, 0, 0, 0)
            for i in range(10):  # ids +60..69 (the nulls row takes +50)
                ev.append((base_id + 60 + i, tF + i * 3600 * s, 900007,
                           "view", 5.0, "{}"))
            # user G (wave 4): constant ZERO value — numerator and
            # denominator both degenerate (sum 0, mean 0, var 0).
            tG = dt.datetime(2024, 3, 8, 6, 30, 0, 250000)
            for i in range(6):
                ev.append((base_id + 80 + i, tG + i * 900 * s, 900008,
                           "view" if i % 2 == 0 else "click", 0.0, "{}"))
            cols = list(zip(*ev))
            rows = {
                "event_id": list(cols[0]),
                "ts": list(cols[1]),
                "user_id": list(cols[2]),
                "event_type": list(cols[3]),
                "value": list(cols[4]),
                "props": list(cols[5]),
            }
            if with_nulls:
                rows["event_id"] += [base_id + 50]
                rows["ts"] += [dt.datetime(2024, 3, 5, 8, 15, 0, 250000)]
                rows["user_id"] += [900005]
                rows["event_type"] += ["view"]
                rows["value"] += [None]
                rows["props"] += ["{}"]
            fields = {f.name: f.type for f in tbl.schema}
            ts_type = fields["ts"]
            arrays = {}
            for k, v in rows.items():
                if k == "ts":
                    arrays[k] = pa.array(v).cast(ts_type)
                else:
                    arrays[k] = pa.array(v, type=fields[k])
            extra = pa.table(arrays)
            out = pa.concat_tables([tbl, extra.select(tbl.column_names)])
        pq.write_table(out, os.path.join(dst_dir, f"{name}.parquet"))
    return dst_dir


TIERS = {
    "empty": build_empty_dir,
    "empty_facts": build_empty_facts_dir,
    "one_row": build_one_row_dir,
    "fuzz": functools.partial(build_fuzz_dir, with_nulls=False),
    "fuzz_nulls": functools.partial(build_fuzz_dir, with_nulls=True),
}
