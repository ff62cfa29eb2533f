"""Seeded benchmark inputs.

Two inputs, both written once per (seed, size) under the benchmark's work
directory and reused by later runs with the same seed. Both are generated
with NumPy and Arrow, not Spark, so generating them leaves the benchmark's
JVM cold whether or not an earlier run already wrote them:

* ``star_tables`` — the ten tables of ``TESTDATA.md`` (``region`` …
  ``embeddings``) at scale factor 0.01, with the column names, Arrow types
  and value ranges of its sf0.01 parquet files, drawn from a NumPy generator
  seeded with the benchmark seed. The oracle queries compare Spark with DuckDB over
  the same files, so any seed is a valid input.
* ``documents_iv`` — the interleaved-documents table in the shape and with
  the violation classes of the engine's ``sources.synthetic`` generator
  (hot ``doc_id`` prefixes, 1-8 spans per document, 5% of documents carrying
  one seeded violation), with 16 ``part_key`` values instead of 64.
"""

from __future__ import annotations

import os
import shutil

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.parquet as pq

SF = 0.01
_WORDS = (
    "a the big small fast slow data table row column key value part line "
    "order customer query scan join hash merge sort group agg filter window "
    "stream batch spark vector"
).split()
_ADJ = ("small", "red", "blue", "hot", "old", "new", "cold", "large")
_NOUN = ("ring", "widget", "bolt", "gear", "anvil", "rod", "plate", "gizmo")


def _ts(days: np.ndarray, start: str) -> np.ndarray:
    return np.datetime64(start, "us") + days.astype("timedelta64[D]")


def _pick(rng: np.random.Generator, values, n: int, p=None) -> list:
    return list(np.asarray(values, dtype=object)[rng.choice(len(values), n, p=p)])


def star_tables(seed: int) -> dict[str, pd.DataFrame]:
    """The sf0.01 tables as pandas frames (deterministic in ``seed``)."""
    rng = np.random.default_rng(seed)
    n_cust, n_supp, n_part = int(150_000 * SF), int(10_000 * SF), int(200_000 * SF)
    n_ord, n_li, n_ev, n_doc, n_emb = (
        int(1_500_000 * SF), int(6_000_000 * SF), 10_000, 500, 500,
    )
    i32, i64, f64 = np.int32, np.int64, np.float64

    region = pd.DataFrame({
        "r_regionkey": np.arange(5, dtype=i32),
        "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"],
    })
    nation = pd.DataFrame({
        "n_nationkey": np.arange(25, dtype=i32),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": (np.arange(25) % 5).astype(i32),
    })
    customer = pd.DataFrame({
        "c_custkey": np.arange(n_cust, dtype=i64),
        "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
        "c_nationkey": rng.integers(0, 25, n_cust).astype(i32),
        "c_acctbal": np.round(rng.uniform(-999.99, 9999.99, n_cust), 2),
        "c_mktsegment": _pick(rng, ("AUTOMOBILE", "BUILDING", "FURNITURE",
                                    "HOUSEHOLD", "MACHINERY"), n_cust),
    })
    supplier = pd.DataFrame({
        "s_suppkey": np.arange(n_supp, dtype=i64),
        "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
        "s_nationkey": rng.integers(0, 25, n_supp).astype(i32),
        "s_acctbal": np.round(rng.uniform(-999.99, 9999.99, n_supp), 2),
    })
    part = pd.DataFrame({
        "p_partkey": np.arange(n_part, dtype=i64),
        "p_name": [f"{a} {b}" for a, b in zip(_pick(rng, _ADJ, n_part),
                                              _pick(rng, _NOUN, n_part))],
        "p_brand": [f"Brand#{b}" for b in rng.integers(1, 26, n_part)],
        "p_type": _pick(rng, ("ECONOMY", "STANDARD", "LARGE", "PROMO",
                              "SMALL", "MEDIUM"), n_part),
        "p_size": rng.integers(1, 51, n_part).astype(i32),
        "p_retailprice": np.round(900.0 + (np.arange(n_part) % 1000) / 10.0, 2),
    })
    orders = pd.DataFrame({
        "o_orderkey": np.arange(n_ord, dtype=i64),
        "o_custkey": rng.integers(0, n_cust, n_ord).astype(i64),
        "o_orderstatus": _pick(rng, ("F", "O", "P"), n_ord),
        "o_totalprice": np.round(rng.uniform(1000.0, 500_000.0, n_ord), 2),
        "o_orderdate": _ts(rng.integers(0, 2404, n_ord), "1995-01-01"),
        "o_orderpriority": _pick(rng, ("1-URGENT", "2-HIGH", "3-MEDIUM",
                                       "4-NOT SPECIFIED", "5-LOW"), n_ord),
    })
    lineitem = pd.DataFrame({
        "l_orderkey": rng.integers(0, n_ord, n_li).astype(i64),
        "l_partkey": rng.integers(0, n_part, n_li).astype(i64),
        "l_suppkey": rng.integers(0, n_supp, n_li).astype(i64),
        "l_linenumber": rng.integers(1, 8, n_li).astype(i32),
        "l_quantity": rng.integers(1, 51, n_li).astype(f64),
        "l_extendedprice": np.round(rng.uniform(901.0, 105_000.0, n_li), 2),
        "l_discount": rng.integers(0, 11, n_li) / 100.0,
        "l_tax": rng.integers(0, 9, n_li) / 100.0,
        "l_returnflag": _pick(rng, ("A", "N", "R"), n_li),
        "l_linestatus": _pick(rng, ("F", "O"), n_li),
        "l_shipdate": _ts(rng.integers(0, 2498, n_li), "1995-01-02"),
    })
    gaps = rng.exponential(259.0, n_ev)
    events = pd.DataFrame({
        "event_id": np.arange(n_ev, dtype=i64),
        "ts": np.datetime64("2024-01-01", "us")
        + (np.cumsum(gaps) * 1e6).astype("timedelta64[us]"),
        "user_id": rng.integers(0, 150, n_ev).astype(i64),
        "event_type": _pick(rng, ("view", "click", "purchase", "signup",
                                  "error"), n_ev),
        "value": np.maximum(np.round(rng.exponential(50.0, n_ev), 2), 0.01),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n_ev)],
    })
    texts = [
        " ".join(_pick(rng, _WORDS, int(k))) for k in rng.integers(10, 100, n_doc)
    ]
    # ~5% near-duplicates: another document's text plus a marker token
    for d in np.flatnonzero(rng.random(n_doc) < 0.05):
        texts[d] = texts[int(rng.integers(0, n_doc))] + " dup"
    documents = pd.DataFrame({
        "doc_id": np.arange(n_doc, dtype=i64),
        "text": texts,
        "lang": _pick(rng, ("en", "zh", "de", "fr", "es"), n_doc,
                      p=(0.44, 0.14, 0.14, 0.14, 0.14)),
        "source": [f"src{i % 20}" for i in range(n_doc)],
        "n_chars": np.array([len(t) for t in texts], dtype=i64),
    })
    labels = rng.integers(0, 10, n_emb)
    centers = rng.normal(0.0, 1.0, (10, 64))
    vecs = rng.normal(0.0, 1.0, (n_emb, 64)) + 0.15 * centers[labels]
    vecs = (vecs / np.linalg.norm(vecs, axis=1, keepdims=True)).astype(np.float32)
    embeddings = pd.DataFrame({
        "vec_id": np.arange(n_emb, dtype=i64),
        "embedding": list(vecs),
        "label": labels.astype(i32),
    })
    return {
        "region": region, "nation": nation, "customer": customer,
        "supplier": supplier, "part": part, "orders": orders,
        "lineitem": lineitem, "events": events, "documents": documents,
        "embeddings": embeddings,
    }


def _done(path: str) -> bool:
    return os.path.exists(os.path.join(path, "_SUCCESS"))


def write_star_tables(root: str, seed: int) -> str:
    """Write the sf0.01 tables for ``seed`` under ``root`` once; return the dir."""
    out = os.path.join(root, f"sf{SF}_seed{seed}")
    if _done(out):
        return out
    shutil.rmtree(out, ignore_errors=True)
    os.makedirs(out)
    for name, df in star_tables(seed).items():
        table = pa.Table.from_pandas(df, preserve_index=False)
        if name == "embeddings":
            table = table.cast(pa.schema([
                ("vec_id", pa.int64()), ("embedding", pa.list_(pa.float32())),
                ("label", pa.int32()),
            ]))
        pq.write_table(table, os.path.join(out, f"{name}.parquet"))
    open(os.path.join(out, "_SUCCESS"), "w").close()
    return out


N_PREFIXES, N_HOT, HOT_PCT = 16, 3, 30   # part_key cardinality and skew
N_FILES = 8                               # parquet files per documents table


def _fmt(prefix: str, values: np.ndarray, width: int) -> pa.Array:
    digits = pc.utf8_lpad(pc.cast(pa.array(values), pa.string()), width, "0")
    return pc.binary_join_element_wise(prefix, digits, "")


def documents_iv(seed: int, n_docs: int) -> pa.Table:
    """``doc_id: string, spans: array<struct<kind, text, media_ref, offset:int>>,
    part_key: string``; violation classes as in ``sources.synthetic``:
    1 duplicate doc_id, 2 null spans, 3 out-of-enum kind, 4 media_ref on a
    text span, 5 decreasing offsets, 6 dangling media_ref."""
    rng = np.random.default_rng(seed)
    ids = np.arange(n_docs)
    prefix = np.where(rng.integers(0, 100, n_docs) < HOT_PCT,
                      rng.integers(0, N_HOT, n_docs), rng.integers(0, N_PREFIXES, n_docs))
    vclass = np.where(rng.integers(0, 100, n_docs) < 5, rng.integers(1, 7, n_docs), 0)
    # duplicate violators collide with the document up to 96 ids below them
    id_for = np.where(vclass == 1, ids - ids % 97, ids)
    hexes = np.array([f"{p:02x}" for p in range(N_PREFIXES)])
    pk = pa.array(hexes[prefix[id_for]])
    doc_id = pc.binary_join_element_wise(pk, _fmt("", id_for, 12), "-")

    n_spans = np.where(vclass == 2, 0, rng.integers(1, 9, n_docs))  # null lists are empty
    offsets = np.zeros(n_docs + 1, dtype=np.int32)
    np.cumsum(n_spans, out=offsets[1:])
    total = int(offsets[-1])
    doc = np.repeat(ids, n_spans)
    pos = np.arange(total) - offsets[:-1][doc]
    vc = np.where(pos == 0, vclass[doc], 0)  # violations apply to span 0 only
    media = rng.random(total) < 0.3
    kind = np.where(media, "media", "text").astype(object)
    kind[vc == 3] = "video"
    kind[vc == 4] = "text"
    kind[vc == 6] = "media"
    textish = kind != "media"
    words = [_fmt("tok", rng.integers(0, 9999, total), 4) for _ in range(3)]
    text = pc.if_else(pa.array(textish), pc.binary_join_element_wise(*words, " "), None)
    ref = rng.integers(0, 100_000, total)
    media_ref = pc.if_else(
        pa.array(vc == 6), _fmt("m-missing-", ref % 10_000, 8),
        pc.if_else(pa.array((vc == 4) | ~textish), _fmt("m-", ref, 8), None))
    jitter = rng.integers(0, 16, total)
    # violation class 5 reverses the whole sequence
    off = np.where(vclass[doc] == 5, (n_spans[doc] - pos) * 16, pos * 16) + jitter
    spans = pa.StructArray.from_arrays(
        [pa.array(kind.tolist(), pa.string()), text, media_ref,
         pa.array(off.astype(np.int32))],
        names=["kind", "text", "media_ref", "offset"])
    span_lists = pa.ListArray.from_arrays(
        pa.array(offsets), spans, mask=pa.array(vclass == 2))
    return pa.table({"doc_id": doc_id, "spans": span_lists, "part_key": pk})


def write_documents_iv(root: str, seed: int, n_docs: int) -> str:
    """Write the documents table for (seed, n_docs) under ``root`` once."""
    out = os.path.join(root, f"docs_iv_seed{seed}_n{n_docs}")
    if _done(out):
        return out
    shutil.rmtree(out, ignore_errors=True)
    os.makedirs(out)
    table = documents_iv(seed, n_docs)
    step = -(-n_docs // N_FILES)
    for k in range(N_FILES):
        pq.write_table(table.slice(k * step, step),
                       os.path.join(out, f"part-{k:05d}.parquet"))
    open(os.path.join(out, "_SUCCESS"), "w").close()
    return out


def write_state(path: str, run_id: str, spec_name: str, spec_hash: str,
                rows_per_part: dict[str, int]) -> None:
    """A checkpoint state table (``checkpoint.STATE_SCHEMA``) in which each
    part_key of ``rows_per_part`` is already committed for ``run_id``. The
    resume reads only run_id, spec_hash and part_key; n_fail is left 0."""
    n = len(rows_per_part)
    table = pa.table({
        "run_id": pa.array([run_id] * n, pa.string()),
        "part_key": pa.array(sorted(rows_per_part), pa.string()),
        "spec_name": pa.array([spec_name] * n, pa.string()),
        "spec_hash": pa.array([spec_hash] * n, pa.string()),
        "n_rows": pa.array([rows_per_part[k] for k in sorted(rows_per_part)], pa.int64()),
        "n_fail": pa.array([0] * n, pa.int64()),
        "completed_at": pa.array(np.full(n, np.datetime64("2026-01-01", "us"))).cast(
            pa.timestamp("us", tz="UTC")),
        "state_json": pa.array([None] * n, pa.string()),
    })
    os.makedirs(os.path.join(path, "state"))
    pq.write_table(table, os.path.join(path, "state", "part-00000.parquet"))
