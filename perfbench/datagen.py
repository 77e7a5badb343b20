"""Seeded input generation for the benchmark.

Everything here is a pure function of ``(seed, sf)``: the TPC-H-shaped star
schema plus ``events`` / ``documents`` / ``embeddings`` (same columns and
types as the registry's test tables, so the registry's oracle SQL runs over
them unchanged), the raw files of the ingest workload and the corpus batch.
Files go under a directory the caller owns; nothing is written elsewhere.
"""

from __future__ import annotations

import datetime as dt
import gzip
import json
import lzma
import zipfile
from pathlib import Path

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
P_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
P_ADJ = ["blue", "cold", "hot", "large", "new", "old", "red", "small"]
P_NOUN = ["anvil", "bolt", "gear", "gizmo", "plate", "ring", "rod", "widget"]
EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
LANGS = ["en", "de", "fr", "es", "zh"]
LANG_P = [0.44, 0.14, 0.14, 0.14, 0.14]
WORDS = ("a the agg batch big column customer data fast filter group hash "
         "join key line merge order part query row scan slow small sort "
         "spark stream table value vector window").split()
EMB_DIM = 64

_EPOCH = dt.datetime(1970, 1, 1)


def _ts(start: dt.datetime, offsets_us: np.ndarray) -> pa.Array:
    base = int((start - _EPOCH).total_seconds() * 1_000_000)
    return pa.array(base + offsets_us.astype(np.int64), pa.timestamp("us"))


def _days(rng, n, start: dt.datetime, span_days: int) -> pa.Array:
    return _ts(start, rng.integers(0, span_days, n) * 86_400_000_000)


def _money(rng, n, lo, hi) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, n), 2)


def _texts(rng, n: int) -> list[str]:
    lens = rng.integers(8, 90, n)
    idx = rng.integers(0, len(WORDS), int(lens.sum()))
    out, pos = [], 0
    for k in lens:
        out.append(" ".join(WORDS[i] for i in idx[pos:pos + k]))
        pos += k
    return out


def documents(rng, n: int, dup_share: float = 0.0) -> pa.Table:
    """``n`` documents; ``dup_share`` of them copy an earlier text exactly
    (half) or with one word changed (half) so dedup has work to find."""
    texts = _texts(rng, n)
    n_dup = int(n * dup_share)
    for i in rng.choice(np.arange(1, n), n_dup, replace=False) if n_dup else []:
        src = texts[int(rng.integers(0, i))].split(" ")
        if rng.random() < 0.5 and len(src) > 4:
            src[int(rng.integers(0, len(src)))] = WORDS[int(rng.integers(0, len(WORDS)))]
        texts[i] = " ".join(src)
    return pa.table({
        "doc_id": pa.array(np.arange(n), pa.int64()),
        "text": pa.array(texts, pa.string()),
        "lang": pa.array(rng.choice(LANGS, n, p=LANG_P).tolist(), pa.string()),
        "source": pa.array([f"src{i}" for i in rng.integers(0, 20, n)],
                           pa.string()),
        "n_chars": pa.array([len(t) for t in texts], pa.int64()),
    })


def embeddings(rng, n: int) -> pa.Table:
    centers = rng.normal(0, 1, (10, EMB_DIM))
    labels = rng.integers(0, 10, n)
    vecs = centers[labels] + rng.normal(0, 1.5, (n, EMB_DIM))
    vecs /= np.linalg.norm(vecs, axis=1, keepdims=True)
    flat = pa.array(vecs.astype(np.float32).ravel(), pa.float32())
    offsets = pa.array(np.arange(0, (n + 1) * EMB_DIM, EMB_DIM, dtype=np.int32))
    return pa.table({
        "vec_id": pa.array(np.arange(n), pa.int64()),
        "embedding": pa.ListArray.from_arrays(offsets, flat),
        "label": pa.array(labels.astype(np.int32)),
    })


def tables(seed: int, sf: float) -> dict[str, pa.Table]:
    """The ten registry tables at scale ``sf`` (sf 0.01 ~ 60k lineitems)."""
    rng = np.random.default_rng(seed)
    n_cust = max(150, int(150_000 * sf))
    n_supp = max(10, int(10_000 * sf))
    n_part = max(200, int(200_000 * sf))
    n_ord = max(1_500, int(1_500_000 * sf))
    n_li = max(6_000, int(6_000_000 * sf))
    n_ev = max(1_000, int(1_000_000 * sf))
    n_doc = max(200, int(50_000 * sf))
    n_emb = max(200, int(20_000 * sf))
    i32 = pa.int32()
    return {
        "region": pa.table({
            "r_regionkey": pa.array(range(5), i32),
            "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]}),
        "nation": pa.table({
            "n_nationkey": pa.array(range(25), i32),
            "n_name": [f"NATION_{i}" for i in range(25)],
            "n_regionkey": pa.array([i % 5 for i in range(25)], i32)}),
        "customer": pa.table({
            "c_custkey": np.arange(n_cust, dtype=np.int64),
            "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
            "c_nationkey": rng.integers(0, 25, n_cust).astype(np.int32),
            "c_acctbal": _money(rng, n_cust, -999.99, 9999.99),
            "c_mktsegment": rng.choice(SEGMENTS, n_cust).tolist()}),
        "supplier": pa.table({
            "s_suppkey": np.arange(n_supp, dtype=np.int64),
            "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
            "s_nationkey": rng.integers(0, 25, n_supp).astype(np.int32),
            "s_acctbal": _money(rng, n_supp, -999.99, 9999.99)}),
        "part": pa.table({
            "p_partkey": np.arange(n_part, dtype=np.int64),
            "p_name": [f"{a} {b}" for a, b in zip(rng.choice(P_ADJ, n_part),
                                                  rng.choice(P_NOUN, n_part))],
            "p_brand": [f"Brand#{i}" for i in rng.integers(1, 26, n_part)],
            "p_type": rng.choice(P_TYPES, n_part).tolist(),
            "p_size": rng.integers(1, 51, n_part).astype(np.int32),
            "p_retailprice": np.round(900 + (np.arange(n_part) % 1000) / 10, 2)}),
        "orders": pa.table({
            "o_orderkey": np.arange(n_ord, dtype=np.int64),
            "o_custkey": rng.integers(0, n_cust, n_ord),
            "o_orderstatus": rng.choice(["F", "O", "P"], n_ord).tolist(),
            "o_totalprice": _money(rng, n_ord, 1000, 500000),
            "o_orderdate": _days(rng, n_ord, dt.datetime(1995, 1, 1), 2405),
            "o_orderpriority": rng.choice(PRIORITIES, n_ord).tolist()}),
        "lineitem": pa.table({
            "l_orderkey": rng.integers(0, n_ord, n_li),
            "l_partkey": rng.integers(0, n_part, n_li),
            "l_suppkey": rng.integers(0, n_supp, n_li),
            "l_linenumber": rng.integers(1, 8, n_li).astype(np.int32),
            "l_quantity": rng.integers(1, 51, n_li).astype(np.float64),
            "l_extendedprice": _money(rng, n_li, 900, 100000),
            "l_discount": rng.integers(0, 11, n_li) / 100.0,
            "l_tax": rng.integers(0, 9, n_li) / 100.0,
            "l_returnflag": rng.choice(["A", "N", "R"], n_li).tolist(),
            "l_linestatus": rng.choice(["F", "O"], n_li).tolist(),
            "l_shipdate": _days(rng, n_li, dt.datetime(1995, 1, 2), 2498)}),
        "events": pa.table({
            "event_id": np.arange(n_ev, dtype=np.int64),
            "ts": _ts(dt.datetime(2024, 1, 1),
                      np.sort(rng.integers(0, 30 * 86_400_000_000, n_ev))),
            "user_id": rng.integers(0, max(10, n_cust // 10), n_ev),
            "event_type": rng.choice(EVENT_TYPES, n_ev).tolist(),
            "value": np.round(rng.exponential(40, n_ev) + 0.01, 2),
            "props": [json.dumps({"k": int(k)}) for k in rng.integers(0, 100, n_ev)]}),
        "documents": documents(rng, n_doc),
        "embeddings": embeddings(rng, n_emb),
    }


def write_parquet_dir(tbls: dict[str, pa.Table], out: Path) -> Path:
    out.mkdir(parents=True, exist_ok=True)
    for name, t in tbls.items():
        pq.write_table(t, out / f"{name}.parquet")
    return out


# -- ingest workload: raw files in every reader format ----------------------

def _records(t: pa.Table) -> list[dict]:
    rows = t.to_pylist()
    for r in rows:
        for k, v in r.items():
            if isinstance(v, dt.datetime):
                r[k] = v.strftime("%Y-%m-%d %H:%M:%S")
    return rows


def _csv(t: pa.Table, sep: str = ",") -> str:
    cols = t.column_names
    lines = [sep.join(cols)]
    for r in _records(t):
        lines.append(sep.join("" if r[c] is None else str(r[c]) for c in cols))
    return "\n".join(lines) + "\n"


def _jsonl(t: pa.Table) -> str:
    return "".join(json.dumps(r) + "\n" for r in _records(t))


def raw_files(seed: int, rows: int, out: Path) -> dict[str, int]:
    """One raw file per reader format, each ~``rows`` rows, drawn from a
    seeded sf0.01 star schema.  Returns ``{table name: rows}``, the table
    name being what the catalog derives from the file name."""
    from localsql_spark.sinks.writers import _write_xlsx_stdlib

    t = tables(seed, 0.01)
    out.mkdir(parents=True, exist_ok=True)
    take = {n: tb.slice(0, min(rows, tb.num_rows)) for n, tb in t.items()}
    made: dict[str, int] = {}

    (out / "customer.csv").write_text(_csv(take["customer"]))
    made["customer_csv"] = take["customer"].num_rows
    with gzip.open(out / "orders.tsv.gz", "wt") as f:
        f.write(_csv(take["orders"], "\t"))
    made["orders_tsv_gz"] = take["orders"].num_rows
    (out / "lineitem.jsonl").write_text(_jsonl(take["lineitem"]))
    made["lineitem_jsonl"] = take["lineitem"].num_rows
    # nested objects: read with json_normalize into dotted columns
    parts = [{"p_partkey": r["p_partkey"], "p_name": r["p_name"],
              "spec": {"brand": r["p_brand"], "type": r["p_type"],
                       "size": r["p_size"]},
              "price": {"retail": r["p_retailprice"]}}
             for r in _records(take["part"])]
    (out / "part.json").write_text(json.dumps(parts, indent=1))
    made["part_json"] = len(parts)
    with zipfile.ZipFile(out / "supplier.csv.zip", "w",
                         zipfile.ZIP_DEFLATED) as z:
        z.writestr("supplier.csv", _csv(take["supplier"]))
    made["supplier_csv_zip"] = take["supplier"].num_rows
    with lzma.open(out / "events.json.xz", "wt") as f:
        f.write(_jsonl(take["events"]))
    made["events_json_xz"] = take["events"].num_rows
    _write_xlsx_stdlib(take["customer"].slice(0, min(rows, 500))
                       .select(["c_custkey", "c_name", "c_acctbal"])
                       .to_pandas(), str(out / "accounts.xlsx"))
    made["accounts_xlsx"] = min(rows, 500, take["customer"].num_rows)
    return made


# -- corpus workload: one batch of documents and embeddings -----------------

def corpus_batch(seed: int, docs: int, vecs: int
                 ) -> tuple[pa.Table, pa.Table]:
    """(documents, embeddings) for the corpus workload; ~20% of the
    documents are exact or one-word near duplicates of earlier ones."""
    rng = np.random.default_rng(seed + 7919)
    return documents(rng, docs, dup_share=0.2), embeddings(rng, vecs)
