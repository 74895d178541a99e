"""Seeded benchmark inputs, written as one parquet file per table.

Everything here is a pure function of the seed and the size arguments:
the same seed gives byte-identical tables. The relational tables follow
the TPC-H-ish fixture schema (TESTDATA.md) and the quads follow the
relational -> RDF mapping of ``fourstore_spark.sources.relational``
(subject ``urn:T:<key>``, predicate ``urn:col:T#c``, graph ``urn:g:T``),
so the DuckDB oracle can answer the same questions from the relational
files or from the quads file.
"""

from __future__ import annotations

import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

XSD = "http://www.w3.org/2001/XMLSchema#"
XSD_INTEGER = XSD + "integer"
XSD_DOUBLE = XSD + "double"
XSD_DATETIME = XSD + "dateTime"
URI, LITERAL = 0, 2

REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PART_TYPES = ["ECONOMY", "STANDARD", "PROMO", "LARGE", "SMALL", "MEDIUM"]
PART_WORDS = ["cold", "small", "big", "red", "blue", "green", "steel", "brass"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
N_BRANDS = 25

# words of the benchmark's own fulltext-indexed literals
WORDS = (
    "the a fast slow key order sort table scan merge part window small big "
    "hash join batch stream spark data row column filter query group agg "
    "value line customer vector dup"
).split()
LANGS = ["en", "de", "es", "fr"]


def _dates(rng, n, lo="1992-01-01", hi="1998-12-31"):
    lo_d = np.datetime64(lo, "D").astype(np.int64)
    hi_d = np.datetime64(hi, "D").astype(np.int64)
    days = rng.integers(lo_d, hi_d + 1, n)
    return days.astype("datetime64[D]").astype("datetime64[us]")


def tpch_tables(seed: int, lineitems: int) -> dict[str, pa.Table]:
    """region/nation/customer/supplier/part/orders/lineitem, sized from
    the lineitem count with the fixtures' row ratios."""
    rng = np.random.default_rng(seed)
    n_orders = max(lineitems // 4, 10)
    n_cust = max(n_orders // 10, 10)
    n_part = max(lineitems // 30, 10)
    n_supp = max(lineitems // 600, 5)
    t: dict[str, pa.Table] = {}
    t["region"] = pa.table({
        "r_regionkey": pa.array(range(5), pa.int32()),
        "r_name": REGIONS,
    })
    t["nation"] = pa.table({
        "n_nationkey": pa.array(range(25), pa.int32()),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32()),
    })
    t["customer"] = pa.table({
        "c_custkey": np.arange(n_cust, dtype=np.int64),
        "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
        "c_nationkey": rng.integers(0, 25, n_cust).astype(np.int32),
        "c_acctbal": np.round(rng.uniform(-999.99, 9999.99, n_cust), 2),
        "c_mktsegment": rng.choice(SEGMENTS, n_cust),
    })
    t["supplier"] = pa.table({
        "s_suppkey": np.arange(n_supp, dtype=np.int64),
        "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
        "s_nationkey": rng.integers(0, 25, n_supp).astype(np.int32),
        "s_acctbal": np.round(rng.uniform(-999.99, 9999.99, n_supp), 2),
    })
    w = rng.choice(PART_WORDS, (n_part, 2))
    t["part"] = pa.table({
        "p_partkey": np.arange(n_part, dtype=np.int64),
        "p_name": [f"{a} widget {b}" for a, b in w],
        "p_brand": [f"Brand#{b}" for b in rng.integers(1, N_BRANDS + 1, n_part)],
        "p_type": rng.choice(PART_TYPES, n_part),
        "p_size": rng.integers(1, 51, n_part).astype(np.int32),
        "p_retailprice": np.round(900 + np.arange(n_part) * 0.1 % 1100, 2),
    })
    t["orders"] = pa.table({
        "o_orderkey": np.arange(n_orders, dtype=np.int64),
        "o_custkey": rng.integers(0, n_cust, n_orders),
        "o_orderstatus": rng.choice(["F", "O", "P"], n_orders, p=[.49, .49, .02]),
        "o_totalprice": np.round(rng.uniform(1000, 400000, n_orders), 2),
        "o_orderdate": _dates(rng, n_orders),
        "o_orderpriority": rng.choice(PRIORITIES, n_orders),
    })
    # (l_orderkey, l_linenumber) unique, so every lineitem subject ends
    # in the mapping's "-1" rank suffix
    ok = np.sort(rng.integers(0, n_orders, lineitems))
    first = np.r_[0, np.flatnonzero(np.diff(ok)) + 1]
    ln = np.arange(lineitems) - np.repeat(first, np.diff(np.r_[first, lineitems])) + 1
    qty = rng.integers(1, 51, lineitems).astype(np.float64)
    t["lineitem"] = pa.table({
        "l_orderkey": ok,
        "l_partkey": rng.integers(0, n_part, lineitems),
        "l_suppkey": rng.integers(0, n_supp, lineitems),
        "l_linenumber": ln.astype(np.int32),
        "l_quantity": qty,
        "l_extendedprice": np.round(qty * rng.uniform(900, 2100, lineitems), 2),
        "l_discount": rng.integers(0, 11, lineitems) / 100.0,
        "l_tax": rng.integers(0, 9, lineitems) / 100.0,
        "l_returnflag": rng.choice(["A", "N", "R"], lineitems),
        "l_linestatus": rng.choice(["F", "O"], lineitems),
        "l_shipdate": _dates(rng, lineitems),
    })
    return t


# table -> (key columns, [(column, kind)]); kind is "int", "double",
# "string", "timestamp" or ("fk", table) — the relational.py TABLE_MAPS
MAPPING = {
    "region": (["r_regionkey"], [("r_name", "string")]),
    "nation": (["n_nationkey"], [("n_name", "string"),
                                 ("n_regionkey", ("fk", "region"))]),
    "customer": (["c_custkey"], [
        ("c_name", "string"), ("c_nationkey", ("fk", "nation")),
        ("c_acctbal", "double"), ("c_mktsegment", "string")]),
    "supplier": (["s_suppkey"], [
        ("s_name", "string"), ("s_nationkey", ("fk", "nation")),
        ("s_acctbal", "double")]),
    "part": (["p_partkey"], [
        ("p_name", "string"), ("p_brand", "string"), ("p_type", "string"),
        ("p_size", "int"), ("p_retailprice", "double")]),
    "orders": (["o_orderkey"], [
        ("o_custkey", ("fk", "customer")), ("o_orderstatus", "string"),
        ("o_totalprice", "double"), ("o_orderdate", "timestamp"),
        ("o_orderpriority", "string")]),
    "lineitem": (["l_orderkey", "l_linenumber"], [
        ("l_orderkey", ("fk", "orders")), ("l_partkey", ("fk", "part")),
        ("l_suppkey", ("fk", "supplier")), ("l_linenumber", "int"),
        ("l_quantity", "double"), ("l_extendedprice", "double"),
        ("l_discount", "double"), ("l_tax", "double"),
        ("l_returnflag", "string"), ("l_linestatus", "string"),
        ("l_shipdate", "timestamp")]),
}


def _lex(values: np.ndarray, kind) -> tuple[list, str | None, object]:
    if isinstance(kind, tuple):
        return [f"urn:{kind[1]}:{v}" for v in values], None, None
    if kind == "int":
        return [str(int(v)) for v in values], XSD_INTEGER, values.astype(float)
    if kind == "double":
        return [repr(float(v)) for v in values], XSD_DOUBLE, values
    if kind == "timestamp":
        lex = np.datetime_as_string(values.astype("datetime64[s]"), unit="s")
        return list(lex), XSD_DATETIME, None
    return [str(v) for v in values], None, None


def quads_of(tables: dict[str, pa.Table]) -> pa.Table:
    """The quads of every mapped table, in the engine's QUADS_SCHEMA."""
    cols: dict[str, list] = {c: [] for c in
                             ("g", "s", "p", "o_kind", "o_lex", "o_dt", "o_num")}
    for name, (keys, columns) in MAPPING.items():
        if name not in tables:
            continue
        t = tables[name]
        key = [t[k].to_numpy() for k in keys]
        if len(keys) == 1:
            subj = [f"urn:{name}:{k}" for k in key[0]]
        else:  # composite key + the mapping's row-number suffix
            subj = [f"urn:{name}:{a}-{b}-1" for a, b in zip(*key)]
        for col, kind in columns:
            vals = t[col].to_numpy()
            lex, dt, num = _lex(vals, kind)
            n = len(lex)
            cols["g"] += [f"urn:g:{name}"] * n
            cols["s"] += subj
            cols["p"] += [f"urn:col:{name}#{col}"] * n
            cols["o_kind"] += [URI if isinstance(kind, tuple) else LITERAL] * n
            cols["o_lex"] += lex
            cols["o_dt"] += [dt] * n
            cols["o_num"] += list(num) if num is not None else [None] * n
    return quads_table(cols)


def quads_table(cols: dict[str, list]) -> pa.Table:
    n = len(cols["s"])
    return pa.table({
        "g": pa.array(cols["g"], pa.string()),
        "s": pa.array(cols["s"], pa.string()),
        "s_kind": pa.array(np.zeros(n, np.int8), pa.int8()),
        "p": pa.array(cols["p"], pa.string()),
        "o_kind": pa.array(cols["o_kind"], pa.int8()),
        "o_lex": pa.array(cols["o_lex"], pa.string()),
        "o_dt": pa.array(cols["o_dt"], pa.string()),
        "o_lang": pa.array([None] * n, pa.string()),
        "o_num": pa.array(cols["o_num"], pa.float64()),
    })


def config_quads(pred: str) -> pa.Table:
    """system:config triples directing token, stem and dmetaphone
    indexing of ``pred`` (the fulltext import hook's configuration)."""
    ft = "http://4store.org/fulltext#"
    modes = ["token", "stem", "dmetaphone"]
    return quads_table({
        "g": ["system:config"] * 3, "s": [pred] * 3,
        "p": [ft + "index"] * 3, "o_kind": [URI] * 3,
        "o_lex": [ft + m for m in modes], "o_dt": [None] * 3,
        "o_num": [None] * 3,
    })


def corpus(seed: int, n_docs: int, dup_share: float, dim: int = 64):
    """(documents, embeddings, planted) over a Zipf-weighted vocabulary
    of 700 seeded words. ``dup_share`` of the documents are
    near-duplicates (one or two words replaced) of an earlier document,
    listed in ``planted`` as (original id, copy id); their embeddings are
    small perturbations of the original's. The rest share little text,
    so LSH buckets stay small."""
    rng = np.random.default_rng(seed)
    vocab = ["".join(rng.choice(list("abcdefghijklmnopqrstuvwxyz"), k))
             for k in rng.integers(3, 10, 700)]
    weights = 1.0 / np.arange(1, len(vocab) + 1)
    weights /= weights.sum()
    lens = rng.integers(20, 120, n_docs)
    texts: list[str] = []
    planted: list[tuple[int, int]] = []
    vecs = np.empty((n_docs, dim), np.float32)
    for i in range(n_docs):
        if i > 10 and rng.random() < dup_share:
            j = int(rng.integers(0, i))
            words = texts[j].split()
            for _ in range(int(rng.integers(1, 3))):
                words[int(rng.integers(0, len(words)))] = vocab[
                    int(rng.integers(0, len(vocab)))]
            texts.append(" ".join(words))
            planted.append((j, i))
            vecs[i] = vecs[j] + rng.normal(0, 0.01, dim)
        else:
            texts.append(" ".join(rng.choice(vocab, lens[i], p=weights)))
            vecs[i] = rng.normal(0, 0.15, dim)
    docs = pa.table({
        "doc_id": np.arange(n_docs, dtype=np.int64),
        "text": texts,
        "lang": rng.choice(LANGS, n_docs),
        "source": [f"src{k}" for k in rng.integers(0, 8, n_docs)],
        "n_chars": np.array([len(t) for t in texts], np.int64),
    })
    emb = pa.table({
        "vec_id": np.arange(n_docs, dtype=np.int64),
        "embedding": pa.array(list(vecs), pa.list_(pa.float32())),
        "label": rng.integers(0, 10, n_docs).astype(np.int32),
    })
    return docs, emb, planted


def shingles(text: str, k: int = 5) -> set[str]:
    """The character k-shingles minhash_lsh_candidates hashes."""
    t = text.lower()
    return {t[i:i + k] for i in range(max(len(t) - k, 0) + 1)}


def write(tables: dict[str, pa.Table], out_dir: str) -> None:
    """One parquet file (one row group) per table, like the fixtures."""
    os.makedirs(out_dir, exist_ok=True)
    for name, t in tables.items():
        pq.write_table(t, os.path.join(out_dir, f"{name}.parquet"),
                       row_group_size=max(t.num_rows, 1))
