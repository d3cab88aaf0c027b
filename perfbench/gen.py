"""Seeded input generation for the graft benchmark.

The tables and micro-batch files the program reads are written here from
one seed: the TPC-H-ish star schema plus the `events`, `documents` and
`embeddings` tables (same column names, physical types and value
distributions as the repository's fixture tables), and the micro-batch
files of the streaming workload. The same seed always gives
byte-identical files.
"""
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

VOCAB = ("a the spark window merge table column vector stream value data "
         "small join filter big group hash customer sort order slow line "
         "part fast row agg key query scan batch").split()
LANGS = ["en", "de", "es", "fr", "zh"]
LANG_P = [0.4, 0.15, 0.15, 0.15, 0.15]
PART_ADJ = "blue cold hot large new old red small".split()
PART_NOUN = "anvil bolt gear gizmo plate ring rod widget".split()


def _ts(base, offsets_us):
    return pa.array(base + offsets_us.astype("timedelta64[us]"),
                    type=pa.timestamp("us"))


def _days(rng, start, n, span):
    return _ts(np.datetime64(start, "us"),
               rng.integers(0, span + 1, n) * 86_400_000_000)


def _write(out, name, cols):
    pq.write_table(pa.table(cols), os.path.join(out, f"{name}.parquet"))


def documents(rng, n, first_id=0):
    """Random-vocabulary documents; 5% are near duplicates (an earlier
    document's text plus a trailing `dup` token)."""
    lens = rng.integers(10, 101, n)
    words = rng.integers(0, len(VOCAB), int(lens.sum()))
    texts, pos = [], 0
    for ln in lens:
        texts.append(" ".join(VOCAB[w] for w in words[pos:pos + ln]))
        pos += ln
    for i in rng.choice(np.arange(1, n), n // 20, replace=False):
        texts[i] = texts[rng.integers(0, i)] + " dup"
    ids = np.arange(first_id, first_id + n, dtype=np.int64)
    return {
        "doc_id": pa.array(ids),
        "text": pa.array(texts),
        "lang": pa.array(rng.choice(LANGS, n, p=LANG_P)),
        "source": pa.array([f"src{i % 20}" for i in ids]),
        "n_chars": pa.array([len(t) for t in texts], type=pa.int64()),
    }


def tables(out, seed, sf):
    """Write the ten fixture tables at scale factor `sf` under `out`."""
    os.makedirs(out, exist_ok=True)
    rng = np.random.default_rng([seed, int(sf * 1e6)])
    n_cust, n_supp = int(150_000 * sf), int(10_000 * sf)
    n_part, n_ord = int(200_000 * sf), int(1_500_000 * sf)
    n_li, n_ev = int(6_000_000 * sf), int(1_000_000 * sf)
    n_doc, n_emb = max(500, int(50_000 * sf)), max(500, int(20_000 * sf))
    i32 = pa.int32()

    def money(lo, hi, n):
        return pa.array(np.round(rng.uniform(lo, hi, n), 2))

    build = {
        "region": lambda: {
            "r_regionkey": pa.array(range(5), type=i32),
            "r_name": pa.array(["AFRICA", "AMERICA", "ASIA", "EUROPE",
                                "MIDDLE EAST"])},
        "nation": lambda: {
            "n_nationkey": pa.array(range(25), type=i32),
            "n_name": pa.array([f"NATION_{i}" for i in range(25)]),
            "n_regionkey": pa.array([i % 5 for i in range(25)], type=i32)},
        "customer": lambda: {
            "c_custkey": pa.array(np.arange(n_cust, dtype=np.int64)),
            "c_name": pa.array([f"Customer#{i:09d}" for i in range(n_cust)]),
            "c_nationkey": pa.array(rng.integers(0, 25, n_cust), type=i32),
            "c_acctbal": money(-999.99, 9999.99, n_cust),
            "c_mktsegment": pa.array(rng.choice(
                ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD",
                 "MACHINERY"], n_cust))},
        "supplier": lambda: {
            "s_suppkey": pa.array(np.arange(n_supp, dtype=np.int64)),
            "s_name": pa.array([f"Supplier#{i:09d}" for i in range(n_supp)]),
            "s_nationkey": pa.array(rng.integers(0, 25, n_supp), type=i32),
            "s_acctbal": money(-999.99, 9999.99, n_supp)},
        "part": lambda: {
            "p_partkey": pa.array(np.arange(n_part, dtype=np.int64)),
            "p_name": pa.array([
                f"{PART_ADJ[a]} {PART_NOUN[b]}" for a, b in
                zip(rng.integers(0, 8, n_part), rng.integers(0, 8, n_part))]),
            "p_brand": pa.array(
                [f"Brand#{b}" for b in rng.integers(1, 26, n_part)]),
            "p_type": pa.array(rng.choice(
                ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"],
                n_part)),
            "p_size": pa.array(rng.integers(1, 51, n_part), type=i32),
            "p_retailprice": pa.array(
                np.round(900 + (np.arange(n_part) % 1000) * 0.1, 2))},
        "orders": lambda: {
            "o_orderkey": pa.array(np.arange(n_ord, dtype=np.int64)),
            "o_custkey": pa.array(rng.integers(0, n_cust, n_ord)),
            "o_orderstatus": pa.array(rng.choice(["F", "O", "P"], n_ord)),
            "o_totalprice": money(1000, 500_000, n_ord),
            "o_orderdate": _days(rng, "1995-01-01", n_ord, 2404),
            "o_orderpriority": pa.array(rng.choice(
                ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"],
                n_ord))},
        "lineitem": lambda: {
            "l_orderkey": pa.array(rng.integers(0, n_ord, n_li)),
            "l_partkey": pa.array(rng.integers(0, n_part, n_li)),
            "l_suppkey": pa.array(rng.integers(0, n_supp, n_li)),
            "l_linenumber": pa.array(rng.integers(1, 8, n_li), type=i32),
            "l_quantity": pa.array(rng.integers(1, 51, n_li).astype(float)),
            "l_extendedprice": money(900, 105_000, n_li),
            "l_discount": money(0, 0.1, n_li),
            "l_tax": money(0, 0.08, n_li),
            "l_returnflag": pa.array(rng.choice(["A", "N", "R"], n_li)),
            "l_linestatus": pa.array(rng.choice(["F", "O"], n_li)),
            "l_shipdate": _days(rng, "1995-01-02", n_li, 2497)},
        "events": lambda: {
            "event_id": pa.array(np.arange(n_ev, dtype=np.int64)),
            "ts": _ts(np.datetime64("2024-01-01", "us"), np.sort(
                rng.integers(0, 30 * 86_400_000_000, n_ev))),
            "user_id": pa.array(rng.integers(0, max(15, int(15_000 * sf)),
                                             n_ev)),
            "event_type": pa.array(rng.choice(
                ["click", "error", "purchase", "signup", "view"], n_ev)),
            "value": pa.array(np.round(rng.exponential(50.0, n_ev), 2)),
            "props": pa.array(
                [f'{{"k": {k}}}' for k in rng.integers(0, 100, n_ev)])},
        "documents": lambda: documents(rng, n_doc),
        "embeddings": lambda: {
            "vec_id": pa.array(np.arange(n_emb, dtype=np.int64)),
            "embedding": pa.array(list(_unit_rows(rng, n_emb, 64)),
                                  type=pa.list_(pa.float32())),
            "label": pa.array(rng.integers(0, 10, n_emb), type=i32)},
    }
    for name, make in build.items():
        _write(out, name, make())


def _unit_rows(rng, n, d):
    x = rng.standard_normal((n, d)).astype(np.float32)
    x /= np.linalg.norm(x, axis=1, keepdims=True)
    return x


def stream_batches(out, seed, n_batches, batch_docs, dup_share=0.1):
    """Micro-batch parquet files `batch_00000.parquet`, ... under `out`.

    Fresh documents are drawn from the seed; from the second batch on, a
    fixed share of each batch re-injects documents of earlier batches,
    half as exact copies and half as near duplicates, under new doc ids.
    Returns the concatenated input as a pyarrow table.
    """
    os.makedirs(out, exist_ok=True)
    rng = np.random.default_rng([seed, 7])
    n_dup = int(batch_docs * dup_share)
    seen, parts = [], []
    next_id = 0
    for b in range(n_batches):
        n_new = batch_docs - (n_dup if b else 0)
        cols = documents(rng, n_new, first_id=next_id)
        next_id += n_new
        fresh = pa.table(cols)
        if b:
            src = pa.concat_tables(seen)
            pick = rng.choice(src.num_rows, n_dup, replace=False)
            texts = src.column("text").take(pa.array(pick)).to_pylist()
            texts = [t if i % 2 == 0 else t + " dup"
                     for i, t in enumerate(texts)]
            ids = np.arange(next_id, next_id + n_dup, dtype=np.int64)
            next_id += n_dup
            dups = pa.table({
                "doc_id": pa.array(ids),
                "text": pa.array(texts),
                "lang": src.column("lang").take(pa.array(pick)),
                "source": pa.array([f"src{i % 20}" for i in ids]),
                "n_chars": pa.array([len(t) for t in texts], type=pa.int64()),
            })
            fresh = pa.concat_tables([fresh, dups])
        seen.append(fresh)
        parts.append(fresh)
        pq.write_table(fresh, os.path.join(out, f"batch_{b:05d}.parquet"))
    return pa.concat_tables(parts)
