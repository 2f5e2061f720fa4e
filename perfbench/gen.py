"""Seeded input generator for the benchmark.

Writes the ten tables of `graft.Tables.all` as one parquet file each,
with the schemas and value domains of the engine's synthetic test data
(TPC-H-like star schema, an `events` stream, a text corpus and unit
embeddings). The same seed and sizes give byte-identical tables.

Orders are drawn first and every lineitem references one of them, so
the key subset never produces dangling or duplicate order keys.
`dup_share` > 0 adds exact and near-duplicate variants of a seeded
choice of documents and embeddings, in the shape of the 10x stress
corpus: half of the copies are exact, the rest carry a " variant k"
suffix (documents) or are rescaled / nudged in one dimension
(embeddings).
"""
import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

WORDS = ("a agg batch big column customer data fast filter group hash join key "
         "line merge order part query row scan slow small sort spark stream "
         "table the value vector window").split()
ADJ = "blue cold hot large new old red small".split()
NOUN = "anvil bolt gear gizmo plate ring rod widget".split()
REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PTYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
LANGS = ["en", "de", "es", "fr", "zh"]
US = pa.timestamp("us")


def _days(rng, n, lo, hi):
    lo, hi = np.datetime64(lo, "D"), np.datetime64(hi, "D")
    span = int((hi - lo).astype(int))
    return (lo + rng.integers(0, span + 1, n)).astype("datetime64[us]")


def _money(rng, n, lo, hi):
    return np.round(rng.uniform(lo, hi, n), 2)


def _write(out, name, cols):
    pq.write_table(pa.table(cols), f"{out}/{name}.parquet")


def generate(out, seed, sizes, dup_share=0.0):
    """Write the tables under `out`; returns the generated row counts."""
    rng = np.random.default_rng(seed)
    n_cust, n_supp, n_part = sizes["customer"], sizes["supplier"], sizes["part"]
    n_ord, n_li, n_ev = sizes["orders"], sizes["lineitem"], sizes["events"]
    n_docs, n_emb = sizes["documents"], sizes["embeddings"]
    i32 = pa.int32()

    _write(out, "region", {"r_regionkey": pa.array(range(5), i32),
                           "r_name": REGIONS})
    _write(out, "nation", {
        "n_nationkey": pa.array(range(25), i32),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array([i % 5 for i in range(25)], i32)})
    _write(out, "customer", {
        "c_custkey": np.arange(n_cust, dtype=np.int64),
        "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
        "c_nationkey": pa.array(rng.integers(0, 25, n_cust), i32),
        "c_acctbal": _money(rng, n_cust, -999.99, 9999.99),
        "c_mktsegment": rng.choice(SEGMENTS, n_cust)})
    _write(out, "supplier", {
        "s_suppkey": np.arange(n_supp, dtype=np.int64),
        "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
        "s_nationkey": pa.array(rng.integers(0, 25, n_supp), i32),
        "s_acctbal": _money(rng, n_supp, -999.99, 9999.99)})
    pk = np.arange(n_part, dtype=np.int64)
    _write(out, "part", {
        "p_partkey": pk,
        "p_name": [f"{a} {b}" for a, b in zip(rng.choice(ADJ, n_part),
                                               rng.choice(NOUN, n_part))],
        "p_brand": [f"Brand#{b}" for b in rng.integers(1, 26, n_part)],
        "p_type": rng.choice(PTYPES, n_part),
        "p_size": pa.array(rng.integers(1, 51, n_part), i32),
        "p_retailprice": np.round(900 + (pk % 1000) * 0.1, 1)})
    _write(out, "orders", {
        "o_orderkey": np.arange(n_ord, dtype=np.int64),
        "o_custkey": rng.integers(0, n_cust, n_ord),
        "o_orderstatus": rng.choice(["F", "O", "P"], n_ord),
        "o_totalprice": _money(rng, n_ord, 1000, 500000),
        "o_orderdate": pa.array(_days(rng, n_ord, "1995-01-01", "2001-08-01"), US),
        "o_orderpriority": rng.choice(PRIORITIES, n_ord)})
    _write(out, "lineitem", {
        "l_orderkey": rng.integers(0, n_ord, n_li),
        "l_partkey": rng.integers(0, n_part, n_li),
        "l_suppkey": rng.integers(0, n_supp, n_li),
        "l_linenumber": pa.array(rng.integers(1, 8, n_li), i32),
        "l_quantity": rng.integers(1, 51, n_li).astype(np.float64),
        "l_extendedprice": _money(rng, n_li, 900, 105000),
        "l_discount": rng.integers(0, 11, n_li) / 100.0,
        "l_tax": rng.integers(0, 9, n_li) / 100.0,
        "l_returnflag": rng.choice(["A", "N", "R"], n_li),
        "l_linestatus": rng.choice(["F", "O"], n_li),
        "l_shipdate": pa.array(_days(rng, n_li, "1995-01-02", "2001-11-04"), US)})

    t0 = np.datetime64("2024-01-01T00:00:00", "us")
    month_us = 30 * 86400 * 10**6
    _write(out, "events", {
        "event_id": np.arange(n_ev, dtype=np.int64),
        "ts": pa.array(t0 + np.sort(rng.integers(0, month_us, n_ev)), US),
        "user_id": rng.integers(0, 1500, n_ev),
        "event_type": rng.choice(EVENT_TYPES, n_ev),
        "value": np.round(rng.exponential(50.0, n_ev), 2),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n_ev)]})

    texts = [" ".join(rng.choice(WORDS, rng.integers(10, 101)))
             for _ in range(n_docs)]
    # 5% of documents restate another one with a " dup" tail
    for i in rng.choice(n_docs, n_docs // 20, replace=False):
        texts[i] = texts[int(rng.integers(0, n_docs))] + " dup"
    langs = rng.choice(LANGS, n_docs, p=[0.4, 0.15, 0.15, 0.15, 0.15])
    sources = [f"src{i % 20}" for i in range(n_docs)]
    emb = rng.standard_normal((n_emb, 64)).astype(np.float32)
    emb /= np.linalg.norm(emb, axis=1, keepdims=True)
    labels = rng.integers(0, 10, n_emb)

    doc_ids, emb_ids = list(range(n_docs)), list(range(n_emb))
    emb_rows = list(emb)
    emb_labels = list(labels)
    if dup_share > 0:
        for j, i in enumerate(rng.choice(n_docs, int(n_docs * dup_share), replace=False)):
            k = j % 10
            doc_ids.append(n_docs + j)
            texts.append(texts[i] if k < 5 else f"{texts[i]} variant {k}")
            langs = np.append(langs, langs[i])
            sources.append(sources[i])
        for j, i in enumerate(rng.choice(n_emb, int(n_emb * dup_share), replace=False)):
            k = j % 10
            v = emb[i].copy()
            if 5 <= k < 7:
                v *= np.float32(1 + k / 100)
            elif k >= 7:
                v[0] += np.float32((k - 6) / 500)
            emb_ids.append(n_emb + j)
            emb_rows.append(v)
            emb_labels.append(labels[i])
    _write(out, "documents", {
        "doc_id": np.array(doc_ids, dtype=np.int64),
        "text": texts,
        "lang": langs,
        "source": sources,
        "n_chars": np.array([len(t) for t in texts], dtype=np.int64)})
    _write(out, "embeddings", {
        "vec_id": np.array(emb_ids, dtype=np.int64),
        "embedding": pa.array([r.tolist() for r in emb_rows], pa.list_(pa.float32())),
        "label": pa.array(emb_labels, i32)})
    return {"documents": len(doc_ids), "embeddings": len(emb_ids),
            "lineitem": n_li, "orders": n_ord, "events": n_ev}
