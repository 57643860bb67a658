"""Seeded input generator for the benchmark workloads.

Writes the library's table layout (one `<table>.parquet` directory per table,
same column names and types as the test corpus) for one workload and seed.
The same (workload, seed, scale) always yields byte-identical files.

Sizes are given as `scale`, the fraction of the reference sizes: 1.0 is the
sf0.1 relational corpus (150k orders, 100k events) and, for documents, the
20k-document curation corpus (5k base documents replicated 4x).

    python3 perfbench/gen.py <workload> <seed> <scale> <out_dir>
"""
import json
import os
import shutil
import sys

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

VOCAB = ("spark window merge table column vector stream value data small join "
         "filter big group hash customer sort order slow line part fast row "
         "the agg key query a scan batch").split()
LANGS = ["en", "zh", "de", "fr", "es"]
LANG_P = [0.41, 0.15, 0.14, 0.15, 0.15]
SEGMENTS = ["MACHINERY", "AUTOMOBILE", "HOUSEHOLD", "BUILDING", "FURNITURE"]
PTYPES = ["LARGE", "ECONOMY", "STANDARD", "SMALL", "MEDIUM", "PROMO"]
ADJ = ["large", "hot", "blue", "old", "cold", "small", "red", "new"]
NOUN = ["ring", "bolt", "plate", "gear", "nut", "pipe", "wire", "valve"]
STATUS = ["O", "P", "F"]
PRIOS = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
EVENT_TYPES = ["signup", "click", "error", "view", "purchase"]
# Content of the relational and ingest inputs is fixed; the run seed only
# permutes rows, splits files and picks batches (see the workload notes).
CONTENT_SEED = 20240101
EMB_DIM = 64
DOC_ID_STRIDE = 1_000_000


def _ts(values_us):
    return pa.array(values_us.astype("int64"), type=pa.int64()).cast(pa.timestamp("us"))


def relational(f):
    """The star-schema tables at `f` x sf0.1 sizes."""
    rng = np.random.default_rng(CONTENT_SEED)
    n_cust = max(50, int(15000 * f))
    n_supp = max(10, int(1000 * f))
    n_part = max(50, int(20000 * f))
    n_ord = max(100, int(150000 * f))
    n_ev = max(100, int(100000 * f))
    n_users = max(20, int(1500 * f))
    t = {}
    t["region"] = pa.table({
        "r_regionkey": pa.array(range(5), pa.int32()),
        "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]})
    t["nation"] = pa.table({
        "n_nationkey": pa.array(range(25), pa.int32()),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32())})
    t["customer"] = pa.table({
        "c_custkey": pa.array(np.arange(n_cust), pa.int64()),
        "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
        "c_nationkey": pa.array(rng.integers(0, 25, n_cust), pa.int32()),
        "c_acctbal": np.round(rng.uniform(-999.99, 9999.99, n_cust), 2),
        "c_mktsegment": [SEGMENTS[i] for i in rng.integers(0, 5, n_cust)]})
    t["supplier"] = pa.table({
        "s_suppkey": pa.array(np.arange(n_supp), pa.int64()),
        "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
        "s_nationkey": pa.array(rng.integers(0, 25, n_supp), pa.int32()),
        "s_acctbal": np.round(rng.uniform(-999.99, 9999.99, n_supp), 2)})
    t["part"] = pa.table({
        "p_partkey": pa.array(np.arange(n_part), pa.int64()),
        "p_name": [f"{ADJ[a]} {NOUN[b]}" for a, b in
                   zip(rng.integers(0, 8, n_part), rng.integers(0, 8, n_part))],
        "p_brand": [f"Brand#{i}" for i in rng.integers(1, 26, n_part)],
        "p_type": [PTYPES[i] for i in rng.integers(0, 6, n_part)],
        "p_size": pa.array(rng.integers(1, 51, n_part), pa.int32()),
        "p_retailprice": np.round(900 + (np.arange(n_part) % 1000) * 0.1, 1)})
    day_us = 86_400_000_000
    base_1995 = 788_918_400_000_000  # 1995-01-01
    odate = base_1995 + rng.integers(0, 2404, n_ord) * day_us
    t["orders"] = pa.table({
        "o_orderkey": pa.array(np.arange(n_ord), pa.int64()),
        "o_custkey": pa.array(rng.integers(0, n_cust, n_ord), pa.int64()),
        "o_orderstatus": [STATUS[i] for i in rng.integers(0, 3, n_ord)],
        "o_totalprice": np.round(rng.uniform(1000, 500000, n_ord), 2),
        "o_orderdate": _ts(odate),
        "o_orderpriority": [PRIOS[i] for i in rng.integers(0, 5, n_ord)]})
    lines = rng.integers(1, 8, n_ord)
    lok = np.repeat(np.arange(n_ord), lines)
    lnum = np.concatenate([np.arange(1, k + 1) for k in lines])
    n_li = len(lok)
    qty = rng.integers(1, 51, n_li).astype(float)
    t["lineitem"] = pa.table({
        "l_orderkey": pa.array(lok, pa.int64()),
        "l_partkey": pa.array(rng.integers(0, n_part, n_li), pa.int64()),
        "l_suppkey": pa.array(rng.integers(0, n_supp, n_li), pa.int64()),
        "l_linenumber": pa.array(lnum, pa.int32()),
        "l_quantity": qty,
        "l_extendedprice": np.round(qty * rng.uniform(900, 2100, n_li), 2),
        "l_discount": rng.integers(0, 11, n_li) / 100.0,
        "l_tax": rng.integers(0, 9, n_li) / 100.0,
        "l_returnflag": [("A", "N", "R")[i] for i in rng.integers(0, 3, n_li)],
        "l_linestatus": [("O", "F")[i] for i in rng.integers(0, 2, n_li)],
        "l_shipdate": _ts(odate[lok] + rng.integers(1, 122, n_li) * day_us)})
    base_2024 = 1_704_067_200_000_000  # 2024-01-01
    ev_ts = np.sort(base_2024 + rng.integers(0, 30 * day_us, n_ev))
    t["events"] = pa.table({
        "event_id": pa.array(np.arange(n_ev), pa.int64()),
        "ts": _ts(ev_ts),
        "user_id": pa.array(rng.integers(0, n_users, n_ev), pa.int64()),
        "event_type": [EVENT_TYPES[i] for i in rng.integers(0, 5, n_ev)],
        "value": np.round(rng.gamma(2.0, 30.0, n_ev), 2),
        "props": [f'{{"k": {i}}}' for i in rng.integers(0, 100, n_ev)]})
    return t


def base_docs(rng, n):
    """`n` documents shaped like the test corpus: uniform words from a
    30-word vocabulary, 8-100 words, 5% near-duplicates (another document's
    text plus one token) and a handful of exact duplicates."""
    lens = rng.integers(8, 101, n)
    words = rng.integers(0, len(VOCAB), int(lens.sum()))
    cuts = np.cumsum(lens)[:-1]
    texts = [" ".join(VOCAB[w] for w in ws) for ws in np.split(words, cuts)]
    for i in rng.choice(n, max(1, n // 20), replace=False):
        texts[i] = texts[int(rng.integers(0, n))] + " dup"
    for i in rng.choice(n, max(1, n // 600), replace=False):
        texts[i] = texts[int(rng.integers(0, n))]
    langs = [LANGS[i] for i in rng.choice(5, n, p=LANG_P)]
    return texts, langs


def documents_table(ids, texts, langs):
    return pa.table({
        "doc_id": pa.array(ids, pa.int64()),
        "text": texts,
        "lang": langs,
        "source": [f"src{i % 20}" for i in ids],
        "n_chars": pa.array([len(x) for x in texts], pa.int64())})


def copy_keyed(texts, rng, copy):
    """ScaleTest-style replica: ~20% of token types get a copy-local form,
    so near-duplicate pairs inside a copy keep their Jaccard while the
    copies stay far apart."""
    sub = set(np.flatnonzero(rng.random(len(VOCAB)) < 0.2).tolist())
    table = {w: (f"{w}~{copy}" if i in sub else w) for i, w in enumerate(VOCAB)}
    table["dup"] = "dup"
    return [" ".join(table.get(w, w) for w in x.split(" ")) for x in texts]


def embeddings_table(rng, ids):
    x = rng.standard_normal((len(ids), EMB_DIM)).astype(np.float32)
    x /= np.linalg.norm(x, axis=1, keepdims=True)
    return pa.table({
        "vec_id": pa.array(ids, pa.int64()),
        "embedding": pa.array(list(x), pa.list_(pa.float32())),
        "label": pa.array(rng.integers(0, 10, len(ids)), pa.int32())})


def write_table(table, path, rng, n_files):
    """Row-permuted table written as `n_files` part files split at seeded
    row positions (one file for tables under 64 rows)."""
    order = rng.permutation(table.num_rows)
    table = table.take(pa.array(order))
    os.makedirs(path, exist_ok=True)
    n_files = n_files if table.num_rows >= 64 else 1
    cuts = np.sort(rng.integers(table.num_rows // 4, 3 * table.num_rows // 4, n_files - 1))
    bounds = [0, *cuts.tolist(), table.num_rows]
    for i in range(n_files):
        pq.write_table(table.slice(bounds[i], bounds[i + 1] - bounds[i]),
                       os.path.join(path, f"part-{i:05d}.parquet"))


def gen_etl_star(seed, scale, out):
    rng = np.random.default_rng(seed)
    for name, table in relational(scale).items():
        write_table(table, f"{out}/{name}.parquet", rng, 4)
    return {}


def gen_curate_batch(seed, scale, out):
    rng = np.random.default_rng(seed)
    n = max(200, int(5000 * scale))
    texts, langs = base_docs(rng, n)
    ids, all_texts, all_langs = [], [], []
    for copy in range(4):
        ids.extend(range(copy * DOC_ID_STRIDE, copy * DOC_ID_STRIDE + n))
        all_texts.extend(texts if copy == 0 else copy_keyed(texts, rng, copy))
        all_langs.extend(langs)
    write_table(documents_table(ids, all_texts, all_langs),
                f"{out}/documents.parquet", rng, 4)
    write_table(embeddings_table(rng, np.arange(max(100, int(2000 * scale)))),
                f"{out}/embeddings.parquet", rng, 2)
    return {}


def gen_ingest_stream(seed, scale, out, cycles=1):
    """Corpus docs carry ids with id % 5 != 0 and arrivals id % 5 == 0 (the
    library's arrival convention). `corpus/` holds what the three standing
    indexes are built from, `all/` the corpus plus every arrival for the
    stream pass, and `arrivals.json` the seeded plan: the arrival batch of
    each cycle, the takedown slice, and a held-out batch the check probes
    the final index state with."""
    content = np.random.default_rng(CONTENT_SEED)
    n = max(200, int(5000 * scale))
    texts, langs = base_docs(content, n)
    ids = np.arange(n)
    corpus = ids % 5 != 0
    vec_ids = np.arange(max(100, int(2000 * scale)))
    emb = embeddings_table(content, vec_ids)
    vec_corpus = vec_ids % 5 != 0
    rng = np.random.default_rng(seed)
    docs = documents_table(ids.tolist(), texts, langs)
    write_table(docs.filter(pa.array(corpus)), f"{out}/corpus/documents.parquet", rng, 2)
    write_table(emb.filter(pa.array(vec_corpus)), f"{out}/corpus/embeddings.parquet", rng, 2)
    write_table(docs, f"{out}/all/documents.parquet", rng, 1)
    arr_docs = rng.permutation(ids[~corpus])
    arr_vecs = rng.permutation(vec_ids[~vec_corpus])
    held_docs, arr_docs = arr_docs[:len(arr_docs) // 10], arr_docs[len(arr_docs) // 10:]
    held_vecs, arr_vecs = arr_vecs[:len(arr_vecs) // 10], arr_vecs[len(arr_vecs) // 10:]
    take_docs = rng.choice(ids[corpus], max(2, n // 100), replace=False)
    take_vecs = rng.choice(vec_ids[vec_corpus], max(2, len(vec_ids) // 100), replace=False)

    def ints(xs):
        return sorted(int(i) for i in xs)
    plan = {
        "cycles": [{"docs": ints(d), "vecs": ints(v)}
                   for d, v in zip(np.array_split(arr_docs, cycles),
                                   np.array_split(arr_vecs, cycles))],
        "held_out": {"docs": ints(held_docs), "vecs": ints(held_vecs)},
        "takedown_docs": ints(take_docs),
        "takedown_vecs": ints(take_vecs),
    }
    with open(f"{out}/arrivals.json", "w") as fh:
        json.dump(plan, fh)
    # Arrival payloads, read into memory before timing.
    pq.write_table(docs.filter(pa.array(~corpus)), f"{out}/arrival_docs.parquet")
    pq.write_table(emb.filter(pa.array(~vec_corpus)), f"{out}/arrival_vecs.parquet")
    return plan


GENERATORS = {
    "etl_star": gen_etl_star,
    "curate_batch": gen_curate_batch,
    "ingest_stream": gen_ingest_stream,
}


def generate(workload, seed, scale, out):
    """Generate once; a `_done` marker makes reruns free."""
    done = os.path.join(out, "_done")
    if os.path.exists(done):
        return
    tmp = out + ".tmp"
    if os.path.exists(tmp):
        shutil.rmtree(tmp)
    os.makedirs(tmp)
    GENERATORS[workload](seed, scale, tmp)
    open(os.path.join(tmp, "_done"), "w").close()
    os.rename(tmp, out)


if __name__ == "__main__":
    generate(sys.argv[1], int(sys.argv[2]), float(sys.argv[3]), sys.argv[4])
