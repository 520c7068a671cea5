"""Seeded input generator for the graft benchmark.

Writes the ten tables the engine reads (`graft.Tables.all`) as one parquet
file each, with the schema and value distributions of the sf-scaled
TPC-H-ish test data the engine is developed against: uniform keys and
measures, a 30-word document vocabulary with ~5% one-word-edit near
duplicates, 64-dim random unit embeddings, and a time-ordered event log.

`corpus_tokens > 0` replaces `documents` with a Zipf corpus over a large
synthetic vocabulary (a hot head and a long tail), separated by the
reference word count's `" \\t\\n\\r"` delimiters, including runs of
delimiters that produce empty tokens the word count must drop.

The same (sf, seed, corpus_tokens) always gives byte-identical files.
"""
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

DOC_VOCAB = ("a the data spark table query join scan sort hash key value row "
             "column group agg filter window merge stream batch vector line "
             "part order customer fast slow big small").split()
PART_ADJ = "large small hot cold new old red blue".split()
PART_NOUN = "ring bolt gear plate rod anvil widget nut".split()
PART_TYPES = "LARGE ECONOMY STANDARD SMALL MEDIUM PROMO".split()
SEGMENTS = "MACHINERY AUTOMOBILE HOUSEHOLD BUILDING FURNITURE".split()
PRIORITIES = "1-URGENT 2-HIGH 3-MEDIUM 4-NOT SPECIFIED 5-LOW".split(" ", 2)
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
EVENT_TYPES = "signup click error view purchase".split()
LANGS = ["en", "fr", "zh", "de", "es"]
LANG_P = [0.4, 0.15, 0.15, 0.15, 0.15]

DAY_US = 86_400_000_000
EPOCH_1995 = np.datetime64("1995-01-01", "us").astype(np.int64)
EPOCH_2024 = np.datetime64("2024-01-01", "us").astype(np.int64)


def _money(rng, lo, hi, n):
    return np.round(rng.integers(int(lo * 100), int(hi * 100) + 1, n) / 100.0, 2)


def _write(out_dir, name, cols):
    pq.write_table(pa.table(cols), os.path.join(out_dir, name + ".parquet"),
                   compression="snappy")


def _ts(values_us):
    return pa.array(values_us, type=pa.timestamp("us"))


def _documents(rng, n_docs):
    texts = []
    for _ in range(n_docs):
        words = rng.integers(0, len(DOC_VOCAB), rng.integers(10, 101))
        texts.append(" ".join(DOC_VOCAB[w] for w in words))
    # ~5% near duplicates: a later doc copies an earlier one with one word
    # replaced, the shape the dedup and similarity operators look for
    for i in rng.choice(np.arange(1, n_docs), size=n_docs // 20, replace=False):
        words = texts[rng.integers(0, i)].split(" ")
        words[rng.integers(0, len(words))] = DOC_VOCAB[rng.integers(0, len(DOC_VOCAB))]
        texts[i] = " ".join(words)
    return texts


def _zipf_corpus(rng, n_tokens, n_docs, vocab_size=200_000, s=1.1):
    letters = np.frombuffer(b"abcdefghijklmnopqrstuvwxyz", dtype=np.uint8)
    lens = rng.integers(2, 11, vocab_size)
    raw = letters[rng.integers(0, 26, int(lens.sum()))].tobytes().decode()
    ends = np.cumsum(lens)
    # a rank suffix keeps the vocabulary distinct however the letters fall
    vocab = [raw[e - n:e] + str(r) for r, (n, e) in enumerate(zip(lens, ends))]
    p = 1.0 / np.arange(1, vocab_size + 1) ** s
    ranks = rng.choice(vocab_size, size=n_tokens, p=p / p.sum())
    # mostly single spaces; a few tabs, newlines, CRs and doubled runs
    seps = rng.choice(np.array([" ", "\t", "\n", "\r", "  ", " \n"]), size=n_tokens,
                      p=[0.9, 0.02, 0.03, 0.01, 0.02, 0.02])
    cuts = np.sort(rng.choice(np.arange(1, n_tokens), size=n_docs - 1, replace=False))
    texts = []
    for lo, hi in zip(np.concatenate([[0], cuts]), np.concatenate([cuts, [n_tokens]])):
        texts.append("".join(vocab[r] + sep for r, sep in zip(ranks[lo:hi], seps[lo:hi])))
    return texts


def generate(out_dir, sf, seed, corpus_tokens=0):
    os.makedirs(out_dir, exist_ok=True)
    rng = np.random.default_rng(seed)
    n_cust, n_supp, n_part = int(150_000 * sf), int(10_000 * sf), int(200_000 * sf)
    n_orders, n_line, n_events = int(1_500_000 * sf), int(6_000_000 * sf), int(1_000_000 * sf)
    n_users = int(15_000 * sf)
    n_docs, n_vecs = max(500, int(50_000 * sf)), max(500, int(20_000 * sf))

    _write(out_dir, "region", {
        "r_regionkey": pa.array(range(5), pa.int32()),
        "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]})
    _write(out_dir, "nation", {
        "n_nationkey": pa.array(range(25), pa.int32()),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32())})
    _write(out_dir, "customer", {
        "c_custkey": pa.array(np.arange(n_cust), pa.int64()),
        "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
        "c_nationkey": pa.array(rng.integers(0, 25, n_cust), pa.int32()),
        "c_acctbal": _money(rng, -999.99, 9999.99, n_cust),
        "c_mktsegment": [SEGMENTS[i] for i in rng.integers(0, 5, n_cust)]})
    _write(out_dir, "supplier", {
        "s_suppkey": pa.array(np.arange(n_supp), pa.int64()),
        "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
        "s_nationkey": pa.array(rng.integers(0, 25, n_supp), pa.int32()),
        "s_acctbal": _money(rng, -999.99, 9999.99, n_supp)})
    pk = np.arange(n_part)
    _write(out_dir, "part", {
        "p_partkey": pa.array(pk, pa.int64()),
        "p_name": [PART_ADJ[a] + " " + PART_NOUN[b] for a, b in
                   zip(rng.integers(0, 8, n_part), rng.integers(0, 8, n_part))],
        "p_brand": [f"Brand#{i}" for i in rng.integers(1, 26, n_part)],
        "p_type": [PART_TYPES[i] for i in rng.integers(0, 6, n_part)],
        "p_size": pa.array(rng.integers(1, 51, n_part), pa.int32()),
        "p_retailprice": np.round(900.0 + (pk % 1000) / 10.0, 2)})
    _write(out_dir, "orders", {
        "o_orderkey": pa.array(np.arange(n_orders), pa.int64()),
        "o_custkey": pa.array(rng.integers(0, n_cust, n_orders), pa.int64()),
        "o_orderstatus": [("O", "F", "P")[i] for i in rng.integers(0, 3, n_orders)],
        "o_totalprice": _money(rng, 1000.0, 500000.0, n_orders),
        "o_orderdate": _ts(EPOCH_1995 + rng.integers(0, 2404, n_orders) * DAY_US),
        "o_orderpriority": [PRIORITIES[i] for i in rng.integers(0, 5, n_orders)]})
    _write(out_dir, "lineitem", {
        "l_orderkey": pa.array(rng.integers(0, n_orders, n_line), pa.int64()),
        "l_partkey": pa.array(rng.integers(0, n_part, n_line), pa.int64()),
        "l_suppkey": pa.array(rng.integers(0, n_supp, n_line), pa.int64()),
        "l_linenumber": pa.array(rng.integers(1, 8, n_line), pa.int32()),
        "l_quantity": rng.integers(1, 51, n_line).astype(np.float64),
        "l_extendedprice": _money(rng, 900.0, 105000.0, n_line),
        "l_discount": rng.integers(0, 11, n_line) / 100.0,
        "l_tax": rng.integers(0, 9, n_line) / 100.0,
        "l_returnflag": [("N", "A", "R")[i] for i in rng.integers(0, 3, n_line)],
        "l_linestatus": [("O", "F")[i] for i in rng.integers(0, 2, n_line)],
        "l_shipdate": _ts(EPOCH_1995 + rng.integers(1, 2499, n_line) * DAY_US)})
    # one file, event_id order = time order, spread over 30 days
    gaps = rng.exponential(30 * DAY_US / n_events, n_events).astype(np.int64)
    _write(out_dir, "events", {
        "event_id": pa.array(np.arange(n_events), pa.int64()),
        "ts": _ts(EPOCH_2024 + np.minimum(np.cumsum(gaps), 30 * DAY_US - 1)),
        "user_id": pa.array(rng.integers(0, n_users, n_events), pa.int64()),
        "event_type": [EVENT_TYPES[i] for i in rng.integers(0, 5, n_events)],
        "value": np.round(rng.exponential(50.0, n_events), 2),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n_events)]})
    if corpus_tokens > 0:
        n_docs = max(500, corpus_tokens // 100)
        texts = _zipf_corpus(rng, corpus_tokens, n_docs)
    else:
        texts = _documents(rng, n_docs)
    _write(out_dir, "documents", {
        "doc_id": pa.array(np.arange(n_docs), pa.int64()),
        "text": texts,
        "lang": [LANGS[i] for i in rng.choice(5, n_docs, p=LANG_P)],
        "source": [f"src{i % 20}" for i in range(n_docs)],
        "n_chars": pa.array([len(t) for t in texts], pa.int64())})
    vecs = rng.standard_normal((n_vecs, 64))
    vecs /= np.linalg.norm(vecs, axis=1, keepdims=True)
    _write(out_dir, "embeddings", {
        "vec_id": pa.array(np.arange(n_vecs), pa.int64()),
        "embedding": pa.array(list(vecs.astype(np.float32)), pa.list_(pa.float32())),
        "label": pa.array(rng.integers(0, 10, n_vecs), pa.int32())})
    return texts if corpus_tokens > 0 else None
