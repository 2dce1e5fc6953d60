"""Seeded input generator for the benchmark.

Writes the ten engine tables as single-row-group parquet files in the shapes
the engine reads (TPC-H-ish star schema plus `events`, `documents` and
`embeddings`), and line-delimited JSON spools of posts in the
`Tables.postSchema` wire shape for the streaming workload. Column types,
value domains and the near-duplicate document share follow the engine's
testdata; every value is drawn from one `numpy` generator seeded by the
caller, so the same seed always gives byte-identical inputs.
"""
import datetime as dt
import json
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

VOCAB = ("spark window merge table column vector stream value data small join "
         "filter big group hash customer sort order slow line part fast row "
         "the agg key query a scan batch").split()
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
P_ADJ = ["blue", "cold", "hot", "large", "new", "old", "red", "small"]
P_NOUN = ["anvil", "bolt", "gear", "gizmo", "plate", "ring", "rod", "widget"]
P_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
LANGS = ["en", "de", "es", "fr", "zh"]
LANG_P = [0.41, 0.1475, 0.1475, 0.1475, 0.1475]

# Streaming posts: distress-lexicon words (a subset of the engine's risk
# keywords) mixed into post text at a fixed rate, so a steady share of
# posts crosses the alert threshold (risk_score >= 30, i.e. 3 keywords).
DISTRESS = ["hopeless", "worthless", "depressed", "anxious", "panic",
            "overwhelmed", "lonely", "isolated", "scared", "give up"]
DISTRESS_RATE = 0.04
SUBREDDITS = ["depression", "anxiety", "mentalhealth", "lonely", "offmychest"]
SPOOL_EPOCH = 1714564800.0  # 2024-05-01T12:00:00Z


def _money(rng, lo, hi, n):
    return np.round(rng.uniform(lo, hi, n), 2)


def _days(rng, start, n_days, n):
    base = np.datetime64(start, "us")
    return base + rng.integers(0, n_days, n).astype("timedelta64[D]").astype(
        "timedelta64[us]")


def _write(out_dir, name, cols):
    pq.write_table(pa.table(cols), os.path.join(out_dir, f"{name}.parquet"),
                   row_group_size=1 << 30)


def _doc_texts(rng, n):
    lens = rng.integers(10, 101, n)
    words = rng.integers(0, len(VOCAB), int(lens.sum()))
    texts, at = [], 0
    for k in lens:
        texts.append(" ".join(VOCAB[w] for w in words[at:at + k]))
        at += k
    # ~5% near-duplicates: another document's text with a marker word
    for i in np.flatnonzero(rng.random(n) < 0.05):
        texts[i] = texts[int(rng.integers(0, n))] + " dup"
    return texts


def tables(out_dir, seed, sf):
    """Write the ten tables for scale factor `sf` (1.0 = 6M lineitems)."""
    rng = np.random.default_rng([seed, 1])
    n_cust = max(15, int(150_000 * sf))
    n_supp = max(10, int(10_000 * sf))
    n_part = max(200, int(200_000 * sf))
    n_ord = max(1500, int(1_500_000 * sf))
    n_line = max(6000, int(6_000_000 * sf))
    n_ev = max(1000, int(1_000_000 * sf))
    n_users = max(15, int(15_000 * sf))
    n_doc = max(500, int(50_000 * sf))
    n_emb = max(500, int(20_000 * sf))
    i32, i64 = pa.int32(), pa.int64()

    _write(out_dir, "region", {
        "r_regionkey": pa.array(range(5), i32),
        "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]})
    _write(out_dir, "nation", {
        "n_nationkey": pa.array(range(25), i32),
        "n_name": [f"NATION_{k}" for k in range(25)],
        "n_regionkey": pa.array([k % 5 for k in range(25)], i32)})
    _write(out_dir, "customer", {
        "c_custkey": pa.array(np.arange(n_cust), i64),
        "c_name": [f"Customer#{k:09d}" for k in range(n_cust)],
        "c_nationkey": pa.array(rng.integers(0, 25, n_cust), i32),
        "c_acctbal": _money(rng, -999.99, 9999.99, n_cust),
        "c_mktsegment": [SEGMENTS[k] for k in rng.integers(0, 5, n_cust)]})
    _write(out_dir, "supplier", {
        "s_suppkey": pa.array(np.arange(n_supp), i64),
        "s_name": [f"Supplier#{k:09d}" for k in range(n_supp)],
        "s_nationkey": pa.array(rng.integers(0, 25, n_supp), i32),
        "s_acctbal": _money(rng, -999.99, 9999.99, n_supp)})
    pk = np.arange(n_part)
    _write(out_dir, "part", {
        "p_partkey": pa.array(pk, i64),
        "p_name": [f"{P_ADJ[a]} {P_NOUN[b]}" for a, b in
                   zip(rng.integers(0, 8, n_part), rng.integers(0, 8, n_part))],
        "p_brand": [f"Brand#{k}" for k in rng.integers(1, 26, n_part)],
        "p_type": [P_TYPES[k] for k in rng.integers(0, 6, n_part)],
        "p_size": pa.array(rng.integers(1, 51, n_part), i32),
        "p_retailprice": np.round(900 + (pk % 1000) / 10.0, 2)})
    _write(out_dir, "orders", {
        "o_orderkey": pa.array(np.arange(n_ord), i64),
        "o_custkey": pa.array(rng.integers(0, n_cust, n_ord), i64),
        "o_orderstatus": [("F", "O", "P")[k] for k in rng.integers(0, 3, n_ord)],
        "o_totalprice": _money(rng, 1000.0, 500000.0, n_ord),
        "o_orderdate": _days(rng, "1995-01-01", 2404, n_ord),
        "o_orderpriority": [PRIORITIES[k] for k in rng.integers(0, 5, n_ord)]})
    _write(out_dir, "lineitem", {
        "l_orderkey": pa.array(rng.integers(0, n_ord, n_line), i64),
        "l_partkey": pa.array(rng.integers(0, n_part, n_line), i64),
        "l_suppkey": pa.array(rng.integers(0, n_supp, n_line), i64),
        "l_linenumber": pa.array(rng.integers(1, 8, n_line), i32),
        "l_quantity": rng.integers(1, 51, n_line).astype(np.float64),
        "l_extendedprice": _money(rng, 900.0, 105000.0, n_line),
        "l_discount": rng.integers(0, 11, n_line) / 100.0,
        "l_tax": rng.integers(0, 9, n_line) / 100.0,
        "l_returnflag": [("A", "N", "R")[k] for k in rng.integers(0, 3, n_line)],
        "l_linestatus": [("F", "O")[k] for k in rng.integers(0, 2, n_line)],
        "l_shipdate": _days(rng, "1995-01-02", 2498, n_line)})
    span_us = 30 * 86400 * 1_000_000
    ts = np.sort(rng.integers(0, span_us, n_ev))
    _write(out_dir, "events", {
        "event_id": pa.array(np.arange(n_ev), i64),
        "ts": pa.array(np.datetime64("2024-01-01", "us") + ts.astype("timedelta64[us]"),
                       pa.timestamp("us")),
        "user_id": pa.array(rng.integers(0, n_users, n_ev), i64),
        "event_type": [EVENT_TYPES[k] for k in rng.integers(0, 5, n_ev)],
        "value": np.round(rng.exponential(50.0, n_ev), 2),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n_ev)]})
    texts = _doc_texts(rng, n_doc)
    _write(out_dir, "documents", {
        "doc_id": pa.array(np.arange(n_doc), i64),
        "text": texts,
        "lang": [LANGS[k] for k in rng.choice(5, n_doc, p=LANG_P)],
        "source": [f"src{k % 20}" for k in range(n_doc)],
        "n_chars": pa.array([len(t) for t in texts], i64)})
    vecs = rng.standard_normal((n_emb, 64)).astype(np.float32)
    vecs /= np.linalg.norm(vecs, axis=1, keepdims=True)
    _write(out_dir, "embeddings", {
        "vec_id": pa.array(np.arange(n_emb), i64),
        "embedding": pa.array(list(vecs), pa.list_(pa.float32())),
        "label": pa.array(rng.integers(0, 10, n_emb), i32)})


def posts(path, rng, first, n):
    """Write `n` posts in arrival order, numbered from `first`: ids and
    `created_utc` increase strictly, so arrival order and (timestamp, id)
    order agree."""
    lens = rng.integers(8, 40, n)
    words = np.array(VOCAB, dtype=object)[rng.integers(0, len(VOCAB), int(lens.sum()))]
    hits = rng.random(len(words)) < DISTRESS_RATE
    words[hits] = np.array(DISTRESS, dtype=object)[rng.integers(0, len(DISTRESS), int(hits.sum()))]
    subs = rng.integers(0, len(SUBREDDITS), n)
    authors = rng.integers(0, 500, n)
    scores = rng.integers(0, 500, n)
    comments = rng.integers(0, 80, n)
    at = 0
    with open(path, "w") as f:
        for i in range(n):
            w = words[at:at + lens[i]]
            at += lens[i]
            k = first + i
            created = SPOOL_EPOCH + k * 0.25
            sub = SUBREDDITS[subs[i]]
            f.write(json.dumps({
                "id": f"p{k:08d}",
                "title": " ".join(w[:4]),
                "text": " ".join(w[4:]),
                "author": f"user_{authors[i]}",
                "subreddit": sub,
                "created_utc": created,
                "score": int(scores[i]),
                "num_comments": int(comments[i]),
                "url": f"https://www.reddit.com/r/{sub}/comments/p{k:08d}",
                "timestamp": dt.datetime.fromtimestamp(created, dt.timezone.utc)
                .strftime("%Y-%m-%dT%H:%M:%S"),
            }) + "\n")


def spools(out_dir, seed, warmup, paced, drain):
    """Write the stream workload's spools: a warm-up spool replayed during
    set-up, then the paced and drain spools, which continue one another."""
    rng = np.random.default_rng([seed, 2])
    posts(os.path.join(out_dir, "warmup.jsonl"), rng, 90_000_000, warmup)
    posts(os.path.join(out_dir, "paced.jsonl"), rng, 0, paced)
    posts(os.path.join(out_dir, "drain.jsonl"), rng, paced, drain)

