"""Seeded input generators for the three benchmark workloads.

Every table is drawn from numpy's PCG64 stream seeded with (seed, workload),
so the same seed always yields byte-identical parquet files and a different
seed yields different ones. The shapes follow the sf0.1 tables the catalog
was written against: the same columns, types, key ranges per row count,
categorical domains, 31-word document vocabulary with ' dup'-suffixed
near-duplicates, and 64-dim unit embeddings in 10 weak label clusters.

`generate(workload, seed, out_dir)` writes the input set and returns its
content digest (sha256 over every file's name and bytes).
"""
import hashlib
import json
import os
from datetime import datetime, timedelta

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

VOCAB = ["spark", "window", "merge", "table", "column", "vector", "stream",
         "value", "data", "small", "join", "filter", "big", "group", "hash",
         "customer", "sort", "order", "slow", "line", "part", "fast", "row",
         "the", "agg", "key", "query", "a", "scan", "batch"]
LANGS = ["en", "es", "zh", "de", "fr"]
LANG_P = [0.41, 0.15, 0.15, 0.14, 0.15]
SEGMENTS = ["MACHINERY", "AUTOMOBILE", "HOUSEHOLD", "FURNITURE", "BUILDING"]
PTYPES = ["LARGE", "ECONOMY", "STANDARD", "SMALL", "MEDIUM", "PROMO"]
ADJ = ["large", "hot", "blue", "small", "red", "cold", "green", "shiny"]
NOUN = ["ring", "bolt", "nut", "gear", "pipe", "valve", "spring", "screw"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
EVENT_TYPES = ["signup", "click", "error", "view", "purchase"]
REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]

# Row counts per workload. `tpch` is the scale factor of the star schema
# (sf0.1 = 600k lineitem rows).
SIZES = {
    "curation": dict(tpch=0.01, docs=500, embeddings=500, events=10000),
    "relational_mr": dict(tpch=0.2, docs=2000, embeddings=500, events=200000,
                          text_files=8, words_per_file=40000, text_vocab=4000),
    "ingest": dict(tpch=0.002, docs=600, embeddings=300, events=4000,
                   batches=80, batch_docs=150, exact_rate=0.06, near_rate=0.06,
                   kv_ops=300, kv_keys=2000, reads=8),
}
WORKLOAD_SALT = {"curation": 1, "relational_mr": 2, "ingest": 3}

EPOCH = datetime(1970, 1, 1)


def _us(dt):
    return int((dt - EPOCH) / timedelta(microseconds=1))


def _write(table, path):
    pq.write_table(table, path, compression="snappy")


def _texts(rng, n, min_words=10, max_words=100):
    lens = rng.integers(min_words, max_words + 1, n)
    idx = rng.integers(0, len(VOCAB), int(lens.sum()))
    out, pos = [], 0
    for L in lens:
        out.append(" ".join(VOCAB[i] for i in idx[pos:pos + L]))
        pos += L
    return out


def documents(rng, n):
    """sf0.1-shaped documents: ~5% are an earlier doc's text + ' dup',
    ~0.2% exact copies of an earlier doc."""
    texts = _texts(rng, n)
    kind = rng.random(n)
    src = rng.integers(0, np.maximum(np.arange(n), 1))
    for i in range(20, n):
        if kind[i] < 0.05:
            texts[i] = texts[src[i]] + " dup"
        elif kind[i] < 0.052:
            texts[i] = texts[src[i]]
    lang = rng.choice(len(LANGS), n, p=LANG_P)
    return pa.table({
        "doc_id": pa.array(np.arange(n, dtype=np.int64)),
        "text": pa.array(texts, pa.string()),
        "lang": pa.array([LANGS[i] for i in lang], pa.string()),
        "source": pa.array([f"src{i % 20}" for i in range(n)], pa.string()),
        "n_chars": pa.array([len(t) for t in texts], pa.int64()),
    })


def embeddings(rng, n, dim=64, clusters=10):
    centroids = rng.normal(size=(clusters, dim))
    centroids /= np.linalg.norm(centroids, axis=1, keepdims=True)
    label = rng.integers(0, clusters, n).astype(np.int32)
    v = rng.normal(size=(n, dim)) / np.sqrt(dim) + 0.065 * centroids[label]
    v = (v / np.linalg.norm(v, axis=1, keepdims=True)).astype(np.float32)
    return pa.table({
        "vec_id": pa.array(np.arange(n, dtype=np.int64)),
        "embedding": pa.array(list(v), pa.list_(pa.float32())),
        "label": pa.array(label),
    })


def events(rng, n, n_users):
    start = _us(datetime(2024, 1, 1))
    ts = np.sort(rng.integers(0, 30 * 86400 * 10**6, n)) + start
    return pa.table({
        "event_id": pa.array(np.arange(n, dtype=np.int64)),
        "ts": pa.array(ts, pa.timestamp("us")),
        "user_id": pa.array(rng.integers(0, n_users, n, dtype=np.int64)),
        "event_type": pa.array(np.array(EVENT_TYPES)[rng.integers(0, 5, n)], pa.string()),
        "value": pa.array(np.round(np.minimum(rng.exponential(60.0, n), 560.21), 2)),
        "props": pa.array([f'{{"k": {k}}}' for k in rng.integers(0, 100, n)], pa.string()),
    })


def _days(rng, start, span, n):
    base = _us(start)
    return pa.array(base + rng.integers(0, span, n) * 86400 * 10**6, pa.timestamp("us"))


def star_schema(rng, sf):
    """TPC-H-shaped star schema at scale factor `sf`: key spaces and
    fan-outs scale with row counts exactly as between sf0.01 and sf0.1."""
    n_c, n_s, n_p = int(150000 * sf), max(int(10000 * sf), 10), int(200000 * sf)
    n_o = int(1500000 * sf)
    n_l = 4 * n_o
    money = lambda lo, hi, n: np.round(rng.uniform(lo, hi, n), 2)
    t = {}
    t["region"] = pa.table({"r_regionkey": pa.array(np.arange(5, dtype=np.int32)),
                            "r_name": pa.array(REGIONS)})
    t["nation"] = pa.table({"n_nationkey": pa.array(np.arange(25, dtype=np.int32)),
                            "n_name": pa.array([f"NATION_{i}" for i in range(25)]),
                            "n_regionkey": pa.array(np.arange(25, dtype=np.int32) % 5)})
    t["customer"] = pa.table({
        "c_custkey": pa.array(np.arange(n_c, dtype=np.int64)),
        "c_name": pa.array([f"Customer#{i:09d}" for i in range(n_c)]),
        "c_nationkey": pa.array(rng.integers(0, 25, n_c).astype(np.int32)),
        "c_acctbal": pa.array(money(-999.99, 9999.99, n_c)),
        "c_mktsegment": pa.array(np.array(SEGMENTS)[rng.integers(0, 5, n_c)], pa.string()),
    })
    t["supplier"] = pa.table({
        "s_suppkey": pa.array(np.arange(n_s, dtype=np.int64)),
        "s_name": pa.array([f"Supplier#{i:09d}" for i in range(n_s)]),
        "s_nationkey": pa.array(rng.integers(0, 25, n_s).astype(np.int32)),
        "s_acctbal": pa.array(money(-999.99, 9999.99, n_s)),
    })
    t["part"] = pa.table({
        "p_partkey": pa.array(np.arange(n_p, dtype=np.int64)),
        "p_name": pa.array([f"{ADJ[a]} {NOUN[b]}" for a, b in
                            zip(rng.integers(0, 8, n_p), rng.integers(0, 8, n_p))]),
        "p_brand": pa.array([f"Brand#{b}" for b in rng.integers(1, 26, n_p)]),
        "p_type": pa.array(np.array(PTYPES)[rng.integers(0, 6, n_p)], pa.string()),
        "p_size": pa.array(rng.integers(1, 51, n_p).astype(np.int32)),
        "p_retailprice": pa.array(np.round(900 + (np.arange(n_p) % 1000) / 10, 1)),
    })
    t["orders"] = pa.table({
        "o_orderkey": pa.array(np.arange(n_o, dtype=np.int64)),
        "o_custkey": pa.array(rng.integers(0, n_c, n_o, dtype=np.int64)),
        "o_orderstatus": pa.array(np.array(["O", "F", "P"])[rng.integers(0, 3, n_o)], pa.string()),
        "o_totalprice": pa.array(money(1000, 500000, n_o)),
        "o_orderdate": _days(rng, datetime(1995, 1, 1), 2404, n_o),
        "o_orderpriority": pa.array(np.array(PRIORITIES)[rng.integers(0, 5, n_o)], pa.string()),
    })
    t["lineitem"] = pa.table({
        "l_orderkey": pa.array(rng.integers(0, n_o, n_l, dtype=np.int64)),
        "l_partkey": pa.array(rng.integers(0, n_p, n_l, dtype=np.int64)),
        "l_suppkey": pa.array(rng.integers(0, n_s, n_l, dtype=np.int64)),
        "l_linenumber": pa.array(rng.integers(1, 8, n_l).astype(np.int32)),
        "l_quantity": pa.array(rng.integers(1, 51, n_l).astype(np.float64)),
        "l_extendedprice": pa.array(money(900, 105000, n_l)),
        "l_discount": pa.array(rng.integers(0, 11, n_l) / 100.0),
        "l_tax": pa.array(rng.integers(0, 9, n_l) / 100.0),
        "l_returnflag": pa.array(np.array(["A", "N", "R"])[rng.integers(0, 3, n_l)], pa.string()),
        "l_linestatus": pa.array(np.array(["O", "F"])[rng.integers(0, 2, n_l)], pa.string()),
        "l_shipdate": _days(rng, datetime(1995, 1, 2), 2498, n_l),
    })
    return t


def zipf_choice(rng, n_items, n, s=1.1):
    w = 1.0 / np.arange(1, n_items + 1) ** s
    return rng.choice(n_items, n, p=w / w.sum())


def text_files(rng, out, n_files, words_per_file, vocab_size):
    """Zipf-vocabulary plain-text files for the MapReduce apps: letters-only
    words (the wc/indexer tokenizer splits on non-letters)."""
    lens = rng.integers(3, 10, vocab_size)
    letters = np.array(list("abcdefghijklmnopqrstuvwxyz"))
    vocab = ["".join(letters[rng.integers(0, 26, L)]) for L in lens]
    os.makedirs(out, exist_ok=True)
    for f in range(n_files):
        ids = zipf_choice(rng, vocab_size, words_per_file)
        words = [vocab[i] for i in ids]
        lines = [" ".join(words[i:i + 12]) for i in range(0, len(words), 12)]
        with open(os.path.join(out, f"text-{f}.txt"), "w") as fh:
            fh.write("\n".join(lines) + "\n")


def ingest_stream(rng, sz):
    """Micro-batches of new documents with planted duplicates, the KV op
    log, and the point-read keys, all keyed by batch number.

    Ground truth per document (`kind`): 'unique' docs have random 30-100
    word texts (3-shingle Jaccard with any other doc far below 0.3) and
    must be kept; 'exact' docs copy an earlier batch's unique text and
    'near' docs append one word to an earlier unique of >= 40 words
    (Jaccard >= 0.95); both must be dropped."""
    B, m = sz["batches"], sz["batch_docs"]
    rows = {"batch": [], "doc_id": [], "text": [], "kind": []}
    uniques = []  # (text, n_words) of kept docs from earlier batches
    for b in range(B):
        texts = _texts(rng, m, 30, 100)
        draws = rng.random(m)
        picks = rng.integers(0, 1 << 30, m)
        extra = rng.integers(0, len(VOCAB), m)
        batch_uniques = []
        for i in range(m):
            if b > 0 and draws[i] < sz["exact_rate"]:
                text, kind = uniques[picks[i] % len(uniques)][0], "exact"
            elif b > 0 and draws[i] < sz["exact_rate"] + sz["near_rate"]:
                long_ones = [u for u in uniques[-400:] if u[1] >= 40]
                text = long_ones[picks[i] % len(long_ones)][0] + " " + VOCAB[extra[i]]
                kind = "near"
            else:
                text, kind = texts[i], "unique"
                batch_uniques.append((text, len(text.split(" "))))
            rows["batch"].append(b)
            rows["doc_id"].append(b * m + i)
            rows["text"].append(text)
            rows["kind"].append(kind)
        uniques.extend(batch_uniques)
    docs = pa.table({"batch": pa.array(rows["batch"], pa.int64()),
                     "doc_id": pa.array(rows["doc_id"], pa.int64()),
                     "text": pa.array(rows["text"], pa.string()),
                     "kind": pa.array(rows["kind"], pa.string())})
    n_ops = B * sz["kv_ops"]
    keys = zipf_choice(rng, sz["kv_keys"], n_ops)
    put = rng.random(n_ops) < 0.4
    ops = pa.table({
        "batch": pa.array(np.arange(n_ops) // sz["kv_ops"], pa.int64()),
        "seq": pa.array(np.arange(n_ops, dtype=np.int64)),
        "op": pa.array(np.where(put, "put", "append"), pa.string()),
        "key": pa.array([f"k{k}" for k in keys], pa.string()),
        "value": pa.array([f"v{i}." for i in range(n_ops)], pa.string()),
    })
    n_reads = B * sz["reads"]
    rkeys = zipf_choice(rng, sz["kv_keys"], n_reads)
    reads = pa.table({
        "batch": pa.array(np.arange(n_reads) // sz["reads"], pa.int64()),
        "key": pa.array([f"k{k}" for k in rkeys], pa.string()),
    })
    return docs, ops, reads


def digest(root):
    h = hashlib.sha256()
    for dirpath, dirnames, files in sorted(os.walk(root)):
        dirnames.sort()
        for f in sorted(files):
            if f == "DIGEST":
                continue
            p = os.path.join(dirpath, f)
            h.update(os.path.relpath(p, root).encode() + b"\0")
            with open(p, "rb") as fh:
                h.update(fh.read())
    return h.hexdigest()


def generate(workload, seed, out):
    """Write the workload's input set for `seed` under `out`; return its
    digest. `out/tables` holds the catalog tables (one parquet each)."""
    sz = SIZES[workload]
    rng = np.random.default_rng([seed, WORKLOAD_SALT[workload]])
    tdir = os.path.join(out, "tables")
    os.makedirs(tdir, exist_ok=True)
    tables = star_schema(rng, sz["tpch"])
    tables["documents"] = documents(rng, sz["docs"])
    tables["embeddings"] = embeddings(rng, sz["embeddings"])
    tables["events"] = events(rng, sz["events"], max(sz["events"] // 66, 50))
    for name, t in tables.items():
        _write(t, os.path.join(tdir, f"{name}.parquet"))
    if workload == "relational_mr":
        text_files(rng, os.path.join(out, "text"), sz["text_files"],
                   sz["words_per_file"], sz["text_vocab"])
    if workload == "ingest":
        docs, ops, reads = ingest_stream(rng, sz)
        sdir = os.path.join(out, "stream")
        os.makedirs(sdir, exist_ok=True)
        _write(docs, os.path.join(sdir, "docs.parquet"))
        _write(ops, os.path.join(sdir, "kv_ops.parquet"))
        _write(reads, os.path.join(sdir, "reads.parquet"))
        with open(os.path.join(sdir, "params.json"), "w") as fh:
            json.dump(sz, fh, sort_keys=True)
    d = digest(out)
    with open(os.path.join(out, "DIGEST"), "w") as fh:
        fh.write(d + "\n")
    return d
