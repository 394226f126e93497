"""Seeded input generators for the benchmark workloads.

Every generator is a pure function of its seed: the same seed writes
byte-identical files. The program under test only ever sees the files
written here.

- papers(): an arXiv-shaped line-delimited JSON corpus for lab2_zipf
  (Zipf vocabulary, titles drawn mostly from their own abstract,
  space-joined multi-category keys).
- documents(): a `documents` table with the shape of the sf0.1
  testdata corpus (31-word vocabulary, 10-100 words per document, five
  languages, twenty sources), plus the small companion tables that
  `graft.tools.ScaleReplica` copies alongside it.
"""
import json
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

# The stop-word list of the papers fixture. Lab2Queries' oracle SQL
# embeds this exact list, so the generated stopwords file must match it.
LAB2_STOPWORDS = ["the", "a", "an", "of", "and", "to", "in", "with", "for",
                  "on", "is", "are", "was", "were", "results"]

PAPERS = 300             # corpus size of lab2_zipf
ZIPF_VOCAB = 20000       # distinct content words
ZIPF_S = 1.05
PAPERS_PER_CATEGORY = 5  # ~2,500 papers : ~500 keys in the full-size corpus

DOCS = 500               # base corpus of task1_dense_3x (1,500 docs after replication)
DOC_WORDS = ["spark", "window", "merge", "table", "column", "vector", "stream",
             "value", "data", "small", "join", "filter", "big", "group", "hash",
             "customer", "sort", "order", "slow", "line", "part", "fast", "row",
             "the", "agg", "key", "query", "a", "scan", "batch"]
LANGS = ["en", "de", "es", "fr", "zh"]
LANG_P = [0.41, 0.1475, 0.1475, 0.1475, 0.1475]

_SYL = ["ka", "lo", "mi", "ne", "ru", "ta", "vi", "so", "pe", "da", "fu", "gri",
        "tor", "shan", "bel", "quo", "zen", "mar", "lix", "dor", "pha", "tri",
        "vel", "nor", "sta", "cen", "mon", "rel", "sim", "tra"]
_PRIMARY = ["cs", "math", "stat", "physics", "q-bio", "econ", "eess", "astro-ph"]
_SUB = ["lg", "ai", "cl", "cv", "ds", "it", "co", "pr", "st", "ml", "ne", "ir",
        "db", "dc", "gt", "na", "oc", "ap", "me", "th"]


def _vocabulary(rng, n):
    words, seen = [], set(LAB2_STOPWORDS)
    while len(words) < n:
        lens = rng.integers(2, 5, size=n)
        syl = rng.integers(0, len(_SYL), size=(n, 4))
        for ln, row in zip(lens, syl):
            w = "".join(_SYL[j] for j in row[:ln])
            if w not in seen and len(words) < n:
                seen.add(w)
                words.append(w)
    return words


def _category_keys(rng, n):
    keys, seen = [], set()
    while len(keys) < n:
        k = int(rng.integers(1, 4))
        cats = sorted({f"{rng.choice(_PRIMARY)}.{rng.choice(_SUB)}" for _ in range(k)})
        key = " ".join(cats)
        if key not in seen:
            seen.add(key)
            keys.append(key)
    return keys


def papers(out_dir, seed, n=PAPERS):
    """Write papers.jsonl and stopwords.txt; return corpus facts."""
    rng = np.random.default_rng([seed, 1])
    vocab = np.array(_vocabulary(rng, ZIPF_VOCAB))
    cdf = np.cumsum(1.0 / np.arange(1, ZIPF_VOCAB + 1) ** ZIPF_S)
    cdf /= cdf[-1]

    def zipf(size):
        return vocab[np.minimum(np.searchsorted(cdf, rng.random(size)), ZIPF_VOCAB - 1)]

    keys = _category_keys(rng, max(1, n // PAPERS_PER_CATEGORY))
    kcdf = np.cumsum(1.0 / np.arange(1, len(keys) + 1) ** 0.6)
    kcdf /= kcdf[-1]
    stop = np.array(LAB2_STOPWORDS)
    used, lines = set(), []
    for i in range(n):
        words = zipf(int(rng.integers(80, 201)))
        # about one word in eight is a stop word, as in running text
        mask = rng.random(len(words)) < 0.125
        words[mask] = rng.choice(stop, size=int(mask.sum()))
        abstract = " ".join(words)
        if rng.random() < 0.3:
            abstract += f" ({int(rng.integers(1990, 2025))})."
        tlen = int(rng.integers(5, 13))
        own = words[rng.choice(len(words), size=tlen)]
        other = zipf(tlen)
        title = np.where(rng.random(tlen) < 0.8, own, other)
        title = " ".join(w.capitalize() if rng.random() < 0.3 else w for w in title)
        if rng.random() < 0.2:
            title += "!!"
        key = keys[int(np.searchsorted(kcdf, rng.random()))]
        used.add(key)
        cats = key.upper() if rng.random() < 0.05 else key
        if rng.random() < 0.3:
            cats += "  "
        lines.append(json.dumps({"id": f"p{i:06d}", "title": title,
                                 "abstract": abstract, "categories": cats}))
    os.makedirs(out_dir, exist_ok=True)
    with open(os.path.join(out_dir, "papers.jsonl"), "w") as f:
        f.write("\n".join(lines) + "\n")
    with open(os.path.join(out_dir, "stopwords.txt"), "w") as f:
        f.write("\n".join(LAB2_STOPWORDS) + "\n")
    return {"papers": n, "vocabulary": ZIPF_VOCAB, "zipf_s": ZIPF_S,
            "category_keys": len(used)}


def documents(out_dir, seed, n=DOCS):
    """Write documents.parquet (sf0.1 shape) and the companion tables."""
    rng = np.random.default_rng([seed, 2])
    words = np.array(DOC_WORDS)
    texts = []
    for _ in range(n):
        t = " ".join(words[rng.integers(0, len(words), size=int(rng.integers(10, 101)))])
        if rng.random() < 0.05:
            t += " dup"
        texts.append(t)
    ids = np.arange(n, dtype=np.int64)
    os.makedirs(out_dir, exist_ok=True)

    def write(name, cols):
        pq.write_table(pa.table(cols), os.path.join(out_dir, f"{name}.parquet"))

    write("documents", {
        "doc_id": ids, "text": texts,
        "lang": rng.choice(LANGS, size=n, p=LANG_P),
        "source": [f"src{i % 20}" for i in ids],
        "n_chars": np.array([len(t) for t in texts], dtype=np.int64)})
    # ScaleReplica replicates or copies these too; the workload never
    # reads them, so a handful of rows in the testdata schema suffices.
    m = 32
    k = np.arange(m, dtype=np.int64)
    ts = np.datetime64("2024-01-01T00:00:00", "us") + k * np.timedelta64(60, "s")
    emb = rng.normal(size=(m, 64)).astype(np.float32)
    emb /= np.linalg.norm(emb, axis=1, keepdims=True)
    write("embeddings", {"vec_id": k,
                         "embedding": pa.array(list(emb), pa.list_(pa.float32())),
                         "label": (k % 10).astype(np.int32)})
    write("events", {"event_id": k, "ts": pa.array(ts, pa.timestamp("us")),
                     "user_id": k % 7, "event_type": ["view"] * m,
                     "value": k.astype(np.float64), "props": ['{"k": 1}'] * m})
    write("region", {"r_regionkey": np.arange(5, dtype=np.int32),
                     "r_name": [f"REGION_{i}" for i in range(5)]})
    write("nation", {"n_nationkey": np.arange(25, dtype=np.int32),
                     "n_name": [f"NATION_{i}" for i in range(25)],
                     "n_regionkey": (np.arange(25) % 5).astype(np.int32)})
    write("customer", {"c_custkey": k, "c_name": [f"Customer#{i:09d}" for i in k],
                       "c_nationkey": (k % 25).astype(np.int32),
                       "c_acctbal": k * 1.5, "c_mktsegment": ["BUILDING"] * m})
    write("supplier", {"s_suppkey": k, "s_name": [f"Supplier#{i:09d}" for i in k],
                       "s_nationkey": (k % 25).astype(np.int32), "s_acctbal": k * 2.5})
    write("part", {"p_partkey": k, "p_name": ["blue ring"] * m, "p_brand": ["Brand#1"] * m,
                   "p_type": ["SMALL"] * m, "p_size": (k % 50).astype(np.int32),
                   "p_retailprice": 900.0 + k})
    write("orders", {"o_orderkey": k, "o_custkey": k, "o_orderstatus": ["O"] * m,
                     "o_totalprice": 1000.0 + k,
                     "o_orderdate": pa.array(ts, pa.timestamp("us")),
                     "o_orderpriority": ["1-URGENT"] * m})
    write("lineitem", {"l_orderkey": k, "l_partkey": k, "l_suppkey": k,
                       "l_linenumber": np.ones(m, dtype=np.int32),
                       "l_quantity": k + 1.0, "l_extendedprice": k * 10.0,
                       "l_discount": np.full(m, 0.05), "l_tax": np.full(m, 0.02),
                       "l_returnflag": ["N"] * m, "l_linestatus": ["O"] * m,
                       "l_shipdate": pa.array(ts, pa.timestamp("us"))})
    return {"documents": n, "vocabulary": len(DOC_WORDS) + 1, "langs": len(LANGS)}
