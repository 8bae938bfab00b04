"""Seeded input generator for the perfbench workloads.

Kept apart from the system under test: it writes the parquet tables the
engine reads (the ratings source in the TPC-H schema, documents, embeddings)
and one plain-text input file per workload. The Scala harness only
reads what is written here. The same seed gives byte-identical inputs.

Sizes are fixed (see SIZES); only the random draws depend on the seed.
"""

import hashlib
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

# One scale for every seed. The ratings source keeps the per-user shape
# measured on the engine's sf0.1 test tables (15,000 users, 20,000 books):
# 10.0 orders per user (Poisson), 4.0 lines per order (1 + Poisson),
# books drawn uniformly (count per book has CV 0.18, the Poisson value),
# 4 books to every 3 users. That gives 40 rating events per user, about
# 28 raters per book and a co-occurrence degree near 209, as at sf0.1.
# Only the user count is smaller, so that the cold builds and three
# set-ups fit a run of about a minute on a 4-core box; a user's
# co-occurrence neighbours are therefore a far larger share of all users.
SIZES = {
    "users": 600,
    "books": 800,
    "orders_per_user": 10,     # mean, Poisson, at least 1
    "lines_per_order": 4,      # mean, 1 + Poisson
    "documents": 1200,
    "dup_frac": 0.2,           # share of documents that are near-copies
    "vectors": 1500,
    "dim": 64,
    "clusters": 10,
}

SERVE_REQUESTS = 20000          # more than any run consumes
SERVE_ZIPF = 1.1                # user skew of the serve workload
# Requests below SERVE_MIXED_FROM (the open loop) are pages. From there on
# (the closed-loop and warm-up blocks) each 20 requests start with a
# graph_view and a cypher request, then 18 pages: a 90/5/5 mix at fixed
# positions, so every run's blocks hold the same classes and the heavy
# requests start with the block instead of ending it.
SERVE_MIXED_FROM = 5000
SERVE_MIX_BLOCK = 20
CHECK_USERS = 1                 # seeded users whose answers are verified
INGEST_BATCHES = 400            # more than any run consumes
INGEST_BATCH_EVENTS = 6
PIPELINE_USERS = 3
ANN_QUERIES = 4000              # more than any run consumes
RECALL_QUERIES = 4

VOCAB = ("key agg row scan slow fast table value part hash merge batch "
         "spark line sort window query column data join small big stream "
         "order filter group vector customer").split()
STOP = {
    "en": ["the", "a", "of", "and", "to", "in", "is", "it", "that", "for"],
    "de": ["der", "die", "das", "und", "ist", "nicht", "ein", "zu", "mit"],
    "fr": ["le", "la", "les", "et", "est", "un", "une", "dans", "pour"],
    "es": ["el", "los", "las", "y", "es", "un", "una", "en", "por"],
}
LANGS = ("en", "en", "en", "en", "de", "fr", "es")


def _write(path, cols):
    pq.write_table(pa.table(cols), path)


def _zipf_weights(n, s):
    w = 1.0 / np.arange(1, n + 1) ** s
    return w / w.sum()


def ratings_tables(rng, out):
    u, b = SIZES["users"], SIZES["books"]
    segs = np.array(["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"])
    _write(f"{out}/customer.parquet", {
        "c_custkey": np.arange(u, dtype=np.int64),
        "c_name": [f"Customer#{i:09d}" for i in range(u)],
        "c_nationkey": rng.integers(0, 25, u).astype(np.int32),
        "c_acctbal": np.round(rng.uniform(-999, 9999, u), 2),
        "c_mktsegment": segs[rng.integers(0, len(segs), u)],
    })
    adj = np.array(["small", "red", "blue", "green", "large", "shiny", "old", "new"])
    noun = np.array(["ring", "widget", "bolt", "gear", "spring", "valve", "lamp"])
    types = np.array(["ECONOMY", "SMALL", "LARGE", "STANDARD", "PROMO"])
    _write(f"{out}/part.parquet", {
        "p_partkey": np.arange(b, dtype=np.int64),
        "p_name": [f"{a} {n}" for a, n in zip(adj[rng.integers(0, len(adj), b)],
                                               noun[rng.integers(0, len(noun), b)])],
        "p_brand": [f"Brand#{k}" for k in rng.integers(1, 26, b)],
        "p_type": types[rng.integers(0, len(types), b)],
        "p_size": rng.integers(1, 51, b).astype(np.int32),
        "p_retailprice": np.round(900 + np.arange(b) * 0.1, 2),
    })
    # every user places at least one order
    n_orders = 1 + rng.poisson(SIZES["orders_per_user"] - 1, u)
    o_cust = np.repeat(np.arange(u, dtype=np.int64), n_orders)
    rng.shuffle(o_cust)
    n_o = len(o_cust)
    base = np.datetime64("1995-01-01")
    _write(f"{out}/orders.parquet", {
        "o_orderkey": np.arange(n_o, dtype=np.int64),
        "o_custkey": o_cust,
        "o_orderstatus": np.array(["F", "O", "P"])[rng.integers(0, 3, n_o)],
        "o_totalprice": np.round(rng.uniform(1000, 500000, n_o), 2),
        "o_orderdate": (base + rng.integers(0, 2500, n_o).astype("timedelta64[D]"))
        .astype("datetime64[us]"),
        "o_orderpriority": np.array(["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED",
                                     "5-LOW"])[rng.integers(0, 5, n_o)],
    })
    n_lines = 1 + rng.poisson(SIZES["lines_per_order"] - 1, n_o)
    l_order = np.repeat(np.arange(n_o, dtype=np.int64), n_lines)
    n_l = len(l_order)
    # books drawn uniformly, as the sf0.1 tables have them
    l_part = rng.integers(0, b, n_l)
    qty = rng.integers(1, 51, n_l).astype(np.float64)
    _write(f"{out}/lineitem.parquet", {
        "l_orderkey": l_order,
        "l_partkey": l_part.astype(np.int64),
        "l_suppkey": rng.integers(0, 100, n_l).astype(np.int64),
        "l_linenumber": np.concatenate([np.arange(1, k + 1) for k in n_lines]).astype(np.int32),
        "l_quantity": qty,
        "l_extendedprice": np.round(qty * rng.uniform(900, 2000, n_l), 2),
        "l_discount": np.round(rng.integers(0, 11, n_l) / 100.0, 2),
        "l_tax": np.round(rng.integers(0, 9, n_l) / 100.0, 2),
        "l_returnflag": np.array(["A", "N", "R"])[rng.integers(0, 3, n_l)],
        "l_linestatus": np.array(["F", "O"])[rng.integers(0, 2, n_l)],
        "l_shipdate": (base + rng.integers(0, 2600, n_l).astype("timedelta64[D]"))
        .astype("datetime64[us]"),
    })
    # users with at least one non-zero rating (the engine drops rating 0)
    rated = np.zeros(u, dtype=bool)
    rated[o_cust[l_order[(qty.astype(np.int64) % 11) != 0]]] = True
    return np.flatnonzero(rated)


def _doc_text(rng, lang):
    n = int(rng.integers(20, 90))
    words = list(np.array(VOCAB)[rng.integers(0, len(VOCAB), n)])
    stops = STOP[lang]
    for _ in range(max(2, n // 8)):
        words.insert(int(rng.integers(0, len(words) + 1)), stops[int(rng.integers(0, len(stops)))])
    return " ".join(words)


def corpus_tables(rng, out):
    n = SIZES["documents"]
    texts, langs = [], []
    for i in range(n):
        if i > 0 and rng.random() < SIZES["dup_frac"]:
            # near-duplicate: copy an earlier document and edit a few words
            j = int(rng.integers(0, i))
            words = texts[j].split()
            for _ in range(int(rng.integers(1, 4))):
                words[int(rng.integers(0, len(words)))] = VOCAB[int(rng.integers(0, len(VOCAB)))]
            texts.append(" ".join(words))
            langs.append(langs[j])
        else:
            lang = LANGS[int(rng.integers(0, len(LANGS)))]
            texts.append(_doc_text(rng, lang))
            langs.append(lang)
    _write(f"{out}/documents.parquet", {
        "doc_id": np.arange(n, dtype=np.int64),
        "text": texts,
        "lang": langs,
        "source": [f"src{k}" for k in rng.integers(0, 20, n)],
        "n_chars": np.array([len(t) for t in texts], dtype=np.int64),
    })
    v, d, k = SIZES["vectors"], SIZES["dim"], SIZES["clusters"]
    centers = rng.normal(0, 1, (k, d))
    label = rng.integers(0, k, v)
    emb = (centers[label] + rng.normal(0, 0.6, (v, d))).astype(np.float32)
    emb /= np.linalg.norm(emb, axis=1, keepdims=True)
    _write(f"{out}/embeddings.parquet", {
        "vec_id": np.arange(v, dtype=np.int64),
        "embedding": pa.array(list(emb), type=pa.list_(pa.float32())),
        "label": label.astype(np.int32),
    })


def _lines(path, rows):
    with open(path, "w") as f:
        for r in rows:
            f.write(" ".join(str(x) for x in r) + "\n")


def workload_inputs(rng, out, users):
    # serve: Zipf-skewed users over a seeded rank order
    ranked = rng.permutation(users)
    who = ranked[rng.choice(len(ranked), SERVE_REQUESTS, p=_zipf_weights(len(ranked), SERVE_ZIPF))]

    def kind(i):
        if i < SERVE_MIXED_FROM or i % SERVE_MIX_BLOCK > 1:
            return "page"
        return ("graph_view", "cypher")[i % SERVE_MIX_BLOCK]
    _lines(f"{out}/serve.txt", ((kind(i), u) for i, u in enumerate(who)))
    _lines(f"{out}/check_users.txt", ((u,) for u in rng.choice(users, CHECK_USERS, replace=False)))
    # ingest: small batches of rating events (zeros included) for existing
    # users and books
    rows = []
    for bi in range(INGEST_BATCHES):
        us = rng.choice(users, INGEST_BATCH_EVENTS)
        bs = rng.integers(0, SIZES["books"], INGEST_BATCH_EVENTS)
        rs = rng.integers(0, 11, INGEST_BATCH_EVENTS)
        rows.extend((bi, u, b, r) for u, b, r in zip(us, bs, rs))
    _lines(f"{out}/ingest.txt", rows)
    # batch: users whose recommendations are read off the fresh build
    _lines(f"{out}/pipeline.txt", ((u,) for u in rng.choice(users, PIPELINE_USERS, replace=False)))
    # batch: vector query ids, plus the ids whose recall is scored
    q = rng.integers(0, SIZES["vectors"], ANN_QUERIES)
    _lines(f"{out}/corpus.txt", ((x,) for x in q))
    _lines(f"{out}/recall.txt", ((x,) for x in rng.choice(SIZES["vectors"], RECALL_QUERIES,
                                                            replace=False)))


def data_dir(root, seed):
    """Where the inputs of `seed` live under `root`: keyed by the seed and
    by this file's contents, so a changed generator writes new inputs."""
    with open(os.path.abspath(__file__), "rb") as f:
        h = hashlib.sha256(f.read()).hexdigest()[:12]
    return os.path.join(root, f"seed-{seed}-{h}")


def generate(seed, out):
    """Write every table and input file for `seed` into `out` (once)."""
    done = f"{out}/DONE"
    if os.path.exists(done):
        return
    os.makedirs(out, exist_ok=True)
    rng = np.random.default_rng(seed)
    users = ratings_tables(rng, out)
    corpus_tables(rng, out)
    workload_inputs(rng, out, users)
    open(done, "w").close()
