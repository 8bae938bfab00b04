"""Independent oracle for the artifacts the harness reports.

Re-derives, with DuckDB over the generated tables (plus the ingest
batches the run applied), the ratings edges, the co-occurrence
projection, the recommendation payload and the user-books payload, and
renders them in the harness's canonical row format (see Canon in
Workloads.scala) so the two digests must match. Re-derives the text
batch's kept and surviving documents in plain Python, and recomputes
every cosine of the vector search answers with NumPy.
"""

import hashlib
import re

import duckdb
import numpy as np
import pyarrow.parquet as pq

SIM_K = 20   # similar users per target (Serving.recommendationsPayload)
TOP_K = 3    # recommendations per user


def _digest(lines):
    return hashlib.sha256("\n".join(sorted(lines)).encode()).hexdigest()


def graph_digests(data, ingest_batches=0):
    con = duckdb.connect()
    con.execute(f"""
        CREATE TABLE ev AS
        SELECT o_custkey AS u, l_partkey AS b, CAST(l_quantity AS BIGINT) % 11 AS r
        FROM '{data}/lineitem.parquet' JOIN '{data}/orders.parquet' ON l_orderkey = o_orderkey""")
    if ingest_batches:
        con.execute(f"""
            INSERT INTO ev SELECT column1, column2, column3
            FROM read_csv('{data}/ingest.txt', delim=' ', header=false,
                          columns={{'column0': 'BIGINT', 'column1': 'BIGINT',
                                    'column2': 'BIGINT', 'column3': 'BIGINT'}})
            WHERE column0 < {int(ingest_batches)}""")
    con.execute(f"""
        CREATE TABLE ratings AS SELECT u, b, max(r) AS r FROM ev WHERE r <> 0 GROUP BY u, b;
        CREATE TABLE liked AS SELECT u, b FROM ratings WHERE r >= 6;
        CREATE TABLE cooc AS
          SELECT x.u AS u1, y.u AS u2, count(*) AS w
          FROM liked x JOIN liked y ON x.b = y.b AND x.u <> y.u GROUP BY 1, 2;
        CREATE TABLE books AS SELECT p_partkey AS b, p_name AS title FROM '{data}/part.parquet';
        CREATE TABLE sims AS
          SELECT u1 AS target, u2 AS u FROM (
            SELECT *, row_number() OVER (PARTITION BY u1 ORDER BY w DESC, u2) AS k FROM cooc)
          WHERE k <= {SIM_K};
        CREATE TABLE cand AS
          SELECT s.target, r.b, sum(r.r) AS s, count(*) AS n,
                 CAST(sum(r.r) AS DOUBLE) / count(*) AS avg
          FROM ratings r JOIN sims s ON r.u = s.u
          WHERE NOT EXISTS (SELECT 1 FROM ratings m WHERE m.u = s.target AND m.b = r.b)
          GROUP BY 1, 2;
        CREATE TABLE recs AS
          SELECT target, c.b, title, s, n FROM (
            SELECT *, row_number() OVER (PARTITION BY target ORDER BY avg DESC, n DESC, b) AS k
            FROM cand) c JOIN books USING (b)
          WHERE k <= {TOP_K};""")

    def rows(sql):
        return [",".join(str(x) for x in row) for row in con.execute(sql).fetchall()]

    return {
        "ratings": _digest(rows("SELECT u, b, r FROM ratings")),
        "cooc": _digest(rows("SELECT u1, u2, w FROM cooc")),
        "recs": _digest(rows("SELECT target, b, title, s, n FROM recs")),
        "books": _digest(rows("SELECT u, b, title, r FROM ratings JOIN books USING (b)")),
    }


def ann_failures(data, answers, k=10, tol=1e-5):
    """Every reported cosine must be the true one; the exact answer must
    be a true top-k; the IVF answer must come from the same vectors."""
    t = pq.read_table(f"{data}/embeddings.parquet").to_pydict()
    ids = np.array(t["vec_id"])
    emb = np.array(t["embedding"], dtype=np.float64)
    unit = emb / np.linalg.norm(emb, axis=1, keepdims=True)
    row = {v: i for i, v in enumerate(ids)}
    out = []
    for a in answers:
        q = a["query"]
        cos = unit @ unit[row[q]]
        cos[row[q]] = -np.inf
        kth = np.sort(cos)[-k]
        for kind in ("exact", "ivf"):
            for vid, c in a[kind]:
                if abs(cos[row[vid]] - c) > tol:
                    out.append(f"{kind} cosine of ({q}, {vid}) is {c}, true {cos[row[vid]]:.6f}")
        got = a["exact"]
        if len(got) != k or min(c for _, c in got) < kth - tol:
            out.append(f"exact top-{k} of {q} is not the true top-{k}")
    return out


STOPWORDS = {
    "de": {"der", "die", "das", "und", "ist", "nicht", "ein", "zu", "mit"},
    "en": {"the", "a", "of", "and", "to", "in", "is", "it", "that", "for"},
    "es": {"el", "los", "las", "y", "es", "un", "una", "en", "por"},
    "fr": {"le", "la", "les", "et", "est", "un", "une", "dans", "pour"},
    "zh": {"的", "是", "在", "了", "和", "有", "我", "不"},
}
_WS = re.compile("[ \t\n\f\r]+")


def _tokens(text):
    return [t for t in _WS.split(text) if t]


def _kept(text):
    """TextOps.qualityFilter's rule: quality score >= 0.7, language en."""
    n_chars, toks = len(text), _tokens(text)
    n_tok = len(toks)
    n_punct = sum(text.count(c) for c in ".,!?;:")
    score = ((0.4 if 10 <= n_tok <= 2000 else 0.0)
             + (0.3 if n_tok > 0 and 3.0 <= n_chars / n_tok <= 12.0 else 0.0)
             + (0.3 if n_chars > 0 and n_punct / n_chars < 0.1 else 0.0))
    low = [t.lower() for t in _tokens(text.lower())]
    best = max((sum(t in STOPWORDS[lang] for t in low), lang) for lang in sorted(STOPWORDS))
    return score >= 0.7 and best[0] > 0 and best[1] == "en"


def _shingles(text):
    toks = _tokens(text.lower())
    if len(toks) < 3:
        return {" ".join(toks)}
    return {" ".join(toks[i:i + 3]) for i in range(len(toks) - 2)}


def corpus_failures(data, out, min_jaccard=0.5):
    """Kept documents, the survivors of near-duplicate clustering among
    them (minimum id per component of Jaccard >= 0.5 pairs), and the
    MinHash pairs' shape."""
    t = pq.read_table(f"{data}/documents.parquet", columns=["doc_id", "text"]).to_pydict()
    kept = sorted(d for d, x in zip(t["doc_id"], t["text"]) if _kept(x))
    fails = []
    if sorted(out["quality"]) != kept:
        fails.append("quality filter kept a different document set")
    sh = {d: _shingles(x) for d, x in zip(t["doc_id"], t["text"])}
    parent = {d: d for d in kept}

    def find(x):
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x
    posting = {}
    for d in kept:
        for g in sh[d]:
            posting.setdefault(g, []).append(d)
    seen = set()
    for ds in posting.values():
        for i, a in enumerate(ds):
            for b in ds[i + 1:]:
                if (a, b) in seen:
                    continue
                seen.add((a, b))
                if len(sh[a] & sh[b]) / len(sh[a] | sh[b]) >= min_jaccard:
                    ra, rb = find(a), find(b)
                    parent[max(ra, rb)] = min(ra, rb)
    survivors = sorted({find(d) for d in kept})
    if sorted(out["packed"]) != survivors:
        fails.append("packed corpus is not the near-duplicate survivors of the kept documents")
    for a, b, est in out["pairs"]:
        if not (a < b and 0.2 <= est <= 1.0 and abs(est * 32 - round(est * 32)) < 1e-9):
            fails.append(f"minhash pair ({a}, {b}, {est}) is malformed")
            break
    return fails
