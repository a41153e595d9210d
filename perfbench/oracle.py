"""Reference answers for every workload, computed without Spark.

* config_jobs: each config's DuckDB twin, reduced to (row count,
  order-insensitive hash) with the scheme of
  ``tools/check_correctness.py``'s ``table_hash``.
* curation_batch: the surviving doc ids implied by the injected-
  duplicate ground truth.
* search_batches: exact numpy cosine top-k and a pure-Python BM25.
* event_stream: a DuckDB batch GROUP BY over the replayed files.

Answers are cached next to the inputs they belong to, as JSON.
"""

from __future__ import annotations

import datetime
import hashlib
import json
import math
import os
import re

import numpy as np

TOPK = 10


def norm_cell(v) -> str:
    if v is None:
        return "NULL"
    if isinstance(v, float):
        if math.isnan(v):
            return "NaN"
        return f"{v:.6g}" if v == int(v) else repr(round(v, 6))
    if isinstance(v, (datetime.datetime, datetime.date)):
        return str(v)
    return str(v)


def table_hash(rows, colnames) -> list:
    """[row count, hash] — columns ordered by name, rows sorted, so the
    hash ignores both row and column order."""
    order = sorted(range(len(colnames)), key=lambda i: colnames[i])
    lines = sorted("\x1f".join(norm_cell(r[i]) for i in order) for r in rows)
    return [len(rows), hashlib.sha256("\n".join(lines).encode()).hexdigest()[:16]]


def cached_answer(inputs: str, build) -> dict:
    path = os.path.join(inputs, "oracle.json")
    if not os.path.exists(path):
        answer = build(inputs)
        tmp = path + f".tmp{os.getpid()}"
        with open(tmp, "w") as f:
            json.dump(answer, f)
        os.replace(tmp, path)
    with open(path) as f:
        return json.load(f)


def config_jobs(inputs: str) -> dict:
    import duckdb

    with open(os.path.join(inputs, "jobs.json")) as f:
        jobs = json.load(f)["jobs"]
    data = os.path.join(os.path.abspath(inputs), "data")
    con = duckdb.connect()
    con.execute("SET threads TO 2")
    out = {}
    for job in jobs:
        res = {}
        for out_id, sql in job["twins"].items():
            cur = con.execute(sql.replace("{DATA}", data))
            res[out_id] = table_hash(cur.fetchall(), [d[0] for d in cur.description])
        out[str(job["job_id"])] = res
    con.close()
    return out


def curation(inputs: str) -> dict:
    """Per shard (the warm-up shard last): the exact surviving id set.
    Junk is gated out; in each injected duplicate group (exact or near)
    the min id survives."""
    with open(os.path.join(inputs, "truth.json")) as f:
        truth = json.load(f)
    shards = []
    for t in truth:
        keep = set(t["base"])
        for group in t["exact"] + t["near"]:
            keep.update(group)
            keep.discard(max(group))
        shards.append({"survivors": sorted(keep), "near": t["near"],
                       "exact": t["exact"], "rows": t["rows"]})
    return {"shards": shards}


def _exact_topk(corpus: np.ndarray, ids: np.ndarray, q: np.ndarray, k: int):
    c = corpus / np.linalg.norm(corpus, axis=1, keepdims=True)
    qn = q / np.linalg.norm(q, axis=1, keepdims=True)
    sims = qn @ c.T
    out = []
    for row in sims:
        # score desc, id asc (the operator's tiebreak)
        top = np.lexsort((ids, -row))[:k]
        out.append([int(ids[i]) for i in top])
    return out


def bm25_topk(texts: list[str], ids: list[int], terms: list[str], k: int,
              k1: float = 1.2, b: float = 0.75) -> list[list]:
    """Pure-Python twin of ``operators.search.bm25_topk``."""
    toks = [re.findall(r"\S+", t.lower()) for t in texts]
    n = len(toks)
    avgdl = sum(len(t) for t in toks) / n
    want = {t.lower() for t in terms}
    tf = []
    dfreq = dict.fromkeys(want, 0)
    for t in toks:
        counts: dict[str, int] = {}
        for w in t:
            if w in want:
                counts[w] = counts.get(w, 0) + 1
        tf.append(counts)
        for w in counts:
            dfreq[w] += 1
    scored = []
    for doc_id, t, counts in zip(ids, toks, tf):
        if not counts:
            continue
        s = 0.0
        for w, c in counts.items():
            idf = math.log(1.0 + (n - dfreq[w] + 0.5) / (dfreq[w] + 0.5))
            s += idf * (c * (k1 + 1)) / (c + k1 * (1 - b + b * len(t) / avgdl))
        scored.append((round(s, 4), doc_id))
    scored.sort(key=lambda x: (-x[0], x[1]))
    return [[d, s] for s, d in scored[:k]]


def search(inputs: str) -> dict:
    import pyarrow.parquet as pq

    corpus = pq.read_table(os.path.join(inputs, "corpus.parquet"))
    queries = pq.read_table(os.path.join(inputs, "queries.parquet"))
    cvec = np.stack(corpus.column("embedding").to_numpy(zero_copy_only=False)).astype(np.float64)
    cids = corpus.column("vec_id").to_numpy()
    qvec = np.stack(queries.column("embedding").to_numpy(zero_copy_only=False)).astype(np.float64)
    qids = queries.column("vec_id").to_numpy()
    exact = _exact_topk(cvec, cids, qvec, TOPK)
    docs = pq.read_table(os.path.join(inputs, "documents.parquet")).to_pydict()
    with open(os.path.join(inputs, "bm25.json")) as f:
        terms = json.load(f)
    return {
        "ivf": {str(int(q)): nn for q, nn in zip(qids, exact)},
        "bm25": [bm25_topk(docs["text"], docs["doc_id"], t, TOPK) for t in terms],
    }


def events(inputs: str) -> dict:
    """Final per-user totals of the replayed files and of the warm-up
    files, from one batch GROUP BY each."""
    import duckdb

    con = duckdb.connect()
    out = {}
    for sub in ("events", "warmup"):
        files = os.path.join(os.path.abspath(inputs), sub, "*.parquet")
        rows = con.execute(
            "SELECT user_id, count(*)::BIGINT, sum(value), max(value) "
            f"FROM read_parquet('{files}') GROUP BY user_id"
        ).fetchall()
        out[sub] = table_hash(rows, ["user_id", "n_events", "total_value", "max_value"])
    con.close()
    return out

