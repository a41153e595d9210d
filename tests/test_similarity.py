"""Similarity search + dedup operators (SURVEY.md §7.1 step 6b/6c)."""

import numpy as np
import pytest
from pyspark.sql import functions as F

from meta_frame_spark.operators.similarity import (
    brute_force_topk,
    embedding_near_dup_pairs,
    srp_lsh_topk,
)
from meta_frame_spark.operators.dedup import (
    exact_dedup,
    drop_exact_duplicates,
    minhash_lsh_dedup,
    simhash_dup_groups,
)


def test_brute_force_topk_matches_numpy(spark, embeddings):
    k = 5
    queries = embeddings.filter(F.col("vec_id") < 5)
    got = brute_force_topk(embeddings, queries, k=k).collect()

    rows = embeddings.collect()
    ids = np.array([r.vec_id for r in rows])
    mat = np.array([r.embedding for r in rows], dtype=np.float64)
    mat_n = mat / np.linalg.norm(mat, axis=1, keepdims=True)
    by_query = {}
    for r in got:
        by_query.setdefault(r.query_id, []).append((r.rank, r.neighbor_id))
    assert set(by_query) == {0, 1, 2, 3, 4}
    for qid, pairs in by_query.items():
        qi = int(np.where(ids == qid)[0][0])
        sims = mat_n @ mat_n[qi]
        sims[qi] = -np.inf  # exclude self
        expect = ids[np.argsort(-sims, kind="stable")][:k].tolist()
        gotlist = [nid for _, nid in sorted(pairs)]
        assert gotlist == expect, f"query {qid}: {gotlist} != {expect}"


def test_srp_lsh_topk_recall(spark, embeddings):
    """LSH top-k should recover most of the exact top-k (recall >= 0.6
    with 8 bands x 8 planes on 500 x 64-dim vectors)."""
    k = 5
    queries = embeddings.filter(F.col("vec_id") < 20)
    exact = brute_force_topk(embeddings, queries, k=k).collect()
    approx = srp_lsh_topk(embeddings, queries, k=k).collect()
    exact_set = {(r.query_id, r.neighbor_id) for r in exact}
    approx_set = {(r.query_id, r.neighbor_id) for r in approx}
    recall = len(exact_set & approx_set) / len(exact_set)
    assert recall >= 0.6, f"recall {recall:.2f}"


def test_embedding_near_dup_symmetric_canonical(spark, embeddings):
    pairs = embedding_near_dup_pairs(embeddings, threshold=0.5).collect()
    for r in pairs:
        assert r.id_a < r.id_b
        assert r.cosine >= 0.5


def test_exact_dedup_counts(spark, documents):
    out = exact_dedup(documents, key_cols=["text"], id_col="doc_id")
    assert out.count() == documents.select("text").distinct().count()
    survivors = drop_exact_duplicates(documents, ["text"], "doc_id")
    assert survivors.count() == out.count()
    assert survivors.columns == documents.columns


def test_minhash_lsh_finds_planted_dup(spark, documents):
    """Plant a near-duplicate of doc 0 and check LSH+Jaccard finds it."""
    base = documents.limit(50)
    r0 = base.filter(F.col("doc_id") == 0).collect()[0]
    words = r0.text.split()
    words[len(words) // 2] = "XDUPX"  # one-word change
    dup = spark.createDataFrame(
        [(99999, " ".join(words), r0.lang, r0.source, len(r0.text))],
        schema=base.schema,
    )
    cand = base.union(dup)
    pairs = minhash_lsh_dedup(
        cand, threshold=0.5, num_hashes=64, num_bands=16, shingle_n=3
    ).collect()
    assert any({p.id_a, p.id_b} == {0, 99999} for p in pairs), pairs


def test_simhash_identical_docs_collide(spark, documents):
    base = documents.limit(30)
    clone = base.withColumn("doc_id", F.col("doc_id") + 100000)
    groups = simhash_dup_groups(base.union(clone)).collect()
    # every doc now has an identical twin -> every simhash value present
    # is a dup group (distinct base docs may also collide: tiny vocab)
    from meta_frame_spark.operators.dedup import simhash

    n_distinct = len({r.simhash for r in simhash(base).collect()})
    assert len(groups) == n_distinct
    assert all(g.n_members >= 2 for g in groups)


def test_ivf_topk_recall(spark, embeddings):
    """IVF with 8 cells / 4 probes (half the corpus scanned) should
    recover most of the exact top-k."""
    from meta_frame_spark.operators.similarity import ivf_topk

    k = 5
    queries = embeddings.filter(F.col("vec_id") < 20)
    exact = brute_force_topk(embeddings, queries, k=k).collect()
    approx = ivf_topk(embeddings, queries, k=k, n_cells=8, n_probe=4).collect()
    e = {(r.query_id, r.neighbor_id) for r in exact}
    a = {(r.query_id, r.neighbor_id) for r in approx}
    recall = len(e & a) / len(e)
    assert recall >= 0.6, f"IVF recall {recall}"
    # per-query result size never exceeds k
    from collections import Counter
    assert max(Counter(r.query_id for r in approx).values()) <= k


def test_dup_clusters_transitive(spark):
    """Chains merge transitively: 1-2, 2-3 one cluster; 4-5 another."""
    from meta_frame_spark.operators.dedup import drop_near_duplicates, dup_clusters

    pairs = spark.createDataFrame(
        [(1, 2), (2, 3), (4, 5), (8, 9), (9, 10), (10, 11)],
        "id_a bigint, id_b bigint",
    )
    expected = {1: 1, 2: 1, 3: 1, 4: 4, 5: 4, 8: 8, 9: 8, 10: 8, 11: 8}
    # small graphs take the bounded union-find shortcut by default;
    # driver_threshold=0 forces the distributed label-propagation loop.
    # Both paths must agree exactly.
    got_uf = {r.node: r.cluster for r in dup_clusters(pairs).collect()}
    got_dist = {r.node: r.cluster
                for r in dup_clusters(pairs, driver_threshold=0).collect()}
    # a pair count ABOVE a nonzero threshold must fall through the
    # persist+count probe to the distributed loop (r15: the probe
    # replaced a limit(n+1).collect() take-ramp)
    got_over = {r.node: r.cluster
                for r in dup_clusters(pairs, driver_threshold=2).collect()}
    assert got_uf == expected
    assert got_dist == expected
    assert got_over == expected

    docs = spark.createDataFrame(
        [(i, f"d{i}") for i in range(12)], "doc_id bigint, text string"
    )
    kept = sorted(r.doc_id for r in drop_near_duplicates(docs, pairs).collect())
    assert kept == [0, 1, 4, 6, 7, 8]  # cluster minima + untouched docs


def _planted_near_dup_corpus(spark):
    """60 random 30-word docs plus planted copies: 1-3 word edits,
    an appended tail, an exact copy, and a pair of docs shorter than
    any shingle."""
    import random

    rng = random.Random(7)
    vocab = [f"w{i}" for i in range(400)]
    rows = [(i, rng.choices(vocab, k=30)) for i in range(60)]
    nxt = 100
    for src in range(0, 60, 4):
        words = list(rows[src][1])
        for _ in range(1 + src % 3):
            words[rng.randrange(len(words))] = rng.choice(vocab)
        rows.append((nxt, words))
        rows.append((nxt + 1, rows[src][1] + rng.choices(vocab, k=3)))
        nxt += 2
    rows.append((nxt, rows[1][1]))
    rows += [(nxt + 1, ["w1", "w2"]), (nxt + 2, ["w1", "w2"])]
    return spark.createDataFrame(
        [(i, " ".join(w)) for i, w in rows], "doc_id bigint, text string"
    )


@pytest.mark.parametrize("shingle_n,threshold,num_bands", [(3, 0.5, 32), (5, 0.8, 16)])
def test_minhash_lsh_dedup_matches_string_shingle_verify(spark, shingle_n, threshold, num_bands):
    """The fused hashed-shingle pipeline returns exactly the pairs and
    Jaccard values of string-shingle verification over the same LSH
    candidates, and banding a persisted signature frame (no internal
    persist) yields the same candidates as a plain one (tracked
    persist of the bucket table)."""
    from meta_frame_spark.operators.cache import _TRACKED, release_tracked_caches
    from meta_frame_spark.operators.dedup import (
        minhash_lsh_candidates,
        minhash_signatures,
        ngram_jaccard_pairs,
    )

    df = _planted_near_dup_corpus(spark)
    release_tracked_caches()
    sigs = minhash_signatures(df, shingle_n=shingle_n)
    plain = minhash_lsh_candidates(sigs, num_bands=num_bands, rows_per_band=64 // num_bands)
    assert len(_TRACKED) == 1
    cached_sigs = minhash_signatures(df, shingle_n=shingle_n).persist()
    cached = minhash_lsh_candidates(cached_sigs, num_bands=num_bands, rows_per_band=64 // num_bands)
    assert len(_TRACKED) == 1

    def as_set(frame):
        return {tuple(r) for r in frame.collect()}

    assert as_set(plain) == as_set(cached)
    expected = as_set(ngram_jaccard_pairs(df, plain, shingle_n=shingle_n, threshold=threshold))
    got = as_set(minhash_lsh_dedup(
        df, num_bands=num_bands, shingle_n=shingle_n, threshold=threshold
    ))
    assert got == expected
    # every appended-tail copy, the exact copy and the short pair are
    # found; the edited copies' Jaccard straddles the thresholds
    planted = {(src, 101 + src // 2) for src in range(0, 60, 4)} | {(1, 130), (131, 132)}
    assert planted <= {(a, b) for a, b, _ in got}
    cached_sigs.unpersist()
    release_tracked_caches()


def test_null_text_does_not_crash_dedup(spark):
    """Regression: a NULL text row must null-propagate through minhash,
    simhash and the LSH pipeline, not crash the numpy UDFs."""
    from meta_frame_spark.operators.dedup import (
        minhash_lsh_dedup,
        minhash_signatures,
        simhash,
    )

    df = spark.createDataFrame(
        [(1, "the quick brown fox jumps over the dog"),
         (2, None),
         (3, "the quick brown fox jumps over the dog")],
        "doc_id bigint, text string",
    )
    sigs = {r.doc_id: r.signature for r in minhash_signatures(df, shingle_n=3).collect()}
    assert sigs[2] is None and sigs[1] == sigs[3]
    sh = {r.doc_id: r.simhash for r in simhash(df).collect()}
    assert sh[2] == 0 and sh[1] == sh[3]
    pairs = minhash_lsh_dedup(df, shingle_n=3, threshold=0.5).collect()
    assert {(r.id_a, r.id_b) for r in pairs} == {(1, 3)}


def test_null_embedding_does_not_crash_similarity(spark, embeddings):
    """Regression: NULL / wrong-length vectors are dropped, not fatal."""
    from pyspark.sql import types as T

    from meta_frame_spark.operators.similarity import embedding_near_dup_pairs, srp_lsh_topk

    bad = spark.createDataFrame(
        [(990001, None), (990002, [1.0, 2.0])],
        T.StructType([
            T.StructField("vec_id", T.LongType()),
            T.StructField("embedding", T.ArrayType(T.FloatType())),
        ]),
    )
    corpus = embeddings.select("vec_id", "embedding").unionByName(bad)
    out = srp_lsh_topk(corpus, corpus.filter(F.col("vec_id") < 5), k=3)
    assert out.count() > 0
    assert out.filter(F.col("neighbor_id") >= 990001).count() == 0
    nd = embedding_near_dup_pairs(corpus, threshold=0.99)
    assert nd.filter(F.col("id_a") >= 990001).count() == 0


def test_hard_negatives_excludes_positives_before_topk(spark):
    from meta_frame_spark.operators.similarity import hard_negatives

    # 1 query (id 0) + 4 corpus vectors on distinct directions; ids 1,2
    # are positives and MORE similar than 3,4 — exclusion must happen
    # before the top-k, so the negatives are 3 then 4.
    rows = [
        (0, [1.0, 0.0, 0.0, 0.0]),
        (1, [0.99, 0.1, 0.0, 0.0]),
        (2, [0.95, 0.2, 0.0, 0.0]),
        (3, [0.5, 0.8, 0.0, 0.0]),
        (4, [0.1, 0.9, 0.4, 0.0]),
    ]
    emb = spark.createDataFrame(rows, "vec_id bigint, embedding array<float>")
    q = emb.filter("vec_id = 0")
    pos = spark.createDataFrame([(0, 1), (0, 2)], "query_id bigint, neighbor_id bigint")
    got = hard_negatives(emb, q, pos, k=2, vec_col="embedding")
    assert sorted((r.query_id, r.neighbor_id, r.rank) for r in got.collect()) == [
        (0, 3, 1), (0, 4, 2),
    ]


def test_hard_negatives_candidates_path_matches_exact(spark, embeddings):
    """Restricting scoring to a candidate list containing the true
    top-k gives identical output to the exact path."""
    from meta_frame_spark.operators.similarity import brute_force_topk, hard_negatives
    from pyspark.sql import functions as F

    q = embeddings.filter(F.col("vec_id") < 3)
    pos = brute_force_topk(embeddings, q, k=2)  # 2 nearest are "positives"
    exact = hard_negatives(embeddings, q, pos.select("query_id", "neighbor_id"), k=3)
    # oversampled candidates: top-10 exact neighbors per query
    cands = brute_force_topk(embeddings, q, k=10).select("query_id", "neighbor_id")
    via_cands = hard_negatives(
        embeddings, q, pos.select("query_id", "neighbor_id"), k=3, candidates=cands
    )
    key = lambda df: sorted((r.query_id, r.neighbor_id, r.rank) for r in df.collect())
    assert key(exact) == key(via_cands)


def test_group_centroids_elementwise_mean(spark):
    from meta_frame_spark.operators.similarity import group_centroids

    rows = [
        ("a", [1.0, 2.0, 3.0]), ("a", [3.0, 4.0, 5.0]),
        ("b", [10.0, 0.0, -2.0]),
    ]
    df = spark.createDataFrame(rows, "label string, embedding array<double>")
    got = {(r.label, r.pos): r.mean_val
           for r in group_centroids(df, ["label"]).collect()}
    assert got[("a", 0)] == 2.0 and got[("a", 1)] == 3.0 and got[("a", 2)] == 4.0
    assert got[("b", 0)] == 10.0 and got[("b", 2)] == -2.0


@pytest.mark.parametrize("sf_dir", ["/root/testdata/sf0.01", "/root/testdata/sf0.1"])
def test_emb_near_dup_exact_oracle_recall_at_shipped_scales(spark, sf_dir):
    """q_emb_near_dup ships a data-dependent EXACT oracle: its 64-band
    SRP-LSH candidate stage must reach recall 1.0 vs all-pairs cosine at
    every scale the driver checks/benches, or the CORRECTNESS row flips
    on the next data regen (ADVICE r2/r3). This pins it: any regen that
    introduces missed pairs fails here first, before the driver run."""
    import os

    if not os.path.exists(f"{sf_dir}/embeddings.parquet"):
        pytest.skip(f"no testdata at {sf_dir}")
    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    got = {
        (r.id_a, r.id_b)
        for r in embedding_near_dup_pairs(emb, threshold=0.4, num_bands=64).collect()
    }
    rows = emb.select("vec_id", "embedding").collect()
    ids = np.array([r.vec_id for r in rows])
    mat = np.array([r.embedding for r in rows], dtype=np.float64)
    mat /= np.linalg.norm(mat, axis=1, keepdims=True)
    sims = mat @ mat.T
    iu, ju = np.triu_indices(len(ids), k=1)
    hits = sims[iu, ju] >= 0.4
    expect = {
        (int(min(a, b)), int(max(a, b)))
        for a, b in zip(ids[iu[hits]], ids[ju[hits]])
    }
    assert got == expect, (
        f"LSH candidate stage no longer exact at {sf_dir}: "
        f"missed={sorted(expect - got)[:5]} extra={sorted(got - expect)[:5]}"
    )


def test_embedding_outliers_flags_planted_stray(spark):
    import numpy as np

    from meta_frame_spark.operators.similarity import embedding_outliers

    rng = np.random.default_rng(7)
    rows = [(i, (rng.normal(0, 0.05, 8)).astype("float32").tolist())
            for i in range(100)]
    rows.append((999, [25.0] * 8))  # broken-encoder stray, far away
    df = spark.createDataFrame(rows, ["vec_id", "embedding"])
    out = embedding_outliers(df, z_threshold=2.0).collect()
    flagged = {r.vec_id for r in out}
    assert 999 in flagged
    assert len(flagged) < 10  # the tight cloud mostly passes
    stray = next(r for r in out if r.vec_id == 999)
    assert stray.z > 2.0 and stray.dist > 10


def _write_vectors(spark, path, seed, n=200, dim=8):
    rng = np.random.default_rng(seed)
    rows = [(i, rng.normal(size=dim).tolist()) for i in range(n)]
    spark.createDataFrame(rows, "vec_id bigint, embedding array<double>") \
        .write.mode("overwrite").parquet(path)


def _ivf_rows(spark, path):
    from meta_frame_spark import load_data
    from meta_frame_spark.operators.similarity import ivf_topk

    corpus = load_data(spark, source="parquet", path=path)
    out = ivf_topk(corpus, corpus.filter(F.col("vec_id") < 10), k=5,
                   n_cells=4, n_probe=2)
    return sorted(out.collect())


@pytest.fixture
def fit_calls(monkeypatch):
    """Counts quantizer fits; starts and ends with an empty corpus memo."""
    from meta_frame_spark.operators import similarity
    from meta_frame_spark.operators.cache import release_tracked_caches

    calls = []
    real = similarity._fit_quantizer

    def counted(*a, **kw):
        calls.append(1)
        return real(*a, **kw)

    release_tracked_caches()
    monkeypatch.setattr(similarity, "_fit_quantizer", counted)
    yield calls
    release_tracked_caches()


def test_ivf_topk_reuses_quantizer_across_reads_of_one_path(spark, tmp_path, fit_calls):
    path = str(tmp_path / "corpus.parquet")
    _write_vectors(spark, path, seed=1)
    first = _ivf_rows(spark, path)
    second = _ivf_rows(spark, path)  # a second load_data of the same path
    assert second == first
    assert len(fit_calls) == 1


def test_ivf_topk_memo_misses_on_rewritten_source(spark, tmp_path, fit_calls):
    from meta_frame_spark.operators.cache import release_tracked_caches

    path = str(tmp_path / "corpus.parquet")
    _write_vectors(spark, path, seed=1)
    before = _ivf_rows(spark, path)
    _write_vectors(spark, path, seed=2)  # same path, same ids, new vectors
    after = _ivf_rows(spark, path)
    assert len(fit_calls) == 2
    release_tracked_caches()
    assert after == _ivf_rows(spark, path)  # a fresh build agrees
    assert after != before


def _rand_column(spark, path):
    from meta_frame_spark import load_data

    return load_data(spark, source="parquet", path=path).withColumn("r", F.rand(7))


def _in_subquery(spark, path):
    # the subquery's relation is not a leaf of the outer plan: rewriting
    # its table would go unseen by the file digest
    spark.read.parquet(path).createOrReplaceTempView("memo_corpus")
    return spark.sql(
        "SELECT * FROM memo_corpus WHERE vec_id IN "
        "(SELECT vec_id FROM memo_corpus WHERE vec_id < 150)"
    )


def _in_memory_rows(spark, path):
    return spark.createDataFrame(spark.read.parquet(path).collect())


@pytest.mark.parametrize("make", [_rand_column, _in_subquery, _in_memory_rows])
def test_ivf_topk_never_memoizes_unfingerprintable_corpus(spark, tmp_path, fit_calls, make):
    from meta_frame_spark.operators.cache import _MEMO
    from meta_frame_spark.operators.similarity import ivf_topk

    path = str(tmp_path / "corpus.parquet")
    _write_vectors(spark, path, seed=1)
    corpus = make(spark, path)
    for _ in range(2):
        ivf_topk(corpus, corpus.filter(F.col("vec_id") < 10), k=5,
                 n_cells=4, n_probe=2).collect()
    assert len(fit_calls) == 2
    assert not _MEMO


def test_ivf_topk_memo_misses_on_new_modification_time(spark, tmp_path, fit_calls):
    """A file rewritten in place under its old name (as non-Spark writers
    do) must miss even when its length is unchanged."""
    import os

    path = str(tmp_path / "corpus.parquet")
    _write_vectors(spark, path, seed=1)
    first = _ivf_rows(spark, path)
    for name in os.listdir(path):
        f = os.path.join(path, name)
        os.utime(f, (os.stat(f).st_atime, os.stat(f).st_mtime + 60))
    assert _ivf_rows(spark, path) == first
    assert len(fit_calls) == 2


def test_release_tracked_caches_empties_corpus_memo(spark, tmp_path, fit_calls):
    from pyspark import StorageLevel

    from meta_frame_spark.operators.cache import _MEMO, release_tracked_caches

    path = str(tmp_path / "corpus.parquet")
    _write_vectors(spark, path, seed=1)
    _ivf_rows(spark, path)
    frames = [f for _, _, fs in _MEMO.values() for f in fs]
    assert len(frames) == 1 and frames[0].storageLevel != StorageLevel.NONE
    assert release_tracked_caches() >= 1
    assert not _MEMO
    assert frames[0].storageLevel == StorageLevel.NONE
    _ivf_rows(spark, path)
    assert len(fit_calls) == 2  # released state is rebuilt, not reused
