"""Corpus search: inverted index + BM25 ranking.

Not in the reference (SURVEY.md §2 — no text surface); this is the
retrieval side of a corpus pipeline (find near-matches of a benchmark
prompt, audit what the corpus says about X, build hard-negative pairs).

Scale design (100 TB corpus):

* the index build is explode → groupBy(term, doc) → groupBy(term):
  two shuffles of (term-hash-sized) skinny rows; positions stay as
  in-doc integer arrays;
* BM25 scoring keeps one per-corpus state: the tokenized corpus
  ``(id, dl, toks)`` persisted (one map-only tokenize pass, no
  shuffle) and the corpus constants ``n_docs``/``avgdl`` collected as
  driver scalars. It is built on the first query and memoized
  (``operators/cache.py``) under the application id, ``(id_col,
  text_col)``, the corpus plan's semantic hash and a digest of the
  file listing its read took (path, length, modification time); a
  fresh read of a rewritten source, a changed or non-deterministic plan
  misses, and ``release_tracked_caches()`` frees it. A query explodes
  the cached tokens, FILTERS them to its terms before anything
  shuffles, counts ``tf`` per (doc, term) and ``df_t`` per term over
  the survivors and scores with the constants as plan literals — no
  corpus re-tokenization, no stats job, no cross join. The first
  query on a corpus tokenizes it once, for the stats and the matches
  both;
* ranking is a rounded-score ORDER BY ... LIMIT k — Spark plans
  TakeOrderedAndProject (per-partition top-k, no full sort). Scores
  are ranked ROUNDED to ``round_to`` with an id tiebreak so the top-k
  *set* is stable across engines and FP summation orders.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from meta_frame_spark.operators.cache import corpus_state


def _terms(text_col: str):
    return F.regexp_extract_all(F.lower(F.col(text_col)), F.lit(r"\S+"), 0)


def build_inverted_index(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    with_positions: bool = True,
) -> DataFrame:
    """``(term, postings: array<struct<doc_id, tf [, positions]>>, df)``
    — the classic inverted file, one row per distinct term.

    Postings arrays are sorted by doc id (mergeable). At extreme
    cardinality drop ``with_positions`` — the positions arrays are the
    bulk of the bytes.
    """
    toks = df.select(
        F.col(id_col), F.posexplode(_terms(text_col)).alias("pos", "term")
    )
    agg = [F.count(F.lit(1)).alias("tf")]
    if with_positions:
        agg.append(F.sort_array(F.collect_list("pos")).alias("positions"))
    per_doc = toks.groupBy("term", id_col).agg(*agg)
    fields = [F.col(id_col), F.col("tf")] + (
        [F.col("positions")] if with_positions else []
    )
    return per_doc.groupBy("term").agg(
        F.sort_array(F.collect_list(F.struct(*fields))).alias("postings"),
        F.count(F.lit(1)).alias("df"),
    )


def _bm25_corpus(
    df: DataFrame, id_col: str, text_col: str
) -> tuple[DataFrame, int, float | None]:
    """``(lens, n_docs, avgdl)``: a persisted ``(id_col, dl, _toks)``
    frame — each document's tokens and their count — plus the document
    count and the mean document length in tokens (over every row of
    ``df``, empty documents included). Memoized per corpus through
    :func:`cache.corpus_state` — see the module docstring."""

    def build():
        lens = (
            df.select(F.col(id_col), _terms(text_col).alias("_toks"))
            .select(id_col, F.size("_toks").alias("dl"), "_toks")
            .persist()
        )
        stats = lens.agg(
            F.count(F.lit(1)).alias("n_docs"), F.avg("dl").alias("avgdl")
        ).collect()[0]
        return (lens, stats["n_docs"], stats["avgdl"]), [lens]

    return corpus_state(df, ("bm25", id_col, text_col), build)


def bm25_topk(
    df: DataFrame,
    query_terms: list[str],
    k: int = 10,
    id_col: str = "doc_id",
    text_col: str = "text",
    k1: float = 1.2,
    b: float = 0.75,
    round_to: int = 4,
) -> DataFrame:
    """Top-``k`` documents for a bag-of-words query under BM25
    (Lucene idf variant: ``ln(1 + (N - df + 0.5) / (df + 0.5))``).
    Returns ``(id_col, score)``, score rounded to ``round_to``,
    ranked by (rounded score desc, id asc).

    The corpus side is :func:`_bm25_corpus`'s memoized state (the
    persisted tokenized corpus plus ``n_docs``/``avgdl``), built once
    per unchanged corpus; repeated queries against one documents table
    pay only the explode filtered to their terms, the ``tf``/``df_t``
    counts and the scoring.
    """
    if not query_terms:
        raise ValueError("query_terms must be non-empty")
    terms = [t.lower() for t in query_terms]

    lens, n_docs, avgdl = _bm25_corpus(df, id_col, text_col)
    matches = (
        lens.select(id_col, "dl", F.explode("_toks").alias("term"))
        .filter(F.col("term").isin(terms))
        .groupBy(id_col, "dl", "term")
        .agg(F.count(F.lit(1)).alias("tf"))
    )
    dfreq = matches.groupBy("term").agg(
        F.count(F.lit(1)).alias("df_t")
    )
    idf = F.log(
        F.lit(1.0)
        + (F.lit(n_docs) - F.col("df_t") + F.lit(0.5)) / (F.col("df_t") + F.lit(0.5))
    )
    tf_norm = (F.col("tf") * (k1 + 1)) / (
        F.col("tf") + k1 * (1 - b + b * F.col("dl") / F.lit(avgdl))
    )
    scored = (
        matches.join(F.broadcast(dfreq), "term")
        .withColumn("_s", idf * tf_norm)
        .groupBy(id_col)
        .agg(F.round(F.sum("_s"), round_to).alias("score"))
    )
    return scored.orderBy(F.col("score").desc(), F.col(id_col).asc()).limit(k)


def tfidf_topk_terms(
    df: DataFrame,
    k: int = 5,
    id_col: str = "doc_id",
    text_col: str = "text",
    min_term_len: int = 3,
    round_to: int = 4,
) -> DataFrame:
    """Per-document keyword extraction: the top-``k`` terms by tf-idf
    (``tf * (ln((N + 1) / (df + 1)) + 1)`` — the smoothed idf, so a
    term in every document still scores > 0 and the log never divides
    by zero). Returns ``(id_col, term, rank, score)``, rank 1..k by
    (rounded score desc, term asc) — the term tiebreak makes the
    selected *set* stable across engines and partitionings.

    Scale shape: one explode → groupBy(id, term) shuffle for tf, a
    term-keyed aggregate for df (skinny rows, map-side partials), the
    scalar N cross-joined as a broadcast, and a per-document window
    for the rank — state bounded by document vocabulary, never corpus
    vocabulary. ``min_term_len`` drops stopword-length tokens cheaply
    BEFORE the shuffle; a stopword list can be composed upstream.
    """
    from pyspark.sql import Window

    toks = df.select(F.col(id_col), F.explode(_terms(text_col)).alias("term"))
    toks = toks.filter(F.length("term") >= min_term_len)
    tf = toks.groupBy(id_col, "term").agg(F.count(F.lit(1)).alias("tf"))
    dfreq = tf.groupBy("term").agg(F.count(F.lit(1)).alias("df_t"))
    n_docs = df.agg(F.count(F.lit(1)).alias("n_docs"))
    idf = F.log((F.col("n_docs") + F.lit(1.0)) / (F.col("df_t") + F.lit(1.0))) + F.lit(1.0)
    scored = (
        tf.join(dfreq, "term")
        .crossJoin(F.broadcast(n_docs))
        .withColumn("score", F.round(F.col("tf") * idf, round_to))
    )
    w = Window.partitionBy(id_col).orderBy(
        F.col("score").desc(), F.col("term").asc()
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select(id_col, "term", "rank", "score")
    )
