"""Tracking for operator-internal ``persist()`` calls, and a memo of
per-corpus operator state.

Several operators persist an intermediate that two downstream branches
consume (e.g. the fused minhash base feeding both LSH bucketing and the
Jaccard verify join). The persist must outlive the *caller's* action, so
the operator cannot unpersist before returning — but in a long-lived
session repeated calls would accumulate cached partitions until
eviction pressure. Operators register such frames here; callers that
run many operator invocations in one session release them between
actions:

    from meta_frame_spark.operators.cache import release_tracked_caches
    result = minhash_lsh_dedup(df, ...)
    result.write.parquet(...)          # action consumes the cache
    release_tracked_caches()           # drop operator-internal persists

``spark.catalog.clearCache()`` also works but drops *user* caches too;
this releases only what operators persisted internally.

Corpus memo. Probe operators (``ivf_topk``, ``bm25_topk``,
``semantic_dedup``) derive per-corpus state — a trained quantizer plus
a persisted cell assignment, the persisted tokenized corpus plus
corpus scalars — that does not depend on the query.
:func:`corpus_state` builds that state once and hands it back on later
calls over the *same* corpus. The key is

* the SparkContext ``applicationId`` (persisted frames die with it);
* an operator tag holding every parameter that shapes the state;
* ``DataFrame.semanticHash()`` of the corpus, confirmed with
  ``sameSemantics()`` — two reads of one path compare equal;
* a digest of the file listing the corpus' read took — path, length
  and modification time of every file its analyzed plan reads — so a
  fresh read of a source rewritten under the same path misses. The
  listing is the one Spark made when the frame was read; the lookup
  makes no filesystem call.

Only a corpus whose analyzed plan reads nothing but path-listed file
relations is memoized. A plan that is non-deterministic, streaming,
holds a subquery, or reads any other leaf (in-memory rows, an RDD that
may re-read its files, JDBC, Hive and catalog tables whose contents
change without a plan change) gets its state built per call, and its
frames are tracked like any other operator persist. The memo is a
``_MEMO_SIZE``-entry LRU that unpersists what it evicts;
:func:`release_tracked_caches` also empties it.
"""

from __future__ import annotations

import threading
from collections import OrderedDict
from typing import Any, Callable

from pyspark.sql import DataFrame

_TRACKED: list[DataFrame] = []

_MEMO_SIZE = 8
# key -> (corpus frame, state, persisted frames owned by the entry)
_MEMO: "OrderedDict[tuple, tuple[DataFrame, Any, list[DataFrame]]]" = OrderedDict()
_MEMO_LOCK = threading.Lock()  # guards _MEMO; builds run outside it

_DIGEST_CHUNK = 10_000  # FileStatus strings hashed per JVM round trip


def track(df: DataFrame) -> DataFrame:
    """Register an operator-internal persisted frame for later release."""
    _TRACKED.append(df)
    return df


def _unpersist(frames: list[DataFrame]) -> None:
    for df in frames:
        try:
            df.unpersist()
        except Exception:
            pass  # session already stopped — nothing to release


def release_tracked_caches() -> int:
    """Unpersist every tracked frame and every frame the corpus memo
    holds (non-blocking), empty both; returns the count."""
    with _MEMO_LOCK:
        frames = _TRACKED + [f for _, _, fs in _MEMO.values() for f in fs]
        _TRACKED.clear()
        _MEMO.clear()
    _unpersist(frames)
    return len(frames)


def _listing_digest(df: DataFrame, plan) -> bytes | None:
    """SHA-256 over the file listing every leaf of the analyzed plan
    took when it was read, or None when a leaf is not a path-listed
    file relation. The listing is the ``InMemoryFileIndex``'s own
    ``FileStatus`` list, whose strings carry path, length and
    modification time (Spark's listing zeroes the access time; any other
    field that changes can only turn a hit into a miss), so the lookup
    makes no filesystem call;
    it is hashed in the JVM ``_DIGEST_CHUNK`` files at a time, so py4j
    traffic and memory stay bounded however many files a corpus spans.
    The analyzed plan (not ``inputFiles()``, which reads the optimized
    plan) still shows the files when the corpus is served from Spark's
    cache."""
    jvm = df.sparkSession.sparkContext._jvm
    md = jvm.java.security.MessageDigest.getInstance("SHA-256")
    utf8 = jvm.java.nio.charset.StandardCharsets.UTF_8
    leaves = plan.collectLeaves()
    for i in range(leaves.size()):
        leaf = leaves.apply(i)
        if leaf.getClass().getSimpleName() != "LogicalRelation":
            return None
        rel = leaf.relation()
        if rel.getClass().getSimpleName() != "HadoopFsRelation":
            return None
        index = rel.location()
        if index.getClass().getSimpleName() != "InMemoryFileIndex":
            return None  # a catalog index lists at scan time, not read time
        chunks = index.allFiles().grouped(_DIGEST_CHUNK)
        while chunks.hasNext():
            text = jvm.scala.collection.mutable.StringBuilder()
            chunks.next().addString(text, "", "\n", "\n")
            md.update(utf8.encode(jvm.java.nio.CharBuffer.wrap(text.underlying())))
    return bytes(md.digest())


def _memo_key(df: DataFrame, tag: tuple) -> tuple | None:
    plan = df._jdf.queryExecution().analyzed()
    if df.isStreaming or not plan.deterministic():
        return None
    if not plan.subqueriesAll().isEmpty():
        return None  # a subquery's relations are not among the plan's leaves
    listing = _listing_digest(df, plan)
    if listing is None:
        return None
    app = df.sparkSession.sparkContext.applicationId
    return (app, tag, df.semanticHash(), listing)


def corpus_state(
    df: DataFrame,
    tag: tuple,
    build: Callable[[], tuple[Any, list[DataFrame]]],
) -> Any:
    """The per-corpus state ``build()`` derives from ``df``, built once
    per memo key (see the module docstring). ``build`` returns
    ``(state, frames)`` where ``frames`` are the persisted frames the
    state holds; the memo owns and eventually unpersists them."""
    key = _memo_key(df, tag)
    if key is not None:
        with _MEMO_LOCK:
            hit = _MEMO.get(key)
            if hit is not None and hit[0].sameSemantics(df):
                _MEMO.move_to_end(key)
                return hit[1]
    state, frames = build()
    if key is None:
        for f in frames:
            track(f)
        return state
    dropped = []
    with _MEMO_LOCK:
        stale = _MEMO.pop(key, None)  # a semantic-hash collision or a racing build
        if stale is not None:
            dropped += stale[2]
        _MEMO[key] = (df, state, frames)
        while len(_MEMO) > _MEMO_SIZE:
            dropped += _MEMO.popitem(last=False)[1][2]
    _unpersist(dropped)
    return state
