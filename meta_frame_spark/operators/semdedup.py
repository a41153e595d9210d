"""Semantic deduplication over an embedding column (SemDeDup-style).

Not in the reference (SURVEY.md §2 — no vector surface at all); this
is the embedding-space counterpart of MinHash near-dup (Abbas et al.,
"SemDeDup", arXiv:2303.09540): cluster the corpus with a coarse
k-means quantizer, then *within each cluster* drop every vector whose
cosine similarity to an already-kept lower-id vector exceeds the
threshold. Cross-cluster duplicates are missed by construction — the
recall/cost knob is ``n_clusters`` (more clusters = cheaper + lower
recall), exactly the paper's trade.

Scale design (10⁹+ vectors):

* quantizer fit is driver-side on a BOUNDED id-hash-ordered sample
  (``similarity._fit_quantizer`` — the FAISS training recipe);
* cell assignment is one Arrow-batched map, no shuffle; fit and
  assignment come from ``similarity._quantized_corpus``, so the
  persisted ``(_id, v, cell)`` frame is shared with ``ivf_topk`` and
  reused across calls on an unchanged corpus;
* the only shuffle is the groupBy(cell) feeding ``applyInPandas``;
  within a cluster the work is one normalize + one n×n matmul. Cluster
  sizes are corpus/n_clusters on average — size ``n_clusters`` so
  clusters stay ≤ ~10k vectors (paper uses corpus/n ≈ 1-10k); a
  pathological mega-cluster is bounded by ``max_cell_size``, which
  re-splits ONLY the oversized cell by id-hash (documented recall
  trade — see :func:`semantic_dedup`), with raising ``n_clusters``
  as the global knob.

Determinism: seeded quantizer + hash-ordered training sample + greedy
scan in ascending id order — identical output on any partitioning.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from meta_frame_spark.operators.similarity import _quantized_corpus

_OUT_SCHEMA = T.StructType(
    [
        T.StructField("vec_id", T.LongType()),
        T.StructField("cell", T.IntegerType()),
        T.StructField("is_kept", T.BooleanType()),
        T.StructField("dup_of", T.LongType()),
        T.StructField("cosine", T.DoubleType()),
    ]
)


def semantic_dedup(
    df: DataFrame,
    threshold: float = 0.95,
    n_clusters: int = 32,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    seed: int = 42,
    fit_fraction: float | None = None,
    max_cell_size: int | None = None,
) -> DataFrame:
    """Flag semantic duplicates: one output row per input vector with
    ``is_kept``, and for dropped vectors the kept ``dup_of`` id and the
    ``cosine`` that condemned them.

    Keep rule (deterministic greedy): scan each cluster in ascending
    id; a vector is kept iff its cosine to every *already-kept* vector
    of the cluster is below ``threshold``. Join survivors back with
    ``df.join(out.filter("is_kept"), id_col, "left_semi")``.

    ``max_cell_size`` guards the skewed-cell failure mode: one
    mega-cell makes a single task O(cell²) in time and O(cell·dim) in
    memory. When set, any cell whose count exceeds the cap is
    re-split deterministically by ``hash(id) % ceil(count/cap)`` and
    each sub-split pruned independently — pairs straddling sub-splits
    are no longer compared, the same recall trade as raising
    ``n_clusters``, but applied only to the pathological cell. The
    per-cell counts this needs are one extra bounded aggregate
    (≤ ``n_clusters`` rows collected).
    """
    if not 0.0 < threshold <= 1.0:
        raise ValueError(f"threshold must be in (0, 1], got {threshold}")
    if max_cell_size is not None and max_cell_size < 1:
        raise ValueError(f"max_cell_size must be >= 1, got {max_cell_size}")
    _, assigned = _quantized_corpus(
        df, id_col, vec_col, n_clusters, seed, fit_fraction
    )

    group_keys = ["cell"]
    if max_cell_size is not None:
        sizes = {
            r["cell"]: r["n"]
            for r in assigned.groupBy("cell").agg(F.count(F.lit(1)).alias("n")).collect()
        }
        splits = {
            c: -(-n // max_cell_size) for c, n in sizes.items() if n > max_cell_size
        }
        if splits:
            fanout = F.create_map(
                *[F.lit(x) for kv in splits.items() for x in kv]
            )
            assigned = assigned.withColumn(
                "_salt",
                F.coalesce(
                    F.pmod(F.xxhash64("_id"), fanout[F.col("cell")]), F.lit(0)
                ).cast("int"),
            )
            group_keys = ["cell", "_salt"]

    def prune(pdf: pd.DataFrame) -> pd.DataFrame:
        pdf = pdf.sort_values("_id").reset_index(drop=True)
        n = len(pdf)
        ids = pdf["_id"].to_numpy()
        cell = int(pdf["cell"].iloc[0])
        M = np.stack([np.asarray(v, dtype=np.float64) for v in pdf["v"]])
        norms = np.linalg.norm(M, axis=1, keepdims=True)
        with np.errstate(divide="ignore", invalid="ignore"):
            M = np.where(norms > 0, M / norms, 0.0)
        # preallocated kept-matrix: the scan is inherently sequential
        # (keep decisions depend on earlier keeps) but each step is one
        # (kept × d) matvec against a stable buffer — no per-step copy
        K = np.empty_like(M)
        kept_ids = np.empty(n, dtype=np.int64)
        kk = 0
        dup_of = np.full(n, np.nan)
        cosine = np.full(n, np.nan)
        for i in range(n):
            if kk:
                sims = K[:kk] @ M[i]
                j = int(np.argmax(sims))
                if sims[j] >= threshold:
                    dup_of[i] = kept_ids[j]
                    cosine[i] = sims[j]
                    continue
            K[kk] = M[i]
            kept_ids[kk] = ids[i]
            kk += 1
        is_kept = np.isnan(dup_of)
        return pd.DataFrame(
            {
                "vec_id": ids,
                "cell": cell,
                "is_kept": is_kept,
                "dup_of": pd.array(
                    [None if k else int(d) for k, d in zip(is_kept, dup_of)],
                    dtype="Int64",
                ),
                "cosine": [None if k else c for k, c in zip(is_kept, cosine)],
            }
        )

    return assigned.groupBy(*group_keys).applyInPandas(prune, _OUT_SCHEMA)
