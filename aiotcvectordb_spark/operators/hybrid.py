"""Hybrid dense+sparse search with rank fusion — op 32.

Semantics (reference: aiotcvectordb/client/stub.py:737-780,
aiotcvectordb/model/collection.py:316-401): run a dense ANN leg and a
sparse keyword leg together, fuse with a pluggable rerank —
RRF (score = Σ 1/(k + rank_leg)) or Weighted (score = Σ w_leg ·
normalized_score_leg) — then apply filter/limit/projection.

Plan: both legs produce (query_idx, id, rank, score); fusion is a
full-outer join on (query_idx, id) — docs present in only one leg get no
contribution from the other (RRF) or 0 (weighted) — then a final
per-query window top-k. Legs are independent jobs; the fusion join is
tiny (≤ legs × fetch_k rows per query) so it broadcasts.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from aiotcvectordb_spark.operators import fulltext, knn

RRF_DEFAULT_K = 60


def rrf_fuse(
    legs: Sequence[DataFrame],
    *,
    id_col: str,
    k: int = RRF_DEFAULT_K,
    limit: int = 10,
) -> DataFrame:
    """Reciprocal-rank fusion of leg DataFrames, each with
    (query_idx, id_col, rank). Output: (query_idx, id, score, rank)."""
    contribs = [
        leg.select(
            "query_idx",
            F.col(id_col),
            (1.0 / (F.lit(float(k)) + F.col("rank"))).alias("__contrib"),
        )
        for leg in legs
    ]
    unioned = contribs[0]
    for c in contribs[1:]:
        unioned = unioned.unionByName(c)
    fused = unioned.groupBy("query_idx", id_col).agg(
        F.sum("__contrib").alias("score")
    )
    w = Window.partitionBy("query_idx").orderBy(
        F.col("score").desc(), F.col(id_col).asc()
    )
    return fused.withColumn("rank", F.row_number().over(w)).filter(
        F.col("rank") <= limit
    )


def weighted_fuse(
    legs: Sequence[DataFrame],
    weights: Sequence[float],
    *,
    id_col: str,
    limit: int = 10,
) -> DataFrame:
    """Weighted fusion: min-max normalize each leg's score within each
    query, then weighted sum (absent leg contributes 0)."""
    normed = []
    for leg, wgt in zip(legs, weights):
        wq = Window.partitionBy("query_idx")
        ln = leg.withColumn("__mx", F.max("score").over(wq)).withColumn(
            "__mn", F.min("score").over(wq)
        )
        ln = ln.select(
            "query_idx",
            F.col(id_col),
            (
                F.lit(float(wgt))
                * F.when(
                    F.col("__mx") > F.col("__mn"),
                    (F.col("score") - F.col("__mn"))
                    / (F.col("__mx") - F.col("__mn")),
                ).otherwise(F.lit(1.0))
            ).alias("__contrib"),
        )
        normed.append(ln)
    unioned = normed[0]
    for c in normed[1:]:
        unioned = unioned.unionByName(c)
    fused = unioned.groupBy("query_idx", id_col).agg(
        F.sum("__contrib").alias("score")
    )
    w = Window.partitionBy("query_idx").orderBy(
        F.col("score").desc(), F.col(id_col).asc()
    )
    return fused.withColumn("rank", F.row_number().over(w)).filter(
        F.col("rank") <= limit
    )


def hybrid_search_df(
    df: DataFrame,
    *,
    ann_vectors: Sequence[Sequence[float]] | None,
    match_text: str | None,
    id_col: str = "id",
    vector_col: str = "vector",
    text_col: str = "text",
    metric: str = "COSINE",
    rerank: dict | None = None,
    limit: int = 10,
    fetch_k: int | None = None,
    filter: str | None = None,
    output_fields: Sequence[str] | None = None,
    round_digits: int | None = None,
    postings: DataFrame | None = None,
) -> DataFrame:
    """rerank: {'type': 'rrf', 'k': 60} or
    {'type': 'weighted', 'weights': [w_dense, w_sparse]}
    (reference stub.py:759 — RRFRerank / WeightedRerank).

    ``postings``: prebuilt sparse index of the whole ``df`` for the
    match leg; like ``fulltext_search_df``, the leg uses it only when
    ``filter`` is None and otherwise derives postings from the filtered
    df.
    """
    if ann_vectors is None and match_text is None:
        raise ValueError("hybrid_search needs an ann and/or match leg")
    rerank = rerank or {"type": "rrf", "k": RRF_DEFAULT_K}
    fetch_k = fetch_k or max(limit * 4, 40)
    scoped = df.filter(filter) if filter else df

    legs = []
    if ann_vectors is not None:
        dense = knn.knn_search(
            scoped,
            ann_vectors,
            vector_col=vector_col,
            id_col=id_col,
            metric=metric,
            limit=fetch_k,
            round_digits=round_digits,
        ).select("query_idx", id_col, "rank", "score")
        legs.append(dense)
    if match_text is not None:
        sparse = (
            fulltext.fulltext_search_df(
                df,
                match_text,
                id_col=id_col,
                text_col=text_col,
                limit=fetch_k,
                filter=filter,
                round_digits=round_digits,
                postings=postings,
            )
            .withColumn("query_idx", F.lit(0))
            .select("query_idx", id_col, "rank", "score")
        )
        legs.append(sparse)

    if rerank.get("type") == "weighted":
        fused = weighted_fuse(
            legs, rerank["weights"], id_col=id_col, limit=limit
        )
    else:
        fused = rrf_fuse(
            legs, id_col=id_col, k=rerank.get("k", RRF_DEFAULT_K), limit=limit
        )
    if round_digits is not None:
        fused = fused.withColumn("score", F.round(F.col("score"), round_digits))
    if output_fields:
        fused = fused.join(
            scoped.select(id_col, *output_fields), id_col, "left"
        )
    return fused.select("query_idx", id_col, "score", "rank", *(output_fields or []))
