"""Full-text (BM25) search — op 33 of the reference surface.

Semantics (reference: aiotcvectordb/client/stub.py:782-826,
aiotcvectordb/model/collection.py:403-467): score documents against a
text query by summed BM25 term weights over the sparse index; knobs
``cutoff_frequency`` (ignore terms whose document frequency exceeds the
cap — stub.py:809-810) and ``terminate_after`` (cap on scanned candidate
postings, recommended 4000 — stub.py:807-808). Single query in, single
ranked list out (collection.py:467).

Plan: postings(term, doc, weight) join broadcast(query terms) →
groupBy(doc).sum(weight) → top-k. The join is a broadcast hash join (the
query has a handful of terms) and the aggregation is map-side partial —
no full-corpus shuffle.

A prebuilt ``postings`` index is used only when the call has no
``filter``: it covers the whole corpus, so a filtered call derives
postings (and the BM25 statistics) from the filtered frame instead.
The engine passes the postings of the committed snapshot, persisted
once per version, when the call has no filter and the collection no
enabled TTL (``VectorDBEngine._text_corpus``); the registry persists
one index per table (``qfam.vector.sparse_index``). At 100 TB the
postings table is the thing you persist once (bucketed by term_id) and
reuse per query.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from aiotcvectordb_spark.functions.sparse import build_postings, _TOKENS_FOR_QUERY


def fulltext_search_df(
    df: DataFrame,
    query_text: str,
    *,
    id_col: str = "id",
    text_col: str = "text",
    limit: int = 10,
    filter: str | None = None,
    cutoff_frequency: float | None = None,
    terminate_after: int | None = None,
    output_fields: list[str] | None = None,
    round_digits: int | None = None,
    postings: DataFrame | None = None,
) -> DataFrame:
    """Returns (id, score, rank[, output_fields...]) ordered by BM25 desc.

    ``postings`` may be passed pre-built for the whole of ``df`` (the
    persisted-index path); it is used only when ``filter`` is None, and
    otherwise derived from the filtered ``df`` on the fly.
    """
    if filter:
        df = df.filter(filter)
        postings = None
    if postings is None:
        postings, _ = build_postings(df, id_col=id_col, text_col=text_col)

    q_tokens = _TOKENS_FOR_QUERY(query_text)
    if not q_tokens:
        return df.sparkSession.createDataFrame(
            [], f"{id_col} long, score double, rank int"
        )
    spark = df.sparkSession
    qdf = spark.createDataFrame([(t,) for t in set(q_tokens)], "token string")

    cand = postings.join(F.broadcast(qdf), "token")
    if cutoff_frequency is not None:
        # drop terms more frequent than the cap (absolute count if >=1,
        # fraction of corpus if <1 — reference stub.py:809-816 semantics)
        if cutoff_frequency >= 1:
            cand = cand.filter(F.col("df") <= cutoff_frequency)
        elif "n_docs" in cand.columns:
            # corpus size is a postings column (broadcast constant from
            # build_postings) — the fractional cutoff stays lazy, no
            # extra count job per query.
            cand = cand.filter(
                F.col("df") <= cutoff_frequency * F.col("n_docs")
            )
        else:
            # pre-built postings from an older schema without n_docs
            n_docs = df.count()
            cand = cand.filter(F.col("df") <= cutoff_frequency * n_docs)
    if terminate_after is not None:
        # early-termination analog: cap candidate postings deterministically
        # (highest-weight postings first so the approximation is best-effort)
        cand = cand.orderBy(F.col("weight").desc(), F.col(id_col).asc()).limit(
            terminate_after
        )

    scored = cand.groupBy(id_col).agg(F.sum("weight").alias("score"))
    score_col = (
        F.col("score") if round_digits is None else F.round(F.col("score"), round_digits)
    )
    # Global top-k: sort+limit compiles to TakeOrderedAndProject (local
    # per-partition top-k, driver merge — no single-partition window over
    # the full corpus); the rank window then runs over <= limit rows.
    topk = scored.orderBy(score_col.desc(), F.col(id_col).asc()).limit(limit)
    w = Window.orderBy(score_col.desc(), F.col(id_col).asc())
    out = topk.withColumn("rank", F.row_number().over(w))
    if round_digits is not None:
        out = out.withColumn("score", F.round(F.col("score"), round_digits))
    if output_fields:
        out = out.join(df.select(id_col, *output_fields), id_col, "left")
    return out.select(
        id_col, "score", "rank", *(output_fields or [])
    )


def build_positional_postings(
    df: DataFrame, *, id_col: str = "id", text_col: str = "text"
) -> DataFrame:
    """(token, <id>, pos): one row per token OCCURRENCE with its
    0-based position in the CJK-aware token stream — the positional
    index phrase queries join against. One posexplode in the scan
    projection; persist this bucketed by token at serving scale
    (the same persist-once story as the BM25 postings)."""
    from aiotcvectordb_spark.functions.sparse import bm25_tokens_col

    return df.select(
        F.col(id_col),
        F.posexplode(bm25_tokens_col(text_col)).alias("pos", "token"),
    ).select("token", id_col, "pos")


def phrase_search_postings(
    df: DataFrame,
    phrase: str,
    *,
    id_col: str = "id",
    text_col: str = "text",
    limit: int = 10,
    postings: DataFrame | None = None,
) -> DataFrame:
    """Exact-phrase search over a POSITIONAL postings index — the
    serving-scale twin of the scan-side sliding-window fold
    (queries.q_fulltext_phrase, whose output this is pinned equal to
    in tests/test_search_text_fulltext_hybrid.py): filter the index to
    the phrase's m tokens (broadcast semi-join — at scale, partition
    pruning on a token-bucketed table), then an (m-1)-way
    (<id>, pos + i) equi-join chains adjacent occurrences; every join
    is keyed, no token's full postings list ever crosses a cartesian.
    Returns (<id>, phrase_count, rank), ranked
    (phrase_count DESC, <id> ASC) — identical tie rule to the scan
    form."""
    from aiotcvectordb_spark.functions.sparse import _TOKENS_FOR_QUERY

    toks = _TOKENS_FOR_QUERY(phrase)
    if not toks:
        # the id keeps its source type (string primary keys per the
        # reference data model) so the empty frame's schema matches the
        # non-empty path — the embeddings.mmr_rerank rule
        from pyspark.sql import types as T

        schema = T.StructType(
            [
                T.StructField(id_col, df.schema[id_col].dataType),
                T.StructField("phrase_count", T.IntegerType()),
                T.StructField("rank", T.IntegerType()),
            ]
        )
        return df.sparkSession.createDataFrame([], schema)
    if postings is None:
        postings = build_positional_postings(
            df, id_col=id_col, text_col=text_col
        )
    chain = (
        postings.filter(F.col("token") == toks[0])
        .select(id_col, F.col("pos").alias("p0"))
    )
    for i, t in enumerate(toks[1:], start=1):
        nxt = postings.filter(F.col("token") == t).select(
            id_col, (F.col("pos") - i).alias("p0")
        )
        chain = chain.join(nxt, [id_col, "p0"])
    hits = (
        chain.groupBy(id_col)
        .agg(F.count("*").cast("int").alias("phrase_count"))
        .orderBy(F.col("phrase_count").desc(), F.col(id_col).asc())
        .limit(limit)
    )
    w = Window.orderBy(F.col("phrase_count").desc(), F.col(id_col).asc())
    return hits.withColumn("rank", F.row_number().over(w).cast("int"))
