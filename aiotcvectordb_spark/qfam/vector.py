"""SURVEY §2.2-2.5: vector search, filtered reads, writes, full-text/sparse/hybrid.

Split out of queries.py in r12 (mechanical, order-preserving); see queries.py for the registry."""

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from aiotcvectordb_spark.engine import delete_rows, update_dataframe, upsert_dataframes
from aiotcvectordb_spark.operators import fulltext, hybrid, knn
from aiotcvectordb_spark.functions import sparse as sparse_fn
from aiotcvectordb_spark.qfam.core import (
    DIM,
    ROUND_DIGITS,
    _BM25_TOKS_SQL,
    _COS_SQL,
    _IP_SQL,
    _L2_SQL,
    _duck_bm25_toks_sql,
    _knn_oracle,
    _sql_queries_cte,
    _sql_vec,
    load,
    load_wide,
    qvec,
)

# --------------------------------------------------------------------------
# §2.5 vector search (ops 28-31)
# --------------------------------------------------------------------------

FLAGSHIP_VECTORS = [qvec(1.0), qvec(2.0)]


def q_search_flat_cosine(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Op 28, FLAT COSINE: batch-of-2 filtered exact kNN top-10."""
    df = load(spark, sf_dir, "embeddings")
    return knn.knn_search(
        df,
        FLAGSHIP_VECTORS,
        vector_col="embedding",
        id_col="vec_id",
        metric="COSINE",
        limit=10,
        filter="label IN (1, 2)",
        output_fields=["label"],
        round_digits=ROUND_DIGITS,
    ).select("query_idx", "vec_id", "score", "rank", "label")


ORACLE_SEARCH_FLAT_COSINE = _knn_oracle(
    FLAGSHIP_VECTORS, _COS_SQL, desc=True, limit=10,
    where="WHERE e.label IN (1, 2)",
)


def q_search_grouped(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Grouped (diversify-by-field) vector search (r9,
    operators/knn.grouped_knn_search): for each query, the top-5
    LABELS ranked by their best-matching vector, one representative
    per label — the group_by search mode that keeps a result page
    from being k near-duplicates of one document. The per-group
    representative is a lexicographic struct-min aggregate (map-side
    partials reduce each scan task to <= Q x labels rows before the
    keyed shuffle — never a corpus-wide window); the group ranking
    window then sees <= labels rows per query."""
    df = load(spark, sf_dir, "embeddings")
    return knn.grouped_knn_search(
        df,
        FLAGSHIP_VECTORS,
        vector_col="embedding",
        id_col="vec_id",
        group_col="label",
        metric="COSINE",
        groups=5,
        round_digits=ROUND_DIGITS,
    )


ORACLE_SEARCH_GROUPED = f"""
WITH {_sql_queries_cte(FLAGSHIP_VECTORS)},
scored AS (
  SELECT q.query_idx, e.label, e.vec_id, round({_COS_SQL}, {ROUND_DIGITS}) AS s
  FROM embeddings e CROSS JOIN queries q
),
rep AS (
  SELECT query_idx, label, vec_id, s
  FROM scored
  QUALIFY row_number() OVER (PARTITION BY query_idx, label
          ORDER BY s DESC, vec_id) = 1
)
SELECT query_idx, label, vec_id, s AS score,
       CAST(row_number() OVER (PARTITION BY query_idx
            ORDER BY s DESC, label) AS INT) AS group_rank
FROM rep
QUALIFY group_rank <= 5
"""


_N_BIN_BYTES = DIM // 8


def _binarize_spark_expr(vec: str) -> str:
    """Sign-bit pack: byte_j's bit k = (vec[8j+k] > 0) — dim floats to
    dim/8 bytes, pure SQL."""
    bytes_ = []
    for j in range(_N_BIN_BYTES):
        bits = " + ".join(
            f"(case when cast({vec}[{8 * j + k}] as double) > 0 then {1 << k} else 0 end)"
            for k in range(8)
        )
        bytes_.append(f"({bits})")
    return f"array({', '.join(bytes_)})"


def _binarize_py(v: list[float]) -> list[float]:
    out = []
    for j in range(len(v) // 8):
        b = 0
        for k in range(8):
            if v[8 * j + k] > 0:
                b |= 1 << k
        out.append(float(b))
    return out


def q_search_binary_hamming(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BIN_FLAT (vendor index type for binary vectors): embeddings are
    sign-bit packed to dim/8 bytes (the classic random-hyperplane-style
    binary sketch) and ranked by HAMMING distance — popcount of the
    per-byte XOR, fully inside whole-stage codegen
    (functions/vector.hamming_score_fixed). 32x less vector I/O than
    float32 at 100 TB, and the distance is integral so the oracle hash
    is exact."""
    emb = load(spark, sf_dir, "embeddings")
    bin_df = emb.select(
        "vec_id", F.expr(_binarize_spark_expr("embedding")).alias("bvec")
    )
    qb = [_binarize_py(qvec(1.0)), _binarize_py(qvec(-1.0))]
    return knn.knn_search(
        bin_df,
        qb,
        vector_col="bvec",
        id_col="vec_id",
        metric="HAMMING",
        limit=10,
        round_digits=ROUND_DIGITS,
    ).select("query_idx", "vec_id", "score", "rank")


def _bin_byte_sql(j: int) -> str:
    bits = " + ".join(
        f"(CASE WHEN CAST(e.embedding[{8 * j + k + 1}] AS DOUBLE) > 0 THEN {1 << k} ELSE 0 END)"
        for k in range(8)
    )
    return f"({bits})"


ORACLE_SEARCH_BINARY_HAMMING = f"""
WITH queries(query_idx, qv) AS (VALUES {", ".join(
    f"({i}, [{', '.join(str(int(b)) for b in v)}]::INT[])"
    for i, v in enumerate([_binarize_py(qvec(1.0)), _binarize_py(qvec(-1.0))])
)}),
scored AS (
  SELECT q.query_idx, e.vec_id,
         CAST({" + ".join(f"bit_count(xor({_bin_byte_sql(j)}, q.qv[{j + 1}]))" for j in range(_N_BIN_BYTES))} AS DOUBLE) AS s
  FROM embeddings e CROSS JOIN queries q
)
SELECT query_idx, vec_id, round(s, {ROUND_DIGITS}) AS score,
       CAST(row_number() OVER (PARTITION BY query_idx
            ORDER BY round(s, {ROUND_DIGITS}) ASC, vec_id) AS INT) AS rank
FROM scored
QUALIFY rank <= 10
ORDER BY query_idx, rank
"""


def q_search_flat_cosine_local_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Op 28 via the bounded-shuffle scale path: identical semantics to
    `search_flat_cosine` but ``strategy="local_topk"`` — a per-partition
    numpy top-k (mapInPandas) emits <= partitions x Q x k rows into the
    final window instead of N x Q, the plan that survives a 1000-executor
    100 TB scan (knn.py _local_topk_candidates). Driver-checked against
    the SAME oracle so the scale path is hash-verified every round."""
    df = load(spark, sf_dir, "embeddings")
    return knn.knn_search(
        df,
        FLAGSHIP_VECTORS,
        vector_col="embedding",
        id_col="vec_id",
        metric="COSINE",
        limit=10,
        filter="label IN (1, 2)",
        output_fields=["label"],
        round_digits=ROUND_DIGITS,
        strategy="local_topk",
    ).select("query_idx", "vec_id", "score", "rank", "label")

def q_search_udtf_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Op 28 via the SQL table-function surface: the same exact COSINE
    top-10 as `search_flat_cosine`, but expressed as ONE SQL statement
    through the `topk_by_score` Python UDTF (two-phase bounded-shuffle
    selection — k per hash partition, then a single-partition merge of
    parts*k survivors). Scores are rounded before selection so the
    (score, id) rank order is engine-exact."""
    from aiotcvectordb_spark.functions.topk_udtf import (
        knn_topk_sql,
        register_topk_udtf,
    )
    from aiotcvectordb_spark.functions.vector import register_sql_functions

    register_sql_functions(spark)
    register_topk_udtf(spark)
    load(spark, sf_dir, "embeddings").createOrReplaceTempView("embeddings_for_udtf")
    sql = knn_topk_sql(
        "embeddings_for_udtf",
        qvec(1.0),
        metric="COSINE",
        k=10,
        parts=32,
        round_digits=ROUND_DIGITS,
    )
    return spark.sql(sql).select(F.col("id").alias("vec_id"), "score")


ORACLE_SEARCH_UDTF_TOPK = f"""
WITH q AS (SELECT {_sql_vec(qvec(1.0))} AS qv),
scored AS (
  SELECT e.vec_id, round({_COS_SQL}, {ROUND_DIGITS}) AS score
  FROM embeddings e CROSS JOIN q
)
SELECT vec_id, score FROM scored ORDER BY score DESC, vec_id LIMIT 10
"""


_L2_VECTORS = [qvec(3.0)]


def q_search_flat_l2(spark: SparkSession, sf_dir: str) -> DataFrame:
    df = load(spark, sf_dir, "embeddings")
    return knn.knn_search(
        df,
        _L2_VECTORS,
        vector_col="embedding",
        id_col="vec_id",
        metric="L2",
        limit=5,
        output_fields=["label"],
        round_digits=ROUND_DIGITS,
    ).select("query_idx", "vec_id", "score", "rank", "label")


ORACLE_SEARCH_FLAT_L2 = _knn_oracle(_L2_VECTORS, _L2_SQL, desc=False, limit=5)

_IP_VECTORS = [qvec(4.0)]


def q_search_flat_ip(spark: SparkSession, sf_dir: str) -> DataFrame:
    df = load(spark, sf_dir, "embeddings")
    return knn.knn_search(
        df,
        _IP_VECTORS,
        vector_col="embedding",
        id_col="vec_id",
        metric="IP",
        limit=5,
        filter="label = 0",
        output_fields=["label"],
        round_digits=ROUND_DIGITS,
    ).select("query_idx", "vec_id", "score", "rank", "label")


ORACLE_SEARCH_FLAT_IP = _knn_oracle(
    _IP_VECTORS, _IP_SQL, desc=True, limit=5, where="WHERE e.label = 0"
)

_RADIUS_VECTORS = [qvec(5.0)]
_RADIUS = 0.05


def q_search_radius(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Op 31: radius threshold (COSINE: keep score >= r) + top-k."""
    df = load(spark, sf_dir, "embeddings")
    return knn.knn_search(
        df,
        _RADIUS_VECTORS,
        vector_col="embedding",
        id_col="vec_id",
        metric="COSINE",
        limit=100,
        radius=_RADIUS,
        output_fields=["label"],
        round_digits=ROUND_DIGITS,
    ).select("query_idx", "vec_id", "score", "rank", "label")


ORACLE_SEARCH_RADIUS = _knn_oracle(
    _RADIUS_VECTORS, _COS_SQL, desc=True, limit=100,
    radius_sql=f"s >= {_RADIUS}",
)

_BYID_IDS = [7, 11]


def q_search_by_id(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Op 29: query vectors looked up from stored rows; top-1 is self."""
    df = load(spark, sf_dir, "embeddings")
    return knn.search_by_id(
        df,
        _BYID_IDS,
        vector_col="embedding",
        id_col="vec_id",
        metric="COSINE",
        limit=5,
        output_fields=["label"],
        round_digits=ROUND_DIGITS,
    ).select("query_idx", "vec_id", "score", "rank", "label")


ORACLE_SEARCH_BY_ID = f"""
WITH queries AS (
  SELECT 0 AS query_idx, CAST(embedding AS DOUBLE[]) AS qv FROM embeddings WHERE vec_id = {_BYID_IDS[0]}
  UNION ALL
  SELECT 1, CAST(embedding AS DOUBLE[]) FROM embeddings WHERE vec_id = {_BYID_IDS[1]}
),
scored AS (
  SELECT q.query_idx, e.vec_id, e.label, {_COS_SQL} AS s
  FROM embeddings e CROSS JOIN queries q
)
SELECT query_idx, vec_id, round(s, {ROUND_DIGITS}) AS score,
       CAST(row_number() OVER (PARTITION BY query_idx
            ORDER BY round(s, {ROUND_DIGITS}) DESC, vec_id) AS INT) AS rank, label
FROM scored QUALIFY rank <= 5 ORDER BY query_idx, rank
"""


def q_knn_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Similarity join (north star): for each probe (vec_id < 3), its
    top-3 cosine neighbors among label = 0 rows."""
    emb = load(spark, sf_dir, "embeddings")
    probes = emb.filter("vec_id < 3").select(
        F.col("vec_id").alias("query_id"), F.col("embedding")
    )
    cands = emb.filter("label = 0")
    return (
        knn.knn_join(
            probes,
            cands,
            left_vec="embedding",
            right_vec="embedding",
            left_id="query_id",
            right_id="vec_id",
            metric="COSINE",
            k=3,
            round_digits=ROUND_DIGITS,
            dim=DIM,
        )
        .select(
            "query_id", "vec_id", "score",
            F.col("rank").cast("int").alias("rank"), "label",
        )
    )


ORACLE_KNN_JOIN = f"""
WITH probes AS (SELECT vec_id AS query_id, CAST(embedding AS DOUBLE[]) AS qv
                FROM embeddings WHERE vec_id < 3),
scored AS (
  SELECT p.query_id, e.vec_id, e.label,
         COALESCE(list_dot_product(CAST(e.embedding AS DOUBLE[]), p.qv)
         / NULLIF(sqrt(list_dot_product(CAST(e.embedding AS DOUBLE[]), CAST(e.embedding AS DOUBLE[])))
            * sqrt(list_dot_product(p.qv, p.qv)), 0), 0.0) AS s
  FROM embeddings e CROSS JOIN probes p WHERE e.label = 0
)
SELECT query_id, vec_id, round(s, {ROUND_DIGITS}) AS score,
       CAST(row_number() OVER (PARTITION BY query_id
            ORDER BY round(s, {ROUND_DIGITS}) DESC, vec_id) AS INT) AS rank, label
FROM scored QUALIFY rank <= 3 ORDER BY query_id, rank
"""


# --------------------------------------------------------------------------
# §2.3 filtered reads (ops 23-27)
# --------------------------------------------------------------------------


# events.ts is TIMESTAMP(NANOS) in parquet; Spark (nanosAsLong) sees a
# long of epoch-nanoseconds, DuckDB sees a timestamp — both sides surface
# it as exact integer epoch-seconds.
_TS_EPOCH_SPARK = "CAST(ts DIV 1000000000 AS BIGINT)"
_TS_EPOCH_SQL = "epoch_ns(ts) // 1000000000"


def q_query_filter_sort_paginate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ops 23/26/27: filter -> sort (asc, id tiebreak) -> offset/limit ->
    project. Timestamps surfaced as epoch seconds for engine parity."""
    df = load(spark, sf_dir, "events")
    return (
        df.filter("event_type = 'click' AND value > 10")
        .orderBy(F.col("ts").asc(), F.col("event_id").asc())
        .offset(20)
        .limit(50)
        .select(
            "event_id",
            F.expr(_TS_EPOCH_SPARK).alias("ts_epoch"),
            "user_id",
            "value",
        )
    )


ORACLE_QUERY_FILTER_SORT_PAGINATE = f"""
SELECT event_id, {_TS_EPOCH_SQL} AS ts_epoch, user_id, value
FROM events
WHERE event_type = 'click' AND value > 10
ORDER BY ts, event_id LIMIT 50 OFFSET 20
"""

_QUERY_IDS = [1, 5, 9, 42, 137, 4242]


def q_query_by_ids(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Op 23: fetch by document_ids with projection."""
    df = load(spark, sf_dir, "events")
    return (
        df.filter(F.col("event_id").isin(_QUERY_IDS))
        .orderBy("event_id")
        .select("event_id", "event_type", "value")
    )


ORACLE_QUERY_BY_IDS = f"""
SELECT event_id, event_type, value FROM events
WHERE event_id IN ({", ".join(map(str, _QUERY_IDS))}) ORDER BY event_id
"""


def q_count_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Op 24: count with filter."""
    df = load(spark, sf_dir, "lineitem")
    return df.filter("l_discount > 0.05 AND l_quantity < 25").agg(
        F.count("*").alias("n")
    )


ORACLE_COUNT_FILTER = """
SELECT count(*) AS n FROM lineitem WHERE l_discount > 0.05 AND l_quantity < 25
"""


def q_query_projection(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Op 25: output_fields=[] -> only the id column comes back."""
    df = load(spark, sf_dir, "documents")
    return df.orderBy("doc_id").limit(20).select("doc_id")


ORACLE_QUERY_PROJECTION = "SELECT doc_id FROM documents ORDER BY doc_id LIMIT 20"


_TTL_CUTOFF = 1705708800  # 2024-01-20 00:00:00 UTC


def q_ttl_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Op 22: TTL read-time predicate — rows past the time field survive."""
    df = load(spark, sf_dir, "events")
    return (
        df.filter(F.expr(_TS_EPOCH_SPARK) > _TTL_CUTOFF)
        .select("event_id", F.expr(_TS_EPOCH_SPARK).alias("ts_epoch"))
    )


ORACLE_TTL_FILTER = f"""
SELECT event_id, {_TS_EPOCH_SQL} AS ts_epoch
FROM events WHERE {_TS_EPOCH_SQL} > {_TTL_CUTOFF}
"""


def q_json_extract(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dynamic-scalar-field access: JSON props column (schemaless docs)."""
    df = load(spark, sf_dir, "events")
    return (
        df.select(
            "event_id",
            F.get_json_object("props", "$.k").cast("long").alias("k_val"),
        )
        .filter("k_val >= 50")
    )


ORACLE_JSON_EXTRACT = """
SELECT event_id, CAST(json_extract_string(props, '$.k') AS BIGINT) AS k_val
FROM events WHERE CAST(json_extract_string(props, '$.k') AS BIGINT) >= 50
"""


# --------------------------------------------------------------------------
# §2.2 writes as pure transforms (ops 19-21)
# --------------------------------------------------------------------------


def _upsert_batch(spark: SparkSession) -> DataFrame:
    rows = [
        (i, f"updated doc {i}", "en", "upsert", len(f"updated doc {i}"))
        for i in range(10)
    ]
    return spark.createDataFrame(
        rows, "doc_id long, text string, lang string, source string, n_chars long"
    )


def q_upsert_merge(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Op 19: insert-or-replace — survivors (anti-join on pk) + new batch."""
    old = load(spark, sf_dir, "documents")
    return upsert_dataframes(old, _upsert_batch(spark), "doc_id").select(
        "doc_id", "text", "lang", "source", "n_chars"
    )


ORACLE_UPSERT_MERGE = """
WITH new AS (
  SELECT CAST(i AS BIGINT) AS doc_id, 'updated doc ' || i AS text,
         'en' AS lang, 'upsert' AS source,
         CAST(length('updated doc ' || i) AS BIGINT) AS n_chars
  FROM range(10) r(i)
)
SELECT doc_id, text, lang, source, n_chars FROM documents
WHERE doc_id NOT IN (SELECT doc_id FROM new)
UNION ALL
SELECT doc_id, text, lang, source, n_chars FROM new
"""


def q_update_conditional(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Op 20: partial update by filter — lang := 'unk' where source matches."""
    df = load(spark, sf_dir, "documents")
    updated = update_dataframe(
        df, F.col("source").isin("src0", "src1"), {"lang": "unk"}
    )
    return updated.select("doc_id", "lang", "source")


ORACLE_UPDATE_CONDITIONAL = """
SELECT doc_id,
       CASE WHEN source IN ('src0', 'src1') THEN 'unk' ELSE lang END AS lang,
       source
FROM documents
"""


def q_delete_filter_limit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Op 21: delete by filter with limit — victims chosen deterministically
    by pk order; returns the remaining rows."""
    df = load(spark, sf_dir, "events")
    remaining, _ = delete_rows(
        df, F.col("event_type") == "view", "event_id", limit=100
    )
    return remaining.select("event_id", "event_type")


ORACLE_DELETE_FILTER_LIMIT = """
SELECT event_id, event_type FROM events
WHERE event_id NOT IN (
  SELECT event_id FROM events WHERE event_type = 'view'
  ORDER BY event_id LIMIT 100
)
"""


# --------------------------------------------------------------------------
# §2.5 sparse / full-text (ops 33-34) and hybrid (op 32)
# --------------------------------------------------------------------------

_FT_QUERY = "spark join window"


# Persisted sparse index per (session, dataset) — the engine analog of
# the reference's PREBUILT SparseIndex (rebuild_index, stub.py:828-858):
# queries hit the index; only the first query per corpus pays the build.
# At cluster scale this persist becomes a bucketed-by-term_id parquet
# table written by the index job.
_SPARSE_INDEX_CACHE: dict[tuple[str, str], DataFrame] = {}


def sparse_index(spark: SparkSession, sf_dir: str) -> DataFrame:
    key = (spark.sparkContext.applicationId, sf_dir)
    if key not in _SPARSE_INDEX_CACHE:
        df = load_wide(spark, sf_dir, "documents")
        postings, _ = sparse_fn.build_postings(df, id_col="doc_id", text_col="text")
        _SPARSE_INDEX_CACHE[key] = postings.persist()
    return _SPARSE_INDEX_CACHE[key]


def q_fulltext_bm25(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Op 33: BM25 full-text search, top-10."""
    df = load_wide(spark, sf_dir, "documents")
    return fulltext.fulltext_search_df(
        df,
        _FT_QUERY,
        id_col="doc_id",
        text_col="text",
        limit=10,
        round_digits=ROUND_DIGITS,
        postings=sparse_index(spark, sf_dir),
    ).select("doc_id", "score", F.col("rank").cast("int").alias("rank"))


def _bm25_base_cte(relation: str = "documents") -> str:
    """CTE chain computing terms/stats/dfreq for the BM25 corpus model.

    Uses the CJK-aware tokenizer (_BM25_TOKS_SQL) to mirror
    sparse_fn.build_postings exactly."""
    return f"""
toks AS (SELECT doc_id, {_BM25_TOKS_SQL} AS ts FROM {relation}),
terms AS (
  SELECT doc_id, len(ts) AS dl, t.token AS token, count(*) AS tf
  FROM toks, unnest(ts) AS t(token)
  GROUP BY doc_id, len(ts), t.token
),
stats AS (
  SELECT count(*) AS n_docs, avg(dl) AS avgdl
  FROM (SELECT doc_id, any_value(dl) AS dl FROM terms GROUP BY doc_id)
),
dfreq AS (SELECT token, count(DISTINCT doc_id) AS df FROM terms GROUP BY token)"""


def _bm25_oracle_cte(relation: str = "documents", query_text: str = _FT_QUERY) -> str:
    """Full BM25 CTE chain computing scored(doc_id, s) for query_text."""
    qvals = ", ".join(
        f"('{t}')" for t in sorted(set(sparse_fn._TOKENS_FOR_QUERY(query_text)))
    )
    return f"""{_bm25_base_cte(relation)},
qterms(token) AS (VALUES {qvals}),
scored AS (
  SELECT terms.doc_id,
         sum(
           ln((stats.n_docs - dfreq.df + 0.5) / (dfreq.df + 0.5) + 1.0)
           * (terms.tf * (1.2 + 1)) /
             (terms.tf + 1.2 * (1 - 0.75 + 0.75 * terms.dl / stats.avgdl))
         ) AS s
  FROM terms
  JOIN dfreq USING (token)
  JOIN qterms USING (token)
  CROSS JOIN stats
  GROUP BY terms.doc_id
)"""


ORACLE_FULLTEXT_BM25 = f"""
WITH {_bm25_oracle_cte()}
SELECT doc_id, round(s, {ROUND_DIGITS}) AS score,
       CAST(row_number() OVER (ORDER BY round(s, {ROUND_DIGITS}) DESC, doc_id) AS INT) AS rank
FROM scored QUALIFY rank <= 10 ORDER BY rank
"""


_PHRASE_QUERY = "value table part"


def _phrase_count_col(toks: list[str], text_col: str = "text"):
    """Occurrences of the token phrase in ``text_col``'s CJK-aware
    token stream, as ONE scan-projection expression: the phrase occurs
    at token i iff the separator-joined stream contains
    sep·t1·sep·...·sep·tm·sep starting at i's separator, and a
    ZERO-WIDTH lookahead advances one char per attempt so OVERLAPPING
    occurrences ('a a' in 'a a a a' = 3) each count. One regexp_count
    over ONE array_join = the tokenizer is evaluated exactly once per
    row. (The first cut was an aggregate()-HOF sliding slice-equality
    fold referencing the token column from inside the lambda —
    CollapseProject inlined the tokenizer INTO the lambda body,
    re-running regexp_extract_all once per window position: 92× the
    runtime at the 100× probe. Single-reference formulations are the
    rule for expensive projections consumed by higher-order
    functions.)"""
    sep = "\x1f"
    needle = sep + sep.join(toks) + sep
    stream = F.concat(
        F.lit(sep),
        F.array_join(sparse_fn.bm25_tokens_col(text_col), sep),
        F.lit(sep),
    )
    return F.regexp_count(stream, F.lit("(?=\\Q" + needle + "\\E)")).cast(
        "int"
    )


def q_fulltext_phrase(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact-PHRASE full-text search (r9) — the adjacency-match mode
    BM25's bag-of-terms scoring cannot express: a document matches iff
    the query's tokens appear CONSECUTIVELY in its (CJK-aware) token
    stream, ranked by occurrence count. The counter is ONE map-only
    zero-width-lookahead ``regexp_count`` over the separator-joined
    ``bm25_tokens_col`` stream — a single-pass scan-projection
    expression (overlapping occurrences each count), so an ad-hoc
    phrase costs exactly one corpus
    scan with zero shuffle before the 10-row top-k. (With a persisted
    POSITIONAL postings index the same semantics become an m-way
    (doc, pos + i) equi-join — the serving-scale form; the scan form
    is the right plan when the phrase is ad hoc and the corpus is
    fresh.) Deterministic (phrase_count DESC, doc_id ASC) ranking."""
    cnt = _phrase_count_col(sparse_fn._TOKENS_FOR_QUERY(_PHRASE_QUERY))
    df = load_wide(spark, sf_dir, "documents")
    hits = (
        df.select("doc_id", cnt.alias("phrase_count"))
        .filter("phrase_count > 0")
        .orderBy(F.col("phrase_count").desc(), F.col("doc_id").asc())
        .limit(10)
    )
    w = Window.orderBy(F.col("phrase_count").desc(), F.col("doc_id").asc())
    return hits.withColumn("rank", F.row_number().over(w).cast("int"))


def _phrase_oracle() -> str:
    toks = sparse_fn._TOKENS_FOR_QUERY(_PHRASE_QUERY)
    m = len(toks)
    lit = "[" + ", ".join("'" + t.replace("'", "''") + "'" for t in toks) + "]"
    return f"""
WITH toks AS (SELECT doc_id, {_BM25_TOKS_SQL} AS ts FROM documents),
hits AS (
  SELECT doc_id,
         CAST(length(list_filter(range(1, greatest(len(ts) - {m} + 1, 1) + 1),
              i -> ts[i:i+{m - 1}] = {lit})) AS INTEGER) AS phrase_count
  FROM toks
)
SELECT doc_id, phrase_count,
       CAST(row_number() OVER (ORDER BY phrase_count DESC, doc_id) AS INT) AS rank
FROM hits
WHERE phrase_count > 0
QUALIFY rank <= 10
ORDER BY rank
"""


ORACLE_FULLTEXT_PHRASE = _phrase_oracle()

# Chinese-language fixture corpus for the CJK full-text path. The
# reference's flagship text test searches Chinese ("苹果" must rank the
# apple doc first — tests/test_documents/test_documents_search_text.py:
# 20-33, jieba-backed encoder); our CJK bigram tokenizer must do the
# same. Inline corpus so the query is self-contained and the DuckDB
# oracle sees byte-identical data via a VALUES CTE.
CJK_CORPUS: list[tuple[str, str]] = [
    ("c_apple", "苹果很好吃，我每天都吃一个大苹果"),
    ("c_banana", "香蕉是黄色的水果，猴子最爱吃香蕉"),
    ("c_grape", "葡萄可以用来酿酒，紫色的葡萄很甜"),
    ("c_mixed", "水果店里有苹果、香蕉和葡萄，还有 apple juice"),
    ("c_tech", "apple 手机和电脑都很贵，但是质量不错"),
    ("c_en", "the quick brown fox jumps over the lazy dog"),
    ("c_short", "茶"),
    ("c_punct", "！！！？？？"),
]
_CJK_QUERY = "苹果"


def q_fulltext_bm25_cjk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Op 33 on a Chinese corpus: BM25 full-text search with the CJK
    bigram tokenizer, top-5. Proves the sparse path handles the
    reference's home-turf language end-to-end (build_postings →
    fulltext_search_df, nothing special-cased)."""
    df = spark.createDataFrame(CJK_CORPUS, ["doc_id", "text"]).repartition(4)
    return fulltext.fulltext_search_df(
        df,
        _CJK_QUERY,
        id_col="doc_id",
        text_col="text",
        limit=5,
        round_digits=ROUND_DIGITS,
    ).select("doc_id", "score", F.col("rank").cast("int").alias("rank"))


def _cjk_oracle() -> str:
    corpus_vals = ",\n  ".join(
        "('" + i + "', '" + t.replace("'", "''") + "')" for i, t in CJK_CORPUS
    )
    return f"""
WITH corpus(doc_id, text) AS (VALUES
  {corpus_vals}
),
{_bm25_oracle_cte("corpus", _CJK_QUERY)}
SELECT doc_id, round(s, {ROUND_DIGITS}) AS score,
       CAST(row_number() OVER (ORDER BY round(s, {ROUND_DIGITS}) DESC, doc_id) AS INT) AS rank
FROM scored QUALIFY rank <= 5 ORDER BY rank
"""


ORACLE_FULLTEXT_BM25_CJK = _cjk_oracle()

_CJK_PHRASE = "大苹果"


def q_fulltext_phrase_cjk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact-phrase search on the Chinese corpus (r9): the phrase
    tokenizes to overlapping character BIGRAMS (大苹果 → [大苹, 苹果]),
    and bigram ADJACENCY in the document's token stream approximates
    character-substring containment — so the same separator-joined
    lookahead counter that serves latin phrases serves Chinese with
    zero special-casing (the fulltext_bm25_cjk precedent: one
    tokenizer, every lane). Known edge (r10, advisor): the token
    stream carries no segment-boundary sentinel, so a phrase's bigrams
    can chain across two ADJACENT CJK segments — '大苹, 苹果' yields
    [大苹, 苹果] and matches 大苹果 though the substring never appears
    in one segment; both engines share the behavior (parity holds) and
    tests/test_search_text_fulltext_hybrid.py pins the edge
    explicitly. Inline VALUES corpus, so the DuckDB twin sees
    byte-identical data."""
    toks = sparse_fn._TOKENS_FOR_QUERY(_CJK_PHRASE)
    df = spark.createDataFrame(CJK_CORPUS, ["doc_id", "text"]).repartition(4)
    hits = (
        df.select("doc_id", _phrase_count_col(toks).alias("phrase_count"))
        .filter("phrase_count > 0")
        .orderBy(F.col("phrase_count").desc(), F.col("doc_id").asc())
        .limit(5)
    )
    w = Window.orderBy(F.col("phrase_count").desc(), F.col("doc_id").asc())
    return hits.withColumn("rank", F.row_number().over(w).cast("int"))


def _cjk_phrase_oracle() -> str:
    toks = sparse_fn._TOKENS_FOR_QUERY(_CJK_PHRASE)
    m = len(toks)
    lit = "[" + ", ".join("'" + t.replace("'", "''") + "'" for t in toks) + "]"
    corpus_vals = ",\n  ".join(
        "('" + i + "', '" + t.replace("'", "''") + "')" for i, t in CJK_CORPUS
    )
    return f"""
WITH corpus(doc_id, text) AS (VALUES
  {corpus_vals}
),
toks AS (SELECT doc_id, {_duck_bm25_toks_sql("text")} AS ts FROM corpus),
hits AS (
  SELECT doc_id,
         CAST(length(list_filter(range(1, greatest(len(ts) - {m} + 1, 1) + 1),
              i -> ts[i:i+{m - 1}] = {lit})) AS INTEGER) AS phrase_count
  FROM toks
)
SELECT doc_id, phrase_count,
       CAST(row_number() OVER (ORDER BY phrase_count DESC, doc_id) AS INT) AS rank
FROM hits
WHERE phrase_count > 0
QUALIFY rank <= 5
ORDER BY rank
"""


ORACLE_FULLTEXT_PHRASE_CJK = _cjk_phrase_oracle()

_HYBRID_VEC = [qvec(3.5)]


def q_hybrid_rrf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Op 32: dense + sparse legs fused with RRF(k=60), top-10."""
    docs = load_wide(spark, sf_dir, "documents")
    emb = load(spark, sf_dir, "embeddings")
    base = docs.join(emb, docs.doc_id == emb.vec_id).select(
        "doc_id", "text", "embedding"
    )
    return hybrid.hybrid_search_df(
        base,
        ann_vectors=_HYBRID_VEC,
        match_text=_FT_QUERY,
        id_col="doc_id",
        vector_col="embedding",
        text_col="text",
        metric="COSINE",
        rerank={"type": "rrf", "k": 60},
        limit=10,
        fetch_k=40,
        round_digits=ROUND_DIGITS,
        postings=sparse_index(spark, sf_dir),
    ).select(
        "query_idx", "doc_id", "score", F.col("rank").cast("int").alias("rank")
    )


ORACLE_HYBRID_RRF = f"""
WITH base AS (
  SELECT d.doc_id, d.text, e.embedding
  FROM documents d JOIN embeddings e ON d.doc_id = e.vec_id
),
{_sql_queries_cte(_HYBRID_VEC)},
dense_scored AS (
  SELECT e.doc_id,
         round(COALESCE(list_dot_product(CAST(e.embedding AS DOUBLE[]), q.qv)
           / NULLIF(sqrt(list_dot_product(CAST(e.embedding AS DOUBLE[]), CAST(e.embedding AS DOUBLE[])))
              * sqrt(list_dot_product(q.qv, q.qv)), 0), 0.0), {ROUND_DIGITS}) AS s
  FROM base e CROSS JOIN queries q
),
dense AS (
  SELECT doc_id, row_number() OVER (ORDER BY s DESC, doc_id) AS rank
  FROM dense_scored QUALIFY rank <= 40
),
{_bm25_oracle_cte("base")},
sparse AS (
  SELECT doc_id,
         row_number() OVER (ORDER BY round(s, {ROUND_DIGITS}) DESC, doc_id) AS rank
  FROM scored QUALIFY rank <= 40
),
contribs AS (
  SELECT doc_id, 1.0 / (60 + rank) AS c FROM dense
  UNION ALL
  SELECT doc_id, 1.0 / (60 + rank) AS c FROM sparse
),
fused AS (SELECT doc_id, sum(c) AS s FROM contribs GROUP BY doc_id)
SELECT 0 AS query_idx, doc_id, round(s, {ROUND_DIGITS}) AS score,
       CAST(row_number() OVER (ORDER BY s DESC, doc_id) AS INT) AS rank
FROM fused QUALIFY rank <= 10 ORDER BY rank
"""


def q_sparse_encode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Op 34: BM25 sparse-vector encoding — per-doc term count and weight
    mass of the encoded sparse_vector."""
    df = load_wide(spark, sf_dir, "documents")
    postings, _ = sparse_fn.build_postings(df, id_col="doc_id", text_col="text")
    return (
        postings.groupBy("doc_id")
        .agg(
            F.count("*").alias("n_terms"),
            F.round(F.sum("weight"), ROUND_DIGITS).alias("weight_sum"),
        )
        .select("doc_id", "n_terms", "weight_sum")
    )


ORACLE_SPARSE_ENCODE = f"""
WITH {_bm25_base_cte()},
weights AS (
  SELECT terms.doc_id,
         ln((stats.n_docs - dfreq.df + 0.5) / (dfreq.df + 0.5) + 1.0)
         * (terms.tf * (1.2 + 1)) /
           (terms.tf + 1.2 * (1 - 0.75 + 0.75 * terms.dl / stats.avgdl)) AS w
  FROM terms JOIN dfreq USING (token) CROSS JOIN stats
)
SELECT doc_id, count(*) AS n_terms, round(sum(w), {ROUND_DIGITS}) AS weight_sum
FROM weights GROUP BY doc_id
"""
