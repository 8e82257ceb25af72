"""North-star text dedup: exact/minhash/simhash/jaccard, components, semantic dedup, token counting, chunking.

Split out of queries.py in r12 (mechanical, order-preserving); see queries.py for the registry."""

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from aiotcvectordb_spark.operators import hybrid
from aiotcvectordb_spark.functions import sparse as sparse_fn
from aiotcvectordb_spark.partitioning import ensure_min_partitions
from aiotcvectordb_spark.qfam.core import (
    DIM,
    ROUND_DIGITS,
    _BM25_TOKS_SQL,
    _INCR_SPLIT,
    _TOKS_SQL,
    _WORDCHAR_CLASS,
    _sql_queries_cte,
    _sql_vec,
    load,
    load_wide,
    qvec,
)
from aiotcvectordb_spark.qfam.vector import _FT_QUERY, _HYBRID_VEC, _bm25_oracle_cte, sparse_index

# --------------------------------------------------------------------------
# North-star: dedup / text analysis (documents table)
# --------------------------------------------------------------------------


def q_dedup_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact dedup: hash-groupBy on normalized text, keep min id."""
    df = load(spark, sf_dir, "documents")
    return (
        df.withColumn("fp", F.md5(F.lower(F.col("text"))))
        .groupBy("fp")
        .agg(F.min("doc_id").alias("doc_id"), F.count("*").alias("n_dups"))
        .select("doc_id", "fp", "n_dups")
    )


ORACLE_DEDUP_EXACT = """
SELECT min(doc_id) AS doc_id, md5(lower(text)) AS fp, count(*) AS n_dups
FROM documents GROUP BY md5(lower(text))
"""


def q_doc_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Document fingerprint: md5 over the normalized token stream.
    CJK-aware (r4): the bigram tokenizer keeps Chinese/Japanese/Korean
    content in the stream — with the ASCII tokenizer every all-CJK doc
    collapsed to md5(''), one giant false dup group. ASCII corpora hash
    identically to before (the tokenizers agree on ASCII)."""
    df = load(spark, sf_dir, "documents")
    return df.select(
        "doc_id",
        F.md5(
            F.concat_ws(" ", sparse_fn.bm25_tokens_col("text"))
        ).alias("fp"),
    )


ORACLE_DOC_FINGERPRINT = f"""
SELECT doc_id,
       md5(COALESCE(array_to_string({_BM25_TOKS_SQL}, ' '), '')) AS fp
FROM documents
"""

_STOPWORDS = ("the", "a", "of", "and", "to", "in", "is")


def q_text_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quality scoring: token count, char len, punct ratio, stopword ratio."""
    df = load(spark, sf_dir, "documents")
    stop_list = ", ".join(f"'{w}'" for w in _STOPWORDS)
    toks_sql = sparse_fn.bm25_tokens_sql("text")  # CJK-aware (r4)
    toks = sparse_fn.bm25_tokens_col("text")
    return df.select(
        "doc_id",
        F.size(toks).cast("long").alias("n_tokens"),
        F.length("text").cast("long").alias("len_chars"),
        # "word characters" include CJK (r4): with the ASCII-only class
        # every Chinese doc scored alnum_ratio ~0 and the curation
        # quality gate (>= 0.6) dropped the whole corpus
        F.round(
            (
                F.length("text")
                - F.length(
                    F.regexp_replace(
                        F.lower("text"), _WORDCHAR_CLASS, ""
                    )
                )
            )
            # NULLIF guard: a zero-length or zero-token doc must score
            # NULL, not abort the whole scan with DIVIDE_BY_ZERO under
            # ANSI mode — at 100 TB one empty doc would kill the job
            / F.nullif(F.length("text"), F.lit(0)),
            ROUND_DIGITS,
        ).alias("alnum_ratio"),
        F.round(
            F.expr(f"size(filter({toks_sql}, t -> t IN ({stop_list})))")
            / F.nullif(F.size(toks), F.lit(0)),
            ROUND_DIGITS,
        ).alias("stopword_ratio"),
    )


ORACLE_TEXT_QUALITY = f"""
SELECT doc_id,
       CAST(len({_BM25_TOKS_SQL}) AS BIGINT) AS n_tokens,
       CAST(length(text) AS BIGINT) AS len_chars,
       round((length(text) - length(regexp_replace(lower(text), '{_WORDCHAR_CLASS}', '', 'g')))
             * 1.0 / NULLIF(length(text), 0), {ROUND_DIGITS}) AS alnum_ratio,
       round(len(list_filter({_BM25_TOKS_SQL},
                 t -> list_contains([{", ".join(f"'{w}'" for w in _STOPWORDS)}], t)))
             * 1.0 / NULLIF(len({_BM25_TOKS_SQL}), 0), {ROUND_DIGITS}) AS stopword_ratio
FROM documents
"""

_LANG_WORDS = {
    "en": ("the", "and", "of", "to", "a", "in", "is", "data", "table"),
    "de": ("der", "die", "das", "und", "ist", "ein", "nicht"),
    "fr": ("le", "la", "les", "et", "est", "une", "pas"),
}


def q_doc_repetition(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Repetition signals for corpus filtering (the Gopher-rule family):
    duplicate-3-gram fraction, duplicate-token fraction, and mean token
    length per document. High n-gram duplication is the strongest
    boilerplate/spam signal a curation pipeline has. All array
    expressions in one projection — fuses into the scan stage, exact
    integer arithmetic until the final division."""
    df = load(spark, sf_dir, "documents")
    toks_sql = sparse_fn.bm25_tokens_sql("text")  # CJK-aware (r4)
    # Materialize tokens and shingles as columns FIRST: higher-order
    # functions are CodegenFallback and evaluate their whole lambda
    # subtree per element, so inlining the regex split into the shingle
    # lambda would re-tokenize the document once per shingle (O(n^2)).
    toked = df.select("doc_id", F.expr(toks_sql).alias("toks")).filter(
        F.expr("size(toks) >= 3")
    )
    shingled = toked.withColumn(
        "sh",
        F.expr(
            "transform(sequence(1, size(toks) - 2), "
            "i -> concat_ws(' ', slice(toks, i, 3)))"
        ),
    )
    return shingled.select(
        "doc_id",
        F.round(
            1 - F.expr("size(array_distinct(sh))") / F.expr("size(sh)"),
            ROUND_DIGITS,
        ).alias("dup_3gram_frac"),
        F.round(
            1 - F.expr("size(array_distinct(toks))") / F.expr("size(toks)"),
            ROUND_DIGITS,
        ).alias("dup_token_frac"),
        F.round(
            F.expr("aggregate(toks, 0L, (a, t) -> a + length(t))")
            / F.expr("size(toks)"),
            ROUND_DIGITS,
        ).alias("mean_token_len"),
    )


ORACLE_DOC_REPETITION = f"""
WITH t AS (
  SELECT doc_id, {_BM25_TOKS_SQL} AS toks FROM documents
),
s AS (
  SELECT doc_id, toks,
         list_transform(range(1, len(toks) - 1),
                        i -> array_to_string(toks[i:i+2], ' ')) AS sh
  FROM t WHERE len(toks) >= 3
)
SELECT doc_id,
       round(1 - len(list_distinct(sh)) * 1.0 / len(sh), {ROUND_DIGITS})
         AS dup_3gram_frac,
       round(1 - len(list_distinct(toks)) * 1.0 / len(toks), {ROUND_DIGITS})
         AS dup_token_frac,
       round(list_sum(list_transform(toks, x -> length(x))) * 1.0 / len(toks),
             {ROUND_DIGITS}) AS mean_token_len
FROM s
"""


def q_lang_id(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Language-ID heuristic: stopword-hit argmax over per-language lists
    (deterministic priority en > de > fr > unknown on ties)."""
    df = load(spark, sf_dir, "documents")
    hits = {}
    for lg, words in _LANG_WORDS.items():
        wl = ", ".join(f"'{w}'" for w in words)
        hits[lg] = F.expr(
            f"size(filter(filter(split(lower(text), '[^a-z0-9]+'), t -> t != ''),"
            f" t -> t IN ({wl})))"
        )
    pred = (
        F.when((hits["en"] >= hits["de"]) & (hits["en"] >= hits["fr"]) & (hits["en"] > 0), "en")
        .when((hits["de"] >= hits["fr"]) & (hits["de"] > 0), "de")
        .when(hits["fr"] > 0, "fr")
        .otherwise("unknown")
    )
    return df.select("doc_id", pred.alias("pred_lang"))


def _lang_hits_sql(lg: str) -> str:
    wl = ", ".join(f"'{w}'" for w in _LANG_WORDS[lg])
    return f"len(list_filter({_TOKS_SQL}, t -> list_contains([{wl}], t)))"


ORACLE_LANG_ID = f"""
SELECT doc_id,
  CASE
    WHEN {_lang_hits_sql("en")} >= {_lang_hits_sql("de")}
     AND {_lang_hits_sql("en")} >= {_lang_hits_sql("fr")}
     AND {_lang_hits_sql("en")} > 0 THEN 'en'
    WHEN {_lang_hits_sql("de")} >= {_lang_hits_sql("fr")}
     AND {_lang_hits_sql("de")} > 0 THEN 'de'
    WHEN {_lang_hits_sql("fr")} > 0 THEN 'fr'
    ELSE 'unknown'
  END AS pred_lang
FROM documents
"""


# Script classes for CJK language ID: kana is unique to Japanese,
# hangul to Korean; Han alone (no kana) reads as Chinese — the standard
# segmentation-free script heuristic. Ranges match the BM25 tokenizer's
# CJK classes (sparse_fn.CJK_RANGES) minus the split into scripts.
_KANA_CLASS = "぀-ヿ"
_HANGUL_CLASS = "가-힯"
_HAN_CLASS = "㐀-䶿一-鿿"

# Mixed-script fixture corpus: the documents tables are European-only,
# so the CJK branch needs its own rows; inline keeps the query
# self-contained and byte-identical for the DuckDB oracle.
CJK_LANG_CORPUS: list[tuple[str, str]] = [
    ("l_zh", "今天天气很好我们去公园散步"),
    ("l_ja", "今日はいい天気ですね公園へ行きましょう"),
    ("l_ko", "오늘 날씨가 좋아서 공원에 갑니다"),
    ("l_en", "the weather is lovely today let us walk"),
    ("l_mixed", "天気 weather 날씨"),  # kana-free han + hangul + latin: ja loses, ko wins
    ("l_zh_en", "spark 引擎 很快"),
    ("l_empty", "..."),
]


def q_lang_id_cjk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Script-ratio language ID for CJK corpora: kana ⇒ ja, else
    hangul ⇒ ko, else Han ⇒ zh, else latin-stopword fallback en/other.
    Pure JVM regexp counts (codegen'd) — the same class of heuristic as
    q_lang_id, extended to the scripts the reference's jieba-based text
    stack targets."""
    df = spark.createDataFrame(CJK_LANG_CORPUS, ["doc_id", "text"]).repartition(4)
    kana = F.size(F.regexp_extract_all("text", F.lit(f"[{_KANA_CLASS}]"), F.lit(0)))
    hangul = F.size(F.regexp_extract_all("text", F.lit(f"[{_HANGUL_CLASS}]"), F.lit(0)))
    han = F.size(F.regexp_extract_all("text", F.lit(f"[{_HAN_CLASS}]"), F.lit(0)))
    latin = F.size(F.regexp_extract_all("text", F.lit("[a-zA-Z]"), F.lit(0)))
    pred = (
        F.when(kana > 0, "ja")
        .when(hangul > 0, "ko")
        .when(han > 0, "zh")
        .when(latin > 0, "en")
        .otherwise("unknown")
    )
    return df.select(
        "doc_id",
        pred.alias("pred_lang"),
        kana.alias("n_kana"),
        hangul.alias("n_hangul"),
        han.alias("n_han"),
    )


ORACLE_LANG_ID_CJK = f"""
WITH corpus(doc_id, text) AS (VALUES
  {", ".join("('" + i + "', '" + t + "')" for i, t in CJK_LANG_CORPUS)}
),
counted AS (
  SELECT doc_id,
         len(regexp_extract_all(text, '[{_KANA_CLASS}]')) AS n_kana,
         len(regexp_extract_all(text, '[{_HANGUL_CLASS}]')) AS n_hangul,
         len(regexp_extract_all(text, '[{_HAN_CLASS}]')) AS n_han,
         len(regexp_extract_all(text, '[a-zA-Z]')) AS n_latin
  FROM corpus
)
SELECT doc_id,
  CASE WHEN n_kana > 0 THEN 'ja'
       WHEN n_hangul > 0 THEN 'ko'
       WHEN n_han > 0 THEN 'zh'
       WHEN n_latin > 0 THEN 'en'
       ELSE 'unknown' END AS pred_lang,
  CAST(n_kana AS INTEGER) AS n_kana,
  CAST(n_hangul AS INTEGER) AS n_hangul,
  CAST(n_han AS INTEGER) AS n_han
FROM counted
"""

_N_MINHASH = 4


def _portable_hash_expr(s: str) -> str:
    """Spark SQL: first 60 bits of md5 as BIGINT (portable across engines)."""
    return f"cast(conv(substring(md5({s}), 1, 15), 16, 10) as bigint)"


def q_minhash_signatures(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash over 3-token shingles, {_N_MINHASH} hash functions drawn
    from TWO md5 digests per shingle: d1 = md5(s), d2 = md5('#' || s),
    and each 128-bit digest yields two independent 60-bit windows
    (hex chars 1-15 and 17-31). md5 cost is proportional to invocations
    x input length, so deriving the 4-function family from 2 digests
    halves the dominant cost vs hashing ``s || '#j'`` 4 times — and the
    windowed extraction is a cheap fixed-width substring on a 32-char
    string. Docs need >= 3 tokens."""
    df = load_wide(spark, sf_dir, "documents")
    # Materialize the token array FIRST (one evaluation per row):
    # higher-order lambdas are CodegenFallback and re-evaluate their
    # whole subtree per element, so an inline tokenizer inside the
    # shingle lambda re-tokenizes the doc once per shingle — O(n^2),
    # catastrophic with the (bigger) CJK-aware expression.
    from aiotcvectordb_spark.pipelines import nopush_filter

    toked = df.select(
        "doc_id", sparse_fn.bm25_tokens_col("text").alias("__toks")
    ).filter(nopush_filter(F.expr("size(__toks) >= 3")))  # r12: see nopush_filter
    shingles = (
        "transform(sequence(1, size(__toks) - 2), "
        "i -> concat_ws(' ', slice(__toks, i, 3)))"
    )
    # Materialize the two digest arrays ONCE (separate select), then
    # derive all 4 minhashes by windowing — inlining md5 into each mh
    # expression would recompute the digests per hash function.
    digs = (
        toked.select("doc_id", F.expr(shingles).alias("sh"))
        .select(
            "doc_id",
            F.expr("transform(sh, s -> md5(s))").alias("d1"),
            F.expr("transform(sh, s -> md5(concat('#', s)))").alias("d2"),
        )
    )

    def _win(arr: str, pos: int) -> str:
        return (
            f"array_min(transform({arr}, d -> "
            f"cast(conv(substring(d, {pos}, 15), 16, 10) as bigint)))"
        )

    return digs.select(
        "doc_id",
        F.expr(_win("d1", 1)).alias("mh0"),
        F.expr(_win("d1", 17)).alias("mh1"),
        F.expr(_win("d2", 1)).alias("mh2"),
        F.expr(_win("d2", 17)).alias("mh3"),
    )


def _oracle_mh_windows(digests_cte: str = "dig") -> str:
    """DuckDB SELECT-list fragment matching the 2-digest/4-window family."""
    wins = [("d1", 1, 0), ("d1", 17, 1), ("d2", 1, 2), ("d2", 17, 3)]
    return ", ".join(
        f"list_min(list_transform({arr}, d -> ('0x' || substr(d, {pos}, 15))::BIGINT)) AS mh{j}"
        for arr, pos, j in wins
    )


ORACLE_MINHASH_SIGNATURES = f"""
WITH toks AS (
  SELECT doc_id, {_BM25_TOKS_SQL} AS ts FROM documents
  WHERE len({_BM25_TOKS_SQL}) >= 3
),
sh AS (
  SELECT doc_id,
         list_transform(range(1, len(ts) - 1),
                        i -> array_to_string(ts[i:i+2], ' ')) AS shingles
  FROM toks
),
dig AS (
  SELECT doc_id,
         list_transform(shingles, s -> md5(s)) AS d1,
         list_transform(shingles, s -> md5('#' || s)) AS d2
  FROM sh
)
SELECT doc_id, {_oracle_mh_windows()}
FROM dig
"""


def q_minhash_lsh_candidates(
    spark: SparkSession, sf_dir: str, *, max_bucket_size: int | None = None
) -> DataFrame:
    """MinHash-LSH candidate pairs: docs agreeing on any of the
    {_N_MINHASH} bands. Scalable shape: explode signatures to
    (band, band_hash) bucket keys, ONE groupBy shuffle on the bucket key,
    then emit all in-bucket pairs with a nested-transform combination
    expression — signatures are computed once and there is no self-join
    (the per-band self-join variant recomputes the md5 signature pipeline
    2x per band and shuffles 2x{_N_MINHASH} times). Skewed buckets (a
    band hash shared by B docs) cost B^2/2 pairs in one task — the
    tools/scale_probe.py 10x run shows candidate volume is what grows on
    a duplicate-heavy corpus. ``max_bucket_size`` is the 100 TB guard:
    drop buckets larger than the cap (boilerplate shingles, not real
    near-dups), bounding per-task pair expansion at cap^2/2. Default
    None = exact banding semantics (what the oracle checks)."""
    sig = q_minhash_signatures(spark, sf_dir)
    bands = sig.select(
        "doc_id",
        F.explode(
            F.array(
                *[
                    F.struct(F.lit(j).alias("band"), F.col(f"mh{j}").alias("h"))
                    for j in range(_N_MINHASH)
                ]
            )
        ).alias("bh"),
    ).select("doc_id", "bh.band", "bh.h")
    buckets = (
        bands.groupBy("band", "h")
        .agg(F.sort_array(F.collect_list("doc_id")).alias("ds"))
        .filter(F.size("ds") >= 2)
    )
    if max_bucket_size is not None:
        buckets = buckets.filter(F.size("ds") <= max_bucket_size)
    combos = F.expr(
        "flatten(transform(ds, (x, i) -> "
        "transform(slice(ds, i + 2, size(ds) - i - 1), "
        "y -> struct(x AS doc_a, y AS doc_b))))"
    )
    return (
        buckets.select(F.explode(combos).alias("p"))
        .select("p.doc_a", "p.doc_b")
        .distinct()
    )


ORACLE_MINHASH_LSH_CANDIDATES = f"""
WITH sigs AS ({ORACLE_MINHASH_SIGNATURES})
SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
FROM sigs a JOIN sigs b
  ON a.doc_id < b.doc_id
 AND ({" OR ".join(f"a.mh{j} = b.mh{j}" for j in range(_N_MINHASH))})
"""


def q_dedup_components(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact near-dup GROUP resolution: connected components over the
    MinHash-LSH candidate graph (iterative distributed min-label
    propagation, `operators/components.py`). Upgrades pair-level
    candidates to one representative per transitive duplicate cluster —
    what a 100 TB dedup actually keeps. The iteration is Spark-side
    (joins + groupBy, lineage-checkpointed); the oracle replays it as a
    DuckDB recursive CTE, so even this iterative operator is
    hash-checked end-to-end."""
    from aiotcvectordb_spark.operators.components import connected_components

    pairs = q_minhash_lsh_candidates(spark, sf_dir)
    return (
        connected_components(pairs, "doc_a", "doc_b")
        .select(F.col("node").alias("doc_id"), "component")
    )


ORACLE_DEDUP_COMPONENTS = f"""
WITH RECURSIVE cand AS MATERIALIZED ({ORACLE_MINHASH_LSH_CANDIDATES}),
edges AS MATERIALIZED (
  -- MATERIALIZED is load-bearing: without it DuckDB re-evaluates the
  -- whole minhash candidate pipeline on EVERY recursion round
  -- (measured 9s -> 0.2s at sf0.01)
  SELECT doc_a AS a, doc_b AS b FROM cand
  UNION ALL
  SELECT doc_b AS a, doc_a AS b FROM cand
),
reach(node, r) AS (
  SELECT DISTINCT a AS node, a AS r FROM edges
  UNION
  SELECT e.a AS node, reach.r AS r
  FROM reach JOIN edges e ON e.b = reach.node
)
SELECT node AS doc_id, min(r) AS component FROM reach GROUP BY node
"""


def q_ngram_jaccard_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token-set Jaccard near-dup pairs (threshold 0.9): explode distinct
    tokens, equi-join on token, count intersections, Jaccard filter.
    (The MinHash op above is the approximation of exactly this; at 100 TB
    you run minhash-LSH first and verify candidates with this.)"""
    df = load_wide(spark, sf_dir, "documents")
    toks = df.select(
        "doc_id",
        F.array_distinct(sparse_fn.bm25_tokens_col("text")).alias("ts"),
    )
    # r12 (guide §7.2): explode_outer + NULL filter instead of explode —
    # a plain explode makes Catalyst infer `size(ts) > 0`, substituting
    # the whole tokenizer into a Filter that lands below the widen
    # exchange and re-tokenizes the corpus serially (once per join
    # branch); the outer generate infers nothing and the row set is
    # identical (the NULL row an empty/missing ts produces is dropped).
    e = toks.select("doc_id", F.explode_outer("ts").alias("token")).filter(
        F.col("token").isNotNull()
    )
    # r12: |distinct tokens| IS size(ts) — map-only, replacing the
    # explode + groupBy(doc_id) count branch (the n semantics are
    # unchanged; a 0-token doc can reach no pair, so its extra n=0 row
    # joins to nothing)
    sizes = toks.select("doc_id", F.size("ts").alias("n"))
    a = e.select(F.col("doc_id").alias("doc_a"), "token")
    b = e.select(F.col("doc_id").alias("doc_b"), "token")
    common = (
        a.join(b, "token")
        .filter("doc_a < doc_b")
        .groupBy("doc_a", "doc_b")
        .agg(F.count("*").alias("c"))
    )
    sa = sizes.select(F.col("doc_id").alias("doc_a"), F.col("n").alias("na"))
    sb = sizes.select(F.col("doc_id").alias("doc_b"), F.col("n").alias("nb"))
    return (
        common.join(sa, "doc_a")
        .join(sb, "doc_b")
        .withColumn(
            "jaccard",
            F.round(F.col("c") / (F.col("na") + F.col("nb") - F.col("c")), ROUND_DIGITS),
        )
        .filter("jaccard >= 0.9")
        .select("doc_a", "doc_b", "jaccard")
    )


ORACLE_NGRAM_JACCARD_PAIRS = f"""
WITH toks AS (
  SELECT doc_id, list_distinct({_BM25_TOKS_SQL}) AS ts FROM documents
),
e AS (SELECT doc_id, t.token FROM toks, unnest(ts) AS t(token)),
sizes AS (SELECT doc_id, count(*) AS n FROM e GROUP BY doc_id),
common AS (
  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS c
  FROM e a JOIN e b ON a.token = b.token AND a.doc_id < b.doc_id
  GROUP BY 1, 2
)
SELECT doc_a, doc_b,
       round(c * 1.0 / (sa.n + sb.n - c), {ROUND_DIGITS}) AS jaccard
FROM common
JOIN sizes sa ON sa.doc_id = doc_a
JOIN sizes sb ON sb.doc_id = doc_b
WHERE round(c * 1.0 / (sa.n + sb.n - c), {ROUND_DIGITS}) >= 0.9
"""

_NEARDUP_THRESHOLD = 0.45


# Above this row count the router switches to the IVF-bucketed path.
# r5: default moved from 250k (the r3/r4 broadcast-bytes bound) to the
# MEASURED wall-clock crossover — with BLAS-per-cell pair scoring the
# IVF path already beats the exact broadcast matmul at 20k rows
# (2.6 s vs 6 s at 20k; 21.5 s vs 201 s at 200k on the x100 fixture),
# so routing exact any higher buys nothing but quadratic cost. 20k
# also keeps the tiny-corpus regime (sf0.1 = 2k rows, where IVF's
# k-means floor dominates) on the exact plan. Env-overridable so tests
# (and operators who want bit-exact output further up) can move the
# knee without code changes.
_NEARDUP_EXACT_MAX_ROWS_ENV = "SPARK_GRAFT_NEARDUP_EXACT_MAX_ROWS"
_NEARDUP_EXACT_MAX_ROWS_DEFAULT = 20_000


def _neardup_exact_max_rows() -> int:
    import os

    return int(
        os.environ.get(_NEARDUP_EXACT_MAX_ROWS_ENV, _NEARDUP_EXACT_MAX_ROWS_DEFAULT)
    )


def q_embedding_near_dup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-cosine near-dup pairs above a threshold — EXACT plan,
    always (broadcast-matmul prefilter + bit-exact rescore).

    This is the hash-oracled registry entry, so it must execute the
    same plan at every scale/env the driver might run it under — a
    silent switch to the approximate path would make the oracle check
    vouch for a plan that didn't run (ADVICE r3). The scale-routed
    entry point is ``q_embedding_near_dup_auto`` (rows-only), which
    picks this plan or the IVF-bucketed one by corpus size.

    r5 guard (ADVICE r4): any caller still invoking THIS key above the
    exact-path knee gets a fail-fast ValueError naming the auto router,
    never a silent O(N^2) broadcast plan — the quadratic path is
    unreachable at scale by construction from every entry point."""
    emb = load(spark, sf_dir, "embeddings")
    n_rows = emb.count()  # metadata-only parquet count
    # Fixed 250k safety bound (the r3/r4 broadcast-bytes budget: 128 MB
    # ride-along matrix at 64d), deliberately NOT the router's
    # env-tunable knee — this entry is exact-only at every scale/env by
    # contract, so lowering the routing knee must not change it; only a
    # corpus that genuinely breaks the broadcast budget fails fast.
    cap = max(_neardup_exact_max_rows(), 250_000)
    if n_rows > cap:
        raise ValueError(
            f"embedding_near_dup is the EXACT O(N^2)-prefilter plan, "
            f"capped at {cap} rows (corpus has {n_rows}); use "
            "embedding_near_dup_auto (scale-routed) or raise "
            "SPARK_GRAFT_NEARDUP_EXACT_MAX_ROWS explicitly"
        )
    return _embedding_near_dup_exact(spark, sf_dir, n_rows)


def q_embedding_near_dup_auto(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-cosine near-dup pairs — scale-routed entry point.

    ONE entry point, two physical plans, chosen by corpus size so the
    O(N^2)/full-matrix-broadcast plan cannot be invoked on 100 TB by
    accident:

    - ``n <= SPARK_GRAFT_NEARDUP_EXACT_MAX_ROWS`` (default 20k — the
      measured wall-clock crossover vs the BLAS-celled IVF path, r5):
      the exact broadcast-matmul prefilter (``q_embedding_near_dup``)
      — bit-exact.
    - above: the IVF-bucketed path (``q_embedding_near_dup_ivf``) with
      multi-probe assignment — bounded shuffles, nothing broadcast or
      collected; same output schema and the same exact rescore on
      candidates, approximate only in candidate generation.

    The row count is a parquet-metadata-only job, so routing costs no
    data scan. Registered rows-only: which plan runs is env/scale-
    dependent by design, so it cannot carry a value-hash oracle."""
    emb = load(spark, sf_dir, "embeddings")
    n_rows = emb.count()  # metadata-only parquet count
    if n_rows > _neardup_exact_max_rows():
        return q_embedding_near_dup_ivf(spark, sf_dir, nprobe=4)
    return _embedding_near_dup_exact(spark, sf_dir, n_rows)


def _embedding_near_dup_exact(
    spark: SparkSession, sf_dir: str, n_rows: int
) -> DataFrame:
    """Exact embedding-cosine near-dup pairs (the broadcast-scale plan).

    Two-stage exact plan (no O(N^2) row materialization in the JVM):

    1. *Prefilter*: rows are grouped into score blocks and the full
       matrix rides alongside as one JVM-broadcast row (broadcast
       nested-loop join — nothing is collected to the driver);
       ``mapInPandas`` computes each cosine block-matmul on executors and
       emits only candidate pairs with score >= threshold - 1e-6. The
       margin (1e-6) exceeds worst-case float64 summation-order
       divergence (~1e-13) by 7 orders of magnitude, so the prefilter is
       lossless — no pair that the exact scorer would keep is dropped.
    2. *Exact rescore*: the surviving ~1e2 pairs join back to the table
       and are scored with the fixed-dim unrolled SQL expression, whose
       left-to-right accumulation order is bit-identical to the DuckDB
       oracle's ``list_dot_product``.

    At 100 TB the broadcast side no longer fits; the scale path is
    minhash/LSH candidates (above) or IVF bucketing, then this same
    exact rescore on candidates only.
    """
    from aiotcvectordb_spark.functions.vector import (
        dot_score_fixed,
        vector_norm_fixed,
    )

    emb = load(spark, sf_dir, "embeddings")
    margin = float(_NEARDUP_THRESHOLD) - 1e-6

    # Executor-side block matmul: rows are grouped into score blocks, the
    # full matrix rides in as ONE broadcast row (JVM broadcast nested-loop
    # join — a single copy per executor, never materialized on the
    # driver), and each mapInPandas task computes its block x matrix
    # score slab with numpy, emitting only above-margin candidate pairs.
    # Nothing is collected; per-task memory is O(N*dim + block*N).
    # Vectors cross the JVM->Arrow->numpy boundary FLATTENED (one flat
    # double array per row, reshaped once in numpy) — shipping each
    # embedding as its own nested array costs a per-vector Python
    # conversion that measured ~4x the whole matmul at sf0.1.
    ids_emb = ensure_min_partitions(emb.select("vec_id", "embedding"))
    mat_row = ids_emb.agg(
        F.collect_list(F.struct("vec_id", "embedding")).alias("__m")
    ).select(
        F.expr("transform(__m, x -> x.vec_id)").alias("__mat_ids"),
        F.expr(
            "flatten(transform(__m, x -> cast(x.embedding as array<double>)))"
        ).alias("__mat_flat"),
    )
    # Adaptive block count: every block task pays one deserialization of
    # the full broadcast matrix, so blocks should exist only when the
    # block x matrix matmul is big enough to amortize that (4k rows per
    # block). At sf0.1 (2k vectors) that's ONE task doing a trivial
    # matmul; at 100k vectors it's ~25 parallel slabs.
    n_blocks = min(32, max(1, n_rows // 4096 + 1))
    blocks = (
        ids_emb.groupBy(F.pmod(F.col("vec_id"), F.lit(n_blocks)).alias("__blk"))
        .agg(F.collect_list(F.struct("vec_id", "embedding")).alias("__r"))
        .select(
            F.expr("transform(__r, x -> x.vec_id)").alias("__blk_ids"),
            F.expr(
                "flatten(transform(__r, x -> cast(x.embedding as array<double>)))"
            ).alias("__blk_flat"),
        )
        .crossJoin(F.broadcast(mat_row))
    )

    def emit_pairs(batches):
        import numpy as np
        import pandas as pd

        for pdf in batches:
            cols = [
                pdf["__blk_ids"], pdf["__blk_flat"], pdf["__mat_ids"], pdf["__mat_flat"]
            ]
            for rbids, rbflat, rmids, rmflat in zip(*cols):
                bids = np.asarray(rbids, dtype=np.int64)
                mids = np.asarray(rmids, dtype=np.int64)
                # reshape to the EXPLICIT dim: a null/ragged embedding
                # must raise here, not silently shift every subsequent
                # row's vector (which would yield wrong pairs)
                bmat = np.asarray(rbflat, dtype=np.float64).reshape(len(bids), DIM)
                mmat = np.asarray(rmflat, dtype=np.float64).reshape(len(mids), DIM)
                # 1e-12 floor (the cell scorer's convention): a zero
                # vector scores 0.0 instead of NaN-poisoning the block
                bunit = bmat / np.maximum(
                    np.linalg.norm(bmat, axis=1, keepdims=True), 1e-12
                )
                munit = mmat / np.maximum(
                    np.linalg.norm(mmat, axis=1, keepdims=True), 1e-12
                )
                # Chunk the block rows so the score slab stays bounded
                # (<=2^25 floats ~ 256 MB) no matter how large N grows —
                # an unchunked block x N matmul is O(N^2/32) memory and
                # OOM-killed the JVM at the 100x probe.
                chunk = max(1, (1 << 25) // max(1, len(mids)))
                for c0 in range(0, len(bids), chunk):
                    cb = bunit[c0 : c0 + chunk]
                    cids = bids[c0 : c0 + chunk]
                    s = cb @ munit.T
                    keep = (s >= margin) & (mids[None, :] > cids[:, None])
                    ii, jj = np.nonzero(keep)
                    if len(ii):
                        yield pd.DataFrame(
                            {"vec_a": cids[ii], "vec_b": mids[jj]}
                        )

    cand = blocks.mapInPandas(emit_pairs, "vec_a long, vec_b long")

    a = emb.select(
        F.col("vec_id").alias("vec_a"),
        F.col("embedding").alias("ea"),
        vector_norm_fixed("embedding", DIM).alias("na"),
    )
    b = emb.select(
        F.col("vec_id").alias("vec_b"),
        F.col("embedding").alias("eb"),
        vector_norm_fixed("embedding", DIM).alias("nb"),
    )
    # rescore joins broadcast only the OUTPUT-DRIVEN sides: cand (the
    # ~1e2 surviving pairs) into a's scan, then that still-tiny result
    # into b's scan — the full table is never broadcast
    return (
        b.join(F.broadcast(a.join(F.broadcast(cand), "vec_a")), "vec_b")
        .withColumn(
            "score",
            F.round(dot_score_fixed("ea", "eb", DIM) / (F.col("na") * F.col("nb")), ROUND_DIGITS),
        )
        .filter(F.col("score") >= _NEARDUP_THRESHOLD)
        .select("vec_a", "vec_b", "score")
    )


# Target rows per IVF cell (on the ASSIGNMENT table, i.e. after the
# nprobe expansion). Σcell² work is (nprobe·N)²/nlist, so holding cell
# size constant — nlist ∝ N — is what keeps candidate volume linear in
# N. Assignment ladder (r5 — the 4096 hard cap is gone):
#   nlist ≤ 32        Catalyst literal-expression centroid distance
#                     (codegen-bounded)
#   32 < nlist ≤ 8192 flat Arrow matmul against driver-side sampled
#                     k-means centroids (k-means cost = sample × nlist,
#                     bounded by the sample, not N)
#   nlist > 8192      two-level IMI cells: cell = (c1, c2) from TWO
#                     independent K=⌈√nlist⌉ codebooks over the
#                     embedding halves — K² cells from 2K driver-
#                     trainable centroids, so nlist ∝ N holds to ~16.7M
#                     cells (K capped 4096) ≈ 1.6e10 assignment rows at
#                     2000/cell without the codebook fit ever growing
#                     with N. This is the 100 TB shape.
_IVF_NEARDUP_CELL_ROWS = 2000
_IVF_NEARDUP_FLAT_MAX_NLIST = 8192
_IVF_NEARDUP_IMI_MAX_K = 4096


def _sampled_spherical_kmeans(
    emb: DataFrame, k: int, *, sample_rows: int = 100_000, iters: int = 6
):
    """Driver-side seeded spherical k-means on a BOUNDED unit-vector
    sample (the PQ-codebook training pattern — the driver never sees
    more than ``sample_rows`` rows regardless of table size). Returns
    an (k, dim) float64 centroid matrix. Chunked matmuls keep the
    distance temporaries flat for large k."""
    import numpy as np

    n = emb.count()
    frac = min(1.0, sample_rows / max(n, 1))
    sample = (
        emb.sample(fraction=frac, seed=7).limit(sample_rows).collect()
        if frac < 1.0
        else emb.collect()
    )
    X = np.asarray([r["embedding"] for r in sample], dtype=np.float64)
    X /= np.maximum(np.linalg.norm(X, axis=1, keepdims=True), 1e-12)
    k = max(2, min(k, len(X) // 4 or 2))
    rng = np.random.default_rng(42)
    C = X[rng.choice(len(X), size=k, replace=False)].copy()
    chunk = 16384
    for _ in range(iters):
        assign = np.empty(len(X), dtype=np.int64)
        for s0 in range(0, len(X), chunk):
            sl = slice(s0, s0 + chunk)
            assign[sl] = np.argmax(X[sl] @ C.T, axis=1)
        for j in range(k):
            m = assign == j
            if m.any():
                c = X[m].mean(axis=0)
                nc = np.linalg.norm(c)
                if nc > 1e-12:
                    C[j] = c / nc
    return C


def q_embedding_near_dup_ivf(
    spark: SparkSession, sf_dir: str, *, nlist: int | None = None, nprobe: int = 2
) -> DataFrame:
    """The 100 TB path for embedding near-dup: IVF bucketing instead of
    the broadcast matmul. Spherical KMeans(nlist) on unit vectors;
    each vector is assigned to its ``nprobe`` nearest centroids
    (multi-probe — catches pairs straddling a cell boundary); candidate
    pairs are an equi-join on the cell id (vec_a < vec_b), then the
    same exact cosine rescore as the exact operator. Cost is
    sum(cell^2) not N^2, and every stage is a bounded shuffle — nothing
    unbounded is broadcast or collected.

    nlist scales with the corpus (cells of ~2000
    assignment rows, r4) so candidate volume stays LINEAR in N: small
    corpora keep the MLlib fit + pure-Catalyst literal-expression
    assignment (plan-audited, codegen-bounded); above 32 cells the
    centroids come from driver-side sampled spherical k-means (bounded
    sample — the PQ training pattern) and assignment is an Arrow
    mapInPandas matmul against the tiny broadcast centroid matrix;
    above the 8192 flat cap (r5) cells become two-level IMI products
    (``_embedding_near_dup_imi``) — K² cells from 2K driver-trainable
    subspace codebooks, so nlist ∝ N holds to ~16.7M cells without the
    codebook fit ever growing with N. Rows-only (iterative KMeans has
    no SQL oracle); recall vs the exact operator is asserted in pytest
    for ALL assignment paths."""
    import numpy as np
    from pyspark.ml.clustering import KMeans
    from pyspark.ml.functions import array_to_vector

    from aiotcvectordb_spark.functions.vector import (
        dot_score_fixed,
        vector_norm_fixed,
    )

    emb = load(spark, sf_dir, "embeddings")
    if nlist is None:
        n_rows = emb.count()  # parquet-metadata count
        nlist = max(
            16,
            min(
                n_rows * nprobe // _IVF_NEARDUP_CELL_ROWS,
                _IVF_NEARDUP_IMI_MAX_K**2,
            ),
        )
    if nlist > _IVF_NEARDUP_FLAT_MAX_NLIST:
        return _embedding_near_dup_imi(spark, emb, nlist=nlist, nprobe=nprobe)
    if nlist > 32:
        return _embedding_near_dup_ivf_arrow(
            spark, emb, nlist=nlist, nprobe=nprobe
        )
    unit = (
        "transform(embedding, x -> cast(x as double) / "
        "greatest(sqrt(aggregate(transform(embedding, v -> cast(v as double) * cast(v as double)), "
        "cast(0 as double), (a, b) -> a + b)), cast(1e-12 as double)))"
    )
    # Materialize the unit vector ONCE as a column: inlining the
    # normalization transform into each of the nlist centroid-distance
    # expressions multiplies the expression tree (and the task binary /
    # codegen unit) by nlist — measured as the dominant cost at small
    # SF, and pure waste at any scale.
    unit_df = emb.select("vec_id", "embedding", F.expr(unit).alias("__u"))
    # Persist the feature column for the duration of the fit: MLlib's
    # iterative KMeans re-reads its input every iteration (plus the
    # k-means|| init passes), and without this each pass re-runs the
    # normalize+vectorize chain from the parquet scan. (k-means|| init
    # is kept: random init measurably drops multi-probe recall on the
    # small-SF fixtures.)
    ml_df = unit_df.withColumn("__features", array_to_vector(F.col("__u"))).persist()
    try:
        model = KMeans(
            k=nlist, seed=42, maxIter=5,
            featuresCol="__features", predictionCol="__c",
        ).fit(ml_df)
    finally:
        ml_df.unpersist()
    cents = np.asarray(model.clusterCenters(), dtype=np.float64)
    # nprobe nearest centroids per vector, JVM-side: squared distance of
    # the UNIT vector to each centroid as an array expression, then the
    # argmin indices. Centroids are tiny (nlist x dim literals).
    udists = F.array(
        *[
            F.expr(
                f"aggregate(zip_with(__u, "
                f"array({', '.join(repr(float(c)) for c in cents[j])}), "
                "(a, b) -> (a - b) * (a - b)), cast(0 as double), (acc, x) -> acc + x)"
            )
            for j in range(len(cents))
        ]
    )
    assigned = (
        unit_df.select("vec_id", "embedding", udists.alias("__d"))
        .select(
            "vec_id",
            "embedding",
            F.expr(
                f"slice(array_sort(transform(__d, (d, j) -> struct(d, j))), 1, {nprobe})"
            ).alias("__near"),
        )
        .select("vec_id", "embedding", F.explode("__near.j").alias("cell"))
    )
    return _neardup_pairs_from_cells(assigned)


def _neardup_pairs_from_cells(assigned: DataFrame) -> DataFrame:
    """(vec_id, embedding, cell) → exact-rescored near-dup pairs,
    shared by all assignment paths (flat Arrow and IMI).

    r5 rewrite: per-cell BLAS instead of a per-pair JVM expression.
    The previous cell self-join evaluated the unrolled 64-term cosine
    chain INSIDE the SortMergeJoin condition (and again in the
    projection) — ~7 µs per candidate pair, measured as the wall-clock
    dominator at the 300x probe. One ``applyInPandas`` per cell now
    computes the whole cell's cosine matrix as a chunked numpy matmul
    (~35 ns per pair, S-chunks capped ~32 MB so a skewed cell degrades
    to more chunks, not an OOM). Same shuffle shape — one exchange on
    cell — with ~200x less CPU per candidate; BLAS inside cells,
    shuffles between, which is the constant you want at 100 TB."""
    import numpy as np

    thr = _NEARDUP_THRESHOLD
    schema = "vec_a long, vec_b long, score double"

    def pairs(pdf):
        import pandas as pd

        n = len(pdf)
        if n < 2:
            return pd.DataFrame({"vec_a": [], "vec_b": [], "score": []})
        order = np.argsort(pdf["vec_id"].to_numpy(), kind="stable")
        ids = pdf["vec_id"].to_numpy()[order]
        X = np.asarray(list(pdf["embedding"]), dtype=np.float64)[order]
        norms = np.maximum(np.linalg.norm(X, axis=1), 1e-12)
        out_a, out_b, out_s = [], [], []
        chunk = max(1, (1 << 22) // n)  # S-chunk ≈ 32 MB of float64
        scale = 10.0 ** ROUND_DIGITS
        for s0 in range(0, n - 1, chunk):
            s1 = min(s0 + chunk, n - 1)
            # match the exact path's arithmetic (r5 advice): raw dot,
            # THEN divide by the norm product — not normalize-then-dot
            # — and round HALF_UP like Spark/DuckDB ROUND, not numpy's
            # banker's rounding, so threshold-boundary pairs agree
            # between the IVF and exact operators
            S = (X[s0:s1] @ X.T) / np.outer(norms[s0:s1], norms)
            S = np.sign(S) * np.floor(np.abs(S) * scale + 0.5) / scale
            for r in range(s1 - s0):
                row = S[r, s0 + r + 1 :]
                hit = np.nonzero(row >= thr)[0]
                if len(hit):
                    out_a.append(np.full(len(hit), ids[s0 + r]))
                    out_b.append(ids[s0 + r + 1 + hit])
                    out_s.append(row[hit])
        if not out_a:
            return pd.DataFrame({"vec_a": [], "vec_b": [], "score": []})
        return pd.DataFrame(
            {
                "vec_a": np.concatenate(out_a),
                "vec_b": np.concatenate(out_b),
                "score": np.concatenate(out_s),
            }
        )

    return (
        assigned.groupBy("cell")
        .applyInPandas(pairs, schema=schema)
        .select(
            F.col("vec_a").cast("long").alias("vec_a"),
            F.col("vec_b").cast("long").alias("vec_b"),
            "score",
        )
        .distinct()
    )


def _embedding_near_dup_ivf_arrow(
    spark: SparkSession, emb: DataFrame, *, nlist: int, nprobe: int
) -> DataFrame:
    """Scale-path IVF assignment: centroids from driver-side SAMPLED
    spherical k-means (bounded collect), cell assignment as one Arrow
    mapInPandas matmul per batch against the ~nlist x dim float64
    centroid matrix (a few MB in the task closure — never the data).
    The literal-expression path stops scaling past ~32 cells (codegen
    unit grows with nlist); numpy is indifferent to nlist, so cells
    keep constant SIZE as the corpus grows and candidate volume stays
    linear."""
    import numpy as np

    C = _sampled_spherical_kmeans(emb.select("vec_id", "embedding"), nlist)
    n_probe = min(nprobe, len(C))
    id_type = dict(emb.dtypes)["vec_id"]
    emb_type = dict(emb.dtypes)["embedding"]
    schema = f"vec_id {id_type}, embedding {emb_type}, cell int"

    def assign(batches):
        import pandas as pd

        CT = C.T  # (dim, k)
        for pdf in batches:
            if not len(pdf):
                continue
            X = np.asarray(list(pdf["embedding"]), dtype=np.float64)
            U = X / np.maximum(np.linalg.norm(X, axis=1, keepdims=True), 1e-12)
            S = U @ CT  # (batch, k) cosine to each centroid
            top = np.argpartition(-S, n_probe - 1, axis=1)[:, :n_probe]
            yield pd.DataFrame(
                {
                    "vec_id": pdf["vec_id"].to_numpy().repeat(n_probe),
                    "embedding": [e for e in pdf["embedding"] for _ in range(n_probe)],
                    "cell": top.astype(np.int32).ravel(),
                }
            )

    assigned = emb.select("vec_id", "embedding").mapInPandas(assign, schema=schema)
    return _neardup_pairs_from_cells(assigned)


def _sampled_subspace_kmeans(
    X, k: int, *, iters: int = 6, seed: int = 42
):
    """Plain (euclidean) Lloyd's on an in-memory subvector sample —
    seeded and chunked like ``_sampled_spherical_kmeans``. Subvectors
    of unit vectors are NOT unit, so the spherical update is wrong
    here; assignment uses min-L2 == max(dot − ‖c‖²/2)."""
    import numpy as np

    k = max(2, min(k, len(X) // 4 or 2))
    rng = np.random.default_rng(seed)
    C = X[rng.choice(len(X), size=k, replace=False)].copy()
    chunk = 16384
    for _ in range(iters):
        half = 0.5 * (C * C).sum(axis=1)  # (k,)
        assign = np.empty(len(X), dtype=np.int64)
        for s0 in range(0, len(X), chunk):
            sl = slice(s0, s0 + chunk)
            assign[sl] = np.argmax(X[sl] @ C.T - half, axis=1)
        for j in range(k):
            m = assign == j
            if m.any():
                C[j] = X[m].mean(axis=0)
    return C


def _embedding_near_dup_imi(
    spark: SparkSession, emb: DataFrame, *, nlist: int, nprobe: int
) -> DataFrame:
    """Beyond-flat-cap IVF: two-level inverted multi-index cells
    (IMI — Babenko & Lempitsky, "The Inverted Multi-Index", CVPR
    2012). The coarse quantizer is the PRODUCT of two independent
    K=⌈√nlist⌉ codebooks over the embedding halves, so K² cells come
    from 2K driver-trainable centroids: the codebook fit stays bounded
    by the SAMPLE no matter how big the corpus (K caps at 4096 → 16.7M
    cells), which is what lets nlist ∝ N — constant cell size, linear
    candidate volume — hold at 100 TB instead of stopping at a flat
    cap. Multi-probe ranks the top-nprobe (c1, c2) pairs by combined
    subspace distance over the nprobe×nprobe candidate grid. Same
    bucket-join + exact rescore as every other path."""
    import numpy as np

    sample_rows = 100_000
    n = emb.count()
    frac = min(1.0, sample_rows / max(n, 1))
    sample = (
        emb.select("embedding").sample(fraction=frac, seed=7)
        .limit(sample_rows).collect()
        if frac < 1.0
        else emb.select("embedding").collect()
    )
    X = np.asarray([r["embedding"] for r in sample], dtype=np.float64)
    X /= np.maximum(np.linalg.norm(X, axis=1, keepdims=True), 1e-12)
    d2 = X.shape[1] // 2
    K = min(_IVF_NEARDUP_IMI_MAX_K, int(np.ceil(np.sqrt(nlist))))
    C1 = _sampled_subspace_kmeans(X[:, :d2], K, seed=42)
    C2 = _sampled_subspace_kmeans(X[:, d2:], K, seed=43)
    K1, K2 = len(C1), len(C2)

    id_type = dict(emb.dtypes)["vec_id"]
    emb_type = dict(emb.dtypes)["embedding"]
    schema = f"vec_id {id_type}, embedding {emb_type}, cell bigint"
    t = min(nprobe, K1, K2)  # per-half probe width
    # r5 advice: with a tiny training sample K1/K2 can be clamped so
    # far that t*t < nprobe — argpartition's kth would go out of range.
    # The product grid only has t*t cells; probe at most that many.
    nprobe = min(nprobe, t * t)

    def assign(batches):
        import pandas as pd

        h1 = 0.5 * (C1 * C1).sum(axis=1)
        h2 = 0.5 * (C2 * C2).sum(axis=1)
        for pdf in batches:
            if not len(pdf):
                continue
            Xb = np.asarray(list(pdf["embedding"]), dtype=np.float64)
            U = Xb / np.maximum(
                np.linalg.norm(Xb, axis=1, keepdims=True), 1e-12
            )
            S1 = U[:, :d2] @ C1.T - h1  # −L2²/2 + const per row
            S2 = U[:, d2:] @ C2.T - h2
            b = len(U)
            top1 = np.argpartition(-S1, t - 1, axis=1)[:, :t]
            top2 = np.argpartition(-S2, t - 1, axis=1)[:, :t]
            s1 = np.take_along_axis(S1, top1, 1)
            s2 = np.take_along_axis(S2, top2, 1)
            comb = (s1[:, :, None] + s2[:, None, :]).reshape(b, t * t)
            sel = np.argpartition(-comb, nprobe - 1, axis=1)[:, :nprobe]
            i1 = np.take_along_axis(top1, sel // t, 1)
            i2 = np.take_along_axis(top2, sel % t, 1)
            cells = (i1.astype(np.int64) * K2 + i2).ravel()
            yield pd.DataFrame(
                {
                    "vec_id": pdf["vec_id"].to_numpy().repeat(nprobe),
                    "embedding": [
                        e for e in pdf["embedding"] for _ in range(nprobe)
                    ],
                    "cell": cells,
                }
            )

    assigned = emb.select("vec_id", "embedding").mapInPandas(assign, schema=schema)
    return _neardup_pairs_from_cells(assigned)


ORACLE_EMBEDDING_NEAR_DUP = f"""
SELECT a.vec_id AS vec_a, b.vec_id AS vec_b,
       round(COALESCE(list_dot_product(CAST(a.embedding AS DOUBLE[]), CAST(b.embedding AS DOUBLE[]))
         / NULLIF(sqrt(list_dot_product(CAST(a.embedding AS DOUBLE[]), CAST(a.embedding AS DOUBLE[])))
            * sqrt(list_dot_product(CAST(b.embedding AS DOUBLE[]), CAST(b.embedding AS DOUBLE[]))), 0), 0.0),
         {ROUND_DIGITS}) AS score
FROM embeddings a JOIN embeddings b ON a.vec_id < b.vec_id
WHERE round(COALESCE(list_dot_product(CAST(a.embedding AS DOUBLE[]), CAST(b.embedding AS DOUBLE[]))
         / NULLIF(sqrt(list_dot_product(CAST(a.embedding AS DOUBLE[]), CAST(a.embedding AS DOUBLE[])))
            * sqrt(list_dot_product(CAST(b.embedding AS DOUBLE[]), CAST(b.embedding AS DOUBLE[]))), 0), 0.0),
         {ROUND_DIGITS}) >= {_NEARDUP_THRESHOLD}
"""


# SemDeDup (Abbas et al. 2023, arXiv:2303.09540): k-means cells, pairwise
# cosine WITHIN a cell only, keep per duplicate group the example least
# similar to its centroid. The oracled entry uses DRIVER-FIXED
# deterministic centroids so cell assignment + prune are pure SQL on both
# engines; the 100 TB path swaps in trained cells (the
# embedding_near_dup_ivf machinery: nlist ∝ N, IMI above the flat cap).
_SEMDEDUP_K = 8
_SEMDEDUP_TAU = _NEARDUP_THRESHOLD
_SEMDEDUP_CENTROIDS = [qvec(10.0 + i) for i in range(_SEMDEDUP_K)]
_SEMDEDUP_FIXED_MAX_ROWS_ENV = "SPARK_GRAFT_SEMDEDUP_FIXED_MAX_ROWS"
_SEMDEDUP_FIXED_MAX_ROWS_DEFAULT = 100_000


def _semdedup_fixed_max_rows() -> int:
    import os

    return int(
        os.environ.get(
            _SEMDEDUP_FIXED_MAX_ROWS_ENV, _SEMDEDUP_FIXED_MAX_ROWS_DEFAULT
        )
    )


# AQE partition pin for the in-cell self-join (r10, promoting the r9
# BASELINE.md finding from prose to code): AQE's advisory coalescing
# sizes a post-shuffle stage by its input shuffle BYTES, and the
# in-cell self-join's input is tiny while its OUTPUT is quadratic per
# cell — at the 50k-row probe AQE collapsed the stage to ~7 tasks.
# Above this row threshold both join sides get an explicit
# repartition(K, cell). What actually protects the stage is the
# shuffle ORIGIN, not the count: under a sort-merge join,
# EnsureRequirements rewrites the user count to
# spark.sql.shuffle.partitions (measured: 8 -> 32 on local[32]), but
# the REPARTITION_BY_NUM origin survives and such exchanges are
# EXEMPT from AQE coalescing — the stage keeps the full conf-level
# task count instead of the ~7 byte-sized tasks. Pinned in
# tests/test_plan_audit.py.
_SEMDEDUP_PIN_MIN_ROWS_ENV = "SPARK_GRAFT_SEMDEDUP_PIN_MIN_ROWS"
_SEMDEDUP_PIN_MIN_ROWS_DEFAULT = 20_000


def _semdedup_pin_min_rows() -> int:
    import os

    return int(
        os.environ.get(
            _SEMDEDUP_PIN_MIN_ROWS_ENV, _SEMDEDUP_PIN_MIN_ROWS_DEFAULT
        )
    )


def _assign_fixed_cells(emb: DataFrame, cent_list: list) -> DataFrame:
    """(vec_id, embedding, cell, ccos, nrm): assign every embedding to
    its argmax ROUNDED-cosine cell (lowest cell id on ties) — THE
    deterministic fixed-centroid assignment rule, extracted r10
    (review) so the round-before-argmax and tie-break rules cannot
    drift apart across their call sites: ``semantic_dedup``,
    ``incremental_semantic_dedup``, and the oracled IVF plan
    ``ann_ivf_cosine_fixed`` all share this one implementation (each
    DuckDB twin mirrors it with the identical QUALIFY row_number
    clause).

    r12 OPTIMIZATION (guide §1.2 per-task work): the embedding's norm
    is computed ONCE per row BEFORE the K-way broadcast crossJoin and
    each centroid's norm once driver-side (both sqrt(left-assoc
    Σv²) — bit-identical to the inline recompute, Python and the JVM
    both doing IEEE-754 double ops with a correctly-rounded sqrt), so
    each (row, cell) pair evaluates ONE unrolled dot instead of three.
    The norm is RETURNED as ``nrm`` so pair-scoring callers reuse it
    too. (A fully map-only literal-argmax projection was tried first
    and REJECTED: 8 unrolled 64-dim cosines in one projection exceed
    Janino's 64 KB method limit — ColumnarToRow input pins codegen
    locals, Spark cannot split the method, and the whole stage falls
    back to the interpreter, measured 4× slower than this shape.)"""
    import math

    from aiotcvectordb_spark.functions.vector import dot_score_fixed

    rows = []
    for cell, cvec in enumerate(cent_list):
        acc = 0.0
        for v in cvec:
            acc += float(v) * float(v)
        rows.append((cell, [float(v) for v in cvec], math.sqrt(acc)))
    cents = emb.sparkSession.createDataFrame(
        rows, "cell int, cvec array<double>, cnrm double"
    )
    nrm = F.sqrt(dot_score_fixed("embedding", "embedding", DIM))
    w = Window.partitionBy("vec_id").orderBy(
        F.col("ccos").desc(), F.col("cell").asc()
    )
    return (
        emb.select("vec_id", "embedding", nrm.alias("nrm"))
        .crossJoin(F.broadcast(cents))
        .select(
            "vec_id",
            "embedding",
            "nrm",
            "cell",
            F.round(
                F.coalesce(
                    dot_score_fixed("embedding", "cvec", DIM)
                    / F.nullif(F.col("nrm") * F.col("cnrm"), F.lit(0.0)),
                    F.lit(0.0),
                ),
                ROUND_DIGITS,
            ).alias("ccos"),
        )
        .withColumn("rn", F.row_number().over(w))
        .filter("rn = 1")
        .drop("rn")
    )


def q_semantic_dedup(
    spark: SparkSession, sf_dir: str, *, _known_rows: int | None = None
) -> DataFrame:
    """SemDeDup semantic deduplication, ORACLED (r8).

    Published semantics, made deterministic: (1) every embedding is
    assigned to its max-cosine cell (ties → lowest cell id; cosines
    rounded to ROUND_DIGITS so Spark and DuckDB agree bit-for-bit);
    (2) within a cell, x is a ``semantic_dup`` iff some same-cell y
    with cos(x, y) >= tau PRECEDES it in SemDeDup's keep order —
    centroid-cosine ASC (the paper keeps the example LEAST similar to
    the centroid), vec_id ASC as the tie-break. Survivors = one
    representative per semantic group.

    Scale shape: one broadcast of K centroid literals (nested-loop
    against the scan, argmax via a vec_id-keyed window), then ONE
    cell-keyed self-equi-join — sum(cell²) pairwise work, never N²;
    the unrolled fixed-dim cosine stays in whole-stage codegen. At
    100 TB: centroids come from the bounded-sample spherical-kmeans
    trainer and nlist grows ∝ N (cells of ~2k rows), exactly the
    embedding_near_dup_ivf assignment machinery — this entry pins the
    celled prune SEMANTICS under a driver hash with fixed centroids
    (an iterative fit is not SQL-expressible).

    Fail-fast cap (r8, the embedding_near_dup precedent): with K fixed
    the in-cell join grows N²/K, so any caller invoking THIS oracled
    entry above the knee gets a ValueError naming the scale router —
    the quadratic plan is unreachable at scale from every entry point,
    and the driver hash always vouches for the plan that actually
    ran."""
    emb = load(spark, sf_dir, "embeddings").select("vec_id", "embedding")
    # the scale router (semantic_dedup_auto) has already counted the
    # frame to pick this plan — reuse its count instead of a second
    # parquet-metadata job (r9, advisor)
    n_rows = emb.count() if _known_rows is None else _known_rows
    cap = max(_semdedup_fixed_max_rows(), _SEMDEDUP_FIXED_MAX_ROWS_DEFAULT)
    if n_rows > cap:
        raise ValueError(
            f"semantic_dedup is the FIXED-{_SEMDEDUP_K}-cell oracled plan "
            f"(in-cell join grows N²/K), capped at {cap} rows (corpus has "
            f"{n_rows}); use semantic_dedup_auto (scale-routed) or raise "
            f"{_SEMDEDUP_FIXED_MAX_ROWS_ENV} explicitly"
        )
    assigned = _assign_fixed_cells(emb, _SEMDEDUP_CENTROIDS)
    # r13 (guide §2.4 remove shuffles / §4.2 batch native work): the
    # in-cell domination prune runs as ONE applyInPandas per cell
    # (operators/semdedup.prune_cells_exact) instead of the celled
    # self-join + DISTINCT + flag join-back — 9 exchanges -> 4 and the
    # sum(cell²) pair work moves from codegen pair ROWS into chunked
    # BLAS inside the task. The pair decision is the SQL plan's
    # bit-for-bit (sequential-fold dot via the assignment's own nrm,
    # Spark HALF_UP rounding; near-tie pairs recomputed exactly — see
    # the kernel's module comment), verified by old-vs-new byte-equal
    # outputs at sf0.001/0.01/0.1 and DuckDB parity MATCH.
    from aiotcvectordb_spark.operators.semdedup import prune_cells_exact

    sel = assigned.select("vec_id", "embedding", "cell", "ccos", "nrm")
    if n_rows > _semdedup_pin_min_rows():
        # quadratic per-cell work on tiny input bytes: pin one task per
        # cell so AQE's byte-based coalescing cannot collapse the stage
        # (REPARTITION_BY_NUM origin is coalesce-exempt, and the
        # groupBy's ClusteredDistribution is satisfied so no second
        # exchange appears — see _SEMDEDUP_PIN_MIN_ROWS_DEFAULT)
        sel = sel.repartition(_SEMDEDUP_K, "cell")
    return prune_cells_exact(sel, _SEMDEDUP_TAU)


def _semdedup_cents_sql() -> str:
    rows = ", ".join(
        f"({i}, {_sql_vec(v)})" for i, v in enumerate(_SEMDEDUP_CENTROIDS)
    )
    return f"cents(cell, cvec) AS (VALUES {rows})"


_SEMDEDUP_PAIR_COS = (
    "round(COALESCE(list_dot_product(a.emb, b.emb) / "
    "NULLIF(sqrt(list_dot_product(a.emb, a.emb)) * "
    "sqrt(list_dot_product(b.emb, b.emb)), 0), 0.0), "
    f"{ROUND_DIGITS})"
)

ORACLE_SEMANTIC_DEDUP = f"""
WITH {_semdedup_cents_sql()},
scored AS (
  SELECT e.vec_id, CAST(e.embedding AS DOUBLE[]) AS emb, c.cell,
         round(COALESCE(list_dot_product(CAST(e.embedding AS DOUBLE[]), c.cvec)
           / NULLIF(sqrt(list_dot_product(CAST(e.embedding AS DOUBLE[]), CAST(e.embedding AS DOUBLE[])))
              * sqrt(list_dot_product(c.cvec, c.cvec)), 0), 0.0),
           {ROUND_DIGITS}) AS ccos
  FROM embeddings e CROSS JOIN cents c
),
assigned AS (
  SELECT vec_id, emb, cell, ccos FROM scored
  QUALIFY row_number() OVER (PARTITION BY vec_id ORDER BY ccos DESC, cell) = 1
),
dominated AS (
  SELECT DISTINCT b.vec_id
  FROM assigned a JOIN assigned b ON a.cell = b.cell
   AND (a.ccos < b.ccos OR (a.ccos = b.ccos AND a.vec_id < b.vec_id))
  WHERE {_SEMDEDUP_PAIR_COS} >= {_SEMDEDUP_TAU}
)
SELECT s.vec_id, s.cell, s.ccos,
       (d.vec_id IS NOT NULL) AS semantic_dup
FROM assigned s LEFT JOIN dominated d USING (vec_id)
"""


def _semantic_dedup_trained(
    spark: SparkSession, emb: DataFrame, *, nlist: int
) -> DataFrame:
    """Trained-cell SemDeDup: driver-side SAMPLED spherical k-means
    (bounded collect — the PQ training pattern), hard max-cosine
    assignment as one Arrow matmul per batch, then the per-cell BLAS
    domination prune. Both kernels live in ``operators/semdedup.py``
    and are SHARED with the streaming ingest twin
    (streaming/semdedup.py) — batch == stream by construction."""
    from aiotcvectordb_spark.operators.semdedup import (
        assign_cells,
        prune_cells,
    )

    C = _sampled_spherical_kmeans(emb.select("vec_id", "embedding"), nlist)
    return prune_cells(
        assign_cells(emb.select("vec_id", "embedding"), C), _SEMDEDUP_TAU
    )


def q_incremental_semantic_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Semantic dedup of a NEW batch against a STANDING corpus — the
    SemDeDup member of the incremental family (minhash →
    ``incremental_dedup``, substrings → ``incremental_substring_dedup``,
    embeddings → here), and the batch twin of
    ``streaming/semdedup.py``'s per-epoch semantics: a batch embedding
    (vec_id >= _INCR_SPLIT) is a ``semantic_dup`` iff ANY standing same-cell
    member reaches cosine tau (earlier arrivals dominate regardless of
    centroid cosine — first-arrival-wins), or a batch-mate that precedes
    it in the keep order (ccos ASC, vec_id ASC) does. Equality with the
    streaming sink's epoch-1 flags is pinned in
    tests/test_stream_semdedup.py.

    Plan: the fixed-centroid assignment of ``semantic_dedup`` on both
    sides, then batch-side rows join standing members on the CELL id
    only — O(batch × touched-cell membership), no corpus × corpus.
    ORACLED as of r9 (ORACLE_INCREMENTAL_SEMANTIC_DEDUP — written in
    r8, registration deferred one round for rotation slack).
    Shares ``semantic_dedup``'s fail-fast cap:
    with K fixed the standing cells grow N/K, so at serving scale the
    stored member index + trained cells (streaming/semdedup.py,
    semantic_dedup_auto) replace this oracle-checkable recompute."""
    emb = load(spark, sf_dir, "embeddings").select("vec_id", "embedding")
    n_rows = emb.count()  # parquet-metadata count
    cap = max(_semdedup_fixed_max_rows(), _SEMDEDUP_FIXED_MAX_ROWS_DEFAULT)
    if n_rows > cap:
        raise ValueError(
            f"incremental_semantic_dedup recomputes fixed-{_SEMDEDUP_K}-cell "
            f"standing membership (grows N/K per cell), capped at {cap} rows "
            f"(corpus has {n_rows}); at scale use the streaming member index "
            f"(streaming/semdedup.py) or semantic_dedup_auto, or raise "
            f"{_SEMDEDUP_FIXED_MAX_ROWS_ENV} explicitly"
        )
    assigned = _assign_fixed_cells(emb, _SEMDEDUP_CENTROIDS)
    # r13 (guide §2.4 / §4.2, the semantic_dedup rewrite applied to the
    # incremental lane): both cell-keyed joins + their DISTINCTs +
    # union + flag join-back collapse into ONE applyInPandas per cell —
    # the kernel's ``prior`` flag reproduces first-arrival-wins exactly
    # (a standing member dominates every batch row it reaches,
    # unordered; batch-mates dominate in keep order), and only batch
    # rows are returned, the same contract as the joins it replaces.
    # Pair decisions bit-for-bit as in semantic_dedup (see kernel).
    from aiotcvectordb_spark.operators.semdedup import prune_cells_exact

    sel = assigned.select(
        "vec_id",
        "embedding",
        "cell",
        "ccos",
        "nrm",
        (F.col("vec_id") < F.lit(_INCR_SPLIT)).alias("prior"),
    )
    if n_rows > _semdedup_pin_min_rows():
        # same AQE coalescing hazard as semantic_dedup: quadratic
        # per-cell work on tiny input bytes — pin one task per cell
        sel = sel.repartition(_SEMDEDUP_K, "cell")
    return prune_cells_exact(sel, _SEMDEDUP_TAU)





def q_semantic_dedup_auto(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SemDeDup, scale-routed (the ``embedding_near_dup_auto``
    pattern): ONE entry point, two physical plans picked by corpus
    size so fixed-K cells (whose in-cell join grows N²/K) cannot be
    invoked on 100 TB by accident.

    - small (n ≤ K·cell_rows): the oracled fixed-centroid plan
      (``semantic_dedup``) — hash-checkable, bit-deterministic;
    - large: nlist = n / ~2000 trained cells (bounded-sample spherical
      k-means), Arrow matmul hard assignment, per-cell BLAS prune —
      cell size stays CONSTANT as N grows, so total prune work is
      linear in N. Rows-only by design (an iterative fit has no SQL
      oracle); the trained path's keep semantics are pinned against
      the oracled plan in pytest on constructed corpora."""
    emb = load(spark, sf_dir, "embeddings").select("vec_id", "embedding")
    n_rows = emb.count()  # parquet-metadata count
    if n_rows <= _SEMDEDUP_K * _IVF_NEARDUP_CELL_ROWS:
        return q_semantic_dedup(spark, sf_dir, _known_rows=n_rows)
    nlist = max(
        2, min(n_rows // _IVF_NEARDUP_CELL_ROWS, _IVF_NEARDUP_FLAT_MAX_NLIST)
    )
    return _semantic_dedup_trained(spark, emb, nlist=nlist)


# --------------------------------------------------------------------------
# Internal relational primitives (SURVEY §2.7) exercised as queries
# --------------------------------------------------------------------------


def q_group_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-group top-k window — THE core search primitive, shown on
    relational data: top-3 orders per customer by totalprice."""
    df = load(spark, sf_dir, "orders")
    w = Window.partitionBy("o_custkey").orderBy(
        F.col("o_totalprice").desc(), F.col("o_orderkey").asc()
    )
    return (
        df.withColumn("rn", F.row_number().over(w).cast("int"))
        .filter("rn <= 3")
        .select("o_custkey", "o_orderkey", "o_totalprice", "rn")
    )


ORACLE_GROUP_TOPK = """
SELECT o_custkey, o_orderkey, o_totalprice,
       CAST(row_number() OVER (PARTITION BY o_custkey
            ORDER BY o_totalprice DESC, o_orderkey) AS INT) AS rn
FROM orders QUALIFY rn <= 3
"""


def q_group_topk_salted(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The SKEW-SAFE physical plan for the same logical top-k
    (partitioning.salted_group_topk): phase 1 ranks within
    (key, salt-of-row-hash) so a hot key spreads over 16 tasks and each
    keeps only its local top-3; phase 2 ranks the <= 16x3 survivors per
    key. Shares ORACLE_GROUP_TOPK verbatim — the driver hash proves the
    salted two-phase output is identical to the plain window."""
    from aiotcvectordb_spark.partitioning import salted_group_topk

    df = load(spark, sf_dir, "orders").select(
        "o_custkey", "o_orderkey", "o_totalprice"
    )
    return salted_group_topk(
        df,
        ["o_custkey"],
        [F.col("o_totalprice").desc(), F.col("o_orderkey").asc()],
        3,
    ).withColumn("rn", F.col("rn").cast("int"))


def q_agg_groupby_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Partial-aggregated groupBy (map-side combine): pricing summary."""
    df = load(spark, sf_dir, "lineitem")
    return (
        df.filter("l_shipdate <= timestamp '1998-09-02 00:00:00'")
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            F.round(F.sum("l_quantity"), 3).alias("sum_qty"),
            F.round(F.sum("l_extendedprice"), 3).alias("sum_price"),
            F.round(
                F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 3
            ).alias("sum_disc_price"),
            F.round(F.avg("l_discount"), ROUND_DIGITS).alias("avg_disc"),
            F.count("*").alias("count_order"),
        )
    )


ORACLE_AGG_GROUPBY_STATS = """
SELECT l_returnflag, l_linestatus,
       round(sum(l_quantity), 3) AS sum_qty,
       round(sum(l_extendedprice), 3) AS sum_price,
       round(sum(l_extendedprice * (1 - l_discount)), 3) AS sum_disc_price,
       round(avg(l_discount), 6) AS avg_disc,
       count(*) AS count_order
FROM lineitem
WHERE l_shipdate <= TIMESTAMP '1998-09-02 00:00:00'
GROUP BY l_returnflag, l_linestatus
"""


# --------------------------------------------------------------------------
# SimHash dedup (north star)
# --------------------------------------------------------------------------

# 60 bits: the full width of the portable md5-prefix hash (and the
# widest signed-safe fingerprint — bit 63 would flip the bigint sign).
_SIMHASH_BITS = 60


# Packed-counter aggregation: 3 per-bit counters per 64-bit sum, 21 bits
# each — sound while a document stays under 2^21 (~2M) tokens, far above
# any real training document.
_SIMHASH_FIELD_BITS = 21
_SIMHASH_FIELDS_PER_LONG = 3


def q_simhash_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SimHash fingerprint: per-token portable 60-bit hash; each of the
    {_SIMHASH_BITS} fingerprint bits is the sign of the tf-weighted sum
    of that bit over the doc's terms. One explode + two groupBy shuffles,
    all JVM expressions.

    Instead of 60 conditional sums, the per-bit counters are PACKED three
    to a long with 21-bit fields (`c_j = sum(bit_j(h) * tf)` is
    non-negative, so fields never borrow; no carry can cross a field
    while per-doc token mass < 2^21). That cuts the aggregation to 21
    sum buffers — ~35% faster wall-clock and a third of the agg-buffer
    footprint at scale. Bit j of the fingerprint is then
    `2*c_j > T` (T = total tf), integer-identical to `sign(sum(+-tf))`
    in the 60-sum formulation the DuckDB oracle still uses."""
    df = load_wide(spark, sf_dir, "documents")
    # Aggregate to (doc, token, tf) FIRST: tokens repeat ~2.3x within
    # docs, so hashing distinct terms (not occurrences) cuts the md5
    # string work and the conditional sum input by that factor.
    terms = (
        df.select(
            "doc_id",
            F.explode_outer(sparse_fn.bm25_tokens_col("text")).alias("token"),
        ).filter(F.col("token").isNotNull())  # r12: outer generate + NULL filter — no inferred size-filter re-tokenizing serially below the exchange (see pipelines.token_shingles)
        .groupBy("doc_id", "token")
        .agg(F.count("*").alias("tf"))
        .withColumn("h", F.expr(_portable_hash_expr("token")))
    )
    fb, fpl = _SIMHASH_FIELD_BITS, _SIMHASH_FIELDS_PER_LONG
    n_longs = (_SIMHASH_BITS + fpl - 1) // fpl
    packed = [
        F.sum(
            F.expr(
                " + ".join(
                    f"shiftleft(((h >> {g * fpl + k}) & 1) * tf, {k * fb})"
                    for k in range(fpl)
                    if g * fpl + k < _SIMHASH_BITS
                )
            )
        ).alias(f"p{g}")
        for g in range(n_longs)
    ]
    sums = terms.groupBy("doc_id").agg(F.sum("tf").alias("T"), *packed)
    mask = (1 << fb) - 1
    fp = None
    for j in range(_SIMHASH_BITS):
        g, k = divmod(j, fpl)
        c = F.expr(f"(p{g} >> {k * fb}) & {mask}")
        term = F.when(c * 2 > F.col("T"), F.lit(1 << j)).otherwise(F.lit(0))
        fp = term if fp is None else fp + term
    # Fail LOUDLY if a doc's token mass reaches the 21-bit field bound —
    # past it the packed counters would carry into the neighbor field and
    # silently corrupt fingerprints.
    guarded = F.expr(
        f"CASE WHEN T < {1 << fb} THEN fp_ ELSE "
        f"CAST(raise_error('simhash: document token mass >= 2^{fb} "
        f"overflows the packed counters') AS BIGINT) END"
    )
    return sums.withColumn("fp_", fp.cast("long")).select(
        "doc_id", guarded.alias("simhash")
    )


def _simhash_oracle_cte() -> str:
    sum_cols = ", ".join(
        f"sum(tf * (CASE WHEN (h >> {j}) & 1 = 1 THEN 1 ELSE -1 END)) AS s{j}"
        for j in range(_SIMHASH_BITS)
    )
    fp = " + ".join(
        f"(CASE WHEN s{j} > 0 THEN {1 << j} ELSE 0 END)" for j in range(_SIMHASH_BITS)
    )
    return f"""
terms AS (
  SELECT doc_id, t.token AS token, count(*) AS tf
  FROM (SELECT doc_id, {_BM25_TOKS_SQL} AS ts FROM documents), unnest(ts) AS t(token)
  GROUP BY doc_id, t.token
),
hashed AS (
  SELECT doc_id, tf, ('0x' || substr(md5(token), 1, 15))::BIGINT AS h FROM terms
),
sums AS (SELECT doc_id, {sum_cols} FROM hashed GROUP BY doc_id),
fp AS (SELECT doc_id, CAST({fp} AS BIGINT) AS simhash FROM sums)"""


ORACLE_SIMHASH_FINGERPRINT = f"""
WITH {_simhash_oracle_cte()}
SELECT doc_id, simhash FROM fp
"""

_SIMHASH_MAX_HD = 3
_SIMHASH_BANDS = 4


def q_simhash_near_dup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SimHash near-dup pairs with hamming distance <= {_SIMHASH_MAX_HD}.

    Banding is LOSSLESS here: {_SIMHASH_BITS} bits in {_SIMHASH_BANDS}
    bands — by pigeonhole, <= {_SIMHASH_MAX_HD} differing bits can touch
    at most {_SIMHASH_MAX_HD} bands, so every qualifying pair shares at
    least one full band and lands in a common bucket. 15-bit bands give
    32k bucket values per band, so buckets stay small and the in-bucket
    pair expansion is near-linear. Same bucket-combination shape as the
    minhash op (one shuffle, no self-join), then exact hamming
    verification via bit_count(xor)."""
    width = _SIMHASH_BITS // _SIMHASH_BANDS
    fp = q_simhash_fingerprint(spark, sf_dir)
    bands = fp.select(
        "doc_id",
        "simhash",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(j).alias("band"),
                        F.expr(
                            f"(simhash >> {j * width}) & {(1 << width) - 1}"
                        ).alias("bh"),
                    )
                    for j in range(_SIMHASH_BANDS)
                ]
            )
        ).alias("b"),
    ).select("doc_id", "simhash", "b.band", "b.bh")
    buckets = (
        bands.groupBy("band", "bh")
        .agg(
            F.sort_array(
                F.collect_list(F.struct(F.col("doc_id"), F.col("simhash")))
            ).alias("ds")
        )
        .filter(F.size("ds") >= 2)
    )
    combos = F.expr(
        "flatten(transform(ds, (x, i) -> "
        "transform(slice(ds, i + 2, size(ds) - i - 1), "
        "y -> struct(x.doc_id AS doc_a, x.simhash AS sa, "
        "y.doc_id AS doc_b, y.simhash AS sb))))"
    )
    return (
        buckets.select(F.explode(combos).alias("p"))
        .select("p.doc_a", "p.doc_b", "p.sa", "p.sb")
        .distinct()
        .withColumn("hamming", F.expr("bit_count(sa ^ sb)").cast("int"))
        .filter(F.col("hamming") <= _SIMHASH_MAX_HD)
        .select("doc_a", "doc_b", "hamming")
    )


ORACLE_SIMHASH_NEAR_DUP = f"""
WITH {_simhash_oracle_cte()}
SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
       CAST(bit_count(xor(a.simhash, b.simhash)) AS INT) AS hamming
FROM fp a JOIN fp b ON a.doc_id < b.doc_id
WHERE bit_count(xor(a.simhash, b.simhash)) <= {_SIMHASH_MAX_HD}
"""


# --------------------------------------------------------------------------
# Token counting (north star)
# --------------------------------------------------------------------------

_BPE_ISH_RE = r"[a-z0-9]+|[^a-z0-9\s]"


def q_token_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token counting: whitespace tokens and a BPE-ish regex token count
    (alnum runs; every other non-space char its own token)."""
    df = load(spark, sf_dir, "documents")
    return df.select(
        "doc_id",
        F.expr(
            "size(filter(split(text, '\\\\s+'), t -> t != ''))"
        ).cast("long").alias("ws_tokens"),
        F.regexp_count(F.lower(F.col("text")), F.lit(_BPE_ISH_RE))
        .cast("long")
        .alias("bpe_tokens"),
    )


ORACLE_TOKEN_COUNT = rf"""
SELECT doc_id,
       CAST(len(list_filter(regexp_split_to_array(text, '\s+'), t -> t != '')) AS BIGINT) AS ws_tokens,
       CAST(len(regexp_extract_all(lower(text), '{_BPE_ISH_RE}')) AS BIGINT) AS bpe_tokens
FROM documents
"""


# --------------------------------------------------------------------------
# Hybrid weighted fusion (op 32, WeightedRerank)
# --------------------------------------------------------------------------

_HYBRID_WEIGHTS = (0.7, 0.3)


def q_hybrid_weighted(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Op 32 WeightedRerank: per-leg min-max normalization over the
    fetched top-40, then weighted sum (reference stub.py:759)."""
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
        rerank={"type": "weighted", "weights": list(_HYBRID_WEIGHTS)},
        limit=10,
        fetch_k=40,
        round_digits=ROUND_DIGITS,
        postings=sparse_index(spark, sf_dir),
    ).select(
        "query_idx", "doc_id", "score", F.col("rank").cast("int").alias("rank")
    )


ORACLE_HYBRID_WEIGHTED = f"""
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
  SELECT doc_id, s, row_number() OVER (ORDER BY s DESC, doc_id) AS rank
  FROM dense_scored QUALIFY rank <= 40
),
dnorm AS (
  SELECT doc_id,
         {_HYBRID_WEIGHTS[0]} * (CASE WHEN max(s) OVER () > min(s) OVER ()
           THEN (s - min(s) OVER ()) / (max(s) OVER () - min(s) OVER ())
           ELSE 1.0 END) AS c
  FROM dense
),
{_bm25_oracle_cte("base")},
sparse AS (
  SELECT doc_id, round(s, {ROUND_DIGITS}) AS s,
         row_number() OVER (ORDER BY round(s, {ROUND_DIGITS}) DESC, doc_id) AS rank
  FROM scored QUALIFY rank <= 40
),
snorm AS (
  SELECT doc_id,
         {_HYBRID_WEIGHTS[1]} * (CASE WHEN max(s) OVER () > min(s) OVER ()
           THEN (s - min(s) OVER ()) / (max(s) OVER () - min(s) OVER ())
           ELSE 1.0 END) AS c
  FROM sparse
),
contribs AS (SELECT doc_id, c FROM dnorm UNION ALL SELECT doc_id, c FROM snorm),
fused AS (SELECT doc_id, sum(c) AS s FROM contribs GROUP BY doc_id)
SELECT 0 AS query_idx, doc_id, round(s, {ROUND_DIGITS}) AS score,
       CAST(row_number() OVER (ORDER BY s DESC, doc_id) AS INT) AS rank
FROM fused QUALIFY rank <= 10 ORDER BY rank
"""


# --------------------------------------------------------------------------
# Chunk split + expand (ops 38/39/43 semantics on relational testdata)
# --------------------------------------------------------------------------

_CHUNK_TOKENS = 5
_CHUNK_HIT_TOKEN = "data"


def q_chunk_expand(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RAG chunk pipeline semantics (reference collection_view.py:144-171
    expand_chunk): split every document into {_CHUNK_TOKENS}-token
    chunks, mark chunks containing the probe token as hits, and return
    each hit expanded with its +-1 neighboring chunks."""
    df = load_wide(spark, sf_dir, "documents")
    # tokens materialized once per row (lambda bodies re-evaluate their
    # subtree per element — see q_minhash_signatures)
    toked = df.select(
        "doc_id", sparse_fn.bm25_tokens_col("text").alias("__toks")
    )
    # r12: size guard inside the row expression + outer generate — the
    # explicit size filter re-tokenized serially below the widen
    # exchange (see pipelines.token_shingles); row set unchanged
    n_chunks = f"cast(ceil(size(__toks) / {_CHUNK_TOKENS}.0) as int)"
    chunk_arr = (
        f"CASE WHEN size(__toks) > 0 THEN "
        f"transform(sequence(0, {n_chunks} - 1), "
        f"i -> concat_ws(' ', slice(__toks, i * {_CHUNK_TOKENS} + 1, {_CHUNK_TOKENS}))) "
        f"ELSE cast(array() as array<string>) END"
    )
    chunks = toked.select(
        "doc_id",
        F.posexplode_outer(F.expr(chunk_arr)).alias("chunk_pos", "chunk_text"),
    ).filter(F.col("chunk_text").isNotNull())
    hits = chunks.filter(
        F.array_contains(F.split("chunk_text", " "), _CHUNK_HIT_TOKEN)
    ).select(F.col("doc_id").alias("h_doc"), F.col("chunk_pos").alias("h_pos"))
    return (
        chunks.join(
            F.broadcast(hits),
            (F.col("doc_id") == F.col("h_doc"))
            & (F.abs(F.col("chunk_pos") - F.col("h_pos")) <= 1),
        )
        .groupBy("doc_id", "chunk_pos", "chunk_text")
        .agg(F.expr("bool_or(chunk_pos = h_pos)").alias("is_hit"))
    )


ORACLE_CHUNK_EXPAND = f"""
WITH toks AS (
  SELECT doc_id, {_BM25_TOKS_SQL} AS ts FROM documents WHERE len({_BM25_TOKS_SQL}) > 0
),
chunks AS (
  SELECT doc_id, CAST(r.i AS INT) AS chunk_pos,
         array_to_string(ts[r.i * {_CHUNK_TOKENS} + 1 : r.i * {_CHUNK_TOKENS} + {_CHUNK_TOKENS}], ' ') AS chunk_text
  FROM toks, unnest(range(0, CAST(ceil(len(ts) / {_CHUNK_TOKENS}.0) AS BIGINT))) AS r(i)
),
hits AS (
  SELECT doc_id AS h_doc, chunk_pos AS h_pos FROM chunks
  WHERE list_contains(str_split(chunk_text, ' '), '{_CHUNK_HIT_TOKEN}')
)
SELECT c.doc_id, c.chunk_pos, c.chunk_text,
       bool_or(c.chunk_pos = h.h_pos) AS is_hit
FROM chunks c JOIN hits h
  ON c.doc_id = h.h_doc AND abs(c.chunk_pos - h.h_pos) <= 1
GROUP BY c.doc_id, c.chunk_pos, c.chunk_text
"""
