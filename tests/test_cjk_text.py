"""CJK tokenization through the sparse/full-text/embedding paths.

Mirrors the reference's flagship Chinese text test
(tests/test_documents/test_documents_search_text.py:20-33: searching
"苹果" must rank the apple document first — the reference's encoder is
jieba-backed, reference pyproject.toml:13). Our public-knowledge
equivalent is CJK character bigrams (the Lucene CJKAnalyzer approach);
these tests pin the ranking behavior and the tokenizer contract.
"""

from __future__ import annotations

import pytest

from aiotcvectordb_spark.functions import sparse as sparse_fn
from aiotcvectordb_spark.functions.embedding import _tokens as embed_tokens
from aiotcvectordb_spark.operators import fulltext


CJK_DOCS = [
    ("t_apple", "苹果很好吃，我每天都吃一个大苹果"),
    ("t_banana", "香蕉是黄色的水果，猴子最爱吃香蕉"),
    ("t_grape", "葡萄可以用来酿酒，紫色的葡萄很甜"),
    ("t_en", "plain english text about fruit and apples"),
]


def test_query_tokenizer_cjk_bigrams():
    assert sparse_fn._TOKENS_FOR_QUERY("苹果") == ["苹果"]
    assert sparse_fn._TOKENS_FOR_QUERY("我喜欢苹果") == [
        "我喜", "喜欢", "欢苹", "苹果",
    ]
    # mixed script: latin words stay words, CJK runs become bigrams
    assert sparse_fn._TOKENS_FOR_QUERY("apple 苹果汁 100ml") == [
        "apple", "苹果", "果汁", "100ml",
    ]
    # single CJK char survives as itself
    assert sparse_fn._TOKENS_FOR_QUERY("茶") == ["茶"]
    # ASCII behavior identical to the plain tokenizer
    import re

    for text in ["Hello, World_3", "foo-bar baz", "", "..."]:
        old = [t for t in re.split(sparse_fn.TOKEN_SPLIT_RE, text.lower()) if t]
        assert sparse_fn._TOKENS_FOR_QUERY(text) == old


def test_spark_tokenizer_matches_python(spark):
    texts = [t for _, t in CJK_DOCS] + ["茶", "", "！？", "한국어 text です"]
    df = spark.createDataFrame([(t,) for t in texts], ["text"])
    got = [r[0] for r in df.select(sparse_fn.bm25_tokens_col("text")).collect()]
    want = [sparse_fn._TOKENS_FOR_QUERY(t) for t in texts]
    assert got == want
    # the F.expr string form (used by shingling queries) is identical
    from pyspark.sql import functions as F

    got_sql = [
        r[0] for r in df.select(F.expr(sparse_fn.bm25_tokens_sql("text"))).collect()
    ]
    assert got_sql == want


def test_duckdb_oracle_tokenizer_matches_python():
    """The DuckDB oracle expression (_BM25_TOKS_SQL) must agree with
    the driver-side tokenizer on CJK and ASCII — the three-way
    equality that makes every CJK-aware oracle trustworthy."""
    import duckdb

    from aiotcvectordb_spark.qfam.core import _BM25_TOKS_SQL

    texts = [t for _, t in CJK_DOCS] + ["茶", "", "！？", "한국어 text です"]
    con = duckdb.connect()
    expr = _BM25_TOKS_SQL
    got = [
        con.execute(f"SELECT {expr} FROM (SELECT ? AS text)", [t]).fetchone()[0]
        for t in texts
    ]
    assert got == [sparse_fn._TOKENS_FOR_QUERY(t) for t in texts]


def test_fulltext_chinese_ranks_apple_doc_first(spark):
    """The reference ranking property: query 苹果 → apple doc first."""
    df = spark.createDataFrame(CJK_DOCS, ["doc_id", "text"])
    hits = fulltext.fulltext_search_df(
        df, "苹果", id_col="doc_id", text_col="text", limit=4
    ).collect()
    assert hits, "Chinese query must match (was zero hits pre-CJK tokenizer)"
    assert hits[0]["doc_id"] == "t_apple"

    hits_b = fulltext.fulltext_search_df(
        df, "香蕉", id_col="doc_id", text_col="text", limit=4
    ).collect()
    assert hits_b[0]["doc_id"] == "t_banana"


def test_embedding_tokens_cjk_bigrams_share_terms():
    toks_doc = embed_tokens("苹果很好吃")
    toks_q = embed_tokens("苹果")
    assert "苹果" in toks_doc and toks_q == ["苹果"]
    # mixed token with latin+CJK splits into both parts
    assert embed_tokens("abc苹果def") == ["abc", "苹果", "def"]


def test_registry_cjk_query_matches_reference_semantics(spark):
    from aiotcvectordb_spark import queries as Q

    rows = Q.q_fulltext_bm25_cjk(spark, "").collect()
    assert [r["doc_id"] for r in rows][:1] == ["c_apple"]
    assert all(r["score"] > 0 for r in rows)


def test_engine_search_by_text_chinese(engine):
    """Engine-path mirror of the reference's Chinese semantic test:
    upsert Chinese docs through the ai-mode embedding path, then
    search_by_text with a related Chinese query ranks the apple doc
    first (CJK bigrams give the hash embedder shared coordinates)."""
    from aiotcvectordb_spark.catalog import IndexField

    engine.create_database("db_cjk")
    engine.create_collection(
        "db_cjk",
        "cjk_coll",
        indexes=[
            IndexField(name="id", kind="primary_key", field_type="string"),
            IndexField(
                name="vector", kind="vector", field_type="vector",
                metric_type="COSINE", index_type="FLAT", dimension=64,
            ),
        ],
        embedding={"field": "text", "vector_field": "vector", "model": "hash-embed"},
        if_not_exists=True,
    )
    engine.upsert(
        "db_cjk", "cjk_coll",
        [{"id": i, "vector": t} for i, t in CJK_DOCS],
    )
    hits = engine.search_by_text(
        "db_cjk", "cjk_coll", ["苹果好吃吗"], limit=4
    )
    assert hits[0][0]["id"] == "t_apple"


def test_minhash_shingles_cover_cjk(spark):
    """The dedup family must see CJK content: two near-identical
    Chinese docs share band buckets; with the old ASCII tokenizer they
    produced zero shingles and were invisible to near-dup detection."""
    from aiotcvectordb_spark.pipelines import minhash_band_hashes

    docs = spark.createDataFrame(
        [
            (1, "今天天气很好我们一起去公园散步吧朋友"),
            (2, "今天天气很好我们一起去公园散步吧同事"),  # near-dup of 1
            (3, "完全不同的内容关于机器学习和分布式系统"),
        ],
        ["doc_id", "clean_text"],
    )
    bands = minhash_band_hashes(docs).collect()
    assert bands, "CJK docs must produce band hashes"
    by_doc = {}
    for r in bands:
        by_doc.setdefault(r["doc_id"], set()).add((r["band"], r["h"]))
    assert by_doc.get(1) and by_doc.get(2) and by_doc.get(3)
    shared_12 = by_doc[1] & by_doc[2]
    shared_13 = by_doc[1] & by_doc[3]
    assert shared_12, "near-identical CJK docs must collide in a band"
    assert not shared_13, "unrelated CJK docs must not collide everywhere"


def test_text_quality_counts_cjk_tokens(spark):
    from aiotcvectordb_spark import queries as Q

    df = spark.createDataFrame(
        [("d1", "我喜欢吃苹果"), ("d2", "plain english text")],
        ["doc_id", "text"],
    )
    # route through the same expression the registry query uses
    from aiotcvectordb_spark.functions import sparse as S
    from pyspark.sql import functions as F

    rows = {
        r["doc_id"]: r["n"]
        for r in df.select(
            "doc_id", F.size(S.bm25_tokens_col("text")).alias("n")
        ).collect()
    }
    assert rows["d1"] == 5  # 6-char run -> 5 bigrams
    assert rows["d2"] == 3


def test_quality_gate_keeps_cjk_docs(spark):
    """The curation quality gate must not drop CJK documents: word
    characters include the CJK scripts, so a normal Chinese doc clears
    min_alnum_ratio (pre-r4 it scored ~0 and the whole corpus died)."""
    from aiotcvectordb_spark.pipelines import quality_stage

    docs = spark.createDataFrame(
        [
            (1, "今天天气很好我们一起去公园散步吧朋友们"),
            (2, "plain english document that is long enough"),
            (3, "!!!###$$$%%%^^^&&&***((()))___+++"),  # junk stays junk
        ],
        ["doc_id", "clean_text"],
    )
    rows = {r["doc_id"]: r for r in quality_stage(docs).collect()}
    assert rows[1]["quality_ok"], "Chinese doc must pass the quality gate"
    assert rows[2]["quality_ok"]
    assert not rows[3]["quality_ok"]
    assert rows[1]["n_tokens"] >= 3  # CJK bigrams count as tokens
