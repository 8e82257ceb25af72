"""Embedding search, BM25 full-text, and hybrid fusion.

Mirrors reference tests/test_documents/test_documents_search_text.py
(semantic top-1) and the hybrid/fulltext operator semantics
(stub.py:737-826).
"""

from __future__ import annotations

from aiotcvectordb_spark.catalog import IndexField


def make_embedding_collection(engine, db="db_t", coll="embed_coll"):
    if not engine.catalog.database_exists(db):
        engine.create_database(db)
    engine.create_collection(
        db,
        coll,
        indexes=[
            IndexField(name="id", kind="primary_key", field_type="string"),
            IndexField(
                name="vector", kind="vector", field_type="vector",
                metric_type="COSINE", index_type="FLAT", dimension=32,
            ),
            IndexField(name="text", kind="filter", field_type="string"),
        ],
        embedding={"field": "text", "vector_field": "vector", "model": "hash-embed"},
        if_not_exists=True,
    )
    return db, coll


TEXT_DOCS = [
    {"id": "t_spark", "text": "spark dataframe join aggregation shuffle"},
    {"id": "t_fruit", "text": "apple banana cherry orchard harvest"},
    {"id": "t_db", "text": "vector database index search embedding"},
]


def test_text_upsert_embeds_and_search_by_text_ranks(engine):
    db, coll = make_embedding_collection(engine)
    res = engine.upsert(
        db, coll, [{"id": d["id"], "vector": d["text"]} for d in TEXT_DOCS]
    )
    assert res["affectedCount"] == 3
    assert "embeddingExtraInfo" in res and res["embeddingExtraInfo"]["tokenUsed"] > 0
    hits = engine.search_by_text(
        db, coll, ["apple banana orchard"], limit=3, output_fields=["text"]
    )
    assert hits[0][0]["id"] == "t_fruit"


def test_fulltext_bm25_ranks_matching_doc(engine):
    db, coll = make_embedding_collection(engine, coll="ft_coll")
    engine.upsert(
        db, coll,
        [{"id": d["id"], "text": d["text"], "vector": d["text"]} for d in TEXT_DOCS],
    )
    hits = engine.fulltext_search(
        db, coll, "spark join shuffle", text_col="text", limit=3
    )
    assert hits[0]["id"] == "t_spark"
    assert hits[0]["score"] > 0


def test_hybrid_rrf_fuses_legs(engine):
    db, coll = make_embedding_collection(engine, coll="hy_coll")
    engine.upsert(
        db, coll,
        [{"id": d["id"], "text": d["text"], "vector": d["text"]} for d in TEXT_DOCS],
    )
    from aiotcvectordb_spark.functions.embedding import embed_udf

    qv = embed_udf.python_fn(32)("spark dataframe join")
    res = engine.hybrid_search(
        db, coll,
        ann_vectors=[qv],
        match_text="spark join shuffle",
        limit=3,
        text_col="text",
    )
    assert res[0][0]["id"] == "t_spark"


def test_hybrid_weighted(engine):
    db, coll = make_embedding_collection(engine, coll="hyw_coll")
    engine.upsert(
        db, coll,
        [{"id": d["id"], "text": d["text"], "vector": d["text"]} for d in TEXT_DOCS],
    )
    from aiotcvectordb_spark.functions.embedding import embed_udf

    qv = embed_udf.python_fn(32)("vector database search")
    res = engine.hybrid_search(
        db, coll,
        ann_vectors=[qv],
        match_text="vector database index",
        rerank={"type": "weighted", "weights": [0.5, 0.5]},
        limit=3,
        text_col="text",
    )
    assert res[0][0]["id"] == "t_db"


def test_fulltext_cutoff_frequency_drops_common_terms(spark, sf_dir):
    """cutoff_frequency (reference stub.py:809-816): terms whose document
    frequency exceeds the cap contribute nothing. A corpus-wide stopword
    must stop mattering once cutoff < its df."""
    from aiotcvectordb_spark.operators import fulltext

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    # every-doc term: pick the most frequent token in the corpus
    from aiotcvectordb_spark.functions.sparse import build_postings

    postings, _ = build_postings(docs, id_col="doc_id", text_col="text")
    top = postings.groupBy("token").count().orderBy("count", ascending=False).first()
    common = top["token"]
    rare_q = "zzz_unmatched " + common

    baseline = fulltext.fulltext_search_df(
        docs, rare_q, id_col="doc_id", text_col="text", limit=5
    ).collect()
    assert baseline  # the common term matches documents

    capped = fulltext.fulltext_search_df(
        docs, rare_q, id_col="doc_id", text_col="text", limit=5,
        cutoff_frequency=1,
    ).collect()
    # with df cap 1, the common term is dropped; only df==1 terms score
    assert all(r.score != b.score or r.doc_id != b.doc_id for r, b in
               zip(capped, baseline)) or capped == []

    # fractional cutoff (fraction of corpus) behaves like the absolute cap
    frac = fulltext.fulltext_search_df(
        docs, rare_q, id_col="doc_id", text_col="text", limit=5,
        cutoff_frequency=1 / docs.count(),
    ).collect()
    assert [r.doc_id for r in frac] == [r.doc_id for r in capped]


def test_fulltext_terminate_after_caps_candidates(spark, sf_dir):
    """terminate_after (reference stub.py:807-808): the scored candidate
    pool is capped; results stay deterministic and within the cap."""
    from aiotcvectordb_spark.operators import fulltext

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    full = fulltext.fulltext_search_df(
        docs, "the data model", id_col="doc_id", text_col="text", limit=10
    ).collect()
    capped = fulltext.fulltext_search_df(
        docs, "the data model", id_col="doc_id", text_col="text", limit=10,
        terminate_after=5,
    ).collect()
    assert len(capped) <= 5
    again = fulltext.fulltext_search_df(
        docs, "the data model", id_col="doc_id", text_col="text", limit=10,
        terminate_after=5,
    ).collect()
    assert capped == again  # deterministic under the cap
    assert len(full) >= len(capped)


def test_hybrid_param_objects_single_in_single_out(engine):
    """Reference convention (collection.py:344-354, :399-401): a single
    AnnSearch in -> a single hit-list out; param objects map onto the
    raw-kwargs path."""
    from aiotcvectordb_spark.functions.embedding import embed_udf
    from aiotcvectordb_spark.params import AnnSearch, KeywordSearch, RRFRerank

    db, coll = make_embedding_collection(engine, coll="hyp_coll")
    engine.upsert(
        db, coll,
        [{"id": d["id"], "text": d["text"], "vector": d["text"]} for d in TEXT_DOCS],
    )
    qv = embed_udf.python_fn(32)("apple banana orchard")
    single = engine.hybrid_search(
        db, coll,
        ann=AnnSearch(data=qv),
        match=KeywordSearch(data="apple banana"),
        rerank=RRFRerank(k=60),
        limit=3,
        text_col="text",
    )
    assert isinstance(single, list) and single and isinstance(single[0], dict)
    assert single[0]["id"] == "t_fruit"
    batch = engine.hybrid_search(
        db, coll,
        ann=[AnnSearch(data=qv)],
        match=KeywordSearch(data="apple banana"),
        rerank=RRFRerank(k=60),
        limit=3,
        text_col="text",
    )
    assert isinstance(batch[0], list)
    assert [h["id"] for h in batch[0]] == [h["id"] for h in single]


def test_sql_hash_embedder_matches_dense_embed_udf(spark):
    """r8: q_search_by_text's Catalyst-SQL embedder (md5-bucket
    folding in _hash_embed_sparse) computes EXACTLY the dense hash
    embedding of functions/embedding._embed_one — same buckets, same
    signs, same norm — so the DuckDB-oracled query verifies the real
    embedder semantics. r9: the SQL lane gained the dense embedder's
    CJK bigram path (unicode word split + CJK character bigrams), so
    the pin now covers CJK, mixed CJK/latin, single-CJK-char, and
    underscore/punctuation shapes too."""
    import math

    from aiotcvectordb_spark.functions.embedding import _embed_one
    from aiotcvectordb_spark.qfam.core import DIM
    from aiotcvectordb_spark.qfam.extracts import _hash_embed_sparse

    texts = [
        (1, "spark dataframe join aggregation shuffle"),
        (2, "Apple, banana; CHERRY_orchard harvest!"),
        (3, "repeated repeated repeated token stream"),
        (4, "x"),
        (5, "向量数据库 支持 中文 检索"),
        (6, "mixed 中文retrieval pipeline 数据 flow"),
        (7, "中"),
        (8, "한국어 텍스트와 ひらがな カタカナ mixed"),
        (9, "punct！中文，分词。end"),
    ]
    df = spark.createDataFrame(texts, "doc_id long, text string")
    dvec, dnorm = _hash_embed_sparse(df, "doc_id", "text", DIM)
    sparse = {}
    for r in dvec.collect():
        sparse.setdefault(r.doc_id, {})[r.bucket] = r.dv
    norms = {r.doc_id: r.dn for r in dnorm.collect()}
    for doc_id, text in texts:
        dense = _embed_one(text, DIM)  # L2-normalized signed counts
        raw_norm = norms[doc_id]
        expect = {
            b: v * raw_norm for b, v in enumerate(dense) if v != 0.0
        }
        got = sparse[doc_id]
        assert set(got) == set(expect)
        for b in got:
            assert math.isclose(got[b], expect[b], abs_tol=1e-9)


def test_phrase_search_counts_overlapping_occurrences(spark, tmp_path):
    """Sliding-window semantics: overlapping matches each count; docs
    shorter than the phrase and bag-of-words-only docs never match."""
    from pyspark.sql import functions as F

    from aiotcvectordb_spark import queries as Q

    rows = [
        (0, "value table part value table part tail"),   # 2 hits
        (1, "value value table part table"),             # 1 hit
        (2, "part table value"),                          # bag match only
        (3, "value table"),                               # shorter than m
        (4, "VALUE, table; PART!"),                       # normalization
    ]
    spark.createDataFrame(rows, "doc_id long, text string").write.parquet(
        f"{tmp_path}/documents.parquet"
    )
    got = {
        r.doc_id: (r.phrase_count, r.rank)
        for r in Q.q_fulltext_phrase(spark, str(tmp_path)).collect()
    }
    assert got == {0: (2, 1), 1: (1, 2), 4: (1, 3)}


def test_phrase_search_overlap_self_repeat(spark, tmp_path):
    """'a a a a' contains 'a a' three times — the fold must count every
    overlapping window, matching the oracle's list_filter."""
    # patch the OWNING module (qfam.vector) — q_fulltext_phrase reads
    # its own module global, not the queries re-export (r12 split)
    from aiotcvectordb_spark import queries as Q
    from aiotcvectordb_spark.qfam import vector as QV

    old = QV._PHRASE_QUERY
    QV._PHRASE_QUERY = "a a"
    try:
        spark.createDataFrame(
            [(0, "a a a a")], "doc_id long, text string"
        ).write.parquet(f"{tmp_path}/documents.parquet")
        got = {
            r.doc_id: r.phrase_count
            for r in Q.q_fulltext_phrase(spark, str(tmp_path)).collect()
        }
        assert got == {0: 3}
    finally:
        QV._PHRASE_QUERY = old


def test_phrase_postings_path_equals_scan_fold(spark):
    """The positional-postings m-way join (the serving-scale form) must
    return EXACTLY the scan-side sliding-window fold's frame on the
    real corpus — one semantics, two physical plans. Pinned at sf0.01
    (the driver's correctness scale; the sf0.001 slice has no phrase
    hits, which would vacuously pass)."""
    from aiotcvectordb_spark import queries as Q
    from aiotcvectordb_spark.operators import fulltext
    from aiotcvectordb_spark.qfam.vector import _PHRASE_QUERY

    sf_dir = "/root/testdata/sf0.01"
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    via_postings = {
        (r.doc_id, r.phrase_count, r.rank)
        for r in fulltext.phrase_search_postings(
            docs, _PHRASE_QUERY, id_col="doc_id", text_col="text"
        ).collect()
    }
    via_scan = {
        (r.doc_id, r.phrase_count, r.rank)
        for r in Q.q_fulltext_phrase(spark, sf_dir).collect()
    }
    assert via_postings == via_scan and len(via_scan) > 0


def test_phrase_postings_overlap_and_duplicate_token(spark):
    """A phrase with a REPEATED token ('a a') must chain positions
    correctly: 'a a a a' has three overlapping hits; 'b a b a' none."""
    from aiotcvectordb_spark.operators import fulltext

    df = spark.createDataFrame(
        [(0, "a a a a"), (1, "b a b a")], "doc_id long, text string"
    )
    got = {
        r.doc_id: r.phrase_count
        for r in fulltext.phrase_search_postings(
            df, "a a", id_col="doc_id", text_col="text"
        ).collect()
    }
    assert got == {0: 3}


def test_cjk_phrase_hits_the_right_document(spark):
    """大苹果 ([大苹, 苹果] as bigrams) occurs only in c_apple
    (一个大苹果); c_mixed's 苹果、香蕉 must NOT match — the punctuation
    splits the segment so 大苹 never forms."""
    from aiotcvectordb_spark import queries as Q

    got = {
        r.doc_id: (r.phrase_count, r.rank)
        for r in Q.q_fulltext_phrase_cjk(spark, "unused").collect()
    }
    assert got == {"c_apple": (1, 1)}


def test_cjk_phrase_cross_segment_chain_edge(spark):
    """Known edge, pinned (r10, advisor): the token stream carries no
    segment-boundary sentinel, so a phrase's bigrams can chain across
    two ADJACENT CJK segments — '大苹, 苹果' tokenizes to [大苹, 苹果]
    and counts one 大苹果 hit although the substring never appears
    inside a single segment. Both engines share the tokenizer (parity
    holds); this test documents the semantics so a future
    sentinel-token fix must consciously update it."""
    from aiotcvectordb_spark.functions import sparse as sparse_fn
    from aiotcvectordb_spark.qfam.vector import _phrase_count_col

    toks = sparse_fn._TOKENS_FOR_QUERY("大苹果")
    df = spark.createDataFrame(
        [("x_edge", "大苹, 苹果"), ("x_clean", "苹果, 大苹果")],
        "doc_id string, text string",
    )
    got = {
        r.doc_id: r.phrase_count
        for r in df.select(
            "doc_id", _phrase_count_col(toks).alias("phrase_count")
        ).collect()
    }
    # x_edge: spurious cross-segment chain; x_clean: one real hit
    assert got == {"x_edge": 1, "x_clean": 1}


def test_phrase_postings_empty_phrase_keeps_string_id_schema(spark):
    """The empty-token early return must derive the id column's type
    from the input frame (string primary keys per the reference data
    model), not hardcode long — r10 advisor fix."""
    from aiotcvectordb_spark.operators import fulltext

    df = spark.createDataFrame(
        [("d1", "some text")], "doc_id string, text string"
    )
    out = fulltext.phrase_search_postings(
        df, "！？", id_col="doc_id", text_col="text"
    )
    assert out.schema["doc_id"].dataType.simpleString() == "string"
    assert out.count() == 0


def test_phrase_counter_matches_python_reference_property(spark, tmp_path):
    """Property: for random token streams, the lookahead regexp counter
    equals a straight Python sliding-window count (overlaps included)
    on every doc — 60 corpora shapes incl. self-overlapping runs."""
    import random

    from aiotcvectordb_spark import queries as Q

    rng = random.Random(9)
    vocab = ["a", "b", "ab", "value", "x1"]
    phrase_toks = ["a", "b", "a"]
    rows = []
    for doc_id in range(60):
        n = rng.randrange(0, 12)
        rows.append((doc_id, " ".join(rng.choice(vocab) for _ in range(n))))

    def ref_count(text):
        ts = [t for t in text.lower().split() if t]
        m = len(phrase_toks)
        return sum(
            1
            for i in range(max(len(ts) - m + 1, 0))
            if ts[i : i + m] == phrase_toks
        )

    spark.createDataFrame(rows, "doc_id long, text string").write.parquet(
        f"{tmp_path}/documents.parquet"
    )
    from aiotcvectordb_spark.qfam import vector as QV

    old = QV._PHRASE_QUERY
    QV._PHRASE_QUERY = " ".join(phrase_toks)
    try:
        got = {
            r.doc_id: r.phrase_count
            for r in Q.q_fulltext_phrase(spark, str(tmp_path)).collect()
        }
    finally:
        QV._PHRASE_QUERY = old
    want = {d: ref_count(t) for d, t in rows if ref_count(t) > 0}
    # top-10 cap: compare on the capped id set
    want_capped = dict(
        sorted(want.items(), key=lambda kv: (-kv[1], kv[0]))[:10]
    )
    assert got == want_capped
