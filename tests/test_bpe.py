"""Distributed BPE: matches the classic sequential algorithm, lossless
round trip, deterministic."""

from __future__ import annotations

import re
from collections import Counter

from aiotcvectordb_spark.operators import bpe

_DOCS = [
    (1, "the cat sat on the mat"),
    (2, "the cats sat on mats"),
    (3, "matting the mat the the cat"),
    (4, "a cat a mat a hat"),
]


def _reference_bpe(texts: list[str], num_merges: int) -> list[tuple[str, str]]:
    """Plain-python classic BPE (Sennrich et al.) with the same
    tie-break: count desc, then pair lexicographic."""
    from aiotcvectordb_spark.functions.sparse import bpe_pretokens

    words = Counter()
    for t in texts:
        for w in bpe_pretokens(t):
            words[w] += 1
    vocab = {w: list(w) + ["</w>"] for w in words}
    merges = []
    for _ in range(num_merges):
        pairs = Counter()
        for w, syms in vocab.items():
            for i in range(len(syms) - 1):
                pairs[(syms[i], syms[i + 1])] += words[w]
        pairs = {p: c for p, c in pairs.items() if c >= 2}
        if not pairs:
            break
        best = min(pairs.items(), key=lambda kv: (-kv[1], kv[0]))[0]
        merges.append(best)
        for w, syms in vocab.items():
            out, i = [], 0
            while i < len(syms):
                if i + 1 < len(syms) and (syms[i], syms[i + 1]) == best:
                    out.append(syms[i] + syms[i + 1])
                    i += 2
                else:
                    out.append(syms[i])
                    i += 1
            vocab[w] = out
    return merges


def _docs_df(spark):
    return spark.createDataFrame(_DOCS, "doc_id long, text string")


def test_train_matches_classic_sequential_bpe(spark):
    got = bpe.bpe_train(_docs_df(spark), num_merges=10)
    want = _reference_bpe([t for _, t in _DOCS], 10)
    assert got == want


def test_encode_roundtrip_lossless_and_deterministic(spark):
    df = _docs_df(spark)
    merges = bpe.bpe_train(df, num_merges=8, batch_merges=4)
    assert merges == bpe.bpe_train(df, num_merges=8, batch_merges=4)
    enc = {r.doc_id: r for r in bpe.bpe_encode(df, merges).collect()}
    for doc_id, text in _DOCS:
        toks = enc[doc_id].tokens
        assert enc[doc_id].n_tokens == len(toks)
        rebuilt = "".join(t.replace("</w>", " ") for t in toks).split()
        assert rebuilt == [
            w for w in re.split(r"[^0-9a-z]+", text.lower()) if w
        ]


def test_batched_merges_stay_symbol_disjoint(spark):
    df = _docs_df(spark)
    merges = bpe.bpe_train(df, num_merges=12, batch_merges=6)
    # within a round no symbol may repeat; rounds are size <= 6 — check
    # globally that the merge list is usable (encode succeeds) and each
    # merge's parts were produced by earlier merges or are single chars
    known = {"</w>"} | {chr(c) for c in range(32, 127)}
    for a, b in merges:
        assert a in known and b in known, (a, b)
        known.add(a + b)


def test_fixture_corpus_trains_nontrivially(spark, sf_dir):
    from aiotcvectordb_spark import queries as Q

    docs = Q.load(spark, sf_dir, "documents").limit(200)
    merges = bpe.bpe_train(docs, num_merges=24, batch_merges=12)
    assert len(merges) == 24
    enc = bpe.bpe_encode(docs, merges, id_col="doc_id")
    row = enc.first()
    assert row.n_tokens > 0
    # learned merges must actually compress vs character tokenization
    from pyspark.sql import functions as F

    stats = enc.agg(F.sum("n_tokens").alias("bpe")).first()
    chars = docs.agg(
        F.sum(F.length("text")).alias("chars")
    ).first()
    assert stats.bpe < chars.chars


def test_merge_table_roundtrips_through_parquet(spark, tmp_path):
    df = _docs_df(spark)
    merges = bpe.bpe_train(df, num_merges=6, batch_merges=3)
    path = str(tmp_path / "bpe_merges")
    bpe.save_merges(spark, merges, path)
    assert bpe.load_merges(spark, path) == merges
    # a fresh session-load encodes identically
    a = {r.doc_id: r.tokens for r in bpe.bpe_encode(df, merges).collect()}
    b = {
        r.doc_id: r.tokens
        for r in bpe.bpe_encode(df, bpe.load_merges(spark, path)).collect()
    }
    assert a == b


def test_bpe_learns_cjk_merges(spark):
    """CJK pre-tokenization (each char a unit) lets BPE learn
    multi-character Chinese merges from data; encoding a Chinese doc is
    deterministic and lossless over the pre-token stream."""
    docs = [
        (1, "机器学习 机器学习 机器学习 深度学习"),
        (2, "学习机器 机器学习 深度学习 深度学习"),
        (3, "machine learning 机器学习"),
    ]
    df = spark.createDataFrame(docs, ["doc_id", "text"])
    merges = bpe.bpe_train(df, num_merges=8)
    # some merge must join two CJK symbols (e.g. 学 + 习)
    assert any(
        any("一" <= ch <= "鿿" for ch in a + b) for a, b in merges
    ), merges
    enc = {r.doc_id: r.tokens for r in bpe.bpe_encode(df, merges).collect()}
    # lossless: stripping </w> and concatenating reproduces the
    # pre-token character stream
    from aiotcvectordb_spark.functions.sparse import bpe_pretokens

    for i, text in docs:
        stream = "".join(bpe_pretokens(text))
        assert "".join(t.replace("</w>", "") for t in enc[i]) == stream


def test_bpe_frozen_oracle_parity(spark, sf_dir):
    """Pinned in r10, registered in ORACLES in r11: the frozen-merge
    apply lane's DuckDB recursive-CTE oracle must reproduce the Spark
    tokenization's per-doc token counts exactly — this local pin stays
    as the pytest witness next to the driver's hash row."""
    import duckdb

    from aiotcvectordb_spark import queries as Q

    got = {
        r.doc_id: r.n_tokens
        for r in Q.QUERIES["bpe_token_count_frozen"](spark, sf_dir).collect()
    }
    con = duckdb.connect()
    con.sql(
        f"CREATE VIEW documents AS SELECT * FROM '{sf_dir}/documents.parquet'"
    )
    want = dict(con.sql(Q.ORACLE_BPE_TOKEN_COUNT_FROZEN).fetchall())
    assert got == want and len(got) > 0


def test_bpe_frozen_equals_live_encode_semantics(spark):
    """bpe_encode with the frozen table applies the same greedy rule as
    with any merge list — spot-check a constructed doc whose words
    exercise rank ties, chained merges, and unknown symbols."""
    from aiotcvectordb_spark.qfam.extracts import _BPE_FROZEN_MERGES

    df = spark.createDataFrame(
        [(1, "order merge batch zzz"), (2, ""), (3, "filter filter")],
        "doc_id long, text string",
    )
    rows = {
        r.doc_id: (r.n_tokens, r.tokens)
        for r in bpe.bpe_encode(df, _BPE_FROZEN_MERGES).collect()
    }
    # python reference: encode_word semantics (leftmost lowest-rank)
    ranks = {m: i for i, m in enumerate(_BPE_FROZEN_MERGES)}

    def ref(word):
        syms = list(word) + ["</w>"]
        while len(syms) > 1:
            best = None
            for i in range(len(syms) - 1):
                r = ranks.get((syms[i], syms[i + 1]))
                if r is not None and (best is None or r < best[0]):
                    best = (r, i)
            if best is None:
                break
            i = best[1]
            syms[i : i + 2] = [syms[i] + syms[i + 1]]
        return syms

    for doc_id, text in [(1, "order merge batch zzz"), (3, "filter filter")]:
        want = [t for w in text.split() for t in ref(w)]
        assert rows[doc_id] == (len(want), want), doc_id
    assert rows[2] == (0, [])


def test_bpe_frozen_oracle_parity_at_driver_scale(spark):
    """Same pin at sf0.01 — the driver's correctness scale — so the
    r11 ORACLES registration cannot be surprised by a bigger distinct-
    word table (the staged-oracles rule)."""
    import os

    import pytest

    sf_dir = "/root/testdata/sf0.01"
    if not os.path.isdir(sf_dir):
        pytest.skip("sf0.01 testdata not present")
    test_bpe_frozen_oracle_parity(spark, sf_dir)
