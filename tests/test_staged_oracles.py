"""r10 staged promotions, registered in ORACLES in r11: the three
queries entered r10 rows-only with their DuckDB oracles written and
pinned bit-equal here, making the r11 registration a zero-risk
one-liner (the bpe_token_count_frozen pattern, tests/test_bpe.py).
These parity pins stay as the local (pytest) witness next to the
driver's hash rows."""

from __future__ import annotations

import duckdb
import pytest
from pyspark.sql import functions as F

from aiotcvectordb_spark import queries as Q
from aiotcvectordb_spark.qfam.curation import (
    _WEIGHTED_SAMPLE_K,
    _WINNOW_K,
    _WINNOW_W,
    _winnow_selection,
)

STAGED = {
    "weighted_sample_hash": "ORACLE_WEIGHTED_SAMPLE_HASH",
    "winnow_fingerprint": "ORACLE_WINNOW_FINGERPRINT",
    "token_entropy": "ORACLE_TOKEN_ENTROPY",
}


def _oracle_df(sf_dir: str, sql: str):
    con = duckdb.connect()
    con.sql(
        f"CREATE VIEW documents AS SELECT * FROM '{sf_dir}/documents.parquet'"
    )
    return con.sql(sql).df()


@pytest.mark.parametrize("name", sorted(STAGED))
def test_staged_oracle_parity(spark, sf_dir, name):
    sdf = Q.QUERIES[name](spark, sf_dir).toPandas()
    odf = _oracle_df(sf_dir, getattr(Q, STAGED[name]))
    assert sorted(sdf.columns) == sorted(odf.columns)
    assert len(sdf) == len(odf) > 0
    cols = sorted(sdf.columns)

    def norm(df):
        d = df[cols].copy()
        for c in cols:
            if str(d[c].dtype).startswith("float"):
                d[c] = d[c].astype("float64").round(9)
        return sorted(
            tuple(str(v) for v in row)
            for row in d.itertuples(index=False, name=None)
        )

    assert norm(sdf) == norm(odf)


@pytest.mark.parametrize("name", sorted(STAGED))
def test_staged_oracle_parity_at_driver_scale(spark, name):
    """Same pin at sf0.01 — the scale the driver's correctness gate
    actually runs at — so the r11 promotion cannot be surprised by a
    scale-dependent divergence (rounding boundaries, empty groups)."""
    sf_dir = "/root/testdata/sf0.01"
    if not __import__("os").path.isdir(sf_dir):
        pytest.skip("sf0.01 testdata not present")
    test_staged_oracle_parity(spark, sf_dir, name)


def test_staged_entries_registered_r11():
    """The promotion contract: present in QUERIES, registered in
    ORACLES with exactly the pytest-pinned oracle text (so the driver
    hashes the same SQL these parity tests verified)."""
    for name, oracle_attr in STAGED.items():
        assert name in Q.QUERIES
        assert Q.ORACLES.get(name) == getattr(Q, oracle_attr)
    assert Q.ORACLES.get("bpe_token_count_frozen") == Q.ORACLE_BPE_TOKEN_COUNT_FROZEN


def test_winnow_matches_python_reference(spark, tmp_path):
    """The window-min encoding must implement Schleimer et al.'s
    rightmost-min rule exactly — checked against a direct Python
    winnowing over constructed docs (repeats force hash ties inside a
    window, exercising the rightmost tie-break)."""
    texts = [
        (1, "abcabcabcabcabcabc"),  # period-3 repeats: constant tie storms
        (2, "the quick brown fox jumps over the lazy dog"),
        (3, "aaaaaaaaaaaaaaa"),  # all grams identical
        (4, "xy"),  # shorter than k + w - 1: filtered out entirely
    ]
    df = spark.createDataFrame(texts, "doc_id long, text string")
    df.write.mode("overwrite").parquet(f"{tmp_path}/documents.parquet")
    got = {}
    for r in _winnow_selection(spark, str(tmp_path)).collect():
        got.setdefault(r.doc_id, set()).add((r.pos, r.h))

    import hashlib

    def h60(s: str) -> int:
        return int(hashlib.md5(s.encode()).hexdigest()[:15], 16) % 2147483648

    k, w = _WINNOW_K, _WINNOW_W
    want = {}
    for doc_id, text in texts:
        if len(text) < k + w - 1:
            continue
        hs = [h60(text[i : i + k]) for i in range(len(text) - k + 1)]
        sel = set()
        for s in range(len(hs) - w + 1):
            window = hs[s : s + w]
            m = min(window)
            # rightmost minimal position
            pos = s + max(i for i, v in enumerate(window) if v == m)
            sel.add((pos, hs[pos]))
        want[doc_id] = sel
    assert got == want
    assert 4 not in got


def test_winnow_guarantee_shared_substring(spark, tmp_path):
    """The winnowing guarantee: two docs sharing a substring of length
    >= w + k - 1 share at least one selected fingerprint hash."""
    shared = "zqxwvutsrqponmlk"  # len 16 >= k + w - 1 = 11
    df = spark.createDataFrame(
        [(1, "aaa " + shared + " bbb"), (2, "ccc ddd " + shared + " eee")],
        "doc_id long, text string",
    )
    df.write.mode("overwrite").parquet(f"{tmp_path}/documents.parquet")
    by_doc = {}
    for r in _winnow_selection(spark, str(tmp_path)).collect():
        by_doc.setdefault(r.doc_id, set()).add(r.h)
    assert by_doc[1] & by_doc[2]


def test_weighted_sample_proportional_to_size(spark, sf_dir):
    """E-S keys rank long docs ahead on average: the sample's mean
    weight must exceed the corpus mean weight (proportional-to-size),
    and the frame is exactly k ranked rows with negative log keys."""
    out = Q.QUERIES["weighted_sample_hash"](spark, sf_dir).collect()
    assert len(out) == _WEIGHTED_SAMPLE_K
    assert [r.rank for r in out] == sorted(r.rank for r in out)
    assert all(r.key <= 0 for r in out)
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet").filter(
        "n_chars > 0"
    )
    corpus_mean = docs.agg(F.avg("n_chars")).first()[0]
    sample_mean = sum(r.weight for r in out) / len(out)
    assert sample_mean > corpus_mean


def test_token_entropy_limits(spark, tmp_path):
    """Degenerate repetition scores ~0; a doc of T distinct tokens
    scores ln(T); entropy never exceeds ln(n_distinct)."""
    import math

    df = spark.createDataFrame(
        [
            (1, "spam spam spam spam spam"),
            (2, "one two three four"),
            (3, "a a b b c c"),
        ],
        "doc_id long, text string",
    )
    df.write.mode("overwrite").parquet(f"{tmp_path}/documents.parquet")
    got = {
        r.doc_id: (r.n_tokens, r.n_distinct, r.entropy)
        for r in Q.QUERIES["token_entropy"](spark, str(tmp_path)).collect()
    }
    assert got[1] == (5, 1, 0.0)
    assert got[2] == (4, 4, round(math.log(4), 6))
    assert got[3] == (6, 3, round(math.log(3), 6))
    for n, d, e in got.values():
        assert e <= round(math.log(d), 6) + 1e-9


def test_winnow_property_matches_python_reference(spark, tmp_path):
    """Property test (the r9 phrase-counter precedent): on randomized
    small-alphabet texts — chosen so k-gram hash ties inside a window
    are COMMON — the Spark selection set equals a direct Python
    winnowing for every doc. Deterministic example set via hypothesis'
    reproducible default seed."""
    import hashlib

    from hypothesis import given, settings, strategies as st

    k, w = _WINNOW_K, _WINNOW_W

    def h60(s: str) -> int:
        return int(hashlib.md5(s.encode()).hexdigest()[:15], 16) % 2147483648

    def ref(text):
        if len(text) < k + w - 1:
            return None
        hs = [h60(text[i : i + k]) for i in range(len(text) - k + 1)]
        sel = set()
        for s_ in range(len(hs) - w + 1):
            window = hs[s_ : s_ + w]
            m = min(window)
            pos = s_ + max(i for i, v in enumerate(window) if v == m)
            sel.add((pos, hs[pos]))
        return sel

    corpus_acc = []

    @settings(max_examples=12, deadline=None)
    @given(
        st.lists(
            st.text(alphabet="ab ", min_size=0, max_size=40),
            min_size=1,
            max_size=4,
        )
    )
    def collect(texts):
        corpus_acc.append(texts)

    collect()
    # flatten all generated example docs into ONE Spark job (per-example
    # Spark roundtrips would be 100x slower than the property is worth)
    docs = [
        (i, t)
        for i, t in enumerate(
            t for texts in corpus_acc for t in texts
        )
    ]
    df = spark.createDataFrame(docs, "doc_id long, text string")
    df.write.mode("overwrite").parquet(f"{tmp_path}/documents.parquet")
    got = {}
    for r in _winnow_selection(spark, str(tmp_path)).collect():
        got.setdefault(r.doc_id, set()).add((r.pos, r.h))
    checked = 0
    for doc_id, text in docs:
        want = ref(text)
        if want is None:
            assert doc_id not in got, (doc_id, text)
        else:
            assert got.get(doc_id, set()) == want, (doc_id, text)
            checked += 1
    assert checked > 0
