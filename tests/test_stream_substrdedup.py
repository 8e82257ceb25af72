"""Streaming exact-substring dedup ingest: epoch-1 output equals the
batch incremental_substring_dedup query bit-for-bit; cross-batch spans
are cut against the earlier-epoch index; replays are idempotent; index
compaction is read-invariant."""

from __future__ import annotations

from pyspark.sql import functions as F

from aiotcvectordb_spark import queries as Q
from aiotcvectordb_spark.streaming.substrdedup import (
    compact_gram_index,
    read_clean_docs,
    stream_substring_dedup_sink,
)


def _run_stream(spark, src, tmp_path, suffix=""):
    index_dir = str(tmp_path / f"index{suffix}")
    results_dir = str(tmp_path / f"results{suffix}")
    stream = (
        spark.readStream.schema("doc_id long, text string")
        .option("maxFilesPerTrigger", 1)
        .parquet(str(src / "*"))
    )
    q = (
        stream.writeStream.foreachBatch(
            stream_substring_dedup_sink(index_dir, results_dir)
        )
        .option("checkpointLocation", str(tmp_path / f"ckpt{suffix}"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(180)
    return index_dir, results_dir


def test_stream_epoch_matches_incremental_batch_query(spark, sf_dir, tmp_path):
    """Corpus as epoch 0, the doc_id%10==0 batch as epoch 1: epoch-1
    results must equal q_incremental_substring_dedup exactly (same
    kernel, same split — equality by construction, proven here)."""
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet").filter(
        F.length("text") > 0
    )
    src = tmp_path / "src"
    docs.filter(F.col("doc_id") % 10 != 0).select(
        "doc_id", "text"
    ).coalesce(1).write.parquet(str(src / "f0"))
    docs.filter(F.col("doc_id") % 10 == 0).select(
        "doc_id", "text"
    ).coalesce(1).write.parquet(str(src / "f1"))
    _, results_dir = _run_stream(spark, src, tmp_path)

    flags = read_clean_docs(spark, results_dir).filter(F.col("epoch") == 1)
    streamed = {
        r.doc_id: (r.clean_text, r.kept_tokens) for r in flags.collect()
    }
    batch = {
        r.doc_id: (r.clean_text, r.kept_tokens)
        for r in Q.QUERIES["incremental_substring_dedup"](
            spark, sf_dir
        ).collect()
    }
    assert streamed == batch
    assert len(streamed) > 0


def test_cross_batch_span_cut_and_unique_kept(spark, tmp_path):
    a = [(1, "alpha beta gamma delta epsilon zeta eta theta iota kappa")]
    # doc 2 repeats doc 1's first 8 words then adds unique tail words
    b = [
        (
            2,
            "alpha beta gamma delta epsilon zeta eta theta "
            "unique tail words here",
        ),
        (3, "wholly distinct content with eight different words inside"),
    ]
    src = tmp_path / "src"
    spark.createDataFrame(a, "doc_id long, text string").coalesce(1).write.parquet(
        str(src / "f0")
    )
    spark.createDataFrame(b, "doc_id long, text string").coalesce(1).write.parquet(
        str(src / "f1")
    )
    _, results_dir = _run_stream(spark, src, tmp_path)
    rows = {
        r.doc_id: r.clean_text for r in read_clean_docs(spark, results_dir).collect()
    }
    # epoch 0: doc 1 has no prior index and no in-batch repeats -> intact
    assert rows[1].startswith("alpha beta gamma")
    # epoch 1: doc 2's copied 8-gram span is cut, unique tail survives
    assert "alpha" not in rows[2] and rows[2].endswith("unique tail words here")
    assert rows[3] == "wholly distinct content with eight different words inside"


def test_replay_is_idempotent_and_compaction_read_invariant(
    spark, tmp_path
):
    docs = [(i, f"prefix{i} " + "shared body of exactly eight words here now", )
            for i in range(1, 5)]
    df = spark.createDataFrame(docs, "doc_id long, text string")
    index_dir = str(tmp_path / "index")
    results_dir = str(tmp_path / "results")
    sink = stream_substring_dedup_sink(index_dir, results_dir)
    sink(df.filter("doc_id <= 2"), 0)
    sink(df.filter("doc_id > 2"), 1)
    before = {
        (r.doc_id, r.clean_text, r.kept_tokens)
        for r in read_clean_docs(spark, results_dir).collect()
    }
    # at-least-once replay of epoch 1 overwrites identically
    sink(df.filter("doc_id > 2"), 1)
    after = {
        (r.doc_id, r.clean_text, r.kept_tokens)
        for r in read_clean_docs(spark, results_dir).collect()
    }
    assert after == before
    # compaction changes the layout, not the reads — and it NEVER
    # merges the newest live epoch: that is the only batch id
    # foreachBatch can replay after a crash, and merging it would let
    # the replay's before_epoch filter find the batch's own grams
    # inside the compacted generation (replay would clean against
    # itself and diverge from a clean run)
    from aiotcvectordb_spark.streaming.substrdedup import (
        _epoch_ids,
        _read_gram_index,
    )

    grams_01 = {r.gram for r in _read_gram_index(spark, index_dir).collect()}
    compact_gram_index(spark, index_dir)
    # only epoch 0 is mergeable here -> nothing to merge, no-op
    assert _epoch_ids(spark, index_dir) == [0, 1]
    # a third epoch with NEW grams makes epochs {0, 1} mergeable
    docs2 = [
        (i, f"tail{i} " + "another shared body of exactly eight words", )
        for i in range(10, 13)
    ]
    df2 = spark.createDataFrame(docs2, "doc_id long, text string")
    sink(df2, 2)
    all_grams = {r.gram for r in _read_gram_index(spark, index_dir).collect()}
    assert all_grams > grams_01
    compact_gram_index(spark, index_dir)
    # object-store-safe layout (r7): the compacted generation is a
    # fresh NEGATIVE epoch id (no rename, no collision with future
    # stream batch ids); the newest live epoch survives untouched
    assert _epoch_ids(spark, index_dir) == [-1, 2]
    assert {
        r.gram for r in _read_gram_index(spark, index_dir).collect()
    } == all_grams
    # replay safety: a replay of epoch 2 must see exactly the
    # pre-epoch-2 corpus — its own grams are NOT in the compacted gen
    replay_view = {
        r.gram
        for r in _read_gram_index(spark, index_dir, before_epoch=2).collect()
    }
    assert replay_view == grams_01
    # a second compaction descends to -2 (never overwrites the
    # directory it is reading) and preserves the distinct-gram set
    sink(df.filter("doc_id <= 2"), 3)
    compact_gram_index(spark, index_dir)
    assert _epoch_ids(spark, index_dir) == [-2, 3]
    assert {
        r.gram for r in _read_gram_index(spark, index_dir).collect()
    } == all_grams


def _cjk(k: int, n: int) -> str:
    """n distinct CJK chars starting at offset k (test fixture text)."""
    return "".join(chr(0x4E00 + k + j) for j in range(n))


def test_auto_tokenizer_routes_and_cuts_cjk_spans(spark, tmp_path):
    # epoch 0: one whitespace-free CJK doc. epoch 1: doc 2 copies doc
    # 1's first 12 chars (cut against the index), doc 3 repeats a
    # 12-char block internally (cut within the batch — the case the
    # word tokenizer silently no-ops on), doc 4 is ASCII (word lane,
    # intact).
    corpus = [(1, _cjk(0, 30))]
    s = _cjk(100, 12)
    batch = [
        (2, _cjk(0, 12) + _cjk(200, 10)),
        (3, s + s + _cjk(300, 9)),
        (4, "wholly distinct content with eight different words inside"),
    ]
    index_dir = str(tmp_path / "index")
    results_dir = str(tmp_path / "results")
    sink = stream_substring_dedup_sink(index_dir, results_dir, tokenizer="auto")
    sink(spark.createDataFrame(corpus, "doc_id long, text string"), 0)
    sink(spark.createDataFrame(batch, "doc_id long, text string"), 1)
    rows = {
        r.doc_id: (r.clean_text, r.lane)
        for r in read_clean_docs(spark, results_dir).collect()
    }
    assert rows[1] == (_cjk(0, 30), "char")  # epoch 0: intact
    assert rows[2] == (_cjk(200, 10), "char")  # copied span cut
    assert rows[3] == (_cjk(300, 9), "char")  # in-batch repeat cut
    assert rows[4] == (
        "wholly distinct content with eight different words inside",
        "word",
    )


def test_auto_stream_single_epoch_equals_batch_cjk_query(
    spark, sf_dir, tmp_path
):
    """The whole constructed corpus in ONE epoch (empty prior index)
    is the same computation as the batch substring_dedup_cjk query —
    equality by shared kernel, proven bit-for-bit here."""
    from aiotcvectordb_spark.qfam.curation import _CJK_DST, _CJK_SRC

    import hashlib

    tbl = str.maketrans(_CJK_SRC, _CJK_DST, " ")
    docs = [
        (r.doc_id, r.text)
        for r in spark.read.parquet(f"{sf_dir}/documents.parquet")
        .filter(F.length("text") > 0)
        .select("doc_id", "text")
        .collect()
    ]
    constructed = [
        (
            i,
            t.translate(tbl)
            if hashlib.md5(str(i).encode()).hexdigest()[0] in "01234567"
            else t,
        )
        for i, t in docs
    ]
    index_dir = str(tmp_path / "index")
    results_dir = str(tmp_path / "results")
    sink = stream_substring_dedup_sink(index_dir, results_dir, tokenizer="auto")
    sink(spark.createDataFrame(constructed, "doc_id long, text string"), 0)
    streamed = {
        r.doc_id: (r.clean_text, r.kept_tokens, r.lane)
        for r in read_clean_docs(spark, results_dir).collect()
    }
    batch = {
        r.doc_id: (r.clean_text, r.kept_units, r.lane)
        for r in Q.QUERIES["substring_dedup_cjk"](spark, sf_dir).collect()
    }
    assert streamed == batch
    assert {lane for _, _, lane in streamed.values()} == {"word", "char"}


def test_hostile_corpus_epoch_auto_lane(spark, tmp_path):
    """Hostile shapes through the auto-routed sink: CJK, CRLF, emoji,
    whitespace-only — no crash, lanes route, batch kernel agreement."""
    hostile = [
        (201, "prefix one " + "shared body of exactly eight words here x" + " tail"),
        (202, "prefix two " + "shared body of exactly eight words here x" + " end"),
        (203, "".join(chr(0x4E00 + j) for j in range(30))),
        (204, "".join(chr(0x4E00 + j) for j in range(10, 40))),
        (205, "emoji 😀 short doc"),
        (206, "\n\n"),
        (207, "   "),
        (208, "carriage\r\nreturn doc body"),
    ]
    df = spark.createDataFrame(hostile, "doc_id long, text string")
    sink = stream_substring_dedup_sink(
        str(tmp_path / "hidx"), str(tmp_path / "hres"), tokenizer="auto"
    )
    sink(df, 0)
    out = {
        r.doc_id: (r.lane, r.clean_text)
        for r in read_clean_docs(spark, str(tmp_path / "hres")).collect()
    }
    # whitespace-only doc 207 survives the length filter (word lane,
    # never gram-eligible); 206 is newline-only but non-empty too
    assert set(out) == {201, 202, 203, 204, 205, 206, 207, 208}
    assert out[203][0] == "char" and out[204][0] == "char"
    assert out[205][0] == "word" and out[201][0] == "word"
    # the shared 12-char run between the two CJK docs is cut from one
    assert (out[203][1] == hostile[2][1]) != (out[204][1] == hostile[3][1]) or (
        out[203][1] != hostile[2][1] and out[204][1] != hostile[3][1]
    )
