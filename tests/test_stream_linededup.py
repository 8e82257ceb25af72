"""Streaming line dedup ingest: epoch-1 flags equal the batch
incremental query; the incremental query equals batch line_dedup
restricted to the batch; counts accumulate across epochs; replays are
idempotent; compaction follows the summed-index watermark protocol."""

from __future__ import annotations

from pyspark.sql import functions as F

from aiotcvectordb_spark import queries as Q
from aiotcvectordb_spark.qfam.curation import _LINE_DEDUP_MIN_COUNT, _boiler_pages
from aiotcvectordb_spark.streaming.epochlog import epoch_ids
from aiotcvectordb_spark.streaming.linededup import (
    _read_line_index,
    compact_line_index,
    read_clean_results,
    stream_line_dedup_sink,
)

_MIN = _LINE_DEDUP_MIN_COUNT


def _mk_sink(tmp_path, suffix=""):
    index_dir = str(tmp_path / f"index{suffix}")
    results_dir = str(tmp_path / f"results{suffix}")
    sink = stream_line_dedup_sink(index_dir, results_dir, min_count=_MIN)
    return index_dir, results_dir, sink


def _pages(spark, sf_dir, pred):
    docs = (
        spark.read.parquet(f"{sf_dir}/documents.parquet")
        .filter(F.length("text") > 0)
        .filter(pred)
    )
    return _boiler_pages(docs).withColumnRenamed("page", "text")


def _result_map(df):
    return {r.doc_id: (r.text, r.kept_lines) for r in df.collect()}


def test_incremental_batch_query_equals_stream_epoch1(spark, sf_dir, tmp_path):
    """Standing corpus as epoch 0, batch docs as epoch 1: the sink's
    epoch-1 cleaned pages must be BIT-IDENTICAL to
    q_incremental_line_dedup — the stream and the oracled batch twin
    share one semantics (standing + self-inclusive batch counts)."""
    index_dir, results_dir, sink = _mk_sink(tmp_path)
    sink(_pages(spark, sf_dir, F.col("doc_id") % 10 != 0), 0)
    sink(_pages(spark, sf_dir, F.col("doc_id") % 10 == 0), 1)
    streamed = _result_map(
        read_clean_results(spark, results_dir).filter("epoch = 1").drop(
            "epoch"
        )
    )
    batch = _result_map(Q.QUERIES["incremental_line_dedup"](spark, sf_dir))
    assert streamed == batch and len(streamed) > 0


def test_incremental_equals_full_line_dedup_restricted(spark, sf_dir):
    """standing + batch counts = corpus-wide counts, so the incremental
    query's kept_lines>0 rows must equal batch line_dedup on the FULL
    corpus restricted to batch docs (and its zero rows must be exactly
    the batch docs line_dedup dropped)."""
    incr = _result_map(
        Q.QUERIES["incremental_line_dedup"](spark, sf_dir).filter(
            "kept_lines > 0"
        )
    )
    full = _result_map(
        Q.QUERIES["line_dedup"](spark, sf_dir).filter("doc_id % 10 = 0")
    )
    assert incr == full and len(incr) > 0


def test_counts_accumulate_across_epochs(spark, tmp_path):
    """A line seen (min_count - 1) times in epoch 0 and once per doc in
    epoch 1 crosses the threshold ONLY with the standing index — the
    epoch-1 batch alone never reaches min_count."""
    rows0 = [
        (i, "repeated banner line\nunique body %d" % i)
        for i in range(_MIN - 1)
    ]
    rows1 = [(100, "repeated banner line\nfresh content one")]
    index_dir, results_dir, sink = _mk_sink(tmp_path)
    sink(spark.createDataFrame(rows0, "doc_id long, text string"), 0)
    sink(spark.createDataFrame(rows1, "doc_id long, text string"), 1)
    got = _result_map(
        read_clean_results(spark, results_dir).filter("epoch = 1").drop(
            "epoch"
        )
    )
    assert got == {100: ("fresh content one", 1)}
    # without the standing index the same batch keeps both lines
    index_dir2, results_dir2, sink2 = _mk_sink(tmp_path, "2")
    sink2(spark.createDataFrame(rows1, "doc_id long, text string"), 0)
    got2 = _result_map(read_clean_results(spark, results_dir2).drop("epoch"))
    assert got2[100][1] == 2


def test_all_boilerplate_page_gets_explicit_zero_row(spark, tmp_path):
    """A page whose every line is boilerplate must surface as
    (text='', kept_lines=0), not vanish from the decision log."""
    rows0 = [(i, "nav header\nnav footer") for i in range(_MIN)]
    index_dir, results_dir, sink = _mk_sink(tmp_path)
    sink(spark.createDataFrame(rows0, "doc_id long, text string"), 0)
    rows1 = [(50, "nav header\nnav footer")]
    sink(spark.createDataFrame(rows1, "doc_id long, text string"), 1)
    got = _result_map(
        read_clean_results(spark, results_dir).filter("epoch = 1").drop(
            "epoch"
        )
    )
    assert got == {50: ("", 0)}


def test_replay_idempotent(spark, tmp_path):
    """Replaying epoch 1 (foreachBatch at-least-once) must reproduce
    identical results: before_epoch hides the crashed write's own
    deltas and the batch re-adds them self-inclusively."""
    rows0 = [(i, "banner line\nbody %d" % i) for i in range(_MIN - 1)]
    rows1 = [(100, "banner line\nkept body")]
    index_dir, results_dir, sink = _mk_sink(tmp_path)
    sink(spark.createDataFrame(rows0, "doc_id long, text string"), 0)
    sink(spark.createDataFrame(rows1, "doc_id long, text string"), 1)
    first = _result_map(
        read_clean_results(spark, results_dir).filter("epoch = 1").drop(
            "epoch"
        )
    )
    sink(spark.createDataFrame(rows1, "doc_id long, text string"), 1)
    second = _result_map(
        read_clean_results(spark, results_dir).filter("epoch = 1").drop(
            "epoch"
        )
    )
    assert first == second == {100: ("kept body", 1)}


def test_compaction_read_invariant_and_watermark(spark, tmp_path):
    """Compacting the summed index must not change what later epochs
    read: folded generation + watermark-skipped live epochs == the
    plain epoch union. The newest live epoch is never folded."""
    batches = [
        [(i, "banner line\nbody a %d" % i) for i in range(2)],
        [(10 + i, "banner line\nbody b %d" % i) for i in range(2)],
        [(20, "banner line\nbody c")],
    ]
    index_dir, results_dir, sink = _mk_sink(tmp_path)
    twin_dir, twin_results, twin = _mk_sink(tmp_path, "_twin")
    for e, rows in enumerate(batches):
        df = spark.createDataFrame(rows, "doc_id long, text string")
        sink(df, e)
        twin(df, e)
    compact_line_index(spark, index_dir)
    ids = epoch_ids(spark, index_dir)
    assert min(ids) < 0 and max(ids) == 2  # generation + spared newest
    folded = {
        r.norm: r.c for r in _read_line_index(spark, index_dir).collect()
    }
    plain = {
        r.norm: r.c for r in _read_line_index(spark, twin_dir).collect()
    }
    assert folded == plain
    # the 6th banner occurrence after compaction is cleaned either way
    nxt = [(30, "banner line\nbody d")]
    df = spark.createDataFrame(nxt, "doc_id long, text string")
    sink(df, 3)
    twin(df, 3)
    got = _result_map(
        read_clean_results(spark, results_dir).filter("epoch = 3").drop(
            "epoch"
        )
    )
    want = _result_map(
        read_clean_results(spark, twin_results).filter("epoch = 3").drop(
            "epoch"
        )
    )
    assert got == want == {30: ("body d", 1)}


def test_line_index_empty_only_when_no_epochs(spark, tmp_path):
    df = _read_line_index(spark, str(tmp_path / "nothing"))
    assert df.count() == 0
