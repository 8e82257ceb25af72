"""Streaming SemDeDup ingest: whole-corpus-as-one-batch equals the
batch semantic_dedup query; cross-batch duplicates are flagged against
the standing member index; replays are idempotent; compaction follows
the idempotent-set epoch protocol (negative generations, newest live
epoch spared)."""

from __future__ import annotations

import numpy as np

from aiotcvectordb_spark import queries as Q
from aiotcvectordb_spark.qfam.core import _INCR_SPLIT
from aiotcvectordb_spark.qfam.textdedup import _SEMDEDUP_CENTROIDS, _SEMDEDUP_TAU
from aiotcvectordb_spark.streaming.epochlog import epoch_ids
from aiotcvectordb_spark.streaming.semdedup import (
    _read_member_index,
    compact_member_index,
    read_semdedup_flags,
    stream_semdedup_sink,
)

_TAU = _SEMDEDUP_TAU
_CENTS = _SEMDEDUP_CENTROIDS


def _mk_sink(tmp_path, suffix=""):
    index_dir = str(tmp_path / f"index{suffix}")
    results_dir = str(tmp_path / f"results{suffix}")
    sink = stream_semdedup_sink(
        index_dir, results_dir, centroids=_CENTS, tau=_TAU
    )
    return index_dir, results_dir, sink


def test_single_batch_equals_batch_query(spark, sf_dir, tmp_path):
    """The whole corpus as epoch 0 must reproduce q_semantic_dedup
    exactly — same cells, same (rounded) centroid cosines, same flags:
    within-batch keep-order domination IS the batch rule."""
    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet").select(
        "vec_id", "embedding"
    )
    index_dir, results_dir, sink = _mk_sink(tmp_path)
    sink(emb, 0)
    streamed = {
        r.vec_id: (r.cell, r.ccos, r.semantic_dup)
        for r in read_semdedup_flags(spark, results_dir).collect()
    }
    batch = {
        r.vec_id: (r.cell, r.ccos, r.semantic_dup)
        for r in Q.QUERIES["semantic_dedup"](spark, sf_dir).collect()
    }
    assert streamed == batch and len(streamed) > 0


def test_cross_batch_duplicate_flagged_first_arrival_wins(spark, tmp_path):
    a = np.array(Q.qvec(10.0))
    rows0 = [(1, [float(x) for x in a]),
             (2, [float(x) for x in np.array(Q.qvec(14.0))])]
    rows1 = [(3, [float(x) for x in 2.0 * a]),          # copy of doc 1
             (4, [float(x) for x in np.array(Q.qvec(15.5))])]
    index_dir, results_dir, sink = _mk_sink(tmp_path)
    sink(spark.createDataFrame(rows0, "vec_id long, embedding array<double>"), 0)
    sink(spark.createDataFrame(rows1, "vec_id long, embedding array<double>"), 1)
    flags = {
        r.vec_id: r.semantic_dup
        for r in read_semdedup_flags(spark, results_dir).collect()
    }
    # epoch-0 arrivals are kept (nothing earlier); the epoch-1 copy is
    # dominated by the standing member REGARDLESS of centroid cosine
    # (first arrival wins), the unrelated vector survives
    assert flags[1] is False and flags[2] is False
    assert flags[3] is True
    assert flags[4] is False


def test_replay_idempotent_and_compaction_read_invariant(spark, tmp_path):
    rng = np.random.default_rng(11)
    def batch(ids):
        return spark.createDataFrame(
            [(i, [float(x) for x in rng.normal(size=Q.DIM)]) for i in ids],
            "vec_id long, embedding array<double>",
        )
    index_dir, results_dir, sink = _mk_sink(tmp_path)
    sink(batch(range(0, 5)), 0)
    sink(batch(range(5, 10)), 1)
    sink(batch(range(10, 15)), 2)
    before = {
        (r.vec_id, r.semantic_dup)
        for r in read_semdedup_flags(spark, results_dir).collect()
    }
    members = {
        (r.cell, r.vec_id)
        for r in _read_member_index(spark, index_dir).collect()
    }
    pre2 = {
        (r.cell, r.vec_id)
        for r in _read_member_index(spark, index_dir, before_epoch=2).collect()
    }
    # replay of the newest epoch overwrites identically (its own
    # members are hidden from its before_epoch read)
    last = spark.read.parquet(str(tmp_path / "index/epoch=2")).select(
        "vec_id", "embedding"
    )
    sink(last, 2)
    after = {
        (r.vec_id, r.semantic_dup)
        for r in read_semdedup_flags(spark, results_dir).collect()
    }
    assert after == before
    # compaction: epochs {0,1} fold into generation -1, epoch 2 spared
    compact_member_index(spark, index_dir)
    assert epoch_ids(spark, index_dir) == [-1, 2]
    assert {
        (r.cell, r.vec_id)
        for r in _read_member_index(spark, index_dir).collect()
    } == members
    # a replay of epoch 2 still sees exactly the pre-epoch-2 members
    assert {
        (r.cell, r.vec_id)
        for r in _read_member_index(spark, index_dir, before_epoch=2).collect()
    } == pre2


def test_member_index_empty_only_when_no_epochs(spark, tmp_path):
    df = _read_member_index(spark, str(tmp_path / "missing"))
    assert df.count() == 0
    assert df.columns == ["cell", "vec_id", "ccos", "embedding"]


def test_incremental_batch_query_equals_stream_epoch1(spark, sf_dir, tmp_path):
    """q_incremental_semantic_dedup IS the streaming sink's epoch-1
    semantics: standing corpus as epoch 0, the vec_id >= _INCR_SPLIT
    batch as epoch 1 — the sink's epoch-1 flags must equal the batch
    query bit-for-bit (same kernels, same keep order, same
    first-arrival-wins domination)."""
    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet").select(
        "vec_id", "embedding"
    )
    split = _INCR_SPLIT
    index_dir, results_dir, sink = _mk_sink(tmp_path)
    sink(emb.filter(f"vec_id < {split}"), 0)
    sink(emb.filter(f"vec_id >= {split}"), 1)
    streamed = {
        r.vec_id: (r.cell, r.ccos, r.semantic_dup)
        for r in read_semdedup_flags(spark, results_dir)
        .filter("epoch = 1")
        .collect()
    }
    batch = {
        r.vec_id: (r.cell, r.ccos, r.semantic_dup)
        for r in Q.QUERIES["incremental_semantic_dedup"](
            spark, sf_dir
        ).collect()
    }
    assert streamed == batch and len(streamed) > 0
    assert any(v[2] for v in batch.values())  # some dup actually flagged
