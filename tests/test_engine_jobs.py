"""Spark job counts of warm engine calls, gated.

Job counts are deterministic where wall-clock time is not, so they
catch a per-call regression (an extra eager job, a lost reuse of the
snapshot handle or of the persisted BM25 postings) that timing noise
hides. Each call runs in its own job group on a small collection after
one warm-up call of the same kind; the bounds are the counts measured
when the snapshot and postings caches went in (the BM25 call ran 11
jobs before them).
"""

from __future__ import annotations

import pytest

from aiotcvectordb_spark.catalog import IndexField

DB = "db_jobs"
COLL = "docs"

MAX_JOBS = {
    "search": 4,
    "search_by_id": 5,
    "fulltext_search": 3,
    "hybrid_search": 8,
    "query": 1,
    "count": 2,
    "upsert": 5,
    "delete": 6,
}


def _doc(i: int) -> dict:
    words = ["spark", "shuffle", "orchard", "vector", "index", "join"]
    return {
        "id": f"d{i}",
        "vector": [1.0, 0.05 * i, (i % 3) / 3.0],
        "tag": "ab"[i % 2],
        "text": " ".join(words[(i + k) % len(words)] for k in range(3)),
    }


@pytest.fixture()
def loaded(engine):
    engine.create_database(DB)
    engine.create_collection(
        DB, COLL,
        indexes=[
            IndexField(name="id", kind="primary_key", field_type="string"),
            IndexField(
                name="vector", kind="vector", field_type="vector",
                metric_type="COSINE", index_type="FLAT", dimension=3,
            ),
            IndexField(name="tag", kind="filter", field_type="string"),
        ],
    )
    engine.upsert(DB, COLL, [_doc(i) for i in range(40)])
    return engine


CALLS = {
    "search": lambda e, i: e.search(DB, COLL, [[1.0, 0.5, 0.1]], limit=5, filter="tag = 'a'"),
    "search_by_id": lambda e, i: e.search_by_id(DB, COLL, ["d3"], limit=5),
    "fulltext_search": lambda e, i: e.fulltext_search(DB, COLL, "spark orchard", limit=5),
    "hybrid_search": lambda e, i: e.hybrid_search(
        DB, COLL, ann_vectors=[[1.0, 0.5, 0.1]], match_text="spark orchard", limit=5),
    "query": lambda e, i: e.query(
        DB, COLL, filter="tag = 'b'", sort={"fieldName": "id"}, offset=2, limit=5),
    "count": lambda e, i: e.count(DB, COLL, filter="tag = 'a'"),
    "upsert": lambda e, i: e.upsert(DB, COLL, [_doc(100 + i), _doc(i)]),
    "delete": lambda e, i: e.delete(DB, COLL, document_ids=[f"d{10 + i}"]),
}


def _jobs_of(spark, group: str, fn) -> int:
    sc = spark.sparkContext
    sc.setJobGroup(group, group)
    try:
        fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    return len(sc.statusTracker().getJobIdsForGroup(group))


@pytest.mark.parametrize("op", sorted(MAX_JOBS))
def test_warm_engine_call_job_count(loaded, spark, op):
    call = CALLS[op]
    call(loaded, 0)  # warm: resolve the snapshot, persist the postings
    jobs = _jobs_of(spark, f"engine-jobs-{op}", lambda: call(loaded, 1))
    assert jobs <= MAX_JOBS[op], f"{op} ran {jobs} jobs (bound {MAX_JOBS[op]})"
