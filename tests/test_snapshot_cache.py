"""The per-snapshot cache contract: the store resolves each committed
version once and the engine persists one BM25 index per version, yet no
read ever sees a stale or foreign snapshot — across engines sharing a
root, across drop-and-recreate, under TTL expiry, with filters, and
under concurrent async reads and writes.
"""

from __future__ import annotations

import asyncio
import time

from aiotcvectordb_spark.aio import AsyncVectorDBEngine
from aiotcvectordb_spark.catalog import IndexField
from aiotcvectordb_spark.engine import VectorDBEngine
from aiotcvectordb_spark.operators import fulltext, hybrid

DB = "db_cache"


def make_collection(engine, name="docs", *, ttl=False):
    if not engine.catalog.database_exists(DB):
        engine.create_database(DB)
    indexes = [
        IndexField(name="id", kind="primary_key", field_type="string"),
        IndexField(
            name="vector", kind="vector", field_type="vector",
            metric_type="COSINE", index_type="FLAT", dimension=3,
        ),
        IndexField(name="tag", kind="filter", field_type="string"),
    ]
    if ttl:
        indexes.append(
            IndexField(name="expire_at", kind="filter", field_type="uint64")
        )
    engine.create_collection(
        DB, name, indexes=indexes,
        ttl_config={"enable": True, "timeField": "expire_at"} if ttl else None,
    )
    return name


def doc(i, text, tag="a", **extra):
    return {"id": f"d{i}", "vector": [1.0, 0.1 * i, 0.0], "tag": tag,
            "text": text, **extra}


DOCS = [
    doc(0, "spark shuffle join", "a"),
    doc(1, "spark spark dataframe", "b"),
    doc(2, "apple banana orchard", "a"),
    doc(3, "spark orchard harvest", "b"),
    doc(4, "vector index search", "a"),
]


def ids(hits):
    return {h["id"] for h in hits}


def test_store_read_reuses_handle_until_commit(spark, tmp_path):
    from aiotcvectordb_spark.sources.parquet_store import ParquetStore

    store = ParquetStore(str(tmp_path / "store"), spark)
    store.write(spark.range(5), "db", "c")
    first = store.read(spark, "db", "c")
    assert store.read(spark, "db", "c") is first
    # time travel resolves afresh
    assert store.read(spark, "db", "c", version=0) is not first
    built = store.derived("db", "c", first, ("k",), lambda d: d.limit(1))
    assert store.derived("db", "c", first, ("k",), lambda d: d.limit(2)) is built
    store.write(spark.range(3), "db", "c")
    second = store.read(spark, "db", "c")
    assert second is not first and second.count() == 3
    # a handle that is no longer current gets nothing derived
    assert store.derived("db", "c", first, ("k",), lambda d: d) is None


def test_second_engine_sees_writes_of_first(spark, tmp_path):
    root = str(tmp_path / "vdb")
    a, b = VectorDBEngine(spark, root), VectorDBEngine(spark, root)
    coll = make_collection(a)
    a.upsert(DB, coll, DOCS)

    def view():
        return (
            {r["id"]: r["tag"] for r in b.query(DB, coll)},
            b.count(DB, coll),
            ids(b.fulltext_search(DB, coll, "spark orchard", limit=10)),
        )

    rows, n, hits = view()
    assert n == 5 and hits == {"d0", "d1", "d2", "d3"}

    a.upsert(DB, coll, [doc(5, "orchard spark cider", "c")])
    rows, n, hits = view()
    assert n == 6 and rows["d5"] == "c" and "d5" in hits

    a.delete(DB, coll, document_ids=["d1", "d3"])
    rows, n, hits = view()
    assert n == 4 and "d1" not in rows and hits == {"d0", "d2", "d5"}

    a.update(DB, coll, {"tag": "z", "text": "plain words"}, document_ids=["d0"])
    rows, n, hits = view()
    assert n == 4 and rows["d0"] == "z" and hits == {"d2", "d5"}


def test_drop_and_recreate_never_returns_old_rows(spark, tmp_path):
    root = str(tmp_path / "vdb")
    a, b = VectorDBEngine(spark, root), VectorDBEngine(spark, root)
    coll = make_collection(a)
    a.upsert(DB, coll, DOCS)
    for eng in (a, b):  # warm both engines' caches on v0
        assert eng.count(DB, coll) == 5
        assert "d1" in ids(eng.fulltext_search(DB, coll, "spark", limit=10))

    a.drop_collection(DB, coll)
    make_collection(a)
    # the new collection's first commit is v0 again
    a.upsert(DB, coll, [doc(7, "spark fresh start"), doc(8, "other text")])
    assert a.store.list_versions(DB, coll) == [0]
    for eng in (a, b):
        assert {r["id"] for r in eng.query(DB, coll)} == {"d7", "d8"}
        assert eng.count(DB, coll) == 2
        assert ids(eng.fulltext_search(DB, coll, "spark", limit=10)) == {"d7"}


def test_ttl_expiry_reaches_fulltext_after_warm_call(engine):
    coll = make_collection(engine, "ttl_docs", ttl=True)
    far = int(time.time()) + 3600
    engine.upsert(DB, coll, [
        doc(0, "spark ttl keeps", expire_at=far),
        doc(1, "spark ttl expires", expire_at=far),
    ])
    soon = int(time.time()) + 8
    engine.update(DB, coll, {"expire_at": soon}, document_ids=["d1"])
    assert ids(engine.fulltext_search(DB, coll, "spark ttl")) == {"d0", "d1"}
    time.sleep(max(0.0, soon + 1.5 - time.time()))
    assert ids(engine.fulltext_search(DB, coll, "spark ttl")) == {"d0"}
    hits = engine.hybrid_search(
        DB, coll, ann_vectors=[[1.0, 0.1, 0.0]], match_text="spark ttl"
    )
    assert ids(hits[0]) == {"d0"}


def test_fulltext_filter_ignores_prebuilt_postings(spark):
    """A passed index covers the whole corpus; with a filter the operator
    must score only the filtered documents with their own statistics."""
    from aiotcvectordb_spark.functions.sparse import build_postings

    df = spark.createDataFrame(
        [(d["id"], d["tag"], d["text"]) for d in DOCS], "id string, tag string, text string"
    )
    postings, _ = build_postings(df, id_col="id", text_col="text")
    kw = dict(id_col="id", limit=10, filter="tag = 'b'")
    with_index = fulltext.fulltext_search_df(df, "spark orchard", postings=postings, **kw)
    derived = fulltext.fulltext_search_df(df, "spark orchard", **kw)
    assert sorted(map(tuple, with_index.collect())) == sorted(map(tuple, derived.collect()))
    assert ids(r.asDict() for r in with_index.collect()) == {"d1", "d3"}


def test_filtered_text_search_matches_uncached_postings(engine):
    from aiotcvectordb_spark.functions.filters import translate

    coll = make_collection(engine)
    engine.upsert(DB, coll, DOCS)
    # warm: builds and persists the snapshot's postings
    assert ids(engine.fulltext_search(DB, coll, "spark orchard", limit=10)) == {
        "d0", "d1", "d2", "d3"}
    snapshot = engine.read(DB, coll)

    got = engine.fulltext_search(DB, coll, "spark orchard", limit=10, filter="tag = 'b'")
    want = fulltext.fulltext_search_df(
        snapshot, "spark orchard", limit=10, filter=translate("tag = 'b'")
    ).collect()
    assert got == sorted((r.asDict() for r in want), key=lambda h: h["rank"])
    assert ids(got) == {"d1", "d3"}

    qv = [1.0, 0.25, 0.0]
    got = engine.hybrid_search(
        DB, coll, ann_vectors=[qv], match_text="spark orchard", filter="tag = 'a'"
    )
    want = hybrid.hybrid_search_df(
        snapshot, ann_vectors=[qv], match_text="spark orchard",
        filter=translate("tag = 'a'"),
    ).collect()
    assert [[(h["id"], h["score"]) for h in got[0]]] == [
        [(r["id"], r["score"]) for r in sorted(want, key=lambda r: r["rank"])]
    ]
    assert ids(got[0]) <= {"d0", "d2", "d4"}


def test_gathered_reads_and_writes_keep_read_your_writes(spark, tmp_path):
    aeng = AsyncVectorDBEngine(spark, str(tmp_path / "vdb"))
    coll = make_collection(aeng.engine)
    aeng.engine.upsert(DB, coll, DOCS)

    async def writer():
        for i in range(10, 14):
            await aeng.upsert(DB, coll, [doc(i, f"spark token{i}")])
            assert [r["id"] for r in await aeng.query(DB, coll, document_ids=[f"d{i}"])] == [f"d{i}"]
            assert await aeng.count(DB, coll) == i - 4
            hits = await aeng.fulltext_search(DB, coll, f"token{i}")
            assert ids(hits) == {f"d{i}"}

    async def reader():
        seen = []
        for _ in range(4):
            n, hits = await asyncio.gather(
                aeng.count(DB, coll), aeng.fulltext_search(DB, coll, "spark", limit=20)
            )
            assert 5 <= n <= 9 and {"d0", "d1", "d3"} <= ids(hits)
            seen.append(n)
        assert seen == sorted(seen)

    async def flow():
        await asyncio.gather(writer(), reader(), reader())
        assert await aeng.count(DB, coll) == 9

    asyncio.run(flow())


def test_persisted_postings_do_not_accumulate(engine, spark):
    coll = make_collection(engine)
    engine.upsert(DB, coll, DOCS)
    engine.fulltext_search(DB, coll, "spark")

    def persisted():
        return spark.sparkContext._jsc.getPersistentRDDs().size()

    after_first = persisted()
    for i in range(10):
        engine.upsert(DB, coll, [doc(20 + i, f"spark commit{i}")])
        assert f"d{20 + i}" in ids(engine.fulltext_search(DB, coll, f"commit{i}"))
    assert persisted() <= after_first


def test_concurrent_first_reads_build_once(spark, tmp_path):
    """More threads than cores race the first read of one snapshot and
    the first build of its derived frame: one handle, one build."""
    import sys
    import threading

    from aiotcvectordb_spark.sources.parquet_store import ParquetStore

    store = ParquetStore(str(tmp_path / "store"), spark)
    store.write(spark.range(4), "db", "c")
    builds, handles, derived = [], [], []

    def build(df):
        builds.append(1)
        return df.limit(1)

    def worker():
        df = store.read(spark, "db", "c")
        handles.append(df)
        derived.append(store.derived("db", "c", df, ("k",), build))

    old = sys.getswitchinterval()
    sys.setswitchinterval(1e-6)
    try:
        threads = [threading.Thread(target=worker) for _ in range(12)]
        for t in threads:
            t.start()
        for t in threads:
            t.join(timeout=120)
    finally:
        sys.setswitchinterval(old)
    assert not any(t.is_alive() for t in threads)
    assert len(handles) == 12 and all(h is handles[0] for h in handles)
    assert len(builds) == 1 and all(d is derived[0] for d in derived)
