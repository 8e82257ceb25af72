"""The workloads. Each is a seeded closed loop that drives the
package only through its public functions (``VectorDBEngine``,
``AsyncVectorDBEngine``, ``sources.ingest.ingest_dataframe`` and
``queries.QUERIES``) and checks every output it gets back."""

from __future__ import annotations

import asyncio
import collections
import itertools
import json
import os
import time
from dataclasses import dataclass, field

import numpy as np

import check
import datagen
import tracing
from aiotcvectordb_spark import queries as Q
from aiotcvectordb_spark.aio import AsyncVectorDBEngine
from aiotcvectordb_spark.catalog import IndexField
from aiotcvectordb_spark.sources.ingest import ingest_dataframe

SETUP_REPS = 3
DB = "bench"
LIMIT = 10
POOL = 6  # distinct fulltext/hybrid queries per seed, so repeats get checked
SIZES = {
    "api": {"docs": 2000},
    "batch_curate": {"docs": 1000, "embeddings": 400},
}
TINY_SIZES = {
    "api": {"docs": 200},
    "batch_curate": {"docs": 100, "embeddings": 40},
}
# op slots per block of 20 (see ``deck``)
READ_MIX = {"search": 7, "search_by_id": 2, "hybrid_search": 3,
            "fulltext_search": 3, "query": 3, "count": 2}
WRITE_MIX = {"upsert": 4, "delete": 3, "update": 3,
             "query": 4, "search": 3, "count": 3}
WRITES = {"upsert", "delete", "update"}
UPSERT_DOCS = 100  # half replace live ids, half are new
DELETE_DOCS = 67  # 4 upserts add 200 ids per block, 3 deletes remove 201
PIPELINES = ["semantic_dedup", "minhash_lsh_candidates", "dedup_components"]
INDEXES = [
    IndexField("id", "primary_key", "uint64"),
    IndexField("vector", "vector", "vector", metric_type="COSINE",
               index_type="FLAT", dimension=datagen.DIM),
    IndexField("label", "filter", "uint64"),
    IndexField("version", "filter", "uint64"),
    IndexField("text", "filter", "string"),
]


@dataclass
class Record:
    name: str
    lat: float  # seconds, call to return
    error: str | None
    measured: bool
    traced: bool = False
    write: bool = False
    client: str = ""
    pass_no: int = 0


@dataclass
class Result:
    records: list = field(default_factory=list)
    setup_s: list = field(default_factory=list)
    window_s: float = 0.0
    extra: dict = field(default_factory=dict)  # name -> (value, unit)
    warmup_s: float = 0.0


def deck(seed: int, mix: dict[str, int], tag: str):
    """Endless (op index, op name) sequence: first every op type once,
    then blocks of the nominal mix. Within a block each type's slots are
    spread evenly from a seeded phase, so any prefix of the sequence
    stays close to the mix and short windows measure alike."""
    first = [list(mix)[j] for j in datagen.rng_for(seed, f"{tag}-first").permutation(len(mix))]
    idx = 0
    for block in itertools.chain([first], (_smooth_block(seed, mix, f"{tag}-deck{b}")
                                           for b in itertools.count())):
        for name in block:
            yield idx, name
            idx += 1


def _smooth_block(seed: int, mix: dict[str, int], stream: str) -> list[str]:
    phase = datagen.rng_for(seed, stream).random(len(mix))
    slots = [((j + p) / k, name) for (name, k), p in zip(mix.items(), phase)
             for j in range(k)]
    return [name for _, name in sorted(slots)]


def _labels_filter(labels) -> str:
    return f"label in ({', '.join(str(int(x)) for x in labels)})"


# -- the API collection ----------------------------------------------------------


class Docs:
    """The benchmark's model of a collection's live rows."""

    def __init__(self, seed: int, n: int) -> None:
        rng = datagen.rng_for(seed, "collection")
        self.vec = {i: v for i, v in enumerate(datagen.unit_vectors(rng, n))}
        self.label = {i: int(x) for i, x in enumerate(rng.integers(0, datagen.N_LABELS, n))}
        self.version = dict.fromkeys(range(n), 0)
        self.text = dict(enumerate(datagen.texts(rng, n)))
        self.next_id = n

    def ids(self) -> list[int]:
        return sorted(self.vec)

    def allowed(self, labels=None) -> tuple[np.ndarray, np.ndarray]:
        ids = [i for i in self.ids() if labels is None or self.label[i] in labels]
        return np.array(ids, dtype=np.int64), np.array([self.vec[i] for i in ids])

    def write_parquet(self, path: str) -> None:
        import pyarrow as pa
        import pyarrow.parquet as pq

        ids = self.ids()
        pq.write_table(pa.table({
            "id": pa.array(ids, pa.int64()),
            "vector": pa.array([self.vec[i].tolist() for i in ids], pa.list_(pa.float64())),
            "label": pa.array([self.label[i] for i in ids], pa.int64()),
            "version": pa.array([self.version[i] for i in ids], pa.int64()),
            "text": pa.array([self.text[i] for i in ids], pa.string()),
        }), path)


def load_collections(spark, engine, seed: int, n: int, work: str, res: Result):
    """Set-up, timed SETUP_REPS times: generate the seeded rows, write
    them to parquet and bulk-load a fresh collection with
    ``ingest_dataframe``. The last two loads (same rows) are the
    reader's and the writer's collections."""
    engine.create_database(DB)
    for rep in range(SETUP_REPS):
        t0 = time.perf_counter()
        docs = Docs(seed, n)
        path = f"{work}/load{rep}.parquet"
        docs.write_parquet(path)
        coll = f"docs{rep}"
        engine.create_collection(DB, coll, indexes=INDEXES)
        out = ingest_dataframe(engine, DB, coll, spark.read.parquet(path))
        res.setup_s.append(time.perf_counter() - t0)
        if out["affectedCount"] != n:
            raise RuntimeError(f"bulk load reported {out['affectedCount']} rows, expected {n}")
    for rep in range(SETUP_REPS - 2):
        engine.drop_collection(DB, f"docs{rep}")
    return [f"docs{SETUP_REPS - 2}", f"docs{SETUP_REPS - 1}"]


# -- api: one reader and one writer client ---------------------------------------


class Reader:
    """Read-only traffic on a standing collection: filtered top-k,
    search-by-id, hybrid (RRF), BM25, query pages and counts."""

    kind = "read"
    mix = READ_MIX

    def __init__(self, aeng, docs: Docs, coll: str, seed: int) -> None:
        self.aeng, self.docs, self.coll = aeng, docs, coll
        self.ids, self.vecs = docs.allowed()
        prng = datagen.rng_for(seed, "pool")
        self.pool = [(datagen.unit_vectors(prng, 1)[0].tolist(), datagen.query_text(prng))
                     for _ in range(POOL)]
        self.memo: dict = {}

    async def call(self, name, rng, idx):
        """One op: returns (seconds, error) with the output checked."""
        aeng, docs, coll = self.aeng, self.docs, self.coll
        if name == "search":
            q = datagen.unit_vectors(rng, 1)[0]
            labels = set(rng.choice(datagen.N_LABELS, 3, replace=False).tolist())
            t0 = time.perf_counter()
            out = await aeng.search(DB, coll, [q.tolist()], limit=LIMIT,
                                    filter=_labels_filter(sorted(labels)))
            lat = time.perf_counter() - t0
            ids, vecs = docs.allowed(labels)
            return lat, check.topk(out[0], ids, vecs, q, LIMIT)
        if name == "search_by_id":
            did = int(rng.choice(self.ids))
            t0 = time.perf_counter()
            out = await aeng.search_by_id(DB, coll, [did], limit=LIMIT)
            lat = time.perf_counter() - t0
            return lat, check.topk(out[0], self.ids, self.vecs, docs.vec[did], LIMIT)
        if name == "hybrid_search":
            j = int(rng.integers(0, POOL))
            t0 = time.perf_counter()
            out = await aeng.hybrid_search(DB, coll, ann_vectors=[self.pool[j][0]],
                                           match_text=self.pool[j][1], limit=LIMIT)
            lat = time.perf_counter() - t0
            return lat, (check.ranked(out[0], LIMIT, ranks=False)
                         or check.repeatable(self.memo, ("hybrid", j), out[0]))
        if name == "fulltext_search":
            j = int(rng.integers(0, POOL))
            t0 = time.perf_counter()
            out = await aeng.fulltext_search(DB, coll, self.pool[j][1], limit=LIMIT)
            lat = time.perf_counter() - t0
            return lat, (check.ranked(out, LIMIT, ranks=True)
                         or check.repeatable(self.memo, ("fulltext", j), out))
        if name == "query":
            labels = set(rng.choice(datagen.N_LABELS, 2, replace=False).tolist())
            offset = int(rng.integers(0, 40))
            t0 = time.perf_counter()
            out = await aeng.query(DB, coll, filter=_labels_filter(sorted(labels)),
                                   sort={"fieldName": "id", "direction": "desc"},
                                   offset=offset, limit=LIMIT, output_fields=["label"])
            lat = time.perf_counter() - t0
            want = [i for i in reversed(docs.ids()) if docs.label[i] in labels]
            want = [(i, docs.label[i]) for i in want[offset:offset + LIMIT]]
            return lat, check.equal("query page", [(r["id"], r["label"]) for r in out], want)
        if name == "count":
            x = int(rng.integers(0, datagen.N_LABELS))
            t0 = time.perf_counter()
            out = await aeng.count(DB, coll, filter=f"label = {x}")
            lat = time.perf_counter() - t0
            return lat, check.equal("count", out, sum(v == x for v in docs.label.values()))
        raise ValueError(name)


class Writer:
    """Single writer: upserts (half replacing live ids), deletes and
    filtered updates, interleaved with reads that check read-your-writes
    against the model. Inserts and deletes balance, so every write
    rewrites a similarly sized snapshot."""

    kind = "write"
    mix = WRITE_MIX

    def __init__(self, aeng, docs: Docs, coll: str, root: str) -> None:
        self.aeng, self.docs, self.coll = aeng, docs, coll
        self.cdir = f"{root}/{DB}/{coll}"
        self.last_ids: list[int] = docs.ids()[:20]
        self.store_bytes = self.user_bytes = 0

    def snapshot_dir(self) -> str:
        v = max(int(f[len("_commit_v"):]) for f in os.listdir(self.cdir)
                if f.startswith("_commit_v"))
        return f"{self.cdir}/v{v}"

    async def call(self, name, rng, idx):
        aeng, docs, coll = self.aeng, self.docs, self.coll
        if name == "upsert":
            ids = sorted(rng.choice(docs.ids(), UPSERT_DOCS // 2, replace=False).tolist())
            ids += list(range(docs.next_id, docs.next_id + UPSERT_DOCS - len(ids)))
            vecs = datagen.unit_vectors(rng, len(ids))
            labels = rng.integers(0, datagen.N_LABELS, len(ids)).tolist()
            body = [{"id": i, "vector": v.tolist(), "label": lab, "version": 0, "text": t}
                    for i, v, lab, t in zip(ids, vecs, labels, datagen.texts(rng, len(ids)))]
            t0 = time.perf_counter()
            out = await aeng.upsert(DB, coll, body)
            lat = time.perf_counter() - t0
            for d, v in zip(body, vecs):
                i = d["id"]
                docs.vec[i], docs.label[i], docs.version[i], docs.text[i] = (
                    v, d["label"], 0, d["text"])
            docs.next_id = max(ids) + 1
            self.last_ids, size = ids, len(json.dumps(body))
            err = check.equal("upsert affectedCount", out["affectedCount"], len(body))
        elif name == "delete":
            ids = sorted(rng.choice(docs.ids(), DELETE_DOCS, replace=False).tolist())
            t0 = time.perf_counter()
            out = await aeng.delete(DB, coll, document_ids=ids)
            lat = time.perf_counter() - t0
            for i in ids:
                for m in (docs.vec, docs.label, docs.version, docs.text):
                    del m[i]
            self.last_ids, size = ids, len(json.dumps(ids))
            err = check.equal("delete affectedCount", out["affectedCount"], len(ids))
        elif name == "update":
            x = int(rng.integers(0, datagen.N_LABELS))
            values, filt = {"version": idx + 1}, f"label = {x}"
            t0 = time.perf_counter()
            out = await aeng.update(DB, coll, values, filter=filt)
            lat = time.perf_counter() - t0
            hit = [i for i in docs.ids() if docs.label[i] == x]
            for i in hit:
                docs.version[i] = idx + 1
            self.last_ids, size = hit[:20], len(json.dumps([values, filt]))
            err = check.equal("update affectedCount", out["affectedCount"], len(hit))
        else:
            return await self.read(name, rng)
        # bytes of the snapshot this write committed vs bytes the client sent
        self.store_bytes += tracing.dir_bytes(self.snapshot_dir())
        self.user_bytes += size
        return lat, err

    async def read(self, name, rng):
        aeng, docs, coll = self.aeng, self.docs, self.coll
        if name == "query":  # read-your-writes on the ids the last write touched
            ask = self.last_ids[:20]
            t0 = time.perf_counter()
            out = await aeng.query(DB, coll, document_ids=ask,
                                   output_fields=["label", "version"])
            lat = time.perf_counter() - t0
            got = sorted((r["id"], r["label"], r["version"]) for r in out)
            want = sorted((i, docs.label[i], docs.version[i]) for i in ask if i in docs.vec)
            return lat, check.equal("query by ids", got, want)
        if name == "search":
            q = datagen.unit_vectors(rng, 1)[0]
            labels = set(rng.choice(datagen.N_LABELS, 3, replace=False).tolist())
            t0 = time.perf_counter()
            out = await aeng.search(DB, coll, [q.tolist()], limit=LIMIT,
                                    filter=_labels_filter(sorted(labels)))
            lat = time.perf_counter() - t0
            ids, vecs = docs.allowed(labels)
            return lat, check.topk(out[0], ids, vecs, q, LIMIT)
        if name == "count":
            labels = set(rng.choice(datagen.N_LABELS, 2, replace=False).tolist())
            t0 = time.perf_counter()
            out = await aeng.count(DB, coll, filter=_labels_filter(sorted(labels)))
            lat = time.perf_counter() - t0
            return lat, check.equal("count", out,
                                    sum(v in labels for v in docs.label.values()))
        raise ValueError(name)

    async def final_check(self):
        """Every live row of the writer's collection, exactly."""
        out = await self.aeng.query(DB, self.coll, output_fields=["label", "version"])
        got = sorted((r["id"], r["label"], r["version"]) for r in out)
        want = sorted((i, self.docs.label[i], self.docs.version[i]) for i in self.docs.ids())
        return check.equal("final snapshot", got, want)


def api(spark, seed, seconds, work, sizes, tracer, res: Result) -> None:
    """Two concurrent clients through ``AsyncVectorDBEngine``: a reader
    on one standing collection and a single writer on another."""
    n = sizes["docs"]
    root = f"{work}/engine"
    aeng = AsyncVectorDBEngine(spark, root)
    colls = load_collections(spark, aeng.engine, seed, n, work, res)
    clients = [Reader(aeng, Docs(seed, n), colls[0], seed),
               Writer(aeng, Docs(seed, n), colls[1], root)]

    seen = collections.Counter()

    async def one(client, k, idx, name, rng, measured):
        # op ids are unique across clients; the traced run traces every
        # other measured op of each (client, op type), the first included
        op = tracing.Op(2 * idx + k, name)
        traced = False
        if tracer is not None and measured:
            traced = seen[client.kind, name] % 2 == 0
            seen[client.kind, name] += 1
        token = tracer.begin(op) if traced else None
        t0 = time.perf_counter()
        try:
            lat, err = await client.call(name, rng, idx)
        except Exception as e:  # a raised op is a failed op
            lat, err = time.perf_counter() - t0, f"{type(e).__name__}: {e}"
        if traced:
            tracer.end(op, token)
        res.records.append(Record(name, lat, err, measured, traced,
                                  write=name in WRITES, client=client.kind))

    async def warm(client, k, names):
        for name in names:
            i = list(client.mix).index(name)
            await one(client, k, -1 - i, name,
                      datagen.rng_for(seed, f"{client.kind}-warm{i}"), False)

    async def loop(client, k, deadline):
        ops = deck(seed, client.mix, client.kind)
        while time.perf_counter() < deadline:
            idx, name = next(ops)
            await one(client, k, idx, name,
                      datagen.rng_for(seed, f"{client.kind}{idx}"), True)

    async def main():
        # warm-up: every op type once (not measured); the reader's in two
        # tasks, the writer's in order so its model stays exact
        reads = list(READ_MIX)
        t0 = time.perf_counter()
        await asyncio.gather(warm(clients[0], 0, reads[0::2]),
                             warm(clients[0], 0, reads[1::2]),
                             warm(clients[1], 1, list(WRITE_MIX)))
        res.warmup_s = time.perf_counter() - t0
        writer = clients[1]
        writer.store_bytes = writer.user_bytes = 0
        t_start = time.perf_counter()
        deadline = t_start + seconds
        await asyncio.gather(*(loop(c, k, deadline) for k, c in enumerate(clients)))
        res.window_s = time.perf_counter() - t_start
        t0 = time.perf_counter()
        err = await writer.final_check()
        res.records.append(Record("query", time.perf_counter() - t0, err, False))
        res.extra["write_amp"] = (writer.store_bytes / max(writer.user_bytes, 1), "ratio")
        res.extra["space_amp"] = (
            tracing.dir_bytes(writer.cdir) / tracing.dir_bytes(writer.snapshot_dir()), "ratio")

    asyncio.run(main())


# -- batch_curate ----------------------------------------------------------------


def batch_curate(spark, seed, seconds, work, sizes, tracer, res: Result) -> None:
    import duckdb

    from tools.parity_check import TABLES, norm_hash

    nd, ne = sizes["docs"], sizes["embeddings"]
    for rep in range(SETUP_REPS):
        t0 = time.perf_counter()
        data = f"{work}/sf{rep}"
        os.makedirs(data)
        datagen.write_tables(seed, nd, ne, data)
        for t in ("documents", "embeddings"):
            spark.read.parquet(f"{data}/{t}.parquet").count()
        res.setup_s.append(time.perf_counter() - t0)

    # warm-up pass doubles as the correctness pass (outside the timed
    # region): each pipeline against its DuckDB oracle on the same tables
    t_warm = time.perf_counter()
    con = duckdb.connect()
    for t in TABLES:
        if os.path.exists(f"{data}/{t}.parquet"):
            con.sql(f"CREATE VIEW {t} AS SELECT * FROM '{data}/{t}.parquet'")
    for name in PIPELINES:
        t0 = time.perf_counter()
        try:
            sdf = Q.QUERIES[name](spark, data).toPandas()
            odf = con.sql(Q.ORACLES[name]).df()
            err = (check.equal(f"{name} rows", len(sdf), len(odf))
                   or check.equal(f"{name} columns", sorted(sdf.columns), sorted(odf.columns))
                   or check.equal(f"{name} value hash", norm_hash(sdf), norm_hash(odf)))
        except Exception as e:
            err = f"{type(e).__name__}: {e}"
        res.records.append(Record(name, time.perf_counter() - t0, err, False))
    con.close()
    res.warmup_s = time.perf_counter() - t_warm

    def build(name):
        return Q.QUERIES[name](spark, data)

    def execute(df):
        df.write.format("noop").mode("overwrite").save()

    if tracer:
        build = tracer.span("qfam", "qfam.build", build)
        execute = tracer.span("qfam", "qfam.exec", execute)
    # whole passes only, so every pass weighs the pipelines alike; at
    # least two, so the traced run (every other op traced) covers all
    t_start = time.perf_counter()
    deadline = t_start + seconds
    p = 0
    while p < 2 or time.perf_counter() < deadline:
        for i, name in enumerate(PIPELINES):
            op = tracing.Op(p * len(PIPELINES) + i, name)
            traced = tracer is not None and (p + i) % 2 == 0
            token = tracer.begin(op) if traced else None
            t0 = time.perf_counter()
            err = None
            try:
                execute(build(name))
            except Exception as e:
                err = f"{type(e).__name__}: {e}"
            lat = time.perf_counter() - t0
            if traced:
                tracer.end(op, token)
            res.records.append(Record(name, lat, err, True, traced, pass_no=p))
        p += 1
    res.window_s = time.perf_counter() - t_start
    passes = [sum(r.lat for r in res.records if r.measured and r.pass_no == k)
              for k in range(p)]
    res.extra["batch_docs_per_s"] = (nd / float(np.median(passes)), "docs/s")


WORKLOADS = {"api": api, "batch_curate": batch_curate}


def nominal_weights(workload: str) -> dict:
    """(client, op name) -> share of the nominal mix."""
    if workload == "api":
        return {**{("read", k): v for k, v in READ_MIX.items()},
                **{("write", k): v for k, v in WRITE_MIX.items()}}
    return {("", p): 1 for p in PIPELINES}
