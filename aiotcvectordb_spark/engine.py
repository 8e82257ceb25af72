"""VectorDBEngine — the full API facade.

One class exposing every operator of the reference client
(reference: aiotcvectordb/client/stub.py — AsyncVectorDBClient), executed
natively on Spark instead of POSTed to a server. DDL/catalog ops are
bookkeeping on the JSON catalog; DML rewrites parquet snapshots; reads
and searches are DataFrame plans that Catalyst optimizes.

Row-level results are returned as ``List[Dict]`` / ``List[List[Dict]]``
matching the reference response shapes (e.g. search returns one hit-list
per query vector — reference collection.py:698-707), while the
DataFrame-returning ``*_df`` variants are the composable / scalable form.
"""

from __future__ import annotations

import time
from collections.abc import Sequence
from typing import Any

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F
from pyspark.sql import types as T

from aiotcvectordb_spark.catalog import (
    AI_DOC,
    BASE_DB,
    Catalog,
    CollectionMeta,
    IndexField,
)
from aiotcvectordb_spark.errors import ParamError
from aiotcvectordb_spark.functions.embedding import embed_udf
from aiotcvectordb_spark.functions.filters import translate as translate_filter
from aiotcvectordb_spark.functions.sparse import build_postings
from aiotcvectordb_spark.operators import knn
from aiotcvectordb_spark.sources.parquet_store import ParquetStore
from aiotcvectordb_spark.users import UserManager

UPSERT_BATCH_CAP = 1000  # reference stub.py:453
DELETE_LIMIT_RANGE = (1, 16384)  # reference stub.py:484


def _ttl_enabled(meta: CollectionMeta) -> bool:
    return bool(meta.ttl_config and meta.ttl_config.get("enable"))


def _hit_lists(rows, n_queries: int) -> list[list[dict]]:
    """Group ``(query_idx, rank, ...)`` result rows into one hit-list per
    query, each in rank order, with both keys dropped."""
    out: list[list[dict]] = [[] for _ in range(n_queries)]
    for r in sorted(rows, key=lambda r: (r["query_idx"], r["rank"])):
        d = r.asDict(recursive=True)
        qi = d.pop("query_idx")
        d.pop("rank")
        out[qi].append(d)
    return out


class VectorDBEngine:
    def __init__(
        self,
        spark: SparkSession,
        root: str,
        *,
        read_consistency=None,
        **client_kw: Any,
    ) -> None:
        from aiotcvectordb_spark.params import validate_read_consistency

        self.spark = spark
        self.catalog = Catalog(root, spark)
        self.store = ParquetStore(root, spark)
        self.users = UserManager(root, spark)
        # reference stub.py:29: the client takes read_consistency at
        # construction and injects it into every read body. Parquet
        # snapshot reads are strongly consistent, so it validates and
        # records only. Transport kwargs the reference constructor takes
        # (timeout/pool_size/proxies/...) are accepted and ignored.
        self.read_consistency = validate_read_consistency(read_consistency)

    @staticmethod
    def _pop_read_consistency(kw: dict) -> None:
        """Strip + validate a per-call ``read_consistency`` kwarg (the
        reference injects it into every query/search body —
        collection.py:658,681). A no-op here: snapshot reads are strong."""
        from aiotcvectordb_spark.params import validate_read_consistency

        validate_read_consistency(kw.pop("read_consistency", None))

    # -- user ops (op 18, reference stub.py:923-1072) — delegate to the
    # ACL store; search/query paths stay permission-free (embedded use)

    def create_user(self, user: str, password: str) -> None:
        self.users.create_user(user, password)

    def drop_user(self, user: str) -> None:
        self.users.drop_user(user)

    def describe_user(self, user: str) -> dict:
        return self.users.describe_user(user)

    def user_list(self) -> list[dict]:
        return self.users.user_list()

    def change_password(self, user: str, password: str) -> None:
        self.users.change_password(user, password)

    def grant_to_user(self, user: str, privileges: list[dict]) -> None:
        self.users.grant_to_user(user, privileges)

    def revoke_from_user(self, user: str, privileges: list[dict]) -> None:
        self.users.revoke_from_user(user, privileges)

    # ------------------------------------------------------------------ DDL

    def create_database(self, name: str) -> None:
        self.catalog.create_database(name, BASE_DB)

    def create_database_if_not_exists(self, name: str) -> None:
        self.catalog.create_database(name, BASE_DB, exist_ok=True)

    def create_ai_database(self, name: str) -> None:
        self.catalog.create_database(name, AI_DOC)

    def drop_database(self, name: str) -> dict:
        self.store.drop(name)
        return {"affectedCount": self.catalog.drop_database(name)}

    drop_ai_database = drop_database

    def list_databases(self) -> list[dict]:
        return self.catalog.list_databases()

    def create_collection(
        self,
        database: str,
        name: str,
        *,
        indexes: Sequence[IndexField],
        shard: int = 1,
        replicas: int = 0,
        description: str = "",
        embedding: dict | None = None,
        ttl_config: dict | None = None,
        filter_index_config: dict | None = None,
        if_not_exists: bool = False,
    ) -> CollectionMeta:
        if if_not_exists and self.catalog.collection_exists(database, name):
            return self.catalog.get_collection(database, name)
        meta = CollectionMeta(
            name=name,
            database=database,
            shard=shard,
            replicas=replicas,
            description=description,
            indexes=list(indexes),
            embedding=embedding,
            ttl_config=ttl_config,
            filter_index_config=filter_index_config,
        )
        self.catalog.put_collection(meta)
        return meta

    def exists_collection(self, database: str, name: str) -> bool:
        return self.catalog.collection_exists(database, name)

    def describe_collection(self, database: str, name: str) -> dict:
        meta = self.catalog.get_collection(database, name)
        try:
            count = self._read(database, meta).count()
        except FileNotFoundError:
            count = 0
        d = {
            "database": meta.database,
            "collection": meta.name,
            "shard": meta.shard,
            "replicas": meta.replicas,
            "description": meta.description,
            "documentCount": count,
            "createTime": meta.create_time,
            "indexStatus": {"status": meta.index_status},
            "indexes": [vars(ix) for ix in meta.indexes],
            "alias": self.catalog.aliases_of(database, meta.name),
        }
        if meta.embedding:
            d["embedding"] = meta.embedding
        if meta.ttl_config:
            d["ttlConfig"] = meta.ttl_config
        return d

    def list_collections(self, database: str) -> list[str]:
        return self.catalog.list_collections(database)

    def drop_collection(self, database: str, name: str) -> dict:
        self.store.drop(database, name)
        # IVF_PQ sidecar codes table, if the index ever built one
        self.store.drop(database, f"{name}__pqcodes")
        return {"affectedCount": self.catalog.drop_collection(database, name)}

    def truncate_collection(self, database: str, name: str) -> dict:
        meta = self.catalog.get_collection(database, name)
        try:
            df = self.store.read(self.spark, database, meta.name)
        except FileNotFoundError:
            return {"affectedCount": 0}
        n = df.count()
        self.store.write(df.limit(0), database, meta.name)
        return {"affectedCount": n}

    def set_alias(self, database: str, collection: str, alias: str) -> dict:
        return {"affectedCount": self.catalog.set_alias(database, collection, alias)}

    def delete_alias(self, database: str, alias: str) -> dict:
        return {"affectedCount": self.catalog.delete_alias(database, alias)}

    # ---------------------------------------------------------- index admin

    def add_index(
        self, database: str, collection: str, indexes: Sequence[IndexField],
        build_existed_data: bool = True,
    ) -> None:
        """Scalar index add (reference op 14, stub.py:860-885). Predicate
        pushdown to parquet min/max/dictionary already works unindexed;
        ``build_existed_data=True`` additionally CLUSTERS the existing
        data on the first new field — a range-repartition + in-partition
        sort rewrite — so row-group min/max stats become selective for
        that field (the Z-order-lite analog of the server's backfill
        build). Metadata-only when False.
        """
        meta = self.catalog.get_collection(database, collection)
        meta.indexes.extend(indexes)
        if build_existed_data:
            first = indexes[0].name
            try:
                df = self.store.read(self.spark, database, meta.name)
            except FileNotFoundError:
                df = None
            if df is not None and first in df.columns:
                clustered = df.repartitionByRange(
                    max(df.rdd.getNumPartitions(), 1), F.col(first)
                ).sortWithinPartitions(first)
                self.store.write(clustered, database, meta.name, shard=None)
        self.catalog.put_collection(meta, replace=True)

    def drop_index(self, database: str, collection: str, field_names: Sequence[str]) -> None:
        meta = self.catalog.get_collection(database, collection)
        meta.indexes = [ix for ix in meta.indexes if ix.name not in set(field_names)]
        self.catalog.put_collection(meta, replace=True)

    def rebuild_index(
        self, database: str, collection: str, *,
        drop_before_rebuild: bool = False, throttle: int = 0,
        field_name: str = "vector",
    ) -> None:
        """Re-run the ANN build job (IVF KMeans refit / posting rebuild).

        ``throttle`` (CPU cap, reference stub.py:845-846) is honored as a
        scheduler-pool hint; in local mode it is advisory.
        """
        from aiotcvectordb_spark.operators import ann

        meta = self.catalog.get_collection(database, collection)
        vix = meta.vector_index()
        if field_name == "vector" and vix and (vix.index_type or "").startswith("IVF"):
            ann.build_ivf(self, meta)
        meta.index_status = "ready"
        self.catalog.put_collection(meta, replace=True)

    def modify_vector_index(
        self, database: str, collection: str, vector_indexes: Sequence[IndexField],
        rebuild_rules: dict | None = None,
    ) -> None:
        meta = self.catalog.get_collection(database, collection)
        meta.indexes = [ix for ix in meta.indexes if ix.kind != "vector"] + list(
            vector_indexes
        )
        self.catalog.put_collection(meta, replace=True)
        if rebuild_rules is None or rebuild_rules.get("rebuild", True):
            self.rebuild_index(database, collection)

    # ------------------------------------------------------------ maintenance

    def compact(
        self,
        database: str,
        collection: str,
        *,
        target_files: int | None = None,
        zorder_by: list[str] | None = None,
    ) -> dict:
        """Small-file compaction: rewrite the collection at a target file
        count (default: the session's parallelism). Streaming upserts and
        repeated merges accrete files; scan cost at scale tracks file
        count as much as bytes, so compaction is routine maintenance.
        IVF-partitioned layouts compact within each cluster directory
        (the partition column is preserved).

        ``zorder_by=[col_a, col_b]`` additionally clusters the rewrite
        along the Morton curve of two numeric columns
        (sources/zorder.py), so parquet footer min/max stats prune
        files for predicates on EITHER column — the multi-dimension
        data-skipping layout for scalar-filtered scans at scale. A
        z-ordered rewrite replaces any IVF ``cluster_id`` directory
        layout (one clustering per rewrite; rebuild_index restores the
        IVF layout if vector-search locality matters more)."""
        meta = self.catalog.get_collection(database, collection)
        df = self.store.read(self.spark, database, meta.name)
        n = target_files or self.spark.sparkContext.defaultParallelism
        partition_by = ["cluster_id"] if "cluster_id" in df.columns else None
        if zorder_by is not None:
            from aiotcvectordb_spark.sources.zorder import z_value

            with_bounds, z = z_value(df, zorder_by)
            out = (
                with_bounds.withColumn("__z", z)
                .repartitionByRange(n, "__z")
                .sortWithinPartitions("__z")
                .drop("__z", "__mna", "__mxa", "__mnb", "__mxb")
            )
            self.store.write(out, database, meta.name)
        elif partition_by:
            out = df.repartition(n, *partition_by)
            self.store.write(
                out, database, meta.name, partition_by=partition_by
            )
        else:
            self.store.write(df.coalesce(n), database, meta.name)
        return {"files": n, "zorder_by": zorder_by}

    def profile(
        self,
        database: str,
        collection: str,
        columns: list[str] | None = None,
    ) -> list[dict]:
        """One-pass column profile of a collection (the ingest-time
        data-quality audit): rows, nulls, exact distinct count, and
        value range (length range for strings) per column, computed as
        ONE wide aggregate over a single scan — the same shape as the
        oracle-checked ``profile_table`` registry query. Vector/array
        and map columns are skipped (no scalar ordering)."""
        from pyspark.sql import functions as F

        df = self.read(database, collection)
        scalars = {
            f.name: f.dataType.simpleString()
            for f in df.schema.fields
            if not f.dataType.simpleString().startswith(("array", "map", "struct"))
        }
        cols = list(scalars) if columns is None else [
            c for c in columns if c in scalars
        ]
        if not cols:
            return []
        aggs = []
        for c in cols:
            is_str = scalars[c] == "string"
            mn = F.min(F.length(c)) if is_str else F.min(F.col(c).cast("double"))
            mx = F.max(F.length(c)) if is_str else F.max(F.col(c).cast("double"))
            aggs += [
                F.count(F.lit(1)).alias(f"{c}__n"),
                F.sum(F.when(F.col(c).isNull(), 1).otherwise(0)).alias(f"{c}__nn"),
                F.countDistinct(c).alias(f"{c}__nd"),
                mn.cast("double").alias(f"{c}__mn"),
                mx.cast("double").alias(f"{c}__mx"),
            ]
        row = df.agg(*aggs).first()
        return [
            {
                "column": c,
                "type": scalars[c],
                "n_rows": row[f"{c}__n"],
                "n_null": row[f"{c}__nn"],
                "n_distinct": row[f"{c}__nd"],
                "min": row[f"{c}__mn"],
                "max": row[f"{c}__mx"],
            }
            for c in cols
        ]

    def export(
        self, database: str, collection: str, path: str, **kw
    ) -> int:
        """Export a collection snapshot to parquet/CSV/JSON-lines
        (optionally hive-partitioned); see sources/export.py."""
        from aiotcvectordb_spark.sources.export import export_collection

        return export_collection(self, database, collection, path, **kw)

    # -------------------------------------------------------------- SQL API

    def register_views(self, database: str) -> list[str]:
        """Expose every collection of a database (and its aliases) as
        session temp views, so the full Spark SQL surface — joins,
        windows, CTEs — runs directly over collections. TTL filtering is
        applied at registration, like every other read path."""
        names = list(self.catalog.list_collections(database))
        for name in names:
            self.read(database, name).createOrReplaceTempView(name)
        aliases = self.catalog._load()["databases"].get(database, {}).get(
            "aliases", {}
        )
        for alias, target in aliases.items():
            self.read(database, target).createOrReplaceTempView(alias)
        return names + list(aliases)

    def sql(self, database: str, query: str) -> DataFrame:
        """Run a SQL statement with the database's collections in scope
        and the vector metrics (`cosine_sim`/`dot_product`/`l2_distance`)
        registered as SQL scalar functions — exact vector search is
        expressible as plain SQL with zero Python in the loop — plus the
        `topk_by_score` table function (two-phase bounded-shuffle kNN,
        see `functions/topk_udtf.py`) and `sessionize_by_gap`
        (gap sessionization, `functions/session_udtf.py`)."""
        from aiotcvectordb_spark.functions.session_udtf import (
            register_sessionize_udtf,
        )
        from aiotcvectordb_spark.functions.topk_udtf import register_topk_udtf
        from aiotcvectordb_spark.functions.vector import register_sql_functions

        self.register_views(database)
        register_sql_functions(self.spark)
        register_topk_udtf(self.spark)
        register_sessionize_udtf(self.spark)
        return self.spark.sql(query)

    def database(self, name: str):
        """Bound Database handle (reference stub.py:178-193 returns a
        Database/AIDatabase object the same way)."""
        from aiotcvectordb_spark.objects import Database

        if not self.catalog.database_exists(name):
            from aiotcvectordb_spark.errors import DatabaseNotExistError

            raise DatabaseNotExistError(f"database {name!r} not found")
        return Database(self, name)

    def collection(self, database: str, name: str):
        """Bound Collection handle (reference stub.py:336-350)."""
        return self.database(database).collection(name)

    def ai_database(self, name: str):
        """Bound AIDatabase handle (reference stub.py:178-193 returns an
        AsyncAIDatabase for dbType AI_DB)."""
        from aiotcvectordb_spark.objects import AIDatabase

        if not self.catalog.database_exists(name):
            from aiotcvectordb_spark.errors import DatabaseNotExistError

            raise DatabaseNotExistError(f"AI database {name!r} not found")
        return AIDatabase(self, name)

    def stream_search_sink(
        self, database: str, collection: str, out_path: str, **kwargs
    ):
        """ForeachBatch function serving a query STREAM against this
        collection's live snapshot (IVF cell pruning when indexed,
        epoch-idempotent results; see `streaming/search.py`)."""
        from aiotcvectordb_spark.streaming.search import (
            engine_stream_search_sink,
        )

        return engine_stream_search_sink(
            self, database, collection, out_path, **kwargs
        )

    # ------------------------------------------------------------- read path

    def read(
        self,
        database: str,
        collection: str,
        *,
        honor_ttl: bool = True,
        version: int | None = None,
    ) -> DataFrame:
        """Snapshot DataFrame of a collection, TTL-expired rows filtered out
        (reference op 22: ttl_config {'enable', 'timeField'}, stub.py:224-225).
        ``version`` time-travels to a retained prior snapshot (the store
        keeps one back-version per write). The current version's handle
        is resolved once per commit (``ParquetStore.read``), so repeated
        reads of an unchanged collection share one DataFrame."""
        meta = self.catalog.get_collection(database, collection)
        return self._read(database, meta, honor_ttl=honor_ttl, version=version)

    def _read(
        self,
        database: str,
        meta: CollectionMeta,
        *,
        honor_ttl: bool = True,
        version: int | None = None,
    ) -> DataFrame:
        """``read`` for an already-loaded catalog entry (one catalog load
        per engine call)."""
        df = self.store.read(self.spark, database, meta.name, version=version)
        if honor_ttl and _ttl_enabled(meta):
            tf = meta.ttl_config["timeField"]
            df = df.filter(F.col(tf) > F.unix_timestamp())
        return df

    def _text_corpus(
        self, database: str, meta: CollectionMeta, *, filter: str | None,
        text_col: str,
    ) -> tuple[DataFrame, DataFrame | None]:
        """The read frame of a BM25 call, plus the BM25 postings of the
        committed snapshot, built and persisted once per version, when
        the corpus is that whole snapshot. With a ``filter`` or an
        enabled TTL the corpus depends on the call or the clock, so no
        postings are returned and the operator derives them per call."""
        df = self._read(database, meta)
        if filter or _ttl_enabled(meta):
            return df, None
        pk = meta.primary_key
        postings = self.store.derived(
            database, meta.name, df, ("bm25", pk, text_col),
            lambda snap: build_postings(snap, id_col=pk, text_col=text_col)[0].persist(),
        )
        return df, postings

    def query_df(
        self,
        database: str,
        collection: str,
        *,
        document_ids: Sequence | None = None,
        filter: str | None = None,
        output_fields: Sequence[str] | None = None,
        limit: int | None = None,
        offset: int = 0,
        sort: dict | None = None,
        retrieve_vector: bool = False,
        read_consistency=None,
    ) -> DataFrame:
        """Op 23 `query`: scan -> filter -> sort -> paginate -> project
        (reference collection.py:121-159). Sort is single-field
        {'fieldName', 'direction'} with asc default (stub.py:550)."""
        self._pop_read_consistency({"read_consistency": read_consistency})
        meta = self.catalog.get_collection(database, collection)
        pk = meta.primary_key
        df = self._read(database, meta)
        if document_ids is not None:
            df = df.filter(F.col(pk).isin(list(document_ids)))
        if filter:
            df = df.filter(translate_filter(filter))
        if sort:
            field = sort["fieldName"]
            direction = sort.get("direction", "asc")
            order = F.col(field).asc() if direction == "asc" else F.col(field).desc()
            # pk tiebreak => stable, disjoint pages (test_documents_query_sort_pagination)
            df = df.orderBy(order, F.col(pk).asc())
        elif offset or limit is not None:
            df = df.orderBy(F.col(pk).asc())
        if offset:
            df = df.offset(offset)
        if limit is not None:
            df = df.limit(limit)
        vec = meta.vector_field
        if output_fields is not None:
            keep = [pk] + [c for c in output_fields if c != pk]
            if retrieve_vector and vec and vec not in keep:
                keep.append(vec)
            df = df.select(*keep)
        elif not retrieve_vector and vec:
            df = df.drop(vec)
        return df

    def query(self, database: str, collection: str, **kw) -> list[dict]:
        return [r.asDict(recursive=True) for r in self.query_df(database, collection, **kw).collect()]

    def count(
        self,
        database: str,
        collection: str,
        filter: str | None = None,
        *,
        read_consistency=None,
    ) -> int:
        self._pop_read_consistency({"read_consistency": read_consistency})
        df = self.read(database, collection)
        if filter:
            df = df.filter(translate_filter(filter))
        return df.count()

    # ------------------------------------------------------------ write path

    def upsert(
        self,
        database: str,
        collection: str,
        documents: Sequence[dict],
        *,
        build_index: bool = True,
    ) -> dict:
        """Op 19: insert-or-replace by primary key (reference
        collection.py:79-119). Embedding-enabled collections accept a text
        value in the vector field and embed it engine-side (ai-mode
        detection mirrors collection.py:107-112).
        """
        if len(documents) > UPSERT_BATCH_CAP:
            raise ParamError(
                f"upsert batch exceeds {UPSERT_BATCH_CAP} documents"
            )
        meta = self.catalog.get_collection(database, collection)
        pk = meta.primary_key
        vec = meta.vector_field
        token_used = 0

        docs = [dict(d) for d in documents]
        # a batch may repeat a primary key; the reference server applies
        # docs in order, so the LAST occurrence wins — dedup here, or the
        # set-oriented merge below would persist two rows under one pk
        seen: dict = {}
        for d in docs:
            seen[d.get(pk)] = d
        docs = list(seen.values())
        ai_mode = bool(
            meta.embedding and docs and isinstance(docs[0].get(vec), str)
        )
        if meta.embedding and docs and vec is not None:
            text_field = meta.embedding["field"]
            dim = meta.vector_index().dimension if meta.vector_index() else 64
            fn = embed_udf.python_fn(dim)
            for d in docs:
                if ai_mode and isinstance(d.get(vec), str):
                    d[text_field] = d[vec]
                    d.pop(vec)
                if vec not in d and text_field in d:
                    d[vec] = fn(d[text_field])
                    token_used += len(str(d[text_field]).split())

        new_df = self._docs_to_df(docs, meta)
        try:
            old = self.store.read(self.spark, database, meta.name)
        except FileNotFoundError:
            old = None
        if old is not None and old.columns:
            merged = upsert_dataframes(old, new_df, pk)
        else:
            merged = new_df
        self.store.write(merged, database, meta.name, shard=meta.shard)
        if build_index:
            vix = meta.vector_index()
            if vix and (vix.index_type or "").startswith("IVF"):
                self.rebuild_index(database, collection)
        else:
            meta.index_status = "stale"
            self.catalog.put_collection(meta, replace=True)
        # affectedCount mirrors the request size (every submitted doc was
        # applied; batch-internal replacements still count)
        out = {"affectedCount": len(documents)}
        if ai_mode:
            out["embeddingExtraInfo"] = {"tokenUsed": token_used}
        return out

    def _docs_to_df(self, docs: Sequence[dict], meta: CollectionMeta) -> DataFrame:
        schema = self._schema_for(meta, docs)
        rows = [tuple(d.get(f.name) for f in schema.fields) for d in docs]
        return self.spark.createDataFrame(rows, schema)

    def _schema_for(self, meta: CollectionMeta, docs: Sequence[dict]) -> T.StructType:
        """Declared (indexed) fields get their declared types; dynamic scalar
        fields are inferred from the batch (schemaless surface of the
        reference — SURVEY §1.2)."""
        type_map = {
            "string": T.StringType(),
            "uint64": T.LongType(),
            "double": T.DoubleType(),
            "array": T.ArrayType(T.StringType()),
        }
        fields: dict[str, T.DataType] = {}
        for ix in meta.indexes:
            if ix.kind == "vector":
                fields[ix.name] = T.ArrayType(T.DoubleType())
            elif ix.kind == "sparse":
                fields[ix.name] = T.ArrayType(
                    T.StructType(
                        [
                            T.StructField("term_id", T.LongType()),
                            T.StructField("weight", T.DoubleType()),
                        ]
                    )
                )
            else:
                fields[ix.name] = type_map.get(ix.field_type, T.StringType())
        for d in docs:
            for k, v in d.items():
                if k in fields:
                    continue
                if isinstance(v, bool):
                    fields[k] = T.BooleanType()
                elif isinstance(v, int):
                    fields[k] = T.LongType()
                elif isinstance(v, float):
                    fields[k] = T.DoubleType()
                elif isinstance(v, list):
                    if v and isinstance(v[0], (int, float)):
                        fields[k] = T.ArrayType(T.DoubleType())
                    else:
                        fields[k] = T.ArrayType(T.StringType())
                else:
                    fields[k] = T.StringType()
        return T.StructType(
            [T.StructField(name, dt, True) for name, dt in fields.items()]
        )

    def update(
        self,
        database: str,
        collection: str,
        values: dict,
        *,
        document_ids: Sequence | None = None,
        filter: str | None = None,
    ) -> dict:
        """Op 20: partial update by ids and/or filter; requires at least one
        predicate (reference collection.py:734-737)."""
        if document_ids is None and not filter:
            raise ParamError("update requires document_ids and/or filter")
        meta = self.catalog.get_collection(database, collection)
        pk = meta.primary_key
        df = self.store.read(self.spark, database, meta.name)
        pred = _predicate(pk, document_ids, filter)
        affected = df.filter(pred).count()
        updated = update_dataframe(df, pred, values)
        self.store.write(updated, database, meta.name, shard=meta.shard)
        return {"affectedCount": affected}

    def delete(
        self,
        database: str,
        collection: str,
        *,
        document_ids: Sequence | None = None,
        filter: str | None = None,
        limit: int | None = None,
    ) -> dict:
        """Op 21: delete by ids and/or filter with optional limit in
        [1, 16384] (reference stub.py:484)."""
        if document_ids is None and not filter:
            raise ParamError("delete requires document_ids and/or filter")
        if limit is not None and not (
            DELETE_LIMIT_RANGE[0] <= limit <= DELETE_LIMIT_RANGE[1]
        ):
            raise ParamError(f"delete limit must be in {DELETE_LIMIT_RANGE}")
        meta = self.catalog.get_collection(database, collection)
        pk = meta.primary_key
        df = self.store.read(self.spark, database, meta.name)
        pred = _predicate(pk, document_ids, filter)
        remaining, affected = delete_rows(df, pred, pk, limit)
        self.store.write(remaining, database, meta.name, shard=meta.shard)
        return {"affectedCount": affected}

    # ----------------------------------------------------------- search path

    def search_df(
        self,
        database: str,
        collection: str,
        vectors: Sequence[Sequence[float]],
        **kw,
    ) -> DataFrame:
        self._pop_read_consistency(kw)
        # accept numpy ndarray / sequences of np floats, as the reference
        # does (stub.py:602: vectors may be an ndarray)
        vectors = [[float(x) for x in v] for v in vectors]
        meta = self.catalog.get_collection(database, collection)
        vix = meta.vector_index()
        metric = kw.pop("metric", (vix.metric_type if vix else None) or "COSINE")
        # reference-style search params (stub.py:609-612): IVF nprobe is
        # honored (partition-probe count); HNSW ef maps onto the LSH
        # stand-in's candidate breadth (ann.ef_to_lsh_params) so recall
        # responds to ef the way a reference user expects. Without ef,
        # HNSW collections get the exact scan (the ef -> inf limit).
        params = kw.pop("params", None) or {}
        nprobe_param = (
            int(params["nprobe"])
            if isinstance(params, dict) and params.get("nprobe")
            else None
        )
        ef_param = (
            int(params["ef"])
            if isinstance(params, dict) and params.get("ef")
            else None
        )
        if kw.get("filter"):
            kw["filter"] = translate_filter(kw["filter"])
        df = self._read(database, meta)
        index_type = (vix.index_type if vix else "FLAT") or "FLAT"
        if index_type.upper() == "HNSW" and ef_param is not None:
            from aiotcvectordb_spark.operators import ann

            return ann.hnsw_search(
                df,
                vectors,
                vector_col=meta.vector_field or "vector",
                id_col=meta.primary_key,
                metric=metric,
                ef=ef_param,
                **kw,
            )
        if (
            index_type.startswith("IVF")
            and meta.ann_state.get("ivf")
            # a stale index (deferred build: rows written without cluster
            # assignment) must not prune — fall back to the exact scan
            # until rebuild_index refreshes it
            and meta.index_status == "ready"
        ):
            from aiotcvectordb_spark.operators import ann

            if (
                index_type.upper() == "IVF_SQ8"
                and meta.ann_state.get("sq8")
                and not kw.get("filter")
                and not kw.get("radius")
                and not kw.get("output_fields")
                and not kw.get("retrieve_vector")
            ):
                return ann.ivf_sq8_search(
                    self, meta, df, vectors, metric=metric,
                    nprobe=nprobe_param,
                    limit=kw.get("limit", 10),
                    round_digits=kw.get("round_digits", 6),
                )
            if (
                index_type.upper() == "IVF_PQ"
                and meta.ann_state.get("pq")
                # the compressed-domain path serves the plain top-k
                # shape; filter/radius/field projection fall through to
                # the cell-pruned exact scan below (same pruning, raw
                # vectors) — approximation never changes FILTER results
                and not kw.get("filter")
                and not kw.get("radius")
                and not kw.get("output_fields")
                and not kw.get("retrieve_vector")
            ):
                return ann.ivf_pq_search(
                    self, meta, df, vectors, metric=metric,
                    nprobe=nprobe_param,
                    limit=kw.get("limit", 10),
                    round_digits=kw.get("round_digits", 6),
                )
            if nprobe_param is not None:
                kw.setdefault("nprobe", nprobe_param)
            return ann.ivf_search(
                self, meta, df, vectors, metric=metric, **kw
            )
        return knn.knn_search(
            df,
            vectors,
            vector_col=meta.vector_field or "vector",
            id_col=meta.primary_key,
            metric=metric,
            **kw,
        )

    def search(
        self, database: str, collection: str, vectors: Sequence[Sequence[float]], **kw
    ) -> list[list[dict]]:
        """Op 28: returns one hit-list per query vector
        (wire shape reference collection.py:698-707)."""
        res = self.search_df(database, collection, vectors, **kw).collect()
        return _hit_lists(res, len(vectors))

    def search_by_id(
        self, database: str, collection: str, document_ids: Sequence, **kw
    ) -> list[list[dict]]:
        self._pop_read_consistency(kw)
        meta = self.catalog.get_collection(database, collection)
        df = self._read(database, meta)
        res = knn.search_by_id(
            df,
            document_ids,
            vector_col=meta.vector_field or "vector",
            id_col=meta.primary_key,
            metric=kw.pop(
                "metric",
                (meta.vector_index().metric_type if meta.vector_index() else None)
                or "COSINE",
            ),
            **kw,
        ).collect()
        return _hit_lists(res, len(document_ids))

    def search_by_text(
        self, database: str, collection: str, texts: Sequence[str], **kw
    ) -> list[list[dict]]:
        """Op 30: engine-side embedding of query texts via the collection's
        deterministic embedding model (stand-in for bge-base-zh —
        reference collection.py:263-314)."""
        meta = self.catalog.get_collection(database, collection)
        if not meta.embedding:
            raise ParamError("collection has no embedding config")
        dim = meta.vector_index().dimension if meta.vector_index() else 64
        fn = embed_udf.python_fn(dim)
        vectors = [fn(t) for t in texts]
        return self.search(database, collection, vectors, **kw)

    def fulltext_search(
        self, database: str, collection: str, query_text: str, **kw
    ) -> list[dict]:
        """Op 33: BM25 sparse retrieval; single query in, single list out
        (reference collection.py:403-467)."""
        from aiotcvectordb_spark.operators import fulltext

        self._pop_read_consistency(kw)
        meta = self.catalog.get_collection(database, collection)
        if kw.get("filter"):
            kw["filter"] = translate_filter(kw["filter"])
        df, postings = self._text_corpus(
            database, meta, filter=kw.get("filter"),
            text_col=kw.get("text_col", "text"),
        )
        res = fulltext.fulltext_search_df(
            df, query_text, id_col=meta.primary_key, postings=postings, **kw
        ).collect()
        return [r.asDict(recursive=True) for r in res]

    def hybrid_search(
        self,
        database: str,
        collection: str,
        *,
        ann=None,
        match=None,
        ann_vectors: Sequence[Sequence[float]] | None = None,
        match_text: str | None = None,
        rerank=None,
        limit: int = 10,
        filter: str | None = None,
        **kw,
    ) -> list[list[dict]] | list[dict]:
        """Op 32: dense + sparse legs fused by RRF or weighted rerank
        (reference collection.py:316-401). Accepts either raw kwargs
        (``ann_vectors``/``match_text``) or the reference's param
        objects (``ann=AnnSearch(...)``, ``match=KeywordSearch(...)``,
        ``rerank=RRFRerank()/WeightedRerank(...)``) — a single
        ``AnnSearch`` in returns a single hit-list out, matching the
        reference's single-vs-list convention (collection.py:344-354,
        :399-401)."""
        from aiotcvectordb_spark.operators import hybrid
        from aiotcvectordb_spark.params import AnnSearch, KeywordSearch

        self._pop_read_consistency(kw)
        single_in = isinstance(ann, AnnSearch)
        if ann is not None:
            anns = [ann] if single_in else list(ann)
            ann_vectors = [list(a.data) for a in anns]
        if match is not None:
            if isinstance(match, KeywordSearch):
                match_text = match.data
                if match.terminate_after is not None:
                    kw.setdefault("terminate_after", match.terminate_after)
                if match.cutoff_frequency is not None:
                    kw.setdefault("cutoff_frequency", match.cutoff_frequency)
            else:
                match_text = match
        if rerank is not None and hasattr(rerank, "to_dict"):
            rerank = rerank.to_dict()

        meta = self.catalog.get_collection(database, collection)
        df, postings = self._text_corpus(
            database, meta, filter=filter, text_col=kw.get("text_col", "text")
        )
        out_df = hybrid.hybrid_search_df(
            df,
            ann_vectors=ann_vectors,
            match_text=match_text,
            id_col=meta.primary_key,
            vector_col=meta.vector_field or "vector",
            rerank=rerank,
            limit=limit,
            filter=translate_filter(filter) if filter else None,
            postings=postings,
            **kw,
        )
        out = _hit_lists(out_df.collect(), len(ann_vectors) if ann_vectors else 1)
        return out[0] if single_in else out


# ---------------------------------------------------------------- primitives
# Pure DataFrame->DataFrame forms of the write ops, shared by the engine and
# the oracle-checked entry queries (they are side-effect-free transforms).


# Never force-broadcast a key set we can't bound: a forced hint bypasses
# AQE's size check and ships the build side to every executor even when
# it is arbitrarily large (a filter-only delete can match half the
# collection). Below this many keys a hint is always safe (~a few MB);
# above it — or when the count is unknown — leave the join unhinted and
# let AQE pick broadcast/shuffle from the OBSERVED size at runtime.
_BROADCAST_KEYS_MAX = 100_000


def upsert_dataframes(
    old: DataFrame, new: DataFrame, pk: str, *, known_small: bool = True
) -> DataFrame:
    """Insert-or-replace: keep old rows whose pk is absent from new, then
    union the new batch.

    ``known_small=True`` (the API path: upsert batches are capped at
    1000 docs, reference stub.py upsert cap) broadcast-hints the batch
    key side of the anti-join. Callers merging unbounded frames — the
    streaming sink, bulk file ingest — pass False and AQE chooses the
    strategy from the runtime-observed batch size instead."""
    for c in old.columns:
        if c not in new.columns:
            new = new.withColumn(c, F.lit(None).cast(old.schema[c].dataType))
    for c in new.columns:
        if c not in old.columns:
            old = old.withColumn(c, F.lit(None).cast(new.schema[c].dataType))
    keys = new.select(pk).distinct()
    if known_small:
        keys = F.broadcast(keys)
    survivors = old.join(keys, pk, "left_anti")
    return survivors.unionByName(new.select(*survivors.columns))


def update_dataframe(df: DataFrame, pred, values: dict) -> DataFrame:
    """Conditional column rewrite: col := CASE WHEN pred THEN v ELSE col."""
    out = df
    for col_name, v in values.items():
        if col_name in out.columns:
            out = out.withColumn(
                col_name, F.when(pred, F.lit(v)).otherwise(F.col(col_name))
            )
        else:
            out = out.withColumn(col_name, F.when(pred, F.lit(v)))
    return out


def delete_rows(
    df: DataFrame, pred, pk: str, limit: int | None = None
) -> tuple[DataFrame, int]:
    """Anti-join delete; limited delete picks victims deterministically by pk
    order (the reference leaves choice unspecified; determinism makes the
    result oracle-checkable)."""
    victims = df.filter(pred)
    if limit is not None:
        victims = victims.orderBy(F.col(pk).asc()).limit(limit)
    victims_keys = victims.select(pk)
    n = victims_keys.count()
    # The count above bounds the victim set for free: hint broadcast
    # only when it is genuinely small (limited deletes are — the
    # reference caps limit at 16384); an unbounded filter-only delete
    # stays unhinted so AQE sizes the anti-join at runtime.
    if n <= _BROADCAST_KEYS_MAX:
        victims_keys = F.broadcast(victims_keys)
    remaining = df.join(victims_keys, pk, "left_anti")
    return remaining, n


def _predicate(pk: str, document_ids: Sequence | None, filter_expr: str | None):
    pred = None
    if document_ids is not None:
        pred = F.col(pk).isin(list(document_ids))
    if filter_expr:
        fp = F.expr(translate_filter(filter_expr))
        pred = fp if pred is None else (pred & fp)
    return pred
