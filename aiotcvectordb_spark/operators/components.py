"""Distributed connected components over a pair-edge list.

Near-duplicate candidates (MinHash/SimHash/embedding) form an
undirected graph; deduplication keeps one representative per CONNECTED
COMPONENT, not per pair. The one-pass bucket-min domination used inside
``pipelines.near_dedup_stage`` is exact for pair groups but can keep
two docs of a longer chain (a-b, b-c with a<b<c keeps a and can keep c
if b was c's only bucket-mate). This operator closes that gap exactly.

Algorithm: alternating large-star / small-star contraction (Kiveris,
Lattanzi, Mirrokni, Rastogi, Vassilvitskii — "Connected Components in
MapReduce and Beyond", SoCC'14). Each round rewrites the EDGE LIST so
every node points closer to its component minimum:

- large-star: for each node u, every strictly-larger neighbor is
  re-attached to m(u) = min(N(u) ∪ {u});
- small-star: orient edges high→low, then every smaller neighbor of u
  (and u itself) is re-attached to its minimum.

Alternating the two provably converges to per-component stars in
O(log n) rounds INDEPENDENT of how node ids correlate with the graph
topology. (The previous min-label + pointer-jumping formulation hit its
adversarial case in practice: on an LSH chain whose doc-id order zigzags
along the chain, label-of-label jumps stop doubling reach and
convergence degrades to O(diameter).)

Scale shape: each half-round is one groupBy-min plus one equi-join,
both shuffling on the node key, so rounds reuse the same hash
partitioning; the edge list only shrinks (contraction). Lineage is
truncated every round with an eager ``localCheckpoint``; on a real
cluster swap in ``checkpoint()`` to HDFS for executor fault tolerance.

Frozen-component pruning: near-dup graphs are dominated by tiny
components (pairs/triples) that reach canonical star form after the
first round, yet the naive iteration keeps shuffling their edges until
the LAST component converges — measured 2.4x-over-linear at the 100x
probe. After every round, components already in star form (root has no
out-edge; every member points only at the root and is pointed at by
nothing) are severed into an accumulated label set and leave the loop;
star form is per-component terminal for these operators (components
never merge or split), so severing is exact. The loop then converges
when the ACTIVE edge set is empty, which also replaces the old
set-difference fixpoint probe (two exceptAll shuffles) with a count.

Execution is adaptively two-phase: every round re-counts the (just
materialized) edge list and, once contraction shrinks the parent forest
under a bounded cap, finishes it exactly with driver-side union-find —
the distributed rounds do the O(N) work; the collect is capped by
``local_finish_edges`` and never sees the raw candidate graph.
"""

from __future__ import annotations

from pyspark import StorageLevel
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

# Round materializations are DISK-backed: a memory-first local
# checkpoint can lose an evicted block under pressure (observed at the
# 100x probe: "Block rdd_N does not exist" after MemoryStore
# evictions), and a lost block is unrecoverable once lineage is
# truncated. Disk blocks never evict; the per-round edge list is the
# contracted forest, so the I/O is modest and shrinking.
_ROUND_LEVEL = StorageLevel.DISK_ONLY


def _large_star(edges: DataFrame) -> DataFrame:
    """(a, b) undirected → re-attach each larger endpoint to the min of
    the smaller endpoint's closed neighborhood."""
    sym = edges.union(
        edges.select(F.col("b").alias("a"), F.col("a").alias("b"))
    )
    mins = (
        sym.groupBy("a")
        .agg(F.min("b").alias("_mnb"))
        .select("a", F.least("a", "_mnb").alias("m"))
    )
    # No distinct here: duplicate edges don't change any groupBy-min and
    # the small-star half that always follows dedupes its output — saves
    # one shuffle per round.
    return (
        sym.join(mins, "a")
        .where(F.col("b") > F.col("a"))
        .select(F.col("b").alias("a"), F.col("m").alias("b"))
        .where(F.col("a") != F.col("b"))
    )


def _small_star(edges: DataFrame) -> DataFrame:
    """Orient high→low, then re-attach each node's smaller neighbors
    (and the node itself) to the minimum of that down-neighborhood."""
    down = edges.select(
        F.greatest("a", "b").alias("a"), F.least("a", "b").alias("b")
    )
    mins = down.groupBy("a").agg(F.min("b").alias("m"))
    reattached = (
        down.join(mins, "a")
        .where(F.col("b") != F.col("m"))
        .select(F.col("b").alias("a"), F.col("m").alias("b"))
    )
    selfs = mins.select(F.col("a"), F.col("m").alias("b"))
    return (
        reattached.union(selfs)
        .where(F.col("a") != F.col("b"))
        .distinct()
    )


def _local_union_find(rows) -> dict:
    """Exact union-find with path compression over a BOUNDED collected
    edge list (the contracted parent forest, never the raw candidate
    graph). Returns node -> component-min for every node seen."""
    parent: dict = {}

    def find(x):
        root = x
        while parent.get(root, root) != root:
            root = parent[root]
        while parent.get(x, x) != x:
            parent[x], x = root, parent[x]
        return root

    for a, b in rows:
        parent.setdefault(a, a)
        parent.setdefault(b, b)
        ra, rb = find(a), find(b)
        if ra != rb:
            lo, hi = (ra, rb) if ra < rb else (rb, ra)
            parent[hi] = lo
    return {n: find(n) for n in parent}


def _split_frozen(marked: DataFrame) -> tuple[DataFrame, DataFrame, DataFrame]:
    """Given an oriented (a > b), distinct, flag-annotated edge list
    with a boolean ``frz`` column, return (active_edges, frozen_labels,
    frozen_root_labels)."""
    active = marked.where(~F.col("frz")).select("a", "b")
    frozen_members = marked.where("frz").select(
        F.col("a").alias("node"), F.col("b").alias("component")
    )
    frozen_roots = (
        marked.where("frz")
        .select(F.col("b").alias("node"))
        .distinct()
        .select("node", F.col("node").alias("component"))
    )
    return active, frozen_members, frozen_roots


def _mark_frozen_stars(edges: DataFrame) -> DataFrame:
    """Annotate an oriented (a > b), distinct edge list with ``frz`` =
    this edge belongs to a component already in canonical star form.

    PRECONDITION (exactness): ``edges`` must be DISTINCT and (a > b)-
    oriented — the degree-local star test double-counts degrees on
    duplicate edges and would silently sever non-star components.
    The only caller feeds ``_small_star(...)`` output, whose trailing
    ``.distinct()`` guarantees this (pinned in tests/test_components.py).

    Star test, all degree-local: root b has out-degree 0, and EVERY
    in-neighbor a of b has out-degree 1 and in-degree 0. When it holds,
    {b} ∪ N_in(b) is the entire component (no member can reach anything
    else) and b is its minimum — terminal under large/small-star, so the
    component can exit the loop.

    Everything is groupBy-aggregate + equi-join — deliberately NO window
    over partitionBy(b): a popular root can have millions of in-edges,
    and a window would sort that entire hot key in one task (observed
    Java-heap OOM at the 100x probe), while groupBy-min partial-
    aggregates it map-side to one row per task."""
    deg = (
        edges.select(F.col("a").alias("n"), F.lit(1).alias("o"), F.lit(0).alias("i"))
        .union(edges.select(F.col("b"), F.lit(0), F.lit(1)))
        .groupBy("n")
        .agg(F.sum("o").alias("od"), F.sum("i").alias("id"))
    )
    simple = deg.where((F.col("od") == 1) & (F.col("id") == 0)).select(
        F.col("n").alias("a"), F.lit(1).alias("a_simple")
    )
    roots = deg.where(F.col("od") == 0).select(F.col("n").alias("b"))
    frz_roots = (
        edges.join(simple, "a", "left")
        .groupBy("b")
        .agg(F.min(F.coalesce("a_simple", F.lit(0))).alias("all_sim"))
        .where(F.col("all_sim") == 1)
        .join(roots, "b", "left_semi")
        .select("b", F.lit(True).alias("frz0"))
    )
    return (
        edges.join(frz_roots, "b", "left")
        .withColumn("frz", F.coalesce("frz0", F.lit(False)))
        .select("a", "b", "frz")
    )


def _precontract_partitions(edges: DataFrame) -> DataFrame:
    """Partition-local union-find pre-contraction: each partition
    replaces its edges with the spanning forest (node -> local
    component-min), one narrow Arrow pass, NO shuffle. Global
    connectivity is preserved exactly (a partition's spanning forest
    connects the same node set), while LSH candidate graphs — full of
    redundant within-partition edges and local chains — typically
    shrink severalfold before the first global round pays its shuffles.
    Output is oriented (a > b, b the local min); duplicates across
    partitions are possible and the first star round's distinct absorbs
    them."""

    def contract(batches):
        import pandas as pd

        parent: dict = {}

        def find(x):
            root = x
            while parent.get(root, root) != root:
                root = parent[root]
            while parent.get(x, x) != x:
                parent[x], x = root, parent[x]
            return root

        for pdf in batches:
            for a, b in zip(pdf["a"], pdf["b"]):
                parent.setdefault(a, a)
                parent.setdefault(b, b)
                ra, rb = find(a), find(b)
                if ra != rb:
                    lo, hi = (ra, rb) if ra < rb else (rb, ra)
                    parent[hi] = lo
        rows = [(n, find(n)) for n in parent]
        out = pd.DataFrame(
            [(n, r) for n, r in rows if n != r], columns=["a", "b"]
        )
        yield out

    return edges.mapInPandas(contract, schema=edges.schema)


def connected_components(
    edges: DataFrame,
    src: str = "src",
    dst: str = "dst",
    *,
    max_iter: int = 25,
    local_finish_edges: int = 200_000,
) -> DataFrame:
    """Label every node of the undirected graph ``edges`` with the
    smallest node id in its connected component.

    Returns a DataFrame (node, component). Only nodes that appear in at
    least one edge are returned (isolated docs need no dedup decision).

    Adaptive two-phase execution: each round re-counts the edge list (a
    cheap action on the just-checkpointed materialization) and picks a
    strategy. While the parent forest is larger than
    ``local_finish_edges`` the round runs a distributed large-star /
    small-star alternation; once contraction shrinks it under the cap,
    the BOUNDED remainder is collected and finished exactly with
    union-find — the standard two-phase CC shape (distributed contract,
    bounded local finish). The collect is capped by the parameter (never
    O(N) — at 100 TB the distributed path simply keeps contracting);
    pass ``local_finish_edges=0`` to force pure-distributed iteration to
    the star fixpoint.

    Raises ``RuntimeError`` if the contraction hasn't converged after
    ``max_iter`` rounds (O(log n) expected — at that point something is
    wrong with the input, e.g. null ids)."""
    from functools import reduce

    # Materialize the input ONCE: every round reads it, and without this
    # the whole upstream candidate pipeline (shingles, md5 minhashes,
    # bucket expansion) would re-execute per iteration.
    cur = (
        _precontract_partitions(
            edges.select(F.col(src).alias("a"), F.col(dst).alias("b")).where(
                F.col("a") != F.col("b")
            )
        )
        .localCheckpoint(eager=True, storageLevel=_ROUND_LEVEL)
    )
    spark = cur.sparkSession
    node_type = cur.schema["a"].dataType
    # Labels of components severed by frozen-star pruning, one lazy
    # frame per round — each is a filter over a checkpointed round
    # materialization, so the final union re-reads disk blocks, not
    # lineage.
    frozen_acc: list[DataFrame] = []

    def with_frozen(labels: DataFrame) -> DataFrame:
        return reduce(DataFrame.union, frozen_acc, labels).distinct()

    for _ in range(max_iter):
        n_active = cur.count()
        if n_active == 0:
            empty = spark.createDataFrame([], schema=cur.schema).select(
                F.col("a").alias("node"), F.col("b").alias("component")
            )
            return with_frozen(empty)
        if local_finish_edges and n_active <= local_finish_edges:
            labels = _local_union_find(
                (r[0], r[1]) for r in cur.toLocalIterator()
            )
            from pyspark.sql.types import StructField, StructType

            schema = StructType(
                [
                    StructField("node", node_type, False),
                    StructField("component", node_type, False),
                ]
            )
            return with_frozen(
                spark.createDataFrame(list(labels.items()), schema=schema)
            )
        # INVARIANT: _small_star's trailing .distinct() is what makes
        # _mark_frozen_stars' degree-local star test exact — never feed
        # it a non-distinct edge list (see its docstring precondition)
        marked = _mark_frozen_stars(
            _small_star(_large_star(cur))
        ).localCheckpoint(eager=True, storageLevel=_ROUND_LEVEL)
        cur, frozen_members, frozen_roots = _split_frozen(marked)
        frozen_acc.append(frozen_members)
        frozen_acc.append(frozen_roots)
    raise RuntimeError(
        f"connected_components did not converge in {max_iter} rounds; "
        "check the input for null/NaN node ids"
    )
