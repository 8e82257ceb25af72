"""Benchmark harness: headline queries at $SPARK_GRAFT_SF_DIR (default
sf0.1) on local[$SPARK_GRAFT_CPUS]. Prints ONE compact JSON line as the
FINAL stdout line:
{"metric": ..., "value": total_sec, "unit": "sec", "queries": {...}, "sf": ...}
The driver captures only the last ~2000 chars of output, so the inline
"queries" dict carries just the flagship subset; the FULL per-query
timing table is written to BENCH_DETAIL.json (and echoed to stderr).
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from aiotcvectordb_spark import queries as Q
from aiotcvectordb_spark.session import get_spark

# Deliberately NOT benched (the documented exclusion policy the r11
# verdict asked for): the 8 rows-only registry entries whose standing
# perf row would duplicate an already-benched twin's kernel.
_NOT_BENCHED = frozenset({
    # trained-lane ANN: the frozen *_fixed twins bench the identical
    # partial path with pinned inputs
    "ann_ivf_cosine",
    "ann_lsh_l2",
    "ann_pq_cosine",
    # engine-RNG sampling: stratified_sample_hash benches the same sampler
    "stratified_sample",
    # data-dependent scale routers: they dispatch to kernels benched
    # under their own names; timing the router re-times the kernel plus
    # a count()
    "curate_corpus_v2_auto",
    "embedding_near_dup_auto",
    "embedding_near_dup_ivf",
    "semantic_dedup_auto",
})

# Every OTHER registry query is a HEADLINE row, so a plan regression in
# any user-facing op is visible to the gate. Sorted, so registry
# rotation cannot reorder the bench passes.
HEADLINE = sorted(set(Q.QUERIES) - _NOT_BENCHED)

# Inline subset for the driver-visible JSON line (kept small so the
# line survives the driver's 2000-char tail capture); the full table
# goes to BENCH_DETAIL.json.
FLAGSHIP = [
    "search_flat_cosine",
    "search_by_id",
    "fulltext_bm25",
    "hybrid_rrf",
    "minhash_lsh_candidates",
    "dedup_components",
    "embedding_near_dup",
    "simhash_near_dup",
    "dedup_exact",
    "curate_corpus",
    "sessionize",
    "group_topk_salted",
]


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    sf = sf_dir.rstrip("/").rsplit("sf", 1)[-1]
    spark = get_spark("bench")
    timings: dict[str, float] = {}
    # Warm the machinery once so timings measure the queries, not
    # one-time process setup: parquet footers + codegen, the Python
    # worker pool (pandas UDF path), and broadcast/window plumbing.
    spark.read.parquet(f"{sf_dir}/lineitem.parquet").count()
    from pyspark.sql import functions as F

    warm = spark.range(64).withColumn("v", F.rand(seed=1))

    def _noop(batches):
        import numpy  # noqa: F401  (pay the executor-side import once)
        import pandas  # noqa: F401

        yield from batches

    warm.mapInPandas(_noop, schema="id long, v double").count()
    from pyspark.sql import Window

    (
        warm.crossJoin(F.broadcast(spark.range(2).withColumnRenamed("id", "q")))
        .withColumn("rn", F.row_number().over(
            Window.partitionBy("q").orderBy("v")))
        .filter("rn <= 3")
        .count()
    )
    # r10 RE-BASELINE: the GATE is now the forced-noop-WRITE timing
    # (every output column materialized, nothing collected). The r8
    # scale_probe finding stands: count() lets Catalyst prune
    # unreferenced columns, whole map-only projections, and
    # row-preserving left joins, so count-based figures understate
    # projection-shaped queries' true cost; r9 dual-reported both and
    # the r9 verdict prescribed the one-time re-baseline that retires
    # the caveat. Totals from rounds <= r9 are count-based and NOT
    # comparable to this gate — BASELINE.md's standing table was
    # regenerated under the new method in the same commit, so both
    # sides of the driver's 2x comparison stay method-consistent.
    #
    # Best-of-3 per query, trials INTERLEAVED as 3 full passes over
    # the list: the VM shows multi-second scheduling noise (individual
    # queries randomly spike 2-4x, and slow epochs last tens of
    # seconds — long enough to swallow all 3 consecutive trials of one
    # query). Spreading a query's trials across the whole run
    # decorrelates them from any single noise epoch; min across passes
    # is the steady-state cost.
    # Per-query drift band (r11, prescribed by the r10 verdict): the
    # interleave's min is the gate, its max the same-session drift
    # ceiling — the r10 drift triplet showed identical code moving
    # ±25% with hypervisor epochs, so a single future run is only a
    # STRUCTURAL regression when it lands outside the recorded band
    # (tools/bench_regress.py consumes it).
    band_max: dict[str, float] = {}
    for _pass in range(3):
        for name in HEADLINE:
            fn = Q.QUERIES[name]
            t0 = time.time()
            fn(spark, sf_dir).write.format("noop").mode("overwrite").save()
            dt = time.time() - t0
            if dt < timings.get(name, float("inf")):
                timings[name] = dt
            if dt > band_max.get(name, 0.0):
                band_max[name] = dt
    # Count-pruning diagnostic column (the r9 gate's method, kept so
    # the standing table's gate/count ratio still exposes WHICH
    # queries count() flatters — every ratio > 2.5 carries a mechanism
    # note in BASELINE.md). Pass 0 also records result row counts.
    # The whole sweep is wall-clock-budgeted FROM ITS FIRST QUERY
    # (r10 review): the official noop record is already complete by
    # now, and on a slow hypervisor epoch even one unbudgeted count
    # pass could push the run past the driver timeout and lose it —
    # queries the budget cuts off simply have empty count/rows cells
    # in the standing table.
    timings_count: dict[str, float] = {}
    rows: dict[str, int] = {}
    count_budget = float(
        os.environ.get("SPARK_GRAFT_BENCH_COUNT_BUDGET_S", "420")
    )
    t_count0 = time.time()
    for _pass in range(2):
        for name in HEADLINE:
            if time.time() - t_count0 > count_budget:
                print(
                    f"# count sweep stopped at budget {count_budget}s "
                    f"(pass {_pass})",
                    file=sys.stderr,
                )
                break
            fn = Q.QUERIES[name]
            t0 = time.time()
            rows[name] = fn(spark, sf_dir).count()
            dt = time.time() - t0
            if dt < timings_count.get(name, float("inf")):
                timings_count[name] = dt
        else:
            continue
        break
    for name in HEADLINE:
        timings[name] = round(timings[name], 3)
        if name in timings_count:
            timings_count[name] = round(timings_count[name], 3)
        print(
            f"# {name}: {timings[name]}s rows={rows.get(name, 'n/a')} "
            f"count={timings_count.get(name, 'n/a')}s",
            file=sys.stderr,
        )
    total = round(sum(timings.values()), 3)
    sf_val = float(sf) if sf.replace(".", "").isdigit() else sf
    detail = {
        "metric": "headline_queries_total",
        "value": total,
        "unit": "sec",
        "gate": "noop-write best-of-3 (r10 re-baseline; <= r9 was count-based)",
        "n_queries": len(HEADLINE),
        "queries": timings,
        "queries_band": {
            name: [timings[name], round(band_max[name], 3)]
            for name in HEADLINE
        },
        "queries_count": timings_count,
        "rows": rows,
        "sf": sf_val,
    }
    here = os.path.dirname(os.path.abspath(__file__))
    with open(os.path.join(here, "BENCH_DETAIL.json"), "w") as f:
        json.dump(detail, f, indent=1, sort_keys=True)
    compact = {
        "metric": "headline_queries_total",
        "value": total,
        "unit": "sec",
        "n_queries": len(HEADLINE),
        "queries": {k: timings[k] for k in FLAGSHIP if k in timings},
        "sf": sf_val,
    }
    line = json.dumps(compact, separators=(",", ":"))
    # the driver keeps only the last ~2000 chars of stdout; the compact
    # line must fit with margin or the official record loses the metric.
    # Never abort a completed run over line length: shed the per-query
    # dict (full detail is in BENCH_DETAIL.json) until the line fits.
    while len(line) >= 1500 and compact["queries"]:
        compact["queries"].popitem()
        line = json.dumps(compact, separators=(",", ":"))
    if len(line) >= 1500:
        compact.pop("queries", None)
        line = json.dumps(compact, separators=(",", ":"))
    print(line)
    spark.stop()


if __name__ == "__main__":
    main()
