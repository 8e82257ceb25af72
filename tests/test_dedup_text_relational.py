"""Property tests for the dedup / text-analysis / relational query batch.

The DuckDB oracle (tools/parity_check.py, driver CORRECTNESS) is the
ground-truth check; these tests assert the semantic invariants that an
oracle hash cannot express — LSH-banding losslessness, IVF recall, and
chunk-expansion neighborhood structure.
"""

from __future__ import annotations

from conftest import load_events

from pyspark.sql import functions as F

from aiotcvectordb_spark import queries as Q


def test_simhash_banding_is_lossless(spark, sf_dir):
    """4 bands x 4 bits: every pair at hamming <= 3 must share a band
    (pigeonhole), so the banded op equals brute force exactly."""
    fp = Q.q_simhash_fingerprint(spark, sf_dir)
    a = fp.select(F.col("doc_id").alias("doc_a"), F.col("simhash").alias("sa"))
    b = fp.select(F.col("doc_id").alias("doc_b"), F.col("simhash").alias("sb"))
    brute = (
        a.join(b, F.col("doc_a") < F.col("doc_b"))
        .withColumn("hamming", F.expr("bit_count(sa ^ sb)").cast("int"))
        .filter(F.col("hamming") <= 3)
        .select("doc_a", "doc_b", "hamming")
    )
    banded = Q.q_simhash_near_dup(spark, sf_dir)
    sb_ = {tuple(r) for r in brute.collect()}
    sbd = {tuple(r) for r in banded.collect()}
    assert sbd == sb_
    assert len(sbd) > 0


def test_ivf_recall_vs_exact(spark, sf_dir):
    from aiotcvectordb_spark.operators import knn

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    flat = knn.knn_search(
        emb, [Q.qvec(1.0)], vector_col="embedding", id_col="vec_id",
        metric="COSINE", limit=10, round_digits=6,
    )
    exact_ids = {r.vec_id for r in flat.collect()}
    approx_ids = {r.vec_id for r in Q.q_ann_ivf_cosine(spark, sf_dir).collect()}
    recall = len(exact_ids & approx_ids) / len(exact_ids)
    assert recall >= 0.7, f"IVF recall@10 {recall}"


def test_chunk_expand_structure(spark, sf_dir):
    out = Q.q_chunk_expand(spark, sf_dir).collect()
    assert out
    by_doc = {}
    for r in out:
        by_doc.setdefault(r.doc_id, {})[r.chunk_pos] = r.is_hit
    for doc, chunks in by_doc.items():
        hits = [p for p, is_hit in chunks.items() if is_hit]
        assert hits, f"doc {doc} expanded without any hit chunk"
        for p in chunks:
            assert any(abs(p - h) <= 1 for h in hits), (
                f"doc {doc} chunk {p} not adjacent to any hit"
            )


def test_token_count_positive(spark, sf_dir):
    rows = Q.q_token_count(spark, sf_dir).collect()
    assert rows
    for r in rows:
        assert r.bpe_tokens >= r.ws_tokens  # punctuation splits add tokens


def test_hybrid_weighted_shape(spark, sf_dir):
    rows = Q.q_hybrid_weighted(spark, sf_dir).collect()
    assert [r.rank for r in rows] == list(range(1, len(rows) + 1))
    scores = [r.score for r in rows]
    assert scores == sorted(scores, reverse=True)


def test_relational_suite_runs(spark, sf_dir):
    for name in (
        "join_pruned_dims",
        "window_running",
        "rollup_agg",
        "semi_anti_join",
        "set_ops",
    ):
        df = Q.QUERIES[name](spark, sf_dir)
        assert df.count() >= 0, name


def test_rollup_has_grand_total(spark, sf_dir):
    rows = Q.q_rollup_agg(spark, sf_dir).collect()
    grand = [r for r in rows if r.r_name is None and r.n_name is None]
    assert len(grand) == 1
    assert grand[0].n_customers == sum(
        r.n_customers for r in rows if r.r_name is not None and r.n_name is not None
    )


def test_grouping_sets_flags_partition_result(spark, sf_dir):
    """Each grouping set is identified by its flags; per-set order counts
    must each total the full table."""
    rows = Q.q_grouping_sets_agg(spark, sf_dir).collect()
    total = spark.read.parquet(f"{sf_dir}/orders.parquet").count()
    by_flags = {}
    for r in rows:
        by_flags.setdefault((r.g_prio, r.g_status), []).append(r)
    assert set(by_flags) == {(0, 0), (0, 1), (1, 0)}
    for flags, grp in by_flags.items():
        assert sum(r.n_orders for r in grp) == total, flags


def test_pivot_unpivot_roundtrip_mass(spark, sf_dir):
    """Pivot columns jointly cover every lineitem row; unpivot preserves
    the per-class mass of its wide input."""
    wide = Q.q_pivot_wide(spark, sf_dir).collect()
    li = spark.read.parquet(f"{sf_dir}/lineitem.parquet")
    qty_total = li.select(
        F.sum(F.col("l_quantity").cast("decimal(18,2)")).cast("double")
    ).first()[0]
    assert abs(sum((r.A or 0) + (r.N or 0) + (r.R or 0) for r in wide) - qty_total) < 1e-6
    long = Q.q_unpivot_long(spark, sf_dir)
    assert long.columns == ["o_orderstatus", "priority_class", "price_sum"]
    n_status = long.select("o_orderstatus").distinct().count()
    assert long.count() == 2 * n_status


def test_pricing_summary_groups(spark, sf_dir):
    rows = Q.q_pricing_summary(spark, sf_dir).collect()
    assert {(r.l_returnflag, r.l_linestatus) for r in rows} >= {("A", "F"), ("R", "F")}
    for r in rows:
        assert abs(r.avg_qty - r.sum_qty / r.count_order) < 1e-5
        assert r.sum_charge >= r.sum_disc_price  # tax >= 0


def test_top_revenue_orders_sorted(spark, sf_dir):
    rows = Q.q_top_revenue_orders(spark, sf_dir).collect()
    assert len(rows) == 10
    revs = [r.revenue for r in rows]
    assert revs == sorted(revs, reverse=True)


def test_national_market_share_bounded(spark, sf_dir):
    """Market share is a ratio in [0, 1] with one row per order year."""
    rows = Q.q_national_market_share(spark, sf_dir).collect()
    assert rows
    years = [r.o_year for r in rows]
    assert len(years) == len(set(years))
    assert set(years) <= {1995, 1996}
    for r in rows:
        assert 0.0 <= r.mkt_share <= 1.0


def test_clean_text_properties(spark, sf_dir):
    rows = Q.q_clean_text(spark, sf_dir).collect()
    assert rows
    for r in rows[:50]:
        assert r.clean_text == r.clean_text.lower()
        assert "  " not in r.clean_text
        assert r.clean_len == len(r.clean_text)


def test_dataset_split_covers_everything(spark, sf_dir):
    rows = Q.q_dataset_split(spark, sf_dir).collect()
    total = spark.read.parquet(f"{sf_dir}/documents.parquet").count()
    assert sum(r.n_docs for r in rows) == total
    frac_train = sum(r.n_docs for r in rows if r.split == "train") / total
    assert 0.8 < frac_train < 1.0  # ~0.9 by construction


def test_stratified_sample_rates_and_determinism(spark, sf_dir):
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    per_lang = {r.lang: r.n for r in docs.groupBy("lang").agg(F.count("*").alias("n")).collect()}
    s1 = {r.lang: r.n_docs for r in Q.q_stratified_sample(spark, sf_dir).collect()}
    s2 = {r.lang: r.n_docs for r in Q.q_stratified_sample(spark, sf_dir).collect()}
    assert s1 == s2  # fixed seed -> reproducible
    # fraction-1.0 strata are kept whole; the 0.5 stratum shrinks
    for lang in ("de", "fr", "es", "zh"):
        if lang in per_lang:
            assert s1.get(lang) == per_lang[lang]
    assert 0 < s1.get("en", 0) < per_lang["en"]


def test_minhash_bucket_cap_is_subset(spark, sf_dir):
    """The 100 TB bucket-size guard: capped candidates are a subset of
    exact banding candidates (only over-cap buckets are dropped)."""
    full = {(r.doc_a, r.doc_b) for r in Q.q_minhash_lsh_candidates(spark, sf_dir).collect()}
    capped = {
        (r.doc_a, r.doc_b)
        for r in Q.q_minhash_lsh_candidates(spark, sf_dir, max_bucket_size=2).collect()
    }
    assert capped <= full


def test_embedding_near_dup_ivf_recall(spark, sf_dir):
    """The IVF-bucketed scale path must recover (nearly) all exact
    near-dup pairs; every pair it emits is exact-rescored, so precision
    is 1.0 by construction."""
    exact = {(r.vec_a, r.vec_b) for r in Q.q_embedding_near_dup(spark, sf_dir).collect()}
    ivf = {(r.vec_a, r.vec_b) for r in Q.q_embedding_near_dup_ivf(spark, sf_dir).collect()}
    assert exact, "exact op found no pairs — test data changed?"
    assert ivf <= exact  # precision 1.0: every candidate is exact-rescored
    recall = len(ivf & exact) / len(exact)
    assert recall >= 0.8, f"recall {recall}: {len(ivf)} ivf vs {len(exact)} exact"


def test_embedding_near_dup_ivf_arrow_path(spark, sf_dir):
    """The large-nlist Arrow assignment path (sampled spherical k-means
    + mapInPandas matmul — what the scale router exercises at corpus
    sizes where nlist > 32) keeps the exact-rescore precision contract
    and reasonable recall even on an absurdly fragmented fixture
    (dozens of cells over a few hundred rows)."""
    from aiotcvectordb_spark.plans import audit

    exact = {(r.vec_a, r.vec_b) for r in Q.q_embedding_near_dup(spark, sf_dir).collect()}
    arrow_df = Q.q_embedding_near_dup_ivf(spark, sf_dir, nlist=48, nprobe=4)
    assert "MapInPandas" in audit.executed_plan(arrow_df)
    arrow = {(r.vec_a, r.vec_b) for r in arrow_df.collect()}
    assert arrow <= exact  # precision 1.0 by exact rescore
    recall = len(arrow & exact) / len(exact)
    assert recall >= 0.6, f"recall {recall} on fragmented fixture"
    # deterministic: seeded sampling + seeded k-means
    again = {
        (r.vec_a, r.vec_b)
        for r in Q.q_embedding_near_dup_ivf(spark, sf_dir, nlist=48, nprobe=4).collect()
    }
    assert again == arrow


def test_embedding_near_dup_imi_path(spark, sf_dir):
    """The beyond-flat-cap IMI path (r5: two-level product cells —
    cell = (c1, c2) from two independent subspace codebooks) keeps the
    exact-rescore precision contract and reasonable recall, even forced
    onto a tiny fixture (nlist above the flat cap routes here). This is
    the nlist ∝ N design that holds past the old 4096 cap: K² cells
    from 2K driver-trainable centroids."""
    from aiotcvectordb_spark.plans import audit
    from aiotcvectordb_spark.qfam.core import load
    from aiotcvectordb_spark.qfam.textdedup import (
        _IVF_NEARDUP_FLAT_MAX_NLIST,
        _embedding_near_dup_imi,
    )

    exact = {(r.vec_a, r.vec_b) for r in Q.q_embedding_near_dup(spark, sf_dir).collect()}
    emb = load(spark, sf_dir, "embeddings")
    # IMI at sane cell occupancy (nlist=64 → K=8 per half, several
    # vectors per cell — the occupancy the router produces at real
    # scale, where nlist ∝ N keeps ~2000 rows/cell)
    imi_df = _embedding_near_dup_imi(spark, emb, nlist=64, nprobe=4)
    assert "MapInPandas" in audit.executed_plan(imi_df)
    imi = {(r.vec_a, r.vec_b) for r in imi_df.collect()}
    assert imi <= exact  # precision 1.0 by exact rescore
    recall = len(imi & exact) / len(exact)
    assert recall >= 0.6, f"IMI recall {recall}"
    # deterministic: seeded sampling + seeded subspace k-means
    again = {
        (r.vec_a, r.vec_b)
        for r in _embedding_near_dup_imi(spark, emb, nlist=64, nprobe=4).collect()
    }
    assert again == imi
    # the router actually dispatches above the flat cap, and the
    # over-fragmented result still honors the precision contract
    routed = {
        (r.vec_a, r.vec_b)
        for r in Q.q_embedding_near_dup_ivf(
            spark, sf_dir, nlist=_IVF_NEARDUP_FLAT_MAX_NLIST + 1, nprobe=4
        ).collect()
    }
    assert routed <= exact


def test_time_gap_fill_full_spine(spark, sf_dir):
    rows = Q.q_time_gap_fill(spark, sf_dir).collect()
    hours = sorted(r.hour_s for r in rows)
    assert hours[-1] - hours[0] == (len(hours) - 1) * 3600  # contiguous spine
    assert all(r.n_purchases >= 0 for r in rows)
    assert sum(r.n_purchases for r in rows) == (
        load_events(spark, sf_dir)
        .filter("event_type = 'purchase'")
        .count()
    )


def test_window_range_frame_counts_self(spark, sf_dir):
    rows = Q.q_window_range_frame(spark, sf_dir).limit(500).collect()
    assert all(r.n_last_10m >= 1 for r in rows)  # frame includes current row


def test_zscore_outliers_are_extreme(spark, sf_dir):
    rows = Q.q_zscore_outliers(spark, sf_dir).collect()
    assert rows
    assert all(abs(r.z) > 3 for r in rows)


def test_corr_stats_bounds(spark, sf_dir):
    rows = Q.q_corr_stats(spark, sf_dir).collect()
    assert rows
    for r in rows:
        assert -1.0 <= r.qty_price_corr <= 1.0
        assert r.qty_stddev >= 0


def test_funnel_monotone(spark, sf_dir):
    r = Q.q_funnel_steps(spark, sf_dir).first()
    assert r.n_view >= r.n_view_click >= r.n_full_funnel >= 0
    assert r.n_view > 0


def test_retention_offset_zero_covers_all_users(spark, sf_dir):
    rows = Q.q_retention_cohorts(spark, sf_dir).collect()
    total_users = (
        load_events(spark, sf_dir)
        .select("user_id").distinct().count()
    )
    # every user is active in their own cohort week
    assert sum(r.n_users for r in rows if r.week_offset == 0) == total_users
    assert all(r.week_offset >= 0 for r in rows)

def test_order_priority_check_counts(spark, sf_dir):
    """Every priority count only includes orders from the quarter, and
    the total is bounded by the quarter's order count."""
    rows = Q.q_order_priority_check(spark, sf_dir).collect()
    assert rows
    quarter = (
        spark.read.parquet(f"{sf_dir}/orders.parquet")
        .filter("o_orderdate >= '1996-01-01' AND o_orderdate < '1996-04-01'")
        .count()
    )
    assert 0 < sum(r.order_count for r in rows) <= quarter


def test_customer_distribution_mass(spark, sf_dir):
    """Customer counts sum to the full customer table (zero-order
    customers included), and order mass matches the non-urgent total."""
    rows = Q.q_customer_distribution(spark, sf_dir).collect()
    n_cust = spark.read.parquet(f"{sf_dir}/customer.parquet").count()
    assert sum(r.custdist for r in rows) == n_cust
    non_urgent = (
        spark.read.parquet(f"{sf_dir}/orders.parquet")
        .filter("o_orderpriority <> '1-URGENT'")
        .count()
    )
    assert sum(r.c_count * r.custdist for r in rows) == non_urgent

def test_promo_revenue_bounded(spark, sf_dir):
    row = Q.q_promo_revenue(spark, sf_dir).first()
    assert 0.0 <= row.promo_revenue <= 100.0


def test_returned_item_revenue_top20(spark, sf_dir):
    rows = Q.q_returned_item_revenue(spark, sf_dir).collect()
    assert len(rows) == 20
    revs = [r.revenue for r in rows]
    assert revs == sorted(revs, reverse=True)
    assert all(r.revenue > 0 for r in rows)

def test_forecast_revenue_change_nonnull(spark, sf_dir):
    row = Q.q_forecast_revenue_change(spark, sf_dir).first()
    assert row.revenue is not None and row.revenue > 0


def test_small_quantity_revenue_nonnull(spark, sf_dir):
    row = Q.q_small_quantity_revenue(spark, sf_dir).first()
    assert row.avg_yearly is not None and row.avg_yearly > 0


def test_local_supplier_volume_nations(spark, sf_dir):
    rows = Q.q_local_supplier_volume(spark, sf_dir).collect()
    assert 0 < len(rows) <= 5  # one row per ASIA nation at most
    assert all(r.revenue > 0 for r in rows)


def test_large_volume_customers_threshold(spark, sf_dir):
    rows = Q.q_large_volume_customers(spark, sf_dir).collect()
    assert rows
    assert all(r.total_qty > 150 for r in rows)

def test_doc_repetition_bounds(spark, sf_dir):
    rows = Q.q_doc_repetition(spark, sf_dir).collect()
    assert rows
    for r in rows:
        assert 0.0 <= r.dup_3gram_frac <= 1.0
        assert 0.0 <= r.dup_token_frac <= 1.0
        # duplicated tokens imply at least as many duplicated 3-gram
        # *opportunities*, but not vice versa; only check both bounded
        assert r.mean_token_len > 0

def test_price_histogram_mass(spark, sf_dir):
    rows = Q.q_price_histogram(spark, sf_dir).collect()
    total = spark.read.parquet(f"{sf_dir}/orders.parquet").count()
    assert sum(r.n_orders for r in rows) == total
    assert all(0 <= r.bin <= 19 for r in rows)


def test_substring_dedup_hashed_equals_string_exact(spark, sf_dir):
    """The 128-bit hashed-gram variant must be bit-equal to the
    ORACLED string-exact query on the fixture corpus (collisions at
    this scale are ~impossible; any key-plumbing bug shows instantly).
    Also pin that a hashed-gram false-dup CANNOT come from one lane:
    both xxhash64 lanes must agree for a gram pair to merge."""
    from aiotcvectordb_spark import queries as Q

    exact = {
        r.doc_id: (r.clean_text, r.kept_tokens)
        for r in Q.QUERIES["substring_dedup"](spark, sf_dir).collect()
    }
    hashed = {
        r.doc_id: (r.clean_text, r.kept_tokens)
        for r in Q.QUERIES["substring_dedup_hashed"](spark, sf_dir).collect()
    }
    assert hashed == exact
    assert len(hashed) > 0


def test_substring_dedup_hashed_portable_equals_both_lanes(spark, sf_dir):
    """The ORACLED portable-md5 hashed lane (r10) must be bit-equal to
    the xxhash64 production lane AND the string-exact query on the
    fixture corpus — three key representations, one Lee-et-al plan.
    The portable lane's green driver row then vouches for the
    reduced-key dataflow the production lane runs."""
    from aiotcvectordb_spark import queries as Q

    exact = {
        r.doc_id: (r.clean_text, r.kept_tokens)
        for r in Q.QUERIES["substring_dedup"](spark, sf_dir).collect()
    }
    portable = {
        r.doc_id: (r.clean_text, r.kept_tokens)
        for r in Q.QUERIES["substring_dedup_hashed_portable"](
            spark, sf_dir
        ).collect()
    }
    xx = {
        r.doc_id: (r.clean_text, r.kept_tokens)
        for r in Q.QUERIES["substring_dedup_hashed"](spark, sf_dir).collect()
    }
    assert portable == exact == xx
    assert len(portable) > 0


def test_substring_dedup_cjk_hashed_equals_string_plan(spark, sf_dir):
    """The CJK-routed lane's three key representations (r11) — the
    xxhash64 production keys the registry query now ships, the ORACLED
    portable-md5 twin, and the string-keyed plan — must be bit-equal
    on the fixture corpus in BOTH lanes (word and char)."""
    from aiotcvectordb_spark import pipelines, queries as Q
    from aiotcvectordb_spark.qfam.curation import (
        _CJK_DST,
        _CJK_SRC,
        _SUBSTR_CJK_CHAR_N,
        _SUBSTR_DEDUP_N,
        _word_ngrams,
    )

    def run_string_keyed():
        # the pre-r11 string-gram plan, reproduced via lane_cut default
        n_w, n_c = _SUBSTR_DEDUP_N, _SUBSTR_CJK_CHAR_N
        df = Q.ensure_min_partitions(
            Q.load(spark, sf_dir, "documents")
        ).filter(F.length("text") > 0)
        cjkified = F.translate(F.col("text"), _CJK_SRC + " ", _CJK_DST)
        corpus = df.select(
            "doc_id",
            F.when(
                F.substring(
                    F.md5(F.col("doc_id").cast("string")), 1, 1
                ).isin(*"01234567"),
                cjkified,
            )
            .otherwise(F.col("text"))
            .alias("text"),
        )
        routed = corpus.withColumn("__r", pipelines.cjk_ratio_col("text"))
        is_cjk = F.col("__r") >= pipelines.CJK_ROUTE_THRESHOLD
        word_docs = routed.filter(~is_cjk).select("doc_id", "text")
        char_docs = routed.filter(is_cjk).select("doc_id", "text")
        empty = spark.createDataFrame([], "gram string")
        out_w, _ = pipelines.lane_cut(
            word_docs, _word_ngrams(word_docs, n_w), empty, n_w, " "
        )
        out_c, _ = pipelines.lane_cut(
            char_docs, pipelines.char_ngrams(char_docs, n_c), empty, n_c, ""
        )
        return out_w.withColumn("lane", F.lit("word")).unionByName(
            out_c.withColumn("lane", F.lit("char"))
        )

    def as_map(df):
        return {
            r.doc_id: (r.lane, r.clean_text) for r in df.collect()
        }

    string_keyed = as_map(run_string_keyed())
    xx = as_map(Q.QUERIES["substring_dedup_cjk"](spark, sf_dir))
    portable = as_map(Q.QUERIES["substring_dedup_cjk_hashed"](spark, sf_dir))
    assert xx == string_keyed == portable
    assert len(xx) > 0
    assert {lane for lane, _ in xx.values()} == {"word", "char"}


def test_gram_novelty_semantics(spark, tmp_path):
    """First copy of a duplicated passage is fully novel; later copies
    are fully redundant; short docs get an explicit NULL-novelty row."""
    from aiotcvectordb_spark import queries as Q

    body = " ".join(f"w{i}" for i in range(12))  # 12 words -> 5 grams
    rows = [
        (0, body),          # first owner of every gram
        (1, body),          # exact recrawl: novelty 0
        (2, " ".join(f"u{i}" for i in range(12))),  # disjoint: novelty 1
        (3, "too short"),   # < 8 words: no grams
    ]
    spark.createDataFrame(rows, "doc_id long, text string").write.parquet(
        f"{tmp_path}/documents.parquet"
    )
    out = {
        r.doc_id: r
        for r in Q.q_gram_novelty(spark, str(tmp_path)).collect()
    }
    assert out[0].novelty == 1.0 and out[0].n_grams == 5
    assert out[1].novelty == 0.0 and out[1].n_novel == 0
    assert out[2].novelty == 1.0
    assert out[3].n_grams == 0 and out[3].novelty is None


def test_incremental_gram_novelty_equals_batch_restriction(spark, sf_dir):
    """Because every standing id precedes every batch id, the
    incremental first-owner rule IS the full-corpus rule on the slice:
    the incremental frame must equal gram_novelty restricted to it."""
    from aiotcvectordb_spark import queries as Q

    inc = {
        r.doc_id: (r.n_grams, r.n_novel, r.novelty)
        for r in Q.q_incremental_gram_novelty(spark, sf_dir).collect()
    }
    full = {
        r.doc_id: (r.n_grams, r.n_novel, r.novelty)
        for r in Q.q_gram_novelty(spark, sf_dir).collect()
        if r.doc_id in inc
    }
    assert inc == full and len(inc) > 0


def test_incremental_queries_empty_table_returns_empty_frame(spark, tmp_path):
    """An empty documents table must yield an EMPTY frame with the
    output schema — matching the DuckDB oracles — not raise int(None)
    on the max-id scalar (r10 advisor: engine-asymmetric failure)."""
    from aiotcvectordb_spark import queries as Q

    spark.createDataFrame([], "doc_id long, text string").write.mode(
        "overwrite"
    ).parquet(f"{tmp_path}/documents.parquet")
    frac = Q.q_incremental_decontaminate_fraction(spark, str(tmp_path))
    assert frac.count() == 0
    assert [f.name for f in frac.schema.fields] == [
        "doc_id", "n_shingles", "n_shared", "overlap_fraction", "contaminated",
    ]
    nov = Q.q_incremental_gram_novelty(spark, str(tmp_path))
    assert nov.count() == 0
    assert [f.name for f in nov.schema.fields] == [
        "doc_id", "n_grams", "n_novel", "novelty",
    ]
