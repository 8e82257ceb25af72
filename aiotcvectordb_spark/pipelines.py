"""End-to-end training-corpus curation pipeline.

Composes the north-star operators — clean → quality filter → exact
dedup → MinHash-LSH near-dedup → deterministic split — into one
declarative DataFrame flow, then materializes hive-partitioned export
shards. This is the "switch your pipeline to this engine" artifact: one
call runs the whole flow; every stage is the same code the individual
query-registry operators use, so the per-stage semantics stay
oracle-checked.

Scale shape (the 100 TB story):
- every stage is a projection/aggregation over the corpus — no
  collects, no driver-side loops;
- near-dedup is bucket-join MinHash (one shuffle on the bucket key,
  ``max_bucket_size`` guard against boilerplate buckets), never an
  O(N^2) self-join;
- duplicate-group resolution keeps the smallest doc_id per group via
  connected-components-free union-find approximation: one iteration of
  min-propagation over candidate edges is exact for pair groups and
  near-exact for small chains (documented), all with groupBy/join;
- the final export repartitions by split so each shard directory is
  written in parallel without small files.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from aiotcvectordb_spark.functions import sparse as sparse_fn

_PORTABLE_HASH = "cast(conv(substring(md5({s}), 1, 15), 16, 10) as bigint)"


def clean_stage(docs: DataFrame, *, text_col: str = "text") -> DataFrame:
    """Strip control chars, collapse whitespace, trim, lowercase."""
    cleaned = F.lower(
        F.trim(
            F.regexp_replace(
                F.regexp_replace(F.col(text_col), "[\\x00-\\x1F\\x7F]", " "),
                "\\s{2,}",
                " ",
            )
        )
    )
    return docs.withColumn("clean_text", cleaned)


def quality_stage(
    docs: DataFrame,
    *,
    min_tokens: int = 3,
    min_alnum_ratio: float = 0.6,
) -> DataFrame:
    """Length + alnum-ratio quality gate over the cleaned text."""
    toks = sparse_fn.bm25_tokens_col("clean_text")  # CJK-aware (r4)
    # word chars include CJK (r4) — an ASCII-only class scored every
    # Chinese doc ~0 and the >= min_alnum_ratio gate dropped them all
    alnum = (
        F.length("clean_text")
        - F.length(
            F.regexp_replace(
                F.col("clean_text"), f"[a-z0-9 {sparse_fn.CJK_RANGES}]", ""
            )
        )
    ) / F.greatest(F.length("clean_text"), F.lit(1))
    return docs.withColumn("n_tokens", F.size(toks).cast("long")).withColumn(
        "quality_ok",
        (F.col("n_tokens") >= min_tokens) & (alnum >= min_alnum_ratio),
    )


def exact_dedup_stage(docs: DataFrame, *, id_col: str = "doc_id") -> DataFrame:
    """Keep the smallest id per exact clean-text hash."""
    h = F.expr(_PORTABLE_HASH.format(s="clean_text"))
    w_min = F.min(id_col).over
    from pyspark.sql import Window

    keeper = w_min(Window.partitionBy(h))
    return docs.withColumn("exact_keeper", keeper == F.col(id_col))


def word_ngrams(df: DataFrame, n: int, *, id_col: str = "doc_id",
                text_col: str = "text") -> DataFrame:
    """(id, i, gram): word n-grams with 0-based start positions, built
    JVM-side (slice+concat over the token array, no UDF). Shared
    kernel of the batch ``substring_dedup`` /
    ``incremental_substring_dedup`` queries and the streaming ingest
    twin (streaming/substrdedup.py) — one implementation, so
    batch and stream agree by construction."""
    toks = df.select(F.col(id_col).alias("doc_id"),
                     F.split(text_col, " ").alias("w"))
    return toks.filter(F.size("w") >= n).select(
        "doc_id",
        F.posexplode(
            F.transform(
                F.sequence(F.lit(0), F.size("w") - n),
                lambda i: F.concat_ws(" ", F.slice("w", i + 1, n)),
            )
        ).alias("i", "gram"),
    )


# Canonical decontamination-family constants (r10 review: the batch
# queries, the incremental query, and the streaming sink must share ONE
# definition or the pinned batch==stream equalities can silently
# diverge when a knob is tuned): GPT-3-style 8-token shingles, PaLM's
# >= 70% overlap-fraction contamination rule.
DECONTAM_SHINGLE_N = 8
DECONTAM_FRACTION_CUT = 0.7


def token_shingles(df: DataFrame, n: int, *, id_col: str = "doc_id",
                   text_col: str = "text") -> DataFrame:
    """(doc_id, shingle): space-joined ``n``-token shingles over the
    CJK-aware BM25 token stream — the decontamination family's gram
    kernel (GPT-3 Appendix C / PaLM overlap rules both shingle this
    way). Docs with fewer than ``n`` tokens produce no rows (callers
    that need a decision row for them left-join a spine). Shared by
    the batch ``decontaminate_fraction`` / ``incremental_*`` queries
    and the streaming ingest twin (streaming/decontam.py) — one
    implementation, so batch and stream agree by construction. All
    JVM expressions (tokens materialized ONCE per row; lambda bodies
    re-evaluate their subtree per element)."""
    toked = df.select(
        F.col(id_col).alias("doc_id"),
        sparse_fn.bm25_tokens_col(text_col).alias("__toks"),
    )
    # r12 (guide §7.2): the size guard lives INSIDE the row expression
    # and the generate is OUTER — the former explicit size(__toks) >= n
    # filter (and the inferred one a plain explode adds) substituted the
    # whole tokenizer into a Filter below the widen exchange, where the
    # one-partition scan evaluated it serially once per consumer
    # subtree. Row set unchanged: short docs yield an empty shingle
    # array -> one NULL row from the outer generate -> dropped.
    sh = (
        f"CASE WHEN size(__toks) >= {n} THEN "
        f"transform(sequence(1, size(__toks) - {n - 1}), "
        f"i -> concat_ws(' ', slice(__toks, i, {n}))) "
        f"ELSE cast(array() as array<string>) END"
    )
    return toked.select(
        "doc_id", F.explode_outer(F.expr(sh)).alias("shingle")
    ).filter(F.col("shingle").isNotNull())


def nopush_filter(cond):
    """Wrap a row predicate so Catalyst cannot push it below the widen
    exchange: one non-splittable nondeterministic expression (the
    rand() arm is always true, so the kept row set is exactly
    ``cond``). A bare deterministic predicate over a projected column
    is substituted through the projection and lands on the
    one-partition testdata scan, re-evaluating the (expensive)
    projection expression serially (guide §7.2: watch where filters
    land). Trade-off: nondeterminism also blocks exchange reuse above
    the filter — use only where the guarded expression dominates."""
    return F.when(F.rand(seed=0) >= -1.0, cond).otherwise(F.lit(False))


CJK_ROUTE_THRESHOLD = 0.3


def cjk_ratio_col(text_col: str = "text"):
    """Fraction of characters in the CJK ranges — the dedup family's
    lane router (r7). Substring/line dedup tokenize on ASCII space,
    which silently no-ops on CJK/whitespace-free text; documents above
    ``CJK_ROUTE_THRESHOLD`` route to the char-n-gram lane instead
    (the same reasoning that made BM25 char-bigram in
    functions/sparse.py)."""
    return F.length(
        F.regexp_replace(F.col(text_col), f"[^{sparse_fn.CJK_RANGES}]", "")
    ) / F.greatest(F.length(text_col), F.lit(1))


def char_ngrams(df: DataFrame, n: int, *, id_col: str = "doc_id",
                text_col: str = "text") -> DataFrame:
    """(id, i, gram): CHARACTER n-grams with 0-based start positions,
    built JVM-side (substring over a position sequence, no UDF) — the
    whitespace-free-script twin of ``word_ngrams``, shared by the
    batch ``substring_dedup_cjk`` query and the streaming ingest twin.
    Guarded to length >= n because Spark's ``sequence(1, 0)`` counts
    DOWN, not empty."""
    t = df.select(F.col(id_col).alias("doc_id"), F.col(text_col).alias("__t"))
    return t.filter(F.length("__t") >= n).select(
        "doc_id",
        F.posexplode(
            F.expr(
                f"transform(sequence(1, length(__t) - {n - 1}), "
                f"i -> substring(__t, i, {n}))"
            )
        ).alias("i", "gram"),
    )


def char_units(df: DataFrame, *, id_col: str = "doc_id",
               text_col: str = "text") -> DataFrame:
    """(id, pos, unit): one row per character, 0-based — the char
    lane's analog of the word lane's posexploded token stream."""
    t = df.select(F.col(id_col).alias("doc_id"), F.col(text_col).alias("__t"))
    return t.filter(F.length("__t") >= 1).select(
        "doc_id",
        F.posexplode(
            F.expr(
                "transform(sequence(1, length(__t)), j -> substring(__t, j, 1))"
            )
        ).alias("pos", "unit"),
    )


def gram_hash_pair(mode: str, gram_expr: str = "gram") -> list:
    """The reduced-shuffle gram key pair for ``lane_cut``: two 64-bit
    (or 60-bit portable) hash lanes decorrelated by a one-byte input
    suffix — H(gram), H(gram || 0x01) — treated as one well-mixed
    ~128-bit key (collision math in q_substring_dedup_hashed's
    docstring). ``mode`` is "xxhash64" (engine-native production keys)
    or "portable" (the md5-60-bit _PORTABLE_HASH DuckDB reproduces, for
    oracled twins)."""
    if mode == "xxhash64":
        return [
            F.expr(f"xxhash64({gram_expr})"),
            F.expr(f"xxhash64(concat({gram_expr}, chr(1)))"),
        ]
    if mode == "portable":
        # ONE md5 per gram, split into two 60-bit lanes (hex digits
        # 1-15 and 16-30) — the digest's 128 bits are already well
        # mixed, so the split pair carries the same ~2^120 collision
        # resistance as two suffix-decorrelated hashes at HALF the
        # per-gram hash cost (the two-md5 variant measured ~2.5x
        # slower at 1x on the char-gram lane, where every character
        # position hashes a ~36-byte string)
        return [
            F.expr(_PORTABLE_HASH.format(s=gram_expr)),
            F.expr(
                f"cast(conv(substring(md5({gram_expr}), 16, 15), 16, 10) "
                "as bigint)"
            ),
        ]
    raise ValueError(f"unknown gram_keys mode: {mode!r}")


def lane_cut(df: DataFrame, grams: DataFrame, prior_grams: DataFrame | None,
             n: int, joiner: str,
             gram_keys: str | None = None) -> tuple[DataFrame, DataFrame]:
    """One lane of the Lee-et-al substring-removal pass against a
    standing gram index: positions covered by a prior-index gram or a
    gram repeated within ``df`` itself are cut; survivors reassemble
    in order. The SHARED kernel of the batch ``substring_dedup_cjk``
    / ``incremental_substring_dedup_cjk`` queries and the streaming
    ingest twin (streaming/substrdedup.py) — one implementation, so
    batch, incremental, and stream agree by construction. ``df``
    carries (doc_id, text); ``grams`` (doc_id, i, gram) from
    ``word_ngrams`` (joiner " ") or ``char_ngrams`` (joiner "").

    ``gram_keys`` (r11): None keys the dup aggregate and coverage join
    on the verbatim gram string; "xxhash64"/"portable" reduce each
    gram to a ``gram_hash_pair`` IN THE SCAN PROJECTION, cutting
    shuffle bytes ~2-6x (a 12-char CJK gram is ~36 UTF-8 bytes, a
    word 8-gram ~50; the pair is 16) while the plan stays identical.
    Both the batch grams and the prior index are hashed HERE, so
    callers and the stored incremental/streaming index format (verbatim
    gram strings, hash-scheme-agnostic) are unchanged.

    Returns (out, lane_grams): the per-doc cleaned frame
    (doc_id, clean_text, kept_tokens) and the batch's distinct grams
    for index maintenance."""
    if gram_keys is None:
        keyed = grams
        prior = None if prior_grams is None else prior_grams
        keys = ["gram"]
    else:
        pair = gram_hash_pair(gram_keys)
        keyed = grams.select(
            "doc_id", "i", pair[0].alias("h1"), pair[1].alias("h2")
        )
        prior = (
            None
            if prior_grams is None
            else prior_grams.select(pair[0].alias("h1"), pair[1].alias("h2"))
        )
        keys = ["h1", "h2"]
    batch_dup = (
        keyed.groupBy(*keys)
        .agg(F.count("*").alias("c"))
        .filter(F.col("c") >= 2)
        .select(*keys)
    )
    # r12: prior_grams=None (the batch queries' no-standing-index case)
    # skips the union + DISTINCT re-aggregate — batch_dup is already
    # distinct by construction (grouping keys)
    hot = batch_dup if prior is None else prior.union(batch_dup).distinct()
    covered_starts = keyed.join(hot, keys).select("doc_id", "i")
    out = cut_and_reassemble(df, covered_starts, n, joiner)
    return out, grams.select("gram").distinct()


def cut_and_reassemble(df: DataFrame, covered_starts: DataFrame,
                       n: int, joiner: str) -> DataFrame:
    """(doc_id, clean_text, kept_tokens): cut every unit position
    covered by a duplicated/indexed gram START in ``covered_starts``
    (doc_id, i — the 0-based gram starts that matched the hot set) and
    reassemble the survivors in order. The SHARED final stage of every
    substring-dedup variant (word/char/hashed/incremental/streaming).

    r12 OPTIMIZATION (guide §2.3/§2.4 — shuffle fewer rows, remove
    shuffles): the r7–r11 shape exploded each covered start to its n
    positions and DISTINCT'ed them (one keyed exchange over ~n×matched
    rows), posexploded EVERY unit of EVERY doc, LEFT-ANTI-joined on
    (doc_id, pos) (exchange over all corpus units), then regrouped all
    survivors through a collect_list aggregate (a third unit-granular
    exchange + per-doc sort). But which positions are cut is a PER-DOC
    decision, so the whole tail folds into array expressions: ONE
    doc-keyed aggregate over the matched gram starts (rows ∝ the dup
    fraction, not the corpus), ONE doc-keyed join back to the text,
    and dedup/cut/reassembly as flatten/array_except/transform in the
    scan stage. Shuffled unit rows drop from O(corpus tokens) to
    O(matched grams + docs). Output is identical: array_except
    preserves the ascending position order the collect_list sort
    produced, and docs whose every unit is covered vanish on both
    shapes (empty group before, size==0 filter now). Per-doc memory is
    O(doc length) arrays — the bound the collect_list reassembly
    already carried."""
    cov = covered_starts.groupBy("doc_id").agg(
        F.collect_list("i").alias("__starts")
    )
    if joiner == " ":
        units = F.split("text", " ")
    else:
        # one row per character: split on the empty pattern is a single
        # linear pass (['a','中','c']; '' → [], so an empty doc yields
        # no row exactly as char_units' length guard guaranteed) — the
        # per-position substring(text, j, 1) alternative walks the
        # UTF-8 bytes from the start on every call, O(len²) per doc on
        # multi-byte scripts
        units = F.split("text", "")
    step = (
        df.select("doc_id", "text")
        .join(cov, "doc_id", "left")
        .select(
            "doc_id",
            units.alias("__units"),
            F.coalesce(
                F.flatten(
                    F.transform(
                        "__starts",
                        lambda s: F.sequence(s, s + F.lit(n - 1)),
                    )
                ),
                F.expr("cast(array() as array<int>)"),
            ).alias("__cut"),
        )
        .select(
            "doc_id",
            "__units",
            F.array_except(
                F.sequence(F.lit(0), F.size("__units") - F.lit(1)),
                F.col("__cut"),
            ).alias("__kept"),
        )
    )
    return step.filter(F.size("__kept") > 0).select(
        "doc_id",
        F.array_join(
            F.expr("transform(__kept, p -> __units[p])"), joiner
        ).alias("clean_text"),
        F.size("__kept").cast("long").alias("kept_tokens"),
    )


def doc_term_freqs(docs: DataFrame, *, id_col: str = "doc_id",
                   text_col: str = "text",
                   lang_col: str = "lang") -> DataFrame:
    """(doc_id, lang, token, dtf): per-document term frequencies over
    the CJK-aware BM25 token stream — the input shape of the unigram
    LM family. Aggregating to (doc, token) pairs FIRST shrinks every
    downstream vocab join from total-token rows to distinct pairs."""
    # outer generate + NULL filter: a plain explode makes Catalyst infer
    # size(tokens) > 0, re-tokenizing serially below the widen exchange
    # (see token_shingles)
    tok = docs.select(
        F.col(id_col).alias("doc_id"),
        F.col(lang_col).alias("lang"),
        F.explode_outer(sparse_fn.bm25_tokens_col(text_col)).alias("token"),
    ).filter(F.col("token").isNotNull())
    return tok.groupBy("doc_id", "lang", "token").agg(
        F.count("*").alias("dtf")
    )


def lm_bits(dtf: DataFrame, lm: DataFrame, totals: DataFrame,
            round_digits: int) -> DataFrame:
    """(doc_id, lang, ppl_bits): cross-entropy bits/token of each
    document under a per-(lang, token) count LM. The SHARED scoring
    kernel of the batch ``perplexity_filter`` query and the streaming
    quality-gate sink (streaming/qualitygate.py) — one implementation,
    so batch and stream agree by construction. ``lm`` carries
    (lang, token, tf); ``totals`` (lang, n). Hapax pruning is exact:
    tf=1 is the join-miss default, so rows with tf < 2 can be dropped
    from the build side without changing any score."""
    pruned = lm.where(F.col("tf") >= 2)
    return (
        dtf.join(pruned, ["lang", "token"], "left")
        .withColumn("tf", F.coalesce("tf", F.lit(1)))
        .join(F.broadcast(totals), "lang")
        .groupBy("doc_id", "lang")
        .agg(
            F.round(
                -F.sum(F.col("dtf") * F.log2(F.col("tf") / F.col("n")))
                / F.sum("dtf"),
                round_digits,
            ).alias("ppl_bits")
        )
    )


def minhash_band_hashes(
    docs: DataFrame,
    *,
    id_col: str = "doc_id",
    text_col: str = "clean_text",
    n_hashes: int = 4,
    shingle: int = 3,
) -> DataFrame:
    """(id, band, h): one LSH band-hash row per document per minhash
    function. The shared banding kernel behind batch ``near_dedup_stage``
    and the streaming ingest detector (``streaming/neardup.py``) — both
    must hash identically for their results to agree.

    The hash family comes from ceil(n_hashes/2) md5 digests per shingle,
    two 60-bit hex windows each (chars 1-15 and 17-31) — halving md5
    invocations vs hashing ``s || '#j'`` per function (mirrors
    q_minhash_signatures and its DuckDB oracle)."""
    # Materialize the token array FIRST (CJK-aware, r4): lambda bodies
    # are CodegenFallback and re-evaluate their subtree per element, so
    # an inline tokenizer inside the shingle lambda re-tokenizes the
    # doc once per shingle.
    toked = docs.select(
        F.col(id_col), sparse_fn.bm25_tokens_col(text_col).alias("__toks")
    ).filter(F.expr(f"size(__toks) >= {shingle}"))
    shingles = (
        f"transform(sequence(1, size(__toks) - {shingle - 1}), "
        f"i -> concat_ws(' ', slice(__toks, i, {shingle})))"
    )
    # Materialize the shingle array ONCE, then derive every minhash from
    # the materialized digests. Inlining `shingles` into all n_hashes
    # expressions re-runs the clean+tokenize+slice chain per hash (and
    # CollapseProject won't dedup it) — measured 11s -> ~1s at sf0.1.
    shingled = toked.select(
        F.col(id_col), F.expr(shingles).alias("__sh")
    )
    n_digs = (n_hashes + 1) // 2
    digs = shingled.select(
        F.col(id_col),
        *[
            F.expr(
                f"transform(__sh, s -> md5(concat(repeat('#', {d}), s)))"
            ).alias(f"__d{d}")
            for d in range(n_digs)
        ],
    )

    def _mh(j: int) -> str:
        d, pos = j // 2, 1 if j % 2 == 0 else 17
        return (
            f"array_min(transform(__d{d}, d -> "
            f"cast(conv(substring(d, {pos}, 15), 16, 10) as bigint)))"
        )

    sig = digs.select(
        F.col(id_col),
        *[F.expr(_mh(j)).alias(f"mh{j}") for j in range(n_hashes)],
    )
    return sig.select(
        id_col,
        F.explode(
            F.array(
                *[
                    F.struct(F.lit(j).alias("band"), F.col(f"mh{j}").alias("h"))
                    for j in range(n_hashes)
                ]
            )
        ).alias("bh"),
    ).select(id_col, "bh.band", "bh.h")


def near_dedup_stage(
    docs: DataFrame,
    *,
    id_col: str = "doc_id",
    n_hashes: int = 4,
    shingle: int = 3,
    max_bucket_size: int | None = 64,
    exact_groups: bool = False,
) -> DataFrame:
    """MinHash-LSH near-dup removal: mark every doc that has a
    lower-id near-duplicate candidate. One bucket-key shuffle; pair
    groups resolve to the smallest id (min-propagation over candidate
    edges — exact for pairs, keeps one representative per chain).

    ``exact_groups=True`` resolves TRANSITIVE duplicate clusters exactly
    (a-b-c chains collapse to one representative even when a and c never
    share a bucket) via distributed connected components over per-bucket
    star edges — same component structure as the full in-bucket cliques
    at a fraction of the edges (`operators/components.py`). Unlike every
    other stage this variant runs Spark jobs EAGERLY at call time (the
    component iteration needs actions) and is batch-only."""
    if exact_groups and docs.isStreaming:
        raise ValueError(
            "exact_groups near-dedup is iterative (multi-action) and "
            "cannot run on a streaming DataFrame; use the default "
            "bucket-domination mode in foreachBatch instead"
        )
    bands = minhash_band_hashes(
        docs, id_col=id_col, n_hashes=n_hashes, shingle=shingle
    )
    buckets = (
        bands.groupBy("band", "h")
        .agg(F.sort_array(F.collect_list(id_col)).alias("ds"))
        .filter(F.size("ds") >= 2)
    )
    if max_bucket_size is not None:
        buckets = buckets.filter(F.size("ds") <= max_bucket_size)
    if exact_groups:
        from aiotcvectordb_spark.operators.components import (
            connected_components,
        )

        star_edges = buckets.select(
            F.expr("ds[0]").alias("src"),
            F.explode(F.expr("slice(ds, 2, size(ds) - 1)")).alias("dst"),
        )
        dominated = (
            connected_components(star_edges)
            .filter(F.col("node") != F.col("component"))
            .select(F.col("node").alias(id_col))
        )
    else:
        # every non-minimum member of any bucket is dominated by the
        # bucket minimum -> drop it; the minimum survives (its own
        # keeper).
        dominated = (
            buckets.select(
                F.explode(F.expr("slice(ds, 2, size(ds) - 1)")).alias(id_col)
            )
            .distinct()
        )
    return docs.join(
        dominated.withColumn("near_dup", F.lit(True)), id_col, "left"
    ).withColumn("near_dup", F.coalesce("near_dup", F.lit(False)))


def split_stage(
    docs: DataFrame,
    *,
    id_col: str = "doc_id",
    train: int = 90,
    val: int = 5,
) -> DataFrame:
    """Deterministic hash split — stable under re-partitioning and
    re-ingestion."""
    bucket = F.expr(
        f"pmod({_PORTABLE_HASH.format(s=f'cast({id_col} as string)')}, 100)"
    )
    return docs.withColumn(
        "split",
        F.when(bucket < train, F.lit("train"))
        .when(bucket < train + val, F.lit("val"))
        .otherwise(F.lit("test")),
    )


def pii_scrub_stage(docs: DataFrame, *, text_col: str = "text") -> DataFrame:
    """Redact emails / IPv4 addresses / international phone numbers IN
    PLACE on ``text_col`` before any downstream stage sees the text
    (same patterns as the oracle-checked ``pii_scrub`` registry query)."""
    from aiotcvectordb_spark.qfam.curation import _PII_EMAIL, _PII_IPV4, _PII_PHONE

    scrubbed = F.regexp_replace(
        F.regexp_replace(
            F.regexp_replace(F.col(text_col), _PII_EMAIL, "<EMAIL>"),
            _PII_IPV4,
            "<IP>",
        ),
        _PII_PHONE,
        "<PHONE>",
    )
    return docs.withColumn(text_col, scrubbed)


def decontaminate_stage(
    docs: DataFrame,
    benchmark: DataFrame,
    *,
    id_col: str = "doc_id",
    text_col: str = "clean_text",
    bench_text_col: str = "text",
    shingle: int = 8,
) -> DataFrame:
    """Flag docs sharing any ``shingle``-token window with the eval set
    (column ``contaminated``). One shingle equi-join against the
    benchmark's distinct shingles — the benchmark side is a fixed suite,
    so at corpus scale this broadcasts."""

    def shingles_of(df, col):
        # tokens materialized once per row (CJK-aware, r4) — see
        # minhash_band_hashes
        toked = df.select(
            *df.columns, sparse_fn.bm25_tokens_col(col).alias("__toks")
        ).filter(F.expr(f"size(__toks) >= {shingle}"))
        sh = (
            f"transform(sequence(1, size(__toks) - {shingle - 1}), "
            f"i -> concat_ws(' ', slice(__toks, i, {shingle})))"
        )
        return toked.select(
            *df.columns, F.explode(F.expr(sh)).alias("__shingle")
        )

    bench_sh = (
        shingles_of(benchmark, bench_text_col)
        .select("__shingle")
        .distinct()
    )
    hit = (
        shingles_of(docs.select(id_col, text_col), text_col)
        .join(F.broadcast(bench_sh), "__shingle")
        .select(id_col)
        .distinct()
        .withColumn("contaminated", F.lit(True))
    )
    return docs.join(hit, id_col, "left").withColumn(
        "contaminated", F.coalesce("contaminated", F.lit(False))
    )


def quota_stage(
    docs: DataFrame,
    *,
    id_col: str = "doc_id",
    source_col: str = "source",
    quota: int = 40,
) -> DataFrame:
    """Per-source quota flag: ``quota_ok`` is true for a source's best
    ``quota`` documents ranked by (n_tokens desc, id) — the domain-mix
    guard against over-represented sources. One shuffle on the source
    key; the skew-safe form at boilerplate-domain scale is the salted
    two-phase top-k (partitioning.salted_group_topk, hash-proven
    identical by the ``group_topk_salted`` driver query)."""
    from pyspark.sql import Window

    w = Window.partitionBy(source_col).orderBy(
        F.col("n_tokens").desc(), F.col(id_col).asc()
    )
    return docs.withColumn(
        "quota_ok", F.row_number().over(w) <= quota
    )


def shard_stage(
    docs: DataFrame,
    *,
    id_col: str = "doc_id",
    n_shards: int = 16,
) -> DataFrame:
    """Deterministic training-shard layout: (shard, shard_pos) from two
    independent salted 60-bit hashes of the id — a stable global
    shuffle; writing becomes repartition(n_shards) +
    sortWithinPartitions(shard_pos)."""
    from pyspark.sql import Window

    sh = F.expr(
        f"pmod({_PORTABLE_HASH.format(s=chr(39) + 'shard#' + chr(39) + f' || cast({id_col} as string)')}, {n_shards})"
    ).cast("int")
    oh = F.expr(
        _PORTABLE_HASH.format(s=chr(39) + "order#" + chr(39) + f" || cast({id_col} as string)")
    )
    w = Window.partitionBy("shard").orderBy("__ord", id_col)
    return (
        docs.withColumn("shard", sh)
        .withColumn("__ord", oh)
        .withColumn("shard_pos", F.row_number().over(w))
        .drop("__ord")
    )


def curate(
    docs: DataFrame,
    *,
    id_col: str = "doc_id",
    text_col: str = "text",
    min_tokens: int = 3,
    min_alnum_ratio: float = 0.6,
    max_bucket_size: int | None = 64,
    exact_groups: bool = False,
    scrub_pii: bool = False,
    benchmark: DataFrame | None = None,
    source_quota: int | None = None,
    n_shards: int | None = None,
) -> DataFrame:
    """Full curation flow. Returns the corpus annotated with
    (clean_text, n_tokens, quality_ok, exact_keeper, near_dup, split,
    keep) — callers filter ``keep`` or inspect the flags for audit.

    ``scrub_pii=True`` redacts PII before cleaning; passing a
    ``benchmark`` DataFrame adds a ``contaminated`` flag (8-token
    shingle overlap) that also gates ``keep``; ``source_quota=N`` adds
    a ``quota_ok`` flag that also gates ``keep``; ``n_shards=N``
    appends (shard, shard_pos) for the writer. All default OFF so the
    oracle-checked base composition is unchanged."""
    out = docs
    if scrub_pii:
        out = pii_scrub_stage(out, text_col=text_col)
    out = clean_stage(out, text_col=text_col)
    out = quality_stage(
        out, min_tokens=min_tokens, min_alnum_ratio=min_alnum_ratio
    )
    out = exact_dedup_stage(out, id_col=id_col)
    out = near_dedup_stage(
        out,
        id_col=id_col,
        max_bucket_size=max_bucket_size,
        exact_groups=exact_groups,
    )
    out = split_stage(out, id_col=id_col)
    keep = F.col("quality_ok") & F.col("exact_keeper") & ~F.col("near_dup")
    if benchmark is not None:
        out = decontaminate_stage(out, benchmark, id_col=id_col)
        keep = keep & ~F.col("contaminated")
    if source_quota is not None:
        out = quota_stage(out, id_col=id_col, quota=source_quota)
        keep = keep & F.col("quota_ok")
    out = out.withColumn("keep", keep)
    if n_shards is not None:
        out = shard_stage(out, id_col=id_col, n_shards=n_shards)
    return out


def materialize(curated: DataFrame, out_dir: str) -> dict[str, int]:
    """Write the kept corpus hive-partitioned by split; returns
    per-split row counts."""
    from aiotcvectordb_spark.sources.export import export_dataframe

    kept = curated.filter("keep").select(
        "doc_id", "clean_text", "n_tokens", "split"
    )
    export_dataframe(kept, out_dir, partition_by=["split"])
    return {
        r.split: r.n for r in kept.groupBy("split").agg(F.count("*").alias("n")).collect()
    }
