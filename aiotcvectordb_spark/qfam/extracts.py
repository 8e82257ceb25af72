"""Document-format parser round trips (pdf/doc/ppt/xls/docx/pptx/xlsx/rtf/epub) and frozen-twin ANN lanes.

Split out of queries.py in r12 (mechanical, order-preserving); see queries.py for the registry."""

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from aiotcvectordb_spark.operators import knn
from aiotcvectordb_spark.functions import sparse as sparse_fn
from aiotcvectordb_spark.payloadstore import payload_table
from aiotcvectordb_spark.qfam.core import (
    DIM,
    ROUND_DIGITS,
    _L2_SQL,
    _sql_queries_cte,
    _sql_vec,
    load,
    load_wide,
    qvec,
)
from aiotcvectordb_spark.qfam.vector import FLAGSHIP_VECTORS

# --------------------------------------------------------------------------
# Rows-only queries (no SQL oracle: embedding model / MLlib approx index)
# --------------------------------------------------------------------------


def q_bpe_token_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Learned-subword token counting: train a BPE vocabulary on the
    corpus (operators/bpe.py — the corpus collapses once to the word-
    frequency table; each round is a JVM pair-count aggregate + a
    driver-side metadata collect of the merge batch + a map-side
    rewrite of only the touched words), then tokenize every document
    with the broadcast merge ranks. Rows-only (iterative training has
    no SQL oracle); equality with classic sequential BPE, lossless
    round trip, and determinism are asserted in tests/test_bpe.py."""
    from aiotcvectordb_spark.operators import bpe

    df = load_wide(spark, sf_dir, "documents")
    merges = bpe.bpe_train(df, num_merges=48, batch_merges=16)
    return bpe.bpe_encode(df, merges).select("doc_id", "n_tokens")


# FROZEN merge table (r10): the output of bpe_train(num_merges=48,
# batch_merges=16) on the sf0.01 documents corpus — the exact artifact
# save_merges/load_merges (operators/bpe.py:236-253) persists, inlined
# as driver-fixed literals so the APPLY lane is closed-form on both
# engines (the semantic_dedup fixed-centroid precedent; training stays
# rows-only). Rank = list position.
_BPE_FROZEN_MERGES: list[tuple[str, str]] = [
    ('e', 'r'), ('n', '</w>'), ('o', 'w'), ('s', 't'), ('l', 'u'),
    ('p', 'a'), ('c', 'h'), ('f', 'i'), ('e', '</w>'), ('o', 'r'),
    ('m', 'er'), ('a', 't'), ('i', 'n'), ('s', 'h'), ('c', 'u'),
    ('fi', 'l'), ('ow', '</w>'), ('pa', 'r'), ('i', 'n</w>'),
    ('j', 'o'), ('a', 'sh'), ('at', 'ch'), ('s', 'c'), ('cu', 'st'),
    ('lu', 'm'), ('fil', 't'), ('l', 'l'), ('g', 'e</w>'),
    ('d', 'er'), ('v', 'e'), ('u', 'p'), ('a', '</w>'),
    ('jo', 'in</w>'), ('h', 'ash'), ('r', 'ow</w>'), ('b', 'atch'),
    ('c', 'o'), ('lum', 'n</w>'), ('filt', 'er'), ('s', 'm'),
    ('mer', 'ge</w>'), ('or', 'der'), ('in', 'e</w>'), ('d', 'at'),
    ('g', 'g'), ('e', 'y'), ('par', 'k'), ('t', '</w>'),
]


def q_bpe_token_count_frozen(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BPE tokenization with a FROZEN merge table (r10) — the apply
    lane of ``bpe_token_count``, oracle-able end-to-end: the trained
    merge list is inlined as driver-fixed literals (the persisted
    save_merges artifact, provenance in _BPE_FROZEN_MERGES), and the
    greedy merge loop — at each step merge the LEFTMOST occurrence of
    the LOWEST-rank adjacent pair, repeat until no learned pair
    remains — is replayed in DuckDB as a recursive CTE over the
    distinct-word table (the mmr_rerank precedent for iterative
    state). One-occurrence-at-a-time with (rank, leftmost) selection
    is provably equal to classic merge-all-occurrences BPE: merging
    pair p only creates pairs containing p's OUTPUT symbol, and any
    learned pair containing it necessarily has a higher rank than p (its merge
    postdates p's at train time), so p stays minimal until exhausted.

    Scale shape: tokenization is shuffle-free mapInPandas with a
    per-batch distinct-word cache (operators/bpe.py:181); per-doc
    token counts are exact. The oracle folds per-WORD token counts
    over the (doc, word, count) table so the recursive work is
    O(distinct words x merges), not O(corpus)."""
    from aiotcvectordb_spark.operators import bpe

    df = load_wide(spark, sf_dir, "documents")
    return bpe.bpe_encode(df, _BPE_FROZEN_MERGES).select(
        "doc_id", "n_tokens"
    )


def _bpe_frozen_oracle() -> str:
    items = ", ".join(
        f"'{a}' || chr(31) || '{b}'" for a, b in _BPE_FROZEN_MERGES
    )
    pair = "syms[i] || chr(31) || syms[i+1]"
    return f"""
WITH RECURSIVE
ml AS (SELECT [{items}] AS m),
words0 AS (
  SELECT doc_id,
         unnest(regexp_extract_all(lower(text), '{sparse_fn.BPE_PRETOKEN_RE}')) AS word
  FROM documents
),
wc AS (SELECT doc_id, word, count(*) AS k FROM words0 GROUP BY doc_id, word),
dw AS (SELECT DISTINCT word FROM words0),
steps(word, syms, n) AS (
  SELECT word, list_append(string_split(word, ''), '</w>'), 0 FROM dw
  UNION ALL
  SELECT word,
         syms[1:CAST(key % 1000000 AS INT)-1]
           || [syms[CAST(key % 1000000 AS INT)] || syms[CAST(key % 1000000 AS INT)+1]]
           || syms[CAST(key % 1000000 AS INT)+2:],
         n + 1
  FROM (
    SELECT word, syms, n,
           CAST(list_aggregate(list_transform(range(1, len(syms)),
                i -> CASE WHEN list_position(m, {pair}) = 0
                          THEN 1000000000000
                          ELSE list_position(m, {pair}) * 1000000 + i END),
                'min') AS BIGINT) AS key
    FROM steps, ml
  )
  WHERE key < 1000000000000
),
final AS (
  SELECT word, len(syms) AS t FROM steps
  QUALIFY row_number() OVER (PARTITION BY word ORDER BY n DESC) = 1
)
SELECT d.doc_id, CAST(COALESCE(sum(w.k * f.t), 0) AS INT) AS n_tokens
FROM documents d
LEFT JOIN wc w ON w.doc_id = d.doc_id
LEFT JOIN final f ON f.word = w.word
GROUP BY d.doc_id
"""


# Prepared for the r11 promotion (this round's 50-slot driver batch is
# fully booked by the 47 aged rows + 3 r10 promotions): registered
# rows-only now, and the oracle is ALREADY pinned against the Spark
# output in tests/test_bpe.py::test_bpe_frozen_oracle_parity, so the
# ORACLES registration is a zero-risk one-liner next round.
ORACLE_BPE_TOKEN_COUNT_FROZEN = _bpe_frozen_oracle()


def q_approx_sketches(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mergeable sketch aggregates — the 100 TB profiling path where
    exact distinct/percentile would shuffle every value: per-event-type
    HLL distinct users (DataSketches, mergeable across partitions and
    re-aggregable via hll_union_agg) and t-digest-style approximate
    percentiles. Rows-only driver check; accuracy-vs-exact tolerances
    asserted in pytest (sketch internals are engine-specific, so no
    cross-engine hash can exist)."""
    events = load_wide(spark, sf_dir, "events")
    per_type = events.groupBy("event_type").agg(
        F.hll_sketch_agg("user_id").alias("users_sketch"),
        F.percentile_approx("value", F.array(F.lit(0.5), F.lit(0.95)), 10000)
        .alias("value_q"),
        F.count("*").alias("n"),
    )
    return per_type.select(
        "event_type",
        F.hll_sketch_estimate("users_sketch").alias("approx_users"),
        F.col("value_q")[0].alias("approx_p50"),
        F.col("value_q")[1].alias("approx_p95"),
        "n",
    )


_MMF_WIDTH = 16  # PNG width for the multimodal_features fixture images


def q_multimodal_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL decode by default (upgraded r4 from the deterministic fake):
    each document's UTF-8 bytes become a real zlib-compressed grayscale
    PNG (``with_png_payload``), then ``decode_features(mode="real")``
    inflates + defilters the actual pixels and emits a normalized
    luminance histogram. Pixels are the text bytes zero-padded to the
    image grid, so DuckDB can recompute the histogram from the bytes —
    the full PNG codec round trip is hash-checked. n_bytes (the PNG
    payload size) is dropped from the oracled projection: compressed
    length is not SQL-expressible.

    r5: the 8-bucket histogram is posexploded to scalar
    (doc_id, bucket, ratio) rows — the driver canonicalizer pandas-sorts
    every projected column and crashes on array cells (unhashable list),
    so oracled projections must be scalar-only (enforced registry-wide
    by test_registry_consistency.py)."""
    from aiotcvectordb_spark.operators import multimodal

    # no 32-way widening: each Python worker pays pandas/numpy import on
    # spawn, which dominates tiny inputs; real corpora arrive multi-split.
    media = payload_table(
        spark, sf_dir, f"png_w{_MMF_WIDTH}", 1,
        lambda: multimodal.with_png_payload(
            load(spark, sf_dir, "documents"),
            text_col="text", width=_MMF_WIDTH,
        ),
        min_partitions=False,
    )
    feats = multimodal.decode_features(media, id_col="doc_id", mode="real")
    return feats.select(
        "doc_id", F.posexplode("features").alias("bucket", "ratio")
    ).select(
        "doc_id",
        F.col("bucket").cast("int").alias("bucket"),
        F.round("ratio", ROUND_DIGITS).alias("ratio"),
    )


# Recompute the luminance histogram straight from the UTF-8 bytes: the
# PNG pixels are exactly those bytes zero-padded to ceil(nb/16)x16
# (min one row), bucket = px * 8 // 256, ratio = count / (h*16).
ORACLE_MULTIMODAL_FEATURES = f"""
WITH ch AS (
  SELECT doc_id, ascii(c) AS cp
  FROM (
    SELECT doc_id, unnest(regexp_split_to_array(text, '')) AS c
    FROM documents WHERE length(text) > 0
  )
),
b AS (
  SELECT doc_id, unnest(
    CASE WHEN cp < 128 THEN [cp]
         WHEN cp < 2048 THEN [192 + cp // 64, 128 + cp % 64]
         WHEN cp < 65536 THEN [224 + cp // 4096, 128 + (cp // 64) % 64,
                               128 + cp % 64]
         ELSE [240 + cp // 262144, 128 + (cp // 4096) % 64,
               128 + (cp // 64) % 64, 128 + cp % 64] END) AS byte
  FROM ch
),
counts AS (
  SELECT doc_id, byte * 8 // 256 AS bk, count(*) AS c
  FROM b GROUP BY doc_id, byte * 8 // 256
),
dims AS (
  SELECT d.doc_id,
         coalesce(nb.nb, 0) AS nb,
         greatest(1, CAST(ceil(coalesce(nb.nb, 0) / {_MMF_WIDTH}.0) AS BIGINT))
           AS h
  FROM documents d
  LEFT JOIN (SELECT doc_id, count(*) AS nb FROM b GROUP BY doc_id) nb
    USING (doc_id)
),
grid AS (
  SELECT dims.doc_id, dims.nb, dims.h, r.range AS bk
  FROM dims CROSS JOIN range(8) r
),
filled AS (
  SELECT g.doc_id, g.bk,
         coalesce(c.c, 0)
           + CASE WHEN g.bk = 0 THEN g.h * {_MMF_WIDTH} - g.nb ELSE 0 END AS c,
         g.h * {_MMF_WIDTH} AS total
  FROM grid g LEFT JOIN counts c ON g.doc_id = c.doc_id AND g.bk = c.bk
)
SELECT doc_id,
       CAST(bk AS INTEGER) AS bucket,
       round(c / CAST(total AS DOUBLE), {ROUND_DIGITS}) AS ratio
FROM filled
"""


def q_audio_mp3_probe(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL MPEG-1 Layer III round trip (r5): the text-derived waveform
    is MP3-encoded (real polyphase analysis + MDCT + Huffman codebook 1,
    operators/mp3codec.encode_mp3; odd ids carry a FULL Layer I stream
    instead, so the layer-dispatching decode runs distributed) and a
    second shuffle-free mapInPandas stage decodes — side info,
    requantization, alias reduction, IMDCT, synthesis filterbank — and
    computes features on the reconstructed PCM. Rows-only by nature
    (the lossy subband cascade is not SQL-expressible); pytest pins the
    codec (±20 Hz sine frequency, <25% RMS drift, real-world container
    parse, tampered-codebook rejection — tests/test_mp3codec.py).
    Honest subset per the mp3codec module docstring: ISO Table B.7
    codebooks beyond 0/1/count1-B and the Table B.3 synthesis window
    are NOT reproduced."""
    from aiotcvectordb_spark.operators import mp3codec as M3

    mp3 = payload_table(
        spark, sf_dir, "mp3_mixed", 1,
        lambda: M3.with_mp3_payload(
            load_wide(spark, sf_dir, "documents"),
            mix_layer1=True,
        ),
    )
    return M3.mp3_features(mp3).select(
        "doc_id",
        "n_frames",
        "duration_ms",
        F.round("rms", ROUND_DIGITS).alias("rms"),
    )


def q_audio_mp3_meta(spark: SparkSession, sf_dir: str) -> DataFrame:
    """``audio_mp3_probe``'s METADATA route (r11, verdict item: route
    metadata-only consumers to the header-probe path): real mixed
    Layer I/III streams, features from ``mp3_meta`` — a frame-sync
    header walk, NO requantization/IMDCT/synthesis — so the cost is
    encode + a few bytes per frame instead of CPU-linear decode.

    r12 witness upgrade (verdict item: known-answer → recomputed
    geometry): ``vary_geometry`` rotates the waveform length per
    document — ``1152 * (1 + id % 5)`` samples on the Layer III lane,
    ``384 * (2 + id % 9)`` on Layer I — so the DuckDB oracle must
    RECOMPUTE n_frames and duration from doc_id arithmetic per row
    (duration = round(n_frames * spf * 1000 / 44100); no value lands
    on a .5 tie because 49 ∤ n and 147 ∤ n for these frame counts).
    An end-to-end encode->header-parse witness under the driver hash,
    now with per-row geometry."""
    from aiotcvectordb_spark.operators import mp3codec as M3

    mp3 = payload_table(
        spark, sf_dir, "mp3_mixed_varied", 1,
        lambda: M3.with_mp3_payload(
            load_wide(spark, sf_dir, "documents"),
            mix_layer1=True, vary_geometry=True,
        ),
    )
    return M3.mp3_meta(mp3)


ORACLE_AUDIO_MP3_META = """
SELECT doc_id,
       CAST(CASE WHEN doc_id % 2 = 1 THEN 1 ELSE 3 END AS INTEGER)
         AS layer,
       CAST(CASE WHEN doc_id % 2 = 1 THEN 2 + doc_id % 9
                 ELSE 1 + doc_id % 5 END AS INTEGER) AS n_frames,
       44100 AS sample_rate,
       CAST(CASE WHEN doc_id % 2 = 1 THEN 448 ELSE 128 END AS INTEGER)
         AS bitrate_kbps,
       CAST(round((CASE WHEN doc_id % 2 = 1
                        THEN 384 * (2 + doc_id % 9)
                        ELSE 1152 * (1 + doc_id % 5) END)
                  * 1000.0 / 44100) AS BIGINT) AS duration_ms
FROM documents
"""


def q_jpeg_meta(spark: SparkSession, sf_dir: str) -> DataFrame:
    """``jpeg_progressive_probe``'s METADATA route (r11): the same real
    SOF2 progressive streams, but features come from
    ``multimodal.probe_media`` — a marker-segment walk reading SOF
    dimensions, NO Huffman decode / dequant / IDCT. ORACLED: the
    parsed dimensions must equal the encoder's block geometry —
    r12 witness upgrade (known-answer → recomputed geometry):
    ``vary_width`` rotates the grid to ``2 + doc_id % 7`` blocks per
    document, so the oracle RECOMPUTES width and height from doc_id +
    text arithmetic per row instead of selecting a fixture-wide
    constant. An encode->header-parse witness that costs header bytes
    per image instead of entropy-decode CPU. At 100 TB,
    dimension/orientation audits run HERE; only pixel consumers pay
    ``jpeg_features``."""
    from aiotcvectordb_spark.operators import multimodal

    media = payload_table(
        spark, sf_dir, "jpeg_prog_varied", 1,
        lambda: multimodal.with_jpeg_payload(
            load_wide(spark, sf_dir, "documents"),
            progressive=True, vary_width=True,
        ),
    )
    return multimodal.probe_media(media).select(
        "doc_id",
        "format",
        "width",
        "height",
        "bit_depth",
        "channels",
    )


ORACLE_JPEG_META = """
SELECT doc_id,
       'jpeg' AS format,
       CAST((2 + doc_id % 7) * 8 AS INTEGER) AS width,
       CAST(8 * ceil(greatest(octet_length(encode(text)), 1)
                     / CAST(2 + doc_id % 7 AS DOUBLE)) AS INTEGER)
         AS height,
       8 AS bit_depth,
       1 AS channels
FROM documents
"""


def q_audio_adpcm_meta(spark: SparkSession, sf_dir: str) -> DataFrame:
    """``audio_adpcm_probe``'s METADATA route (r12, verdict item #3 —
    the last codec lane without a driver witness): the same real
    IMA-ADPCM RIFF/WAVE payloads, features from ``wav_meta`` — a
    chunk-walk over the fmt / fact / data chunk FIELDS
    (``audiocodec.probe_wav_header``), never the nibble stream — so
    duration/geometry audits cost ~50 header bytes per file while
    ``audio_adpcm_probe`` pays the full predictor state machine.

    ORACLED with RECOMPUTED geometry: every field is closed-form from
    the encoder's block structure (block_align 256 → 505 samples per
    mono block; one sample per UTF-8 byte, empty text → 1 sample;
    fact n_samples; n_blocks = ceil(n/505); duration = n*1000 // 8000)
    so DuckDB derives all of them per row from the text itself — an
    encode→header-parse witness for the ADPCM container under the
    driver hash."""
    from aiotcvectordb_spark.operators import multimodal as MM

    wav = payload_table(
        spark, sf_dir, "wav_adpcm", 1,
        lambda: MM.with_wav_payload(
            load_wide(spark, sf_dir, "documents"),
            n_samples=None, codec="adpcm",
        ),
    )
    return MM.wav_meta(wav)


ORACLE_AUDIO_ADPCM_META = """
WITH n AS (
  SELECT doc_id,
         greatest(octet_length(encode(text)), 1) AS ns
  FROM documents
)
SELECT doc_id,
       17 AS format_tag,
       8000 AS sample_rate,
       256 AS block_align,
       505 AS samples_per_block,
       CAST(ns AS BIGINT) AS n_samples,
       CAST(ceil(ns / 505.0) AS INTEGER) AS n_blocks,
       CAST(ns * 1000 // 8000 AS BIGINT) AS duration_ms
FROM n
"""


_PDF_LINES_PER_PAGE = 20


def q_pdf_extract(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL PDF parser round trip, oracle-checked (r5): each document's
    text becomes a genuine multi-page FlateDecode PDF
    (``operators/pdfcodec.build_pdf`` — proper xref/trailer, UTF-16BE
    hex strings so CJK survives, one page per 20 lines), then a second
    shuffle-free mapInPandas stage runs the stdlib ISO 32000-1
    extractor (object scan + ObjStm, zlib inflate, Tj/TJ/'/" text
    operators, Root->Pages->Kids page walk). r6: ``mix_modes`` rotates
    the writer per document across font modes simple / Type0+ToUnicode
    CMap / Encoding-Differences and stream filters Flate / LZW, so the
    CMap machinery, glyph-name resolution, and the LZW codec all run
    distributed under this same oracle. Extracted text must equal
    the input text EXACTLY and n_pages = ceil(lines/20) — DuckDB
    predicts both from the raw text, so the driver hash-checks the
    whole parser: the RAG upload path's PDF ingestion (reference
    collection_view.py:342-423 ParsingProcess) is verified end to end,
    not just unit-tested."""
    from aiotcvectordb_spark.operators import pdfcodec

    pdfs = payload_table(
        spark, sf_dir, "pdf", 1,
        lambda: pdfcodec.with_pdf_payload(
            load_wide(spark, sf_dir, "documents").filter(
                F.length("text") > 0
            ),
            lines_per_page=_PDF_LINES_PER_PAGE, mix_modes=True,
        ),
    )
    return pdfcodec.extract_text_df(
        pdfs, prime_kdf=pdfcodec.v5_policy_kdf_pairs()
    ).select("doc_id", "text", "n_pages")


ORACLE_PDF_EXTRACT = f"""
SELECT doc_id,
       text,
       CAST(ceil(((length(text) - length(replace(text, chr(10), ''))) + 1)
                 / {_PDF_LINES_PER_PAGE}.0) AS INTEGER) AS n_pages
FROM (SELECT doc_id,
             translate(
                 replace(replace(text, chr(13) || chr(10), chr(10)),
                         chr(13), chr(10)),
                 chr(0) || chr(1) || chr(2) || chr(3) || chr(4) || chr(5) ||
                       chr(6) || chr(7) || chr(8) || chr(11) || chr(12) || chr(14) ||
                       chr(15) || chr(16) || chr(17) || chr(18) || chr(19) || chr(20) ||
                       chr(21) || chr(22) || chr(23) || chr(24) || chr(25) || chr(26) ||
                       chr(27) || chr(28) || chr(29) || chr(30) || chr(31),
                 '') AS text
      FROM documents
      WHERE length(text) > 0) upload_canon
"""


def q_doc_extract(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL binary Word (.doc) parser round trip, oracle-checked (r6):
    each document's text becomes a genuine [MS-CFB] compound file with
    WordDocument + 0Table streams and a multi-piece [MS-DOC] piece
    table (``operators/cfbdoc.build_doc`` — FIB, Clx/Pcdt/PlcPcd,
    compressed cp1252 and UTF-16LE pieces alternating per id, mini
    stream for small docs and FAT chains for large ones), then a
    second shuffle-free mapInPandas stage runs the stdlib CFB reader +
    piece-table extractor. Word stores paragraph marks as CR, so the
    oracle predicts extraction as the CR->LF mapping with the final
    paragraph mark stripped — DuckDB hash-checks the whole container
    and text machinery. Covers the last common enterprise ingest
    format the upload path (reference collection_view.py:342-423)
    rejected."""
    from aiotcvectordb_spark.operators import cfbdoc

    docs = payload_table(
        spark, sf_dir, "doc", 1,
        lambda: cfbdoc.with_doc_payload(
            load_wide(spark, sf_dir, "documents").filter(
                F.length("text") > 0
            )
        ),
    )
    return cfbdoc.extract_text_df(docs).select("doc_id", "text")


ORACLE_DOC_EXTRACT = """
SELECT doc_id,
       rtrim(replace(text, chr(13), chr(10)), chr(10)) AS text
FROM (SELECT doc_id,
             translate(
                 replace(replace(text, chr(13) || chr(10), chr(10)),
                         chr(13), chr(10)),
                 chr(0) || chr(1) || chr(2) || chr(3) || chr(4) || chr(5) ||
                       chr(6) || chr(7) || chr(8) || chr(11) || chr(12) || chr(14) ||
                       chr(15) || chr(16) || chr(17) || chr(18) || chr(19) || chr(20) ||
                       chr(21) || chr(22) || chr(23) || chr(24) || chr(25) || chr(26) ||
                       chr(27) || chr(28) || chr(29) || chr(30) || chr(31),
                 '') AS text
      FROM documents
      WHERE length(text) > 0) upload_canon
"""


def q_ppt_extract(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL binary PowerPoint (.ppt) parser round trip, oracle-checked
    (r6): each document's text becomes a genuine [MS-PPT] record tree
    (Document > SlideListWithText containers with TextBytesAtom/
    TextCharsAtom alternating per id) inside a real [MS-CFB] container
    (``operators/olebin.build_ppt``), then a second shuffle-free
    mapInPandas stage follows the spec's reading order — CurrentUserAtom
    → UserEditAtom chain → merged PersistDirectoryAtoms →
    SlidePersistAtom slide ordering ([MS-PPT] 2.1.2). Every third deck
    is written as an INCREMENTAL SAVE carrying a superseded edit whose
    stale text is physically present in the stream; the oracle predicts
    only the live edit, so any stream-order leak of superseded content
    hash-mismatches. DuckDB predicts the extraction exactly (edge
    newlines trimmed), hash-checking the record walker, the persist
    machinery, and both character widths."""
    import zlib

    from aiotcvectordb_spark.operators import olebin

    df = load_wide(spark, sf_dir, "documents").filter(
        F.length("text") > 0
    )

    def variant(i, _t):
        if zlib.crc32(str(i).encode("utf-8")) % 3 == 0:
            return {"stale_text": f"superseded edit of {i}\nstale bullet"}
        return {}

    decks = payload_table(
        spark, sf_dir, "ppt", 1,
        lambda: olebin.with_office_payload(
            df, olebin.build_ppt, variant_fn=variant
        ),
    )
    return olebin.extract_office_text_df(decks, olebin.parse_ppt).select(
        "doc_id", "text"
    )


ORACLE_PPT_EXTRACT = """
SELECT doc_id, trim(text, chr(10)) AS text
FROM (SELECT doc_id,
             translate(
                 replace(replace(text, chr(13) || chr(10), chr(10)),
                         chr(13), chr(10)),
                 chr(0) || chr(1) || chr(2) || chr(3) || chr(4) || chr(5) ||
                       chr(6) || chr(7) || chr(8) || chr(11) || chr(12) || chr(14) ||
                       chr(15) || chr(16) || chr(17) || chr(18) || chr(19) || chr(20) ||
                       chr(21) || chr(22) || chr(23) || chr(24) || chr(25) || chr(26) ||
                       chr(27) || chr(28) || chr(29) || chr(30) || chr(31),
                 '') AS text
      FROM documents
      WHERE length(text) > 0) upload_canon
"""


def q_xls_extract(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL binary Excel (.xls, BIFF8) parser round trip,
    oracle-checked (r6): each document's text becomes a genuine BIFF8
    Workbook stream — workbook-globals substream carrying the SST
    shared-string table (both narrow cp1252 and wide UTF-16LE entries
    by content), a worksheet substream of LabelSst cells (lines = rows,
    tabs = cells) — inside a real [MS-CFB] container
    (``operators/olebin.build_xls``); a second shuffle-free mapInPandas
    stage parses the records back to tab/newline text. Every second
    workbook is written with a 256-byte record cap so its SST spans
    Continue records ([MS-XLS] 2.4.58/2.5.293) — splits between
    strings and mid-character-array with fresh option bytes — putting
    the spanning reader on the oracled path. r7: an independent half
    of the corpus (crc of id+'f') is written with ``formula_cells`` —
    eligible cells become Formula records carrying CACHED results
    ([MS-XLS] 2.4.127: cached-string Formula + String record pairs,
    cached-number FormulaValues), the record shapes real workbooks
    are full of, so the cached-result reader is driver-hash-proven.
    DuckDB predicts the extraction exactly, hash-checking the record
    scan, SST decoding (single-record and Continue-spanning), formula
    caches, and row/cell assembly."""
    import zlib

    from aiotcvectordb_spark.operators import olebin

    df = load_wide(spark, sf_dir, "documents").filter(
        F.length("text") > 0
    )

    def variant(i, _t):
        kw = {}
        if zlib.crc32(str(i).encode("utf-8")) % 2 == 0:
            kw["sst_max_body"] = 256
        if zlib.crc32((str(i) + "f").encode("utf-8")) % 2 == 0:
            kw["formula_cells"] = True
        return kw

    books = payload_table(
        spark, sf_dir, "xls", 1,
        lambda: olebin.with_office_payload(
            df, olebin.build_xls, variant_fn=variant
        ),
    )
    return olebin.extract_office_text_df(books, olebin.parse_xls).select(
        "doc_id", "text"
    )


ORACLE_XLS_EXTRACT = """
SELECT doc_id, trim(text, chr(10)) AS text
FROM (SELECT doc_id,
             translate(
                 replace(replace(text, chr(13) || chr(10), chr(10)),
                         chr(13), chr(10)),
                 chr(0) || chr(1) || chr(2) || chr(3) || chr(4) || chr(5) ||
                       chr(6) || chr(7) || chr(8) || chr(11) || chr(12) || chr(14) ||
                       chr(15) || chr(16) || chr(17) || chr(18) || chr(19) || chr(20) ||
                       chr(21) || chr(22) || chr(23) || chr(24) || chr(25) || chr(26) ||
                       chr(27) || chr(28) || chr(29) || chr(30) || chr(31),
                 '') AS text
      FROM documents
      WHERE length(text) > 0) upload_canon
"""


def q_docx_extract(spark: SparkSession, sf_dir: str) -> DataFrame:
    """OOXML .docx parser round trip, oracle-checked (r6): each
    document becomes a genuine ECMA-376 package
    (``operators/officeparse.build_docx`` — word/document.xml
    paragraphs with preserved tabs), parsed back by the stdlib
    zipfile+etree extractor. Documents whose md5(doc_id) starts 0-4
    additionally carry a REAL footnotes part (including Word's
    separator/continuationSeparator stubs the extractor must skip) and
    a header part; the oracle predicts the documented
    body -> footnote -> header reading order, so stub-skipping and
    part ordering are driver-hash-checked, not just unit-tested.
    r7 rotates two more writer-emission modes in so the reader's
    break/tab paths are hash-proven too: md5 5-7 docs store each
    paragraph's first space as an explicit ``<w:br/>`` (read back as
    a newline), md5 8-a docs carry their second space as a real
    ``<w:tab/>`` run. Shuffle-free mapInPandas both ways — the 100 TB
    codec shape."""
    import hashlib

    from aiotcvectordb_spark.operators import officeparse, olebin

    df = load_wide(spark, sf_dir, "documents").filter(
        F.length("text") > 0
    )

    def variant(i, _t):
        h = hashlib.md5(str(i).encode("utf-8")).hexdigest()[0]
        if h in "01234":
            return {
                "footnote": f"Footnote for {i}",
                "header": f"Header of {i}",
            }
        if h in "567":
            return {"br_first_space": True}
        if h in "89a":
            return {"tabify": True}
        return {}

    def tabify_line(line: str) -> str:
        i = line.find(" ")
        j = line.find(" ", i + 1) if i >= 0 else -1
        return line if j < 0 else line[:j] + "\t" + line[j + 1 :]

    def builder(t, **kw):
        # Canonical form (r7): build from edge-trimmed text, so the
        # builder, the parser (which keeps interior empty paragraphs
        # but edge-strips the final join), and the oracle agree for
        # texts ENDING in newlines too — previously the oracle trimmed
        # the body before appending 'Footnote/Header' while the parser
        # kept the trailing empty paragraph between body and notes.
        t = t.strip("\n")
        if kw.pop("tabify", False):
            t = "\n".join(tabify_line(ln) for ln in t.split("\n"))
        return officeparse.build_docx(t, **kw)

    docs = payload_table(
        spark, sf_dir, "docx", 1,
        lambda: olebin.with_office_payload(
            df, builder, alternate=False, variant_fn=variant
        ),
    )
    return olebin.extract_office_text_df(docs, officeparse.parse_docx).select(
        "doc_id", "text"
    )


ORACLE_DOCX_EXTRACT = """
SELECT doc_id,
       CASE WHEN substr(md5(CAST(doc_id AS VARCHAR)), 1, 1) IN
                 ('0','1','2','3','4')
            THEN trim(trim(text, chr(10)) || chr(10) ||
                 'Footnote for ' || CAST(doc_id AS VARCHAR) || chr(10) ||
                 'Header of ' || CAST(doc_id AS VARCHAR), chr(10))
            WHEN substr(md5(CAST(doc_id AS VARCHAR)), 1, 1) IN
                 ('5','6','7')
            THEN trim(array_to_string(list_transform(
                   string_split(trim(text, chr(10)), chr(10)),
                   l -> regexp_replace(l, ' ', chr(10))), chr(10)), chr(10))
            WHEN substr(md5(CAST(doc_id AS VARCHAR)), 1, 1) IN
                 ('8','9','a')
            THEN array_to_string(list_transform(
                   string_split(trim(text, chr(10)), chr(10)),
                   l -> regexp_replace(l, '^([^ ]* [^ ]*) ', '\\1' || chr(9))),
                 chr(10))
            ELSE trim(text, chr(10)) END AS text
FROM (SELECT doc_id,
             translate(
                 replace(replace(text, chr(13) || chr(10), chr(10)),
                         chr(13), chr(10)),
                 chr(0) || chr(1) || chr(2) || chr(3) || chr(4) || chr(5) ||
                       chr(6) || chr(7) || chr(8) || chr(11) || chr(12) || chr(14) ||
                       chr(15) || chr(16) || chr(17) || chr(18) || chr(19) || chr(20) ||
                       chr(21) || chr(22) || chr(23) || chr(24) || chr(25) || chr(26) ||
                       chr(27) || chr(28) || chr(29) || chr(30) || chr(31),
                 '') AS text
      FROM documents
      WHERE length(text) > 0) upload_canon
"""


def q_pptx_extract(spark: SparkSession, sf_dir: str) -> DataFrame:
    """OOXML .pptx parser round trip, oracle-checked (r6): each
    document becomes a real presentation package
    (``operators/officeparse.build_pptx`` — ppt/slides/slideN.xml with
    <a:p> paragraphs), parsed back slide-by-slide in numeric order.
    r7: documents with md5(doc_id) starting 0-4 carry a real SPEAKER
    NOTES part (ppt/notesSlides/notesSlide1.xml); the extractor
    appends notes after the deck body in the documented slides ->
    notes order, so the notes path — the prose-heavy content a RAG
    upload actually wants from real decks — is driver-hash-proven.
    Shuffle-free mapInPandas both ways."""
    import hashlib

    from aiotcvectordb_spark.operators import officeparse, olebin

    df = load_wide(spark, sf_dir, "documents").filter(
        F.length("text") > 0
    )

    def variant(i, _t):
        if hashlib.md5(str(i).encode("utf-8")).hexdigest()[0] in "01234":
            return {"notes": f"Notes for {i}"}
        return {}

    decks = payload_table(
        spark, sf_dir, "pptx", 1,
        lambda: olebin.with_office_payload(
            df, officeparse.build_pptx, alternate=False, variant_fn=variant
        ),
    )
    return olebin.extract_office_text_df(decks, officeparse.parse_pptx).select(
        "doc_id", "text"
    )


ORACLE_PPTX_EXTRACT = """
SELECT doc_id,
       CASE WHEN substr(md5(CAST(doc_id AS VARCHAR)), 1, 1) IN
                 ('0','1','2','3','4')
            THEN trim(trim(text, chr(10)) || chr(10) || chr(10) ||
                 'Notes for ' || CAST(doc_id AS VARCHAR), chr(10))
            ELSE trim(text, chr(10)) END AS text
FROM (SELECT doc_id,
             translate(
                 replace(replace(text, chr(13) || chr(10), chr(10)),
                         chr(13), chr(10)),
                 chr(0) || chr(1) || chr(2) || chr(3) || chr(4) || chr(5) ||
                       chr(6) || chr(7) || chr(8) || chr(11) || chr(12) || chr(14) ||
                       chr(15) || chr(16) || chr(17) || chr(18) || chr(19) || chr(20) ||
                       chr(21) || chr(22) || chr(23) || chr(24) || chr(25) || chr(26) ||
                       chr(27) || chr(28) || chr(29) || chr(30) || chr(31),
                 '') AS text
      FROM documents
      WHERE length(text) > 0) upload_canon
"""


def q_xlsx_extract(spark: SparkSession, sf_dir: str) -> DataFrame:
    """OOXML .xlsx parser round trip, oracle-checked (r6): each
    document becomes a real workbook package
    (``operators/officeparse.build_xlsx`` — lines as rows, tabs as
    cells, encodings rotating number / inlineStr / sharedStrings so
    all three cell-decode paths run under the oracle), parsed back to
    tab/newline text. r7: documents with md5(doc_id) starting 0-7
    split their first two spaces into row breaks and are written as a
    THREE-worksheet workbook (contiguous row chunks, one shared-string
    table spanning all sheets), so the reader's multi-sheet walk and
    cross-sheet SST indexing are driver-hash-proven. Shuffle-free
    mapInPandas both ways."""
    import hashlib

    from aiotcvectordb_spark.operators import officeparse, olebin

    df = load_wide(spark, sf_dir, "documents").filter(
        F.length("text") > 0
    )

    def variant(i, _t):
        if hashlib.md5(str(i).encode("utf-8")).hexdigest()[0] in "01234567":
            return {"multisheet": True}
        return {}

    def builder(t, **kw):
        if kw.pop("multisheet", False):
            # first two spaces become row breaks -> three rows, one
            # per worksheet (trailing sheets empty for short texts)
            return officeparse.build_xlsx(
                t.replace(" ", "\n", 2), sheets=3, **kw
            )
        return officeparse.build_xlsx(t, **kw)

    books = payload_table(
        spark, sf_dir, "xlsx", 1,
        lambda: olebin.with_office_payload(
            df, builder, alternate=False, variant_fn=variant
        ),
    )
    return olebin.extract_office_text_df(books, officeparse.parse_xlsx).select(
        "doc_id", "text"
    )


ORACLE_XLSX_EXTRACT = """
SELECT doc_id,
       CASE WHEN substr(md5(CAST(doc_id AS VARCHAR)), 1, 1) IN
                 ('0','1','2','3','4','5','6','7')
            THEN trim(regexp_replace(regexp_replace(text, ' ', chr(10)),
                                     ' ', chr(10)), chr(10))
            ELSE trim(text, chr(10)) END AS text
FROM (SELECT doc_id,
             translate(
                 replace(replace(text, chr(13) || chr(10), chr(10)),
                         chr(13), chr(10)),
                 chr(0) || chr(1) || chr(2) || chr(3) || chr(4) || chr(5) ||
                       chr(6) || chr(7) || chr(8) || chr(11) || chr(12) || chr(14) ||
                       chr(15) || chr(16) || chr(17) || chr(18) || chr(19) || chr(20) ||
                       chr(21) || chr(22) || chr(23) || chr(24) || chr(25) || chr(26) ||
                       chr(27) || chr(28) || chr(29) || chr(30) || chr(31),
                 '') AS text
      FROM documents
      WHERE length(text) > 0) upload_canon
"""


def q_rtf_extract(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RTF parser round trip, oracle-checked (r6): each document
    becomes a real RTF token stream (``operators/rtfepub.build_rtf`` —
    escaped braces/backslashes, ``\\uN?`` Unicode escapes, an
    ``{\\info}`` metadata block and a starred ``{\\*\\wgrffmtfilter}``
    ignorable destination in EVERY payload), then the control-word
    walker extracts the text back — so group skipping, escape
    decoding, and destination handling are driver-hash-checked.
    Shuffle-free mapInPandas both ways."""
    from aiotcvectordb_spark.operators import olebin, rtfepub

    df = load_wide(spark, sf_dir, "documents").filter(
        F.length("text") > 0
    )

    import re as _re

    def builder(t):
        # Canonical form (r7): pre-apply the parser's own
        # canonicalization (collapse 3+ newlines, strip edge
        # newline/space) so builder, parser, and oracle agree for ALL
        # texts — the oracle previously predicted only the edge trim,
        # diverging from the parser's interior collapse on texts with
        # blank-line runs.
        c = _re.sub(r"\n{3,}", "\n\n", t).strip("\n ")
        return rtfepub.build_rtf(c).encode("utf-8")

    def parser(b):
        return rtfepub.parse_rtf(bytes(b).decode("utf-8", "replace"))

    docs = payload_table(
        spark, sf_dir, "rtf", 1,
        lambda: olebin.with_office_payload(df, builder, alternate=False),
    )
    return olebin.extract_office_text_df(docs, parser).select(
        "doc_id", "text"
    )


ORACLE_RTF_EXTRACT = r"""
SELECT doc_id,
       trim(regexp_replace(text, '\n{3,}', chr(10) || chr(10), 'g'),
            chr(10) || ' ') AS text
FROM (SELECT doc_id,
             translate(
                 replace(replace(text, chr(13) || chr(10), chr(10)),
                         chr(13), chr(10)),
                 chr(0) || chr(1) || chr(2) || chr(3) || chr(4) || chr(5) ||
                       chr(6) || chr(7) || chr(8) || chr(11) || chr(12) || chr(14) ||
                       chr(15) || chr(16) || chr(17) || chr(18) || chr(19) || chr(20) ||
                       chr(21) || chr(22) || chr(23) || chr(24) || chr(25) || chr(26) ||
                       chr(27) || chr(28) || chr(29) || chr(30) || chr(31),
                 '') AS text
      FROM documents
      WHERE length(text) > 0) upload_canon
"""


def q_epub_extract(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EPUB parser round trip, oracle-checked (r6): each document
    becomes a real OCF/OPF package (``operators/rtfepub.build_epub`` —
    container.xml, manifest + spine, XHTML chapters), then the spine
    walk + HTML tag-stripper extract the text back. Shuffle-free
    mapInPandas both ways."""
    from aiotcvectordb_spark.operators import olebin, rtfepub

    df = load_wide(spark, sf_dir, "documents").filter(
        F.length("text") > 0
    )

    import re as _re

    def builder(t):
        # Canonical form (r7): pre-apply the HTML stripper's own
        # whitespace canonicalization (space/tab runs collapse to one
        # space, per-line edge trim, empty lines dropped) so builder,
        # parser, and oracle agree for ALL text shapes — not just the
        # single-spaced corpus the driver hashes.
        lines = (
            _re.sub(r"[ \t]+", " ", ln).strip(" ") for ln in t.split("\n")
        )
        return rtfepub.build_epub("\n".join(ln for ln in lines if ln))

    docs = payload_table(
        spark, sf_dir, "epub", 1,
        lambda: olebin.with_office_payload(df, builder, alternate=False),
    )
    return olebin.extract_office_text_df(docs, rtfepub.parse_epub).select(
        "doc_id", "text"
    )


ORACLE_EPUB_EXTRACT = """
SELECT doc_id,
       COALESCE(array_to_string(
         list_filter(
           list_transform(string_split(text, chr(10)),
             l -> trim(regexp_replace(l, '[ ' || chr(9) || ']+', ' ', 'g'),
                       ' ')),
           x -> x <> ''),
         chr(10)), '') AS text
FROM (SELECT doc_id,
             translate(
                 replace(replace(text, chr(13) || chr(10), chr(10)),
                         chr(13), chr(10)),
                 chr(0) || chr(1) || chr(2) || chr(3) || chr(4) || chr(5) ||
                       chr(6) || chr(7) || chr(8) || chr(11) || chr(12) || chr(14) ||
                       chr(15) || chr(16) || chr(17) || chr(18) || chr(19) || chr(20) ||
                       chr(21) || chr(22) || chr(23) || chr(24) || chr(25) || chr(26) ||
                       chr(27) || chr(28) || chr(29) || chr(30) || chr(31),
                 '') AS text
      FROM documents
      WHERE length(text) > 0) upload_canon
"""


def q_ann_pq_cosine(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Product-quantized kNN (operators/pq.py): 32x-compressed codes
    scored with an ADC lookup table, then exact cosine rescore of the
    survivors — the compressed-domain 100 TB path where even streaming
    the raw float vectors is the bottleneck. Codebooks train on a
    BOUNDED driver-side sample (deterministic seeded Lloyd's); encode
    and search stay distributed. Rows-only (k-means codebooks have no
    SQL oracle); recall vs exact FLAT asserted in tests/test_pq.py."""
    from aiotcvectordb_spark.operators import pq

    emb = load(spark, sf_dir, "embeddings")
    model = pq.train_pq(emb, m=8, nbits=5)
    codes = pq.encode_pq(emb, model)
    return pq.search_pq(
        codes, model, [qvec(1.0), qvec(-1.0)], k=10,
        rescore=emb, rescore_k=60, round_digits=ROUND_DIGITS,
    )


_SBT_QUERY_TEXT = "spark join window aggregation data"


def _hash_embed_feats(tok_col: str, dim: int):
    """(bucket, sign) Catalyst expressions of the deterministic hash
    embedder (functions/embedding._embed_one): bucket = big-endian
    first-4-md5-bytes mod dim, sign = +1/-1 from bit 0 of md5 byte 4.
    Pure JVM expressions (md5/conv/substring) — whole-stage codegen,
    no Python in the loop."""
    md5 = F.md5(F.col(tok_col))
    bucket = F.pmod(
        F.conv(F.substring(md5, 1, 8), 16, 10).cast("bigint"), F.lit(dim)
    )
    sign = F.when(
        F.conv(F.substring(md5, 9, 2), 16, 10).cast("int") % 2 == 1,
        F.lit(1.0),
    ).otherwise(F.lit(-1.0))
    return bucket, sign


def _sbt_tokens_sql(col: str) -> str:
    """Spark SQL token array matching functions/embedding._tokens —
    the dense hash embedder's tokenizer — including its CJK lane (r9):
    lower → split on non-(letter|digit) runs (``[^\\p{L}\\p{N}]+``, the
    Java-property twin of Python's ``[\\W_]+`` under re.UNICODE), then
    each token's CJK runs become overlapping character bigrams (single
    CJK char stays itself) while non-CJK spans pass through whole.
    Pure-ASCII documents take a plain-split fast path gated on a
    one-regex ASCII test — identical output (ASCII alnum ⊂ \\p{L}\\p{N}),
    one cheap pass instead of the per-token re-segmentation."""
    cjk = sparse_fn.CJK_RANGES
    seg = (
        f"CASE WHEN s rlike '^[{cjk}]' "
        "THEN transform(sequence(1, greatest(length(s) - 1, 1)), "
        "i -> substring(s, i, 2)) ELSE array(s) END"
    )
    full = (
        "flatten(transform("
        f"filter(split(lower({col}), '[^\\\\p{{L}}\\\\p{{N}}]+'), "
        "t -> t != ''), "
        f"t -> flatten(transform("
        f"regexp_extract_all(t, '[{cjk}]+|[^{cjk}]+', 0), s -> {seg}))))"
    )
    fast = f"filter(split(lower({col}), '[\\\\W_]+'), t -> t != '')"
    return (
        f"CASE WHEN {col} rlike '[^\\\\x00-\\\\x7F]' THEN {full} "
        f"ELSE {fast} END"
    )


def _hash_embed_sparse(df: DataFrame, id_col: str, text_col: str, dim: int):
    """(dvec, dnorm): per-id signed bucket counts and L2 norms of the
    hash embedding — the SPARSE form of embed_udf's dense vectors
    (equality with functions/embedding._embed_one is pinned in
    tests/test_search_text_fulltext_hybrid.py, ASCII and CJK). One
    explode + one (id, bucket) aggregate; both shuffles are keyed by
    the data. r9: tokenizes through _sbt_tokens_sql, which carries the
    dense embedder's CJK-bigram lane — previously the Java-ASCII
    ``\\W`` split silently dropped every CJK token."""
    toks = df.select(
        F.col(id_col),
        F.explode_outer(F.expr(_sbt_tokens_sql(text_col))).alias("tok"),
    ).filter(F.col("tok") != "")
    bucket, sign = _hash_embed_feats("tok", dim)
    dvec = (
        toks.select(id_col, bucket.alias("bucket"), sign.alias("sign"))
        .groupBy(id_col, "bucket")
        .agg(F.sum("sign").alias("dv"))
    )
    dnorm = dvec.groupBy(id_col).agg(
        F.sqrt(F.sum(F.col("dv") * F.col("dv"))).alias("dn")
    )
    return dvec, dnorm


def q_search_by_text(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Op 30 (reference collection.py:263-314, search_by_text): the
    engine embeds the query text server-side and runs kNN against the
    collection's embedded documents (ai-mode). ORACLED as of r8: the
    deterministic hash embedder is expressed as Catalyst SQL
    (md5-bucket folding — the dsir_weights featurizer pattern), so
    DuckDB independently re-derives BOTH the document vectors and the
    query vector from raw text and the driver hash check covers the
    embedder itself, not just the kNN. Cosine over the sparse signed
    bucket counts equals cosine of embed_udf's dense vectors (same
    hash, same signs; parity with the pandas-UDF path pinned in
    pytest). r9: the SQL tokenizer carries the dense embedder's CJK
    lane (unicode word split + CJK character bigrams, both twins —
    _sbt_tokens_sql / _sbt_duck_tokens_sql), so CJK corpora — the
    reference encoder's home turf — embed identically to
    functions/embedding._embed_one instead of silently dropping every
    CJK token to the Java-ASCII \\W split. Scale shape: explode →
    (doc, bucket) aggregate → ≤dim-row broadcast of the query vector →
    per-doc dot/norm → global top-10 via TakeOrderedAndProject (never
    a full sort)."""
    docs = load(spark, sf_dir, "documents")
    dvec, dnorm = _hash_embed_sparse(docs, "doc_id", "text", DIM)
    qdf = spark.createDataFrame([(0, _SBT_QUERY_TEXT)], "qid int, text string")
    qvec_df, qnorm_df = _hash_embed_sparse(qdf, "qid", "text", DIM)
    qn = F.broadcast(qnorm_df.select(F.col("dn").alias("qn")))
    dot = (
        dvec.join(F.broadcast(qvec_df.select("bucket", F.col("dv").alias("qv"))), "bucket")
        .groupBy("doc_id")
        .agg(F.sum(F.col("dv") * F.col("qv")).alias("dp"))
    )
    scored = (
        dnorm.join(dot, "doc_id", "left")
        .crossJoin(qn)
        .select(
            "doc_id",
            F.round(
                F.coalesce(F.col("dp"), F.lit(0.0))
                / F.greatest(F.col("dn") * F.col("qn"), F.lit(1e-12)),
                ROUND_DIGITS,
            ).alias("score"),
        )
    )
    top = scored.orderBy(F.col("score").desc(), "doc_id").limit(10)
    w = Window.orderBy(F.col("score").desc(), "doc_id")
    return top.select(
        "doc_id", "score", F.row_number().over(w).cast("int").alias("rank")
    )


def _sbt_duck_tokens_sql(col: str) -> str:
    """DuckDB (RE2) twin of _sbt_tokens_sql: same unicode word split
    (``[^\\p{{L}}\\p{{N}}]+`` — RE2 property classes), same CJK-bigram
    re-segmentation, same ASCII fast path."""
    cjk = sparse_fn.CJK_RANGES
    seg = (
        f"CASE WHEN regexp_matches(s, '^[{cjk}]') "
        "THEN list_transform(range(1, greatest(length(s), 2)), "
        "i -> substr(s, i, 2)) ELSE [s] END"
    )
    full = (
        "flatten(list_transform("
        f"list_filter(regexp_split_to_array(lower({col}), "
        "'[^\\p{L}\\p{N}]+'), t -> t <> ''), "
        "t -> flatten(list_transform("
        f"regexp_extract_all(t, '[{cjk}]+|[^{cjk}]+'), s -> {seg}))))"
    )
    fast = (
        f"list_filter(regexp_split_to_array(lower({col}), '[\\W_]+'), "
        "t -> t <> '')"
    )
    return (
        f"CASE WHEN regexp_matches({col}, '[^\\x00-\\x7f]') THEN {full} "
        f"ELSE {fast} END"
    )


def _sbt_embed_cte(src: str, id_col: str) -> str:
    """DuckDB twin of _hash_embed_sparse over ``src`` (id_col, text) —
    CJK-bigram lane included (r9), matching _sbt_tokens_sql."""
    return f"""
  SELECT {id_col},
         CAST(('0x' || substr(md5(tok), 1, 8)) AS BIGINT) % {DIM} AS bucket,
         SUM(CASE WHEN CAST(('0x' || substr(md5(tok), 9, 2)) AS BIGINT) % 2 = 1
                  THEN 1.0 ELSE -1.0 END) AS dv
  FROM (SELECT {id_col},
               unnest({_sbt_duck_tokens_sql('text')}) AS tok
        FROM {src}) t
  WHERE tok != ''
  GROUP BY {id_col}, CAST(('0x' || substr(md5(tok), 1, 8)) AS BIGINT) % {DIM}
"""


ORACLE_SEARCH_BY_TEXT = f"""
WITH dvec AS ({_sbt_embed_cte("documents", "doc_id")}),
dnorm AS (SELECT doc_id, sqrt(SUM(dv * dv)) AS dn FROM dvec GROUP BY doc_id),
qsrc(qid, text) AS (VALUES (0, '{_SBT_QUERY_TEXT}')),
qvec AS ({_sbt_embed_cte("qsrc", "qid")}),
qnorm AS (SELECT sqrt(SUM(dv * dv)) AS qn FROM qvec),
dot AS (
  SELECT d.doc_id, SUM(d.dv * q.dv) AS dp
  FROM dvec d JOIN qvec q USING (bucket) GROUP BY d.doc_id
),
scored AS (
  SELECT n.doc_id,
         round(COALESCE(dot.dp, 0) /
               GREATEST(n.dn * (SELECT qn FROM qnorm), 1e-12),
               {ROUND_DIGITS}) AS score
  FROM dnorm n LEFT JOIN dot USING (doc_id)
)
SELECT doc_id, score,
       CAST(row_number() OVER (ORDER BY score DESC, doc_id) AS INT) AS rank
FROM scored
ORDER BY score DESC, doc_id
LIMIT 10
"""


def q_ann_ivf_cosine(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF approximate kNN (reference index type IVF, nprobe knob,
    stub.py:609-612): KMeans(nlist=16) centroids, probe the 4 nearest
    cells, exact cosine rerank inside them. No SQL oracle (iterative
    KMeans); recall vs exact FLAT is asserted in pytest."""
    from pyspark.ml.clustering import KMeans
    from pyspark.ml.functions import array_to_vector

    # no widening here: the KMeans fit runs ~maxIter jobs, and on a tiny
    # table 32-task scheduling overhead per iteration dominates; the
    # exact rerank below is the only scan-heavy stage.
    # COSINE metric -> cluster the UNIT-normalized vectors (spherical
    # k-means approximation): L2 on unit vectors is monotone in cosine.
    df = load(spark, sf_dir, "embeddings")
    unit = (
        "transform(embedding, x -> cast(x as double) / "
        "greatest(sqrt(aggregate(transform(embedding, v -> cast(v as double) * cast(v as double)), "
        "cast(0 as double), (a, b) -> a + b)), cast(1e-12 as double)))"
    )
    ml_df = df.withColumn("__features", array_to_vector(F.expr(unit)))
    model = KMeans(
        k=16, seed=42, maxIter=8, featuresCol="__features", predictionCol="cluster_id"
    ).fit(ml_df)
    clustered = model.transform(ml_df).drop("__features")

    import numpy as np

    q = np.asarray(qvec(1.0), dtype=np.float64)
    q = q / np.linalg.norm(q)
    cents = np.asarray(
        [c for c in model.clusterCenters()], dtype=np.float64
    )
    d = ((cents - q) ** 2).sum(axis=1)
    probe = [int(i) for i in np.argsort(d)[:8]]
    pruned = clustered.filter(F.col("cluster_id").isin(probe))
    return knn.knn_search(
        pruned,
        [qvec(1.0)],
        vector_col="embedding",
        id_col="vec_id",
        metric="COSINE",
        limit=10,
        round_digits=ROUND_DIGITS,
    ).select("query_idx", "vec_id", "score", "rank")


def q_ann_ivf_fullprobe(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF driven to its exact limit: ``nprobe = nlist``, so cell
    pruning removes nothing and the result must be BIT-IDENTICAL to
    flat exact kNN — shares ORACLE_SEARCH_FLAT_COSINE verbatim. This
    hash-proves the IVF *machinery* (cluster assignment, probe set,
    cell-pruned rescan, exact rerank): any row lost or rescored wrong
    by the plumbing breaks the hash. Centroid quality is irrelevant at
    full probe, so the fit is a cheap 2-iteration KMeans(k=8)."""
    from pyspark.ml.clustering import KMeans
    from pyspark.ml.functions import array_to_vector

    df = load(spark, sf_dir, "embeddings")
    ml_df = df.withColumn(
        "__features",
        array_to_vector(F.col("embedding").cast("array<double>")),
    )
    model = KMeans(
        k=8, seed=42, maxIter=2,
        featuresCol="__features", predictionCol="cluster_id",
    ).fit(ml_df)
    clustered = model.transform(ml_df).drop("__features")
    # nprobe = nlist: probe EVERY cell. The isin predicate is the same
    # pruning expression the partial-probe path uses — here it must be
    # a no-op filter, which is exactly what the shared oracle checks.
    all_cells = list(range(8))
    pruned = clustered.filter(F.col("cluster_id").isin(all_cells))
    return knn.knn_search(
        pruned,
        FLAGSHIP_VECTORS,
        vector_col="embedding",
        id_col="vec_id",
        metric="COSINE",
        limit=10,
        filter="label IN (1, 2)",
        output_fields=["label"],
        round_digits=ROUND_DIGITS,
    ).select("query_idx", "vec_id", "score", "rank", "label")


def q_ann_pq_fullrescore(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PQ driven to its exact limit: ``rescore_k = |filtered corpus|``,
    so the ADC candidate stage cannot drop a true neighbor and the
    exact-cosine rescore ranks every row — the result must be
    BIT-IDENTICAL to flat exact kNN (shares ORACLE_SEARCH_FLAT_COSINE
    verbatim). Hash-proves the PQ plumbing end-to-end: train → encode →
    broadcast-LUT ADC → bounded shuffle → exact rescore. The label
    filter runs BEFORE encoding (filtered ANN = prefilter + index scan,
    reference stub.py:609 filter param)."""
    from aiotcvectordb_spark.operators import pq

    emb = load(spark, sf_dir, "embeddings")
    flt = emb.filter("label IN (1, 2)")
    n = flt.count()
    model = pq.train_pq(flt, m=8, nbits=4)
    codes = pq.encode_pq(flt, model)
    hits = pq.search_pq(
        codes, model, FLAGSHIP_VECTORS, k=10,
        rescore=flt, rescore_k=n, round_digits=ROUND_DIGITS,
    )
    # project label back on: broadcast the TINY result side (queries x k
    # rows) against the big table — one scan, no shuffle of emb
    return (
        emb.select("vec_id", "label")
        .join(F.broadcast(hits), "vec_id")
        .select("query_idx", "vec_id", "score", "rank", "label")
    )


def q_ann_lsh_l2(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Approximate kNN via MLlib LSH (HNSW stand-in). No SQL oracle
    (randomized hash planes); recall vs exact is asserted in pytest."""
    from aiotcvectordb_spark.operators import ann

    df = load(spark, sf_dir, "embeddings")
    return ann.lsh_search(
        df,
        [qvec(1.0)],
        vector_col="embedding",
        id_col="vec_id",
        limit=10,
    ).select("query_idx", "vec_id", "score", "rank")


def q_ann_lsh_l2_fixed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LSH bucket-prune ANN with FROZEN projection planes, ORACLED
    (r11) — completes the index-family witness set: every quantized /
    hashed index's candidate-selection machinery now has a driver-hash
    row (BQ/SQ8 r9, IVF r10, PQ r11, LSH here; the MLlib
    ``ann_lsh_l2`` lane stays recall-tested, its planes are engine
    RNG). Datar-et-al bucketed random projections: bucket_t(v) =
    floor(round(v · p_t, ROUND_DIGITS) / L) over four fixed tables
    (``operators/lsh_frozen.py``), OR-amplified as a UNION of four
    bucket equi-joins (keyed broadcast joins, never a nested-loop),
    candidate dedup, exact-L2 rescore of the bucket union, top-10.
    Rounding BEFORE floor pins bucket boundaries cross-engine; the
    hash covers rows every table legitimately drops (L=3.0 — the
    ``FROZEN_LSH_BUCKET_LEN`` in ``lsh_frozen.py`` — prunes ~25-50%
    of the fixture corpus per query; recall vs exact pinned in
    tests/test_ann.py).

    Scale shape: bucket ids are scan-projection folds (the index
    build — stored bucket-partitioned at serving scale); query-time
    work is Q x T one-row broadcast joins, a (query, vec) distinct,
    and the exact rescore of only the bucket-union candidates."""
    from aiotcvectordb_spark.functions.vector import l2_score
    from aiotcvectordb_spark.operators.lsh_frozen import (
        FROZEN_LSH_BUCKET_LEN,
        FROZEN_LSH_PLANES,
        FROZEN_LSH_TABLES,
    )

    def _bucket_expr(vcol: str, plane: list[float]) -> str:
        lits = ", ".join(f"{v:.17e}" for v in plane)
        return (
            f"cast(floor(round(aggregate(zip_with(transform({vcol}, "
            f"x -> cast(x as double)), array({lits}), (x, y) -> x * y), "
            f"0D, (a, v) -> a + v), {ROUND_DIGITS}) / "
            f"{FROZEN_LSH_BUCKET_LEN!r}D) as long)"
        )

    emb = load(spark, sf_dir, "embeddings").select("vec_id", "embedding")
    for t, plane in enumerate(FROZEN_LSH_PLANES):
        emb = emb.withColumn(f"__b{t}", F.expr(_bucket_expr("embedding", plane)))
    qdf = spark.createDataFrame(
        list(enumerate(FLAGSHIP_VECTORS)), "query_idx int, qv array<double>"
    )
    for t, plane in enumerate(FROZEN_LSH_PLANES):
        qdf = qdf.withColumn(f"__qb{t}", F.expr(_bucket_expr("qv", plane)))

    cand = None
    for t in range(FROZEN_LSH_TABLES):
        side = qdf.select(
            "query_idx", "qv", F.col(f"__qb{t}").alias(f"__b{t}")
        )
        hit = emb.join(F.broadcast(side), f"__b{t}").select(
            "query_idx", "qv", "vec_id", "embedding"
        )
        cand = hit if cand is None else cand.unionByName(hit)
    cand = cand.dropDuplicates(["query_idx", "vec_id"])

    w = Window.partitionBy("query_idx").orderBy(
        F.col("score").asc(), F.col("vec_id").asc()
    )
    return (
        cand.withColumn(
            "score", F.round(l2_score("embedding", "qv"), ROUND_DIGITS)
        )
        .withColumn("rank", F.row_number().over(w).cast("int"))
        .filter("rank <= 10")
        .select("query_idx", "vec_id", "score", "rank")
    )


def _lsh_fixed_oracle() -> str:
    from aiotcvectordb_spark.operators.lsh_frozen import (
        FROZEN_LSH_BUCKET_LEN,
        FROZEN_LSH_PLANES,
        FROZEN_LSH_TABLES,
    )

    plane_rows = ", ".join(
        f"({t}, {_sql_vec(p)})" for t, p in enumerate(FROZEN_LSH_PLANES)
    )
    bucket = (
        "CAST(floor(round(list_dot_product({v}, p.pvec), "
        f"{ROUND_DIGITS}) / {FROZEN_LSH_BUCKET_LEN!r}) AS BIGINT)"
    )
    return f"""
WITH planes(tbl, pvec) AS (VALUES {plane_rows}),
{_sql_queries_cte(FLAGSHIP_VECTORS)},
eb AS (
  SELECT e.vec_id, p.tbl,
         {bucket.format(v="CAST(e.embedding AS DOUBLE[])")} AS b
  FROM embeddings e CROSS JOIN planes p
),
qb AS (
  SELECT q.query_idx, p.tbl, {bucket.format(v="q.qv")} AS b
  FROM queries q CROSS JOIN planes p
),
cand AS (
  SELECT DISTINCT qb.query_idx, eb.vec_id
  FROM eb JOIN qb ON eb.tbl = qb.tbl AND eb.b = qb.b
),
rescored AS (
  SELECT c.query_idx, c.vec_id,
         round({_L2_SQL}, {ROUND_DIGITS}) AS score
  FROM cand c
  JOIN embeddings e ON e.vec_id = c.vec_id
  JOIN queries q ON q.query_idx = c.query_idx
)
SELECT query_idx, vec_id, score, CAST(rank AS INT) AS rank FROM (
  SELECT r.*, row_number() OVER (PARTITION BY query_idx
                                 ORDER BY score ASC, vec_id ASC) AS rank
  FROM rescored r
) WHERE rank <= 10
"""


ORACLE_ANN_LSH_L2_FIXED = _lsh_fixed_oracle()
