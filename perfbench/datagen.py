"""Seeded inputs for every workload.

The shapes follow the repository's synthetic test tables: ``documents``
is (doc_id, text, lang, source, n_chars) with 10-100 tokens drawn from a
30-word vocabulary and ~5% near-duplicates (an earlier text plus the
token ``dup``); ``embeddings`` is (vec_id, embedding float[64], label)
with unit-norm Gaussian vectors and labels 0-9. Everything is a pure
function of the seed, so one seed always yields the same inputs.
"""

from __future__ import annotations

import numpy as np

DIM = 64
N_LABELS = 10
VOCAB = (
    "spark window merge table column vector stream value data small join "
    "filter big group hash customer sort order slow line part fast row the "
    "agg key query a scan batch"
).split()
LANGS = ["en", "de", "es", "fr", "zh"]
LANG_P = [0.41, 0.1475, 0.1475, 0.1475, 0.1475]
DUP_SHARE = 0.05


def rng_for(seed: int, stream: str) -> np.random.Generator:
    """Independent generator per named stream, so adding draws to one
    stream never shifts another."""
    return np.random.default_rng([seed, *stream.encode()])


def unit_vectors(rng: np.random.Generator, n: int, dim: int = DIM) -> np.ndarray:
    v = rng.standard_normal((n, dim))
    return v / np.linalg.norm(v, axis=1, keepdims=True)


def texts(rng: np.random.Generator, n: int) -> list[str]:
    out = [
        " ".join(rng.choice(VOCAB, int(rng.integers(10, 101))))
        for _ in range(n)
    ]
    n_dup = int(n * DUP_SHARE)
    for i in rng.choice(n, n_dup, replace=False):
        out[i] = out[int(rng.integers(0, n))] + " dup"
    return out


def query_text(rng: np.random.Generator) -> str:
    return " ".join(rng.choice(VOCAB, int(rng.integers(2, 5)), replace=False))


def documents(seed: int, n: int) -> dict[str, list]:
    rng = rng_for(seed, "documents")
    t = texts(rng, n)
    return {
        "doc_id": list(range(n)),
        "text": t,
        "lang": list(rng.choice(LANGS, n, p=LANG_P)),
        "source": [f"src{i % 20}" for i in range(n)],
        "n_chars": [len(s) for s in t],
    }


def embeddings(seed: int, n: int) -> dict[str, list]:
    rng = rng_for(seed, "embeddings")
    v = unit_vectors(rng, n).astype(np.float32)
    return {
        "vec_id": list(range(n)),
        "embedding": list(v),
        "label": rng.integers(0, N_LABELS, n).astype(np.int32).tolist(),
    }


def write_tables(seed: int, n_docs: int, n_emb: int, out_dir: str) -> None:
    """Write ``documents.parquet`` and ``embeddings.parquet`` the way the
    registry queries read them (``<dir>/<table>.parquet``)."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    d = documents(seed, n_docs)
    pq.write_table(
        pa.table(
            {
                "doc_id": pa.array(d["doc_id"], pa.int64()),
                "text": pa.array(d["text"], pa.string()),
                "lang": pa.array([str(x) for x in d["lang"]], pa.string()),
                "source": pa.array(d["source"], pa.string()),
                "n_chars": pa.array(d["n_chars"], pa.int64()),
            }
        ),
        f"{out_dir}/documents.parquet",
    )
    e = embeddings(seed, n_emb)
    pq.write_table(
        pa.table(
            {
                "vec_id": pa.array(e["vec_id"], pa.int64()),
                "embedding": pa.array(
                    [x.tolist() for x in e["embedding"]], pa.list_(pa.float32())
                ),
                "label": pa.array(e["label"], pa.int32()),
            }
        ),
        f"{out_dir}/embeddings.parquet",
    )
