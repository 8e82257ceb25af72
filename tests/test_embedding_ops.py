"""MMR diversified rerank + PCA reduction (operators/embeddings.py)."""

from __future__ import annotations

import numpy as np
import pytest

from tests.conftest import SF_DIR


@pytest.fixture(scope="module")
def emb(spark):
    return spark.read.parquet(f"{SF_DIR}/embeddings.parquet")


def _qvec(seed: float, dim: int = 64) -> list[float]:
    import math

    return [round(math.sin(0.1 * i + seed), 6) for i in range(dim)]


class TestMMR:
    def test_deterministic_and_top1_matches_knn(self, emb):
        from aiotcvectordb_spark.operators import embeddings as E
        from aiotcvectordb_spark.operators import knn

        vecs = [_qvec(1.0), _qvec(2.0)]
        r1 = E.mmr_rerank(
            emb, vecs, vector_col="embedding", id_col="vec_id",
            fetch_k=30, limit=8, lambda_mult=0.5, round_digits=6,
        ).collect()
        r2 = E.mmr_rerank(
            emb, vecs, vector_col="embedding", id_col="vec_id",
            fetch_k=30, limit=8, lambda_mult=0.5, round_digits=6,
        ).collect()
        key = lambda r: (r.query_idx, r.mmr_rank)  # noqa: E731
        assert sorted(map(tuple, r1)) == sorted(map(tuple, r2))
        assert len(r1) == 16  # 2 queries x 8

        top = knn.knn_search(
            emb, vecs, vector_col="embedding", id_col="vec_id",
            limit=1, round_digits=6,
        ).collect()
        knn_top1 = {r.query_idx: r.vec_id for r in top}
        mmr_top1 = {r.query_idx: r.vec_id for r in r1 if r.mmr_rank == 1}
        assert mmr_top1 == knn_top1  # MMR's first pick is pure relevance

    def test_lambda_one_is_plain_topk(self, emb):
        from aiotcvectordb_spark.operators import embeddings as E
        from aiotcvectordb_spark.operators import knn

        vecs = [_qvec(0.5)]
        mmr = E.mmr_rerank(
            emb, vecs, vector_col="embedding", id_col="vec_id",
            fetch_k=25, limit=10, lambda_mult=1.0, round_digits=6,
        ).collect()
        plain = knn.knn_search(
            emb, vecs, vector_col="embedding", id_col="vec_id",
            limit=10, round_digits=6,
        ).collect()
        assert [r.vec_id for r in sorted(mmr, key=lambda r: r.mmr_rank)] == [
            r.vec_id for r in sorted(plain, key=lambda r: r.rank)
        ]

    def test_diversity_not_worse_than_plain_topk(self, emb):
        from aiotcvectordb_spark.operators import embeddings as E
        from aiotcvectordb_spark.operators import knn

        vecs = [_qvec(1.0)]
        by_vec = {
            r.vec_id: np.array(r.embedding, dtype=np.float64)
            for r in emb.select("vec_id", "embedding").collect()
        }

        def mean_pairwise_cos(ids):
            m = np.stack([by_vec[i] for i in ids])
            m = m / np.linalg.norm(m, axis=1, keepdims=True)
            s = m @ m.T
            n = len(ids)
            return (s.sum() - n) / (n * (n - 1))

        mmr = E.mmr_rerank(
            emb, vecs, vector_col="embedding", id_col="vec_id",
            fetch_k=40, limit=10, lambda_mult=0.3, round_digits=6,
        ).collect()
        plain = knn.knn_search(
            emb, vecs, vector_col="embedding", id_col="vec_id",
            limit=10, round_digits=6,
        ).collect()
        d_mmr = mean_pairwise_cos([r.vec_id for r in mmr])
        d_plain = mean_pairwise_cos([r.vec_id for r in plain])
        assert d_mmr <= d_plain + 1e-9

    def test_validation(self, emb):
        from aiotcvectordb_spark.operators import embeddings as E

        with pytest.raises(ValueError):
            E.mmr_rerank(emb, [_qvec(1.0)], vector_col="embedding",
                         id_col="vec_id", fetch_k=5, limit=10)
        with pytest.raises(ValueError):
            E.mmr_rerank(emb, [_qvec(1.0)], vector_col="embedding",
                         id_col="vec_id", lambda_mult=1.5)


class TestPCA:
    def test_shapes_variance_and_norm_contraction(self, emb):
        from aiotcvectordb_spark.operators import embeddings as E

        red8, ev8 = E.pca_fit_transform(
            emb, vector_col="embedding", id_col="vec_id", k=8
        )
        rows = red8.collect()
        assert len(rows) == emb.count()
        assert all(len(r.reduced) == 8 for r in rows[:5])
        # explained variance fractions: descending, in (0, 1], sum <= 1
        assert all(a >= b - 1e-12 for a, b in zip(ev8, ev8[1:]))
        assert 0 < sum(ev8) <= 1 + 1e-9
        # projection onto an orthonormal basis never grows the norm
        orig = {
            r.vec_id: np.linalg.norm(np.array(r.embedding, dtype=np.float64))
            for r in emb.select("vec_id", "embedding").collect()
        }
        for r in rows[:50]:
            assert np.linalg.norm(r.reduced) <= orig[r.vec_id] + 1e-6

    def test_more_components_capture_more_variance(self, emb):
        from aiotcvectordb_spark.operators import embeddings as E

        _, ev4 = E.pca_fit_transform(
            emb, vector_col="embedding", id_col="vec_id", k=4
        )
        _, ev16 = E.pca_fit_transform(
            emb, vector_col="embedding", id_col="vec_id", k=16
        )
        assert sum(ev16) >= sum(ev4) - 1e-12


def test_mmr_rerank_string_primary_keys(spark):
    """Collections use STRING primary keys (reference data model,
    FIXTURES F1/F2); mmr_rerank must derive the id output type from the
    input schema instead of assuming long (ADVICE r02)."""
    from aiotcvectordb_spark.operators import embeddings as E

    rows = [
        (f"doc-{i:02d}", [1.0 + (0.1 * i if j == i % 8 else 0.01 * j) for j in range(8)])
        for i in range(20)
    ]
    df = spark.createDataFrame(rows, "id string, vector array<float>")
    out = E.mmr_rerank(
        df, [[1.0] * 8], vector_col="vector", id_col="id",
        fetch_k=10, limit=5,
    ).collect()
    assert len(out) == 5
    assert all(isinstance(r.id, str) and r.id.startswith("doc-") for r in out)
    assert [r.mmr_rank for r in out] == [1, 2, 3, 4, 5]


def test_semantic_dedup_keeps_least_centroid_similar(spark, tmp_path):
    """SemDeDup semantics on a constructed corpus: scaled copies are a
    semantic group (cosine exactly 1); the keeper is the member LEAST
    similar to the cell centroid (the published keep rule), with vec_id
    as the tie-break; unrelated directions survive untouched."""
    from aiotcvectordb_spark import queries as Q

    a = np.array(Q.qvec(10.0))          # == centroid 0 direction
    other = np.array(Q.qvec(13.5))
    e = 0.9 * a + 0.1 * other           # same group, lower centroid cos
    rows = [
        (1, [float(x) for x in a]),
        (2, [float(x) for x in 2.0 * a]),    # scaled copy: cos == 1
        (3, [float(x) for x in 0.5 * a]),    # scaled copy: cos == 1
        (4, [float(x) for x in e]),
        (5, [float(x) for x in np.array(Q.qvec(14.0))]),  # unrelated
    ]
    spark.createDataFrame(
        rows, "vec_id long, embedding array<float>"
    ).write.parquet(str(tmp_path / "embeddings.parquet"))
    out = {
        r.vec_id: r
        for r in Q.QUERIES["semantic_dedup"](spark, str(tmp_path)).collect()
    }
    assert len(out) == 5
    # 1, 2, 3 tie at ccos == 1.0; 4 sits lower -> 4 is the keeper and
    # dominates the whole group (cos(e, a) >> tau)
    group_cell = out[1].cell
    assert all(out[i].cell == group_cell for i in (2, 3, 4))
    assert out[4].ccos < out[1].ccos
    assert out[4].semantic_dup is False
    assert all(out[i].semantic_dup is True for i in (1, 2, 3))
    # the unrelated direction survives (different cell or below tau)
    assert out[5].semantic_dup is False


def test_semantic_dedup_trained_path_matches_keep_semantics(spark, tmp_path):
    """The scale path (trained cells + per-cell BLAS prune) enforces
    the same keep rule as the oracled plan: one keeper per group of
    scaled copies, keeper = least centroid-similar (ccos ASC, vec_id
    ASC), flags deterministic across runs."""
    from aiotcvectordb_spark import queries as Q
    from aiotcvectordb_spark.qfam.textdedup import _semantic_dedup_trained

    rng = np.random.default_rng(3)
    rows = []
    vid = 0
    # 40 groups of 3 scaled copies + 80 singletons
    for g in range(40):
        base = rng.normal(size=Q.DIM)
        for s in (1.0, 2.0, 0.5):
            rows.append((vid, [float(x) for x in s * base])); vid += 1
    for _ in range(80):
        rows.append(
            (vid, [float(x) for x in rng.normal(size=Q.DIM)])
        ); vid += 1
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    out = _semantic_dedup_trained(spark, emb, nlist=4)
    flags = {r.vec_id: r for r in out.collect()}
    assert len(flags) == len(rows)
    # every scaled-copy group collapses to exactly one keeper (copies
    # share a cell: identical directions -> identical argmax)
    for g in range(40):
        ids = [3 * g, 3 * g + 1, 3 * g + 2]
        kept = [i for i in ids if not flags[i].semantic_dup]
        assert len(kept) == 1
        assert {flags[i].cell for i in ids} == {flags[ids[0]].cell}
    # determinism
    again = {r.vec_id: r.semantic_dup for r in
             _semantic_dedup_trained(spark, emb, nlist=4).collect()}
    assert again == {v: r.semantic_dup for v, r in flags.items()}


def test_frozen_pca_basis_orthonormal_and_projection_exact(spark, sf_dir):
    """The pinned basis must be orthonormal (it IS a principal-
    component basis, sign-canonicalized), and the Spark-side projection
    must equal a numpy matmul against the same literals at full double
    precision (before the shared ROUND_DIGITS rounding)."""
    import numpy as np

    from aiotcvectordb_spark import queries as Q
    from aiotcvectordb_spark.operators.pca_frozen import (
        FROZEN_PCA_BASIS,
        FROZEN_PCA_DIM,
        FROZEN_PCA_K,
    )

    B = np.array(FROZEN_PCA_BASIS, dtype=np.float64)  # (k, d)
    assert B.shape == (FROZEN_PCA_K, FROZEN_PCA_DIM)
    gram = B @ B.T
    assert np.allclose(gram, np.eye(FROZEN_PCA_K), atol=1e-12)
    # sign canon: largest-|loading| entry of each component is positive
    for row in B:
        assert row[np.argmax(np.abs(row))] > 0

    out = {
        r.vec_id: [r[f"pc{j + 1}"] for j in range(FROZEN_PCA_K)]
        for r in Q.QUERIES["embedding_pca_fixed"](spark, sf_dir).collect()
    }
    emb = {
        r.vec_id: np.array(r.embedding, dtype=np.float64)
        for r in Q.load(spark, sf_dir, "embeddings")
        .select("vec_id", "embedding")
        .collect()
    }
    assert set(out) == set(emb) and len(out) > 0
    for vid, v in list(emb.items())[:50]:
        want = np.round(B @ v, 6)
        assert np.array_equal(np.array(out[vid]), want), vid
