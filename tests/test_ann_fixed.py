"""Oracle + invariant tests for the fixed-parameter ANN twins."""

import pytest

from bigdatamanagement_spark.queries import ann_fixed
from tests.conftest import assert_matches_oracle


@pytest.mark.parametrize("name", sorted(ann_fixed.QUERIES))
def test_ann_fixed_oracle(spark, duck, sf_dir, name):
    df = ann_fixed.QUERIES[name](spark, sf_dir)
    assert_matches_oracle(df, duck, ann_fixed.ORACLE[name])


@pytest.mark.parametrize(
    "name", [n for n in sorted(ann_fixed.QUERIES) if "_topk_" in n]
)
def test_ann_fixed_invariants(spark, sf_dir, name):
    rows = ann_fixed.QUERIES[name](spark, sf_dir).collect()
    assert rows, name  # candidates must exist at every SF
    # cosine twins rank DESC by cos_micro; the PQ twin ranks ASC by adc
    is_dist = "adc_d2" in rows[0].asDict()
    by_q = {}
    for r in rows:
        score = r.adc_d2 if is_dist else r.cos_micro
        if not is_dist:
            assert -1_000_000 <= score <= 1_000_000
        else:
            assert score >= 0
        assert r.neighbor_id != r.query_id
        by_q.setdefault(r.query_id, []).append((r.rank, score))
    for q, rs in by_q.items():
        rs.sort()
        ranks = [r for r, _ in rs]
        assert ranks == list(range(1, len(ranks) + 1)), (name, q)
        scores = [s for _, s in rs]
        assert scores == sorted(scores, reverse=not is_dist), (name, q)


def test_lcg_is_deterministic():
    a = ann_fixed._lcg_ints(42, 8, -999, 999)
    b = ann_fixed._lcg_ints(42, 8, -999, 999)
    assert a == b
    assert all(-999 <= x <= 999 for x in a)


def test_semdedup_fixed_policy(spark, sf_dir):
    """Keep-min-id: per cell, dups < vectors (the min-id vector of any
    cell can never be a dup), and totals partition the corpus."""
    rows = ann_fixed.semdedup_fixed(spark, sf_dir).collect()
    assert rows
    for r in rows:
        assert 0 <= r.n_dups < r.n_vectors
    total = sum(r.n_vectors for r in rows)
    from bigdatamanagement_spark.queries.ann_fixed import _quantized
    import pyspark.sql.functions as F

    n = _quantized(spark, sf_dir).filter(F.col("nrm") > 0).count()
    assert total == n


def test_ann_params_fixture_matches_lcg_constants():
    """The parquet params fixture (fixtures/ann_params/) must equal the
    LCG streams the module defines — a drifted regeneration of the
    fixture (or a constant change without regeneration) fails loudly,
    since both engines now read the fixture at query time."""
    from bigdatamanagement_spark.queries import ann_fixed as A

    planes = {(r["tbl"], r["j"]): r["coefs"] for r in A._param_rows("planes")}
    assert len(planes) == A.N_TABLES * A.N_PLANES
    for t in range(A.N_TABLES):
        for j in range(A.N_PLANES):
            assert planes[(t, j)] == A.PLANES[t][j]

    cents = {r["cell"]: r["cv"] for r in A._param_rows("centroids")}
    assert len(cents) == A.N_CELLS
    for c in range(A.N_CELLS):
        assert cents[c] == A.CENTROIDS[c]

    cbs = {(r["m"], r["k"]): r["cb"] for r in A._param_rows("codebooks")}
    assert len(cbs) == A.PQ_M * A.PQ_K
    for m in range(A.PQ_M):
        for k in range(A.PQ_K):
            assert cbs[(m, k)] == A.PQ_CODEBOOKS[m][k]


def test_filtered_ann_prefilter_semantics(spark, sf_dir, duck):
    """Filtered ANN: oracle golden + the pre-filter pins — every
    returned neighbor carries the filter label, every query returns a
    FULL top-k from the eligible subset (when enough eligible
    candidates exist in the probed cells), and post-filtering the
    unfiltered top-10 would under-fill (the classic filtered-ANN bug
    this entry's semantics avoid)."""
    import pyspark.sql.functions as F

    from bigdatamanagement_spark.queries import ann_fixed as A
    from tests.conftest import assert_matches_oracle

    got = A.ivf_filtered_ann_topk(spark, sf_dir)
    assert_matches_oracle(got, duck, A.ORACLE["ext_ivf_filtered_ann_topk"])
    rows = got.collect()
    labels = {
        r.vec_id: r.label
        for r in A._embs(spark, sf_dir).select("vec_id", "label").collect()
    }
    assert rows
    assert all(labels[r.neighbor_id] == A.FILTER_LABEL for r in rows)
    # post-filtering the unfiltered list under-fills: the unfiltered
    # top-10 of some query must contain a wrong-label neighbor
    unfiltered = A.ivf_ann_topk_fixed(spark, sf_dir).collect()
    assert any(labels[r.neighbor_id] != A.FILTER_LABEL for r in unfiltered)


@pytest.mark.parametrize("sf", ["sf0.01", "sf0.1"])
def test_semdedup_cells_match_sql_assignment(spark, sf):
    """The vectorized mapInPandas assignment gives every embedding the
    cell of the SQL expression (``_CELLS_SORTED_EXPR[0].cell``)."""
    import os

    import pyspark.sql.functions as F

    from tests.conftest import SF_DIR

    sf_path = os.path.join(os.path.dirname(SF_DIR), sf)
    got = {
        r.vec_id: r.cell
        for r in ann_fixed.semdedup_assigned(spark, sf_path)
        .select("vec_id", "cell")
        .collect()
    }
    want = {
        r.vec_id: r.cell
        for r in ann_fixed.ivf_assigned(spark, sf_path)
        .select("vec_id", F.expr("cells[0].cell").alias("cell"))
        .collect()
    }
    assert want and got == want


def test_semdedup_cell_ties_go_to_lower_id(spark):
    """A vector equidistant from two nearest centroids lands in the lower
    cell id, both in the numpy kernel and in the SQL expression."""
    import numpy as np
    import pyspark.sql.functions as F

    dim, n_cells = ann_fixed.DIM, ann_fixed.N_CELLS
    cm = np.full((n_cells, dim), 1000, dtype=np.int64)
    cm[2] = 0
    cm[5] = 0
    cm[2, 0] = 7  # |v - cm[2]|^2 == |v - cm[5]|^2 == 49, others far
    cm[5, 1] = 7
    v = np.zeros((1, dim), dtype=np.int64)
    assert ann_fixed._nearest_cells(v, cm).tolist() == [2]

    df = spark.createDataFrame(
        [(v[0].tolist(), cm.tolist())], "vq array<bigint>, cm array<array<bigint>>"
    )
    sql_cell = df.select(
        F.expr(ann_fixed._CELLS_SORTED_EXPR + "[0].cell").alias("c")
    ).first().c
    assert sql_cell == 2
