"""kNN operator invariants (SURVEY.md §5.3)."""

from __future__ import annotations

from pyspark.sql import functions as F

from oracle_vector_search_spark.io import load_table
from oracle_vector_search_spark.operators.knn import (
    knn_exact,
    knn_exact_gemm,
    similarity_join,
)


def _topk_frames(spark, sf_dir, k=5):
    emb = load_table(spark, sf_dir, "embeddings")
    q = emb.filter(F.col("vec_id") < 10)
    return emb, q


def _as_set(df):
    return {
        (r["query_id"], r["neighbor_id"], r["score"], r["rank"])
        for r in df.collect()
    }


def test_expr_and_gemm_tiers_agree(spark, sf_dir):
    emb, q = _topk_frames(spark, sf_dir)
    a = _as_set(knn_exact(emb, q, k=5))
    b = _as_set(knn_exact_gemm(emb, q, k=5))
    assert a == b
    assert len(a) == 10 * 5


def test_topk_invariant_under_partitioning(spark, sf_dir):
    emb, q = _topk_frames(spark, sf_dir)
    a = _as_set(knn_exact(emb, q, k=5))
    b = _as_set(knn_exact(emb.repartition(13), q, k=5))
    c = _as_set(knn_exact_gemm(emb.repartition(7), q, k=5))
    assert a == b == c


def test_self_is_top1(spark, sf_dir):
    emb, q = _topk_frames(spark, sf_dir)
    top1 = knn_exact(emb, q, k=1).collect()
    for r in top1:
        assert r["neighbor_id"] == r["query_id"]
        assert abs(r["score"] - 1.0) < 1e-6


def test_rank_dense_and_bounded(spark, sf_dir):
    emb, q = _topk_frames(spark, sf_dir)
    df = knn_exact(emb, q, k=5)
    per_q = (
        df.groupBy("query_id")
        .agg(F.count("*").alias("n"), F.collect_set("rank").alias("ranks"))
        .collect()
    )
    for r in per_q:
        assert r["n"] == 5
        assert sorted(r["ranks"]) == [1, 2, 3, 4, 5]


def test_similarity_join_is_symmetric_dedup(spark, sf_dir):
    emb = load_table(spark, sf_dir, "embeddings").filter(
        F.col("vec_id") < 100
    )
    pairs = similarity_join(emb, emb, threshold=0.0).collect()
    seen = {(r["left_id"], r["right_id"]) for r in pairs}
    for l, r in seen:
        assert l < r
        assert (r, l) not in seen


def test_gemm_guards_large_query_sets(spark, sf_dir):
    import pytest

    emb, q = _topk_frames(spark, sf_dir)
    with pytest.raises(ValueError, match="lsh_ann_topk"):
        knn_exact_gemm(emb, q, k=5, max_queries=3)


def test_gemm_guard_boundary_is_max_queries(spark, sf_dir):
    """Exactly ``max_queries`` queries pass both GEMM tiers; one more
    raises — the bounded collect fetches max_queries + 1 rows."""
    import pytest

    from oracle_vector_search_spark.operators.knn import knn_exact_gemm_int8

    emb, q = _topk_frames(spark, sf_dir)
    n = q.count()
    for tier in (knn_exact_gemm, knn_exact_gemm_int8):
        assert len(tier(emb, q, k=5, max_queries=n).collect()) == n * 5
        with pytest.raises(ValueError, match="max_queries"):
            tier(emb, q, k=5, max_queries=n - 1)


def test_gemm_tie_break_survives_batch_boundary(spark):
    # many index vectors identical up to < 1e-6 — scores tie only AFTER
    # rounding; both tiers must keep the lowest neighbor_ids, even when
    # ties straddle mapInPandas batch boundaries
    rows = [(i, [1.0, 1.0 + i * 1e-12]) for i in range(200)]
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    q = spark.createDataFrame([(0, [1.0, 1.0])],
                              "vec_id long, embedding array<double>")
    a = _as_set(knn_exact(emb, q, k=5))
    b = _as_set(knn_exact_gemm(emb.repartition(8), q, k=5))
    assert a == b
    assert {r[1] for r in b} == {0, 1, 2, 3, 4}  # id tie-break, not float luck


def test_gemm_zero_norm_scores_null_like_expression_tier(spark):
    rows = [(0, [0.0, 0.0]), (1, [1.0, 0.0]), (2, [0.0, 1.0])]
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    q = spark.createDataFrame([(9, [1.0, 1.0])],
                              "vec_id long, embedding array<double>")
    a = sorted((r["neighbor_id"], r["score"])
               for r in knn_exact(emb, q, k=3).collect())
    b = sorted((r["neighbor_id"], r["score"])
               for r in knn_exact_gemm(emb, q, k=3).collect())
    assert a == b
    assert dict(a)[0] is None  # zero-norm vector scores NULL, ranks last


# --------------------------------------------------------- tier dispatch

def test_choose_knn_tier_rules():
    from oracle_vector_search_spark.operators.knn import (
        EXPR_MAX_QUERIES,
        GEMM_MAX_QUERIES,
        choose_knn_tier,
    )

    assert choose_knn_tier(1) == "expr"
    assert choose_knn_tier(EXPR_MAX_QUERIES) == "expr"
    assert choose_knn_tier(EXPR_MAX_QUERIES + 1) == "gemm"
    assert choose_knn_tier(100, has_int8_codes=True) == "gemm_int8"
    # approximate tiers are never auto-selected: beyond the GEMM cap the
    # dispatcher falls back to the (collect-free) expression tier
    assert choose_knn_tier(GEMM_MAX_QUERIES + 1) == "expr"
    assert choose_knn_tier(GEMM_MAX_QUERIES + 1, has_int8_codes=True) == "expr"
    # explicit tier always wins
    assert choose_knn_tier(1, tier="gemm") == "gemm"


def test_knn_search_tiers_agree(spark, sf_dir):
    """Every dispatched tier must return identical (query, neighbor,
    score, rank) rows — the tier is physical, never semantic."""
    from oracle_vector_search_spark.operators.knn import (
        knn_search,
        quantize_unit_int8,
    )

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    q = emb.filter(F.col("vec_id") < 3)

    def canon(df):
        return sorted(
            (r["query_id"], r["neighbor_id"], r["rank"], r["score"])
            for r in df.collect()
        )

    expr = canon(knn_search(emb, q, k=5, tier="expr"))
    gemm = canon(knn_search(emb, q, k=5, tier="gemm"))
    codes = quantize_unit_int8(emb)
    i8 = canon(knn_search(emb, q, k=5, tier="gemm_int8", codes=codes))
    auto = canon(knn_search(emb, q, k=5))  # Q=3 → expr
    assert expr == gemm == i8 == auto


def test_knn_search_auto_expr_has_no_python_stage(spark, sf_dir):
    """Q ≤ EXPR_MAX_QUERIES auto-routes to the expression tier: the
    chosen plan must be pure Catalyst (no mapInPandas stage)."""
    from oracle_vector_search_spark.operators.knn import knn_search

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    q = emb.filter(F.col("vec_id") < 2)
    plan = (
        knn_search(emb, q, k=5)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "Python" not in plan, plan


def test_batch_topk_rows_superset_property():
    """_batch_topk_rows must emit a SUPERSET of the true per-query
    top-k by (score desc, id asc) — over random matrices including
    heavy integer ties (the quantized-score case) and all-equal
    degenerate columns — while never exceeding the flood guard."""
    import numpy as np

    from oracle_vector_search_spark.operators.knn import _batch_topk_rows

    rng = np.random.RandomState(7)
    for trial in range(50):
        n = rng.randint(1, 60)
        q = rng.randint(1, 12)
        top = rng.randint(1, 8)
        top = min(top, n)
        if trial % 3 == 0:
            S = rng.randint(0, 4, size=(n, q)).astype(float)  # heavy ties
        elif trial % 3 == 1:
            S = rng.randn(n, q)
        else:
            S = np.zeros((n, q))  # fully degenerate
        ids = rng.permutation(n * 3)[:n].astype(np.int64)
        rows_v, rows_q = _batch_topk_rows(S.copy(), ids, top)
        emitted = set(zip(rows_v.tolist(), rows_q.tolist()))
        for j in range(q):
            order = sorted(range(n), key=lambda i: (-S[i, j], ids[i]))
            for i in order[:top]:
                assert (i, j) in emitted, (
                    f"trial {trial}: true top-{top} row {i} of query {j} "
                    f"missing (score {S[i, j]}, id {ids[i]})"
                )
            # flood guard: per-query emission is bounded
            n_j = sum(1 for (_i, _j) in emitted if _j == j)
            assert n_j <= max(top + 16, top), (trial, j, n_j)
