"""ANN operator properties: recall vs exact, MLlib wrapper sanity."""

from __future__ import annotations

from pyspark.sql import functions as F

from oracle_vector_search_spark.functions.vector import (
    as_double_array,
    cosine_similarity,
)
from oracle_vector_search_spark.io import load_table
from oracle_vector_search_spark.operators.ann import (
    N_BANDS,
    N_PLANES,
    ROWS_PER_BAND,
    lsh_ann_topk,
    lsh_bucket_table,
    lsh_similarity_join,
    mllib_brp_lsh_join,
    plane_values,
)
from oracle_vector_search_spark.operators.knn import knn_exact, similarity_join

DIMS = 64


def test_lsh_topk_recall_vs_exact(spark, sf_dir):
    emb = load_table(spark, sf_dir, "embeddings")
    q = emb.filter(F.col("vec_id") < 20)
    exact = {
        (r["query_id"], r["neighbor_id"])
        for r in knn_exact(emb, q, k=5).collect()
    }
    approx = {
        (r["query_id"], r["neighbor_id"])
        for r in lsh_ann_topk(emb, q, k=5, dims=DIMS).collect()
    }
    recall = len(exact & approx) / len(exact)
    # self-match always shares every bucket, and near neighbors usually
    # share one of 4 bands; require a sane floor on this fixture
    assert recall >= 0.5, f"recall@5 too low: {recall}"


def test_lsh_join_is_subset_of_exact(spark, sf_dir):
    emb = load_table(spark, sf_dir, "embeddings").filter(
        F.col("vec_id") % 10 == 0
    )
    exact = {
        (r["left_id"], r["right_id"])
        for r in similarity_join(emb, emb, threshold=0.3).collect()
    }
    approx = {
        (r["left_id"], r["right_id"])
        for r in lsh_similarity_join(emb, threshold=0.3, dims=DIMS).collect()
    }
    assert approx <= exact  # LSH candidates verified exactly → no false pos


def test_bucket_table_shape(spark, sf_dir):
    emb = load_table(spark, sf_dir, "embeddings")
    n = emb.count()
    buckets = lsh_bucket_table(emb, dims=DIMS)
    assert buckets.count() == 4 * n  # one row per band
    rng = buckets.agg(
        F.min("bucket").alias("lo"), F.max("bucket").alias("hi")
    ).first()
    assert 0 <= rng["lo"] and rng["hi"] <= 15  # 4-bit bucket keys


def _with_zero_vector(spark, emb):
    """``emb`` plus one all-zero vector (every plane dot product is 0)."""
    zero_id = emb.agg(F.max("vec_id")).first()[0] + 1
    zero = spark.createDataFrame(
        [(zero_id, [0.0] * DIMS, 0)], emb.schema
    )
    return emb.unionByName(zero), zero_id


def test_bucket_table_matches_python_reference(spark, sf_dir):
    """Signatures equal a driver-side reference built from the same
    ``plane_values`` with a strict left fold ``a = a + x * y`` and
    ``>= 0`` — so the SQL plane literal holds exactly those doubles and
    the Spark fold accumulates in the same order."""
    emb, zero_id = _with_zero_vector(
        spark, load_table(spark, sf_dir, "embeddings")
    )
    planes = [plane_values(j, DIMS) for j in range(N_PLANES)]

    def buckets(vec):
        bits = []
        for plane in planes:
            a = 0.0
            for x, y in zip(vec, plane):
                a = a + x * y
            bits.append(1 if a >= 0 else 0)
        return [
            sum(bits[b * ROWS_PER_BAND + r] << r for r in range(ROWS_PER_BAND))
            for b in range(N_BANDS)
        ]

    expected = {
        (r["vec_id"], band, bucket)
        for r in emb.collect()
        for band, bucket in enumerate(buckets(r["embedding"]))
    }
    got = {
        (r["vec_id"], r["band"], r["bucket"])
        for r in lsh_bucket_table(emb, dims=DIMS).collect()
    }
    assert got == expected
    assert {(b, k) for i, b, k in got if i == zero_id} == {
        (b, 2**ROWS_PER_BAND - 1) for b in range(N_BANDS)
    }


def test_lsh_topk_query_buckets_and_exact_scores(spark, sf_dir):
    """Passing the query bucket table changes nothing, and every score
    is exactly ``round(cosine_similarity, 6)`` of the pair — the
    once-per-vector norms give the same doubles as the per-pair
    kernel."""
    emb = load_table(spark, sf_dir, "embeddings")
    q = emb.filter(F.col("vec_id") < 20)
    rows = lsh_ann_topk(emb, q, k=5, dims=DIMS).collect()
    passed = lsh_ann_topk(
        emb, q, k=5, dims=DIMS, query_buckets=lsh_bucket_table(q, dims=DIMS)
    ).collect()
    assert rows and sorted(rows) == sorted(passed)

    pairs = spark.createDataFrame(
        [(r["query_id"], r["neighbor_id"]) for r in rows],
        "query_id long, neighbor_id long",
    )
    vec = emb.select("vec_id", as_double_array("embedding").alias("v"))
    scored = (
        pairs.join(
            vec.withColumnRenamed("vec_id", "query_id")
            .withColumnRenamed("v", "qv"),
            "query_id",
        )
        .join(
            vec.withColumnRenamed("vec_id", "neighbor_id")
            .withColumnRenamed("v", "nv"),
            "neighbor_id",
        )
        .select(
            "query_id",
            "neighbor_id",
            F.round(cosine_similarity("qv", "nv"), 6).alias("s"),
        )
    )
    exact = {
        (r["query_id"], r["neighbor_id"]): r["s"] for r in scored.collect()
    }
    for r in rows:
        assert r["score"] == exact[(r["query_id"], r["neighbor_id"])], r


def test_mllib_brp_lsh_matches_cosine_ordering(spark, sf_dir):
    emb = load_table(spark, sf_dir, "embeddings").filter(
        F.col("vec_id") < 100
    )
    pairs = mllib_brp_lsh_join(
        emb, threshold_euclidean=1.2, num_hash_tables=8
    ).collect()
    assert pairs, "MLlib LSH join returned nothing"
    # d^2 = 2 - 2cos on unit vectors → euclidean < 1.2 ⇒ cos > 0.28
    exact = {
        (r["left_id"], r["right_id"]): r["score"]
        for r in similarity_join(emb, emb, threshold=-1.0).collect()
    }
    for p in pairs:
        cos = exact[(p["left_id"], p["right_id"])]
        assert cos > 0.27, (p, cos)


def test_ivf_topk_recall_vs_exact(spark, sf_dir):
    from oracle_vector_search_spark.operators.ann import ivf_ann_topk

    emb = load_table(spark, sf_dir, "embeddings")
    q = emb.filter(F.col("vec_id") < 20)
    exact = {
        (r["query_id"], r["neighbor_id"])
        for r in knn_exact(emb, q, k=5).collect()
    }
    approx = {
        (r["query_id"], r["neighbor_id"])
        for r in ivf_ann_topk(emb, q, k=5).collect()
    }
    recall = len(exact & approx) / len(exact)
    assert recall >= 0.3, f"IVF recall@5 too low: {recall}"
    # every query must at least find itself (its own cluster is probed)
    for qid in {p[0] for p in exact}:
        assert (qid, qid) in approx


def test_bucket_table_at_rest_prunes_band_partitions(spark, sf_dir):
    """The materialized LSH bucket table is partitioned by band; a
    band-scoped scan must hit the partition filter (metadata-level
    pruning), not a post-scan filter — the 100 TB read path."""
    from pyspark.sql import functions as F

    from oracle_vector_search_spark.queries.ann_queries import _bucket_table

    bt = _bucket_table(spark, sf_dir)
    one_band = bt.filter(F.col("band") == 2)
    plan = one_band._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters: [isnotnull(band" in plan, plan
    # pruned read returns exactly the band's rows (1 row per vector)
    n_vectors = bt.select("vec_id").distinct().count()
    assert one_band.count() == n_vectors


def test_pq_recall_and_fidelity(spark, sf_dir):
    """PQ reconstructions keep cosine fidelity positive and PQ top-5
    overlaps exact top-5 (recall floor — random codebooks are crude,
    but ADC ranking must still correlate with exact ranking)."""
    from pyspark.sql import functions as F

    from oracle_vector_search_spark.io import load_table
    from oracle_vector_search_spark.operators.knn import knn_exact
    from oracle_vector_search_spark.queries.pq_queries import (
        pq_ann_topk,
        pq_codes_fidelity,
    )

    fid = pq_codes_fidelity(spark, sf_dir).agg(
        F.min("recon_cosine").alias("mn"), F.avg("recon_cosine").alias("av")
    ).collect()[0]
    assert fid["av"] > 0.2  # hash codebooks: crude but aligned on average
    codes = pq_codes_fidelity(spark, sf_dir).select("code0").distinct()
    assert codes.count() > 1  # codes actually discriminate

    emb = load_table(spark, sf_dir, "embeddings")
    q = emb.filter(F.col("vec_id") < 10)
    exact = {
        (r["query_id"], r["neighbor_id"])
        for r in knn_exact(emb, q, k=5).collect()
    }
    approx = {
        (r["query_id"], r["neighbor_id"])
        for r in pq_ann_topk(spark, sf_dir).collect()
    }
    recall = len(exact & approx) / len(exact)
    assert recall >= 0.2, recall  # floor, not a tuning claim


def test_multiprobe_expands_to_hamming_one(spark):
    """Each (band, bucket) expands to itself + ROWS_PER_BAND flipped-bit
    buckets, distinct."""
    from oracle_vector_search_spark.operators.ann import (
        ROWS_PER_BAND,
        multiprobe_query_buckets,
    )

    qb = spark.createDataFrame(
        [(1, 0, 5), (1, 1, 0)], "vec_id long, band int, bucket int"
    )
    rows = {
        (r["band"], r["bucket"])
        for r in multiprobe_query_buckets(qb).collect()
    }
    assert (0, 5) in rows and (1, 0) in rows
    expect0 = {(0, 5 ^ (1 << r)) for r in range(ROWS_PER_BAND)} | {(0, 5)}
    expect1 = {(1, 0 ^ (1 << r)) for r in range(ROWS_PER_BAND)} | {(1, 0)}
    assert rows == expect0 | expect1


def test_ivf_closure_assign_properties(spark, sf_dir):
    """Closure assignment is a superset of single assignment, each
    vector appears at most n_assign times, and every vector's single
    cluster is among its closure clusters."""
    from oracle_vector_search_spark.operators.ann import (
        ivf_assign,
        ivf_closure_assign,
    )

    emb = load_table(spark, sf_dir, "embeddings")
    single = {
        (r["vec_id"], r["cluster_id"])
        for r in ivf_assign(emb).collect()
    }
    closure_rows = ivf_closure_assign(emb, n_assign=2).collect()
    closure = {(r["vec_id"], r["cluster_id"]) for r in closure_rows}
    assert single <= closure
    n_vecs = emb.count()
    assert len(closure_rows) <= 2 * n_vecs
    # replication actually happens (boundary vectors exist)
    assert len(closure_rows) > n_vecs


def test_closure_recall_dominates_single(spark, sf_dir):
    from oracle_vector_search_spark.queries.ann_queries import (
        ivf_closure_recall_audit,
    )

    rows = ivf_closure_recall_audit(spark, sf_dir).collect()
    assert len(rows) == 10
    for r in rows:
        assert r["closure_hits"] >= r["single_hits"]
