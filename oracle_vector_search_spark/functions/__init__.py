"""Column-level function library (pure Spark SQL expressions, no UDFs)."""

from oracle_vector_search_spark.functions.vector import (  # noqa: F401
    as_double_array,
    cosine_from_norms,
    cosine_similarity,
    dot,
    euclidean,
    l2_norm,
    l2_normalize,
)
