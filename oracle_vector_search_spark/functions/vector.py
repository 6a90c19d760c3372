"""Vector kernels as pure Spark SQL higher-order functions.

Re-expresses the reference's numeric heart (SURVEY.md §2.7) —
``faiss.normalize_L2`` + ``IndexFlatIP`` inner-product scan
(reference build_faiss_db.py:216-218, app.py:139-143) — as Catalyst
column expressions. Zero UDFs: every function here compiles to JVM-side
expressions (no Python worker, no Arrow hop) and is oracle-checkable
against DuckDB's ``list_dot_product``.

Cost model: the kernels are built from the higher-order functions
``zip_with``/``aggregate``/``transform``, which are ``CodegenFallback``
in Spark — whole-stage codegen wraps them but evaluates them
interpreted, one lambda call per array element. A d-dim dot product is
therefore ~2d interpreted lambda evaluations, and a cosine is three of
them. Scorers that see the same vector in many candidate pairs should
compute ``l2_norm`` once per vector (in the projection before the
candidate join) and score with ``cosine_from_norms``: one dot product
per pair instead of three, and the same doubles as
``cosine_similarity`` because that is the same expression tree.

Precision policy (SURVEY.md §2.7 M3 / §5.2): inputs are ``ARRAY<FLOAT>``
on disk; all math is done in DOUBLE (cast once via ``as_double_array``) so
Spark and the DuckDB oracle agree to ~1e-15; comparisons round scores to
6 decimals and tie-break on id.
"""

from __future__ import annotations

from pyspark.sql import Column, functions as F

__all__ = [
    "as_double_array",
    "dot",
    "l2_norm",
    "l2_normalize",
    "cosine_similarity",
    "cosine_from_norms",
    "euclidean",
]


def _c(col: Column | str) -> Column:
    return F.col(col) if isinstance(col, str) else col


def as_double_array(col: Column | str) -> Column:
    """Cast ARRAY<FLOAT> → ARRAY<DOUBLE> (the reference's float32 policy,
    build_faiss_db.py:213, inverted: we *widen* before math so summation
    error stays at double epsilon)."""
    return _c(col).cast("array<double>")


def dot(a: Column | str, b: Column | str) -> Column:
    """Inner product Σ aᵢ·bᵢ — the reference's IndexFlatIP scan kernel
    (build_faiss_db.py:216). Left-fold in array order (deterministic)."""
    return F.aggregate(
        F.zip_with(_c(a), _c(b), lambda x, y: x * y),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )


def l2_norm(a: Column | str) -> Column:
    """Euclidean norm ‖a‖₂."""
    return F.sqrt(dot(a, a))


def l2_normalize(a: Column | str) -> Column:
    """a / ‖a‖₂ — the reference's ``faiss.normalize_L2``
    (build_faiss_db.py:217, app.py:140). Zero vectors map to NULL elements
    (``try_divide``) so a single degenerate row can't fail a whole job
    under ANSI mode."""
    a = _c(a)
    n = l2_norm(a)
    return F.transform(a, lambda x: F.try_divide(x, n))


def cosine_similarity(a: Column | str, b: Column | str) -> Column:
    """cos(a,b) = a·b / (‖a‖·‖b‖) — normalize-then-inner-product collapsed
    into one expression (matches the oracle's formulation exactly).
    NULL (no-match) for zero vectors rather than an ANSI error."""
    return cosine_from_norms(a, b, l2_norm(a), l2_norm(b))


def cosine_from_norms(
    a: Column | str,
    b: Column | str,
    a_norm: Column | str,
    b_norm: Column | str,
) -> Column:
    """``cosine_similarity`` with ‖a‖ and ‖b‖ supplied as columns already
    computed by ``l2_norm`` — per pair it evaluates one dot product
    instead of three, with bit-identical results. The candidate scorers
    project each vector's norm once before their joins and call this per
    (query, neighbor) pair."""
    return F.try_divide(dot(a, b), _c(a_norm) * _c(b_norm))


def euclidean(a: Column | str, b: Column | str) -> Column:
    """L2 distance ‖a-b‖₂ (used by the LSH ANN tier, SURVEY.md §4.2)."""
    return F.sqrt(
        F.aggregate(
            F.zip_with(_c(a), _c(b), lambda x, y: (x - y) * (x - y)),
            F.lit(0.0),
            lambda acc, x: acc + x,
        )
    )
