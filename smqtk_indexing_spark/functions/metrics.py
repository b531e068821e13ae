"""Distance / similarity column expressions — the full scalar-function
surface of the reference's ``utils/metrics.py``, expressed as Catalyst
column expressions (JVM-side, whole-stage-codegen'd — no Python in the hot
path). Kernel twins in kernels.py provide golden values for tests.

Reference citations:
- hamming_distance       -> /root/reference/smqtk_indexing/utils/metrics.py:140-155
- euclidean_distance     -> utils/metrics.py:73-86
- cosine similarity/dist -> utils/metrics.py:89-137
- histogram intersection -> utils/metrics.py:7-70
"""

from __future__ import annotations

import math

from pyspark.sql import Column
from pyspark.sql import functions as F


def _to_col(c) -> Column:
    return F.col(c) if isinstance(c, str) else c


def dot(a, b) -> Column:
    """Sequential left-fold dot product (deterministic summation order —
    matches the DuckDB oracle's list_sum over a comprehension)."""
    a, b = _to_col(a), _to_col(b)
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x.cast("double") * y.cast("double")),
        F.lit(0.0),
        lambda acc, v: acc + v,
    )


def l2_norm(a) -> Column:
    a = _to_col(a)
    return F.sqrt(dot(a, a))


def euclidean_distance(a, b) -> Column:
    """sqrt(sum((a-b)^2)) — utils/metrics.py:73-86."""
    a, b = _to_col(a), _to_col(b)
    sq = F.zip_with(
        a, b, lambda x, y: (x.cast("double") - y.cast("double"))
        * (x.cast("double") - y.cast("double"))
    )
    return F.sqrt(F.aggregate(sq, F.lit(0.0), lambda acc, v: acc + v))


def cosine_similarity(a, b) -> Column:
    """dot/(|a||b|) — utils/metrics.py:89-117. NULL when either vector has
    zero norm (ANSI ``/`` raises DIVIDE_BY_ZERO; DuckDB's 0.0/0.0 is NULL
    too)."""
    return F.try_divide(dot(a, b), l2_norm(a) * l2_norm(b))


def cosine_distance(a, b) -> Column:
    """Angular distance arccos(sim)/pi, clamped to [-1,1] —
    utils/metrics.py:120-137. NULL for a zero vector (``greatest``/``least``
    skip nulls, so the clamp alone would turn it into distance 0)."""
    sim = cosine_similarity(a, b)
    clamped = F.greatest(F.lit(-1.0), F.least(F.lit(1.0), sim))
    return F.when(sim.isNotNull(), F.acos(clamped) / F.lit(math.pi))


def histogram_intersection_distance(a, b) -> Column:
    """1 - sum((a+b-|a-b|)/2) — branch-free, utils/metrics.py:7-46."""
    a, b = _to_col(a), _to_col(b)
    m = F.zip_with(
        a,
        b,
        lambda x, y: (x.cast("double") + y.cast("double")
                      - F.abs(x.cast("double") - y.cast("double"))) * F.lit(0.5),
    )
    return F.lit(1.0) - F.aggregate(m, F.lit(0.0), lambda acc, v: acc + v)


def hamming64(a, b) -> Column:
    """popcount(a ^ b) over 64-bit signatures — utils/metrics.py:140-155
    restricted to the engine's LongType SimHash codes. Normalized form
    (``linear.py:241-243``) = hamming64(a,b)/64."""
    a, b = _to_col(a), _to_col(b)
    return F.bit_count(a.bitwiseXOR(b))


def hamming_words(a, b) -> Column:
    """Summed popcount over multi-word hash codes (``array<long>``, word 0
    most-significant — kernels.bits_to_words layout): the >64-bit form of
    :func:`hamming64`, unlocking parity with the reference's
    arbitrary-precision codes (``utils/bits.py:4-20``, 256-bit ITQ at
    ``impls/lsh_functor/itq.py:71-78``). Pure Catalyst (zip_with + bit_count
    + aggregate) — JVM-side, no Python."""
    a, b = _to_col(a), _to_col(b)
    per_word = F.zip_with(a, b, lambda x, y: F.bit_count(x.bitwiseXOR(y)))
    return F.aggregate(per_word, F.lit(0), lambda acc, v: acc + v)


def jaccard_arrays(a, b) -> Column:
    """|A ∩ B| / |A ∪ B| over pre-distinct arrays — the dedup verifier
    (set-similarity analog of the exact re-rank at lsh.py:505-519)."""
    a, b = _to_col(a), _to_col(b)
    inter = F.size(F.array_intersect(a, b)).cast("double")
    return inter / (F.size(a) + F.size(b) - inter).cast("double")


def minhash_agreement(a, b) -> Column:
    """Fraction of agreeing MinHash permutations — unbiased Jaccard
    estimate; Hamming-as-proxy analog (interfaces/hash_index.py:92-94)."""
    a, b = _to_col(a), _to_col(b)
    eq = F.zip_with(a, b, lambda x, y: (x == y).cast("int"))
    return F.aggregate(eq, F.lit(0), lambda acc, v: acc + v).cast("double") / F.size(a)
