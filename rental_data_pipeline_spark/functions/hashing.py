"""Portable deterministic hashing for dedup/similarity operators.

The driver's correctness gate compares Spark results against DuckDB
oracles, so every hash that influences output values must compute the
same 64-bit integer in both engines. Spark's ``xxhash64``/``hash`` and
DuckDB's ``hash`` are different functions, so we derive integers from
``md5`` (identical everywhere): the first 14 hex chars (56 bits, fits a
signed 64-bit long) parsed base-16.

Spark side:   ``conv(substring(md5(x), 1, 14), 16, 10)  :: long``
DuckDB side:  ``('0x' || substr(md5(x), 1, 14)) :: BIGINT``

MinHash permutations are universal-hash functions
``h_i(x) = (a_i * x + b_i) mod P`` with ``P = 2^31 - 1`` (Mersenne
prime). ``x`` is first reduced mod P so ``a*x + b < 2^62`` — no 64-bit
overflow in either engine. Parameters are generated once from a fixed
seed and inlined as literals by :func:`minhash_perm_sql` into both the
Spark aggregation and the oracle SQL text, so the two engines run
identical arithmetic.
"""

from __future__ import annotations

import random

from pyspark.sql import Column
from pyspark.sql import functions as F

MERSENNE_P = 2_147_483_647  # 2^31 - 1

_rng = random.Random(42)
# 32 perms = 8 bands x 4 rows: recall ≈ 0.985 at jaccard 0.8 (≈ 0.9998
# at 0.9), and the exact-Jaccard verify step removes false positives —
# so the narrower signature costs ~nothing in output quality while
# halving the aggregation width (whole-stage-codegen size scales with
# the number of min-aggregates; 64 perms measured ~2x slower compile).
NUM_PERM = 32
MINHASH_A: list[int] = [_rng.randrange(1, MERSENNE_P) for _ in range(NUM_PERM)]
MINHASH_B: list[int] = [_rng.randrange(0, MERSENNE_P) for _ in range(NUM_PERM)]

LSH_BANDS = 8
LSH_ROWS = NUM_PERM // LSH_BANDS  # 4


def _c(col: Column | str) -> Column:
    return F.col(col) if isinstance(col, str) else col


def portable_hash64(col: Column | str) -> Column:
    """56-bit integer from md5, identical to the DuckDB expression
    ``('0x' || substr(md5(x),1,14))::BIGINT``."""
    return F.conv(F.substring(F.md5(_c(col)), 1, 14), 16, 10).cast("long")


def portable_hash64_sql(expr: str) -> str:
    """DuckDB twin of :func:`portable_hash64`."""
    return f"CAST('0x' || substr(md5({expr}), 1, 14) AS BIGINT)"


def minhash_perm_sql(hash_expr: str, i: int) -> str:
    """i-th MinHash permutation of a (portable-hashed) shingle SQL
    expression, ``(a_i * (h mod P) + b_i) mod P`` — the same text is
    valid Spark SQL and DuckDB SQL, so both engines run this one
    definition."""
    return (
        f"({MINHASH_A[i]} * (({hash_expr}) % {MERSENNE_P}) + {MINHASH_B[i]})"
        f" % {MERSENNE_P}"
    )
