"""Engine-neutral 60-bit hashing for oracle-checkable sketch operators.

xxhash64 is JVM-internal: any operator whose OUTPUT exposes hash-derived
values (MinHash signatures, SimHash bits) could not be value-checked by an
external SQL engine, leaving those registry entries with row-count checks
only. LSH band keys and Stage D's verify-side shingle hashes stay xxhash64
(canon.lsh_pairs, canon.candidate_pairs): no operator output or oracle
exposes them. These primitives define the hash in
terms both Spark and DuckDB evaluate identically:

  base60(x) = CAST(hex_prefix15(md5(x)) AS BIGINT)          60-bit, [0, 2^60)
  baseP(x)  = base60(x) % P                                 [0, P)
  mh_i(x)   = (A_i * baseP(x) + B_i) % P                    universal family

P is a prime just below 2^31 (2147483629 — NOT 2^31-1, which is also
prime; the exact prime is arbitrary, only p < 2^31 and primality matter,
and P is frozen because every recorded signature/oracle value depends on
it), so every intermediate stays below 2^62 + 2^31: no signed-64
wraparound in Spark and no overflow ERROR in DuckDB (which raises on
BIGINT overflow instead of wrapping). The affine
(A_i, B_i) pairs come from a fixed-seed PRNG, embedded as literals in both
the Spark expressions and the oracle SQL text.

Cost note: ONE md5 per input token replaces n_hashes xxhash64 calls — the
n_hashes-fold fan-out moves to integer multiply-adds. Measured at sf0.1
(local[32], idle box, min of 3): dedup_minhash 1.31s -> see BENCH note in
kgqueries.py oracle-ability header for the disclosed before/after numbers.

md5 is used as a 60-bit MIXING function here, not for integrity — sketch
hashing needs uniformity, not collision resistance; it is simply the
strongest hash both engines spell identically.
"""

from __future__ import annotations

import hashlib
import random

from pyspark.sql import Column
from pyspark.sql import functions as F

# a prime below 2^31: keeps (A * h + B) < 2^62 + 2^31 in signed 64-bit.
# FROZEN — changing it changes every recorded signature and oracle value.
P = 2_147_483_629

_SEED = 0x5EED_C0DE


def affine_params(n: int) -> list[tuple[int, int]]:
    """n deterministic (A, B) pairs, A in [1, P), B in [0, P)."""
    rnd = random.Random(_SEED)
    return [(rnd.randrange(1, P), rnd.randrange(0, P)) for _ in range(n)]


# -- Spark side --------------------------------------------------------------


def base60_col(col: Column) -> Column:
    """60-bit BIGINT from the md5 hex prefix — whole-stage-codegen builtins
    (md5 / substring / conv), zero Python."""
    return F.conv(F.substring(F.md5(col), 1, 15), 16, 10).cast("long")


def basep_col(col: Column) -> Column:
    return base60_col(col) % F.lit(P)


def affine_col(hb: Column, a: int, b: int) -> Column:
    return (F.lit(a) * hb + F.lit(b)) % F.lit(P)


# -- DuckDB / ANSI SQL side --------------------------------------------------


def base60_sql(expr: str) -> str:
    return f"CAST('0x' || substr(md5({expr}), 1, 15) AS BIGINT)"


def basep_sql(expr: str) -> str:
    return f"({base60_sql(expr)} % {P})"


def affine_sql(hb_expr: str, a: int, b: int) -> str:
    return f"(({a} * {hb_expr} + {b}) % {P})"


# -- pure-Python reference (for value pins; no Spark, no DuckDB) -------------


def base60_py(s: str) -> int:
    return int(hashlib.md5(s.encode("utf-8")).hexdigest()[:15], 16)


def basep_py(s: str) -> int:
    return base60_py(s) % P


def minhash_py(shingles: list[str], params: list[tuple[int, int]]) -> list[int]:
    hbs = [basep_py(s) for s in shingles]
    return [min((a * hb + b) % P for hb in hbs) for a, b in params]
