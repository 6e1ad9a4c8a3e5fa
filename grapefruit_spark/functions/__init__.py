"""Shared column builders — all JVM-side (no Python row UDFs).

These are the engine's scalar "functions" library: text normalization,
tokenization, n-grams, hashing/fingerprints, and vector math. Everything
returns a Column so Catalyst can fold it into whole-stage codegen; the
expensive sketches (minhash/simhash) stay inside higher-order functions
over arrays rather than exploding rows.
"""

from __future__ import annotations

import re

from pyspark.sql import Column
from pyspark.sql import functions as F


def materialize_ctes(sql: str) -> str:
    """Rewrite every CTE head ``name AS (`` to ``name AS MATERIALIZED (``.

    The unrolled-iteration oracles (PCA power steps, ridge GD, BPE
    merges, PQ Lloyd chains) reference each step's CTE more than once;
    DuckDB 1.0 INLINES non-materialized CTEs per reference, so a
    16-step chain whose step is referenced twice expands to 2^16 scans
    of the base parquet — "Too many open files" long before any row is
    produced. Materializing evaluates each step exactly once (the same
    cost shape as the Spark side).

    The rewrite is ANCHORED to CTE heads (ADVICE_r12): an identifier
    followed by ``AS (`` that is itself preceded by ``WITH`` or the
    comma closing the previous CTE (comment lines allowed in between).
    The earlier blanket ``\\bAS\\s+\\(`` rewrite would also fire inside
    a string literal or expression context of any EMBEDDED oracle —
    these composed strings nest other operators' full oracle texts."""
    return re.sub(
        r"((?:\bWITH\b|,)(?:\s|--[^\n]*\n)*)([A-Za-z_]\w*\s+)AS\s+\(",
        r"\1\2AS MATERIALIZED (",
        sql,
    )

# ---------------------------------------------------------------- text

#: whitespace-splitting regex shared with oracle SQL (DuckDB '\s+')
WS_RE = r"\s+"

#: BPE-ish token regex: words / numbers / single punctuation marks.
#: Kept RE2-compatible so DuckDB's regexp_extract_all agrees with Spark's.
BPE_RE = r"[A-Za-z]+|[0-9]+|[^A-Za-z0-9\s]"


def normalize_text(col: Column) -> Column:
    """lower + trim + collapse whitespace — canonical form for dedup."""
    return F.regexp_replace(F.lower(F.trim(col)), WS_RE, " ")


def ws_tokens(col: Column) -> Column:
    """Whitespace tokens of trimmed text (empty input → empty array)."""
    return F.filter(F.split(F.trim(col), WS_RE), lambda t: t != "")


def word_ngrams(tokens: Column, n: int) -> Column:
    """Word-level n-gram shingles (space-joined) from a token array.

    Built as n−1 zip_with folds over shifted slices — element-wise
    concat, no per-gram slice() allocation. The naive
    transform(sequence, i -> array_join(slice(tokens, i+1, n)))
    formulation re-slices the token array per gram (O(len·n) copies per
    doc) and measures ~6× slower on the documents corpus. Docs shorter
    than n yield an empty array (every slice length is 0).
    """
    m = F.greatest(F.lit(0), F.size(tokens) - (n - 1))
    out = F.slice(tokens, 1, m)
    for k in range(1, n):
        out = F.zip_with(
            out, F.slice(tokens, k + 1, m), lambda a, b: F.concat_ws(" ", a, b)
        )
    return out


# ---------------------------------------------------------------- hashing

def md5_fingerprint(col: Column) -> Column:
    """md5 of normalized text — DuckDB md5() agrees byte-for-byte."""
    return F.md5(normalize_text(col))


def md5_hash60(col: Column, salt: str = "") -> Column:
    """Engine-portable 60-bit integer hash: the first 15 hex digits of
    md5(col || salt) as a non-negative bigint. md5 agrees byte-for-byte
    across Spark and DuckDB, so any hash-family computation built on
    this (MinHash permutations, SimHash bit votes) is SQL-mirrorable —
    the property that lets the LSH dedup operators be oracle-checked.
    ~2× the cost of xxhash64 per call; the signature stages hash each
    token once, so the delta is a fraction of those operators' time.
    """
    base = F.concat(col, F.lit(salt)) if salt else col
    return F.conv(F.substring(F.md5(base), 1, 15), 16, 10).cast("bigint")


def md5_hash60_sql(expr: str, salt: str = "") -> str:
    """DuckDB twin of :func:`md5_hash60` (same 60-bit value)."""
    inner = f"{expr} || '{salt}'" if salt else expr
    return f"('0x' || substring(md5({inner}), 1, 15))::BIGINT"


# Mersenne prime for the (a*h + b) mod p permutation family. 31-bit so
# a*h stays under 2^62 — no int64 overflow (Spark ANSI mode throws on it).
MINHASH_P = (1 << 31) - 1


def hash_param(seed: int, i: int) -> int:
    """Deterministic 61-bit pseudo-random parameter (python-side constant)."""
    x = (seed * 0x9E3779B97F4A7C15 + i * 0xBF58476D1CE4E5B9) & ((1 << 64) - 1)
    x ^= x >> 31
    x = (x * 0x94D049BB133111EB) & ((1 << 64) - 1)
    x ^= x >> 29
    return x & ((1 << 31) - 1)


def band_keys(sig: Column, bands: int, rows: int) -> Column:
    """LSH band keys: array of ``bands`` strings "band_i:hash(rows-slice)".

    Prefixing the band index salts the shuffle key space so one hot band
    value can't concentrate a partition at scale.
    """
    return F.array(
        *[
            F.concat_ws(
                ":",
                F.lit(str(i)),
                F.xxhash64(F.array_join(F.slice(sig, i * rows + 1, rows), ",")).cast("string"),
            )
            for i in range(bands)
        ]
    )


# ---------------------------------------------------------------- vectors

def cosine_similarity(a: Column, b: Column) -> Column:
    """Cosine similarity of two float arrays, computed in double.

    zip_with + aggregate keeps the O(d) loop inside codegen — no UDF, no
    explode — so a 1e9-row ANN verify stage stays JVM-bound.
    """
    ad = F.transform(a, lambda x: x.cast("double"))
    bd = F.transform(b, lambda x: x.cast("double"))
    dot = F.aggregate(
        F.zip_with(ad, bd, lambda x, y: x * y), F.lit(0.0), lambda acc, x: acc + x
    )
    na = F.sqrt(F.aggregate(F.transform(ad, lambda x: x * x), F.lit(0.0), lambda acc, x: acc + x))
    nb = F.sqrt(F.aggregate(F.transform(bd, lambda x: x * x), F.lit(0.0), lambda acc, x: acc + x))
    # try_divide: a zero/degenerate vector yields NULL instead of an ANSI
    # DIVIDE_BY_ZERO that would abort a full-corpus job for one bad row
    return F.try_divide(dot, na * nb)


def rolling_hash(col: Column, window: int = 16, base: int = 257, mod: int = (1 << 31) - 1) -> Column:
    """Polynomial rolling hash of the first ``window`` chars (codegen-side).

    Used as a cheap secondary fingerprint next to md5 (D10).
    """
    chars = F.slice(F.split(col, ""), 1, window)
    return F.aggregate(
        chars,
        F.lit(0).cast("bigint"),
        lambda acc, c: (acc * F.lit(base) + F.coalesce(F.ascii(c).cast("bigint"), F.lit(0)))
        % F.lit(mod),
    )


# ---------------------------------------------------------------- numeric

#: Oracle-side twin of :func:`dec_sum` — format with the summand expression
#: and round scale: DEC_SUM_SQL.format(expr="l_extendedprice * (1-l_discount)", scale=2)
DEC_SUM_SQL = "round(sum(({expr})::DECIMAL(18,6)), {scale})::DOUBLE"


def dec_sum(col: Column | str, scale: int = 2) -> Column:
    """Order-independent rounded sum of a double expression.

    IEEE double addition is not associative, so ``round(sum(double), 2)``
    can flip on a .xx5 boundary depending on partitioning/merge order —
    the round-1 ``events_sessionize`` hash flake. Casting each addend to
    DECIMAL(38,6) first makes the sum exact and associative on any
    partitioning; the rounded result is cast back to double (the
    decimal→double conversion is a deterministic nearest-value map, the
    same in Spark and DuckDB). The oracle twin is ``DEC_SUM_SQL`` — both
    sides must cast identically or parity breaks by construction.

    DOMAIN CAP: the per-addend DECIMAL(18,6) cast holds |value| < 10¹²;
    a larger addend NULLs out (ANSI off) or throws (ANSI on). Fine for
    monetary magnitudes; an operator summing unbounded non-monetary
    quantities should cast to a wider decimal explicitly instead of
    inheriting this helper's cap.
    """
    c = F.col(col) if isinstance(col, str) else col
    # (18,6) not (38,6): per-addend decimals with precision ≤ 18 stay
    # LONG-backed inside codegen (a 128-bit BigDecimal add per row costs
    # ~2× on wide aggregates like Q1); 18,6 still holds any per-row
    # monetary value up to 10¹², and the sum's buffer type (28,6) only
    # widens the accumulator, not the per-row fast path. Values are
    # identical to the (38,6) cast — same nearest-6dp rounding per addend.
    return F.round(F.sum(c.cast("decimal(18,6)")), scale).cast("double")


def dec_avg(col: Column | str, scale: int = 4) -> Column:
    """Order-independent rounded average of a double expression.

    Same rationale as :func:`dec_sum`: the decimal partial sums are exact
    under any partitioning; the single decimal→double cast and the final
    double division are deterministic scalar ops, so the rounded average
    can never flip with shuffle layout. (Dividing decimal-by-count
    directly is avoided because Spark and DuckDB derive different result
    scales for decimal division.)
    """
    c = F.col(col) if isinstance(col, str) else col
    dc = c.cast("decimal(18,6)")  # long-backed per-row path; see dec_sum
    return F.round(F.sum(dc).cast("double") / F.count(dc), scale)


def spark_percentile_sql(q: str, v: str = "v", i: str = "i", n: str = "n") -> str:
    """DuckDB aggregate fragment that reproduces Spark ``percentile``
    BIT-EXACTLY over a ranked CTE with columns ``{i}`` (0-based
    row_number ordered by the value), ``{n}`` (partition count) and
    ``{v}`` (the value, DOUBLE).

    DuckDB's ``quantile_cont`` uses a different interpolation expression
    (``lo + (hi-lo)*frac``) than Spark's ``Percentile``
    (``(ceil(pos)-pos)*lo + (pos-floor(pos))*hi``, Percentile.scala
    ``getPercentile``); the two can differ in the last ulp, which is
    enough to flip a rounded emission or a threshold comparison on
    richer data. Mirroring Spark's exact op sequence makes both engines
    produce the same IEEE double: the SUM folds the (at most two)
    non-zero weighted terms plus exact ``0.0``s, and IEEE addition with
    zero and two-term commutativity keep it identical to Spark's
    ``a*w1 + b*w2``.
    """
    # DuckDB parses a bare numeric literal as DECIMAL — cast to DOUBLE so
    # position arithmetic is the same IEEE sequence Spark runs
    pos = f"(CAST({q} AS DOUBLE) * ({n} - 1))"
    return (
        f"sum(CASE "
        f"WHEN CAST(floor({pos}) AS BIGINT) = CAST(ceil({pos}) AS BIGINT) "
        f"THEN CASE WHEN {i} = CAST(floor({pos}) AS BIGINT) THEN {v} ELSE 0.0 END "
        f"WHEN {i} = CAST(floor({pos}) AS BIGINT) THEN (ceil({pos}) - {pos}) * {v} "
        f"WHEN {i} = CAST(ceil({pos}) AS BIGINT) THEN ({pos} - floor({pos})) * {v} "
        f"ELSE 0.0 END)"
    )
