"""Deterministic floating aggregates for the differential-oracle contract.

Summing doubles is order-dependent; at 100 TB a partial-aggregation tree in
Spark and a single-threaded DuckDB scan WILL disagree beyond 4 decimals on
billion-scale sums. Policy (SURVEY.md §2B determinism): per-row arithmetic
stays in double (bit-identical across engines), then the value is cast to
DECIMAL for the exact, order-independent summation, rounded to 4 decimals,
and cast back to double. The matching oracle-side SQL fragments are provided
by :func:`sql_exact_sum` / :func:`sql_exact_avg`.

This costs one decimal conversion per row in exchange for scale-independent
determinism — a deliberate trade the engine only makes in the oracle-checked
query surface; interactive pipelines are free to use plain double aggs.

Rounded-term sums. Every other exact Σ in the package goes through the
helpers below, each a Spark Column builder paired with the DuckDB text
that builds the identical computation: round each double term with the
portable floor form at n digits, accumulate exactly in DECIMAL, emit
DOUBLE. The rules they share, stated once:

- Round-trip bound: n must keep |term|·10ⁿ < 2^53 ≈ 9.0e15, not merely
  under the int64 9.2e18 bound where Spark's BIGINT ``floor`` saturates.
  Past 2^53 the rounded k/10ⁿ no longer round-trips through a double's
  ≤17 significant digits, so Spark's shortest-repr double→DECIMAL and
  DuckDB's float-scaled conversion produce different approximations
  (observed: q_anova_hod s_g ~1e6-scale terms at 12dp flipped an 8dp
  output round). 12dp holds to |term| < ~9e3 and 8dp to |term| < ~9e7;
  terms with a wider dynamic range use :func:`split_term_sum`. The same
  bound holds for the total, |Σ|·10ⁿ < 2^53: DuckDB's DECIMAL(38,n) →
  DOUBLE cast is not correctly rounded above it (a 24962.669977337202
  total at 12dp comes back as 24962.6699773372, one ulp off Spark).
- Cast scale equals rounding digits: a rounded k/10ⁿ converts exactly at
  scale n on both engines, while DuckDB's double→DECIMAL(38,18) goes
  through float scaling and mangles sub-precision digits (the
  q_levene_bf sf0.1 divergence).
- Two-long-bucket sums (:func:`hilo_term_sum`) need n ≥ 6 and both
  BIGINT bucket sums under 2^63: BIGINT sums wrap silently under
  non-ANSI, so each call site states its term bound.
- In-array folds (:func:`fold_term_sum`) accumulate at precision 28, not
  38, so every fold step stays exact.

Every helper takes n explicitly: the digit count is a per-call-site
decision from the term's magnitude bound, and the Spark and DuckDB sides
of one query must name the same n.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F
from pyspark.sql.window import WindowSpec

# 38 total digits, 6 fractional: holds sums over ~1e13 rows of ~1e12-scale
# values without overflow while keeping sub-cent precision.
_DEC = "decimal(38,6)"


def exact_sum(col: Column, alias: str) -> Column:
    """Order-independent SUM: exact decimal accumulation, round 4, double."""
    return F.round(F.sum(col.cast(_DEC)), 4).cast("double").alias(alias)


def exact_avg(col: Column, alias: str) -> Column:
    """Order-independent AVG: exact decimal sum, cast to double, then a
    single double division — the identical op order as the oracle fragment,
    so both engines produce the same bits before the 4-dp round."""
    return (
        F.round(F.sum(col.cast(_DEC)).cast("double") / F.count(col), 4)
        .cast("double")
        .alias(alias)
    )


def sql_exact_sum(expr: str, alias: str) -> str:
    """DuckDB fragment equivalent to :func:`exact_sum`."""
    return f"CAST(ROUND(SUM(CAST(({expr}) AS DECIMAL(38,6))), 4) AS DOUBLE) AS {alias}"


def sql_exact_avg(expr: str, alias: str) -> str:
    """DuckDB fragment equivalent to :func:`exact_avg`."""
    return (
        f"CAST(ROUND(CAST(SUM(CAST(({expr}) AS DECIMAL(38,6))) AS DOUBLE)"
        f" / COUNT({expr}), 4) AS DOUBLE) AS {alias}"
    )


def portable_round(col: Column | str, ndigits: int = 0) -> Column:
    """Half-boundary-portable ROUND for doubles built from an IDENTICAL
    expression tree on both engines.

    Engine-native ROUND(double, n) disagrees exactly at half boundaries:
    Spark rounds the shortest-decimal representation (BigDecimal
    HALF_UP), DuckDB rounds the scaled double — a value landing on
    x.xxx5 can flip the last digit differently per engine (observed at
    sf0.1 on the stochastic oscillator: 35.74135 -> 35.7414 vs
    35.7413). ``floor(x·10^n + 0.5)/10^n`` uses only bit-deterministic
    double ops, so identical input bits give the identical rounded
    double on BOTH engines — pair it with :func:`sql_portable_round`.
    Half-up for positive values (floor(+0.5) rounds halves toward +inf;
    use only where sign is known or either direction is acceptable —
    what matters for the differential is that both engines agree)."""
    if isinstance(col, str):
        col = F.col(col)
    scale = float(10**ndigits)
    return (
        F.floor(col.cast("double") * F.lit(scale) + F.lit(0.5)).cast("double")
        / F.lit(scale)
    )


def sql_portable_round(expr: str, ndigits: int) -> str:
    """DuckDB fragment equivalent to :func:`portable_round`."""
    scale = float(10**ndigits)
    return f"(CAST(floor(CAST(({expr}) AS DOUBLE) * {scale} + 0.5) AS DOUBLE) / {scale})"


def term(col: Column | str, n: int) -> Column:
    """One rounded term: n-dp portable round, cast DECIMAL(38,n)."""
    return portable_round(col, n).cast(f"decimal(38,{n})")


def sql_term(expr: str, n: int) -> str:
    """DuckDB twin of :func:`term`."""
    return f"CAST({sql_portable_round(expr, n)} AS DECIMAL(38,{n}))"


def term_sum(col: Column | str, n: int) -> Column:
    """Order-independent Σ of double terms: exact DECIMAL(38,n) sum of
    the n-dp rounded terms, DOUBLE out. A plain double SUM depends on
    accumulation order (DuckDB's scan order vs Spark's partial
    aggregation tree) and can differ by an ulp, enough to flip a later
    rounded threshold or argmin; this Σ is bit-identical however the
    rows arrive."""
    return F.sum(term(col, n)).cast("double")


def sql_term_sum(expr: str, n: int) -> str:
    """DuckDB twin of :func:`term_sum`: accumulates in DECIMAL(38,n)."""
    return f"CAST(SUM({sql_term(expr, n)}) AS DOUBLE)"


def split_term_sum(
    col: Column | str, fine: int, coarse: int, window: WindowSpec | None = None
) -> Column:
    """Two-bucket :func:`term_sum` for terms with a wide dynamic range:
    |x| < 1 terms round at ``fine`` dp and |x| ≥ 1 terms at ``coarse``
    dp, each bucket summed exactly at its own scale, the two added as
    doubles. Each bucket keeps the round-trip bound on its own (coarse=8
    holds to |x| < 9e7) while sub-1 terms keep full fine-dp precision.
    The branch predicate compares identical doubles, so both engines
    split identically. With ``window`` both bucket sums run over the
    same frame, so the second bucket costs no extra sort."""
    if isinstance(col, str):
        col = F.col(col)

    def bucket_sum(in_bucket: Column, n: int) -> Column:
        s = F.sum(
            F.when(in_bucket, term(col, n)).otherwise(
                F.lit(0).cast(f"decimal(38,{n})")
            )
        )
        return (s if window is None else s.over(window)).cast("double")

    return bucket_sum(F.abs(col) < 1.0, fine) + bucket_sum(F.abs(col) >= 1.0, coarse)


def sql_split_term_sum(
    expr: str, fine: int, coarse: int, over: str | None = None
) -> str:
    """DuckDB twin of :func:`split_term_sum`; ``over`` is the full
    ``OVER ...`` clause text (e.g. ``"OVER f"``) of the windowed form."""
    small = (
        f"CASE WHEN abs({expr}) < 1.0 THEN {sql_term(expr, fine)}"
        f" ELSE CAST(0 AS DECIMAL(38,{fine})) END"
    )
    big = (
        f"CASE WHEN abs({expr}) >= 1.0 THEN {sql_term(expr, coarse)}"
        f" ELSE CAST(0 AS DECIMAL(38,{coarse})) END"
    )
    frame = f" {over}" if over else ""
    return (
        f"(CAST(SUM({small}){frame} AS DOUBLE)"
        f" + CAST(SUM({big}){frame} AS DOUBLE))"
    )


_HILO_SPLIT = 1_000_000  # 10^6 — hi/lo split point of the scaled term


def hilo_term_sum(col: Column, n: int) -> tuple[Column, Column]:
    """Two-long-bucket form of :func:`term_sum` for hot aggregations:
    the scaled term k = floor(x·10ⁿ + 0.5), the exact integer the
    DECIMAL(38,n) path accumulates, splits into hi = (k − k mod 10⁶)/10⁶
    and lo = k mod 10⁶, each summed as a plain BIGINT. The per-row cost
    drops from a BigDecimal construction and add to two primitive long
    adds inside whole-stage codegen; :func:`hilo_finish` reassembles the
    exact value once per group.

    Σk = 10⁶·Σhi + Σlo exactly (pmod keeps lo ∈ [0, 10⁶) for either
    sign), and the finisher rebuilds Σk/10ⁿ in exact DECIMAL before one
    double cast, so the result is the double :func:`term_sum` returns.
    With |x| < 1 and n = 12 each bucket term is < 10⁶, which holds to
    ~9.2e12 rows per group; wider terms need the bound rechecked."""
    if n < 6:
        raise ValueError(f"hilo_term_sum needs n >= 6, got {n}")
    k = F.floor(col.cast("double") * F.lit(float(10**n)) + F.lit(0.5))
    lo = F.pmod(k, F.lit(_HILO_SPLIT))
    # (k − lo) is an exact multiple of 10⁶ and < 2^53, so the double
    # division is exact and the bigint cast lossless
    hi = ((k - lo) / F.lit(float(_HILO_SPLIT))).cast("bigint")
    return F.sum(hi), F.sum(lo)


def hilo_finish(hi_sum: Column, lo_sum: Column, n: int) -> Column:
    """Finisher for :func:`hilo_term_sum`: Σhi/10ⁿ⁻⁶ + Σlo/10ⁿ in exact
    DECIMAL, one double cast. Both divisions are exact: the dividends
    are bigints cast to DECIMAL(20,0) and the result scales (8 and
    n+2 ≥ n) cover every fractional digit the quotients can have, so no
    HALF_UP rounding ever fires; the final addition is exact at scale
    max and precision ≤ 35 < 38. Runs once per group."""
    hi_dec = hi_sum.cast("decimal(20,0)") / F.lit(10 ** (n - 6)).cast(
        f"decimal({n - 5},0)"
    )
    lo_dec = lo_sum.cast("decimal(20,0)") / F.lit(10**n).cast(
        f"decimal({n + 1},0)"
    )
    return (hi_dec + lo_dec).cast("double")


def fold_term_sum(arr: Column, ndigits: int) -> Column:
    """Spark twin of :func:`sql_term_sum` for in-array folds (zip_with /
    transform products): round each element, fold in exact DECIMAL,
    emit DOUBLE. Precision 28 (NOT 38) is load-bearing: (28,n)+(28,n)
    promotes to (29,n), under Spark's 38 cap, so every fold step is
    EXACT; at precision 38 the addition overflows to 39 and Spark
    silently REDUCES the result scale to n-1, half-up-rounding every
    step while DuckDB's list_sum stays exact (observed as a +29e-10
    drift on q_cci's 20-element frames at scale 10). The cast back on
    the lambda result re-closes the accumulator type; it never rounds
    because the scale is preserved and |acc| stays far below
    10^(28-n) for every rounded-term fold in the repo."""
    dec = f"decimal(28,{ndigits})"
    return F.aggregate(
        arr,
        F.lit(0).cast(dec),
        lambda acc, x: (acc + portable_round(x, ndigits).cast(dec)).cast(dec),
    ).cast("double")
