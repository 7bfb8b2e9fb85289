"""Round-12 operator batch 14: post-hoc rank comparisons, a
distribution-equality U-statistic, and the multiple-testing toolkit
beyond Benjamini–Hochberg.

- Dunn's post-hoc test: pairwise mean-rank z comparisons AFTER
  q_kruskal_wallis rejects — which groups actually differ.
- Cramér–von Mises two-sample criterion: the all-quantile
  distribution-equality statistic from exact joint ranks (more
  sensitive in the middle than q_ks_test's single supremum).
- Storey's π₀: the estimated fraction of true nulls from the flat tail
  of the p-value histogram — the quantity that decides whether an
  FDR sweep is worth running at all.
- Benjamini–Yekutieli: the dependence-proof FDR cutoff (BH's α·i/m
  shrunk by the harmonic number) — reported beside BH on the SAME
  hypothesis family so the price of dependence-robustness is visible.

Reference scope: the reference's BigQuery tier is the analytics surface
these extend (dump_bigq.py:135-149 delegates all querying).

Determinism: all ranks and counts are exact integers (deterministic
tie-breaks); per-cell moment sums are split sums; p-values route
through the A&S Φ with 8dp portable rounds before any ordering
decision (the q_fdr_bh discipline).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from stockmarketdata_dwb_etl_spark.catalog import load_table
from stockmarketdata_dwb_etl_spark.functions.bars import (
    ohlcv_bars,
    simple_return,
    sql_ohlcv_bars,
    sql_simple_return,
    sql_tick_key,
    tick_key,
)
from stockmarketdata_dwb_etl_spark.functions.exact import (
    portable_round,
    split_term_sum,
    sql_portable_round,
    sql_split_term_sum,
    sql_term_sum,
    term_sum,
)
from stockmarketdata_dwb_etl_spark.queries.dataops17 import (
    _duck_p_two,
    _spark_p_two,
)
from stockmarketdata_dwb_etl_spark.registry import query

# ---------------------------------------------------------------------------
# Dunn's post-hoc pairwise rank test
# ---------------------------------------------------------------------------


@query(
    "q_dunn_posthoc",
    oracle=f"""
    WITH ranked AS (
        SELECT event_type AS grp,
               CAST(row_number() OVER (ORDER BY value, {sql_tick_key()})
                    AS BIGINT) AS rk,
               CAST(COUNT(*) OVER () AS BIGINT) AS n
        FROM events
    ),
    g AS (
        SELECT grp, CAST(MAX(n) AS BIGINT) AS n,
               CAST(COUNT(*) AS BIGINT) AS n_g,
               CAST(SUM(rk) AS BIGINT) AS sr
        FROM ranked GROUP BY grp
    ),
    pairs AS (
        SELECT a.grp AS grp_a, b.grp AS grp_b, a.n,
               a.n_g AS n_a, b.n_g AS n_b,
               CAST(a.sr AS DOUBLE) / a.n_g
               - CAST(b.sr AS DOUBLE) / b.n_g AS dmean
        FROM g a JOIN g b ON a.grp < b.grp
    )
    SELECT grp_a, grp_b, n_a, n_b,
           CAST((CAST(floor(CAST((dmean
                / sqrt(CAST(n AS DOUBLE) * (n + 1) / 12.0
                       * (1.0 / n_a + 1.0 / n_b))) AS DOUBLE)
                * 10000.0 + 0.5) AS DOUBLE) / 10000.0) AS DOUBLE)
               AS z_dunn
    FROM pairs ORDER BY grp_a, grp_b
    """,
)
def q_dunn_posthoc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dunn's post-hoc test across event types on value: pooled ranks
    with the padded (ts, event_id) tie-break (engine-exact), per-group
    mean ranks, and for every pair z = (R̄_a − R̄_b)/√(N(N+1)/12 ·
    (1/n_a + 1/n_b)) — the follow-up that says WHICH groups differ
    after q_kruskal_wallis's omnibus rejection. Rank sums are exact
    integers; the z is one double tree. Scales: one global rank
    (operators/rank.py at corpus scale) + a k-row group agg + the
    k²-bounded pair join."""
    ev = load_table(spark, sf_dir, "events")
    wall = Window.partitionBy().rowsBetween(
        Window.unboundedPreceding, Window.unboundedFollowing
    )
    ranked = ev.select(
        F.col("event_type").alias("grp"),
        F.row_number()
        .over(Window.orderBy("value", tick_key()))
        .cast("bigint")
        .alias("rk"),
        F.count(F.lit(1)).over(wall).cast("bigint").alias("n"),
    )
    g = ranked.groupBy("grp").agg(
        F.max("n").cast("bigint").alias("n"),
        F.count(F.lit(1)).cast("bigint").alias("n_g"),
        F.sum("rk").cast("bigint").alias("sr"),
    )
    a = g.select(
        F.col("grp").alias("grp_a"),
        F.col("n"),
        F.col("n_g").alias("n_a"),
        F.col("sr").alias("sr_a"),
    )
    b = g.select(
        F.col("grp").alias("grp_b"),
        F.col("n_g").alias("n_b"),
        F.col("sr").alias("sr_b"),
    )
    pairs = a.crossJoin(b).filter(F.col("grp_a") < F.col("grp_b"))
    dmean = F.col("sr_a").cast("double") / F.col("n_a") - F.col(
        "sr_b"
    ).cast("double") / F.col("n_b")
    se = F.sqrt(
        F.col("n").cast("double")
        * (F.col("n") + 1)
        / F.lit(12.0)
        * (F.lit(1.0) / F.col("n_a") + F.lit(1.0) / F.col("n_b"))
    )
    return pairs.select(
        "grp_a",
        "grp_b",
        "n_a",
        "n_b",
        portable_round(dmean / se, 4).cast("double").alias("z_dunn"),
    ).orderBy("grp_a", "grp_b")


# ---------------------------------------------------------------------------
# Cramér-von Mises two-sample criterion
# ---------------------------------------------------------------------------


@query(
    "q_cramer_von_mises",
    oracle="""
    WITH x AS (
        SELECT CASE WHEN o_orderstatus = 'F' THEN 1 ELSE 0 END AS s,
               o_totalprice AS v, o_orderkey AS tb
        FROM orders WHERE o_orderstatus IN ('F', 'O')
    ),
    ranked AS (
        SELECT s,
               CAST(row_number() OVER (ORDER BY v, tb) AS BIGINT) AS r,
               CAST(row_number() OVER (PARTITION BY s ORDER BY v, tb)
                    AS BIGINT) AS i
        FROM x
    ),
    g AS (
        SELECT CAST(SUM(CASE WHEN s = 1 THEN 1 ELSE 0 END) AS BIGINT)
                   AS n,
               CAST(SUM(CASE WHEN s = 0 THEN 1 ELSE 0 END) AS BIGINT)
                   AS m,
               CAST(SUM(CASE WHEN s = 1
                        THEN CAST(r - i AS DECIMAL(19,0))
                             * CAST(r - i AS DECIMAL(19,0))
                        ELSE CAST(0 AS DECIMAL(19,0))
                             * CAST(0 AS DECIMAL(19,0)) END)
                    AS DOUBLE) AS ux,
               CAST(SUM(CASE WHEN s = 0
                        THEN CAST(r - i AS DECIMAL(19,0))
                             * CAST(r - i AS DECIMAL(19,0))
                        ELSE CAST(0 AS DECIMAL(19,0))
                             * CAST(0 AS DECIMAL(19,0)) END)
                    AS DOUBLE) AS uy
        FROM ranked
    )
    SELECT n, m,
           CAST((CAST(floor(CAST((CAST(n AS DOUBLE) * ux
                + CAST(m AS DOUBLE) * uy) AS DOUBLE) * 1.0 + 0.5)
                AS DOUBLE) / 1.0) AS DOUBLE) AS u_stat,
           CAST((CAST(floor(CAST(((CAST(n AS DOUBLE) * ux
                  + CAST(m AS DOUBLE) * uy)
                / (CAST(n AS DOUBLE) * m * (n + m))
                - (4.0 * CAST(n AS DOUBLE) * m - 1.0)
                  / (6.0 * (n + m))) AS DOUBLE) * 1000000.0 + 0.5)
                AS DOUBLE) / 1000000.0) AS DOUBLE) AS cvm_t
    FROM g
    """,
)
def q_cramer_von_mises(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cramér–von Mises two-sample criterion between finalized and
    open order values: from joint ranks r and within-sample ranks i
    (both with the order-key tie-break), U = n·Σ(r−i)² over sample 1 +
    m·Σ(r−i)² over sample 2, T = U/(nm(n+m)) − (4nm−1)/(6(n+m)) — the
    integrated squared ECDF gap, sensitive across the WHOLE
    distribution where q_ks_test reads only the single largest gap.
    Everything up to T is exact integer arithmetic. Scales: one
    global + one per-sample rank (rank.py at corpus scale), one 1-row
    agg."""
    o = load_table(spark, sf_dir, "orders")
    x = o.filter(F.col("o_orderstatus").isin("F", "O")).select(
        F.when(F.col("o_orderstatus") == "F", 1).otherwise(0).alias("s"),
        F.col("o_totalprice").alias("v"),
        F.col("o_orderkey").alias("tb"),
    )
    ranked = x.select(
        "s",
        F.row_number()
        .over(Window.orderBy("v", "tb"))
        .cast("bigint")
        .alias("r"),
        F.row_number()
        .over(Window.partitionBy("s").orderBy("v", "tb"))
        .cast("bigint")
        .alias("i"),
    )
    # (r-i)^2 accumulates in exact DECIMAL(38,0) — a plain BIGINT sum
    # (and the n*ux combination) overflows int64 once N reaches ~1e6
    # rows (caught by the x10 scale probe); DECIMAL stays exact to 1e38
    # and converts to double deterministically on both engines
    dd = (F.col("r") - F.col("i")).cast("decimal(19,0)")
    d2 = dd * dd
    zero = F.lit(0).cast("decimal(19,0)") * F.lit(0).cast("decimal(19,0)")
    g = ranked.agg(
        F.sum(F.when(F.col("s") == 1, 1).otherwise(0))
        .cast("bigint")
        .alias("n"),
        F.sum(F.when(F.col("s") == 0, 1).otherwise(0))
        .cast("bigint")
        .alias("m"),
        F.sum(F.when(F.col("s") == 1, d2).otherwise(zero))
        .cast("double")
        .alias("ux"),
        F.sum(F.when(F.col("s") == 0, d2).otherwise(zero))
        .cast("double")
        .alias("uy"),
    )
    n, m = F.col("n"), F.col("m")
    u = n.cast("double") * F.col("ux") + m.cast("double") * F.col("uy")
    t = u / (n.cast("double") * m * (n + m)) - (
        F.lit(4.0) * n.cast("double") * m - F.lit(1.0)
    ) / (F.lit(6.0) * (n + m))
    return g.select(
        "n",
        "m",
        portable_round(u, 0).cast("double").alias("u_stat"),
        portable_round(t, 6).cast("double").alias("cvm_t"),
    )


# ---------------------------------------------------------------------------
# Shared p-value family for the multiple-testing pair: per
# (symbol, hour-of-day) z-tests of zero mean hourly return
# ---------------------------------------------------------------------------

# Over a close-bar relation ``cbars``.
_DUCK_PVALS = f"""
    rets AS (
        SELECT symbol, hour(bar_ts) AS hod,
               {sql_simple_return("(PARTITION BY symbol ORDER BY bar_ts)")} AS r
        FROM cbars
        QUALIFY r IS NOT NULL
    ),
    cells AS (
        SELECT symbol, hod,
               CAST(COUNT(*) AS BIGINT) AS n,
               {{s1}} AS s1,
               {{s2}} AS s2
        FROM rets GROUP BY symbol, hod
    ),
    zt AS (
        SELECT symbol, hod, n,
               CASE WHEN n < 2
                         OR (s2 - s1 * s1 / n) / (n - 1) <= 0 THEN NULL
                    ELSE (s1 / n)
                         / sqrt(((s2 - s1 * s1 / n) / (n - 1)) / n) END
                   AS z
        FROM cells
    ),
    pv AS (
        SELECT symbol, hod, n, z,
               CASE WHEN z IS NULL THEN NULL
                    ELSE {{p}} END AS p
        FROM zt
    )
"""


def _duck_pvals() -> str:
    return _DUCK_PVALS.format(
        s1=sql_split_term_sum("r", 12, 8),
        s2=sql_split_term_sum("r * r", 12, 8),
        p=sql_portable_round(_duck_p_two("z"), 8),
    )


def _spark_pvals(bars: DataFrame) -> DataFrame:
    """Spark twin of :func:`_duck_pvals` over a close-bar frame."""
    w = Window.partitionBy("symbol").orderBy("bar_ts")
    rets = bars.select(
        "symbol",
        F.hour("bar_ts").alias("hod"),
        simple_return(w).alias("r"),
    ).filter(F.col("r").isNotNull())
    cells = rets.groupBy("symbol", "hod").agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        split_term_sum(F.col("r"), 12, 8).alias("s1"),
        split_term_sum(F.col("r") * F.col("r"), 12, 8).alias("s2"),
    )
    n = F.col("n")
    var = (F.col("s2") - F.col("s1") * F.col("s1") / n) / (n - 1)
    z = (F.col("s1") / n) / F.sqrt(var / n)
    zc = F.when((n < 2) | (var <= 0), F.lit(None).cast("double")).otherwise(
        z
    )
    return cells.select(
        "symbol",
        "hod",
        "n",
        zc.alias("z"),
        F.when(zc.isNull(), F.lit(None).cast("double"))
        .otherwise(portable_round(_spark_p_two(zc), 8))
        .alias("p"),
    )


@query(
    "q_storey_pi0",
    oracle=f"""
    WITH cbars AS ({sql_ohlcv_bars("hour", "close")}),
    {_duck_pvals()}
    SELECT CAST(COUNT(p) AS BIGINT) AS m,
           CAST(COUNT(CASE WHEN p > 0.5 THEN 1 END) AS BIGINT)
               AS n_flat_tail,
           CAST((CAST(floor(CAST((least(1.0,
                CAST(COUNT(CASE WHEN p > 0.5 THEN 1 END) AS DOUBLE)
                / (0.5 * COUNT(p)))) AS DOUBLE) * 1000000.0 + 0.5)
                AS DOUBLE) / 1000000.0) AS DOUBLE) AS pi0_hat
    FROM pv WHERE p IS NOT NULL
    """,
)
def q_storey_pi0(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Storey's π₀ estimate over the (symbol, hour-of-day) zero-mean
    z-test family: π̂₀ = #{p > λ}/((1−λ)m) at λ = 0.5, capped at 1 —
    the fraction of hypotheses that are TRUE NULLS, read off the flat
    right tail of the p-value histogram (null p-values are uniform;
    signal piles near 0). The quantity that says whether an FDR sweep
    (q_fdr_bh / q_by_fdr) has anything to find, and the plug-in that
    sharpens BH into the Storey-adaptive procedure. P-values are the
    A&S two-sided Φ at 8dp portable rounds (the q_fdr_bh
    construction). Scales: one bar window + one (symbol, hod)
    hash-agg — the hypothesis family is dimension-bounded."""
    pv = _spark_pvals(
        ohlcv_bars(load_table(spark, sf_dir, "events"), "hour", "close")
    ).filter(F.col("p").isNotNull())
    return pv.agg(
        F.count("p").cast("bigint").alias("m"),
        F.count(F.when(F.col("p") > 0.5, 1)).cast("bigint").alias(
            "n_flat_tail"
        ),
        portable_round(
            F.least(
                F.lit(1.0),
                F.count(F.when(F.col("p") > 0.5, 1)).cast("double")
                / (F.lit(0.5) * F.count("p")),
            ),
            6,
        )
        .cast("double")
        .alias("pi0_hat"),
    )


_BY_ALPHA = 0.10


@query(
    "q_by_fdr",
    oracle=f"""
    WITH cbars AS ({sql_ohlcv_bars("hour", "close")}),
    {_duck_pvals()},
    ranked AS (
        SELECT symbol, hod, p,
               CAST(row_number() OVER (ORDER BY p, symbol, hod)
                    AS BIGINT) AS i,
               CAST(COUNT(*) OVER () AS BIGINT) AS m
        FROM pv WHERE p IS NOT NULL
    ),
    harm AS (
        SELECT {sql_term_sum("1.0 / i", 12)} AS cm FROM ranked
    ),
    cut AS (
        SELECT COALESCE(MAX(CASE WHEN r.p <= {_BY_ALPHA} * r.i
                                      / (r.m * h.cm)
                                 THEN r.i ELSE 0 END), 0) AS j_by,
               COALESCE(MAX(CASE WHEN r.p <= {_BY_ALPHA} * r.i / r.m
                                 THEN r.i ELSE 0 END), 0) AS j_bh
        FROM ranked r CROSS JOIN harm h
    )
    SELECT CAST(MAX(r.m) AS BIGINT) AS m,
           CAST((CAST(floor(CAST((MAX(h.cm)) AS DOUBLE) * 1000000.0
                + 0.5) AS DOUBLE) / 1000000.0) AS DOUBLE) AS harmonic_m,
           CAST(MAX(c.j_bh) AS BIGINT) AS n_rejected_bh,
           CAST(MAX(c.j_by) AS BIGINT) AS n_rejected_by
    FROM ranked r CROSS JOIN harm h CROSS JOIN cut c
    """,
)
def q_by_fdr(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benjamini–Yekutieli FDR control on the same (symbol,
    hour-of-day) hypothesis family: the BH step-up threshold α·i/m
    shrunk by the harmonic number c(m) = Σ1/i, which buys validity
    under ARBITRARY dependence between tests (hour-of-day cells of
    one symbol are correlated through shared days — exactly the case
    BH's independence assumption ignores). Reports the BH and BY
    rejection counts side by side, so the price of
    dependence-robustness is a visible column. Ranks and cutoffs are
    exact; the harmonic sum runs over a dimension-bounded table.
    Scales: identical posture to q_fdr_bh."""
    pv = _spark_pvals(
        ohlcv_bars(load_table(spark, sf_dir, "events"), "hour", "close")
    ).filter(F.col("p").isNotNull())
    wall = Window.partitionBy().rowsBetween(
        Window.unboundedPreceding, Window.unboundedFollowing
    )
    ranked = pv.select(
        "p",
        F.row_number()
        .over(Window.orderBy("p", "symbol", "hod"))
        .cast("bigint")
        .alias("i"),
        F.count(F.lit(1)).over(wall).cast("bigint").alias("m"),
    )
    # the harmonic sum feeds the BY THRESHOLD compare, so it must be
    # bit-identical cross-engine: 12dp rounded-term exact sum
    harm = ranked.agg(term_sum(F.lit(1.0) / F.col("i"), 12).alias("cm"))
    j = ranked.crossJoin(F.broadcast(harm))
    by_ok = F.col("p") <= F.lit(_BY_ALPHA) * F.col("i") / (
        F.col("m") * F.col("cm")
    )
    bh_ok = F.col("p") <= F.lit(_BY_ALPHA) * F.col("i") / F.col("m")
    return j.agg(
        F.max("m").cast("bigint").alias("m"),
        portable_round(F.max("cm"), 6).cast("double").alias("harmonic_m"),
        F.coalesce(
            F.max(F.when(bh_ok, F.col("i"))), F.lit(0)
        )
        .cast("bigint")
        .alias("n_rejected_bh"),
        F.coalesce(
            F.max(F.when(by_ok, F.col("i"))), F.lit(0)
        )
        .cast("bigint")
        .alias("n_rejected_by"),
    )
