"""Round-12 operator batch 15: ordinal effect size, equivalence
testing, ordered-alternative inference, and a liquidity ratio.

- Cliff's delta: the ordinal dominance effect size between two groups
  from exact rank arithmetic — the magnitude companion to
  q_mann_whitney's significance.
- TOST equivalence: two one-sided Welch tests against a ±margin — the
  procedure that can conclude "these two groups are the SAME", which
  no significance test (q_ttest_welch) can.
- Jonckheere–Terpstra: the ordered-alternative k-sample test — a
  monotone shift across ordered groups, via a single sort with
  per-group running counts (no pairwise group joins).
- Amivest liquidity ratio: Σvolume/Σ|r| — the depth-per-price-move
  inverse of q_amihud_illiquidity, completing the liquidity family.

Reference scope: the reference's BigQuery tier is the analytics surface
these extend (dump_bigq.py:135-149 delegates all querying).

Determinism: rank/pair counts are exact integers (deterministic
tie-breaks); moment and |r| sums are split sums; every statistic is an
identical double tree under the portable floor round.
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
)
from stockmarketdata_dwb_etl_spark.functions.exact import (
    portable_round,
    split_term_sum,
    sql_split_term_sum,
)
from stockmarketdata_dwb_etl_spark.registry import query

# ---------------------------------------------------------------------------
# Cliff's delta
# ---------------------------------------------------------------------------


@query(
    "q_cliff_delta",
    oracle="""
    WITH x AS (
        SELECT CASE WHEN o_orderstatus = 'F' THEN 1 ELSE 0 END AS s,
               o_totalprice AS v, o_orderkey AS tb
        FROM orders WHERE o_orderstatus IN ('F', 'O')
    ),
    ranked AS (
        SELECT s, v,
               CAST(row_number() OVER (ORDER BY v, tb) AS BIGINT) AS r,
               CAST(row_number() OVER (PARTITION BY s ORDER BY v, tb)
                    AS BIGINT) AS i
        FROM x
    ),
    g AS (
        SELECT CAST(SUM(CASE WHEN s = 1 THEN 1 ELSE 0 END) AS BIGINT)
                   AS n1,
               CAST(SUM(CASE WHEN s = 0 THEN 1 ELSE 0 END) AS BIGINT)
                   AS n0,
               CAST(SUM(CASE WHEN s = 1 THEN r - i ELSE 0 END)
                    AS BIGINT) AS u1
        FROM ranked
    )
    SELECT n1, n0, u1 AS u_mann_whitney,
           CAST((CAST(floor(CAST((2.0 * u1
                / (CAST(n1 AS DOUBLE) * n0) - 1.0) AS DOUBLE)
                * 1000000.0 + 0.5) AS DOUBLE) / 1000000.0) AS DOUBLE)
               AS cliff_delta
    FROM g
    """,
)
def q_cliff_delta(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cliff's delta between finalized and open order values: δ =
    2U/(n₁n₀) − 1 where U is the Mann–Whitney count of (finalized >
    open) pairs, computed from exact joint ranks (r − within-group
    rank = how many of the OTHER group precede each element; the
    order-key tie-break makes ties engine-identical rather than
    half-counted — documented convention). δ ∈ [−1, 1] is the
    probability-of-superiority effect size q_mann_whitney's p-value
    does not convey. Scales: one global + one per-group rank (rank.py
    posture at corpus scale) + a 1-row agg."""
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
    g = ranked.agg(
        F.sum(F.when(F.col("s") == 1, 1).otherwise(0))
        .cast("bigint")
        .alias("n1"),
        F.sum(F.when(F.col("s") == 0, 1).otherwise(0))
        .cast("bigint")
        .alias("n0"),
        F.sum(F.when(F.col("s") == 1, F.col("r") - F.col("i")).otherwise(0))
        .cast("bigint")
        .alias("u1"),
    )
    delta = F.lit(2.0) * F.col("u1") / (
        F.col("n1").cast("double") * F.col("n0")
    ) - F.lit(1.0)
    return g.select(
        "n1",
        "n0",
        F.col("u1").alias("u_mann_whitney"),
        portable_round(delta, 6).cast("double").alias("cliff_delta"),
    )


# ---------------------------------------------------------------------------
# TOST equivalence test
# ---------------------------------------------------------------------------

# equivalence margin on mean order value — identical literal both sides
_TOST_MARGIN = 2000.0


@query(
    "q_tost_equivalence",
    oracle=f"""
    WITH x AS (
        SELECT CASE WHEN o_orderstatus = 'F' THEN 1 ELSE 0 END AS s,
               o_totalprice AS v
        FROM orders WHERE o_orderstatus IN ('F', 'O')
    ),
    g AS (
        SELECT s,
               CAST(COUNT(*) AS BIGINT) AS n,
               {sql_split_term_sum("v", 12, 2)} AS sv,
               {sql_split_term_sum("v * v", 12, 0)} AS svv
        FROM x GROUP BY s
    ),
    w AS (
        SELECT MAX(CASE WHEN s = 1 THEN sv / n END)
               - MAX(CASE WHEN s = 0 THEN sv / n END) AS dmean,
               sqrt(MAX(CASE WHEN s = 1 THEN
                        (svv / n - (sv / n) * (sv / n)) / (n - 1) END)
                    + MAX(CASE WHEN s = 0 THEN
                        (svv / n - (sv / n) * (sv / n)) / (n - 1) END))
                   AS se,
               CAST(SUM(n) AS BIGINT) AS n_total
        FROM g
    )
    SELECT n_total,
           CAST((CAST(floor(CAST((dmean) AS DOUBLE) * 10000.0 + 0.5)
                AS DOUBLE) / 10000.0) AS DOUBLE) AS mean_diff,
           CAST((CAST(floor(CAST(((dmean + {_TOST_MARGIN}) / se)
                AS DOUBLE) * 10000.0 + 0.5) AS DOUBLE) / 10000.0)
                AS DOUBLE) AS z_lower,
           CAST((CAST(floor(CAST(((dmean - {_TOST_MARGIN}) / se)
                AS DOUBLE) * 10000.0 + 0.5) AS DOUBLE) / 10000.0)
                AS DOUBLE) AS z_upper,
           (dmean + {_TOST_MARGIN}) / se > 1.6448536269514722
           AND (dmean - {_TOST_MARGIN}) / se < -1.6448536269514722
               AS equivalent_at_5pct
    FROM w
    """,
)
def q_tost_equivalence(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TOST equivalence test on mean order value between finalized and
    open orders (margin ±2000): two one-sided Welch z tests — lower
    bound z₁ = (Δ+m)/SE must exceed +z₀.₀₅ AND upper bound z₂ =
    (Δ−m)/SE must fall below −z₀.₀₅ to conclude EQUIVALENCE — the
    inferential direction q_ttest_welch cannot take (failing to
    reject ≠ equivalent). Welch moments from split sums; the z
    threshold is an identical literal. Scales: one 2-group hash-agg."""
    o = load_table(spark, sf_dir, "orders")
    x = o.filter(F.col("o_orderstatus").isin("F", "O")).select(
        F.when(F.col("o_orderstatus") == "F", 1).otherwise(0).alias("s"),
        F.col("o_totalprice").alias("v"),
    )
    g = x.groupBy("s").agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        split_term_sum(F.col("v"), 12, 2).alias("sv"),
        split_term_sum(F.col("v") * F.col("v"), 12, 0).alias("svv"),
    )
    mean = F.col("sv") / F.col("n")
    sem2 = (F.col("svv") / F.col("n") - mean * mean) / (F.col("n") - 1)
    w = g.agg(
        (
            F.max(F.when(F.col("s") == 1, mean))
            - F.max(F.when(F.col("s") == 0, mean))
        ).alias("dmean"),
        F.sqrt(
            F.max(F.when(F.col("s") == 1, sem2))
            + F.max(F.when(F.col("s") == 0, sem2))
        ).alias("se"),
        F.sum("n").cast("bigint").alias("n_total"),
    )
    zl = (F.col("dmean") + F.lit(_TOST_MARGIN)) / F.col("se")
    zu = (F.col("dmean") - F.lit(_TOST_MARGIN)) / F.col("se")
    zcrit = F.lit(1.6448536269514722)
    return w.select(
        "n_total",
        portable_round(F.col("dmean"), 4).cast("double").alias("mean_diff"),
        portable_round(zl, 4).cast("double").alias("z_lower"),
        portable_round(zu, 4).cast("double").alias("z_upper"),
        ((zl > zcrit) & (zu < -zcrit)).alias("equivalent_at_5pct"),
    )


# ---------------------------------------------------------------------------
# Jonckheere-Terpstra ordered-alternative test
# ---------------------------------------------------------------------------


@query(
    "q_jonckheere",
    oracle="""
    WITH x AS (
        SELECT CAST(SUBSTRING(o_orderpriority, 1, 1) AS BIGINT) AS grp,
               o_totalprice AS v, o_orderkey AS tb
        FROM orders
    ),
    scanned AS (
        SELECT grp,
               SUM(CASE WHEN grp = 1 THEN 1 ELSE 0 END)
                   OVER w AS c1,
               SUM(CASE WHEN grp = 2 THEN 1 ELSE 0 END)
                   OVER w AS c2,
               SUM(CASE WHEN grp = 3 THEN 1 ELSE 0 END)
                   OVER w AS c3,
               SUM(CASE WHEN grp = 4 THEN 1 ELSE 0 END)
                   OVER w AS c4
        FROM x
        WINDOW w AS (ORDER BY v, tb
                     ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
    ),
    j AS (
        SELECT CAST(SUM(CASE WHEN grp = 2 THEN COALESCE(c1, 0)
                             WHEN grp = 3 THEN COALESCE(c1, 0)
                                               + COALESCE(c2, 0)
                             WHEN grp = 4 THEN COALESCE(c1, 0)
                                               + COALESCE(c2, 0)
                                               + COALESCE(c3, 0)
                             WHEN grp = 5 THEN COALESCE(c1, 0)
                                               + COALESCE(c2, 0)
                                               + COALESCE(c3, 0)
                                               + COALESCE(c4, 0)
                             ELSE 0 END) AS BIGINT) AS jstat
        FROM scanned
    ),
    sizes AS (
        SELECT CAST(SUM(cnt) AS BIGINT) AS n,
               CAST(SUM(CAST(cnt AS BIGINT) * cnt) AS BIGINT) AS sn2,
               CAST(SUM(CAST(cnt AS BIGINT) * cnt * (2 * cnt + 3))
                    AS BIGINT) AS sn23
        FROM (SELECT COUNT(*) AS cnt FROM x GROUP BY grp)
    )
    SELECT j.jstat, s.n,
           CAST((CAST(floor(CAST(((CAST(s.n AS DOUBLE) * s.n - s.sn2)
                / 4.0) AS DOUBLE) * 10000.0 + 0.5) AS DOUBLE)
                / 10000.0) AS DOUBLE) AS mean_j,
           CAST((CAST(floor(CAST(((j.jstat - (CAST(s.n AS DOUBLE) * s.n
                   - s.sn2) / 4.0)
                / sqrt((CAST(s.n AS DOUBLE) * s.n * (2 * s.n + 3)
                        - s.sn23) / 72.0)) AS DOUBLE) * 10000.0 + 0.5)
                AS DOUBLE) / 10000.0) AS DOUBLE) AS z_approx
    FROM j CROSS JOIN sizes s
    """,
)
def q_jonckheere(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Jonckheere–Terpstra ordered-alternative test across the five
    priority groups on order value: J = Σ_{i<j} #(x_i < x_j) computed
    in ONE sorted pass — running per-group counts over the strictly-
    preceding frame (order-key tie-break), each element adding the
    count of lower-ordered-group predecessors — no pairwise group
    joins. z from the classic moments mean = (N²−Σnᵢ²)/4 and var =
    (N²(2N+3)−Σnᵢ²(2nᵢ+3))/72. All counts exact integers. The
    directional k-sample test beside q_kruskal_wallis (omnibus) and
    q_cochran_armitage (binary rates). Scales: one global sort
    (rank.py posture at corpus scale) carrying k running counters +
    1-row aggs."""
    o = load_table(spark, sf_dir, "orders")
    x = o.select(
        F.substring("o_orderpriority", 1, 1).cast("bigint").alias("grp"),
        F.col("o_totalprice").alias("v"),
        F.col("o_orderkey").alias("tb"),
    )
    w = Window.orderBy("v", "tb").rowsBetween(Window.unboundedPreceding, -1)
    cs = [
        F.sum(F.when(F.col("grp") == k, 1).otherwise(0))
        .over(w)
        .alias(f"c{k}")
        for k in range(1, 5)
    ]
    scanned = x.select("grp", *cs)
    contrib = (
        F.when(F.col("grp") == 2, F.coalesce("c1", F.lit(0)))
        .when(
            F.col("grp") == 3,
            F.coalesce("c1", F.lit(0)) + F.coalesce("c2", F.lit(0)),
        )
        .when(
            F.col("grp") == 4,
            F.coalesce("c1", F.lit(0))
            + F.coalesce("c2", F.lit(0))
            + F.coalesce("c3", F.lit(0)),
        )
        .when(
            F.col("grp") == 5,
            F.coalesce("c1", F.lit(0))
            + F.coalesce("c2", F.lit(0))
            + F.coalesce("c3", F.lit(0))
            + F.coalesce("c4", F.lit(0)),
        )
        .otherwise(F.lit(0))
    )
    j = scanned.agg(F.sum(contrib).cast("bigint").alias("jstat"))
    sizes = (
        x.groupBy("grp")
        .agg(F.count(F.lit(1)).alias("cnt"))
        .agg(
            F.sum("cnt").cast("bigint").alias("n"),
            F.sum(F.col("cnt").cast("bigint") * F.col("cnt"))
            .cast("bigint")
            .alias("sn2"),
            F.sum(
                F.col("cnt").cast("bigint")
                * F.col("cnt")
                * (2 * F.col("cnt") + 3)
            )
            .cast("bigint")
            .alias("sn23"),
        )
    )
    jx = j.crossJoin(F.broadcast(sizes))
    n = F.col("n")
    mean_j = (n.cast("double") * n - F.col("sn2")) / F.lit(4.0)
    var_j = (
        n.cast("double") * n * (2 * n + 3) - F.col("sn23")
    ) / F.lit(72.0)
    return jx.select(
        "jstat",
        "n",
        portable_round(mean_j, 4).cast("double").alias("mean_j"),
        portable_round((F.col("jstat") - mean_j) / F.sqrt(var_j), 4)
        .cast("double")
        .alias("z_approx"),
    )


# ---------------------------------------------------------------------------
# Amivest liquidity ratio
# ---------------------------------------------------------------------------


@query(
    "q_amivest_liquidity",
    oracle=f"""
    WITH bars AS ({sql_ohlcv_bars("hour", "close", "volume")}),
    seq AS (
        SELECT symbol, volume,
               abs({sql_simple_return("(PARTITION BY symbol ORDER BY bar_ts)")})
                   AS abs_r
        FROM bars
        QUALIFY abs_r IS NOT NULL
    )
    SELECT symbol,
           CAST(COUNT(*) AS BIGINT) AS n_bars,
           CAST(SUM(volume) AS BIGINT) AS total_volume,
           CAST(CASE WHEN ({sql_split_term_sum("abs_r", 12, 8)}) = 0 THEN NULL
                ELSE (CAST(floor(CAST((CAST(SUM(volume) AS DOUBLE)
                      / ({sql_split_term_sum("abs_r", 12, 8)})) AS DOUBLE)
                      * 10000.0 + 0.5) AS DOUBLE) / 10000.0) END
                AS DOUBLE) AS amivest
    FROM seq GROUP BY symbol ORDER BY symbol
    """,
)
def q_amivest_liquidity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Amivest liquidity ratio per symbol: Σvolume / Σ|r| — how much
    volume the market absorbs per unit of price movement, the
    depth-side inverse of q_amihud_illiquidity's price-impact mean
    (the two need not rank symbols identically because Amihud averages
    per-bar ratios while Amivest ratios the totals). Volume totals
    are exact integers; the |r| mass is a split sum; a move-free
    series yields NULL. Scales: one bar hash-agg + one lag window +
    one per-symbol agg."""
    ev = load_table(spark, sf_dir, "events")
    bars = ohlcv_bars(ev, "hour", "close", "volume")
    w = Window.partitionBy("symbol").orderBy("bar_ts")
    seq = bars.select(
        "symbol",
        "volume",
        F.abs(simple_return(w)).alias("abs_r"),
    ).filter(F.col("abs_r").isNotNull())
    g = seq.groupBy("symbol").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_bars"),
        F.sum("volume").cast("bigint").alias("total_volume"),
        split_term_sum(F.col("abs_r"), 12, 8).alias("sr"),
    )
    return (
        g.select(
            "symbol",
            "n_bars",
            "total_volume",
            F.when(F.col("sr") == 0, F.lit(None).cast("double"))
            .otherwise(
                portable_round(
                    F.col("total_volume").cast("double") / F.col("sr"), 4
                )
            )
            .cast("double")
            .alias("amivest"),
        )
        .orderBy("symbol")
    )
