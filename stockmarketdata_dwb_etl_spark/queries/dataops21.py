"""Round-12 operator batch 3: survival comparison, causal reweighting,
feature screening, and recency weighting.

- Log-rank test: the two-group survival-curve comparison (Mantel 1966)
  over the q_survival_churn tenure construction — O−E accumulated over
  the shared event-time grid, the standard "did cohort A churn faster"
  hypothesis test beside the KM curve itself.
- IPW ATE: inverse-propensity-weighted (Hajek) average treatment
  effect with stabilized weights and effective-sample-size diagnostics
  — the causal-reweighting estimator beside q_matched_pairs_att /
  q_diff_in_diff / q_cuped_adjustment, with a deterministic
  fixed-weight propensity (the quality-classifier pattern).
- Decision-stump split: the best single Gini-impurity split of a
  numeric feature against a binary label over ventile thresholds —
  the feature-screening primitive (how much signal does this column
  carry?) run before heavier feature selection.
- Freshness decay: exponential recency weights per source with
  effective-sample-size — the "how much CURRENT mass does each source
  contribute" report a freshness-weighted sampler draws from.

Reference scope: the reference's BigQuery tier is the analytics
surface these extend (dump_bigq.py:135-149 delegates all querying).

Determinism: risk sets, event counts, threshold ranks, and label
counts are exact integers; O−E/variance/Gini/weight terms are
identical-tree doubles routed through term_sum at magnitude-bounded
digits; thresholds are exact order statistics over total orders.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from stockmarketdata_dwb_etl_spark.catalog import load_table
from stockmarketdata_dwb_etl_spark.functions.exact import (
    portable_round,
    sql_portable_round,
    sql_term_sum,
    term_sum,
)
from stockmarketdata_dwb_etl_spark.registry import query

# ---------------------------------------------------------------------------
# Log-rank test
# ---------------------------------------------------------------------------

_TENURE_SQL = """
    span AS (
        SELECT o_custkey,
               CAST(o_custkey % 2 AS BIGINT) AS grp,
               (year(MAX(o_orderdate)) - year(MIN(o_orderdate))) * 12
                 + (month(MAX(o_orderdate)) - month(MIN(o_orderdate)))
                   AS tenure,
               date_diff('day', MAX(o_orderdate),
                         (SELECT MAX(o_orderdate) FROM orders))
                   > 90 AS churned
        FROM orders GROUP BY o_custkey
    )
"""


@query(
    "q_logrank_test",
    oracle=f"""
    WITH {_TENURE_SQL},
    times AS (
        SELECT tenure AS t,
               CAST(SUM(CASE WHEN churned THEN 1 ELSE 0 END) AS BIGINT)
                   AS d,
               CAST(SUM(CASE WHEN churned AND grp = 1 THEN 1 ELSE 0 END)
                    AS BIGINT) AS d1
        FROM span GROUP BY tenure
        HAVING SUM(CASE WHEN churned THEN 1 ELSE 0 END) > 0
    ),
    g AS (
        SELECT tenure, CAST(COUNT(*) AS BIGINT) AS c,
               CAST(SUM(CASE WHEN grp = 1 THEN 1 ELSE 0 END) AS BIGINT)
                   AS c1
        FROM span GROUP BY tenure
    ),
    risk AS (
        SELECT t.t, t.d, t.d1,
               CAST(SUM(g.c) AS BIGINT) AS n,
               CAST(SUM(g.c1) AS BIGINT) AS n1
        FROM times t JOIN g ON g.tenure >= t.t
        GROUP BY t.t, t.d, t.d1
    ),
    terms AS (
        SELECT d1, d, n, n1,
               CAST(d AS DOUBLE) * n1 / n AS e1,
               CASE WHEN n <= 1 THEN 0.0
                    ELSE CAST(d AS DOUBLE) * (CAST(n1 AS DOUBLE) / n)
                         * (1.0 - CAST(n1 AS DOUBLE) / n)
                         * (n - d) / (n - 1) END AS v
        FROM risk
    ),
    agg AS (
        SELECT CAST(SUM(d1) AS BIGINT) AS o1,
               {sql_term_sum("e1", 10)} AS e1,
               {sql_term_sum("v", 10)} AS v,
               CAST(COUNT(*) AS BIGINT) AS n_times
        FROM terms
    )
    SELECT n_times, o1,
           CAST({sql_portable_round("e1", 4)} AS DOUBLE) AS e1,
           CAST(CASE WHEN v <= 0 THEN NULL ELSE
               {sql_portable_round("(o1 - e1) * (o1 - e1) / v", 6)} END
               AS DOUBLE) AS chi2
    FROM agg
    """,
)
def q_logrank_test(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Log-rank (Mantel–Cox) test comparing churn survival between the
    even- and odd-custkey cohorts on the q_survival_churn tenure
    construction: at every event tenure, observed group-1 events vs
    the risk-set-proportional expectation, χ² = (O₁−E₁)²/V with the
    hypergeometric variance — the standard two-group survival
    comparison run beside the KM curve. Risk sets and event counts are
    EXACT integers (the risk join is a tenure-grid inequality count,
    calendar-bounded); E and V terms are identical-tree doubles summed
    at 10dp DECIMAL. Scale: one per-customer span agg (the only
    full-data shuffle), then a months-grid × months-grid inequality
    join — both sides calendar-bounded."""
    o = load_table(spark, sf_dir, "orders")
    horizon = o.agg(F.max("o_orderdate").alias("hmax"))
    span = (
        o.groupBy("o_custkey")
        .agg(
            F.min("o_orderdate").alias("first_d"),
            F.max("o_orderdate").alias("last_d"),
        )
        .crossJoin(F.broadcast(horizon))
        .select(
            (F.col("o_custkey") % 2).cast("bigint").alias("grp"),
            (
                (F.year("last_d") - F.year("first_d")) * 12
                + (F.month("last_d") - F.month("first_d"))
            ).alias("tenure"),
            (F.datediff(F.col("hmax"), F.col("last_d")) > 90).alias(
                "churned"
            ),
        )
    )
    # months-grid event table (calendar-bounded)
    times = (
        span.groupBy(F.col("tenure").alias("t"))
        .agg(
            F.sum(F.when(F.col("churned"), 1).otherwise(0))
            .cast("bigint")
            .alias("d"),
            F.sum(
                F.when(F.col("churned") & (F.col("grp") == 1), 1).otherwise(
                    0
                )
            )
            .cast("bigint")
            .alias("d1"),
        )
        .filter(F.col("d") > 0)
    )
    # risk sets via the grid inequality join (both sides months-sized
    # after the per-tenure pre-agg)
    g = span.groupBy("tenure").agg(
        F.count(F.lit(1)).cast("bigint").alias("c"),
        F.sum(F.when(F.col("grp") == 1, 1).otherwise(0))
        .cast("bigint")
        .alias("c1"),
    )
    risk = (
        times.join(F.broadcast(g), g["tenure"] >= times["t"])
        .groupBy("t", "d", "d1")
        .agg(
            F.sum("c").cast("bigint").alias("n"),
            F.sum("c1").cast("bigint").alias("n1"),
        )
    )
    p1 = F.col("n1").cast("double") / F.col("n")
    e1 = F.col("d").cast("double") * p1
    v = F.when(F.col("n") <= 1, F.lit(0.0)).otherwise(
        F.col("d").cast("double")
        * p1
        * (F.lit(1.0) - p1)
        * (F.col("n") - F.col("d"))
        / (F.col("n") - 1)
    )
    agg = risk.agg(
        F.sum("d1").cast("bigint").alias("o1"),
        term_sum(e1, 10).alias("e1"),
        term_sum(v, 10).alias("v"),
        F.count(F.lit(1)).cast("bigint").alias("n_times"),
    )
    return agg.select(
        "n_times",
        "o1",
        portable_round(F.col("e1"), 4).cast("double").alias("e1"),
        F.when(F.col("v") <= 0, F.lit(None).cast("double"))
        .otherwise(
            portable_round(
                (F.col("o1") - F.col("e1"))
                * (F.col("o1") - F.col("e1"))
                / F.col("v"),
                6,
            )
        )
        .cast("double")
        .alias("chi2"),
    )


# ---------------------------------------------------------------------------
# IPW average treatment effect
# ---------------------------------------------------------------------------

_IPW_CLAMP = 0.05


@query(
    "q_ipw_ate",
    oracle=f"""
    WITH base AS (
        SELECT o_totalprice AS y,
               CASE WHEN o_orderpriority = '1-URGENT' THEN 1 ELSE 0 END
                   AS trt,
               least(greatest(
                   1.0 / (1.0 + exp(-(-0.4
                       + 0.1 * CAST(o_custkey % 7 AS DOUBLE)
                       - 0.05 * CAST(month(o_orderdate) AS DOUBLE)))),
                   {_IPW_CLAMP}), 1.0 - {_IPW_CLAMP}) AS e
        FROM orders
    ),
    w AS (
        SELECT y, trt,
               CASE WHEN trt = 1 THEN 1.0 / e ELSE 1.0 / (1.0 - e) END
                   AS wt
        FROM base
    ),
    agg AS (
        SELECT
            {sql_term_sum("CASE WHEN trt = 1 THEN wt ELSE 0.0 END", 8)} AS sw1,
            {sql_term_sum("CASE WHEN trt = 1 THEN wt * y ELSE 0.0 END", 2)} AS swy1,
            {sql_term_sum("CASE WHEN trt = 0 THEN wt ELSE 0.0 END", 8)} AS sw0,
            {sql_term_sum("CASE WHEN trt = 0 THEN wt * y ELSE 0.0 END", 2)} AS swy0,
            {sql_term_sum("CASE WHEN trt = 1 THEN wt * wt ELSE 0.0 END", 8)}
                AS sww1,
            {sql_term_sum("CASE WHEN trt = 0 THEN wt * wt ELSE 0.0 END", 8)}
                AS sww0,
            CAST(SUM(trt) AS BIGINT) AS n1,
            CAST(SUM(1 - trt) AS BIGINT) AS n0
        FROM w
    )
    SELECT n1 AS n_treated, n0 AS n_control,
           CAST({sql_portable_round("swy1 / sw1", 4)} AS DOUBLE)
               AS mean_treated,
           CAST({sql_portable_round("swy0 / sw0", 4)} AS DOUBLE)
               AS mean_control,
           CAST({sql_portable_round("swy1 / sw1 - swy0 / sw0", 4)}
               AS DOUBLE) AS ate,
           CAST({sql_portable_round("sw1 * sw1 / sww1", 2)} AS DOUBLE)
               AS ess_treated,
           CAST({sql_portable_round("sw0 * sw0 / sww0", 2)} AS DOUBLE)
               AS ess_control
    FROM agg
    """,
)
def q_ipw_ate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Inverse-propensity-weighted (Hajek) average treatment effect of
    urgent order priority on order value, with clamped propensities
    and effective-sample-size diagnostics — the causal-reweighting
    estimator beside q_matched_pairs_att (matching) and
    q_diff_in_diff (panel). The propensity is a DETERMINISTIC
    fixed-weight logistic over (custkey mod, order month) — the
    quality-classifier pattern: the fitted model is environment-bound,
    the ESTIMATOR mechanics (stabilized Hajek ratio, overlap clamp at
    [{_IPW_CLAMP}, {1 - _IPW_CLAMP}], ESS = (Σw)²/Σw²) are the
    operator under test. Weight sums round 8dp (w ≤ 20), value-weight
    sums 2dp (w·y ≤ ~1e7 → |term|·1e2 ≪ 2^53), all in exact DECIMAL.
    Scale: one map-side scoring pass + one 1-row agg."""
    o = load_table(spark, sf_dir, "orders")
    z = (
        F.lit(-0.4)
        + F.lit(0.1) * (F.col("o_custkey") % 7).cast("double")
        - F.lit(0.05) * F.month("o_orderdate").cast("double")
    )
    e = F.least(
        F.greatest(
            F.lit(1.0) / (F.lit(1.0) + F.exp(-z)), F.lit(_IPW_CLAMP)
        ),
        F.lit(1.0 - _IPW_CLAMP),
    )
    trt = (F.col("o_orderpriority") == "1-URGENT").cast("int")
    base = o.select(
        F.col("o_totalprice").alias("y"), trt.alias("trt"), e.alias("e")
    )
    wt = F.when(
        F.col("trt") == 1, F.lit(1.0) / F.col("e")
    ).otherwise(F.lit(1.0) / (F.lit(1.0) - F.col("e")))
    w = base.select("y", "trt", wt.alias("wt"))
    t1 = F.col("trt") == 1
    agg = w.agg(
        term_sum(F.when(t1, F.col("wt")).otherwise(F.lit(0.0)), 8).alias("sw1"),
        term_sum(
            F.when(t1, F.col("wt") * F.col("y")).otherwise(F.lit(0.0)), 2
        ).alias("swy1"),
        term_sum(F.when(~t1, F.col("wt")).otherwise(F.lit(0.0)), 8).alias(
            "sw0"
        ),
        term_sum(
            F.when(~t1, F.col("wt") * F.col("y")).otherwise(F.lit(0.0)), 2
        ).alias("swy0"),
        term_sum(
            F.when(t1, F.col("wt") * F.col("wt")).otherwise(F.lit(0.0)), 8
        ).alias("sww1"),
        term_sum(
            F.when(~t1, F.col("wt") * F.col("wt")).otherwise(F.lit(0.0)), 8
        ).alias("sww0"),
        F.sum("trt").cast("bigint").alias("n1"),
        F.sum(F.lit(1) - F.col("trt")).cast("bigint").alias("n0"),
    )
    return agg.select(
        F.col("n1").alias("n_treated"),
        F.col("n0").alias("n_control"),
        portable_round(F.col("swy1") / F.col("sw1"), 4)
        .cast("double")
        .alias("mean_treated"),
        portable_round(F.col("swy0") / F.col("sw0"), 4)
        .cast("double")
        .alias("mean_control"),
        portable_round(
            F.col("swy1") / F.col("sw1") - F.col("swy0") / F.col("sw0"), 4
        )
        .cast("double")
        .alias("ate"),
        portable_round(F.col("sw1") * F.col("sw1") / F.col("sww1"), 2)
        .cast("double")
        .alias("ess_treated"),
        portable_round(F.col("sw0") * F.col("sw0") / F.col("sww0"), 2)
        .cast("double")
        .alias("ess_control"),
    )


# ---------------------------------------------------------------------------
# Decision-stump Gini split
# ---------------------------------------------------------------------------

_STUMP_Q = 20  # ventile thresholds


@query(
    "q_stump_split",
    oracle=f"""
    WITH pts AS (
        SELECT c_acctbal AS x,
               CASE WHEN c_mktsegment = 'BUILDING' THEN 1 ELSE 0 END AS y,
               row_number() OVER (ORDER BY c_acctbal, c_custkey) AS rn,
               COUNT(*) OVER () AS n
        FROM customer
    ),
    thr AS (
        SELECT CAST(k AS BIGINT) AS k, MAX(x) AS thr
        FROM pts, (SELECT UNNEST(generate_series(1, {_STUMP_Q - 1})) AS k)
        WHERE rn = CAST(floor(k * n / {_STUMP_Q}.0) AS BIGINT)
        GROUP BY k
    ),
    cells AS (
        SELECT t.k, t.thr,
               CAST(SUM(CASE WHEN p.x <= t.thr THEN 1 ELSE 0 END)
                    AS BIGINT) AS nl,
               CAST(SUM(CASE WHEN p.x <= t.thr THEN p.y ELSE 0 END)
                    AS BIGINT) AS yl,
               CAST(COUNT(*) AS BIGINT) AS n,
               CAST(SUM(p.y) AS BIGINT) AS ytot
        FROM pts p CROSS JOIN thr t
        GROUP BY t.k, t.thr
    ),
    scored AS (
        SELECT k, thr, nl, n - nl AS nr,
               {sql_portable_round(
                   "(1.0 - (CAST(ytot AS DOUBLE)/n)*(CAST(ytot AS DOUBLE)/n)"
                   " - (1.0 - CAST(ytot AS DOUBLE)/n)"
                   "   * (1.0 - CAST(ytot AS DOUBLE)/n))"
                   " - (CAST(nl AS DOUBLE)/n) * (1.0"
                   "   - (CAST(yl AS DOUBLE)/nl)*(CAST(yl AS DOUBLE)/nl)"
                   "   - (1.0 - CAST(yl AS DOUBLE)/nl)"
                   "     * (1.0 - CAST(yl AS DOUBLE)/nl))"
                   " - (CAST(n - nl AS DOUBLE)/n) * (1.0"
                   "   - (CAST(ytot - yl AS DOUBLE)/(n - nl))"
                   "     * (CAST(ytot - yl AS DOUBLE)/(n - nl))"
                   "   - (1.0 - CAST(ytot - yl AS DOUBLE)/(n - nl))"
                   "     * (1.0 - CAST(ytot - yl AS DOUBLE)/(n - nl)))",
                   8)} AS gain
        FROM cells WHERE nl > 0 AND n - nl > 0
    )
    SELECT k AS threshold_rank, thr AS threshold,
           nl AS n_left, nr AS n_right,
           CAST({sql_portable_round("gain", 6)} AS DOUBLE) AS gini_gain,
           (row_number() OVER (
               ORDER BY {sql_portable_round("gain", 6)} DESC, k) = 1)
               AS is_best
    FROM scored ORDER BY threshold_rank
    """,
)
def q_stump_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Decision-stump feature screen: the Gini-impurity gain of every
    ventile-threshold split of customer balance against the BUILDING-
    segment label, with the argmax flagged — the single-feature signal
    probe (CART's first split) run before heavier feature selection.
    Thresholds are EXACT order statistics (value at rank ⌊k·n/20⌋ over
    the (value, custkey) total order, ranked through the DISTRIBUTED
    global_row_number — no single-reducer window over the data-sized
    customer table); left/right label counts are exact integers from
    one 19-threshold conditional agg; impurities are identical-tree
    doubles rounded 8dp before the 6dp-rounded gain rank
    (threshold-rank tie-break). Scale: one range-shuffle rank + one
    broadcast of 19 thresholds against a map-side scan — the threshold
    grid is CONSTANT, never data-sized."""
    from stockmarketdata_dwb_etl_spark.operators.rank import (
        global_row_number,
    )

    cust = load_table(spark, sf_dir, "customer")
    pts = global_row_number(
        cust.select(
            F.col("c_acctbal").alias("x"),
            (F.col("c_mktsegment") == "BUILDING").cast("int").alias("y"),
            "c_custkey",
        ),
        ["x", "c_custkey"],
        out="rn",
        n_total="n",
    ).select("x", "y", "rn", "n")
    ks = spark.range(1, _STUMP_Q).select(F.col("id").alias("k"))
    thr = (
        pts.crossJoin(F.broadcast(ks))
        .filter(
            F.col("rn")
            == F.floor(
                F.col("k") * F.col("n") / F.lit(float(_STUMP_Q))
            ).cast("bigint")
        )
        .groupBy("k")
        .agg(F.max("x").alias("thr"))
    )
    cells = (
        pts.crossJoin(F.broadcast(thr))
        .groupBy("k", "thr")
        .agg(
            F.sum(F.when(F.col("x") <= F.col("thr"), 1).otherwise(0))
            .cast("bigint")
            .alias("nl"),
            F.sum(F.when(F.col("x") <= F.col("thr"), F.col("y")).otherwise(0))
            .cast("bigint")
            .alias("yl"),
            F.count(F.lit(1)).cast("bigint").alias("n"),
            F.sum("y").cast("bigint").alias("ytot"),
        )
    )

    def gini(y, n):
        p = y.cast("double") / n
        return F.lit(1.0) - p * p - (F.lit(1.0) - p) * (F.lit(1.0) - p)

    nl, nr = F.col("nl"), F.col("n") - F.col("nl")
    gain = (
        gini(F.col("ytot"), F.col("n"))
        - (nl.cast("double") / F.col("n")) * gini(F.col("yl"), nl)
        - (nr.cast("double") / F.col("n"))
        * gini(F.col("ytot") - F.col("yl"), nr)
    )
    scored = cells.filter((nl > 0) & (nr > 0)).select(
        "k",
        "thr",
        nl.alias("n_left"),
        nr.alias("n_right"),
        portable_round(gain, 8).alias("gain"),
    )
    wb = Window.orderBy(portable_round(F.col("gain"), 6).desc(), "k")
    return (
        scored.select(
            F.col("k").alias("threshold_rank"),
            F.col("thr").alias("threshold"),
            "n_left",
            "n_right",
            portable_round(F.col("gain"), 6).cast("double").alias(
                "gini_gain"
            ),
            (F.row_number().over(wb) == 1).alias("is_best"),
        )
        .orderBy("threshold_rank")
    )


# ---------------------------------------------------------------------------
# Freshness decay
# ---------------------------------------------------------------------------

_FRESH_HALF_DAYS = 30.0


@query(
    "q_freshness_decay",
    oracle=f"""
    WITH mx AS (SELECT CAST(MAX(ts) AS DATE) AS hmax FROM events),
    aged AS (
        SELECT event_type,
               (mx.hmax - CAST(ts AS DATE)) AS age_days,
               exp(-(mx.hmax - CAST(ts AS DATE))
                   / {_FRESH_HALF_DAYS}) AS w
        FROM events, mx
    ),
    agg AS (
        SELECT event_type,
               CAST(COUNT(*) AS BIGINT) AS n,
               CAST(SUM(age_days) AS BIGINT) AS sage,
               {sql_term_sum("w", 12)} AS sw,
               {sql_term_sum("w * w", 12)} AS sww
        FROM aged GROUP BY event_type
    ),
    tot AS (SELECT {sql_term_sum("sw", 6)} AS swt FROM agg)
    SELECT event_type, n,
           CAST({sql_portable_round("CAST(sage AS DOUBLE) / n", 4)}
               AS DOUBLE) AS mean_age_days,
           CAST({sql_portable_round("sw", 4)} AS DOUBLE) AS fresh_mass,
           CAST({sql_portable_round("sw * sw / sww", 2)} AS DOUBLE) AS ess,
           CAST({sql_portable_round("sw / t.swt", 6)} AS DOUBLE)
               AS mass_share
    FROM agg, tot t ORDER BY event_type
    """,
)
def q_freshness_decay(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exponential freshness weighting per source: w = exp(−age/30d)
    against the table horizon, reported as per-type decayed mass, its
    share of the total, mean age, and the effective sample size
    (Σw)²/Σw² — the recency profile a freshness-weighted sampler (or
    a retraining-window decision) reads. Ages are EXACT integer days
    (date difference), so exp sees identical rationals; weight sums
    route through 12dp DECIMAL (w ≤ 1). Scale: map-side weighting +
    one type-keyed hash-agg + a types-sized broadcast total."""
    ev = load_table(spark, sf_dir, "events")
    mx = ev.agg(F.max(F.col("ts").cast("date")).alias("hmax"))
    aged = ev.crossJoin(F.broadcast(mx)).select(
        "event_type",
        F.datediff(F.col("hmax"), F.col("ts").cast("date")).alias(
            "age_days"
        ),
    ).select(
        "event_type",
        "age_days",
        F.exp(-F.col("age_days") / F.lit(_FRESH_HALF_DAYS)).alias("w"),
    )
    agg = aged.groupBy("event_type").agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.sum("age_days").cast("bigint").alias("sage"),
        term_sum(F.col("w"), 12).alias("sw"),
        term_sum(F.col("w") * F.col("w"), 12).alias("sww"),
    )
    # type-level sums can reach the row count, so the total re-rounds at
    # 6dp (|sw|·1e6 ≪ 2^53 to ~9e9 rows per type)
    tot = agg.agg(term_sum(F.col("sw"), 6).alias("swt"))
    return (
        agg.crossJoin(F.broadcast(tot))
        .select(
            "event_type",
            "n",
            portable_round(F.col("sage").cast("double") / F.col("n"), 4)
            .cast("double")
            .alias("mean_age_days"),
            portable_round(F.col("sw"), 4).cast("double").alias(
                "fresh_mass"
            ),
            portable_round(F.col("sw") * F.col("sw") / F.col("sww"), 2)
            .cast("double")
            .alias("ess"),
            portable_round(F.col("sw") / F.col("swt"), 6)
            .cast("double")
            .alias("mass_share"),
        )
        .orderBy("event_type")
    )
