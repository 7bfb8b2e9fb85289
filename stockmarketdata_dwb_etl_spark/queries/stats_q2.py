"""Nonparametric / homogeneity statistics battery: Kruskal–Wallis,
Brown–Forsythe (Levene), Wilcoxon signed-rank, Friedman, Grubbs,
Bartlett.

Extends the statistics surface (stats_q.py: chi-square, Welch t,
Mann-Whitney, ANOVA, runs test) with the k-sample rank test, the two
variance-homogeneity tests that gate ANOVA's assumptions, the paired
rank test, the repeated-measures rank test, and the single-outlier
test — the assumption-checking tier a warehouse serves beside its
parametric reports (reference analysis tier: dump_bigq.py:135-149).

Determinism policy: rank statistics stay INTEGER via the histogram
midrank identity (2·midrank = 2·cum_less + t + 1 — the q_mann_whitney
construction) so every rank sum is exact; k-group Σ over double terms
rounds each term to a magnitude-scaled digit count and accumulates it
in exact DECIMAL (functions/exact.py::term — partition-order
independent; digit bounds in that module's docstring); all reported
doubles go through the portable floor round on identical
expression trees.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from stockmarketdata_dwb_etl_spark.catalog import load_table
from stockmarketdata_dwb_etl_spark.functions.bars import (
    OHLCV,
    ohlcv_bars,
    simple_return,
    sql_ohlcv_bars,
    sql_simple_return,
)
from stockmarketdata_dwb_etl_spark.functions.exact import (
    portable_round,
    sql_portable_round,
    sql_term,
    sql_term_sum,
    term,
    term_sum,
)
from stockmarketdata_dwb_etl_spark.operators.cache import bounded_persist
from stockmarketdata_dwb_etl_spark.operators.rank import global_prefix_sum
from stockmarketdata_dwb_etl_spark.registry import query

@query(
    "q_kruskal_wallis",
    oracle=f"""
    WITH hist AS (
        SELECT value, event_type, CAST(COUNT(*) AS BIGINT) AS cnt
        FROM events GROUP BY 1, 2
    ),
    vt AS (
        SELECT value, CAST(SUM(cnt) AS BIGINT) AS t
        FROM hist GROUP BY 1
    ),
    pre AS (
        SELECT value, t,
               CAST(COALESCE(SUM(t) OVER (ORDER BY value
                   ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
                   AS BIGINT) AS cum_less
        FROM vt
    ),
    rj AS (
        SELECT h.event_type,
               CAST(SUM(h.cnt) AS BIGINT) AS nj,
               CAST(SUM(h.cnt * (2 * p.cum_less + p.t + 1)) AS BIGINT) AS s2
        FROM hist h JOIN pre p USING (value)
        GROUP BY 1
    ),
    tot AS (
        SELECT CAST(SUM(nj) AS BIGINT) AS n,
               CAST(COUNT(*) AS BIGINT) AS k
        FROM rj
    ),
    parts AS (
        SELECT n, k,
               {sql_term_sum(
                   "(CAST(s2 AS DOUBLE) / CAST(n + 1 AS DOUBLE))"
                   " * (CAST(s2 AS DOUBLE) / CAST(n AS DOUBLE))"
                   " / (4.0 * CAST(nj AS DOUBLE))", 6)}
                   AS sumnorm
        FROM rj CROSS JOIN tot GROUP BY n, k
    ),
    ties AS (
        SELECT CAST(SUM(t * t * t - t) AS BIGINT) AS tie FROM pre
    ),
    stat AS (
        SELECT n, k,
               12.0 * sumnorm - 3.0 * CAST(n + 1 AS DOUBLE) AS h,
               1.0 - CAST(tie AS DOUBLE)
                   / (CAST(n AS DOUBLE) * CAST(n AS DOUBLE) * CAST(n AS DOUBLE)
                      - CAST(n AS DOUBLE)) AS c
        FROM parts, ties
    )
    SELECT k, n, CAST(k - 1 AS BIGINT) AS df,
           {sql_portable_round("h", 6)} AS h,
           CASE WHEN c <= 0 THEN NULL ELSE {sql_portable_round("h / c", 6)} END AS h_tie_adj
    FROM stat
    """,
)
def q_kruskal_wallis(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Kruskal–Wallis H test: do the k event-type value distributions
    share a location? — the k-sample generalization of q_mann_whitney,
    same histogram-midrank construction: per distinct value, 2·midrank
    = 2·cum_less + t + 1, so each group's rank sum is an EXACT integer
    from one histogram hash-agg + the range-partitioned global prefix
    sum (no single-reducer over data-sized input). H with the standard
    tie correction H/C, C = 1 − Σ(t³−t)/(N³−N). Each group's Rⱼ²/nⱼ
    term is PRE-NORMALIZED by N(N+1) before the 6dp round + DECIMAL Σ
    (so H = 12·Σterm − 3(N+1)): unnormalized terms reach ~njN/4 and
    overflow Spark's int64-saturating floor inside portable_round.
    Scale: (value,group) hash-agg → value-grain prefix sum → k-row
    reduce."""
    ev = load_table(spark, sf_dir, "events")
    # hist feeds BOTH the value-grain rollup and the rank-sum join; pre
    # feeds BOTH the rank-sum join and the tie term — persist each once
    # or the event scan + histogram agg re-execute per consumer.
    hist = bounded_persist(
        ev.groupBy("value", "event_type").agg(
            F.count(F.lit(1)).cast("bigint").alias("cnt")
        ),
        "kw-hist",
    )
    vt = hist.groupBy("value").agg(F.sum("cnt").cast("bigint").alias("t"))
    pre = bounded_persist(
        global_prefix_sum(vt, "t", ["value"], out="cum_less"), "kw-pre"
    )
    rj = (
        hist.join(pre, "value")
        .groupBy("event_type")
        .agg(
            F.sum("cnt").cast("bigint").alias("nj"),
            F.sum(F.col("cnt") * (2 * F.col("cum_less") + F.col("t") + 1))
            .cast("bigint")
            .alias("s2"),
        )
    )
    tot = rj.agg(
        F.sum("nj").cast("bigint").alias("n"),
        F.count(F.lit(1)).cast("bigint").alias("k"),
    )
    term = (
        (F.col("s2").cast("double") / (F.col("n") + 1).cast("double"))
        * (F.col("s2").cast("double") / F.col("n").cast("double"))
        / (F.lit(4.0) * F.col("nj").cast("double"))
    )
    parts = (
        rj.crossJoin(F.broadcast(tot))
        .groupBy("n", "k")
        .agg(term_sum(term, 6).alias("sumnorm"))
    )
    ties = pre.agg(
        F.sum(F.col("t") * F.col("t") * F.col("t") - F.col("t"))
        .cast("bigint")
        .alias("tie")
    )
    st = parts.crossJoin(ties)
    nd = F.col("n").cast("double")
    h = F.lit(12.0) * F.col("sumnorm") - F.lit(3.0) * (F.col("n") + 1).cast(
        "double"
    )
    c = F.lit(1.0) - F.col("tie").cast("double") / (nd * nd * nd - nd)
    return st.select(
        "k",
        "n",
        (F.col("k") - 1).cast("bigint").alias("df"),
        portable_round(h, 6).cast("double").alias("h"),
        F.when(c <= 0, F.lit(None).cast("double"))
        .otherwise(portable_round(h / c, 6))
        .cast("double")
        .alias("h_tie_adj"),
    )


@query(
    "q_levene_bf",
    oracle=f"""
    WITH med AS (
        SELECT event_type, quantile_cont(value, 0.5) AS med
        FROM events GROUP BY 1
    ),
    z AS (
        SELECT e.event_type, abs(e.value - m.med) AS z
        FROM events e JOIN med m USING (event_type)
    ),
    g AS (
        SELECT event_type,
               CAST(COUNT(*) AS BIGINT) AS nj,
               {sql_term_sum("z", 12)} AS sz,
               {sql_term_sum("z * z", 12)} AS szz
        FROM z GROUP BY 1
    ),
    parts AS (
        SELECT CAST(SUM(nj) AS BIGINT) AS n,
               CAST(COUNT(*) AS BIGINT) AS k,
               {sql_term_sum("sz", 8)} AS s,
               {sql_term_sum("nj * (sz / nj) * (sz / nj)", 4)}
                   AS sum_njzb2,
               {sql_term_sum("szz - nj * (sz / nj) * (sz / nj)", 4)} AS ssw
        FROM g
    )
    SELECT k, n,
           {sql_portable_round("sum_njzb2 - n * (s / n) * (s / n)", 8)} AS ss_between,
           {sql_portable_round("ssw", 8)} AS ss_within,
           CASE WHEN ssw <= 0 OR n <= k THEN NULL
                ELSE {sql_portable_round(
                    "((sum_njzb2 - n * (s / n) * (s / n)) / (k - 1))"
                    " / (ssw / (n - k))", 6)} END AS f_stat
    FROM parts
    """,
)
def q_levene_bf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Brown–Forsythe (median-centered Levene) test for equality of
    spread across the k event-type value distributions — the
    variance-homogeneity gate for q_anova_hod's assumptions, in the
    robust median form: zᵢⱼ = |xᵢⱼ − med⁁ⱼ| (exact interpolated
    percentile on both engines), then the one-way ANOVA F on z via
    per-group DECIMAL power sums; per-group double terms round 12dp
    and Σ in DECIMAL. Scale: group medians via per-group exact
    percentile (k-row state), broadcast join-back, one hash-agg."""
    ev = load_table(spark, sf_dir, "events")
    med = ev.groupBy("event_type").agg(
        F.percentile("value", 0.5).alias("med")
    )
    z = ev.join(F.broadcast(med), "event_type").select(
        "event_type", F.abs(F.col("value") - F.col("med")).alias("z")
    )
    # per-row z / z² terms pre-round at 12dp before the DECIMAL Σ:
    # a RAW double→DECIMAL(38,18) cast is engine-divergent in the low
    # digits (Spark casts via the shortest-decimal representation,
    # DuckDB rounds the exact binary expansion — ~1 ulp per row, which
    # 100k-row sums amplified to 1e-8 on ss_between at sf0.1, caught by
    # the r09 9dp canon); rounding first makes the cast input the same
    # rational on both engines
    g = z.groupBy("event_type").agg(
        F.count(F.lit(1)).cast("bigint").alias("nj"),
        term_sum(F.col("z"), 12).alias("sz"),
        term_sum(F.col("z") * F.col("z"), 12)
        .alias("szz"),
    )
    zb = F.col("sz") / F.col("nj")
    parts = g.agg(
        F.sum("nj").cast("bigint").alias("n"),
        F.count(F.lit(1)).cast("bigint").alias("k"),
        term_sum(F.col("sz"), 8).alias("s"),
        term_sum(F.col("nj") * zb * zb, 4).alias("sum_njzb2"),
        term_sum(F.col("szz") - F.col("nj") * zb * zb, 4)
        .alias("ssw"),
    )
    ssb = (
        F.col("sum_njzb2")
        - F.col("n") * (F.col("s") / F.col("n")) * (F.col("s") / F.col("n"))
    )
    ssw = F.col("ssw")
    return parts.select(
        "k",
        "n",
        portable_round(ssb, 8).cast("double").alias("ss_between"),
        portable_round(ssw, 8).cast("double").alias("ss_within"),
        F.when(
            (ssw <= 0) | (F.col("n") <= F.col("k")), F.lit(None).cast("double")
        )
        .otherwise(
            portable_round(
                (ssb / (F.col("k") - 1)) / (ssw / (F.col("n") - F.col("k"))), 6
            )
        )
        .cast("double")
        .alias("f_stat"),
    )


@query(
    "q_wilcoxon_signed",
    oracle=f"""
    WITH bars AS ({sql_ohlcv_bars("day", *OHLCV)}),
    d AS (
        SELECT symbol, close - open AS d, abs(close - open) AS ad
        FROM bars WHERE close <> open
    ),
    hist AS (
        SELECT symbol, ad,
               CAST(COUNT(*) AS BIGINT) AS t,
               CAST(SUM(CASE WHEN d > 0 THEN 1 ELSE 0 END) AS BIGINT) AS pos
        FROM d GROUP BY 1, 2
    ),
    pre AS (
        SELECT symbol, ad, t, pos,
               CAST(COALESCE(SUM(t) OVER (PARTITION BY symbol ORDER BY ad
                   ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
                   AS BIGINT) AS cum_less
        FROM hist
    ),
    agg AS (
        SELECT symbol,
               CAST(SUM(t) AS BIGINT) AS n,
               CAST(SUM(pos * (2 * cum_less + t + 1)) AS BIGINT) AS s2,
               CAST(SUM(t * t * t - t) AS BIGINT) AS ties
        FROM pre GROUP BY 1
    ),
    stat AS (
        SELECT symbol, n,
               CAST(s2 AS DOUBLE) / 2.0 AS w_plus,
               CAST(n AS DOUBLE) * CAST(n + 1 AS DOUBLE) / 4.0 AS mu,
               CAST(n AS DOUBLE) * CAST(n + 1 AS DOUBLE)
                   * CAST(2 * n + 1 AS DOUBLE) / 24.0
                   - CAST(ties AS DOUBLE) / 48.0 AS var_w
        FROM agg
    )
    SELECT symbol, n, w_plus,
           CASE WHEN var_w <= 0 THEN NULL
                ELSE {sql_portable_round("(w_plus - mu) / sqrt(var_w)", 6)} END AS z
    FROM stat ORDER BY symbol
    """,
)
def q_wilcoxon_signed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Wilcoxon signed-rank test per symbol on the paired daily
    (open, close): did sessions drift up or down, distribution-free? —
    the paired complement to q_mann_whitney (independent samples).
    Zero differences drop (standard practice); |d| midranks stay exact
    integers via the per-symbol histogram identity (2·midrank =
    2·cum_less + t + 1), W⁺ emits at exact .5 resolution, and z uses
    the tie-corrected normal approximation σ² = n(n+1)(2n+1)/24 −
    Σ(t³−t)/48. Scale: daily-bar hash-agg → per-symbol histogram →
    symbol-partition prefix window → k-row reduce."""
    bars = ohlcv_bars(load_table(spark, sf_dir, "events"), "day", *OHLCV)
    d = bars.filter(F.col("close") != F.col("open")).select(
        "symbol",
        (F.col("close") - F.col("open")).alias("d"),
        F.abs(F.col("close") - F.col("open")).alias("ad"),
    )
    hist = d.groupBy("symbol", "ad").agg(
        F.count(F.lit(1)).cast("bigint").alias("t"),
        F.sum(F.when(F.col("d") > 0, 1).otherwise(0))
        .cast("bigint")
        .alias("pos"),
    )
    wp = (
        Window.partitionBy("symbol")
        .orderBy("ad")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    pre = hist.withColumn(
        "cum_less", F.coalesce(F.sum("t").over(wp), F.lit(0)).cast("bigint")
    )
    agg = pre.groupBy("symbol").agg(
        F.sum("t").cast("bigint").alias("n"),
        F.sum(F.col("pos") * (2 * F.col("cum_less") + F.col("t") + 1))
        .cast("bigint")
        .alias("s2"),
        F.sum(F.col("t") * F.col("t") * F.col("t") - F.col("t"))
        .cast("bigint")
        .alias("ties"),
    )
    nd = F.col("n").cast("double")
    w_plus = F.col("s2").cast("double") / 2.0
    mu = nd * (F.col("n") + 1).cast("double") / 4.0
    var_w = (
        nd * (F.col("n") + 1).cast("double") * (2 * F.col("n") + 1).cast("double")
        / 24.0
        - F.col("ties").cast("double") / 48.0
    )
    return (
        agg.select(
            "symbol",
            "n",
            w_plus.alias("w_plus"),
            F.when(var_w <= 0, F.lit(None).cast("double"))
            .otherwise(portable_round((w_plus - mu) / F.sqrt(var_w), 6))
            .cast("double")
            .alias("z"),
        )
        .orderBy("symbol")
    )


@query(
    "q_friedman",
    oracle=f"""
    WITH bars AS ({sql_ohlcv_bars("day", *OHLCV)}),
    x AS (
        SELECT symbol, bar_ts, close / open - 1.0 AS x
        FROM bars WHERE open <> 0
    ),
    kk AS (SELECT CAST(COUNT(DISTINCT symbol) AS BIGINT) AS k FROM x),
    full_days AS (
        SELECT bar_ts FROM x GROUP BY bar_ts
        HAVING COUNT(*) = (SELECT k FROM kk)
    ),
    r AS (
        SELECT symbol,
               2 * rank() OVER (PARTITION BY x.bar_ts ORDER BY x.x)
                   + COUNT(*) OVER (PARTITION BY x.bar_ts, x.x) - 1 AS mr2
        FROM x JOIN full_days USING (bar_ts)
    ),
    rj AS (
        SELECT symbol, CAST(SUM(mr2) AS BIGINT) AS s2,
               CAST(COUNT(*) AS BIGINT) AS b
        FROM r GROUP BY 1
    ),
    parts AS (
        SELECT CAST(COUNT(*) AS BIGINT) AS k,
               CAST(MAX(b) AS BIGINT) AS b,
               CAST(SUM(s2 * s2) AS BIGINT) AS sumsq
        FROM rj
    )
    SELECT k, b,
           {sql_portable_round(
               "3.0 * CAST(sumsq AS DOUBLE)"
               " / (CAST(b AS DOUBLE) * k * (k + 1))"
               " - 3.0 * CAST(b AS DOUBLE) * (k + 1)", 6)} AS chi2_f,
           CASE WHEN k <= 1 OR b = 0 THEN NULL
                ELSE {sql_portable_round(
                    "(3.0 * CAST(sumsq AS DOUBLE)"
                    " / (CAST(b AS DOUBLE) * k * (k + 1))"
                    " - 3.0 * CAST(b AS DOUBLE) * (k + 1))"
                    " / (CAST(b AS DOUBLE) * (k - 1))", 6)} END AS kendall_w
    FROM parts
    """,
)
def q_friedman(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Friedman test: blocks = trading days with ALL k symbols present,
    treatments = symbols, response = the session return close/open − 1.
    Ranks within each day (midrank ties via 2·rank + t − 1, exact
    integers), χ²_F = 12/(bk(k+1))ΣRⱼ² − 3b(k+1) computed from the
    integer doubled-rank sums (3·Σs2ⱼ²/(bk(k+1)) − 3b(k+1)), plus
    Kendall's W = χ²_F/(b(k−1)) — the repeated-measures rank test and
    its agreement effect size. Scale: daily bars are tiny; block
    ranking partitions by day, rank sums hash-agg by symbol."""
    bars = ohlcv_bars(load_table(spark, sf_dir, "events"), "day", *OHLCV)
    x = bars.filter(F.col("open") != 0).select(
        "symbol", "bar_ts", (F.col("close") / F.col("open") - 1.0).alias("x")
    )
    kk = x.agg(F.countDistinct("symbol").cast("bigint").alias("k"))
    day_counts = x.groupBy("bar_ts").agg(F.count(F.lit(1)).alias("cnt"))
    full_days = (
        day_counts.crossJoin(F.broadcast(kk))
        .filter(F.col("cnt") == F.col("k"))
        .select("bar_ts")
    )
    rw = Window.partitionBy("bar_ts").orderBy("x")
    tw = Window.partitionBy("bar_ts", "x")
    r = x.join(F.broadcast(full_days), "bar_ts").select(
        "symbol",
        (2 * F.rank().over(rw) + F.count(F.lit(1)).over(tw) - 1).alias("mr2"),
    )
    rj = r.groupBy("symbol").agg(
        F.sum("mr2").cast("bigint").alias("s2"),
        F.count(F.lit(1)).cast("bigint").alias("b"),
    )
    parts = rj.agg(
        F.count(F.lit(1)).cast("bigint").alias("k"),
        F.max("b").cast("bigint").alias("b"),
        F.sum(F.col("s2") * F.col("s2")).cast("bigint").alias("sumsq"),
    )
    bd = F.col("b").cast("double")
    chi2 = (
        F.lit(3.0)
        * F.col("sumsq").cast("double")
        / (bd * F.col("k") * (F.col("k") + 1))
        - F.lit(3.0) * bd * (F.col("k") + 1)
    )
    return parts.select(
        "k",
        "b",
        portable_round(chi2, 6).cast("double").alias("chi2_f"),
        F.when(
            (F.col("k") <= 1) | (F.col("b") == 0), F.lit(None).cast("double")
        )
        .otherwise(portable_round(chi2 / (bd * (F.col("k") - 1)), 6))
        .cast("double")
        .alias("kendall_w"),
    )


@query(
    "q_grubbs",
    oracle=f"""
    WITH bars AS ({sql_ohlcv_bars("day", *OHLCV)}),
    x AS (
        SELECT symbol, CAST(bar_ts AS DATE) AS day, close / open - 1.0 AS x
        FROM bars WHERE open <> 0
    ),
    m AS (
        SELECT symbol,
               CAST(COUNT(*) AS BIGINT) AS n,
               {sql_term_sum("x", 12)} AS s,
               {sql_term_sum("x * x", 12)} AS ss
        FROM x GROUP BY 1
    ),
    dev AS (
        SELECT x.symbol, x.day, x.x,
               abs(x.x - m.s / m.n) AS dev, m.n, m.s, m.ss
        FROM x JOIN m USING (symbol)
    ),
    top AS (
        SELECT symbol,
               max(struct_pack(d := dev, day := day, x := x)) AS t,
               CAST(MAX(n) AS BIGINT) AS n,
               MAX(s) AS s, MAX(ss) AS ss
        FROM dev GROUP BY symbol
    )
    SELECT symbol, n,
           t.day AS suspect_day,
           {sql_portable_round("t.x", 8)} AS suspect_x,
           CASE WHEN n < 3 OR (ss - s * s / n) / (n - 1) <= 0 THEN NULL
                ELSE {sql_portable_round(
                    "t.d / sqrt((ss - s * s / n) / (n - 1))", 6)} END AS g
    FROM top ORDER BY symbol
    """,
)
def q_grubbs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Grubbs' single-outlier statistic per symbol on daily session
    returns: G = max|xᵢ − x̄|/s — is the most extreme session an
    outlier under normality? Returns the suspect day and its return.
    Moments in exact DECIMAL; the arg-max is a lexicographic struct
    max on (deviation, day, x) — tie-deterministic on both engines.
    Scale: one hash-agg for moments, broadcast join-back (k-row
    build), one struct-max hash-agg."""
    bars = ohlcv_bars(load_table(spark, sf_dir, "events"), "day", *OHLCV)
    x = bars.filter(F.col("open") != 0).select(
        "symbol",
        F.col("bar_ts").cast("date").alias("day"),
        (F.col("close") / F.col("open") - 1.0).alias("x"),
    )
    m = x.groupBy("symbol").agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        term_sum(F.col("x"), 12).alias("s"),
        term_sum(F.col("x") * F.col("x"), 12)
        .alias("ss"),
    )
    dev = x.join(F.broadcast(m), "symbol").select(
        "symbol",
        "day",
        "x",
        F.abs(F.col("x") - F.col("s") / F.col("n")).alias("dev"),
        "n",
        "s",
        "ss",
    )
    top = dev.groupBy("symbol").agg(
        F.max(
            F.struct(
                F.col("dev").alias("d"), F.col("day").alias("day"), F.col("x").alias("x")
            )
        ).alias("t"),
        F.max("n").cast("bigint").alias("n"),
        F.max("s").alias("s"),
        F.max("ss").alias("ss"),
    )
    var = (F.col("ss") - F.col("s") * F.col("s") / F.col("n")) / (F.col("n") - 1)
    return (
        top.select(
            "symbol",
            "n",
            F.col("t.day").alias("suspect_day"),
            portable_round(F.col("t.x"), 8).cast("double").alias("suspect_x"),
            F.when((F.col("n") < 3) | (var <= 0), F.lit(None).cast("double"))
            .otherwise(portable_round(F.col("t.d") / F.sqrt(var), 6))
            .cast("double")
            .alias("g"),
        )
        .orderBy("symbol")
    )


@query(
    "q_bartlett",
    oracle=f"""
    WITH g AS (
        SELECT event_type,
               CAST(COUNT(*) AS BIGINT) AS nj,
               {sql_term_sum("value", 12)} AS s,
               {sql_term_sum("value * value", 12)}
                   AS ss
        FROM events GROUP BY 1
        HAVING COUNT(*) > 1
    ),
    v AS (
        SELECT event_type, nj,
               (ss - s * s / nj) / (nj - 1) AS var_j
        FROM g
    ),
    parts AS (
        SELECT CAST(SUM(nj) AS BIGINT) AS n,
               CAST(COUNT(*) AS BIGINT) AS k,
               CAST(MIN(var_j) AS DOUBLE) AS min_var,
               {sql_term_sum("(nj - 1) * var_j", 6)} AS sp_num,
               {sql_term_sum("(nj - 1) * ln(var_j)", 8)}
                   AS sum_lnv,
               {sql_term_sum("1.0 / (nj - 1)", 12)} AS sum_inv
        FROM v
    )
    SELECT k, n,
           CASE WHEN min_var <= 0 OR n <= k OR k < 2 THEN NULL
                ELSE {sql_portable_round(
                    "((n - k) * ln(sp_num / (n - k)) - sum_lnv)"
                    " / (1.0 + (sum_inv - 1.0 / (n - k))"
                    "   / (3.0 * (k - 1)))", 6)} END AS chi2,
           CAST(k - 1 AS BIGINT) AS df
    FROM parts
    """,
)
def q_bartlett(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bartlett's test for equal variances across the k event-type
    value distributions — the parametric (normality-assuming) sibling
    of q_levene_bf: χ² = [(N−k)·ln(Sp²) − Σ(nⱼ−1)ln(Sⱼ²)]/C with the
    standard correction C = 1 + (Σ1/(nⱼ−1) − 1/(N−k))/(3(k−1)).
    Group variances from exact DECIMAL power sums; the three k-group
    Σ terms round 12dp and accumulate in DECIMAL; ln stays within the
    repo's cross-libm tolerance (6dp portable round on the scalar).
    Any non-positive group variance → NULL (test inapplicable).
    Scale: one hash-agg, k-row reduce."""
    ev = load_table(spark, sf_dir, "events")
    g = (
        ev.groupBy("event_type")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("nj"),
            term_sum(F.col("value"), 12).alias("s"),
            term_sum(F.col("value") * F.col("value"), 12)
            .alias("ss"),
        )
        .filter(F.col("nj") > 1)
    )
    var_j = (F.col("ss") - F.col("s") * F.col("s") / F.col("nj")) / (
        F.col("nj") - 1
    )
    v = g.select("event_type", "nj", var_j.alias("var_j"))
    parts = v.agg(
        F.sum("nj").cast("bigint").alias("n"),
        F.count(F.lit(1)).cast("bigint").alias("k"),
        F.min("var_j").cast("double").alias("min_var"),
        term_sum((F.col("nj") - 1) * F.col("var_j"), 6)
        .alias("sp_num"),
        term_sum((F.col("nj") - 1) * F.log("var_j"), 8)
        .alias("sum_lnv"),
        term_sum(F.lit(1.0) / (F.col("nj") - 1), 12)
        .alias("sum_inv"),
    )
    nk = (F.col("n") - F.col("k")).cast("double")
    chi2 = (
        nk * F.log(F.col("sp_num") / nk) - F.col("sum_lnv")
    ) / (
        F.lit(1.0)
        + (F.col("sum_inv") - F.lit(1.0) / nk)
        / (F.lit(3.0) * (F.col("k") - 1).cast("double"))
    )
    return parts.select(
        "k",
        "n",
        F.when(
            (F.col("min_var") <= 0)
            | (F.col("n") <= F.col("k"))
            | (F.col("k") < 2),
            F.lit(None).cast("double"),
        )
        .otherwise(portable_round(chi2, 6))
        .cast("double")
        .alias("chi2"),
        (F.col("k") - 1).cast("bigint").alias("df"),
    )


@query(
    "q_cochran_q",
    oracle=f"""
    WITH bars AS ({sql_ohlcv_bars("day", *OHLCV)}),
    x AS (
        SELECT symbol, bar_ts,
               CASE WHEN close > open THEN 1 ELSE 0 END AS up
        FROM bars
    ),
    kk AS (SELECT CAST(COUNT(DISTINCT symbol) AS BIGINT) AS k FROM x),
    full_days AS (
        SELECT bar_ts FROM x GROUP BY bar_ts
        HAVING COUNT(*) = (SELECT k FROM kk)
    ),
    xf AS (SELECT x.* FROM x JOIN full_days USING (bar_ts)),
    cj AS (
        SELECT symbol, CAST(SUM(up) AS BIGINT) AS c FROM xf GROUP BY 1
    ),
    ri AS (
        SELECT bar_ts, CAST(SUM(up) AS BIGINT) AS r FROM xf GROUP BY 1
    ),
    parts AS (
        SELECT (SELECT CAST(COUNT(*) AS BIGINT) FROM cj) AS k,
               (SELECT CAST(COUNT(*) AS BIGINT) FROM ri) AS b,
               (SELECT CAST(SUM(c) AS BIGINT) FROM cj) AS n,
               (SELECT CAST(SUM(c * c) AS BIGINT) FROM cj) AS scc,
               (SELECT CAST(SUM(r * r) AS BIGINT) FROM ri) AS srr
    )
    SELECT k, b, n,
           CASE WHEN k * n - srr = 0 THEN NULL
                ELSE {sql_portable_round(
                    "CAST(k - 1 AS DOUBLE) * (k * scc - CAST(n AS DOUBLE) * n)"
                    " / (CAST(k AS DOUBLE) * n - srr)", 6)} END AS q,
           CAST(k - 1 AS BIGINT) AS df
    FROM parts
    """,
)
def q_cochran_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cochran's Q test on the binary up-day indicator (close > open)
    across the k symbols over complete trading days — do the symbols
    share the same up-day probability, the binary-response companion
    to q_friedman: Q = (k−1)[k·ΣCⱼ² − N²]/(kN − ΣRᵢ²) from column
    (symbol) and row (day) success totals. EVERY input to Q is an
    exact integer (no rank, no float accumulation anywhere); only the
    final ratio is double, on an identical tree. Degenerate margin
    (all rows all-up/all-down ⇒ kN = ΣRᵢ²) → NULL. Scale: two tiny
    hash-aggs over the daily-bar table."""
    bars = ohlcv_bars(load_table(spark, sf_dir, "events"), "day", *OHLCV)
    # x feeds kk + day counts + the block join, and the gated table
    # feeds both margin aggs — persist each or the tick→bar agg
    # re-executes once per consumer.
    x = bounded_persist(
        bars.select(
            "symbol",
            "bar_ts",
            F.when(F.col("close") > F.col("open"), 1).otherwise(0).alias("up"),
        ),
        "cq-updays",
    )
    kk = x.agg(F.countDistinct("symbol").cast("bigint").alias("k"))
    full_days = (
        x.groupBy("bar_ts")
        .agg(F.count(F.lit(1)).alias("cnt"))
        .crossJoin(F.broadcast(kk))
        .filter(F.col("cnt") == F.col("k"))
        .select("bar_ts")
    )
    xf = bounded_persist(
        x.join(F.broadcast(full_days), "bar_ts"), "cq-full-blocks"
    )
    cj = xf.groupBy("symbol").agg(F.sum("up").cast("bigint").alias("c"))
    ri = xf.groupBy("bar_ts").agg(F.sum("up").cast("bigint").alias("r"))
    cagg = cj.agg(
        F.count(F.lit(1)).cast("bigint").alias("k"),
        F.sum("c").cast("bigint").alias("n"),
        F.sum(F.col("c") * F.col("c")).cast("bigint").alias("scc"),
    )
    ragg = ri.agg(
        F.count(F.lit(1)).cast("bigint").alias("b"),
        F.sum(F.col("r") * F.col("r")).cast("bigint").alias("srr"),
    )
    parts = cagg.crossJoin(ragg)
    denom = (
        F.col("k").cast("double") * F.col("n") - F.col("srr").cast("double")
    )
    q = (
        (F.col("k") - 1).cast("double")
        * (
            F.col("k") * F.col("scc")
            - F.col("n").cast("double") * F.col("n")
        )
        / denom
    )
    return parts.select(
        "k",
        "b",
        "n",
        F.when(
            F.col("k") * F.col("n") - F.col("srr") == 0,
            F.lit(None).cast("double"),
        )
        .otherwise(portable_round(q, 6))
        .cast("double")
        .alias("q"),
        (F.col("k") - 1).cast("bigint").alias("df"),
    )


@query(
    "q_moments",
    oracle=f"""
    WITH mo AS (
        SELECT event_type,
               CAST(COUNT(*) AS BIGINT) AS n,
               {sql_term_sum("value", 12)} AS s1,
               {sql_term_sum("value * value", 12)}
                   AS s2,
               {sql_term_sum("value * value * value", 10)} AS s3,
               {sql_term_sum("value * value * value * value", 7)} AS s4
        FROM events GROUP BY 1
    ),
    c AS (
        SELECT event_type, n,
               s1 / n AS m1,
               s2 / n - (s1 / n) * (s1 / n) AS m2,
               s3 / n - 3.0 * (s1 / n) * (s2 / n)
                   + 2.0 * (s1 / n) * (s1 / n) * (s1 / n) AS m3,
               s4 / n - 4.0 * (s1 / n) * (s3 / n)
                   + 6.0 * (s1 / n) * (s1 / n) * (s2 / n)
                   - 3.0 * (s1 / n) * (s1 / n) * (s1 / n) * (s1 / n) AS m4
        FROM mo
    )
    SELECT event_type, n,
           {sql_portable_round("m1", 6)} AS mean,
           {sql_portable_round("sqrt(m2)", 6)} AS stddev_pop,
           CASE WHEN m2 <= 0 THEN NULL
                ELSE {sql_portable_round("m3 / (sqrt(m2) * sqrt(m2) * sqrt(m2))", 6)} END
               AS skewness,
           CASE WHEN m2 <= 0 THEN NULL
                ELSE {sql_portable_round("m4 / (m2 * m2) - 3.0", 6)} END AS excess_kurtosis
    FROM c ORDER BY event_type
    """,
)
def q_moments(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distribution-shape profile per event type: mean, population
    stddev, skewness m₃/m₂^1.5 and excess kurtosis m₄/m₂² − 3 from
    raw power sums Σx..Σx⁴ — the moments engine behind q_jarque_bera,
    exposed as a per-group profile (and deliberately NOT Spark's
    built-in skewness/kurtosis, whose partition-merge accumulation is
    float-order dependent: raw power sums in exact DECIMAL make the
    whole computation order-independent, then the central-moment
    conversion is one identical double tree). Zero-variance groups
    emit NULL shape. Scale: ONE hash-agg, O(1) group state — the
    one-pass moments pattern that holds at any row count."""
    ev = load_table(spark, sf_dir, "events")
    v = F.col("value")
    # rounding digits shrink with the power so |term|·10^n stays under
    # the int64 floor bound (functions/exact.py): value ≤ ~561 → v³ ≤ 1.8e8 (10dp),
    # v⁴ ≤ 1e11 (7dp) — still finer than the double ulp at those
    # magnitudes, so no precision is lost, only order dependence
    mo = ev.groupBy("event_type").agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        term_sum(v, 12).alias("s1"),
        term_sum(v * v, 12).alias("s2"),
        term_sum(v * v * v, 10).alias("s3"),
        term_sum(v * v * v * v, 7).alias("s4"),
    )
    m1 = F.col("s1") / F.col("n")
    m2 = F.col("s2") / F.col("n") - m1 * m1
    m3 = (
        F.col("s3") / F.col("n")
        - F.lit(3.0) * m1 * (F.col("s2") / F.col("n"))
        + F.lit(2.0) * m1 * m1 * m1
    )
    m4 = (
        F.col("s4") / F.col("n")
        - F.lit(4.0) * m1 * (F.col("s3") / F.col("n"))
        + F.lit(6.0) * m1 * m1 * (F.col("s2") / F.col("n"))
        - F.lit(3.0) * m1 * m1 * m1 * m1
    )
    sd = F.sqrt(m2)
    return (
        mo.select(
            "event_type",
            "n",
            portable_round(m1, 6).cast("double").alias("mean"),
            portable_round(sd, 6).cast("double").alias("stddev_pop"),
            F.when(m2 <= 0, F.lit(None).cast("double"))
            .otherwise(portable_round(m3 / (sd * sd * sd), 6))
            .cast("double")
            .alias("skewness"),
            F.when(m2 <= 0, F.lit(None).cast("double"))
            .otherwise(portable_round(m4 / (m2 * m2) - F.lit(3.0), 6))
            .cast("double")
            .alias("excess_kurtosis"),
        )
        .orderBy("event_type")
    )


@query(
    "q_trimmed_mean",
    oracle=f"""
    WITH r AS (
        SELECT event_type, value,
               CAST(row_number() OVER (PARTITION BY event_type
                   ORDER BY value, event_id) AS BIGINT) AS rn,
               CAST(COUNT(*) OVER (PARTITION BY event_type) AS BIGINT) AS n
        FROM events
    ),
    kept AS (
        SELECT event_type, value, n
        FROM r
        WHERE rn > n // 10 AND rn <= n - n // 10
    )
    SELECT event_type,
           CAST(MAX(n) AS BIGINT) AS n_total,
           CAST(COUNT(*) AS BIGINT) AS n_kept,
           {sql_portable_round(
               f"{sql_term_sum('value', 12)}"
               " / COUNT(*)", 6)} AS trimmed_mean
    FROM kept GROUP BY event_type ORDER BY event_type
    """,
)
def q_trimmed_mean(spark: SparkSession, sf_dir: str) -> DataFrame:
    """10% two-sided trimmed mean per event type: drop the lowest and
    highest ⌊n/10⌋ observations BY RANK (total order (value, event_id)
    — the repo's unique-tie-break policy, so the trim boundary is
    identical on both engines even through tied values) and average
    the rest in exact DECIMAL — the outlier-robust location estimate
    beside q_winsorize (which clamps instead of dropping). Scale: one
    rank window per group + one hash-agg; the window partitions by the
    group key, no global sort."""
    ev = load_table(spark, sf_dir, "events")
    wr = Window.partitionBy("event_type").orderBy("value", "event_id")
    wn = Window.partitionBy("event_type")
    r = ev.select(
        "event_type",
        "value",
        F.row_number().over(wr).cast("bigint").alias("rn"),
        F.count(F.lit(1)).over(wn).cast("bigint").alias("n"),
    )
    lo = F.floor(F.col("n") / 10).cast("bigint")
    kept = r.filter((F.col("rn") > lo) & (F.col("rn") <= F.col("n") - lo))
    return (
        kept.groupBy("event_type")
        .agg(
            F.max("n").cast("bigint").alias("n_total"),
            F.count(F.lit(1)).cast("bigint").alias("n_kept"),
            portable_round(
                term_sum(F.col("value"), 12)
                / F.count(F.lit(1)),
                6,
            )
            .cast("double")
            .alias("trimmed_mean"),
        )
        .orderBy("event_type")
    )


_QS = [round(0.05 * i, 2) for i in range(1, 20)]


@query(
    "q_qq_points",
    oracle=f"""
    WITH qa AS (
        SELECT quantile_cont(value, {_QS}) AS qs
        FROM events WHERE event_type = 'click'
    ),
    qb AS (
        SELECT quantile_cont(value, {_QS}) AS qs
        FROM events WHERE event_type = 'purchase'
    )
    SELECT CAST(i AS BIGINT) AS i,
           CAST(0.05 * i AS DOUBLE) AS p,
           {sql_portable_round("qa.qs[CAST(i AS INTEGER)]", 6)} AS q_click,
           {sql_portable_round("qb.qs[CAST(i AS INTEGER)]", 6)} AS q_purchase,
           {sql_portable_round(
               "qb.qs[CAST(i AS INTEGER)] - qa.qs[CAST(i AS INTEGER)]",
               6)} AS diff
    FROM qa, qb, range(1, 20) t(i)
    ORDER BY i
    """,
)
def q_qq_points(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q-Q table comparing the 'click' vs 'purchase' value
    distributions at the 19 vigintiles (p = 0.05..0.95): the
    distribution-comparison plot primitive behind q_ks_test's single
    max-gap statistic — WHERE the distributions diverge, not just by
    how much. Both engines compute the exact interpolated quantile
    array in ONE pass per group (constant-probability array form — the
    round-3 lesson: quantile params must be constants) and explode it
    against a 19-row index spine. Scale: two single-group exact
    percentiles (sort-based, per-group state) + a 19-row projection."""
    ev = load_table(spark, sf_dir, "events")
    qs = F.lit(_QS)
    qa = (
        ev.filter(F.col("event_type") == "click")
        .agg(F.percentile("value", qs).alias("qs"))
    )
    qb = (
        ev.filter(F.col("event_type") == "purchase")
        .agg(F.percentile("value", qs).alias("qs_b"))
    )
    spine = spark.range(1, 20).select(F.col("id").cast("bigint").alias("i"))
    j = spine.crossJoin(F.broadcast(qa)).crossJoin(F.broadcast(qb))
    idx = F.col("i").cast("int")
    q_a = F.element_at(F.col("qs"), idx)
    q_b = F.element_at(F.col("qs_b"), idx)
    return (
        j.select(
            "i",
            (F.lit(0.05) * F.col("i")).cast("double").alias("p"),
            portable_round(q_a, 6).cast("double").alias("q_click"),
            portable_round(q_b, 6).cast("double").alias("q_purchase"),
            portable_round(q_b - q_a, 6).cast("double").alias("diff"),
        )
        .orderBy("i")
    )


@query(
    "q_granger_lite",
    oracle=f"""
    WITH cbars AS ({sql_ohlcv_bars("hour", "close")}),
    rets0 AS (
        SELECT symbol, bar_ts,
               {sql_simple_return("(PARTITION BY symbol ORDER BY bar_ts)")} AS r
        FROM cbars
    ),
    rets AS (
        SELECT symbol, bar_ts, r,
               lag(r) OVER (PARTITION BY symbol ORDER BY bar_ts) AS rl
        FROM rets0
    ),
    ta AS (
        SELECT symbol AS sa, bar_ts, r AS y, rl AS x1
        FROM rets WHERE r IS NOT NULL AND rl IS NOT NULL
    ),
    tb AS (
        SELECT symbol AS sb, bar_ts, rl AS x2
        FROM rets WHERE rl IS NOT NULL
    ),
    j AS (
        SELECT sa, sb, y, x1, x2
        FROM ta JOIN tb USING (bar_ts)
        WHERE sa <> sb
    ),
    mo AS (
        SELECT sa, sb,
               CAST(COUNT(*) AS BIGINT) AS n,
               {sql_term_sum("y", 12)} AS sy,
               {sql_term_sum("y * y", 10)} AS syy,
               {sql_term_sum("x1", 12)} AS s1,
               {sql_term_sum("x2", 12)} AS s2,
               {sql_term_sum("x1 * x1", 10)} AS s11,
               {sql_term_sum("x2 * x2", 10)} AS s22,
               {sql_term_sum("x1 * x2", 10)} AS s12,
               {sql_term_sum("x1 * y", 10)} AS s1y,
               {sql_term_sum("x2 * y", 10)} AS s2y
        FROM j GROUP BY 1, 2
    ),
    c AS (
        SELECT sa, sb, n,
               syy - sy * sy / n AS cyy,
               s11 - s1 * s1 / n AS c11,
               s22 - s2 * s2 / n AS c22,
               s12 - s1 * s2 / n AS c12,
               s1y - s1 * sy / n AS c1y,
               s2y - s2 * sy / n AS c2y
        FROM mo
    ),
    fit AS (
        SELECT sa, sb, n, cyy, c11, c1y,
               c11 * c22 - c12 * c12 AS det,
               (c22 * c1y - c12 * c2y) AS b1n,
               (c11 * c2y - c12 * c1y) AS b2n,
               c2y, c12, c22
        FROM c
    ),
    rss AS (
        SELECT sa, sb, n,
               cyy - (b1n / det) * c1y - (b2n / det) * c2y AS rss_u,
               cyy - c1y * c1y / c11 AS rss_r,
               det, c11, b2n
        FROM fit
    )
    SELECT sa AS symbol_y, sb AS symbol_x, n,
           CASE WHEN det <= 0 THEN NULL
                ELSE {sql_portable_round("b2n / det", 8)} END AS cross_lag_beta,
           CASE WHEN det <= 0 OR c11 <= 0 OR rss_u <= 0 OR n <= 3 THEN NULL
                ELSE {sql_portable_round(
                    "(rss_r - rss_u) / (rss_u / (n - 3))", 6)} END AS f_stat
    FROM rss ORDER BY symbol_y, symbol_x
    """,
)
def q_granger_lite(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pairwise lag-1 Granger-causality screen over hourly returns:
    for every ordered symbol pair (y, x), regress r_y(t) on its own
    lag AND r_x(t−1), and F-test whether the cross lag adds predictive
    power over the restricted own-lag model — the lead-lag DISCOVERY
    matrix beside q_lead_lag_xcorr's fixed-lag correlation. Closed-form
    2-regressor OLS from centered DECIMAL joint moments (no iterative
    solver); F = (RSS_r − RSS_u)/(RSS_u/(n−3)); singular design or
    degenerate residuals → NULL. Scale: one returns window, one
    bar_ts-co-partitioned pair join (k² fanout bounded by the symbol
    catalog), one moments hash-agg per pair."""
    ev = load_table(spark, sf_dir, "events")
    bars = ohlcv_bars(ev, "hour", "close")
    ws = Window.partitionBy("symbol").orderBy("bar_ts")
    r = simple_return(ws)
    rets = bars.select("symbol", "bar_ts", r.alias("r")).select(
        "symbol", "bar_ts", "r", F.lag("r").over(ws).alias("rl")
    )
    ta = rets.filter(
        F.col("r").isNotNull() & F.col("rl").isNotNull()
    ).select(
        F.col("symbol").alias("sa"),
        "bar_ts",
        F.col("r").alias("y"),
        F.col("rl").alias("x1"),
    )
    tb = rets.filter(F.col("rl").isNotNull()).select(
        F.col("symbol").alias("sb"), "bar_ts", F.col("rl").alias("x2")
    )
    j = ta.join(tb, "bar_ts").filter(F.col("sa") != F.col("sb"))

    # linear return terms round 12dp; PRODUCTS round 10dp — a near-zero
    # lag close makes |r| reach ~1e4 at sf0.1, so r·r ~1e8 would
    # overflow the int64 floor bound at 12dp (functions/exact.py)
    def dsum(col, alias, n=10):
        return term_sum(col, n).alias(alias)

    y, x1, x2 = F.col("y"), F.col("x1"), F.col("x2")
    mo = j.groupBy("sa", "sb").agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        dsum(y, "sy", 12),
        dsum(y * y, "syy"),
        dsum(x1, "s1", 12),
        dsum(x2, "s2", 12),
        dsum(x1 * x1, "s11"),
        dsum(x2 * x2, "s22"),
        dsum(x1 * x2, "s12"),
        dsum(x1 * y, "s1y"),
        dsum(x2 * y, "s2y"),
    )
    n = F.col("n")
    cyy = F.col("syy") - F.col("sy") * F.col("sy") / n
    c11 = F.col("s11") - F.col("s1") * F.col("s1") / n
    c22 = F.col("s22") - F.col("s2") * F.col("s2") / n
    c12 = F.col("s12") - F.col("s1") * F.col("s2") / n
    c1y = F.col("s1y") - F.col("s1") * F.col("sy") / n
    c2y = F.col("s2y") - F.col("s2") * F.col("sy") / n
    det = c11 * c22 - c12 * c12
    b1n = c22 * c1y - c12 * c2y
    b2n = c11 * c2y - c12 * c1y
    rss_u = cyy - (b1n / det) * c1y - (b2n / det) * c2y
    rss_r = cyy - c1y * c1y / c11
    f_stat = (rss_r - rss_u) / (rss_u / (n - 3))
    return (
        mo.select(
            F.col("sa").alias("symbol_y"),
            F.col("sb").alias("symbol_x"),
            "n",
            F.when(det <= 0, F.lit(None).cast("double"))
            .otherwise(portable_round(b2n / det, 8))
            .cast("double")
            .alias("cross_lag_beta"),
            F.when(
                (det <= 0) | (c11 <= 0) | (rss_u <= 0) | (n <= 3),
                F.lit(None).cast("double"),
            )
            .otherwise(portable_round(f_stat, 6))
            .cast("double")
            .alias("f_stat"),
        )
        .orderBy("symbol_y", "symbol_x")
    )


@query(
    "q_mutual_information",
    oracle=f"""
    WITH cells AS (
        SELECT event_type,
               least(CAST(floor(value / 50.0) AS BIGINT), 9) AS vb,
               CAST(COUNT(*) AS BIGINT) AS n
        FROM events GROUP BY 1, 2
    ),
    tot AS (SELECT CAST(SUM(n) AS BIGINT) AS nn FROM cells),
    rm AS (SELECT event_type, CAST(SUM(n) AS BIGINT) AS nr
           FROM cells GROUP BY 1),
    cm AS (SELECT vb, CAST(SUM(n) AS BIGINT) AS nc FROM cells GROUP BY 1),
    terms AS (
        SELECT c.n, t.nn, r.nr, m.nc
        FROM cells c
        JOIN rm r USING (event_type)
        JOIN cm m USING (vb)
        CROSS JOIN tot t
    ),
    mi AS (
        SELECT CAST(MAX(nn) AS BIGINT) AS n,
               {sql_term_sum(
                   "(CAST(n AS DOUBLE) / nn)"
                   " * ln((CAST(n AS DOUBLE) * nn)"
                   "      / (CAST(nr AS DOUBLE) * nc))", 12)}
                   AS mi_nats
        FROM terms
    ),
    hr AS (
        SELECT {sql_term_sum(
            "-(CAST(nr AS DOUBLE) / t.nn)"
            " * ln(CAST(nr AS DOUBLE) / t.nn)", 12)} AS h_row
        FROM rm CROSS JOIN tot t
    ),
    hc AS (
        SELECT {sql_term_sum(
            "-(CAST(nc AS DOUBLE) / t.nn)"
            " * ln(CAST(nc AS DOUBLE) / t.nn)", 12)} AS h_col
        FROM cm CROSS JOIN tot t
    )
    SELECT n,
           {sql_portable_round("mi_nats", 6)} AS mi_nats,
           CASE WHEN h_row * h_col <= 0 THEN NULL
                ELSE {sql_portable_round("mi_nats / sqrt(h_row * h_col)", 6)} END
               AS nmi
    FROM mi, hr, hc
    """,
)
def q_mutual_information(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mutual information between event type and the value band
    (50-unit fixed-width buckets capped at 9): MI = ΣΣ p_ij·ln(p_ij/
    (p_i·p_j)) in nats plus the normalized NMI = MI/√(H_row·H_col) —
    the dependence measure q_chi_square's significance test doesn't
    quantify, and the same construction q_cluster_purity's NMI uses,
    exposed standalone over a contingency grid. Every probability is a
    ratio of exact integers; each ln cell term rounds 12dp (|term| ≤
    ln N — saturation-safe) and sums in DECIMAL. Scale: one (type,
    band) hash-agg — cell-count state, not row state."""
    ev = load_table(spark, sf_dir, "events")
    cells = bounded_persist(
        ev.groupBy(
            "event_type",
            F.least(F.floor(F.col("value") / 50.0).cast("bigint"), F.lit(9)).alias(
                "vb"
            ),
        ).agg(F.count(F.lit(1)).cast("bigint").alias("n")),
        "mi-cells",
    )
    tot = cells.agg(F.sum("n").cast("bigint").alias("nn"))
    rm = cells.groupBy("event_type").agg(F.sum("n").cast("bigint").alias("nr"))
    cm = cells.groupBy("vb").agg(F.sum("n").cast("bigint").alias("nc"))
    terms = (
        cells.join(rm, "event_type")
        .join(cm, "vb")
        .crossJoin(F.broadcast(tot))
    )
    nd = F.col("n").cast("double")
    mi_term = (nd / F.col("nn")) * F.log(
        (nd * F.col("nn")) / (F.col("nr").cast("double") * F.col("nc"))
    )
    mi = terms.agg(
        F.max("nn").cast("bigint").alias("n"),
        term_sum(mi_term, 12).alias("mi_nats"),
    )
    hr = (
        rm.crossJoin(F.broadcast(tot))
        .agg(
            term_sum(-(F.col("nr").cast("double") / F.col("nn"))
                    * F.log(F.col("nr").cast("double") / F.col("nn")), 12)
            .alias("h_row")
        )
    )
    hc = (
        cm.crossJoin(F.broadcast(tot))
        .agg(
            term_sum(-(F.col("nc").cast("double") / F.col("nn"))
                    * F.log(F.col("nc").cast("double") / F.col("nn")), 12)
            .alias("h_col")
        )
    )
    j = mi.crossJoin(hr).crossJoin(hc)
    return j.select(
        "n",
        portable_round(F.col("mi_nats"), 6).cast("double").alias("mi_nats"),
        F.when(
            F.col("h_row") * F.col("h_col") <= 0, F.lit(None).cast("double")
        )
        .otherwise(
            portable_round(
                F.col("mi_nats") / F.sqrt(F.col("h_row") * F.col("h_col")), 6
            )
        )
        .cast("double")
        .alias("nmi"),
    )


@query(
    "q_odds_ratio",
    oracle=f"""
    WITH cm AS (
        SELECT CAST(SUM(CASE WHEN event_type = 'click' AND value >= 50
                        THEN 1 ELSE 0 END) AS BIGINT) AS a,
               CAST(SUM(CASE WHEN event_type = 'click' AND value < 50
                        THEN 1 ELSE 0 END) AS BIGINT) AS b,
               CAST(SUM(CASE WHEN event_type = 'purchase' AND value >= 50
                        THEN 1 ELSE 0 END) AS BIGINT) AS c,
               CAST(SUM(CASE WHEN event_type = 'purchase' AND value < 50
                        THEN 1 ELSE 0 END) AS BIGINT) AS d
        FROM events WHERE event_type IN ('click', 'purchase')
    )
    SELECT a, b, c, d,
           CASE WHEN b * c = 0 THEN NULL
                ELSE {sql_portable_round(
                    "(CAST(a AS DOUBLE) * d) / (CAST(b AS DOUBLE) * c)",
                    6)} END AS odds_ratio,
           CASE WHEN a = 0 OR b = 0 OR c = 0 OR d = 0 THEN NULL
                ELSE {sql_portable_round(
                    "exp(ln((CAST(a AS DOUBLE) * d)"
                    "        / (CAST(b AS DOUBLE) * c))"
                    "    - 1.959963984540054"
                    "      * sqrt(1.0 / a + 1.0 / b + 1.0 / c + 1.0 / d))",
                    6)} END AS ci_lo,
           CASE WHEN a = 0 OR b = 0 OR c = 0 OR d = 0 THEN NULL
                ELSE {sql_portable_round(
                    "exp(ln((CAST(a AS DOUBLE) * d)"
                    "        / (CAST(b AS DOUBLE) * c))"
                    "    + 1.959963984540054"
                    "      * sqrt(1.0 / a + 1.0 / b + 1.0 / c + 1.0 / d))",
                    6)} END AS ci_hi
    FROM cm
    """,
)
def q_odds_ratio(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Odds ratio with Woolf 95% CI for the 2×2 (click vs purchase) ×
    (value ≥ 50) table: OR = ad/bc, CI = exp(ln OR ± z·√(1/a+1/b+1/c
    +1/d)) — the effect-size companion to q_chi_square/q_mcnemar that
    A/B analyses report beside the p-value. Cell counts exact integers
    from one scan; the z quantile enters as a LITERAL
    (1.959963984540054 — the cross-libm rule: never compute a
    normalizing constant through two different libms); any empty cell
    → NULL CI. Scale: one filter-pushed scan, one 1-row agg."""
    ev = load_table(spark, sf_dir, "events")
    s = ev.filter(F.col("event_type").isin("click", "purchase"))
    hi = F.col("value") >= 50
    click = F.col("event_type") == "click"
    cm = s.agg(
        F.sum(F.when(click & hi, 1).otherwise(0)).cast("bigint").alias("a"),
        F.sum(F.when(click & ~hi, 1).otherwise(0)).cast("bigint").alias("b"),
        F.sum(F.when(~click & hi, 1).otherwise(0)).cast("bigint").alias("c"),
        F.sum(F.when(~click & ~hi, 1).otherwise(0)).cast("bigint").alias("d"),
    )
    a, b, c, d = (F.col(x).cast("double") for x in ("a", "b", "c", "d"))
    orr = (a * F.col("d")) / (b * F.col("c"))
    se = F.sqrt(1.0 / a + 1.0 / b + 1.0 / c + 1.0 / d)
    z = F.lit(1.959963984540054)
    any_zero = (
        (F.col("a") == 0) | (F.col("b") == 0) | (F.col("c") == 0) | (F.col("d") == 0)
    )
    return cm.select(
        "a",
        "b",
        "c",
        "d",
        F.when(F.col("b") * F.col("c") == 0, F.lit(None).cast("double"))
        .otherwise(portable_round(orr, 6))
        .cast("double")
        .alias("odds_ratio"),
        F.when(any_zero, F.lit(None).cast("double"))
        .otherwise(portable_round(F.exp(F.log(orr) - z * se), 6))
        .cast("double")
        .alias("ci_lo"),
        F.when(any_zero, F.lit(None).cast("double"))
        .otherwise(portable_round(F.exp(F.log(orr) + z * se), 6))
        .cast("double")
        .alias("ci_hi"),
    )


@query(
    "q_poisson_rate_test",
    oracle=f"""
    WITH span AS (
        SELECT CAST(date_diff('hour', date_trunc('hour', MIN(ts)),
                              date_trunc('hour', MAX(ts))) + 1 AS BIGINT)
                   AS hours
        FROM events
    ),
    k AS (
        SELECT CAST(SUM(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END)
                    AS BIGINT) AS k1,
               CAST(SUM(CASE WHEN event_type = 'error' THEN 1 ELSE 0 END)
                    AS BIGINT) AS k2
        FROM events
    )
    SELECT k1, k2, hours,
           {sql_portable_round("CAST(k1 AS DOUBLE) / hours", 6)} AS rate_click,
           {sql_portable_round("CAST(k2 AS DOUBLE) / hours", 6)} AS rate_error,
           CASE WHEN k1 + k2 = 0 THEN NULL
                ELSE {sql_portable_round(
                    "(CAST(k1 AS DOUBLE) - k2)"
                    " / sqrt(CAST(k1 AS DOUBLE) + k2)", 6)} END AS z
    FROM k CROSS JOIN span
    """,
)
def q_poisson_rate_test(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-sample Poisson rate comparison (click vs error arrivals over
    the shared observation window): under H₀ of equal rates the count
    difference normalizes as z = (k₁−k₂)/√(k₁+k₂) (the conditional
    binomial form — exact integers until the final ratio), with the
    per-hour rates reported over the fixture's hour span. The
    event-rate drift check an ingestion monitor runs beside
    q_interarrival_stats' gap profile. Scale: one scan, two 1-row
    aggs."""
    ev = load_table(spark, sf_dir, "events")
    # Hour-truncate both endpoints before differencing: Spark's
    # timestampdiff counts COMPLETE elapsed hours while DuckDB's
    # date_diff counts hour-BOUNDARY crossings (00:59->02:01 is 1 vs 2).
    # On truncated endpoints the two definitions coincide exactly
    # (same precedent as q_missing_bars in timeseries3.py).
    span = ev.agg(
        (
            F.expr(
                "timestampdiff(HOUR, date_trunc('hour', min(ts)),"
                " date_trunc('hour', max(ts)))"
            )
            + 1
        )
        .cast("bigint")
        .alias("hours")
    )
    k = ev.agg(
        F.sum(F.when(F.col("event_type") == "click", 1).otherwise(0))
        .cast("bigint")
        .alias("k1"),
        F.sum(F.when(F.col("event_type") == "error", 1).otherwise(0))
        .cast("bigint")
        .alias("k2"),
    )
    j = k.crossJoin(span)
    k1, k2 = F.col("k1").cast("double"), F.col("k2").cast("double")
    return j.select(
        "k1",
        "k2",
        "hours",
        portable_round(k1 / F.col("hours"), 6).cast("double").alias("rate_click"),
        portable_round(k2 / F.col("hours"), 6).cast("double").alias("rate_error"),
        F.when(F.col("k1") + F.col("k2") == 0, F.lit(None).cast("double"))
        .otherwise(portable_round((k1 - k2) / F.sqrt(k1 + k2), 6))
        .cast("double")
        .alias("z"),
    )


@query(
    "q_anderson_darling",
    oracle=f"""
    WITH mom AS (
        SELECT event_type,
               CAST(COUNT(*) AS BIGINT) AS n,
               SUM({sql_term("value", 12)}) AS sv,
               SUM({sql_term("value * value", 10)}) AS svv
        FROM events GROUP BY event_type HAVING COUNT(*) >= 8
    ),
    ms AS (
        SELECT event_type, n,
               CAST(sv AS DOUBLE) / n AS mean,
               sqrt((CAST(svv AS DOUBLE)
                     - CAST(sv AS DOUBLE) * CAST(sv AS DOUBLE) / n)
                    / (n - 1)) AS std
        FROM mom
    ),
    z AS (
        SELECT e.event_type, ms.n,
               (e.value - ms.mean) / ms.std AS z,
               row_number() OVER (PARTITION BY e.event_type
                                  ORDER BY e.value, e.event_id) AS i
        FROM events e JOIN ms ON ms.event_type = e.event_type
        WHERE ms.std > 0
    ),
    phi AS (
        -- clamp to (0,1) with identical literals: exp underflow at
        -- extreme z drives the logistic to exactly 0/1 and ln() throws
        SELECT event_type, n, i,
               greatest(least(
                   1.0 / (1.0 + exp(-(1.5976 * z
                                      + 0.070565992 * (z * z * z)))),
                   0.999999999999999), 1.0e-15) AS p
        FROM z
    ),
    terms AS (
        SELECT event_type, n,
               {sql_term(
                   "(2.0 * i - 1.0) * ln(p)"
                   " + (2.0 * (n - i) + 1.0) * ln(1.0 - p)", 8)} AS t
        FROM phi
    ),
    a AS (
        SELECT event_type, n,
               -CAST(n AS DOUBLE) - CAST(SUM(t) AS DOUBLE) / n AS a2
        FROM terms GROUP BY event_type, n
    )
    SELECT a.event_type, a.n,
           {sql_portable_round("ms.mean", 6)} AS mean,
           {sql_portable_round("ms.std", 6)} AS std,
           {sql_portable_round("a.a2", 4)} AS a2,
           {sql_portable_round("a.a2 * (1.0 + 0.75 / a.n + 2.25 / (a.n * a.n))", 4)}
               AS a2_star
    FROM a JOIN ms ON ms.event_type = a.event_type
    ORDER BY a.event_type
    """,
)
def q_anderson_darling(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Anderson-Darling normality statistic per event type over the raw
    value distribution: A² = −n − (1/n)·Σ[(2i−1)lnΦ(zᵢ) +
    (2(n−i)+1)ln(1−Φ(zᵢ))] on the ascending z-scores (the
    self-join-free single-pass form), plus the small-sample-corrected
    A*² = A²(1+0.75/n+2.25/n²) — the tail-sensitive complement to
    q_ks_test/q_jarque_bera (AD weights the tails where KS is blind).
    Φ uses the Bowling et al. (2009) logistic approximation
    1/(1+exp(−(1.5976z+0.070565992z³))) — max |error| < 1.4e-4 —
    embedded as IDENTICAL literals on both engines (no cross-libm
    normal-CDF dependency; exp/ln ulp noise is absorbed by the 8dp term
    round before the DECIMAL Σ). Unlike most sql_term call sites the term
    bound here GROWS with the group size — |t| ≤ 2n·|ln 1e-15| ≈ 69n —
    so the 8dp round saturates Spark's int64 floor once a single
    event_type exceeds ~1.3e9 rows (and the DECIMAL(38,18) Σ ≈ 69n²
    overflows near the same n). Explicit validity bound: n per group
    < 1e9; beyond that, drop the term round to 4dp (pushes the bound to
    ~1.3e13) — A² is a ratio of O(n)-magnitude sums, so 4dp term noise
    is invisible at the 4dp presentation round.
    Moments come from 12dp/10dp DECIMAL power sums with one
    double division each, so z is bit-identical cross-engine; the only
    heavy op is the per-type rank window (one shuffle), which at 100 TB
    is the distributed-sort price any exact order statistic pays."""
    ev = load_table(spark, sf_dir, "events")
    mom = (
        ev.groupBy("event_type")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n"),
            F.sum(term(F.col("value"), 12)).alias("sv"),
            F.sum(term(F.col("value") * F.col("value"), 10)).alias("svv"),
        )
        .filter(F.col("n") >= 8)
    )
    ms = mom.select(
        "event_type",
        "n",
        (F.col("sv").cast("double") / F.col("n")).alias("mean"),
        F.sqrt(
            (
                F.col("svv").cast("double")
                - F.col("sv").cast("double")
                * F.col("sv").cast("double")
                / F.col("n")
            )
            / (F.col("n") - 1)
        ).alias("std"),
    ).filter(F.col("std") > 0)
    wi = Window.partitionBy("event_type").orderBy("value", "event_id")
    z = (
        ev.join(F.broadcast(ms), "event_type")
        .select(
            "event_type",
            "n",
            ((F.col("value") - F.col("mean")) / F.col("std")).alias("z"),
            F.row_number().over(wi).alias("i"),
        )
    )
    # clamp to (0,1) with identical literals: exp underflow at extreme z
    # drives the logistic to exactly 0/1 and ln() is undefined there
    p = F.greatest(
        F.least(
            1.0
            / (
                1.0
                + F.exp(
                    -(
                        1.5976 * F.col("z")
                        + 0.070565992
                        * (F.col("z") * F.col("z") * F.col("z"))
                    )
                )
            ),
            F.lit(0.999999999999999),
        ),
        F.lit(1.0e-15),
    )
    terms = z.select(
        "event_type",
        "n",
        term(
            (2.0 * F.col("i") - 1.0) * F.log(p)
            + (2.0 * (F.col("n") - F.col("i")) + 1.0) * F.log(1.0 - p),
            8,
        ).alias("t"),
    )
    a = terms.groupBy("event_type", "n").agg(
        (
            -F.col("n").cast("double")
            - F.sum("t").cast("double") / F.col("n")
        ).alias("a2")
    )
    return (
        a.join(ms.select("event_type", "mean", "std"), "event_type")
        .select(
            "event_type",
            "n",
            portable_round("mean", 6).cast("double").alias("mean"),
            portable_round("std", 6).cast("double").alias("std"),
            portable_round("a2", 4).cast("double").alias("a2"),
            portable_round(
                F.col("a2")
                * (
                    1.0
                    + 0.75 / F.col("n")
                    + 2.25 / (F.col("n") * F.col("n"))
                ),
                4,
            )
            .cast("double")
            .alias("a2_star"),
        )
        .orderBy("event_type")
    )
