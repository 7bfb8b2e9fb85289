"""Market-microstructure / dependence batch: Lo–MacKinlay variance
ratio, lower-tail dependence, Engle–Granger-style cointegration screen,
and de Prado dollar bars.

Extends finance.py–finance4.py with the random-walk diagnostic, the
joint-extreme-risk estimate, the pairs-trading screen, and the
information-driven bar construction — the quant-research tier beyond
per-series indicators. Reference analysis tier:
/root/reference/dump_bigq.py:135-149.

Determinism: DECIMAL accumulation for every cross-row double sum,
integer counts for all probabilities, identical double trees, portable
floor rounds on reported doubles, and the padded (ts,event_id) ordering
key wherever tick order matters.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from stockmarketdata_dwb_etl_spark.catalog import load_table
from stockmarketdata_dwb_etl_spark.functions.bars import (
    market_return,
    ohlcv_bars,
    sql_market_return,
    sql_ohlcv_bars,
    sql_tick_key,
    tick_key,
)
from stockmarketdata_dwb_etl_spark.functions.exact import (
    portable_round,
    split_term_sum,
    sql_portable_round,
    sql_split_term_sum,
    term,
)
from stockmarketdata_dwb_etl_spark.operators.cache import bounded_persist
from stockmarketdata_dwb_etl_spark.registry import query

# Cross-row double sums route through the two-bucket split sum
# (functions/exact.py::split_term_sum, 2^53 rule in its module docstring). Hourly
# LOG returns are bounded by ln(close ratios) (|r| <= ~11 at the fixture
# price range) and log prices by ln(560) ~ 6.4, but daily session
# returns close/open-1 can spike like the simple-return family, so
# every moment sum uses (12,8): sub-1 terms keep 12dp, spikes round at
# 8dp under the 9e7 bound.

# Hourly log returns of a close-bar relation, positive closes only.
_DUCK_LOG_CHAIN = """
    lr AS (
        SELECT symbol, bar_ts,
               ln(close / lag(close) OVER (PARTITION BY symbol
                                           ORDER BY bar_ts)) AS r
        FROM cbars
        WHERE close > 0
        QUALIFY lag(close) OVER (PARTITION BY symbol ORDER BY bar_ts) > 0
            AND r IS NOT NULL
    )
"""


def _log_chain(bars: DataFrame) -> DataFrame:
    """Spark twin of ``_DUCK_LOG_CHAIN``: (symbol, bar_ts, r)."""
    bars = bars.filter(F.col("close") > 0)
    w = Window.partitionBy("symbol").orderBy("bar_ts")
    return (
        bars.select(
            "symbol",
            "bar_ts",
            F.lag("close").over(w).alias("pc"),
            "close",
        )
        .filter(F.col("pc").isNotNull() & (F.col("pc") > 0))
        .select(
            "symbol", "bar_ts", F.log(F.col("close") / F.col("pc")).alias("r")
        )
    )


@query(
    "q_variance_ratio",
    oracle=f"""
    WITH cbars AS ({sql_ohlcv_bars("hour", "close")}),
    {_DUCK_LOG_CHAIN},
    nr AS (
        SELECT symbol, bar_ts, r,
               {sql_split_term_sum("r", 12, 8, "OVER w4")} AS rq,
               row_number() OVER (PARTITION BY symbol ORDER BY bar_ts) AS rn
        FROM lr
        WINDOW w4 AS (PARTITION BY symbol ORDER BY bar_ts
                      ROWS BETWEEN 3 PRECEDING AND CURRENT ROW)
    ),
    m1 AS (
        SELECT symbol,
               CAST(COUNT(*) AS BIGINT) AS n,
               {sql_split_term_sum("r", 12, 8)} AS s,
               {sql_split_term_sum("r * r", 12, 8)} AS ss
        FROM nr GROUP BY 1
    ),
    m4 AS (
        SELECT symbol,
               CAST(COUNT(*) AS BIGINT) AS nq,
               {sql_split_term_sum("rq", 12, 8)} AS sq,
               {sql_split_term_sum("rq * rq", 12, 8)} AS ssq
        FROM nr WHERE rn >= 4 GROUP BY 1
    ),
    vr AS (
        SELECT m1.symbol, m1.n,
               (m4.ssq / m4.nq - (m4.sq / m4.nq) * (m4.sq / m4.nq))
               / (4.0 * (m1.ss / m1.n - (m1.s / m1.n) * (m1.s / m1.n)))
                   AS vratio
        FROM m1 JOIN m4 ON m1.symbol = m4.symbol
        WHERE m1.ss / m1.n - (m1.s / m1.n) * (m1.s / m1.n) > 0
    )
    SELECT symbol, n,
           {sql_portable_round("vratio", 6)} AS vr4,
           {sql_portable_round(
               "(vratio - 1.0) * sqrt(CAST(n AS DOUBLE) * 4.0 / 6.0)",
               6)} AS z_naive
    FROM vr ORDER BY symbol
    """,
)
def q_variance_ratio(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Lo–MacKinlay variance ratio VR(4) per symbol over hourly log
    returns: Var(4-period overlapping sums)/(4·Var(1-period)) — 1 under
    a random walk, >1 for momentum, <1 for mean reversion — with the
    naive homoskedastic z ≈ (VR−1)·√(nq/(2(q−1))) (uncorrected form,
    documented). The 4-sums come from one bounded DECIMAL window
    (overlapping — no row loss beyond the 3-row warmup); both variance
    estimates from DECIMAL power sums. Zero base variance drops the
    symbol. Scale: one window + two moments hash-aggs."""
    lr = _log_chain(
        ohlcv_bars(load_table(spark, sf_dir, "events"), "hour", "close")
    )
    w4 = (
        Window.partitionBy("symbol")
        .orderBy("bar_ts")
        .rowsBetween(-3, Window.currentRow)
    )
    wn = Window.partitionBy("symbol").orderBy("bar_ts")
    nr = bounded_persist(
        lr.select(
            "symbol",
            "bar_ts",
            "r",
            split_term_sum(F.col("r"), 12, 8, w4).alias("rq"),
            F.row_number().over(wn).alias("rn"),
        ),
        "vr-nr",
    )
    m1 = nr.groupBy("symbol").agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        split_term_sum(F.col("r"), 12, 8).alias("s"),
        split_term_sum(F.col("r") * F.col("r"), 12, 8).alias("ss"),
    )
    m4 = (
        nr.filter(F.col("rn") >= 4)
        .groupBy("symbol")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("nq"),
            split_term_sum(F.col("rq"), 12, 8).alias("sq"),
            split_term_sum(F.col("rq") * F.col("rq"), 12, 8).alias("ssq"),
        )
    )
    j = m1.join(m4, "symbol")
    var1 = F.col("ss") / F.col("n") - (F.col("s") / F.col("n")) * (
        F.col("s") / F.col("n")
    )
    var4 = F.col("ssq") / F.col("nq") - (F.col("sq") / F.col("nq")) * (
        F.col("sq") / F.col("nq")
    )
    vratio = var4 / (F.lit(4.0) * var1)
    return (
        j.filter(var1 > 0)
        .select(
            "symbol",
            "n",
            portable_round(vratio, 6).cast("double").alias("vr4"),
            portable_round(
                (vratio - F.lit(1.0))
                * F.sqrt(F.col("n").cast("double") * 4.0 / 6.0),
                6,
            )
            .cast("double")
            .alias("z_naive"),
        )
        .orderBy("symbol")
    )


@query(
    "q_tail_dependence",
    oracle=f"""
    WITH cbars AS ({sql_ohlcv_bars("hour", "close")}),
    {_DUCK_LOG_CHAIN},
    thr AS (
        SELECT symbol, quantile_cont(r, 0.1) AS q10 FROM lr GROUP BY 1
    ),
    flags AS (
        SELECT l.symbol, l.bar_ts,
               CASE WHEN l.r <= t.q10 THEN 1 ELSE 0 END AS low
        FROM lr l JOIN thr t USING (symbol)
    ),
    pairs AS (
        SELECT a.symbol AS symbol_a, b.symbol AS symbol_b,
               CAST(COUNT(*) AS BIGINT) AS n_joint,
               CAST(SUM(a.low * b.low) AS BIGINT) AS joint_low
        FROM flags a
        JOIN flags b ON a.bar_ts = b.bar_ts AND a.symbol < b.symbol
        GROUP BY 1, 2
    )
    SELECT symbol_a, symbol_b, n_joint, joint_low,
           CASE WHEN n_joint = 0 THEN NULL
                ELSE {sql_portable_round(
                    "10.0 * CAST(joint_low AS DOUBLE) / n_joint", 6)} END
               AS lambda_lower
    FROM pairs ORDER BY symbol_a, symbol_b
    """,
)
def q_tail_dependence(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Empirical lower-tail dependence per symbol pair: λ_L ≈
    P(both returns in their own bottom decile)/0.1 — 1 under perfect
    tail co-movement, ~0.1·10=co-independence baseline 1·0.1/0.1... the
    joint-crash risk number a correlation matrix hides (Gaussian
    copulas have λ=0 at any ρ<1). Per-symbol decile thresholds are
    exact interpolated percentiles; everything after is integer
    counting — the λ estimate is a pure ratio of exact integers.
    Scale: per-symbol percentile + broadcast threshold join + one
    bar_ts-co-partitioned pair join bounded by the symbol catalog."""
    lr = _log_chain(
        ohlcv_bars(load_table(spark, sf_dir, "events"), "hour", "close")
    )
    thr = lr.groupBy("symbol").agg(F.percentile("r", 0.1).alias("q10"))
    flags = lr.join(F.broadcast(thr), "symbol").select(
        "symbol",
        "bar_ts",
        F.when(F.col("r") <= F.col("q10"), 1).otherwise(0).alias("low"),
    )
    a = flags.select(
        F.col("symbol").alias("symbol_a"), "bar_ts", F.col("low").alias("la")
    )
    b = flags.select(
        F.col("symbol").alias("symbol_b"), "bar_ts", F.col("low").alias("lb")
    )
    pairs = (
        a.join(b, "bar_ts")
        .filter(F.col("symbol_a") < F.col("symbol_b"))
        .groupBy("symbol_a", "symbol_b")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_joint"),
            F.sum(F.col("la") * F.col("lb")).cast("bigint").alias("joint_low"),
        )
    )
    return (
        pairs.select(
            "symbol_a",
            "symbol_b",
            "n_joint",
            "joint_low",
            F.when(F.col("n_joint") == 0, F.lit(None).cast("double"))
            .otherwise(
                portable_round(
                    F.lit(10.0)
                    * F.col("joint_low").cast("double")
                    / F.col("n_joint"),
                    6,
                )
            )
            .cast("double")
            .alias("lambda_lower"),
        )
        .orderBy("symbol_a", "symbol_b")
    )


@query(
    "q_cointegration_screen",
    oracle=f"""
    WITH cbars AS ({sql_ohlcv_bars("hour", "close")}),
    lp AS (
        SELECT symbol, bar_ts, ln(close) AS l
        FROM cbars WHERE close > 0
    ),
    j AS (
        SELECT a.symbol AS symbol_a, b.symbol AS symbol_b, a.bar_ts,
               a.l AS la, b.l AS lb
        FROM lp a JOIN lp b ON a.bar_ts = b.bar_ts AND a.symbol < b.symbol
    ),
    mo AS (
        SELECT symbol_a, symbol_b,
               CAST(COUNT(*) AS BIGINT) AS n,
               {sql_split_term_sum("la", 12, 8)} AS sa,
               {sql_split_term_sum("lb", 12, 8)} AS sb,
               {sql_split_term_sum("la * lb", 12, 8)} AS sab,
               {sql_split_term_sum("lb * lb", 12, 8)} AS sbb
        FROM j GROUP BY 1, 2
    ),
    fit AS (
        SELECT symbol_a, symbol_b, n,
               (n * sab - sa * sb) / (n * sbb - sb * sb) AS beta,
               sa / n - (n * sab - sa * sb) / (n * sbb - sb * sb) * sb / n
                   AS alpha
        FROM mo WHERE n * sbb - sb * sb > 0
    ),
    res AS (
        SELECT j.symbol_a, j.symbol_b, j.bar_ts, f.beta,
               j.la - f.alpha - f.beta * j.lb AS e
        FROM j JOIN fit f USING (symbol_a, symbol_b)
    ),
    dres AS (
        SELECT symbol_a, symbol_b, beta, e,
               e - lag(e) OVER (PARTITION BY symbol_a, symbol_b
                                ORDER BY bar_ts) AS de
        FROM res
    ),
    dw AS (
        SELECT symbol_a, symbol_b,
               CAST(MAX(beta) AS DOUBLE) AS beta,
               CAST(COUNT(*) AS BIGINT) AS n,
               {sql_split_term_sum("e * e", 12, 8)} AS see,
               {sql_split_term_sum("CASE WHEN de IS NULL THEN 0 ELSE de * de END",
                       12, 8)} AS sdd
        FROM dres GROUP BY 1, 2
    )
    SELECT symbol_a, symbol_b, n,
           {sql_portable_round("beta", 6)} AS hedge_beta,
           CASE WHEN see = 0 THEN NULL
                ELSE {sql_portable_round("sdd / see", 6)} END AS durbin_watson
    FROM dw ORDER BY symbol_a, symbol_b
    """,
)
def q_cointegration_screen(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Engle–Granger-style pairs screen over hourly log prices: per
    unordered symbol pair, OLS hedge ratio ln(Pa) = α + β·ln(Pb) in
    closed form from DECIMAL moments, then the Durbin–Watson statistic
    of the residual spread (DW → 0 means a sticky, slowly-reverting
    spread — candidate pair; DW ≈ 2 means white-noise residuals). The
    residual pass re-joins the fitted (α, β) back to the SAME
    co-partitioned pair table (persisted — two consumers), so the
    price series shuffles once. Scale: bar_ts-co-partitioned pair join
    bounded by the symbol catalog + one residual window per pair."""
    ev = load_table(spark, sf_dir, "events")
    lp = (
        ohlcv_bars(ev, "hour", "close")
        .filter(F.col("close") > 0)
        .select("symbol", "bar_ts", F.log("close").alias("l"))
    )
    a = lp.select(F.col("symbol").alias("symbol_a"), "bar_ts", F.col("l").alias("la"))
    b = lp.select(F.col("symbol").alias("symbol_b"), "bar_ts", F.col("l").alias("lb"))
    j = bounded_persist(
        a.join(b, "bar_ts").filter(F.col("symbol_a") < F.col("symbol_b")),
        "coint-pairs",
    )
    mo = j.groupBy("symbol_a", "symbol_b").agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        split_term_sum(F.col("la"), 12, 8).alias("sa"),
        split_term_sum(F.col("lb"), 12, 8).alias("sb"),
        split_term_sum(F.col("la") * F.col("lb"), 12, 8).alias("sab"),
        split_term_sum(F.col("lb") * F.col("lb"), 12, 8).alias("sbb"),
    )
    det = F.col("n") * F.col("sbb") - F.col("sb") * F.col("sb")
    beta = (F.col("n") * F.col("sab") - F.col("sa") * F.col("sb")) / det
    alpha = F.col("sa") / F.col("n") - beta * F.col("sb") / F.col("n")
    fit = mo.filter(det > 0).select(
        "symbol_a", "symbol_b", beta.alias("beta"), alpha.alias("alpha")
    )
    res = j.join(F.broadcast(fit), ["symbol_a", "symbol_b"]).select(
        "symbol_a",
        "symbol_b",
        "bar_ts",
        "beta",
        (F.col("la") - F.col("alpha") - F.col("beta") * F.col("lb")).alias("e"),
    )
    wp = Window.partitionBy("symbol_a", "symbol_b").orderBy("bar_ts")
    dres = res.withColumn("de", F.col("e") - F.lag("e").over(wp))
    dw = dres.groupBy("symbol_a", "symbol_b").agg(
        F.max("beta").cast("double").alias("beta"),
        F.count(F.lit(1)).cast("bigint").alias("n"),
        split_term_sum(F.col("e") * F.col("e"), 12, 8).alias("see"),
        split_term_sum(
            F.when(F.col("de").isNull(), F.lit(0.0)).otherwise(
                F.col("de") * F.col("de")
            ),
            12,
            8,
        ).alias("sdd"),
    )
    return (
        dw.select(
            "symbol_a",
            "symbol_b",
            "n",
            portable_round(F.col("beta"), 6).cast("double").alias("hedge_beta"),
            F.when(F.col("see") == 0, F.lit(None).cast("double"))
            .otherwise(portable_round(F.col("sdd") / F.col("see"), 6))
            .cast("double")
            .alias("durbin_watson"),
        )
        .orderBy("symbol_a", "symbol_b")
    )


@query(
    "q_dollar_bars",
    oracle=f"""
    WITH t AS (
        SELECT event_type AS symbol, value,
               {sql_tick_key()} AS ord,
               CAST(sum(CAST(value AS DECIMAL(38,6))) OVER (
                   PARTITION BY event_type ORDER BY {sql_tick_key()}
                   ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
                   AS DOUBLE) AS cum_before
        FROM events
    ),
    bt AS (
        SELECT symbol, value, ord,
               CAST(floor(COALESCE(cum_before, 0.0) / 5000.0) AS BIGINT)
                   AS bar_id
        FROM t
    )
    SELECT symbol, bar_id,
           CAST(COUNT(*) AS BIGINT) AS n_ticks,
           arg_min(value, ord) AS open,
           MAX(value) AS high,
           MIN(value) AS low,
           arg_max(value, ord) AS close,
           {sql_portable_round(
               "CAST(SUM(CAST(value AS DECIMAL(38,6))) AS DOUBLE)", 4)}
               AS dollar_volume
    FROM bt GROUP BY symbol, bar_id
    ORDER BY symbol, bar_id
    """,
)
def q_dollar_bars(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dollar bars (de Prado information-driven sampling): per symbol,
    ticks bucket into a new bar every 5000 units of traded value —
    bar_id = ⌊cum-value-BEFORE-this-tick / 5000⌋ over the exact
    DECIMAL running sum on the padded (ts,event_id) tick order — then
    OHLC + tick count + dollar volume per bar. Unlike time bars, bar
    density follows activity, which stabilizes per-bar information
    content (the sampling scheme microstructure models prefer).
    Scale: one symbol-partition running-sum window + one (symbol,
    bar_id) hash-agg; a giant single symbol would route the prefix sum
    through operators/rank.py::global_prefix_sum instead."""
    ev = load_table(spark, sf_dir, "events")
    wo = (
        Window.partitionBy("event_type")
        .orderBy(tick_key())
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    t = ev.select(
        F.col("event_type").alias("symbol"),
        "value",
        tick_key().alias("ord"),
        F.sum(F.col("value").cast("decimal(38,6)"))
        .over(wo)
        .cast("double")
        .alias("cum_before"),
    )
    bt = t.select(
        "symbol",
        "value",
        "ord",
        F.floor(F.coalesce(F.col("cum_before"), F.lit(0.0)) / 5000.0)
        .cast("bigint")
        .alias("bar_id"),
    )
    return (
        bt.groupBy("symbol", "bar_id")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_ticks"),
            F.min_by("value", "ord").alias("open"),
            F.max("value").alias("high"),
            F.min("value").alias("low"),
            F.max_by("value", "ord").alias("close"),
            portable_round(
                F.sum(F.col("value").cast("decimal(38,6)")).cast("double"), 4
            )
            .cast("double")
            .alias("dollar_volume"),
        )
        .orderBy("symbol", "bar_id")
    )


_HEX = "0123456789abcdef"


def _duck_hex4(expr: str) -> str:
    """DuckDB: first 4 hex digits of md5(expr) as an integer 0..65535."""
    md5 = f"md5({expr})"
    return " + ".join(
        f"(strpos('{_HEX}', substr({md5}, {i + 1}, 1)) - 1) * {16 ** (3 - i)}"
        for i in range(4)
    )


@query(
    "q_bootstrap_ci",
    oracle=f"""
    WITH dbars AS ({sql_ohlcv_bars("day", "open", "close")}),
    dret AS (
        SELECT symbol, bar_ts, close / open - 1.0 AS x,
               CAST(row_number() OVER (PARTITION BY symbol ORDER BY bar_ts)
                    AS BIGINT) AS rn
        FROM dbars WHERE open <> 0
    ),
    nn AS (
        SELECT symbol, CAST(MAX(rn) AS BIGINT) AS n FROM dret GROUP BY 1
    ),
    draws AS (
        SELECT d.symbol, b.b, i.i,
               1 + ({_duck_hex4(
                   "d.symbol || '-' || CAST(b.b AS VARCHAR)"
                   " || '-' || CAST(i.i AS VARCHAR)")}) % d.n AS idx
        FROM nn d
        CROSS JOIN range(0, 200) b(b)
        CROSS JOIN range(1, 400) i(i)
        WHERE i.i <= d.n
    ),
    means AS (
        SELECT dr.symbol, dr.b,
               {sql_split_term_sum("x.x", 12, 8)} / COUNT(*)
                   AS m
        FROM draws dr JOIN dret x ON x.symbol = dr.symbol AND x.rn = dr.idx
        GROUP BY 1, 2
    ),
    ci AS (
        SELECT symbol,
               quantile_cont(m, 0.025) AS lo,
               quantile_cont(m, 0.975) AS hi
        FROM means GROUP BY 1
    ),
    pt AS (
        SELECT symbol,
               {sql_split_term_sum("x", 12, 8)} / COUNT(*)
                   AS mean_x,
               CAST(COUNT(*) AS BIGINT) AS n
        FROM dret GROUP BY 1
    )
    SELECT p.symbol, p.n,
           {sql_portable_round("p.mean_x", 8)} AS mean_ret,
           {sql_portable_round("c.lo", 8)} AS ci_lo,
           {sql_portable_round("c.hi", 8)} AS ci_hi
    FROM pt p JOIN ci c ON c.symbol = p.symbol
    ORDER BY p.symbol
    """,
)
def q_bootstrap_ci(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DETERMINISTIC bootstrap 95% CI of the mean daily session return
    per symbol: B = 200 resamples whose indices come from a hash, not
    an RNG — draw (symbol, b, i) picks row 1 + (md5-hex4 % n) — so the
    exact same resamples materialize on any engine, any partitioning,
    any rerun (the engine-portable answer to rand()-seeded bootstraps,
    same md5 discipline as q_hash_split). Resample means accumulate in
    DECIMAL; the CI bounds are exact interpolated percentiles over the
    200 means. Scale: the draw spine is |symbols|·B·n rows of pure
    integers joined on (symbol, rn) — co-partitioned, no value data in
    the spine; B and the percentile state are constants."""
    bars = ohlcv_bars(load_table(spark, sf_dir, "events"), "day", "open", "close")
    w = Window.partitionBy("symbol").orderBy("bar_ts")
    dret = (
        bars.filter(F.col("open") != 0)
        .select(
            "symbol",
            "bar_ts",
            (F.col("close") / F.col("open") - 1.0).alias("x"),
        )
        .withColumn("rn", F.row_number().over(w).cast("bigint"))
    )
    dret = bounded_persist(dret, "boot-dret")
    nn = dret.groupBy("symbol").agg(F.max("rn").cast("bigint").alias("n"))
    bs = spark.range(0, 200).select(F.col("id").alias("b"))
    # index spine bound: 400 > any per-symbol daily-bar count at the
    # fixture calendar (30 days); both engines draw from the same
    # bounded spine and filter i <= n, so semantics match exactly
    iis = spark.range(1, 400).select(F.col("id").alias("i"))
    hex4 = F.conv(
        F.substring(
            F.md5(
                F.concat_ws(
                    "-",
                    F.col("symbol"),
                    F.col("b").cast("string"),
                    F.col("i").cast("string"),
                )
            ),
            1,
            4,
        ),
        16,
        10,
    ).cast("bigint")
    draws = (
        nn.crossJoin(F.broadcast(bs))
        .crossJoin(F.broadcast(iis))
        .filter(F.col("i") <= F.col("n"))
        .select(
            "symbol",
            "b",
            (F.lit(1) + hex4 % F.col("n")).alias("idx"),
        )
    )
    means = (
        draws.join(
            dret.select("symbol", F.col("rn").alias("idx"), "x"),
            ["symbol", "idx"],
        )
        .groupBy("symbol", "b")
        .agg((split_term_sum(F.col("x"), 12, 8) / F.count(F.lit(1))).alias("m"))
    )
    ci = means.groupBy("symbol").agg(
        F.percentile("m", 0.025).alias("lo"),
        F.percentile("m", 0.975).alias("hi"),
    )
    pt = dret.groupBy("symbol").agg(
        (split_term_sum(F.col("x"), 12, 8) / F.count(F.lit(1))).alias("mean_x"),
        F.count(F.lit(1)).cast("bigint").alias("n"),
    )
    return (
        pt.join(ci, "symbol")
        .select(
            "symbol",
            "n",
            portable_round(F.col("mean_x"), 8).cast("double").alias("mean_ret"),
            portable_round(F.col("lo"), 8).cast("double").alias("ci_lo"),
            portable_round(F.col("hi"), 8).cast("double").alias("ci_hi"),
        )
        .orderBy("symbol")
    )


@query(
    "q_newey_west",
    oracle=f"""
    WITH cbars AS ({sql_ohlcv_bars("hour", "close")}),
    {_DUCK_LOG_CHAIN},
    lagged AS (
        SELECT symbol, r,
               lag(r, 1) OVER ws AS r1,
               lag(r, 2) OVER ws AS r2
        FROM lr
        WINDOW ws AS (PARTITION BY symbol ORDER BY bar_ts)
    ),
    mo AS (
        SELECT symbol,
               CAST(COUNT(*) AS BIGINT) AS n,
               {sql_split_term_sum("r", 12, 8)} AS s,
               {sql_split_term_sum("r * r", 12, 8)} AS ss,
               {sql_split_term_sum("CASE WHEN r1 IS NULL THEN 0 ELSE r * r1 END",
                       12, 8)} AS s1,
               CAST(SUM(CASE WHEN r1 IS NULL THEN 0 ELSE 1 END) AS BIGINT)
                   AS n1,
               {sql_split_term_sum("CASE WHEN r2 IS NULL THEN 0 ELSE r * r2 END",
                       12, 8)} AS s2,
               CAST(SUM(CASE WHEN r2 IS NULL THEN 0 ELSE 1 END) AS BIGINT)
                   AS n2
        FROM lagged GROUP BY 1
    ),
    g AS (
        SELECT symbol, n,
               s / n AS mu,
               ss / n - (s / n) * (s / n) AS g0,
               s1 / n1 - (s / n) * (s / n) AS g1,
               s2 / n2 - (s / n) * (s / n) AS g2
        FROM mo WHERE n1 > 0 AND n2 > 0
    )
    SELECT symbol, n,
           {sql_portable_round("mu", 8)} AS mean_ret,
           {sql_portable_round(
               "g0 + 2.0 * (2.0 / 3.0) * g1 + 2.0 * (1.0 / 3.0) * g2",
               10)} AS lrv,
           CASE WHEN g0 + 2.0 * (2.0 / 3.0) * g1 + 2.0 * (1.0 / 3.0) * g2
                     <= 0 THEN NULL
                ELSE {sql_portable_round(
                    "mu / sqrt((g0 + 2.0 * (2.0 / 3.0) * g1"
                    " + 2.0 * (1.0 / 3.0) * g2) / n)", 6)} END AS t_hac
    FROM g ORDER BY symbol
    """,
)
def q_newey_west(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Newey–West HAC t-statistic for the mean hourly log return per
    symbol (Bartlett kernel, L = 2): the long-run variance
    γ₀ + 2·(2/3)γ₁ + 2·(1/3)γ₂ replaces the iid variance so serial
    correlation can't fake significance — the autocorrelation-robust
    upgrade of the plain t-test the finance family otherwise relies
    on. Autocovariances come from ONE window pass (two lag() over the
    same spec) with DECIMAL cross-product sums; non-positive long-run
    variance → NULL. Scale: one window + one moments hash-agg."""
    lr = _log_chain(
        ohlcv_bars(load_table(spark, sf_dir, "events"), "hour", "close")
    )
    ws = Window.partitionBy("symbol").orderBy("bar_ts")
    lagged = lr.select(
        "symbol",
        "r",
        F.lag("r", 1).over(ws).alias("r1"),
        F.lag("r", 2).over(ws).alias("r2"),
    )
    mo = lagged.groupBy("symbol").agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        split_term_sum(F.col("r"), 12, 8).alias("s"),
        split_term_sum(F.col("r") * F.col("r"), 12, 8).alias("ss"),
        split_term_sum(
            F.when(F.col("r1").isNull(), F.lit(0.0)).otherwise(
                F.col("r") * F.col("r1")
            ),
            12,
            8,
        ).alias("s1"),
        F.sum(F.when(F.col("r1").isNull(), 0).otherwise(1))
        .cast("bigint")
        .alias("n1"),
        split_term_sum(
            F.when(F.col("r2").isNull(), F.lit(0.0)).otherwise(
                F.col("r") * F.col("r2")
            ),
            12,
            8,
        ).alias("s2"),
        F.sum(F.when(F.col("r2").isNull(), 0).otherwise(1))
        .cast("bigint")
        .alias("n2"),
    )
    mu = F.col("s") / F.col("n")
    g0 = F.col("ss") / F.col("n") - mu * mu
    g1 = F.col("s1") / F.col("n1") - mu * mu
    g2 = F.col("s2") / F.col("n2") - mu * mu
    lrv = g0 + F.lit(2.0) * (F.lit(2.0) / 3.0) * g1 + F.lit(2.0) * (
        F.lit(1.0) / 3.0
    ) * g2
    return (
        mo.filter((F.col("n1") > 0) & (F.col("n2") > 0))
        .select(
            "symbol",
            "n",
            portable_round(mu, 8).cast("double").alias("mean_ret"),
            portable_round(lrv, 10).cast("double").alias("lrv"),
            F.when(lrv <= 0, F.lit(None).cast("double"))
            .otherwise(
                portable_round(mu / F.sqrt(lrv / F.col("n")), 6)
            )
            .cast("double")
            .alias("t_hac"),
        )
        .orderBy("symbol")
    )


@query(
    "q_seasonal_strength",
    oracle=f"""
    WITH cbars AS ({sql_ohlcv_bars("hour", "close")}),
    seq AS (
        SELECT symbol, bar_ts, close, hour(bar_ts) AS hod,
               row_number() OVER (PARTITION BY symbol ORDER BY bar_ts) AS rn,
               CAST(COUNT(*) OVER (PARTITION BY symbol) AS BIGINT) AS n
        FROM cbars
    ),
    trend AS (
        SELECT symbol, hod, close, rn, n,
               CAST(SUM(CAST(close AS DECIMAL(38,6))) OVER w AS DOUBLE) / 25
                 AS trend
        FROM seq
        WINDOW w AS (PARTITION BY symbol ORDER BY rn
                     ROWS BETWEEN 12 PRECEDING AND 12 FOLLOWING)
    ),
    resid AS (
        SELECT symbol, hod, close - trend AS r
        FROM trend WHERE rn > 12 AND rn <= n - 12
    ),
    season AS (
        SELECT symbol, hod,
               (CAST(floor(CAST(({sql_split_term_sum("r", 12, 8)})
                    / COUNT(*) AS DOUBLE) * 1000000.0 + 0.5)
                    AS DOUBLE) / 1000000.0) AS s
        FROM resid GROUP BY 1, 2
    ),
    rem AS (
        SELECT resid.symbol, resid.r, resid.r - season.s AS e
        FROM resid JOIN season USING (symbol, hod)
    ),
    mo AS (
        SELECT symbol,
               CAST(COUNT(*) AS BIGINT) AS n,
               {sql_split_term_sum("r", 12, 8)} AS sr,
               {sql_split_term_sum("r * r", 12, 8)} AS srr,
               {sql_split_term_sum("e", 12, 8)} AS se,
               {sql_split_term_sum("e * e", 12, 8)} AS see
        FROM rem GROUP BY 1
    )
    SELECT symbol, n,
           {sql_portable_round("srr / n - (sr / n) * (sr / n)", 8)} AS var_detrended,
           {sql_portable_round("see / n - (se / n) * (se / n)", 8)} AS var_remainder,
           CASE WHEN srr / n - (sr / n) * (sr / n) <= 0 THEN NULL
                ELSE {sql_portable_round(
                    "greatest(0.0, 1.0 - (see / n - (se / n) * (se / n))"
                    " / (srr / n - (sr / n) * (sr / n)))", 6)} END
               AS seasonal_strength
    FROM mo ORDER BY symbol
    """,
)
def q_seasonal_strength(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hyndman seasonal-strength measure per symbol: F_s = max(0, 1 −
    Var(remainder)/Var(detrended)) over the classical decomposition
    (centered 25-bar MA trend, hour-of-day seasonal means — the
    q_seasonal_decompose construction) — 0 means the hod profile
    explains nothing, →1 means the series is almost purely seasonal;
    the single number that decides whether q_seasonal_decompose's
    profile is worth serving. The seasonal means are 6dp-rounded
    before subtraction (identical inputs both engines); all variances
    from DECIMAL power sums. Scale: one symbol window + one (symbol,
    hod) hash-agg (24·k-row broadcast join-back) + one moments agg."""
    ev = load_table(spark, sf_dir, "events")
    bars = ohlcv_bars(ev, "hour", "close")
    wseq = Window.partitionBy("symbol").orderBy("bar_ts")
    wall = Window.partitionBy("symbol").rowsBetween(
        Window.unboundedPreceding, Window.unboundedFollowing
    )
    seq = bars.select(
        "symbol",
        "close",
        F.hour("bar_ts").alias("hod"),
        F.row_number().over(wseq).alias("rn"),
        F.count(F.lit(1)).over(wall).cast("bigint").alias("n"),
        "bar_ts",
    )
    wtrend = Window.partitionBy("symbol").orderBy("rn").rowsBetween(-12, 12)
    trend = seq.select(
        "symbol",
        "hod",
        "close",
        "rn",
        "n",
        (
            F.sum(F.col("close").cast("decimal(38,6)"))
            .over(wtrend)
            .cast("double")
            / F.lit(25)
        ).alias("trend"),
    )
    resid = bounded_persist(
        trend.filter((F.col("rn") > 12) & (F.col("rn") <= F.col("n") - 12))
        .select("symbol", "hod", (F.col("close") - F.col("trend")).alias("r")),
        "sstr-resid",
    )
    season = resid.groupBy("symbol", "hod").agg(
        portable_round(
            split_term_sum(F.col("r"), 12, 8) / F.count(F.lit(1)), 6
        ).alias("s")
    )
    rem = resid.join(F.broadcast(season), ["symbol", "hod"]).select(
        "symbol", "r", (F.col("r") - F.col("s")).alias("e")
    )
    mo = rem.groupBy("symbol").agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        split_term_sum(F.col("r"), 12, 8).alias("sr"),
        split_term_sum(F.col("r") * F.col("r"), 12, 8).alias("srr"),
        split_term_sum(F.col("e"), 12, 8).alias("se"),
        split_term_sum(F.col("e") * F.col("e"), 12, 8).alias("see"),
    )
    vr = F.col("srr") / F.col("n") - (F.col("sr") / F.col("n")) * (
        F.col("sr") / F.col("n")
    )
    ve = F.col("see") / F.col("n") - (F.col("se") / F.col("n")) * (
        F.col("se") / F.col("n")
    )
    return (
        mo.select(
            "symbol",
            "n",
            portable_round(vr, 8).cast("double").alias("var_detrended"),
            portable_round(ve, 8).cast("double").alias("var_remainder"),
            F.when(vr <= 0, F.lit(None).cast("double"))
            .otherwise(
                portable_round(F.greatest(F.lit(0.0), F.lit(1.0) - ve / vr), 6)
            )
            .cast("double")
            .alias("seasonal_strength"),
        )
        .orderBy("symbol")
    )


@query(
    "q_partial_corr",
    oracle=f"""
    WITH cbars AS ({sql_ohlcv_bars("hour", "close")}),
    {_DUCK_LOG_CHAIN},
    mkt AS ({sql_market_return("lr")}),
    tri AS (
        SELECT a.symbol AS symbol_a, b.symbol AS symbol_b,
               a.r AS ra, b.r AS rb, m.rm
        FROM lr a
        JOIN lr b ON a.bar_ts = b.bar_ts AND a.symbol < b.symbol
        JOIN mkt m ON m.bar_ts = a.bar_ts
    ),
    mo AS (
        SELECT symbol_a, symbol_b,
               CAST(COUNT(*) AS BIGINT) AS n,
               {sql_split_term_sum("ra", 12, 8)} AS sa,
               {sql_split_term_sum("rb", 12, 8)} AS sb,
               {sql_split_term_sum("rm", 12, 8)} AS sm,
               {sql_split_term_sum("ra * rb", 12, 8)} AS sab,
               {sql_split_term_sum("ra * rm", 12, 8)} AS sam,
               {sql_split_term_sum("rb * rm", 12, 8)} AS sbm,
               {sql_split_term_sum("ra * ra", 12, 8)} AS saa,
               {sql_split_term_sum("rb * rb", 12, 8)} AS sbb,
               {sql_split_term_sum("rm * rm", 12, 8)} AS smm
        FROM tri GROUP BY 1, 2
    ),
    rho AS (
        SELECT symbol_a, symbol_b, n,
               (n * sab - sa * sb)
                 / sqrt((n * saa - sa * sa) * (n * sbb - sb * sb)) AS rab,
               (n * sam - sa * sm)
                 / sqrt((n * saa - sa * sa) * (n * smm - sm * sm)) AS ram,
               (n * sbm - sb * sm)
                 / sqrt((n * sbb - sb * sb) * (n * smm - sm * sm)) AS rbm
        FROM mo
        WHERE (n * saa - sa * sa) > 0 AND (n * sbb - sb * sb) > 0
          AND (n * smm - sm * sm) > 0
    )
    SELECT symbol_a, symbol_b, n,
           {sql_portable_round("rab", 6)} AS corr_raw,
           CASE WHEN (1.0 - ram * ram) * (1.0 - rbm * rbm) <= 0 THEN NULL
                ELSE {sql_portable_round(
                    "(rab - ram * rbm)"
                    " / sqrt((1.0 - ram * ram) * (1.0 - rbm * rbm))",
                    6)} END AS partial_corr
    FROM rho ORDER BY symbol_a, symbol_b
    """,
)
def q_partial_corr(spark: SparkSession, sf_dir: str) -> DataFrame:
    """First-order partial correlation per symbol pair controlling for
    the equal-weight market: ρ_ab·m = (ρ_ab − ρ_am·ρ_bm)/
    √((1−ρ_am²)(1−ρ_bm²)) — how much co-movement SURVIVES once the
    common market factor is removed, the residual-dependence screen
    beside q_corr_pairs' raw matrix (two symbols can show ρ ≈ 0.9 and
    partial ρ ≈ 0 purely through beta). All three correlations from
    one DECIMAL joint-moment pass over the bar_ts-aligned triple
    (ra, rb, rm); degenerate variances → row drops; |ρ·m| denominators
    ≤ 0 → NULL. Scale: one bar_ts-co-partitioned pair join bounded by
    the symbol catalog + one moments hash-agg."""
    bars = ohlcv_bars(load_table(spark, sf_dir, "events"), "hour", "close")
    lr = bounded_persist(_log_chain(bars), "pcorr-lr")
    mkt = market_return(lr)
    a = lr.select(F.col("symbol").alias("symbol_a"), "bar_ts", F.col("r").alias("ra"))
    b = lr.select(F.col("symbol").alias("symbol_b"), "bar_ts", F.col("r").alias("rb"))
    tri = (
        a.join(b, "bar_ts")
        .filter(F.col("symbol_a") < F.col("symbol_b"))
        .join(F.broadcast(mkt), "bar_ts")
    )

    def dsum(col, alias):
        return split_term_sum(col, 12, 8).alias(alias)

    ra, rb, rmc = F.col("ra"), F.col("rb"), F.col("rm")
    mo = tri.groupBy("symbol_a", "symbol_b").agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        dsum(ra, "sa"),
        dsum(rb, "sb"),
        dsum(rmc, "sm"),
        dsum(ra * rb, "sab"),
        dsum(ra * rmc, "sam"),
        dsum(rb * rmc, "sbm"),
        dsum(ra * ra, "saa"),
        dsum(rb * rb, "sbb"),
        dsum(rmc * rmc, "smm"),
    )
    n = F.col("n")
    va = n * F.col("saa") - F.col("sa") * F.col("sa")
    vb = n * F.col("sbb") - F.col("sb") * F.col("sb")
    vm = n * F.col("smm") - F.col("sm") * F.col("sm")
    rab = (n * F.col("sab") - F.col("sa") * F.col("sb")) / F.sqrt(va * vb)
    ram = (n * F.col("sam") - F.col("sa") * F.col("sm")) / F.sqrt(va * vm)
    rbm = (n * F.col("sbm") - F.col("sb") * F.col("sm")) / F.sqrt(vb * vm)
    denom = (F.lit(1.0) - ram * ram) * (F.lit(1.0) - rbm * rbm)
    return (
        mo.filter((va > 0) & (vb > 0) & (vm > 0))
        .select(
            "symbol_a",
            "symbol_b",
            "n",
            portable_round(rab, 6).cast("double").alias("corr_raw"),
            F.when(denom <= 0, F.lit(None).cast("double"))
            .otherwise(portable_round((rab - ram * rbm) / F.sqrt(denom), 6))
            .cast("double")
            .alias("partial_corr"),
        )
        .orderBy("symbol_a", "symbol_b")
    )


@query(
    "q_adf_lite",
    oracle=f"""
    WITH cbars AS ({sql_ohlcv_bars("hour", "close")}),
    d AS (
        SELECT symbol,
               lag(close) OVER ws AS xl,
               close - lag(close) OVER ws AS dx
        FROM cbars
        WINDOW ws AS (PARTITION BY symbol ORDER BY bar_ts)
        QUALIFY lag(close) OVER ws IS NOT NULL
    ),
    mo AS (
        SELECT symbol,
               CAST(COUNT(*) AS BIGINT) AS n,
               {sql_split_term_sum("xl", 12, 8)} AS sx,
               {sql_split_term_sum("dx", 12, 8)} AS sy,
               {sql_split_term_sum("xl * xl", 12, 8)} AS sxx,
               {sql_split_term_sum("xl * dx", 12, 8)} AS sxy,
               {sql_split_term_sum("dx * dx", 12, 8)} AS syy
        FROM d GROUP BY 1
    ),
    fit AS (
        SELECT symbol, n,
               (n * sxy - sx * sy) / (n * sxx - sx * sx) AS beta,
               (syy - sy * sy / n
                - ((n * sxy - sx * sy) / (n * sxx - sx * sx))
                  * (sxy - sx * sy / n)) / (n - 2) AS s2,
               sxx - sx * sx / n AS cxx
        FROM mo WHERE n > 2 AND n * sxx - sx * sx > 0
    )
    SELECT symbol, n,
           {sql_portable_round("beta", 8)} AS gamma,
           CASE WHEN s2 <= 0 OR cxx <= 0 THEN NULL
                ELSE {sql_portable_round("beta / sqrt(s2 / cxx)", 6)} END AS df_t
    FROM fit ORDER BY symbol
    """,
)
def q_adf_lite(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dickey–Fuller unit-root test (zero augmentation lags) per
    symbol: regress Δclose on close_{t−1} with intercept; γ < 0 with a
    large-magnitude t rejects the unit root (mean reversion), γ ≈ 0
    means a random walk — the stationarity screen upstream of
    q_cointegration_screen's residual diagnostics. Closed-form OLS
    slope, residual variance, and t = γ̂/√(s²/Sxx) from one DECIMAL
    joint-moment pass; degenerate regressor variance → row drops.
    Scale: one lag window + one moments hash-agg."""
    ev = load_table(spark, sf_dir, "events")
    bars = ohlcv_bars(ev, "hour", "close")
    ws = Window.partitionBy("symbol").orderBy("bar_ts")
    d = (
        bars.select(
            "symbol",
            F.lag("close").over(ws).alias("xl"),
            (F.col("close") - F.lag("close").over(ws)).alias("dx"),
        )
        .filter(F.col("xl").isNotNull())
    )
    xl, dx = F.col("xl"), F.col("dx")
    mo = d.groupBy("symbol").agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        split_term_sum(xl, 12, 8).alias("sx"),
        split_term_sum(dx, 12, 8).alias("sy"),
        split_term_sum(xl * xl, 12, 8).alias("sxx"),
        split_term_sum(xl * dx, 12, 8).alias("sxy"),
        split_term_sum(dx * dx, 12, 8).alias("syy"),
    )
    n = F.col("n")
    cxx = F.col("sxx") - F.col("sx") * F.col("sx") / n
    beta = (n * F.col("sxy") - F.col("sx") * F.col("sy")) / (
        n * F.col("sxx") - F.col("sx") * F.col("sx")
    )
    s2 = (
        F.col("syy")
        - F.col("sy") * F.col("sy") / n
        - beta * (F.col("sxy") - F.col("sx") * F.col("sy") / n)
    ) / (n - 2)
    return (
        mo.filter(
            (n > 2) & (n * F.col("sxx") - F.col("sx") * F.col("sx") > 0)
        )
        .select(
            "symbol",
            "n",
            portable_round(beta, 8).cast("double").alias("gamma"),
            F.when((s2 <= 0) | (cxx <= 0), F.lit(None).cast("double"))
            .otherwise(portable_round(beta / F.sqrt(s2 / cxx), 6))
            .cast("double")
            .alias("df_t"),
        )
        .orderBy("symbol")
    )


@query(
    "q_page_hinkley",
    oracle=f"""
    WITH cbars AS ({sql_ohlcv_bars("hour", "close")}),
    {_DUCK_LOG_CHAIN},
    mu AS (
        SELECT symbol,
               {sql_split_term_sum("r", 12, 8)} / COUNT(*)
                   AS mu
        FROM lr GROUP BY 1
    ),
    cum AS (
        SELECT l.symbol, l.bar_ts,
               CAST(SUM(CAST((CAST(floor(CAST((l.r - m.mu - 0.0001)
                    AS DOUBLE) * 1000000000000.0 + 0.5) AS DOUBLE)
                    / 1000000000000.0) AS DECIMAL(38,12))) OVER w
                    AS DOUBLE) AS c
        FROM lr l JOIN mu m USING (symbol)
        WINDOW w AS (PARTITION BY l.symbol ORDER BY l.bar_ts
                     ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
    ),
    ph AS (
        SELECT symbol, bar_ts, c,
               c - min(c) OVER (PARTITION BY symbol ORDER BY bar_ts
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                   AS ph_t
        FROM cum
    )
    SELECT symbol,
           CAST(COUNT(*) AS BIGINT) AS n,
           {sql_portable_round("max(ph_t)", 8)} AS ph_stat,
           CAST(CASE WHEN max(ph_t) > 0.05 THEN 1 ELSE 0 END AS INTEGER)
               AS drift_alarm
    FROM ph GROUP BY symbol ORDER BY symbol
    """,
)
def q_page_hinkley(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Page–Hinkley upward-drift statistic per symbol over hourly log
    returns (δ = 1e-4, λ = 0.05): PH = max_t (C_t − min_{s≤t} C_s)
    with C_t the running sum of (x − x̄ − δ) — the classic sequential
    changepoint detector, here rewritten from its per-step recurrence
    into PREFIX SUM − RUNNING MIN, so it stays in two stacked JVM
    windows with no Python and no iterative state (the q_cusum
    lesson applied to the mean-shift detector streaming-ML libraries
    ship). Each summand 12dp-rounds then accumulates in DECIMAL (the
    prefix sum must be identical on both engines at EVERY t, not just
    in total). Scale: one broadcast mean join + two stacked windows on
    the symbol partition."""
    lr = _log_chain(
        ohlcv_bars(load_table(spark, sf_dir, "events"), "hour", "close")
    )
    mu = lr.groupBy("symbol").agg(
        (split_term_sum(F.col("r"), 12, 8) / F.count(F.lit(1))).alias("mu")
    )
    # 12dp-pre-rounded summands cast at their OWN scale (matching the
    # oracle's DECIMAL(38,12)): |term| <= ~22 -> k <= 2.2e13 << 2^53
    dev = term(F.col("r") - F.col("mu") - F.lit(0.0001), 12)
    wc = (
        Window.partitionBy("symbol")
        .orderBy("bar_ts")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    cum = lr.join(F.broadcast(mu), "symbol").select(
        "symbol",
        "bar_ts",
        F.sum(dev).over(wc).cast("double").alias("c"),
    )
    ph = cum.select(
        "symbol",
        (F.col("c") - F.min("c").over(wc)).alias("ph_t"),
    )
    return (
        ph.groupBy("symbol")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n"),
            portable_round(F.max("ph_t"), 8).cast("double").alias("ph_stat"),
            F.when(F.max("ph_t") > 0.05, F.lit(1))
            .otherwise(F.lit(0))
            .cast("int")
            .alias("drift_alarm"),
        )
        .orderBy("symbol")
    )
