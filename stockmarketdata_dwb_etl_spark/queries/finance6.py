"""Finance batch 6: directional-movement and momentum indicators that
round out the technical-analysis family (Chande momentum, Vortex,
Wilder's ADX, Yang-Zhang volatility, Durbin-Watson trend diagnostics).

The reference pipeline lands OHLC candles in a warehouse and delegates
this whole indicator tier to downstream SQL
(/root/reference/dump_bigq.py:135-149); these queries are that tier,
computed in-engine over the same tick->hourly-bar recipe as
finance.py/finance2.py (deterministic open/close basis: min_by/max_by
on the padded (epoch_us, event_id) key).

Determinism policy (the house recipe, see functions/exact.py): per-bar
terms are built from IDENTICAL double expression trees on both engines
(single subtraction / abs / greatest chains — bit-deterministic IEEE
ops), rounded to 12dp via the portable floor-form, accumulated as
DECIMAL(38,18) (order-independent exact sums), with exactly ONE double
division at the end, then the portable 4-6dp presentation round. The
ADX recurrence is sequential (Wilder smoothing), so it takes the
documented (b)-path: Arrow-batched ``applyInPandas`` per symbol with
the multiply-add order matched term-for-term by a recursive-CTE oracle
(the q_ewma precedent, queries/timeseries.py).

Scale posture: every query here is tick->bar hash-agg (the ONE
full-data shuffle) followed by per-symbol windows over calendar-bounded
bar series (<=10^4 rows/symbol/year regardless of tick volume), so the
bar stage is the only thing that grows with data size; the indicator
stage is catalog-sized. Skewed symbols are absorbed by the bar agg's
partial aggregation.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from stockmarketdata_dwb_etl_spark.catalog import load_table
from stockmarketdata_dwb_etl_spark.functions.bars import (
    OHLC,
    ohlcv_bars,
    sql_ohlcv_bars,
)
from stockmarketdata_dwb_etl_spark.functions.exact import (
    portable_round,
    sql_portable_round,
    sql_term,
    term,
)
from stockmarketdata_dwb_etl_spark.registry import query


@query(
    "q_chande_momentum",
    oracle=f"""
    WITH bars AS ({sql_ohlcv_bars("hour", *OHLC)}),
    lagged AS (
        SELECT symbol, bar_ts, close,
               lag(close) OVER (PARTITION BY symbol ORDER BY bar_ts) AS pc
        FROM bars
    ),
    d AS (
        -- filter on the LAG, not on gain: greatest() ignores NULLs on
        -- both engines, so greatest(NULL-diff, 0.0) is 0.0 and the
        -- first bar would sneak in as a phantom zero move
        SELECT symbol, bar_ts,
               {sql_term(
                   "greatest(close - pc, 0.0)", 12)} AS gain,
               {sql_term(
                   "greatest(-(close - pc), 0.0)", 12)} AS loss
        FROM lagged WHERE pc IS NOT NULL
    ),
    s AS (
        SELECT symbol, bar_ts,
               SUM(gain) OVER w7 AS sg,
               SUM(loss) OVER w7 AS sl,
               COUNT(gain) OVER w7 AS n_in
        FROM d
        WINDOW w7 AS (PARTITION BY symbol ORDER BY bar_ts
                      ROWS BETWEEN 6 PRECEDING AND CURRENT ROW)
    )
    SELECT symbol, bar_ts,
           CAST({sql_portable_round(
               "100.0 * (CAST(sg - sl AS DOUBLE)"
               " / nullif(CAST(sg + sl AS DOUBLE), 0.0))", 4)}
               AS DOUBLE) AS cmo
    FROM s WHERE n_in = 7
    ORDER BY symbol, bar_ts
    """,
)
def q_chande_momentum(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Chande Momentum Oscillator (period 7) per symbol: the unsmoothed
    momentum ratio 100·(Σgain − Σloss)/(Σgain + Σloss) over the last 7
    close-to-close moves — RSI's symmetric cousin (bounded ±100, zero
    centered), emitted only where the 7-move frame is full. Per-move
    gains/losses are single-subtraction doubles rounded to 12dp and
    summed in exact DECIMAL at the rounding scale; flat frames (Σgain+Σloss = 0) yield NULL
    via nullif rather than a 0/0. Scale: one tick->bar shuffle, then a
    bar-grained window per symbol."""
    bars = ohlcv_bars(load_table(spark, sf_dir, "events"), "hour", *OHLC)
    w = Window.partitionBy("symbol").orderBy("bar_ts")
    diff = F.col("close") - F.col("pc")
    # filter on the LAG, not on gain: greatest() ignores NULLs on both
    # engines, so the first bar would otherwise enter as a zero move
    d = (
        bars.withColumn("pc", F.lag("close").over(w))
        .filter(F.col("pc").isNotNull())
        .select(
            "symbol",
            "bar_ts",
            term(F.greatest(diff, F.lit(0.0)), 12)
            .alias("gain"),
            term(F.greatest(-diff, F.lit(0.0)), 12)
            .alias("loss"),
        )
    )
    w7 = (
        Window.partitionBy("symbol").orderBy("bar_ts").rowsBetween(-6, 0)
    )
    s = d.select(
        "symbol",
        "bar_ts",
        F.sum("gain").over(w7).alias("sg"),
        F.sum("loss").over(w7).alias("sl"),
        F.count("gain").over(w7).alias("n_in"),
    )
    cmo = 100.0 * (
        (F.col("sg") - F.col("sl")).cast("double")
        / F.nullif((F.col("sg") + F.col("sl")).cast("double"), F.lit(0.0))
    )
    return (
        s.filter(F.col("n_in") == 7)
        .select(
            "symbol",
            "bar_ts",
            portable_round(cmo, 4).cast("double").alias("cmo"),
        )
        .orderBy("symbol", "bar_ts")
    )


@query(
    "q_vortex",
    oracle=f"""
    WITH bars AS ({sql_ohlcv_bars("hour", *OHLC)}),
    lagged AS (
        SELECT symbol, bar_ts, high, low,
               lag(low) OVER w AS pl,
               lag(high) OVER w AS ph,
               lag(close) OVER w AS pc
        FROM bars
        WINDOW w AS (PARTITION BY symbol ORDER BY bar_ts)
    ),
    m AS (
        -- filter on the LAG (greatest ignores NULLs on both engines, so
        -- the first bar's TR would otherwise collapse to high-low while
        -- its vortex movements stay NULL — an inconsistent frame)
        SELECT symbol, bar_ts,
               {sql_term("abs(high - pl)", 12)} AS vmp,
               {sql_term("abs(low - ph)", 12)} AS vmm,
               {sql_term(
                   "greatest(high - low,"
                   " abs(high - pc),"
                   " abs(low - pc))", 12)} AS tr
        FROM lagged WHERE pc IS NOT NULL
    ),
    s AS (
        SELECT symbol, bar_ts,
               SUM(vmp) OVER w7 AS svmp,
               SUM(vmm) OVER w7 AS svmm,
               SUM(tr) OVER w7 AS str,
               COUNT(tr) OVER w7 AS n_in
        FROM m
        WINDOW w7 AS (PARTITION BY symbol ORDER BY bar_ts
                      ROWS BETWEEN 6 PRECEDING AND CURRENT ROW)
    )
    SELECT symbol, bar_ts,
           CAST({sql_portable_round(
               "CAST(svmp AS DOUBLE) / nullif(CAST(str AS DOUBLE), 0.0)",
               4)} AS DOUBLE) AS vi_plus,
           CAST({sql_portable_round(
               "CAST(svmm AS DOUBLE) / nullif(CAST(str AS DOUBLE), 0.0)",
               4)} AS DOUBLE) AS vi_minus
    FROM s WHERE n_in = 7
    ORDER BY symbol, bar_ts
    """,
)
def q_vortex(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Vortex indicator (period 7) per symbol: VI+ = Σ|H_t − L_{t−1}| / ΣTR
    and VI− = Σ|L_t − H_{t−1}| / ΣTR over the last 7 bars — the
    crossing-based trend-change signal. True range uses the standard
    3-way greatest (range, gap-up, gap-down vs prior close). Per-bar
    vortex movements and TR are single-op double chains rounded to 12dp
    and summed in exact DECIMAL at the rounding scale; one double division per ratio; full
    7-bar frames only. Scale: identical posture to q_chande_momentum —
    one tick->bar shuffle then catalog-sized windows."""
    bars = ohlcv_bars(load_table(spark, sf_dir, "events"), "hour", *OHLC)
    w = Window.partitionBy("symbol").orderBy("bar_ts")
    # filter on the LAG (greatest ignores NULLs on both engines — see
    # the oracle comment)
    lagged = (
        bars.withColumn("pl", F.lag("low").over(w))
        .withColumn("ph", F.lag("high").over(w))
        .withColumn("pc", F.lag("close").over(w))
        .filter(F.col("pc").isNotNull())
    )
    m = lagged.select(
        "symbol",
        "bar_ts",
        term(F.abs(F.col("high") - F.col("pl")), 12)
        .alias("vmp"),
        term(F.abs(F.col("low") - F.col("ph")), 12)
        .alias("vmm"),
        term(F.greatest(
                F.col("high") - F.col("low"),
                F.abs(F.col("high") - F.col("pc")),
                F.abs(F.col("low") - F.col("pc")),
            ), 12)
        .alias("tr"),
    )
    w7 = Window.partitionBy("symbol").orderBy("bar_ts").rowsBetween(-6, 0)
    s = m.select(
        "symbol",
        "bar_ts",
        F.sum("vmp").over(w7).alias("svmp"),
        F.sum("vmm").over(w7).alias("svmm"),
        F.sum("tr").over(w7).alias("str"),
        F.count("tr").over(w7).alias("n_in"),
    )
    den = F.nullif(F.col("str").cast("double"), F.lit(0.0))
    return (
        s.filter(F.col("n_in") == 7)
        .select(
            "symbol",
            "bar_ts",
            portable_round(F.col("svmp").cast("double") / den, 4)
            .cast("double")
            .alias("vi_plus"),
            portable_round(F.col("svmm").cast("double") / den, 4)
            .cast("double")
            .alias("vi_minus"),
        )
        .orderBy("symbol", "bar_ts")
    )


@query(
    "q_yang_zhang_vol",
    oracle=f"""
    WITH bars AS ({sql_ohlcv_bars("hour", *OHLC)}),
    lagged AS (
        SELECT symbol, bar_ts, open, high, low, close,
               lag(close) OVER (PARTITION BY symbol ORDER BY bar_ts) AS pc
        FROM bars
    ),
    t AS (
        SELECT symbol,
               {sql_term("ln(open / pc)", 12)} AS o1,
               {sql_term("ln(open / pc) * ln(open / pc)", 12)} AS o2,
               {sql_term("ln(close / open)", 12)} AS c1,
               {sql_term(
                   "ln(close / open) * ln(close / open)", 12)} AS c2,
               {sql_term(
                   "ln(high / close) * ln(high / open)"
                   " + ln(low / close) * ln(low / open)", 12)} AS rs
        FROM lagged
        WHERE pc IS NOT NULL AND low > 0 AND pc > 0 AND open > 0
    ),
    v AS (
        SELECT symbol, CAST(COUNT(*) AS BIGINT) AS n_bars,
               (CAST(SUM(o2) AS DOUBLE)
                - CAST(SUM(o1) AS DOUBLE) * CAST(SUM(o1) AS DOUBLE)
                  / COUNT(*)) / (COUNT(*) - 1) AS v_on,
               (CAST(SUM(c2) AS DOUBLE)
                - CAST(SUM(c1) AS DOUBLE) * CAST(SUM(c1) AS DOUBLE)
                  / COUNT(*)) / (COUNT(*) - 1) AS v_oc,
               CAST(SUM(rs) AS DOUBLE) / COUNT(*) AS v_rs,
               0.34 / (1.34 + (COUNT(*) + 1.0) / (COUNT(*) - 1.0)) AS k
        FROM t GROUP BY symbol HAVING COUNT(*) > 1
    )
    SELECT symbol, n_bars,
           CAST({sql_portable_round(
               "v_on + k * v_oc + (1.0 - k) * v_rs", 6)} AS DOUBLE) AS yz_var,
           CAST({sql_portable_round(
               "sqrt(greatest(v_on + k * v_oc + (1.0 - k) * v_rs, 0.0))",
               6)} AS DOUBLE) AS yz_vol
    FROM v ORDER BY symbol
    """,
)
def q_yang_zhang_vol(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Yang-Zhang (2000) volatility per symbol — the minimum-variance
    drift-and-gap-robust OHLC estimator combining overnight variance,
    open-to-close variance and the Rogers-Satchell range term:
    V = V_on + k·V_oc + (1−k)·V_rs with k = 0.34/(1.34 + (n+1)/(n−1)).
    Complements q_volatility_gk (GK assumes zero drift and no gaps).
    Each symbol's first bar is dropped (overnight needs a prior close)
    so all three components share one n. Per-bar log terms are
    identical double trees rounded to 12dp, summed in exact DECIMAL at the rounding scale;
    the two sample variances use the Σx²−(Σx)²/n form with ONE
    decimal→double cast per sum so both engines' float paths match
    bit-for-bit before the 6dp presentation round. Scale: tick->bar
    hash-agg (the only full-data shuffle), then a 1-row-per-symbol agg.
    """
    bars = ohlcv_bars(load_table(spark, sf_dir, "events"), "hour", *OHLC)
    w = Window.partitionBy("symbol").orderBy("bar_ts")
    lagged = bars.withColumn("pc", F.lag("close").over(w)).filter(
        F.col("pc").isNotNull()
        & (F.col("low") > 0)
        & (F.col("pc") > 0)
        & (F.col("open") > 0)
    )
    o = F.log(F.col("open") / F.col("pc"))
    c = F.log(F.col("close") / F.col("open"))
    rs = F.log(F.col("high") / F.col("close")) * F.log(
        F.col("high") / F.col("open")
    ) + F.log(F.col("low") / F.col("close")) * F.log(
        F.col("low") / F.col("open")
    )
    t = lagged.select(
        "symbol",
        term(o, 12).alias("o1"),
        term(o * o, 12).alias("o2"),
        term(c, 12).alias("c1"),
        term(c * c, 12).alias("c2"),
        term(rs, 12).alias("rs"),
    )
    n = F.count(F.lit(1))
    v = (
        t.groupBy("symbol")
        .agg(
            n.cast("bigint").alias("n_bars"),
            (
                (
                    F.sum("o2").cast("double")
                    - F.sum("o1").cast("double")
                    * F.sum("o1").cast("double")
                    / n
                )
                / (n - 1)
            ).alias("v_on"),
            (
                (
                    F.sum("c2").cast("double")
                    - F.sum("c1").cast("double")
                    * F.sum("c1").cast("double")
                    / n
                )
                / (n - 1)
            ).alias("v_oc"),
            (F.sum("rs").cast("double") / n).alias("v_rs"),
            (0.34 / (1.34 + (n + F.lit(1.0)) / (n - F.lit(1.0)))).alias("k"),
        )
        .filter(F.col("n_bars") > 1)
    )
    yz = F.col("v_on") + F.col("k") * F.col("v_oc") + (
        F.lit(1.0) - F.col("k")
    ) * F.col("v_rs")
    return v.select(
        "symbol",
        "n_bars",
        portable_round(yz, 6).cast("double").alias("yz_var"),
        portable_round(F.sqrt(F.greatest(yz, F.lit(0.0))), 6)
        .cast("double")
        .alias("yz_vol"),
    ).orderBy("symbol")


@query(
    "q_adx",
    oracle=f"""
    WITH RECURSIVE bars AS ({sql_ohlcv_bars("hour", *OHLC)}),
    lagged AS (
        SELECT symbol, bar_ts, high, low,
               lag(high) OVER w AS ph,
               lag(low) OVER w AS pl,
               lag(close) OVER w AS pc
        FROM bars
        WINDOW w AS (PARTITION BY symbol ORDER BY bar_ts)
    ),
    m AS (
        SELECT symbol, bar_ts,
               CASE WHEN (high - ph) > (pl - low) AND (high - ph) > 0.0
                    THEN high - ph ELSE 0.0 END AS pdm,
               CASE WHEN (pl - low) > (high - ph) AND (pl - low) > 0.0
                    THEN pl - low ELSE 0.0 END AS mdm,
               greatest(high - low, abs(high - pc), abs(low - pc)) AS tr,
               row_number() OVER (PARTITION BY symbol ORDER BY bar_ts) AS rn
        FROM lagged WHERE pc IS NOT NULL
    ),
    packed AS (
        SELECT symbol,
               list(pdm ORDER BY rn) AS ps,
               list(mdm ORDER BY rn) AS ms,
               list(tr ORDER BY rn) AS trs,
               len(list(tr)) AS n
        FROM m GROUP BY symbol
    ),
    r1 AS (
        SELECT symbol, ps, ms, trs, n, 1 AS rn,
               ps[1] AS sp, ms[1] AS sm, trs[1] AS st
        FROM packed
        UNION ALL
        SELECT symbol, ps, ms, trs, n, rn + 1,
               0.875 * sp + 0.125 * ps[rn + 1],
               0.875 * sm + 0.125 * ms[rn + 1],
               0.875 * st + 0.125 * trs[rn + 1]
        FROM r1 WHERE rn < n
    ),
    di AS (
        SELECT symbol, rn,
               CASE WHEN st = 0.0 THEN NULL
                    ELSE 100.0 * (sp / st) END AS dip,
               CASE WHEN st = 0.0 THEN NULL
                    ELSE 100.0 * (sm / st) END AS dim
        FROM r1
    ),
    dx AS (
        SELECT symbol, rn, dip, dim,
               CASE WHEN dip IS NULL OR dip + dim = 0.0 THEN NULL
                    ELSE 100.0 * (abs(dip - dim) / (dip + dim)) END AS dxv
        FROM di
    ),
    dpacked AS (
        SELECT symbol, list(dxv ORDER BY rn) AS dxs,
               len(list(rn)) AS n
        FROM dx GROUP BY symbol
    ),
    r2 AS (
        SELECT symbol, dxs, n, 1 AS rn, dxs[1] AS adx FROM dpacked
        UNION ALL
        SELECT symbol, dxs, n, rn + 1,
               CASE WHEN dxs[rn + 1] IS NULL THEN adx
                    WHEN adx IS NULL THEN dxs[rn + 1]
                    ELSE 0.875 * adx + 0.125 * dxs[rn + 1] END
        FROM r2 WHERE rn < n
    )
    SELECT m.symbol, m.bar_ts,
           {sql_portable_round("d.dip", 6)} AS di_plus,
           {sql_portable_round("d.dim", 6)} AS di_minus,
           {sql_portable_round("r2.adx", 6)} AS adx
    FROM m
    JOIN dx d ON d.symbol = m.symbol AND d.rn = m.rn
    JOIN r2 ON r2.symbol = m.symbol AND r2.rn = m.rn
    ORDER BY m.symbol, m.bar_ts
    """,
)
def q_adx(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Wilder's Average Directional Index (period 8 — alpha = 0.125 is
    exact in binary, the q_trix precedent) over hourly bars: directional
    movements +DM/−DM (the larger of the up/down moves, when positive),
    true range, Wilder-smoothed via the seeded EWMA recurrence
    s_t = 0.875·s_{t−1} + 0.125·x_t, DI± = 100·sDM/sTR,
    DX = 100·|DI+ − DI−|/(DI+ + DI−), and ADX = the same recurrence over
    DX (NULL DX carries the previous ADX; the first non-NULL seeds) —
    the trend-STRENGTH gauge that tells a strategy whether q_macd-style
    signals are trustworthy. Three sequential recurrences (sDM+, sDM−,
    sTR) run in ONE Arrow-batched ``applyInPandas`` visit per symbol
    plus the ADX pass, multiply-add order matched term-for-term by the
    packed-list recursive-CTE oracle (bit-identical float64; zero-range
    and zero-DI frames take the identical NULL path on both engines).
    Scale: the q_ewma posture — tick->bar hash-agg is the only
    full-data shuffle; per-symbol state is three floats."""
    import pandas as pd

    bars = ohlcv_bars(load_table(spark, sf_dir, "events"), "hour", *OHLC)

    def adx_group(pdf: pd.DataFrame) -> pd.DataFrame:
        pdf = pdf.sort_values("bar_ts").reset_index(drop=True)
        rows = []
        sp = sm = st = adx = None
        ph = pl = pc = None
        for h, lo, c, bts in zip(
            pdf["high"], pdf["low"], pdf["close"], pdf["bar_ts"]
        ):
            if pc is not None:
                up, down = h - ph, pl - lo
                pdm = up if (up > down and up > 0.0) else 0.0
                mdm = down if (down > up and down > 0.0) else 0.0
                tr = max(h - lo, abs(h - pc), abs(lo - pc))
                if sp is None:
                    sp, sm, st = pdm, mdm, tr
                else:
                    sp = 0.875 * sp + 0.125 * pdm
                    sm = 0.875 * sm + 0.125 * mdm
                    st = 0.875 * st + 0.125 * tr
                if st == 0.0:
                    dip = dim = dxv = None
                else:
                    dip = 100.0 * (sp / st)
                    dim = 100.0 * (sm / st)
                    dxv = (
                        None
                        if dip + dim == 0.0
                        else 100.0 * (abs(dip - dim) / (dip + dim))
                    )
                if dxv is not None:
                    adx = dxv if adx is None else 0.875 * adx + 0.125 * dxv
                rows.append((bts, dip, dim, adx))
            ph, pl, pc = h, lo, c
        out = pd.DataFrame(
            rows, columns=["bar_ts", "di_plus", "di_minus", "adx"]
        )
        out.insert(0, "symbol", pdf["symbol"].iloc[0])
        return out

    long = bars.groupBy("symbol").applyInPandas(
        adx_group,
        "symbol string, bar_ts timestamp, di_plus double,"
        " di_minus double, adx double",
    )
    return long.select(
        "symbol",
        "bar_ts",
        portable_round("di_plus", 6).alias("di_plus"),
        portable_round("di_minus", 6).alias("di_minus"),
        portable_round("adx", 6).alias("adx"),
    ).orderBy("symbol", "bar_ts")


@query(
    "q_durbin_watson",
    oracle=f"""
    WITH bars AS ({sql_ohlcv_bars("hour", *OHLC)}),
    nb AS (
        SELECT symbol, bar_ts, close,
               row_number() OVER (PARTITION BY symbol ORDER BY bar_ts) AS rn
        FROM bars
    ),
    mom AS (
        SELECT symbol,
               CAST(COUNT(*) AS BIGINT) AS n,
               CAST(SUM(rn) AS BIGINT) AS sx,
               CAST(SUM(rn * rn) AS BIGINT) AS sxx,
               SUM({sql_term("close", 12)}) AS sy,
               SUM({sql_term("close * rn", 6)}) AS sxy
        FROM nb GROUP BY symbol HAVING COUNT(*) >= 3
    ),
    fit AS (
        SELECT symbol, n,
               (CAST(n AS DOUBLE) * CAST(sxy AS DOUBLE)
                - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE))
                 / (CAST(n AS DOUBLE) * sxx - CAST(sx AS DOUBLE) * sx)
                 AS b,
               sy, sx
        FROM mom WHERE n * sxx - sx * sx <> 0
    ),
    ab AS (
        SELECT symbol, n, b,
               (CAST(sy AS DOUBLE) - b * CAST(sx AS DOUBLE)) / n AS a
        FROM fit
    ),
    res AS (
        SELECT nb.symbol, nb.rn,
               nb.close - (ab.a + ab.b * nb.rn) AS e
        FROM nb JOIN ab ON ab.symbol = nb.symbol
    ),
    terms AS (
        SELECT symbol,
               {sql_term("e * e", 8)} AS e2,
               {sql_term(
                   "(e - lag(e) OVER (PARTITION BY symbol ORDER BY rn))"
                   " * (e - lag(e) OVER (PARTITION BY symbol ORDER BY rn))",
                   8)} AS d2
        FROM res
    )
    SELECT t.symbol, ab.n AS n_bars,
           CAST({sql_portable_round("ab.b", 6)} AS DOUBLE) AS slope,
           CAST({sql_portable_round(
               "CAST(SUM(t.d2) AS DOUBLE)"
               " / nullif(CAST(SUM(t.e2) AS DOUBLE), 0.0)", 4)}
               AS DOUBLE) AS dw
    FROM terms t JOIN ab ON ab.symbol = t.symbol
    GROUP BY t.symbol, ab.n, ab.b
    ORDER BY t.symbol
    """,
)
def q_durbin_watson(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Durbin-Watson statistic per symbol on the residuals of the
    close-vs-time OLS trend line: DW = Σ(e_t − e_{t−1})²/Σe_t² ∈ [0,4]
    (≈2 means no serial correlation, →0 momentum, →4 mean-reversion) —
    the diagnostic that says whether q_regression's trend fit left
    structure on the table. Slope/intercept come from exact moment sums
    (integer Σx/Σx²; Σy at 12dp, Σxy at 6dp — close·rn·10^dp must stay
    under the int64 floor bound, so 6dp holds to |close·rn| <
    9.2e12 ≈ a million years of hourly bars at price 1e3 where 12dp
    saturated at ~1 year) cast to DOUBLE before the slope numerator so
    BOTH engines evaluate the identical double tree (mixed
    BIGINT×DECIMAL trees quantize differently per engine); residuals
    are then bit-identical cross-engine. Residual difference-squares
    are 8dp-rounded DECIMAL sums (2^53 rule: e² reaches ~1.6e5 at the
    fixture price range, so k = e²·10^8 ≤ ~1.6e13 round-trips exactly
    on both engines where the old 12dp round did not). Scale: tick->bar
    hash-agg, a per-symbol moment agg, a broadcast fit join-back, one
    lag window — the bar table is persisted once (it feeds the moment
    and residual branches)."""
    from stockmarketdata_dwb_etl_spark.operators.cache import bounded_persist

    bars = ohlcv_bars(

        load_table(spark, sf_dir, "events"), "hour", *OHLC

    ).select("symbol", "bar_ts", "close")
    w = Window.partitionBy("symbol").orderBy("bar_ts")
    nb = bounded_persist(
        bars.withColumn("rn", F.row_number().over(w)), "dw-bars"
    )
    mom = (
        nb.groupBy("symbol")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n"),
            F.sum("rn").cast("bigint").alias("sx"),
            F.sum(F.col("rn") * F.col("rn")).cast("bigint").alias("sxx"),
            F.sum(term(F.col("close"), 12)).alias("sy"),
            F.sum(
                term(F.col("close") * F.col("rn"), 6)
            ).alias("sxy"),
        )
        .filter(
            (F.col("n") >= 3)
            & (F.col("n") * F.col("sxx") - F.col("sx") * F.col("sx") != 0)
        )
    )
    b = (
        F.col("n").cast("double") * F.col("sxy").cast("double")
        - F.col("sx").cast("double") * F.col("sy").cast("double")
    ) / (
        F.col("n").cast("double") * F.col("sxx")
        - F.col("sx").cast("double") * F.col("sx")
    )
    ab = (
        mom.withColumn("b", b)
        .withColumn(
            "a",
            (F.col("sy").cast("double") - F.col("b") * F.col("sx").cast("double"))
            / F.col("n"),
        )
        .select("symbol", "n", "b", "a")
    )
    res = nb.join(F.broadcast(ab), "symbol").select(
        "symbol",
        "rn",
        "n",
        "b",
        (F.col("close") - (F.col("a") + F.col("b") * F.col("rn"))).alias("e"),
    )
    wlag = Window.partitionBy("symbol").orderBy("rn")
    d = F.col("e") - F.lag("e").over(wlag)
    terms = res.select(
        "symbol",
        "n",
        "b",
        term(F.col("e") * F.col("e"), 8).alias("e2"),
        term(d * d, 8).alias("d2"),
    )
    return (
        terms.groupBy("symbol", "n", "b")
        .agg(
            portable_round(
                F.sum("d2").cast("double")
                / F.nullif(F.sum("e2").cast("double"), F.lit(0.0)),
                4,
            )
            .cast("double")
            .alias("dw"),
        )
        .select(
            "symbol",
            F.col("n").alias("n_bars"),
            portable_round("b", 6).cast("double").alias("slope"),
            "dw",
        )
        .orderBy("symbol")
    )
