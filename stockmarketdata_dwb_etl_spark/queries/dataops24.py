"""Round-12 operator batch 6: fixed-frequency spectra, histogram model
selection, group-sequential experiment boundaries, and structural-break
inference.

- Spectral power at fixed harmonics: the DFT evaluated at k chosen
  frequencies as plain trigonometric AGGREGATIONS (the Goertzel view —
  no FFT library, no sequential pass), plus spectral entropy — the
  periodicity profile beside q_seasonal_strength.
- Penalized histogram bin selection (Birgé–Rozenholc): pick the bin
  count maximizing penalized multinomial log-likelihood — the
  model-selection step BEFORE q_agg_histogram draws.
- Group-sequential monitoring (O'Brien–Fleming): z statistics at K
  planned looks against the classic alpha-spending boundaries — the
  scheduled-peek companion to q_sprt_ab's continuous monitor.
- Chow test: F statistic for a structural break at a KNOWN split point
  of a per-symbol OLS trend — the inference step after q_binseg_split
  locates a candidate break.

Reference scope: the reference's BigQuery tier is the analytics
surface these extend (dump_bigq.py:135-149 delegates all querying).

Determinism: counts and ranks are exact integers; trig/log terms are
identical-tree doubles over integer-derived arguments, routed through
term_sum at magnitude-bounded digits; boundary constants are identical
literals on both engines.
"""

from __future__ import annotations

import math

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from stockmarketdata_dwb_etl_spark.catalog import load_table
from stockmarketdata_dwb_etl_spark.functions.bars import (
    close_tick,
    open_tick,
    sql_close_tick,
    sql_open_tick,
)
from stockmarketdata_dwb_etl_spark.functions.exact import (
    portable_round,
    split_term_sum,
    sql_portable_round,
    sql_split_term_sum,
    sql_term_sum,
    term_sum,
)
from stockmarketdata_dwb_etl_spark.registry import query

# ---------------------------------------------------------------------------
# Spectral power at fixed harmonics
# ---------------------------------------------------------------------------

_SPEC_KS = (1, 2, 3, 5, 7, 10, 15, 21)  # cycles per series


@query(
    "q_spectral_power",
    oracle=f"""
    WITH bars AS (
        SELECT event_type AS symbol, CAST(ts AS DATE) AS day,
               {sql_open_tick()}
                   AS open,
               {sql_close_tick()}
                   AS close
        FROM events GROUP BY 1, 2
    ),
    x AS (
        SELECT symbol,
               row_number() OVER (PARTITION BY symbol ORDER BY day) - 1
                   AS t,
               COUNT(*) OVER (PARTITION BY symbol) AS n,
               close / open - 1.0 AS v
        FROM bars WHERE open <> 0
    ),
    terms AS (
        SELECT symbol, k.k, n,
               v * cos(2.0 * pi() * k.k * t / n) AS ct,
               v * sin(2.0 * pi() * k.k * t / n) AS st
        FROM x, (SELECT UNNEST([{",".join(str(k) for k in _SPEC_KS)}]) AS k) k
    ),
    coef AS (
        SELECT symbol, k, CAST(MAX(n) AS BIGINT) AS n,
               {sql_split_term_sum("ct", 12, 6)} AS c, {sql_split_term_sum("st", 12, 6)} AS s
        FROM terms GROUP BY symbol, k
    ),
    pw AS (
        SELECT symbol, k, n,
               {sql_portable_round("(c * c + s * s) / n", 10)} AS power
        FROM coef
    ),
    tot AS (
        SELECT symbol, {sql_term_sum("power", 10)} AS ptot FROM pw GROUP BY symbol
    )
    SELECT pw.symbol, CAST(pw.k AS BIGINT) AS k, pw.n,
           CAST({sql_portable_round("pw.power", 6)} AS DOUBLE) AS power,
           CAST({sql_portable_round(
               "pw.power / nullif(t.ptot, 0.0)", 6)} AS DOUBLE)
               AS power_share
    FROM pw JOIN tot t ON t.symbol = pw.symbol
    ORDER BY pw.symbol, k
    """,
)
def q_spectral_power(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DFT power of the daily session-return series at {len(_SPEC_KS)}
    fixed harmonics (k = {_SPEC_KS} cycles per series), evaluated as
    plain trigonometric AGGREGATIONS — power(k) = (Σv·cos(2πkt/n))² +
    (Σv·sin)² over the day-rank index, the Goertzel/DFT-at-a-point
    view that needs no FFT and no sequential pass — plus each
    harmonic's share of the probed spectrum (the periodicity profile
    beside q_seasonal_strength's calendar decomposition). The trig
    arguments derive from exact integers (t, k, n), so both engines
    evaluate identical doubles; coefficient sums route through the
    two-bucket split (|v| can reach ~1e4 on degenerate opens). Scale:
    the harmonic fan is a CONSTANT 8× map-side explode into one
    (symbol, k) hash-agg."""

    bars = (
        load_table(spark, sf_dir, "events")
        .groupBy(
            F.col("event_type").alias("symbol"),
            F.col("ts").cast("date").alias("day"),
        )
        .agg(
            open_tick().alias("open"),
            close_tick().alias("close"),
        )
    )
    wn = Window.partitionBy("symbol")
    x = bars.filter(F.col("open") != 0).select(
        "symbol",
        (F.row_number().over(wn.orderBy("day")) - 1).alias("t"),
        F.count(F.lit(1)).over(wn).alias("n"),
        (F.col("close") / F.col("open") - 1.0).alias("v"),
    )
    ks = spark.createDataFrame([(k,) for k in _SPEC_KS], "k int")
    ang = (
        F.lit(2.0 * math.pi)
        * F.col("k")
        * F.col("t")
        / F.col("n")
    )
    terms = x.crossJoin(F.broadcast(ks)).select(
        "symbol",
        "k",
        "n",
        (F.col("v") * F.cos(ang)).alias("ct"),
        (F.col("v") * F.sin(ang)).alias("st"),
    )
    coef = terms.groupBy("symbol", "k").agg(
        F.max("n").cast("bigint").alias("n"),
        split_term_sum(F.col("ct"), 12, 6).alias("c"),
        split_term_sum(F.col("st"), 12, 6).alias("s"),
    )
    pw = coef.select(
        "symbol",
        "k",
        "n",
        portable_round(
            (F.col("c") * F.col("c") + F.col("s") * F.col("s")) / F.col("n"),
            10,
        ).alias("power"),
    # (symbols × harmonics)-sized, but its lineage is the full events
    # aggregation + 8× harmonic fan: cut it once so building the
    # broadcast `tot` and the final join don't each re-run that pass
    ).localCheckpoint(eager=True)
    tot = pw.groupBy("symbol").agg(term_sum(F.col("power"), 10).alias("ptot"))
    return (
        pw.join(F.broadcast(tot), "symbol")
        .select(
            "symbol",
            F.col("k").cast("bigint").alias("k"),
            "n",
            portable_round(F.col("power"), 6).cast("double").alias("power"),
            portable_round(
                F.col("power") / F.when(F.col("ptot") != 0.0, F.col("ptot")),
                6,
            )
            .cast("double")
            .alias("power_share"),
        )
        .orderBy("symbol", "k")
    )


# ---------------------------------------------------------------------------
# Penalized histogram bin selection (Birgé–Rozenholc)
# ---------------------------------------------------------------------------

_BR_CANDS = (2, 4, 6, 8, 10, 15, 20, 30, 40, 60)


@query(
    "q_histogram_bins",
    oracle=f"""
    WITH span AS (
        SELECT MIN(value) AS lo, MAX(value) AS hi,
               CAST(COUNT(*) AS BIGINT) AS n
        FROM events
    ),
    cands AS (SELECT UNNEST([{",".join(str(d) for d in _BR_CANDS)}]) AS d),
    binned AS (
        SELECT c.d,
               least(CAST(floor((e.value - s.lo) / (s.hi - s.lo) * c.d)
                          AS BIGINT), c.d - 1) AS b,
               CAST(COUNT(*) AS BIGINT) AS cnt
        FROM events e, span s, cands c
        GROUP BY c.d, 2
    ),
    ll AS (
        SELECT b.d,
               {sql_term_sum("CASE WHEN b.cnt > 0 THEN b.cnt"
                      " * LN(b.cnt * b.d::DOUBLE / s.n) ELSE 0.0 END", 4)}
                   AS loglik,
               CAST(MAX(s.n) AS BIGINT) AS n
        FROM binned b, span s GROUP BY b.d
    ),
    scored AS (
        SELECT d, n, loglik,
               {sql_portable_round(
                   "loglik - (d - 1) - pow(LN(d::DOUBLE), 2.1)", 6)}
                   AS penalized
        FROM ll
    )
    SELECT CAST(d AS BIGINT) AS n_bins, n,
           CAST({sql_portable_round("loglik", 4)} AS DOUBLE) AS loglik,
           CAST(penalized AS DOUBLE) AS penalized,
           (row_number() OVER (ORDER BY penalized DESC, d) = 1) AS is_best
    FROM scored ORDER BY n_bins
    """,
)
def q_histogram_bins(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Histogram bin-count selection by the Birgé–Rozenholc penalized
    multinomial likelihood: for each candidate D, LL = Σ c_b·ln(c_b·D/n)
    over equal-width bins of the value range, penalty (D−1)+ln(D)^2.1,
    argmax flagged — the model-selection step a density report runs
    BEFORE drawing q_agg_histogram (too few bins oversmooths, too many
    chases noise). Bin ids and counts are exact integers (identical
    floor arithmetic both engines); LL terms are integer-ratio logs
    summed at 4dp DECIMAL (|term| ≤ n·ln D). Scale: the candidate fan
    is a CONSTANT {len(_BR_CANDS)}× map-side explode into one (D, bin)
    hash-agg — bins per candidate are bounded, never data-sized."""
    ev = load_table(spark, sf_dir, "events")
    span = ev.agg(
        F.min("value").alias("lo"),
        F.max("value").alias("hi"),
        F.count(F.lit(1)).cast("bigint").alias("n"),
    )
    cands = spark.createDataFrame([(d,) for d in _BR_CANDS], "d int")
    binned = (
        ev.crossJoin(F.broadcast(span))
        .crossJoin(F.broadcast(cands))
        .groupBy(
            "d",
            F.least(
                F.floor(
                    (F.col("value") - F.col("lo"))
                    / (F.col("hi") - F.col("lo"))
                    * F.col("d")
                ).cast("bigint"),
                (F.col("d") - 1).cast("bigint"),
            ).alias("b"),
        )
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("cnt"),
            F.max("n").cast("bigint").alias("n"),
        )
    )
    term = F.when(
        F.col("cnt") > 0,
        F.col("cnt")
        * F.log(
            F.col("cnt") * F.col("d").cast("double") / F.col("n")
        ),
    ).otherwise(F.lit(0.0))
    ll = binned.groupBy("d").agg(
        term_sum(term, 4).alias("loglik"),
        F.max("n").cast("bigint").alias("n"),
    )
    pen = portable_round(
        F.col("loglik")
        - (F.col("d") - 1)
        - F.pow(F.log(F.col("d").cast("double")), F.lit(2.1)),
        6,
    )
    scored = ll.select(
        "d", "n", F.col("loglik"), pen.alias("penalized")
    )
    wb = Window.orderBy(F.col("penalized").desc(), "d")
    return scored.select(
        F.col("d").cast("bigint").alias("n_bins"),
        "n",
        portable_round(F.col("loglik"), 4).cast("double").alias("loglik"),
        F.col("penalized").cast("double").alias("penalized"),
        (F.row_number().over(wb) == 1).alias("is_best"),
    ).orderBy("n_bins")


# ---------------------------------------------------------------------------
# Group-sequential monitoring (O'Brien–Fleming)
# ---------------------------------------------------------------------------

_GS_LOOKS = 4
#: two-sided O'Brien–Fleming z boundaries for 4 equally-spaced looks at
#: overall alpha 0.05 (classic tabulated constants — identical literals
#: on both engines)
_GS_BOUNDS = (4.049, 2.863, 2.337, 2.024)


@query(
    "q_group_sequential",
    oracle=f"""
    WITH lim AS (
        SELECT CAST(MIN(CAST(ts AS DATE)) AS DATE) AS d0,
               date_diff('day', MIN(CAST(ts AS DATE)),
                         MAX(CAST(ts AS DATE))) + 1 AS span
        FROM events
    ),
    unit AS (
        SELECT user_id,
               CAST(user_id % 2 AS BIGINT) AS grp,
               least(CAST(floor(date_diff('day', l.d0, CAST(MIN(ts) AS DATE))
                          * {_GS_LOOKS}.0 / l.span) AS BIGINT),
                     {_GS_LOOKS - 1}) + 1 AS look,
               MAX(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END)
                   AS conv
        FROM events, lim l
        GROUP BY user_id, l.d0, l.span
    ),
    looks AS (SELECT UNNEST(generate_series(1, {_GS_LOOKS})) AS look),
    cum AS (
        SELECT k.look, u.grp,
               CAST(COUNT(*) AS BIGINT) AS n,
               CAST(SUM(u.conv) AS BIGINT) AS c
        FROM looks k JOIN unit u ON u.look <= k.look
        GROUP BY k.look, u.grp
    ),
    wide AS (
        SELECT look,
               MAX(CASE WHEN grp = 1 THEN n END) AS n1,
               MAX(CASE WHEN grp = 1 THEN c END) AS c1,
               MAX(CASE WHEN grp = 0 THEN n END) AS n0,
               MAX(CASE WHEN grp = 0 THEN c END) AS c0
        FROM cum GROUP BY look
    ),
    z AS (
        SELECT look, n1, c1, n0, c0,
               {sql_portable_round(
                   "(CAST(c1 AS DOUBLE)/n1 - CAST(c0 AS DOUBLE)/n0)"
                   " / nullif(sqrt((CAST(c1+c0 AS DOUBLE)/(n1+n0))"
                   " * (1.0 - CAST(c1+c0 AS DOUBLE)/(n1+n0))"
                   " * (1.0/n1 + 1.0/n0)), 0.0)", 6)} AS z_stat
        FROM wide
    ),
    bounds(look, bound) AS (
        VALUES {",".join(f"({i + 1}, {b})" for i, b in enumerate(_GS_BOUNDS))}
    )
    SELECT z.look, n1 AS n_treat, n0 AS n_ctrl, c1 AS conv_treat,
           c0 AS conv_ctrl,
           CAST(z.z_stat AS DOUBLE) AS z_stat,
           CAST(b.bound AS DOUBLE) AS of_bound,
           (abs(z.z_stat) >= b.bound) AS crossed
    FROM z JOIN bounds b ON b.look = z.look
    ORDER BY z.look
    """,
)
def q_group_sequential(spark: SparkSession, sf_dir: str) -> DataFrame:
    """O'Brien–Fleming group-sequential monitor: users assigned to a
    look by first-activity quartile of the observation span, per-look
    CUMULATIVE two-proportion z (purchase conversion, odd vs even
    user_ids) against the classic {_GS_LOOKS}-look boundaries
    {_GS_BOUNDS} (overall α = 0.05, conservative early, nominal-ish
    late) — the scheduled-interim companion to q_sprt_ab's continuous
    monitor; crossing at any look stops the experiment. Per-user
    conversion and look are exact integers; the pooled z evaluates one
    identical double tree; boundaries are shared literals. Scale: one
    user-keyed agg + a {_GS_LOOKS}-row broadcast grid inequality join
    over the look-keyed pre-agg."""
    ev = load_table(spark, sf_dir, "events")
    lim = ev.agg(
        F.min(F.col("ts").cast("date")).alias("d0"),
        (
            F.datediff(
                F.max(F.col("ts").cast("date")),
                F.min(F.col("ts").cast("date")),
            )
            + 1
        ).alias("span"),
    )
    unit = (
        ev.crossJoin(F.broadcast(lim))
        .groupBy("user_id", "d0", "span")
        .agg(
            F.min(F.col("ts").cast("date")).alias("first_d"),
            F.max(
                F.when(F.col("event_type") == "purchase", 1).otherwise(0)
            ).alias("conv"),
        )
        .select(
            (F.col("user_id") % 2).cast("bigint").alias("grp"),
            (
                F.least(
                    F.floor(
                        F.datediff("first_d", "d0")
                        * float(_GS_LOOKS)
                        / F.col("span")
                    ).cast("bigint"),
                    F.lit(_GS_LOOKS - 1),
                )
                + 1
            ).alias("look"),
            "conv",
        )
    )
    looks = spark.range(1, _GS_LOOKS + 1).select(
        F.col("id").alias("lk")
    )
    pre = unit.groupBy("look", "grp").agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.sum("conv").cast("bigint").alias("c"),
    )
    cum = (
        pre.join(F.broadcast(looks), pre["look"] <= looks["lk"])
        .groupBy("lk", "grp")
        .agg(
            F.sum("n").cast("bigint").alias("n"),
            F.sum("c").cast("bigint").alias("c"),
        )
    )
    wide = cum.groupBy("lk").agg(
        F.max(F.when(F.col("grp") == 1, F.col("n"))).alias("n1"),
        F.max(F.when(F.col("grp") == 1, F.col("c"))).alias("c1"),
        F.max(F.when(F.col("grp") == 0, F.col("n"))).alias("n0"),
        F.max(F.when(F.col("grp") == 0, F.col("c"))).alias("c0"),
    )
    p1 = F.col("c1").cast("double") / F.col("n1")
    p0 = F.col("c0").cast("double") / F.col("n0")
    pp = (F.col("c1") + F.col("c0")).cast("double") / (
        F.col("n1") + F.col("n0")
    )
    se = F.sqrt(
        pp * (F.lit(1.0) - pp) * (F.lit(1.0) / F.col("n1") + F.lit(1.0) / F.col("n0"))
    )
    z = wide.select(
        "lk",
        "n1",
        "c1",
        "n0",
        "c0",
        portable_round((p1 - p0) / F.when(se != 0.0, se), 6).alias("z_stat"),
    )
    bounds = spark.createDataFrame(
        [(i + 1, float(b)) for i, b in enumerate(_GS_BOUNDS)],
        "lk int, bound double",
    )
    return (
        z.join(F.broadcast(bounds), "lk")
        .select(
            F.col("lk").cast("bigint").alias("look"),
            F.col("n1").alias("n_treat"),
            F.col("n0").alias("n_ctrl"),
            F.col("c1").alias("conv_treat"),
            F.col("c0").alias("conv_ctrl"),
            F.col("z_stat").cast("double").alias("z_stat"),
            F.col("bound").cast("double").alias("of_bound"),
            (F.abs(F.col("z_stat")) >= F.col("bound")).alias("crossed"),
        )
        .orderBy("look")
    )


# ---------------------------------------------------------------------------
# Chow structural-break test
# ---------------------------------------------------------------------------


def _duck_ols_sse(pre: str) -> str:
    """SSE of the y~t OLS fit from moment sums (identical trees)."""
    return (
        f"({pre}syy - {pre}sy * {pre}sy / {pre}n)"
        f" - CASE WHEN {pre}sxx - {pre}sx * {pre}sx / {pre}n = 0 THEN 0.0"
        f" ELSE ({pre}sxy - {pre}sx * {pre}sy / {pre}n)"
        f"      * ({pre}sxy - {pre}sx * {pre}sy / {pre}n)"
        f"      / ({pre}sxx - {pre}sx * {pre}sx / {pre}n) END"
    )


@query(
    "q_chow_test",
    oracle=f"""
    WITH bars AS (
        SELECT event_type AS symbol, CAST(ts AS DATE) AS day,
               {sql_close_tick()}
                   AS close
        FROM events GROUP BY 1, 2
    ),
    x AS (
        SELECT symbol,
               CAST(row_number() OVER (PARTITION BY symbol ORDER BY day)
                    AS DOUBLE) AS t,
               COUNT(*) OVER (PARTITION BY symbol) AS n,
               close AS y
        FROM bars
    ),
    halves AS (
        SELECT symbol, CASE WHEN t <= n / 2.0 THEN 1 ELSE 2 END AS h,
               CAST(COUNT(*) AS BIGINT) AS n,
               {sql_term_sum("t", 6)} AS sx, {sql_term_sum("y", 6)} AS sy,
               {sql_term_sum("t * y", 2)} AS sxy, {sql_term_sum("t * t", 2)} AS sxx,
               {sql_term_sum("y * y", 2)} AS syy
        FROM x GROUP BY symbol, 2
    ),
    pooled AS (
        SELECT symbol, CAST(SUM(n) AS BIGINT) AS n,
               {sql_term_sum("sx", 6)} AS sx, {sql_term_sum("sy", 6)} AS sy,
               {sql_term_sum("sxy", 2)} AS sxy, {sql_term_sum("sxx", 2)} AS sxx,
               {sql_term_sum("syy", 2)} AS syy
        FROM halves GROUP BY symbol
    ),
    sse AS (
        SELECT p.symbol, p.n,
               {sql_portable_round(_duck_ols_sse("p."), 6)} AS sse_p,
               {sql_portable_round(
                   "(" + _duck_ols_sse("a.") + ") + ("
                   + _duck_ols_sse("b.") + ")", 6)} AS sse_s
        FROM pooled p
        JOIN halves a ON a.symbol = p.symbol AND a.h = 1
        JOIN halves b ON b.symbol = p.symbol AND b.h = 2
    )
    SELECT symbol, n,
           CAST({sql_portable_round("sse_p", 4)} AS DOUBLE) AS sse_pooled,
           CAST({sql_portable_round("sse_s", 4)} AS DOUBLE) AS sse_split,
           CAST(CASE WHEN sse_s <= 0 OR n <= 4 THEN NULL ELSE
               {sql_portable_round(
                   "((sse_p - sse_s) / 2.0) / (sse_s / (n - 4))", 6)} END
               AS DOUBLE) AS f_stat
    FROM sse ORDER BY symbol
    """,
)
def q_chow_test(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Chow structural-break test at the midpoint of each symbol's
    daily close trend: F = ((SSE_pooled − SSE_split)/k) /
    (SSE_split/(n−2k)) with k = 2 (intercept + slope) — does ONE
    y~t line fit the whole series as well as separate halves? The
    inference companion to q_binseg_split's break LOCALIZATION (binseg
    finds the cut, Chow tests a hypothesized cut). All OLS inputs are
    moment sums over exact integer day-ranks and raw closes, rounded
    into DECIMAL at magnitude-bounded digits (t ≤ ~150, y ≤ ~600 →
    t·y at 2dp ≪ 2^53); SSEs and F are identical trees. Scale: one
    rank window + TWO symbol-keyed hash-aggs (halves, then pooled from
    the halves' own sums — the big table is scanned once)."""

    bars = (
        load_table(spark, sf_dir, "events")
        .groupBy(
            F.col("event_type").alias("symbol"),
            F.col("ts").cast("date").alias("day"),
        )
        .agg(close_tick().alias("close"))
    )
    wn = Window.partitionBy("symbol")
    x = bars.select(
        "symbol",
        F.row_number().over(wn.orderBy("day")).cast("double").alias("t"),
        F.count(F.lit(1)).over(wn).alias("n"),
        F.col("close").alias("y"),
    )
    halves = x.groupBy(
        "symbol",
        F.when(F.col("t") <= F.col("n") / 2.0, 1).otherwise(2).alias("h"),
    ).agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        term_sum(F.col("t"), 6).alias("sx"),
        term_sum(F.col("y"), 6).alias("sy"),
        term_sum(F.col("t") * F.col("y"), 2).alias("sxy"),
        term_sum(F.col("t") * F.col("t"), 2).alias("sxx"),
        term_sum(F.col("y") * F.col("y"), 2).alias("syy"),
    )
    pooled = halves.groupBy("symbol").agg(
        F.sum("n").cast("bigint").alias("n"),
        term_sum(F.col("sx"), 6).alias("sx"),
        term_sum(F.col("sy"), 6).alias("sy"),
        term_sum(F.col("sxy"), 2).alias("sxy"),
        term_sum(F.col("sxx"), 2).alias("sxx"),
        term_sum(F.col("syy"), 2).alias("syy"),
    )

    def sse(nc, sx, sy, sxy, sxx, syy):
        vx = sxx - sx * sx / nc
        cxy = sxy - sx * sy / nc
        return (syy - sy * sy / nc) - F.when(
            vx == 0.0, F.lit(0.0)
        ).otherwise(cxy * cxy / vx)

    a = halves.filter(F.col("h") == 1).select(
        "symbol",
        *[F.col(c).alias(f"a_{c}") for c in ("n", "sx", "sy", "sxy", "sxx", "syy")],
    )
    b = halves.filter(F.col("h") == 2).select(
        "symbol",
        *[F.col(c).alias(f"b_{c}") for c in ("n", "sx", "sy", "sxy", "sxx", "syy")],
    )
    j = pooled.join(a, "symbol").join(b, "symbol")
    sse_p = portable_round(
        sse(
            F.col("n"),
            F.col("sx"),
            F.col("sy"),
            F.col("sxy"),
            F.col("sxx"),
            F.col("syy"),
        ),
        6,
    )
    sse_s = portable_round(
        sse(
            F.col("a_n"),
            F.col("a_sx"),
            F.col("a_sy"),
            F.col("a_sxy"),
            F.col("a_sxx"),
            F.col("a_syy"),
        )
        + sse(
            F.col("b_n"),
            F.col("b_sx"),
            F.col("b_sy"),
            F.col("b_sxy"),
            F.col("b_sxx"),
            F.col("b_syy"),
        ),
        6,
    )
    out = j.select("symbol", "n", sse_p.alias("sse_p"), sse_s.alias("sse_s"))
    f_stat = ((F.col("sse_p") - F.col("sse_s")) / 2.0) / (
        F.col("sse_s") / (F.col("n") - 4)
    )
    return out.select(
        "symbol",
        "n",
        portable_round(F.col("sse_p"), 4).cast("double").alias("sse_pooled"),
        portable_round(F.col("sse_s"), 4).cast("double").alias("sse_split"),
        F.when(
            (F.col("sse_s") <= 0) | (F.col("n") <= 4),
            F.lit(None).cast("double"),
        )
        .otherwise(portable_round(f_stat, 6))
        .cast("double")
        .alias("f_stat"),
    ).orderBy("symbol")
