"""Sketching, similarity, uncertainty and causal operators, part 14
(round 10, batch 4).

- Count–min sketch frequency estimation (Cormode & Muthukrishnan 2005):
  the mergeable-by-addition frequency sketch — per-partition partials
  ARE the merge, the property that makes heavy-hitter monitoring viable
  on a 1000-executor scan; estimates are provably ≥ truth (pinned).
- Mutual nearest neighbors (reciprocal best match): pairs where each is
  the other's best cosine match — the high-precision alignment rule
  used in bitext mining and cross-corpus entity alignment.
- Split-conformal prediction intervals (distribution-free): per-symbol
  linear trend fit on a train split, residual order-statistic quantile
  on a calibration split, guaranteed-coverage intervals scored on the
  test split — the uncertainty wrapper modern forecast pipelines ship.
- Difference-in-differences: the 2×2 causal panel estimator (treated ×
  post-period interaction) with its large-sample standard error.

Determinism: sketch counters, ranks, split sizes and cell counts are
exact integers; CMS hashes come from the engine-portable md5; cosine
folds are sequential with per-pair 8dp rounds; residual quantiles are
exact order statistics; moment sums round into exact DECIMAL.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from stockmarketdata_dwb_etl_spark.catalog import load_table
from stockmarketdata_dwb_etl_spark.functions.bars import ohlcv_bars, sql_ohlcv_bars
from stockmarketdata_dwb_etl_spark.functions.exact import (
    portable_round,
    sql_portable_round,
    sql_term_sum,
    term_sum,
)
from stockmarketdata_dwb_etl_spark.queries.dataops11 import _duck_md5_int, _md5_int
from stockmarketdata_dwb_etl_spark.registry import query

# ---------------------------------------------------------------------------
# Count–min sketch
# ---------------------------------------------------------------------------

_CMS_D = 4  # hash rows
_CMS_W = 32  # counters per row


@query(
    "q_countmin_freq",
    oracle=f"""
    WITH cells AS (
        SELECT j.j AS row_j,
               {_duck_md5_int(
                   "CAST(j.j AS VARCHAR) || ':' || event_type", 6)}
                   % {_CMS_W} AS col,
               CAST(COUNT(*) AS BIGINT) AS c
        FROM events,
             LATERAL (SELECT UNNEST(generate_series(0, {_CMS_D - 1})) AS j) j
        GROUP BY 1, 2
    ),
    truth AS (
        SELECT event_type, CAST(COUNT(*) AS BIGINT) AS true_n
        FROM events GROUP BY event_type
    ),
    est AS (
        SELECT t.event_type, t.true_n,
               CAST(MIN(c.c) AS BIGINT) AS cms_estimate
        FROM truth t
        JOIN cells c
          ON c.col = {_duck_md5_int(
              "CAST(c.row_j AS VARCHAR) || ':' || t.event_type", 6)}
              % {_CMS_W}
        GROUP BY t.event_type, t.true_n
    )
    SELECT event_type, true_n, cms_estimate,
           CAST({sql_portable_round(
               "CAST(cms_estimate - true_n AS DOUBLE) / true_n", 6)}
               AS DOUBLE) AS rel_overestimate
    FROM est ORDER BY event_type
    """,
)
def q_countmin_freq(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Count–min sketch frequency estimation: a {_CMS_D}×{_CMS_W}
    counter matrix built map-side (each row hashes every key with the
    engine-portable md5), point estimate = min over the key's
    {_CMS_D} counters. The sketch state is O(d·w) per partition and
    merges BY ADDITION — the partial agg IS the merge, so frequency
    monitoring never shuffles raw keys, only the tiny counter matrix
    (vs q_heavy_hitters' exact per-key shuffle). CMS guarantees
    estimate ≥ truth (collisions only ADD — the unit test pins it);
    the report joins estimates back to exact counts to expose the
    overestimate the chosen width costs. Scale: one hash-agg over
    (row, col) cells + a key-count-sized broadcast join."""
    ev = load_table(spark, sf_dir, "events")
    rows = F.explode(
        F.array(*[F.lit(j) for j in range(_CMS_D)])
    ).alias("row_j")
    cells = (
        ev.select("event_type", rows)
        .groupBy(
            "row_j",
            (
                _md5_int(
                    F.concat(
                        F.col("row_j").cast("string"),
                        F.lit(":"),
                        F.col("event_type"),
                    ),
                    6,
                )
                % _CMS_W
            ).alias("col"),
        )
        .agg(F.count(F.lit(1)).cast("bigint").alias("c"))
    )
    truth = ev.groupBy("event_type").agg(
        F.count(F.lit(1)).cast("bigint").alias("true_n")
    )
    keyed = truth.join(
        cells,
        cells["col"]
        == _md5_int(
            F.concat(
                cells["row_j"].cast("string"),
                F.lit(":"),
                truth["event_type"],
            ),
            6,
        )
        % _CMS_W,
    )
    return (
        keyed.groupBy("event_type", "true_n")
        .agg(F.min("c").cast("bigint").alias("cms_estimate"))
        .select(
            "event_type",
            "true_n",
            "cms_estimate",
            portable_round(
                (F.col("cms_estimate") - F.col("true_n")).cast("double")
                / F.col("true_n"),
                6,
            )
            .cast("double")
            .alias("rel_overestimate"),
        )
        .orderBy("event_type")
    )


# ---------------------------------------------------------------------------
# Mutual nearest neighbors (reciprocal best match)
# ---------------------------------------------------------------------------


def _duck_fold_cos(a: str, b: str) -> str:
    dot = (
        f"list_reduce(list_transform(generate_series(1, len({a})),"
        f" i -> {a}[i] * {b}[i]), (x, y) -> x + y)"
    )
    na = (
        f"list_reduce(list_transform(generate_series(1, len({a})),"
        f" i -> {a}[i] * {a}[i]), (x, y) -> x + y)"
    )
    nb = (
        f"list_reduce(list_transform(generate_series(1, len({b})),"
        f" i -> {b}[i] * {b}[i]), (x, y) -> x + y)"
    )
    return f"({dot} / nullif(sqrt({na}) * sqrt({nb}), 0.0))"


@query(
    "q_mutual_knn",
    oracle=f"""
    WITH probes AS (
        SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v
        FROM embeddings WHERE vec_id % 100 = 0
    ),
    sims AS (
        SELECT a.vec_id AS ia, b.vec_id AS ib,
               {sql_portable_round(_duck_fold_cos("a.v", "b.v"), 8)} AS cos
        FROM probes a JOIN probes b ON a.vec_id <> b.vec_id
    ),
    best AS (
        SELECT ia, ib, cos FROM (
            SELECT ia, ib, cos,
                   row_number() OVER (PARTITION BY ia
                                      ORDER BY cos DESC, ib) AS rn
            FROM sims
        ) WHERE rn = 1
    )
    SELECT CAST(x.ia AS BIGINT) AS id_a, CAST(x.ib AS BIGINT) AS id_b,
           CAST({sql_portable_round("x.cos", 4)} AS DOUBLE) AS cos_sim
    FROM best x JOIN best y ON y.ia = x.ib AND y.ib = x.ia
    WHERE x.ia < x.ib
    ORDER BY id_a
    """,
)
def q_mutual_knn(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mutual nearest neighbors (reciprocal best match): among the probe
    sample (every 100th vector), emit pairs where EACH is the other's
    best cosine match — the high-precision alignment rule of bitext
    mining and cross-corpus entity matching (a one-directional best
    match is noise-prone; mutuality filters hubs). Cosines are
    sequential folds with per-pair 8dp rounds; best-match ties break to
    the lower id. Scale: the probe self-join is sample×sample (the
    operator contract — RBM is run on candidate sets, not corpora; the
    corpus-scale candidate source is the same LSH machinery as
    q_dedup_embedding), argmax is a probe-partitioned window, the
    mutuality check a self-join on the best table."""
    emb = load_table(spark, sf_dir, "embeddings").filter(
        F.col("vec_id") % 100 == 0
    )
    probes = emb.select(
        "vec_id", F.col("embedding").cast("array<double>").alias("v")
    )
    a = probes.select(F.col("vec_id").alias("ia"), F.col("v").alias("va"))
    b = probes.select(F.col("vec_id").alias("ib"), F.col("v").alias("vb"))

    fold = lambda arr: F.aggregate(  # noqa: E731
        arr, F.lit(0.0), lambda acc, x: acc + x
    )
    dot = fold(F.zip_with("va", "vb", lambda x, y: x * y))
    na = fold(F.zip_with("va", "va", lambda x, y: x * y))
    nb = fold(F.zip_with("vb", "vb", lambda x, y: x * y))
    denom = F.sqrt(na) * F.sqrt(nb)
    sims = (
        a.join(b, F.col("ia") != F.col("ib"))
        .select(
            "ia",
            "ib",
            portable_round(dot / F.when(denom != 0.0, denom), 8).alias(
                "cos"
            ),
        )
    )
    w = Window.partitionBy("ia").orderBy(F.col("cos").desc(), "ib")
    best = (
        sims.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select("ia", "ib", "cos")
    )
    other = best.select(
        F.col("ia").alias("ja"), F.col("ib").alias("jb")
    )
    return (
        best.join(
            other,
            (F.col("ja") == F.col("ib")) & (F.col("jb") == F.col("ia")),
        )
        .filter(F.col("ia") < F.col("ib"))
        .select(
            F.col("ia").cast("bigint").alias("id_a"),
            F.col("ib").cast("bigint").alias("id_b"),
            portable_round(F.col("cos"), 4).cast("double").alias("cos_sim"),
        )
        .orderBy("id_a")
    )


# ---------------------------------------------------------------------------
# Split-conformal prediction intervals
# ---------------------------------------------------------------------------


@query(
    "q_conformal_intervals",
    oracle=f"""
    WITH cbars AS ({sql_ohlcv_bars("hour", "close")}),
    seq AS (
        SELECT symbol, close,
               CAST(row_number() OVER (PARTITION BY symbol ORDER BY bar_ts)
                    AS BIGINT) AS t,
               CAST(COUNT(*) OVER (PARTITION BY symbol) AS BIGINT) AS n
        FROM cbars
    ),
    marked AS (
        SELECT symbol, close, t, n,
               CASE WHEN t <= n * 3 // 5 THEN 'train'
                    WHEN t <= n * 4 // 5 THEN 'calib'
                    ELSE 'test' END AS split
        FROM seq
    ),
    fit AS (
        SELECT symbol,
               CAST(COUNT(*) AS BIGINT) AS ntr,
               {sql_term_sum("CAST(t AS DOUBLE)", 8)} AS sx,
               {sql_term_sum("close", 8)} AS sy,
               {sql_term_sum("CAST(t AS DOUBLE) * CAST(t AS DOUBLE)", 4)} AS sxx,
               {sql_term_sum("CAST(t AS DOUBLE) * close", 4)} AS sxy
        FROM marked WHERE split = 'train' GROUP BY symbol
    ),
    coef AS (
        SELECT symbol, ntr,
               (ntr * sxy - sx * sy) / (ntr * sxx - sx * sx) AS slope,
               (sy - (ntr * sxy - sx * sy) / (ntr * sxx - sx * sx) * sx)
                   / ntr AS icept
        FROM fit
    ),
    calib AS (
        SELECT m.symbol,
               list_sort(list(abs(m.close - (c.icept + c.slope * m.t))))
                   AS res,
               CAST(COUNT(*) AS BIGINT) AS ncal
        FROM marked m JOIN coef c ON c.symbol = m.symbol
        WHERE m.split = 'calib'
        GROUP BY m.symbol
    ),
    qhat AS (
        SELECT symbol, ncal,
               res[CAST(least(ncal,
                   CAST(ceil((ncal + 1) * 0.9) AS BIGINT)) AS BIGINT)]
                   AS q
        FROM calib
    )
    SELECT m.symbol,
           CAST(COUNT(*) AS BIGINT) AS n_test,
           q.ncal AS n_calib,
           CAST({sql_portable_round("MAX(q.q)", 4)} AS DOUBLE)
               AS interval_halfwidth,
           CAST({sql_portable_round(
               "CAST(SUM(CASE WHEN abs(m.close - (c.icept + c.slope * m.t))"
               " <= q.q THEN 1 ELSE 0 END) AS DOUBLE) / COUNT(*)", 6)}
               AS DOUBLE) AS coverage
    FROM marked m
    JOIN coef c ON c.symbol = m.symbol
    JOIN qhat q ON q.symbol = m.symbol
    WHERE m.split = 'test'
    GROUP BY m.symbol, q.ncal
    ORDER BY m.symbol
    """,
)
def q_conformal_intervals(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Split-conformal prediction intervals (distribution-free, finite-
    sample): per symbol, fit a linear trend on the first 60% of hourly
    closes, take q̂ = the ⌈(n+1)·0.9⌉-th smallest absolute residual on
    the next 20% (an EXACT order statistic — the conformal guarantee is
    stated in order statistics, interpolation would break it), and
    score pred ± q̂ on the final 20%: coverage ≈ 90% regardless of the
    residual distribution — the uncertainty wrapper a forecast ships
    with. OLS from exact-DECIMAL sums; splits are integer-rank
    fractions so any series length works. Scale: symbol-partitioned
    windows, one bounded calibration collect per symbol (calibration
    sets are fractions of a partition by construction), no global
    state."""

    ev = load_table(spark, sf_dir, "events")
    cbars = ohlcv_bars(ev, "hour", "close")
    w = Window.partitionBy("symbol").orderBy("bar_ts")
    wp = Window.partitionBy("symbol")
    seq = cbars.select(
        "symbol",
        "close",
        F.row_number().over(w).cast("bigint").alias("t"),
        F.count(F.lit(1)).over(wp).cast("bigint").alias("n"),
    )
    split = (
        F.when(F.col("t") <= (F.col("n") * 3 / 5).cast("bigint"), "train")
        .when(F.col("t") <= (F.col("n") * 4 / 5).cast("bigint"), "calib")
        .otherwise("test")
    )
    marked = seq.select("symbol", "close", "t", split.alias("split"))
    td = F.col("t").cast("double")
    fit = (
        marked.filter(F.col("split") == "train")
        .groupBy("symbol")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("ntr"),
            term_sum(td, 8).alias("sx"),
            term_sum(F.col("close"), 8).alias("sy"),
            term_sum(td * td, 4).alias("sxx"),
            term_sum(td * F.col("close"), 4).alias("sxy"),
        )
    )
    ntr = F.col("ntr")
    slope = (ntr * F.col("sxy") - F.col("sx") * F.col("sy")) / (
        ntr * F.col("sxx") - F.col("sx") * F.col("sx")
    )
    coef = fit.select(
        "symbol",
        slope.alias("slope"),
        ((F.col("sy") - slope * F.col("sx")) / ntr).alias("icept"),
    )
    resid = F.abs(
        F.col("close") - (F.col("icept") + F.col("slope") * F.col("t"))
    )
    calib = (
        marked.filter(F.col("split") == "calib")
        .join(F.broadcast(coef), "symbol")
        .groupBy("symbol")
        .agg(
            F.sort_array(F.collect_list(resid)).alias("res"),
            F.count(F.lit(1)).cast("bigint").alias("ncal"),
        )
    )
    k = F.least(
        F.col("ncal"), F.ceil((F.col("ncal") + 1) * 0.9).cast("bigint")
    )
    qhat = calib.select(
        "symbol", "ncal", F.element_at("res", k.cast("int")).alias("q")
    )
    test = (
        marked.filter(F.col("split") == "test")
        .join(F.broadcast(coef), "symbol")
        .join(F.broadcast(qhat), "symbol")
    )
    return (
        test.groupBy("symbol", "ncal")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_test"),
            portable_round(F.max("q"), 4)
            .cast("double")
            .alias("interval_halfwidth"),
            portable_round(
                F.sum((resid <= F.col("q")).cast("int")).cast("double")
                / F.count(F.lit(1)),
                6,
            )
            .cast("double")
            .alias("coverage"),
        )
        .select(
            "symbol",
            "n_test",
            F.col("ncal").alias("n_calib"),
            "interval_halfwidth",
            "coverage",
        )
        .orderBy("symbol")
    )


# ---------------------------------------------------------------------------
# Difference-in-differences
# ---------------------------------------------------------------------------

_DID_SPLIT = "1998-01-01"


@query(
    "q_diff_in_diff",
    oracle=f"""
    WITH panel AS (
        SELECT CASE WHEN o_custkey % 2 = 1 THEN 1 ELSE 0 END AS treated,
               CASE WHEN o_orderdate >= TIMESTAMP '{_DID_SPLIT}'
                    THEN 1 ELSE 0 END AS post,
               o_totalprice AS y
        FROM orders
    ),
    cells AS (
        SELECT treated, post,
               CAST(COUNT(*) AS BIGINT) AS n,
               {sql_term_sum("y", 6)} AS s,
               {sql_term_sum("y * y", 2)} AS ss
        FROM panel GROUP BY treated, post
    ),
    wide AS (
        SELECT
            MAX(CASE WHEN treated = 1 AND post = 1 THEN s / n END) AS m11,
            MAX(CASE WHEN treated = 1 AND post = 0 THEN s / n END) AS m10,
            MAX(CASE WHEN treated = 0 AND post = 1 THEN s / n END) AS m01,
            MAX(CASE WHEN treated = 0 AND post = 0 THEN s / n END) AS m00,
            MAX(CASE WHEN treated = 1 AND post = 1 THEN
                (ss - s * s / n) / (n - 1) / n END) AS v11,
            MAX(CASE WHEN treated = 1 AND post = 0 THEN
                (ss - s * s / n) / (n - 1) / n END) AS v10,
            MAX(CASE WHEN treated = 0 AND post = 1 THEN
                (ss - s * s / n) / (n - 1) / n END) AS v01,
            MAX(CASE WHEN treated = 0 AND post = 0 THEN
                (ss - s * s / n) / (n - 1) / n END) AS v00,
            CAST(SUM(n) AS BIGINT) AS n_total
        FROM cells
    )
    SELECT n_total,
           CAST({sql_portable_round("m11 - m10", 4)} AS DOUBLE)
               AS delta_treated,
           CAST({sql_portable_round("m01 - m00", 4)} AS DOUBLE)
               AS delta_control,
           CAST({sql_portable_round(
               "(m11 - m10) - (m01 - m00)", 4)} AS DOUBLE) AS did_estimate,
           CAST({sql_portable_round(
               "sqrt(v11 + v10 + v01 + v00)", 4)} AS DOUBLE) AS se,
           CAST({sql_portable_round(
               "((m11 - m10) - (m01 - m00))"
               " / sqrt(v11 + v10 + v01 + v00)", 6)} AS DOUBLE) AS t_stat
    FROM wide
    """,
)
def q_diff_in_diff(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Difference-in-differences: the 2×2 causal panel estimator —
    (treated post − treated pre) − (control post − control pre) on
    order totals, with treatment = odd custkey and the post period
    starting {_DID_SPLIT} (a synthetic assignment; the operator is the
    estimator), plus the large-sample SE √Σ s²ᵢ/nᵢ over the four cells
    and the resulting t statistic — the standard pre/post control-group
    design for policy rollouts where randomization isn't available.
    Cell moments from exact-DECIMAL sums; everything after the 4-row
    cell agg is scalar arithmetic. Scale: ONE hash-agg over the fact
    table, 4-row reduce."""
    orders = load_table(spark, sf_dir, "orders")
    panel = orders.select(
        (F.col("o_custkey") % 2 == 1).cast("int").alias("treated"),
        (F.col("o_orderdate") >= F.lit(_DID_SPLIT).cast("timestamp"))
        .cast("int")
        .alias("post"),
        F.col("o_totalprice").alias("y"),
    )
    cells = panel.groupBy("treated", "post").agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        term_sum(F.col("y"), 6).alias("s"),
        term_sum(F.col("y") * F.col("y"), 2).alias("ss"),
    )
    mean = F.col("s") / F.col("n")
    var_of_mean = (
        (F.col("ss") - F.col("s") * F.col("s") / F.col("n"))
        / (F.col("n") - 1)
        / F.col("n")
    )

    def cell(t: int, p: int, expr) -> F.Column:
        return F.max(
            F.when((F.col("treated") == t) & (F.col("post") == p), expr)
        )

    wide = cells.agg(
        cell(1, 1, mean).alias("m11"),
        cell(1, 0, mean).alias("m10"),
        cell(0, 1, mean).alias("m01"),
        cell(0, 0, mean).alias("m00"),
        cell(1, 1, var_of_mean).alias("v11"),
        cell(1, 0, var_of_mean).alias("v10"),
        cell(0, 1, var_of_mean).alias("v01"),
        cell(0, 0, var_of_mean).alias("v00"),
        F.sum("n").cast("bigint").alias("n_total"),
    )
    did = (F.col("m11") - F.col("m10")) - (F.col("m01") - F.col("m00"))
    se = F.sqrt(
        F.col("v11") + F.col("v10") + F.col("v01") + F.col("v00")
    )
    return wide.select(
        "n_total",
        portable_round(F.col("m11") - F.col("m10"), 4)
        .cast("double")
        .alias("delta_treated"),
        portable_round(F.col("m01") - F.col("m00"), 4)
        .cast("double")
        .alias("delta_control"),
        portable_round(did, 4).cast("double").alias("did_estimate"),
        portable_round(se, 4).cast("double").alias("se"),
        portable_round(did / se, 6).cast("double").alias("t_stat"),
    )
