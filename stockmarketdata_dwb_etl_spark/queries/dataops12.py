"""Warehouse / risk / embedding operations, part 12 (round 10):
bitemporal reconstruction, VaR backtesting, Matryoshka truncation
evaluation, differentially-private count release, and the degree
power-law estimator.

Five operators extending the engine surface (no analog in the 683-LoC
scraper reference):

- Bitemporal as-of reconstruction: valid-time + transaction-time
  versioning, answering "what did we BELIEVE the record was at tx time
  T?" — the restatement audit every regulated warehouse needs.
- Kupiec proportion-of-failures VaR backtest (1995): rolling historical
  VaR from an exact order statistic over a bounded trailing frame,
  violation counting, and the POF likelihood ratio.
- Matryoshka truncation evaluation (Kusupati et al. 2022): how much
  cosine structure survives truncating embeddings to prefix dims —
  the eval run before shipping truncated vectors to a cheaper index.
- DP count release: Laplace mechanism over group counts with a
  DETERMINISTIC inverse-CDF draw from the engine-portable md5 hash —
  bit-reproducible noise on both engines (a fixture-verifiable stand-in
  for a production RNG; the mechanism's shape is the operator).
- Degree power-law MLE (Clauset–Shalizi–Newman continuous estimator)
  over the customer→part bipartite degree distribution.

Determinism policy: counts, violations, degrees, versions are exact
integers; order statistics come from identical sorted frames; ln/log
terms round 8dp before exact-DECIMAL summation; every emitted double is
portable_round over the identical expression tree on both engines.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from stockmarketdata_dwb_etl_spark.catalog import load_table
from stockmarketdata_dwb_etl_spark.functions.bars import (
    bar_returns,
    ohlcv_bars,
    sql_bar_returns,
    sql_ohlcv_bars,
)
from stockmarketdata_dwb_etl_spark.functions.exact import (
    portable_round,
    sql_portable_round,
    sql_term_sum,
    term_sum,
)
from stockmarketdata_dwb_etl_spark.queries.dataops11 import _duck_md5_int, _md5_int
from stockmarketdata_dwb_etl_spark.registry import query

# ---------------------------------------------------------------------------
# Kupiec proportion-of-failures VaR backtest
# ---------------------------------------------------------------------------

_VAR_WIN = 50  # trailing observations per VaR estimate
_VAR_K = 3  # ceil(0.05 * 50): the 3rd smallest return = historical 5% VaR


@query(
    "q_var_backtest",
    oracle=f"""
    WITH cbars AS ({sql_ohlcv_bars("hour", "close")}),
    rets AS ({sql_bar_returns("cbars")}),
    var_est AS (
        SELECT symbol, bar_ts, r,
               list_sort(list(r) OVER (PARTITION BY symbol ORDER BY bar_ts
                                       ROWS BETWEEN {_VAR_WIN} PRECEDING
                                                AND 1 PRECEDING)
                        )[{_VAR_K}] AS var95,
               COUNT(*) OVER (PARTITION BY symbol ORDER BY bar_ts
                              ROWS BETWEEN {_VAR_WIN} PRECEDING
                                       AND 1 PRECEDING) AS n_hist
        FROM rets
    ),
    tests AS (
        SELECT symbol,
               CAST(COUNT(*) AS BIGINT) AS n,
               CAST(SUM(CASE WHEN r < var95 THEN 1 ELSE 0 END) AS BIGINT)
                   AS x
        FROM var_est WHERE n_hist = {_VAR_WIN}
        GROUP BY symbol
    )
    SELECT symbol, n, x,
           CAST({sql_portable_round("CAST(x AS DOUBLE) / n", 6)} AS DOUBLE)
               AS viol_rate,
           CASE WHEN x = 0 THEN
                    CAST({sql_portable_round(
                        "-2.0 * n * (ln(0.95) - 0.0)", 6)} AS DOUBLE)
                WHEN x = n THEN
                    CAST({sql_portable_round(
                        "-2.0 * n * (ln(0.05) - 0.0)", 6)} AS DOUBLE)
                ELSE
                    CAST({sql_portable_round(
                        "-2.0 * ((n - x) * ln(0.95) + x * ln(0.05)"
                        " - (n - x) * ln(1.0 - CAST(x AS DOUBLE) / n)"
                        " - x * ln(CAST(x AS DOUBLE) / n))", 6)} AS DOUBLE)
           END AS lr_pof
    FROM tests ORDER BY symbol
    """,
)
def q_var_backtest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Kupiec proportion-of-failures VaR backtest: per symbol, the
    rolling historical 5% VaR is the {_VAR_K}rd smallest of the trailing
    {_VAR_WIN} hourly returns (an EXACT order statistic — engine-native
    interpolating percentiles disagree across engines, a sorted-frame
    element never does); a violation is a return strictly below its VaR;
    the POF statistic LR = −2[ (n−x)ln(1−p) + x ln p − (n−x)ln(1−x/n)
    − x ln(x/n) ] ~ χ²(1) tests whether the violation rate is consistent
    with p = 5% (the regulatory green/yellow/red zone test). x = 0 and
    x = n take the analytic limits (0·ln 0 → 0). Scale: one bounded
    {_VAR_WIN}-row array-carrying window per symbol partition (the
    q_cci posture) + a per-symbol hash-agg; no global state."""

    rets = bar_returns(

        ohlcv_bars(load_table(spark, sf_dir, "events"), "hour", "close")

    )
    w = (
        Window.partitionBy("symbol")
        .orderBy("bar_ts")
        .rowsBetween(-_VAR_WIN, -1)
    )
    est = rets.select(
        "symbol",
        "r",
        F.element_at(F.sort_array(F.collect_list("r").over(w)), _VAR_K).alias(
            "var95"
        ),
        F.count(F.lit(1)).over(w).alias("n_hist"),
    )
    tests = (
        est.filter(F.col("n_hist") == _VAR_WIN)
        .groupBy("symbol")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n"),
            F.sum((F.col("r") < F.col("var95")).cast("int"))
            .cast("bigint")
            .alias("x"),
        )
    )
    n = F.col("n").cast("double")
    x = F.col("x").cast("double")
    rate = x / n
    lr_mid = -2.0 * (
        (n - x) * F.log(F.lit(0.95))
        + x * F.log(F.lit(0.05))
        - (n - x) * F.log(1.0 - rate)
        - x * F.log(rate)
    )
    lr = (
        F.when(F.col("x") == 0, -2.0 * n * (F.log(F.lit(0.95)) - 0.0))
        .when(F.col("x") == F.col("n"), -2.0 * n * (F.log(F.lit(0.05)) - 0.0))
        .otherwise(lr_mid)
    )
    return tests.select(
        "symbol",
        "n",
        "x",
        portable_round(rate, 6).cast("double").alias("viol_rate"),
        portable_round(lr, 6).cast("double").alias("lr_pof"),
    ).orderBy("symbol")


# ---------------------------------------------------------------------------
# Bitemporal as-of reconstruction
# ---------------------------------------------------------------------------


@query(
    "q_bitemporal_asof",
    oracle=f"""
    WITH v1 AS (
        SELECT o_orderkey AS k, o_orderdate AS tx_from,
               o_totalprice AS price
        FROM orders
    ),
    v2 AS (
        SELECT o_orderkey AS k, o_orderdate + INTERVAL 30 DAY AS tx_from,
               {sql_portable_round("o_totalprice * 1.1", 2)} AS price
        FROM orders WHERE o_orderkey % 5 = 0
    ),
    vers AS (SELECT * FROM v1 UNION ALL SELECT * FROM v2),
    probes AS (
        SELECT o_orderkey AS k,
               o_orderdate + INTERVAL 10 DAY AS t1,
               o_orderdate + INTERVAL 60 DAY AS t2
        FROM orders WHERE o_orderkey % 97 = 0
    )
    SELECT CAST(p.k AS BIGINT) AS o_orderkey,
           CAST({sql_portable_round(
               "arg_max(v.price, v.tx_from)"
               " FILTER (WHERE v.tx_from <= p.t1)", 2)} AS DOUBLE)
               AS price_asof_t1,
           CAST({sql_portable_round(
               "arg_max(v.price, v.tx_from)"
               " FILTER (WHERE v.tx_from <= p.t2)", 2)} AS DOUBLE)
               AS price_asof_t2,
           CAST(CASE WHEN arg_max(v.price, v.tx_from)
                          FILTER (WHERE v.tx_from <= p.t1)
                      <> arg_max(v.price, v.tx_from)
                          FILTER (WHERE v.tx_from <= p.t2)
                     THEN 1 ELSE 0 END AS BIGINT) AS restated
    FROM probes p JOIN vers v ON v.k = p.k
    GROUP BY p.k
    ORDER BY o_orderkey
    """,
)
def q_bitemporal_asof(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bitemporal AS-OF reconstruction: order prices carry TWO time
    axes — valid time (when the price applied) and transaction time
    (when the warehouse LEARNED it). Every 5th order gets a restatement
    version 30 days after booking (price ×1.1, 2dp); the query
    reconstructs each probe order's price as believed at tx time
    t1 = booking+10d (before any restatement) and t2 = booking+60d
    (after), flagging restated records — the audit query behind "what
    did the report say on date X?", which SCD2 (one time axis,
    q_scd2_lookup) cannot answer. Per (key, T) the winning version is
    the max-tx_from version with tx_from ≤ T, one conditional struct
    argmax per probe time. Scale: versions join probes on the key
    (probes are a pruned scan), one hash-agg; no window, no sort."""
    orders = load_table(spark, sf_dir, "orders")
    v1 = orders.select(
        F.col("o_orderkey").alias("k"),
        F.col("o_orderdate").alias("tx_from"),
        F.col("o_totalprice").alias("price"),
    )
    v2 = orders.filter(F.col("o_orderkey") % 5 == 0).select(
        F.col("o_orderkey").alias("k"),
        (F.col("o_orderdate") + F.expr("INTERVAL 30 DAYS")).alias("tx_from"),
        portable_round(F.col("o_totalprice") * 1.1, 2).alias("price"),
    )
    vers = v1.unionByName(v2)
    probes = orders.filter(F.col("o_orderkey") % 97 == 0).select(
        F.col("o_orderkey").alias("k"),
        (F.col("o_orderdate") + F.expr("INTERVAL 10 DAYS")).alias("t1"),
        (F.col("o_orderdate") + F.expr("INTERVAL 60 DAYS")).alias("t2"),
    )

    def asof(t_col: str) -> F.Column:
        return F.max(
            F.when(
                F.col("tx_from") <= F.col(t_col),
                F.struct(F.col("tx_from"), F.col("price")),
            )
        )["price"]

    return (
        probes.join(vers, "k")
        .groupBy("k")
        .agg(
            portable_round(asof("t1"), 2).alias("p1"),
            portable_round(asof("t2"), 2).alias("p2"),
        )
        .select(
            F.col("k").cast("bigint").alias("o_orderkey"),
            F.col("p1").cast("double").alias("price_asof_t1"),
            F.col("p2").cast("double").alias("price_asof_t2"),
            (F.col("p1") != F.col("p2")).cast("bigint").alias("restated"),
        )
        .orderBy("o_orderkey")
    )


# ---------------------------------------------------------------------------
# Matryoshka truncation evaluation
# ---------------------------------------------------------------------------

_MRL_DIMS = (8, 16, 32, 64)


def _duck_cos(a: str, b: str, d: int) -> str:
    """Sequential-fold cosine over the first ``d`` dims (bit-identical
    to Spark's F.aggregate accumulation order)."""
    dot = (
        f"list_reduce(list_transform(generate_series(1, {d}),"
        f" i -> {a}[i] * {b}[i]), (x, y) -> x + y)"
    )
    na = (
        f"list_reduce(list_transform(generate_series(1, {d}),"
        f" i -> {a}[i] * {a}[i]), (x, y) -> x + y)"
    )
    nb = (
        f"list_reduce(list_transform(generate_series(1, {d}),"
        f" i -> {b}[i] * {b}[i]), (x, y) -> x + y)"
    )
    return f"({dot} / nullif(sqrt({na}) * sqrt({nb}), 0.0))"


@query(
    "q_matryoshka_eval",
    oracle=f"""
    WITH base AS (
        SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings
    ),
    pairs AS (
        SELECT a.vec_id AS id_a,
               {", ".join(
                   sql_portable_round(_duck_cos("a.v", "b.v", d), 8)
                   + f" AS c{d}"
                   for d in _MRL_DIMS
               )}
        FROM base a JOIN base b ON b.vec_id = a.vec_id + 1
        WHERE a.vec_id % 10 = 0
    ),
    stacked AS (
        {" UNION ALL ".join(
            f"SELECT {d} AS dims, c{d} AS c, c64 FROM pairs"
            for d in _MRL_DIMS
        )}
    )
    SELECT CAST(dims AS BIGINT) AS dims,
           CAST(COUNT(*) AS BIGINT) AS n_pairs,
           CAST({sql_portable_round(
               f"{sql_term_sum('c', 8)} / COUNT(*)", 6)} AS DOUBLE) AS mean_cos,
           CAST({sql_portable_round(
               f"{sql_term_sum('abs(c - c64)', 8)} / COUNT(*)", 6)} AS DOUBLE)
               AS mean_abs_dev
    FROM stacked GROUP BY dims ORDER BY dims
    """,
)
def q_matryoshka_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Matryoshka truncation evaluation: cosine similarity of sampled
    vector pairs (every 10th vector with its successor) recomputed at
    prefix dims 8/16/32/64, reporting mean cosine and mean absolute
    deviation from the full-width cosine per truncation — the eval a
    team runs before serving truncated embeddings to a cheaper ANN
    index (Kusupati et al., Matryoshka Representation Learning). Dots
    and norms are sequential array folds (identical accumulation order
    on both engines, per-pair 8dp round); the deviation aggregates
    through exact DECIMAL. Scale: ONE self-join on an equality key
    (successor id — no cross product), map-side fold arithmetic, and a
    4-row stack/agg. Truncation quality falls monotonically as dims
    shrink; the unit test pins that property."""
    emb = load_table(spark, sf_dir, "embeddings").select(
        "vec_id", F.col("embedding").cast("array<double>").alias("v")
    )
    a = emb.filter(F.col("vec_id") % 10 == 0).select(
        F.col("vec_id").alias("id_a"), F.col("v").alias("va")
    )
    b = emb.select((F.col("vec_id") - 1).alias("id_a"), F.col("v").alias("vb"))

    def cos(d: int) -> F.Column:
        sa = F.slice("va", 1, d)
        sb = F.slice("vb", 1, d)
        fold = lambda arr: F.aggregate(  # noqa: E731 — local alias
            arr, F.lit(0.0), lambda acc, x: acc + x
        )
        dot = fold(F.zip_with(sa, sb, lambda x, y: x * y))
        na = fold(F.zip_with(sa, sa, lambda x, y: x * y))
        nb = fold(F.zip_with(sb, sb, lambda x, y: x * y))
        denom = F.sqrt(na) * F.sqrt(nb)
        return portable_round(
            dot / F.when(denom != 0.0, denom), 8
        )

    pairs = a.join(b, "id_a").select(
        *[cos(d).alias(f"c{d}") for d in _MRL_DIMS]
    )
    stacked = pairs.select(
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(d).cast("bigint").alias("dims"),
                        F.col(f"c{d}").alias("c"),
                        F.col(f"c{_MRL_DIMS[-1]}").alias("c64"),
                    )
                    for d in _MRL_DIMS
                ]
            )
        ).alias("s")
    ).select("s.dims", "s.c", "s.c64")
    return (
        stacked.groupBy("dims")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_pairs"),
            portable_round(term_sum(F.col("c"), 8) / F.count(F.lit(1)), 6)
            .cast("double")
            .alias("mean_cos"),
            portable_round(
                term_sum(F.abs(F.col("c") - F.col("c64")), 8) / F.count(F.lit(1)),
                6,
            )
            .cast("double")
            .alias("mean_abs_dev"),
        )
        .orderBy("dims")
    )


# ---------------------------------------------------------------------------
# Differentially-private count release
# ---------------------------------------------------------------------------

_DP_EPS = 1.0
_DP_DENOM = 16 ** 5  # md5 5-hex-digit range


@query(
    "q_dp_count_release",
    oracle=f"""
    WITH g AS (
        SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n FROM events
        GROUP BY event_type
    ),
    noise AS (
        SELECT event_type, n,
               ({_duck_md5_int("event_type", 5)} + 0.5) / {_DP_DENOM}.0 AS u
        FROM g
    )
    SELECT event_type,
           CAST({_DP_EPS} AS DOUBLE) AS epsilon,
           n AS true_count,
           CAST({sql_portable_round(
               "n + (-1.0 / " + str(_DP_EPS) + ")"
               " * (CASE WHEN u >= 0.5 THEN 1.0 ELSE -1.0 END)"
               " * ln(1.0 - 2.0 * abs(u - 0.5))", 6)} AS DOUBLE)
               AS released_count
    FROM noise ORDER BY event_type
    """,
)
def q_dp_count_release(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Laplace-mechanism count release: per-group counts (sensitivity 1)
    plus Laplace(1/ε) noise drawn by inverse CDF from a uniform — here
    the engine-portable md5 hash of the group key, so the draw is
    bit-reproducible on both engines and the differential oracle can
    check the MECHANISM's arithmetic end-to-end (a production release
    swaps in a real RNG; the plan shape is identical). true_count rides
    along because this fixture exists to verify the mechanism — an
    actual DP release would drop it. Scale: one hash-agg + map-side
    noise; group-count-sized output."""
    ev = load_table(spark, sf_dir, "events")
    g = ev.groupBy("event_type").agg(
        F.count(F.lit(1)).cast("bigint").alias("n")
    )
    u = (_md5_int(F.col("event_type"), 5) + 0.5) / float(_DP_DENOM)
    noise = (
        F.lit(-1.0 / _DP_EPS)
        * F.when(u >= 0.5, F.lit(1.0)).otherwise(F.lit(-1.0))
        * F.log(1.0 - 2.0 * F.abs(u - 0.5))
    )
    return g.select(
        "event_type",
        F.lit(float(_DP_EPS)).alias("epsilon"),
        F.col("n").alias("true_count"),
        portable_round(F.col("n") + noise, 6)
        .cast("double")
        .alias("released_count"),
    ).orderBy("event_type")


# ---------------------------------------------------------------------------
# Degree power-law MLE
# ---------------------------------------------------------------------------

_PL_DMIN = 2


@query(
    "q_degree_powerlaw",
    oracle=f"""
    WITH deg AS (
        SELECT o.o_custkey AS node,
               CAST(COUNT(DISTINCT l.l_partkey) AS BIGINT) AS d
        FROM orders o JOIN lineitem l ON l.l_orderkey = o.o_orderkey
        GROUP BY o.o_custkey
    ),
    tail AS (
        SELECT d FROM deg WHERE d >= {_PL_DMIN}
    ),
    s AS (
        SELECT CAST((SELECT COUNT(*) FROM deg) AS BIGINT) AS n_nodes,
               CAST(COUNT(*) AS BIGINT) AS n_tail,
               CAST(MAX(d) AS BIGINT) AS max_degree,
               {sql_term_sum(f"ln(CAST(d AS DOUBLE) / ({_PL_DMIN} - 0.5))", 8)}
                   AS sum_ln
        FROM tail
    )
    SELECT n_nodes, n_tail, CAST({_PL_DMIN} AS BIGINT) AS d_min, max_degree,
           CAST({sql_portable_round(
               "1.0 + n_tail / sum_ln", 6)} AS DOUBLE) AS alpha
    FROM s
    """,
)
def q_degree_powerlaw(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Degree power-law exponent via the Clauset–Shalizi–Newman
    continuous MLE: over the customer→part bipartite degree
    distribution (distinct parts per customer), α = 1 + n/Σln(dᵢ/(dmin−½))
    for the tail dᵢ ≥ dmin — the estimator behind "is this graph
    scale-free?" capacity planning (hub-heavy degree tails decide
    whether joins need skew remediation). Log terms round 8dp into
    exact DECIMAL. Scale: one distinct-agg on the join (partial
    map-side), a 1-row reduce; degree table is node-sized."""
    orders = load_table(spark, sf_dir, "orders")
    li = load_table(spark, sf_dir, "lineitem")
    deg = (
        orders.join(li, orders["o_orderkey"] == li["l_orderkey"])
        .groupBy("o_custkey")
        .agg(F.countDistinct("l_partkey").cast("bigint").alias("d"))
    )
    n_nodes = deg.agg(
        F.count(F.lit(1)).cast("bigint").alias("n_nodes")
    )
    tail = deg.filter(F.col("d") >= _PL_DMIN)
    s = tail.agg(
        F.count(F.lit(1)).cast("bigint").alias("n_tail"),
        F.max("d").cast("bigint").alias("max_degree"),
        term_sum(
            F.log(F.col("d").cast("double") / (_PL_DMIN - 0.5)), 8
        ).alias("sum_ln"),
    )
    return (
        n_nodes.crossJoin(F.broadcast(s))
        .select(
            "n_nodes",
            "n_tail",
            F.lit(_PL_DMIN).cast("bigint").alias("d_min"),
            "max_degree",
            portable_round(
                1.0 + F.col("n_tail") / F.col("sum_ln"), 6
            )
            .cast("double")
            .alias("alpha"),
        )
    )
