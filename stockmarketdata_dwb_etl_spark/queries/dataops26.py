"""Round-12 operator batch 8: graph centrality/link prediction and
heteroscedasticity/location inference.

- Katz centrality: the attenuated walk-count centrality x = α·Aᵀx + β
  as fixed-depth supersteps over the brand co-purchase graph — the
  damping-free companion to q_pagerank_iter (no degree normalization,
  so hubs with many weak ties score differently than under PageRank).
- Preferential-attachment link prediction: deg(u)·deg(v) for
  currently-unconnected node pairs — the degree-driven baseline beside
  q_common_neighbors / q_adamic_adar / q_resource_allocation.
- Breusch–Pagan test: LM = n·R² of the auxiliary regression of squared
  trend residuals on time — does variance drift along the trend the
  fit ignored? (the heteroscedasticity companion to q_durbin_watson's
  serial-correlation diagnostic).
- Mood's median test: k-sample chi-square of above/below-the-pooled-
  median counts — the rank-free location test beside q_kruskal_wallis
  (rank sums) and q_levene_bf (spread).

Reference scope: the reference's BigQuery tier is the analytics surface
these extend (dump_bigq.py:135-149 delegates all querying).

Determinism: the Katz vector re-rounds to 12dp every superstep on both
engines (the q_pagerank_iter discipline); all counts are exact
integers; residual moment sums route through the two-bucket split sum
at power-matched scales; statistics are identical double trees.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from stockmarketdata_dwb_etl_spark.catalog import load_table
from stockmarketdata_dwb_etl_spark.functions.bars import ohlcv_bars, sql_ohlcv_bars
from stockmarketdata_dwb_etl_spark.functions.exact import (
    portable_round,
    split_term_sum,
    sql_split_term_sum,
    term,
)
from stockmarketdata_dwb_etl_spark.operators.cache import bounded_persist
from stockmarketdata_dwb_etl_spark.operators.iterate import iterate
from stockmarketdata_dwb_etl_spark.queries.graph import (
    _GRAPH_SQL,
    _norm_graph,
    _strong_edges,
    in_sum_step,
)
from stockmarketdata_dwb_etl_spark.registry import query

# ---------------------------------------------------------------------------
# Katz centrality
# ---------------------------------------------------------------------------

_KATZ_ALPHA = 0.5
_KATZ_BETA = 1.0
_KATZ_ITERS = 4


def _katz_level_sql(prev: str, out: str) -> str:
    # x_{t+1}(v) = beta + alpha * sum_{u->v} (w/wdeg(u)) * x_t(u): the
    # ROW-STOCHASTIC normalization keeps the spectral radius at 1
    # regardless of data scale (raw weighted degrees grow with the
    # corpus, so an unnormalized alpha*A diverges at some SF), and
    # alpha=0.5 < 1 converges toward a fixed point <= beta/(1-alpha).
    # Contribution terms re-round to 12dp and DECIMAL-accumulate, the
    # q_pagerank_iter discipline.
    return f"""
    {out} AS (
        SELECT n.node,
               CAST((CAST(floor(CAST(({_KATZ_BETA}
                   + {_KATZ_ALPHA} * COALESCE(c.s, 0)) AS DOUBLE)
                   * 1000000000000.0 + 0.5) AS DOUBLE)
                   / 1000000000000.0) AS DOUBLE) AS x
        FROM nodes n
        LEFT JOIN (
            SELECT e.dst,
                   CAST(SUM(CAST((CAST(floor(CAST((p.x
                                 * (CAST(e.w AS DOUBLE) / d.wdeg))
                                 AS DOUBLE) * 1000000000000.0 + 0.5)
                                 AS DOUBLE) / 1000000000000.0)
                                 AS DECIMAL(38,12))) AS DOUBLE) AS s
            FROM edges e
            JOIN {prev} p ON p.node = e.src
            JOIN wdeg d ON d.src = e.src
            GROUP BY e.dst
        ) c ON c.dst = n.node
    )"""


@query(
    "q_katz_centrality",
    oracle=(
        "WITH "
        + _GRAPH_SQL
        + """,
    k0 AS (SELECT node, CAST(1.0 AS DOUBLE) AS x FROM nodes),"""
        + ",".join(
            _katz_level_sql(f"k{i}", f"k{i + 1}")
            for i in range(_KATZ_ITERS)
        )
        + f"""
    SELECT node,
           CAST((CAST(floor(CAST((x) AS DOUBLE) * 1000000.0 + 0.5)
                AS DOUBLE) / 1000000.0) AS DOUBLE) AS katz
    FROM k{_KATZ_ITERS} ORDER BY katz DESC, node
    """
    ),
)
def q_katz_centrality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Katz centrality (α=0.5, β=1, 4 supersteps) over the
    row-stochastic weighted brand co-purchase graph: x ← β +
    α·Σ_in (w/wdeg)·x — attenuated walk counts where every node
    forwards a probability mass, the teleport-free cousin of
    q_pagerank_iter (no 1/N redistribution, so leaves keep β exactly
    and hubs accumulate reachability). The stochastic normalization is
    what keeps α·A convergent at ANY data scale — raw weighted degrees
    grow with the corpus. Each superstep is the shared
    :func:`queries.graph.in_sum_step`: the edges⋈x messages and
    one zero message per node sum in ONE shuffle keyed on node, with a
    lazy localCheckpoint at the boundary (the Pregel shape); the vector
    re-rounds to 12dp per step so both engines iterate identical
    values. Scales: state is one node-sized vector; contributions
    shuffle on node keys only."""
    edges, nodes = _norm_graph(spark, sf_dir)
    update = portable_round(
        F.lit(_KATZ_BETA) + F.lit(_KATZ_ALPHA) * F.col("s"), 12
    )
    x = nodes.select("node", F.lit(1.0).alias("x"))
    x = iterate(x, in_sum_step(edges, nodes, "x", update), _KATZ_ITERS, eager=False)
    return x.select(
        "node", portable_round(F.col("x"), 6).cast("double").alias("katz")
    ).orderBy(F.col("katz").desc(), "node")


# ---------------------------------------------------------------------------
# Preferential-attachment link prediction
# ---------------------------------------------------------------------------


@query(
    "q_pref_attachment",
    oracle=(
        "WITH "
        + _GRAPH_SQL
        + """,
    thr AS (
        SELECT percentile_disc(0.9) WITHIN GROUP (ORDER BY w) AS t
        FROM edges
    ),
    strong AS (
        SELECT e.src, e.dst FROM edges e CROSS JOIN thr
        WHERE e.w >= thr.t
    ),
    deg AS (
        SELECT src AS node, CAST(COUNT(*) AS BIGINT) AS deg
        FROM strong GROUP BY src
    ),
    cand AS (
        SELECT a.node AS node_a, b.node AS node_b,
               a.deg * b.deg AS pa_score
        FROM deg a JOIN deg b ON a.node < b.node
        WHERE NOT EXISTS (
            SELECT 1 FROM strong e
            WHERE e.src = a.node AND e.dst = b.node
        )
    )
    SELECT node_a, node_b, CAST(pa_score AS BIGINT) AS pa_score
    FROM cand
    ORDER BY pa_score DESC, node_a, node_b
    LIMIT 100
    """
    ),
)
def q_pref_attachment(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Preferential-attachment link prediction over the STRONG-tie
    brand graph: co-purchase counts make the raw brand graph complete
    at any realistic scale, so edges first sparsify to the top weight
    decile (exact discrete 90th-percentile threshold — an observed
    value, engine-identical), then every strongly-unconnected pair
    scores deg(u)·deg(v) — the rich-get-richer baseline every
    link-prediction benchmark starts from (beside the
    neighborhood-overlap family q_common_neighbors / q_adamic_adar /
    q_resource_allocation, which score 0 exactly where PA scores
    highest). Candidates come from the catalog-bounded degree table's
    self-join minus an existing-strong-edge anti-join — no
    basket-scale data moves. Top-100 with deterministic tie-break."""
    strong = _strong_edges(spark, sf_dir, 0.9)
    deg = strong.groupBy("src").agg(
        F.count(F.lit(1)).cast("bigint").alias("deg")
    ).select(F.col("src").alias("node"), "deg")
    a = deg.select(
        F.col("node").alias("node_a"), F.col("deg").alias("da")
    )
    b = deg.select(
        F.col("node").alias("node_b"), F.col("deg").alias("db")
    )
    cand = (
        a.crossJoin(b)
        .filter(F.col("node_a") < F.col("node_b"))
        .join(
            strong.select(
                F.col("src").alias("node_a"), F.col("dst").alias("node_b")
            ),
            ["node_a", "node_b"],
            "left_anti",
        )
    )
    return (
        cand.select(
            "node_a",
            "node_b",
            (F.col("da") * F.col("db")).cast("bigint").alias("pa_score"),
        )
        .orderBy(F.col("pa_score").desc(), "node_a", "node_b")
        .limit(100)
    )


# ---------------------------------------------------------------------------
# Breusch-Pagan heteroscedasticity test
# ---------------------------------------------------------------------------


@query(
    "q_breusch_pagan",
    oracle=f"""
    WITH cbars AS ({sql_ohlcv_bars("hour", "close")}),
    nb AS (
        SELECT symbol, close,
               CAST(row_number() OVER (PARTITION BY symbol ORDER BY bar_ts)
                    AS BIGINT) AS rn
        FROM cbars
    ),
    mom AS (
        SELECT symbol,
               CAST(COUNT(*) AS BIGINT) AS n,
               CAST(SUM(rn) AS BIGINT) AS sx,
               CAST(SUM(rn * rn) AS BIGINT) AS sxx,
               SUM(CAST((CAST(floor(CAST((close) AS DOUBLE)
                   * 1000000000000.0 + 0.5) AS DOUBLE) / 1000000000000.0)
                   AS DECIMAL(38,12))) AS sy,
               SUM(CAST((CAST(floor(CAST((close * rn) AS DOUBLE)
                   * 1000000.0 + 0.5) AS DOUBLE) / 1000000.0)
                   AS DECIMAL(38,6))) AS sxy
        FROM nb GROUP BY symbol
        HAVING COUNT(*) >= 3
           AND COUNT(*) * SUM(rn * rn) - SUM(rn) * SUM(rn) <> 0
    ),
    ab AS (
        SELECT symbol, n,
               (CAST(n AS DOUBLE) * CAST(sxy AS DOUBLE)
                - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE))
               / (CAST(n AS DOUBLE) * sxx
                  - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE)) AS b,
               (CAST(sy AS DOUBLE)
                - (CAST(n AS DOUBLE) * CAST(sxy AS DOUBLE)
                   - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE))
                  / (CAST(n AS DOUBLE) * sxx
                     - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE))
                  * CAST(sx AS DOUBLE)) / n AS a
        FROM mom
    ),
    res AS (
        SELECT nb.symbol, nb.rn, ab.n,
               (nb.close - (ab.a + ab.b * nb.rn))
               * (nb.close - (ab.a + ab.b * nb.rn)) AS e2
        FROM nb JOIN ab ON ab.symbol = nb.symbol
    ),
    aux AS (
        SELECT symbol, CAST(MAX(n) AS BIGINT) AS n,
               CAST(SUM(rn) AS BIGINT) AS sx,
               CAST(SUM(rn * rn) AS BIGINT) AS sxx,
               {sql_split_term_sum("e2", 12, 5)} AS sy,
               {sql_split_term_sum("e2 * rn", 12, 2)} AS sxy,
               {sql_split_term_sum("e2 * e2", 12, 2)} AS syy
        FROM res GROUP BY symbol
    ),
    r2 AS (
        SELECT symbol, n,
               CASE WHEN (n * sxx - CAST(sx AS DOUBLE) * sx) <= 0
                      OR (n * syy - sy * sy) <= 0 THEN NULL
                    ELSE (n * sxy - sx * sy) * (n * sxy - sx * sy)
                         / ((n * sxx - CAST(sx AS DOUBLE) * sx)
                            * (n * syy - sy * sy)) END AS r2
        FROM aux
    )
    SELECT symbol, n,
           CAST(CASE WHEN r2 IS NULL THEN NULL
                ELSE (CAST(floor(CAST((n * r2) AS DOUBLE) * 10000.0
                      + 0.5) AS DOUBLE) / 10000.0) END AS DOUBLE)
               AS lm_stat,
           CAST(CASE WHEN r2 IS NULL THEN NULL
                ELSE (CAST(floor(CAST((r2) AS DOUBLE) * 1000000.0
                      + 0.5) AS DOUBLE) / 1000000.0) END AS DOUBLE)
               AS r2_aux
    FROM r2 ORDER BY symbol
    """,
)
def q_breusch_pagan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Breusch–Pagan heteroscedasticity test per symbol on the
    close-vs-time OLS trend: regress squared residuals e² on time,
    LM = n·R²_aux (~χ²₁ under homoscedasticity; large values mean the
    variance drifts along the trend — exactly what invalidates the
    trend fit's standard errors). The primary fit re-uses
    q_durbin_watson's exact-moment construction (integer Σx/Σxx, sy at
    12dp / sxy at 6dp DECIMAL so residuals are bit-identical); the
    auxiliary moments are split sums at power-matched scales (e² ~
    3e5 → (12,5); e²·rn and e⁴ → (12,2)). Scales: bar hash-agg, one
    per-symbol moment agg, broadcast fit join-back, second moment
    agg — the q_durbin_watson posture plus one agg."""
    ev = load_table(spark, sf_dir, "events")
    bars = ohlcv_bars(ev, "hour", "close")
    w = Window.partitionBy("symbol").orderBy("bar_ts")
    nb = bounded_persist(
        bars.select(
            "symbol",
            "close",
            F.row_number().over(w).cast("bigint").alias("rn"),
        ),
        "bp-bars",
    )
    mom = (
        nb.groupBy("symbol")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n"),
            F.sum("rn").cast("bigint").alias("sx"),
            F.sum(F.col("rn") * F.col("rn")).cast("bigint").alias("sxx"),
            F.sum(
                term(F.col("close"), 12)
            ).alias("sy"),
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
        - F.col("sx").cast("double") * F.col("sx").cast("double")
    )
    ab = mom.withColumn("b", b).withColumn(
        "a",
        (
            F.col("sy").cast("double")
            - F.col("b") * F.col("sx").cast("double")
        )
        / F.col("n"),
    ).select("symbol", "n", "a", "b")
    e = F.col("close") - (F.col("a") + F.col("b") * F.col("rn"))
    res = nb.join(F.broadcast(ab), "symbol").select(
        "symbol", "rn", "n", (e * e).alias("e2")
    )
    aux = res.groupBy("symbol").agg(
        F.max("n").cast("bigint").alias("n"),
        F.sum("rn").cast("bigint").alias("sx"),
        F.sum(F.col("rn") * F.col("rn")).cast("bigint").alias("sxx"),
        split_term_sum(F.col("e2"), 12, 5).alias("sy"),
        split_term_sum(F.col("e2") * F.col("rn"), 12, 2).alias("sxy"),
        split_term_sum(F.col("e2") * F.col("e2"), 12, 2).alias("syy"),
    )
    n = F.col("n")
    vx = n * F.col("sxx") - F.col("sx").cast("double") * F.col("sx")
    vy = n * F.col("syy") - F.col("sy") * F.col("sy")
    cxy = n * F.col("sxy") - F.col("sx") * F.col("sy")
    r2 = cxy * cxy / (vx * vy)
    bad = (vx <= 0) | (vy <= 0)
    return aux.select(
        "symbol",
        "n",
        F.when(bad, F.lit(None).cast("double"))
        .otherwise(portable_round(n * r2, 4))
        .cast("double")
        .alias("lm_stat"),
        F.when(bad, F.lit(None).cast("double"))
        .otherwise(portable_round(r2, 6))
        .cast("double")
        .alias("r2_aux"),
    ).orderBy("symbol")


# ---------------------------------------------------------------------------
# Mood's median test
# ---------------------------------------------------------------------------


@query(
    "q_moods_median",
    oracle="""
    WITH med AS (
        SELECT percentile_disc(0.5) WITHIN GROUP (ORDER BY value) AS m
        FROM events
    ),
    cls AS (
        SELECT e.event_type,
               CASE WHEN e.value > m.m THEN 1 ELSE 0 END AS above
        FROM events e CROSS JOIN med m
    ),
    cells AS (
        SELECT event_type,
               CAST(SUM(above) AS BIGINT) AS n_above,
               CAST(COUNT(*) - SUM(above) AS BIGINT) AS n_below,
               CAST(COUNT(*) AS BIGINT) AS n_g
        FROM cls GROUP BY event_type
    ),
    tot AS (
        SELECT CAST(SUM(n_above) AS BIGINT) AS ta,
               CAST(SUM(n_g) AS BIGINT) AS tn,
               CAST(COUNT(*) AS BIGINT) AS k
        FROM cells
    ),
    contrib AS (
        SELECT c.event_type, c.n_above, c.n_below, t.k,
               (c.n_above - CAST(c.n_g * t.ta AS DOUBLE) / t.tn)
               * (c.n_above - CAST(c.n_g * t.ta AS DOUBLE) / t.tn)
               / (CAST(c.n_g * t.ta AS DOUBLE) / t.tn)
               + (c.n_below - CAST(c.n_g * (t.tn - t.ta) AS DOUBLE) / t.tn)
               * (c.n_below - CAST(c.n_g * (t.tn - t.ta) AS DOUBLE) / t.tn)
               / (CAST(c.n_g * (t.tn - t.ta) AS DOUBLE) / t.tn) AS c2
        FROM cells c CROSS JOIN tot t
    )
    SELECT CAST(MAX(k) AS BIGINT) AS n_groups,
           CAST(MAX(k) - 1 AS BIGINT) AS dof,
           CAST((CAST(floor(CAST((SUM(c2)) AS DOUBLE) * 10000.0 + 0.5)
                AS DOUBLE) / 10000.0) AS DOUBLE) AS chi2
    FROM contrib
    """,
)
def q_moods_median(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mood's median test across event types: classify every value
    against the POOLED discrete median (an actual observed value —
    engine-exact pick), then the k×2 chi-square of above/at-or-below
    counts — the location test that survives outliers and wildly
    unequal spreads where q_anova_hod's means drown (its rank-free
    cousin next to q_kruskal_wallis). All counts are exact integers;
    the χ² contributions are a k-row identical double tree (summed
    plainly — k is catalog-bounded, no cross-engine reduction risk).
    Scales: one global percentile + one broadcast threshold compare +
    one hash-agg to k rows."""
    ev = load_table(spark, sf_dir, "events")
    med = ev.agg(
        F.expr("percentile_disc(0.5) WITHIN GROUP (ORDER BY value)").alias(
            "m"
        )
    )
    cls = ev.crossJoin(F.broadcast(med)).select(
        "event_type",
        F.when(F.col("value") > F.col("m"), F.lit(1))
        .otherwise(F.lit(0))
        .alias("above"),
    )
    cells = cls.groupBy("event_type").agg(
        F.sum("above").cast("bigint").alias("n_above"),
        (F.count(F.lit(1)) - F.sum("above")).cast("bigint").alias("n_below"),
        F.count(F.lit(1)).cast("bigint").alias("n_g"),
    )
    tot = cells.agg(
        F.sum("n_above").cast("bigint").alias("ta"),
        F.sum("n_g").cast("bigint").alias("tn"),
        F.count(F.lit(1)).cast("bigint").alias("k"),
    )
    j = cells.crossJoin(F.broadcast(tot))
    ea = (F.col("n_g") * F.col("ta")).cast("double") / F.col("tn")
    eb = (F.col("n_g") * (F.col("tn") - F.col("ta"))).cast("double") / F.col(
        "tn"
    )
    c2 = (F.col("n_above") - ea) * (F.col("n_above") - ea) / ea + (
        F.col("n_below") - eb
    ) * (F.col("n_below") - eb) / eb
    return j.select("k", c2.alias("c2")).groupBy().agg(
        F.max("k").cast("bigint").alias("n_groups"),
        (F.max("k") - 1).cast("bigint").alias("dof"),
        portable_round(F.sum("c2"), 4).cast("double").alias("chi2"),
    )
