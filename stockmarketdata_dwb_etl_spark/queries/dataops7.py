"""ML-eval / graph / corpus additions: forecast error metrics, decile
lift & gains, local clustering coefficient, Jaccard link prediction,
Flesch readability.

Extends the evaluation tier (q_roc_auc/q_pr_curve/q_calibration_bins),
the graph family (graph.py), and the text-quality family with the
remaining standard diagnostics a warehouse-side model/corpus pipeline
reports. Reference analysis tier: /root/reference/dump_bigq.py:135-149.

Determinism: counts and rank positions stay integer; decimal
accumulation for every cross-row double sum; ratio-of-integer doubles
on identical expression trees; portable floor round on all reported
doubles.
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
    sql_portable_round,
    sql_split_term_sum,
    sql_term_sum,
    term_sum,
)
from stockmarketdata_dwb_etl_spark.functions.text import (
    canonical_text,
    sql_canonical_text,
    sql_tokenize,
    tokenize,
)
from stockmarketdata_dwb_etl_spark.operators.cache import bounded_persist
from stockmarketdata_dwb_etl_spark.operators.rank import global_prefix_sum
from stockmarketdata_dwb_etl_spark.queries.dataops5 import SQL_SCORED_EN, scored_en
from stockmarketdata_dwb_etl_spark.queries.graph import _GRAPH_SQL, _graph
from stockmarketdata_dwb_etl_spark.registry import query

_DEC18 = "decimal(38,18)"


@query(
    "q_regression_metrics",
    oracle=f"""
    WITH cbars AS ({sql_ohlcv_bars("hour", "close")}),
    p AS (
        SELECT symbol, close AS y,
               lag(close) OVER (PARTITION BY symbol ORDER BY bar_ts) AS yhat
        FROM cbars
        QUALIFY yhat IS NOT NULL
    ),
    m AS (
        SELECT symbol,
               CAST(COUNT(*) AS BIGINT) AS n,
               {sql_split_term_sum("abs(y - yhat)", 12, 8)} AS sae,
               {sql_split_term_sum("(y - yhat) * (y - yhat)", 12, 8)} AS sse,
               {sql_split_term_sum("y", 12, 8)} AS sy,
               {sql_split_term_sum("y * y", 12, 8)} AS syy,
               {sql_split_term_sum("CASE WHEN y <> 0 THEN abs((y - yhat) / y)"
                       " ELSE 0 END", 12, 8)} AS sape,
               CAST(SUM(CASE WHEN y <> 0 THEN 1 ELSE 0 END) AS BIGINT)
                   AS n_ape
        FROM p GROUP BY 1
    )
    SELECT symbol, n,
           {sql_portable_round("sae / n", 6)} AS mae,
           {sql_portable_round("sqrt(sse / n)", 6)} AS rmse,
           CASE WHEN n_ape = 0 THEN NULL
                ELSE {sql_portable_round("100.0 * sape / n_ape", 6)} END AS mape_pct,
           CASE WHEN syy - sy * sy / n <= 0 THEN NULL
                ELSE {sql_portable_round("1.0 - sse / (syy - sy * sy / n)", 6)} END AS r2
    FROM m ORDER BY symbol
    """,
)
def q_regression_metrics(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Forecast-error scorecard per symbol for the naive lag-1 forecast
    (ŷ_t = close_{t−1}) over hourly closes: MAE, RMSE, MAPE (over
    nonzero actuals), and R² vs the subset mean — the regression-eval
    complement to the classifier tier (q_roc_auc etc.), and the
    benchmark any real forecaster must beat. All error sums accumulate
    in exact DECIMAL; metrics are identical double trees. Scale: one
    bar hash-agg + one lag window + one moments hash-agg."""
    ev = load_table(spark, sf_dir, "events")
    bars = ohlcv_bars(ev, "hour", "close")
    w = Window.partitionBy("symbol").orderBy("bar_ts")
    p = (
        bars.select(
            "symbol",
            F.col("close").alias("y"),
            F.lag("close").over(w).alias("yhat"),
        )
        .filter(F.col("yhat").isNotNull())
    )
    e = F.col("y") - F.col("yhat")
    m = p.groupBy("symbol").agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        split_term_sum(F.abs(e), 12, 8).alias("sae"),
        split_term_sum(e * e, 12, 8).alias("sse"),
        split_term_sum(F.col("y"), 12, 8).alias("sy"),
        split_term_sum(F.col("y") * F.col("y"), 12, 8).alias("syy"),
        split_term_sum(
            F.when(F.col("y") != 0, F.abs(e / F.col("y"))).otherwise(
                F.lit(0.0)
            ),
            12,
            8,
        ).alias("sape"),
        F.sum(F.when(F.col("y") != 0, 1).otherwise(0))
        .cast("bigint")
        .alias("n_ape"),
    )
    sst = F.col("syy") - F.col("sy") * F.col("sy") / F.col("n")
    return (
        m.select(
            "symbol",
            "n",
            portable_round(F.col("sae") / F.col("n"), 6)
            .cast("double")
            .alias("mae"),
            portable_round(F.sqrt(F.col("sse") / F.col("n")), 6)
            .cast("double")
            .alias("rmse"),
            F.when(F.col("n_ape") == 0, F.lit(None).cast("double"))
            .otherwise(
                portable_round(F.lit(100.0) * F.col("sape") / F.col("n_ape"), 6)
            )
            .cast("double")
            .alias("mape_pct"),
            F.when(sst <= 0, F.lit(None).cast("double"))
            .otherwise(portable_round(F.lit(1.0) - F.col("sse") / sst, 6))
            .cast("double")
            .alias("r2"),
        )
        .orderBy("symbol")
    )


@query(
    "q_lift_gains",
    oracle=f"""
    WITH {SQL_SCORED_EN},
    grp AS (
        SELECT score,
               CAST(COUNT(*) AS BIGINT) AS cnt,
               CAST(SUM(y) AS BIGINT) AS pos
        FROM scored GROUP BY score
    ),
    pre AS (
        SELECT score, cnt, pos,
               CAST(COALESCE(SUM(cnt) OVER (ORDER BY score DESC
                   ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
                   AS BIGINT) AS cum_before
        FROM grp
    ),
    tot AS (
        SELECT CAST(SUM(cnt) AS BIGINT) AS nn, CAST(SUM(pos) AS BIGINT) AS pp
        FROM grp
    ),
    dec AS (
        SELECT CAST((cum_before * 10) // nn AS BIGINT) AS decile,
               CAST(SUM(cnt) AS BIGINT) AS n,
               CAST(SUM(pos) AS BIGINT) AS pos,
               CAST(MAX(nn) AS BIGINT) AS nn, CAST(MAX(pp) AS BIGINT) AS pp
        FROM pre CROSS JOIN tot
        GROUP BY 1
    )
    SELECT decile, n, pos,
           {sql_portable_round("CAST(pos AS DOUBLE) / n", 6)} AS response_rate,
           CASE WHEN pp = 0 THEN NULL
                ELSE {sql_portable_round(
                    "(CAST(pos AS DOUBLE) * nn) / (CAST(n AS DOUBLE) * pp)",
                    6)} END AS lift,
           CASE WHEN pp = 0 THEN NULL
                ELSE {sql_portable_round(
                    "100.0 * CAST(SUM(pos) OVER (ORDER BY decile"
                    " ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)"
                    " AS DOUBLE) / pp", 6)} END AS cum_gain_pct
    FROM dec ORDER BY decile
    """,
)
def q_lift_gains(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Decile lift & cumulative-gains table for the quality-classifier
    score predicting lang='en' (the q_roc_auc score/label pair): docs
    sorted best-score-first, cut into 10 equal-population deciles AT
    THE SCORE-GROUP GRAIN (a tied score group lands wholly in the
    decile of its first row — grouped-lift semantics, deterministic on
    both engines; no row-grain ntile tie lottery), then per decile the
    response rate, lift vs base rate (ratio of exact integers), and
    cumulative % of all positives captured. Scale: score hash-agg
    (state bounded by score resolution) + range-partitioned prefix sum
    over score groups + 10-row window."""
    scored = scored_en(spark, sf_dir)
    grp = scored.groupBy("score").agg(
        F.count(F.lit(1)).cast("bigint").alias("cnt"),
        F.sum("y").cast("bigint").alias("pos"),
    )
    # best-score-first total order for the decile cut
    pre = global_prefix_sum(
        grp.withColumn("nscore", -F.col("score")),
        "cnt",
        ["nscore"],
        out="cum_before",
    )
    tot = grp.agg(
        F.sum("cnt").cast("bigint").alias("nn"),
        F.sum("pos").cast("bigint").alias("pp"),
    )
    dec = (
        pre.crossJoin(F.broadcast(tot))
        .groupBy(
            ((F.col("cum_before") * 10) / F.col("nn"))
            .cast("bigint")
            .alias("decile")
        )
        .agg(
            F.sum("cnt").cast("bigint").alias("n"),
            F.sum("pos").cast("bigint").alias("pos"),
            F.max("nn").cast("bigint").alias("nn"),
            F.max("pp").cast("bigint").alias("pp"),
        )
    )
    cw = Window.orderBy("decile").rowsBetween(Window.unboundedPreceding, 0)
    return (
        dec.select(
            "decile",
            "n",
            "pos",
            portable_round(F.col("pos").cast("double") / F.col("n"), 6)
            .cast("double")
            .alias("response_rate"),
            F.when(F.col("pp") == 0, F.lit(None).cast("double"))
            .otherwise(
                portable_round(
                    (F.col("pos").cast("double") * F.col("nn"))
                    / (F.col("n").cast("double") * F.col("pp")),
                    6,
                )
            )
            .cast("double")
            .alias("lift"),
            F.when(F.col("pp") == 0, F.lit(None).cast("double"))
            .otherwise(
                portable_round(
                    F.lit(100.0)
                    * F.sum("pos").over(cw).cast("double")
                    / F.col("pp"),
                    6,
                )
            )
            .cast("double")
            .alias("cum_gain_pct"),
        )
        .orderBy("decile")
    )


@query(
    "q_clustering_coeff",
    oracle=(
        "WITH "
        + _GRAPH_SQL
        + f""",
    oe AS (
        SELECT src, dst FROM edges WHERE src < dst
    ),
    tri AS (
        SELECT a.src AS na, a.dst AS nb, b.dst AS nc
        FROM oe a
        JOIN oe b ON b.src = a.dst AND a.dst < b.dst
        JOIN oe c ON c.src = a.src AND c.dst = b.dst
    ),
    tcnt AS (
        SELECT node, CAST(COUNT(*) AS BIGINT) AS triangles
        FROM (
            SELECT unnest([na, nb, nc]) AS node FROM tri
        ) GROUP BY node
    ),
    deg AS (
        SELECT src AS node, CAST(COUNT(*) AS BIGINT) AS degree
        FROM edges GROUP BY src
    )
    SELECT d.node, d.degree,
           CAST(COALESCE(t.triangles, 0) AS BIGINT) AS triangles,
           CASE WHEN d.degree < 2 THEN NULL
                ELSE {sql_portable_round(
                    "2.0 * COALESCE(t.triangles, 0)"
                    " / (CAST(d.degree AS DOUBLE) * (d.degree - 1))", 6)} END
               AS clustering_coeff
    FROM deg d LEFT JOIN tcnt t ON t.node = d.node
    ORDER BY d.node
    """
    ),
)
def q_clustering_coeff(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LOCAL clustering coefficient per node of the brand co-purchase
    graph: cc(v) = 2·tri(v)/(deg(v)·(deg(v)−1)) — how close each
    brand's neighborhood is to a clique, the per-node refinement of
    q_triangle_count's global enumeration (same ordered-wedge triangle
    algorithm; each a<b<c triangle credits all three corners via a
    map-side explode). Degrees and triangle counts are exact integers;
    degree-<2 nodes emit NULL (coefficient undefined). Scale:
    node-keyed joins on the catalog-bounded brand graph; the triangle
    join is shuffle-co-partitioned on the wedge center."""
    edges, _, _ = _graph(spark, sf_dir)
    oe = bounded_persist(
        edges.filter(F.col("src") < F.col("dst")).select("src", "dst"),
        "cc-ordered-edges",
    )
    ab = oe.select(F.col("src").alias("na"), F.col("dst").alias("nb"))
    bc = oe.select(F.col("src").alias("nb"), F.col("dst").alias("nc"))
    ac = oe.select(F.col("src").alias("na"), F.col("dst").alias("nc"))
    tri = (
        ab.join(bc, "nb")
        .filter(F.col("nb") < F.col("nc"))
        .join(ac, ["na", "nc"], "left_semi")
    )
    tcnt = (
        tri.select(
            F.explode(F.array(F.col("na"), F.col("nb"), F.col("nc"))).alias(
                "node"
            )
        )
        .groupBy("node")
        .agg(F.count(F.lit(1)).cast("bigint").alias("triangles"))
    )
    deg = edges.groupBy(F.col("src").alias("node")).agg(
        F.count(F.lit(1)).cast("bigint").alias("degree")
    )
    j = deg.join(tcnt, "node", "left").select(
        "node",
        "degree",
        F.coalesce(F.col("triangles"), F.lit(0)).cast("bigint").alias(
            "triangles"
        ),
    )
    return (
        j.select(
            "node",
            "degree",
            "triangles",
            F.when(F.col("degree") < 2, F.lit(None).cast("double"))
            .otherwise(
                portable_round(
                    F.lit(2.0)
                    * F.col("triangles")
                    / (F.col("degree").cast("double") * (F.col("degree") - 1)),
                    6,
                )
            )
            .cast("double")
            .alias("clustering_coeff"),
        )
        .orderBy("node")
    )


@query(
    "q_jaccard_neighbors",
    oracle=f"""
    WITH edges AS (
        SELECT DISTINCT l_partkey AS p, l_suppkey AS s FROM lineitem
    ),
    sdeg AS (
        SELECT s, CAST(COUNT(*) AS BIGINT) AS sd FROM edges GROUP BY s
    ),
    pairs AS (
        SELECT a.s AS supp_a, b.s AS supp_b,
               CAST(COUNT(*) AS BIGINT) AS shared_parts
        FROM edges a
        JOIN edges b ON a.p = b.p AND a.s < b.s
        GROUP BY 1, 2
    )
    SELECT p.supp_a, p.supp_b, p.shared_parts,
           {sql_portable_round(
               "CAST(p.shared_parts AS DOUBLE)"
               " / (da.sd + db.sd - p.shared_parts)", 6)} AS jaccard
    FROM pairs p
    JOIN sdeg da ON da.s = p.supp_a
    JOIN sdeg db ON db.s = p.supp_b
    WHERE p.shared_parts >= 5
    ORDER BY jaccard DESC, p.supp_a, p.supp_b
    LIMIT 1000
    """,
)
def q_jaccard_neighbors(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Jaccard link prediction over the part–supplier bipartite graph:
    supplier pairs scored by |N(a)∩N(b)|/|N(a)∪N(b)| — the
    set-overlap normalization beside q_common_neighbors (raw count)
    and q_adamic_adar (rarity-weighted), completing the
    link-prediction trio. A pure ratio of exact integers (union size =
    da + db − shared), so no accumulation error exists at any scale.
    Scale: same posture as adamic_adar — pair fanout C(k,2) bounded by
    suppliers-per-part, degree join-backs key on the supplier ids of
    the already-aggregated pair table (catalog-sized), ≥5 floor bounds
    output."""
    li = load_table(spark, sf_dir, "lineitem")
    edges = bounded_persist(
        li.select(
            F.col("l_partkey").alias("p"), F.col("l_suppkey").alias("s")
        ).distinct(),
        "jac-edges",
    )
    sdeg = edges.groupBy("s").agg(F.count(F.lit(1)).cast("bigint").alias("sd"))
    a = edges.select(F.col("p"), F.col("s").alias("supp_a"))
    b = edges.select(F.col("p"), F.col("s").alias("supp_b"))
    pairs = (
        a.join(b, "p")
        .filter(F.col("supp_a") < F.col("supp_b"))
        .groupBy("supp_a", "supp_b")
        .agg(F.count(F.lit(1)).cast("bigint").alias("shared_parts"))
        .filter(F.col("shared_parts") >= 5)
    )
    da = sdeg.select(F.col("s").alias("supp_a"), F.col("sd").alias("da"))
    db = sdeg.select(F.col("s").alias("supp_b"), F.col("sd").alias("db"))
    return (
        pairs.join(F.broadcast(da), "supp_a")
        .join(F.broadcast(db), "supp_b")
        .select(
            "supp_a",
            "supp_b",
            "shared_parts",
            portable_round(
                F.col("shared_parts").cast("double")
                / (F.col("da") + F.col("db") - F.col("shared_parts")),
                6,
            )
            .cast("double")
            .alias("jaccard"),
        )
        .orderBy(F.col("jaccard").desc(), "supp_a", "supp_b")
        .limit(1000)
    )


@query(
    "q_flesch_reading",
    oracle=f"""
    WITH f AS (
        SELECT source,
               CAST(len({sql_tokenize("text")})
                    AS BIGINT) AS w,
               CAST(greatest(len(regexp_extract_all(text, '[.!?]+')), 1)
                    AS BIGINT) AS s,
               CAST(len(regexp_extract_all(lower(text), '[aeiouy]+'))
                    AS BIGINT) AS syl
        FROM documents
    ),
    sc AS (
        SELECT source,
               206.835 - 1.015 * (CAST(w AS DOUBLE) / s)
                       - 84.6 * (CAST(syl AS DOUBLE) / w) AS flesch
        FROM f WHERE w > 0
    )
    SELECT source,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           {sql_portable_round(
               sql_term_sum("flesch", 10) + " / COUNT(*)", 6)} AS avg_flesch,
           {sql_portable_round("min(flesch)", 6)} AS min_flesch,
           {sql_portable_round("max(flesch)", 6)} AS max_flesch
    FROM sc GROUP BY source ORDER BY source
    """,
)
def q_flesch_reading(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Flesch reading-ease profile per corpus source: 206.835 −
    1.015·(words/sentences) − 84.6·(syllables/words), with sentences =
    terminal-punctuation runs (floored at 1 — an unpunctuated doc is
    one sentence, which is what the synthetic corpus contains) and
    syllables ≈ vowel-group runs (the
    standard dictionary-free approximation) — the readability lens
    beside q_text_quality's surface ratios for corpus curation.
    Per-doc scores are identical double trees (counts are exact
    integers from the same regexes on both engines); the per-source
    mean accumulates in DECIMAL. Scale: map-only feature extraction,
    one source hash-agg."""
    docs = load_table(spark, sf_dir, "documents")
    f = docs.select(
        "source",
        F.size(tokenize("text")).cast("bigint").alias("w"),
        F.greatest(F.regexp_count("text", F.lit(r"[.!?]+")), F.lit(1))
        .cast("bigint")
        .alias("s"),
        F.regexp_count(F.lower("text"), F.lit("[aeiouy]+"))
        .cast("bigint")
        .alias("syl"),
    )
    sc = f.filter(F.col("w") > 0).select(
        "source",
        (
            F.lit(206.835)
            - F.lit(1.015) * (F.col("w").cast("double") / F.col("s"))
            - F.lit(84.6) * (F.col("syl").cast("double") / F.col("w"))
        ).alias("flesch"),
    )
    return (
        sc.groupBy("source")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_docs"),
            # per-doc flesch rounds at 10dp before the exact-DECIMAL sum
            # (raw double→DECIMAL is engine-asymmetric; |flesch| ≤ ~1e4
            # keeps the 10dp floor term far under the 2^53 bound)
            portable_round(
                term_sum(F.col("flesch"), 10)
                / F.count(F.lit(1)),
                6,
            )
            .cast("double")
            .alias("avg_flesch"),
            portable_round(F.min("flesch"), 6)
            .cast("double")
            .alias("min_flesch"),
            portable_round(F.max("flesch"), 6)
            .cast("double")
            .alias("max_flesch"),
        )
        .orderBy("source")
    )


@query(
    "q_theil_u",
    oracle=f"""
    WITH cbars AS ({sql_ohlcv_bars("hour", "close")}),
    p AS (
        SELECT symbol, close AS y,
               lag(close)     OVER ws AS naive,
               lag(close, 24) OVER ws AS seasonal
        FROM cbars
        WINDOW ws AS (PARTITION BY symbol ORDER BY bar_ts)
        QUALIFY naive IS NOT NULL AND seasonal IS NOT NULL
    ),
    m AS (
        SELECT symbol,
               CAST(COUNT(*) AS BIGINT) AS n,
               {sql_split_term_sum("(y - seasonal) * (y - seasonal)", 12, 8)} AS sse_s,
               {sql_split_term_sum("(y - naive) * (y - naive)", 12, 8)} AS sse_n
        FROM p GROUP BY 1
    )
    SELECT symbol, n,
           {sql_portable_round("sqrt(sse_s / n)", 6)} AS rmse_seasonal,
           {sql_portable_round("sqrt(sse_n / n)", 6)} AS rmse_naive,
           CASE WHEN sse_n = 0 THEN NULL
                ELSE {sql_portable_round("sqrt(sse_s / n) / sqrt(sse_n / n)", 6)} END
               AS theil_u
    FROM m ORDER BY symbol
    """,
)
def q_theil_u(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Theil's U per symbol: RMSE of the seasonal-naive forecast
    (ŷ_t = close_{t−24}, the same-hour-yesterday rule) relative to the
    lag-1 naive benchmark over the SAME evaluation rows — U < 1 means
    the daily seasonality carries real signal, U > 1 means the naive
    walk wins; the relative-skill companion to q_regression_metrics's
    absolute scores. Squared errors accumulate in exact DECIMAL; both
    forecasts come from ONE window pass (two lag() over the same
    spec — the q_acf_correlogram lesson, no per-lag branch union).
    Scale: bar hash-agg + one window + one moments hash-agg."""
    ev = load_table(spark, sf_dir, "events")
    bars = ohlcv_bars(ev, "hour", "close")
    w = Window.partitionBy("symbol").orderBy("bar_ts")
    p = (
        bars.select(
            "symbol",
            F.col("close").alias("y"),
            F.lag("close").over(w).alias("naive"),
            F.lag("close", 24).over(w).alias("seasonal"),
        )
        .filter(F.col("naive").isNotNull() & F.col("seasonal").isNotNull())
    )
    es = F.col("y") - F.col("seasonal")
    en = F.col("y") - F.col("naive")
    m = p.groupBy("symbol").agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        split_term_sum(es * es, 12, 8).alias("sse_s"),
        split_term_sum(en * en, 12, 8).alias("sse_n"),
    )
    rmse_s = F.sqrt(F.col("sse_s") / F.col("n"))
    rmse_n = F.sqrt(F.col("sse_n") / F.col("n"))
    return (
        m.select(
            "symbol",
            "n",
            portable_round(rmse_s, 6).cast("double").alias("rmse_seasonal"),
            portable_round(rmse_n, 6).cast("double").alias("rmse_naive"),
            F.when(F.col("sse_n") == 0, F.lit(None).cast("double"))
            .otherwise(portable_round(rmse_s / rmse_n, 6))
            .cast("double")
            .alias("theil_u"),
        )
        .orderBy("symbol")
    )


@query(
    "q_resource_allocation",
    oracle=f"""
    WITH edges AS (
        SELECT DISTINCT l_partkey AS p, l_suppkey AS s FROM lineitem
    ),
    pdeg AS (
        SELECT p, CAST(COUNT(*) AS BIGINT) AS pd FROM edges GROUP BY p
    ),
    pairs AS (
        SELECT a.s AS supp_a, b.s AS supp_b,
               CAST(COUNT(*) AS BIGINT) AS shared_parts,
               CAST(SUM(CAST((CAST(floor(CAST((1.0 / d.pd) AS DOUBLE)
                   * 1000000000000.0 + 0.5) AS DOUBLE) / 1000000000000.0)
                   AS DECIMAL(38,12))) AS DOUBLE) AS ra
        FROM edges a
        JOIN edges b ON a.p = b.p AND a.s < b.s
        JOIN pdeg d ON d.p = a.p
        GROUP BY 1, 2
    )
    SELECT supp_a, supp_b, shared_parts,
           {sql_portable_round("ra", 6)} AS ra_score
    FROM pairs
    WHERE shared_parts >= 5
    ORDER BY ra_score DESC, supp_a, supp_b
    LIMIT 1000
    """,
)
def q_resource_allocation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Resource-allocation link prediction over the part–supplier
    bipartite graph: supplier pairs scored by Σ 1/deg(z) over shared
    parts z — the harder-decaying sibling of q_adamic_adar (1/deg vs
    1/ln·deg: a widely-shared part contributes almost nothing), which
    empirically wins on dense graphs. Same cell-term determinism (each
    1/deg term 12dp-rounds then sums in DECIMAL; 1/deg ≤ 0.5 so the
    floor round can't saturate) and the same deterministic top-1000
    output bound as q_jaccard_neighbors. Scale: identical posture to
    adamic_adar — C(k,2) pair fanout bounded by suppliers-per-part,
    degree join on the same part key as the expansion."""
    li = load_table(spark, sf_dir, "lineitem")
    edges = bounded_persist(
        li.select(
            F.col("l_partkey").alias("p"), F.col("l_suppkey").alias("s")
        ).distinct(),
        "ra-edges",
    )
    pdeg = edges.groupBy("p").agg(
        F.count(F.lit(1)).cast("bigint").alias("pd")
    )
    a = edges.select(F.col("p"), F.col("s").alias("supp_a"))
    b = edges.select(F.col("p"), F.col("s").alias("supp_b"))
    # 12dp-pre-rounded terms <= 1 cast at their OWN scale, matching the
    # oracle's DECIMAL(38,12): k <= 1e12 << 2^53, exact on both engines
    pairs = (
        a.join(b, "p")
        .filter(F.col("supp_a") < F.col("supp_b"))
        .join(pdeg, "p")
        .groupBy("supp_a", "supp_b")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("shared_parts"),
            term_sum(F.lit(1.0) / F.col("pd"), 12).alias("ra"),
        )
    )
    return (
        pairs.filter(F.col("shared_parts") >= 5)
        .select(
            "supp_a",
            "supp_b",
            "shared_parts",
            portable_round(F.col("ra"), 6).cast("double").alias("ra_score"),
        )
        .orderBy(F.col("ra_score").desc(), "supp_a", "supp_b")
        .limit(1000)
    )


@query(
    "q_mcc",
    oracle=f"""
    WITH {SQL_SCORED_EN},
    cm AS (
        SELECT CAST(SUM(CASE WHEN score >= 0.5 AND y = 1 THEN 1 ELSE 0 END)
                    AS BIGINT) AS tp,
               CAST(SUM(CASE WHEN score >= 0.5 AND y = 0 THEN 1 ELSE 0 END)
                    AS BIGINT) AS fp,
               CAST(SUM(CASE WHEN score < 0.5 AND y = 1 THEN 1 ELSE 0 END)
                    AS BIGINT) AS fn,
               CAST(SUM(CASE WHEN score < 0.5 AND y = 0 THEN 1 ELSE 0 END)
                    AS BIGINT) AS tn
        FROM scored
    )
    SELECT tp, fp, fn, tn,
           CASE WHEN (tp + fp) = 0 OR (tp + fn) = 0
                     OR (tn + fp) = 0 OR (tn + fn) = 0 THEN NULL
                ELSE {sql_portable_round(
                    "(CAST(tp AS DOUBLE) * tn - CAST(fp AS DOUBLE) * fn)"
                    " / sqrt((CAST(tp AS DOUBLE) + fp)"
                    "        * (CAST(tp AS DOUBLE) + fn)"
                    "        * (CAST(tn AS DOUBLE) + fp)"
                    "        * (CAST(tn AS DOUBLE) + fn))", 6)} END AS mcc
    FROM cm
    """,
)
def q_mcc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Matthews correlation coefficient of the quality classifier at
    the 0.5 threshold — the single-number confusion-matrix summary
    that stays honest under class imbalance (unlike accuracy/F1),
    completing the q_class_prf / q_cohens_kappa tier. The confusion
    matrix is exact integers from one scan; products cast to double
    BEFORE multiplying (int64-safe at any scale), identical trees both
    engines; any empty margin → NULL. Scale: one map + one 1-row agg."""
    scored = scored_en(spark, sf_dir)
    pred = F.col("score") >= 0.5
    cm = scored.agg(
        F.sum(F.when(pred & (F.col("y") == 1), 1).otherwise(0))
        .cast("bigint")
        .alias("tp"),
        F.sum(F.when(pred & (F.col("y") == 0), 1).otherwise(0))
        .cast("bigint")
        .alias("fp"),
        F.sum(F.when(~pred & (F.col("y") == 1), 1).otherwise(0))
        .cast("bigint")
        .alias("fn"),
        F.sum(F.when(~pred & (F.col("y") == 0), 1).otherwise(0))
        .cast("bigint")
        .alias("tn"),
    )
    tp, fp, fn, tn = (F.col(c).cast("double") for c in ("tp", "fp", "fn", "tn"))
    num = tp * F.col("tn") - fp * F.col("fn")
    den = F.sqrt((tp + F.col("fp")) * (tp + F.col("fn")) * (tn + F.col("fp")) * (tn + F.col("fn")))
    margin_empty = (
        ((F.col("tp") + F.col("fp")) == 0)
        | ((F.col("tp") + F.col("fn")) == 0)
        | ((F.col("tn") + F.col("fp")) == 0)
        | ((F.col("tn") + F.col("fn")) == 0)
    )
    return cm.select(
        "tp",
        "fp",
        "fn",
        "tn",
        F.when(margin_empty, F.lit(None).cast("double"))
        .otherwise(portable_round(num / den, 6))
        .cast("double")
        .alias("mcc"),
    )


@query(
    "q_log_loss",
    oracle=f"""
    WITH {SQL_SCORED_EN},
    t AS (
        SELECT y,
               greatest(least(score, 0.999999), 0.000001) AS p
        FROM scored
    )
    SELECT CAST(COUNT(*) AS BIGINT) AS n,
           {sql_portable_round(
               sql_term_sum("-(y * ln(p) + (1 - y) * ln(1.0 - p))", 12)
               + " / COUNT(*)", 6)}
               AS log_loss
    FROM t
    """,
)
def q_log_loss(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mean binary cross-entropy of the quality-classifier score —
    the proper scoring rule beside q_brier_score (squared loss):
    −[y·ln p + (1−y)·ln(1−p)] with p clamped to [1e-6, 1−1e-6] so a
    confidently-wrong score can't emit infinity. Scores are already
    6dp-rounded (identical bits), each row's loss term rounds to 12dp
    (|term| ≤ ~13.8 — saturation-safe) and sums in DECIMAL. Scale:
    map-only scoring + one 1-row agg."""
    scored = scored_en(spark, sf_dir)
    p = F.greatest(F.least(F.col("score"), F.lit(0.999999)), F.lit(0.000001))
    term = -(
        F.col("y") * F.log(p) + (1 - F.col("y")) * F.log(F.lit(1.0) - p)
    )
    t = scored.select("y", term.alias("loss"))
    return t.agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        portable_round(
            term_sum(F.col("loss"), 12)
            / F.count(F.lit(1)),
            6,
        )
        .cast("double")
        .alias("log_loss"),
    )


@query(
    "q_burrows_delta",
    oracle=f"""
    WITH words AS (
        SELECT source, unnest({sql_tokenize(sql_canonical_text("text"))}) AS w
        FROM documents
    ),
    wc AS (
        SELECT source, w, CAST(COUNT(*) AS BIGINT) AS cnt
        FROM words GROUP BY 1, 2
    ),
    totals AS (
        SELECT source, CAST(SUM(cnt) AS BIGINT) AS total FROM wc GROUP BY 1
    ),
    top AS (
        SELECT w FROM (
            SELECT w, CAST(SUM(cnt) AS BIGINT) AS gcnt FROM wc GROUP BY w
        ) ORDER BY gcnt DESC, w LIMIT 20
    ),
    f AS (
        SELECT t.source, p.w,
               CAST(COALESCE(wc.cnt, 0) AS DOUBLE) / t.total AS freq
        FROM totals t CROSS JOIN top p
        LEFT JOIN wc ON wc.source = t.source AND wc.w = p.w
    ),
    stats AS (
        SELECT w,
               CAST(COUNT(*) AS BIGINT) AS k,
               {sql_split_term_sum("freq", 12, 8)} AS sf,
               {sql_split_term_sum("freq * freq", 12, 8)} AS sff
        FROM f GROUP BY w
    ),
    z AS (
        SELECT f.source, f.w,
               (f.freq - s.sf / s.k)
               / sqrt(s.sff / s.k - (s.sf / s.k) * (s.sf / s.k)) AS z
        FROM f JOIN stats s ON s.w = f.w
        WHERE s.sff / s.k - (s.sf / s.k) * (s.sf / s.k) > 0
    ),
    pairs AS (
        SELECT a.source AS source_a, b.source AS source_b,
               CAST(COUNT(*) AS BIGINT) AS n_words,
               CAST(SUM(CAST((CAST(floor(CAST((abs(a.z - b.z)) AS DOUBLE)
                   * 1000000000000.0 + 0.5) AS DOUBLE) / 1000000000000.0)
                   AS DECIMAL(38,12))) AS DOUBLE) AS sdz
        FROM z a JOIN z b ON a.w = b.w AND a.source < b.source
        GROUP BY 1, 2
    )
    SELECT source_a, source_b, n_words,
           {sql_portable_round("sdz / n_words", 6)} AS delta
    FROM pairs ORDER BY source_a, source_b
    """,
)
def q_burrows_delta(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Burrows' Delta stylometric distance between corpus sources:
    relative frequencies of the 20 globally most-frequent words
    (deterministic tie-break by word), z-scored ACROSS sources per
    word (population σ; zero-variance words drop), Delta(a,b) = mean
    |z_a − z_b| — the authorship/register-attribution measure corpus
    audits use to spot a source whose style drifted. Canonical text
    (the q_text_canonicalize pass) feeds the counts; the cell terms
    |Δz| round 12dp (|z| is a few units — saturation-safe) and sum in
    DECIMAL; missing (source, word) cells materialize as true zero
    frequencies via the totals×top spine. Scale: one word-grain
    shuffle for counts, a 20-row broadcast vocabulary, k×20 z-cells —
    the pair join is catalog-sized."""
    docs = load_table(spark, sf_dir, "documents")
    ctext = canonical_text(F.col("text"))
    words = docs.select(
        "source",
        F.explode(tokenize(ctext)).alias("w"),
    )
    wc = bounded_persist(
        words.groupBy("source", "w").agg(
            F.count(F.lit(1)).cast("bigint").alias("cnt")
        ),
        "bd-wc",
    )
    totals = wc.groupBy("source").agg(
        F.sum("cnt").cast("bigint").alias("total")
    )
    top = (
        wc.groupBy("w")
        .agg(F.sum("cnt").cast("bigint").alias("gcnt"))
        .orderBy(F.col("gcnt").desc(), "w")
        .limit(20)
        .select("w")
    )
    f = (
        totals.crossJoin(F.broadcast(top))
        .join(wc, ["source", "w"], "left")
        .select(
            "source",
            "w",
            (
                F.coalesce(F.col("cnt"), F.lit(0)).cast("double")
                / F.col("total")
            ).alias("freq"),
        )
    )
    stats = f.groupBy("w").agg(
        F.count(F.lit(1)).cast("bigint").alias("k"),
        split_term_sum(F.col("freq"), 12, 8).alias("sf"),
        split_term_sum(F.col("freq") * F.col("freq"), 12, 8).alias("sff"),
    )
    mean = F.col("sf") / F.col("k")
    var = F.col("sff") / F.col("k") - mean * mean
    z = (
        f.join(F.broadcast(stats), "w")
        .filter(var > 0)
        .select(
            "source", "w", ((F.col("freq") - mean) / F.sqrt(var)).alias("z")
        )
    )
    a = z.select(F.col("source").alias("source_a"), "w", F.col("z").alias("za"))
    b = z.select(F.col("source").alias("source_b"), "w", F.col("z").alias("zb"))
    # 12dp-pre-rounded z-gaps cast at their OWN scale, matching the
    # oracle's DECIMAL(38,12): |term| <= ~10 -> exact on both engines
    pairs = (
        a.join(b, "w")
        .filter(F.col("source_a") < F.col("source_b"))
        .groupBy("source_a", "source_b")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_words"),
            term_sum(F.abs(F.col("za") - F.col("zb")), 12).alias("sdz"),
        )
    )
    return (
        pairs.select(
            "source_a",
            "source_b",
            "n_words",
            portable_round(F.col("sdz") / F.col("n_words"), 6)
            .cast("double")
            .alias("delta"),
        )
        .orderBy("source_a", "source_b")
    )


@query(
    "q_concordance",
    oracle=f"""
    WITH toks AS (
        SELECT doc_id,
               {sql_tokenize(sql_canonical_text("text"))} AS ws
        FROM documents
    ),
    hits AS (
        SELECT doc_id, CAST(i AS BIGINT) AS pos,
               COALESCE(array_to_string(ws[greatest(i - 3, 1):i - 1], ' '),
                        '') AS left_ctx,
               COALESCE(array_to_string(ws[i + 1:least(i + 3, len(ws))], ' '),
                        '') AS right_ctx
        FROM toks, range(1, 10000) t(i)
        WHERE i <= len(ws) AND ws[CAST(i AS INTEGER)] = 'spark'
    )
    SELECT doc_id, pos, left_ctx, 'spark' AS keyword, right_ctx
    FROM hits
    ORDER BY doc_id, pos
    LIMIT 500
    """,
)
def q_concordance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Keyword-in-context (KWIC) concordance for the term 'spark' over
    the canonical token stream: every occurrence with its ±3-word
    context windows — the corpus-inspection primitive behind
    collocation review and contamination forensics (SEE the hits, not
    just count them à la q_contamination). Map-side position explode +
    array slicing, deterministic (doc_id, pos) order with a 500-row
    cap. Scale: map-only — the per-doc position spine is the token
    array's own index space; no shuffle until the bounded TakeOrdered."""
    docs = load_table(spark, sf_dir, "documents")
    ctext = canonical_text(F.col("text"))
    toks = docs.select(
        "doc_id",
        tokenize(ctext).alias("ws"),
    )
    hits = (
        toks.select(
            "doc_id",
            "ws",
            F.posexplode("ws").alias("pos0", "w"),
        )
        .filter(F.col("w") == "spark")
        .select(
            "doc_id",
            (F.col("pos0") + 1).cast("bigint").alias("pos"),
            F.array_join(
                F.slice(
                    F.col("ws"),
                    F.greatest(F.col("pos0") - 2, F.lit(1)),
                    F.least(F.col("pos0"), F.lit(3)),
                ),
                " ",
            ).alias("left_ctx"),
            F.lit("spark").alias("keyword"),
            F.array_join(
                F.slice(
                    F.col("ws"),
                    F.col("pos0") + 2,
                    F.lit(3),
                ),
                " ",
            ).alias("right_ctx"),
        )
    )
    return hits.select(
        "doc_id", "pos", "left_ctx", "keyword", "right_ctx"
    ).orderBy("doc_id", "pos").limit(500)


@query(
    "q_skipgram_cooc",
    oracle=f"""
    WITH toks AS (
        SELECT doc_id,
               {sql_tokenize(sql_canonical_text("text"))} AS ws
        FROM documents
    ),
    pairs AS (
        SELECT ws[CAST(i AS INTEGER)] AS w,
               ws[CAST(i + d AS INTEGER)] AS c
        FROM toks, range(1, 10000) t(i), range(1, 3) o(d)
        WHERE i + d <= len(ws)
    ),
    cnt AS (
        SELECT w, c, CAST(COUNT(*) AS BIGINT) AS n
        FROM pairs WHERE w <> c
        GROUP BY 1, 2
    )
    SELECT w, c, n FROM cnt
    ORDER BY n DESC, w, c
    LIMIT 50
    """,
)
def q_skipgram_cooc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Skip-gram co-occurrence counts (forward window ±2, excluding
    self-pairs): the (center, context) pair table a word2vec-style
    embedding trainer consumes — the windowed generalization of
    q_pmi_bigrams' adjacent pairs. Pairs generate MAP-SIDE from each
    token array (position × offset comprehension — no self-join of a
    position table, the q_pair_affinity rule), then one (w, c)
    hash-agg; top-50 by exact integer count with full lexicographic
    tie-break. Scale: fanout is a constant ×2 of token count; one
    shuffle on the pair key; TakeOrdered for the cap."""
    docs = load_table(spark, sf_dir, "documents")
    ctext = canonical_text(F.col("text"))
    toks = docs.select(tokenize(ctext).alias("ws"))
    pair_list = F.expr(
        "flatten(transform(ws, (x, i) ->"
        " filter(transform(sequence(1, 2),"
        "   d -> IF(i + d + 1 <= size(ws),"
        "        struct(x AS w, element_at(ws, i + d + 1) AS c), NULL)),"
        "  p -> p IS NOT NULL)))"
    )
    pairs = toks.select(F.explode(pair_list).alias("p")).select("p.w", "p.c")
    cnt = (
        pairs.filter(F.col("w") != F.col("c"))
        .groupBy("w", "c")
        .agg(F.count(F.lit(1)).cast("bigint").alias("n"))
    )
    return cnt.orderBy(F.col("n").desc(), "w", "c").limit(50)


@query(
    "q_word_burstiness",
    oracle=f"""
    WITH toks AS (
        SELECT doc_id,
               {sql_tokenize(sql_canonical_text("text"))} AS ws
        FROM documents
    ),
    nd AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_docs FROM toks),
    wc AS (
        SELECT doc_id, w, CAST(COUNT(*) AS BIGINT) AS c
        FROM (SELECT doc_id, unnest(ws) AS w FROM toks)
        GROUP BY 1, 2
    ),
    stats AS (
        SELECT w,
               CAST(SUM(c) AS BIGINT) AS total,
               CAST(COUNT(*) AS BIGINT) AS df,
               CAST(SUM(c * c) AS BIGINT) AS scc
        FROM wc GROUP BY w
    ),
    top AS (
        SELECT s.*, d.n_docs FROM stats s CROSS JOIN nd d
        ORDER BY s.total DESC, s.w LIMIT 30
    ),
    vm AS (
        SELECT w, total, df, n_docs,
               CAST(total AS DOUBLE) / n_docs AS mean_c,
               CAST(scc AS DOUBLE) / n_docs
                   - (CAST(total AS DOUBLE) / n_docs)
                     * (CAST(total AS DOUBLE) / n_docs) AS var_c
        FROM top
    )
    SELECT w, total, df,
           CAST((CAST(floor(CAST((mean_c) AS DOUBLE) * 1000000.0 + 0.5)
                AS DOUBLE) / 1000000.0) AS DOUBLE) AS mean_per_doc,
           CASE WHEN mean_c = 0 THEN NULL
                ELSE CAST((CAST(floor(CAST((var_c / mean_c) AS DOUBLE)
                     * 1000000.0 + 0.5) AS DOUBLE) / 1000000.0) AS DOUBLE)
                END AS burstiness_vmr
    FROM vm ORDER BY total DESC, w
    """,
)
def q_word_burstiness(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Word burstiness for the 30 most frequent words: the
    variance-to-mean ratio of per-document counts (zeros included via
    the corpus doc count — a word in few docs but in bursts has VMR ≫
    1; a function word spread evenly sits near Poisson's VMR ≈ 1) —
    the dispersion diagnostic behind stopword lists and tf saturation
    choices, beside q_tfidf_topterms' df weighting. Counts, doc
    frequencies, and squared-count sums are exact integers; only the
    final VMR divides. Scale: one (doc, word) hash-agg + one
    word-grain rollup; top-30 by exact count with lexicographic
    tie-break."""
    docs = load_table(spark, sf_dir, "documents")
    ctext = canonical_text(F.col("text"))
    toks = docs.select(
        "doc_id",
        tokenize(ctext).alias("ws"),
    )
    nd = toks.agg(F.count(F.lit(1)).cast("bigint").alias("n_docs"))
    wc = (
        toks.select("doc_id", F.explode("ws").alias("w"))
        .groupBy("doc_id", "w")
        .agg(F.count(F.lit(1)).cast("bigint").alias("c"))
    )
    stats = wc.groupBy("w").agg(
        F.sum("c").cast("bigint").alias("total"),
        F.count(F.lit(1)).cast("bigint").alias("df"),
        F.sum(F.col("c") * F.col("c")).cast("bigint").alias("scc"),
    )
    top = (
        stats.crossJoin(F.broadcast(nd))
        .orderBy(F.col("total").desc(), "w")
        .limit(30)
    )
    mean_c = F.col("total").cast("double") / F.col("n_docs")
    var_c = F.col("scc").cast("double") / F.col("n_docs") - mean_c * mean_c
    return (
        top.select(
            "w",
            "total",
            "df",
            portable_round(mean_c, 6).cast("double").alias("mean_per_doc"),
            F.when(mean_c == 0, F.lit(None).cast("double"))
            .otherwise(portable_round(var_c / mean_c, 6))
            .cast("double")
            .alias("burstiness_vmr"),
        )
        .orderBy(F.col("total").desc(), "w")
    )


_HEXD = "0123456789abcdef"


def _duck_hex1(expr: str) -> str:
    """DuckDB: first hex digit of md5(expr) as an integer 0..15."""
    return f"(strpos('{_HEXD}', substr(md5({expr}), 1, 1)) - 1)"


@query(
    "q_span_corruption",
    oracle=f"""
    WITH toks AS (
        SELECT doc_id,
               {sql_tokenize(sql_canonical_text("text"))} AS ws
        FROM documents
    ),
    flags AS (
        SELECT doc_id, len(ws) AS n_tokens,
               list_transform(generate_series(1, len(ws)), i ->
                   CASE WHEN
                       ({_duck_hex1(
                           "CAST(doc_id AS VARCHAR) || '-' "
                           "|| CAST(i AS VARCHAR)")}) % 10 = 0
                    OR (i > 1 AND ({_duck_hex1(
                           "CAST(doc_id AS VARCHAR) || '-' "
                           "|| CAST(i - 1 AS VARCHAR)")}) % 10 = 0)
                    OR (i > 2 AND ({_duck_hex1(
                           "CAST(doc_id AS VARCHAR) || '-' "
                           "|| CAST(i - 2 AS VARCHAR)")}) % 10 = 0)
                   THEN 1 ELSE 0 END) AS m
        FROM toks
    )
    SELECT doc_id,
           CAST(n_tokens AS BIGINT) AS n_tokens,
           CAST(list_sum(m) AS BIGINT) AS n_masked,
           CAST((CAST(floor(CAST((CAST(list_sum(m) AS DOUBLE)
                / greatest(n_tokens, 1)) AS DOUBLE) * 10000.0 + 0.5)
                AS DOUBLE) / 10000.0) AS DOUBLE) AS mask_ratio
    FROM flags
    ORDER BY doc_id
    """,
)
def q_span_corruption(spark: SparkSession, sf_dir: str) -> DataFrame:
    """T5-style span-corruption mask plan per document: every token
    position is a span START with probability 1/10 decided by a HASH
    of (doc_id, position) — not an RNG, so the exact same mask
    materializes on any engine, partitioning, or rerun (the
    q_bootstrap_ci / q_hash_split determinism discipline applied to
    denoising-objective data generation) — and each span covers 3
    tokens (a position is masked if it or either of its two
    predecessors starts a span). Reports the per-doc mask plan
    (tokens, masked count, realized mask ratio ≈ the 26% a 10%/len-3
    scheme implies). Scale: map-only — per-position flags are pure
    hash arithmetic inside one array transform; no shuffle at all."""
    docs = load_table(spark, sf_dir, "documents")
    ctext = canonical_text(F.col("text"))
    toks = docs.select(
        "doc_id",
        tokenize(ctext).alias("ws"),
    )

    def start(i):
        return (
            F.conv(
                F.substring(
                    F.md5(
                        F.concat_ws(
                            "-", F.col("doc_id").cast("string"), i.cast("string")
                        )
                    ),
                    1,
                    1,
                ),
                16,
                10,
            ).cast("int")
            % 10
            == 0
        )

    flags = toks.select(
        "doc_id",
        F.size("ws").alias("n_tokens"),
        F.transform(
            F.sequence(F.lit(1), F.size("ws")),
            lambda i: F.when(
                start(i)
                | ((i > 1) & start(i - 1))
                | ((i > 2) & start(i - 2)),
                F.lit(1),
            ).otherwise(F.lit(0)),
        ).alias("m"),
    )
    n_masked = F.aggregate(
        "m", F.lit(0).cast("bigint"), lambda acc, x: acc + x
    )
    return (
        flags.select(
            "doc_id",
            F.col("n_tokens").cast("bigint").alias("n_tokens"),
            n_masked.alias("n_masked"),
            portable_round(
                n_masked.cast("double") / F.greatest("n_tokens", F.lit(1)), 4
            )
            .cast("double")
            .alias("mask_ratio"),
        )
        .orderBy("doc_id")
    )


@query(
    "q_lm_cross_split",
    oracle=f"""
    WITH b AS (
        SELECT *,
               (strpos('0123456789abcdef',
                       substr(md5(CAST(doc_id AS VARCHAR)), 1, 1)) - 1) * 16
             + (strpos('0123456789abcdef',
                       substr(md5(CAST(doc_id AS VARCHAR)), 2, 1)) - 1)
               AS bucket
        FROM documents
    ),
    sp AS (
        SELECT doc_id, lang,
               CASE WHEN bucket < 230 THEN 'train'
                    WHEN bucket < 243 THEN 'val'
                    ELSE 'test' END AS split,
               {sql_tokenize("text")} AS ws
        FROM b
    ),
    tr_uni AS (
        SELECT t, CAST(COUNT(*) AS BIGINT) AS c_a
        FROM (SELECT unnest(ws) AS t FROM sp WHERE split = 'train')
        GROUP BY t
    ),
    vocab AS (SELECT CAST(COUNT(*) AS BIGINT) AS v FROM tr_uni),
    tr_big AS (
        SELECT bg.a AS a, bg.b AS b, CAST(COUNT(*) AS BIGINT) AS c_ab
        FROM (SELECT unnest(list_transform(
                  generate_series(1, greatest(len(ws) - 1, 0)),
                  i -> struct_pack(a := ws[i], b := ws[i+1])),
                  recursive := false) AS bg
              FROM sp WHERE split = 'train')
        GROUP BY 1, 2
    ),
    val_big AS (
        SELECT doc_id, lang, bg.a AS a, bg.b AS b
        FROM (SELECT doc_id, lang, unnest(list_transform(
                  generate_series(1, greatest(len(ws) - 1, 0)),
                  i -> struct_pack(a := ws[i], b := ws[i+1])),
                  recursive := false) AS bg
              FROM sp WHERE split = 'val')
    ),
    scored AS (
        SELECT vb.lang,
               CASE WHEN tb.c_ab IS NULL THEN 1 ELSE 0 END AS oov,
               CAST(floor(CAST((ln((COALESCE(tb.c_ab, 0) + 1.0)
                    / (COALESCE(tu.c_a, 0) + vc.v))) AS DOUBLE)
                    * 1000000000000.0 + 0.5) AS DOUBLE)
                    / 1000000000000.0 AS ll
        FROM val_big vb
        LEFT JOIN tr_big tb ON tb.a = vb.a AND tb.b = vb.b
        LEFT JOIN tr_uni tu ON tu.t = vb.a
        CROSS JOIN vocab vc
    )
    SELECT lang,
           CAST(COUNT(*) AS BIGINT) AS n_bigrams,
           CAST(SUM(oov) AS BIGINT) AS n_unseen,
           CAST((CAST(floor(CAST(({sql_split_term_sum("ll", 12, 8)})
                / COUNT(*) AS DOUBLE) * 1000000.0 + 0.5)
                AS DOUBLE) / 1000000.0) AS DOUBLE) AS mean_ll
    FROM scored GROUP BY lang ORDER BY lang
    """,
)
def q_lm_cross_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-split LM evaluation — the train/eval hygiene check: an
    add-one-smoothed bigram LM trained ONLY on the q_hash_split train
    docs scores the VAL split's bigrams, reported per language as mean
    log-likelihood + unseen-bigram count (ln P(b|a) = ln((c_ab+1)/
    (c_a+V)) — unlike q_lm_score's self-perplexity there is no
    train/eval leakage, so this number can legitimately gate a data
    release). Each ln term is an identical double tree (12dp-rounded,
    DECIMAL mean); splits are the md5-bucket rule so membership is
    engine-exact. Scale: train count tables shuffle on the token key;
    the val join keys on the same bigram key; vocab is a 1-row
    broadcast."""
    from stockmarketdata_dwb_etl_spark.queries.reports import hash_bucket

    docs = load_table(spark, sf_dir, "documents")
    bucket = hash_bucket("doc_id", 256)
    split = (
        F.when(bucket < 230, "train").when(bucket < 243, "val").otherwise("test")
    )
    # sp feeds the train unigram/bigram counters AND the val side —
    # persist once or the tokenizing scan re-executes per consumer
    sp = bounded_persist(
        docs.select(
            "doc_id",
            "lang",
            split.alias("split"),
            tokenize("text").alias("ws"),
        ),
        "lmx-split-tokens",
    )
    bigs = F.expr(
        "transform(sequence(1, greatest(size(ws) - 1, 0)),"
        " i -> struct(element_at(ws, i) AS a, element_at(ws, i + 1) AS b))"
    )
    tr = sp.filter(F.col("split") == "train")
    tr_uni = (
        tr.select(F.explode("ws").alias("t"))
        .groupBy("t")
        .agg(F.count(F.lit(1)).cast("bigint").alias("c_a"))
    )
    vocab = tr_uni.agg(F.count(F.lit(1)).cast("bigint").alias("v"))
    tr_big = (
        tr.select(F.explode(bigs).alias("bg"))
        .select("bg.a", "bg.b")
        .groupBy("a", "b")
        .agg(F.count(F.lit(1)).cast("bigint").alias("c_ab"))
    )
    val_big = (
        sp.filter(F.col("split") == "val")
        .select("doc_id", "lang", F.explode(bigs).alias("bg"))
        .select("doc_id", "lang", "bg.a", "bg.b")
    )
    scored = (
        val_big.join(tr_big, ["a", "b"], "left")
        .join(tr_uni.withColumnRenamed("t", "a"), "a", "left")
        .crossJoin(F.broadcast(vocab))
        .select(
            "lang",
            F.when(F.col("c_ab").isNull(), 1).otherwise(0).alias("oov"),
            portable_round(
                F.log(
                    (F.coalesce(F.col("c_ab"), F.lit(0)) + F.lit(1.0))
                    / (F.coalesce(F.col("c_a"), F.lit(0)) + F.col("v"))
                ),
                12,
            ).alias("ll"),
        )
    )
    return (
        scored.groupBy("lang")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_bigrams"),
            F.sum("oov").cast("bigint").alias("n_unseen"),
            portable_round(
                split_term_sum(F.col("ll"), 12, 8) / F.count(F.lit(1)),
                6,
            )
            .cast("double")
            .alias("mean_ll"),
        )
        .orderBy("lang")
    )


_BPE_RE = r"[A-Za-z]+|[0-9]+|[^A-Za-z0-9\s]"


@query(
    "q_tokenizer_fertility",
    oracle=f"""
    WITH f AS (
        SELECT lang,
               CAST(len(regexp_extract_all(text, '{_BPE_RE}')) AS BIGINT)
                   AS n_bpe,
               CAST(len({sql_tokenize("text")})
                   AS BIGINT) AS n_words
        FROM documents
    ),
    d AS (
        SELECT lang, n_bpe, n_words,
               CAST(n_bpe AS DOUBLE) / n_words AS fert
        FROM f WHERE n_words > 0
    )
    SELECT lang,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(SUM(n_bpe) AS BIGINT) AS total_bpe,
           CAST(SUM(n_words) AS BIGINT) AS total_words,
           CAST((CAST(floor(CAST((CAST(SUM(n_bpe) AS DOUBLE)
                / SUM(n_words)) AS DOUBLE) * 10000.0 + 0.5) AS DOUBLE)
                / 10000.0) AS DOUBLE) AS fertility,
           CAST((CAST(floor(CAST((quantile_cont(fert, 0.9)) AS DOUBLE)
                * 10000.0 + 0.5) AS DOUBLE) / 10000.0) AS DOUBLE)
               AS fertility_p90
    FROM d GROUP BY lang ORDER BY lang
    """,
)
def q_tokenizer_fertility(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tokenizer fertility per language: BPE-ish tokens per whitespace
    word (corpus-level ratio of exact integer counts + the per-doc p90
    via exact percentile) — THE cross-language tokenizer-quality metric
    (a language whose fertility runs 2× pays 2× the context budget for
    the same text), beside q_token_count_bpe's chars-per-token and
    q_vocab_coverage's OOV rate. Same saturation-free regex on both
    engines. Scale: map-only counts + one lang hash-agg (the percentile
    is per-group exact, catalog-sized group count)."""
    docs = load_table(spark, sf_dir, "documents")
    # F.lit carries the pattern without SQL string-literal escape
    # mangling (an F.expr literal would eat the \\s)
    n_bpe = F.size(
        F.regexp_extract_all(F.col("text"), F.lit(_BPE_RE), F.lit(0))
    ).cast("bigint")
    n_words = F.size(tokenize("text")).cast("bigint")
    d = (
        docs.select("lang", n_bpe.alias("n_bpe"), n_words.alias("n_words"))
        .filter(F.col("n_words") > 0)
        .withColumn(
            "fert", F.col("n_bpe").cast("double") / F.col("n_words")
        )
    )
    return (
        d.groupBy("lang")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_docs"),
            F.sum("n_bpe").cast("bigint").alias("total_bpe"),
            F.sum("n_words").cast("bigint").alias("total_words"),
            portable_round(
                F.sum("n_bpe").cast("double") / F.sum("n_words"), 4
            )
            .cast("double")
            .alias("fertility"),
            portable_round(F.percentile("fert", 0.9), 4)
            .cast("double")
            .alias("fertility_p90"),
        )
        .orderBy("lang")
    )


@query(
    "q_dedup_prefix",
    oracle=f"""
    WITH toks AS (
        SELECT doc_id, n_chars,
               {sql_tokenize(sql_canonical_text("text"))} AS ws
        FROM documents
    ),
    pfx AS (
        SELECT doc_id, n_chars,
               md5(array_to_string(ws[1:least(50, len(ws))], ' ')) AS ph
        FROM toks WHERE len(ws) > 0
    ),
    cl AS (
        SELECT ph,
               CAST(COUNT(*) AS BIGINT) AS cluster_size,
               CAST(MIN(doc_id) AS BIGINT) AS canonical_doc,
               CAST(SUM(n_chars) - MAX(n_chars) AS BIGINT)
                   AS removable_chars
        FROM pfx GROUP BY ph
        HAVING COUNT(*) >= 2
    )
    SELECT ph AS prefix_hash, cluster_size, canonical_doc, removable_chars
    FROM cl
    ORDER BY cluster_size DESC, canonical_doc
    LIMIT 100
    """,
)
def q_dedup_prefix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Prefix-duplicate detection: documents whose first 50 canonical
    tokens hash identically — the partial-duplicate class full-document
    digests MISS (same article with different trailing boilerplate,
    truncated re-crawls) and MinHash only catches above its whole-doc
    Jaccard threshold. Clusters of ≥2 report size, the canonical
    (lowest-id) survivor, and the removable character mass (keep the
    LONGEST member — the truncation-aware convention). One shuffle on
    the 32-char prefix hash; text never moves. Scale: the
    q_dedup_exact posture with a prefix key; top-100 deterministic."""
    docs = load_table(spark, sf_dir, "documents")
    ctext = canonical_text(F.col("text"))
    toks = docs.select(
        "doc_id",
        "n_chars",
        tokenize(ctext).alias("ws"),
    ).filter(F.size("ws") > 0)
    pfx = toks.select(
        "doc_id",
        "n_chars",
        F.md5(
            F.array_join(
                F.slice(F.col("ws"), 1, F.least(F.lit(50), F.size("ws"))), " "
            ).cast("binary")
        ).alias("ph"),
    )
    cl = (
        pfx.groupBy("ph")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("cluster_size"),
            F.min("doc_id").cast("bigint").alias("canonical_doc"),
            (F.sum("n_chars") - F.max("n_chars"))
            .cast("bigint")
            .alias("removable_chars"),
        )
        .filter(F.col("cluster_size") >= 2)
    )
    return (
        cl.select(
            F.col("ph").alias("prefix_hash"),
            "cluster_size",
            "canonical_doc",
            "removable_chars",
        )
        .orderBy(F.col("cluster_size").desc(), "canonical_doc")
        .limit(100)
    )
