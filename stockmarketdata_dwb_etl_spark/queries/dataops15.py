"""Marketing attribution and community detection, part 15 (round 10,
batch 5).

- Exact Shapley-value attribution (Shapley 1953; the marketing variant
  of Zhao et al. 2018): with a CHANNEL-SET coalition model and 4
  channels the 2⁴ subset lattice is enumerable, so the Shapley value —
  the only attribution satisfying efficiency/symmetry/dummy — computes
  EXACTLY, no sampling: φᵢ = Σ_{{S∌i}} |S|!(n−1−|S|)!/n! · (v(S∪i)−v(S))
  with v(S) = conversion rate of journeys whose touched-channel set is
  contained in S. The principled alternative to the positional
  heuristics (q_attribution_last_touch / q_attribution_position).
- Synchronous label propagation (Raghavan et al. 2007), 2 unrolled
  rounds over the brand co-purchase graph: each node adopts the
  edge-weight-heaviest neighbor label (tie → lexicographic min) — the
  near-linear community detector beside connected components (which
  only answer "connected at all?"); deterministic by construction here
  (synchronous updates + total tie order), unlike the async variant.

Determinism: journey masks, coalition counts, label weights are exact
integers; subset weights are rational literals; the only doubles are
ratios of exact integers rounded 6dp through identical trees.
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
# Exact Shapley-value attribution
# ---------------------------------------------------------------------------

_CHANNELS = (("click", 1), ("error", 2), ("signup", 4), ("view", 8))
_N_CH = len(_CHANNELS)
# |S|!(n−1−|S|)!/n! for n = 4
_SHAP_W = {0: 6.0 / 24.0, 1: 2.0 / 24.0, 2: 2.0 / 24.0, 3: 6.0 / 24.0}

_POPCNT_SQL = (
    "((wo.s & 1) + ((wo.s >> 1) & 1) + ((wo.s >> 2) & 1)"
    " + ((wo.s >> 3) & 1))"
)


@query(
    "q_shapley_attribution",
    oracle=f"""
    WITH journeys AS (
        SELECT user_id, CAST(ts AS DATE) AS day,
               {" + ".join(
                   f"MAX(CASE WHEN event_type = '{c}' THEN {b} ELSE 0 END)"
                   for c, b in _CHANNELS
               )} AS mask,
               MAX(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END)
                   AS conv
        FROM events GROUP BY user_id, CAST(ts AS DATE)
    ),
    mstats AS (
        SELECT mask, CAST(COUNT(*) AS BIGINT) AS n_j,
               CAST(SUM(conv) AS BIGINT) AS n_conv
        FROM journeys GROUP BY mask
    ),
    subsets AS (SELECT UNNEST(generate_series(0, 15)) AS s),
    vtab AS (
        SELECT s,
               CAST(COALESCE(SUM(m.n_j), 0) AS BIGINT) AS n_in,
               CAST(COALESCE(SUM(m.n_conv), 0) AS BIGINT) AS c_in,
               CASE WHEN COALESCE(SUM(m.n_j), 0) = 0 THEN 0.0
                    ELSE CAST(SUM(m.n_conv) AS DOUBLE) / SUM(m.n_j) END
                   AS v
        FROM subsets LEFT JOIN mstats m ON (m.mask | subsets.s) = subsets.s
        GROUP BY s
    ),
    channels(ch, bit) AS (VALUES {", ".join(
        f"('{c}', {b})" for c, b in _CHANNELS
    )}),
    terms AS (
        SELECT c.ch,
               (CASE {_POPCNT_SQL}
                     WHEN 0 THEN {_SHAP_W[0]} WHEN 1 THEN {_SHAP_W[1]}
                     WHEN 2 THEN {_SHAP_W[2]} ELSE {_SHAP_W[3]} END)
               * (w.v - wo.v) AS t
        FROM channels c
        JOIN vtab wo ON (wo.s & c.bit) = 0
        JOIN vtab w ON w.s = (wo.s | c.bit)
    )
    SELECT ch AS channel,
           CAST({sql_portable_round(sql_term_sum("t", 12), 6)} AS DOUBLE)
               AS shapley_phi,
           CAST((SELECT {sql_portable_round("MAX(v)", 6)}
                 FROM vtab WHERE s = 15) AS DOUBLE) AS v_grand,
           CAST((SELECT SUM(n_j) FROM mstats) AS BIGINT) AS n_journeys
    FROM terms GROUP BY ch ORDER BY channel
    """,
)
def q_shapley_attribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXACT Shapley-value channel attribution: journeys are (user, day)
    touched-channel sets over the 4 non-conversion event types, the
    coalition value v(S) is the conversion rate of journeys contained
    in S, and each channel's φ sums the weighted marginal contributions
    over all 2⁴ coalitions — the only credit assignment satisfying
    efficiency + symmetry + dummy (the positional heuristics
    q_attribution_last_touch/position are what φ replaces). Exact
    because the subset lattice is channel-count-sized, never
    journey-sized: the fact table reduces to ≤16 mask rows in ONE
    hash-agg, and everything after is 16×16 literal-lattice arithmetic.
    Efficiency (Σφ = v(full) − v(∅)) is pinned by the unit test.
    Scale: one (user, day) hash-agg + a 16-row lattice — at any corpus
    size the lattice stays 2^n_channels."""
    ev = load_table(spark, sf_dir, "events")
    journeys = ev.groupBy("user_id", F.col("ts").cast("date").alias("day")).agg(
        sum(
            [
                F.max(
                    F.when(F.col("event_type") == c, F.lit(b)).otherwise(0)
                )
                for c, b in _CHANNELS
            ],
            F.lit(0),
        ).alias("mask"),
        F.max(
            (F.col("event_type") == "purchase").cast("int")
        ).alias("conv"),
    )
    mstats = journeys.groupBy("mask").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_j"),
        F.sum("conv").cast("bigint").alias("n_conv"),
    )
    subsets = spark.range(16).select(F.col("id").cast("int").alias("s"))
    vtab = (
        subsets.join(
            F.broadcast(mstats),
            (mstats["mask"].bitwiseOR(subsets["s"])) == subsets["s"],
            "left",
        )
        .groupBy("s")
        .agg(
            F.coalesce(F.sum("n_j"), F.lit(0)).cast("bigint").alias("n_in"),
            F.coalesce(F.sum("n_conv"), F.lit(0))
            .cast("bigint")
            .alias("c_in"),
        )
        .select(
            "s",
            "n_in",
            F.when(F.col("n_in") == 0, F.lit(0.0))
            .otherwise(F.col("c_in").cast("double") / F.col("n_in"))
            .alias("v"),
        )
    )
    channels = spark.createDataFrame(
        list(_CHANNELS), ["channel", "bit"]
    )
    wo = vtab.select(F.col("s").alias("s0"), F.col("v").alias("v0"))
    wi = vtab.select(F.col("s").alias("s1"), F.col("v").alias("v1"))
    pop = (
        (F.col("s0").bitwiseAND(F.lit(1)))
        + (F.shiftright(F.col("s0"), 1).bitwiseAND(F.lit(1)))
        + (F.shiftright(F.col("s0"), 2).bitwiseAND(F.lit(1)))
        + (F.shiftright(F.col("s0"), 3).bitwiseAND(F.lit(1)))
    )
    weight = (
        F.when(pop == 0, F.lit(_SHAP_W[0]))
        .when(pop == 1, F.lit(_SHAP_W[1]))
        .when(pop == 2, F.lit(_SHAP_W[2]))
        .otherwise(F.lit(_SHAP_W[3]))
    )
    terms = (
        channels.join(
            F.broadcast(wo), F.col("s0").bitwiseAND(F.col("bit")) == 0
        )
        .join(
            F.broadcast(wi),
            F.col("s1") == F.col("s0").bitwiseOR(F.col("bit")),
        )
        .select(
            "channel", (weight * (F.col("v1") - F.col("v0"))).alias("t")
        )
    )
    v_grand = vtab.filter(F.col("s") == 15).select(
        portable_round(F.max("v"), 6).cast("double").alias("v_grand")
    )
    n_tot = mstats.agg(
        F.sum("n_j").cast("bigint").alias("n_journeys")
    )
    return (
        terms.groupBy("channel")
        .agg(
            # the 8 coalition terms per channel are unrounded doubles;
            # term_sum (12dp round → exact DECIMAL Σ) makes the per-channel
            # sum accumulation-order independent across engines
            # (|t| ≤ 1, so the 12dp floor term is nowhere near int64)
            portable_round(term_sum(F.col("t"), 12), 6)
            .cast("double")
            .alias("shapley_phi")
        )
        .crossJoin(F.broadcast(v_grand))
        .crossJoin(F.broadcast(n_tot))
        .orderBy("channel")
    )


# ---------------------------------------------------------------------------
# Synchronous label propagation
# ---------------------------------------------------------------------------

_LPA_ROUNDS = 2
_LPA_KNN = 3  # keep each node's 3 heaviest edges before propagation


def _duck_lpa_round(prev: str, rnd: int) -> str:
    return f"""
    cnt{rnd} AS (
        SELECT e.src AS node, l.label,
               CAST(SUM(e.w) AS BIGINT) AS wsum
        FROM edges e JOIN {prev} l ON l.node = e.dst
        GROUP BY e.src, l.label
    ),
    lab{rnd} AS (
        SELECT node, label FROM (
            SELECT node, label,
                   row_number() OVER (PARTITION BY node
                                      ORDER BY wsum DESC, label) AS rn
            FROM cnt{rnd}
        ) WHERE rn = 1
    )"""


@query(
    "q_label_propagation",
    oracle=f"""
    WITH basket AS (
        SELECT DISTINCT l_orderkey AS ok, p_brand AS b
        FROM lineitem JOIN part ON p_partkey = l_partkey
    ),
    edges0 AS (
        SELECT a.b AS src, c.b AS dst, CAST(COUNT(*) AS BIGINT) AS w
        FROM basket a JOIN basket c ON a.ok = c.ok AND a.b <> c.b
        GROUP BY 1, 2
    ),
    knn AS (
        SELECT src, dst, w FROM (
            SELECT src, dst, w,
                   row_number() OVER (PARTITION BY src
                                      ORDER BY w DESC, dst) AS rn
            FROM edges0
        ) WHERE rn <= {_LPA_KNN}
    ),
    edges AS (
        SELECT src, dst, CAST(MAX(w) AS BIGINT) AS w
        FROM (SELECT src, dst, w FROM knn
              UNION ALL SELECT dst AS src, src AS dst, w FROM knn)
        GROUP BY src, dst
    ),
    lab0 AS (SELECT DISTINCT src AS node, src AS label FROM edges),
    {",".join(_duck_lpa_round(f"lab{r - 1}", r) for r in range(1, _LPA_ROUNDS + 1))}
    SELECT l.label AS community,
           CAST(COUNT(*) AS BIGINT) AS n_members,
           MIN(l.node) AS first_member
    FROM lab{_LPA_ROUNDS} l
    GROUP BY l.label ORDER BY community
    """,
)
def q_label_propagation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Synchronous label propagation (2 rounds) over the TOP-3-NEIGHBOR
    sparsification of the brand co-purchase graph: every node adopts its
    edge-weight-heaviest neighbor label each round (tie → lexicographic
    min) — near-linear community DETECTION, answering "which brands
    cluster together?" where q_graph_components only answers "connected
    at all?". The kNN sparsification (keep each node's 3 heaviest edges,
    symmetrized) is the standard prep: the raw co-purchase graph is
    near-complete, so propagation on it collapses to one label — strong
    ties are the community signal. Deterministic by synchronous updates
    over a fixed round count plus total tie orders everywhere (the async
    variant's order-dependence is exactly what an oracle-checked engine
    cannot ship). Emits the community histogram. Scale: the kNN filter
    is one node-partitioned rank window on the catalog-sized edge
    table; each round is ONE edge⋈label shuffle on the node key + a
    weighted-mode window partitioned by node; rounds are a fixed
    constant."""
    from stockmarketdata_dwb_etl_spark.queries.graph import _graph

    edges0, _, _ = _graph(spark, sf_dir)
    wk = Window.partitionBy("src").orderBy(F.col("w").desc(), "dst")
    knn = (
        edges0.withColumn("rn", F.row_number().over(wk))
        .filter(F.col("rn") <= _LPA_KNN)
        .select("src", "dst", "w")
    )
    edges = (
        knn.unionByName(
            knn.select(
                F.col("dst").alias("src"),
                F.col("src").alias("dst"),
                "w",
            )
        )
        .groupBy("src", "dst")
        .agg(F.max("w").cast("bigint").alias("w"))
    )
    labels = edges.select(F.col("src").alias("node")).distinct().select(
        "node", F.col("node").alias("label")
    )
    for _rnd in range(_LPA_ROUNDS):
        cnt = (
            edges.join(
                labels.select(
                    F.col("node").alias("nbr"), "label"
                ),
                edges["dst"] == F.col("nbr"),
            )
            .groupBy(F.col("src").alias("node"), "label")
            .agg(F.sum("w").cast("bigint").alias("wsum"))
        )
        w = Window.partitionBy("node").orderBy(
            F.col("wsum").desc(), "label"
        )
        labels = (
            cnt.withColumn("rn", F.row_number().over(w))
            .filter(F.col("rn") == 1)
            .select("node", "label")
        )
    return (
        labels.groupBy(F.col("label").alias("community"))
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_members"),
            F.min("node").alias("first_member"),
        )
        .orderBy("community")
    )



# ---------------------------------------------------------------------------
# Nearest-neighbor covariate matching (ATT)
# ---------------------------------------------------------------------------


@query(
    "q_matched_pairs_att",
    oracle=f"""
    WITH y AS (
        SELECT o_custkey AS ck, {sql_term_sum("o_totalprice", 6)} AS spend
        FROM orders GROUP BY o_custkey
    ),
    pop AS (
        SELECT c.c_custkey AS ck, c.c_nationkey AS nation,
               c.c_mktsegment AS segment, c.c_acctbal AS bal,
               CASE WHEN c.c_custkey % 2 = 1 THEN 1 ELSE 0 END AS treated,
               COALESCE(y.spend, 0.0) AS spend
        FROM customer c LEFT JOIN y ON y.ck = c.c_custkey
    ),
    pairs AS (
        SELECT t.ck AS t_ck, t.spend AS t_y, t.bal AS t_bal,
               c.ck AS c_ck, c.spend AS c_y, c.bal AS c_bal,
               row_number() OVER (PARTITION BY t.ck
                                  ORDER BY abs(t.bal - c.bal), c.ck) AS rn
        FROM pop t JOIN pop c
          ON c.nation = t.nation AND c.segment = t.segment
         AND t.treated = 1 AND c.treated = 0
    ),
    matched AS (
        SELECT CAST(COUNT(*) AS BIGINT) AS n_matched,
               {sql_term_sum("t_y - c_y", 4)} AS s_diff,
               {sql_term_sum("abs(t_bal - c_bal)", 6)} AS s_gap
        FROM pairs WHERE rn = 1
    ),
    naive AS (
        SELECT {sql_term_sum("CASE WHEN treated = 1 THEN spend END", 6)}
                   / SUM(CASE WHEN treated = 1 THEN 1 ELSE 0 END)
             - {sql_term_sum("CASE WHEN treated = 0 THEN spend END", 6)}
                   / SUM(CASE WHEN treated = 0 THEN 1 ELSE 0 END) AS nd
        FROM pop
    )
    SELECT m.n_matched,
           CAST({sql_portable_round("m.s_diff / m.n_matched", 4)} AS DOUBLE)
               AS att,
           CAST({sql_portable_round("n.nd", 4)} AS DOUBLE) AS naive_diff,
           CAST({sql_portable_round("m.s_gap / m.n_matched", 6)} AS DOUBLE)
               AS mean_bal_gap
    FROM matched m CROSS JOIN naive n
    """,
)
def q_matched_pairs_att(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Nearest-neighbor covariate matching (ATT): each treated customer
    (odd custkey — synthetic assignment; the operator is the estimator)
    matches the control in its EXACT (nation, segment) stratum with the
    closest account balance (with replacement; ties to the lower control
    id — fully deterministic, unlike greedy without-replacement whose
    result depends on match order), and the average treated-minus-
    matched-control spend is the ATT. Emitted beside the NAIVE
    treated-control mean difference — the gap between the two is the
    selection bias the matching removed, which is the whole point of
    the report — plus the mean matched balance gap as the match-quality
    diagnostic. Completes the causal family: q_diff_in_diff handles
    pre/post panels, matching handles cross-sections. Scale: the
    treated×control join fans out only within exact strata (the
    blocking posture of q_record_linkage); per-treated argmin is a
    stratum-partitioned rank window; outcomes join from one orders
    hash-agg."""
    orders = load_table(spark, sf_dir, "orders")
    cust = load_table(spark, sf_dir, "customer")
    y = orders.groupBy(F.col("o_custkey").alias("ck")).agg(
        term_sum(F.col("o_totalprice"), 6).alias("spend")
    )
    pop = cust.join(y, cust["c_custkey"] == y["ck"], "left").select(
        F.col("c_custkey").alias("ck"),
        F.col("c_nationkey").alias("nation"),
        F.col("c_mktsegment").alias("segment"),
        F.col("c_acctbal").alias("bal"),
        (F.col("c_custkey") % 2 == 1).cast("int").alias("treated"),
        F.coalesce(F.col("spend"), F.lit(0.0)).alias("spend"),
    )
    t = pop.filter(F.col("treated") == 1).select(
        F.col("ck").alias("t_ck"),
        F.col("nation").alias("t_nation"),
        F.col("segment").alias("t_segment"),
        F.col("bal").alias("t_bal"),
        F.col("spend").alias("t_y"),
    )
    c = pop.filter(F.col("treated") == 0).select(
        F.col("ck").alias("c_ck"),
        F.col("nation").alias("c_nation"),
        F.col("segment").alias("c_segment"),
        F.col("bal").alias("c_bal"),
        F.col("spend").alias("c_y"),
    )
    w = Window.partitionBy("t_ck").orderBy(
        F.abs(F.col("t_bal") - F.col("c_bal")), "c_ck"
    )
    matched = (
        t.join(
            c,
            (F.col("c_nation") == F.col("t_nation"))
            & (F.col("c_segment") == F.col("t_segment")),
        )
        .withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
    )
    magg = matched.agg(
        F.count(F.lit(1)).cast("bigint").alias("n_matched"),
        term_sum(F.col("t_y") - F.col("c_y"), 4).alias("s_diff"),
        term_sum(F.abs(F.col("t_bal") - F.col("c_bal")), 6).alias("s_gap"),
    )
    naive = pop.agg(
        (
            term_sum(F.when(F.col("treated") == 1, F.col("spend")), 6)
            / F.sum(F.col("treated"))
            - term_sum(F.when(F.col("treated") == 0, F.col("spend")), 6)
            / F.sum(1 - F.col("treated"))
        ).alias("nd")
    )
    return magg.crossJoin(F.broadcast(naive)).select(
        "n_matched",
        portable_round(F.col("s_diff") / F.col("n_matched"), 4)
        .cast("double")
        .alias("att"),
        portable_round(F.col("nd"), 4).cast("double").alias("naive_diff"),
        portable_round(F.col("s_gap") / F.col("n_matched"), 6)
        .cast("double")
        .alias("mean_bal_gap"),
    )
