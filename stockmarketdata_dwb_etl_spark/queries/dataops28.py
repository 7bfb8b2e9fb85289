"""Round-12 operator batch 10: graph distance centrality, skyline
curation, balanced sampling, and ranking concordance.

- Harmonic closeness centrality: multi-source BFS over the strong-tie
  brand graph as ONE (source, node) Pregel state — all sources expand
  simultaneously, so k BFS trees cost the same supersteps as one.
- Pareto-front (skyline) curation: the non-dominated documents on
  (shorter, higher lexical diversity) via the sort + running-max
  skyline sweep — the multi-objective selection step a single quality
  threshold (q_quality_classifier) can't express.
- Balanced stratified sample: a fixed per-stratum quota drawn by md5
  order within length deciles — the deterministic rebalancing sampler
  for skewed corpora (beside q_hash_split's uniform split and
  q_neyman_allocation's variance-optimal budgets).
- Kendall's W: concordance of the brand rankings induced by three
  revenue metrics — do quantity, revenue and reach agree on who the
  top brands are?

Reference scope: the reference's BigQuery tier is the analytics surface
these extend (dump_bigq.py:135-149 delegates all querying).

Determinism: BFS distances and ranks are exact integers; the skyline
compare uses pre-rounded diversity scores; md5 sampling keys are
engine-identical; W's sums of squared rank deviations are exact
integer arithmetic until the final ratio.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from stockmarketdata_dwb_etl_spark.catalog import load_table
from stockmarketdata_dwb_etl_spark.functions.exact import portable_round
from stockmarketdata_dwb_etl_spark.functions.text import sql_tokenize, tokenize
from stockmarketdata_dwb_etl_spark.operators.iterate import iterate
from stockmarketdata_dwb_etl_spark.queries.graph import _GRAPH_SQL, _strong_edges
from stockmarketdata_dwb_etl_spark.registry import query

# ---------------------------------------------------------------------------
# Harmonic closeness centrality (multi-source BFS)
# ---------------------------------------------------------------------------

_BFS_DEPTH = 4


def _close_level_sql(prev: str, out: str, d: int) -> str:
    # frontier expansion with min-dist retention: a (src, node) pair
    # keeps the smallest distance at which it was ever reached
    return f"""
    {out} AS (
        SELECT src, node, CAST(MIN(d) AS BIGINT) AS d
        FROM (
            SELECT src, node, d FROM {prev}
            UNION ALL
            SELECT p.src, e.dst AS node, {d} AS d
            FROM {prev} p JOIN strong e ON e.src = p.node
            WHERE p.d = {d - 1}
        ) GROUP BY src, node
    )"""


@query(
    "q_closeness_centrality",
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
    snodes AS (
        SELECT DISTINCT src AS node FROM strong
    ),
    c0 AS (
        SELECT node AS src, node, CAST(0 AS BIGINT) AS d FROM snodes
    ),"""
        + ",".join(
            _close_level_sql(f"c{i}", f"c{i + 1}", i + 1)
            for i in range(_BFS_DEPTH)
        )
        + f"""
    SELECT src AS node,
           CAST(COUNT(*) - 1 AS BIGINT) AS n_reached,
           CAST((CAST(floor(CAST((SUM(CASE WHEN d = 0 THEN 0.0
                ELSE 1.0 / d END)) AS DOUBLE) * 10000.0 + 0.5)
                AS DOUBLE) / 10000.0) AS DOUBLE) AS harmonic
    FROM c{_BFS_DEPTH}
    GROUP BY src
    ORDER BY harmonic DESC, node
    """
    ),
)
def q_closeness_centrality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Harmonic closeness centrality over the strong-tie brand graph
    (top weight decile, the q_pref_attachment sparsification): C_H(v)
    = Σ_{u≠v} 1/d(v,u) with unreachable nodes contributing 0 — the
    disconnection-proof closeness variant. ALL sources run
    simultaneously: the BFS state is one (src, node, dist) table and
    each superstep expands every frontier at once (k BFS trees for
    the supersteps of one), min-dist retention per pair,
    localCheckpoint at each boundary. Depth caps at 4 — beyond the
    strong graph's diameter at the fixture and documented as the
    budget at scale. Harmonic sums are k-bounded per source (exact
    1/d over integer d). Scales: state is |V|² pairs of a
    catalog-bounded graph; each superstep shuffles on the frontier
    node key only."""
    strong = _strong_edges(spark, sf_dir, 0.9)
    snodes = strong.select(F.col("src").alias("node")).distinct()
    state = snodes.select(
        F.col("node").alias("src"),
        F.col("node"),
        F.lit(0).cast("bigint").alias("d"),
    )
    hop = strong.select(
        F.col("src").alias("__from"), F.col("dst").alias("__to")
    )

    def expand(state: DataFrame, level: int) -> DataFrame:
        frontier = state.filter(F.col("d") == level)
        expanded = (
            frontier.join(hop, frontier["node"] == hop["__from"])
            .select(
                F.col("src"),
                F.col("__to").alias("node"),
                F.lit(level + 1).cast("bigint").alias("d"),
            )
        )
        return (
            state.unionByName(expanded)
            .groupBy("src", "node")
            .agg(F.min("d").cast("bigint").alias("d"))
        )

    state = iterate(state, expand, _BFS_DEPTH, eager=True)
    harm = F.sum(
        F.when(F.col("d") == 0, F.lit(0.0)).otherwise(
            F.lit(1.0) / F.col("d")
        )
    )
    return (
        state.groupBy("src")
        .agg(
            (F.count(F.lit(1)) - 1).cast("bigint").alias("n_reached"),
            portable_round(harm, 4).cast("double").alias("harmonic"),
        )
        .select(F.col("src").alias("node"), "n_reached", "harmonic")
        .orderBy(F.col("harmonic").desc(), "node")
    )


# ---------------------------------------------------------------------------
# Pareto-front (skyline) curation
# ---------------------------------------------------------------------------


@query(
    "q_pareto_front",
    oracle=f"""
    WITH m AS (
        SELECT doc_id,
               CAST(len({sql_tokenize("text")}) AS BIGINT) AS n_tokens,
               CAST(floor(CAST(len(list_distinct({sql_tokenize("text")}))
                    AS DOUBLE)
                    / nullif(len({sql_tokenize("text")}), 0)
                    * 1000000.0 + 0.5) AS DOUBLE) / 1000000.0 AS ttr
        FROM documents
    ),
    sky AS (
        SELECT doc_id, n_tokens, ttr,
               MAX(ttr) OVER (ORDER BY n_tokens
                              RANGE BETWEEN UNBOUNDED PRECEDING
                              AND 1 PRECEDING) AS best_shorter
        FROM m WHERE n_tokens > 0
    )
    SELECT doc_id, n_tokens, CAST(ttr AS DOUBLE) AS ttr
    FROM sky
    WHERE best_shorter IS NULL OR ttr > best_shorter
    ORDER BY n_tokens, ttr DESC, doc_id
    LIMIT 500
    """,
)
def q_pareto_front(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pareto-front (skyline) document selection on two curation
    objectives — minimize token count, maximize type-token ratio: a
    document survives iff NO strictly-shorter document has a
    type-token ratio at least as high (6dp-pre-rounded, so the
    dominance compare is engine-exact). One RANGE-frame running max
    over the length-sorted metric table computes the whole front — no
    pairwise dominance join. The multi-objective keep-set a scalar
    quality threshold can't express (every front member is optimal
    under SOME tradeoff weight). Scales: the metric pass is map-only;
    the skyline sort is over the metrics table (two columns per doc),
    and at corpus scale the same sweep runs per range-partition with
    each partition's prefix max broadcast forward (the
    operators/rank.py prefix pattern)."""
    docs = load_table(spark, sf_dir, "documents")
    toks = tokenize("text")
    m = docs.select(
        "doc_id",
        F.size(toks).cast("bigint").alias("n_tokens"),
        portable_round(
            F.size(F.array_distinct(toks)).cast("double")
            / F.nullif(F.size(toks), F.lit(0)),
            6,
        ).alias("ttr"),
    ).filter(F.col("n_tokens") > 0)
    w = (
        Window.orderBy("n_tokens")
        .rangeBetween(Window.unboundedPreceding, -1)
    )
    sky = m.select(
        "doc_id",
        "n_tokens",
        "ttr",
        F.max("ttr").over(w).alias("best_shorter"),
    )
    return (
        sky.filter(
            F.col("best_shorter").isNull()
            | (F.col("ttr") > F.col("best_shorter"))
        )
        .select(
            "doc_id", "n_tokens", F.col("ttr").cast("double").alias("ttr")
        )
        .orderBy("n_tokens", F.col("ttr").desc(), "doc_id")
        .limit(500)
    )


# ---------------------------------------------------------------------------
# Balanced stratified sample
# ---------------------------------------------------------------------------

_STRATA = 10
_QUOTA = 40


@query(
    "q_balanced_sample",
    oracle=f"""
    WITH m AS (
        SELECT doc_id,
               CAST(length(text) AS BIGINT) AS n_chars
        FROM documents
    ),
    strat AS (
        SELECT doc_id, n_chars,
               least({_STRATA} - 1,
                    CAST(floor((rank() OVER (ORDER BY n_chars, doc_id)
                                - 1.0)
                    * {_STRATA}
                    / (COUNT(*) OVER ())) AS BIGINT)) AS stratum
        FROM m
    ),
    keyed AS (
        SELECT stratum, doc_id, n_chars,
               row_number() OVER (PARTITION BY stratum
                                  ORDER BY md5(CAST(doc_id AS VARCHAR)),
                                           doc_id) AS pick
        FROM strat
    )
    SELECT stratum,
           CAST(COUNT(*) AS BIGINT) AS n_sampled,
           CAST(MIN(n_chars) AS BIGINT) AS min_chars,
           CAST(MAX(n_chars) AS BIGINT) AS max_chars,
           CAST(SUM(doc_id) AS BIGINT) AS id_checksum
    FROM keyed WHERE pick <= {_QUOTA}
    GROUP BY stratum ORDER BY stratum
    """,
)
def q_balanced_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Balanced stratified sample over the corpus: documents stratify
    into 10 length deciles (exact rank-based cut with doc_id
    tie-break — engine-identical strata), then each stratum
    contributes its first 40 documents in md5(doc_id) order —
    the deterministic rebalancing sampler that equalizes
    length-bucket representation no matter how skewed the corpus
    (q_hash_split's hash discipline + per-stratum quotas). Reports
    per-stratum counts, length envelopes, and an id checksum so the
    exact membership is verifiable. Scales: the decile rank routes
    through the distributed global rank (operators/rank.py) at corpus
    scale; the per-stratum top-k is a TakeOrdered per key, never a
    global sort of the payload."""
    docs = load_table(spark, sf_dir, "documents")
    m = docs.select(
        "doc_id", F.length("text").cast("bigint").alias("n_chars")
    )
    wrk = Window.orderBy("n_chars", "doc_id")
    n_total = m.count()
    strat = m.select(
        "doc_id",
        "n_chars",
        F.least(
            F.lit(_STRATA - 1).cast("bigint"),
            F.floor(
                (F.rank().over(wrk) - F.lit(1.0))
                * _STRATA
                / F.lit(n_total)
            ).cast("bigint"),
        ).alias("stratum"),
    )
    wpick = Window.partitionBy("stratum").orderBy(
        F.md5(F.col("doc_id").cast("string")), "doc_id"
    )
    keyed = strat.select(
        "stratum",
        "doc_id",
        "n_chars",
        F.row_number().over(wpick).alias("pick"),
    )
    return (
        keyed.filter(F.col("pick") <= _QUOTA)
        .groupBy("stratum")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_sampled"),
            F.min("n_chars").cast("bigint").alias("min_chars"),
            F.max("n_chars").cast("bigint").alias("max_chars"),
            F.sum("doc_id").cast("bigint").alias("id_checksum"),
        )
        .orderBy("stratum")
    )


# ---------------------------------------------------------------------------
# Kendall's W ranking concordance
# ---------------------------------------------------------------------------


@query(
    "q_kendall_w",
    oracle="""
    WITH m AS (
        SELECT p.p_brand AS brand,
               CAST(SUM(CAST(l.l_quantity AS DECIMAL(38,6))) AS DOUBLE)
                   AS qty,
               CAST(SUM(CAST(l.l_extendedprice AS DECIMAL(38,6)))
                    AS DOUBLE) AS rev,
               CAST(COUNT(DISTINCT l.l_orderkey) AS BIGINT) AS reach
        FROM lineitem l JOIN part p ON p.p_partkey = l.l_partkey
        GROUP BY p.p_brand
    ),
    r AS (
        SELECT brand,
               rank() OVER (ORDER BY qty DESC, brand) AS r1,
               rank() OVER (ORDER BY rev DESC, brand) AS r2,
               rank() OVER (ORDER BY reach DESC, brand) AS r3,
               CAST(COUNT(*) OVER () AS BIGINT) AS n
        FROM m
    ),
    s AS (
        SELECT CAST(MAX(n) AS BIGINT) AS n,
               CAST(SUM((r1 + r2 + r3) * (r1 + r2 + r3)) AS BIGINT) AS srr,
               CAST(SUM(r1 + r2 + r3) AS BIGINT) AS sr
        FROM r
    )
    SELECT n, CAST(3 AS BIGINT) AS n_rankers,
           CAST((CAST(floor(CAST((
               12.0 * (srr - CAST(sr * sr AS DOUBLE) / n)
               / (9.0 * (CAST(n AS DOUBLE) * n * n - n))) AS DOUBLE)
               * 1000000.0 + 0.5) AS DOUBLE) / 1000000.0) AS DOUBLE)
               AS kendall_w
    FROM s
    """,
)
def q_kendall_w(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Kendall's coefficient of concordance W across the brand
    rankings induced by three metrics — total quantity, total revenue,
    distinct-order reach: W = 12·S/(m²(n³−n)) with S the sum of
    squared deviations of rank sums from their mean — 1 when the
    metrics agree on the full ordering, 0 under independence (the
    multi-ranker generalization of q_spearman_corr's pairwise rho;
    brand tie-break makes every rank assignment engine-exact). Rank
    sums and S are exact integers until the final ratio. Scales: one
    fact⨝dim hash-agg to the brand grain, then catalog-sized rank
    windows."""
    li = load_table(spark, sf_dir, "lineitem")
    p = load_table(spark, sf_dir, "part")
    m = (
        li.join(F.broadcast(p), F.col("p_partkey") == F.col("l_partkey"))
        .groupBy(F.col("p_brand").alias("brand"))
        .agg(
            F.sum(F.col("l_quantity").cast("decimal(38,6)"))
            .cast("double")
            .alias("qty"),
            F.sum(F.col("l_extendedprice").cast("decimal(38,6)"))
            .cast("double")
            .alias("rev"),
            F.countDistinct("l_orderkey").cast("bigint").alias("reach"),
        )
    )
    r = m.select(
        "brand",
        F.rank().over(Window.orderBy(F.col("qty").desc(), "brand")).alias("r1"),
        F.rank().over(Window.orderBy(F.col("rev").desc(), "brand")).alias("r2"),
        F.rank()
        .over(Window.orderBy(F.col("reach").desc(), "brand"))
        .alias("r3"),
        F.count(F.lit(1))
        .over(
            Window.partitionBy().rowsBetween(
                Window.unboundedPreceding, Window.unboundedFollowing
            )
        )
        .cast("bigint")
        .alias("n"),
    )
    rs = F.col("r1") + F.col("r2") + F.col("r3")
    s = r.agg(
        F.max("n").cast("bigint").alias("n"),
        F.sum(rs * rs).cast("bigint").alias("srr"),
        F.sum(rs).cast("bigint").alias("sr"),
    )
    n = F.col("n")
    w_stat = (
        F.lit(12.0)
        * (F.col("srr") - (F.col("sr") * F.col("sr")).cast("double") / n)
        / (F.lit(9.0) * (n.cast("double") * n * n - n))
    )
    return s.select(
        "n",
        F.lit(3).cast("bigint").alias("n_rankers"),
        portable_round(w_stat, 6).cast("double").alias("kendall_w"),
    )
