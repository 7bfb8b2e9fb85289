"""Entity-resolution survivorship, intermittent-demand forecasting, and
multi-outlier detection, part 13 (round 10, batch 3).

- ER golden record (MDM survivorship): the step AFTER q_record_linkage —
  matched pairs close transitively into entity clusters and survivorship
  rules produce one golden record per cluster (longest name, modal
  segment, exact-decimal mean balance). The master-data-management
  deliverable of an entity-resolution pipeline.
- Croston's method (1972): the standard forecast for INTERMITTENT demand
  (mostly-zero series where SES over raw days is biased): separate SES
  over nonzero demand sizes and over inter-demand intervals, forecast =
  z/p. Implemented in CLOSED FORM (weights α(1−α)^(n−i) over the ordered
  nonzero events) so the recurrence needs no sequential UDF — a window
  row-index plus one hash-agg, identical trees on both engines.
- Generalized ESD (Rosner 1983): up to k outliers per series with the
  mean/sd RECOMPUTED after each removal — the masking problem that
  defeats single-pass rules (one huge outlier inflates sd and hides the
  second; q_grubbs stops at one). k = 3 rounds unrolled as identical
  stage chains in both engines.

Determinism: demand sizes/intervals/counts are exact integers; Croston
and ESD weight/moment terms round 8dp into exact DECIMAL; argmax picks
are lexicographic struct orders with unique tie-breaks; emitted doubles
are portable_round over identical trees.
"""

from __future__ import annotations

from functools import reduce

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
from stockmarketdata_dwb_etl_spark.operators.iterate import iterate
from stockmarketdata_dwb_etl_spark.queries.dataops11 import _TWIN_SQL, _linkage_records
from stockmarketdata_dwb_etl_spark.registry import query

# ---------------------------------------------------------------------------
# ER golden record (survivorship)
# ---------------------------------------------------------------------------


@query(
    "q_er_golden_record",
    oracle=f"""
    WITH RECURSIVE {_TWIN_SQL},
    matched AS (
        SELECT a.rid AS ra, b.rid AS rb
        FROM recs a JOIN recs b
          ON a.nation = b.nation AND a.bkt = b.bkt AND a.rid < b.rid
        WHERE (CASE WHEN a.name = b.name THEN 1 ELSE 0 END
             + CASE WHEN a.segment = b.segment THEN 1 ELSE 0 END
             + CASE WHEN abs(a.bal - b.bal) <= 0.02 THEN 1 ELSE 0 END) >= 2
    ),
    und AS (
        SELECT ra AS a, rb AS b FROM matched
        UNION SELECT rb AS a, ra AS b FROM matched
    ),
    verts AS (SELECT DISTINCT a AS v FROM und),
    reach AS (
        SELECT v, v AS r FROM verts
        UNION
        SELECT und.b AS v, reach.r FROM reach JOIN und ON und.a = reach.v
    ),
    comp AS (SELECT v AS rid, MIN(r) AS rep FROM reach GROUP BY v),
    members AS (
        SELECT c.rep, r.rid, r.name, r.segment, r.bal
        FROM comp c JOIN recs r ON r.rid = c.rid
    ),
    name_pick AS (
        SELECT rep, name FROM (
            SELECT rep, name,
                   row_number() OVER (PARTITION BY rep
                                      ORDER BY length(name) DESC, name, rid)
                       AS rn
            FROM members
        ) WHERE rn = 1
    ),
    seg_pick AS (
        SELECT rep, segment FROM (
            SELECT rep, segment,
                   row_number() OVER (PARTITION BY rep
                                      ORDER BY cnt DESC, segment) AS rn
            FROM (SELECT rep, segment, COUNT(*) AS cnt
                  FROM members GROUP BY rep, segment)
        ) WHERE rn = 1
    ),
    agg AS (
        SELECT rep, CAST(COUNT(*) AS BIGINT) AS n_members,
               {sql_term_sum("bal", 8)} AS sbal
        FROM members GROUP BY rep
    )
    SELECT CAST(a.rep AS BIGINT) AS cluster_rep, a.n_members,
           n.name AS golden_name, s.segment AS golden_segment,
           CAST({sql_portable_round(
               "a.sbal / a.n_members", 4)} AS DOUBLE) AS golden_bal
    FROM agg a
    JOIN name_pick n ON n.rep = a.rep
    JOIN seg_pick s ON s.rep = a.rep
    WHERE a.n_members > 1
    ORDER BY cluster_rep
    """,
)
def q_er_golden_record(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MDM golden record via survivorship rules: pairs from the
    q_record_linkage blocking that agree on ≥2 of 3 fields count as
    matches, close transitively into entity clusters
    (operators/dedup.py::connected_components — a dirty twin can chain
    through a coincidental balance-agreement to a third record, which
    is exactly how real ER clusters grow), and each multi-member
    cluster survives as ONE record: longest name (tie: lexicographic,
    then rid), modal segment (tie: lexicographic), exact-DECIMAL mean
    balance. The deliverable of an entity-resolution pipeline — what
    downstream joins see instead of the dirty records. Scale:
    within-block pair fanout only, O(diameter) closure shuffles,
    per-cluster windows partition by cluster key (clusters are tiny by
    construction; no global window)."""
    from stockmarketdata_dwb_etl_spark.operators.dedup import (
        connected_components,
    )

    recs = _linkage_records(spark, sf_dir)
    a, b = recs.alias("a"), recs.alias("b")
    agree = (
        (F.col("a.name") == F.col("b.name")).cast("int")
        + (F.col("a.segment") == F.col("b.segment")).cast("int")
        + (F.abs(F.col("a.bal") - F.col("b.bal")) <= 0.02).cast("int")
    )
    matched = (
        a.join(
            b,
            (F.col("a.nation") == F.col("b.nation"))
            & (F.col("a.bkt") == F.col("b.bkt"))
            & (F.col("a.rid") < F.col("b.rid")),
        )
        .filter(agree >= 2)
        .select(F.col("a.rid").alias("src"), F.col("b.rid").alias("dst"))
    )
    # matched pairs are distinct: one row per (rid_a < rid_b) self-join hit
    comp = connected_components(matched, assume_distinct=True).select(
        F.col("id").alias("rid"), F.col("cluster_rep").alias("rep")
    )
    # cluster-member table is matched-record-sized and feeds THREE
    # branches (name pick, segment mode, balance agg) — materialize it
    # once so each branch doesn't re-run the comp⋈records join. A
    # bounded_persist slot (not localCheckpoint): the table is DATA-sized,
    # and a persisted block keeps its lineage, so an executor loss at
    # scale recomputes the partition instead of failing the job —
    # localCheckpoint stays reserved for catalog-sized iterative states.
    from stockmarketdata_dwb_etl_spark.operators.cache import bounded_persist

    members = bounded_persist(
        comp.join(recs, "rid").select("rep", "rid", "name", "segment", "bal"),
        "er-golden-members",
    )
    w_name = Window.partitionBy("rep").orderBy(
        F.length("name").desc(), "name", "rid"
    )
    name_pick = (
        members.withColumn("rn", F.row_number().over(w_name))
        .filter(F.col("rn") == 1)
        .select("rep", F.col("name").alias("golden_name"))
    )
    seg_cnt = members.groupBy("rep", "segment").agg(
        F.count(F.lit(1)).alias("cnt")
    )
    w_seg = Window.partitionBy("rep").orderBy(F.col("cnt").desc(), "segment")
    seg_pick = (
        seg_cnt.withColumn("rn", F.row_number().over(w_seg))
        .filter(F.col("rn") == 1)
        .select("rep", F.col("segment").alias("golden_segment"))
    )
    agg = members.groupBy("rep").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_members"),
        term_sum(F.col("bal"), 8).alias("sbal"),
    )
    return (
        agg.filter(F.col("n_members") > 1)
        .join(name_pick, "rep")
        .join(seg_pick, "rep")
        .select(
            F.col("rep").cast("bigint").alias("cluster_rep"),
            "n_members",
            "golden_name",
            "golden_segment",
            portable_round(F.col("sbal") / F.col("n_members"), 4)
            .cast("double")
            .alias("golden_bal"),
        )
        .orderBy("cluster_rep")
    )


# ---------------------------------------------------------------------------
# Croston intermittent-demand forecast
# ---------------------------------------------------------------------------

_CROSTON_ALPHA = 0.1


@query(
    "q_croston_forecast",
    oracle=f"""
    WITH demand AS (
        SELECT l.l_partkey AS part, CAST(o.o_orderdate AS DATE) AS day,
               CAST(COUNT(*) AS BIGINT) AS d
        FROM lineitem l JOIN orders o ON o.o_orderkey = l.l_orderkey
        WHERE l.l_partkey % 20 = 0
        GROUP BY 1, 2
    ),
    seq AS (
        SELECT part, day, d,
               CAST(row_number() OVER (PARTITION BY part ORDER BY day)
                    AS BIGINT) AS i,
               CAST(COUNT(*) OVER (PARTITION BY part) AS BIGINT) AS n,
               day - lag(day) OVER (PARTITION BY part ORDER BY day) AS gap
        FROM demand
    ),
    terms AS (
        SELECT part, n,
               CASE WHEN i = 1
                    THEN pow(1.0 - {_CROSTON_ALPHA}, n - 1) * d
                    ELSE {_CROSTON_ALPHA}
                         * pow(1.0 - {_CROSTON_ALPHA}, n - i) * d
               END AS z_term,
               CASE WHEN i = 1 THEN NULL
                    WHEN i = 2
                    THEN pow(1.0 - {_CROSTON_ALPHA}, n - 2) * gap
                    ELSE {_CROSTON_ALPHA}
                         * pow(1.0 - {_CROSTON_ALPHA}, n - i) * gap
               END AS p_term
        FROM seq
    ),
    fit AS (
        SELECT part, CAST(MAX(n) AS BIGINT) AS n_demands,
               {sql_term_sum("z_term", 8)} AS z,
               {sql_term_sum("p_term", 8)} AS p
        FROM terms GROUP BY part
        HAVING MAX(n) >= 2
    )
    SELECT CAST(part AS BIGINT) AS part, n_demands,
           CAST({sql_portable_round("z", 4)} AS DOUBLE) AS level,
           CAST({sql_portable_round("p", 4)} AS DOUBLE) AS interval_days,
           CAST({sql_portable_round("z / p", 4)} AS DOUBLE)
               AS croston_forecast
    FROM fit ORDER BY part
    """,
)
def q_croston_forecast(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Croston's intermittent-demand forecast per part (sampled
    partkey%20): parts sell on ~30 of ~2400 days, where plain SES over
    raw days is biased toward zero — Croston runs SES (α=0.1) separately
    over nonzero demand SIZES and inter-demand INTERVALS and forecasts
    z/p demand per day. Implemented in CLOSED FORM: the SES recurrence
    z_n = αd_n + (1−α)z_{{n−1}} with z_1 = d_1 telescopes to
    (1−α)^(n−1)d_1 + Σ α(1−α)^(n−i)d_i, so the whole fit is one window
    row-index + one hash-agg over 8dp-rounded weight terms — no
    sequential UDF, no applyInPandas, identical trees on both engines.
    Scale: per-part windows partition on the key; the demand table is
    (part × active-day)-sized, far below the fact table."""
    li = load_table(spark, sf_dir, "lineitem")
    orders = load_table(spark, sf_dir, "orders")
    demand = (
        li.filter(F.col("l_partkey") % 20 == 0)
        .join(orders, li["l_orderkey"] == orders["o_orderkey"])
        .groupBy(
            F.col("l_partkey").alias("part"),
            F.col("o_orderdate").cast("date").alias("day"),
        )
        .agg(F.count(F.lit(1)).cast("bigint").alias("d"))
    )
    w = Window.partitionBy("part").orderBy("day")
    wp = Window.partitionBy("part")
    seq = demand.select(
        "part",
        "d",
        F.row_number().over(w).cast("bigint").alias("i"),
        F.count(F.lit(1)).over(wp).cast("bigint").alias("n"),
        F.datediff(F.col("day"), F.lag("day").over(w)).alias("gap"),
    )
    al, om = _CROSTON_ALPHA, 1.0 - _CROSTON_ALPHA
    z_term = F.when(
        F.col("i") == 1, F.pow(F.lit(om), F.col("n") - 1) * F.col("d")
    ).otherwise(
        F.lit(al) * F.pow(F.lit(om), F.col("n") - F.col("i")) * F.col("d")
    )
    p_term = (
        F.when(F.col("i") == 1, F.lit(None).cast("double"))
        .when(
            F.col("i") == 2,
            F.pow(F.lit(om), F.col("n") - 2) * F.col("gap"),
        )
        .otherwise(
            F.lit(al)
            * F.pow(F.lit(om), F.col("n") - F.col("i"))
            * F.col("gap")
        )
    )
    fit = (
        seq.select("part", "n", z_term.alias("zt"), p_term.alias("pt"))
        .groupBy("part")
        .agg(
            F.max("n").cast("bigint").alias("n_demands"),
            term_sum(F.col("zt"), 8).alias("z"),
            term_sum(F.col("pt"), 8).alias("p"),
        )
        .filter(F.col("n_demands") >= 2)
    )
    return fit.select(
        F.col("part").cast("bigint").alias("part"),
        "n_demands",
        portable_round(F.col("z"), 4).cast("double").alias("level"),
        portable_round(F.col("p"), 4).cast("double").alias("interval_days"),
        portable_round(F.col("z") / F.col("p"), 4)
        .cast("double")
        .alias("croston_forecast"),
    ).orderBy("part")


# ---------------------------------------------------------------------------
# Generalized ESD multi-outlier detection
# ---------------------------------------------------------------------------

_ESD_ROUNDS = 3


def _duck_esd_round(prev: str, rnd: int) -> str:
    """One unrolled GESD round: moments over the surviving set, the
    argmax-deviation suspect (tie: day, x), and the studentized R."""
    return f"""
    m{rnd} AS (
        SELECT symbol, CAST(COUNT(*) AS BIGINT) AS n,
               {sql_split_term_sum("x", 12, 8)} AS s, {sql_split_term_sum("x * x", 12, 6)} AS ss
        FROM {prev} GROUP BY symbol
    ),
    top{rnd} AS (
        SELECT p.symbol, p.day, p.x, m.n, m.s, m.ss,
               row_number() OVER (
                   PARTITION BY p.symbol
                   ORDER BY abs(p.x - m.s / m.n) DESC, p.day, p.x) AS rn
        FROM {prev} p JOIN m{rnd} m ON m.symbol = p.symbol
    ),
    r{rnd} AS (
        SELECT symbol, day, x, n,
               CASE WHEN n < 3 OR (ss - s * s / n) / (n - 1) <= 0 THEN NULL
                    ELSE abs(x - s / n)
                         / sqrt((ss - s * s / n) / (n - 1)) END AS r_stat
        FROM top{rnd} WHERE rn = 1
    ),
    keep{rnd} AS (
        SELECT p.symbol, p.day, p.x
        FROM {prev} p
        LEFT JOIN r{rnd} o ON o.symbol = p.symbol AND o.day = p.day
        WHERE o.day IS NULL
    )"""


@query(
    "q_esd_outliers",
    oracle=f"""
    WITH bars AS (
        SELECT event_type AS symbol, CAST(ts AS DATE) AS day0,
               {sql_open_tick()}
                   AS open,
               {sql_close_tick()}
                   AS close
        FROM events GROUP BY 1, 2
    ),
    keep0 AS (
        SELECT symbol, day0 AS day, close / open - 1.0 AS x
        FROM bars WHERE open <> 0
    ),
    {",".join(_duck_esd_round(f"keep{r - 1}", r) for r in range(1, _ESD_ROUNDS + 1))}
    SELECT symbol, CAST(round AS BIGINT) AS round, day AS suspect_day,
           CAST({sql_portable_round("x", 8)} AS DOUBLE) AS suspect_x,
           CAST({sql_portable_round("r_stat", 6)} AS DOUBLE) AS r_stat
    FROM (
        {" UNION ALL ".join(
            f"SELECT symbol, {r} AS round, day, x, r_stat FROM r{r}"
            for r in range(1, _ESD_ROUNDS + 1)
        )}
    )
    ORDER BY symbol, round
    """,
)
def q_esd_outliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Generalized ESD (Rosner) multi-outlier detection on daily session
    returns: up to {_ESD_ROUNDS} outliers per symbol, with mean and sd
    RECOMPUTED after each removal — the masking-aware generalization of
    q_grubbs (a single huge outlier inflates sd and hides the next one;
    recomputation unmasks it, which is the entire point of GESD over
    repeated Grubbs). Each round emits the suspect day and its
    studentized deviation R_i; degenerate rounds (n < 3 or zero
    variance) emit NULL R. Unrolled as {_ESD_ROUNDS} identical
    stage chains — per round one exact-DECIMAL moment agg, one
    argmax window partitioned by symbol (tie-break day then x), one
    anti-join removal. Scale: everything partitions on the symbol key;
    rounds are a fixed constant, not data-dependent."""

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
    # (symbol, day)-sized state; cut its lineage once — every GESD
    # round's branch (and each round's anti-join survivor set) otherwise
    # re-runs the events aggregation, an O(rounds²) recompute inside the
    # single final union action
    keep = bars.filter(F.col("open") != 0).select(
        "symbol", "day", (F.col("close") / F.col("open") - 1.0).alias("x")
    ).localCheckpoint(eager=True)
    outs = []

    def esd_round(keep: DataFrame, i: int) -> DataFrame:
        rnd = i + 1
        # x = close/open - 1 can reach ~1e4 on this events table, so
        # x*x ~ 1e8. Round-then-DECIMAL terms are cross-engine identical
        # only while |term|*10^n < 2^53 ~ 9.0e15 (NOT the int64 floor
        # bound — beyond 2^53 the rounded k/10^n stops round-tripping a
        # double and Spark's shortest-repr vs DuckDB's float-scaled
        # DECIMAL conversions diverge, the q_anova_hod failure). Split
        # sums keep every bucket under it: x at (12,8) -> |x|*1e8 ~ 1e12,
        # x^2 at (12,6) -> |x^2|*1e6 ~ 1e14, both < 9.0e15.
        m = keep.groupBy("symbol").agg(
            F.count(F.lit(1)).cast("bigint").alias("n"),
            split_term_sum(F.col("x"), 12, 8).alias("s"),
            split_term_sum(F.col("x") * F.col("x"), 12, 6).alias("ss"),
        )
        j = keep.join(m, "symbol")
        w = Window.partitionBy("symbol").orderBy(
            F.abs(F.col("x") - F.col("s") / F.col("n")).desc(), "day", "x"
        )
        top = j.withColumn("rn", F.row_number().over(w)).filter(
            F.col("rn") == 1
        )
        var = (F.col("ss") - F.col("s") * F.col("s") / F.col("n")) / (
            F.col("n") - 1
        )
        r = top.select(
            "symbol",
            "day",
            "x",
            F.when((F.col("n") < 3) | (var <= 0), F.lit(None).cast("double"))
            .otherwise(
                F.abs(F.col("x") - F.col("s") / F.col("n")) / F.sqrt(var)
            )
            .alias("r_stat"),
        )
        outs.append(
            r.select(
                "symbol",
                F.lit(rnd).cast("bigint").alias("round"),
                F.col("day").alias("suspect_day"),
                portable_round(F.col("x"), 8)
                .cast("double")
                .alias("suspect_x"),
                portable_round(F.col("r_stat"), 6)
                .cast("double")
                .alias("r_stat"),
            )
        )
        rm = r.select(
            F.col("symbol").alias("rm_sym"), F.col("day").alias("rm_day")
        )
        return keep.join(
            rm,
            (keep["symbol"] == rm["rm_sym"]) & (keep["day"] == rm["rm_day"]),
            "left_anti",
        )

    # lazy cut per survivor set: round k's moments, argmax AND round
    # k+1's state all read this once-materialized table inside the final
    # action instead of replaying rounds 1..k
    iterate(keep, esd_round, _ESD_ROUNDS, eager=False)
    return reduce(lambda a, b: a.unionByName(b), outs).orderBy("symbol", "round")
