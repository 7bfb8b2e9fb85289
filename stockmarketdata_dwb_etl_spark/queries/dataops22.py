"""Round-12 operator batch 4: channel attribution by removal effect,
monotone probability calibration, demand elasticity, and doubly-robust
causal estimation.

- Markov removal-effect attribution: absorption-probability value
  iteration on the user-journey chain, re-run with each channel
  knocked out — the data-driven alternative to last-touch rules
  (q_attribution_last_touch) built on q_markov_transitions' chain.
- Isotonic calibration: the pool-adjacent-violators fit over the ten
  score-decile calibration bins via the closed max-min form — the
  nonparametric companion to q_temperature_scaling's one-parameter
  fit.
- Price elasticity: per-brand log-log OLS of quantity on unit price
  from exact moment sums — the demand-curve slope a pricing report
  reads off the lineitem fact.
- AIPW (doubly-robust) ATE: the augmented IPW estimator combining the
  q_ipw_ate propensity with fixed-weight outcome regressions —
  consistent if EITHER model is right, the default modern causal
  estimator.

Reference scope: the reference's BigQuery tier is the analytics
surface these extend (dump_bigq.py:135-149 delegates all querying).

Determinism: journey transition counts, bin counts, and moment inputs
are exact integers; value-iteration vectors round 12dp per superstep;
OLS/AIPW sums route through term_sum at magnitude-bounded digits; the
max-min isotonic fit compares exact-integer ratios.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from stockmarketdata_dwb_etl_spark.catalog import load_table
from stockmarketdata_dwb_etl_spark.functions.bars import sql_tick_key, tick_key
from stockmarketdata_dwb_etl_spark.functions.exact import (
    portable_round,
    sql_portable_round,
    sql_term_sum,
    term,
    term_sum,
)
from stockmarketdata_dwb_etl_spark.queries.dataops5 import SQL_SCORED_EN, scored_en
from stockmarketdata_dwb_etl_spark.registry import query

# ---------------------------------------------------------------------------
# Markov removal-effect attribution
# ---------------------------------------------------------------------------

_MKV_ITERS = 12
_CHANNELS = ("click", "error", "signup", "view")
_CONV = "purchase"


_JOURNEY_SQL = f"""
    seq AS (
        SELECT user_id, event_type, ts, event_id,
               MIN(CASE WHEN event_type = '{_CONV}'
                        THEN {sql_tick_key()}
                   END) OVER (PARTITION BY user_id) AS conv_key,
               {sql_tick_key()} AS ord_key
        FROM events
    ),
    pre AS (
        SELECT user_id, event_type, ord_key
        FROM seq
        WHERE conv_key IS NULL OR ord_key <= conv_key
    ),
    hops AS (
        SELECT user_id, event_type AS dst,
               COALESCE(lag(event_type) OVER (
                   PARTITION BY user_id ORDER BY ord_key), '__start') AS src
        FROM pre
    ),
    lasts AS (
        SELECT user_id, event_type AS src,
               row_number() OVER (PARTITION BY user_id
                                  ORDER BY ord_key DESC) AS rn
        FROM pre
    ),
    edges AS (
        SELECT src, dst, CAST(COUNT(*) AS BIGINT) AS n FROM hops
        GROUP BY src, dst
        UNION ALL
        SELECT src, '__loss' AS dst, CAST(COUNT(*) AS BIGINT) AS n
        FROM lasts WHERE rn = 1 AND src <> '{_CONV}'
        GROUP BY src
    ),
    probs AS (
        SELECT src, dst,
               CAST(SUM(n) AS DOUBLE)
                   / SUM(SUM(n)) OVER (PARTITION BY src) AS p
        FROM edges GROUP BY src, dst
    )
"""


def _duck_mkv_iter(rnd: int) -> str:
    """One value-iteration superstep jointly over every removal
    variant: p(v, s) = Σ_t P(s→t)·p(v, t), with transitions INTO the
    removed channel redirected to loss (p = 0) — masked by zeroing the
    contribution. 12dp round per step (the pagerank discipline)."""
    prev = f"it{rnd - 1}"
    return f"""
    it{rnd} AS (
        SELECT v.variant, pr.src AS s,
               CAST({sql_portable_round(
                   sql_term_sum(
                       f"CASE WHEN pr.dst = '{_CONV}' THEN pr.p"
                       f" WHEN pr.dst = '__loss' THEN 0.0"
                       f" WHEN pr.dst = v.variant THEN 0.0"
                       f" ELSE pr.p * COALESCE(pv.p_abs, 0.0) END", 14),
                   12)}
                   AS DOUBLE) AS p_abs
        FROM probs pr
        CROSS JOIN variants v
        LEFT JOIN {prev} pv
            ON pv.variant = v.variant AND pv.s = pr.dst
        WHERE pr.src <> v.variant
        GROUP BY v.variant, pr.src
    )"""


def journey_edges(ev: DataFrame) -> DataFrame:
    """(src, dst, n) transition counts of the user journeys in ``ev``:
    '__start' → first event, each hop up to the first conversion, and
    last event → '__loss' for a journey without one."""
    # Journey extraction in ONE window pass (r12 verdict: the former
    # form stacked three windows — an unordered conv-key min, an asc
    # lag, and a DESC row_number for the loss edge — costing one sort
    # per distinct ordering over the full events table). All three
    # quantities share the (user_id, ord_key) ascending sort:
    #   - lag BEFORE the truncation filter is sound because the kept
    #     rows are a per-user PREFIX (ord_key ≤ first-conversion key),
    #     so every kept row's predecessor is itself kept — the lag over
    #     the full sequence equals the lag over the filtered one, and
    #     the first row's NULL still coalesces to __start;
    #   - the loss edge fires only for conversion-less users, whose
    #     last kept row is the global max ord_key — row_number DESC
    #     becomes an unbounded-frame MAX over the same asc sort.
    # Contract: (user_id, ts, event_id) is unique, so ord_key is unique
    # per user. A duplicate max key would emit one loss edge per copy
    # where row_number DESC kept one (tests/test_r13_opts.py compares the
    # two forms' edges).
    # One Exchange + one Sort; hop and loss edges leave the window as a
    # conditional 1-or-2-element array, so no union re-reads the table.
    ord_key = tick_key()
    w_ord = Window.partitionBy("user_id").orderBy("ord_key")
    w_full = w_ord.rowsBetween(
        Window.unboundedPreceding, Window.unboundedFollowing
    )
    ann = ev.select(
        "user_id", "event_type", ord_key.alias("ord_key")
    ).select(
        "event_type",
        "ord_key",
        F.coalesce(F.lag("event_type").over(w_ord), F.lit("__start")).alias(
            "src"
        ),
        F.min(F.when(F.col("event_type") == _CONV, F.col("ord_key")))
        .over(w_full)
        .alias("conv_key"),
        F.max("ord_key").over(w_full).alias("max_key"),
    )
    kept = ann.filter(
        F.col("conv_key").isNull() | (F.col("ord_key") <= F.col("conv_key"))
    )
    hop = F.struct(F.col("src"), F.col("event_type").alias("dst"))
    loss = F.struct(
        F.col("event_type").alias("src"), F.lit("__loss").alias("dst")
    )
    pair_arr = F.when(
        F.col("conv_key").isNull() & (F.col("ord_key") == F.col("max_key")),
        F.array(hop, loss),
    ).otherwise(F.array(hop))
    return (
        kept.select(F.explode(pair_arr).alias("e"))
        .select("e.src", "e.dst")
        .groupBy("src", "dst")
        .agg(F.count(F.lit(1)).cast("bigint").alias("n"))
    )


@query(
    "q_markov_attribution",
    oracle=f"""
    WITH {_JOURNEY_SQL},
    variants(variant) AS (
        VALUES ('__none'){"".join(f", ('{c}')" for c in _CHANNELS)}
    ),
    it0 AS (
        SELECT v.variant, pr.src AS s, 0.0 AS p_abs
        FROM (SELECT DISTINCT src FROM probs) pr CROSS JOIN variants v
    ),
    {",".join(_duck_mkv_iter(r) for r in range(1, _MKV_ITERS + 1))},
    base AS (
        SELECT p_abs AS p0 FROM it{_MKV_ITERS}
        WHERE variant = '__none' AND s = '__start'
    ),
    rem AS (
        SELECT variant AS channel, p_abs AS p_rem
        FROM it{_MKV_ITERS}
        WHERE variant <> '__none' AND s = '__start'
    ),
    eff AS (
        SELECT channel,
               {sql_portable_round(
                   "greatest(1.0 - p_rem / nullif(p0, 0.0), 0.0)", 8)}
                   AS removal_effect,
               p0, p_rem
        FROM rem, base
    ),
    tot AS (SELECT {sql_term_sum("removal_effect", 8)} AS s FROM eff)
    SELECT channel,
           CAST({sql_portable_round("p0", 6)} AS DOUBLE) AS base_conv,
           CAST({sql_portable_round("p_rem", 6)} AS DOUBLE)
               AS removal_conv,
           CAST({sql_portable_round("removal_effect", 6)} AS DOUBLE)
               AS removal_effect,
           CAST({sql_portable_round(
               "removal_effect / nullif(t.s, 0.0)", 6)} AS DOUBLE)
               AS attribution_share
    FROM eff, tot t ORDER BY channel
    """,
)
def q_markov_attribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Markov removal-effect channel attribution (Anderl et al. 2016):
    user journeys truncate at the first '{_CONV}' (the conversion
    absorb; journeys without one absorb at loss), transition
    probabilities are exact integer-count ratios, and base conversion
    is the START-state absorption probability from {_MKV_ITERS}
    value-iteration supersteps (12dp round per step — the pagerank
    discipline). Each channel's removal re-runs the SAME iteration
    with transitions into that channel redirected to loss, jointly
    across all variants (one variants×states vector, never a per-
    channel pass over the data); attribution = normalized removal
    effects — the data-driven alternative to last-touch rules. Scale:
    journeys shuffle ONCE on user_id; everything after is a
    channels²-sized chain iterated over a ≤|variants|·|states| vector."""

    edges = journey_edges(load_table(spark, sf_dir, "events"))
    wsrc = Window.partitionBy("src")
    probs = edges.select(
        "src",
        "dst",
        (F.col("n").cast("double") / F.sum("n").over(wsrc)).alias("p"),
    )
    # The value-iteration state AND the transition table are both
    # catalog-bounded (≤ |variants|·|states| and channels² rows), so the
    # whole 12-step joint iteration runs as ONE nested in-plan
    # expression over a single collected-in-plan model row (the
    # broadcast-centroid posture: the model is dimension-sized, never
    # data-sized). The former shape — one shuffle + checkpoint per
    # superstep — paid 12 sequential job barriers that dominated the
    # query at any scale where channels stay catalog-bounded (measured
    # 10.4 s steady; the journey extraction itself is ~1 s). Each level
    # let-binds the previous vector via the 1-element-array transform
    # trick (minhash_signatures discipline) so the expression tree stays
    # LINEAR in the iteration count, and every per-term round/DECIMAL
    # cast matches the superstep form exactly: terms round at 14dp into
    # DECIMAL(38,14), exact order-independent sum, 12dp re-round per
    # level — bit-identical to the oracle's CTE chain.
    model = probs.groupBy().agg(
        F.sort_array(F.collect_list(F.struct("src", "dst", "p"))).alias(
            "edges"
        ),
        F.sort_array(F.collect_set("src")).alias("states"),
    )
    vlit = F.lit(["__none"] + list(_CHANNELS))

    def _cell(prev_b, v, vi, s):
        """round12(Σ round14(c) as DECIMAL(38,14)) over s's out-edges
        under removal variant v — the (variant, src) superstep cell."""

        def scaled_cell(e):
            pos = F.array_position(F.col("states"), e["dst"]).cast("int")
            prev_val = F.when(
                pos > 0, F.element_at(F.element_at(prev_b, vi + 1), pos)
            ).otherwise(F.lit(0.0))
            c = (
                F.when(e["dst"] == _CONV, e["p"])
                .when(e["dst"] == "__loss", F.lit(0.0))
                .when(e["dst"] == v, F.lit(0.0))
                .otherwise(e["p"] * F.coalesce(prev_val, F.lit(0.0)))
            )
            # the 14dp portable round's scaled numerator: an EXACT
            # integer in a BIGINT (|c| <= 1 so k <= 1e14; <= channels^2
            # terms keep the sum far under 2^53), so the fold is exact
            # integer arithmetic and the single final division is
            # IEEE-correctly-rounded — the same nearest double the
            # superstep form's DECIMAL(38,14) -> double cast produced
            return F.floor(c * F.lit(1e14) + F.lit(0.5))

        ksum = F.aggregate(
            F.filter(F.col("edges"), lambda e: (e["src"] == s) & (s != v)),
            F.lit(0).cast("bigint"),
            lambda acc, e: acc + scaled_cell(e),
        )
        return portable_round(ksum.cast("double") / F.lit(1e14), 12)

    # The value-iteration update is LEVEL-INDEPENDENT (the same cell
    # formula every superstep), so the {_MKV_ITERS} levels run as one
    # in-plan FOLD over a dummy level sequence instead of {_MKV_ITERS}
    # textually unrolled nested copies: the accumulator IS the previous
    # vector (a lambda variable — let-bound by construction, so each
    # level still evaluates once), and the expression tree is ONE level
    # deep instead of twelve. Measured on the unrolled form: 3.5 s of
    # the query's 3.9 s steady was driver-side Catalyst
    # analysis/optimization/codegen of the 12× tree, not execution —
    # the fold removes that without touching the arithmetic (identical
    # per-level expression ⇒ identical doubles).
    pv0 = F.transform(
        vlit, lambda v: F.transform(F.col("states"), lambda s: F.lit(0.0))
    )
    pv_vec = F.aggregate(
        F.sequence(F.lit(1), F.lit(_MKV_ITERS)),
        pv0,
        lambda acc, _lvl: F.transform(
            vlit,
            lambda v, vi: F.transform(
                F.col("states"), lambda s: _cell(acc, v, vi, s)
            ),
        ),
    )

    start_pos = F.array_position(F.col("states"), "__start").cast("int")
    start_rows = F.element_at(
        F.transform(
            F.array(pv_vec),
            lambda pvb: F.transform(
                vlit,
                lambda v, vi: F.struct(
                    v.alias("variant"),
                    F.element_at(
                        F.element_at(pvb, vi + 1), start_pos
                    ).alias("p_abs"),
                ),
            ),
        ),
        1,
    )
    # degenerate-input parity: the superstep form emits no __start rows
    # when the state never occurs (empty journey table) — filter, then
    # cut the 5-row result so the three output branches (base broadcast,
    # share total, final select) don't re-run the journey + iteration
    pv = (
        model.filter(F.array_contains(F.col("states"), "__start"))
        .select(F.explode(start_rows).alias("r"))
        .select("r.variant", F.lit("__start").alias("s"), "r.p_abs")
        .localCheckpoint(eager=True)
    )
    start = pv.filter(F.col("s") == "__start")
    base = start.filter(F.col("variant") == "__none").select(
        F.col("p_abs").alias("p0")
    )
    rem = start.filter(F.col("variant") != "__none").select(
        F.col("variant").alias("channel"), F.col("p_abs").alias("p_rem")
    )
    eff = rem.crossJoin(F.broadcast(base)).select(
        "channel",
        "p0",
        "p_rem",
        portable_round(
            F.greatest(
                F.lit(1.0)
                - F.col("p_rem") / F.when(F.col("p0") != 0.0, F.col("p0")),
                F.lit(0.0),
            ),
            8,
        ).alias("removal_effect"),
    )
    tot = eff.agg(term_sum(F.col("removal_effect"), 8).alias("s"))
    return (
        eff.crossJoin(F.broadcast(tot))
        .select(
            "channel",
            portable_round(F.col("p0"), 6).cast("double").alias("base_conv"),
            portable_round(F.col("p_rem"), 6)
            .cast("double")
            .alias("removal_conv"),
            portable_round(F.col("removal_effect"), 6)
            .cast("double")
            .alias("removal_effect"),
            portable_round(
                F.col("removal_effect") / F.when(F.col("s") != 0.0, F.col("s")),
                6,
            )
            .cast("double")
            .alias("attribution_share"),
        )
        .orderBy("channel")
    )


# ---------------------------------------------------------------------------
# Isotonic calibration (PAV via the closed max-min form)
# ---------------------------------------------------------------------------

_ISO_BINS = 10


@query(
    "q_isotonic_calibration",
    oracle=f"""
    WITH {{scored}},
    binned AS (
        SELECT least(CAST(floor(score * {_ISO_BINS}) AS BIGINT),
                     {_ISO_BINS - 1}) AS bin,
               CAST(COUNT(*) AS BIGINT) AS n,
               CAST(SUM(y) AS BIGINT) AS pos
        FROM scored GROUP BY 1
    ),
    pre AS (
        SELECT bin, n, pos,
               CAST(SUM(n) OVER (ORDER BY bin) AS BIGINT) AS cn,
               CAST(SUM(pos) OVER (ORDER BY bin) AS BIGINT) AS cp
        FROM binned
    ),
    ivals AS (
        SELECT i.bin AS i, k.bin AS k,
               CAST(k.cp - i.cp + i.pos AS DOUBLE)
                   / (k.cn - i.cn + i.n) AS avg_ik
        FROM pre i JOIN pre k ON i.bin <= k.bin
    ),
    mins AS (
        SELECT b.bin, v.i, MIN(v.avg_ik) AS m
        FROM pre b JOIN ivals v ON v.i <= b.bin AND v.k >= b.bin
        GROUP BY b.bin, v.i
    ),
    fit AS (SELECT bin, MAX(m) AS iso FROM mins GROUP BY bin)
    SELECT p.bin, p.n, p.pos,
           CAST({sql_portable_round(
               "CAST(p.pos AS DOUBLE) / p.n", 6)} AS DOUBLE) AS raw_rate,
           CAST({sql_portable_round("f.iso", 6)} AS DOUBLE) AS iso_rate
    FROM pre p JOIN fit f ON f.bin = p.bin
    ORDER BY p.bin
    """.replace("{scored}", SQL_SCORED_EN),
)
def q_isotonic_calibration(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Isotonic (PAV) calibration of the quality-classifier score over
    its {_ISO_BINS} score-decile bins, via the closed max-min identity
    fit(b) = max_(i≤b) min_(k≥b) avg(pos, i..k) — the nonparametric
    monotone recalibration beside q_temperature_scaling's
    one-parameter fit (and the repair for the reliability gaps
    q_calibration_bins reports). Every interval average is a ratio of
    EXACT integer prefix-sum differences, so both engines compare
    identical doubles in the max-min lattice; the lattice is
    {_ISO_BINS}²-sized regardless of data volume. Scale: one map-side
    binning agg ({_ISO_BINS} keys), then constant-size grid joins."""
    scored = scored_en(spark, sf_dir)
    binned = (
        scored.groupBy(
            F.least(
                F.floor(F.col("score") * _ISO_BINS).cast("bigint"),
                F.lit(_ISO_BINS - 1),
            ).alias("bin")
        )
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n"),
            F.sum("y").cast("bigint").alias("pos"),
        )
    )
    wb = Window.orderBy("bin")
    pre = binned.select(
        "bin",
        "n",
        "pos",
        F.sum("n").over(wb).cast("bigint").alias("cn"),
        F.sum("pos").over(wb).cast("bigint").alias("cp"),
    )
    i = pre.select(
        F.col("bin").alias("i"),
        F.col("n").alias("ni"),
        F.col("pos").alias("pi"),
        F.col("cn").alias("cni"),
        F.col("cp").alias("cpi"),
    )
    k = pre.select(
        F.col("bin").alias("k"),
        F.col("cn").alias("cnk"),
        F.col("cp").alias("cpk"),
    )
    ivals = (
        i.join(k, F.col("i") <= F.col("k"))
        .select(
            "i",
            "k",
            (
                (F.col("cpk") - F.col("cpi") + F.col("pi")).cast("double")
                / (F.col("cnk") - F.col("cni") + F.col("ni"))
            ).alias("avg_ik"),
        )
    )
    b = pre.select(F.col("bin"))
    mins = (
        b.join(ivals, (F.col("i") <= F.col("bin")) & (F.col("k") >= F.col("bin")))
        .groupBy("bin", "i")
        .agg(F.min("avg_ik").alias("m"))
    )
    fit = mins.groupBy("bin").agg(F.max("m").alias("iso"))
    return (
        pre.join(fit, "bin")
        .select(
            "bin",
            "n",
            "pos",
            portable_round(F.col("pos").cast("double") / F.col("n"), 6)
            .cast("double")
            .alias("raw_rate"),
            portable_round(F.col("iso"), 6).cast("double").alias("iso_rate"),
        )
        .orderBy("bin")
    )


# ---------------------------------------------------------------------------
# Price elasticity
# ---------------------------------------------------------------------------


@query(
    "q_price_elasticity",
    oracle=f"""
    WITH obs AS (
        SELECT p.p_brand AS brand,
               LN(l.l_extendedprice / l.l_quantity) AS x,
               LN(l.l_quantity) AS y
        FROM lineitem l JOIN part p ON p.p_partkey = l.l_partkey
        WHERE l.l_quantity > 0 AND l.l_extendedprice > 0
    ),
    m AS (
        SELECT brand, CAST(COUNT(*) AS BIGINT) AS n,
               {sql_term_sum("x", 10)} AS sx, {sql_term_sum("y", 10)} AS sy,
               {sql_term_sum("x * y", 10)} AS sxy, {sql_term_sum("x * x", 10)} AS sxx,
               {sql_term_sum("y * y", 10)} AS syy
        FROM obs GROUP BY brand
    )
    SELECT brand, n,
           CAST({sql_portable_round(
               "(sxy - sx * sy / n) / nullif(sxx - sx * sx / n, 0.0)",
               6)} AS DOUBLE) AS elasticity,
           CAST({sql_portable_round(
               "CASE WHEN (sxx - sx*sx/n) * (syy - sy*sy/n) <= 0 THEN NULL"
               " ELSE (sxy - sx*sy/n) * (sxy - sx*sy/n)"
               " / ((sxx - sx*sx/n) * (syy - sy*sy/n)) END", 6)}
               AS DOUBLE) AS r2
    FROM m ORDER BY brand
    """,
)
def q_price_elasticity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-brand log-log demand elasticity: OLS slope of ln(quantity)
    on ln(unit price) over the lineitem fact (elasticity < 0 = normal
    demand curve; the magnitude is the % quantity response to a 1%
    price move), with R² — the pricing-analytics regression a retail
    warehouse runs per product family. Moments accumulate 10dp
    round-then-DECIMAL (|ln| ≤ ~12, products ≤ ~150 → well under
    2^53); slope/R² are identical-tree doubles. Scale: one broadcast
    part join + ONE brand-keyed hash-agg, partial+final."""
    li = load_table(spark, sf_dir, "lineitem")
    part = load_table(spark, sf_dir, "part")
    obs = (
        li.filter((F.col("l_quantity") > 0) & (F.col("l_extendedprice") > 0))
        .join(F.broadcast(part), F.col("p_partkey") == F.col("l_partkey"))
        .select(
            F.col("p_brand").alias("brand"),
            F.log(F.col("l_extendedprice") / F.col("l_quantity")).alias("x"),
            F.log(F.col("l_quantity")).alias("y"),
        )
    )
    m = obs.groupBy("brand").agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        term_sum(F.col("x"), 10).alias("sx"),
        term_sum(F.col("y"), 10).alias("sy"),
        term_sum(F.col("x") * F.col("y"), 10).alias("sxy"),
        term_sum(F.col("x") * F.col("x"), 10).alias("sxx"),
        term_sum(F.col("y") * F.col("y"), 10).alias("syy"),
    )
    vx = F.col("sxx") - F.col("sx") * F.col("sx") / F.col("n")
    vy = F.col("syy") - F.col("sy") * F.col("sy") / F.col("n")
    cxy = F.col("sxy") - F.col("sx") * F.col("sy") / F.col("n")
    return m.select(
        "brand",
        "n",
        portable_round(cxy / F.when(vx != 0.0, vx), 6)
        .cast("double")
        .alias("elasticity"),
        F.when(vx * vy <= 0, F.lit(None).cast("double"))
        .otherwise(portable_round(cxy * cxy / (vx * vy), 6))
        .cast("double")
        .alias("r2"),
    ).orderBy("brand")


# ---------------------------------------------------------------------------
# AIPW doubly-robust ATE
# ---------------------------------------------------------------------------

_AIPW_CLAMP = 0.05


@query(
    "q_aipw_ate",
    oracle=f"""
    WITH base AS (
        SELECT o_totalprice AS y,
               CASE WHEN o_orderpriority = '1-URGENT' THEN 1 ELSE 0 END
                   AS trt,
               least(greatest(
                   1.0 / (1.0 + exp(-(-0.4
                       + 0.1 * CAST(o_custkey % 7 AS DOUBLE)
                       - 0.05 * CAST(month(o_orderdate) AS DOUBLE)))),
                   {_AIPW_CLAMP}), 1.0 - {_AIPW_CLAMP}) AS e,
               232000.0 + 2000.0 * CAST(o_custkey % 7 AS DOUBLE)
                   + 500.0 * CAST(month(o_orderdate) AS DOUBLE) AS m1,
               246000.0 + 1800.0 * CAST(o_custkey % 7 AS DOUBLE)
                   + 450.0 * CAST(month(o_orderdate) AS DOUBLE) AS m0
        FROM orders
    ),
    terms AS (
        SELECT
            m1 - m0
            + trt * (y - m1) / e
            - (1 - trt) * (y - m0) / (1.0 - e) AS psi,
            trt
        FROM base
    ),
    agg AS (
        SELECT CAST(COUNT(*) AS BIGINT) AS n,
               CAST(SUM(trt) AS BIGINT) AS n_treated,
               {sql_term_sum("psi", 2)} AS spsi
        FROM terms
    )
    SELECT n, n_treated,
           CAST({sql_portable_round("spsi / n", 4)} AS DOUBLE) AS ate_aipw
    FROM agg
    """,
)
def q_aipw_ate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Augmented IPW (doubly-robust) average treatment effect of
    urgent priority on order value: ψ = m₁(x) − m₀(x) + T(y−m₁)/e −
    (1−T)(y−m₀)/(1−e), consistent if EITHER the propensity OR the
    outcome model is right (Robins–Rotnitzky–Zhao) — the default
    modern causal estimator, completing the family beside q_ipw_ate /
    q_matched_pairs_att / q_diff_in_diff / q_cuped_adjustment. The
    propensity is q_ipw_ate's clamped fixed-weight logistic; the
    outcome regressions are fixed-weight linear predictions over the
    same covariates (the deterministic-model pattern — the ESTIMATOR
    mechanics are the operator under test). ψ terms reach ~|y|/ε ≤
    ~1.2e7, so the Σ rounds 2dp into exact DECIMAL (|term|·1e2 ≪
    2^53). Scale: map-side scoring + ONE 1-row agg."""
    o = load_table(spark, sf_dir, "orders")
    cov1 = (F.col("o_custkey") % 7).cast("double")
    cov2 = F.month("o_orderdate").cast("double")
    z = F.lit(-0.4) + F.lit(0.1) * cov1 - F.lit(0.05) * cov2
    e = F.least(
        F.greatest(
            F.lit(1.0) / (F.lit(1.0) + F.exp(-z)), F.lit(_AIPW_CLAMP)
        ),
        F.lit(1.0 - _AIPW_CLAMP),
    )
    m1 = F.lit(232000.0) + F.lit(2000.0) * cov1 + F.lit(500.0) * cov2
    m0 = F.lit(246000.0) + F.lit(1800.0) * cov1 + F.lit(450.0) * cov2
    trt = (F.col("o_orderpriority") == "1-URGENT").cast("int")
    base = o.select(
        F.col("o_totalprice").alias("y"),
        trt.alias("trt"),
        e.alias("e"),
        m1.alias("m1"),
        m0.alias("m0"),
    )
    psi = (
        F.col("m1")
        - F.col("m0")
        + F.col("trt") * (F.col("y") - F.col("m1")) / F.col("e")
        - (F.lit(1) - F.col("trt"))
        * (F.col("y") - F.col("m0"))
        / (F.lit(1.0) - F.col("e"))
    )
    agg = base.select(psi.alias("psi"), "trt").agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.sum("trt").cast("bigint").alias("n_treated"),
        term_sum(F.col("psi"), 2).alias("spsi"),
    )
    return agg.select(
        "n",
        "n_treated",
        portable_round(F.col("spsi") / F.col("n"), 4)
        .cast("double")
        .alias("ate_aipw"),
    )
