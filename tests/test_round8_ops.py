"""Round-8 operator semantics: the finance7 indicator battery, the
dataops9 corpus operators, and the analytics4 reports — properties the
differential oracle can't express (bounds, invariances, cross-query
consistency), pinned at sf0.001."""

from __future__ import annotations

import math

from pyspark.sql import functions as F

from tests.conftest import SF_DIR


def test_parkinson_vol_matches_manual_estimator(spark):
    """park_var must equal (1/(4ln2))·mean(ln(H/L)²) recomputed in
    python from the same daily bars, and vol = sqrt(var)."""
    from stockmarketdata_dwb_etl_spark.catalog import load_table
    from stockmarketdata_dwb_etl_spark.functions.bars import OHLCV, ohlcv_bars
    from stockmarketdata_dwb_etl_spark.queries.finance7 import (
        q_parkinson_vol,
    )

    out = q_parkinson_vol(spark, SF_DIR).toPandas().set_index("symbol")
    bars = (
        ohlcv_bars(load_table(spark, SF_DIR, "events"), "day", *OHLCV)
        .filter(F.col("low") > 0)
        .toPandas()
    )
    for sym, g in bars.groupby("symbol"):
        terms = (g["high"] / g["low"]).map(math.log) ** 2
        want = terms.mean() / (4.0 * math.log(2.0))
        assert abs(out.loc[sym, "park_var"] - want) < 1e-4
        assert abs(
            out.loc[sym, "park_vol"] - math.sqrt(want)
        ) < 1e-4
        assert out.loc[sym, "n_days"] == len(g)


def test_ultimate_oscillator_bounded(spark):
    """UO is a weighted average of BP/TR ratios with BP ∈ [0, TR], so
    every value must sit in [0, 100]."""
    from stockmarketdata_dwb_etl_spark.queries.finance7 import (
        q_ultimate_oscillator,
    )

    out = q_ultimate_oscillator(spark, SF_DIR).toPandas()
    assert len(out) > 0
    assert (out["uo"] >= 0.0).all() and (out["uo"] <= 100.0).all()


def test_force_index_sign_tracks_price_change(spark):
    """FI must be positive exactly when close rose vs the prior bar
    (volume is a positive tick count), and fi13 must be the 13-bar mean
    of the reported force_index values."""
    from stockmarketdata_dwb_etl_spark.queries.finance7 import (
        q_force_index,
    )

    out = q_force_index(spark, SF_DIR).toPandas()
    sym = out["symbol"].iloc[0]
    g = out[out["symbol"] == sym].reset_index(drop=True)
    roll = g["force_index"].rolling(13).mean()
    for i in range(12, len(g)):
        assert abs(g["fi13"][i] - roll[i]) < 1e-3


def test_chaikin_ad_is_cumulative_and_mfm_bounded(spark):
    """|MFV| ≤ volume (|MFM| ≤ 1), and the A/D line must equal the
    running sum of the reported money-flow volumes."""
    from stockmarketdata_dwb_etl_spark.catalog import load_table
    from stockmarketdata_dwb_etl_spark.functions.bars import OHLCV, ohlcv_bars
    from stockmarketdata_dwb_etl_spark.queries.finance7 import (
        q_chaikin_ad,
    )

    out = q_chaikin_ad(spark, SF_DIR).toPandas()
    vol = (
        ohlcv_bars(load_table(spark, SF_DIR, "events"), "hour", *OHLCV)
        .select("symbol", "bar_ts", "volume")
        .toPandas()
        .set_index(["symbol", "bar_ts"])["volume"]
    )
    for (sym, ts), mfv in out.set_index(["symbol", "bar_ts"])[
        "money_flow_vol"
    ].items():
        assert abs(mfv) <= vol.loc[(sym, ts)] + 1e-6
    for sym, g in out.groupby("symbol"):
        g = g.sort_values("bar_ts")
        run = g["money_flow_vol"].cumsum()
        assert (abs(g["ad_line"].to_numpy() - run.to_numpy()) < 1e-2).all()


def test_dpo_is_displaced_close_minus_sma(spark):
    """Recompute DPO = close[t−11] − SMA20[t] from the daily bars."""
    from stockmarketdata_dwb_etl_spark.catalog import load_table
    from stockmarketdata_dwb_etl_spark.functions.bars import OHLCV, ohlcv_bars
    from stockmarketdata_dwb_etl_spark.queries.finance7 import q_dpo

    out = q_dpo(spark, SF_DIR).toPandas()
    bars = ohlcv_bars(load_table(spark, SF_DIR, "events"), "day", *OHLCV).toPandas()
    for sym, g in bars.groupby("symbol"):
        g = g.sort_values("bar_ts").reset_index(drop=True)
        want = g["close"].shift(11) - g["close"].rolling(20).mean()
        got = out[out["symbol"] == sym].sort_values("bar_ts")
        assert len(got) == max(0, len(g) - 19)
        for (_, row), w in zip(got.iterrows(), want[19:]):
            assert abs(row["dpo"] - w) < 1e-3


def test_epoch_shuffle_reshuffles_between_epochs(spark):
    """Every epoch covers the whole corpus (shard sizes sum to |docs|),
    shard assignment is epoch-dependent (different epochs disagree on
    at least one shard's first_doc_id), and the result is deterministic
    across invocations."""
    from stockmarketdata_dwb_etl_spark.catalog import load_table
    from stockmarketdata_dwb_etl_spark.queries.dataops9 import (
        q_epoch_shuffle,
    )

    out = q_epoch_shuffle(spark, SF_DIR).toPandas()
    n_docs = load_table(spark, SF_DIR, "documents").count()
    per_epoch = out.groupby("epoch")["n_docs"].sum()
    assert (per_epoch == n_docs).all()
    firsts = out.pivot_table(
        index="shard", columns="epoch", values="first_doc_id"
    )
    assert (firsts[0] != firsts[1]).any() or (firsts[1] != firsts[2]).any()
    again = q_epoch_shuffle(spark, SF_DIR).toPandas()
    assert out.equals(again)


def test_curriculum_stages_are_ordered_by_difficulty(spark):
    """Within a language, stage s+1's min_chars must be ≥ stage s's
    min_chars (the ntile order key leads with n_chars), and stage sizes
    must differ by at most 1."""
    from stockmarketdata_dwb_etl_spark.queries.dataops9 import (
        q_curriculum_buckets,
    )

    out = q_curriculum_buckets(spark, SF_DIR).toPandas()
    for lang, g in out.groupby("lang"):
        g = g.sort_values("stage")
        assert g["min_chars"].is_monotonic_increasing
        assert g["n_docs"].max() - g["n_docs"].min() <= 1
        assert ((g["avg_lex_div"] > 0) & (g["avg_lex_div"] <= 1)).all()


def test_url_canonicalize_collapses_variants(spark):
    """Canonicalization must strictly reduce URL cardinality (the messy
    synthetic URLs differ only in tracking params/fragments/ports within
    a (host, slug) group), and canonical keys must be lowercase-host,
    fragment-free, utm-free."""
    from stockmarketdata_dwb_etl_spark.queries.dataops9 import (
        q_url_canonicalize,
    )

    row = q_url_canonicalize(spark, SF_DIR).toPandas().iloc[0]
    assert row["n_canonical"] < row["n_raw_urls"] <= row["n_docs"]
    for s in (row["sample_min"], row["sample_max"]):
        host = s.split("://")[1].split("/")[0]
        assert host == host.lower()
        assert "#" not in s and "utm_" not in s
        assert ":443" not in s and ":80" not in s
        assert "?id=" in s  # the meaningful param survives


def test_filter_funnel_is_monotone(spark):
    """Cumulative gates can only shrink the survivor set; stage 0 is the
    corpus; survival_rate is n_surviving/corpus."""
    from stockmarketdata_dwb_etl_spark.catalog import load_table
    from stockmarketdata_dwb_etl_spark.queries.dataops9 import (
        q_filter_funnel,
    )

    out = q_filter_funnel(spark, SF_DIR).toPandas().sort_values("stage")
    n_docs = load_table(spark, SF_DIR, "documents").count()
    assert out["n_surviving"].iloc[0] == n_docs
    assert out["n_surviving"].is_monotonic_decreasing
    assert abs(out["survival_rate"].iloc[0] - 1.0) < 1e-9
    assert (
        out["survival_rate"]
        - out["n_surviving"].astype(float) / n_docs
    ).abs().max() < 1e-6


def test_attribution_position_credit_conserved(spark):
    """Position-based credit must sum to the number of attributed
    conversions (each converting journey distributes exactly 1.0), and
    shares must sum to 1."""
    from stockmarketdata_dwb_etl_spark.queries.analytics4 import (
        q_attribution_position,
    )

    out = q_attribution_position(spark, SF_DIR).toPandas()
    assert set(out["channel"]) <= {"view", "click", "signup"}
    assert abs(out["credit_share"].sum() - 1.0) < 1e-4
    total_credit = out["credit"].sum()
    assert abs(total_credit - round(total_credit)) < 1e-2
    assert total_credit >= 1.0


def test_lorenz_curve_is_convex_and_complete(spark):
    """Cumulative share must be increasing, end at 1.0, and sit BELOW
    the diagonal at every interior decile (revenue is concentrated);
    decile populations differ by at most 1."""
    from stockmarketdata_dwb_etl_spark.queries.analytics4 import (
        q_lorenz_curve,
    )

    out = q_lorenz_curve(spark, SF_DIR).toPandas().sort_values("decile")
    assert len(out) == 10
    assert out["cum_share"].is_monotonic_increasing
    assert abs(out["cum_share"].iloc[-1] - 1.0) < 1e-6
    assert (
        out["cum_share"].iloc[:-1].to_numpy()
        <= [d / 10 + 1e-9 for d in range(1, 10)]
    ).all()
    assert out["n_customers"].max() - out["n_customers"].min() <= 1
    assert abs(out["revenue_share"].sum() - 1.0) < 1e-4


def test_weekday_seasonality_partitions_the_bars(spark):
    """Per-symbol dow counts must sum to that symbol's return-bar count,
    dow stays in [0, 6], and n_up ≤ n_bars."""
    from stockmarketdata_dwb_etl_spark.queries.analytics4 import (
        q_weekday_seasonality,
    )
    from stockmarketdata_dwb_etl_spark.catalog import load_table
    from stockmarketdata_dwb_etl_spark.functions.bars import bar_returns, ohlcv_bars

    out = q_weekday_seasonality(spark, SF_DIR).toPandas()
    assert out["dow"].between(0, 6).all()
    assert (out["n_up"] <= out["n_bars"]).all()
    rets = (
        bar_returns(ohlcv_bars(load_table(spark, SF_DIR, "events"), "hour", "close"))
        .groupBy("symbol")
        .count()
        .toPandas()
    )
    per_sym = out.groupby("symbol")["n_bars"].sum()
    for _, row in rets.iterrows():
        assert per_sym[row["symbol"]] == row["count"]


def test_coppock_matches_manual_wma(spark):
    """Recompute the 10-lag front-weighted WMA of ROC14+ROC11 in pandas
    and compare."""
    from stockmarketdata_dwb_etl_spark.catalog import load_table
    from stockmarketdata_dwb_etl_spark.functions.bars import OHLCV, ohlcv_bars
    from stockmarketdata_dwb_etl_spark.queries.finance8 import q_coppock

    out = q_coppock(spark, SF_DIR).toPandas()
    bars = ohlcv_bars(load_table(spark, SF_DIR, "events"), "hour", *OHLCV).toPandas()
    sym = out["symbol"].iloc[0]
    g = bars[bars["symbol"] == sym].sort_values("bar_ts").reset_index(
        drop=True
    )
    x = 100.0 * (g["close"] / g["close"].shift(14) - 1.0) + 100.0 * (
        g["close"] / g["close"].shift(11) - 1.0
    )
    weights = list(range(10, 0, -1))
    want = sum(
        w * x.shift(k) for k, w in enumerate(weights)
    ) / 55.0
    got = out[out["symbol"] == sym].sort_values("bar_ts")["coppock"]
    for gv, wv in zip(got, want[23:]):
        assert abs(gv - wv) < 1e-3


def test_kst_weights_order_horizons(spark):
    """KST must be finite and respond to all four horizons: recompute
    one symbol's series in pandas."""
    from stockmarketdata_dwb_etl_spark.catalog import load_table
    from stockmarketdata_dwb_etl_spark.functions.bars import OHLCV, ohlcv_bars
    from stockmarketdata_dwb_etl_spark.queries.finance8 import q_kst

    out = q_kst(spark, SF_DIR).toPandas()
    bars = ohlcv_bars(load_table(spark, SF_DIR, "events"), "hour", *OHLCV).toPandas()
    sym = out["symbol"].iloc[0]
    g = bars[bars["symbol"] == sym].sort_values("bar_ts").reset_index(
        drop=True
    )
    c = g["close"]
    kst = (
        1.0 * (100.0 * (c / c.shift(10) - 1.0)).rolling(10).mean()
        + 2.0 * (100.0 * (c / c.shift(15) - 1.0)).rolling(10).mean()
        + 3.0 * (100.0 * (c / c.shift(20) - 1.0)).rolling(10).mean()
        + 4.0 * (100.0 * (c / c.shift(30) - 1.0)).rolling(15).mean()
    )
    got = out[out["symbol"] == sym].sort_values("bar_ts")["kst"]
    for gv, wv in zip(got, kst[44:]):
        assert abs(gv - wv) < 1e-2


def test_elder_ray_brackets_the_sma(spark):
    """bull_power ≥ bear_power always (high ≥ low), and bull−bear =
    high−low exactly."""
    from stockmarketdata_dwb_etl_spark.catalog import load_table
    from stockmarketdata_dwb_etl_spark.functions.bars import OHLCV, ohlcv_bars
    from stockmarketdata_dwb_etl_spark.queries.finance8 import q_elder_ray

    out = q_elder_ray(spark, SF_DIR).toPandas()
    assert (out["bull_power"] >= out["bear_power"]).all()
    hl = (
        ohlcv_bars(load_table(spark, SF_DIR, "events"), "hour", *OHLCV)
        .selectExpr("symbol", "bar_ts", "high - low AS range")
        .toPandas()
        .set_index(["symbol", "bar_ts"])["range"]
    )
    for (sym, ts), row in out.set_index(["symbol", "bar_ts"]).iterrows():
        assert abs(
            (row["bull_power"] - row["bear_power"]) - hl.loc[(sym, ts)]
        ) < 1e-3


def test_nvi_pvi_split_the_log_return(spark):
    """On every bar exactly one of {NVI, PVI} may move (or neither when
    volume is flat): the two cumulative logs must be step-wise
    complementary, i.e. nvi_log + pvi_log equals the cumulative log
    return over bars where volume changed."""
    from stockmarketdata_dwb_etl_spark.queries.finance8 import q_nvi_pvi

    out = q_nvi_pvi(spark, SF_DIR).toPandas()
    for sym, g in out.groupby("symbol"):
        g = g.sort_values("bar_ts")
        dn = g["nvi_log"].diff().fillna(g["nvi_log"].iloc[0])
        dp = g["pvi_log"].diff().fillna(g["pvi_log"].iloc[0])
        both_moved = (dn.abs() > 1e-9) & (dp.abs() > 1e-9)
        assert not both_moved.any()


def test_market_breadth_counts_and_adline(spark):
    """Per bar, adv+dec+flat = #symbols with a defined change that hour,
    and ad_line is the running sum of (adv − dec)."""
    from stockmarketdata_dwb_etl_spark.queries.finance8 import (
        q_market_breadth,
    )

    out = q_market_breadth(spark, SF_DIR).toPandas().sort_values("bar_ts")
    assert (
        out["ad_line"].to_numpy()
        == (out["n_adv"] - out["n_dec"]).cumsum().to_numpy()
    ).all()
    assert ((out["n_adv"] + out["n_dec"] + out["n_flat"]) <= 5).all()


def test_ngram_coverage_bounded_and_consistent(spark):
    """Coverage ∈ [0,1], n_covered ≤ n_test_bigrams, and every fixture
    language appears."""
    from stockmarketdata_dwb_etl_spark.queries.dataops9 import (
        q_ngram_coverage,
    )

    out = q_ngram_coverage(spark, SF_DIR).toPandas()
    assert (out["n_covered"] <= out["n_test_bigrams"]).all()
    assert out["coverage"].between(0.0, 1.0).all()
    assert (
        out["coverage"]
        - out["n_covered"] / out["n_test_bigrams"]
    ).abs().max() < 1e-6


def test_waterfall_contribution_shares_sum_to_one(spark):
    """delta = rev_next − rev_base per segment and the delta shares sum
    to 1 (the waterfall reconciles to the total move)."""
    from stockmarketdata_dwb_etl_spark.queries.analytics4 import (
        q_waterfall_contribution,
    )

    out = q_waterfall_contribution(spark, SF_DIR).toPandas()
    assert len(out) == 5
    assert (
        (out["rev_next"] - out["rev_base"]) - out["delta"]
    ).abs().max() < 1e-2
    assert abs(out["delta_share"].sum() - 1.0) < 1e-4


def test_semdedup_counts_reconcile(spark):
    """Cluster sizes sum to the vector count, kept+dropped=size, and
    dropping is non-trivial at the fixture's cosine threshold (the
    synthetic 64-dim vectors produce some ≥0.3 pairs)."""
    from stockmarketdata_dwb_etl_spark.catalog import load_table
    from stockmarketdata_dwb_etl_spark.queries.dataops9 import (
        q_semdedup_clusters,
    )

    out = q_semdedup_clusters(spark, SF_DIR).toPandas()
    n_vec = load_table(spark, SF_DIR, "embeddings").count()
    assert out["n_vectors"].sum() == n_vec
    assert (out["n_kept"] + out["n_dropped"] == out["n_vectors"]).all()
    assert (out["n_kept"] >= 1).all()  # the min-id vector always survives


def test_context_window_stats_monotone(spark):
    """Larger contexts fit more docs and truncate fewer tokens;
    retention ends near 1 for the largest context."""
    from stockmarketdata_dwb_etl_spark.queries.dataops9 import (
        q_context_window_stats,
    )

    out = q_context_window_stats(spark, SF_DIR).toPandas().sort_values("ctx")
    assert out["n_fit"].is_monotonic_increasing
    assert out["tokens_truncated"].is_monotonic_decreasing
    assert out["token_retention"].is_monotonic_increasing
    assert out["fit_share"].between(0, 1).all()


def test_window_funnel_depths_partition_users(spark):
    """Every user appears at exactly one depth; depth k>0 requires the
    user to have completed step k (sanity: depth counts sum to the
    distinct user count, shares to 1)."""
    from stockmarketdata_dwb_etl_spark.catalog import load_table
    from stockmarketdata_dwb_etl_spark.queries.analytics4 import (
        q_window_funnel,
    )

    out = q_window_funnel(spark, SF_DIR).toPandas()
    n_users = (
        load_table(spark, SF_DIR, "events")
        .select("user_id")
        .distinct()
        .count()
    )
    assert out["n_users"].sum() == n_users
    assert abs(out["user_share"].sum() - 1.0) < 1e-4
    assert out["depth"].between(0, 4).all()


def test_kcore_is_stable_and_degrees_hold(spark):
    """Every survivor must have core_degree ≥ 3, and the survivor set
    must be peel-stable: recomputing degrees within the reported core
    (from the same edge table) keeps everyone ≥ 3."""
    from stockmarketdata_dwb_etl_spark.queries.graph import (
        _graph,
        q_kcore_peel,
    )

    out = q_kcore_peel(spark, SF_DIR).toPandas()
    assert (out["core_degree"] >= 3).all()
    edges, _, _ = _graph(spark, SF_DIR)
    e = edges.toPandas()
    core = set(out["node"])
    within = e[e["src"].isin(core) & e["dst"].isin(core)]
    deg = within.groupby("src").size()
    assert set(deg.index) == core
    assert (deg >= 3).all()


def test_bfs_layers_cover_all_nodes(spark):
    """Layer counts sum to the node count; layer 0 is exactly the seed
    (the minimum node); layers are in {-1, 0..4}."""
    from stockmarketdata_dwb_etl_spark.queries.graph import (
        _graph,
        q_bfs_layers,
    )

    out = q_bfs_layers(spark, SF_DIR).toPandas()
    _, _, nodes = _graph(spark, SF_DIR)
    n = nodes.count()
    assert out["n_nodes"].sum() == n
    l0 = out[out["layer"] == 0]
    assert len(l0) == 1 and l0["n_nodes"].iloc[0] == 1
    assert l0["min_node"].iloc[0] == nodes.toPandas()["node"].min()
    assert out["layer"].isin([-1, 0, 1, 2, 3, 4]).all()


def test_ljung_box_matches_manual(spark):
    """Recompute Q for one symbol in pandas with the standard sample
    ACF and compare; reject flag must equal q_stat > 15.0863."""
    from stockmarketdata_dwb_etl_spark.catalog import load_table
    from stockmarketdata_dwb_etl_spark.functions.bars import bar_returns, ohlcv_bars
    from stockmarketdata_dwb_etl_spark.queries.finance8 import q_ljung_box

    out = q_ljung_box(spark, SF_DIR).toPandas().set_index("symbol")
    pdf = (
        bar_returns(ohlcv_bars(load_table(spark, SF_DIR, "events"), "hour", "close"))
        .toPandas()
    )
    for sym, g in pdf.groupby("symbol"):
        g = g.sort_values("bar_ts")
        e = g["r"] - g["r"].mean()
        n = len(e)
        sse = (e * e).sum()
        q = 0.0
        for k in range(1, 6):
            rho = (e.iloc[k:].to_numpy() * e.iloc[:-k].to_numpy()).sum() / sse
            q += rho * rho / (n - k)
        q *= n * (n + 2.0)
        assert abs(out.loc[sym, "q_stat"] - q) < 2e-3, (sym, q)
        assert out.loc[sym, "reject_01"] == (
            out.loc[sym, "q_stat"] > 15.086272469388987
        )


def test_half_life_matches_ar1_fit(spark):
    """phi must equal the no-intercept OLS of e_t on e_{t-1}; half-life
    only reported for 0 < phi < 1."""
    import math

    from stockmarketdata_dwb_etl_spark.catalog import load_table
    from stockmarketdata_dwb_etl_spark.functions.bars import bar_returns, ohlcv_bars
    from stockmarketdata_dwb_etl_spark.queries.finance8 import q_half_life

    out = q_half_life(spark, SF_DIR).toPandas().set_index("symbol")
    pdf = (
        bar_returns(ohlcv_bars(load_table(spark, SF_DIR, "events"), "hour", "close"))
        .toPandas()
    )
    for sym, g in pdf.groupby("symbol"):
        g = g.sort_values("bar_ts")
        e = (g["r"] - g["r"].mean()).to_numpy()
        phi = (e[1:] * e[:-1]).sum() / (e[:-1] * e[:-1]).sum()
        assert abs(out.loc[sym, "phi"] - phi) < 1e-5, (sym, phi)
        hl = out.loc[sym, "half_life_bars"]
        if 0 < phi < 1:
            assert abs(hl - math.log(0.5) / math.log(phi)) < 1e-3
        else:
            assert hl != hl  # NaN / NULL


def test_embedding_outliers_three_sigma(spark):
    """Recompute per-label mean/std of centroid distances in pandas and
    confirm the outlier counts; outliers are a small minority."""
    import numpy as np

    from stockmarketdata_dwb_etl_spark.catalog import load_table
    from stockmarketdata_dwb_etl_spark.queries.dataops9 import (
        q_embedding_outliers,
    )

    out = q_embedding_outliers(spark, SF_DIR).toPandas().set_index("label")
    emb = load_table(spark, SF_DIR, "embeddings").toPandas()
    for label, g in emb.groupby("label"):
        v = np.array(g["embedding"].tolist(), dtype=float)
        c = v.mean(axis=0)
        d2 = ((v - c) ** 2).sum(axis=1)
        mean, std = d2.mean(), d2.std(ddof=1)
        row = out.loc[label]
        assert abs(row["mean_d2"] - mean) < 1e-3
        assert abs(row["std_d2"] - std) < 1e-3
        assert row["n_outliers"] == int((d2 > mean + 3 * std).sum())
        assert row["n_outliers"] <= 0.1 * row["n_vecs"]


def test_dup_ngram_mass_reconciles(spark):
    """dup_mass ≤ n_grams, n_distinct ≤ n_grams, share = mass/total,
    and total gram count equals Σ max(0, words−4) over the corpus."""
    from stockmarketdata_dwb_etl_spark.catalog import load_table
    from stockmarketdata_dwb_etl_spark.queries.dataops9 import (
        q_dup_ngram_mass,
    )

    out = q_dup_ngram_mass(spark, SF_DIR).toPandas()
    assert (out["dup_mass"] <= out["n_grams"]).all()
    assert (out["n_distinct"] <= out["n_grams"]).all()
    assert (
        out["dup_share"] - out["dup_mass"] / out["n_grams"]
    ).abs().max() < 1e-6
    docs = load_table(spark, SF_DIR, "documents").toPandas()
    want = sum(
        max(0, len(t.split(" ")) - 4) for t in docs["text"]
    )
    assert out["n_grams"].sum() == want


def test_supertrend_band_semantics(spark):
    """In an uptrend the indicator is the lower band and sits at or
    below the close when the trend just confirmed; a trend value change
    implies the close crossed the active band; bands only ratchet in
    the trend's favor between flips."""
    from stockmarketdata_dwb_etl_spark.queries.finance8 import q_supertrend

    out = q_supertrend(spark, SF_DIR).toPandas()
    assert set(out["trend"]) <= {"up", "down"}
    for sym, g in out.groupby("symbol"):
        g = g.sort_values("bar_ts").reset_index(drop=True)
        # between consecutive same-trend rows the line ratchets toward
        # the trend: non-decreasing while up, non-increasing while down
        for i in range(1, len(g)):
            if g["trend"][i] == g["trend"][i - 1] == "up":
                assert g["supertrend"][i] >= g["supertrend"][i - 1] - 1e-9
            if g["trend"][i] == g["trend"][i - 1] == "down":
                assert g["supertrend"][i] <= g["supertrend"][i - 1] + 1e-9


def test_zigzag_alternates_and_reverses_3pct(spark):
    """Pivot kinds must strictly alternate per symbol, and consecutive
    pivots must differ by the confirmation threshold: after a HIGH H
    the down leg reaches ≤ 0.97·H, so the next low L ≤ 0.97·H; after a
    LOW L the up leg reaches ≥ 1.03·L, so the next high H ≥ 1.03·L
    (i.e. L ≤ H/1.03 — the weaker direction-dependent bound)."""
    from stockmarketdata_dwb_etl_spark.queries.finance8 import q_zigzag

    out = q_zigzag(spark, SF_DIR).toPandas()
    for sym, g in out.groupby("symbol"):
        g = g.sort_values("pivot_ts").reset_index(drop=True)
        kinds = g["kind"].tolist()
        assert all(a != b for a, b in zip(kinds, kinds[1:])), sym
        for i in range(1, len(g)):
            prev_k = g["kind"][i - 1]
            a, b = g["pivot_price"][i - 1], g["pivot_price"][i]
            if prev_k == "high":  # high → low: L ≤ 0.97·H
                assert b <= a * 0.97 + 1e-9, (sym, i)
            else:  # low → high: H ≥ 1.03·L
                assert b >= a * 1.03 - 1e-9, (sym, i)


def test_anchored_vwap_resets_per_day_and_matches_manual(spark):
    """Each anchor's first bar AVWAP equals its own typical price
    (4dp half-up), and the line equals the running pv/vol ratio."""
    from stockmarketdata_dwb_etl_spark.catalog import load_table
    from stockmarketdata_dwb_etl_spark.functions.bars import OHLCV, ohlcv_bars
    from stockmarketdata_dwb_etl_spark.queries.finance8 import (
        q_anchored_vwap,
    )

    out = q_anchored_vwap(spark, SF_DIR).toPandas()
    bars = ohlcv_bars(load_table(spark, SF_DIR, "events"), "hour", *OHLCV).toPandas()
    bars["anchor"] = bars["bar_ts"].dt.floor("D")
    bars["pv_u"] = (
        (bars["high"] + bars["low"] + bars["close"]) / 3.0
        * bars["volume"] * 1e6 + 0.5
    ).apply(math.floor)
    merged = out.merge(bars, on=["symbol", "bar_ts"])
    for (_, _), g in merged.groupby(["symbol", "anchor"]):
        g = g.sort_values("bar_ts")
        num = g["pv_u"].cumsum()
        den = g["volume"].cumsum()
        want = ((2 * 10000 * num + 1000000 * den)
                // (2 * 1000000 * den)) / 10000.0
        assert (g["avwap"].to_numpy() == want.to_numpy()).all()


def test_fragment_overlap_reconciles(spark):
    """Per-lang doc counts cover all >=8-token docs; fragment docs are
    a subset; pair count >= fragment-doc count when any exist."""
    from stockmarketdata_dwb_etl_spark.catalog import load_table
    from stockmarketdata_dwb_etl_spark.queries.dataops9 import (
        q_fragment_overlap,
    )

    out = q_fragment_overlap(spark, SF_DIR).toPandas()
    docs = load_table(spark, SF_DIR, "documents").toPandas()
    eligible = docs[docs["text"].str.split(" ").str.len() >= 8]
    per_lang = eligible.groupby("lang").size()
    for _, row in out.iterrows():
        assert row["n_docs"] == per_lang[row["lang"]]
        assert row["n_fragment_docs"] <= row["n_docs"]
        assert row["n_fragment_pairs"] >= row["n_fragment_docs"]
