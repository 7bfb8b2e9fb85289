"""Graph analytics over the brand co-purchase graph: iterative weighted
PageRank and triangle counting.

The graph derives deterministically from the warehouse: nodes are part
brands, an undirected edge connects two brands co-occurring in the same
order, weighted by the number of such orders. This is the iterative-
algorithm family (rank propagation, message passing) a pure SQL engine
cannot express in one query — the engine runs it as a fixed-depth chain
of DataFrame joins (one shuffle per superstep, the Pregel shape), and the
oracle unrolls the same supersteps as CTE levels.

Determinism: ranks round to 12dp at EVERY superstep on both engines, so
identical inputs produce identical outputs iteration by iteration;
contribution sums go through DECIMAL(38,18); the contribution expression
uses the identical parenthesization (rank · (w / wdeg)) on both sides.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from stockmarketdata_dwb_etl_spark.functions.exact import portable_round, term, term_sum
from stockmarketdata_dwb_etl_spark.catalog import load_table
from stockmarketdata_dwb_etl_spark.operators.cache import bounded_persist
from stockmarketdata_dwb_etl_spark.operators.iterate import iterate
from stockmarketdata_dwb_etl_spark.registry import query

_DAMPING = 0.85
_ITERS = 5

_GRAPH_SQL = """
    basket AS (
        SELECT DISTINCT l_orderkey AS ok, p_brand AS b
        FROM lineitem JOIN part ON p_partkey = l_partkey
    ),
    edges AS (
        SELECT a.b AS src, c.b AS dst, CAST(COUNT(*) AS BIGINT) AS w
        FROM basket a JOIN basket c ON a.ok = c.ok AND a.b <> c.b
        GROUP BY 1, 2
    ),
    wdeg AS (
        SELECT src, CAST(SUM(w) AS BIGINT) AS wdeg FROM edges GROUP BY src
    ),
    nodes AS (SELECT DISTINCT b AS node FROM basket),
    ncount AS (SELECT CAST(COUNT(*) AS BIGINT) AS n FROM nodes)
"""


def _graph(spark: SparkSession, sf_dir: str):
    """Shared graph build: basket → undirected weighted edges → weighted
    out-degree. The basket self-join keys on l_orderkey (bounded baskets,
    co-located shuffle — same posture as q_pair_affinity)."""
    li = load_table(spark, sf_dir, "lineitem")
    part = load_table(spark, sf_dir, "part")
    # one shuffle on the order key builds each basket's sorted brand set;
    # directed edges generate map-side from the in-array comprehension
    # (the q_pair_affinity design) instead of a basket self-join
    sets = bounded_persist(
        li.join(F.broadcast(part), F.col("p_partkey") == F.col("l_partkey"))
        .select(F.col("l_orderkey").alias("ok"), F.col("p_brand").alias("b"))
        .groupBy("ok")
        .agg(F.sort_array(F.collect_set("b")).alias("bs")),
        "graph-baskets",
    )
    pair_list = F.expr(
        "flatten(transform(bs, x ->"
        " transform(filter(bs, y -> y != x),"
        " y -> struct(x AS src, y AS dst))))"
    )
    # the edge table is catalog-sized (brands × brands) and every graph
    # query consumes it several times — persist it in its own slot
    edges = bounded_persist(
        sets.select(F.explode(pair_list).alias("p"))
        .select("p.src", "p.dst")
        .groupBy("src", "dst")
        .agg(F.count(F.lit(1)).cast("bigint").alias("w")),
        "graph-edges",
    )
    wdeg = edges.groupBy("src").agg(F.sum("w").cast("bigint").alias("wdeg"))
    # node list is catalog-sized and every iterative consumer (pagerank,
    # PPR, Katz, HITS) joins it once per superstep — persist it so the
    # explode+distinct over the basket table runs once per query, not
    # once per superstep
    nodes = bounded_persist(
        sets.select(F.explode("bs").alias("node")).distinct(),
        "graph-nodes",
    )
    return edges, wdeg, nodes


def _norm_graph(spark: SparkSession, sf_dir: str):
    """Row-normalized edges ``(src, dst, wn = w / wdeg(src))`` in ONE slot
    shared by PageRank, PPR and Katz, plus the node list."""
    edges, wdeg, nodes = _graph(spark, sf_dir)
    wn = F.col("w").cast("double") / F.col("wdeg")
    norm = edges.join(wdeg, "src").select("src", "dst", wn.alias("wn"))
    return bounded_persist(norm, "graph-norm-edges"), nodes


def in_sum_step(edges, base, col: str, update):
    """The superstep x'(v) = update(s(v)) of the weighted
    in-neighbour-sum family, s(v) = Σ_{u→v} round12(x(u)·wn(u→v)), as a
    step for :func:`operators.iterate.iterate` (PageRank, PPR and Katz
    run it with lazy cuts).

    The state is (node, ``col``); ``base`` is one row per node: the node
    and any per-node constant ``update`` reads (PPR's seed indicator).
    A superstep UNION ALLs the edge⋈state messages with one exact zero
    message per node carrying ``base``'s constants, and sums them in ONE
    shuffle keyed on node: a node without in-edges sums to exactly 0,
    as ``coalesce(NULL, 0.0)`` did after a left join from the node list.
    ``update`` reads ``s`` (the DOUBLE sum) and the constants."""
    carried = [c for c in base.columns if c != "node"]
    nulls = [F.lit(None).cast(base.schema[c].dataType).alias(c) for c in carried]
    zeros = base.select("node", F.lit(0).cast("decimal(38,12)").alias("t"), *carried)
    # contributions round at 12dp before the exact-DECIMAL sum: the raw
    # double->DECIMAL cast is engine-asymmetric (DuckDB converts via
    # float scaling), and x·wn <= 2 keeps the 12dp floor term far under
    # the 2^53 round-trip bound
    t = term(F.col(col) * F.col("wn"), 12)

    def step(state: DataFrame, _: int) -> DataFrame:
        msgs = edges.join(state.select(F.col("node").alias("src"), col), "src")
        return (
            msgs.select(F.col("dst").alias("node"), t.alias("t"), *nulls)
            .unionByName(zeros)
            .groupBy("node")
            .agg(
                F.sum("t").cast("double").alias("s"),
                *(F.max(c).alias(c) for c in carried),
            )
            .select("node", update.alias(col))
        )

    return step


def _pr_level_sql(prev: str, out: str) -> str:
    return f"""
    {out} AS (
        SELECT n.node,
               CAST((CAST(floor(CAST((0.15 / nn.n + 0.85 * COALESCE(c.s, 0)) AS DOUBLE) * 1000000000000.0 + 0.5) AS DOUBLE) / 1000000000000.0) AS DOUBLE)
                 AS rank
        FROM nodes n CROSS JOIN ncount nn
        LEFT JOIN (
            SELECT e.dst,
                   CAST(SUM(CAST((CAST(floor(CAST((p.rank
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
    "q_pagerank_iter",
    oracle=(
        "WITH "
        + _GRAPH_SQL
        + """,
    pr0 AS (
        SELECT node, CAST((CAST(floor(CAST((1.0 / nn.n) AS DOUBLE) * 1000000000000.0 + 0.5) AS DOUBLE) / 1000000000000.0) AS DOUBLE) AS rank
        FROM nodes CROSS JOIN ncount nn
    ),"""
        + ",".join(_pr_level_sql(f"pr{i}", f"pr{i + 1}") for i in range(_ITERS))
        + """
    SELECT node, rank FROM pr5 ORDER BY rank DESC, node
    """
    ),
)
def q_pagerank_iter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weighted PageRank, 5 supersteps, damping 0.85, over the brand
    co-purchase graph — the iterative message-passing family (Pregel
    shape), run by the shared :func:`in_sum_step`. Each superstep
    is ONE shuffle: edges join the current rank vector on src (at
    fixture scale the rank vector broadcasts; at billion-node scale the
    same plan hash-co-partitions edges and ranks on src across
    supersteps), contributions plus one zero message per node
    partial-aggregate per node, so dangling/isolated nodes keep the
    teleport term with no join back to the node list. Ranks re-round to
    12dp every superstep so both engines iterate on identical values."""
    edges, nodes = _norm_graph(spark, sf_dir)
    n_nodes = nodes.count()  # driver scalar: node count bounds the loop math
    ranks = nodes.select(
        "node", portable_round(F.lit(1.0) / n_nodes, 12).cast("double").alias("rank")
    )
    update = portable_round(
        F.lit(0.15) / n_nodes + F.lit(0.85) * F.col("s"), 12
    ).cast("double")
    ranks = iterate(
        ranks, in_sum_step(edges, nodes, "rank", update), _ITERS, eager=False
    )
    return ranks.orderBy(F.desc("rank"), "node")


@query(
    "q_triangle_count",
    oracle=(
        "WITH "
        + _GRAPH_SQL
        + """
    SELECT a.src AS brand_a, a.dst AS brand_b, b.dst AS brand_c
    FROM edges a
    JOIN edges b ON b.src = a.dst AND a.dst < b.dst
    JOIN edges c ON c.src = a.src AND c.dst = b.dst
    WHERE a.src < a.dst
    ORDER BY brand_a, brand_b, brand_c
    """
    ),
)
def q_triangle_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Triangle enumeration on the brand co-purchase graph: ordered
    triples (a < b < c) where all three pairwise edges exist — the
    clustering-coefficient / community-density primitive. Uses the
    canonical ordered-wedge algorithm: enumerate wedges a<b<c from
    ordered edges, then close them with a semi-check third join. Each
    join keys on a node column (shuffle co-partitioned); ordering the
    triple eliminates the 6× duplication all-direction enumeration would
    pay. Integer/string-only output — exact on any engine."""
    edges, _, _ = _graph(spark, sf_dir)
    # ordered edge list (src < dst), one direction only
    e = edges.filter(F.col("src") < F.col("dst")).select("src", "dst")
    ab = e.select(F.col("src").alias("brand_a"), F.col("dst").alias("brand_b"))
    bc = e.select(F.col("src").alias("brand_b"), F.col("dst").alias("brand_c"))
    ac = e.select(F.col("src").alias("brand_a"), F.col("dst").alias("brand_c"))
    return (
        ab.join(bc, "brand_b")
        .join(ac, ["brand_a", "brand_c"], "left_semi")
        .select("brand_a", "brand_b", "brand_c")
        .orderBy("brand_a", "brand_b", "brand_c")
    )


@query(
    "q_degree_centrality",
    oracle="""
    WITH edges AS (
        SELECT DISTINCT l_partkey AS p, l_suppkey AS s FROM lineitem
    ),
    deg AS (
        SELECT s, CAST(COUNT(*) AS BIGINT) AS degree FROM edges GROUP BY s
    ),
    tot AS (SELECT CAST(COUNT(DISTINCT p) AS BIGINT) AS n_parts FROM edges)
    SELECT d.s AS suppkey, sup.s_name, d.degree,
           CAST((CAST(floor(CAST((CAST(d.degree AS DOUBLE) / t.n_parts) AS DOUBLE) * 1000000.0 + 0.5) AS DOUBLE) / 1000000.0) AS DOUBLE)
             AS norm_degree,
           CAST(rank() OVER (ORDER BY d.degree DESC, d.s) AS BIGINT)
             AS degree_rank
    FROM deg d JOIN supplier sup ON sup.s_suppkey = d.s
    CROSS JOIN tot t
    ORDER BY degree_rank
    """,
)
def q_degree_centrality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Degree centrality on the part–supplier bipartite graph: per
    supplier, the count of distinct parts supplied, normalized by the
    part population, ranked. Edges dedupe with one hash-agg on the fact
    table (the only full-data stage); degrees/ranks run over the
    supplier-dimension table, names arrive by broadcast join. The rank
    window is dimension-sized — at 100 TB the supplier dimension is
    ~1e6 rows, window-safe; were it fact-sized it would go through
    operators/rank.global_row_number."""
    li = load_table(spark, sf_dir, "lineitem")
    sup = load_table(spark, sf_dir, "supplier")
    edges = li.select(
        F.col("l_partkey").alias("p"), F.col("l_suppkey").alias("s")
    ).distinct()
    deg = edges.groupBy("s").agg(F.count(F.lit(1)).cast("bigint").alias("degree"))
    tot = edges.agg(F.countDistinct("p").cast("bigint").alias("n_parts"))
    w = Window.orderBy(F.col("degree").desc(), "s")
    return (
        deg.join(F.broadcast(sup), F.col("s") == F.col("s_suppkey"))
        .crossJoin(F.broadcast(tot))
        .select(
            F.col("s").alias("suppkey"),
            "s_name",
            "degree",
            portable_round(F.col("degree").cast("double") / F.col("n_parts"), 6)
            .cast("double")
            .alias("norm_degree"),
            F.rank().over(w).cast("bigint").alias("degree_rank"),
        )
        .orderBy("degree_rank")
    )


@query(
    "q_common_neighbors",
    oracle="""
    WITH edges AS (
        SELECT DISTINCT l_partkey AS p, l_suppkey AS s FROM lineitem
    ),
    deg AS (
        SELECT s, CAST(COUNT(*) AS BIGINT) AS degree FROM edges GROUP BY s
    ),
    pairs AS (
        SELECT a.s AS supp_a, b.s AS supp_b,
               CAST(COUNT(*) AS BIGINT) AS shared_parts
        FROM edges a JOIN edges b ON a.p = b.p AND a.s < b.s
        GROUP BY 1, 2
    )
    SELECT p.supp_a, p.supp_b, p.shared_parts,
           CAST((CAST(floor(CAST((CAST(p.shared_parts AS DOUBLE)
                      / (da.degree + db.degree - p.shared_parts)) AS DOUBLE) * 1000000.0 + 0.5) AS DOUBLE) / 1000000.0)
                AS DOUBLE) AS jaccard
    FROM pairs p
    JOIN deg da ON da.s = p.supp_a
    JOIN deg db ON db.s = p.supp_b
    WHERE p.shared_parts >= 5
    ORDER BY p.shared_parts DESC, p.supp_a, p.supp_b
    """,
)
def q_common_neighbors(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Common-neighbors link prediction over the part–supplier graph:
    supplier pairs scored by shared part count and neighborhood Jaccard
    (|A∩B| / (deg_a + deg_b − |A∩B|)). The pair expansion self-joins the
    DEDUPED edge list on the part key with a < b ordering — per-part
    fanout is C(k,2) where k = suppliers-per-part, a catalog-bounded
    constant (TPC-H: ~4), NOT data-sized; skewed hub parts would fall to
    AQE skew splitting. Degrees broadcast in (supplier-dimension-sized).
    The ≥5 shared-parts floor keeps output to genuinely-related pairs."""
    li = load_table(spark, sf_dir, "lineitem")
    edges = li.select(
        F.col("l_partkey").alias("p"), F.col("l_suppkey").alias("s")
    ).distinct()
    deg = edges.groupBy("s").agg(F.count(F.lit(1)).cast("bigint").alias("degree"))
    a = edges.select("p", F.col("s").alias("supp_a"))
    b = edges.select("p", F.col("s").alias("supp_b"))
    pairs = (
        a.join(b, "p")
        .filter(F.col("supp_a") < F.col("supp_b"))
        .groupBy("supp_a", "supp_b")
        .agg(F.count(F.lit(1)).cast("bigint").alias("shared_parts"))
        .filter(F.col("shared_parts") >= 5)
    )
    da = deg.select(F.col("s").alias("supp_a"), F.col("degree").alias("deg_a"))
    db = deg.select(F.col("s").alias("supp_b"), F.col("degree").alias("deg_b"))
    return (
        pairs.join(F.broadcast(da), "supp_a")
        .join(F.broadcast(db), "supp_b")
        .select(
            "supp_a",
            "supp_b",
            "shared_parts",
            portable_round(
                F.col("shared_parts").cast("double")
                / (F.col("deg_a") + F.col("deg_b") - F.col("shared_parts")),
                6,
            )
            .cast("double")
            .alias("jaccard"),
        )
        .orderBy(F.col("shared_parts").desc(), "supp_a", "supp_b")
    )


_BFS_ITERS = 4


def _strong_edges(spark: SparkSession, sf_dir: str, q: float) -> DataFrame:
    """(src, dst) of the basket edges whose weight reaches the exact
    discrete q-quantile of all weights, persisted in one slot per q."""
    edges, _, _ = _graph(spark, sf_dir)
    thr = edges.agg(
        F.expr(f"percentile_disc({q}) WITHIN GROUP (ORDER BY w)").alias("w_q")
    )
    return bounded_persist(
        edges.crossJoin(F.broadcast(thr))
        .filter(F.col("w") >= F.col("w_q"))
        .select("src", "dst"),
        f"strong-edges-{q}",
    )


def _min_relax(edges: DataFrame, col: str, hop: Column | str):
    """The Pregel relax superstep for :func:`operators.iterate.iterate`:
    each node's ``col`` becomes the min of its own and of ``hop``, the
    candidate an in-neighbour's row offers, named ``col`` (BFS distance
    + 1, a component label)."""

    def step(state: DataFrame, _: int) -> DataFrame:
        relaxed = edges.join(state.withColumnRenamed("node", "src"), "src").select(
            F.col("dst").alias("node"), hop
        )
        return state.unionByName(relaxed).groupBy("node").agg(F.min(col).alias(col))

    return step


def _bfs_level_sql(prev: str, out: str) -> str:
    return f"""
    {out} AS (
        SELECT node, CAST(MIN(dist) AS BIGINT) AS dist FROM (
            SELECT node, dist FROM {prev}
            UNION ALL
            SELECT e.dst AS node, d.dist + 1 AS dist
            FROM strong e JOIN {prev} d ON d.node = e.src
        ) GROUP BY node
    )"""


@query(
    "q_bfs_distance",
    oracle=(
        "WITH "
        + _GRAPH_SQL
        + """,
    med AS (
        SELECT percentile_disc(0.5) WITHIN GROUP (ORDER BY w) AS m
        FROM edges
    ),
    strong AS (
        SELECT e.src, e.dst FROM edges e, med WHERE e.w >= med.m
    ),
    snodes AS (SELECT DISTINCT src AS node FROM strong),
    s AS (SELECT MIN(node) AS sn FROM snodes),
    d0 AS (
        SELECT node, CAST(0 AS BIGINT) AS dist FROM snodes, s
        WHERE node = sn
    ),"""
        + ",".join(
            _bfs_level_sql(f"d{i}", f"d{i + 1}") for i in range(_BFS_ITERS)
        )
        + f"""
    SELECT node, dist FROM d{_BFS_ITERS} ORDER BY node
    """
    ),
)
def q_bfs_distance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Single-source BFS hop distances over the strong-tie brand graph
    (edges at or above the median co-purchase weight — the discrete
    median is engine-exact), 4 unrolled supersteps from the
    lexicographically-smallest strong node. Each superstep is the
    Pregel relax step: frontier joins edges on src (ONE shuffle; at
    billion-edge scale edges and the distance vector hash-co-partition
    on the node key across supersteps, at fixture scale the frontier
    broadcasts), then a min-merge per node folds new candidate
    distances into the running vector. Integer distances — exact on
    any engine; unreached nodes stay absent rather than carrying a
    sentinel."""
    strong = _strong_edges(spark, sf_dir, 0.5)
    snodes = strong.select(F.col("src").alias("node")).distinct()
    src_node = snodes.agg(F.min("node").alias("sn"))
    dist = (
        snodes.crossJoin(F.broadcast(src_node))
        .filter(F.col("node") == F.col("sn"))
        .select("node", F.lit(0).cast("bigint").alias("dist"))
    )
    relax = _min_relax(strong, "dist", (F.col("dist") + 1).alias("dist"))
    return iterate(dist, relax, _BFS_ITERS, eager=True).orderBy("node")


def _cc_level_sql(prev: str, out: str) -> str:
    return f"""
    {out} AS (
        SELECT node, MIN(lbl) AS lbl FROM (
            SELECT node, lbl FROM {prev}
            UNION ALL
            SELECT e.dst AS node, d.lbl
            FROM strong e JOIN {prev} d ON d.node = e.src
        ) GROUP BY node
    )"""


@query(
    "q_graph_components",
    oracle=(
        "WITH "
        + _GRAPH_SQL
        + """,
    med AS (
        SELECT percentile_disc(0.5) WITHIN GROUP (ORDER BY w) AS m
        FROM edges
    ),
    strong AS (
        SELECT e.src, e.dst FROM edges e, med WHERE e.w >= med.m
    ),
    snodes AS (SELECT DISTINCT src AS node FROM strong),
    c0 AS (SELECT node, node AS lbl FROM snodes),"""
        + ",".join(_cc_level_sql(f"c{i}", f"c{i + 1}") for i in range(4))
        + """
    SELECT CAST(sz AS BIGINT) AS component_size,
           CAST(COUNT(*) AS BIGINT) AS n_components
    FROM (SELECT lbl, COUNT(*) AS sz FROM c4 GROUP BY lbl)
    GROUP BY sz ORDER BY component_size
    """
    ),
)
def q_graph_components(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Connected-component size distribution of the strong-tie brand
    graph — the fragmentation report (one giant component = a connected
    market; many small ones = siloed niches): min-label propagation
    over 4 unrolled supersteps (labels seed as each node's own name,
    every round takes the min over self ∪ in-neighbors — the same
    Pregel relax as q_bfs_distance with MIN over labels instead of
    distance+1, and the same per-superstep localCheckpoint lineage
    cut), then a size histogram over final labels. String-min labels
    are engine-exact. Scale: one key-partitioned shuffle per
    superstep; O(diameter) rounds as in dedup_transitive."""
    strong = _strong_edges(spark, sf_dir, 0.5)
    labels = strong.select(F.col("src").alias("node")).distinct().select(
        "node", F.col("node").alias("lbl")
    )
    relax = _min_relax(strong, "lbl", "lbl")
    comp = iterate(labels, relax, 4, eager=True).groupBy("lbl").agg(
        F.count(F.lit(1)).cast("bigint").alias("sz")
    )
    return (
        comp.groupBy(F.col("sz").alias("component_size"))
        .agg(F.count(F.lit(1)).cast("bigint").alias("n_components"))
        .orderBy("component_size")
    )


@query(
    "q_adamic_adar",
    oracle="""
    WITH edges AS (
        SELECT DISTINCT l_partkey AS p, l_suppkey AS s FROM lineitem
    ),
    pdeg AS (
        SELECT p, CAST(COUNT(*) AS BIGINT) AS pd FROM edges GROUP BY p
    ),
    pairs AS (
        SELECT a.s AS supp_a, b.s AS supp_b,
               CAST(COUNT(*) AS BIGINT) AS shared_parts,
               CAST(SUM(CAST((CAST(floor(CAST((1.0 / ln(d.pd)) AS DOUBLE)
                   * 1000000000000.0 + 0.5) AS DOUBLE) / 1000000000000.0)
                   AS DECIMAL(38,12))) AS DOUBLE) AS aa
        FROM edges a
        JOIN edges b ON a.p = b.p AND a.s < b.s
        JOIN pdeg d ON d.p = a.p
        GROUP BY 1, 2
    ),
    scored AS (
        SELECT supp_a, supp_b, shared_parts,
               CAST((CAST(floor(CAST((aa) AS DOUBLE) * 1000000.0 + 0.5)
                     AS DOUBLE) / 1000000.0) AS DOUBLE) AS aa_score
        FROM pairs
        WHERE shared_parts >= 5
    )
    SELECT supp_a, supp_b, shared_parts, aa_score,
           CAST(lnk AS BIGINT) AS link_rank
    FROM (
        SELECT *, row_number() OVER (PARTITION BY supp_a
                                     ORDER BY aa_score DESC, supp_b) AS lnk
        FROM scored
    )
    WHERE lnk <= 10
    ORDER BY supp_a, link_rank
    """,
)
def q_adamic_adar(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Adamic–Adar link prediction over the part–supplier bipartite
    graph: supplier pairs scored by Σ 1/ln(deg(z)) over shared parts z —
    the frequency-weighted upgrade of q_common_neighbors' raw count
    (a part supplied by everyone says little; a rare shared part says a
    lot). Per-part degrees are exact integers; each 1/ln(deg) term
    follows the cell-term policy (12dp round + DECIMAL sum — term order
    cannot perturb the score); deg ≥ 2 by construction on any shared
    part, so ln never hits 0. The report is TOP-10 LINKS PER SUPPLIER
    (ranked on the 6dp-rounded score with a supp_b tie-break — rounded
    BEFORE the sort, the portable-order rule): link prediction is
    consumed per node, and an absolute shared-count floor alone stops
    filtering as density grows — measured at sf0.1 the ≥5 floor kept
    499k of 500k supplier pairs, an O(|S|²) output that OOM'd a 1 GiB
    validation JVM; top-k caps output at O(|S|·k) at any scale. Scale:
    pair fanout is C(k,2) with k = suppliers-per-part (catalog-bounded),
    part degrees join ON THE SAME part key as the pair expansion (no
    extra shuffle of the big side)."""
    li = load_table(spark, sf_dir, "lineitem")
    edges = bounded_persist(
        li.select(
            F.col("l_partkey").alias("p"), F.col("l_suppkey").alias("s")
        ).distinct(),
        "aa-edges",
    )
    pdeg = edges.groupBy("p").agg(
        F.count(F.lit(1)).cast("bigint").alias("pd")
    )
    a = edges.select(F.col("p"), F.col("s").alias("supp_a"))
    b = edges.select(F.col("p"), F.col("s").alias("supp_b"))
    # 12dp-pre-rounded terms <= 1.45 cast at their OWN scale, matching
    # the oracle's DECIMAL(38,12): exact on both engines
    pairs = (
        a.join(b, "p")
        .filter(F.col("supp_a") < F.col("supp_b"))
        .join(pdeg, "p")
        .groupBy("supp_a", "supp_b")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("shared_parts"),
            term_sum(F.lit(1.0) / F.log(F.col("pd")), 12).alias("aa"),
        )
    )
    scored = pairs.filter(F.col("shared_parts") >= 5).select(
        "supp_a",
        "supp_b",
        "shared_parts",
        portable_round(F.col("aa"), 6).cast("double").alias("aa_score"),
    )
    w_link = Window.partitionBy("supp_a").orderBy(
        F.col("aa_score").desc(), "supp_b"
    )
    return (
        scored.withColumn("link_rank", F.row_number().over(w_link))
        .filter(F.col("link_rank") <= 10)
        .select(
            "supp_a",
            "supp_b",
            "shared_parts",
            "aa_score",
            F.col("link_rank").cast("bigint").alias("link_rank"),
        )
        .orderBy("supp_a", "link_rank")
    )


@query(
    "q_degree_assortativity",
    oracle=(
        "WITH "
        + _GRAPH_SQL
        + """,
    deg AS (
        SELECT src AS node, CAST(COUNT(*) AS BIGINT) AS d
        FROM edges GROUP BY src
    ),
    dpairs AS (
        SELECT ds.d AS x, dd.d AS y
        FROM edges e
        JOIN deg ds ON ds.node = e.src
        JOIN deg dd ON dd.node = e.dst
    ),
    mom AS (
        SELECT CAST(COUNT(*) AS BIGINT) AS m,
               CAST(SUM(x) AS BIGINT) AS sx, CAST(SUM(y) AS BIGINT) AS sy,
               CAST(SUM(x * y) AS BIGINT) AS sxy,
               CAST(SUM(x * x) AS BIGINT) AS sxx,
               CAST(SUM(y * y) AS BIGINT) AS syy
        FROM dpairs
    )
    SELECT m AS n_directed_edges,
           (SELECT COUNT(*) FROM deg) AS n_nodes,
           CAST(CASE WHEN m * sxx - sx * sx = 0 OR m * syy - sy * sy = 0
                THEN NULL
                ELSE (CAST(floor(CAST((
                    (CAST(m AS DOUBLE) * CAST(sxy AS DOUBLE)
                     - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE))
                    / sqrt(CAST(m AS DOUBLE) * CAST(sxx AS DOUBLE)
                           - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE))
                    / sqrt(CAST(m AS DOUBLE) * CAST(syy AS DOUBLE)
                           - CAST(sy AS DOUBLE) * CAST(sy AS DOUBLE))
                  ) AS DOUBLE) * 1000000.0 + 0.5) AS DOUBLE) / 1000000.0)
                END AS DOUBLE) AS assortativity
    FROM mom
    """
    ),
)
def q_degree_assortativity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Degree assortativity of the brand co-purchase graph: Pearson
    correlation of (deg(src), deg(dst)) over the directed edge list —
    the one-number mixing diagnostic (r>0 hubs-link-hubs, r<0
    hub-and-spoke) that says whether the graph queries' skew mitigations
    will actually be exercised. Unweighted degrees are exact integers,
    so all five moment sums are exact (the q_spearman_corr posture);
    only the final normalization is double, floor-rounded. Scale: the
    edge table is catalog-sized (brands²) and already persisted by the
    graph family's shared build; degrees join back on the edge keys —
    at web scale the same plan co-partitions edges and the degree table
    on the node key."""
    edges, wdeg, nodes = _graph(spark, sf_dir)
    deg = edges.groupBy(F.col("src").alias("node")).agg(
        F.count(F.lit(1)).cast("bigint").alias("d")
    )
    dpairs = (
        edges.join(deg.withColumnRenamed("node", "src"), "src")
        .withColumnRenamed("d", "x")
        .join(
            deg.withColumnRenamed("node", "dst").withColumnRenamed("d", "y"),
            "dst",
        )
        .select("x", "y")
    )
    mom = dpairs.agg(
        F.count(F.lit(1)).cast("bigint").alias("m"),
        F.sum("x").cast("bigint").alias("sx"),
        F.sum("y").cast("bigint").alias("sy"),
        F.sum(F.col("x") * F.col("y")).cast("bigint").alias("sxy"),
        F.sum(F.col("x") * F.col("x")).cast("bigint").alias("sxx"),
        F.sum(F.col("y") * F.col("y")).cast("bigint").alias("syy"),
    ).crossJoin(F.broadcast(deg.agg(F.count(F.lit(1)).alias("n_nodes"))))
    m, sx, sy = F.col("m"), F.col("sx"), F.col("sy")
    sxy, sxx, syy = F.col("sxy"), F.col("sxx"), F.col("syy")
    r = (
        (m.cast("double") * sxy.cast("double")
         - sx.cast("double") * sy.cast("double"))
        / F.sqrt(m.cast("double") * sxx.cast("double")
                 - sx.cast("double") * sx.cast("double"))
        / F.sqrt(m.cast("double") * syy.cast("double")
                 - sy.cast("double") * sy.cast("double"))
    )
    return mom.select(
        m.alias("n_directed_edges"),
        F.col("n_nodes").cast("bigint").alias("n_nodes"),
        F.when(
            (m * sxx - sx * sx == 0) | (m * syy - sy * sy == 0),
            F.lit(None).cast("double"),
        )
        .otherwise(portable_round(r, 6))
        .cast("double")
        .alias("assortativity"),
    )


def _kcore_level_sql(prev: str, out: str, k: int) -> str:
    return f"""
    {out} AS (
        SELECT e.src AS node, CAST(COUNT(*) AS BIGINT) AS deg
        FROM edges e
        JOIN {prev} a ON a.node = e.src
        JOIN {prev} b ON b.node = e.dst
        GROUP BY e.src
        HAVING COUNT(*) >= {k}
    )"""


@query(
    "q_kcore_peel",
    oracle=f"""
    WITH {_GRAPH_SQL},
    a0 AS (SELECT node, CAST(0 AS BIGINT) AS deg FROM nodes),
    {",".join(_kcore_level_sql(f"a{i}", f"a{i + 1}", 3) for i in range(6))}
    SELECT node, deg AS core_degree
    FROM a6 ORDER BY node
    """,
)
def q_kcore_peel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """3-core of the brand co-purchase graph by iterative peeling:
    repeatedly remove nodes with fewer than k=3 surviving neighbors
    until (a fixed depth of) 6 peel rounds — the degeneracy-based
    community-core extractor (Seidman 1983) beside q_graph_components/
    q_clustering_coeff. FIXED-DEPTH semantics (the pagerank/BPE rule:
    plan size must not depend on data): the result is defined as the
    survivor set after exactly 6 peels, which equals the true 3-core
    whenever peeling converges earlier (each round only removes — a
    converged round is idempotent, so extra rounds are no-ops); the
    oracle unrolls the same 6 rounds as CTE levels. Each Spark round is
    ONE degree hash-agg over the alive-filtered edge table,
    localCheckpoint(eager) per round to truncate lineage. Reported:
    surviving node + its within-core degree."""
    edges, _, nodes = _graph(spark, sf_dir)

    def peel(alive: DataFrame, _: int) -> DataFrame:
        return (
            edges.join(alive.select(F.col("node").alias("src")), "src")
            .join(alive.select(F.col("node").alias("dst")), "dst")
            .groupBy(F.col("src").alias("node"))
            .agg(F.count(F.lit(1)).cast("bigint").alias("deg"))
            .filter(F.col("deg") >= 3)
        )

    alive = nodes.select("node", F.lit(0).cast("bigint").alias("deg"))
    alive = iterate(alive, peel, 6, eager=True)
    return alive.select("node", F.col("deg").alias("core_degree")).orderBy(
        "node"
    )


def _bfs_frontier_sql(prev: str, out: str, level: int) -> str:
    return f"""
    {out} AS (
        SELECT node, MIN(dist) AS dist FROM (
            SELECT node, dist FROM {prev}
            UNION ALL
            SELECT e.dst AS node, p.dist + 1 AS dist
            FROM edges e JOIN {prev} p ON p.node = e.src
            WHERE p.dist = {level}
        ) GROUP BY node
    )"""


@query(
    "q_bfs_layers",
    oracle=f"""
    WITH {_GRAPH_SQL},
    seed AS (SELECT MIN(node) AS s FROM nodes),
    d0 AS (
        SELECT n.node, CAST(0 AS BIGINT) AS dist
        FROM nodes n JOIN seed ON n.node = seed.s
    ),
    {",".join(_bfs_frontier_sql(f"d{i}", f"d{i + 1}", i) for i in range(4))}
    SELECT COALESCE(d.dist, -1) AS layer,
           CAST(COUNT(*) AS BIGINT) AS n_nodes,
           MIN(n.node) AS min_node
    FROM nodes n LEFT JOIN d4 d ON d.node = n.node
    GROUP BY 1 ORDER BY 1
    """,
)
def q_bfs_layers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Breadth-first layers from a deterministic seed (the minimum brand
    node) over the co-purchase graph, 4 fixed supersteps: layer = hop
    distance ≤ 4, unreached = −1 — the reachability/radius primitive
    under q_graph_components (components ask "connected at all?", BFS
    asks "how far?"). Fixed-depth semantics like q_kcore_peel: each
    superstep is one frontier-join + min-dist hash-agg,
    localCheckpoint(eager) per round (O(1) plan size per superstep);
    the oracle unrolls the same 4 expansions as CTE levels. Reported
    per layer: node count + the smallest node (pins the frontier
    content, not just its size)."""
    edges, _, nodes = _graph(spark, sf_dir)
    seed = nodes.agg(F.min("node").alias("node")).select(
        "node", F.lit(0).cast("bigint").alias("dist")
    )

    def expand(dist: DataFrame, level: int) -> DataFrame:
        frontier = dist.filter(F.col("dist") == level)
        expanded = edges.join(
            frontier.select(F.col("node").alias("src"), "dist"), "src"
        ).select(F.col("dst").alias("node"), (F.col("dist") + 1).alias("dist"))
        return (
            dist.unionByName(expanded)
            .groupBy("node")
            .agg(F.min("dist").cast("bigint").alias("dist"))
        )

    dist = iterate(seed.localCheckpoint(eager=True), expand, 4, eager=True)
    return (
        nodes.join(dist, "node", "left")
        .groupBy(F.coalesce(F.col("dist"), F.lit(-1)).alias("layer"))
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_nodes"),
            F.min("node").alias("min_node"),
        )
        .orderBy("layer")
    )
