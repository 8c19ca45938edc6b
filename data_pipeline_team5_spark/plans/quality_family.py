"""Embedding-space corpus quality: nearest-centroid label auditing and
SemDeDup-style semantic deduplication (Abbas et al. 2023, "SemDeDup: Data-
efficient learning at web-scale through semantic deduplication") — the two
embedding-side curation steps a 100 TB training-data pipeline runs after
lexical dedup: find mislabeled/source-confused documents, then collapse
semantically-redundant ones that share no surface text.

Both build on the engine's deterministic vector kernel (functions/
vectors.py sequential folds; operators/similarity.py floor-1e7 quantized
centroid sums), so the label audit is bitwise-oracle-checkable even though
it computes 64-dim float centroids, and semantic dedup is bitwise
reproducible across reruns/partitionings despite being iterative.

Scale notes (100 TB): centroids are a k×dim aggregate with map-side
combine; assignment attaches all k centroids to each row as ONE broadcast
array and folds over it in a codegen'd projection — no per-(vec, centroid)
row explosion, no shuffle, no driver collect on the audit path. Semantic
dedup blocks its pairwise cosine on the k-means cell exactly like
embedding_cosine_neardup blocks on the IVF cell, inheriting the
PRODUCTION_MAX_CELL sub-quantization guard against a skewed mega-cluster.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from data_pipeline_team5_spark.functions.vectors import sqdist_expr, sqdist_sql
from data_pipeline_team5_spark.plans.catalog import register, table

# Same quantization/mean discipline as operators/similarity.py:centroids_by.
_CENT_SQL = """
        cent AS (
            SELECT label AS clabel, list(m ORDER BY pos) AS c
            FROM (
                SELECT label, pos,
                       CAST(SUM(CAST(floor(CAST(x AS DOUBLE) * 1e7)
                                     AS BIGINT)) AS DOUBLE)
                           / 1e7 / COUNT(x) AS m
                FROM (
                    SELECT label,
                           generate_subscripts(embedding, 1) - 1 AS pos,
                           unnest(embedding) AS x
                    FROM embeddings
                )
                GROUP BY label, pos
            )
            GROUP BY label
        )
"""


@register(
    "nearest_centroid_confusion",
    oracle=f"""
        WITH e AS (
            SELECT vec_id, label, CAST(embedding AS DOUBLE[]) AS v
            FROM embeddings
        ),
        {_CENT_SQL},
        scored AS (
            SELECT e.vec_id, e.label, cent.clabel,
                   {sqdist_sql("e.v", "cent.c")} AS d
            FROM e CROSS JOIN cent
        ),
        best AS (
            SELECT vec_id, label, clabel,
                   ROW_NUMBER() OVER (PARTITION BY vec_id
                                      ORDER BY d, clabel) AS rn
            FROM scored
        )
        SELECT CAST(label AS INT) AS label,
               CAST(clabel AS INT) AS assigned_label,
               COUNT(*) AS n_vecs,
               CAST(COUNT(*) AS DOUBLE)
                   / SUM(COUNT(*)) OVER (PARTITION BY CAST(label AS INT))
                   AS label_share
        FROM best WHERE rn = 1
        GROUP BY label, clabel
        ORDER BY label, assigned_label
    """,
    doc="⊕ label-noise audit: per-label floor-1e7-quantized mean centroids, "
    "every vector re-assigned to its nearest centroid (sequential-fold "
    "squared Euclidean, ties to the smaller label), confusion matrix "
    "(label, assigned_label, n, share-of-label). Off-diagonal mass flags "
    "mislabeled / source-confused documents before training. Plan shape: "
    "one k×dim centroid agg, then the k centroids ride to every row as a "
    "SINGLE broadcast array column and an F.aggregate fold computes the "
    "argmin inside whole-stage codegen — no n×k row explosion, no "
    "assignment shuffle, no collect; the only other Exchange is the tiny "
    "(label, assigned) count. Bitwise oracle-checkable because the "
    "centroid mean is integer-quantized (shuffle-order-free) and both "
    "engines fold distances in the same IEEE order.",
    headline=True,
    tags=("quality", "embedding", "centroid"),
)
def nearest_centroid_confusion(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = table(spark, sf_dir, "embeddings").select(
        "vec_id",
        F.col("label").cast("int").alias("label"),
        F.col("embedding").cast("array<double>").alias("v"),
    )
    exploded = emb.select("label", F.posexplode("v").alias("pos", "x"))
    q = F.floor(F.col("x") * F.lit(1e7)).cast("long")
    dim_means = exploded.groupBy("label", "pos").agg(
        (F.sum(q).cast("double") / F.lit(1e7) / F.count("x")).alias("m")
    )
    cents = dim_means.groupBy("label").agg(
        F.transform(
            F.array_sort(F.collect_list(F.struct("pos", "m"))),
            lambda s: s.m,
        ).alias("c")
    )
    cent_row = cents.agg(
        F.array_sort(
            F.collect_list(F.struct(F.col("label").alias("l"), F.col("c")))
        ).alias("cents")
    )

    init = F.struct(
        F.lit(float("inf")).alias("best_d"), F.lit(-1).alias("best_l")
    )

    def fold(acc, s):
        d = sqdist_expr(F.col("v"), s.c)
        # strict < keeps the first (smallest-label) centroid on exact ties
        return F.when(
            d < acc.best_d,
            F.struct(d.alias("best_d"), s.l.alias("best_l")),
        ).otherwise(acc)

    assigned = (
        emb.crossJoin(F.broadcast(cent_row))
        .select(
            "label",
            F.aggregate("cents", init, fold)["best_l"].alias(
                "assigned_label"
            ),
        )
    )
    w = Window.partitionBy("label")
    return (
        assigned.groupBy("label", "assigned_label")
        .agg(F.count("*").alias("n_vecs"))
        .select(
            "label",
            "assigned_label",
            "n_vecs",
            (F.col("n_vecs").cast("double") / F.sum("n_vecs").over(w)).alias(
                "label_share"
            ),
        )
        .orderBy("label", "assigned_label")
    )


@register(
    "semantic_dedup",
    oracle=None,  # k-means is iterative (driver-looped) — not
    # SQL-expressible; exact parity vs an independent pure-Python mirror
    # plus structural invariants are pinned in tests/test_semantic_dedup.py
    doc="⊕ SemDeDup: k-means the embedding space (embedding_kmeans's exact "
    "deterministic fit, k=8 × 3 iters), then within each cluster collapse "
    "cosine-≥-τ semantic duplicates — pairs via the same cell-blocked "
    "self-join as embedding_cosine_neardup (cluster = the cell; hot cells "
    "sub-quantized past PRODUCTION_MAX_CELL so no task ever materializes "
    "a quadratic cell), groups via connected components, survivor = min "
    "vec_id per group. Returns (vec_id, cluster, sem_group, keep). "
    "Deterministic end-to-end: seedless k-means + exact cosine verify + "
    "min-id star components, so reruns are bit-identical — the property "
    "test_semantic_dedup.py pins against a from-scratch Python mirror. "
    "At 100 TB this is the standard SemDeDup recipe: clustering caps the "
    "pairwise search to within-cell, components run O(log² n) star "
    "rounds over per-round parquet-materialized edge lists, and nothing "
    "quadratic in the corpus exists anywhere.",
    headline=True,
    tags=("quality", "dedup", "embedding", "semantic"),
)
def semantic_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    return semantic_dedup_frame(spark, sf_dir, k=None)


# Mean vectors per k-means cell the production posture aims for: the
# fixture regime (KMEANS_K=8 over sf0.1's 2000 vectors). semantic_k
# derives k ∝ n around this target — the lsh_defaults/pq_shortlist
# discipline (VERDICT r5 #4: fixed parameters degrade as the corpus
# grows; here a fixed k=8 would let within-cell density — and the
# candidate pair count — grow linearly with the corpus, which is
# exactly what the 10×-replication stress shows). Under derived k the
# pair stage stays pairs-per-vector ~constant (measured:
# tools/stress_10x.py --semantic-derived, SCALING.md round-10).
SEMANTIC_TARGET_CELL = 250


def semantic_k(n_vectors: int) -> int:
    import math

    from data_pipeline_team5_spark.plans.similarity_family import KMEANS_K

    return max(KMEANS_K, math.ceil(n_vectors / SEMANTIC_TARGET_CELL))


def semantic_dedup_frame(
    spark: SparkSession, sf_dir: str, k: int | None = None
) -> DataFrame:
    """The SemDeDup pipeline with an explicit cluster count. The catalog
    query passes ``k=None`` → the fixture constant ``KMEANS_K`` (its
    mirror test recomputes that form); the production/stress posture
    passes ``semantic_k(n)`` so cell occupancy — and with it the
    candidate pair stage — stays corpus-size-independent."""
    from data_pipeline_team5_spark.operators.components import (
        connected_components,
    )
    from data_pipeline_team5_spark.operators.dedup import (
        PRODUCTION_MAX_CELL,
        cosine_cell_pairs,
    )
    from data_pipeline_team5_spark.operators.similarity import kmeans_fit
    from data_pipeline_team5_spark.plans.dedup_family import COSINE_T
    from data_pipeline_team5_spark.plans.similarity_family import (
        KMEANS_ITERS,
        KMEANS_K,
    )

    emb = table(spark, sf_dir, "embeddings").select(
        "vec_id", F.col("embedding").cast("array<double>").alias("v")
    )
    assigned, _ = kmeans_fit(
        emb, k=k if k is not None else KMEANS_K,
        iters=KMEANS_ITERS, vec_col="v",
    )
    # Materialize the final assignment ONCE: three consumers (both sides
    # of the within-cell self-join + the output's cluster column) would
    # otherwise each re-run the k×dim literal-centroid argmin projection
    # — the same materialize-the-shared-layer discipline as
    # training_curation's curated corpus. Measured at sf0.1: the pair
    # stage drops ~2× (SCALING.md round-8).
    assigned = assigned.localCheckpoint()
    cells = assigned.select(
        F.col("cluster").alias("cell"), "vec_id", "v"
    )
    pairs = cosine_cell_pairs(
        cells, COSINE_T, max_cell=PRODUCTION_MAX_CELL
    )
    groups = connected_components(
        emb.select("vec_id"),
        pairs.select(
            F.col("vec_a").alias("src"), F.col("vec_b").alias("dst")
        ),
        id_col="vec_id",
    )
    return (
        assigned.select("vec_id", "cluster")
        .join(groups, groups.id == F.col("vec_id"))
        .select(
            "vec_id",
            "cluster",
            F.col("component").alias("sem_group"),
            (F.col("vec_id") == F.col("component")).alias("keep"),
        )
        .orderBy("vec_id")
    )


# Embedding-space decontamination: the benchmark "suite" is every 41st
# vector — deterministic, in-query, the corpus_snapshot_diff technique —
# ~2.5% of the fixture, standing in for the fixed small set of benchmark
# eval embeddings a real pipeline holds out. The flag threshold reuses the
# fixture-calibrated cosine cut.
BENCH_MOD = 41
from data_pipeline_team5_spark.functions.vectors import (  # noqa: E402
    cosine_expr,
    cosine_sql,
)
from data_pipeline_team5_spark.plans.dedup_family import COSINE_T  # noqa: E402


@register(
    "decontaminate_embedding_overlap",
    oracle=f"""
        WITH e AS (
            SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v
            FROM embeddings
        ),
        bench AS (
            SELECT vec_id AS b_id, v AS b_v FROM e
            WHERE vec_id % {BENCH_MOD} = 0
        ),
        scored AS (
            SELECT c.vec_id, b.b_id,
                   {cosine_sql('c.v', 'b.b_v')} AS cos
            FROM e c CROSS JOIN bench b
            WHERE c.vec_id % {BENCH_MOD} <> 0
        ),
        best AS (
            SELECT vec_id, b_id, cos,
                   ROW_NUMBER() OVER (PARTITION BY vec_id
                                      ORDER BY cos DESC, b_id) AS rn
            FROM scored
        )
        SELECT vec_id,
               CAST(b_id AS BIGINT) AS bench_id,
               cos AS max_cos,
               cos >= {COSINE_T} AS contaminated
        FROM best WHERE rn = 1
        ORDER BY vec_id
    """,
    doc="⊕ embedding-space train/eval decontamination — the semantic "
    "sibling of decontaminate_ngram_overlap (which catches verbatim "
    "n-gram leaks; this catches paraphrased/near-duplicate leaks that "
    "share no surface text, the contamination class n-grams miss). Each "
    "corpus vector gets its max cosine against the benchmark embedding "
    "set plus the nearest benchmark id; contaminated = max_cos ≥ the "
    "fixture-calibrated cosine cut. Plan shape (the nearest_centroid_"
    "confusion discipline): the benchmark set is FIXED-SIZE, so it "
    "collapses to ONE sorted array-of-structs row broadcast to every "
    "corpus vector, and an F.aggregate fold computes the running "
    "(max_cos, argmax id) inside whole-stage codegen — no per-(vec, "
    "bench) row explosion, no shuffle of the corpus, no driver collect. "
    "At 100 TB the corpus side stays a single map-only projection over "
    "the scan whatever its size; cost is O(|corpus| × |bench| × dim) "
    "multiplies inside one stage, exactly how the n-gram variant "
    "broadcasts its fixed gram set. Bitwise-oracle-checkable: per-pair "
    "cosines use the shared sequential-fold kernel (functions/vectors."
    "py), and the argmax tie-breaks to the smallest bench id on both "
    "sides (strict > in the fold over the id-sorted array; ORDER BY cos "
    "DESC, b_id in SQL).",
    tags=("quality", "embedding", "decontamination"),
)
def decontaminate_embedding_overlap(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    emb = table(spark, sf_dir, "embeddings").select(
        "vec_id", F.col("embedding").cast("array<double>").alias("v")
    )
    is_bench = F.col("vec_id") % BENCH_MOD == 0
    bench_row = emb.filter(is_bench).agg(
        F.array_sort(
            F.collect_list(
                F.struct(F.col("vec_id").alias("b"), F.col("v").alias("bv"))
            )
        ).alias("bench")
    )

    init = F.struct(
        F.lit(float("-inf")).alias("best_c"),
        F.lit(-1).cast("long").alias("best_b"),
    )

    def fold(acc, s):
        c = cosine_expr(F.col("v"), s.bv)
        # strict > keeps the first (smallest-id) benchmark on exact ties
        return F.when(
            c > acc.best_c,
            F.struct(c.alias("best_c"), s.b.alias("best_b")),
        ).otherwise(acc)

    return (
        emb.filter(~is_bench)
        .crossJoin(F.broadcast(bench_row))
        .select("vec_id", F.aggregate("bench", init, fold).alias("r"))
        # Empty-bench guard (ADVICE r8): with zero benchmark vectors the
        # fold returns its init (best_b = -1) for EVERY corpus row, while
        # the oracle's cross join yields zero rows. Dropping the
        # sentinel rows makes both engines agree on that corpus shape;
        # with a non-empty bench every row has best_b >= 0, so this
        # filters nothing (pinned in tests/test_quality_family.py).
        .filter(F.col("r.best_b") >= 0)
        .select(
            "vec_id",
            F.col("r.best_b").alias("bench_id"),
            F.col("r.best_c").alias("max_cos"),
            (F.col("r.best_c") >= F.lit(COSINE_T)).alias("contaminated"),
        )
        .orderBy("vec_id")
    )


# ---------------------------------------------------------------------------
# Hard-negative mining (round 9 continued): the retrieval/embedding-training
# data op — for each query vector, the most similar vector carrying a
# DIFFERENT label (the "closest impostor"). Contrastive training wants
# exactly these pairs; random negatives are trivially separable and teach
# nothing. Query set = a deterministic corpus slice (vec_id % 59 == 3), the
# in-query stand-in for the anchor batch a trainer would supply.

HARDNEG_MOD = 59
HARDNEG_RES = 3


@register(
    "hard_negative_mining",
    oracle=f"""
        WITH e AS (
            SELECT vec_id, label, CAST(embedding AS DOUBLE[]) AS v
            FROM embeddings
        ),
        q AS (
            SELECT vec_id AS q_id, label AS q_label, v AS qv FROM e
            WHERE vec_id % {HARDNEG_MOD} = {HARDNEG_RES}
        ),
        scored AS (
            SELECT q.q_id, q.q_label,
                   e.vec_id AS n_id, e.label AS n_label,
                   {cosine_sql('e.v', 'q.qv')} AS cos
            FROM e CROSS JOIN q
            WHERE e.label <> q.q_label
        ),
        best AS (
            SELECT q_id, q_label, n_id, n_label, cos,
                   ROW_NUMBER() OVER (PARTITION BY q_id
                                      ORDER BY cos DESC, n_id) AS rn
            FROM scored
        )
        SELECT q_id, q_label,
               CAST(n_id AS BIGINT) AS hard_neg_id,
               n_label AS hard_neg_label,
               cos AS hard_cos
        FROM best WHERE rn = 1
        ORDER BY q_id
    """,
    doc="⊕ hard-negative mining for contrastive training: each query "
    "vector's closest impostor — the max-cosine corpus vector with a "
    "DIFFERENT label (random negatives are trivially separable; these "
    "pairs carry the training signal). Plan shape at 100 TB — the "
    "INVERSE of decontaminate_embedding_overlap's fold: there the argmax "
    "key is the corpus row (fold over a broadcast array, map-only); here "
    "the argmax key is the QUERY, which lives on the broadcast side, so "
    "the right shape is pair rows (BroadcastNestedLoopJoin of the tiny "
    "anchor batch onto the corpus scan) collapsed by a partial aggregate "
    "INSIDE each scan partition — the exchange carries |queries| keys × "
    "partitions, never the corpus and never the pair explosion. (The "
    "struct-typed max buffer makes the partial agg a SortAggregate, so "
    "each partition locally sorts its pair stream by q_id first — a "
    "log-factor on pair count with a tiny key, dominated by the O(dim) "
    "cosine work per pair that any algorithm must do.) Argmax "
    "is MAX over a (cos, -id) struct (lexicographic, so ties break to "
    "the smallest impostor id) against the oracle's independent "
    "window-argmax algorithm; the cosine kernel is the shared "
    "sequential fold (functions/vectors.py), bitwise on both engines.",
    headline=True,
    tags=("quality", "embedding", "contrastive", "mining"),
)
def hard_negative_mining(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = table(spark, sf_dir, "embeddings").select(
        "vec_id",
        "label",
        F.col("embedding").cast("array<double>").alias("v"),
    )
    q = emb.filter(
        F.col("vec_id") % HARDNEG_MOD == HARDNEG_RES
    ).select(
        F.col("vec_id").alias("q_id"),
        F.col("label").alias("q_label"),
        F.col("v").alias("qv"),
    )
    pairs = (
        emb.crossJoin(F.broadcast(q))
        .filter(F.col("label") != F.col("q_label"))
        .select(
            "q_id",
            "q_label",
            F.struct(
                cosine_expr(F.col("v"), F.col("qv")).alias("cos"),
                (-F.col("vec_id")).alias("neg_sort"),
                F.col("label").alias("n_label"),
            ).alias("cand"),
        )
    )
    best = pairs.groupBy("q_id", "q_label").agg(F.max("cand").alias("b"))
    return best.select(
        "q_id",
        "q_label",
        (-F.col("b.neg_sort")).alias("hard_neg_id"),
        F.col("b.n_label").alias("hard_neg_label"),
        F.col("b.cos").alias("hard_cos"),
    ).orderBy("q_id")
