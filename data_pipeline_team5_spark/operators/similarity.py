"""Similarity search over embedding columns (north star ⊕): brute-force
cosine top-k as the correctness baseline, random-hyperplane LSH and IVF
partition-probe as the 100 TB scale paths.

The reference has no vector surface at all (SURVEY.md §1.2: no array types);
this family supplies ANN plumbing for training-data pipelines. All math is
JVM-side higher-order functions (functions/vectors.py — sequential folds
that match the DuckDB oracle bitwise); hyperplanes/centroids ride in as
small broadcast DataFrames, never as literal expression trees (keeps codegen
compact) and never as driver-side loops.

Scale notes:
- brute force is O(|corpus| × |queries|) — correct, broadcast-join shaped,
  and the right choice when the query set is small; it is the *oracle*, not
  the scale path.
- LSH: corpus is bucketed once (L tables × b sign bits); a query touches
  only its L buckets → cost |corpus| × L / 2^b per query in expectation.
- IVF: corpus is partitioned by nearest centroid; a query probes its
  ``nprobe`` nearest partitions → cost |corpus| × nprobe / nlist. Centroids
  here come from any upstream step (per-label means in the catalog query;
  k-means at scale) — the operator takes them as data.
"""

from __future__ import annotations

import pandas as pd

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F
from pyspark.sql import types as T

from data_pipeline_team5_spark.functions.localframe import local_frame
from data_pipeline_team5_spark.functions.vectors import cosine_expr, dot_expr


# Expected vectors per LSH bucket the defaults aim for. Fixing occupancy —
# not bits — is what makes the defaults scale: bits grow with log2(n), so
# per-table candidate work stays ~TARGET_OCCUPANCY rows regardless of
# corpus size, and the recall loss per added bit is bought back with one
# extra multiprobe flip per bit (cost grows O(log n), never superlinear).
ANN_TARGET_OCCUPANCY = 16


def lsh_defaults(n_corpus: int) -> tuple[int, int, int]:
    """Corpus-size-derived ``(tables, bits, multiprobe)`` for sign-LSH
    (VERDICT r5 #4 — fixed defaults degraded as the corpus grew: recall
    0.82→0.66 moving sf0.001→sf0.01 at a fixed 24×6).

    bits = ceil(log2(n / TARGET_OCCUPANCY)) keeps expected bucket
    occupancy constant; multiprobe = bits − 5 flips one extra
    weakest-margin bit per added bit, which on the near-random fixture
    buys back the per-bit recall loss. Measured on the fixtures (seeded,
    deterministic): n=500 → (24, 5, 1) recall 0.96/1.00 (sf0.001/sf0.01);
    n=2000 → (24, 7, 2) recall 0.90 (sf0.1); all ≥ the 0.8 gate pinned in
    tests/test_similarity.py, with per-query candidate cost ≈
    tables × (1+multiprobe) × TARGET_OCCUPANCY — O(log n).
    """
    import math

    bits = min(16, max(4, math.ceil(math.log2(max(n_corpus, 2) / ANN_TARGET_OCCUPANCY))))
    return 24, bits, max(1, bits - 5)


def ivf_defaults(nlist: int) -> int:
    """Corpus-derived ``nprobe`` for IVF with WEAK centroids (per-label
    means over weakly-clustered data — the catalog's fixture regime, where
    the nearest-centroid signal is faint and a query's true neighbors
    scatter across many lists): probe 70% of lists (measured: nprobe=7 of
    nlist=10 → recall 0.82-0.94 across SFs; nprobe=5 sat at 0.66-0.76).
    With real k-means centroids the fraction falls toward the classic
    nprobe ≈ sqrt(nlist); callers with trained indexes should pass nprobe
    explicitly — this default is honest about untrained ones."""
    import math

    return max(2, math.ceil(0.7 * nlist))


def _rerank_topk(scored: DataFrame, k: int) -> DataFrame:
    """Shared exact rerank: top-k per query with the repo-wide
    deterministic tiebreak (cosine DESC, vec_id ASC) — one definition so a
    tiebreak change can never diverge between the brute-force baseline and
    the ANN paths."""
    w = Window.partitionBy("q_id").orderBy(
        F.desc("cosine"), F.asc("vec_id")
    )
    return (
        scored.withColumn("rank_k", F.row_number().over(w))
        .filter(F.col("rank_k") <= k)
    )


def cosine_topk(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 10,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Brute-force cosine top-k: every query against every corpus vector.

    ``queries`` must be small (it is broadcast); the corpus side streams
    through one pass. Deterministic tiebreak (cosine DESC, vec_id ASC).
    """
    q = queries.select(
        F.col(id_col).alias("q_id"), F.col(vec_col).alias("q_vec")
    )
    c = corpus.select(
        F.col(id_col).alias("vec_id"), F.col(vec_col).alias("c_vec")
    )
    pairs = c.join(
        F.broadcast(q), F.col("vec_id") != F.col("q_id")
    ).select(
        "q_id",
        "vec_id",
        cosine_expr(F.col("q_vec"), F.col("c_vec")).alias("cosine"),
    )
    return _rerank_topk(pairs, k)


def hyperplane_df(spark, dim: int, tables: int, bits: int, seed: int = 7):
    """Deterministic random hyperplanes as a (table, bit, plane) DataFrame.

    Generated with a seeded ``numpy`` RNG and shipped as *data* (broadcast),
    not as literal expression trees — 1000+ literals in a lambda would blow
    up codegen the same way inlined token chains did (operators/dedup.py).
    """
    import numpy as np

    rng = np.random.default_rng(seed)
    rows = [
        (t, b, [float(x) for x in rng.standard_normal(dim)])
        for t in range(tables)
        for b in range(bits)
    ]
    # local_frame (round 17, guide §4): LocalTableScan — the plane table
    # is broadcast into every probe; as a pickled RDD each evaluation
    # (corpus bucketing AND query multiprobe) paid 32 Python-worker tasks.
    return local_frame(
        spark, rows, "tbl INT, bit INT, plane ARRAY<DOUBLE>"
    )


def _plane_signs(
    vectors: DataFrame, planes: DataFrame, id_col: str, vec_col: str
) -> DataFrame:
    """Per (vector, table, bit): the bit mask and the signed margin — the
    ONE definition of the sign convention shared by corpus bucketing and
    query-side multiprobe (a second copy could silently diverge and
    collapse recall with no error)."""
    keyed = vectors.select(
        F.col(id_col).alias("vec_id"), F.col(vec_col).alias("v")
    )
    return keyed.join(F.broadcast(planes)).select(
        "vec_id",
        "tbl",
        # python F.shiftleft takes a literal shift; the SQL form shifts by
        # column
        F.expr("shiftleft(CAST(1 AS BIGINT), bit)").alias("mask"),
        dot_expr(F.col("v"), F.col("plane")).alias("dot"),
    )


def _bucket_agg():
    """bucket = Σ mask over bits whose margin is positive."""
    return F.sum(
        F.when(F.col("dot") > 0, F.col("mask")).otherwise(F.lit(0))
    ).alias("bucket")


def lsh_bucket(
    vectors: DataFrame,
    planes: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Sign-bucket every vector per LSH table: bucket = Σ (dot(v, plane_b)
    > 0) << b. One broadcast join + one groupBy — a single pass over the
    corpus regardless of L × b."""
    signs = _plane_signs(vectors, planes, id_col, vec_col)
    return signs.groupBy("vec_id", "tbl").agg(_bucket_agg())


def _margin_probes(
    queries: DataFrame,
    planes: DataFrame,
    m: int,
    id_col: str,
    vec_col: str,
) -> DataFrame:
    """(q_id, tbl, bucket) probe rows: the exact bucket plus, per table,
    the ``m`` single-bit flips of the smallest-|margin| bits."""
    signs = _plane_signs(queries, planes, id_col, vec_col).withColumnRenamed(
        "vec_id", "q_id"
    )
    per_tbl = signs.groupBy("q_id", "tbl").agg(
        _bucket_agg(),
        # bits ordered by |margin| ascending: the flip candidates
        F.slice(
            F.array_sort(
                F.collect_list(F.struct(F.abs("dot").alias("m"), "mask"))
            ),
            1,
            m,
        ).alias("weak"),
    )
    probes = F.concat(
        F.array(F.col("bucket")),
        F.transform(
            "weak", lambda w: F.col("bucket").bitwiseXOR(w["mask"])
        ),
    )
    return per_tbl.select(
        "q_id", "tbl", F.explode(probes).alias("bucket")
    )


def lsh_topk(
    corpus: DataFrame,
    queries: DataFrame,
    planes: DataFrame,
    k: int = 10,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    multiprobe: int = 0,
) -> DataFrame:
    """ANN top-k via multi-table sign-LSH: candidates share a bucket in ≥1
    table; exact cosine re-ranks candidates only.

    ``multiprobe=m`` additionally probes, per table, the ``m`` buckets
    reached by flipping the query's weakest sign bits — the bits whose
    hyperplane margin |dot(q, plane)| was smallest, i.e. where a near
    neighbor most plausibly landed on the other side (query-directed
    multiprobe, Lv et al., VLDB'07). Probing is on the tiny QUERY side
    only; the corpus index is untouched, so the cost is (1+m)× more
    candidate-bucket lookups, not another corpus pass or more tables.
    """
    cb = lsh_bucket(corpus, planes, id_col, vec_col)
    qb = (
        _margin_probes(queries, planes, multiprobe, id_col, vec_col)
        if multiprobe
        else lsh_bucket(queries, planes, id_col, vec_col).withColumnRenamed(
            "vec_id", "q_id"
        )
    )
    cand = (
        qb.join(cb, ["tbl", "bucket"])
        .filter(F.col("q_id") != F.col("vec_id"))
        .select("q_id", "vec_id")
        .distinct()
    )
    q = queries.select(
        F.col(id_col).alias("q_id"), F.col(vec_col).alias("q_vec")
    )
    c = corpus.select(
        F.col(id_col).alias("vec_id"), F.col(vec_col).alias("c_vec")
    )
    scored = (
        cand.join(F.broadcast(q), "q_id")
        .join(c, "vec_id")
        .select(
            "q_id",
            "vec_id",
            cosine_expr(F.col("q_vec"), F.col("c_vec")).alias("cosine"),
        )
    )
    return _rerank_topk(scored, k)


def cosine_pandas_udf():
    """Scalar Arrow-vectorized cosine (§2.10): the numpy/BLAS drop-in for
    :func:`functions.vectors.cosine_expr` on hot paths where a JVM fold is
    measurably slower than one Arrow transfer + BLAS.

    NOT used by oracle-checked queries: BLAS reassociates the reduction, so
    results can differ from the sequential fold in the last ulp —
    tests/test_similarity.py pins the two within 1e-12 relative error.
    """
    import numpy as np

    def _cos(a: pd.Series, b: pd.Series) -> pd.Series:
        out = np.empty(len(a))
        dens = np.empty(len(a))
        for i, (x, y) in enumerate(zip(a, b)):
            xv = np.asarray(x, dtype=np.float64)
            yv = np.asarray(y, dtype=np.float64)
            den = np.sqrt(np.dot(xv, xv)) * np.sqrt(np.dot(yv, yv))
            dens[i] = den
            out[i] = np.dot(xv, yv) / den if den else 0.0
        # zero-norm → NULL (nullable Float64), matching the JVM fold where
        # x/0.0 is NULL in Spark SQL — a NaN here would silently poison
        # downstream comparisons instead
        return pd.Series(pd.array(out, dtype="Float64")).mask(dens == 0.0)

    return F.pandas_udf(_cos, "double")


def centroids_by(
    vectors: DataFrame,
    group_col: str,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Per-group centroid via posexplode + per-dimension mean, reassembled
    into an array — the IVF list-building step (k-means update at scale is
    this exact shape iterated).

    Elements are quantized with ``floor(x·1e7)`` (exact on doubles, no
    rounding ties — engines disagree on decimal tie rounding) and summed as
    integers, so the mean is shuffle-order-independent and bitwise equal to
    the DuckDB oracle. 1e-7 quantization is below float32's own precision,
    so the centroid loses nothing the input ever had.

    Round-18 note: a no-explode variant (64 ``element_at`` sum slots in
    one groupBy — one exchange instead of two) was tried and REVERTED on
    measurement: inside the k-means loop the per-iteration centroid
    literals force a whole-stage-codegen recompile of the combined
    assign+aggregate stage, and the 64-slot aggregate's generated code is
    large enough that the recompile (~0.4 s/iteration) outweighs the saved
    exchange at any SF where the update isn't shuffle-bound
    (OPTIMIZATION_r18.md has the A/B).
    """
    exploded = vectors.select(
        F.col(group_col).alias("grp"),
        F.posexplode(F.col(vec_col)).alias("pos", "x"),
    )
    q = F.floor(F.col("x").cast("double") * F.lit(1e7)).cast("long")
    dim_means = exploded.groupBy("grp", "pos").agg(
        (
            F.sum(q).cast("double") / F.lit(1e7) / F.count("x")
        ).alias("m")
    )
    return dim_means.groupBy("grp").agg(
        F.transform(
            F.array_sort(
                F.collect_list(F.struct(F.col("pos"), F.col("m")))
            ),
            lambda s: s.m,
        ).alias("centroid")
    )


def ivf_topk(
    corpus: DataFrame,
    queries: DataFrame,
    centroids: DataFrame,
    k: int = 10,
    nprobe: int = 2,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """IVF probe: assign corpus vectors to their nearest centroid (one
    broadcast pass), route each query to its ``nprobe`` nearest lists, and
    search only those lists. Search cost ≈ |corpus| × nprobe / nlist."""

    def assign(df: DataFrame, out: str, n: int) -> DataFrame:
        scored = df.join(F.broadcast(centroids)).select(
            df["*"],
            F.col("grp"),
            cosine_expr(F.col(vec_col), F.col("centroid")).alias("_c"),
        )
        w = Window.partitionBy(id_col).orderBy(F.desc("_c"), F.asc("grp"))
        return (
            scored.withColumn("_rn", F.row_number().over(w))
            .filter(F.col("_rn") <= n)
            .select(df["*"], F.col("grp").alias(out))
        )

    c_assigned = assign(corpus, "list_id", 1)
    q_assigned = assign(queries, "list_id", nprobe)
    q = q_assigned.select(
        F.col(id_col).alias("q_id"),
        F.col(vec_col).alias("q_vec"),
        "list_id",
    )
    c = c_assigned.select(
        F.col(id_col).alias("vec_id"),
        F.col(vec_col).alias("c_vec"),
        "list_id",
    )
    # No distinct: each corpus vector lives in exactly ONE list
    # (assign(..., 1) is row_number == 1), so a (q_id, vec_id) pair occurs
    # at most once — a dedup here would only add a full extra shuffle of
    # every scored pair.
    scored = (
        c.join(F.broadcast(q), "list_id")
        .filter(F.col("q_id") != F.col("vec_id"))
        .select(
            "q_id",
            "vec_id",
            cosine_expr(F.col("q_vec"), F.col("c_vec")).alias("cosine"),
        )
    )
    return _rerank_topk(scored, k)


def kmeans_assign(
    vectors: DataFrame,
    centroids: list[list[float]],
    vec_col: str = "embedding",
) -> DataFrame:
    """Assign each vector to its nearest centroid (squared Euclidean) with
    the centroids inlined as LITERALS — k is small (MLlib's KMeans makes
    the same call: centroids are driver state broadcast per iteration), so
    assignment is a pure shuffle-free projection inside the scan stage.

    Construction is ONE ``F.expr`` parse of a generated SQL string rather
    than per-dimension ``F.lit`` / Python-lambda Column building: the
    Column route costs ~1 s of Py4J round-trips PER CALL at k=8 × dim=64
    (round-9 profile — it dominated the whole k-means fit, 4 calls ≈
    3.6 s of driver-side expression construction), while the string
    parses JVM-side in ~0.1 s. Semantics are bit-identical to the old
    tree and to the pure-Python mirror in tests/test_clustering.py:
    distances use the same sequential zip_with/aggregate fold (double
    literals embedded via ``CAST('<repr>' AS DOUBLE)`` — repr round-trips
    and string→double parse is correctly rounded, so the JVM sees the
    exact same doubles), the minimum is ``array_min`` over the k distance
    slots, and ``array_position`` returns the FIRST slot equal to it —
    the same smaller-cluster-id tie-break as the old when-chain walk.
    Adds ``cluster`` (int) and ``_sqd`` (double, distance to the winner).
    """
    from data_pipeline_team5_spark.functions.vectors import sqdist_sql_spark

    vec = f"`{vec_col}`"
    d = "array(" + ",".join(
        sqdist_sql_spark(vec, c) for c in centroids
    ) + ")"
    s = F.expr(
        "named_struct("
        f"'cluster', CAST(array_position({d}, array_min({d})) - 1 AS INT), "
        f"'_sqd', array_min({d}))"
    )
    return (
        vectors.select("*", s.alias("_assign"))
        .select("*", "_assign.cluster", "_assign._sqd")
        .drop("_assign")
    )


def kmeans_fit(
    vectors: DataFrame,
    k: int = 8,
    iters: int = 3,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> tuple[DataFrame, list[list[float]]]:
    """Lloyd's k-means over an embedding column, deterministic end-to-end:

    - init: the ``k`` vectors with the smallest ids (seedless — reruns and
      independent reimplementations agree without sharing an RNG);
    - assignment: :func:`kmeans_assign` (shuffle-free map projection);
    - update: :func:`centroids_by` on the cluster column — per-dimension
      means via floor-1e7 integer-quantized sums, so new centroids are
      bit-identical regardless of partitioning/shuffle order (the property
      every other deterministic claim here rests on);
    - empty clusters keep their previous centroid (standard Lloyd's).

    Driver involvement per iteration is ONE collect of k×dim doubles (the
    new centroids) — identical to MLlib's iteration shape; the corpus is
    never collected. Cost per iteration at 100 TB: one scan (assignment is
    map-side) + one k×dim-key aggregate with map-side partial combine.
    Returns (assignment DataFrame under the FINAL centroids, centroids).
    """
    from data_pipeline_team5_spark.operators.ranks import _pin

    # Pin + release (round 18, guide §2.4/§5 — the MLlib discipline of
    # caching the training input of an iterative algorithm): the vector
    # frame is re-evaluated per iteration (the init fetch plus ``iters``
    # update jobs), so each pass reads the materialized partitions
    # instead of re-running the scan/slice chain. The pin is RELEASED
    # before returning (the select-k convention, not the retention one:
    # kmeans input is corpus-sized, and pq_fit/knn_pq would otherwise
    # retain 4-8 corpus pins per call) — the returned final assignment
    # is built over the caller's original frame, paying one ordinary
    # scan. NOT rebalanced: an A/B (OPTIMIZATION_r18.md) measured a
    # round-robin rebalance here as a steady-state loss — the serial-looking
    # first-pass assign stage was codegen compile (the per-iteration
    # centroid literals force a recompile), not compute, so widening the
    # pin bought nothing and paid a shuffle.
    pinned, release = _pin(vectors)
    try:
        init = (
            pinned.orderBy(F.asc(id_col))
            .limit(k)
            .select(vec_col)
            .collect()
        )
        cents: list[list[float]] = [list(r[0]) for r in init]
        if not cents:
            raise ValueError("kmeans_fit: no vectors to cluster")
        k = len(cents)  # k > |vectors| degrades to one cluster per vector
        for _ in range(iters):
            assigned = kmeans_assign(pinned, cents, vec_col)
            new = {
                r["grp"]: list(r["centroid"])
                for r in centroids_by(
                    assigned, "cluster", id_col=id_col, vec_col=vec_col
                ).collect()
            }
            cents = [new.get(i, cents[i]) for i in range(k)]
    finally:
        release()
    return kmeans_assign(vectors, cents, vec_col), cents


def pq_fit(
    vectors: DataFrame,
    m_blocks: int = 4,
    k: int = 8,
    iters: int = 2,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> tuple[DataFrame, list[list[list[float]]]]:
    """Product quantization (Jégou et al. 2011, "Product quantization for
    nearest neighbor search"): split each vector into ``m_blocks``
    contiguous sub-vectors and k-means each block independently — a
    vector compresses to ``m_blocks`` small code ids (here 4 bytes
    replacing 256) whose per-block centroid distances reconstruct
    approximate distances. The third ANN scale path beside sign-LSH and
    IVF: IVF prunes WHICH vectors to score, PQ shrinks WHAT is stored
    and scored per vector — FAISS's IVF-PQ composes both.

    Everything reuses :func:`kmeans_fit`'s deterministic machinery
    (smallest-id init, quantized-mean updates), so codebooks and codes
    are bit-identical across reruns/partitionings and reproducible by an
    independent sequential implementation. Per-block cost = kmeans_fit's
    (one scan + one k×(dim/M)-key agg per iteration); the M fits share
    nothing and could run concurrently from a thread pool on a cluster.

    Returns (codes DataFrame: id, block, code, sqd; codebooks
    [block][code][dim/M]).
    """
    head = vectors.select(vec_col).first()
    if head is None or head[0] is None:
        raise ValueError("pq_fit: no vectors to quantize")
    dim = len(head[0])
    if dim % m_blocks:
        raise ValueError(f"pq_fit: dim {dim} not divisible by {m_blocks}")
    step = dim // m_blocks
    out = None
    books: list[list[list[float]]] = []
    for b in range(m_blocks):
        block_vecs = vectors.select(
            id_col, F.slice(vec_col, b * step + 1, step).alias("_bv")
        )
        assigned, cents = kmeans_fit(
            block_vecs, k=k, iters=iters, id_col=id_col, vec_col="_bv"
        )
        books.append(cents)
        part = assigned.select(
            id_col,
            F.lit(b).alias("block"),
            F.col("cluster").alias("code"),
            F.col("_sqd").alias("sqd"),
        )
        out = part if out is None else out.unionByName(part)
    return out, books


# Literal-ADC expression budget: |queries| * m_blocks * k_codes double
# literals in ONE parsed SQL string. 131072 doubles ~ 3 MB of expression
# text — past that, driver-side parse time dominates the query.
_MAX_ADC_ENTRIES = 131_072


def pq_shortlist(n_corpus: int, k: int) -> int:
    """Corpus-size-derived ADC shortlist factor (the lsh_defaults/
    ivf_defaults discipline — VERDICT r5 #4: defaults must scale with the
    corpus, not be fixed where they happen to pass the small fixture):
    rerank max(12, n/(10k)) × k candidates. On the fixture's near-random
    vectors (the hardest ANN regime — see tests/test_similarity.py) this
    measures recall 0.94 / 0.96 / 0.84 at sf0.001/0.01/0.1 with an 8×16
    codebook; clustered real embeddings need smaller shortlists."""
    import math

    return max(12, math.ceil(n_corpus / (10 * k)))


def pq_topk(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 10,
    m_blocks: int = 8,
    k_codes: int = 16,
    iters: int = 2,
    shortlist: int = 12,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """ANN top-k via product quantization with asymmetric distance
    computation (ADC, Jégou 2011) and exact rerank:

    1. :func:`pq_fit` once (the stored index — 4 codes/vector);
    2. per query, a tiny driver-side distance table dt[block][code] =
       sqdist(query sub-vector, codebook centroid) — M×K×(dim/M) flops,
       the k-means-centroid discipline (model state, never corpus rows);
    3. the approximate distance of EVERY corpus vector to every query is
       then M table lookups summed — embedded as one literal 3-D array,
       folded map-side inside codegen; no vector arithmetic per pair;
    4. the ``shortlist × k`` best per query by ADC distance rerank with
       exact cosine (the stored full vectors are fetched only for the
       shortlist — at 100 TB the 256-byte vectors stay cold, the 4-byte
       codes are the hot working set).

    Per-(query, vector) cost drops from dim multiplies to M lookups —
    the storage/computation side of ANN that composes with IVF's
    candidate pruning (FAISS IVF-PQ runs ADC inside probed lists only).

    The query id column may be any orderable type — the broadcast query
    frames inherit its exact Spark type from ``queries``'s schema. The
    per-query distance tables embed as ONE literal 3-D array in the
    generated SQL, so the QUERY BATCH is capped (``_MAX_ADC_ENTRIES``
    literal doubles ≈ a few MB of expression tree; beyond that the
    driver-side parse dominates) — run larger query sets in batches of
    ``_MAX_ADC_ENTRIES / (m_blocks * k_codes)`` queries (ADVICE r9).
    """
    spark = corpus.sparkSession
    # validate the query batch BEFORE pq_fit — the fit is the expensive
    # corpus-scale stage (m_blocks k-means passes), and the cap needs
    # only the cheap query-side collect
    qrows = queries.select(id_col, vec_col).collect()
    if not qrows:
        raise ValueError("pq_topk: empty query set")
    n_entries = len(qrows) * m_blocks * k_codes
    if n_entries > _MAX_ADC_ENTRIES:
        raise ValueError(
            f"pq_topk: {len(qrows)} queries × {m_blocks} blocks × "
            f"{k_codes} codes = {n_entries} literal ADC entries exceeds "
            f"{_MAX_ADC_ENTRIES} (SQL parse-size hazard) — run the "
            f"query set in batches of "
            f"{_MAX_ADC_ENTRIES // (m_blocks * k_codes)}"
        )
    codes, books = pq_fit(
        corpus, m_blocks=m_blocks, k=k_codes, iters=iters,
        id_col=id_col, vec_col=vec_col,
    )
    code_rows = codes.groupBy(id_col).agg(
        F.transform(
            F.array_sort(F.collect_list(F.struct("block", "code"))),
            lambda s: s.code,
        ).alias("_codes")
    )
    dim = len(qrows[0][1])
    step = dim // m_blocks

    def sqd(a, b):
        acc = 0.0
        for x, y in zip(a, b):
            acc += (x - y) * (x - y)
        return acc

    dt = [
        [
            [
                sqd(list(qv)[b * step:(b + 1) * step], books[b][c])
                for c in range(len(books[b]))
            ]
            for b in range(m_blocks)
        ]
        for _, qv in qrows
    ]
    lit = "array(" + ",".join(
        "array(" + ",".join(
            "array(" + ",".join(
                f"CAST('{float(v)!r}' AS DOUBLE)" for v in row
            ) + ")"
            for row in tbl
        ) + ")"
        for tbl in dt
    ) + ")"
    # inherit the id column's exact Spark type — non-integer query ids
    # (string doc ids, UUIDs) work unchanged (ADVICE r9)
    id_type = queries.schema[id_col].dataType
    qidx = local_frame(
        spark,
        [(qid, i) for i, (qid, _) in enumerate(qrows)],
        T.StructType(
            [
                T.StructField("q_id", id_type),
                T.StructField("_qi", T.IntegerType()),
            ]
        ),
    )
    approx = F.expr(
        f"aggregate(sequence(0, {m_blocks - 1}), CAST(0.0 AS DOUBLE), "
        f"(acc, b) -> acc + element_at(element_at(element_at({lit}, "
        f"_qi + 1), b + 1), element_at(_codes, b + 1) + 1))"
    )
    cand = (
        code_rows.crossJoin(F.broadcast(qidx))
        .filter(F.col(id_col) != F.col("q_id"))
        .select("q_id", id_col, approx.alias("_adc"))
    )
    w = Window.partitionBy("q_id").orderBy(F.asc("_adc"), F.asc(id_col))
    short = (
        cand.withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") <= shortlist * k)
        .select("q_id", id_col)
    )
    qvecs = local_frame(
        spark,
        [(qid, list(map(float, qv))) for qid, qv in qrows],
        T.StructType(
            [
                T.StructField("q_id", id_type),
                T.StructField(
                    "q_vec", T.ArrayType(T.DoubleType())
                ),
            ]
        ),
    )
    scored = (
        short.join(
            corpus.select(id_col, F.col(vec_col).alias("c_vec")), id_col
        )
        .join(F.broadcast(qvecs), "q_id")
        .select(
            "q_id",
            id_col,
            cosine_expr(
                F.col("q_vec"), F.col("c_vec").cast("array<double>")
            ).alias("cosine"),
        )
    )
    return _rerank_topk(scored, k)
