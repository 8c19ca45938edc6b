"""Model-based quality filters as ENGINE OPERATORS (round 14): the
CCNet reference-LM perplexity scorer and the fastText/DCLM-style
supervised classifier, parameterized by an arbitrary reference corpus
so the curation pipeline can consume them — the catalog queries
(plans/text_family.py lm_perplexity_filter / quality_classifier_filter)
are thin wrappers fixing reference = the fixture's doc_id%7 slice.

Both follow the proven literal-model plan discipline (the measured 110×
plan-shape lesson, text_family.py lm_perplexity_filter):

- model state is FIXED-SIZE and computed DRIVER-SIDE in CPython
  (512 log2 probs / 512 logistic weights + bias) — Spark never runs
  log/exp, so pure-Python mirrors reproduce every double bit-for-bit;
- scoring is ONE map-side HOF fold per doc over its in-row bigram
  array, with the model bound as ONE literal array column BEFORE the
  lambda (never spliced inside it — an interpreted HOF re-constructs
  an inline literal per element);
- tokens bind to a column before the ngram lambda; the gram array is
  consumed with NO filter on any token-derived value (filters on the
  returned score frame belong AFTER a checkpoint barrier, where
  predicate pushdown cannot re-inline the chain into the scan).

Construction plans are swept for scale-killers via the catalog
wrappers (tests/test_plan_invariants.py).
"""

from __future__ import annotations

import math

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

LM_BUCKETS = 512  # hashed-bigram dim shared by both models (the
# literal-array discipline caps model state; KenLM's full 5-gram table
# is the unbounded thing this replaces)
CLS_TRAIN_CAP = 64  # classifier training docs — fixed driver state
CLS_LR = 5.0
CLS_ITERS = 1000


def _bucket_sql(g: str, buckets: int) -> str:
    from data_pipeline_team5_spark.operators.textops import (
        hashed_bucket_sql,
    )

    return hashed_bucket_sql(g, buckets)


def _bigram_frame(
    docs: DataFrame, id_col: str, text_col: str
) -> DataFrame:
    """(id, _g bigram array) with the tokens bound to a column first.

    The input scan is not rebalanced to core width: a steady-state A/B
    at sf0.1 put lm_perplexity_filter at 4.32 s with a round-robin
    rebalance vs 2.24 s without (qcls 2.86 vs 2.38). The fit/score folds
    are light enough per row that the exchange plus the extra AQE
    stage-job cost more than the widened map work saved; the serial
    scoring task was first-pass codegen compile, not compute.
    Details in OPTIMIZATION_r18.md."""
    from data_pipeline_team5_spark.operators.textops import (
        ngrams_expr,
        tokens_expr,
    )

    base = docs.select(
        F.col(id_col), tokens_expr(text_col).alias("_t")
    )
    return base.select(id_col, ngrams_expr("_t", 2).alias("_g"))


def smoothed_log2_table(c: list[int], buckets: int) -> list[float]:
    """The +1-smoothed log2-probability table from a bucket-count list —
    THE model math, single-sourced (review r14: the per-language catalog
    variant had re-inlined it; a smoothing change must hit every variant
    or the bit-for-bit mirrors silently diverge)."""
    tot = sum(c) + buckets
    return [math.log2((c[b] + 1) / tot) for b in range(buckets)]


def fit_hashed_bigram_lm(
    reference: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    buckets: int = LM_BUCKETS,
) -> list[float]:
    """+1-smoothed hashed-bigram log2-probability table fit on
    ``reference`` — one scan of the REFERENCE only; the collect is the
    ≤``buckets``-row count table (fixed-size model state), the log2s
    run in CPython."""
    counts = (
        _bigram_frame(reference, id_col, text_col)
        .select(
            F.explode(F.coalesce(F.col("_g"), F.array())).alias("g")
        )
        .groupBy(F.expr(_bucket_sql("g", buckets)).alias("b"))
        .agg(F.count(F.lit(1)).alias("c"))
        .collect()
    )
    c = [0] * buckets
    for r in counts:
        c[r["b"]] = r["c"]
    return smoothed_log2_table(c, buckets)


def literal_array_sql(values: list[float]) -> str:
    """repr-exact DOUBLE array literal — the literal-model embedding
    (string→double parse is correctly rounded, so the plan carries the
    driver-computed doubles bit-for-bit)."""
    return (
        "array("
        + ",".join(f"CAST('{float(v)!r}' AS DOUBLE)" for v in values)
        + ")"
    )


def lm_bits_expr(buckets: int) -> Column:
    """The bits-per-bigram scoring fold over a bound ``_g`` bigram array
    and a bound ``_lp`` log-prob array column — THE scoring shape,
    single-sourced (the proven HOF discipline; the per-language variant
    reuses it with ``_lp`` resolved by a map lookup). The CASE guard is
    projection-level, never a filter (see module doc)."""
    return F.expr(
        f"CASE WHEN size(_g) = 0 THEN CAST(NULL AS DOUBLE) ELSE "
        f"(-aggregate(transform(_g, g -> element_at(_lp, "
        f"{_bucket_sql('g', buckets)} + 1)), CAST(0.0 AS DOUBLE), "
        "(acc, x) -> acc + x)) / CAST(size(_g) AS DOUBLE) END"
    )


def lm_score_frame(
    docs: DataFrame,
    logp: list[float],
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """(id, n_bigrams, ppl_bits) — bits-per-bigram of every doc under a
    fitted table (:func:`fit_hashed_bigram_lm`). Map-side only; <2-token
    docs score NULL (projection-level CASE, never a filter — see module
    doc). Callers that filter or consume the frame more than once must
    checkpoint it first (the catalog wrapper does)."""
    bits = lm_bits_expr(len(logp))
    return (
        _bigram_frame(docs, id_col, text_col)
        .withColumn("_lp", F.expr(literal_array_sql(logp)))
        .select(
            id_col,
            F.size("_g").alias("n_bigrams"),
            bits.alias("ppl_bits"),
        )
    )


def _perm_tokens_sql(t: str) -> str:
    """Deterministic token permutation (the classifier's negative-class
    generator): sort by (md5('token#pos'), token) — a reproducible
    shuffle with no RNG, identical in the hashlib mirror."""
    return (
        f"transform(array_sort(transform({t}, (tok, i) -> "
        f"named_struct('h', md5(concat(tok, '#', CAST(i AS STRING))), "
        f"'t', tok))), s -> s.t)"
    )


def classifier_train_features(
    reference: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    buckets: int = LM_BUCKETS,
    cap: int = CLS_TRAIN_CAP,
) -> DataFrame:
    """Sparse (id, label, b, c) bucket counts for the capped training
    sample's natural (label 1) and permuted (label 0) bigram streams.
    Collected volume ≤ 2 × cap × buckets at ANY corpus size: the cap is
    a TakeOrderedAndProject on (md5(id), id), the token read joins it
    BROADCAST."""
    from data_pipeline_team5_spark.operators.textops import (
        ngrams_expr,
        tokens_expr,
    )

    base = reference.select(
        F.col(id_col), tokens_expr(text_col).alias("_t")
    )
    capped = (
        base.select(
            id_col, F.md5(F.col(id_col).cast("string")).alias("_h")
        )
        .orderBy("_h", id_col)
        .limit(cap)
        .select(id_col)
    )
    train = base.join(F.broadcast(capped), id_col)
    nat = train.select(
        id_col, F.lit(1).alias("label"), ngrams_expr("_t", 2).alias("_g")
    )
    perm = train.select(
        id_col, F.expr(_perm_tokens_sql("`_t`")).alias("_p")
    ).select(
        id_col, F.lit(0).alias("label"), ngrams_expr("_p", 2).alias("_g")
    )
    return (
        nat.unionByName(perm)
        .select(
            id_col,
            "label",
            F.explode(F.coalesce(F.col("_g"), F.array())).alias("g"),
        )
        .groupBy(
            id_col, "label", F.expr(_bucket_sql("g", buckets)).alias("b")
        )
        .agg(F.count(F.lit(1)).alias("c"))
    )


def fit_quality_classifier(
    reference: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    buckets: int = LM_BUCKETS,
    cap: int = CLS_TRAIN_CAP,
    lr: float = CLS_LR,
    iters: int = CLS_ITERS,
) -> tuple[list[float], float]:
    """(weights, bias) — deterministic full-batch logistic GD in pure
    Python (no numpy/BLAS: threaded summation order is machine-
    dependent and would break the bit-for-bit mirror). Canonical
    orders, which the mirror replicates: examples sorted by (id,
    label); buckets ascending; x = count/n; stable sigmoid; w -=
    lr·gw/N after each full pass."""
    rows = classifier_train_features(
        reference, id_col, text_col, buckets, cap
    ).collect()
    ex: dict[tuple, dict[int, int]] = {}
    for r in rows:
        ex.setdefault((r[id_col], r["label"]), {})[r["b"]] = r["c"]
    examples = []
    for key in sorted(ex):
        counts = ex[key]
        n = float(sum(counts.values()))
        examples.append(
            (key[1], [(b, counts[b] / n) for b in sorted(counts)])
        )
    if not examples:
        # ADVICE r14: without this the first GD pass divides by
        # n_ex = 0.0 — an opaque ZeroDivisionError far from the cause
        raise ValueError(
            "fit_quality_classifier: the quality reference produced no "
            "scoreable training docs (empty reference, or every sampled "
            "doc has fewer than 2 tokens)"
        )
    return _fit_logistic(examples, buckets, lr, iters)


def _fit_logistic(
    examples: list, buckets: int, lr: float, iters: int
) -> tuple[list[float], float]:
    """THE GD core, single-sourced (round 15: the per-language fit
    reuses it verbatim — a step-rule change must hit every variant or
    the bit-for-bit mirrors silently diverge). ``examples`` must
    already be in canonical order (sorted by (id, label), buckets
    ascending within each)."""
    w = [0.0] * buckets
    b = 0.0
    n_ex = float(len(examples))
    for _ in range(iters):
        gw = [0.0] * buckets
        gb = 0.0
        for y, feats in examples:
            z = b
            for bk, x in feats:
                z = z + w[bk] * x
            if z >= 0:
                p = 1.0 / (1.0 + math.exp(-z))
            else:
                e = math.exp(z)
                p = e / (1.0 + e)
            err = p - float(y)
            for bk, x in feats:
                gw[bk] = gw[bk] + err * x
            gb = gb + err
        for j in range(buckets):
            w[j] = w[j] - lr * gw[j] / n_ex
        b = b - lr * gb / n_ex
    return w, b


def classifier_score_frame(
    docs: DataFrame,
    weights: list[float],
    bias: float,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """(id, n_bigrams, logit) — mean of per-gram bucket weights plus
    bias (fastText's averaged linear score). Sums and divides only, so
    the JVM fold is bit-for-bit the mirror's CPython fold; keep =
    logit > 0 ⟺ P(clean) > 0.5 (sigmoid is monotone — the threshold
    lives on the logit and Spark never runs exp)."""
    buckets = len(weights)
    logit: Column = F.expr(
        f"CASE WHEN size(_g) = 0 THEN CAST(NULL AS DOUBLE) ELSE "
        f"(aggregate(transform(_g, g -> element_at(_w, "
        f"{_bucket_sql('g', buckets)} + 1)), CAST(0.0 AS DOUBLE), "
        f"(acc, x) -> acc + x) / CAST(size(_g) AS DOUBLE)) "
        f"+ CAST('{float(bias)!r}' AS DOUBLE) END"
    )
    return (
        _bigram_frame(docs, id_col, text_col)
        .withColumn("_w", F.expr(literal_array_sql(weights)))
        .select(
            id_col,
            F.size("_g").alias("n_bigrams"),
            logit.alias("logit"),
        )
    )


# ---------------------------------------------------------------------------
# Per-language classifier (round 15, VERDICT r14 #3): CCNet's stack is
# per-language for BOTH signals — round 14 gave the LM filter its
# per-lang form (one log-prob table per language, plans/text_family.py
# _lm_lang_scored_frame); this is the classifier's grouped companion.
# Same disciplines: bounded driver state (|langs| × (512 weights +
# bias)), model bound as ONE literal map column before the scoring
# lambda, pure-Python fit so mirrors are bit-for-bit.


def lang_literal_sql(lang: str) -> str:
    """SQL string literal for a language code (quote-escaped)."""
    return "'" + lang.replace("'", "''") + "'"


def capped_ids_by_lang(
    reference: DataFrame,
    id_col: str = "doc_id",
    lang_col: str = "lang",
    cap: int = CLS_TRAIN_CAP,
) -> DataFrame:
    """(lang, id): the ``cap`` smallest (md5(id), id) docs PER LANGUAGE
    — the per-lang training sample selector. Never a corpus-scale
    ``Window.partitionBy(lang)`` (a whole language in one task at
    100 TB): pass 1 ranks within (spark_partition_id, lang) — bounded
    by the task's own partition — and keeps ≤ cap per (partition,
    lang); pass 2 ranks the surviving ≤ P × |langs| × cap sliver per
    lang, which IS a lang-partitioned window but over sliver-sized
    input by construction (the grouped_rows_at_group_ranks trade).
    NULL-lang docs are excluded (no model to train)."""
    from pyspark.sql import Window

    pre = reference.filter(F.col(lang_col).isNotNull()).select(
        lang_col,
        id_col,
        F.md5(F.col(id_col).cast("string")).alias("_h"),
        F.spark_partition_id().alias("_pid"),
    )
    w1 = Window.partitionBy("_pid", lang_col).orderBy("_h", id_col)
    pruned = (
        pre.withColumn("_rn", F.row_number().over(w1))
        .filter(F.col("_rn") <= cap)
        .drop("_rn", "_pid")
    )
    w2 = Window.partitionBy(lang_col).orderBy("_h", id_col)
    return (
        pruned.withColumn("_rn", F.row_number().over(w2))
        .filter(F.col("_rn") <= cap)
        .select(lang_col, id_col)
    )


def classifier_train_features_by_lang(
    reference: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    lang_col: str = "lang",
    buckets: int = LM_BUCKETS,
    cap: int = CLS_TRAIN_CAP,
) -> DataFrame:
    """Sparse (lang, id, label, b, c) bucket counts for each language's
    capped natural + permuted training streams — the per-lang twin of
    :func:`classifier_train_features`. Collected volume ≤ |langs| × 2 ×
    cap × buckets at ANY corpus size (bounded by language cardinality,
    the k-means-centroid discipline); the token read joins the capped
    id set BROADCAST."""
    from data_pipeline_team5_spark.operators.textops import (
        ngrams_expr,
        tokens_expr,
    )

    base = reference.select(
        F.col(id_col), F.col(lang_col), tokens_expr(text_col).alias("_t")
    )
    capped = capped_ids_by_lang(reference, id_col, lang_col, cap).select(
        id_col
    )
    train = base.join(F.broadcast(capped), id_col)
    nat = train.select(
        lang_col,
        id_col,
        F.lit(1).alias("label"),
        ngrams_expr("_t", 2).alias("_g"),
    )
    perm = train.select(
        lang_col, id_col, F.expr(_perm_tokens_sql("`_t`")).alias("_p")
    ).select(
        lang_col,
        id_col,
        F.lit(0).alias("label"),
        ngrams_expr("_p", 2).alias("_g"),
    )
    return (
        nat.unionByName(perm)
        .select(
            lang_col,
            id_col,
            "label",
            F.explode(F.coalesce(F.col("_g"), F.array())).alias("g"),
        )
        .groupBy(
            lang_col,
            id_col,
            "label",
            F.expr(_bucket_sql("g", buckets)).alias("b"),
        )
        .agg(F.count(F.lit(1)).alias("c"))
    )


def fit_quality_classifier_by_lang(
    reference: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    lang_col: str = "lang",
    buckets: int = LM_BUCKETS,
    cap: int = CLS_TRAIN_CAP,
    lr: float = CLS_LR,
    iters: int = CLS_ITERS,
) -> dict[str, tuple[list[float], float]]:
    """lang → (weights, bias): one independently fit logistic model per
    language (CCNet practice), via the SAME single-sourced GD core and
    canonical orders as the global fit — so each language's model is
    bit-for-bit what :func:`fit_quality_classifier` would produce on
    that language's slice alone (pinned in tests/test_lm_quality.py).
    Languages whose reference slice yields no scoreable examples are
    simply ABSENT from the result (their docs score NULL downstream —
    the lm-by-lang unscoreable rule), never an error: one thin
    language must not kill a corpus-wide fit."""
    rows = classifier_train_features_by_lang(
        reference, id_col, text_col, lang_col, buckets, cap
    ).collect()
    per_lang: dict[str, dict[tuple, dict[int, int]]] = {}
    for r in rows:
        per_lang.setdefault(r[lang_col], {}).setdefault(
            (r[id_col], r["label"]), {}
        )[r["b"]] = r["c"]
    out: dict[str, tuple[list[float], float]] = {}
    for lang in sorted(per_lang):
        examples = []
        for key in sorted(per_lang[lang]):
            counts = per_lang[lang][key]
            n = float(sum(counts.values()))
            examples.append(
                (key[1], [(b, counts[b] / n) for b in sorted(counts)])
            )
        if examples:
            out[lang] = _fit_logistic(examples, buckets, lr, iters)
    return out


def classifier_score_frame_by_lang(
    docs: DataFrame,
    models: dict[str, tuple[list[float], float]],
    id_col: str = "doc_id",
    text_col: str = "text",
    lang_col: str = "lang",
) -> DataFrame:
    """(id, lang, n_bigrams, logit) — each doc scored under ITS OWN
    language's model, weights resolved by ONE map lookup bound to a
    column BEFORE the fold lambda (the _lm_lang_scored_frame
    discipline); bias rides in a second scalar map. Docs whose lang has
    no model (or with no bigram) score NULL. Sums/divides only — the
    per-lang pure-Python mirror reproduces every double bit-for-bit."""
    buckets = (
        len(next(iter(models.values()))[0]) if models else LM_BUCKETS
    )
    if models:
        w_entries = ", ".join(
            f"{lang_literal_sql(lang)}, "
            f"{literal_array_sql(models[lang][0])}"
            for lang in sorted(models)
        )
        b_entries = ", ".join(
            f"{lang_literal_sql(lang)}, "
            f"CAST('{float(models[lang][1])!r}' AS DOUBLE)"
            for lang in sorted(models)
        )
        wm_sql = f"map({w_entries})"
        bm_sql = f"map({b_entries})"
    else:
        wm_sql = "CAST(map() AS MAP<STRING, ARRAY<DOUBLE>>)"
        bm_sql = "CAST(map() AS MAP<STRING, DOUBLE>)"
    logit: Column = F.expr(
        f"CASE WHEN _w IS NULL OR size(_g) = 0 THEN "
        f"CAST(NULL AS DOUBLE) ELSE "
        f"(aggregate(transform(_g, g -> element_at(_w, "
        f"{_bucket_sql('g', buckets)} + 1)), CAST(0.0 AS DOUBLE), "
        f"(acc, x) -> acc + x) / CAST(size(_g) AS DOUBLE)) "
        f"+ element_at(_bm, {lang_col}) END"
    )
    base = docs.select(
        F.col(id_col), F.col(lang_col), F.col(text_col)
    )
    from data_pipeline_team5_spark.operators.textops import (
        ngrams_expr,
        tokens_expr,
    )

    toked = base.select(
        id_col, lang_col, tokens_expr(text_col).alias("_t")
    )
    return (
        toked.select(id_col, lang_col, ngrams_expr("_t", 2).alias("_g"))
        .withColumn("_wm", F.expr(wm_sql))
        .withColumn("_bm", F.expr(bm_sql))
        .withColumn("_w", F.expr(f"try_element_at(_wm, {lang_col})"))
        .select(
            id_col,
            lang_col,
            F.size("_g").alias("n_bigrams"),
            logit.alias("logit"),
        )
    )


def save_quality_model(
    path: str,
    logp: list[float] | None = None,
    lm_keep_max_bits: float | None = None,
    weights: list[float] | None = None,
    bias: float | None = None,
    weights_by_lang: dict[str, list[float]] | None = None,
    bias_by_lang: dict[str, float] | None = None,
    provenance: dict | None = None,
    score_hist: dict | None = None,
) -> None:
    """Persist a fitted quality model as JSON — the FROZEN-MODEL hand-off
    from the full curation run to the daily loop (the scrub-precedent
    argument: a per-batch refit would re-fit on the same reference every
    day, and a per-batch LM tertile would split the wrong pool; the
    full run's realized cutoff is the rule a daily batch should apply).
    Doubles survive bit-exactly: ``json`` serializes floats via the
    shortest-round-trip repr, the same route the literal plan embedding
    uses.

    **Tie semantics at the LM cutoff (ADVICE r14, documented contract):**
    ``lm_keep_max_bits`` is the max bits among the full run's KEPT
    (head/middle) tertiles, and the frozen rule drops strictly-greater
    bits — so a daily doc whose bits EXACTLY equal the cutoff is kept,
    while the full run's exact tertile (tie-broken by doc_id) may have
    dropped some same-bits docs past the cut rank. The threshold rule
    deliberately keeps all boundary ties: a frozen threshold cannot
    reproduce a rank-based tie-break without the full run's doc_id
    population, and keeping ties errs on the side of retaining data
    whose score says it is exactly as good as the worst kept doc.

    Round 15 (VERDICT r14 #4/#3): ``weights_by_lang``/``bias_by_lang``
    carry the per-language classifier tables; ``provenance``
    (:func:`model_provenance`) records what the model was fit on —
    reference row count + order-insensitive id digest + hyperparams —
    so a mismatched vintage is detectable; ``score_hist`` stores the
    full run's per-signal score histograms ({sig: {lo, hi, counts}}),
    the baseline :func:`quality_score_drift` compares every daily
    batch against."""
    import json
    import os

    # write-to-tmp + atomic rename (the bloom _shipped_words_file
    # convention — review r14): a run killed mid-dump must never leave
    # a truncated model the daily loop then chokes on
    tmp = f"{path}.{os.getpid()}.tmp"
    try:
        with open(tmp, "w") as f:
            json.dump(
                {
                    "logp": logp,
                    "lm_keep_max_bits": lm_keep_max_bits,
                    "weights": weights,
                    "bias": bias,
                    "weights_by_lang": weights_by_lang,
                    "bias_by_lang": bias_by_lang,
                    "provenance": provenance,
                    "score_hist": score_hist,
                },
                f,
            )
        os.replace(tmp, path)
    except BaseException:
        try:
            os.unlink(tmp)
        except OSError:
            pass
        raise


def load_quality_model(path: str) -> dict:
    import json

    with open(path) as f:
        return json.load(f)


def model_provenance(
    reference: DataFrame,
    id_col: str = "doc_id",
    buckets: int = LM_BUCKETS,
    cap: int = CLS_TRAIN_CAP,
    lr: float = CLS_LR,
    iters: int = CLS_ITERS,
) -> dict:
    """Fingerprint of WHAT the frozen model was fit on (round 15,
    VERDICT r14 #4 — a daily loop could otherwise silently apply a
    model fit on a different reference vintage): reference row count,
    an order-insensitive digest over the reference's doc ids (bit_xor
    of per-id xxhash64 — partition-order-independent, the components
    observe-fingerprint idiom), and the fit hyperparameters. One agg
    job over the id column only."""
    row = reference.select(
        F.count(F.lit(1)).alias("n"),
        F.expr(
            f"bit_xor(xxhash64(cast({id_col} as string)))"
        ).alias("h"),
    ).collect()[0]
    return {
        "reference_rows": row["n"],
        "reference_ids_digest": (
            None
            if row["n"] == 0
            else f"{row['h'] & (2 ** 64 - 1):016x}"
        ),
        "buckets": buckets,
        "cap": cap,
        "lr": lr,
        "iters": iters,
    }


# Fixed histogram resolution for the frozen model's score snapshot —
# enough cells for a readable TV distance, few enough that the JSON
# stays tiny and every daily batch fills them.
SCORE_HIST_BUCKETS = 16
QUALITY_DRIFT_WARN_TV = 0.25  # same order as drift_report's intent:
# a quarter of the mass moved between fit time and apply time is not a
# threshold question anymore — the model is stale or mismatched


def score_histogram(
    scored: DataFrame, col: str, lo: float, hi: float,
    nbuckets: int = SCORE_HIST_BUCKETS,
) -> list[int]:
    """Counts per bucket of ``col`` over [lo, hi) — fixed STORED edges
    (width_bucket; underflow folds into the first cell, overflow into
    the last, NULLs excluded), so the full run's histogram and every
    daily batch's are computed over identical cells and TV distance is
    well-defined. One groupBy over the already-pinned score table."""
    b = F.expr(
        f"least(greatest(width_bucket({col}, {float(lo)!r}, "
        f"{float(hi)!r}, {nbuckets}), 1), {nbuckets})"
    )
    rows = (
        scored.filter(F.col(col).isNotNull())
        .groupBy(b.alias("_b"))
        .agg(F.count(F.lit(1)).alias("c"))
        .collect()
    )
    out = [0] * nbuckets
    for r in rows:
        out[r["_b"] - 1] = r["c"]
    return out


def tv_distance(p: list[int], q: list[int]) -> float | None:
    """Total-variation distance between two count histograms over the
    same cells (½·Σ|p̂−q̂|); None when either side is empty."""
    sp, sq = float(sum(p)), float(sum(q))
    if sp == 0 or sq == 0:
        return None
    return 0.5 * sum(
        abs(a / sp - b / sq) for a, b in zip(p, q)
    )


def quality_score_drift(
    batch: DataFrame,
    model: dict,
    id_col: str = "doc_id",
    text_col: str = "text",
    lang_col: str = "lang",
) -> dict[str, float | None]:
    """signal → TV distance between the BATCH's score distribution and
    the full run's stored snapshot (``score_hist`` in the frozen-model
    JSON) — the stale-model guard (round 15, VERDICT r14 #4): a frozen
    threshold applied to a drifted distribution silently keeps/drops
    the wrong mass; this flags it. Batch-sized scoring work only (the
    same scoring scans the frozen filters already run)."""
    hist = model.get("score_hist") or {}
    out: dict[str, float | None] = {}
    for sig, spec in hist.items():
        lo, hi, counts = spec["lo"], spec["hi"], spec["counts"]
        if sig == "classifier_logit":
            scored = classifier_score_frame(
                batch, model["weights"], model["bias"], id_col, text_col
            )
            col = "logit"
        elif sig == "classifier_logit_by_lang":
            models = {
                lang: (w, model["bias_by_lang"][lang])
                for lang, w in model["weights_by_lang"].items()
            }
            scored = classifier_score_frame_by_lang(
                batch, models, id_col, text_col, lang_col
            )
            col = "logit"
        elif sig == "lm_bits":
            # pool fidelity: the full run snapshots LM bits over the
            # CLASSIFIER-KEPT pool (the CCNet order), so the batch's
            # comparable pool applies the frozen classifier rule first
            lm_pool = batch
            if model.get("weights") is not None or model.get(
                "weights_by_lang"
            ):
                cls_only = {
                    k: model.get(k)
                    for k in (
                        "weights", "bias", "weights_by_lang",
                        "bias_by_lang",
                    )
                }
                lm_pool = apply_frozen_quality_model(
                    batch, cls_only, id_col, text_col, lang_col
                )
            scored = lm_score_frame(
                lm_pool, model["logp"], id_col, text_col
            )
            col = "ppl_bits"
        else:  # forward-compat: unknown signal names are skipped loudly
            out[sig] = None
            continue
        out[sig] = tv_distance(
            counts,
            score_histogram(
                scored.localCheckpoint(), col, lo, hi, len(counts)
            ),
        )
    return out


def apply_frozen_quality_model(
    kept: DataFrame,
    model: dict,
    id_col: str = "doc_id",
    text_col: str = "text",
    lang_col: str = "lang",
) -> DataFrame:
    """Apply a frozen model's THRESHOLD rules to a (daily-batch-sized)
    frame: keep classifier logit > 0 and LM bits ≤ the stored full-run
    cutoff; unscoreable docs pass. Bits exactly EQUAL to the cutoff are
    kept — the documented boundary-tie contract (see
    :func:`save_quality_model`): the full run's rank-based tertile may
    have dropped some same-bits ties, but a frozen threshold keeps them
    all by design. Each score table is localCheckpointed
    BEFORE its filter — filtering the lazy scored frame directly
    re-inlines the HOF chain via CollapseProject and runs 50-90 s at
    sf0.1 against ~1 s pinned (measured round 14; the 110× pathology's
    filter-on-score costume) — and the pins are BATCH-sized, reclaimed
    with the batch's references like the incremental path's existing
    dedup pin."""
    if model.get("weights") is not None:
        scored = classifier_score_frame(
            kept, model["weights"], model["bias"], id_col, text_col
        ).localCheckpoint()
        keep_ids = scored.filter(
            F.col("logit").isNull() | (F.col("logit") > 0)
        ).select(id_col)
        kept = kept.join(keep_ids, id_col)
    if model.get("weights_by_lang"):
        # per-language rule (round 15): each doc judged under its OWN
        # language's frozen model; unmodeled/NULL langs pass (absence
        # of evidence — the CCNet unscoreable rule)
        models = {
            lang: (w, model["bias_by_lang"][lang])
            for lang, w in model["weights_by_lang"].items()
        }
        scored = classifier_score_frame_by_lang(
            kept, models, id_col, text_col, lang_col
        ).localCheckpoint()
        keep_ids = scored.filter(
            F.col("logit").isNull() | (F.col("logit") > 0)
        ).select(id_col)
        kept = kept.join(keep_ids, id_col)
    if model.get("logp") is not None and model.get(
        "lm_keep_max_bits"
    ) is not None:
        scored = lm_score_frame(
            kept, model["logp"], id_col, text_col
        ).localCheckpoint()
        drop_ids = scored.filter(
            F.col("ppl_bits") > float(model["lm_keep_max_bits"])
        ).select(id_col)
        kept = kept.join(drop_ids, id_col, "left_anti")
    return kept
