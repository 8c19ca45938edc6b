"""Model-based language identification (round 16, VERDICT r15 #1): a
hashed char-n-gram one-vs-rest logistic classifier — the missing first
stage of the CCNet curation stack (Wenzek et al. 2020 §3 runs fastText
langid BEFORE anything per-language; the reference pipeline itself
stores documents as opaque VARCHARs, /root/reference README.md, and a
raw web corpus ships no trusted ``lang`` column).

Everything per-language in this engine (lm_perplexity_by_lang,
quality_classifier_by_lang, per-lang tertiles, per-lang drift) keyed
off a GIVEN lang column until this round; the only content-derived
signal was the marker-stopword heuristic (plans/text_family.py
text_doc_profile). This operator replaces trust with a model:

- **features**: hashed char 3/4/5-grams (fastText's langid recipe)
  over a langid-specific normalization that KEEPS accented Latin
  letters (à-öø-ÿ) — the strongest fr/es/de signal, which the dedup
  normalization deliberately strips — plus the CJK block, with the
  normalized string space-padded so word-boundary grams exist. The
  bucket hash is the md5 form (textops.hashed_bucket_sql) so the
  pure-Python mirror reproduces it exactly with hashlib.
- **fit**: one-vs-rest through the SAME single-sourced GD core as the
  quality classifier (operators/quality.py _fit_logistic — a step-rule
  change must hit every variant or the bit-for-bit mirrors silently
  diverge). The training sample is the per-language capped selector
  reused verbatim (quality.capped_ids_by_lang): ≤ cap docs per
  language, chosen by (md5(id), id) — never a corpus-scale
  lang-partitioned window. Collected fit volume ≤ |langs| × cap ×
  buckets rows at ANY corpus size. All |langs| class fits share one
  collected feature set; only the labels flip.
- **scoring**: MAP-SIDE, zero shuffles. Each doc's gram array is
  bucket-indexed ONCE (one md5 pass), then folded against each class's
  weight vector bound as its OWN literal array column BEFORE the
  lambda (the literal-model plan discipline — sums and divides only,
  Spark never runs exp, so every logit is bit-reproducible by the
  CPython mirror). predicted_lang = argmax logit with ties broken to
  the lexicographically LARGEST lang (array_sort on (logit, lang)
  structs — the documented deterministic rule); confidence = the
  winning logit; margin = winner minus runner-up.

Scale notes (100 TB): the fit touches only |langs| × cap docs
(broadcast-joined capped id set); scoring is one embarrassingly
parallel scan — per row |langs| in-row folds over the gram array
(array indexing, no map hashing, no per-element literal
re-construction). Language cardinality is a few dozen at web scale
(CCNet ships 174 fastText classes but curates ~20), so the |langs|×
fold cost is a bounded constant factor on the scan, and driver model
state is |langs| × (buckets + 1) doubles.
"""

from __future__ import annotations

from typing import Callable

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from data_pipeline_team5_spark.operators.quality import (
    _fit_logistic,
    capped_ids_by_lang,
    lang_literal_sql,
    literal_array_sql,
)
from data_pipeline_team5_spark.operators.ranks import _pin
from data_pipeline_team5_spark.operators.textops import hashed_bucket_sql

LANGID_BUCKETS = 256  # hashed char-gram dim — smaller than the quality
# models' 512: char-gram vocabularies are tiny next to word bigrams and
# the one-vs-rest fit runs |langs| GD passes over one feature set
LANGID_TRAIN_CAP = 32  # labeled docs per language (driver state bound)
LANGID_LR = 5.0
LANGID_ITERS = 60  # |langs| fits share the examples; keep the full
# one-vs-rest fit a few seconds of driver CPython at any corpus size
LANGID_NS = (3, 4, 5)  # fastText langid's char-gram orders
LANGID_SCALE = 64.0  # feature scale folded into BOTH the fit features
# (count/n × SCALE) and the scoring fold (mean × SCALE) — measured: the
# raw count/n frequencies (~1/256 each) keep full-batch GD in its
# linear regime where all |langs| models share one discriminant
# direction scaled differently and the argmax is decided by
# uncalibrated biases (0.42 holdout accuracy on the marked fixture);
# ×64 puts the logits in sigmoid's active range and the SAME GD core
# reaches 1.00 at 60 iterations (×256 overshoots to 0.96 — saturated
# examples stop contributing gradient). The GD core itself is
# untouched: scaling is a featurization constant, like bucket count.

# Langid-specific keep class: the dedup normalization (_NORM_KEEP_CLASS)
# strips accented Latin letters — exactly the fr/es/de signal a langid
# model needs — so this operator normalizes with its own class. Explicit
# code-point ranges only (à-ö U+00E0-00F6, ø-ÿ U+00F8-00FF — skipping ÷)
# so Java regex (Spark) and Python re (the mirror) agree by construction.
# Round 17 (ADVICE r16 #1): the class covers the MAJOR non-Latin scripts
# a raw web corpus carries — a script the normalization strips would
# leave its languages fitting near-feature-less (bias-only) models, and
# fill_missing_lang would confidently mislabel whole scripts from
# digit/space grams alone. Ranges are full Unicode blocks (literal
# endpoint escapes, never properties like \\p{L} — Java and Python
# disagree on those); lower() maps cased scripts (Greek, Cyrillic)
# INTO these ranges, and the caseless scripts pass through unchanged.
LANGID_KEEP_CLASS = (
    "a-z0-9 \u00e0-\u00f6\u00f8-\u00ff"  # Latin + Latin-1 (skip \u00f7)
    "\u0370-\u03ff"  # Greek and Coptic
    "\u0400-\u04ff"  # Cyrillic
    "\u0590-\u05ff"  # Hebrew
    "\u0600-\u06ff"  # Arabic (incl. Persian/Urdu extensions)
    "\u0900-\u097f"  # Devanagari
    "\u0e00-\u0e7f"  # Thai
    "\u1100-\u11ff"  # Hangul jamo
    "\u3040-\u309f"  # hiragana
    "\u30a0-\u30ff"  # katakana
    "\u3130-\u318f"  # Hangul compatibility jamo
    "\u4e00-\u9fff"  # CJK unified
    "\uac00-\ud7a3"  # Hangul syllables
)

# Prediction-withhold guard (round 17, ADVICE r16 #1's second half): a
# doc whose normalization keeps fewer than 1/5 of its raw characters is
# written mostly in a script OUTSIDE the keep class — whatever grams
# survive (digits, spaces, loanwords) are not evidence of its language,
# and an argmax over them would confidently mislabel it. Such docs
# predict NULL (fill_missing_lang already treats NULL as unscoreable).
# Integer arithmetic only (kept*DEN < raw*NUM) so the mirror is exact.
LANGID_MIN_KEPT_NUM = 1
LANGID_MIN_KEPT_DEN = 5


def langid_norm_sql(expr: str) -> str:
    """Space-padded langid normalization of a string expression:
    lowercase, strip outside LANGID_KEEP_CLASS, collapse space runs,
    trim, then pad one space each side so word-boundary char-grams
    exist (' th', 'he ' — the fastText convention)."""
    return (
        f"concat(' ', trim(regexp_replace(regexp_replace("
        f"lower({expr}), '[^{LANGID_KEEP_CLASS}]', ''), ' +', ' ')), ' ')"
    )


def char_ngrams_sql(col: str, ns: tuple[int, ...] = LANGID_NS) -> str:
    """All char n-grams (each order in ``ns``) of a bound string COLUMN
    — pass the column name, never an expression: the string is consumed
    ~len×|ns| times and must be evaluated once. Orders longer than the
    string contribute an empty array (sequence(1, 0) would count DOWN
    in Spark, so each order carries its own CASE guard)."""
    parts = []
    for n in ns:
        parts.append(
            f"CASE WHEN length(`{col}`) >= {n} THEN "
            f"transform(sequence(1, length(`{col}`) - {n - 1}), "
            f"i -> substring(`{col}`, i, {n})) "
            f"ELSE CAST(array() AS ARRAY<STRING>) END"
        )
    return "concat(" + ", ".join(parts) + ")"


def _langid_features(
    reference: DataFrame,
    id_col: str,
    text_col: str,
    lang_col: str,
    buckets: int,
    cap: int,
) -> tuple[DataFrame, Callable[[], None]]:
    """:func:`langid_train_features` plus the release handle of its
    pin."""
    capped = capped_ids_by_lang(reference, id_col, lang_col, cap).select(
        id_col
    )
    base, release = _pin(
        reference.join(F.broadcast(capped), id_col)
        .select(
            F.col(id_col),
            F.col(lang_col),
            F.expr(langid_norm_sql(f"`{text_col}`")).alias("_s"),
        )
        .select(
            id_col, lang_col, F.expr(char_ngrams_sql("_s")).alias("_g")
        )
    )
    features = (
        base.select(
            lang_col, id_col, F.explode(F.col("_g")).alias("g")
        )
        .groupBy(
            lang_col,
            id_col,
            F.expr(hashed_bucket_sql("g", buckets)).alias("b"),
        )
        .agg(F.count(F.lit(1)).alias("c"))
    )
    return features, release


def langid_train_features(
    reference: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    lang_col: str = "lang",
    buckets: int = LANGID_BUCKETS,
    cap: int = LANGID_TRAIN_CAP,
) -> DataFrame:
    """Sparse (lang, id, b, c) char-gram bucket counts for the capped
    per-language labeled sample. Collected volume ≤ |langs| × cap ×
    buckets rows at any corpus size; the gram read joins the capped id
    set BROADCAST (the classifier_train_features discipline).

    The gram arrays are CHECKPOINT-PINNED before the explode — the
    measured 110×-class pathology (240 s → 3 s at sf0.1): without the
    barrier, projection collapse re-inlines the norm-regex + char-gram
    construction INTO the generator's output projection, so every
    exploded gram re-runs the whole O(len) chain — O(grams²) per
    document. The pin holds only the capped sample's gram arrays
    (≤ |langs| × cap rows), never the corpus; :func:`fit_langid`
    releases it once the features are collected."""
    return _langid_features(
        reference, id_col, text_col, lang_col, buckets, cap
    )[0]


def fit_langid(
    reference: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    lang_col: str = "lang",
    buckets: int = LANGID_BUCKETS,
    cap: int = LANGID_TRAIN_CAP,
    lr: float = LANGID_LR,
    iters: int = LANGID_ITERS,
) -> dict[str, tuple[list[float], float]]:
    """lang → (weights, bias): one-vs-rest logistic models via the
    single-sourced GD core. ONE collect feeds every class fit — for
    class L the labels are 1 on L's docs and 0 on every other
    language's docs (the capped sample is the shared negative pool).
    Canonical orders, replicated by the mirror: docs sorted by id;
    buckets ascending within each; classes fit in sorted(lang) order
    (order only matters for reproducibility — fits are independent).
    A reference with a single language yields that one always-positive
    model (degenerate but well-defined); an empty reference yields {}.
    """
    features, release = _langid_features(
        reference, id_col, text_col, lang_col, buckets, cap
    )
    try:
        rows = features.collect()
    finally:
        release()
    per_doc: dict = {}
    doc_lang: dict = {}
    for r in rows:
        per_doc.setdefault(r[id_col], {})[r["b"]] = r["c"]
        doc_lang[r[id_col]] = r[lang_col]
    docs = []
    for did in sorted(per_doc):
        counts = per_doc[did]
        n = float(sum(counts.values()))
        docs.append(
            (
                doc_lang[did],
                [
                    (b, counts[b] / n * LANGID_SCALE)
                    for b in sorted(counts)
                ],
            )
        )
    out: dict[str, tuple[list[float], float]] = {}
    for lang in sorted({lang for lang, _ in docs}):
        examples = [
            (1 if dl == lang else 0, feats) for dl, feats in docs
        ]
        out[lang] = _fit_logistic(examples, buckets, lr, iters)
    return out


def langid_score_frame(
    docs: DataFrame,
    models: dict[str, tuple[list[float], float]],
    id_col: str = "doc_id",
    text_col: str = "text",
    carry: tuple[str, ...] = (),
) -> DataFrame:
    """(id, n_cgrams, predicted_lang, confidence, margin) — every doc
    scored under ALL class models in one map-side pass. The gram array
    is bucket-indexed once (one md5 pass, bound to ``_bs``); each class
    folds over ``_bs`` against its own literal weight column (bound
    BEFORE the lambda). Fold order — replicated by the mirror exactly:
    left-to-right sum of w[bucket] over grams, ÷ n_grams, × SCALE,
    + bias. predicted_lang = argmax logit, ties to the
    lexicographically largest lang (array_sort struct order);
    confidence = winning logit; margin = winner − runner-up (NULL with
    one class). Docs with no gram (or an empty model dict) predict
    NULL — and so do docs whose normalization keeps under
    ``LANGID_MIN_KEPT_NUM/DEN`` of their raw characters (round 17,
    ADVICE r16 #1: a doc written mostly in a script outside the keep
    class carries no real language evidence in its surviving grams;
    withholding beats a confident mislabel). Sums/divides only — the
    pure-Python mirror reproduces every double bit-for-bit. ``carry``
    columns (e.g. the declared lang for an agreement audit) ride the
    map-side select chain — never a re-join against the corpus."""
    buckets = (
        len(next(iter(models.values()))[0]) if models else LANGID_BUCKETS
    )
    cc = [F.col(c) for c in carry]
    base = docs.select(
        F.col(id_col),
        *cc,
        F.length(
            F.coalesce(F.col(text_col), F.lit(""))
        ).alias("_n0"),
        F.expr(langid_norm_sql(f"`{text_col}`")).alias("_s"),
    ).select(
        id_col,
        *cc,
        "_n0",
        # kept chars = normalized length minus the two pad spaces
        # (collapsed space runs make this a lower bound — fine: the
        # guard errs toward withholding)
        (F.length("_s") - F.lit(2)).alias("_nk"),
        F.expr(char_ngrams_sql("_s")).alias("_g"),
    )
    # one md5/bucket pass over the grams, 1-based for element_at
    indexed = base.select(
        id_col,
        *cc,
        "_n0",
        "_nk",
        F.expr(
            f"transform(_g, g -> {hashed_bucket_sql('g', buckets)} + 1)"
        ).alias("_bs"),
    )
    if not models:
        return indexed.select(
            id_col,
            *cc,
            F.size("_bs").alias("n_cgrams"),
            F.lit(None).cast("string").alias("predicted_lang"),
            F.lit(None).cast("double").alias("confidence"),
            F.lit(None).cast("double").alias("margin"),
        )
    langs = sorted(models)
    with_w = indexed
    for k, lang in enumerate(langs):
        with_w = with_w.withColumn(
            f"_w{k}", F.expr(literal_array_sql(models[lang][0]))
        )
    logit_structs = ", ".join(
        f"named_struct('logit', "
        f"aggregate(_bs, CAST(0.0 AS DOUBLE), "
        f"(a, i) -> a + element_at(_w{k}, i)) "
        f"/ CAST(size(_bs) AS DOUBLE) "
        f"* CAST('{float(LANGID_SCALE)!r}' AS DOUBLE) "
        f"+ CAST('{float(models[lang][1])!r}' AS DOUBLE), "
        f"'lang', {lang_literal_sql(lang)})"
        for k, lang in enumerate(langs)
    )
    scored = with_w.withColumn(
        "_sl",
        F.expr(
            f"CASE WHEN size(_bs) = 0 "
            f"OR _nk * {LANGID_MIN_KEPT_DEN} < _n0 * "
            f"{LANGID_MIN_KEPT_NUM} THEN "
            f"CAST(NULL AS ARRAY<STRUCT<logit: DOUBLE, lang: STRING>>) "
            f"ELSE array_sort(array({logit_structs})) END"
        ),
    )
    margin = (
        f"CASE WHEN _sl IS NULL OR size(_sl) < 2 THEN "
        f"CAST(NULL AS DOUBLE) ELSE "
        f"element_at(_sl, -1).logit - element_at(_sl, -2).logit END"
    )
    return scored.select(
        id_col,
        *cc,
        F.size("_bs").alias("n_cgrams"),
        F.expr("element_at(_sl, -1).lang").alias("predicted_lang"),
        F.expr("element_at(_sl, -1).logit").alias("confidence"),
        F.expr(margin).alias("margin"),
    )


def fill_missing_lang(
    docs: DataFrame,
    models: dict[str, tuple[list[float], float]],
    id_col: str = "doc_id",
    text_col: str = "text",
    lang_col: str = "lang",
) -> DataFrame:
    """``docs`` with NULL ``lang`` replaced by the model's prediction —
    the deployable curate stage: a raw corpus with a partial (or
    absent) lang column flows through the per-language stack after this
    fills the gaps. Declared langs are NEVER overwritten (the model
    augments, not audits); docs the model cannot score (no gram) stay
    NULL and downstream per-lang filters treat them as unscoreable.
    Adds ``lang_source`` ∈ ('declared', 'predicted', NULL). Scoring
    runs ONLY on the NULL-lang slice — at 100 TB the common case
    (a mostly-labeled corpus) pays one filtered scan, not a full
    re-score.

    The join back is keyed on ``id_col`` — the one shuffle this path
    carries. On a corpus stored BUCKETED by the id (the versioning
    family's layout, sources/writers.py:write_bucketed) both join
    inputs derive map-side from the same bucketed scan and the plan
    goes Exchange-free with no flag needed — pinned in
    tests/test_bucketed_join.py (round 17, VERDICT r16 #7). Unbucketed
    corpora rely on AQE broadcasting the (small) prediction side."""
    missing = docs.filter(F.col(lang_col).isNull())
    pred = langid_score_frame(missing, models, id_col, text_col).select(
        id_col, F.col("predicted_lang").alias("_pl")
    )
    filled = (
        docs.join(pred, id_col, "left")
        .withColumn(
            "lang_source",
            F.when(F.col(lang_col).isNotNull(), F.lit("declared"))
            .when(F.col("_pl").isNotNull(), F.lit("predicted"))
            .otherwise(F.lit(None).cast("string")),
        )
        .withColumn(lang_col, F.coalesce(F.col(lang_col), F.col("_pl")))
        .drop("_pl")
    )
    return filled


LANGID_DRIFT_WARN_TV = 0.25  # the quality guard's calibration
# (QUALITY_DRIFT_WARN_TV): a quarter of the predicted-lang mass moving
# between fit time and apply time means the corpus shifted or the
# frozen model is stale — either way docs are about to route through
# the wrong per-language filters, the exact failure the quality drift
# guard exists for (round 17, VERDICT r16 #2).


def langid_fill_mixture(filled: DataFrame, lang_col: str = "lang") -> dict:
    """The fill's observable mixture, from a :func:`fill_missing_lang`
    output frame BEFORE ``lang_source`` is dropped: integer counts (one
    small groupBy, collected driver-side) of
    - ``lang_source_counts`` — declared / predicted / unscoreable-NULL
      shares of the batch, and
    - ``predicted_lang_counts`` — which language each PREDICTED doc was
      routed to (the distribution the drift guard compares).
    Counts, not shares, so the stored form is exact and replays are
    byte-identical; NULL keys serialize as ``"__null__"``."""
    rows = (
        filled.groupBy("lang_source", lang_col)
        .agg(F.count(F.lit(1)).alias("n"))
        .collect()
    )
    src: dict[str, int] = {}
    pred: dict[str, int] = {}
    for r in rows:
        sk = r["lang_source"] if r["lang_source"] is not None else "__null__"
        src[sk] = src.get(sk, 0) + r["n"]
        if r["lang_source"] == "predicted":
            lk = r[lang_col] if r[lang_col] is not None else "__null__"
            pred[lk] = pred.get(lk, 0) + r["n"]
    return {
        "lang_source_counts": dict(sorted(src.items())),
        "predicted_lang_counts": dict(sorted(pred.items())),
        "total": sum(src.values()),
    }


def langid_mixture_tv(a: dict, b: dict) -> float | None:
    """Total-variation distance between two ``predicted_lang_counts``
    dicts (½ Σ |p−q| over normalized shares) — None when either side
    predicted nothing (no NULL-lang docs ⇒ no distribution to drift).
    """
    na, nb = sum(a.values()), sum(b.values())
    if not na or not nb:
        return None
    langs = set(a) | set(b)
    return 0.5 * sum(
        abs(a.get(lang, 0) / na - b.get(lang, 0) / nb)
        for lang in sorted(langs)
    )


def save_langid_model(
    path: str,
    models: dict[str, tuple[list[float], float]],
    provenance: dict | None = None,
    fill_hist: dict | None = None,
) -> None:
    """Persist fitted langid models as JSON — the frozen-model hand-off
    from the full curation run to the daily loop (the
    save_quality_model precedent, round 16): a daily batch should fill
    NULL langs under the SAME models the full run filled with, not a
    refit on whatever labeled slice the day happens to carry. Doubles
    survive bit-exactly (shortest-round-trip repr — the literal-plan
    route); write-to-tmp + atomic rename so a run killed mid-dump never
    leaves a truncated model.

    ``fill_hist`` (round 17, VERDICT r16 #2): the full run's
    :func:`langid_fill_mixture` snapshot — what the model predicted on
    the corpus it was frozen against. The daily loop compares each
    fold's mixture to it (TV over predicted-lang shares) and flags
    drift in the fold manifest, the quality model's lifecycle applied
    to langid."""
    import json
    import os

    tmp = f"{path}.{os.getpid()}.tmp"
    try:
        with open(tmp, "w") as f:
            json.dump(
                {
                    "models": {
                        lang: {"weights": w, "bias": b}
                        for lang, (w, b) in sorted(models.items())
                    },
                    "provenance": provenance,
                    "fill_hist": fill_hist,
                },
                f,
            )
        os.replace(tmp, path)
    finally:
        if os.path.exists(tmp):
            os.unlink(tmp)


def load_langid_model(
    path: str,
) -> tuple[
    dict[str, tuple[list[float], float]], dict | None, dict | None
]:
    """(models, provenance, fill_hist) — inverse of
    :func:`save_langid_model`; weights round-trip bit-exactly.
    ``fill_hist`` is None for pre-round-17 model files."""
    import json

    with open(path) as f:
        d = json.load(f)
    models = {
        lang: (m["weights"], m["bias"])
        for lang, m in d["models"].items()
    }
    return models, d.get("provenance"), d.get("fill_hist")


def langid_provenance(
    labeled: DataFrame,
    id_col: str = "doc_id",
    buckets: int = LANGID_BUCKETS,
    cap: int = LANGID_TRAIN_CAP,
    lr: float = LANGID_LR,
    iters: int = LANGID_ITERS,
) -> dict:
    """Fingerprint of WHAT the frozen langid model was fit on — the
    quality model_provenance idiom (row count + order-insensitive id
    digest + hyperparams) with the langid hyperparameters, plus the
    feature scale (a scale change silently re-regimes the GD)."""
    from data_pipeline_team5_spark.operators.quality import (
        model_provenance,
    )

    p = model_provenance(
        labeled, id_col=id_col, buckets=buckets, cap=cap, lr=lr,
        iters=iters,
    )
    p["scale"] = LANGID_SCALE
    p["ns"] = list(LANGID_NS)
    return p
