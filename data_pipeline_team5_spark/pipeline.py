"""Batch pipeline runner — the engine's replacement for the three Airflow DAGs.

The reference chains 5 Celery tasks per day with JSON-string XCom hops and
couples ingest→transform by clock (dbt runs at 00:05 hoping ingest finished at
00:00 — SURVEY.md §3.2). Here each pipeline is ONE lazy Spark plan per stage
with real data dependencies (X1/X2 collapse), and retry is a job-level loop
(X3). The Jinja date-list templating (X4/X5) becomes an explicit
``dates: list[str]`` parameter.

daily_ingest      ≡ daily_csv_pipeline.py / daily_parquet_pipeline.py:183-228
transform_pivot   ≡ dbt box_office_data.sql via dbt_dags.py:42-62
transform_daily   ≡ dbt box_office_showrange.sql via dbt_dags.py:64-78
"""

from __future__ import annotations

import functools
import logging
import time
from collections.abc import Callable
from datetime import date, timedelta

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from data_pipeline_team5_spark.functions.scalars import dsum
from data_pipeline_team5_spark.operators.multimodal import (
    MODALITIES,
    Modality,
)
from data_pipeline_team5_spark.operators.pivoting import pivot_max_cells
from data_pipeline_team5_spark.sources.ingest import ingest_box_office_json
from data_pipeline_team5_spark.sources.writers import write_parquet_partitioned

log = logging.getLogger(__name__)


def run_with_retry(fn: Callable[[], None], retries: int = 1, delay_s: float = 1.0) -> None:
    """X3: the DAG-level ``retries: 1`` policy at job granularity (task-level
    retry is Spark's own scheduler).

    ValueError is treated as deterministic input validation (the P8 guard,
    quality gates) and propagates immediately — retrying it only re-fails
    identically while telling the operator the failure was transient."""
    for attempt in range(retries + 1):
        try:
            fn()
            return
        except ValueError:
            raise
        except Exception:
            if attempt == retries:
                raise
            log.warning("pipeline attempt %d failed; retrying", attempt + 1)
            time.sleep(delay_s)


def last_n_days(end: date, n: int = 9) -> list[str]:
    """X4: dbt_dags.py:12-20 — yesterday-8 … yesterday as ISO strings."""
    return [(end - timedelta(days=i)).isoformat() for i in range(n - 1, -1, -1)]


def _day_of(doc: dict) -> str:
    """ISO day of one validated KOFIC doc ('20250123~…' → '2025-01-23')."""
    raw = str(doc["boxOfficeResult"]["showRange"]).split("~")[0]
    return f"{raw[0:4]}-{raw[4:6]}-{raw[6:8]}"


def daily_ingest(
    spark: SparkSession, raw_json: str, warehouse_path: str
) -> None:
    """S1→S2→P1-P4→idempotent partitioned write, as one lazy plan."""
    df = ingest_box_office_json(spark, raw_json)
    write_parquet_partitioned(df, warehouse_path, partition_by="show_range")


def daily_pipeline(
    spark: SparkSession,
    raw_json: str | list[str],
    warehouse_path: str,
    dates: list[str] | None = None,
) -> dict[str, DataFrame]:
    """The whole reference DAG surface as one data-dependent run
    (daily_parquet_pipeline.py:183-214 tasks 1-5 + both dbt models):

      1-3. ingest + idempotent partitioned write (S1-S5, the DDL step S6 is
           subsumed — parquet layout IS the schema, see
           sources/writers.py:create_if_not_exists for the catalog-table
           form);
      4.   data-quality gate — the dbt tests the reference claimed
           (functions/checks.py); violations abort before transforms, which
           is what 'dbt test' between load and model runs would have done;
      5.   both transforms over the freshly written partitions.

    Ordering is data dependency (each step consumes the previous step's
    output), not the reference's clock coupling (dbt at 00:05 hoping the
    00:00 ingest finished — SURVEY.md §3.2).
    """
    from data_pipeline_team5_spark.functions.checks import run_checks

    run_with_retry(
        lambda: daily_ingest(spark, raw_json, warehouse_path)
    )
    # Scope everything downstream to the partitions THIS run wrote: the
    # quality gate over the whole warehouse would let one bad historical
    # partition wedge every future daily run, and would pay full-history
    # scans for per-day checks (functions/checks.py says: check the day's
    # partition). Day values come driver-side from the already-validated
    # docs — no extra Spark job.
    import json as _json

    docs_list = [raw_json] if isinstance(raw_json, str) else list(raw_json)
    ingested_days = sorted(
        {
            _day_of(_json.loads(d)) for d in docs_list
        }
    )
    stored = spark.read.parquet(warehouse_path).filter(
        F.col("show_range").isin(
            [date.fromisoformat(d) for d in ingested_days]
        )
    )
    violations = run_checks(
        stored,
        not_null=["title", "show_range", "rank_num"],
        unique=[["code", "show_range"]],
        accepted_values={"new_entry": ["NEW", "OLD"]},
    )
    bad = {k: v for k, v in violations.items() if v}
    if bad:
        raise ValueError(f"data-quality gate failed: {bad}")
    if dates is None:
        dates = ingested_days
    return {
        "daily": transform_daily(stored, dates),
        "pivot": transform_pivot(stored, dates),
    }


def transform_daily(df: DataFrame, dates: list[str]) -> DataFrame:
    """box_office_showrange semantics on the long table: date-scope filter
    (P7 → partition pruning) + per-day multi-SUM (A1/A2)."""
    return (
        df.filter(F.col("show_range").isin([date.fromisoformat(d) for d in dates]))
        .groupBy("show_range")
        .agg(
            dsum("sales", "total_sales_sum"),
            dsum("total_sales", "acc_sales_sum"),
            dsum("audience_num", "total_audience_sum"),
            dsum("total_audience_num", "acc_audience_sum"),
            dsum("screen_num", "screen_num_sum"),
            dsum("screen_show", "screen_show_sum"),
        )
        .orderBy("show_range")
    )


def transform_pivot(df: DataFrame, dates: list[str]) -> DataFrame:
    """box_office_data semantics: per-movie row, one column per (date ×
    metric), MAX cell combiner, NULL where a movie is absent that day —
    the N-way full-outer alignment (J1) as a single hash aggregate."""
    day_strs = [d.replace("-", "") for d in dates]
    scoped = df.filter(
        F.col("show_range").isin([date.fromisoformat(d) for d in dates])
    ).withColumn("day_key", F.date_format("show_range", "yyyyMMdd"))
    wide = pivot_max_cells(
        scoped,
        group_key=["title", "code"],
        pivot_col="day_key",
        pivot_values=day_strs,
        cells=[
            ("max", "sales", "sales"),
            ("max", "total_sales", "total_sales"),
            ("max", "audience_num", "audience_num"),
            ("max", "total_audience_num", "total_audience_num"),
        ],
    )
    return wide.orderBy("title", "code")


def exact_key(text_col: str = "text") -> Column:
    """THE exact-dedup content key (md5 of the 40-char normalized prefix) —
    one definition shared by the full curation run, the incremental batch
    path, and the stored key index, so the anti-join probe can never drift
    from the key the corpus was deduped under."""
    from data_pipeline_team5_spark.functions.scalars import norm_text

    return F.md5(F.substring(norm_text(text_col), 1, 40))


def _verify_candidates(
    cand: DataFrame,
    docs: list[DataFrame],
    id_col: str,
    text_col: str,
    threshold: float,
    check: Callable[[DataFrame, DataFrame], None] | None = None,
) -> DataFrame:
    """Exact-Jaccard verification of LSH candidate pairs ``cand`` against
    the union of the ``docs`` frames' (``id_col``, ``text_col``): the one
    probe-and-verify body of every near-dup entry point.

    ``docs`` is touched only through a left-semi join against the
    candidate ids BEFORE shingling (operators/dedup.py:candidate_docs), so
    verification shingles O(candidate docs), not O(corpus). Both inputs
    are pinned, and both pins are bounded by the capped buckets, never
    corpus-sized:

    - the candidate pairs feed the semi-join and the verify join; without
      the pin the signature and banding subtree would run twice;
    - the candidate docs: the verify plan embeds their shingle table twice
      (doc_a and doc_b legs), and without a cut each leg re-derives the
      semi-join over the corpus (four corpus scans in the executed plan).

    ``check(cand, ver)`` runs over the two pinned frames before the
    (lazy) verify join is built.
    """
    from data_pipeline_team5_spark.operators.dedup import (
        candidate_docs,
        doc_shingles,
        verify_jaccard,
    )

    text = functools.reduce(
        DataFrame.unionByName, [d.select(id_col, text_col) for d in docs]
    )
    cand = cand.localCheckpoint()
    ver = candidate_docs(cand, text, id_col).localCheckpoint()
    if check is not None:
        check(cand, ver)
    return verify_jaccard(
        cand, doc_shingles(ver, id_col, text_col), threshold
    )


def neardup_production_pairs(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    threshold: float = 0.6,
    method: str = "lsh",
    n_docs: int | None = None,
) -> DataFrame:
    """The GUARDED near-dup pipeline a production run actually ships (the
    guards are tested on their own, and this is the entry point that
    invokes them). Returns ``(doc_a, doc_b, jaccard)`` pairs ≥
    ``threshold``.

    - ``method="jaccard"``: inverted-shingle-index exact Jaccard with the
      stop-shingle guard ``production_max_doc_freq(n_docs)`` wired in — the
      guard that keeps one boilerplate shingle from inflating a quadratic
      bucket at 100 TB.
    - ``method="lsh"``: MinHash signatures over the full shingle sets,
      banded candidate generation capped at ``PRODUCTION_MAX_BUCKET``, then
      exact-Jaccard verification against the full sets of CANDIDATE DOCS
      ONLY (:func:`_verify_candidates`), so the corpus pays its regex
      shingling once (for signatures), not twice. (The doc-freq guard
      applies to the inverted-index path only: signatures and
      verification want true sets, bucket capping already bounds LSH
      skew.)

    ``n_docs`` sizes the stop-shingle guard; pass it when the corpus size
    is already known (a catalog stat, a previous stage's count) to skip the
    one counting job. At fixture SF both methods equal their unguarded
    catalog twins exactly (tests/test_dedup_guards.py — the guards are
    provable no-ops there), so this preset is oracle-grade correct while
    carrying the scale guards the catalog queries omit for oracle
    exactness.
    """
    from data_pipeline_team5_spark.operators.dedup import (
        PRODUCTION_MAX_BUCKET,
        doc_shingles,
        jaccard_pairs,
        lsh_candidate_pairs,
        minhash_signatures,
        production_max_doc_freq,
    )

    sh = doc_shingles(docs, id_col, text_col)
    if method == "jaccard":
        if n_docs is None:
            n_docs = docs.count()
        return jaccard_pairs(
            sh, threshold, max_doc_freq=production_max_doc_freq(n_docs)
        )
    if method == "lsh":
        sig = minhash_signatures(sh, num_perm=32, seed=42)
        cand = lsh_candidate_pairs(
            sig, num_perm=32, bands=8, max_bucket=PRODUCTION_MAX_BUCKET
        )
        return _verify_candidates(cand, [docs], id_col, text_col, threshold)
    raise ValueError(f"unknown near-dup method: {method!r}")


def bench_neardup_production(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Timed bench entry (bench.py EXTRAS): the guarded LSH preset over the
    ``documents`` fixture — measures what production runs, not only the
    oracle-shaped catalog twin."""
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    return neardup_production_pairs(docs, method="lsh")


def _curation_filter_stage(
    docs: DataFrame,
    benchmark_docs: DataFrame | None = None,
    max_top_bigram_frac: float | None = None,
    max_dup_trigram_frac: float | None = None,
    scrub_pii: bool = False,
    decon_bloom_min_grams: int | None = None,
    bench_gram_count: int | None = None,
    decon_n: int = 5,
) -> DataFrame:
    """Stage 1 of both curation presets, shared so the full and incremental
    paths can never drift apart: optional PII redaction (``scrub_pii`` —
    the ``text`` column is rewritten with operators/scrub.py's chained
    regexp_replace and ``n_chars`` recomputed, BEFORE any signal is
    derived, so quality metrics, dedup keys, and token budgets all see the
    scrubbed text consistently; pure map work, no extra shuffle), then
    language allowlist + quality floor +
    length band (the curation_funnel's exact constants), then optionally

    - **Gopher-style repetition caps** — drop docs whose top-bigram
      frequency fraction or duplicate-trigram fraction exceeds the given
      cap (the standard boilerplate/repetition filters; the per-doc
      metrics are text_doc_profile's, computed with the same shuffle-free
      array_sort+fold). Docs too short to HAVE bigrams/trigrams pass (a
      NULL fraction is not evidence of repetition). Off (None) by default:
      the caps are corpus-tuning knobs, not universal constants.
    - **benchmark decontamination** — drop docs sharing any 5-gram with
      the eval benchmark set (operators/dedup.py:contaminated_ids; the
      probe strategy routes on the realized benchmark gram count —
      exact broadcast anti-join for eval-suite-sized references, Bloom
      prefilter + exact verify past
      ``operators/dedup.py:BLOOM_ROUTE_MIN_GRAMS``;
      ``decon_bloom_min_grams`` overrides the threshold, round 13).
      ``bench_gram_count``: optional precomputed routing count
      (``operators/dedup.py:benchmark_gram_count``) so callers probing
      one benchmark repeatedly — the curate stream loop — pay the
      shingle→distinct→count job once, not per micro-batch (ADVICE r13).
    """
    from data_pipeline_team5_spark.operators.textops import (
        max_run_freq,
        ngrams_expr,
        quality_exprs,
        tokens_expr,
    )
    from data_pipeline_team5_spark.plans.text_family import (
        _KEEP_LANGS,
        _LEN_HI,
        _LEN_LO,
        _MIN_QUALITY,
    )

    if scrub_pii:
        from data_pipeline_team5_spark.operators import scrub

        docs = docs.withColumn(
            "text", scrub.scrub_pii("text")
        ).withColumn("n_chars", F.length("text"))
    toked = docs.select(
        "doc_id", "lang", "n_chars", "text", tokens_expr("text").alias("_t")
    )
    q = quality_exprs(F.col("_t"))
    kept = toked.filter(
        F.col("lang").isin(*_KEEP_LANGS)
        & (q["quality"] >= _MIN_QUALITY)
        & F.col("n_chars").between(_LEN_LO, _LEN_HI)
    )
    if max_top_bigram_frac is not None or max_dup_trigram_frac is not None:
        grams = kept.select(
            "*",
            ngrams_expr("_t", 2).alias("_g2"),
            ngrams_expr("_t", 3).alias("_g3"),
        )
        keep = F.lit(True)
        if max_top_bigram_frac is not None:
            n_g2 = F.size(F.col("_g2"))
            frac2 = F.when(
                n_g2 > 0,
                max_run_freq(F.col("_g2")).cast("double")
                / n_g2.cast("double"),
            )
            keep = keep & F.coalesce(
                frac2 <= F.lit(max_top_bigram_frac), F.lit(True)
            )
        if max_dup_trigram_frac is not None:
            n_g3 = F.size(F.col("_g3"))
            frac3 = F.when(
                n_g3 > 0,
                F.lit(1.0)
                - F.size(F.array_distinct(F.col("_g3"))).cast("double")
                / n_g3.cast("double"),
            )
            keep = keep & F.coalesce(
                frac3 <= F.lit(max_dup_trigram_frac), F.lit(True)
            )
        kept = grams.filter(keep).drop("_g2", "_g3")
    kept = kept.drop("_t")
    if benchmark_docs is not None:
        from data_pipeline_team5_spark.operators.dedup import (
            contaminated_ids,
        )

        kept = kept.join(
            contaminated_ids(
                kept,
                benchmark_docs,
                n=decon_n,
                bloom_route_min_grams=decon_bloom_min_grams,
                bench_gram_count=bench_gram_count,
            ),
            "doc_id",
            "left_anti",
        )
    return kept


def _modality_decon(
    kept: DataFrame,
    blobs: dict[str, DataFrame | None],
    bench_blobs: dict[str, DataFrame | None],
    backends: dict[str, str],
    batch: bool,
) -> tuple[DataFrame, dict[str, DataFrame]]:
    """Payload decontamination for both presets, one pass per modality
    with benchmark blobs: the kept pool's payloads decode ONCE into a
    pinned 2-longs/doc hash table, and docs within the modality's
    ``max_hamming`` of any benchmark payload drop — the payload twin of
    the 5-gram rule, at the same early stage (eval overlap must never
    reach training bins). Returns the filtered pool and the pinned
    tables, which the dedup stage reuses (:func:`_pool_hashes`) so
    turning decon on never adds a second decode pass. ``batch`` picks
    the incremental preset's names for the error message."""
    from data_pipeline_team5_spark.operators.multimodal import (
        contaminated_image_ids,
    )

    caller, side, whose = (
        ("curate_incremental_batch", "new_", "the batch's")
        if batch
        else ("curate_training_data", "", "the corpus side's")
    )
    decoded: dict[str, DataFrame] = {}
    for m in MODALITIES.values():
        if bench_blobs[m.name] is None:
            continue
        if blobs[m.name] is None:
            raise ValueError(
                f"{caller}: benchmark_{m.name}_blobs requires "
                f"{side}{m.name}_blobs ({whose} {m.noun})"
            )
        backend = backends.get(m.name, m.backend)
        pool = m.hashes(
            blobs[m.name].join(kept.select("doc_id"), "doc_id"),
            backend=backend,
        ).localCheckpoint()
        bench = m.hashes(
            bench_blobs[m.name], backend=backend
        ).localCheckpoint()
        bad = contaminated_image_ids(
            pool, bench, max_hamming=m.max_hamming
        ).select("doc_id")
        kept = kept.join(bad, "doc_id", "left_anti")
        decoded[m.name] = pool
    return kept, decoded


def _pool_hashes(
    m: Modality,
    blobs: dict[str, DataFrame | None],
    decoded: dict[str, DataFrame],
    pool: DataFrame,
    backends: dict[str, str],
) -> DataFrame:
    """The (doc_id, dhash, ahash) table of ``pool``'s payloads for the
    dedup stage: the decon stage's pinned table subset by id when there
    is one, else one decode restricted to the pool, pinned so the banded
    join's two branches never re-run the decode."""
    ids = pool.select("doc_id")
    if m.name in decoded:
        return decoded[m.name].join(ids, "doc_id")
    return m.hashes(
        blobs[m.name].join(ids, "doc_id"),
        backend=backends.get(m.name, m.backend),
    ).localCheckpoint()


def curate_training_data(
    docs: DataFrame,
    token_budget: int = 2048,
    neardup_threshold: float = 0.6,
    neardup_method: str = "jaccard",
    n_docs: int | None = None,
    benchmark_docs: DataFrame | None = None,
    max_top_bigram_frac: float | None = None,
    max_dup_trigram_frac: float | None = None,
    target_mix: dict[str, float] | None = None,
    scrub_pii: bool = False,
    scratch_dir: str | None = None,
    survivor_policy: str = "min_id",
    source_priority: list[str] | None = None,
    decon_bloom_min_grams: int | None = None,
    bench_gram_count: int | None = None,
    decon_n: int = 5,
    quality_classifier_reference: DataFrame | None = None,
    quality_classifier_per_lang: bool = False,
    lm_reference_docs: DataFrame | None = None,
    quality_model_out: str | None = None,
    image_blobs: DataFrame | None = None,
    benchmark_image_blobs: DataFrame | None = None,
    image_backend: str = "bmp",
    langid_fill: bool = False,
    langid_model_out: str | None = None,
    audio_blobs: DataFrame | None = None,
    benchmark_audio_blobs: DataFrame | None = None,
    video_blobs: DataFrame | None = None,
    benchmark_video_blobs: DataFrame | None = None,
    video_backend: str = "container",
    bpe_merges: list[tuple[str, str]] | None = None,
) -> DataFrame:
    """The end-to-end training-data curation a 100 TB corpus run ships,
    composed from the engine's tested stages into ONE lazy plan:

    0. optionally **PII scrub** (``scrub_pii=True``) — redact emails /
       cards / phones / IPv4s in ``text`` before ANY downstream signal
       (operators/scrub.py; zero-shuffle map work folded into the same
       scan). The incremental path has deliberately NO such knob: in a
       daily loop scrubbing must happen at INGEST, before the retained
       corpus and its indexes are built — scrubbing only the new batch
       would change its exact-dedup keys and shingles relative to an
       unscrubbed corpus and near-dups of retained docs would slip
       through.
    1. **filter** — language allowlist + quality floor + length band
       (the curation_funnel's exact constants, plans/text_family.py);
       optionally Gopher-style repetition caps
       (``max_top_bigram_frac`` / ``max_dup_trigram_frac``) and, when
       ``benchmark_docs`` is given, DECONTAMINATION: drop docs sharing
       any 5-gram with the eval benchmark set (broadcast anti-join,
       operators/dedup.py:contaminated_ids) — eval overlap must never
       reach training bins. All in :func:`_curation_filter_stage`, shared
       with the incremental path;
    2. **exact dedup** — one survivor per normalized-prefix md5 key
       (dedup_exact_survivor's key);
    3. **near-dup removal** — guarded production Jaccard pairs →
       connected components → one representative per group:
       ``survivor_policy="min_id"`` (default — cheapest: the component
       label IS the survivor id, zero extra work) or ``"quality"``
       (round 9 — keep the component's highest text-profile quality
       member, ties to the smaller id: the keep-the-cleanest retention
       real pipelines want, at the cost of one quality projection and
       one component-grain row_number window; the catalog's
       dedup_quality_survivor is its oracle-checked twin) or
       ``"source_rank"`` (round 9 — keep the doc from the
       highest-priority source per ``source_priority`` order, unlisted
       sources rank equal-worst, ties to the smaller id: the provenance
       rule for curated-source-vs-crawl collisions);
       then optionally ``target_mix``: waterline domain-mixture
       reweighting over the DEDUPED survivors
       (operators/sampling.py:mixture_filter) — after dedup so
       duplicate-heavy languages aren't weighted by their own copies.
       (The incremental path deliberately has no such knob: waterline
       rates are corpus-global; computing them from one day's batch would
       drift the mixture day to day. Reweight at training-set assembly,
       or rerun the full path.);
    4. **split** — hash-stable train/val/test assignment (eval sets never
       move as the corpus grows);
    5. **pack** — two-level prefix-sum packing into ``token_budget`` bins
       per (split, lang).

    Returns doc-grain assignments ``(doc_id, lang, split, bin_id, n_tok)``.
    Every stage is the same code the catalog queries/tests exercise, so the
    composition inherits their oracles and guards; the pipeline-level
    invariants (survivors really satisfy the filters, no residual exact or
    near dup pairs, bins conserve tokens, determinism) are pinned in
    tests/test_training_curation.py. Scale posture: stages 1-2 are one scan
    + one keyed shuffle; stage 3 is the banded/guarded pair path (never
    all-pairs); stages 4-5 are hash work + the bounded two-level window.

    ``n_docs`` sizes the stop-shingle guard (pass a known corpus count to
    skip the counting job, as in neardup_production_pairs).

    ``scratch_dir``: forwarded to the component step's per-round edge
    materialization (operators/components.py). On a cluster pass a
    shared-filesystem path here or set the
    ``spark.data_pipeline_team5.scratchDir`` session conf once; unset, a
    driver-local temp dir is used (local mode only). Intermediate edge
    lists are deleted after the labels write either way.

    **Modalities.** Each row of ``operators/multimodal.py:MODALITIES``
    (image, audio, video) adds three optional kwargs:
    ``<m>_blobs``, a (doc_id, blob) frame of the corpus's payloads;
    ``benchmark_<m>_blobs``, the eval benchmark's payloads; and, where
    the table lists decode choices, ``<m>_backend``. With a benchmark,
    docs whose payload is within the table's ``max_hamming`` of any
    benchmark payload drop right after stage 1 (decontamination). With
    blobs, the payloads' perceptual near-dup pairs (the capped banded
    dHash join; the cap is correct here, where clusters, not pair
    lists, are consumed) union into the text pair graph before stage 3,
    so payload duplicates collapse under the same survivor policy. Each
    modality decodes once: the decon stage's pinned 2-longs/doc hash
    table is reused by the dedup stage.
    """
    from data_pipeline_team5_spark.operators.components import (
        connected_components,
    )
    from data_pipeline_team5_spark.operators.dedup import dedup_exact
    from data_pipeline_team5_spark.operators.sampling import (
        pack_bins,
        split_assign,
    )
    from data_pipeline_team5_spark.operators.textops import bpe_token_count

    # 0-langid. optional MODEL-BASED language-ID fill (round 16,
    # VERDICT r15 #1 — the CCNet first stage): a raw corpus's lang
    # column is partial or absent, and stage 1's language allowlist —
    # plus everything per-language after it (per-lang quality models,
    # per-lang packing) — would silently DROP NULL-lang docs. Fit the
    # hashed char-n-gram one-vs-rest models on the labeled slice
    # (capped per lang, driver-side GD), predict ONLY over the
    # NULL-lang slice (one filtered scan), never overwrite a declared
    # lang. Runs before the filter stage BY CONSTRUCTION: filling after
    # it would be filling docs the allowlist already discarded.
    if langid_fill:
        from data_pipeline_team5_spark.operators.langid import (
            fill_missing_lang,
            fit_langid,
        )

        labeled = docs.filter(F.col("lang").isNotNull())
        langid_models = fit_langid(labeled)
        filled = fill_missing_lang(docs, langid_models)
        if langid_model_out:
            # frozen-model hand-off (the quality_model_out precedent):
            # the daily loop fills under the SAME models the full run
            # filled with (`incremental/stream --langid-model`) — and
            # (round 17, VERDICT r16 #2) carries the run's fill-time
            # predicted-lang mixture so each fold can measure drift
            # against it (the quality snapshot's langid twin; one small
            # groupBy over the filled frame, full-run-only cost)
            from data_pipeline_team5_spark.operators.langid import (
                langid_fill_mixture,
                langid_provenance,
                save_langid_model,
            )

            save_langid_model(
                langid_model_out,
                langid_models,
                provenance=langid_provenance(labeled),
                fill_hist=langid_fill_mixture(filled),
            )
        docs = filled.drop("lang_source")

    # 1. filter (+ optional repetition caps / decontamination) — shared
    # stage, single scan, shuffle-free (the anti-join probe is broadcast)
    kept = _curation_filter_stage(
        docs,
        benchmark_docs=benchmark_docs,
        max_top_bigram_frac=max_top_bigram_frac,
        max_dup_trigram_frac=max_dup_trigram_frac,
        scrub_pii=scrub_pii,
        decon_bloom_min_grams=decon_bloom_min_grams,
        bench_gram_count=bench_gram_count,
        decon_n=decon_n,
    )

    # 1a. optional payload decontamination, one pass per modality
    blobs = {"image": image_blobs, "audio": audio_blobs,
             "video": video_blobs}
    backends = {"image": image_backend, "video": video_backend}
    kept, decoded = _modality_decon(
        kept,
        blobs,
        {"image": benchmark_image_blobs, "audio": benchmark_audio_blobs,
         "video": benchmark_video_blobs},
        backends,
        batch=False,
    )

    # 1b. optional MODEL-BASED quality filters (round 14, operators/
    # quality.py — the CCNet two-signal stack), applied to the filtered
    # pool BEFORE dedup, classifier first then LM (so LM tertiles are
    # computed over classifier-clean docs, the published order):
    #
    # - classifier (``quality_classifier_reference``): logistic weights
    #   fit driver-side on the reference (positives) vs its token-
    #   permuted copies (negatives); keep logit > 0 (P(clean) > 0.5);
    # - LM (``lm_reference_docs``): bits-per-bigram under a reference-
    #   fit +1-smoothed hashed-bigram model; drop the WORST exact
    #   tertile (keep head/middle — the CCNet keep rule; tertiles via
    #   the select-k range exchange, no unpartitioned window).
    #
    # Unscoreable docs (<2 tokens) pass both filters — absence of
    # evidence. Each filter pins its narrow (doc_id, score) table (the
    # rfm retention convention; checkpointed BEFORE any filter so
    # pushdown cannot re-inline the scoring HOF into the scan — the
    # measured 110x pathology). FULL-RUN-ONLY knobs, like scrub_pii:
    # the incremental daily path deliberately has neither — a per-batch
    # LM tertile is batch-local (wrong pool), and quality rules in a
    # daily loop belong at ingest with a FROZEN model, not refit per
    # micro-batch (the scrub precedent's argument).
    qm_weights: list[float] | None = None
    qm_bias: float | None = None
    qm_weights_by_lang: dict | None = None
    qm_bias_by_lang: dict | None = None
    qm_logp: list[float] | None = None
    qm_cutoff: float | None = None
    qm_hist: dict = {}

    def _snapshot_hist(scored, col: str, sig: str) -> None:
        # full-run score histogram (round 15, VERDICT r14 #4): stored
        # edges from the run's own min/max so every daily batch bins
        # over IDENTICAL cells (operators/quality.py:score_histogram);
        # one 1-row agg + one groupBy over the already-pinned table
        if quality_model_out is None:
            return
        from data_pipeline_team5_spark.operators.quality import (
            score_histogram,
        )

        mm = scored.agg(
            F.min(col).alias("lo"), F.max(col).alias("hi")
        ).collect()[0]
        if mm["lo"] is None:
            return
        lo, hi = float(mm["lo"]), float(mm["hi"])
        if hi <= lo:
            hi = lo + 1.0  # degenerate single-value run: one live cell
        qm_hist[sig] = {
            "lo": lo,
            "hi": hi,
            "counts": score_histogram(scored, col, lo, hi),
        }

    if quality_classifier_reference is not None and (
        quality_classifier_per_lang
    ):
        from data_pipeline_team5_spark.operators.quality import (
            classifier_score_frame_by_lang,
            fit_quality_classifier_by_lang,
        )

        models = fit_quality_classifier_by_lang(
            quality_classifier_reference
        )
        qm_weights_by_lang = {lang: wb[0] for lang, wb in models.items()}
        qm_bias_by_lang = {lang: wb[1] for lang, wb in models.items()}
        cls_scored = classifier_score_frame_by_lang(
            kept, models
        ).localCheckpoint()
        keep_ids = cls_scored.filter(
            F.col("logit").isNull() | (F.col("logit") > 0)
        ).select("doc_id")
        kept = kept.join(keep_ids, "doc_id")
        _snapshot_hist(cls_scored, "logit", "classifier_logit_by_lang")
    elif quality_classifier_reference is not None:
        from data_pipeline_team5_spark.operators.quality import (
            classifier_score_frame,
            fit_quality_classifier,
        )

        w, b = fit_quality_classifier(quality_classifier_reference)
        qm_weights, qm_bias = w, b
        cls_scored = classifier_score_frame(kept, w, b).localCheckpoint()
        keep_ids = cls_scored.filter(
            F.col("logit").isNull() | (F.col("logit") > 0)
        ).select("doc_id")
        kept = kept.join(keep_ids, "doc_id")
        _snapshot_hist(cls_scored, "logit", "classifier_logit")
    if lm_reference_docs is not None:
        from data_pipeline_team5_spark.operators.quality import (
            fit_hashed_bigram_lm,
            lm_score_frame,
        )
        from data_pipeline_team5_spark.operators.ranks import (
            exact_ntile_bucket,
        )

        logp = fit_hashed_bigram_lm(lm_reference_docs)
        qm_logp = logp
        lm_scored = lm_score_frame(kept, logp).localCheckpoint()
        scoreable = lm_scored.filter(F.col("ppl_bits").isNotNull())
        tertile = exact_ntile_bucket(
            scoreable, ["ppl_bits", "doc_id"], 3
        )
        drop_ids = (
            scoreable.select("doc_id", tertile.alias("_t3"))
            .filter(F.col("_t3") >= 3)
            .select("doc_id")
        )
        kept = kept.join(drop_ids, "doc_id", "left_anti")
        if quality_model_out is not None:
            # the full run's REALIZED keep cutoff (max bits among the
            # head/middle tertiles) — the frozen threshold a daily batch
            # applies (operators/quality.py:apply_frozen_quality_model);
            # one 1-row agg over the already-pinned score table
            row = (
                scoreable.select("ppl_bits", tertile.alias("_t3"))
                .filter(F.col("_t3") <= 2)
                .agg(F.max("ppl_bits").alias("m"))
                .collect()
            )
            qm_cutoff = row[0]["m"] if row else None
        _snapshot_hist(scoreable, "ppl_bits", "lm_bits")
    if quality_model_out is not None and (
        qm_weights is not None
        or qm_weights_by_lang is not None
        or qm_logp is not None
    ):
        from data_pipeline_team5_spark.operators.quality import (
            model_provenance,
            save_quality_model,
        )

        save_quality_model(
            quality_model_out,
            logp=qm_logp,
            lm_keep_max_bits=qm_cutoff,
            weights=qm_weights,
            bias=qm_bias,
            weights_by_lang=qm_weights_by_lang,
            bias_by_lang=qm_bias_by_lang,
            # fit fingerprint (round 15, VERDICT r14 #4) — taken over
            # whichever reference the run actually fit on
            provenance=model_provenance(
                quality_classifier_reference
                if quality_classifier_reference is not None
                else lm_reference_docs
            ),
            score_hist=qm_hist or None,
        )

    # 2. exact dedup (deterministic survivor: min doc_id per content key)
    uniq = dedup_exact(
        kept.withColumn("_key", exact_key("text")), ["_key"], "doc_id"
    ).drop("_key")
    # Materialize the filtered+deduped corpus once: four downstream
    # consumers (the stop-shingle count, pair generation, component
    # vertices, the survivor join) would otherwise each re-run the
    # regex-heavy quality filter — 4 corpus passes instead of 1. A real
    # run materializes this layer anyway (it IS the curated corpus).
    # The stop-shingle guard's corpus count rides the SAME pin job via
    # observe (round 18, guide §1.2 — the components.py fingerprint
    # recipe): previously a separate count job over the pin.
    from pyspark.sql import Observation

    obs = Observation()
    uniq = uniq.observe(
        obs, F.count(F.lit(1)).alias("n")
    ).localCheckpoint()
    if n_docs is None:
        n_docs = int(obs.get["n"])

    # 3. near-dup groups → one representative per component.
    # "jaccard" (inverted index + doc-freq guard) gives exact pairs and is
    # the default; "lsh" (banded MinHash + bucket cap + exact verify) is
    # the cheaper path once the shingle-pair stream outgrows the index
    # approach — both guarded presets, same downstream semantics.
    pairs = neardup_production_pairs(
        uniq,
        threshold=neardup_threshold,
        method=neardup_method,
        n_docs=n_docs,
    ).select(F.col("doc_a").alias("src"), F.col("doc_b").alias("dst"))
    # 3b. optional payload near-dup pairs join the same component graph
    from data_pipeline_team5_spark.operators.multimodal import (
        perceptual_pairs,
    )

    for m in MODALITIES.values():
        if blobs[m.name] is None:
            continue
        mpairs = perceptual_pairs(
            _pool_hashes(m, blobs, decoded, uniq, backends),
            max_hamming=m.max_hamming,
            max_bucket=m.max_bucket,
        )
        pairs = pairs.unionByName(mpairs.select(
            F.col("doc_a").alias("src"), F.col("doc_b").alias("dst")
        ))
    comp = connected_components(
        uniq.select("doc_id"), pairs, id_col="doc_id",
        scratch_dir=scratch_dir,
    )
    if survivor_policy == "min_id":
        survivors = uniq.join(
            comp.filter(F.col("id") == F.col("component")).select(
                F.col("id").alias("doc_id")
            ),
            "doc_id",
        )
    elif survivor_policy == "quality":
        # keep-the-cleanest: argmax quality per component (ties to the
        # smaller id) — one map-side quality projection over the already
        # materialized curated layer + a component-grain window carrying
        # (id, component, double) rows, never text. Bitwise-deterministic
        # for the same reason dedup_quality_survivor's oracle matches:
        # the quality arithmetic is the text-profile constant sequence.
        from pyspark.sql import Window as _W

        from data_pipeline_team5_spark.operators.textops import (
            quality_exprs,
            tokens_expr,
        )

        q = quality_exprs(tokens_expr("text"))["quality"]
        scored = uniq.select("doc_id", q.alias("_q")).join(
            comp, comp.id == F.col("doc_id")
        )
        w = _W.partitionBy("component").orderBy(
            F.desc("_q"), F.asc("doc_id")
        )
        keep_ids = (
            scored.withColumn("_rn", F.row_number().over(w))
            .filter(F.col("_rn") == 1)
            .select("doc_id")
        )
        survivors = uniq.join(keep_ids, "doc_id")
    elif survivor_policy == "source_rank":
        # keep-the-most-trusted: the doc from the highest-priority SOURCE
        # wins its component (ties: smaller id). The real-world collision
        # rule when the same text arrives from a curated source and a
        # crawl — prefer provenance, not content heuristics. Priorities
        # come from `source_priority` (first = best); sources absent from
        # the list rank after every listed one (equal worst rank), so an
        # unlisted source never beats a listed one. Cost: one broadcast
        # ~|sources|-row rank map + the same component-grain window the
        # quality policy pays — (id, component, int) rows, never text.
        from pyspark.sql import Window as _W

        ranks = {s_: i for i, s_ in enumerate(source_priority or [])}
        worst = len(ranks)
        rank_col = F.coalesce(
            F.create_map(
                *[F.lit(x) for kv in sorted(ranks.items()) for x in kv]
            )[F.col("source")].cast("int"),
            F.lit(worst),
        ) if ranks else F.lit(0)
        # the shared filter stage projects source away (the other
        # policies never need it); rejoin it at id grain from the raw
        # input — (id, source) rows only, never text
        src_map = docs.select("doc_id", "source")
        scored = (
            uniq.select("doc_id")
            .join(src_map, "doc_id")
            .select("doc_id", rank_col.alias("_r"))
            .join(comp, comp.id == F.col("doc_id"))
        )
        w = _W.partitionBy("component").orderBy(
            F.asc("_r"), F.asc("doc_id")
        )
        keep_ids = (
            scored.withColumn("_rn", F.row_number().over(w))
            .filter(F.col("_rn") == 1)
            .select("doc_id")
        )
        survivors = uniq.join(keep_ids, "doc_id")
    else:
        raise ValueError(
            f"curate_training_data: unknown survivor_policy "
            f"{survivor_policy!r} (use 'min_id', 'quality' or "
            f"'source_rank')"
        )

    # 3.5 optional domain-mixture reweighting over the DEDUPED survivors
    # (rates computed after dedup, or duplicate-heavy languages would be
    # over-weighted by their own copies); the catalog's
    # domain_mixture_sample is the reporting twin of this filter.
    if target_mix is not None:
        from data_pipeline_team5_spark.operators.sampling import (
            mixture_filter,
        )

        survivors = mixture_filter(survivors, target_mix)

    # 4.-5. split + pack
    # BPE-ish pretoken count, NOT whitespace (VERDICT r5 #2): zh is in the
    # language allowlist and is not whitespace-segmented — whitespace counts
    # understate zh budgets ~100x and pack_bins would overstuff zh bins.
    # Round 17 (VERDICT r16 #3): with ``bpe_merges`` (a fitted merge
    # table, operators/subword.py:fit_bpe) budgets use the LEARNED
    # subword count instead — the pretoken counter floors it, so
    # heuristic budgets systematically understuffed real-tokenizer bins.
    if bpe_merges is not None:
        from data_pipeline_team5_spark.operators.subword import (
            learned_token_count,
        )

        n_tok = learned_token_count(
            F.col("text"), bpe_merges
        ).alias("n_tok")
    else:
        n_tok = bpe_token_count(F.col("text")).alias("n_tok")
    sized = split_assign(
        survivors.select("doc_id", "lang", n_tok), "doc_id"
    )
    packed = pack_bins(
        sized,
        order_key="doc_id",
        size_col="n_tok",
        budget=token_budget,
        partition_cols=("split", "lang"),
    )
    return packed.select("doc_id", "lang", "split", "bin_id", "n_tok")


def curate_incremental_batch(
    new_docs: DataFrame,
    corpus_docs: DataFrame,
    token_budget: int = 2048,
    neardup_threshold: float = 0.6,
    index_sig_path: str | None = None,
    key_index_path: str | None = None,
    exclude_batch_id: str | None = None,
    benchmark_docs: DataFrame | None = None,
    max_top_bigram_frac: float | None = None,
    max_dup_trigram_frac: float | None = None,
    scratch_dir: str | None = None,
    decon_bloom_min_grams: int | None = None,
    bench_gram_count: int | None = None,
    decon_n: int = 5,
    quality_model: dict | None = None,
    new_image_blobs: DataFrame | None = None,
    perceptual_index_path: str | None = None,
    benchmark_image_blobs: DataFrame | None = None,
    image_backend: str = "bmp",
    new_audio_blobs: DataFrame | None = None,
    audio_index_path: str | None = None,
    benchmark_audio_blobs: DataFrame | None = None,
    new_video_blobs: DataFrame | None = None,
    video_index_path: str | None = None,
    benchmark_video_blobs: DataFrame | None = None,
    video_backend: str = "container",
    bpe_merges: list[tuple[str, str]] | None = None,
) -> DataFrame:
    """Daily curation update: run the full curation contract for a NEW
    batch against the already-RETAINED corpus, touching the corpus only
    through index probes — never re-filtering, re-pairing, or re-packing
    it. Returns ``(doc_id, lang, split, bin_id, n_tok)`` for surviving new
    docs only; ``bin_id`` is local to this batch (callers append batches as
    new bin ranges — offsetting by yesterday's max keeps ids unique, and
    hash-stable splits guarantee a doc's split never depends on when it
    arrived).

    **Deployed form** (VERDICT r5 #2): pass ``index_sig_path`` (built by
    :func:`build_signature_index`) and ``key_index_path`` (built by
    :func:`build_exact_key_index`) and the daily cost is O(batch +
    candidates), independent of corpus size — the exact-dedup anti-join
    probes the stored key table, near-dup candidates probe the stored
    signature table, and ``corpus_docs`` text is read only for docs that
    appear in a candidate pair (left-semi shaped). Without the paths the
    recompute form runs instead (same output bitwise — pinned in
    tests/test_incremental_neardup.py — but it re-signs the corpus every
    run; fine for backfills, wrong for a daily loop).

    Semantics are dedup-against-retained (the production contract): a new
    doc is dropped if its near-dup COMPONENT (within the batch ∪ pair-
    linked corpus docs) contains ANY retained-corpus doc, or if it loses
    to the smallest-id new doc in a purely-new component. Note the rule is
    component-level, not edge-level: new C ~ new B ~ corpus X drops C too,
    even though C itself never pairs with X (over-dropping is the safe
    direction; the chained case is pinned in
    tests/test_training_curation.py). This intentionally differs from a
    full recompute in one documented way: chains through PREVIOUSLY
    DROPPED docs don't propagate (A~B dropped yesterday, C~B arriving
    today is kept unless C also matches something retained) — the
    standard trade-off that keeps daily cost independent of corpus
    history.

    Invariants pinned in tests/test_training_curation.py: survivors pass
    every filter, no survivor exact- or near-matches the retained corpus
    or another survivor, and the run is deterministic.

    ``benchmark_docs``: optional eval-benchmark documents; when given the
    batch is decontaminated (any shared 5-gram → dropped) right after the
    quality filter, same stage as :func:`curate_training_data`.

    ``exclude_batch_id``: for REPLAYING a day in the fold loop (crash
    recovery). The stored indexes accumulate one ``batch_id`` partition per
    folded day; replaying day D with its own partition already present
    would match every survivor against ITSELF in the key/signature probes
    and drop the whole batch — then overwrite D's partitions with nothing.
    Passing the batch id filters that partition out of both index reads
    (partition-pruned — no extra scan), restoring bitwise idempotency
    (pinned in tests/test_curate_cli.py).

    ``scratch_dir``: forwarded to the component step (see
    :func:`curate_training_data` — same conf fallback and cleanup).

    **Modalities.** Each row of ``operators/multimodal.py:MODALITIES``
    (image, audio, video) adds ``new_<m>_blobs`` (the batch's
    payloads), ``<index>_index_path`` (the stored hash index built by
    ``build_<index>_index``: ``perceptual_index_path`` for images),
    ``benchmark_<m>_blobs`` and, where the table lists decode choices,
    ``<m>_backend``. The batch's payloads decode ONCE, restricted to
    docs still kept; decontamination runs at the full run's stage, and
    the batch's hashes probe the stored index, so the retained corpus's
    payloads are never decoded again. Probe pairs union into the same
    component graph, so the component-level drop rule covers every
    modality. Blobs need the index, or a benchmark for a decon-only run:
    a recompute fallback would need the CORPUS's blobs, which this path
    never reads. ``exclude_batch_id`` prunes the hash indexes too.
    """
    from data_pipeline_team5_spark.operators.components import (
        connected_components,
    )
    from data_pipeline_team5_spark.operators.dedup import (
        PRODUCTION_MAX_BUCKET,
        dedup_exact,
    )
    from data_pipeline_team5_spark.operators.sampling import (
        pack_bins,
        split_assign,
    )
    from data_pipeline_team5_spark.operators.textops import bpe_token_count

    # 1. filter the new batch (corpus is already curated — untouched);
    # same shared stage as the full run, batch-sized work only
    kept = _curation_filter_stage(
        new_docs,
        benchmark_docs=benchmark_docs,
        max_top_bigram_frac=max_top_bigram_frac,
        max_dup_trigram_frac=max_dup_trigram_frac,
        decon_bloom_min_grams=decon_bloom_min_grams,
        bench_gram_count=bench_gram_count,
        decon_n=decon_n,
    )
    if quality_model is not None:
        # FROZEN-model quality rules (round 14): the daily loop applies
        # the full run's saved thresholds — classifier logit > 0, LM
        # bits ≤ the full run's realized tertile cutoff — never a
        # per-batch refit or a batch-local tertile (wrong pool). Score
        # pins are batch-sized, reclaimed with the batch like the dedup
        # pin below; see operators/quality.py:apply_frozen_quality_model
        # for why the pins are required (the measured filter-on-score
        # pathology).
        from data_pipeline_team5_spark.operators.quality import (
            apply_frozen_quality_model,
        )

        kept = apply_frozen_quality_model(kept, quality_model)

    # 1a. optional payload decontamination, one pass per modality
    blobs = {"image": new_image_blobs, "audio": new_audio_blobs,
             "video": new_video_blobs}
    bench_blobs = {"image": benchmark_image_blobs,
                   "audio": benchmark_audio_blobs,
                   "video": benchmark_video_blobs}
    backends = {"image": image_backend, "video": video_backend}
    kept, decoded = _modality_decon(
        kept, blobs, bench_blobs, backends, batch=True
    )

    # 2. exact dedup: within the batch, then anti-join the corpus's keys —
    # probed from the stored key table when available (O(batch) probe)
    # instead of scanning + distinct-ing the whole corpus every run
    uniq = dedup_exact(
        kept.withColumn("_key", exact_key("text")), ["_key"], "doc_id"
    )
    if key_index_path is not None:
        corpus_keys = new_docs.sparkSession.read.parquet(key_index_path)
        if exclude_batch_id is not None and "batch_id" in corpus_keys.columns:
            corpus_keys = corpus_keys.filter(
                F.col("batch_id") != exclude_batch_id
            )
        corpus_keys = corpus_keys.select("_key")
    else:
        corpus_keys = corpus_docs.select(
            exact_key("text").alias("_key")
        ).distinct()
    uniq = uniq.join(corpus_keys, "_key", "left_anti").drop("_key")
    uniq = uniq.localCheckpoint()  # same 4-consumer argument as the full run

    # 3. near-dup vs corpus + within batch (incremental pairs only);
    # stored-index form probes the materialized signatures
    if index_sig_path is not None:
        raw_pairs = neardup_incremental_against_index(
            uniq,
            index_sig_path,
            corpus_docs,
            threshold=neardup_threshold,
            max_bucket=PRODUCTION_MAX_BUCKET,
            exclude_batch_id=exclude_batch_id,
        )
    else:
        raw_pairs = neardup_incremental_pairs(
            uniq,
            corpus_docs,
            threshold=neardup_threshold,
            max_bucket=PRODUCTION_MAX_BUCKET,
        )
    # payload near-dups probe each modality's stored hash index; the
    # retained corpus's payloads are never decoded again
    from data_pipeline_team5_spark.operators.multimodal import (
        perceptual_pairs_against_index,
    )

    index_paths = {"image": perceptual_index_path,
                   "audio": audio_index_path, "video": video_index_path}
    for m in MODALITIES.values():
        path = index_paths[m.name]
        if blobs[m.name] is None:
            continue
        if path is None:
            if bench_blobs[m.name] is not None:
                continue  # decon-only
            raise ValueError(
                f"curate_incremental_batch: new_{m.name}_blobs requires "
                f"{m.index}_index_path (build_{m.index}_index) — the "
                f"daily loop never re-decodes the retained corpus's "
                f"{m.noun} — and/or benchmark_{m.name}_blobs (decon-only)"
            )
        idx = new_docs.sparkSession.read.parquet(path)
        if exclude_batch_id is not None and "batch_id" in idx.columns:
            idx = idx.filter(F.col("batch_id") != exclude_batch_id)
        mpairs = perceptual_pairs_against_index(
            _pool_hashes(m, blobs, decoded, uniq, backends),
            idx.select("doc_id", "dhash", "ahash"),
            max_hamming=m.max_hamming,
            max_bucket=m.max_bucket,
        )
        raw_pairs = raw_pairs.select("doc_a", "doc_b").unionByName(
            mpairs.select("doc_a", "doc_b")
        )
    # localCheckpoint (round 17, guide §2.4): the verified pair list is
    # consumed by corpus_in_pairs (twice — src and dst legs), the
    # component step's edge materialization, AND — through vertices →
    # comp → flagged → survivors → pack_bins' two window legs — by every
    # re-evaluation of the final plan. Without a cut the whole
    # candidate+verify subtree re-executes up to 8x inside the one
    # output job (profiled at sf0.1; the r16 executed plan embedded four
    # copies of the verify tree). Pairs are small by construction
    # (capped buckets → accepted candidates only), so the pin is
    # batch-sized, reclaimed with the batch.
    pairs = raw_pairs.select(
        F.col("doc_a").alias("src"), F.col("doc_b").alias("dst")
    ).localCheckpoint()
    new_ids = uniq.select("doc_id")
    corpus_in_pairs = (
        pairs.select(F.col("src").alias("doc_id"))
        .unionByName(pairs.select(F.col("dst").alias("doc_id")))
        .distinct()
        .join(new_ids, "doc_id", "left_anti")  # pair members from corpus
    )
    vertices = new_ids.unionByName(corpus_in_pairs)
    comp = connected_components(
        vertices, pairs, id_col="doc_id", scratch_dir=scratch_dir
    )
    flagged = comp.join(
        new_ids.withColumn("_new", F.lit(True)),
        comp.id == new_ids.doc_id,
        "left",
    ).select(
        "id", "component", F.coalesce("_new", F.lit(False)).alias("_new")
    )
    # a component containing ANY corpus doc keeps none of its new docs;
    # otherwise the min-id new doc survives (same rule as the full run)
    comp_stats = flagged.groupBy("component").agg(
        F.min(F.when(F.col("_new"), F.col("id"))).alias("_rep"),
        F.max((~F.col("_new")).cast("int")).alias("_has_corpus"),
    )
    survivors = (
        flagged.filter(F.col("_new"))
        .join(comp_stats, "component")
        .filter(
            (F.col("_has_corpus") == 0) & (F.col("id") == F.col("_rep"))
        )
        .select(F.col("id").alias("doc_id"))
        .join(uniq, "doc_id")
    )

    # 4.-5. split + pack (batch-local bins)
    # BPE-ish pretoken count, NOT whitespace (VERDICT r5 #2): zh is in the
    # language allowlist and is not whitespace-segmented — whitespace counts
    # understate zh budgets ~100x and pack_bins would overstuff zh bins.
    # ``bpe_merges`` (round 17): the FULL run's fitted merge table — the
    # frozen-model discipline: a daily batch sizes docs under the same
    # vocabulary the full run packed with, never a per-batch refit.
    if bpe_merges is not None:
        from data_pipeline_team5_spark.operators.subword import (
            learned_token_count,
        )

        n_tok = learned_token_count(
            F.col("text"), bpe_merges
        ).alias("n_tok")
    else:
        n_tok = bpe_token_count(F.col("text")).alias("n_tok")
    # localCheckpoint (round 17, guide §2.4): pack_bins consumes its
    # input twice (per-shard cumsum + shard totals) and joins the two —
    # without a cut each leg re-runs the whole survivors tree (component
    # labels join + comp_stats + the uniq join). The pinned layer is the
    # batch's id-grain (doc_id, lang, n_tok, split) — narrow and
    # batch-sized, reclaimed with the batch like the pair pin above.
    sized = split_assign(
        survivors.select("doc_id", "lang", n_tok), "doc_id"
    ).localCheckpoint()
    packed = pack_bins(
        sized,
        order_key="doc_id",
        size_col="n_tok",
        budget=token_budget,
        partition_cols=("split", "lang"),
    )
    return packed.select("doc_id", "lang", "split", "bin_id", "n_tok")


def bench_training_curation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Timed bench entry (bench.py EXTRAS): the full curation pipeline over
    the documents fixture — the engine's end-to-end production story."""
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    return curate_training_data(docs)


def write_store(
    df: DataFrame,
    path: str,
    batch_id: str | None = None,
    mode: str = "overwrite",
) -> None:
    """Write ``df`` to a fold-store root. With ``batch_id`` (the daily
    loop's form) the rows land as their own ``batch_id=<id>`` partition
    with dynamic partition overwrite, so REPLAYING a batch replaces its
    partition instead of appending duplicate rows — duplicate index rows
    would double-count combined bucket membership in the probes'
    ``max_bucket`` caps and silently drop true candidate pairs (ADVICE
    r5 #2). Without it, a plain ``mode`` write, for callers with an
    external exactly-once guarantee."""
    if batch_id is None:
        df.write.mode(mode).parquet(path)
        return
    (
        df.withColumn("batch_id", F.lit(batch_id))
        .write.mode("overwrite")
        .option("partitionOverwriteMode", "dynamic")
        .partitionBy("batch_id")
        .parquet(path)
    )


def build_signature_index(
    docs: DataFrame,
    path: str,
    id_col: str = "doc_id",
    text_col: str = "text",
    num_perm: int = 32,
    mode: str = "overwrite",
    batch_id: str | None = None,
) -> None:
    """Materialize the corpus's MinHash signature table — the stored index
    the incremental near-dup path probes daily.

    One pass over the corpus (shingle stream → map-side partial mins → one
    groupBy shuffle), then a plain parquet write: ``num_perm`` BIGINT
    columns per doc, ~256 bytes/doc at num_perm=32 — a 1e10-doc corpus
    indexes in ~2.5 TB, independent of document length.

    Daily upkeep (probe, dedup, fold the batch in) should pass
    ``batch_id`` (e.g. the ingest date) — see :func:`write_store`."""
    from data_pipeline_team5_spark.operators.dedup import (
        doc_shingles,
        minhash_signatures,
    )

    sig = minhash_signatures(
        doc_shingles(docs, id_col, text_col), num_perm=num_perm
    )
    write_store(sig, path, batch_id, mode)


def build_hash_index(
    modality: str,
    blobs: DataFrame,
    path: str,
    backend: str | None = None,
    mode: str = "overwrite",
    batch_id: str | None = None,
) -> None:
    """Materialize the corpus's (doc_id, dhash, ahash) hash table for one
    row of ``operators/multimodal.py:MODALITIES`` — the stored index the
    incremental payload-dedup path probes daily. One Arrow-batched
    decode+hash pass over the blobs (the expensive step, exactly what
    the daily loop must never repeat for the retained corpus; for video
    every frame decodes), then a plain parquet write: 2 BIGINTs/doc,
    ~16 bytes — a 1e10-payload corpus indexes in ~160 GB, independent of
    payload size. ``backend`` defaults to the table's; same idempotent
    replay contract as :func:`build_signature_index` via ``batch_id``."""
    m = MODALITIES[modality]
    write_store(
        m.hashes(blobs, backend=backend or m.backend), path, batch_id, mode
    )


build_perceptual_index = functools.partial(build_hash_index, "image")
build_audio_index = functools.partial(build_hash_index, "audio")
build_video_index = functools.partial(build_hash_index, "video")


def build_exact_key_index(
    docs: DataFrame,
    path: str,
    text_col: str = "text",
    mode: str = "overwrite",
    batch_id: str | None = None,
) -> None:
    """Materialize the retained corpus's exact-dedup key table (distinct
    ``exact_key`` values) — the stored probe target for the incremental
    batch's exact-dedup anti-join, so a daily run never scans + distincts
    the whole corpus just to rediscover keys it already knew (VERDICT r5
    #2). 16 bytes/distinct key; same idempotent-replay contract as
    ``build_signature_index`` via ``batch_id``."""
    keys = docs.select(exact_key(text_col).alias("_key")).distinct()
    write_store(keys, path, batch_id, mode)


def append_corpus_batch(
    docs: DataFrame, path: str, batch_id: str
) -> None:
    """Fold a batch's surviving DOCUMENT ROWS into the maintained retained-
    corpus root as an idempotent ``batch_id`` partition — the corpus-side
    twin of ``build_signature_index``'s daily upkeep.

    The daily loop must grow all THREE stores together: signature index,
    exact-key index, and the corpus itself. Folding survivors into the
    indexes while the corpus stays static makes tomorrow's candidate pairs
    reference docs whose text the verify stage cannot see — near-dups of
    folded survivors would be silently KEPT (ADVICE r6 #1; the loud
    runtime guard is in ``neardup_incremental_against_index``)."""
    write_store(docs, path, batch_id)


def compact_fold_stores(
    spark: SparkSession,
    roots: list[str],
    into: str = "base",
    target_mb: int = 128,
) -> dict[str, dict[str, int]]:
    """Operational maintenance for the daily fold loop (round 8): collapse
    each store root's accumulated ``batch_id=`` partitions into ONE
    consolidated ``batch_id=<into>`` partition, preserving every non-
    ``batch_id`` cell bitwise.

    Why: the fold loop appends one partition per day to FOUR roots
    (corpus, signature index, key index, assignments). After a year that
    is ~365 partitions × a handful of files each, per store — the classic
    small-files regime where InMemoryFileIndex listing and per-file scan
    setup start to dominate every probe (the same failure
    sources/writers.py:compact_partitions handles for the day-partitioned
    facts). Probes and ``next_bin_offset`` read the whole root, so
    consolidating partitions changes NOTHING semantically — pinned by the
    post-compaction-day-equivalence test in tests/test_curate_cli.py.

    When: only beyond the replay horizon. Replaying a day whose partition
    was folded into ``<into>`` is impossible afterwards
    (``exclude_batch_id`` can no longer isolate it — its rows would match
    themselves in the index probes and the whole replay would be
    dropped); compact days that will never be replayed, i.e. anything
    older than the crash-recovery window, and keep folding NEW days as
    fresh partitions on top.

    How: each root is rewritten to a sibling ``<root>__compact_tmp`` dir
    first, then swapped in via two Hadoop-FS renames with the original
    parked at ``<root>__pre_compact`` until the swap completes — a crash
    at any point leaves the original or both trees on disk, never
    neither. (On object stores rename is a copy; run this as the
    off-peak maintenance job it is.) Row counts are re-verified after
    the swap and a mismatch raises.

    Returns per-root ``{"files_before", "files_after", "rows"}``.
    """
    jvm = spark._jvm
    conf = spark._jsc.hadoopConfiguration()

    def fs_path(p: str):
        return jvm.org.apache.hadoop.fs.Path(p)

    def parquet_file_count(root: str) -> int:
        fs = fs_path(root).getFileSystem(conf)
        it = fs.listFiles(fs_path(root), True)
        n = 0
        while it.hasNext():
            f = it.next().getPath().getName()
            if f.endswith(".parquet"):
                n += 1
        return n

    report: dict[str, dict[str, int]] = {}
    for root in roots:
        df = spark.read.parquet(root)
        if "batch_id" not in df.columns:
            raise ValueError(
                f"compact_fold_stores: {root} is not a batch_id-"
                "partitioned fold store"
            )
        # Partition-type guard: if every existing batch_id value is
        # numeric-looking (e.g. "20240101"), Spark's partition inference
        # types the column numeric on THIS read, while the rewritten store
        # (single batch_id=<into> partition) will always infer string —
        # a silent schema flip that breaks unions/comparisons between
        # pre- and post-compaction reads of the same store. Refuse loudly
        # instead; the fold loop itself always writes string-shaped ids
        # (dYYYY-MM-DD), so this only fires for hand-built stores.
        from pyspark.sql.types import StringType

        if not isinstance(df.schema["batch_id"].dataType, StringType):
            raise ValueError(
                f"compact_fold_stores: {root} has all-numeric batch_id "
                f"partition values (inferred "
                f"{df.schema['batch_id'].dataType.simpleString()}); "
                f"compacting into batch_id={into!r} would flip the "
                "inferred partition type to string and silently change "
                "the store schema. Use non-numeric batch ids (the fold "
                "loop's dYYYY-MM-DD shape) for compactable stores."
            )
        n_rows = df.count()
        files_before = parquet_file_count(root)
        tmp, bak = f"{root}__compact_tmp", f"{root}__pre_compact"
        # Right-size the output files from the scan's own size estimate
        # (same discipline as sources/writers.py:compact_partitions) —
        # without this the rewrite inherits the read-task layout and a
        # 40-batch store still lands ~40 small files.
        total_bytes = int(
            df._jdf.queryExecution().optimizedPlan().stats().sizeInBytes()
        )
        n_files = max(1, total_bytes // (target_mb * 1024 * 1024))
        (
            df.drop("batch_id")
            .withColumn("batch_id", F.lit(into))
            .repartition(int(n_files))
            .write.mode("overwrite")
            .partitionBy("batch_id")
            .parquet(tmp)
        )
        fs = fs_path(root).getFileSystem(conf)
        fs.delete(fs_path(bak), True)  # stale backup from a prior crash
        if not fs.rename(fs_path(root), fs_path(bak)):
            raise RuntimeError(f"compact: could not park {root} at {bak}")
        if not fs.rename(fs_path(tmp), fs_path(root)):
            # roll the original back before failing — never leave no tree
            fs.rename(fs_path(bak), fs_path(root))
            raise RuntimeError(f"compact: could not swap {tmp} into {root}")
        n_after = spark.read.parquet(root).count()
        if n_after != n_rows:
            # Never leave the mismatched tree ACTIVE: park it for
            # forensics and swap the verified-good original back in, so
            # concurrent/subsequent probes and folds keep reading the
            # correct store even when this raise goes unhandled.
            bad = f"{root}__compact_bad"
            fs.delete(fs_path(bad), True)  # stale bad tree from before
            if not fs.rename(fs_path(root), fs_path(bad)):
                # the park itself failed: the corrupt tree is STILL live
                # at root — say so precisely instead of claiming a
                # restore happened (a restore attempt over the occupied
                # root would fail too and mislead the operator twice)
                raise RuntimeError(
                    f"compact: row count changed for {root} "
                    f"({n_rows} -> {n_after}) AND parking the bad tree "
                    f"failed — the BAD tree is still ACTIVE at {root}; "
                    f"verified-good original at {bak}"
                )
            if not fs.rename(fs_path(bak), fs_path(root)):
                raise RuntimeError(
                    f"compact: row count changed for {root} "
                    f"({n_rows} -> {n_after}) AND restoring the backup "
                    f"failed — original at {bak}, bad tree at {bad}"
                )
            raise RuntimeError(
                f"compact: row count changed for {root} "
                f"({n_rows} -> {n_after}); original restored, bad tree "
                f"kept at {bad}"
            )
        fs.delete(fs_path(bak), True)
        report[root] = {
            "files_before": files_before,
            "files_after": parquet_file_count(root),
            "rows": n_rows,
        }
    return report


def next_bin_offset(
    spark: SparkSession, assignments_root: str, exclude_batch_id: str | None = None
) -> int:
    """Packing offset for the next daily batch: 1 + the max ``bin_id``
    already written under ``assignments_root`` (0 if the root doesn't exist
    yet). ``curate_incremental_batch`` emits BATCH-LOCAL bin ids; adding
    this offset before appending keeps ids unique across the accumulated
    assignment partitions (the docstring contract at
    :func:`curate_incremental_batch` — now a helper, not prose).

    ``exclude_batch_id``: when REPLAYING a batch into a ``batch_id``-
    partitioned root, pass its id so the offset is computed over the OTHER
    batches — otherwise the replay would see its own previous rows and
    shift, breaking the partition overwrite's idempotency. (Bitwise replay
    is guaranteed only for the LATEST batch — the crash-recovery case; an
    older batch replayed after newer folds sees a moved-on store and may
    legitimately differ.)"""
    try:
        df = spark.read.parquet(assignments_root)
    except Exception:  # root absent on day 0 — Spark raises AnalysisException
        return 0
    if exclude_batch_id is not None and "batch_id" in df.columns:
        df = df.filter(F.col("batch_id") != exclude_batch_id)
    row = df.agg(F.max("bin_id").alias("m")).first()
    return 0 if row is None or row["m"] is None else int(row["m"]) + 1


_BENCH_IDX_BUILT: set[str] = set()


def bench_curate_incremental_indexed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Timed bench entry (bench.py EXTRAS): the DEPLOYED daily-batch shape —
    curate_incremental_batch probing a STORED signature index + key table
    (1/3 of documents as the new batch vs 2/3 as the indexed corpus).

    The indexes are built once per (process, sf_dir) into the untracked
    .scratch/ dir; the first bench pass pays the build, so min-of-N reports
    the probe-only daily cost — which is the number that must stay flat as
    the corpus grows (tools/stress_10x.py measures that directly)."""
    import os

    from data_pipeline_team5_spark import SCRATCH_DIR

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    index = docs.filter(F.col("doc_id") % 3 != 0)
    new = docs.filter(F.col("doc_id") % 3 == 0)
    tag = os.path.basename(sf_dir.rstrip("/"))
    root = os.path.join(SCRATCH_DIR, f"bench_idx_{tag}")
    sig, key = f"{root}/sig", f"{root}/key"
    if root not in _BENCH_IDX_BUILT:
        build_signature_index(index, sig)
        build_exact_key_index(index, key)
        _BENCH_IDX_BUILT.add(root)
    return curate_incremental_batch(
        new, index, index_sig_path=sig, key_index_path=key
    )


def neardup_incremental_against_index(
    new_docs: DataFrame,
    index_sig_path: str,
    index_docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    threshold: float = 0.6,
    num_perm: int = 32,
    bands: int = 8,
    max_bucket: int | None = None,
    exclude_batch_id: str | None = None,
) -> DataFrame:
    """The deployed form of ``neardup_incremental_pairs``: index signatures
    come from the stored table (built by ``build_signature_index``) instead
    of being recomputed, so the daily cost is one pass over the NEW batch
    plus the bucket-key probe, and verification shingles O(candidate docs)
    (:func:`_verify_candidates`) — the whole run is O(batch + candidates),
    independent of corpus size. Bitwise-equal to the recompute form
    (tests/test_incremental_neardup.py).

    Precondition (guarded loudly below): ``index_docs`` must contain the
    TEXT of every doc in the stored signature index. A caller that folds
    daily survivors into the index but keeps passing a stale corpus would
    otherwise produce candidate pairs whose corpus side has no text —
    verify_jaccard's inner shingle join silently drops such pairs, and
    near-dups of previously folded survivors would be KEPT.
    """
    from data_pipeline_team5_spark.operators.dedup import (
        doc_shingles,
        incremental_lsh_candidates,
        minhash_signatures,
    )

    index_sig = new_docs.sparkSession.read.parquet(index_sig_path)
    if exclude_batch_id is not None and "batch_id" in index_sig.columns:
        # replay support: drop the replayed day's own partition
        # (partition-pruned read — see curate_incremental_batch docstring)
        index_sig = index_sig.filter(F.col("batch_id") != exclude_batch_id)
    # Loud guard: a stored index built with a different num_perm would
    # either fail on a missing mh column or — worse, num_perm smaller than
    # stored — silently band over a signature PREFIX, generating candidates
    # a full recompute would not (and vice versa). Signatures are only
    # comparable at identical permutation sets.
    stored_perm = sum(c.startswith("mh") for c in index_sig.columns)
    if stored_perm != num_perm:
        raise ValueError(
            f"stored signature index at {index_sig_path} has "
            f"{stored_perm} permutations, probe expects {num_perm} — "
            "rebuild the index or pass matching num_perm"
        )

    def check_coverage(cand: DataFrame, ver: DataFrame) -> None:
        # Loud stale-corpus guard: every id appearing in a candidate pair
        # must have text in new ∪ index_docs. A shortfall means the stored
        # index knows docs the caller's corpus no longer carries (e.g.
        # survivors folded into the index while the corpus stayed
        # static); proceeding would silently KEEP near-dups of those docs,
        # because verify_jaccard's inner join drops textless pairs. ONE
        # aggregation job over the two pinned frames: the daily path is
        # job-floor-bound, and one union-agg answers both counts.
        counts = (
            cand.select(F.col("doc_a").alias(id_col))
            .unionByName(cand.select(F.col("doc_b").alias(id_col)))
            .distinct()
            .withColumn("_src", F.lit("pair"))
            .unionByName(
                ver.select(id_col).distinct().withColumn("_src", F.lit("cov"))
            )
            .groupBy("_src")
            .agg(F.count(F.lit(1)).alias("n"))
            .collect()
        )
        by_src = {r["_src"]: r["n"] for r in counts}
        n_pair_ids = by_src.get("pair", 0)
        n_covered = by_src.get("cov", 0)
        if n_covered < n_pair_ids:
            raise ValueError(
                f"signature index at {index_sig_path} yielded candidate "
                f"pairs over {n_pair_ids} distinct docs but only "
                f"{n_covered} have text in new_docs ∪ index_docs — the "
                "corpus is stale relative to the index (fold survivors "
                "into the corpus too, or rebuild the index from the "
                "corpus actually passed)"
            )

    cand = incremental_lsh_candidates(
        minhash_signatures(
            doc_shingles(new_docs, id_col, text_col), num_perm=num_perm
        ),
        index_sig,
        num_perm=num_perm,
        bands=bands,
        max_bucket=max_bucket,
    )
    return _verify_candidates(
        cand, [new_docs, index_docs], id_col, text_col, threshold,
        check=check_coverage,
    )


def bench_neardup_incremental(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Timed bench entry (bench.py EXTRAS): the incremental daily-ingest
    near-dup shape — 1/3 of the documents fixture arriving as the new batch
    against the other 2/3 as the indexed corpus, production bucket cap on."""
    from data_pipeline_team5_spark.operators.dedup import (
        PRODUCTION_MAX_BUCKET,
    )

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet").select(
        "doc_id", "text"
    )
    return neardup_incremental_pairs(
        docs.filter(F.col("doc_id") % 3 == 0),
        docs.filter(F.col("doc_id") % 3 != 0),
        max_bucket=PRODUCTION_MAX_BUCKET,
    )


def neardup_incremental_pairs(
    new_docs: DataFrame,
    index_docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    threshold: float = 0.6,
    num_perm: int = 32,
    bands: int = 8,
    max_bucket: int | None = None,
) -> DataFrame:
    """Near-dup pairs for an INCREMENTAL batch against an existing corpus:
    every returned ``(doc_a, doc_b, jaccard)`` pair touches at least one
    new doc; index-vs-index pairs are never generated (they were found when
    those docs were themselves the new batch).

    This is the daily-ingest shape at 100 TB: signature cost is one pass
    over the NEW docs plus a bucket-key join probe into the index — the
    corpus is never re-paired, and verification shingles only candidate
    docs (:func:`_verify_candidates`). This recompute form still pays one
    corpus pass for the index signatures;
    ``neardup_incremental_against_index`` reads them from the stored table
    instead, which is the deployed O(batch + candidates) path.

    Equivalence contract (pinned in tests/test_incremental_neardup.py):
    full-corpus pairs == within(index) ∪ incremental(new vs index), and
    every incremental pair touches a new doc.
    """
    from data_pipeline_team5_spark.operators.dedup import (
        doc_shingles,
        incremental_lsh_candidates,
        minhash_signatures,
    )

    new_sh = doc_shingles(new_docs, id_col, text_col)
    idx_sh = doc_shingles(index_docs, id_col, text_col)
    cand = incremental_lsh_candidates(
        minhash_signatures(new_sh, num_perm=num_perm),
        minhash_signatures(idx_sh, num_perm=num_perm),
        num_perm=num_perm,
        bands=bands,
        max_bucket=max_bucket,
    )
    return _verify_candidates(
        cand, [new_docs, index_docs], id_col, text_col, threshold
    )


def main(argv: list[str] | None = None) -> int:
    """Operational entry point — the engine's replacement for the
    reference's Airflow cron (`schedule_interval='0 0 * * *'`,
    daily_parquet_pipeline.py:174): cron this module instead.

        python -m data_pipeline_team5_spark.pipeline \\
            --input day1.json [day2.json ...] --warehouse /data/box_office

    Each --input file is one KOFIC-shaped response document; the run
    ingests all of them, applies the quality gate, executes both
    transforms, and prints one JSON summary line (row counts per output).
    """
    import argparse
    import json as _json
    import sys as _sys

    from data_pipeline_team5_spark.session import get_spark

    ap = argparse.ArgumentParser(prog="data_pipeline_team5_spark.pipeline")
    ap.add_argument("--input", nargs="+", required=True,
                    help="KOFIC-shaped JSON document file(s), one per day")
    ap.add_argument("--warehouse", required=True,
                    help="partitioned parquet root for the long table")
    ap.add_argument("--dates", nargs="*", default=None,
                    help="ISO dates to transform (default: all ingested)")
    args = ap.parse_args(argv)
    if not args.dates:
        args.dates = None  # bare --dates must mean 'default', not isin([])

    from pathlib import Path

    docs = [Path(p).read_text() for p in args.input]
    spark = get_spark(app_name="daily_pipeline")
    outputs = daily_pipeline(spark, docs, args.warehouse, dates=args.dates)
    summary = {name: df.count() for name, df in outputs.items()}
    print(_json.dumps({"status": "ok", "rows": summary}))
    return 0


if __name__ == "__main__":  # pragma: no cover - exercised via tests.main()
    raise SystemExit(main())
