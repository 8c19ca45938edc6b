"""Session-level pin audit (round 14, VERDICT r13 #6): the retention
conventions — "this query's plan RETAINS its narrow checkpoint pin" —
were per-query docstring facts; this sweep makes the invariant machine-
checked GLOBALLY. For every catalog query: run it, fetch it, and assert
the number of NEWLY-retained persistent RDDs equals the documented
expectation — zero unless the query is in the allowlist below with its
mechanism. A new query that silently localCheckpoints (or an operator
change that starts leaking its transient select-k/Bloom pins) fails
here by name.

Repeated invocations accumulate pins BY DESIGN (each call's plan
retains its own snapshot — the documented rfm convention); the audit
therefore checks the per-call delta, which is also the quantity a
long-running session's growth is proportional to.
"""

from __future__ import annotations

from data_pipeline_team5_spark.plans.catalog import QUERIES
from tests.conftest import SF_SMALL

# query -> exactly how many persistent RDDs ONE fetch retains, and why.
# Every mechanism is a bounded, documented pin — reference-sized,
# score-table-sized, or day-grain — never corpus-sized (the per-query
# docstrings carry the size argument; this table carries the COUNT).
EXPECTED_PINS = {
    "dash_movie_panel": 1,  # 25-row corr panel pin (round 10)
    "d5_d6_time_panel": 1,  # day-grain panel pin
    "minhash_lsh_neardup": 1,  # signature-table pin (two consumers)
    "neardup_incremental": 2,  # candidate-pair snapshot + candidate-docs
    # pin (round 18: the verify plan consumes the candidate-docs
    # semi-join twice — doc_a and doc_b shingle legs — and re-derived
    # the corpus∪new scan per leg without the cut; both pins are
    # candidate-sized, never corpus-sized)
    "tfidf_doc_scores": 2,  # (doc,term) counts + vocab rollup pins
    "decontamination_panel": 1,  # shared exact↔bloom gram snapshot
    "line_boilerplate_scrub": 1,  # boilerplate-set pin
    "stream_neardup_ingest": range(1, 17),  # one pin per drained
    # micro-batch (maxFilesPerTrigger=1) — the arrivals FILE COUNT, which
    # varies with the session's write parallelism (5 in a 32-slot dev
    # session, 10 under the suite's shuffle_partitions=8), so the audit
    # bounds it instead of pinning one layout; the per-batch invariant
    # itself is pinned in tests/test_streaming.py
    "semantic_dedup": 1,  # k-means cell-assignment pin
    "vocab_coverage": 1,  # term-count pin
    "term_spectrum": 1,  # term-count pin (shared idiom)
    "skew_key_report": 1,  # grain-count pin
    "rfm_segments": 1,  # per-user metrics pin (THE retention convention)
    "decontaminate_bloom_prefilter": 1,  # reference-gram snapshot
    "lm_perplexity_filter": 1,  # score-table pin
    "quality_classifier_filter": 1,  # score-table pin
    "mm_perceptual_neardup": 1,  # hash-table pin (decode runs once)
    "mm_perceptual_dedup": 1,  # same hash-table pin (single decode pass
    # feeding both the banded join and the component vertices)
    "mm_decontaminate": 1,  # same hash-table pin (corpus side decodes
    # once; the benchmark-side pin is released with the returned plan)
    "mm_audio_dedup": 1,  # round 16: the audio hash-table pin (single
    # WAV-decode pass feeding both the banded join and the component
    # vertices — the mm_perceptual_dedup mechanism on audio hashes)
    "mm_video_dedup": 1,  # round 17: the video hash-table pin (single
    # container-decode pass — the costliest of the three modalities,
    # every frame decodes — feeding both the banded join and the
    # component vertices; the mm_perceptual_dedup mechanism)
    "bpe_learned_tokens": 0,  # the BPE fit's construction checkpoint
    # (the capped sample's pretoken arrays) is released by fit_bpe once
    # the word counts are collected; nothing the query returns uses it
    "langid_predict": 0,  # likewise: fit_langid releases its gram-array
    # checkpoint right after the one training-feature collect
    "lm_perplexity_by_lang": 1,  # score-table pin
    "quality_classifier_by_lang": 1,  # score-table pin
    "sampling_panel": 1,  # round 17: the DSIR 256-row sufficient-
    # statistics table pinned for its two consumers (bucket rows +
    # totals row — the dash_movie_panel grid idiom)
    "scrub_panel": 1,  # the line stage's boilerplate-set pin, inherited
    "behavior_panel": 1,  # rfm_segments' per-user pin, inherited
}


def test_every_query_pin_delta_is_documented(spark):
    jsc = spark.sparkContext._jsc
    keep = []  # hold result handles: ContextCleaner must not unpin
    # a collected result mid-sweep and hide a real retention
    wrong = {}
    for name, q in QUERIES.items():
        before = set(jsc.getPersistentRDDs().keySet().toArray())
        df = q.fn(spark, SF_SMALL)
        df.count()
        keep.append(df)
        delta = len(
            set(jsc.getPersistentRDDs().keySet().toArray()) - before
        )
        want = EXPECTED_PINS.get(name, 0)
        ok = delta in want if isinstance(want, range) else delta == want
        if not ok:
            wrong[name] = (delta, want)
    assert not wrong, (
        "pin-retention drift (got, documented) — a new retainer must "
        f"be allowlisted WITH its mechanism: {wrong}"
    )


def test_pin_allowlist_is_exact():
    """Every allowlisted name must exist — a renamed/removed query must
    not leave a stale expectation behind."""
    missing = [n for n in EXPECTED_PINS if n not in QUERIES]
    assert not missing, missing


def test_fits_release_their_construction_pins(spark):
    """``fit_bpe`` and ``fit_langid`` each pin the capped sample before
    their explode, collect once, and release the pin: a fit leaves no
    new persistent RDD behind, however late ContextCleaner runs (the
    ``contaminated_ids`` no-leak test's shape)."""
    from pyspark.sql import functions as F

    from data_pipeline_team5_spark.operators.langid import fit_langid
    from data_pipeline_team5_spark.operators.subword import fit_bpe
    from data_pipeline_team5_spark.plans.catalog import table

    docs = table(spark, SF_SMALL, "documents")
    jsc = spark.sparkContext._jsc
    for name, fit in (
        ("fit_bpe", lambda: fit_bpe(docs)),
        ("fit_langid",
         lambda: fit_langid(docs.filter(F.col("lang").isNotNull()))),
    ):
        before = set(jsc.getPersistentRDDs().keySet().toArray())
        assert fit(), name
        leaked = set(jsc.getPersistentRDDs().keySet().toArray()) - before
        assert not leaked, (name, leaked)
