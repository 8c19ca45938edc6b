"""Operational CLI for the training-data curation pipeline — the curation
counterpart of ``python -m data_pipeline_team5_spark.pipeline`` (which
crons the reference's KOFIC ingest). Subcommands mirror the deployed
lifecycle (pipeline.py presets; invariants in tests/test_training_curation,
tests/test_incremental_neardup, tests/test_curate_cli):

  full         one-shot corpus curation (filter → optional benchmark
               decontamination → exact dedup → guarded near-dup
               components → hash-stable splits → BPE-budget packing) —
               the backfill / first-build path
  init-corpus  seed the MAINTAINED retained-corpus root from a documents
               parquet, written as an idempotent ``batch_id`` partition
  build-index  materialize the retained corpus's MinHash signature table,
               exact-dedup key table and, per modality given, payload
               hash index (idempotent per-batch partitions;
               ``--batch-id`` defaults to "base" so the root is always
               fold-safe)
  incremental  curate ONE daily batch against the stored indexes —
               O(batch + candidates) — and optionally fold the survivors
               back (``--fold-batch-id``), completing the daily loop in a
               single command
  stream       the cron-free form of that loop: watch an arrivals
               directory as a file-source stream (one micro-batch per
               file, ``Trigger.AvailableNow``), run the curate+fold body
               per micro-batch, and keep a DURABLE checkpoint so a rerun
               processes only files that arrived since the last run;
               ``--shard-root`` adds the delivery leg (each micro-batch's
               survivors also land as shard_id/batch_id partitions)
  compact      maintenance: collapse each fold store's accumulated
               per-day ``batch_id`` partitions into one consolidated
               ``batch_id=base`` partition (small-files hygiene; run
               only beyond the replay horizon — a compacted day can no
               longer be replayed via ``--fold-batch-id``)
  drift        observability: per-feature total-variation drift between
               two corpus snapshots (language mix + length profile;
               exact arithmetic, plans/versioning_family.drift_report) —
               or of the latest fold vs the pre-fold corpus from one
               store via ``--exclude-batch-id``. The daily loop can also
               get this inline with ``incremental --report-drift``.
  datacard     release artifact: assemble the dataset's data card —
               corpus stats, curation funnel, split sizes, cross-split
               leakage, vocabulary coverage head, term spectrum (with
               the Good-Turing unseen-mass estimate), and optional drift
               vs a baseline snapshot — into one JSON file by running
               the corresponding catalog queries against the corpus dir
  manifest     observability: print the fold-manifest trail (one row
               per folded day / micro-batch — kept count, frozen-model
               drift TV, hot signals; round 16) from an assignments
               root's ``_manifest/`` directory, optionally hot-only —
               the weekly drift review in one command, no Spark session
  shard        delivery: deal the curated corpus into N deterministic
               training shards on disk (sources/writers.py:
               write_training_shards — md5-dealt shard + intra-shard
               shuffle order, ONE shuffle) and print the per-shard
               manifest (docs, id checksum) as the reproducibility audit;
               rerunning produces byte-identical shards

The fold step grows all stores together — signature index, key index,
every payload hash index, AND the retained-corpus root — because an
index that knows docs the corpus no longer carries makes tomorrow's
verify stage silently keep near-dups of folded survivors (the runtime
guard lives in ``neardup_incremental_against_index``). It also switches
``--out`` into a maintained assignments root: each day lands as its own
``batch_id`` partition with ``bin_id`` offset past every previous batch's
max (``pipeline.next_bin_offset``), so bin ids stay globally unique across
the accumulated days and a replayed day reproduces its own partition
bitwise.

A fold loop therefore requires every root it appends to — corpus, sig,
key — to be ``batch_id=``-partitioned from day 0 (parquet cannot mix flat
data files and partition directories under one root); ``init-corpus`` and
``build-index``'s default batch id give you that, and the fold step
REFUSES a root that contains flat data files instead of corrupting it.

Payload modalities come from one table, ``operators/multimodal.py:
MODALITIES`` (image, audio, video), and every per-modality flag is built
from it: ``--<m>-blobs`` (a (doc_id, blob) parquet), ``--<m>-benchmark``
(eval payloads to decontaminate against), the stored hash index
(``--<index>-index``; build-index calls the image index
``--perceptual``) and, where the table lists decode choices,
``--<m>-backend``. Blobs in `incremental`/`stream` need the index or a
benchmark (decon-only), and a fold grows every index given.

Each run writes parquet and prints ONE JSON summary line (rows kept,
paths), cron-friendly like pipeline.main.
"""

from __future__ import annotations

import argparse
import json
import os
import sys

from data_pipeline_team5_spark.operators.multimodal import MODALITIES, Modality


def _refuse_flat_root(path: str, what: str) -> None:
    """Fold-safety check (ADVICE r6 #2): appending a ``batch_id=``
    partition under a root that already holds FLAT parquet files corrupts
    the root for every subsequent reader. Local directories are inspected;
    remote URIs (s3a:// etc.) are skipped — the loud runtime guard on the
    next read is the backstop there."""
    if not os.path.isdir(path):
        return
    flat = [
        e
        for e in os.listdir(path)
        if not e.startswith(("batch_id=", "_", "."))
    ]
    if flat:
        raise SystemExit(
            f"refusing to fold a batch_id partition into {what} root "
            f"{path}: it contains non-partition files {flat[:3]} — "
            "rebuild it with a batch id (init-corpus / build-index "
            "default to batch_id=base)"
        )


def _write_fold_manifest(out_root: str, fold: str, payload: dict) -> None:
    """One JSON file per fold under ``<out>/_manifest/`` — the durable
    artifact trail (round 16, VERDICT r15 #7): a drifting week must be
    visible in the stored artifacts, not only on the console a cron
    swallowed. The underscore prefix keeps Spark's parquet reader off
    the directory; one file PER FOLD, overwritten in place, keeps
    replays idempotent — a crashed day replayed under its own batch id
    converges to one row, never a duplicate trail. Deliberately no
    wall-clock field: the manifest is a pure function of the fold's
    inputs, so byte-identical replays stay byte-identical.

    Write-to-tmp + atomic rename (round 17, ADVICE r16 #3 — the
    save_langid_model idiom): a run killed mid-dump must never leave a
    truncated ``<fold>.json`` that crashes every later trail reader."""
    d = os.path.join(out_root, "_manifest")
    os.makedirs(d, exist_ok=True)
    path = os.path.join(d, f"{fold}.json")
    tmp = f"{path}.{os.getpid()}.tmp"
    try:
        with open(tmp, "w") as f:
            json.dump(payload, f, sort_keys=True)
        os.replace(tmp, path)
    finally:
        if os.path.exists(tmp):
            os.unlink(tmp)


def _quality_drift_probe(
    new,
    frozen_quality: dict | None,
    bench_docs,
    decon_bloom_min_grams,
    bench_gram_count,
    decon_n: int,
    who: str,
) -> tuple[dict, dict] | None:
    """(drift, hot): per-signal TV of a batch's score distribution vs
    the frozen model's stored snapshot, over the batch's filter-stage
    pool (the same pool the full-run snapshot was taken over, with the
    same knobs) — shared by the incremental and stream paths so the
    guard cannot diverge between them. ``hot`` is the over-threshold
    subset, and a non-empty one warns on stderr about ``who``: a stale
    or mismatched model is FLAGGED, never silently applied. None when
    there is no frozen model with a score snapshot."""
    if frozen_quality is None or not frozen_quality.get("score_hist"):
        return None
    from data_pipeline_team5_spark.operators.quality import (
        QUALITY_DRIFT_WARN_TV,
        quality_score_drift,
    )
    from data_pipeline_team5_spark.pipeline import _curation_filter_stage

    drift = quality_score_drift(
        _curation_filter_stage(
            new,
            benchmark_docs=bench_docs,
            decon_bloom_min_grams=decon_bloom_min_grams,
            bench_gram_count=bench_gram_count,
            decon_n=decon_n,
        ),
        frozen_quality,
    )
    hot = {
        s: tv
        for s, tv in drift.items()
        if tv is not None and tv > QUALITY_DRIFT_WARN_TV
    }
    if hot:
        print(
            f"WARNING: frozen quality model looks stale for {who} — "
            f"score-distribution TV {hot} exceeds {QUALITY_DRIFT_WARN_TV} "
            "vs the full run's snapshot (refit via `full "
            "--quality-model-out`, or confirm the batch really is from a "
            "shifted source)",
            file=sys.stderr,
        )
    return drift, hot


def _read_fold_kept(spark, out_root: str, fold: str, schema):
    """The just-written fold partition — tolerant of the all-dropped
    day (found by the round-17 langid drift test): a batch that keeps
    ZERO docs gives the dynamic partition overwrite nothing to write,
    and on the loop's very FIRST day the assignments root then does not
    exist at all, so reading it crashes on schema inference — turning
    a perfectly valid day (everything deduped away) into a dead fold
    loop. An empty frame with the written schema keeps the fold's tail
    (index growth, corpus append, manifest row) a clean no-op."""
    from pyspark.errors.exceptions.captured import AnalysisException
    from pyspark.sql import functions as F

    try:
        return spark.read.parquet(out_root).filter(
            F.col("batch_id") == fold
        )
    except AnalysisException:
        from data_pipeline_team5_spark.functions.localframe import (
            local_frame,
        )

        return local_frame(spark, [], schema)


def _langid_mixture_probe(
    filled, fill_hist: dict | None
) -> tuple[dict, float | None, bool]:
    """(mixture, tv, hot) for a frozen-langid-filled batch (round 17,
    VERDICT r16 #2): the batch's lang_source shares + predicted-lang
    counts, the TV distance of its predicted-lang distribution vs the
    model's fit-time snapshot (None when either side predicted
    nothing, or for pre-round-17 model files without a snapshot), and
    the over-threshold flag. Shared by the incremental and stream
    paths so the guard cannot diverge between them — the
    _quality_drift_probe convention for the langid lifecycle."""
    from data_pipeline_team5_spark.operators.langid import (
        LANGID_DRIFT_WARN_TV,
        langid_fill_mixture,
        langid_mixture_tv,
    )

    mixture = langid_fill_mixture(filled)
    tv = (
        None
        if fill_hist is None
        else langid_mixture_tv(
            fill_hist.get("predicted_lang_counts", {}),
            mixture["predicted_lang_counts"],
        )
    )
    return mixture, tv, tv is not None and tv > LANGID_DRIFT_WARN_TV


def _index_flag(m: Modality, cmd: str) -> str:
    """A modality's stored-index flag: ``--<index>-index``, except that
    build-index names the image index ``--perceptual``."""
    if cmd == "build-index" and m.name == "image":
        return "--perceptual"
    return f"--{m.index}-index"


def _arg(args: argparse.Namespace, flag: str):
    """The parsed value of ``flag``; None where the subcommand lacks it."""
    return getattr(args, flag.lstrip("-").replace("-", "_"), None)


def _add_modality_flags(p: argparse.ArgumentParser, cmd: str) -> None:
    """One subcommand's per-modality flags, from the modality table:
    ``--<m>-blobs`` everywhere; the stored-index flag except in ``full``;
    ``--<m>-benchmark`` except in build-index; ``--<m>-backend`` where
    the table lists decode choices."""
    for m in MODALITIES.values():
        blobs, bench = f"--{m.name}-blobs", f"--{m.name}-benchmark"
        index = _index_flag(m, cmd)
        if cmd == "full":
            p.add_argument(blobs, default=None,
                           help=f"(doc_id, blob) parquet of the corpus's "
                                f"{m.noun}: perceptual near-dup pairs "
                                "union into the dedup component graph, "
                                "so duplicate docs collapse under the "
                                "same --survivor-policy as text near-dups")
        elif cmd == "build-index":
            p.add_argument(blobs, default=None,
                           help=f"with {index}: (doc_id, blob) parquet to "
                                f"hash into the {m.name} index (one decode "
                                "pass — the cost the daily loop never "
                                "repays)")
            p.add_argument(index, default=None,
                           help=f"{m.name}-hash index path (2 BIGINTs/"
                                f"doc); requires {blobs}")
        else:
            p.add_argument(blobs, default=None,
                           help=f"(doc_id, blob) parquet of the new "
                                f"docs' {m.noun}; requires {index} and/or "
                                f"{bench}. Deduped against the retained "
                                "corpus through the stored hash index — "
                                "the corpus's payloads are never decoded "
                                "again")
            p.add_argument(index, default=None,
                           help=f"{m.name}-hash index root (seed with "
                                f"build-index {_index_flag(m, 'build-index')}"
                                "); each fold adds its survivors' hashes")
        if cmd != "build-index":
            p.add_argument(bench, default=None,
                           help=f"(doc_id, blob) parquet of an eval "
                                f"benchmark's {m.noun}: docs whose payload "
                                "is a near-dup of any benchmark payload "
                                "are dropped before dedup (the payload "
                                f"twin of --benchmark). Requires {blobs}; "
                                "without an index the batch is "
                                "decontaminated only")
        if m.backends:
            p.add_argument(f"--{m.name}-backend", default=m.backend,
                           choices=list(m.backends),
                           help=f"decode backend for {blobs} "
                                "(operators/multimodal.py)")


def _modality_kwargs(
    args: argparse.Namespace, blobs: dict, bench_blobs: dict, batch: bool
) -> dict:
    """The preset kwargs for every modality: ``<m>_blobs`` or, for the
    incremental preset (``batch``), ``new_<m>_blobs`` plus the index
    path; the benchmark blobs; the backend where there is a flag."""
    kw: dict = {}
    for m in MODALITIES.values():
        if batch:
            kw[f"new_{m.name}_blobs"] = blobs[m.name]
            kw[f"{m.index}_index_path"] = _arg(args, _index_flag(m, args.cmd))
        else:
            kw[f"{m.name}_blobs"] = blobs[m.name]
        kw[f"benchmark_{m.name}_blobs"] = bench_blobs[m.name]
        if m.backends:
            kw[f"{m.name}_backend"] = _arg(args, f"--{m.name}-backend")
    return kw


def _refuse_fold_roots(args: argparse.Namespace) -> None:
    """Refuse every root a fold appends to, before any work is done."""
    roots = [(args.corpus, "corpus"), (args.sig, "sig"),
             (args.key, "key"), (args.out, "out")]
    for m in MODALITIES.values():
        flag = _index_flag(m, args.cmd)
        if _arg(args, flag):
            roots.append((_arg(args, flag), flag[2:]))
    for path, what in roots:
        _refuse_flat_root(path, what)


def _parser() -> argparse.ArgumentParser:
    ap = argparse.ArgumentParser(prog="data_pipeline_team5_spark.curate")
    sub = ap.add_subparsers(dest="cmd", required=True)

    p_full = sub.add_parser("full", help="one-shot corpus curation")
    p_full.add_argument("--docs", required=True, help="documents parquet")
    p_full.add_argument("--out", required=True, help="assignments parquet")
    p_full.add_argument("--budget", type=int, default=2048)
    p_full.add_argument("--threshold", type=float, default=0.6)
    p_full.add_argument("--method", choices=["jaccard", "lsh"], default="jaccard")
    p_full.add_argument("--benchmark", default=None,
                        help="eval-benchmark documents parquet; when given, "
                             "docs sharing any 5-gram with it are dropped "
                             "before dedup (decontamination)")
    p_full.add_argument("--quality-reference", default=None,
                        help="clean-reference documents parquet for the "
                             "model-based quality filters (operators/"
                             "quality.py — CCNet's two-signal stack); "
                             "which filters run is --quality-filter. "
                             "Full-run only, like --scrub-pii: a daily "
                             "loop wants a frozen model at ingest, not a "
                             "per-batch refit/tertile")
    p_full.add_argument("--quality-filter",
                        choices=["lm", "classifier", "both"],
                        default="lm",
                        help="with --quality-reference: 'lm' drops the "
                             "worst exact perplexity tertile under a "
                             "reference-fit bigram model (CCNet keep "
                             "rule); 'classifier' keeps P(clean) > 0.5 "
                             "under a reference-vs-permuted logistic "
                             "model; 'both' runs classifier then lm")
    p_full.add_argument("--langid-fill", action="store_true",
                        help="fill NULL lang via the model-based "
                             "language identifier before the language "
                             "allowlist (operators/langid.py: hashed "
                             "char-n-gram one-vs-rest logistic fit on "
                             "the labeled slice; declared langs are "
                             "never overwritten)")
    p_full.add_argument("--langid-model-out", default=None,
                        help="with --langid-fill: persist the fitted "
                             "langid models (+ fit provenance) as JSON "
                             "for the daily loop's incremental/stream "
                             "--langid-model (the frozen-model "
                             "hand-off, like --quality-model-out)")
    p_full.add_argument("--quality-per-lang", action="store_true",
                        help="with --quality-reference and a classifier "
                             "filter: fit one classifier PER LANGUAGE "
                             "on that language's reference docs (CCNet "
                             "practice) instead of one global model; "
                             "per-lang tables land in --quality-model-out")
    p_full.add_argument("--bpe-fit", action="store_true",
                        help="fit a learned BPE merge table on the "
                             "corpus (operators/subword.py — capped "
                             "sample, greedy pair merges) and size the "
                             "token budgets with the LEARNED subword "
                             "counter instead of the pretoken heuristic "
                             "(which floors it, understuffing bins)")
    p_full.add_argument("--bpe-merges-out", default=None,
                        help="with --bpe-fit: persist the fitted merge "
                             "table (+ fit provenance) as JSON for the "
                             "daily loop's incremental/stream "
                             "--bpe-merges (the frozen-table hand-off, "
                             "like --langid-model-out)")
    p_full.add_argument("--quality-model-out", default=None,
                        help="with --quality-reference: also save the "
                             "fitted model + the run's realized LM keep "
                             "cutoff as JSON, the frozen model the daily "
                             "loop applies via incremental/stream "
                             "--quality-model")
    p_full.add_argument("--decon-n", type=int, default=5,
                        help="decontamination gram/window width in tokens "
                             "(default 5). Raising it to e.g. 12 gives the "
                             "Lee et al. exact-substring grain: a doc is "
                             "dropped iff it shares an exact run of >= N "
                             "tokens with the benchmark (an N-token run "
                             "and a shared N-window are the same event)")
    p_full.add_argument("--decon-bloom-min-grams", type=int, default=None,
                        help="distinct benchmark-gram count above which "
                             "decontamination routes through the Bloom "
                             "prefilter + exact verify instead of the "
                             "exact broadcast join (default: operators/"
                             "dedup.py:BLOOM_ROUTE_MIN_GRAMS; the result "
                             "is identical either way — this picks the "
                             "physical strategy for references too big "
                             "to broadcast exactly)")
    p_full.add_argument("--scrub-pii", action="store_true",
                        help="redact emails/cards/phones/IPv4s in text "
                             "before any curation signal (operators/"
                             "scrub.py). Full-run only by design: in the "
                             "daily loop, scrub at INGEST (before "
                             "init-corpus / the batch) so the retained "
                             "corpus, its indexes, and each batch probe "
                             "with the same text")
    p_full.add_argument("--survivor-policy",
                        choices=["min_id", "quality", "source_rank"],
                        default="min_id",
                        help="near-dup group retention: min_id (default); "
                             "quality — keep each group's highest "
                             "text-profile-quality member; source_rank — "
                             "keep the member from the best-ranked source "
                             "per --source-priority (ties to the smaller "
                             "id)")
    p_full.add_argument("--source-priority", default=None,
                        help="comma-separated source names, best first "
                             "(source_rank policy); unlisted sources rank "
                             "equal-worst")
    _add_modality_flags(p_full, "full")

    p_seed = sub.add_parser(
        "init-corpus", help="seed the maintained retained-corpus root"
    )
    p_seed.add_argument("--docs", required=True, help="documents parquet")
    p_seed.add_argument("--corpus", required=True, help="corpus root to seed")
    p_seed.add_argument("--batch-id", default="base")

    p_idx = sub.add_parser("build-index", help="materialize sig + key indexes")
    p_idx.add_argument("--docs", required=True)
    p_idx.add_argument("--sig", required=True, help="signature index path")
    p_idx.add_argument("--key", required=True, help="exact-key index path")
    p_idx.add_argument("--batch-id", default="base",
                       help="write as an idempotent per-batch partition "
                            "(default 'base' keeps the root fold-safe)")
    _add_modality_flags(p_idx, "build-index")

    p_inc = sub.add_parser("incremental", help="curate a daily batch")
    p_inc.add_argument("--new", required=True, help="new batch parquet")
    p_inc.add_argument("--corpus", required=True,
                       help="retained corpus parquet/root (text read only "
                            "for candidate docs). With --fold-batch-id "
                            "this must be the MAINTAINED root the fold "
                            "appends to (seed it with init-corpus)")
    p_inc.add_argument("--sig", required=True)
    p_inc.add_argument("--key", required=True)
    p_inc.add_argument("--out", required=True,
                       help="assignments parquet; with --fold-batch-id, a "
                            "maintained root accumulating one batch_id "
                            "partition per day with globally-unique bins")
    p_inc.add_argument("--budget", type=int, default=2048)
    p_inc.add_argument("--threshold", type=float, default=0.6)
    p_inc.add_argument("--benchmark", default=None,
                        help="eval-benchmark documents parquet; the daily "
                             "batch is decontaminated against it before "
                             "dedup")
    p_inc.add_argument("--quality-model", default=None,
                       help="frozen quality-model JSON (from full "
                            "--quality-model-out): applies the saved "
                            "classifier threshold and LM cutoff to each "
                            "batch — never a per-batch refit/tertile")
    p_inc.add_argument("--langid-model", default=None,
                       help="frozen langid-model JSON (from full "
                            "--langid-fill --langid-model-out): fills "
                            "the batch's NULL langs under the full "
                            "run's models BEFORE the allowlist — never "
                            "a per-batch refit")
    p_inc.add_argument("--bpe-merges", default=None,
                       help="frozen BPE merge-table JSON (from full "
                            "--bpe-fit --bpe-merges-out): sizes the "
                            "batch's bins under the FULL run's learned "
                            "vocabulary — never a per-batch refit")
    p_inc.add_argument("--decon-n", type=int, default=5,
                       help="see full --decon-n")
    p_inc.add_argument("--decon-bloom-min-grams", type=int, default=None,
                       help="see full --decon-bloom-min-grams")
    _add_modality_flags(p_inc, "incremental")
    p_inc.add_argument("--fold-batch-id", default=None,
                       help="after curating, fold the batch's SURVIVORS "
                            "into the signature index, key index, AND the "
                            "--corpus root under this batch_id — the "
                            "complete daily loop in one command")
    p_inc.add_argument("--report-drift", action="store_true",
                       help="with --fold-batch-id: after folding, append "
                            "per-feature total-variation drift of the "
                            "folded corpus vs the pre-fold corpus to the "
                            "JSON summary (the post-fold observability "
                            "check; see the drift subcommand)")

    p_str = sub.add_parser(
        "stream",
        help="continuous loop: curate+fold each arrival file as its own "
             "micro-batch",
    )
    p_str.add_argument("--arrivals", required=True,
                       help="directory of parquet arrival files (must be "
                            "non-empty so the stream schema can be "
                            "inferred); each file becomes one micro-batch "
                            "in arrival order")
    p_str.add_argument("--corpus", required=True,
                       help="MAINTAINED retained-corpus root (seed with "
                            "init-corpus); every micro-batch folds its "
                            "survivors in")
    p_str.add_argument("--sig", required=True)
    p_str.add_argument("--key", required=True)
    p_str.add_argument("--out", required=True,
                       help="maintained assignments root: one batch_id=sN "
                            "partition per micro-batch, bins globally "
                            "unique")
    p_str.add_argument("--budget", type=int, default=2048)
    p_str.add_argument("--threshold", type=float, default=0.6)
    p_str.add_argument("--benchmark", default=None)
    p_str.add_argument("--quality-model", default=None,
                       help="frozen quality-model JSON (from full "
                            "--quality-model-out): applies the saved "
                            "classifier threshold and LM cutoff to each "
                            "batch — never a per-batch refit/tertile")
    p_str.add_argument("--langid-model", default=None,
                       help="frozen langid-model JSON: fills each "
                            "micro-batch's NULL langs under the full "
                            "run's models (see incremental "
                            "--langid-model)")
    p_str.add_argument("--bpe-merges", default=None,
                       help="frozen BPE merge-table JSON: sizes each "
                            "micro-batch's bins under the full run's "
                            "learned vocabulary (see incremental "
                            "--bpe-merges)")
    _add_modality_flags(p_str, "stream")
    p_str.add_argument("--decon-n", type=int, default=5,
                       help="see full --decon-n")
    p_str.add_argument("--decon-bloom-min-grams", type=int, default=None,
                       help="see full --decon-bloom-min-grams")
    p_str.add_argument("--checkpoint", default=None,
                       help="streaming checkpoint dir (default "
                            "<out>_ckpt). PERSISTENT on purpose: a rerun "
                            "processes only files that arrived since the "
                            "last run — the cron-free form of the daily "
                            "loop")
    p_str.add_argument("--shard-root", default=None,
                       help="optional delivery leg: ALSO land each "
                            "micro-batch's survivors as deterministic "
                            "training-shard partitions (shard_id=K/"
                            "batch_id=<fold>/) under this root — the "
                            "idempotent incremental form of `shard "
                            "--batch-id`, completing ingest → curate → "
                            "fold → deliver in one streaming command")
    p_cmp = sub.add_parser(
        "compact",
        help="collapse per-day batch_id partitions into one base "
             "partition per store (small-files maintenance)",
    )
    p_cmp.add_argument("--roots", required=True, nargs="+",
                       help="fold-store roots to compact (corpus / sig / "
                            "key / assignments — any subset)")
    p_cmp.add_argument("--into", default="base",
                       help="batch_id the consolidated partition gets "
                            "(default 'base'). Days compacted into it can "
                            "no longer be replayed with --fold-batch-id — "
                            "compact only beyond the crash-recovery "
                            "horizon")
    p_drf = sub.add_parser(
        "drift",
        help="distribution drift (language mix, length profile, "
             "total-variation distance) between two corpus snapshots — "
             "the post-fold observability check",
    )
    p_drf.add_argument("--old", required=True,
                       help="old corpus parquet root")
    p_drf.add_argument("--new", required=True,
                       help="new corpus parquet root (may equal --old)")
    p_drf.add_argument("--exclude-batch-id", default=None,
                       help="when --old is a batch_id-partitioned fold "
                            "store, drop this batch from the OLD side — "
                            "i.e. drift of the latest fold against the "
                            "pre-fold corpus, from one store")
    p_dc = sub.add_parser(
        "datacard",
        help="assemble the dataset's data-card JSON from the catalog's "
             "corpus-health queries",
    )
    p_dc.add_argument("--dir", required=True,
                      help="corpus dir holding documents.parquet "
                           "(fixture layout — the same dirs the catalog "
                           "queries read)")
    p_dc.add_argument("--out", required=True, help="data-card JSON path")
    p_dc.add_argument("--baseline", default=None,
                      help="optional baseline corpus dir; adds a drift "
                           "section (TV distance per feature)")
    p_dc.add_argument("--langid-model", default=None,
                      help="frozen langid-model JSON (from full "
                           "--langid-fill --langid-model-out): embeds "
                           "its fit provenance plus a model-coverage "
                           "audit — corpus languages with no langid "
                           "class would fill as OTHER languages on a "
                           "raw corpus (round 16)")
    p_dc.add_argument("--quality-model", default=None,
                      help="optional frozen quality-model JSON; adds a "
                           "quality_model section (fit provenance — "
                           "reference rows, id digest, hyperparams — "
                           "plus per-signal TV drift of THIS corpus's "
                           "scores vs the model's full-run snapshot)")
    p_dc.add_argument("--bpe-merges", default=None,
                      help="optional frozen BPE merge-table JSON (from "
                           "full --bpe-fit --bpe-merges-out); adds a "
                           "bpe_vocab section: fit provenance, table "
                           "size, and the corpus-level budget delta "
                           "(learned vs heuristic token totals — the "
                           "under-estimate heuristic budgets carried)")
    p_shd = sub.add_parser(
        "shard",
        help="deal the curated corpus into N deterministic training "
             "shards (the delivery step; reruns are byte-identical)",
    )
    p_shd.add_argument("--docs", required=True,
                       help="curated documents parquet root")
    p_shd.add_argument("--out", required=True, help="shard output root")
    p_shd.add_argument("--n-shards", type=int, default=16)
    p_shd.add_argument("--key", default="doc_id",
                       help="row key the shard/order digests derive from")
    p_shd.add_argument("--batch-id", default=None,
                       help="incremental delivery: land --docs as "
                            "shard_id=K/batch_id=<id>/ partitions under "
                            "an accumulating shard root (idempotent "
                            "dynamic overwrite — a replayed day "
                            "converges); omit for a full re-deal")

    p_mf = sub.add_parser(
        "manifest",
        help="print the maintained assignments root's fold-manifest "
             "trail (one row per folded day / micro-batch: kept count, "
             "frozen-model drift TV, hot signals) as one JSON line — "
             "the weekly drift review in a single command",
    )
    p_mf.add_argument("--out", required=True,
                      help="maintained assignments root (the fold "
                           "loop's --out; rows come from its "
                           "_manifest/ directory)")
    p_mf.add_argument("--hot-only", action="store_true",
                      help="print only folds whose quality_drift_hot "
                           "list is non-empty")
    return ap


def main(argv: list[str] | None = None) -> int:
    from data_pipeline_team5_spark.pipeline import (
        append_corpus_batch,
        build_exact_key_index,
        build_hash_index,
        build_signature_index,
        compact_fold_stores,
        curate_incremental_batch,
        curate_training_data,
        next_bin_offset,
        write_store,
    )
    from data_pipeline_team5_spark.operators.dedup import (
        benchmark_gram_count,
    )
    from data_pipeline_team5_spark.session import get_spark
    from pyspark.sql import functions as F

    ap = _parser()
    args = ap.parse_args(argv)

    if args.cmd == "manifest":
        # pure driver-side artifact read — no Spark session needed
        d = os.path.join(args.out, "_manifest")
        rows = []
        unreadable = []
        if os.path.isdir(d):
            for fn in sorted(os.listdir(d)):
                if fn.endswith(".json"):
                    # defense in depth beside the atomic write: a fold
                    # file a foreign writer truncated is FLAGGED in the
                    # summary, never a crash that hides the whole trail
                    try:
                        with open(os.path.join(d, fn)) as f:
                            rows.append(json.load(f))
                    except (json.JSONDecodeError, OSError):
                        unreadable.append(fn)
        def _is_hot(r: dict) -> bool:
            # round 17: a fold is hot if EITHER frozen-model guard
            # tripped — quality score drift or langid mixture drift
            return bool(
                r.get("quality_drift_hot") or r.get("langid_drift_hot")
            )

        if args.hot_only:
            rows = [r for r in rows if _is_hot(r)]
        print(json.dumps({
            "status": "ok", "cmd": "manifest", "out": args.out,
            "folds": len(rows),
            "hot_folds": [r["fold"] for r in rows if _is_hot(r)],
            "unreadable": unreadable,
            "rows": rows,
        }))
        return 0

    if getattr(args, "quality_model_out", None) and not getattr(
        args, "quality_reference", None
    ):
        # ADVICE r14: without a reference no model is fit, so the save
        # would be silently skipped and the daily loop left without the
        # file the operator asked for — fail loudly at parse time.
        ap.error(
            "--quality-model-out requires --quality-reference "
            "(no quality model is fit without a reference corpus)"
        )
    if getattr(args, "langid_model_out", None) and not getattr(
        args, "langid_fill", False
    ):
        # same failure mode: without the fill no langid model is fit,
        # so the save would be silently skipped
        ap.error(
            "--langid-model-out requires --langid-fill "
            "(no langid model is fit without the fill stage)"
        )
    if getattr(args, "bpe_merges_out", None) and not getattr(
        args, "bpe_fit", False
    ):
        # same failure mode: without the fit no merge table exists
        ap.error(
            "--bpe-merges-out requires --bpe-fit "
            "(no merge table is fit without the fit stage)"
        )
    for m in MODALITIES.values():
        blobs_flag, bench_flag = f"--{m.name}-blobs", f"--{m.name}-benchmark"
        index_flag = _index_flag(m, args.cmd)
        has_blobs = bool(_arg(args, blobs_flag))
        if args.cmd == "build-index" and has_blobs != bool(
            _arg(args, index_flag)
        ):
            ap.error(f"build-index: {blobs_flag} and {index_flag} go together")
        if (
            args.cmd in ("incremental", "stream")
            and has_blobs
            and not _arg(args, index_flag)
            and not _arg(args, bench_flag)
        ):
            verb = "are" if m.noun.endswith("s") else "is"
            ap.error(
                f"{args.cmd}: {blobs_flag} requires {index_flag} (the "
                f"retained corpus's {m.noun} {verb} reached only through "
                f"the stored hash index) and/or {bench_flag} (decon-only)"
            )
        if args.cmd == "full" and _arg(args, bench_flag) and not has_blobs:
            ap.error(f"full: {bench_flag} requires {blobs_flag}")

    if getattr(args, "report_drift", False) and args.fold_batch_id is None:
        # refused before any work: the unfolded path would overwrite
        # --out, the maintained assignments root of a fold loop
        raise ValueError(
            "--report-drift requires --fold-batch-id (drift is "
            "defined against the maintained corpus root)"
        )

    spark = get_spark(app_name=f"curate_{args.cmd}")
    bench_docs = (
        spark.read.parquet(args.benchmark)
        if getattr(args, "benchmark", None)
        else None
    )
    # Routing statistic, computed ONCE per CLI run (ADVICE r13): the
    # stream loop calls contaminated_ids per micro-batch against the
    # SAME benchmark — without this each batch re-runs the benchmark's
    # shingle→distinct→count job just to pick the probe strategy. The
    # single-shot commands call it once either way; hoisting is free.
    bench_n_grams = (
        None
        if bench_docs is None
        else benchmark_gram_count(
            bench_docs, n=getattr(args, "decon_n", 5)
        )
    )
    quality_ref = (
        spark.read.parquet(args.quality_reference)
        if getattr(args, "quality_reference", None)
        else None
    )
    frozen_quality = None
    if getattr(args, "quality_model", None):
        from data_pipeline_team5_spark.operators.quality import (
            load_quality_model,
        )

        frozen_quality = load_quality_model(args.quality_model)
    langid_models = None
    langid_fill_hist = None
    if getattr(args, "langid_model", None):
        from data_pipeline_team5_spark.operators.langid import (
            load_langid_model,
        )

        langid_models, _, langid_fill_hist = load_langid_model(
            args.langid_model
        )
    blobs: dict = {}
    bench_blobs: dict = {}
    for m in MODALITIES.values():
        for frames, flag in ((blobs, f"--{m.name}-blobs"),
                             (bench_blobs, f"--{m.name}-benchmark")):
            path = _arg(args, flag)
            frames[m.name] = spark.read.parquet(path) if path else None
    bpe_merges = None
    if getattr(args, "bpe_merges", None):
        # frozen merge table (round 17): the daily loop sizes bins
        # under the FULL run's learned vocabulary
        from data_pipeline_team5_spark.operators.subword import (
            load_bpe_merges,
        )

        bpe_merges, _ = load_bpe_merges(args.bpe_merges)

    def _curate(new, fold: str | None):
        """One batch through ``curate_incremental_batch`` against the
        stored indexes, shared by `incremental` and every `stream`
        micro-batch: (the langid-filled batch, its batch-local
        assignments, the langid mixture probe when folding)."""
        langid_probe = None
        if langid_models is not None:
            # frozen langid fill: NULL langs filled under the FULL run's
            # models before the allowlist — never a refit on one day's
            # labeled slice
            from data_pipeline_team5_spark.operators.langid import (
                fill_missing_lang,
            )

            filled = fill_missing_lang(new, langid_models)
            if fold is not None:
                # the fold's lang mixture vs the model's fit-time
                # snapshot, for the manifest
                langid_probe = _langid_mixture_probe(
                    filled, langid_fill_hist
                )
            new = filled.drop("lang_source")
        corpus = spark.read.parquet(args.corpus)
        if fold is not None and "batch_id" in corpus.columns:
            # replay safety: a crashed day D re-run must not see its own
            # previously folded survivors in the corpus or the indexes
            corpus = corpus.filter(F.col("batch_id") != fold)
        out = curate_incremental_batch(
            new,
            corpus,
            token_budget=args.budget,
            neardup_threshold=args.threshold,
            index_sig_path=args.sig,
            key_index_path=args.key,
            exclude_batch_id=fold,
            benchmark_docs=bench_docs,
            decon_bloom_min_grams=args.decon_bloom_min_grams,
            bench_gram_count=bench_n_grams,
            decon_n=args.decon_n,
            quality_model=frozen_quality,
            bpe_merges=bpe_merges,
            **_modality_kwargs(args, blobs, bench_blobs, batch=True),
        )
        return new, out, langid_probe

    def _fold(fold: str, new, out, langid_probe) -> dict:
        """The fold body of `incremental --fold-batch-id` and of every
        `stream` micro-batch. Offsets the batch-local bins past every
        OTHER batch's max (excluding this batch keeps a replay bitwise-
        idempotent with the partition overwrite), writes the assignments
        partition, reads back the kept rows, grows every index and the
        corpus together (see the module docstring), delivers shards when
        asked, and writes the fold's manifest row, which it returns."""
        off = next_bin_offset(spark, args.out, exclude_batch_id=fold)
        placed = out.withColumn("bin_id", F.col("bin_id") + F.lit(off))
        write_store(placed, args.out, fold)
        kept = _read_fold_kept(spark, args.out, fold, placed.schema)
        manifest = {"fold": fold, "kept": kept.count()}
        ids = kept.select("doc_id")
        survivors = new.join(ids, "doc_id")
        build_signature_index(survivors, args.sig, batch_id=fold)
        build_exact_key_index(survivors, args.key, batch_id=fold)
        for m in MODALITIES.values():
            # tomorrow's batch probes today's survivors' hashes, never
            # their payloads
            path = _arg(args, _index_flag(m, args.cmd))
            if blobs[m.name] is not None and path:
                build_hash_index(
                    m.name, blobs[m.name].join(ids, "doc_id"), path,
                    backend=_arg(args, f"--{m.name}-backend"),
                    batch_id=fold,
                )
        append_corpus_batch(survivors, args.corpus, fold)
        if _arg(args, "--shard-root"):
            from data_pipeline_team5_spark.sources.writers import (
                write_training_shards,
            )

            write_training_shards(survivors, args.shard_root, batch_id=fold)
        who = (
            "this batch" if args.cmd == "incremental"
            else f"micro-batch {fold}"
        )
        drift = _quality_drift_probe(
            new, frozen_quality, bench_docs, args.decon_bloom_min_grams,
            bench_n_grams, args.decon_n, who,
        )
        if drift is not None:
            manifest["quality_drift_tv"] = drift[0]
            manifest["quality_drift_hot"] = sorted(drift[1])
        if _arg(args, "--report-drift"):
            from data_pipeline_team5_spark.plans.versioning_family import (
                drift_report,
            )

            grown = spark.read.parquet(args.corpus)
            pre = grown.filter(F.col("batch_id") != fold)
            manifest["corpus_drift_tv"] = {
                r["feature"]: r["tv"]
                for r in drift_report(
                    pre.select("lang", "n_chars"),
                    grown.select("lang", "n_chars"),
                ).collect()
            }
        if langid_probe is not None:
            from data_pipeline_team5_spark.operators.langid import (
                LANGID_DRIFT_WARN_TV,
            )

            mixture, li_tv, li_hot = langid_probe
            manifest["langid_mixture"] = mixture
            manifest["langid_drift_tv"] = li_tv
            manifest["langid_drift_hot"] = li_hot
            if li_hot:
                print(
                    f"WARNING: frozen langid model looks stale for {who}"
                    f" — predicted-lang mixture TV {li_tv:.3f} exceeds "
                    f"{LANGID_DRIFT_WARN_TV} vs the full run's fill "
                    "snapshot (refit via `full --langid-fill "
                    "--langid-model-out`, or confirm the batch really is "
                    "from a shifted source)",
                    file=sys.stderr,
                )
        _write_fold_manifest(args.out, fold, manifest)
        return manifest

    if args.cmd == "full":
        full_docs = spark.read.parquet(args.docs)
        if args.bpe_fit:
            # learned-vocabulary budgets (round 17, VERDICT r16 #3):
            # fit the merge table here, size THIS run's bins with it,
            # and optionally freeze it for the daily loop
            from data_pipeline_team5_spark.operators.subword import (
                bpe_provenance,
                fit_bpe,
                save_bpe_merges,
            )

            bpe_merges = fit_bpe(full_docs)
            if args.bpe_merges_out:
                save_bpe_merges(
                    args.bpe_merges_out,
                    bpe_merges,
                    provenance=bpe_provenance(full_docs),
                )
        out = curate_training_data(
            full_docs,
            token_budget=args.budget,
            neardup_threshold=args.threshold,
            neardup_method=args.method,
            benchmark_docs=bench_docs,
            decon_bloom_min_grams=args.decon_bloom_min_grams,
            bench_gram_count=bench_n_grams,
            decon_n=args.decon_n,
            quality_classifier_reference=(
                quality_ref
                if args.quality_filter in ("classifier", "both")
                else None
            ),
            quality_classifier_per_lang=args.quality_per_lang,
            lm_reference_docs=(
                quality_ref
                if args.quality_filter in ("lm", "both")
                else None
            ),
            quality_model_out=args.quality_model_out,
            langid_fill=args.langid_fill,
            langid_model_out=args.langid_model_out,
            **_modality_kwargs(args, blobs, bench_blobs, batch=False),
            bpe_merges=bpe_merges,
            scrub_pii=args.scrub_pii,
            survivor_policy=args.survivor_policy,
            source_priority=(
                [p.strip() for p in args.source_priority.split(",")
                 if p.strip()]
                if args.source_priority
                else None
            ),
        )
        out.write.mode("overwrite").parquet(args.out)
        n = spark.read.parquet(args.out).count()
        print(json.dumps({"status": "ok", "cmd": "full", "kept": n,
                          "out": args.out}))
    elif args.cmd == "init-corpus":
        _refuse_flat_root(args.corpus, "corpus")
        docs = spark.read.parquet(args.docs)
        append_corpus_batch(docs, args.corpus, args.batch_id)
        n = docs.count()
        print(json.dumps({"status": "ok", "cmd": "init-corpus", "docs": n,
                          "corpus": args.corpus,
                          "batch_id": args.batch_id}))
    elif args.cmd == "build-index":
        docs = spark.read.parquet(args.docs)
        build_signature_index(docs, args.sig, batch_id=args.batch_id)
        build_exact_key_index(docs, args.key, batch_id=args.batch_id)
        summary = {"status": "ok", "cmd": "build-index",
                   "sig": args.sig, "key": args.key}
        for m in MODALITIES.values():
            index_flag = _index_flag(m, args.cmd)
            if blobs[m.name] is not None:
                build_hash_index(
                    m.name, blobs[m.name], _arg(args, index_flag),
                    backend=_arg(args, f"--{m.name}-backend"),
                    batch_id=args.batch_id,
                )
            summary[index_flag[2:].replace("-", "_")] = _arg(args, index_flag)
        summary["batch_id"] = args.batch_id
        print(json.dumps(summary))
    elif args.cmd == "compact":
        report = compact_fold_stores(spark, args.roots, into=args.into)
        print(json.dumps({"status": "ok", "cmd": "compact",
                          "into": args.into, "stores": report}))
    elif args.cmd == "drift":
        from data_pipeline_team5_spark.plans.versioning_family import (
            drift_report,
        )

        old = spark.read.parquet(args.old)
        new = spark.read.parquet(args.new)
        if args.exclude_batch_id is not None:
            if "batch_id" not in old.columns:
                raise ValueError(
                    "drift --exclude-batch-id: --old is not a batch_id-"
                    "partitioned fold store"
                )
            old = old.filter(F.col("batch_id") != args.exclude_batch_id)
        rows = drift_report(
            old.select("lang", "n_chars"), new.select("lang", "n_chars")
        ).collect()
        print(json.dumps({
            "status": "ok",
            "cmd": "drift",
            "tv": {
                r["feature"]: r["tv"]
                for r in rows
            },
            "n_buckets": len(rows),
        }))
    elif args.cmd == "datacard":
        from data_pipeline_team5_spark.plans.catalog import QUERIES

        sections = (
            "text_corpus_stats",
            "curation_funnel",
            "sample_split_report",
            "split_leakage_audit",
            "vocab_coverage",
            "term_spectrum",
        )

        staged_dirs: list[str] = []

        def _as_fixture_dir(d: str) -> str:
            """The catalog queries read ``{dir}/documents.parquet``; accept
            a bare documents/corpus parquet root (e.g. the maintained
            fold-store corpus) by staging a fixture-layout view of it —
            one symlink, no data copied. Symlink staging is a LOCAL
            filesystem mechanism, so remote roots are refused up front
            (ADVICE r9) — point a remote corpus at a fixture-layout dir
            or run the component queries directly; the staged dirs are
            removed once the card is written."""
            if d.startswith("file://"):
                # normalize the URI to a plain local path — the staging
                # below is os.path/os.symlink territory
                d = d[len("file://"):]
            if "://" in d:
                raise SystemExit(
                    f"datacard: remote corpus root {d!r} cannot be "
                    "symlink-staged — use a local/fixture-layout path "
                    "(dir containing documents.parquet)"
                )
            if os.path.exists(os.path.join(d, "documents.parquet")):
                return d
            import tempfile

            staged = tempfile.mkdtemp(prefix="datacard_")
            staged_dirs.append(staged)
            os.symlink(
                os.path.abspath(d),
                os.path.join(staged, "documents.parquet"),
            )
            return staged

        try:
            docs_dir = _as_fixture_dir(args.dir)
            card: dict = {"corpus_dir": args.dir, "sections": {}}
            for name in sections:
                rows = QUERIES[name].fn(spark, docs_dir).collect()
                card["sections"][name] = [
                    r.asDict(recursive=True) for r in rows
                ]
            spectrum = card["sections"]["term_spectrum"]
            bin0 = [r for r in spectrum if r["count_bin"] == 0]
            card["good_turing_unseen_mass"] = (
                bin0[0]["token_share"] if bin0 else 0.0
            )
            if getattr(args, "quality_model", None):
                # frozen-model release evidence (round 15, VERDICT r14
                # #4): what the model was fit on, and whether THIS
                # corpus's score distribution still matches it
                from data_pipeline_team5_spark.operators.quality import (
                    quality_score_drift,
                )

                card["sections"]["quality_model"] = {
                    "path": args.quality_model,
                    "provenance": frozen_quality.get("provenance"),
                    "lm_keep_max_bits": frozen_quality.get(
                        "lm_keep_max_bits"
                    ),
                    "score_drift_tv": quality_score_drift(
                        spark.read.parquet(
                            f"{docs_dir}/documents.parquet"
                        ),
                        frozen_quality,
                    )
                    if frozen_quality.get("score_hist")
                    else None,
                }
            if getattr(args, "langid_model", None):
                # frozen-langid release evidence (round 16): the fit's
                # provenance plus a coverage audit of THIS corpus's
                # languages against the model's classes
                from data_pipeline_team5_spark.operators.langid import (
                    load_langid_model,
                )

                li_models, li_prov, li_hist = load_langid_model(
                    args.langid_model
                )
                dc_docs = spark.read.parquet(
                    f"{docs_dir}/documents.parquet"
                )
                lang_counts = {
                    r["lang"]: r["n"]
                    for r in dc_docs.groupBy("lang")
                    .agg(F.count(F.lit(1)).alias("n"))
                    .collect()
                }
                # round 17 (VERDICT r16 #2): drift of THIS corpus's
                # predicted-lang mixture vs the model's fill-time
                # snapshot — the release-time form of the fold guard
                # (scores only the NULL-lang slice; None when the
                # corpus is fully labeled or the model predates the
                # snapshot)
                from data_pipeline_team5_spark.operators.langid import (
                    fill_missing_lang as _fml,
                )

                dc_mixture, dc_tv, dc_hot = _langid_mixture_probe(
                    _fml(dc_docs, li_models), li_hist
                )
                card["sections"]["langid_model"] = {
                    "path": args.langid_model,
                    "provenance": li_prov,
                    "model_langs": sorted(li_models),
                    "corpus_lang_counts": {
                        str(k): v for k, v in sorted(
                            lang_counts.items(),
                            key=lambda kv: str(kv[0]),
                        )
                    },
                    "uncovered_langs": sorted(
                        str(lang) for lang in lang_counts
                        if lang is not None and lang not in li_models
                    ),
                    "fill_hist": li_hist,
                    "corpus_fill_mixture": dc_mixture,
                    "fill_mixture_tv": dc_tv,
                    "fill_mixture_hot": dc_hot,
                }
            if getattr(args, "bpe_merges", None):
                # frozen-vocabulary release evidence (round 17): what
                # the merge table was fit on, plus the corpus-level
                # budget delta — the aggregate form of the
                # bpe_learned_tokens per-doc report
                from data_pipeline_team5_spark.operators.subword import (
                    learned_token_count,
                    load_bpe_merges,
                )
                from data_pipeline_team5_spark.operators.textops import (
                    bpe_token_count,
                )

                bm, bprov = load_bpe_merges(args.bpe_merges)
                tot = spark.read.parquet(
                    f"{docs_dir}/documents.parquet"
                ).agg(
                    F.sum(bpe_token_count("text")).alias("h"),
                    F.sum(learned_token_count("text", bm)).alias("l"),
                ).collect()[0]
                card["sections"]["bpe_vocab"] = {
                    "path": args.bpe_merges,
                    "provenance": bprov,
                    "n_merges": len(bm),
                    "tokens_heuristic": int(tot["h"] or 0),
                    "tokens_learned": int(tot["l"] or 0),
                    "budget_delta": int(
                        (tot["l"] or 0) - (tot["h"] or 0)
                    ),
                }
            if args.baseline is not None:
                from data_pipeline_team5_spark.plans.versioning_family import (
                    drift_report,
                )

                old_docs = spark.read.parquet(
                    f"{_as_fixture_dir(args.baseline)}/documents.parquet"
                )
                new_docs = spark.read.parquet(
                    f"{docs_dir}/documents.parquet"
                )
                rows = drift_report(
                    old_docs.select("lang", "n_chars"),
                    new_docs.select("lang", "n_chars"),
                ).collect()
                card["sections"]["drift_vs_baseline"] = {
                    r["feature"]: r["tv"] for r in rows
                }
            with open(args.out, "w") as f:
                json.dump(card, f, indent=1, default=str)
        finally:
            import shutil

            for d in staged_dirs:
                shutil.rmtree(d, ignore_errors=True)
        print(json.dumps({
            "status": "ok",
            "cmd": "datacard",
            "out": args.out,
            "sections": sorted(card["sections"]),
            "good_turing_unseen_mass": card["good_turing_unseen_mass"],
        }))
    elif args.cmd == "shard":
        from data_pipeline_team5_spark.sources.writers import (
            write_training_shards,
        )

        docs = spark.read.parquet(args.docs)
        write_training_shards(
            docs, args.out, key=args.key, n_shards=args.n_shards,
            batch_id=getattr(args, "batch_id", None),
        )
        # manifest from the WRITTEN root (no second deal/scan of --docs;
        # with --batch-id it reflects the full accumulated root, which is
        # what an operator audits). Checksum is a type-agnostic hash sum
        # (a plain SUM over a string key would be NULL and crash the
        # int() below), coalesced so an empty shard root still prints.
        manifest = (
            spark.read.parquet(args.out)
            .groupBy("shard_id")
            .agg(
                F.count(F.lit(1)).alias("n"),
                F.coalesce(
                    # decimal accumulator: xxhash64 spans the full int64
                    # range, so a plain BIGINT sum overflows under ANSI
                    F.sum(
                        F.xxhash64(F.col(args.key).cast("string")).cast(
                            "decimal(38,0)"
                        )
                    ),
                    F.lit(0).cast("decimal(38,0)"),
                ).alias("ck"),
            )
            .orderBy("shard_id")
            .collect()
        )
        print(json.dumps({
            "status": "ok",
            "cmd": "shard",
            "out": args.out,
            "n_shards": args.n_shards,
            "docs": int(sum(r["n"] for r in manifest)),
            "manifest": {
                str(r["shard_id"]): [int(r["n"]), int(r["ck"])]
                for r in manifest
            },
        }))
    elif args.cmd == "stream":
        # Each micro-batch runs the `incremental --fold-batch-id` body
        # with fold = "s{batch_id}"; Structured Streaming's durable
        # checkpoint replaces the cron — a rerun picks up only unseen
        # arrival files, and a batch that crashed mid-fold replays under
        # ITS OWN batch id, converging through the same idempotent
        # partition overwrites the daily loop relies on.
        _refuse_fold_roots(args)
        schema = spark.read.parquet(args.arrivals).schema
        processed: list[str] = []

        def process(batch_df, batch_id: int) -> None:
            fold = f"s{batch_id}"
            _fold(fold, *_curate(batch_df, fold))
            processed.append(fold)

        ckpt = args.checkpoint or (args.out.rstrip("/") + "_ckpt")
        q = (
            spark.readStream.schema(schema)
            .option("maxFilesPerTrigger", 1)
            .parquet(args.arrivals)
            .writeStream.foreachBatch(process)
            .trigger(availableNow=True)
            .option("checkpointLocation", ckpt)
            .start()
        )
        q.awaitTermination()
        total = (
            spark.read.parquet(args.out).count()
            if os.path.isdir(args.out)
            else 0
        )
        print(json.dumps({"status": "ok", "cmd": "stream",
                          "batches": processed,
                          "total_assignments": total, "out": args.out}))
    else:
        fold = args.fold_batch_id
        if fold is not None:
            _refuse_fold_roots(args)
        new, out, langid_probe = _curate(spark.read.parquet(args.new), fold)
        if fold is None:
            out.write.mode("overwrite").parquet(args.out)
            manifest = {"kept": spark.read.parquet(args.out).count()}
            drift = _quality_drift_probe(
                new, frozen_quality, bench_docs, args.decon_bloom_min_grams,
                bench_n_grams, args.decon_n, "this batch",
            )
            if drift is not None:
                manifest["quality_drift_tv"] = drift[0]
        else:
            manifest = _fold(fold, new, out, langid_probe)
        summary = {"status": "ok", "cmd": "incremental",
                   "kept": manifest["kept"], "out": args.out,
                   "folded": fold}
        for key, name in (("quality_drift_tv", "quality_drift_tv"),
                          ("corpus_drift_tv", "drift_tv"),
                          ("langid_drift_tv", "langid_drift_tv")):
            if key in manifest:
                summary[name] = manifest[key]
        print(json.dumps(summary))
    return 0


if __name__ == "__main__":  # pragma: no cover - exercised via tests.main()
    raise SystemExit(main())
