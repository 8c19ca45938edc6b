"""The ``curate`` CLI surface: for every subcommand, each option string
with its default and choices. The per-modality flags are generated from
``operators/multimodal.py:MODALITIES``; this pins them (and every other
flag) so a table edit cannot silently rename, drop or re-default one."""

from __future__ import annotations

import argparse

from data_pipeline_team5_spark.curate import _parser

# subcommand -> option -> (default, choices)
SURFACE = {
    "build-index": {
        "--audio-blobs": (None, None),
        "--audio-index": (None, None),
        "--batch-id": ("base", None),
        "--docs": (None, None),
        "--image-backend": ("bmp", ("bmp", "png", "fake", "pil")),
        "--image-blobs": (None, None),
        "--key": (None, None),
        "--perceptual": (None, None),
        "--sig": (None, None),
        "--video-backend": ("container", ("container", "fake")),
        "--video-blobs": (None, None),
        "--video-index": (None, None),
    },
    "compact": {
        "--into": ("base", None),
        "--roots": (None, None),
    },
    "datacard": {
        "--baseline": (None, None),
        "--bpe-merges": (None, None),
        "--dir": (None, None),
        "--langid-model": (None, None),
        "--out": (None, None),
        "--quality-model": (None, None),
    },
    "drift": {
        "--exclude-batch-id": (None, None),
        "--new": (None, None),
        "--old": (None, None),
    },
    "full": {
        "--audio-benchmark": (None, None),
        "--audio-blobs": (None, None),
        "--benchmark": (None, None),
        "--bpe-fit": (False, None),
        "--bpe-merges-out": (None, None),
        "--budget": (2048, None),
        "--decon-bloom-min-grams": (None, None),
        "--decon-n": (5, None),
        "--docs": (None, None),
        "--image-backend": ("bmp", ("bmp", "png", "fake", "pil")),
        "--image-benchmark": (None, None),
        "--image-blobs": (None, None),
        "--langid-fill": (False, None),
        "--langid-model-out": (None, None),
        "--method": ("jaccard", ("jaccard", "lsh")),
        "--out": (None, None),
        "--quality-filter": ("lm", ("lm", "classifier", "both")),
        "--quality-model-out": (None, None),
        "--quality-per-lang": (False, None),
        "--quality-reference": (None, None),
        "--scrub-pii": (False, None),
        "--source-priority": (None, None),
        "--survivor-policy": ("min_id", ("min_id", "quality", "source_rank")),
        "--threshold": (0.6, None),
        "--video-backend": ("container", ("container", "fake")),
        "--video-benchmark": (None, None),
        "--video-blobs": (None, None),
    },
    "incremental": {
        "--audio-benchmark": (None, None),
        "--audio-blobs": (None, None),
        "--audio-index": (None, None),
        "--benchmark": (None, None),
        "--bpe-merges": (None, None),
        "--budget": (2048, None),
        "--corpus": (None, None),
        "--decon-bloom-min-grams": (None, None),
        "--decon-n": (5, None),
        "--fold-batch-id": (None, None),
        "--image-backend": ("bmp", ("bmp", "png", "fake", "pil")),
        "--image-benchmark": (None, None),
        "--image-blobs": (None, None),
        "--key": (None, None),
        "--langid-model": (None, None),
        "--new": (None, None),
        "--out": (None, None),
        "--perceptual-index": (None, None),
        "--quality-model": (None, None),
        "--report-drift": (False, None),
        "--sig": (None, None),
        "--threshold": (0.6, None),
        "--video-backend": ("container", ("container", "fake")),
        "--video-benchmark": (None, None),
        "--video-blobs": (None, None),
        "--video-index": (None, None),
    },
    "init-corpus": {
        "--batch-id": ("base", None),
        "--corpus": (None, None),
        "--docs": (None, None),
    },
    "manifest": {
        "--hot-only": (False, None),
        "--out": (None, None),
    },
    "shard": {
        "--batch-id": (None, None),
        "--docs": (None, None),
        "--key": ("doc_id", None),
        "--n-shards": (16, None),
        "--out": (None, None),
    },
    "stream": {
        "--arrivals": (None, None),
        "--audio-benchmark": (None, None),
        "--audio-blobs": (None, None),
        "--audio-index": (None, None),
        "--benchmark": (None, None),
        "--bpe-merges": (None, None),
        "--budget": (2048, None),
        "--checkpoint": (None, None),
        "--corpus": (None, None),
        "--decon-bloom-min-grams": (None, None),
        "--decon-n": (5, None),
        "--image-backend": ("bmp", ("bmp", "png", "fake", "pil")),
        "--image-benchmark": (None, None),
        "--image-blobs": (None, None),
        "--key": (None, None),
        "--langid-model": (None, None),
        "--out": (None, None),
        "--perceptual-index": (None, None),
        "--quality-model": (None, None),
        "--shard-root": (None, None),
        "--sig": (None, None),
        "--threshold": (0.6, None),
        "--video-backend": ("container", ("container", "fake")),
        "--video-benchmark": (None, None),
        "--video-blobs": (None, None),
        "--video-index": (None, None),
    },
}


def _surface(ap: argparse.ArgumentParser) -> dict:
    sub = next(
        a for a in ap._actions if isinstance(a, argparse._SubParsersAction)
    )
    return {
        cmd: {
            a.option_strings[0]: (
                a.default, None if a.choices is None else tuple(a.choices)
            )
            for a in p._actions
            if a.option_strings and a.dest != "help"
        }
        for cmd, p in sub.choices.items()
    }


def test_curate_cli_surface_is_pinned():
    assert _surface(_parser()) == SURFACE


def test_modality_flags_cover_the_table():
    """Every modality has its blobs flag wherever a subcommand takes
    payloads, so a new table row reaches the CLI."""
    from data_pipeline_team5_spark.operators.multimodal import MODALITIES

    surface = _surface(_parser())
    for cmd in ("full", "build-index", "incremental", "stream"):
        for m in MODALITIES.values():
            assert f"--{m.name}-blobs" in surface[cmd], (cmd, m.name)
