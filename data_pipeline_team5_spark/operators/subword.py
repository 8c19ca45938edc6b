"""Learned BPE subword vocabulary (round 17, VERDICT r16 #3): a real
byte-pair-encoding merge table behind the engine's token budgets.

The budget/packing operators (``token_budget_cut``,
``pack_training_sequences``, the curation pipeline's ``pack_bins``
stage) sized documents with the BPE-ish PRETOKEN counter
(operators/textops.py:bpe_token_count — one regexp_count, the GPT-2
pretokenization grammar). That counts words, not subwords: a real
tokenizer emits >= 1 token per pretoken (rare words split), so
heuristic budgets systematically UNDER-estimate and bins overstuff.
This module fits an actual merge table (Sennrich et al. 2016, "Neural
Machine Translation of Rare Words with Subword Units") and counts
tokens under it, with the engine's established model disciplines:

- **fit**: driver-side greedy pair merging over the word-frequency
  table of a CAPPED corpus sample (the capped-selector idiom — ``cap``
  smallest (md5(id), id) docs at ANY corpus size, so driver state and
  fit cost are corpus-size-independent). Deterministic: the most
  frequent adjacent pair wins each round, ties to the lexicographically
  smallest pair; fitting stops at ``n_merges`` or when no pair repeats.
- **apply**: MAP-SIDE, zero shuffles, zero Python. Each pretoken is
  exploded to a space-separated symbol string (leading-space pretokens
  carry the SentencePiece-style U+2581 marker so the ASCII space stays
  reserved as the symbol separator) and the merge table is bound as a
  chain of literal ``replace(s, ' a b ', ' ab ')`` calls — the
  literal-model plan discipline: JVM string ops only, one per merge,
  inside a higher-order ``aggregate`` over the pretoken array. Both
  the fit's merge step and the apply chain use the SAME left-to-right
  non-overlapping replace rule (Python ``str.replace`` == Java
  ``String.replace`` scan semantics), so the pure-Python mirror
  reproduces every count exactly — integer-only end to end.

Scale notes (100 TB): the fit touches ``cap`` docs (two-pass global
capped selector — never a single-task global sort); its collected
word-frequency table is bounded by the sample's vocabulary. Counting
is one embarrassingly parallel scan whose per-row cost is
O(pretokens × merges) JVM string scans — a bounded constant factor,
like the langid fold. The merge table itself is ~n_merges short
strings of driver state.

No counterpart in the reference (it stores opaque VARCHARs;
/root/reference has no tokenizer) — north-star surface per
BASELINE.json.
"""

from __future__ import annotations

from typing import Callable

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from data_pipeline_team5_spark.operators.ranks import _pin
from data_pipeline_team5_spark.operators.textops import bpe_tokens_expr

BPE_MERGES = 128  # bounded vocab: merge-table length == replace-chain
# depth in every scan plan, so it is a plan-size knob, not just a
# quality knob
BPE_TRAIN_CAP = 96  # sample docs for the fit (driver state bound)
BPE_EOW = "</w>"  # end-of-word symbol (the Sennrich convention)
BPE_SPACE = "▁"  # SentencePiece's LOWER ONE EIGHTH BLOCK: a
# leading-space pretoken (' hello') keeps its space AS this marker
# symbol, because the ASCII space is the symbol separator


def capped_ids(
    docs: DataFrame, id_col: str = "doc_id", cap: int = BPE_TRAIN_CAP
) -> DataFrame:
    """The ``cap`` smallest (md5(id), id) docs GLOBALLY — the
    capped_ids_by_lang two-pass discipline without the language grain:
    pass 1 keeps <= cap per input partition (task-bounded), pass 2
    ranks the surviving <= P x cap sliver (a global window, but over
    sliver-sized input by construction)."""
    from pyspark.sql import Window

    pre = docs.select(
        id_col,
        F.md5(F.col(id_col).cast("string")).alias("_h"),
        F.spark_partition_id().alias("_pid"),
    )
    w1 = Window.partitionBy("_pid").orderBy("_h", id_col)
    pruned = (
        pre.withColumn("_rn", F.row_number().over(w1))
        .filter(F.col("_rn") <= cap)
        .drop("_rn", "_pid")
    )
    w2 = Window.orderBy("_h", id_col)
    return (
        pruned.withColumn("_rn", F.row_number().over(w2))
        .filter(F.col("_rn") <= cap)
        .select(id_col)
    )


def _bpe_word_counts(
    docs: DataFrame, id_col: str, text_col: str, cap: int
) -> tuple[DataFrame, Callable[[], None]]:
    """:func:`bpe_train_word_counts` plus the release handle of its
    pin."""
    keep = capped_ids(docs, id_col, cap)
    base, release = _pin(
        docs.join(F.broadcast(keep), id_col).select(
            bpe_tokens_expr(text_col).alias("_ws")
        )
    )
    counts = (
        base.select(F.explode("_ws").alias("word"))
        .groupBy("word")
        .agg(F.count(F.lit(1)).alias("c"))
    )
    return counts, release


def bpe_train_word_counts(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    cap: int = BPE_TRAIN_CAP,
) -> DataFrame:
    """(word, c) pretoken frequencies over the capped sample — the
    collected fit input. The pretoken arrays are CHECKPOINT-PINNED
    before the explode (the measured explode-re-inline pathology:
    projection collapse would re-run the full-text regex extraction
    PER EXPLODED WORD — O(words²) regex scans per doc); the pin holds
    only the capped sample's arrays (<= cap rows), never the corpus.
    :func:`fit_bpe` releases it once the counts are collected."""
    return _bpe_word_counts(docs, id_col, text_col, cap)[0]


def _mark_word(w: str) -> str:
    """Driver-side leading-space marking (the apply chain's regexp
    twin): ' hello' -> '▁hello'."""
    return BPE_SPACE + w[1:] if w.startswith(" ") else w


def fit_bpe(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    cap: int = BPE_TRAIN_CAP,
    n_merges: int = BPE_MERGES,
) -> list[tuple[str, str]]:
    """Ordered merge table from the capped sample's word frequencies.
    Each round merges the most frequent adjacent symbol pair (ties to
    the lexicographically smallest pair — the deterministic rule),
    rewriting the vocabulary with the SAME padded left-to-right
    ``str.replace`` rule the Spark apply chain executes, so fit-time
    segmentation and apply-time segmentation can never drift. Stops
    early when no pair occurs twice (nothing left worth a merge)."""
    counts, release = _bpe_word_counts(docs, id_col, text_col, cap)
    try:
        rows = counts.collect()
    finally:
        release()
    vocab: dict[tuple[str, ...], int] = {}
    for r in rows:
        syms = tuple(list(_mark_word(r["word"])) + [BPE_EOW])
        vocab[syms] = vocab.get(syms, 0) + r["c"]
    merges: list[tuple[str, str]] = []
    for _ in range(n_merges):
        pairs: dict[tuple[str, str], int] = {}
        for syms, c in vocab.items():
            for a, b in zip(syms, syms[1:]):
                pairs[(a, b)] = pairs.get((a, b), 0) + c
        if not pairs:
            break
        best_count = max(pairs.values())
        if best_count < 2:
            break
        a, b = min(p for p, c in pairs.items() if c == best_count)
        merges.append((a, b))
        new_vocab: dict[tuple[str, ...], int] = {}
        for syms, c in vocab.items():
            s = " " + " ".join(syms) + " "
            s = s.replace(f" {a} {b} ", f" {a}{b} ")
            ns = tuple(s.split())
            new_vocab[ns] = new_vocab.get(ns, 0) + c
        vocab = new_vocab
    return merges


def bpe_provenance(
    docs: DataFrame,
    id_col: str = "doc_id",
    cap: int = BPE_TRAIN_CAP,
    n_merges: int = BPE_MERGES,
) -> dict:
    """Fingerprint of WHAT the frozen merge table was fit on — the
    quality/langid model_provenance idiom (row count +
    order-insensitive id digest + hyperparameters): a daily loop could
    otherwise silently size budgets under a table fit on a different
    corpus vintage. One agg job over the id column only."""
    row = docs.select(
        F.count(F.lit(1)).alias("n"),
        F.expr(
            f"bit_xor(xxhash64(cast({id_col} as string)))"
        ).alias("h"),
    ).collect()[0]
    return {
        "corpus_rows": row["n"],
        "corpus_ids_digest": (
            None
            if row["n"] == 0
            else f"{row['h'] & (2 ** 64 - 1):016x}"
        ),
        "cap": cap,
        "n_merges": n_merges,
    }


def save_bpe_merges(
    path: str,
    merges: list[tuple[str, str]],
    provenance: dict | None = None,
) -> None:
    """Persist a fitted merge table as JSON — the frozen-table hand-off
    from the full curation run to the daily loop (the save_langid_model
    precedent): a daily batch must size its bins under the SAME
    vocabulary the full run packed with, never a per-batch refit.
    Symbols are plain strings (JSON-exact); write-to-tmp + atomic
    rename so a killed run never leaves a truncated table."""
    import json
    import os

    tmp = f"{path}.{os.getpid()}.tmp"
    try:
        with open(tmp, "w") as f:
            json.dump(
                {
                    "merges": [[a, b] for a, b in merges],
                    "provenance": provenance,
                },
                f,
            )
        os.replace(tmp, path)
    finally:
        if os.path.exists(tmp):
            os.unlink(tmp)


def load_bpe_merges(
    path: str,
) -> tuple[list[tuple[str, str]], dict | None]:
    """(merges, provenance) — inverse of :func:`save_bpe_merges`;
    symbols round-trip exactly."""
    import json

    with open(path) as f:
        d = json.load(f)
    return [(a, b) for a, b in d["merges"]], d.get("provenance")


def _count_word_tokens(w: Column, merges: list[tuple[str, str]]) -> Column:
    """Token count of ONE pretoken under the merge table — the literal
    replace chain over the padded symbol string. All JVM string ops on
    a lambda variable; no SQL text, so symbols never need escaping."""
    marked = F.regexp_replace(w, "^ ", BPE_SPACE)
    s = F.concat(
        F.lit(" "),
        F.regexp_replace(marked, "(.)", "$1 "),
        F.lit(BPE_EOW + " "),
    )
    for a, b in merges:
        s = F.replace(s, F.lit(f" {a} {b} "), F.lit(f" {a}{b} "))
    return F.size(F.split(F.trim(s), " "))


def learned_token_count(
    col: str | Column, merges: list[tuple[str, str]]
) -> Column:
    """Subword token count of a text column under a fitted merge table
    — the learned drop-in for textops.bpe_token_count (which counts
    PRETOKENS and therefore floors this value). One map-side
    ``aggregate`` over the pretoken array; per-word cost is the
    merge-chain's |merges| literal replaces."""
    c = F.col(col) if isinstance(col, str) else col
    # NULL text counts 0 (the mirror's `text or ""`), not NULL — a NULL
    # size would silently drop the doc from any budget sum
    return F.aggregate(
        bpe_tokens_expr(F.coalesce(c, F.lit(""))),
        F.lit(0),
        lambda acc, w: acc + _count_word_tokens(w, merges),
    )
