"""End-to-end tests for the operational ``curate`` CLI (VERDICT r6 #2 —
it is the deployed entrypoint for the flagship capability and was the one
untested module) and for the daily fold loop's store-coherence contract
(ADVICE r6 #1): the fold must grow the signature index, the key index,
AND the retained corpus together, keep ``bin_id`` globally unique across
accumulated days, replay idempotently, and fail LOUDLY — not silently keep
near-dups — when an index outruns the corpus."""

from __future__ import annotations

import json
import os
from pathlib import Path

import pytest
from pyspark.sql import functions as F

from data_pipeline_team5_spark.curate import main
from data_pipeline_team5_spark.plans.catalog import table
from tests.conftest import SF_SMALL

COLS = ["doc_id", "lang", "n_chars", "text"]


def _days(spark, tmp_path):
    docs = table(spark, SF_SMALL, "documents").select(*COLS)
    paths = {}
    for name, rem in (("day0", 1), ("day1", 0), ("day2", 2), ("day3", 3)):
        p = str(tmp_path / f"{name}.parquet")
        docs.filter(F.col("doc_id") % 4 == rem).write.parquet(p)
        paths[name] = p
    return docs, paths


def _run(capsys, argv) -> dict:
    assert main(argv) == 0
    line = capsys.readouterr().out.strip().splitlines()[-1]
    return json.loads(line)


def _store_args(tmp_path):
    return {
        "corpus": str(tmp_path / "corpus"),
        "sig": str(tmp_path / "sig"),
        "key": str(tmp_path / "key"),
        "out": str(tmp_path / "assignments"),
    }


def _inc_argv(s, new_path, fold):
    return [
        "incremental", "--new", new_path, "--corpus", s["corpus"],
        "--sig", s["sig"], "--key", s["key"], "--out", s["out"],
        "--fold-batch-id", fold,
    ]


def test_cli_daily_loop_end_to_end(spark, tmp_path, capsys):
    """init-corpus → build-index → two folded daily batches: JSON summary
    lines, accumulated assignment partitions with globally-unique bins,
    all three stores growing together, near-dups of FOLDED survivors
    dropped (the ADVICE r6 #1 scenario), and a bitwise-idempotent replay."""
    docs, paths = _days(spark, tmp_path)
    s = _store_args(tmp_path)

    r = _run(capsys, ["init-corpus", "--docs", paths["day0"],
                      "--corpus", s["corpus"]])
    assert r["status"] == "ok" and r["docs"] > 0
    assert os.path.isdir(os.path.join(s["corpus"], "batch_id=base"))

    r = _run(capsys, ["build-index", "--docs", s["corpus"],
                      "--sig", s["sig"], "--key", s["key"]])
    assert r["batch_id"] == "base"
    assert os.path.isdir(os.path.join(s["sig"], "batch_id=base"))

    r1 = _run(capsys, _inc_argv(s, paths["day1"], "day1"))
    assert r1["kept"] > 0 and r1["folded"] == "day1"
    # all three stores grew by a day1 partition
    for root in (s["corpus"], s["sig"], s["key"], s["out"]):
        assert os.path.isdir(os.path.join(root, "batch_id=day1")), root

    # craft day2': the real day2 batch PLUS a near-duplicate of a folded
    # day-1 survivor (one token changed → Jaccard >> threshold). The old
    # CLI kept --corpus static, so this doc's candidate pair had no
    # verify-side text and it was silently KEPT.
    surv1 = (
        spark.read.parquet(s["corpus"])
        .filter(F.col("batch_id") == "day1")
        .orderBy(F.length("text").desc())
        .select(*COLS)
        .first()
    )
    words = surv1.text.split()
    assert len(words) > 20, "fixture survivor too short to near-dup"
    # perturb the FIRST word: exact_key is the md5 of the 40-char
    # normalized PREFIX, so a mid-doc edit would be caught by the exact
    # key index and never exercise the near-dup path this test pins
    words[0] = "zzzneardupzzz"
    dup_id = int(docs.agg(F.max("doc_id")).first()[0]) + 1
    dup_text = " ".join(words)
    dup = spark.createDataFrame(
        [(dup_id, surv1.lang, len(dup_text), dup_text)], COLS
    )
    day2p = str(tmp_path / "day2_plus_dup.parquet")
    spark.read.parquet(paths["day2"]).unionByName(dup).write.parquet(day2p)

    r2 = _run(capsys, _inc_argv(s, day2p, "day2"))
    assert r2["kept"] > 0
    out = spark.read.parquet(s["out"])
    day2_ids = {
        r.doc_id for r in out.filter(F.col("batch_id") == "day2").collect()
    }
    assert dup_id not in day2_ids, (
        "near-duplicate of a folded day-1 survivor was kept — the fold "
        "loop's corpus is stale relative to its indexes"
    )

    # replay day2 (the latest batch — the crash-recovery case; replaying
    # an OLDER day after newer folds would legitimately differ, since the
    # store state it curates against has moved on): every store's content
    # must be bit-identical
    before = {
        root: sorted(
            tuple(r) for r in spark.read.parquet(root).collect()
        )
        for root in (s["corpus"], s["sig"], s["key"], s["out"])
    }
    r2b = _run(capsys, _inc_argv(s, day2p, "day2"))
    assert r2b["kept"] == r2["kept"]
    for root, rows in before.items():
        assert (
            sorted(tuple(r) for r in spark.read.parquet(root).collect())
            == rows
        ), f"replay changed {root}"

    # day 3 completes the 3-folded-day loop (VERDICT r6 #6: the bin-range
    # offsetting contract pinned across a multi-day run, not prose)
    r3 = _run(capsys, _inc_argv(s, paths["day3"], "day3"))
    assert r3["kept"] > 0
    out = spark.read.parquet(s["out"])
    assert {
        r.batch_id for r in out.select("batch_id").distinct().collect()
    } == {"day1", "day2", "day3"}

    # bin_id globally unique across accumulated batches per (split, lang)
    grp = out.groupBy("split", "lang", "bin_id").agg(
        F.countDistinct("batch_id").alias("nb")
    )
    assert grp.filter(F.col("nb") > 1).count() == 0


def test_stale_corpus_raises_loudly(spark, tmp_path):
    """Library-level guard (ADVICE r6 #1): candidate pairs against docs the
    corpus no longer carries must raise, not silently keep near-dups."""
    from data_pipeline_team5_spark.pipeline import (
        build_exact_key_index,
        build_signature_index,
        curate_incremental_batch,
    )

    docs = table(spark, SF_SMALL, "documents").select(*COLS)
    day0 = docs.filter(F.col("doc_id") % 3 == 1)
    day1 = docs.filter(F.col("doc_id") % 3 == 0)
    sig, key = str(tmp_path / "sig"), str(tmp_path / "key")
    build_signature_index(day0, sig, batch_id="day0")
    build_exact_key_index(day0, key, batch_id="day0")
    out1 = curate_incremental_batch(
        day1, day0, index_sig_path=sig, key_index_path=key
    )
    surv1 = day1.join(out1.select("doc_id"), "doc_id").localCheckpoint()
    build_signature_index(surv1, sig, batch_id="day1")
    build_exact_key_index(surv1, key, batch_id="day1")

    # day2 = NEAR-copies of day-1 survivors under fresh ids, FIRST word
    # changed: exact_key hashes the 40-char normalized prefix, so a
    # first-word edit defeats the (corpus-independent) key index while a
    # mid-doc edit would not — guaranteeing candidate pairs against the
    # folded partition, whose text is missing from the STALE corpus
    # (still day0 only)
    base = int(docs.agg(F.max("doc_id")).first()[0]) + 1
    rows = []
    for r in surv1.collect():
        w = r.text.split()
        if len(w) < 20:
            continue
        w[0] = "zzzstalezzz"
        t = " ".join(w)
        rows.append((r.doc_id + base, r.lang, len(t), t))
    assert rows, "fixture survivors all too short to near-dup"
    day2 = spark.createDataFrame(rows, COLS)
    with pytest.raises(ValueError, match="stale"):
        curate_incremental_batch(
            day2, day0, index_sig_path=sig, key_index_path=key
        )


def test_fold_refuses_flat_root(spark, tmp_path, capsys):
    """ADVICE r6 #2: folding a batch_id partition into a root holding flat
    parquet files would corrupt it for every later read — refuse."""
    from data_pipeline_team5_spark.pipeline import (
        build_exact_key_index,
        build_signature_index,
    )

    docs, paths = _days(spark, tmp_path)
    s = _store_args(tmp_path)
    day0 = spark.read.parquet(paths["day0"])
    day0.write.parquet(s["corpus"])  # FLAT corpus — not fold-safe
    build_signature_index(day0, s["sig"])  # flat index roots too
    build_exact_key_index(day0, s["key"])
    with pytest.raises(SystemExit, match="non-partition files"):
        main(_inc_argv(s, paths["day1"], "day1"))
    # without folding the same stores are fine (read-only probes)
    r = _run(capsys, _inc_argv(s, paths["day1"], "day1")[:-2])
    assert r["status"] == "ok" and r["folded"] is None


def test_cli_stream_processes_arrivals_then_only_new_files(
    spark, tmp_path, capsys
):
    """`curate stream`: (a) a non-empty arrivals dir drains as one
    micro-batch per file, folding each into all three stores with
    globally-unique bins; (b) a RERUN with no new arrivals processes
    nothing (the durable checkpoint is the cron replacement); (c) adding
    one file and rerunning processes exactly that file."""
    docs, paths = _days(spark, tmp_path)
    s = _store_args(tmp_path)
    _run(capsys, ["init-corpus", "--docs", paths["day0"],
                  "--corpus", s["corpus"]])
    _run(capsys, ["build-index", "--docs", s["corpus"],
                  "--sig", s["sig"], "--key", s["key"]])

    arrivals = tmp_path / "arrivals"
    arrivals.mkdir()
    for day in ("day1", "day2"):
        df = spark.read.parquet(paths[day])
        df.coalesce(1).write.parquet(str(tmp_path / f"stage_{day}"))
        part = next(
            p for p in (tmp_path / f"stage_{day}").iterdir()
            if p.name.endswith(".parquet")
        )
        part.rename(arrivals / f"{day}.parquet")

    argv = ["stream", "--arrivals", str(arrivals), "--corpus", s["corpus"],
            "--sig", s["sig"], "--key", s["key"], "--out", s["out"]]
    r = _run(capsys, argv)
    assert len(r["batches"]) == 2 and r["total_assignments"] > 0
    out = spark.read.parquet(s["out"])
    folds = {r_.batch_id for r_ in out.select("batch_id").distinct().collect()}
    assert folds == {"s0", "s1"}
    # all three stores grew per micro-batch
    for root in (s["corpus"], s["sig"], s["key"]):
        for fold in ("s0", "s1"):
            assert os.path.isdir(os.path.join(root, f"batch_id={fold}")), (
                root, fold)
    # bins globally unique across micro-batches
    bins = out.select("batch_id", "bin_id").distinct()
    assert bins.count() == bins.select("bin_id").distinct().count()

    # rerun with nothing new: checkpoint skips everything
    r2 = _run(capsys, argv)
    assert r2["batches"] == []
    assert r2["total_assignments"] == r["total_assignments"]

    # a third file arrives: exactly one new micro-batch
    df3 = spark.read.parquet(paths["day3"])
    df3.coalesce(1).write.parquet(str(tmp_path / "stage_day3"))
    part = next(
        p for p in (tmp_path / "stage_day3").iterdir()
        if p.name.endswith(".parquet")
    )
    part.rename(arrivals / "day3.parquet")
    r3 = _run(capsys, argv)
    assert len(r3["batches"]) == 1
    out = spark.read.parquet(s["out"])
    assert out.select("batch_id").distinct().count() == 3
    bins = out.select("batch_id", "bin_id").distinct()
    assert bins.count() == bins.select("bin_id").distinct().count()


def test_cli_full_scrub_pii_flag(spark, tmp_path, capsys):
    """`full --scrub-pii` plumbs through to curate_training_data: on the
    PII-free fixture corpus it is a no-op (same kept count as without the
    flag), and the run succeeds end-to-end through the CLI."""
    docs, paths = _days(spark, tmp_path)
    docs_path = str(tmp_path / "all.parquet")
    docs.write.parquet(docs_path)
    out_a = str(tmp_path / "full_a")
    out_b = str(tmp_path / "full_b")
    a = _run(capsys, ["full", "--docs", docs_path, "--out", out_a])
    b = _run(
        capsys,
        ["full", "--docs", docs_path, "--out", out_b, "--scrub-pii"],
    )
    assert a["kept"] == b["kept"] > 0


def test_cli_stream_crash_mid_fold_resumes_bitwise(
    spark, tmp_path, capsys, monkeypatch
):
    """Crash/resume contract for `curate stream` (VERDICT r7 #6, shard
    leg per VERDICT r9 #7): a micro-batch killed after partial store
    writes but BEFORE the checkpoint commits must, on restart, be
    reprocessed as the SAME batch id, and every store — including the
    --shard-root delivery partitions — must end bitwise-identical to a
    run that never crashed; the idempotent partition overwrites absorb
    the replayed fold. TWO kill points, one per day, so both replay
    regimes are pinned: day1 crashes INSIDE append_corpus_batch
    (asymmetric partial state — out/sig/key folded, corpus and shards
    NOT; the restart must converge from a sig index that already
    contains the fold its corpus lacks), day2 crashes AFTER
    write_training_shards returns (every store written, checkpoint
    uncommitted — the shard store replays over fully-landed data
    through the delete-first path, a genuine replay rather than a
    clean rerun)."""
    import data_pipeline_team5_spark.pipeline as pl
    import data_pipeline_team5_spark.sources.writers as wr

    docs, paths = _days(spark, tmp_path)

    def stage_file(day, arrivals):
        df = spark.read.parquet(paths[day])
        stage = tmp_path / f"stage_{arrivals.name}_{day}"
        df.coalesce(1).write.parquet(str(stage))
        part = next(
            p for p in stage.iterdir() if p.name.endswith(".parquet")
        )
        part.rename(arrivals / f"{day}.parquet")

    def seed(tag):
        s = {
            k: str(tmp_path / f"{tag}_{k}")
            for k in ("corpus", "sig", "key", "out", "shard")
        }
        _run(capsys, ["init-corpus", "--docs", paths["day0"],
                      "--corpus", s["corpus"]])
        _run(capsys, ["build-index", "--docs", s["corpus"],
                      "--sig", s["sig"], "--key", s["key"]])
        arrivals = tmp_path / f"{tag}_arrivals"
        arrivals.mkdir()
        argv = ["stream", "--arrivals", str(arrivals),
                "--corpus", s["corpus"], "--sig", s["sig"],
                "--key", s["key"], "--out", s["out"],
                "--shard-root", s["shard"]]
        return s, arrivals, argv

    # --- run A: crash mid-fold on the first micro-batch, then resume ---
    import glob as _glob

    sa, arrivals_a, argv_a = seed("a")

    # --- day1: crash INSIDE append_corpus_batch (asymmetric state) ---
    stage_file("day1", arrivals_a)
    real_append = pl.append_corpus_batch
    monkeypatch.setattr(
        pl, "append_corpus_batch",
        lambda *a, **k: (_ for _ in ()).throw(
            RuntimeError("injected mid-fold crash")
        ),
    )
    with pytest.raises(Exception, match="injected mid-fold crash"):
        main(argv_a)
    capsys.readouterr()
    monkeypatch.setattr(pl, "append_corpus_batch", real_append)
    # kill point: out/sig/key folded s0; corpus and shards have NOT
    assert os.path.isdir(os.path.join(sa["sig"], "batch_id=s0"))
    assert os.path.isdir(os.path.join(sa["out"], "batch_id=s0"))
    assert not os.path.isdir(os.path.join(sa["corpus"], "batch_id=s0"))
    assert not _glob.glob(
        os.path.join(sa["shard"], "shard_id=*", "batch_id=s0")
    )

    r = _run(capsys, argv_a)  # restart: replays EXACTLY the crashed file
    assert r["batches"] == ["s0"], r

    # --- day2: crash AFTER write_training_shards (all stores landed) ---
    stage_file("day2", arrivals_a)
    real_shards = wr.write_training_shards

    def shards_then_crash(*a, **k):
        real_shards(*a, **k)
        raise RuntimeError("injected post-shard crash")

    monkeypatch.setattr(wr, "write_training_shards", shards_then_crash)
    with pytest.raises(Exception, match="injected post-shard crash"):
        main(argv_a)
    capsys.readouterr()
    monkeypatch.setattr(wr, "write_training_shards", real_shards)
    # kill point: EVERY store folded s1, checkpoint uncommitted — the
    # restart must replay s1 over fully-landed shard partitions
    assert os.path.isdir(os.path.join(sa["corpus"], "batch_id=s1"))
    assert _glob.glob(
        os.path.join(sa["shard"], "shard_id=*", "batch_id=s1")
    )

    r = _run(capsys, argv_a)
    assert r["batches"] == ["s1"], r

    # --- run B: the uninterrupted control over the same arrivals ---
    sb, arrivals_b, argv_b = seed("b")
    stage_file("day1", arrivals_b)
    r = _run(capsys, argv_b)
    assert r["batches"] == ["s0"], r
    stage_file("day2", arrivals_b)
    r = _run(capsys, argv_b)
    assert r["batches"] == ["s1"], r

    for k in ("corpus", "sig", "key", "out", "shard"):
        a_rows = sorted(
            tuple(x) for x in spark.read.parquet(sa[k]).collect()
        )
        b_rows = sorted(
            tuple(x) for x in spark.read.parquet(sb[k]).collect()
        )
        assert a_rows == b_rows, (
            f"{k} store diverged after crash/resume"
        )
        assert a_rows, f"{k} store empty"


def test_cli_compact_preserves_content_and_later_days(
    spark, tmp_path, capsys
):
    """`curate compact` (round 8): the fold stores' accumulated per-day
    batch_id partitions collapse to ONE base partition per root with (a)
    every non-batch_id cell preserved bitwise, (b) strictly fewer
    partition directories, and (c) NO effect on subsequent days — a
    day-3 fold against compacted stores must produce assignments
    bitwise-identical to a day-3 fold against the uncompacted control,
    since every probe reads whole roots and next_bin_offset is
    partition-agnostic."""
    docs, paths = _days(spark, tmp_path)

    def fold_two_days(tag):
        s = {
            k: str(tmp_path / f"{tag}_{k}")
            for k in ("corpus", "sig", "key", "out")
        }
        _run(capsys, ["init-corpus", "--docs", paths["day0"],
                      "--corpus", s["corpus"]])
        _run(capsys, ["build-index", "--docs", s["corpus"],
                      "--sig", s["sig"], "--key", s["key"]])
        _run(capsys, _inc_argv(s, paths["day1"], "day1"))
        _run(capsys, _inc_argv(s, paths["day2"], "day2"))
        return s

    sa = fold_two_days("ca")  # will be compacted
    sb = fold_two_days("cb")  # uncompacted control

    def content(root):
        df = spark.read.parquet(root)
        cols = sorted(c for c in df.columns if c != "batch_id")
        return sorted(tuple(r) for r in df.select(*cols).collect())

    before = {k: content(sa[k]) for k in sa}
    roots = [sa[k] for k in ("corpus", "sig", "key", "out")]
    r = _run(capsys, ["compact", "--roots", *roots])
    assert r["status"] == "ok" and set(r["stores"]) == set(roots)
    for k in sa:
        parts = [
            p for p in os.listdir(sa[k]) if p.startswith("batch_id=")
        ]
        assert parts == ["batch_id=base"], (sa[k], parts)
        assert content(sa[k]) == before[k], f"{k} content changed"
        st = r["stores"][sa[k]]
        assert st["files_after"] <= st["files_before"]
        assert st["rows"] == len(before[k])
    # no leftover tmp/backup trees
    leftovers = [
        p for p in os.listdir(tmp_path)
        if "__compact_tmp" in p or "__pre_compact" in p
    ]
    assert leftovers == []

    # day 3 folds identically against compacted vs uncompacted stores
    ra = _run(capsys, _inc_argv(sa, paths["day3"], "day3"))
    rb = _run(capsys, _inc_argv(sb, paths["day3"], "day3"))
    assert ra["kept"] == rb["kept"] > 0
    a_rows = sorted(
        tuple(x)
        for x in spark.read.parquet(sa["out"])
        .filter(F.col("batch_id") == "day3")
        .collect()
    )
    b_rows = sorted(
        tuple(x)
        for x in spark.read.parquet(sb["out"])
        .filter(F.col("batch_id") == "day3")
        .collect()
    )
    assert a_rows == b_rows, "day-3 fold diverged after compaction"


def test_compact_clears_stale_backup_from_prior_crash(spark, tmp_path, capsys):
    """A crash between compaction's two renames leaves a __pre_compact
    backup tree; the next compact run must clear it and still succeed
    (the documented recovery semantics of the swap)."""
    import shutil

    docs, paths = _days(spark, tmp_path)
    corpus = str(tmp_path / "bk_corpus")
    _run(capsys, ["init-corpus", "--docs", paths["day0"],
                  "--corpus", corpus])
    # simulate the parked tree a prior crash would leave
    shutil.copytree(corpus, corpus + "__pre_compact")
    before = sorted(
        tuple(r) for r in spark.read.parquet(corpus).collect()
    )
    r = _run(capsys, ["compact", "--roots", corpus])
    assert r["status"] == "ok"
    assert not os.path.isdir(corpus + "__pre_compact")
    assert not os.path.isdir(corpus + "__compact_tmp")
    after = sorted(
        tuple(r) for r in spark.read.parquet(corpus).collect()
    )
    assert after == before


def test_compact_swaps_back_on_count_mismatch(
    spark, tmp_path, capsys, monkeypatch
):
    """ADVICE r8 (medium): when the post-swap row-count verification
    fails, the mismatched compacted tree must NOT stay active at the
    store root — the verified-good original swaps back in (bad tree
    parked at __compact_bad for forensics), so any concurrent or
    subsequent probe/fold keeps reading correct data even when the
    raise goes unhandled."""
    # patch the CONCRETE class — in PySpark 4 pyspark.sql.DataFrame is
    # the abstract parent and type(df) overrides count
    from pyspark.sql.classic.dataframe import DataFrame

    from data_pipeline_team5_spark import pipeline as pl

    docs, paths = _days(spark, tmp_path)
    corpus = str(tmp_path / "mm_corpus")
    _run(capsys, ["init-corpus", "--docs", paths["day0"],
                  "--corpus", corpus])
    before = sorted(tuple(r) for r in spark.read.parquet(corpus).collect())

    real_count = DataFrame.count
    calls = {"n": 0}

    def lying_count(self):
        # call 1 = pre-compaction n_rows; call 2 = post-swap n_after —
        # lie on the second to simulate a rewrite that lost rows
        calls["n"] += 1
        n = real_count(self)
        return n + 1 if calls["n"] == 2 else n

    monkeypatch.setattr(DataFrame, "count", lying_count)
    with pytest.raises(RuntimeError, match="row count changed"):
        pl.compact_fold_stores(spark, [corpus])
    monkeypatch.undo()

    # the ACTIVE tree is the verified-good original, bitwise
    after = sorted(tuple(r) for r in spark.read.parquet(corpus).collect())
    assert after == before
    # bad tree kept for forensics; backup slot consumed by the swap-back
    assert os.path.isdir(corpus + "__compact_bad")
    assert not os.path.isdir(corpus + "__pre_compact")
    # and a later compact run (counts now honest) clears the debris
    r = pl.compact_fold_stores(spark, [corpus])
    assert r[corpus]["rows"] == len(before)


def test_compact_refuses_numeric_batch_id_partitions(spark, tmp_path):
    """ADVICE r8 (low): a store whose batch_id partition values are all
    numeric-looking strings is read back with an INFERRED NUMERIC
    partition column; compacting it into batch_id='base' would silently
    flip the store's inferred schema to string. compact_fold_stores must
    refuse loudly instead of silently changing the schema."""
    from data_pipeline_team5_spark import pipeline as pl

    root = str(tmp_path / "numstore")
    (
        spark.range(10)
        .withColumn("batch_id", F.lit("20240101"))  # string on write...
        .write.partitionBy("batch_id")
        .parquet(root)
    )
    # ...but numeric on read-back — the silent-flip precondition
    assert not isinstance(
        spark.read.parquet(root).schema["batch_id"].dataType,
        __import__("pyspark.sql.types", fromlist=["StringType"]).StringType,
    )
    with pytest.raises(ValueError, match="all-numeric batch_id"):
        pl.compact_fold_stores(spark, [root])
    # store untouched — no swap was attempted
    assert spark.read.parquet(root).count() == 10


def test_cli_drift_between_fold_days(spark, tmp_path, capsys):
    """`curate drift` (round 9): the post-fold observability check.
    Self-drift of a root against itself is EXACTLY zero on every
    feature; drift between the pre-fold corpus (--exclude-batch-id) and
    the folded store is a finite TV in (0, 1]."""
    docs, paths = _days(spark, tmp_path)
    corpus = str(tmp_path / "dr_corpus")
    _run(capsys, ["init-corpus", "--docs", paths["day0"],
                  "--corpus", corpus, "--batch-id", "d0"])

    r = _run(capsys, ["drift", "--old", corpus, "--new", corpus])
    assert r["status"] == "ok" and set(r["tv"]) == {"lang", "len"}
    assert all(v == 0.0 for v in r["tv"].values())

    # grow the store by a second day, then diff pre-fold vs post-fold
    # from the one batch_id-partitioned root
    from data_pipeline_team5_spark.pipeline import append_corpus_batch

    append_corpus_batch(spark.read.parquet(paths["day1"]), corpus, "d1")
    r = _run(capsys, ["drift", "--old", corpus, "--new", corpus,
                      "--exclude-batch-id", "d1"])
    assert r["status"] == "ok"
    assert all(0.0 < v <= 1.0 for v in r["tv"].values()), r["tv"]

    # --exclude-batch-id against a non-partitioned root refuses loudly
    flat = str(tmp_path / "flat_docs")
    spark.read.parquet(paths["day0"]).write.parquet(flat)
    with pytest.raises(ValueError, match="not a batch_id"):
        main(["drift", "--old", flat, "--new", flat,
              "--exclude-batch-id", "d1"])


def test_cli_full_survivor_policy_flag(spark, tmp_path, capsys):
    """`curate full --survivor-policy quality` threads the round-9
    retention policy through the CLI (same kept count as the default —
    one survivor per component either way)."""
    docs, paths = _days(spark, tmp_path)
    out_a = str(tmp_path / "a.parquet")
    out_b = str(tmp_path / "b.parquet")
    ra = _run(capsys, ["full", "--docs", paths["day0"], "--out", out_a])
    rb = _run(capsys, ["full", "--docs", paths["day0"], "--out", out_b,
                       "--survivor-policy", "quality"])
    assert ra["kept"] == rb["kept"] > 0


def test_cli_incremental_report_drift(spark, tmp_path, capsys):
    """`curate incremental --fold-batch-id D --report-drift` appends the
    post-fold TV drift (folded corpus vs pre-fold corpus) to the daily
    summary line; without --fold-batch-id it refuses before any work, so
    the maintained ``--out`` root it names stays byte-for-byte intact."""
    docs, paths = _days(spark, tmp_path)
    s = _store_args(tmp_path)
    _run(capsys, ["init-corpus", "--docs", paths["day0"],
                  "--corpus", s["corpus"]])
    _run(capsys, ["build-index", "--docs", s["corpus"],
                  "--sig", s["sig"], "--key", s["key"]])
    r = _run(capsys, _inc_argv(s, paths["day1"], "day1")
             + ["--report-drift"])
    assert set(r["drift_tv"]) == {"lang", "len"}
    assert all(0.0 <= v <= 1.0 for v in r["drift_tv"].values())

    def tree(root):
        return {
            p.relative_to(root): p.read_bytes()
            for p in sorted(Path(root).rglob("*")) if p.is_file()
        }

    before = tree(s["out"])
    assert before
    with pytest.raises(ValueError, match="report-drift"):
        main(["incremental", "--new", paths["day2"],
              "--corpus", s["corpus"], "--sig", s["sig"],
              "--key", s["key"], "--out", s["out"], "--report-drift"])
    assert tree(s["out"]) == before


def test_shard_subcommand_reproducible(spark, tmp_path, capsys):
    """`curate shard` deals the corpus into N shards; a rerun (and a rerun
    from a differently-partitioned copy of the same docs) produces
    byte-identical shard contents and the same printed manifest."""
    docs = table(spark, SF_SMALL, "documents").select(*COLS)
    d1 = str(tmp_path / "docs1.parquet")
    d2 = str(tmp_path / "docs2.parquet")
    docs.write.parquet(d1)
    docs.repartition(9).write.parquet(d2)

    outs = {}
    for tag, src in (("a", d1), ("b", d2)):
        out = str(tmp_path / f"shards_{tag}")
        summary = _run(capsys, [
            "shard", "--docs", src, "--out", out, "--n-shards", "4",
        ])
        assert summary["cmd"] == "shard"
        assert summary["docs"] == docs.count()
        assert len(summary["manifest"]) <= 4
        outs[tag] = (out, summary["manifest"])

    assert outs["a"][1] == outs["b"][1]  # identical printed manifests

    def contents(root):
        df = spark.read.parquet(root)
        return sorted(
            map(tuple, df.select("shard_id", "sort_key", "doc_id").collect())
        )

    assert contents(outs["a"][0]) == contents(outs["b"][0])


def test_datacard_subcommand(spark, tmp_path, capsys):
    """`curate datacard` assembles the release artifact from the catalog's
    corpus-health queries; spot-check one section against the query it
    claims to embed, and the drift section's identity contract."""
    out = str(tmp_path / "card.json")
    summary = _run(capsys, [
        "datacard", "--dir", SF_SMALL, "--out", out,
        "--baseline", SF_SMALL,
    ])
    assert summary["cmd"] == "datacard"
    card = json.load(open(out))
    expected = {
        "text_corpus_stats", "curation_funnel", "sample_split_report",
        "split_leakage_audit", "vocab_coverage", "term_spectrum",
        "drift_vs_baseline",
    }
    assert set(card["sections"]) == expected
    # the embedded section is exactly the catalog query's result
    from data_pipeline_team5_spark.plans.catalog import QUERIES

    direct = [
        r.asDict() for r in QUERIES["vocab_coverage"].fn(spark, SF_SMALL).collect()
    ]
    assert card["sections"]["vocab_coverage"] == direct
    # drift of a corpus against itself is exactly zero per feature
    assert set(card["sections"]["drift_vs_baseline"]) and all(
        v == 0.0 for v in card["sections"]["drift_vs_baseline"].values()
    )
    # Good-Turing mass = bin-0 token share, in (0, 1)
    assert 0.0 <= summary["good_turing_unseen_mass"] < 1.0


def test_datacard_accepts_bare_corpus_root(spark, tmp_path, capsys, monkeypatch):
    """A maintained corpus root (bare parquet dir, the fold-store form) is
    accepted directly — the card must equal the fixture-layout run's."""
    import glob as _glob
    import tempfile

    # pin THIS test's staging into tmp_path so the leak assertion cannot
    # see other processes' (or crashed runs') datacard_* dirs
    monkeypatch.setattr(tempfile, "tempdir", str(tmp_path))
    docs = table(spark, SF_SMALL, "documents")
    root = str(tmp_path / "corpus_root")
    docs.write.parquet(root)
    out = str(tmp_path / "card_root.json")
    _run(capsys, ["datacard", "--dir", root, "--out", out])
    out_ref = str(tmp_path / "card_ref.json")
    _run(capsys, ["datacard", "--dir", SF_SMALL, "--out", out_ref])
    card, ref = json.load(open(out)), json.load(open(out_ref))
    assert card["sections"] == ref["sections"]
    # the symlink staging dir must not leak (ADVICE r9)
    assert _glob.glob(str(tmp_path / "datacard_*")) == []


def test_datacard_refuses_remote_corpus_root(spark, tmp_path, capsys):
    """Symlink staging is local-only: a remote scheme must fail fast with
    an actionable message, not an os.symlink traceback (ADVICE r9)."""
    with pytest.raises(SystemExit, match="symlink-staged"):
        _run(capsys, [
            "datacard", "--dir", "s3a://bucket/corpus",
            "--out", str(tmp_path / "never.json"),
        ])


def test_shard_incremental_batches_idempotent(spark, tmp_path, capsys):
    """Incremental shard delivery: daily batches land as
    shard_id/batch_id partitions; a replayed day converges (no doubling),
    and the accumulated shards hold exactly the union — with every doc in
    the SAME shard a full re-deal would put it in."""
    from data_pipeline_team5_spark.operators.sampling import shard_assign
    from data_pipeline_team5_spark.sources.writers import (
        write_training_shards,
    )

    docs = table(spark, SF_SMALL, "documents").select(*COLS)
    d0 = docs.filter(F.col("doc_id") % 2 == 0)
    d1 = docs.filter(F.col("doc_id") % 2 == 1)
    root = str(tmp_path / "inc_shards")
    write_training_shards(d0, root, n_shards=4, batch_id="day0")
    write_training_shards(d1, root, n_shards=4, batch_id="day1")
    write_training_shards(d1, root, n_shards=4, batch_id="day1")  # replay

    acc = spark.read.parquet(root)
    assert acc.count() == docs.count()  # replay did not double day1
    got = {
        (r["doc_id"], r["shard_id"])
        for r in acc.select("doc_id", "shard_id").collect()
    }
    want = {
        (r["doc_id"], r["shard_id"])
        for r in shard_assign(docs, "doc_id", 4)
        .select("doc_id", "shard_id")
        .collect()
    }
    assert got == want  # same shard per doc as a full re-deal


def test_cli_stream_shard_delivery_leg(spark, tmp_path, capsys):
    """`stream --shard-root`: each micro-batch's survivors ALSO land as
    shard_id/batch_id partitions — the shard set equals the fold set per
    batch, every doc sits in the shard a full re-deal would choose, and a
    rerun with no new arrivals leaves the shard root untouched."""
    from data_pipeline_team5_spark.operators.sampling import shard_assign

    docs, paths = _days(spark, tmp_path)
    s = _store_args(tmp_path)
    _run(capsys, ["init-corpus", "--docs", paths["day0"],
                  "--corpus", s["corpus"]])
    _run(capsys, ["build-index", "--docs", s["corpus"],
                  "--sig", s["sig"], "--key", s["key"]])

    arrivals = tmp_path / "arrivals"
    arrivals.mkdir()
    for day in ("day1", "day2"):
        df = spark.read.parquet(paths[day])
        df.coalesce(1).write.parquet(str(tmp_path / f"stage_{day}"))
        part = next(
            p for p in (tmp_path / f"stage_{day}").iterdir()
            if p.name.endswith(".parquet")
        )
        part.rename(arrivals / f"{day}.parquet")

    shard_root = str(tmp_path / "shards")
    argv = ["stream", "--arrivals", str(arrivals), "--corpus", s["corpus"],
            "--sig", s["sig"], "--key", s["key"], "--out", s["out"],
            "--shard-root", shard_root]
    r = _run(capsys, argv)
    assert len(r["batches"]) == 2

    shards = spark.read.parquet(shard_root)
    out = spark.read.parquet(s["out"])
    # per batch, the sharded doc set == the folded survivor set
    for fold in ("s0", "s1"):
        delivered = {
            x.doc_id
            for x in shards.filter(F.col("batch_id") == fold)
            .select("doc_id").collect()
        }
        folded = {
            x.doc_id
            for x in out.filter(F.col("batch_id") == fold)
            .select("doc_id").distinct().collect()
        }
        assert delivered == folded and delivered
    # deal agreement with a from-scratch full re-deal
    got = {(x.doc_id, x.shard_id)
           for x in shards.select("doc_id", "shard_id").collect()}
    want = {
        (x.doc_id, x.shard_id)
        for x in shard_assign(
            shards.select("doc_id").distinct(), "doc_id", 16
        ).collect()
    }
    assert got == want

    before = sorted(str(p) for p in __import__("pathlib").Path(
        shard_root).rglob("*.parquet"))
    r2 = _run(capsys, argv)
    assert r2["batches"] == []
    after = sorted(str(p) for p in __import__("pathlib").Path(
        shard_root).rglob("*.parquet"))
    assert before == after  # untouched on a no-op rerun


def test_cli_quality_model_full_to_incremental(spark, tmp_path, capsys):
    """Round 14 frozen-model loop: `full --quality-reference
    --quality-model-out` writes the model JSON; `incremental
    --quality-model` applies the frozen rules and keeps strictly fewer
    docs than the plain daily run."""
    docs, paths = _days(spark, tmp_path)
    ref_path = str(tmp_path / "ref.parquet")
    docs.filter(F.col("doc_id") % 7 == 0).write.parquet(ref_path)
    mpath = str(tmp_path / "qm.json")
    _run(capsys, [
        "full", "--docs", paths["day0"],
        "--out", str(tmp_path / "full_out"),
        "--quality-reference", ref_path,
        "--quality-filter", "both",
        "--quality-model-out", mpath,
    ])
    import os

    assert os.path.exists(mpath)

    s = _store_args(tmp_path)
    _run(capsys, ["init-corpus", "--docs", paths["day0"],
                  "--corpus", s["corpus"]])
    _run(capsys, ["build-index", "--docs", s["corpus"],
                  "--sig", s["sig"], "--key", s["key"]])
    plain = _run(capsys, [
        "incremental", "--new", paths["day1"], "--corpus", s["corpus"],
        "--sig", s["sig"], "--key", s["key"],
        "--out", str(tmp_path / "out_plain"),
    ])
    frozen = _run(capsys, [
        "incremental", "--new", paths["day1"], "--corpus", s["corpus"],
        "--sig", s["sig"], "--key", s["key"],
        "--out", str(tmp_path / "out_frozen"),
        "--quality-model", mpath,
    ])
    assert 0 < frozen["kept"] < plain["kept"]


def test_cli_quality_model_out_requires_reference(spark, tmp_path):
    """ADVICE r14: `full --quality-model-out` without
    --quality-reference would silently write nothing; the CLI must
    refuse at parse time."""
    with pytest.raises(SystemExit):
        main([
            "full", "--docs", str(tmp_path / "nope"),
            "--out", str(tmp_path / "out"),
            "--quality-model-out", str(tmp_path / "qm.json"),
        ])


def test_cli_image_dedup_daily_loop(spark, tmp_path, capsys):
    """Round 15 (VERDICT r14 #1/#7) CLI loop with images: build-index
    --perceptual hashes the corpus's blobs once; incremental
    --image-blobs --perceptual-index drops a new doc whose image
    duplicates a retained one, folds the survivors' hashes, and the
    next day probes them; a replayed day converges bitwise."""
    from data_pipeline_team5_spark.operators.multimodal import (
        BMP_H,
        BMP_W,
        encode_bmp,
    )

    def payload(seed: int) -> bytes:
        px = bytearray()
        for y in range(BMP_H):
            for x in range(BMP_W):
                # seed must change STRUCTURE, not brightness — a
                # constant offset is dHash-invariant (all comparisons
                # preserved); these fields are pairwise 27+ bits apart
                v = (x * (37 + seed * 13) + y * (101 + seed * 7)
                     + x * y * (7 + seed)) % 256
                px += bytes((v, v, v))
        return encode_bmp(bytes(px), BMP_W, BMP_H)

    # crafted days: pairwise-dissimilar texts passing every filter, so
    # ONLY the image rule decides who drops
    def day_docs(ids_):
        return spark.createDataFrame(
            [(i, "en", 290,
              " ".join(f"u{i}w{j}" for j in range(50))) for i in ids_],
            "doc_id LONG, lang STRING, n_chars LONG, text STRING",
        )

    ids = {"day0": [1000, 1001, 1002], "day1": [2000, 2001, 2002],
           "day2": [3000, 3001, 3002]}
    paths = {}
    for name, ids_ in ids.items():
        p = str(tmp_path / f"{name}.parquet")
        day_docs(ids_).write.parquet(p)
        paths[name] = p
    # day0 corpus images; day1 doc[0] duplicates a day0 image, doc[1]
    # is fresh; day2 doc[0] duplicates day1's FRESH image (so day2
    # probes the FOLDED hashes, not the base index)
    blob_rows = (
        [(d, payload(i)) for i, d in enumerate(ids["day0"])]
        + [(ids["day1"][0], payload(0)), (ids["day1"][1], payload(50))]
        + [(ids["day2"][0], payload(50)), (ids["day2"][1], payload(60))]
    )
    all_blobs = spark.createDataFrame(
        blob_rows, "doc_id LONG, blob BINARY"
    )
    blobs = str(tmp_path / "blobs.parquet")
    all_blobs.write.parquet(blobs)
    # the base index is built from the CORPUS's blobs only (day0): an
    # index already containing tomorrow's hashes would match new docs
    # against themselves-in-the-future
    blobs0 = str(tmp_path / "blobs_day0.parquet")
    all_blobs.filter(F.col("doc_id") < 2000).write.parquet(blobs0)

    s = _store_args(tmp_path)
    ph = str(tmp_path / "phash")
    _run(capsys, ["init-corpus", "--docs", paths["day0"],
                  "--corpus", s["corpus"]])
    _run(capsys, ["build-index", "--docs", paths["day0"],
                  "--sig", s["sig"], "--key", s["key"],
                  "--image-blobs", blobs0, "--perceptual", ph])

    def inc(day):
        return _run(capsys, _inc_argv(s, paths[day], day) + [
            "--image-blobs", blobs, "--perceptual-index", ph,
        ])

    inc("day1")
    kept1 = {
        r["doc_id"]
        for r in spark.read.parquet(s["out"])
        .filter(F.col("batch_id") == "day1").collect()
    }
    assert ids["day1"][0] not in kept1  # image dup of retained day0
    assert ids["day1"][1] in kept1      # fresh image survives

    inc("day2")
    kept2 = {
        r["doc_id"]
        for r in spark.read.parquet(s["out"])
        .filter(F.col("batch_id") == "day2").collect()
    }
    assert ids["day2"][0] not in kept2  # dup of day1's FOLDED image
    assert ids["day2"][1] in kept2

    # replay day2: bitwise-idempotent (index partition excluded on read,
    # overwritten on fold)
    before = sorted(
        map(tuple, spark.read.parquet(s["out"]).collect())
    )
    idx_before = sorted(
        map(tuple, spark.read.parquet(ph).collect())
    )
    inc("day2")
    assert sorted(map(tuple, spark.read.parquet(s["out"]).collect())) == before
    assert sorted(map(tuple, spark.read.parquet(ph).collect())) == idx_before


def test_cli_frozen_model_drift_warning(spark, tmp_path, capsys):
    """Round 15 (VERDICT r14 #4): a daily batch whose score
    distribution has moved away from the full run's stored snapshot
    must be FLAGGED (summary TV + stderr warning), never silently
    filtered with the stale thresholds; a same-distribution batch
    passes quietly."""
    docs, paths = _days(spark, tmp_path)
    ref_path = str(tmp_path / "ref.parquet")
    docs.filter(F.col("doc_id") % 7 == 0).write.parquet(ref_path)
    mpath = str(tmp_path / "qm.json")
    _run(capsys, [
        "full", "--docs", paths["day0"],
        "--out", str(tmp_path / "full_out"),
        "--quality-reference", ref_path,
        "--quality-filter", "both",
        "--quality-model-out", mpath,
    ])

    s = _store_args(tmp_path)
    _run(capsys, ["init-corpus", "--docs", paths["day0"],
                  "--corpus", s["corpus"]])
    _run(capsys, ["build-index", "--docs", s["corpus"],
                  "--sig", s["sig"], "--key", s["key"]])

    # same-distribution day: drift reported, no warning
    assert main([
        "incremental", "--new", paths["day1"], "--corpus", s["corpus"],
        "--sig", s["sig"], "--key", s["key"],
        "--out", str(tmp_path / "out1"), "--quality-model", mpath,
    ]) == 0
    cap = capsys.readouterr()  # out AND err from the same capture
    out1 = json.loads(cap.out.strip().splitlines()[-1])
    assert set(out1["quality_drift_tv"]) == {"classifier_logit", "lm_bits"}
    assert all(
        tv is not None and tv < 0.25
        for tv in out1["quality_drift_tv"].values()
    ), out1["quality_drift_tv"]
    assert "looks stale" not in cap.err

    # shifted day: md5-permuted tokens (the classifier's own negative
    # class — maximally off-distribution) must trip the guard
    from data_pipeline_team5_spark.operators.quality import (
        _perm_tokens_sql,
    )

    shifted = spark.read.parquet(paths["day2"]).withColumn(
        "text",
        F.array_join(F.expr(_perm_tokens_sql("split(text, ' ')")), " "),
    )
    p_shift = str(tmp_path / "shifted.parquet")
    shifted.write.parquet(p_shift)
    assert main([
        "incremental", "--new", p_shift, "--corpus", s["corpus"],
        "--sig", s["sig"], "--key", s["key"],
        "--out", str(tmp_path / "out2"), "--quality-model", mpath,
    ]) == 0
    cap = capsys.readouterr()  # out AND err from the same capture
    out2 = json.loads(cap.out.strip().splitlines()[-1])
    assert any(
        tv is not None and tv > 0.25
        for tv in out2["quality_drift_tv"].values()
    ), out2["quality_drift_tv"]
    assert "looks stale" in cap.err


def test_cli_stream_image_dedup(spark, tmp_path, capsys):
    """Round 15: the stream loop's image leg — each micro-batch is
    image-deduped against the retained hashes through the stored index
    and its survivors' hashes fold in, so arrival 2 catches a dup of
    arrival 1's fresh image."""
    from data_pipeline_team5_spark.operators.multimodal import (
        BMP_H,
        BMP_W,
        encode_bmp,
    )

    def payload(seed: int) -> bytes:
        px = bytearray()
        for y in range(BMP_H):
            for x in range(BMP_W):
                v = (x * (37 + seed * 13) + y * (101 + seed * 7)
                     + x * y * (7 + seed)) % 256
                px += bytes((v, v, v))
        return encode_bmp(bytes(px), BMP_W, BMP_H)

    def day_docs(ids_):
        return spark.createDataFrame(
            [(i, "en", 290,
              " ".join(f"u{i}w{j}" for j in range(50))) for i in ids_],
            "doc_id LONG, lang STRING, n_chars LONG, text STRING",
        )

    ids = {"day0": [1000, 1001], "a1": [2000, 2001], "a2": [3000, 3001]}
    blob_rows = (
        [(1000, payload(0)), (1001, payload(1))]
        + [(2000, payload(0)), (2001, payload(50))]  # 2000 dups corpus
        + [(3000, payload(50)), (3001, payload(60))]  # 3000 dups a1's
    )
    all_blobs = spark.createDataFrame(
        blob_rows, "doc_id LONG, blob BINARY"
    )
    blobs = str(tmp_path / "blobs.parquet")
    all_blobs.write.parquet(blobs)
    blobs0 = str(tmp_path / "blobs0.parquet")
    all_blobs.filter(F.col("doc_id") < 2000).write.parquet(blobs0)

    p_day0 = str(tmp_path / "day0.parquet")
    day_docs(ids["day0"]).write.parquet(p_day0)
    s = _store_args(tmp_path)
    ph = str(tmp_path / "phash")
    _run(capsys, ["init-corpus", "--docs", p_day0,
                  "--corpus", s["corpus"]])
    _run(capsys, ["build-index", "--docs", p_day0,
                  "--sig", s["sig"], "--key", s["key"],
                  "--image-blobs", blobs0, "--perceptual", ph])

    arrivals = tmp_path / "arrivals"
    arrivals.mkdir()
    for name in ("a1", "a2"):
        stage = tmp_path / f"stage_{name}"
        day_docs(ids[name]).coalesce(1).write.parquet(str(stage))
        part = next(
            p for p in stage.iterdir() if p.name.endswith(".parquet")
        )
        part.rename(arrivals / f"{name}.parquet")

    r = _run(capsys, [
        "stream", "--arrivals", str(arrivals), "--corpus", s["corpus"],
        "--sig", s["sig"], "--key", s["key"], "--out", s["out"],
        "--image-blobs", blobs, "--perceptual-index", ph,
    ])
    assert len(r["batches"]) == 2
    kept = {
        r_["doc_id"]
        for r_ in spark.read.parquet(s["out"]).collect()
    }
    assert kept == {2001, 3001}  # 2000 dup of corpus; 3000 dup of 2001
    # the perceptual index grew one partition per micro-batch
    for fold in ("s0", "s1"):
        assert os.path.isdir(os.path.join(ph, f"batch_id={fold}"))


def test_datacard_quality_model_section(spark, tmp_path, capsys):
    """Round 15: `datacard --quality-model` embeds the frozen model's
    fit provenance and the corpus's per-signal score drift vs the
    model's snapshot — the release-time stale-model evidence."""
    docs, paths = _days(spark, tmp_path)
    ref_path = str(tmp_path / "ref.parquet")
    docs.filter(F.col("doc_id") % 7 == 0).write.parquet(ref_path)
    mpath = str(tmp_path / "qm.json")
    _run(capsys, [
        "full", "--docs", paths["day0"],
        "--out", str(tmp_path / "full_out"),
        "--quality-reference", ref_path,
        "--quality-filter", "both",
        "--quality-model-out", mpath,
    ])
    out = str(tmp_path / "card.json")
    _run(capsys, [
        "datacard", "--dir", SF_SMALL, "--out", out,
        "--quality-model", mpath,
    ])
    card = json.loads(open(out).read())
    qm = card["sections"]["quality_model"]
    assert qm["provenance"]["reference_rows"] > 0
    assert qm["provenance"]["reference_ids_digest"]
    assert qm["lm_keep_max_bits"] is not None
    assert set(qm["score_drift_tv"]) == {"classifier_logit", "lm_bits"}
    assert all(
        tv is None or 0.0 <= tv <= 1.0
        for tv in qm["score_drift_tv"].values()
    )


def test_cli_decon_only_image_fold(spark, tmp_path, capsys):
    """Round 15 self-review: the decon-only image form (--image-blobs
    + --image-benchmark, no --perceptual-index) must work WITH
    --fold-batch-id — the fold has no perceptual index to grow and
    must not try to."""
    from data_pipeline_team5_spark.operators.multimodal import (
        BMP_H,
        BMP_W,
        encode_bmp,
    )

    def payload(seed: int) -> bytes:
        px = bytearray()
        for y in range(BMP_H):
            for x in range(BMP_W):
                v = (x * (37 + seed * 13) + y * (101 + seed * 7)
                     + x * y * (7 + seed)) % 256
                px += bytes((v, v, v))
        return encode_bmp(bytes(px), BMP_W, BMP_H)

    def day_docs(ids_):
        return spark.createDataFrame(
            [(i, "en", 290,
              " ".join(f"u{i}w{j}" for j in range(50))) for i in ids_],
            "doc_id LONG, lang STRING, n_chars LONG, text STRING",
        )

    p_day0 = str(tmp_path / "day0.parquet")
    p_day1 = str(tmp_path / "day1.parquet")
    day_docs([1000]).write.parquet(p_day0)
    day_docs([2000, 2001]).write.parquet(p_day1)
    blobs = str(tmp_path / "blobs.parquet")
    spark.createDataFrame(
        [(2000, payload(0)), (2001, payload(50))],
        "doc_id LONG, blob BINARY",
    ).write.parquet(blobs)
    bench = str(tmp_path / "bench.parquet")
    spark.createDataFrame(
        [(9001, payload(0))], "doc_id LONG, blob BINARY"
    ).write.parquet(bench)

    s = _store_args(tmp_path)
    _run(capsys, ["init-corpus", "--docs", p_day0,
                  "--corpus", s["corpus"]])
    _run(capsys, ["build-index", "--docs", p_day0,
                  "--sig", s["sig"], "--key", s["key"]])
    r = _run(capsys, _inc_argv(s, p_day1, "day1") + [
        "--image-blobs", blobs, "--image-benchmark", bench,
    ])
    assert r["kept"] == 1  # 2000's image matches the benchmark
    kept = {
        x["doc_id"] for x in spark.read.parquet(s["out"]).collect()
    }
    assert kept == {2001}


def test_cli_full_langid_fill_flag(spark, tmp_path, capsys):
    """`full --langid-fill` plumbs through to curate_training_data: on a
    corpus whose lang column has NULLs, the flag rescues docs the
    language allowlist would otherwise drop (round 16, VERDICT r15 #1).
    Uses the marked frame so predictions are meaningful (the raw
    fixture's text is language-agnostic — see test_langid.py)."""
    from pyspark.sql import functions as F

    from data_pipeline_team5_spark.plans.text_family import (
        _langid_marked_frame,
    )
    from tests.conftest import SF_SMALL

    nulled = _langid_marked_frame(spark, SF_SMALL).withColumn(
        "lang",
        F.when(F.col("doc_id") % 5 == 0, F.lit(None)).otherwise(
            F.col("lang")
        ),
    )
    docs_path = str(tmp_path / "nulled.parquet")
    nulled.write.parquet(docs_path)
    out_a = str(tmp_path / "full_a")
    out_b = str(tmp_path / "full_b")
    a = _run(capsys, ["full", "--docs", docs_path, "--out", out_a])
    b = _run(
        capsys,
        ["full", "--docs", docs_path, "--out", out_b, "--langid-fill"],
    )
    assert b["kept"] > a["kept"]  # the fill rescues NULL-lang docs
    filled_ids = {
        r["doc_id"]
        for r in spark.read.parquet(out_b).select("doc_id").collect()
    }
    assert any(d % 5 == 0 for d in filled_ids)


def test_fold_manifest_persists_drift_evidence(spark, tmp_path, capsys):
    """round 16 (VERDICT r15 #7): every folded day writes
    <out>/_manifest/<fold>.json — kept count plus, when a frozen model
    rides along, the per-signal drift TV and the hot list — so a
    drifting week is visible in the artifact trail. Tripped path: the
    md5-permuted day must land in the manifest with a non-empty hot
    list; replaying the fold overwrites its row idempotently."""
    docs, paths = _days(spark, tmp_path)
    ref_path = str(tmp_path / "ref.parquet")
    docs.filter(F.col("doc_id") % 7 == 0).write.parquet(ref_path)
    mpath = str(tmp_path / "qm.json")
    _run(capsys, [
        "full", "--docs", paths["day0"],
        "--out", str(tmp_path / "full_out"),
        "--quality-reference", ref_path,
        "--quality-filter", "both",
        "--quality-model-out", mpath,
    ])
    s = _store_args(tmp_path)
    _run(capsys, ["init-corpus", "--docs", paths["day0"],
                  "--corpus", s["corpus"]])
    _run(capsys, ["build-index", "--docs", s["corpus"],
                  "--sig", s["sig"], "--key", s["key"]])

    # quiet day: manifest row exists, drift recorded, hot empty
    out1 = _run(capsys, _inc_argv(s, paths["day1"], "day1")
                + ["--quality-model", mpath])
    mf = os.path.join(s["out"], "_manifest", "day1.json")
    assert os.path.isfile(mf)
    row = json.load(open(mf))
    assert row["fold"] == "day1"
    assert row["kept"] == out1["kept"]
    assert set(row["quality_drift_tv"]) == {"classifier_logit", "lm_bits"}
    assert row["quality_drift_hot"] == []

    # shifted day: permuted tokens must trip the guard INTO the manifest
    from data_pipeline_team5_spark.operators.quality import (
        _perm_tokens_sql,
    )

    shifted = spark.read.parquet(paths["day2"]).withColumn(
        "text",
        F.array_join(F.expr(_perm_tokens_sql("split(text, ' ')")), " "),
    )
    p_shift = str(tmp_path / "shifted.parquet")
    shifted.write.parquet(p_shift)
    _run(capsys, _inc_argv(s, p_shift, "day2")
         + ["--quality-model", mpath])
    row2 = json.load(open(os.path.join(s["out"], "_manifest",
                                       "day2.json")))
    assert row2["quality_drift_hot"], row2
    # replay converges: same fold id overwrites, no duplicate trail
    _run(capsys, _inc_argv(s, p_shift, "day2")
         + ["--quality-model", mpath])
    files = sorted(os.listdir(os.path.join(s["out"], "_manifest")))
    assert files == ["day1.json", "day2.json"]
    assert json.load(open(os.path.join(
        s["out"], "_manifest", "day2.json"))) == row2


def test_stream_writes_fold_manifest(spark, tmp_path, capsys):
    """The stream loop writes the SAME durable manifest per micro-batch
    (s0, s1, …) — drift evidence included when a frozen model rides."""
    docs, paths = _days(spark, tmp_path)
    ref_path = str(tmp_path / "ref.parquet")
    docs.filter(F.col("doc_id") % 7 == 0).write.parquet(ref_path)
    mpath = str(tmp_path / "qm.json")
    _run(capsys, [
        "full", "--docs", paths["day0"],
        "--out", str(tmp_path / "full_out"),
        "--quality-reference", ref_path,
        "--quality-filter", "both",
        "--quality-model-out", mpath,
    ])
    s = _store_args(tmp_path)
    _run(capsys, ["init-corpus", "--docs", paths["day0"],
                  "--corpus", s["corpus"]])
    _run(capsys, ["build-index", "--docs", s["corpus"],
                  "--sig", s["sig"], "--key", s["key"]])
    arrivals = tmp_path / "arrivals"
    arrivals.mkdir()
    for day in ("day1", "day2"):
        df = spark.read.parquet(paths[day])
        df.coalesce(1).write.parquet(str(tmp_path / f"mstage_{day}"))
        part = next(
            p for p in (tmp_path / f"mstage_{day}").iterdir()
            if p.name.endswith(".parquet")
        )
        part.rename(arrivals / f"{day}.parquet")
    arrivals = str(arrivals)
    res = _run(capsys, [
        "stream", "--arrivals", arrivals, "--corpus", s["corpus"],
        "--sig", s["sig"], "--key", s["key"], "--out", s["out"],
        "--checkpoint", str(tmp_path / "ckpt"),
        "--quality-model", mpath,
    ])
    mdir = os.path.join(s["out"], "_manifest")
    files = sorted(os.listdir(mdir))
    assert files == [f"{b}.json" for b in sorted(res["batches"])]
    for f in files:
        row = json.load(open(os.path.join(mdir, f)))
        assert row["kept"] >= 0
        assert set(row["quality_drift_tv"]) == {
            "classifier_logit", "lm_bits"
        }


def test_cli_frozen_langid_model_daily_loop(spark, tmp_path, capsys):
    """round 16: the frozen langid hand-off — `full --langid-fill
    --langid-model-out` persists the models, and `incremental
    --langid-model` fills a daily batch's NULL langs under the FULL
    run's models (never a per-batch refit), rescuing docs the allowlist
    would drop. Also guards the flag dependency at parse time."""
    from data_pipeline_team5_spark.plans.text_family import (
        _langid_marked_frame,
    )
    from tests.conftest import SF_SMALL

    marked = _langid_marked_frame(spark, SF_SMALL).select(*COLS)
    paths = {}
    for name, rem in (("day0", 1), ("day1", 0)):
        p = str(tmp_path / f"{name}.parquet")
        marked.filter(F.col("doc_id") % 4 == rem).write.parquet(p)
        paths[name] = p
    mpath = str(tmp_path / "langid.json")
    _run(capsys, [
        "full", "--docs", paths["day0"],
        "--out", str(tmp_path / "full_out"),
        "--langid-fill", "--langid-model-out", mpath,
    ])
    assert os.path.isfile(mpath)

    s = _store_args(tmp_path)
    _run(capsys, ["init-corpus", "--docs", paths["day0"],
                  "--corpus", s["corpus"]])
    _run(capsys, ["build-index", "--docs", s["corpus"],
                  "--sig", s["sig"], "--key", s["key"]])
    # daily batch with NULL langs on a deterministic slice
    nulled = spark.read.parquet(paths["day1"]).withColumn(
        "lang",
        F.when(F.col("doc_id") % 5 == 0, F.lit(None)).otherwise(
            F.col("lang")
        ),
    )
    p_null = str(tmp_path / "nulled_day1.parquet")
    nulled.write.parquet(p_null)
    base = _run(capsys, [
        "incremental", "--new", p_null, "--corpus", s["corpus"],
        "--sig", s["sig"], "--key", s["key"],
        "--out", str(tmp_path / "out_a"),
    ])
    filled = _run(capsys, [
        "incremental", "--new", p_null, "--corpus", s["corpus"],
        "--sig", s["sig"], "--key", s["key"],
        "--out", str(tmp_path / "out_b"), "--langid-model", mpath,
    ])
    assert filled["kept"] > base["kept"]
    rescued = {
        r["doc_id"]
        for r in spark.read.parquet(str(tmp_path / "out_b")).collect()
    }
    assert any(d % 5 == 0 for d in rescued)

    # parse-time guard: model-out without the fill stage is an error
    with pytest.raises(SystemExit):
        main(["full", "--docs", paths["day0"],
              "--out", str(tmp_path / "x"),
              "--langid-model-out", str(tmp_path / "y.json")])


def test_cli_langid_drift_guard_tripped_and_quiet(spark, tmp_path, capsys):
    """round 17 (VERDICT r16 #2): the frozen langid model now carries
    its fill-time predicted-lang snapshot, and every fold's manifest
    records the batch's lang mixture + TV against it — a batch with
    the SAME mixture as the full run stays quiet (TV 0.0 by
    construction), a single-language batch trips the hot flag, and
    `manifest --hot-only` surfaces exactly the tripped fold."""
    from data_pipeline_team5_spark.operators.langid import (
        load_langid_model,
    )
    from data_pipeline_team5_spark.plans.text_family import (
        _langid_marked_frame,
    )
    from tests.conftest import SF_SMALL

    marked = _langid_marked_frame(spark, SF_SMALL).select(*COLS)
    # full-run input: a deterministic NULL-lang slice spread over all
    # fixture languages — the snapshot the daily loop compares against
    full_in = marked.withColumn(
        "lang",
        F.when(F.col("doc_id") % 5 == 0, F.lit(None)).otherwise(
            F.col("lang")
        ),
    )
    p_full = str(tmp_path / "full_docs.parquet")
    full_in.write.parquet(p_full)
    mpath = str(tmp_path / "langid.json")
    _run(capsys, [
        "full", "--docs", p_full, "--out", str(tmp_path / "full_out"),
        "--langid-fill", "--langid-model-out", mpath,
    ])
    _models, _prov, hist = load_langid_model(mpath)
    assert hist is not None and hist["predicted_lang_counts"]
    assert sum(hist["predicted_lang_counts"].values()) > 0

    s = _store_args(tmp_path)
    _run(capsys, ["init-corpus", "--docs", p_full,
                  "--corpus", s["corpus"]])
    _run(capsys, ["build-index", "--docs", p_full,
                  "--sig", s["sig"], "--key", s["key"]])

    # QUIET fold: the identical document set → identical predictions →
    # TV exactly 0.0 (everything exact-dups away, but the probe runs on
    # the pre-filter batch — the mixture row exists even for kept=0)
    _run(capsys, _inc_argv(s, p_full, "quietday") + [
        "--langid-model", mpath,
    ])
    mf_quiet = json.load(open(
        os.path.join(s["out"], "_manifest", "quietday.json")
    ))
    assert mf_quiet["langid_drift_tv"] == 0.0
    assert mf_quiet["langid_drift_hot"] is False
    assert mf_quiet["langid_mixture"]["predicted_lang_counts"] == (
        hist["predicted_lang_counts"]
    )

    # TRIPPED fold: every doc NULL-lang and drawn from ONE language —
    # the predicted mixture collapses to a point mass, far from the
    # spread snapshot
    one_lang = marked.filter(F.col("lang") == "en").withColumn(
        "lang", F.lit(None).cast("string")
    ).withColumn("doc_id", F.col("doc_id") + 1000000)
    p_one = str(tmp_path / "one_lang.parquet")
    one_lang.write.parquet(p_one)
    _run(capsys, _inc_argv(s, p_one, "hotday") + [
        "--langid-model", mpath,
    ])
    mf_hot = json.load(open(
        os.path.join(s["out"], "_manifest", "hotday.json")
    ))
    assert mf_hot["langid_drift_tv"] > 0.25
    assert mf_hot["langid_drift_hot"] is True

    # the manifest hot view surfaces exactly the tripped fold
    view = _run(capsys, ["manifest", "--out", s["out"], "--hot-only"])
    assert view["hot_folds"] == ["hotday"]
    assert [r["fold"] for r in view["rows"]] == ["hotday"]


def test_cli_frozen_bpe_merges_lifecycle(spark, tmp_path, capsys):
    """round 17 (VERDICT r16 #3): the frozen BPE hand-off — `full
    --bpe-fit --bpe-merges-out` fits the merge table, sizes the run's
    own bins with the LEARNED counter, and persists the table; a daily
    `incremental --bpe-merges` sizes its batch under the FULL run's
    vocabulary. Learned n_tok >= the heuristic pretoken count by
    construction, with a strict increase somewhere; the parse guard
    rejects --bpe-merges-out without --bpe-fit."""
    from data_pipeline_team5_spark.operators.subword import (
        load_bpe_merges,
    )
    from data_pipeline_team5_spark.operators.textops import (
        bpe_token_count,
    )

    docs, paths = _days(spark, tmp_path)
    mpath = str(tmp_path / "bpe.json")
    out_full = str(tmp_path / "full_out")
    _run(capsys, [
        "full", "--docs", paths["day0"], "--out", out_full,
        "--bpe-fit", "--bpe-merges-out", mpath,
    ])
    merges, prov = load_bpe_merges(mpath)
    assert merges and prov["corpus_rows"] > 0
    assert prov["cap"] == 96 and prov["n_merges"] == 128

    # the full run's emitted n_tok is the learned count: >= the
    # pretoken heuristic everywhere, > somewhere
    full_rows = spark.read.parquet(out_full).collect()
    heur = {
        r["doc_id"]: r["n"]
        for r in spark.read.parquet(paths["day0"])
        .select("doc_id", bpe_token_count("text").alias("n"))
        .collect()
    }
    assert all(r["n_tok"] >= heur[r["doc_id"]] for r in full_rows)
    assert any(r["n_tok"] > heur[r["doc_id"]] for r in full_rows)

    # daily loop under the frozen table
    s = _store_args(tmp_path)
    _run(capsys, ["init-corpus", "--docs", paths["day0"],
                  "--corpus", s["corpus"]])
    _run(capsys, ["build-index", "--docs", paths["day0"],
                  "--sig", s["sig"], "--key", s["key"]])
    _run(capsys, _inc_argv(s, paths["day1"], "day1") + [
        "--bpe-merges", mpath,
    ])
    inc_rows = spark.read.parquet(s["out"]).filter(
        F.col("batch_id") == "day1"
    ).collect()
    heur1 = {
        r["doc_id"]: r["n"]
        for r in spark.read.parquet(paths["day1"])
        .select("doc_id", bpe_token_count("text").alias("n"))
        .collect()
    }
    assert inc_rows
    assert all(r["n_tok"] >= heur1[r["doc_id"]] for r in inc_rows)

    with pytest.raises(SystemExit):
        main(["full", "--docs", paths["day0"],
              "--out", str(tmp_path / "x"),
              "--bpe-merges-out", str(tmp_path / "y.json")])

    # datacard embeds the frozen-vocabulary evidence (round 17): fit
    # provenance + the corpus-level budget delta, learned >= heuristic
    card_out = str(tmp_path / "card.json")
    _run(capsys, [
        "datacard", "--dir", SF_SMALL, "--out", card_out,
        "--bpe-merges", mpath,
    ])
    bv = json.loads(open(card_out).read())["sections"]["bpe_vocab"]
    assert bv["n_merges"] == len(merges)
    assert bv["provenance"]["corpus_rows"] == prov["corpus_rows"]
    assert bv["tokens_learned"] >= bv["tokens_heuristic"] > 0
    assert bv["budget_delta"] == (
        bv["tokens_learned"] - bv["tokens_heuristic"]
    )


def test_cli_manifest_subcommand(tmp_path, capsys):
    """`curate manifest` aggregates the fold trail without a Spark
    session: all rows in fold order, hot folds surfaced, --hot-only
    filters; an absent _manifest dir is an empty trail, not an error."""
    out_root = tmp_path / "assignments"
    mdir = out_root / "_manifest"
    mdir.mkdir(parents=True)
    rows = {
        "day1": {"fold": "day1", "kept": 10,
                 "quality_drift_tv": {"lm_bits": 0.1},
                 "quality_drift_hot": []},
        "day2": {"fold": "day2", "kept": 7,
                 "quality_drift_tv": {"lm_bits": 0.6},
                 "quality_drift_hot": ["lm_bits"]},
    }
    for fold, row in rows.items():
        (mdir / f"{fold}.json").write_text(json.dumps(row))
    r = _run(capsys, ["manifest", "--out", str(out_root)])
    assert r["folds"] == 2
    assert r["hot_folds"] == ["day2"]
    assert [x["fold"] for x in r["rows"]] == ["day1", "day2"]
    r2 = _run(capsys, ["manifest", "--out", str(out_root), "--hot-only"])
    assert [x["fold"] for x in r2["rows"]] == ["day2"]
    r3 = _run(capsys, ["manifest", "--out", str(tmp_path / "nope")])
    assert r3["folds"] == 0 and r3["rows"] == []


def test_cli_audio_dedup_daily_loop(spark, tmp_path, capsys):
    """round 16: the CLI loop with AUDIO — build-index --audio-blobs
    --audio-index hashes the corpus's WAVs once; incremental
    --audio-blobs --audio-index drops a new doc whose audio duplicates
    a retained one, folds the survivors' hashes, and the next day
    probes the FOLDED hashes; a replayed day converges bitwise. The
    image loop's contract, third modality, same machinery."""
    from data_pipeline_team5_spark.operators.multimodal import (
        WAV_SAMPLES,
        encode_wav,
    )

    def payload(seed: int) -> bytes:
        # PRNG word stream: same-length TEMPLATES with different digits
        # hash identically (the envelope sees |sample| magnitudes, and
        # digit swaps barely move them) — these streams are pairwise
        # 20-35 dHash bits apart (measured), so only intended dups match
        words = []
        x = seed * 2654435761 % (2**32)
        for _ in range(40):
            x = (x * 1103515245 + 12345 + seed) % (2**31)
            words.append(f"w{x % 99991}")
        b = " ".join(words).encode()
        n = WAV_SAMPLES * 2
        return encode_wav((b * (n // len(b) + 1))[:n])

    def day_docs(ids_):
        return spark.createDataFrame(
            [(i, "en", 290,
              " ".join(f"u{i}w{j}" for j in range(50))) for i in ids_],
            "doc_id LONG, lang STRING, n_chars LONG, text STRING",
        )

    ids = {"day0": [1000, 1001], "day1": [2000, 2001],
           "day2": [3000, 3001]}
    paths = {}
    for name, ids_ in ids.items():
        p = str(tmp_path / f"{name}.parquet")
        day_docs(ids_).write.parquet(p)
        paths[name] = p
    blob_rows = (
        [(d, payload(i)) for i, d in enumerate(ids["day0"])]
        + [(ids["day1"][0], payload(0)), (ids["day1"][1], payload(50))]
        + [(ids["day2"][0], payload(50)), (ids["day2"][1], payload(60))]
    )
    all_blobs = spark.createDataFrame(
        blob_rows, "doc_id LONG, blob BINARY"
    )
    blobs = str(tmp_path / "ablobs.parquet")
    all_blobs.write.parquet(blobs)
    blobs0 = str(tmp_path / "ablobs_day0.parquet")
    all_blobs.filter(F.col("doc_id") < 2000).write.parquet(blobs0)

    s = _store_args(tmp_path)
    ah = str(tmp_path / "ahash")
    _run(capsys, ["init-corpus", "--docs", paths["day0"],
                  "--corpus", s["corpus"]])
    _run(capsys, ["build-index", "--docs", paths["day0"],
                  "--sig", s["sig"], "--key", s["key"],
                  "--audio-blobs", blobs0, "--audio-index", ah])

    def inc(day):
        return _run(capsys, _inc_argv(s, paths[day], day) + [
            "--audio-blobs", blobs, "--audio-index", ah,
        ])

    inc("day1")
    kept1 = {
        r["doc_id"]
        for r in spark.read.parquet(s["out"])
        .filter(F.col("batch_id") == "day1").collect()
    }
    assert ids["day1"][0] not in kept1  # audio dup of retained day0
    assert ids["day1"][1] in kept1      # fresh audio survives

    inc("day2")
    kept2 = {
        r["doc_id"]
        for r in spark.read.parquet(s["out"])
        .filter(F.col("batch_id") == "day2").collect()
    }
    assert ids["day2"][0] not in kept2  # dup of day1's FOLDED audio
    assert ids["day2"][1] in kept2

    # replay day2: bitwise-idempotent
    before = sorted(map(tuple, spark.read.parquet(s["out"]).collect()))
    idx_before = sorted(map(tuple, spark.read.parquet(ah).collect()))
    inc("day2")
    assert sorted(
        map(tuple, spark.read.parquet(s["out"]).collect())
    ) == before
    assert sorted(
        map(tuple, spark.read.parquet(ah).collect())
    ) == idx_before

    # parse guard: --audio-blobs without --audio-index
    with pytest.raises(SystemExit):
        main(["incremental", "--new", paths["day1"],
              "--corpus", s["corpus"], "--sig", s["sig"],
              "--key", s["key"], "--out", s["out"],
              "--audio-blobs", blobs])


def _video_payload(seed: int) -> bytes:
    """Deterministic video container from a PRNG word stream (the audio
    test's generator, tiled into 4 BMP frames) — distinct seeds measure
    pairwise ≥ 16 temporal-dHash bits apart, so only intended
    (same-seed) dups match at the Hamming-6 threshold."""
    from data_pipeline_team5_spark.operators.multimodal import (
        BMP_H,
        BMP_W,
        VIDEO_FRAMES,
        encode_bmp,
        encode_video,
    )

    words = []
    x = seed * 2654435761 % (2**32)
    for _ in range(40):
        x = (x * 1103515245 + 12345 + seed) % (2**31)
        words.append(f"w{x % 99991}")
    b = " ".join(words).encode()
    n = BMP_W * BMP_H * 3
    total = n * VIDEO_FRAMES
    body = (b * (total // len(b) + 1))[:total]
    return encode_video(
        [
            encode_bmp(body[i * n : (i + 1) * n], BMP_W, BMP_H)
            for i in range(VIDEO_FRAMES)
        ]
    )


def test_cli_video_dedup_daily_loop(spark, tmp_path, capsys):
    """round 17: the CLI loop with VIDEO — build-index --video-blobs
    --video-index hashes the corpus's containers once; incremental
    --video-blobs --video-index drops a new doc whose video duplicates
    a retained one, folds the survivors' hashes, and the next day
    probes the FOLDED hashes; a replayed day converges bitwise. The
    image/audio loops' contract, third modality, same machinery."""

    def day_docs(ids_):
        return spark.createDataFrame(
            [(i, "en", 290,
              " ".join(f"u{i}w{j}" for j in range(50))) for i in ids_],
            "doc_id LONG, lang STRING, n_chars LONG, text STRING",
        )

    ids = {"day0": [1000, 1001], "day1": [2000, 2001],
           "day2": [3000, 3001]}
    paths = {}
    for name, ids_ in ids.items():
        p = str(tmp_path / f"{name}.parquet")
        day_docs(ids_).write.parquet(p)
        paths[name] = p
    blob_rows = (
        [(d, _video_payload(i)) for i, d in enumerate(ids["day0"])]
        + [(ids["day1"][0], _video_payload(0)),
           (ids["day1"][1], _video_payload(50))]
        + [(ids["day2"][0], _video_payload(50)),
           (ids["day2"][1], _video_payload(60))]
    )
    all_blobs = spark.createDataFrame(
        blob_rows, "doc_id LONG, blob BINARY"
    )
    blobs = str(tmp_path / "vblobs.parquet")
    all_blobs.write.parquet(blobs)
    blobs0 = str(tmp_path / "vblobs_day0.parquet")
    all_blobs.filter(F.col("doc_id") < 2000).write.parquet(blobs0)

    s = _store_args(tmp_path)
    vh = str(tmp_path / "vhash")
    _run(capsys, ["init-corpus", "--docs", paths["day0"],
                  "--corpus", s["corpus"]])
    _run(capsys, ["build-index", "--docs", paths["day0"],
                  "--sig", s["sig"], "--key", s["key"],
                  "--video-blobs", blobs0, "--video-index", vh])

    def inc(day):
        return _run(capsys, _inc_argv(s, paths[day], day) + [
            "--video-blobs", blobs, "--video-index", vh,
        ])

    inc("day1")
    kept1 = {
        r["doc_id"]
        for r in spark.read.parquet(s["out"])
        .filter(F.col("batch_id") == "day1").collect()
    }
    assert ids["day1"][0] not in kept1  # video dup of retained day0
    assert ids["day1"][1] in kept1      # fresh video survives

    inc("day2")
    kept2 = {
        r["doc_id"]
        for r in spark.read.parquet(s["out"])
        .filter(F.col("batch_id") == "day2").collect()
    }
    assert ids["day2"][0] not in kept2  # dup of day1's FOLDED video
    assert ids["day2"][1] in kept2

    # replay day2: bitwise-idempotent
    before = sorted(map(tuple, spark.read.parquet(s["out"]).collect()))
    idx_before = sorted(map(tuple, spark.read.parquet(vh).collect()))
    inc("day2")
    assert sorted(
        map(tuple, spark.read.parquet(s["out"]).collect())
    ) == before
    assert sorted(
        map(tuple, spark.read.parquet(vh).collect())
    ) == idx_before

    # parse guards: --video-blobs with neither companion; build-index
    # half-pairs
    with pytest.raises(SystemExit):
        main(["incremental", "--new", paths["day1"],
              "--corpus", s["corpus"], "--sig", s["sig"],
              "--key", s["key"], "--out", s["out"],
              "--video-blobs", blobs])
    with pytest.raises(SystemExit):
        main(["build-index", "--docs", paths["day0"],
              "--sig", s["sig"], "--key", s["key"],
              "--video-blobs", blobs0])


def test_cli_video_benchmark_decon_only(spark, tmp_path, capsys):
    """round 17: `incremental --video-blobs --video-benchmark` without
    an index is the decon-only daily form — benchmark-matching video
    drops, everything else passes (the audio decon-only contract on
    the third modality)."""

    def day_docs(ids_):
        return spark.createDataFrame(
            [(i, "en", 290,
              " ".join(f"u{i}w{j}" for j in range(50))) for i in ids_],
            "doc_id LONG, lang STRING, n_chars LONG, text STRING",
        )

    new_ids = [2000, 2001]
    new_p = str(tmp_path / "new.parquet")
    day_docs(new_ids).write.parquet(new_p)
    corpus_p = str(tmp_path / "corpus.parquet")
    day_docs([1000]).write.parquet(corpus_p)
    blobs_p = str(tmp_path / "vblobs.parquet")
    spark.createDataFrame(
        [(2000, _video_payload(7)), (2001, _video_payload(8))],
        "doc_id LONG, blob BINARY",
    ).write.parquet(blobs_p)
    bench_p = str(tmp_path / "vbench.parquet")
    spark.createDataFrame(
        [(900001, _video_payload(7))], "doc_id LONG, blob BINARY"
    ).write.parquet(bench_p)

    out = str(tmp_path / "out")
    sig = str(tmp_path / "sig")
    key = str(tmp_path / "key")
    _run(capsys, ["build-index", "--docs", corpus_p,
                  "--sig", sig, "--key", key])
    summary = _run(capsys, [
        "incremental", "--new", new_p, "--corpus", corpus_p,
        "--sig", sig, "--key", key, "--out", out,
        "--video-blobs", blobs_p, "--video-benchmark", bench_p,
    ])
    kept = {r["doc_id"] for r in spark.read.parquet(out).collect()}
    assert 2000 not in kept  # video matches the benchmark clip
    assert 2001 in kept
    assert summary["kept"] == 1


def test_cli_three_modality_full_and_fold(spark, tmp_path, capsys):
    """Round 17 (VERDICT r16 #5): the modality legs are individually
    tested, but the shared-decode / pinned-hash-table interactions
    (pipeline.py stages 1a-*/3b-d) deserve ONE run that exercises all
    of them in one plan. A daily `incremental --fold-batch-id` carries
    text decontamination + image + audio + VIDEO blobs, all three
    modality benchmarks, and all three stored hash indexes at once;
    every day-1 doc is constructed to drop through exactly one
    modality rule (texts pairwise dissimilar and filter-passing, blob
    payloads pairwise distant except the constructed collisions), so
    the kept set IS the per-modality drop attribution. The fold then
    grows all SIX stores together and writes one manifest row."""
    from data_pipeline_team5_spark.operators.multimodal import (
        BMP_H,
        BMP_W,
        WAV_SAMPLES,
        encode_bmp,
        encode_wav,
    )

    def img(seed: int) -> bytes:
        px = bytearray()
        for y in range(BMP_H):
            for x in range(BMP_W):
                v = (x * (37 + seed * 13) + y * (101 + seed * 7)
                     + x * y * (7 + seed)) % 256
                px += bytes((v, v, v))
        return encode_bmp(bytes(px), BMP_W, BMP_H)

    def aud(seed: int) -> bytes:
        words = []
        x = seed * 2654435761 % (2**32)
        for _ in range(40):
            x = (x * 1103515245 + 12345 + seed) % (2**31)
            words.append(f"w{x % 99991}")
        b = " ".join(words).encode()
        n = WAV_SAMPLES * 2
        return encode_wav((b * (n // len(b) + 1))[:n])

    def day_docs(ids_):
        return spark.createDataFrame(
            [(i, "en", 290,
              " ".join(f"u{i}w{j}" for j in range(50))) for i in ids_],
            "doc_id LONG, lang STRING, n_chars LONG, text STRING",
        )

    day0 = [1000, 1001]
    day1 = [2000, 2001, 2002, 2003, 2004, 2005, 2006, 2007]
    p0 = str(tmp_path / "day0.parquet")
    day_docs(day0).write.parquet(p0)
    p1 = str(tmp_path / "day1.parquet")
    day_docs(day1).write.parquet(p1)

    # per-modality seeds: day0 docs get seeds 0/1; day-1 collisions
    # reuse them (index probes) or the benchmark seeds 90-92 (decon)
    def seeds(doc):
        return {
            1000: (0, 10, 20), 1001: (1, 11, 21),
            2000: (0, 50, 60),   # image dup of retained 1000
            2001: (40, 11, 61),  # audio dup of retained 1001
            2002: (41, 51, 20),  # video dup of retained 1000
            2003: (42, 52, 62),  # text-decon drop (benchmark 5-grams)
            2004: (90, 53, 63),  # image decon (benchmark image)
            2005: (43, 91, 64),  # audio decon (benchmark clip)
            2006: (44, 54, 92),  # video decon (benchmark clip)
            2007: (45, 55, 65),  # the survivor
        }[doc]

    all_ids = day0 + day1
    iblobs = str(tmp_path / "iblobs.parquet")
    spark.createDataFrame(
        [(d, img(seeds(d)[0])) for d in all_ids],
        "doc_id LONG, blob BINARY",
    ).write.parquet(iblobs)
    ablobs = str(tmp_path / "ablobs.parquet")
    spark.createDataFrame(
        [(d, aud(seeds(d)[1])) for d in all_ids],
        "doc_id LONG, blob BINARY",
    ).write.parquet(ablobs)
    vblobs = str(tmp_path / "vblobs.parquet")
    spark.createDataFrame(
        [(d, _video_payload(seeds(d)[2])) for d in all_ids],
        "doc_id LONG, blob BINARY",
    ).write.parquet(vblobs)
    # day-0 slices for the index build
    for src, dst in ((iblobs, "iblobs0"), (ablobs, "ablobs0"),
                     (vblobs, "vblobs0")):
        spark.read.parquet(src).filter(F.col("doc_id") < 2000) \
            .write.parquet(str(tmp_path / f"{dst}.parquet"))

    tbench = str(tmp_path / "tbench.parquet")
    day_docs([900000]).withColumn(
        "text",
        F.lit(" ".join(f"u2003w{j}" for j in range(50))),
    ).write.parquet(tbench)
    ibench = str(tmp_path / "ibench.parquet")
    spark.createDataFrame(
        [(900001, img(90))], "doc_id LONG, blob BINARY"
    ).write.parquet(ibench)
    abench = str(tmp_path / "abench.parquet")
    spark.createDataFrame(
        [(900002, aud(91))], "doc_id LONG, blob BINARY"
    ).write.parquet(abench)
    vbench = str(tmp_path / "vbench.parquet")
    spark.createDataFrame(
        [(900003, _video_payload(92))], "doc_id LONG, blob BINARY"
    ).write.parquet(vbench)

    s = _store_args(tmp_path)
    ih = str(tmp_path / "ihash")
    ah = str(tmp_path / "ahash")
    vh = str(tmp_path / "vhash")
    _run(capsys, ["init-corpus", "--docs", p0, "--corpus", s["corpus"]])
    built = _run(capsys, [
        "build-index", "--docs", p0, "--sig", s["sig"],
        "--key", s["key"],
        "--image-blobs", str(tmp_path / "iblobs0.parquet"),
        "--perceptual", ih,
        "--audio-blobs", str(tmp_path / "ablobs0.parquet"),
        "--audio-index", ah,
        "--video-blobs", str(tmp_path / "vblobs0.parquet"),
        "--video-index", vh,
    ])
    # every modality index path is reported
    assert (built["perceptual"], built["audio_index"],
            built["video_index"]) == (ih, ah, vh)
    # the stream leg below folds the same day into a copy of the day-0
    # stores
    import shutil

    stores = {"corpus": s["corpus"], "sig": s["sig"], "key": s["key"],
              "ihash": ih, "ahash": ah, "vhash": vh}
    st = {k: str(tmp_path / f"st_{k}") for k in stores}
    for k, root in stores.items():
        shutil.copytree(root, st[k])
    modality_args = [
        "--benchmark", tbench,
        "--image-blobs", iblobs, "--image-benchmark", ibench,
        "--audio-blobs", ablobs, "--audio-benchmark", abench,
        "--video-blobs", vblobs, "--video-benchmark", vbench,
    ]
    summary = _run(capsys, _inc_argv(s, p1, "day1") + modality_args + [
        "--perceptual-index", ih, "--audio-index", ah, "--video-index", vh,
    ])
    kept = {
        r["doc_id"]
        for r in spark.read.parquet(s["out"])
        .filter(F.col("batch_id") == "day1").collect()
    }
    # per-modality drop attribution, by construction:
    assert 2000 not in kept   # image dup of the retained corpus
    assert 2001 not in kept   # audio dup of the retained corpus
    assert 2002 not in kept   # video dup of the retained corpus
    assert 2003 not in kept   # text 5-gram decontamination
    assert 2004 not in kept   # image-grain decontamination
    assert 2005 not in kept   # audio-grain decontamination
    assert 2006 not in kept   # video-grain decontamination
    assert kept == {2007}     # exactly the constructed survivor
    assert summary["kept"] == 1

    # the fold grew ALL SIX stores together for the surviving doc
    for store in (s["sig"], s["key"], ih, ah, vh, s["corpus"]):
        part = spark.read.parquet(store).filter(
            F.col("batch_id") == "day1"
        )
        assert part.count() >= 1, store
    for idx in (ih, ah, vh):
        folded = {
            r["doc_id"]
            for r in spark.read.parquet(idx)
            .filter(F.col("batch_id") == "day1").collect()
        }
        assert folded == {2007}, idx

    # one manifest row carries the fold
    mf = json.load(open(
        os.path.join(s["out"], "_manifest", "day1.json")
    ))
    assert mf["fold"] == "day1" and mf["kept"] == 1

    # `stream` runs the same fold body: the same day-1 file as one
    # micro-batch against the copied day-0 stores lands the same
    # assignments, the same six stores and the same manifest row, up to
    # the fold's name (s0 instead of day1)
    stage = str(tmp_path / "st_stage")
    spark.read.parquet(p1).coalesce(1).write.parquet(stage)
    arrivals = tmp_path / "st_arrivals"
    arrivals.mkdir()
    part = next(f for f in os.listdir(stage) if f.endswith(".parquet"))
    shutil.copy(os.path.join(stage, part), arrivals / "day1.parquet")
    st_out = str(tmp_path / "st_out")
    res = _run(capsys, [
        "stream", "--arrivals", str(arrivals), "--corpus", st["corpus"],
        "--sig", st["sig"], "--key", st["key"], "--out", st_out,
        "--perceptual-index", st["ihash"], "--audio-index", st["ahash"],
        "--video-index", st["vhash"],
    ] + modality_args)
    assert res["batches"] == ["s0"]

    def rows(root):
        return sorted(
            tuple(r) for r in spark.read.parquet(root).drop("batch_id")
            .collect()
        )

    assert rows(st_out) == rows(s["out"])
    for k, root in stores.items():
        assert rows(st[k]) == rows(root), k
    smf = json.load(open(os.path.join(st_out, "_manifest", "s0.json")))
    assert smf.pop("fold") == "s0"
    mf.pop("fold")
    assert smf == mf


def test_cli_audio_benchmark_decon_only(spark, tmp_path, capsys):
    """round 16: `incremental --audio-blobs --audio-benchmark` without
    an index is the decon-only daily form — benchmark-matching audio
    drops, everything else passes; the guard rejects --audio-blobs with
    neither companion."""
    from data_pipeline_team5_spark.operators.multimodal import (
        WAV_SAMPLES,
        encode_wav,
    )

    def wav(kind):
        b = kind.encode()
        n = WAV_SAMPLES * 2
        return encode_wav((b * (n // len(b) + 1))[:n])

    def day_docs(ids_):
        return spark.createDataFrame(
            [(i, "en", 290,
              " ".join(f"u{i}w{j}" for j in range(50))) for i in ids_],
            "doc_id LONG, lang STRING, n_chars LONG, text STRING",
        )

    s = _store_args(tmp_path)
    day0 = str(tmp_path / "day0.parquet")
    day_docs([1000]).write.parquet(day0)
    _run(capsys, ["init-corpus", "--docs", day0, "--corpus", s["corpus"]])
    _run(capsys, ["build-index", "--docs", day0,
                  "--sig", s["sig"], "--key", s["key"]])
    new = str(tmp_path / "new.parquet")
    day_docs([2000, 2001]).write.parquet(new)
    blobs = str(tmp_path / "blobs.parquet")
    spark.createDataFrame(
        [(2000, wav("hum alpha")), (2001, wav("drone beta"))],
        "doc_id LONG, blob BINARY",
    ).write.parquet(blobs)
    bench = str(tmp_path / "bench.parquet")
    spark.createDataFrame(
        [(9001, wav("drone beta"))], "doc_id LONG, blob BINARY",
    ).write.parquet(bench)
    r = _run(capsys, [
        "incremental", "--new", new, "--corpus", s["corpus"],
        "--sig", s["sig"], "--key", s["key"],
        "--out", str(tmp_path / "out"),
        "--audio-blobs", blobs, "--audio-benchmark", bench,
    ])
    kept = {
        x["doc_id"]
        for x in spark.read.parquet(str(tmp_path / "out")).collect()
    }
    assert kept == {2000}  # 2001's audio matches the benchmark clip
    with pytest.raises(SystemExit):
        main(["incremental", "--new", new, "--corpus", s["corpus"],
              "--sig", s["sig"], "--key", s["key"],
              "--out", str(tmp_path / "out2"), "--audio-blobs", blobs])


def test_cli_stream_langid_model_fill(spark, tmp_path, capsys):
    """round 16: the stream loop fills each micro-batch's NULL langs
    under the frozen langid model before the allowlist — NULL-lang
    arrivals survive into assignments with a predicted lang."""
    from data_pipeline_team5_spark.plans.text_family import (
        _langid_marked_frame,
    )
    from tests.conftest import SF_SMALL

    marked = _langid_marked_frame(spark, SF_SMALL).select(*COLS)
    day0 = str(tmp_path / "day0.parquet")
    marked.filter(F.col("doc_id") % 4 == 1).write.parquet(day0)
    mpath = str(tmp_path / "langid.json")
    _run(capsys, [
        "full", "--docs", day0, "--out", str(tmp_path / "full_out"),
        "--langid-fill", "--langid-model-out", mpath,
    ])
    s = _store_args(tmp_path)
    _run(capsys, ["init-corpus", "--docs", day0, "--corpus", s["corpus"]])
    _run(capsys, ["build-index", "--docs", s["corpus"],
                  "--sig", s["sig"], "--key", s["key"]])
    nulled = marked.filter(F.col("doc_id") % 4 == 0).withColumn(
        "lang",
        F.when(F.col("doc_id") % 5 == 0, F.lit(None)).otherwise(
            F.col("lang")
        ),
    )
    arrivals = tmp_path / "arrivals"
    arrivals.mkdir()
    nulled.coalesce(1).write.parquet(str(tmp_path / "lstage"))
    part = next(
        p for p in (tmp_path / "lstage").iterdir()
        if p.name.endswith(".parquet")
    )
    part.rename(arrivals / "a0.parquet")
    _run(capsys, [
        "stream", "--arrivals", str(arrivals), "--corpus", s["corpus"],
        "--sig", s["sig"], "--key", s["key"], "--out", s["out"],
        "--checkpoint", str(tmp_path / "ckpt"),
        "--langid-model", mpath,
    ])
    kept = {
        r["doc_id"]: r["lang"]
        for r in spark.read.parquet(s["out"]).collect()
    }
    rescued = [d for d in kept if d % 5 == 0]
    assert rescued  # NULL-lang arrivals survived via the filled lang
    assert all(kept[d] is not None for d in rescued)
    # round 17 (VERDICT r16 #2): the stream loop's fold manifest carries
    # the micro-batch's langid mixture row, same as the daily loop's
    mf = json.load(open(os.path.join(s["out"], "_manifest", "s0.json")))
    assert mf["langid_mixture"]["predicted_lang_counts"]
    assert "langid_drift_tv" in mf and "langid_drift_hot" in mf
    # day0 was fully labeled → the frozen snapshot predicted nothing →
    # TV None (nothing to drift against), quiet
    assert mf["langid_drift_tv"] is None
    assert mf["langid_drift_hot"] is False


def test_datacard_langid_model_section(spark, tmp_path, capsys):
    """round 16: `datacard --langid-model` embeds the frozen langid
    model's fit provenance, its class list, the corpus's language
    counts, and the uncovered-language audit."""
    from data_pipeline_team5_spark.plans.text_family import (
        _langid_marked_frame,
    )
    from tests.conftest import SF_SMALL

    marked = _langid_marked_frame(spark, SF_SMALL).select(*COLS)
    day0 = str(tmp_path / "day0.parquet")
    marked.filter(F.col("doc_id") % 4 == 1).write.parquet(day0)
    mpath = str(tmp_path / "langid.json")
    _run(capsys, [
        "full", "--docs", day0, "--out", str(tmp_path / "full_out"),
        "--langid-fill", "--langid-model-out", mpath,
    ])
    out = str(tmp_path / "card.json")
    _run(capsys, [
        "datacard", "--dir", SF_SMALL, "--out", out,
        "--langid-model", mpath,
    ])
    card = json.loads(open(out).read())
    lm = card["sections"]["langid_model"]
    assert lm["provenance"]["reference_rows"] > 0
    assert lm["provenance"]["scale"] == 64.0
    assert lm["model_langs"] == ["de", "en", "es", "fr", "zh"]
    assert set(lm["corpus_lang_counts"]) == set(lm["model_langs"])
    assert lm["uncovered_langs"] == []  # fixture langs all covered
    # round 17 (VERDICT r16 #2): the card embeds the fill snapshot and
    # this corpus's mixture. day0 has no NULL langs, so the snapshot
    # predicted nothing → TV is None (nothing to drift), never a crash
    assert lm["fill_hist"]["predicted_lang_counts"] == {}
    assert lm["fill_mixture_tv"] is None
    assert lm["fill_mixture_hot"] is False
    assert lm["corpus_fill_mixture"]["total"] > 0
