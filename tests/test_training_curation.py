"""pipeline.curate_training_data — the composed end-to-end curation run.

Each stage is oracle/guard-tested on its own; these tests pin the
COMPOSITION: survivors really satisfy every filter, no exact or near dup
pair survives, splits/bins behave, and the whole plan is deterministic.
"""

from __future__ import annotations

from pyspark.sql import functions as F

from data_pipeline_team5_spark.functions.scalars import norm_text
from data_pipeline_team5_spark.operators.dedup import (
    doc_shingles,
    jaccard_pairs,
)
from data_pipeline_team5_spark.operators.textops import (
    quality_exprs,
    tokens_expr,
)
from data_pipeline_team5_spark.pipeline import curate_training_data
from data_pipeline_team5_spark.plans.catalog import table
from data_pipeline_team5_spark.plans.text_family import (
    _KEEP_LANGS,
    _LEN_HI,
    _LEN_LO,
    _MIN_QUALITY,
)
from tests.conftest import SF_SMALL

THRESH = 0.6


def _run(spark):
    docs = table(spark, SF_SMALL, "documents")
    return docs, curate_training_data(docs, neardup_threshold=THRESH)


def test_survivors_satisfy_every_filter_stage(spark):
    docs, out = _run(spark)
    assert out.count() > 0
    joined = out.select("doc_id").join(docs, "doc_id")
    q = quality_exprs(tokens_expr("text"))
    violations = joined.filter(
        ~F.col("lang").isin(*_KEEP_LANGS)
        | (q["quality"] < _MIN_QUALITY)
        | ~F.col("n_chars").between(_LEN_LO, _LEN_HI)
    )
    assert violations.count() == 0


def test_no_exact_or_near_dup_pair_survives(spark):
    docs, out = _run(spark)
    surv = out.select("doc_id").join(docs, "doc_id")
    # exact: the dedup key is unique among survivors
    key = F.md5(F.substring(norm_text("text"), 1, 40))
    n = surv.count()
    assert surv.select(key.alias("k")).distinct().count() == n
    # near: no surviving pair reaches the threshold (guards are no-ops at
    # fixture SF, so the unguarded exact pair set is the ground truth)
    residual = jaccard_pairs(
        doc_shingles(surv, "doc_id", "text"), THRESH
    )
    assert residual.count() == 0


def test_packing_and_splits_are_consistent_and_deterministic(spark):
    docs, out = _run(spark)
    rows = out.collect()
    assert {r.split for r in rows} <= {"train", "val", "test"}
    # bins are contiguous from 0 within each (split, lang)
    from collections import defaultdict

    bins = defaultdict(set)
    for r in rows:
        bins[(r.split, r.lang)].add(r.bin_id)
    for got in bins.values():
        assert got == set(range(max(got) + 1))
    # n_tok matches the documents' BPE-ish pretoken count (conservation;
    # whitespace counts would understate zh budgets ~100x — VERDICT r5 #2)
    from data_pipeline_team5_spark.operators.textops import bpe_token_count

    truth = {
        r.doc_id: r.n
        for r in docs.select(
            "doc_id", bpe_token_count("text").alias("n")
        ).collect()
    }
    assert all(truth[r.doc_id] == r.n_tok for r in rows)
    # determinism: a second independent run builds the identical assignment
    again = sorted(tuple(r) for r in _run(spark)[1].collect())
    assert again == sorted(tuple(r) for r in rows)


def test_zh_packing_respects_per_char_budget(spark):
    """VERDICT r5 #2: a zh doc's token budget must track its CHARACTER
    count (real tokenizers emit ~1-2 tokens per ideograph), not its
    whitespace split (a 300-char zh doc is ONE whitespace token). Feed
    pure-zh docs through the full curation preset and assert each bin's
    content respects the budget under the per-char accounting."""
    from data_pipeline_team5_spark.operators.textops import bpe_token_count
    from data_pipeline_team5_spark.pipeline import curate_training_data

    # 40 distinct zh docs, ~150 ideographs each (distinct content — no
    # dedup interference), zh function-word chars included so lang-ID
    # fires. n_chars inside the 120-600 keep band.
    base = "的一是了我不人在他有这中大来上国个到说们为子和你地出道也时年得就那要下以生会自着去之过家学对可"
    rows = []
    for i in range(40):
        text = (base[i % 10 :] + base + base[: 10 + i % 7]) + "第" + base[i % 25 :]
        rows.append((i, "zh", len(text), text))
    docs = spark.createDataFrame(
        rows, "doc_id LONG, lang STRING, n_chars LONG, text STRING"
    )
    budget = 256
    out = curate_training_data(docs, token_budget=budget)
    got = out.collect()
    assert got, "no zh doc survived the curation filters"
    # n_tok is the BPE-ish count ≈ the char count for pure-zh text
    truth = {
        r.doc_id: r.n
        for r in docs.select("doc_id", bpe_token_count("text").alias("n")).collect()
    }
    chars = {r[0]: r[3] for r in rows}
    for r in got:
        assert r.n_tok == truth[r.doc_id]
        assert r.n_tok >= 0.8 * len(chars[r.doc_id])  # per-char accounting
    # bins respect the budget under pack_bins' exclusive-prefix-sum
    # discipline (bin_id = floor(tokens-before/budget)): a bin overflows by
    # at most ONE doc — under whitespace accounting a ~160-ideograph doc
    # weighed 1 "token" and dozens of docs piled into each bin
    from collections import defaultdict

    per_bin = defaultdict(int)
    per_bin_docs = defaultdict(int)
    for r in got:
        per_bin[(r.split, r.lang, r.bin_id)] += r.n_tok
        per_bin_docs[(r.split, r.lang, r.bin_id)] += 1
    max_doc = max(r.n_tok for r in got)
    assert all(v <= budget + max_doc for v in per_bin.values()), per_bin
    # with ~160-token docs and a 256 budget, no bin can hold 3+ docs
    assert all(v <= 2 for v in per_bin_docs.values()), per_bin_docs
    # under whitespace accounting every doc would weigh ~1 token and the
    # whole corpus would collapse into one bin — assert we really did
    # produce multiple bins per split where >budget tokens were packed
    tot = defaultdict(int)
    for r in got:
        tot[(r.split, r.lang)] += r.n_tok
    for k, v in tot.items():
        if v > budget:
            assert max(r.bin_id for r in got if (r.split, r.lang) == k) >= 1


def test_lsh_method_agrees_with_jaccard_method(spark):
    """At fixture SF the guarded LSH path finds the same near-dup pairs as
    the exact inverted-index path (recall==1.0 there, pinned separately),
    so the two curation variants must produce identical assignments."""
    docs = table(spark, SF_SMALL, "documents")
    a = sorted(
        tuple(r)
        for r in curate_training_data(
            docs, neardup_threshold=THRESH, neardup_method="jaccard"
        ).collect()
    )
    b = sorted(
        tuple(r)
        for r in curate_training_data(
            docs, neardup_threshold=THRESH, neardup_method="lsh"
        ).collect()
    )
    assert a == b


def test_incremental_drop_rule_is_component_level(spark):
    """ADVICE r5 #1: a component touching the retained corpus keeps NO new
    docs — even a new doc linked to the corpus only THROUGH another new doc
    (new C ~ new B ~ corpus X, C not near X) is dropped. Over-dropping is
    the safe direction; this pins the implemented rule so callers can't
    mispredict from a weaker reading of the contract."""
    from data_pipeline_team5_spark.pipeline import curate_incremental_batch

    body = [f"t{i}" for i in range(1, 50)]

    def doc(uid, edits):
        toks = [uid] + body
        for pos, rep in edits:
            toks[pos] = rep  # pos is the 0-based full-doc index
        return " ".join(toks)

    b_edits = [(p, f"b{p}") for p in range(24, 32)]
    c_edits = [(p, f"c{p}") for p in range(38, 46)]
    x_text = doc("xdoc0", [])
    b_text = doc("bdoc0", b_edits)
    c_text = doc("cdoc0", b_edits + c_edits)
    d_text = " ".join(["ddoc0"] + [f"d{i}" for i in range(1, 50)])

    corpus = spark.createDataFrame(
        [(1000, "en", 290, x_text)], "doc_id LONG, lang STRING, n_chars LONG, text STRING"
    )
    new = spark.createDataFrame(
        [(2, "en", 290, b_text), (3, "en", 290, c_text), (4, "en", 290, d_text)],
        "doc_id LONG, lang STRING, n_chars LONG, text STRING",
    )
    # precondition: the chain really is B~X, C~B, NOT C~X (else the test
    # would pass vacuously through the direct-match rule)
    trio = corpus.unionByName(new.filter(F.col("doc_id") != 4))
    got = {
        (r.doc_a, r.doc_b)
        for r in jaccard_pairs(
            doc_shingles(trio, "doc_id", "text"), THRESH
        ).collect()
    }
    assert got == {(2, 1000), (2, 3)}

    out = curate_incremental_batch(new, corpus, neardup_threshold=THRESH)
    assert {r.doc_id for r in out.collect()} == {4}


def test_curate_cli_daily_loop(spark, tmp_path):
    """The operational CLI end-to-end: build-index → incremental with
    --fold-batch-id. Output parquet must equal the library call, and the
    fold must grow both indexes by the survivors."""
    from data_pipeline_team5_spark.curate import main as curate_main
    from data_pipeline_team5_spark.pipeline import curate_incremental_batch

    docs = table(spark, SF_SMALL, "documents").select(
        "doc_id", "lang", "n_chars", "text"
    )
    day0 = docs.filter(F.col("doc_id") % 3 != 0)
    day1 = docs.filter(F.col("doc_id") % 3 == 0)
    p_day0, p_day1 = str(tmp_path / "day0"), str(tmp_path / "day1")
    day0.write.parquet(p_day0)
    day1.write.parquet(p_day1)
    sig, key, out = (
        str(tmp_path / "sig"), str(tmp_path / "key"), str(tmp_path / "out")
    )

    rc = curate_main(
        ["build-index", "--docs", p_day0, "--sig", sig, "--key", key,
         "--batch-id", "day0"]
    )
    assert rc == 0
    n_sig0 = spark.read.parquet(sig).count()
    # first run (no fold): output must equal the library call against the
    # same still-unfolded indexes
    rc = curate_main(
        ["incremental", "--new", p_day1, "--corpus", p_day0,
         "--sig", sig, "--key", key, "--out", out]
    )
    assert rc == 0
    got = sorted(tuple(r) for r in spark.read.parquet(out).collect())
    want = sorted(
        tuple(r)
        for r in curate_incremental_batch(
            day1, day0, index_sig_path=sig, key_index_path=key
        ).collect()
    )
    assert got == want and got
    # second run WITH fold: folding requires MAINTAINED batch-partitioned
    # stores (the fold grows corpus + both indexes together — ADVICE r6
    # #1), so seed the corpus root first. It probes the same pre-fold
    # indexes (first run folded nothing), so assignments are identical up
    # to the batch_id partition column — then the survivors land in both
    # indexes AND the corpus root as their own batch partition
    corpus_root = str(tmp_path / "corpus")
    assert curate_main(
        ["init-corpus", "--docs", p_day0, "--corpus", corpus_root]
    ) == 0
    out2 = str(tmp_path / "out2")
    rc = curate_main(
        ["incremental", "--new", p_day1, "--corpus", corpus_root,
         "--sig", sig, "--key", key, "--out", out2,
         "--fold-batch-id", "day1"]
    )
    assert rc == 0
    assert sorted(
        tuple(r)
        for r in spark.read.parquet(out2).drop("batch_id").collect()
    ) == got
    n_kept = len(got)
    assert spark.read.parquet(sig).count() == n_sig0 + n_kept
    assert (
        spark.read.parquet(sig)
        .select("batch_id").distinct().count() == 2
    )
    assert (
        spark.read.parquet(corpus_root)
        .filter(F.col("batch_id") == "day1").count() == n_kept
    )
    # and the one-shot backfill subcommand matches the library preset
    outf = str(tmp_path / "outf")
    assert curate_main(["full", "--docs", p_day0, "--out", outf]) == 0
    assert sorted(
        tuple(r) for r in spark.read.parquet(outf).collect()
    ) == sorted(tuple(r) for r in curate_training_data(day0).collect())


def test_incremental_batch_curation_invariants(spark):
    """curate_incremental_batch: survivors pass every filter, never exact-
    or near-match the retained corpus or each other, and the run is
    deterministic. (Full-recompute equality is intentionally NOT the
    contract — chains through previously-dropped docs don't propagate;
    see the docstring.)"""
    from data_pipeline_team5_spark.pipeline import (
        curate_incremental_batch,
        curate_training_data,
    )

    docs = table(spark, SF_SMALL, "documents")
    index_raw = docs.filter(F.col("doc_id") % 3 != 0)
    new = docs.filter(F.col("doc_id") % 3 == 0)
    # retained corpus = the docs a full curation of index_raw keeps
    retained = (
        curate_training_data(index_raw, neardup_threshold=THRESH)
        .select("doc_id")
        .join(docs, "doc_id")
        .select("doc_id", "lang", "n_chars", "text", "source")
    ).localCheckpoint()

    out = curate_incremental_batch(new, retained, neardup_threshold=THRESH)
    rows = sorted(tuple(r) for r in out.collect())
    assert rows  # fixture batch must not be empty

    surv = out.select("doc_id").join(docs, "doc_id")
    # filters hold
    q = quality_exprs(tokens_expr("text"))
    assert (
        surv.filter(
            ~F.col("lang").isin(*_KEEP_LANGS)
            | (q["quality"] < _MIN_QUALITY)
            | ~F.col("n_chars").between(_LEN_LO, _LEN_HI)
        ).count()
        == 0
    )
    # no exact key collision with retained corpus or within survivors
    key = F.md5(F.substring(norm_text("text"), 1, 40))
    surv_keys = {r.k for r in surv.select(key.alias("k")).collect()}
    ret_keys = {r.k for r in retained.select(key.alias("k")).collect()}
    assert len(surv_keys) == surv.count()
    assert not (surv_keys & ret_keys)
    # no near-dup pair among survivors ∪ retained touches a survivor
    both = surv.select("doc_id", "text").unionByName(
        retained.select("doc_id", "text")
    )
    surv_ids = {r.doc_id for r in surv.select("doc_id").collect()}
    residual = jaccard_pairs(doc_shingles(both, "doc_id", "text"), THRESH)
    touching = [
        (r.doc_a, r.doc_b)
        for r in residual.collect()
        if r.doc_a in surv_ids or r.doc_b in surv_ids
    ]
    assert touching == []
    # determinism
    again = sorted(
        tuple(r)
        for r in curate_incremental_batch(
            new, retained, neardup_threshold=THRESH
        ).collect()
    )
    assert again == rows


def _quality_divergence_docs(spark):
    """(docs, donor_id, new_id): the sf0.01 documents plus a crafted
    HIGHER-QUALITY near-dup of a surviving doc under a LARGER id, the
    case where the ``min_id`` and ``quality`` survivor policies keep
    different members of one component.

    The fixture's near-dup groups are near-IDENTICAL copies, so their
    quality scores tie and the quality argmax tie-breaks to the min id
    — both policies agree. The crafted copy is the same text plus
    distinct new tokens (longer and more unique → strictly higher
    quality; ~80% shared shingles keeps it one component)."""
    base = table(spark, SF_SMALL, "documents")
    surv = {
        r["doc_id"]
        for r in curate_training_data(base).select("doc_id").collect()
    }
    donor = next(
        r
        for r in base.orderBy("doc_id").collect()
        if r["doc_id"] in surv and 40 < len(r["text"].split()) < 90
    )
    extra = " ".join(f"freshtok{i}" for i in range(8))
    new_id = int(
        base.agg(F.max("doc_id")).first()[0]
    ) + 1
    # change the FIRST word as well: exact dedup keys on the md5 of the
    # 40-char normalized prefix, so an unmodified prefix would collapse
    # the pair at stage 2 before near-dup ever sees it
    words = donor["text"].split()
    words[0] = "zzzqualityzzz"
    new_text = " ".join(words) + " " + extra
    crafted = spark.createDataFrame(
        [(new_id, donor["lang"], len(new_text), donor["source"], new_text)],
        ["doc_id", "lang", "n_chars", "source", "text"],
    )
    docs = base.unionByName(crafted.select(*base.columns))
    return docs, donor["doc_id"], new_id


def test_survivor_policy_quality_keeps_cleanest_per_group(spark):
    """survivor_policy='quality': same number of survivors as
    the min-id default (one per near-dup component over the identical
    guarded pair set), but membership diverges on the crafted case —
    the kept representative is the component's highest-quality doc, not
    its smallest id. Unknown policies refuse loudly."""
    import pytest as _pytest

    from data_pipeline_team5_spark.pipeline import curate_training_data

    docs, donor_id, new_id = _quality_divergence_docs(spark)
    a = curate_training_data(docs)
    b = curate_training_data(docs, survivor_policy="quality")
    ids_a = {r["doc_id"] for r in a.select("doc_id").collect()}
    ids_b = {r["doc_id"] for r in b.select("doc_id").collect()}
    assert len(ids_a) == len(ids_b), "one survivor per component either way"
    # min-id keeps the original; quality keeps the longer crafted copy
    assert donor_id in ids_a and new_id not in ids_a
    assert new_id in ids_b and donor_id not in ids_b
    with _pytest.raises(ValueError, match="survivor_policy"):
        curate_training_data(docs, survivor_policy="longest")


def test_survivor_policy_source_rank_prefers_trusted_source(spark):
    """survivor_policy='source_rank' (round 9): a near-dup of a surviving
    doc arriving from a PREFERRED source displaces it, while an unlisted
    source never displaces a listed one."""
    from pyspark.sql import functions as F

    from data_pipeline_team5_spark.pipeline import curate_training_data
    from data_pipeline_team5_spark.plans.catalog import table
    from tests.conftest import SF_SMALL

    base = table(spark, SF_SMALL, "documents")
    surv = {
        r["doc_id"]
        for r in curate_training_data(base).select("doc_id").collect()
    }
    donor = next(
        r
        for r in base.orderBy("doc_id").collect()
        if r["doc_id"] in surv and 40 < len(r["text"].split()) < 90
    )
    # near-dup twin under a LARGER id (min_id would drop it) from a
    # dedicated source; first word changed so exact dedup can't collapse
    # the pair before the near-dup stage sees it
    words = donor["text"].split()
    words[0] = "prefixswap"
    twin_text = " ".join(words)
    new_id = int(base.agg(F.max("doc_id")).first()[0]) + 1
    twin = spark.createDataFrame(
        [(new_id, twin_text, donor["lang"], "golden_source",
          len(twin_text))],
        base.schema,
    )
    corpus = base.unionByName(twin)

    preferred = curate_training_data(
        corpus,
        survivor_policy="source_rank",
        source_priority=["golden_source"],
    )
    kept = {r["doc_id"] for r in preferred.select("doc_id").collect()}
    assert new_id in kept and donor["doc_id"] not in kept

    # unlisted twin source ⇒ both rank equal-worst ⇒ tie to smaller id:
    # the original survives, the twin does not
    unlisted = curate_training_data(
        corpus,
        survivor_policy="source_rank",
        source_priority=["some_other_source"],
    )
    kept2 = {r["doc_id"] for r in unlisted.select("doc_id").collect()}
    assert donor["doc_id"] in kept2 and new_id not in kept2


def test_curate_quality_filters_lm_and_classifier(spark):
    """Round 14: the model-based quality knobs (operators/quality.py via
    curate_training_data) — survivors must satisfy the filters' rules
    recomputed INDEPENDENTLY from the operators: no survivor in the LM
    drop set (worst tertile of the classifier-kept pool), no survivor
    with logit ≤ 0, unscoreable docs pass, and the run is
    deterministic."""
    from data_pipeline_team5_spark.operators.quality import (
        classifier_score_frame,
        fit_hashed_bigram_lm,
        fit_quality_classifier,
        lm_score_frame,
    )
    from data_pipeline_team5_spark.operators.ranks import (
        exact_ntile_bucket,
    )
    from data_pipeline_team5_spark.pipeline import (
        _curation_filter_stage,
        curate_training_data,
    )
    from data_pipeline_team5_spark.plans.catalog import table

    docs = table(spark, SF_SMALL, "documents").select(
        "doc_id", "lang", "n_chars", "text", "source"
    )
    is_ref = F.col("doc_id") % 7 == 0
    ref = docs.filter(is_ref)
    pool = docs.filter(~is_ref)

    out = curate_training_data(
        pool,
        quality_classifier_reference=ref,
        lm_reference_docs=ref,
    )
    survivors = {r["doc_id"] for r in out.collect()}
    assert survivors

    base = {
        r["doc_id"] for r in curate_training_data(pool).collect()
    }
    # fewer survivors than the unfiltered run (NOT a subset: dropping a
    # component's min-id member before dedup re-elects its survivor)
    assert len(survivors) < len(base)

    # recompute the two rules from the operators, same order as the
    # pipeline: classifier on the filter-stage pool, LM tertiles on the
    # classifier-kept pool
    kept = _curation_filter_stage(pool)
    w, b = fit_quality_classifier(ref)
    cls = {
        r["doc_id"]: r["logit"]
        for r in classifier_score_frame(kept, w, b).collect()
    }
    cls_kept_ids = {
        d for d, lg in cls.items() if lg is None or lg > 0
    }
    logp = fit_hashed_bigram_lm(ref)
    cls_kept = kept.join(
        spark.createDataFrame(
            [(d,) for d in sorted(cls_kept_ids)], "doc_id BIGINT"
        ),
        "doc_id",
    )
    scored = lm_score_frame(cls_kept, logp).localCheckpoint().filter(
        F.col("ppl_bits").isNotNull()
    )
    t3 = exact_ntile_bucket(scored, ["ppl_bits", "doc_id"], 3)
    lm_dropped = {
        r["doc_id"]
        for r in scored.select("doc_id", t3.alias("t"))
        .filter(F.col("t") >= 3)
        .collect()
    }
    for d in survivors:
        assert d in cls_kept_ids, (d, "survivor failed the classifier")
        assert d not in lm_dropped, (d, "survivor in the LM drop tertile")
    # determinism
    again = {
        r["doc_id"]
        for r in curate_training_data(
            pool,
            quality_classifier_reference=ref,
            lm_reference_docs=ref,
        ).collect()
    }
    assert again == survivors


def test_cli_quality_reference_flag(spark, tmp_path, capsys):
    """--quality-reference/--quality-filter reach the pipeline: the
    filtered run keeps strictly fewer docs than the unfiltered run."""
    import json as _json

    from data_pipeline_team5_spark.curate import main
    from data_pipeline_team5_spark.plans.catalog import table

    docs = table(spark, SF_SMALL, "documents")
    docs.filter(F.col("doc_id") % 7 != 0).write.parquet(
        str(tmp_path / "docs")
    )
    docs.filter(F.col("doc_id") % 7 == 0).write.parquet(
        str(tmp_path / "ref")
    )
    kept = {}
    for label, extra in (
        ("plain", []),
        (
            "lm",
            ["--quality-reference", str(tmp_path / "ref"),
             "--quality-filter", "both"],
        ),
    ):
        main(
            [
                "full",
                "--docs", str(tmp_path / "docs"),
                "--out", str(tmp_path / f"out_{label}"),
            ]
            + extra
        )
        kept[label] = _json.loads(
            capsys.readouterr().out.strip().splitlines()[-1]
        )["kept"]
    assert 0 < kept["lm"] < kept["plain"]


def test_frozen_quality_model_roundtrip_and_daily_apply(spark, tmp_path):
    """Round 14 (frozen-model hand-off): the full run saves its fitted
    model + realized LM cutoff; a daily batch applies the FROZEN rules
    and every batch survivor satisfies them recomputed independently —
    bits ≤ the stored cutoff and logit > 0 (or unscoreable). The JSON
    round-trip is double-bit-exact."""
    from data_pipeline_team5_spark.operators.quality import (
        classifier_score_frame,
        fit_hashed_bigram_lm,
        fit_quality_classifier,
        lm_score_frame,
        load_quality_model,
    )
    from data_pipeline_team5_spark.pipeline import (
        curate_incremental_batch,
        curate_training_data,
    )
    from data_pipeline_team5_spark.plans.catalog import table

    docs = table(spark, SF_SMALL, "documents").select(
        "doc_id", "lang", "n_chars", "text", "source"
    )
    ref = docs.filter(F.col("doc_id") % 7 == 0)
    pool = docs.filter((F.col("doc_id") % 7 != 0) & (F.col("doc_id") % 3 != 0))
    batch = docs.filter((F.col("doc_id") % 7 != 0) & (F.col("doc_id") % 3 == 0))

    mpath = str(tmp_path / "quality_model.json")
    curate_training_data(
        pool,
        quality_classifier_reference=ref,
        lm_reference_docs=ref,
        quality_model_out=mpath,
    ).collect()
    model = load_quality_model(mpath)
    # bit-exact round-trip against a re-fit
    assert model["logp"] == fit_hashed_bigram_lm(ref)
    w, b = fit_quality_classifier(ref)
    assert model["weights"] == w and model["bias"] == b
    assert model["lm_keep_max_bits"] is not None

    out = curate_incremental_batch(
        batch, pool, quality_model=model
    )
    survivors = {r["doc_id"] for r in out.collect()}
    assert survivors
    bits = {
        r["doc_id"]: r["ppl_bits"]
        for r in lm_score_frame(batch, model["logp"]).collect()
    }
    logits = {
        r["doc_id"]: r["logit"]
        for r in classifier_score_frame(batch, w, b).collect()
    }
    for d in survivors:
        assert bits[d] is None or bits[d] <= model["lm_keep_max_bits"], d
        assert logits[d] is None or logits[d] > 0, d
    # the frozen rules actually dropped something from this batch
    plain = {
        r["doc_id"]
        for r in curate_incremental_batch(batch, pool).collect()
    }
    assert len(survivors) < len(plain)


def _bmp_payload(kind: str) -> bytes:
    """Deterministic, strongly-contrasting 16x16 24-bit BMPs: distinct
    kinds are far apart in dHash space (asserted in the tests via the
    no-image baselines), identical kinds are byte-identical."""
    from data_pipeline_team5_spark.operators.multimodal import (
        BMP_H,
        BMP_W,
        encode_bmp,
    )

    px = bytearray()
    for y in range(BMP_H):
        for x in range(BMP_W):
            # vertical bars / two pseudo-noise fields: mutually 24+
            # bits apart in dHash (measured; smooth gradients and fine
            # checkerboards both box-average to hash 0 — useless here)
            if kind == "bars":
                v = 255 if x % 4 < 2 else 0
            elif kind == "noise":
                v = (x * 37 + y * 101 + x * y * 7) % 256
            else:  # noise2
                v = (x * 53 + y * 29 + x * x * 3 + y * y * 11) % 256
            px += bytes((v, v, v))
    return encode_bmp(bytes(px), BMP_W, BMP_H)


def _dissimilar_docs(spark, ids):
    """One crafted doc per id: disjoint token sets (no text near-dups),
    all passing the curation filter constants."""
    rows = [
        (i, "en", 290, " ".join(f"u{i}w{j}" for j in range(50)))
        for i in ids
    ]
    return spark.createDataFrame(
        rows, "doc_id LONG, lang STRING, n_chars LONG, text STRING"
    )


def test_presets_take_modality_keyed_dicts(spark):
    """The presets' per-modality arguments are dicts keyed by the
    modality table: no parameter names a modality or a stored-index
    stem, and a misspelt key raises (naming it and the modalities)
    instead of silently skipping that modality's steps."""
    import inspect

    import pytest as _pytest

    from data_pipeline_team5_spark.operators.multimodal import MODALITIES
    from data_pipeline_team5_spark.pipeline import curate_incremental_batch

    stems = set(MODALITIES) | {m.index for m in MODALITIES.values()}
    for preset in (curate_training_data, curate_incremental_batch):
        for name in inspect.signature(preset).parameters:
            assert not any(s in name for s in stems), (preset.__name__, name)

    docs = _dissimilar_docs(spark, [1])
    blobs = spark.createDataFrame(
        [(1, _bmp_payload("noise"))], "doc_id LONG, blob BINARY"
    )
    with _pytest.raises(ValueError, match="imgae") as err:
        curate_training_data(docs, blobs={"imgae": blobs})
    assert str(sorted(MODALITIES)) in str(err.value)
    with _pytest.raises(ValueError, match="imgae"):
        curate_incremental_batch(docs, docs, blobs={"imgae": blobs})
    # audio has one decoder: backends admits only image and video
    with _pytest.raises(ValueError, match=r"backends\['audio'\]"):
        curate_training_data(docs, backends={"audio": "fake"})


def test_curate_image_dedup_collapses_image_duplicates(spark):
    """Round 15 (VERDICT r14 #1): docs whose texts share nothing but
    whose image payloads are perceptual duplicates must collapse into
    one component under curate_training_data(blobs={"image": ...}), with
    the min-id member surviving; without image blobs all survive."""
    docs = _dissimilar_docs(spark, [1, 2, 3])
    base = {r["doc_id"] for r in curate_training_data(docs).collect()}
    assert base == {1, 2, 3}  # precondition: no text dedup fires

    blobs = spark.createDataFrame(
        [
            (1, _bmp_payload("noise")),
            (2, _bmp_payload("noise")),  # byte-identical to doc 1's
            (3, _bmp_payload("noise2")),
        ],
        "doc_id LONG, blob BINARY",
    )
    out = {
        r["doc_id"]
        for r in curate_training_data(docs, blobs={"image": blobs}).collect()
    }
    assert out == {1, 3}  # 2 lost the image component to min-id 1
    # determinism
    again = {
        r["doc_id"]
        for r in curate_training_data(docs, blobs={"image": blobs}).collect()
    }
    assert again == out


def test_incremental_image_dedup_probes_stored_index(spark, tmp_path):
    """Round 15 (VERDICT r14 #7): the daily loop image-dedups the new
    batch against the retained corpus through the stored hash index —
    a new doc whose image duplicates a RETAINED image drops (component
    touches the corpus), fresh images survive, and the corpus's blobs
    are never passed to the batch run at all."""
    import pytest as _pytest

    from data_pipeline_team5_spark.pipeline import (
        build_perceptual_index,
        curate_incremental_batch,
    )

    corpus = _dissimilar_docs(spark, [1000, 1001])
    new = _dissimilar_docs(spark, [2, 3, 4])
    corpus_blobs = spark.createDataFrame(
        [(1000, _bmp_payload("noise")), (1001, _bmp_payload("bars"))],
        "doc_id LONG, blob BINARY",
    )
    new_blobs = spark.createDataFrame(
        [(2, _bmp_payload("noise")), (3, _bmp_payload("noise2"))],
        "doc_id LONG, blob BINARY",
    )  # doc 4 has no image

    plain = {
        r["doc_id"]
        for r in curate_incremental_batch(new, corpus).collect()
    }
    assert plain == {2, 3, 4}  # precondition: text stages keep all

    idx = str(tmp_path / "phash")
    build_perceptual_index(corpus_blobs, idx, batch_id="base")
    out = {
        r["doc_id"]
        for r in curate_incremental_batch(
            new,
            corpus,
            blobs={"image": new_blobs},
            index_paths={"image": idx},
        ).collect()
    }
    assert out == {3, 4}  # 2's image matches retained 1000 → dropped

    with _pytest.raises(ValueError, match=r'index_paths\["image"\]'):
        curate_incremental_batch(new, corpus, blobs={"image": new_blobs})


def test_quality_model_provenance_and_hist_roundtrip(spark, tmp_path):
    """Round 15 (VERDICT r14 #4): the frozen-model JSON must carry a
    fit fingerprint (reference rows + order-insensitive id digest +
    hyperparams) and the full run's per-signal score histograms, all
    round-tripping bit-exactly."""
    from data_pipeline_team5_spark.operators.quality import (
        load_quality_model,
        model_provenance,
    )
    from data_pipeline_team5_spark.plans.catalog import table

    docs = table(spark, SF_SMALL, "documents").select(
        "doc_id", "lang", "n_chars", "text"
    )
    ref = docs.filter(F.col("doc_id") % 7 == 0)
    pool = docs.filter(F.col("doc_id") % 7 != 0)
    mpath = str(tmp_path / "qm.json")
    curate_training_data(
        pool,
        quality_classifier_reference=ref,
        lm_reference_docs=ref,
        quality_model_out=mpath,
    )
    model = load_quality_model(mpath)
    prov = model["provenance"]
    want = model_provenance(ref)
    assert prov == want  # bit-exact round trip, digest included
    assert prov["reference_rows"] == ref.count() > 0
    assert prov["reference_ids_digest"] == want["reference_ids_digest"]
    assert prov["buckets"] == 512 and prov["cap"] == 64
    # a different reference vintage must change the digest
    other = model_provenance(ref.limit(prov["reference_rows"] - 1))
    assert other["reference_ids_digest"] != prov["reference_ids_digest"]

    hist = model["score_hist"]
    assert set(hist) == {"classifier_logit", "lm_bits"}
    for sig, spec in hist.items():
        assert spec["lo"] < spec["hi"]
        assert len(spec["counts"]) == 16
        assert sum(spec["counts"]) > 0


def test_quality_per_lang_frozen_model_and_apply(spark, tmp_path):
    """Round 15 (VERDICT r14 #3): quality_classifier_per_lang fits one
    model per language, the frozen JSON carries the per-lang tables,
    and the frozen apply judges each doc under its OWN language's
    model (recomputed independently)."""
    from data_pipeline_team5_spark.operators.quality import (
        apply_frozen_quality_model,
        classifier_score_frame_by_lang,
        fit_quality_classifier_by_lang,
        load_quality_model,
    )
    from data_pipeline_team5_spark.plans.catalog import table

    docs = table(spark, SF_SMALL, "documents").select(
        "doc_id", "lang", "n_chars", "text"
    )
    ref = docs.filter(F.col("doc_id") % 7 == 0)
    pool = docs.filter(F.col("doc_id") % 7 != 0)
    mpath = str(tmp_path / "qm_lang.json")
    out = curate_training_data(
        pool,
        quality_classifier_reference=ref,
        quality_classifier_per_lang=True,
        quality_model_out=mpath,
    )
    survivors = {r["doc_id"] for r in out.collect()}
    assert survivors

    model = load_quality_model(mpath)
    assert model["weights"] is None  # per-lang replaces the global form
    want_models = fit_quality_classifier_by_lang(ref)
    assert set(model["weights_by_lang"]) == set(want_models)
    for lang, (w, b) in want_models.items():
        assert model["weights_by_lang"][lang] == w  # bit-exact
        assert model["bias_by_lang"][lang] == b
    assert "classifier_logit_by_lang" in model["score_hist"]

    # pipeline rule recomputed independently: every survivor's logit
    # under its own language's model is NULL or > 0
    logits = {
        r["doc_id"]: r["logit"]
        for r in classifier_score_frame_by_lang(
            pool, want_models
        ).collect()
    }
    for d in survivors:
        assert logits[d] is None or logits[d] > 0, d

    # frozen apply drops exactly the logit<=0 docs of a daily frame
    day = pool.limit(200)
    kept = {
        r["doc_id"]
        for r in apply_frozen_quality_model(day, model).collect()
    }
    for r in day.collect():
        lg = logits.get(r["doc_id"])
        assert (r["doc_id"] in kept) == (lg is None or lg > 0)


def test_curate_image_decontamination_drops_benchmark_matches(spark):
    """Round 15: a doc whose image perceptually matches an eval-
    benchmark image must be dropped BEFORE dedup (the image twin of the
    5-gram rule), regardless of its text; and the knob requires the
    corpus blobs."""
    import pytest as _pytest

    docs = _dissimilar_docs(spark, [1, 2, 3])
    blobs = spark.createDataFrame(
        [(1, _bmp_payload("noise")), (2, _bmp_payload("noise2")),
         (3, _bmp_payload("bars"))],
        "doc_id LONG, blob BINARY",
    )
    bench = spark.createDataFrame(
        [(9001, _bmp_payload("noise2"))], "doc_id LONG, blob BINARY"
    )
    base = {
        r["doc_id"]
        for r in curate_training_data(docs, blobs={"image": blobs}).collect()
    }
    assert base == {1, 2, 3}
    out = {
        r["doc_id"]
        for r in curate_training_data(
            docs, blobs={"image": blobs}, benchmark_blobs={"image": bench}
        ).collect()
    }
    assert out == {1, 3}  # 2's image matches the benchmark
    with _pytest.raises(ValueError, match=r'requires blobs\["image"\]'):
        curate_training_data(docs, benchmark_blobs={"image": bench})

    # incremental decon-only form (no stored index): same rule
    from data_pipeline_team5_spark.pipeline import (
        curate_incremental_batch,
    )

    corpus = _dissimilar_docs(spark, [1000])
    inc = {
        r["doc_id"]
        for r in curate_incremental_batch(
            docs, corpus,
            blobs={"image": blobs}, benchmark_blobs={"image": bench},
        ).collect()
    }
    assert inc == {1, 3}


def test_quality_score_drift_per_lang_signal(spark, tmp_path):
    """The drift probe's per-lang classifier branch: a same-
    distribution batch sits well under the warn threshold; a permuted
    batch (the negative class) moves the logit mass."""
    from data_pipeline_team5_spark.operators.quality import (
        _perm_tokens_sql,
        load_quality_model,
        quality_score_drift,
    )
    from data_pipeline_team5_spark.plans.catalog import table

    docs = table(spark, SF_SMALL, "documents").select(
        "doc_id", "lang", "n_chars", "text"
    )
    ref = docs.filter(F.col("doc_id") % 7 == 0)
    pool = docs.filter(F.col("doc_id") % 7 != 0)
    mpath = str(tmp_path / "qm_lang.json")
    curate_training_data(
        pool,
        quality_classifier_reference=ref,
        quality_classifier_per_lang=True,
        quality_model_out=mpath,
    )
    model = load_quality_model(mpath)
    same = quality_score_drift(pool.limit(200), model)
    assert set(same) == {"classifier_logit_by_lang"}
    assert same["classifier_logit_by_lang"] is not None
    assert same["classifier_logit_by_lang"] < 0.25

    shifted = pool.limit(200).withColumn(
        "text",
        F.array_join(F.expr(_perm_tokens_sql("split(text, ' ')")), " "),
    )
    hot = quality_score_drift(shifted, model)
    assert hot["classifier_logit_by_lang"] > same["classifier_logit_by_lang"]


def test_curate_langid_fill_rescues_null_lang_docs(spark):
    """round 16 (VERDICT r15 #1): a raw corpus's partial lang column.
    Without the fill, NULL-lang docs die at the stage-1 allowlist; with
    ``langid_fill=True`` the model (fit on the labeled slice) fills
    them and they flow through the per-language stages. Declared langs
    are never overwritten. Runs on the MARKED frame (the fixture's text
    is language-agnostic by construction — see test_langid.py)."""
    from pyspark.sql import functions as F

    from data_pipeline_team5_spark.plans.text_family import (
        _langid_marked_frame,
    )

    marked = _langid_marked_frame(spark, SF_SMALL)
    nulled = marked.withColumn(
        "lang",
        F.when(F.col("doc_id") % 5 == 0, F.lit(None)).otherwise(
            F.col("lang")
        ),
    )
    without = {
        r["doc_id"]
        for r in curate_training_data(nulled, neardup_threshold=THRESH)
        .select("doc_id")
        .collect()
    }
    assert not any(d % 5 == 0 for d in without)

    filled = {
        r["doc_id"]: r["lang"]
        for r in curate_training_data(
            nulled, neardup_threshold=THRESH, langid_fill=True
        ).collect()
    }
    rescued = [d for d in filled if d % 5 == 0]
    assert len(rescued) >= 20  # the nulled slice is ~100 docs; dedup
    # and the quality/length band cost some, the fill must rescue many
    truth = {
        r["doc_id"]: r["lang"]
        for r in marked.select("doc_id", "lang").collect()
    }
    # predictions on the marked fixture are near-perfect (one known
    # es→en miss in 428 at this SF) — assert a 90% floor, not equality
    ok = sum(1 for d in rescued if filled[d] == truth[d])
    assert ok / len(rescued) >= 0.9
    # declared langs never overwritten
    for d, lang in filled.items():
        if d % 5 != 0:
            assert lang == truth[d]


def _wav_payload(kind: str) -> bytes:
    """A real stdlib-decodable WAV whose samples derive from ``kind``
    (tiled, the attach_wav_blob convention) — deterministic, so equal
    kinds are perceptual duplicates and different kinds are not."""
    from data_pipeline_team5_spark.operators.multimodal import (
        WAV_SAMPLES,
        encode_wav,
    )

    b = kind.encode("utf-8")
    n = WAV_SAMPLES * 2
    return encode_wav((b * (n // len(b) + 1))[:n])


def test_curate_audio_dedup_collapses_audio_duplicates(spark):
    """Round 16 (VERDICT r15 #5's pipeline leg): docs whose texts share
    nothing but whose AUDIO payloads are perceptual duplicates collapse
    into one component under curate_training_data(blobs={"audio": ...}),
    min-id surviving — the image contract, third modality."""
    docs = _dissimilar_docs(spark, [1, 2, 3])
    base = {r["doc_id"] for r in curate_training_data(docs).collect()}
    assert base == {1, 2, 3}

    blobs = spark.createDataFrame(
        [
            (1, _wav_payload("hum alpha")),
            (2, _wav_payload("hum alpha")),  # byte-identical to doc 1's
            (3, _wav_payload("different tone entirely")),
        ],
        "doc_id LONG, blob BINARY",
    )
    out = {
        r["doc_id"]
        for r in curate_training_data(docs, blobs={"audio": blobs}).collect()
    }
    assert out == {1, 3}
    again = {
        r["doc_id"]
        for r in curate_training_data(docs, blobs={"audio": blobs}).collect()
    }
    assert again == out


def test_incremental_audio_dedup_probes_stored_index(spark, tmp_path):
    """The daily loop audio-dedups the new batch against the retained
    corpus through the stored audio-hash index; fresh audio survives,
    a retained-duplicate drops, the corpus's WAVs are never passed."""
    import pytest as _pytest

    from data_pipeline_team5_spark.pipeline import (
        build_audio_index,
        curate_incremental_batch,
    )

    corpus = _dissimilar_docs(spark, [1000, 1001])
    new = _dissimilar_docs(spark, [2, 3, 4])
    corpus_blobs = spark.createDataFrame(
        [(1000, _wav_payload("hum alpha")),
         (1001, _wav_payload("drone beta"))],
        "doc_id LONG, blob BINARY",
    )
    new_blobs = spark.createDataFrame(
        [(2, _wav_payload("hum alpha")),
         (3, _wav_payload("fresh gamma"))],
        "doc_id LONG, blob BINARY",
    )  # doc 4 has no audio

    idx = str(tmp_path / "ahash")
    build_audio_index(corpus_blobs, idx, batch_id="base")
    out = {
        r["doc_id"]
        for r in curate_incremental_batch(
            new,
            corpus,
            blobs={"audio": new_blobs},
            index_paths={"audio": idx},
        ).collect()
    }
    assert out == {3, 4}  # 2's audio duplicates retained 1000
    with _pytest.raises(ValueError, match=r'index_paths\["audio"\]'):
        curate_incremental_batch(new, corpus, blobs={"audio": new_blobs})


def test_curate_audio_decontamination(spark):
    """Round 16: eval-benchmark AUDIO must never reach training bins —
    the image decon contract on the third modality. A doc whose audio
    near-dups a benchmark clip drops at stage 1a; the decon decode pass
    is reused by the audio-dedup stage (one decode, the ih_kept idiom).
    The incremental path's decon-only form works without the index."""
    import pytest as _pytest

    from data_pipeline_team5_spark.pipeline import (
        curate_incremental_batch,
    )

    docs = _dissimilar_docs(spark, [1, 2, 3])
    blobs = spark.createDataFrame(
        [(1, _wav_payload("hum alpha")),
         (2, _wav_payload("drone beta")),
         (3, _wav_payload("tone gamma"))],
        "doc_id LONG, blob BINARY",
    )
    bench = spark.createDataFrame(
        [(9001, _wav_payload("drone beta"))],  # matches doc 2's audio
        "doc_id LONG, blob BINARY",
    )
    out = {
        r["doc_id"]
        for r in curate_training_data(
            docs, blobs={"audio": blobs}, benchmark_blobs={"audio": bench}
        ).collect()
    }
    assert out == {1, 3}  # 2 is benchmark-contaminated
    with _pytest.raises(ValueError, match=r'requires blobs\["audio"\]'):
        curate_training_data(docs, benchmark_blobs={"audio": bench})

    # incremental decon-only (no stored index needed)
    corpus = _dissimilar_docs(spark, [1000])
    inc = {
        r["doc_id"]
        for r in curate_incremental_batch(
            docs, corpus,
            blobs={"audio": blobs}, benchmark_blobs={"audio": bench},
        ).collect()
    }
    assert inc == {1, 3}
    with _pytest.raises(ValueError, match=r'index_paths\["audio"\]'):
        curate_incremental_batch(docs, corpus, blobs={"audio": blobs})
