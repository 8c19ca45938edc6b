"""The benchmark's workloads and their output checks.

Each workload is one closed-loop caller in one process that calls only the
program's public entry points, the way a cron job or an operator would.
Every timed operation is counted as attempted; an exception or a wrong
result counts it as failed, and the run goes on.
"""

from __future__ import annotations

import contextlib
import datetime as dt
import glob
import hashlib
import io
import json
import math
import os
import sys
import time
import traceback

DASHBOARD = (
    "daily_metrics_panel",
    "box_office_pivot",
    "dash_movie_panel",
    "d3_top10_sales",
    "w1_rank_in_day",
    "w2_w6_daily_movement",
    "grouping_margins_panel",
    "exact_quantile_panel",
    "rel_region_rollup",
)


class Run:
    """State of one measured run: the session, the inputs, the spans and
    the attempted/failed tallies."""

    def __init__(self, spark, inputs: str, work: str, spans, tracer=None,
                 *, cpu):
        self.spark = spark
        self.inputs = inputs
        self.work = work
        self.spans = spans
        self.tracer = tracer
        self.attempted = 0
        self.failed = 0
        self.failures: list[str] = []
        # (wall, Spark job ids) of every timed operation, failed ones too
        self.timed: list[tuple[float, range]] = []
        self.cpu = cpu  # reads the CPU seconds used so far
        self.cpu_s = 0.0  # CPU seconds of the timed operations

    def op(self, name: str, fn, check=None):
        """Time one operation; returns its result, or None if it failed."""
        self.attempted += 1
        cpu0 = self.cpu()
        tok = self.spans.open(name)
        try:
            out = fn()
        except Exception:  # noqa: BLE001 - a failed op is data, not a crash
            self._close(tok, cpu0)
            self.fail(name, traceback.format_exc(limit=3))
            return None
        self._close(tok, cpu0)
        if check is not None:
            problem = check(out)
            if problem:
                self.fail(name, problem)
                return None
        return out

    def _close(self, tok, cpu0: float) -> None:
        self.spans.close(tok)
        self.cpu_s += self.cpu() - cpu0
        _, t0, t1, lo, hi = self.spans.records[-1]
        self.timed.append((t1 - t0, range(lo, hi)))

    def fail(self, name: str, why: str) -> None:
        self.failed += 1
        self.failures.append(f"{name}: {why}")
        print(f"perfbench: FAILED {name}: {why}", file=sys.stderr)

    def verify(self, name: str, problem: str | None) -> None:
        """An after-the-fact output check counts as one more operation."""
        self.attempted += 1
        if problem:
            self.fail(name, problem)


# --------------------------------------------------------------------------
# Result comparison (order-insensitive, columns by name, exact values), the
# same normalization the repo's oracle tests use.


def _cell(v):
    if v is None:
        return (0, "")
    if isinstance(v, float):
        return (1, "NaN") if math.isnan(v) else (1, "f", v)
    if isinstance(v, bool):
        return (1, "b", v)
    if isinstance(v, int):
        return (1, "i", v)
    if isinstance(v, dt.datetime):
        if v.tzinfo is not None:
            v = v.astimezone(dt.timezone.utc).replace(tzinfo=None)
        return (1, v.isoformat(sep=" "))
    if isinstance(v, dt.date):
        return (1, v.isoformat())
    if isinstance(v, (list, tuple)):
        return (1, tuple(_cell(x) for x in v))
    return (1, v)


def normalize(cols: list[str], rows: list[tuple]):
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    return (
        [cols[i] for i in order],
        sorted(tuple(_cell(r[i]) for i in order) for r in rows),
    )


def _arrow_rows(tbl) -> tuple[list[str], list[tuple]]:
    cols = tbl.column_names
    return cols, list(zip(*(tbl.column(c).to_pylist() for c in cols)))


def _compare(spark_out, oracle_out) -> str | None:
    (sc, sr), (oc, orows) = spark_out, oracle_out
    if sc != oc:
        return f"columns {sc} != oracle {oc}"
    if len(sr) != len(orows):
        return f"{len(sr)} rows != oracle {len(orows)}"
    bad = sum(a != b for a, b in zip(sr, orows))
    return f"{bad} rows differ from the oracle" if bad else None


# --------------------------------------------------------------------------
# boxoffice_daily


def boxoffice_daily(run: Run) -> dict:
    """One simulated day: the day's KOFIC document through
    ``daily_pipeline`` (ingest, partitioned write, quality gate, both
    transforms forced), one showrange partition through
    ``run_model_incremental``, then one dashboard refresh: every catalog
    query in DASHBOARD built and its rows delivered to the driver as
    Arrow."""
    from data_pipeline_team5_spark import models
    from data_pipeline_team5_spark.pipeline import daily_pipeline
    from data_pipeline_team5_spark.plans.catalog import QUERIES

    spark = run.spark
    facts = os.path.join(run.inputs, "facts")
    warehouse = os.path.join(run.work, "box_office_daily")
    model_dir = os.path.join(run.work, "showrange_model")
    [path] = glob.glob(os.path.join(run.inputs, "kofic", "*.json"))
    with open(path) as f:
        doc = f.read()
    result = json.loads(doc)["boxOfficeResult"]
    chart = result["dailyBoxOfficeList"]
    ymd = result["showRange"][:8]
    day = f"{ymd[:4]}-{ymd[4:6]}-{ymd[6:]}"
    t_day = time.perf_counter()

    def ingest():
        outs = daily_pipeline(spark, doc, warehouse)
        tok = run.spans.open("pipeline.transform")
        daily = outs["daily"].collect()
        pivot = outs["pivot"].collect()
        run.spans.close(tok)
        tok = run.spans.open("models.run")
        ran = models.run_model_incremental(
            spark, models.render_showrange,
            spark.read.parquet(warehouse), model_dir, [day],
        )
        run.spans.close(tok)
        return daily, pivot, ran

    def check_ingest(out):
        daily, pivot, ran = out
        want = sum(int(m["salesAmt"]) for m in chart)
        if len(daily) != 1 or daily[0]["total_sales_sum"] != want:
            return f"daily transform {daily} != one row summing {want}"
        if len(pivot) != len(chart):
            return f"pivot has {len(pivot)} rows, chart {len(chart)}"
        if ran != [day]:
            return f"model materialized {ran}, expected [{day}]"
        return None

    run.op("ingest_day", ingest, check_ingest)
    t_refresh = time.perf_counter()
    results = {}
    for q in DASHBOARD:
        def build_and_run(q=q):
            tok = run.spans.open(f"plans.{q}.build")
            df = QUERIES[q].fn(spark, facts)
            run.spans.close(tok)
            tok = run.spans.open(f"plans.{q}.run")
            tbl = df.toArrow()
            run.spans.close(tok)
            return tbl

        results[q] = run.op(f"plans.{q}", build_and_run)
    now = time.perf_counter()
    day_s, refresh_s = now - t_day, now - t_refresh

    # Output checks, outside the timed region: every delivered dashboard
    # result against the query's DuckDB oracle over the same inputs.
    import duckdb

    from data_pipeline_team5_spark.plans.catalog import TABLES

    con = duckdb.connect()
    for t in TABLES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM "
            f"read_parquet('{facts}/{t}.parquet')"
        )
    for q, tbl in results.items():
        if tbl is None:
            continue
        res = con.execute(QUERIES[q].oracle)
        want = normalize([d[0] for d in res.description], res.fetchall())
        run.verify(f"oracle.{q}", _compare(normalize(*_arrow_rows(tbl)), want))
    con.close()
    return {"day": day, "day_s": day_s, "refresh_s": refresh_s}


# --------------------------------------------------------------------------
# daily_fold


def _curate(run: Run, cmd: str, argv: list[str]) -> dict | None:
    """One ``curate.main`` call; its JSON summary line is returned (and
    kept off this program's stdout, whose last line is the result)."""
    from data_pipeline_team5_spark import curate

    def call():
        buf = io.StringIO()
        with contextlib.redirect_stdout(buf):
            rc = curate.main([cmd, *argv])
        if rc != 0:
            raise RuntimeError(f"curate {cmd} exited {rc}")
        return json.loads(buf.getvalue().strip().splitlines()[-1])

    return run.op(f"curate.{cmd}", call)


def _read(path: str, columns: list[str] | None = None):
    """A parquet root read with pyarrow, so the checks run no Spark jobs
    (files starting with ``_`` or ``.``, such as ``_manifest/``, are
    skipped)."""
    import pyarrow.dataset as pads

    return pads.dataset(path, format="parquet", partitioning="hive").to_table(
        columns=columns or []
    )


def _rows(path: str) -> int:
    return _read(path).num_rows


def daily_fold(run: Run) -> dict:
    """The curation daily loop through ``curate.main``: ``init-corpus``
    and ``build-index`` on the base corpus, one ``incremental
    --fold-batch-id`` per daily batch, the arrival files through
    ``stream``, then ``compact`` of all four stores."""
    cur = os.path.join(run.inputs, "curation")
    w = run.work
    s = {k: os.path.join(w, k) for k in ("corpus", "sig", "key", "out")}
    base = os.path.join(cur, "base.parquet")
    batches = sorted(glob.glob(os.path.join(cur, "day*.parquet")))
    arrivals = os.path.join(cur, "arrivals")
    n_arrivals = len(glob.glob(os.path.join(arrivals, "*.parquet")))
    store = ["--corpus", s["corpus"], "--sig", s["sig"], "--key", s["key"],
             "--out", s["out"]]
    folds = []
    _curate(run, "init-corpus", ["--docs", base, "--corpus", s["corpus"]])
    _curate(run, "build-index", ["--docs", s["corpus"], "--sig", s["sig"],
                                 "--key", s["key"]])
    for path in batches:
        fold = os.path.basename(path).split(".")[0]
        out = _curate(run, "incremental", ["--new", path, *store,
                                           "--fold-batch-id", fold])
        if run.tracer is not None:
            run.tracer.probe_pins("fold")
        folds.append({"fold": fold, "new": None,
                      "kept": None if out is None else out["kept"]})
    stream = _curate(run, "stream", ["--arrivals", arrivals, *store])
    # Untimed: the store state compaction must preserve.
    before, pre_compact = {}, []
    if os.path.isdir(s["out"]):
        before = {k: _rows(p) for k, p in s.items()}
        pre_compact = _read(
            s["out"], ["doc_id", "bin_id", "batch_id"]
        ).to_pylist()
    _curate(run, "compact", ["--roots", *s.values()])

    # Output checks, outside the timed region.
    for f, path in zip(folds, batches):
        f["new"] = _rows(path)
        if f["kept"] is not None:
            run.verify(f"check.kept.{f['fold']}",
                       None if 0 < f["kept"] <= f["new"]
                       else f"kept {f['kept']} of {f['new']} new docs")
    if stream is not None:
        got = len(stream["batches"])
        run.verify("check.stream_batches", None if got == n_arrivals
                   else f"{got} micro-batches for {n_arrivals} files")
    if pre_compact:
        ids = [r["doc_id"] for r in pre_compact]
        run.verify("check.doc_id_unique", None if len(ids) == len(set(ids))
                   else f"{len(ids) - len(set(ids))} duplicate doc_ids")
        owner: dict[int, str] = {}
        clash = 0
        for r in pre_compact:
            clash += owner.setdefault(r["bin_id"], r["batch_id"]) != (
                r["batch_id"])
        run.verify("check.bin_id_global", None if not clash
                   else f"{clash} rows share a bin_id across batches")
        after = {k: _rows(p) for k, p in s.items()}
        run.verify("check.compact_rows", None if after == before
                   else f"compaction changed row counts {before}->{after}")
        parts = {
            k: sorted(e for e in os.listdir(p) if e.startswith("batch_id="))
            for k, p in s.items()
        }
        run.verify("check.compact_parts",
                   None if all(v == ["batch_id=base"] for v in parts.values())
                   else f"partitions after compaction: {parts}")
    # Digest of the compacted assignments: a rerun of the seed must
    # reproduce it (checked against earlier runs by the caller).
    rows = sorted(
        (r["doc_id"], r["bin_id"])
        for r in _read(s["out"], ["doc_id", "bin_id"]).to_pylist()
    ) if os.path.isdir(s["out"]) else []
    digest = hashlib.sha256(repr(rows).encode())
    return {
        "folds": folds,
        "n_arrivals": n_arrivals,
        "out_rows": len(rows),
        "out_digest": digest.hexdigest() if not run.failed else None,
        "stream_batches": None if stream is None else stream["batches"],
    }
