"""Per-layer tracing, installed from outside the program.

Only the traced run (``--trace 1``) installs any of this:

- span wrappers around public functions of each layer (module attributes
  are swapped for the run and restored by :meth:`Tracer.uninstall`);
- the Spark job-id watermark at each span boundary, so every Spark job is
  attributed to the spans that were open when it started (queries run one
  at a time, so an id range also catches jobs submitted from driver
  threads);
- REST stage counters from the UI-enabled session, fetched once after the
  measured region;
- a ``StreamingQueryListener`` for micro-batch progress, and the live
  persisted-RDD count after each fold and each micro-batch.

The harness's own operation spans (:class:`Spans`) are kept in the untraced
run too: they are one clock read per operation.
"""

from __future__ import annotations

import functools
import json
import os
import time
import urllib.request
from collections import Counter, defaultdict


class Spans:
    """Spans recorded in memory: (name, start, end, job_lo, job_hi)."""

    def __init__(self, job_watermark=None):
        self.records: list[tuple[str, float, float, int, int]] = []
        self._watermark = job_watermark or (lambda: 0)
        self.active: Counter[str] = Counter()  # names of the open spans

    def open(self, name: str) -> tuple[str, float, int]:
        self.active[name] += 1
        return name, time.perf_counter(), self._watermark()

    def close(self, token: tuple[str, float, int]) -> float:
        name, t0, lo = token
        t1 = time.perf_counter()
        self.active[name] -= 1
        self.records.append((name, t0, t1, lo, self._watermark()))
        return t1 - t0

    def walls(self, name: str) -> list[float]:
        return [t1 - t0 for n, t0, t1, _, _ in self.records if n == name]

    def jobs(self, name: str) -> list[range]:
        return [range(lo, hi) for n, _, _, lo, hi in self.records if n == name]


def _files(path: str) -> dict[str, int]:
    out = {}
    for d, _, names in os.walk(path):
        for n in names:
            if n.startswith("part-"):
                p = os.path.join(d, n)
                out[p] = os.path.getsize(p)
    return out


class Tracer:
    """Installs the per-layer spans and collects the layer counters."""

    # (module, attribute, span name, enclosing span): public functions of
    # each layer. With an enclosing span, a call is recorded only while
    # that span is open: ``curate stream`` and ``init-corpus`` call the
    # fold's functions too, and those calls are not the fold.
    WRAPPED = (
        ("data_pipeline_team5_spark.pipeline", "daily_ingest",
         "sources.ingest", None),
        ("data_pipeline_team5_spark.functions.checks", "run_checks",
         "functions.checks.gate", None),
        ("data_pipeline_team5_spark.pipeline", "curate_incremental_batch",
         "pipeline.curate_incremental_batch", "curate.incremental"),
        ("data_pipeline_team5_spark.pipeline", "append_corpus_batch",
         "pipeline.append_corpus_batch", "curate.incremental"),
    )

    def __init__(self, spark, spans: Spans):
        self.spark = spark
        self.sc = spark.sparkContext
        self.spans = spans
        self.self_s = 0.0  # time spent in tracer code inside the region
        self.pins = defaultdict(list)  # probe point -> live RDD counts
        self.progress: list[dict] = []
        self.writes: list[tuple[int, int]] = []  # (files, bytes) per write
        self._restore: list[tuple[object, str, object]] = []
        self._listener = None

    def persistent_rdds(self) -> int:
        return self.sc._jsc.getPersistentRDDs().size()

    def _swap(self, owner, attr: str, new) -> None:
        self._restore.append((owner, attr, getattr(owner, attr)))
        setattr(owner, attr, new)

    def _span(self, name: str, fn, within: str | None = None):
        spans = self.spans

        @functools.wraps(fn)
        def wrapper(*a, **kw):
            if within is not None and not spans.active[within]:
                return fn(*a, **kw)
            tok = spans.open(name)
            try:
                return fn(*a, **kw)
            finally:
                spans.close(tok)

        return wrapper

    def install(self) -> None:
        import importlib

        from pyspark.sql.readwriter import DataFrameWriter
        from pyspark.sql.streaming import StreamingQueryListener
        from pyspark.sql.streaming.readwriter import DataStreamWriter

        for mod, attr, name, within in self.WRAPPED:
            m = importlib.import_module(mod)
            self._swap(m, attr, self._span(name, getattr(m, attr), within))

        tracer = self
        parquet = DataFrameWriter.parquet

        @functools.wraps(parquet)
        def traced_parquet(writer, path, *a, **kw):
            t = time.perf_counter()
            before = _files(path)
            tracer.self_s += time.perf_counter() - t
            tok = tracer.spans.open("sources.write")
            try:
                return parquet(writer, path, *a, **kw)
            finally:
                tracer.spans.close(tok)
                t = time.perf_counter()
                new = {
                    p: s for p, s in _files(path).items() if p not in before
                }
                tracer.writes.append((len(new), sum(new.values())))
                tracer.self_s += time.perf_counter() - t

        self._swap(DataFrameWriter, "parquet", traced_parquet)

        foreach = DataStreamWriter.foreachBatch

        @functools.wraps(foreach)
        def traced_foreach(writer, func):
            def batch(df, batch_id):
                tok = tracer.spans.open("streaming.micro_batch")
                try:
                    return func(df, batch_id)
                finally:
                    tracer.spans.close(tok)
                    t = time.perf_counter()
                    tracer.pins["stream"].append(tracer.persistent_rdds())
                    tracer.self_s += time.perf_counter() - t

            return foreach(writer, batch)

        self._swap(DataStreamWriter, "foreachBatch", traced_foreach)

        class Progress(StreamingQueryListener):
            def onQueryStarted(self, event):
                pass

            def onQueryProgress(self, event):
                t = time.perf_counter()
                p = event.progress
                tracer.progress.append({
                    "batch": p.batchId,
                    "rows": p.numInputRows,
                    "duration_ms": dict(p.durationMs),
                })
                tracer.self_s += time.perf_counter() - t

            def onQueryIdle(self, event):
                pass

            def onQueryTerminated(self, event):
                pass

        self._listener = Progress()
        self.spark.streams.addListener(self._listener)

    def uninstall(self) -> None:
        for owner, attr, orig in reversed(self._restore):
            setattr(owner, attr, orig)
        self._restore.clear()
        if self._listener is not None:
            self.spark.streams.removeListener(self._listener)
            self._listener = None

    def probe_pins(self, point: str) -> None:
        t = time.perf_counter()
        self.pins[point].append(self.persistent_rdds())
        self.self_s += time.perf_counter() - t

    def _rest(self, path: str):
        base = (
            f"{self.sc.uiWebUrl}/api/v1/applications/{self.sc.applicationId}"
        )
        with urllib.request.urlopen(base + path, timeout=60) as r:
            return json.load(r)

    def fetch_stages(self) -> None:
        """Pull stage counters and the job -> stage map from the REST API
        once, after the measured region."""
        self.stage_metrics: dict[int, dict[str, float]] = {}
        for s in self._rest("/stages"):
            if s.get("status") == "SKIPPED":
                continue
            acc = self.stage_metrics.setdefault(
                s["stageId"], defaultdict(float)
            )
            acc["task_s"] += s.get("executorRunTime", 0) / 1e3
            acc["shuffle_mb"] += (
                s.get("shuffleReadBytes", 0) + s.get("shuffleWriteBytes", 0)
            ) / 1e6
            acc["input_mb"] += s.get("inputBytes", 0) / 1e6
            acc["spill_mb"] += (
                s.get("memoryBytesSpilled", 0) + s.get("diskBytesSpilled", 0)
            ) / 1e6
            acc["gc_s"] += s.get("jvmGcTime", 0) / 1e3
        self.job_stages = {
            j["jobId"]: j.get("stageIds", []) for j in self._rest("/jobs")
        }

    def counters(self, job_ids) -> dict[str, float]:
        """Summed stage counters of a set of jobs; a stage shared by two
        of the jobs (a reused shuffle) is counted once."""
        jobs = [j for j in job_ids if j in self.job_stages]
        sids = {
            s for j in jobs for s in self.job_stages[j]
            if s in self.stage_metrics
        }
        out = defaultdict(float, jobs=len(jobs), stages=len(sids))
        for s in sids:
            for k, v in self.stage_metrics[s].items():
                out[k] += v
        return dict(out)
