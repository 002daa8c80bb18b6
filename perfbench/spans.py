"""Spans around the calls ``run_extraction_job`` makes into each
layer, plus Spark's own SQL-node and stage metrics.

Nothing inside the package changes: :meth:`Tracer.installed` swaps
the module-level names the job looks up at call time (and the
``SnapshotSink`` methods) for wrappers defined here, and restores them
on exit. A wrapped call that returns a DataFrame gets its ``count`` wrapped
too, so the actions the job runs on it (the extraction ``count()``,
the ``fields.count()``, the ``hot_keys`` re-read) become spans of
their own.

Spark SQL executions are assigned afterwards to the innermost span
open at their submission time; node metrics come from
``SQLAppStatusStore.planGraph``/``executionMetrics`` and stage metrics
from ``AppStatusStore.stageList``. Both stores work with the UI off.
"""

from __future__ import annotations

import functools
import os
import time
from contextlib import contextmanager

from pyspark.sql import DataFrame

import credit_ocr_system_spark.plans.pipeline as pipeline
import credit_ocr_system_spark.sources.warc as warc

# Names run_extraction_job resolves in plans.pipeline at call time.
PIPELINE_FUNCS = ("resume_filter", "detect_hot_domains", "extract_pages",
                  "fields_table", "partition_lineage", "doc_status")
SINK_METHODS = ("read_committed", "read_snapshot", "write_snapshot",
                "merge_upsert")
WARC_FUNCS = ("write_wet",)  # write_wat runs only with wat_dir, unused here


class Tracer:
    """In-memory span log: ``{name, parent, start, end, t0, t1}``
    (epoch seconds for alignment with Spark, perf-counter seconds for
    durations); ``parent`` is an index into :attr:`spans` or None."""

    def __init__(self) -> None:
        self.spans: list[dict] = []
        self._stack: list[int] = []

    @contextmanager
    def span(self, name: str):
        rec = {"name": name,
               "parent": self._stack[-1] if self._stack else None,
               "start": time.time(), "t0": time.perf_counter()}
        self.spans.append(rec)
        self._stack.append(len(self.spans) - 1)
        try:
            yield rec
        finally:
            self._stack.pop()
            rec["t1"] = time.perf_counter()
            rec["end"] = time.time()

    def _wrap(self, name: str, fn):
        @functools.wraps(fn)
        def traced(*args, **kwargs):
            with self.span(name):
                out = fn(*args, **kwargs)
            if isinstance(out, DataFrame):
                # an instance attribute shadows the class method
                out.count = self._wrap(f"{name}.count", out.count)
            return out
        return traced

    def _wrap_sink(self, method: str, fn):
        @functools.wraps(fn)
        def traced(sink, *args, **kwargs):
            table = os.path.basename(sink.root.rstrip("/"))
            return self._wrap(f"sink.{table}.{method}",
                              fn)(sink, *args, **kwargs)
        return traced

    @contextmanager
    def installed(self):
        saved = []
        for mod, names, wrap in (
                (pipeline, PIPELINE_FUNCS,
                 lambda n, f: self._wrap(f"pipeline.{n}", f)),
                (warc, WARC_FUNCS, lambda n, f: self._wrap(f"warc.{n}", f)),
                (pipeline.SnapshotSink, SINK_METHODS, self._wrap_sink)):
            for name in names:
                orig = getattr(mod, name)
                saved.append((mod, name, orig))
                setattr(mod, name, wrap(name, orig))
        try:
            yield self
        finally:
            for mod, name, orig in reversed(saved):
                setattr(mod, name, orig)

    def duration(self, i: int) -> float:
        return self.spans[i]["t1"] - self.spans[i]["t0"]

    def children(self, i: int | None) -> list[int]:
        return [j for j, s in enumerate(self.spans) if s["parent"] == i]

    def innermost(self, epoch_ms: float) -> int | None:
        """Deepest span whose [start, end] holds ``epoch_ms``."""
        best, depth = None, -1
        for i, s in enumerate(self.spans):
            if s["start"] * 1000 <= epoch_ms <= s["end"] * 1000:
                d, p = 0, s["parent"]
                while p is not None:
                    d, p = d + 1, self.spans[p]["parent"]
                if d > depth:
                    best, depth = i, d
        return best

    def export(self) -> list[dict]:
        return [{"name": s["name"], "parent": s["parent"],
                 "start": s["start"], "seconds": s["t1"] - s["t0"]}
                for s in self.spans]


# ----------------------------------------------------- Spark status

def _seq(scala_seq) -> list:
    it = scala_seq.iterator()
    out = []
    while it.hasNext():
        out.append(it.next())
    return out


_UNITS = {"B": 1, "KiB": 1 << 10, "MiB": 1 << 20, "GiB": 1 << 30,
          "TiB": 1 << 40, "ms": 1e-3, "s": 1.0, "m": 60.0, "h": 3600.0}


def parse_metric(text: str) -> float | None:
    """A formatted SQL metric (``"200"``, ``"6.1 s"``, or the
    ``"total (min, med, max ...)\\n824.9 KiB (...)"`` form) as a plain
    number: rows, bytes or seconds. None for forms without a total
    (averages)."""
    head = text.split("\n")[-1].split(" (")[0].split()
    try:
        value = float(head[0].replace(",", ""))
        return value * _UNITS[head[1]] if len(head) > 1 else value
    except (ValueError, KeyError, IndexError):
        return None


def wait_listeners(spark) -> None:
    """Let the listener bus deliver every event of finished actions."""
    spark.sparkContext._jsc.sc().listenerBus().waitUntilEmpty(30_000)


def sql_executions(spark, since_ms: float, until_ms: float) -> list[dict]:
    """Executions submitted in ``[since_ms, until_ms]``: id, root id,
    submission time, stage ids and every plan node with its metric
    values keyed by accumulator id (a persisted plan shows the same
    accumulators in later executions; callers dedupe on the id)."""
    store = spark._jsparkSession.sharedState().statusStore()
    out = []
    for e in _seq(store.executionsList()):
        if not since_ms <= e.submissionTime() <= until_ms:
            continue
        eid = e.executionId()
        values = store.executionMetrics(eid)
        nodes = []
        for n in _seq(store.planGraph(eid).allNodes()):
            metrics = {}
            for m in _seq(n.metrics()):
                v = values.get(m.accumulatorId())
                value = parse_metric(v.get()) if v.isDefined() else None
                if value is not None:
                    metrics[m.accumulatorId()] = (m.name(), value)
            nodes.append({"name": n.name(), "desc": n.desc(),
                          "metrics": metrics})
        out.append({"id": eid, "root": e.rootExecutionId(),
                    "submitted_ms": e.submissionTime(),
                    "stages": [int(s) for s in _seq(e.stages().toSeq())],
                    "nodes": nodes})
    return out


STAGE_FIELDS = ("executorRunTime", "jvmGcTime", "memoryBytesSpilled",
                "diskBytesSpilled", "shuffleReadBytes", "shuffleWriteBytes")


def stage_totals(spark, stage_ids: set[int]) -> dict[str, float]:
    """Task-metric totals over the given stages (every attempt).
    Spark 4.1's ``stageList`` takes five arguments from py4j."""
    sc = spark.sparkContext
    jvm = sc._jvm
    stages = sc._jsc.sc().statusStore().stageList(
        jvm.java.util.ArrayList(), False, False,
        sc._gateway.new_array(jvm.double, 0), jvm.java.util.ArrayList())
    totals = dict.fromkeys(STAGE_FIELDS, 0.0)
    for s in _seq(stages):
        if s.stageId() in stage_ids:
            for f in STAGE_FIELDS:
                totals[f] += getattr(s, f)()
    return totals


# ------------------------------------------------------ layer table

def _unique_nodes(execs: list[dict]) -> list[dict]:
    """Plan nodes with metrics, once per accumulator set (a persisted
    or reused plan fragment shows up in several executions); the
    largest reading of each accumulator wins."""
    nodes: dict[int, dict] = {}
    for e in execs:
        for n in e["nodes"]:
            if not n["metrics"]:
                continue
            seen = nodes.setdefault(min(n["metrics"]),
                                    {**n, "metrics": dict(n["metrics"])})
            for acc, (name, value) in n["metrics"].items():
                if value > seen["metrics"].get(acc, (name, 0.0))[1]:
                    seen["metrics"][acc] = (name, value)
    return list(nodes.values())


def _msum(nodes: list[dict], metric: str) -> float:
    return sum(v for n in nodes for name, v in n["metrics"].values()
               if name == metric)


def layer_metrics(spark, tracer: Tracer, input_dir: str, input_rows: int,
                  n_docs: int, kernel_s: float) -> tuple[dict, list[dict]]:
    """Per-layer readings of one traced job (the tracer's first span),
    and the job's SQL executions with the span each ran under."""
    job = 0
    wait_listeners(spark)
    root = tracer.spans[job]
    execs = sql_executions(spark, root["start"] * 1000 - 1,
                           root["end"] * 1000 + 1)
    for e in execs:
        i = tracer.innermost(e["submitted_ms"])
        e["span"] = tracer.spans[i]["name"] if i is not None else None
    stage = stage_totals(spark, {s for e in execs for s in e["stages"]})
    nodes = _unique_nodes(execs)

    def span_s(*names: str) -> float:
        return sum(tracer.duration(i) for i, s in enumerate(tracer.spans)
                   if s["name"] in names)

    mapin = [n for n in nodes if n["name"] == "MapInArrow"]
    kernel = [n for n in mapin if "doc_kind" in n["desc"]]
    parse = [n for n in mapin if "warc_file" in n["desc"]]
    scans = [n for n in nodes if n["name"].startswith("Scan")
             and input_dir in n["desc"]]
    python_run = _msum(kernel, "time to run Python workers")
    fields_spans = ("pipeline.fields_table.count", "sink.fields.write_snapshot")
    hot_spans = ("pipeline.detect_hot_domains", "sink.hot_keys.write_snapshot",
                 "sink.hot_keys.read_snapshot",
                 "sink.hot_keys.read_snapshot.count")
    top = tracer.children(job)
    return {
        # a WARC scan's rows come out of the parse, not the file listing
        "sources.scan_passes":
            _msum(parse or scans, "number of output rows") / input_rows,
        "sources.scan_task_s":
            _msum(scans, "scan time")
            + _msum(parse, "time to run Python workers"),
        "sources.input_bytes": _msum(scans, "size of files read"),
        "sources.warc.decode_s": _msum(parse, "time to run Python workers"),
        "sources.warc.wet_write_s": span_s("warc.write_wet"),
        "pipeline.actions": float(sum(1 for e in execs
                                      if e["root"] == e["id"])),
        "pipeline.resume_read_s": span_s("sink.extracted.read_committed",
                                         "pipeline.resume_filter"),
        "pipeline.exchanges": float(sum(1 for n in nodes
                                        if n["name"] == "Exchange")),
        "pipeline.shuffle_write_bytes": stage["shuffleWriteBytes"],
        "pipeline.shuffle_read_bytes": stage["shuffleReadBytes"],
        "hot_keys.s": span_s(*hot_spans),
        "extraction.python_sent_bytes_per_doc":
            _msum(kernel, "data sent to Python workers") / n_docs,
        "extraction.python_received_bytes_per_doc":
            _msum(kernel, "data returned from Python workers") / n_docs,
        "extraction.python_boot_s":
            _msum(kernel, "time to start Python workers"),
        "extraction.python_init_s":
            _msum(kernel, "time to initialize Python workers"),
        "extraction.python_run_s": python_run,
        "extraction.marshal_share":
            1.0 - kernel_s / python_run if python_run else 0.0,
        "fields.s": span_s(*fields_spans),
        "fields.evaluations": float(sum(
            1 for e in execs if e["span"] in fields_spans
            and e["root"] == e["id"])),
        "lineage.write_s": span_s("pipeline.partition_lineage",
                                  "sink.lineage.write_snapshot"),
        "sink.extracted.write_s": span_s("sink.extracted.write_snapshot"),
        "sink.fields.write_s": span_s("sink.fields.write_snapshot"),
        "sink.lineage.write_s": span_s("sink.lineage.write_snapshot"),
        "sink.hot_keys.write_s": span_s("sink.hot_keys.write_snapshot"),
        "sink.doc_status.merge_s": span_s("sink.doc_status.merge_upsert"),
        "spark.task_s": stage["executorRunTime"] / 1000.0,
        "spark.gc_s": stage["jvmGcTime"] / 1000.0,
        "spark.spill_bytes": (stage["memoryBytesSpilled"]
                              + stage["diskBytesSpilled"]),
        "trace.span_coverage":
            sum(tracer.duration(i) for i in top) / tracer.duration(job),
    }, [{k: e[k] for k in ("id", "root", "span", "stages")} for e in execs]
