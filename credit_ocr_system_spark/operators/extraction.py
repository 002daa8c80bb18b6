"""Spark extraction stage: pages table → structured extraction rows.

One Arrow-batched ``mapInArrow`` over the pages table runs the fused
per-document kernel (parse → reading order → rows → merge → pairs),
i.e. the reference's S3+S4+S5+G1-G8 chain in a single pass over each
document's bytes (SURVEY.md §3.2). Everything downstream of this stage
is native DataFrame code.

Why ``mapInArrow`` (not ``mapInPandas``): the stage's output is nested
(arrays of element/pair structs). Building a pandas frame of Python
object columns and letting the serializer coerce it costs more than
the kernel itself; constructing the Arrow RecordBatch directly
(``RecordBatch.from_pylist`` with an explicit schema) measured ~2-4×
higher end-to-end throughput at local[32].

Scale notes:
* iterator form — per-executor setup is amortized across all batches
  (the reference re-initialized its OCR model per document,
  ``src/ocr/easyocr_client.py:23``; this design can't repeat that bug);
* Arrow batch size bounds worker memory: batches carry whole page
  payloads, so ``spark.sql.execution.arrow.maxRecordsPerBatch`` must
  be sized against payload bytes (default 1024 rows ≈ tens of MB at
  typical web-page sizes; lower it for large documents);
* per-row ``kernel_us`` and ``bytes_in`` feed the lineage sidecar so
  partition skew is observable, not guessed.
"""

from __future__ import annotations

import os
import time
from typing import Iterator

import pyarrow as pa

from pyspark.sql import DataFrame

_BBOX = ("struct<x1:double,y1:double,x2:double,y2:double,"
         "width:double,height:double>")

EXTRACTED_SCHEMA = (
    "url string, doc_kind string, page_count int, "
    "extracted_text string, "
    "spans array<struct<start:long,end:long,page:int>>, "
    f"elements array<struct<elem_idx:int,page_num:int,text:string,"
    f"confidence:double,bbox:{_BBOX}>>, "
    f"pairs array<struct<pair_idx:int,label:string,value:string,page:int,"
    f"confidence:double,pair_type:string,bounding_box:{_BBOX}>>, "
    "n_elements int, n_pairs int, bytes_in bigint, kernel_us bigint, "
    "link_canonical string, noindex boolean, "
    "title string, published string, "
    "base_href string, "
    "links array<struct<link_idx:int,href:string,url:string,"
    "anchor:string,nofollow:boolean>>, "
    "metas array<struct<meta_idx:int,name:string,content:string>>, "
    "error string"
)


_PA_BBOX = pa.struct([
    ("x1", pa.float64()), ("y1", pa.float64()),
    ("x2", pa.float64()), ("y2", pa.float64()),
    ("width", pa.float64()), ("height", pa.float64()),
])

# Hand-built mirror of EXTRACTED_SCHEMA: workers have no SparkSession,
# so the DDL string can't be parsed there.
PA_EXTRACTED_SCHEMA = pa.schema([
    ("url", pa.string()),
    ("doc_kind", pa.string()),
    ("page_count", pa.int32()),
    ("extracted_text", pa.string()),
    ("spans", pa.list_(pa.struct([
        ("start", pa.int64()), ("end", pa.int64()),
        ("page", pa.int32())]))),
    ("elements", pa.list_(pa.struct([
        ("elem_idx", pa.int32()), ("page_num", pa.int32()),
        ("text", pa.string()), ("confidence", pa.float64()),
        ("bbox", _PA_BBOX)]))),
    ("pairs", pa.list_(pa.struct([
        ("pair_idx", pa.int32()), ("label", pa.string()),
        ("value", pa.string()), ("page", pa.int32()),
        ("confidence", pa.float64()), ("pair_type", pa.string()),
        ("bounding_box", _PA_BBOX)]))),
    ("n_elements", pa.int32()),
    ("n_pairs", pa.int32()),
    ("bytes_in", pa.int64()),
    ("kernel_us", pa.int64()),
    ("link_canonical", pa.string()),
    ("noindex", pa.bool_()),
    ("title", pa.string()),
    ("published", pa.string()),
    ("base_href", pa.string()),
    ("links", pa.list_(pa.struct([
        ("link_idx", pa.int32()), ("href", pa.string()),
        ("url", pa.string()), ("anchor", pa.string()),
        ("nofollow", pa.bool_())]))),
    ("metas", pa.list_(pa.struct([
        ("meta_idx", pa.int32()), ("name", pa.string()),
        ("content", pa.string())]))),
    ("error", pa.string()),
])

_EMPTY_RESULT = {
    "doc_kind": "error", "page_count": 0, "extracted_text": "",
    "spans": [], "elements": [], "pairs": [],
}

# Poison-doc guard escape hatch: a single bad document must degrade to
# an error row, but a batch of >= this many rows where EVERY row
# errors is a systemic kernel regression (ImportError, schema bug,
# ...) — the job must fail fast, not "succeed" with 100% error rows.
# Set COS_SPARK_DISABLE_BATCH_ERROR_GUARD=1 (on the DRIVER — the
# value is captured when extract_pages() builds the UDF and ships to
# executors in its closure, so it works on a real cluster where
# executor environments differ) for corpora where wholly-broken
# shards are expected.
_BATCH_GUARD_MIN_ROWS = 32


def _guard_disabled_by_env() -> bool:
    return os.environ.get(
        "COS_SPARK_DISABLE_BATCH_ERROR_GUARD", "") == "1"


def _arrow_schema() -> pa.Schema:
    return PA_EXTRACTED_SCHEMA


def _extract_batches(
        batches: Iterator[pa.RecordBatch],
        guard_off: bool | None = None,
        carry: tuple[str, ...] = ()) -> Iterator[pa.RecordBatch]:
    # Once-per-worker initialization (iterator-UDF prologue).
    from credit_ocr_system_spark.kernel.extract import extract_document

    if guard_off is None:
        guard_off = _guard_disabled_by_env()
    schema = _arrow_schema()
    for batch in batches:
        urls = batch.column("url").to_pylist()
        payloads = batch.column("html").to_pylist()
        rows = []
        n_errors = 0
        for url, payload in zip(urls, payloads):
            t0 = time.perf_counter_ns()
            try:
                res = extract_document(url, payload)
                err = None
            except Exception as ex:  # poison-doc guard: at 10^12 rows
                # one pathological document must degrade to an error
                # row, never fail the task (and with it, after
                # spark.task.maxFailures retries, the job)
                res = _EMPTY_RESULT
                err = f"{type(ex).__name__}: {ex}"[:500]
                n_errors += 1
            elapsed_us = (time.perf_counter_ns() - t0) // 1000
            rows.append({
                "url": url,
                "doc_kind": res["doc_kind"],
                "page_count": res["page_count"],
                "extracted_text": res["extracted_text"],
                "spans": res["spans"],
                "elements": [
                    {"elem_idx": i, "page_num": e["page_num"],
                     "text": e["text"], "confidence": e["confidence"],
                     "bbox": e["bbox"]}
                    for i, e in enumerate(res["elements"])
                ],
                "pairs": [
                    {"pair_idx": i, "label": p["label"],
                     "value": p["value"], "page": p["page"],
                     "confidence": p["confidence"],
                     "pair_type": p.get("type"),
                     "bounding_box": p["bounding_box"]}
                    for i, p in enumerate(res["pairs"])
                ],
                "n_elements": len(res["elements"]),
                "n_pairs": len(res["pairs"]),
                "bytes_in": len(payload) if payload is not None else 0,
                "kernel_us": elapsed_us,
                "link_canonical": res.get("link_canonical") or None,
                "noindex": bool(res.get("noindex", False)),
                "title": res.get("title") or None,
                "published": res.get("published") or None,
                "base_href": res.get("base_href") or None,
                "links": res.get("links", []),
                "metas": res.get("metas", []),
                "error": err,
            })
        if (not guard_off and n_errors == len(rows)
                and n_errors >= _BATCH_GUARD_MIN_ROWS):
            raise RuntimeError(
                f"extraction kernel failed on ALL {n_errors} documents "
                f"of a batch — systemic regression, failing the task "
                f"instead of emitting error rows. First error: "
                f"{rows[0]['error']}")
        out = pa.RecordBatch.from_pylist(rows, schema=schema)
        if carry:
            # carried input columns ride along zero-copy: one output
            # row per input row, in input order
            out = pa.RecordBatch.from_arrays(
                out.columns + [batch.column(c) for c in carry],
                names=out.schema.names + list(carry))
        yield out


def extract_pages(pages: DataFrame,
                  carry: tuple[str, ...] = ()) -> DataFrame:
    """pages(url, warc_ts, html, text, lang) → extraction rows.

    Column pruning: only ``url`` and ``html`` cross the Arrow boundary
    — selecting first lets Parquet/Iceberg drop the other columns at
    the scan. ``carry`` names further input columns to pass through
    to the output (appended after ``error``, types unchanged); they
    never reach the kernel, so a consumer that needs one (the job's
    WET/WAT ``warc_ts``) reads it here instead of re-joining the
    input.
    """
    # capture the escape hatch on the DRIVER; the bool travels to
    # executors inside the serialized closure
    guard_off = _guard_disabled_by_env()
    schema = EXTRACTED_SCHEMA + "".join(
        f", `{c}` {pages.schema[c].dataType.simpleString()}"
        for c in carry)

    def run(batches: Iterator[pa.RecordBatch]) -> Iterator[pa.RecordBatch]:
        return _extract_batches(batches, guard_off=guard_off, carry=carry)

    return pages.select("url", "html", *carry).mapInArrow(
        run, schema=schema)
