"""Seeded workload inputs (cached on disk) and output checks.

Every input is a pure function of the benchmark seed: the seed is the
page generator's own seed (``sources.pages.gen_page(row_id, seed)``),
so two seeds give two different corpora of the same shape. Every
corpus also carries the same four scanned PDFs, one per scanned
payload class (bilevel, G4, Flate, DCT). Scans are ~0.5% of generated
rows, so at these sizes a seed would otherwise have some classes and
not others: the per-class kernel cost could not be read on every
seed, and the worker memory peak, which the pure-Python DCT decode
sets, would come and go with the seed.

Inputs are cached under ``perfbench/.cache`` keyed by workload, seed
and a hash of the generator sources plus this file, so a generator
change can never benchmark stale inputs. What the job itself commits
(the ``resume_delta`` pre-commit) is never cached: it is rebuilt by
the code under test in every run.
"""

from __future__ import annotations

import gzip
import hashlib
import json
import os
import random
import shutil

import pyarrow as pa
import pyarrow.parquet as pq

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
PKG = os.path.join(ROOT, "credit_ocr_system_spark")

WARC_RECORDS = 400       # crawl records, ~90% of them 200-OK pages
WARC_FILES = 8           # one scan task per file
RESUME_PAGES = 1000
RESUME_NEW_SHARE = 0.10  # share of the corpus the timed job adds
RESUME_FILES = 4
KERNEL_SAMPLE = 8        # urls compared byte for byte per rep

SCAN_SEED = 42              # generator seed of the shared scanned PDFs
SCAN_ROWS_FROM = 1_000_000  # their row ids: past any corpus, so urls differ

_PAGES_SCHEMA = pa.schema([
    ("url", pa.string()), ("warc_ts", pa.timestamp("us", tz="UTC")),
    ("html", pa.binary()), ("text", pa.string()), ("lang", pa.string())])


def gen_version() -> str:
    h = hashlib.sha256()
    for rel in ("sources/pages.py", "sources/pdf_write.py",
                "sources/warc.py"):
        with open(os.path.join(PKG, rel), "rb") as fh:
            h.update(fh.read())
    with open(os.path.abspath(__file__), "rb") as fh:
        h.update(fh.read())
    return h.hexdigest()[:12]


def _write_warc(out: str, seed: int) -> None:
    from credit_ocr_system_spark.sources.warc import (build_warc_gz,
                                                      corpus_rows)

    rows = corpus_rows(0, WARC_RECORDS, seed) + [
        corpus_rows(r, r + 1, SCAN_SEED)[0] for r in scan_row_ids()]
    per = -(-len(rows) // WARC_FILES)
    ok = []
    for fi in range(WARC_FILES):
        part = rows[fi * per:(fi + 1) * per]
        with open(os.path.join(out, warc_file(fi)), "wb") as fh:
            fh.write(build_warc_gz(part))
        # what warc_pages → ok_pages must hand the job: 200s with a body
        ok += [(r["url"], r["html"], warc_file(fi)) for r in part
               if r.get("http_status", 200) == 200 and r["html"]]
    url, html, name = zip(*ok)
    pq.write_table(pa.table({"url": url, "html": html, "file": name}),
                   os.path.join(out, "expect.parquet"))


def _write_pages(out: str, seed: int) -> None:
    from credit_ocr_system_spark.sources.pages import gen_page

    rows = ([gen_page(i, seed) for i in range(RESUME_PAGES)]
            + [gen_page(r, SCAN_SEED) for r in scan_row_ids()])
    os.makedirs(os.path.join(out, "pages"))
    per = -(-len(rows) // RESUME_FILES)
    for fi in range(RESUME_FILES):
        part = rows[fi * per:(fi + 1) * per]
        pq.write_table(
            pa.Table.from_pylist(part, schema=_PAGES_SCHEMA),
            os.path.join(out, "pages", f"part-{fi:05d}.parquet"))
    pq.write_table(pa.table({"url": [r["url"] for r in rows],
                             "html": [r["html"] for r in rows]}),
                   os.path.join(out, "expect.parquet"))


def scan_row_ids() -> list[int]:
    """Row ids of the first 200-OK crawl record of each scanned class
    in generator seed ``SCAN_SEED`` from ``SCAN_ROWS_FROM`` on (found
    once, ~5,000 rows in, then cached)."""
    from credit_ocr_system_spark.sources.warc import corpus_rows

    path = os.path.join(HERE, ".cache", f"scans-{gen_version()}.json")
    if os.path.isfile(path):
        with open(path, encoding="utf-8") as fh:
            return json.load(fh)
    found: dict[str, int] = {}
    rid = SCAN_ROWS_FROM
    while len(found) < len(KERNEL_CLASSES) - 2:  # all but html, digital
        row = corpus_rows(rid, rid + 1, SCAN_SEED)[0]
        if row.get("http_status", 200) == 200 and row["html"]:
            cls = payload_class(row["html"])
            if cls not in ("html", "digital"):
                found.setdefault(cls, rid)
        rid += 1
    os.makedirs(os.path.dirname(path), exist_ok=True)
    tmp = f"{path}.tmp{os.getpid()}"
    with open(tmp, "w", encoding="utf-8") as fh:
        json.dump(sorted(found.values()), fh)
    os.replace(tmp, path)
    return sorted(found.values())


def inputs(workload: str, seed: int) -> str:
    """Directory holding the workload's inputs for ``seed``; built on
    first use (into a temporary sibling, renamed when complete)."""
    cache = os.path.join(HERE, ".cache")
    path = os.path.join(cache, f"{workload}-{gen_version()}-s{seed}")
    if os.path.isdir(path):
        return path
    tmp = f"{path}.tmp{os.getpid()}"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    (_write_warc if workload == "warc_crawl" else _write_pages)(tmp, seed)
    os.replace(tmp, path)
    return path


def warc_file(i: int) -> str:
    return f"crawl-{i:05d}.warc.gz"


def records_in(path: str, name: str) -> int:
    """OK records of one WARC file of a warc_crawl input."""
    t = pq.read_table(os.path.join(path, "expect.parquet"),
                      columns=["file"])
    return t.column("file").to_pylist().count(name)


def expected(path: str) -> dict[str, bytes]:
    """url → payload the job is expected to commit."""
    t = pq.read_table(os.path.join(path, "expect.parquet"))
    return dict(zip(t.column("url").to_pylist(),
                    t.column("html").to_pylist()))


def new_urls(urls, seed: int) -> set[str]:
    """The seeded ~10% of the corpus the resume_delta pre-commit leaves
    out (so the timed job commits exactly these)."""
    ordered = sorted(urls)
    return set(random.Random(seed).sample(
        ordered, max(1, int(len(ordered) * RESUME_NEW_SHARE))))


# ------------------------------------------------------------- checks

def committed(table_root: str, columns: list[str]) -> pa.Table:
    """The sink's current view, read from its manifest with pyarrow."""
    from credit_ocr_system_spark.plans.pipeline import SnapshotSink

    return pa.concat_tables(
        pq.read_table(p, columns=columns)
        for p in SnapshotSink(table_root).committed_paths())


def run_rows(table_root: str, run_id: str, columns: list[str]) -> pa.Table:
    """One run's own snapshot of a sink."""
    return pq.read_table(os.path.join(table_root, f"snap-{run_id}"),
                         columns=columns)


def wet_records(wet_run_dir: str) -> int:
    n = 0
    for name in sorted(os.listdir(wet_run_dir)):
        if name.endswith(".warc.wet.gz"):
            with gzip.open(os.path.join(wet_run_dir, name)) as fh:
                n += sum(1 for line in fh
                         if line == b"WARC-Type: conversion\r\n")
    return n


def check_rep(out_root: str, wet_dir: str | None, stats: dict,
              expect: dict[str, bytes], fresh: set[str] | None,
              seed: int) -> tuple[list[str], int]:
    """Invariants of one finished job; returns the failures and the
    number of documents this run committed as error rows."""
    from credit_ocr_system_spark.kernel.extract import extract_document

    bad = []
    run_id = stats.get("run_id")
    want_new = set(expect) if fresh is None else fresh
    if stats.get("skipped") or stats.get("n_docs") != len(want_new):
        return [f"job committed {stats.get('n_docs')} docs, "
                f"expected {len(want_new)} ({stats})"], 0
    ext = committed(os.path.join(out_root, "extracted"), ["url"])
    urls = ext.column("url").to_pylist()
    if len(urls) != len(set(urls)):
        bad.append(f"extracted: {len(urls) - len(set(urls))} duplicate urls")
    if set(urls) != set(expect):
        bad.append(f"extracted: {len(set(urls) ^ set(expect))} urls "
                   "differ from the input")
    mine = run_rows(os.path.join(out_root, "extracted"), run_id,
                    ["url", "extracted_text", "spans", "error"])
    if set(mine.column("url").to_pylist()) != want_new:
        bad.append("this run did not commit exactly the new urls")
    status = committed(os.path.join(out_root, "doc_status"), ["url"])
    s_urls = status.column("url").to_pylist()
    if len(s_urls) != len(set(s_urls)) or set(s_urls) != set(expect):
        bad.append(f"doc_status: {len(s_urls)} rows for "
                   f"{len(set(s_urls))} urls, expected one per input url")
    n_ok = mine.column("error").null_count
    if wet_dir is not None:
        n_wet = wet_records(os.path.join(wet_dir, run_id))
        if not n_wet == stats.get("n_wet") == n_ok:
            bad.append(f"WET holds {n_wet} records (job said "
                       f"{stats.get('n_wet')}), expected {n_ok}")
    # the kernel is what the goldens certify: committed text and spans
    # must equal direct calls, byte for byte
    rows = {r["url"]: r for r in mine.to_pylist()}
    for url in random.Random(seed).sample(sorted(rows), min(
            KERNEL_SAMPLE, len(rows))):
        ref = extract_document(url, expect[url])
        got = rows[url]
        ref_spans = [(s["start"], s["end"], s["page"]) for s in ref["spans"]]
        got_spans = [(s["start"], s["end"], s["page"])
                     for s in got["spans"] or []]
        if (got["extracted_text"].encode("utf-8")
                != ref["extracted_text"].encode("utf-8")
                or got_spans != ref_spans):
            bad.append(f"kernel mismatch on {url}")
    return bad, mine.num_rows - n_ok


# ------------------------------------------------- kernel micro-bench

KERNEL_CLASSES = ("html", "digital", "bilevel", "g4", "flate", "dct")
KERNEL_PER_CLASS = 3


def payload_class(payload: bytes) -> str:
    """bench.py's payload classes, told apart by their markers."""
    if not payload.startswith(b"%PDF-"):
        return "html"
    if b"CCITTFaxDecode" in payload:
        return "g4"
    if b"DCTDecode" in payload:
        return "dct"
    if b"BitsPerComponent 1" in payload:
        return "bilevel"
    if (b"/Subtype /Image" in payload or b"/Subtype/Image" in payload
            or b" BI /W" in payload):
        return "flate"
    return "digital"


def kernel_cpu_ms(expect: dict[str, bytes]) -> dict[str, float]:
    """Single-core CPU ms per document of ``extract_document`` for each
    payload class, on the first few inputs of that class in url order
    (0 where the workload has none of the class)."""
    import time

    from credit_ocr_system_spark.kernel.extract import extract_document

    sample: dict[str, list] = {k: [] for k in KERNEL_CLASSES}
    for url in sorted(expect):
        docs = sample[payload_class(expect[url])]
        if len(docs) < KERNEL_PER_CLASS:
            docs.append((url, expect[url]))
    out = {}
    for k, docs in sample.items():
        if not docs:
            out[k] = 0.0
            continue
        extract_document(*docs[0])  # imports and table builds
        c0 = time.process_time()
        for url, payload in docs:
            extract_document(url, payload)
        out[k] = (time.process_time() - c0) * 1000.0 / len(docs)
    return out
