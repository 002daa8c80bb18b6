"""WARC container source: writer/reader round-trip, dirty-tail
robustness, the Spark scan vs a driver-side parse, and the plan shape
(path-only binaryFile listing, one mapInArrow stage)."""

import io
import zlib

import pytest

from credit_ocr_system_spark.sources import warc as W
from credit_ocr_system_spark.sources.pages import gen_page

N = 30


@pytest.fixture(scope="module")
def rows():
    return [gen_page(i) for i in range(N)]


@pytest.fixture(scope="module")
def data(rows):
    return W.build_warc_gz(rows)


def _parse(data):
    return list(W.iter_warc_records(io.BytesIO(data).read))


def test_round_trip(rows, data):
    got = _parse(data)
    assert len(got) == N
    for want, rec in zip(rows, got):
        assert rec["url"] == want["url"]
        assert rec["warc_ts"] == want["warc_ts"]
        assert rec["html"] == want["html"]


def test_writer_is_deterministic(rows, data):
    assert W.build_warc_gz(rows) == data


def test_chunked_bodies_present_and_decoded(rows):
    # the writer frames hash(url)%5==0 bodies as chunked — make sure
    # the corpus actually exercises that path and decodes identically
    chunked = [r for r in rows if W._stable_mod(r["url"], 5) == 0]
    assert chunked, "corpus draw produced no chunked bodies"
    got = {r["url"]: r["html"] for r in _parse(W.build_warc_gz(rows))}
    for r in chunked:
        assert got[r["url"]] == r["html"]


def test_non_response_records_skipped(rows, data):
    # writer interleaves warcinfo + one request per response; only
    # responses come back, and record_idx counts responses only
    got = _parse(data)
    assert [r["record_idx"] for r in got] == list(range(N))
    no_req = _parse(W.build_warc_gz(rows, with_requests=False))
    assert [(r["url"], r["html"]) for r in no_req] == \
           [(r["url"], r["html"]) for r in got]


def test_truncated_tail_yields_complete_prefix(data):
    assert len(_parse(data[:-50])) == N - 1
    assert len(_parse(data[: len(data) // 2])) < N
    assert _parse(data[:10]) == []
    assert _parse(b"") == []


def test_corrupt_member_stops_cleanly(data):
    # flip bytes inside the LAST response's member: complete prefix
    # still parses, nothing raises
    bad = bytearray(data)
    bad[-60:-40] = b"\x00" * 20
    got = _parse(bytes(bad))
    assert len(got) in (N - 1, N)  # tail record lost or survived CRC


def test_multi_record_member(rows):
    # some writers concatenate several records into ONE gzip member
    recs = []
    for i, r in enumerate(rows[:4]):
        block = W._http_response(r["html"], chunked=False)
        recs.append(W._warc_record("response", [
            ("WARC-Target-URI", r["url"]),
            ("WARC-Date", W._warc_date(r["warc_ts"])),
            ("WARC-Record-ID", f"<urn:uuid:{i:032x}>"),
            ("Content-Type", "application/http; msgtype=response"),
        ], block))
    co = zlib.compressobj(6, zlib.DEFLATED, W._GZ_WBITS)
    member = co.compress(b"".join(recs)) + co.flush()
    got = _parse(member)
    assert [(r["url"], r["html"]) for r in got] == \
           [(r["url"], r["html"]) for r in rows[:4]]


def test_mangled_http_envelope_yields_empty_not_raise():
    rec = W._warc_record("response", [
        ("WARC-Target-URI", "https://x.example/a"),
        ("WARC-Date", "2024-01-01T00:00:00Z"),
        ("Content-Type", "application/http; msgtype=response"),
    ], b"HTTP/1.1 200 OK\r\nTransfer-Encoding: chunked\r\n\r\nZZZ")
    co = zlib.compressobj(6, zlib.DEFLATED, W._GZ_WBITS)
    got = _parse(co.compress(rec) + co.flush())
    assert len(got) == 1 and got[0]["html"] == b""


def test_small_read_granularity(data, rows):
    class Tiny:
        def __init__(self, b):
            self.b, self.p = b, 0

        def read(self, n):
            n = min(n, 17)
            out = self.b[self.p:self.p + n]
            self.p += len(out)
            return out

    got = list(W.iter_warc_records(Tiny(data).read))
    assert len(got) == N
    assert got[-1]["html"] == rows[-1]["html"]


# ----------------------------------------------------------- Spark scan

@pytest.fixture(scope="module")
def corpus_dir(tmp_path_factory):
    d = tmp_path_factory.mktemp("warc_corpus")
    W.write_warc_corpus(str(d), n_pages=40, n_files=3)
    return str(d)


def test_spark_scan_matches_driver_parse(spark, corpus_dir, rows):
    import os

    got = {r["url"]: r for r in
           W.warc_pages(spark, corpus_dir).collect()}
    want = []
    for f in sorted(os.listdir(corpus_dir)):
        want.extend(W.read_warc_file(os.path.join(corpus_dir, f)))
    assert len(got) == len(want) == 40
    for w in want:
        g = got[w["url"]]
        assert bytes(g["html"]) == w["html"]
        assert g["warc_ts"].replace(tzinfo=w["warc_ts"].tzinfo) \
            == w["warc_ts"]


def test_warc_feeds_extraction(spark, corpus_dir):
    # the full CC ingestion path: WARC scan → extraction kernel
    from credit_ocr_system_spark.operators.extraction import (
        extract_pages,
    )
    from credit_ocr_system_spark.kernel.extract import extract_document

    docs = extract_pages(
        W.warc_pages(spark, corpus_dir).select("url", "html"))
    got = {r["url"]: r for r in
           docs.select("url", "n_elements", "extracted_text")
               .collect()}
    assert len(got) == 40
    probe = gen_page(7)
    res = extract_document(probe["url"], probe["html"])
    assert got[probe["url"]]["n_elements"] == len(res["elements"])
    assert got[probe["url"]]["extracted_text"] \
        == res["extracted_text"]


def test_status_and_mime_parse(rows):
    # writer records what the row says; reader recovers it from the
    # stored envelope — including the PDF mime by payload magic
    decorated = [dict(r) for r in rows]
    decorated[3]["http_status"] = 404
    decorated[3]["html"] = b"<html>gone</html>"
    decorated[4]["http_status"] = 301
    decorated[4]["html"] = b""
    decorated[4]["http_headers"] = (("Location", "https://y/"),)
    got = _parse(W.build_warc_gz(decorated))
    assert got[0]["http_status"] == 200
    assert got[3]["http_status"] == 404
    assert got[3]["html"] == b"<html>gone</html>"
    assert got[4]["http_status"] == 301 and got[4]["html"] == b""
    for w, g in zip(decorated, got):
        want_mime = ("application/pdf" if w["html"][:4] == b"%PDF"
                     else "text/html")
        assert g["mime"] == want_mime, g["url"]


def test_corpus_draws_failures_and_ok_pages_gates(spark, corpus_dir):
    pages = W.warc_pages(spark, corpus_dir)
    by_status = {r["http_status"]: r["cnt"] for r in
                 pages.groupBy("http_status").count()
                      .withColumnRenamed("count", "cnt").collect()}
    assert by_status.get(404) and by_status.get(301)
    ok = W.ok_pages(pages)
    assert ok.count() == by_status[200]
    kept = ok.select("http_status", "mime").distinct().collect()
    assert all(r["http_status"] == 200
               and r["mime"] in W.EXTRACTABLE_MIMES for r in kept)


def test_offsets_are_seek_keys(data, rows):
    # the offset of every response record must be enterable cold: a
    # reader starting there sees that record first (the CDX contract)
    got = _parse(data)
    offs = [r["offset"] for r in got]
    assert offs == sorted(offs) and offs[0] > 0  # warcinfo precedes
    for rec in got[::7]:
        tail = _parse(data[rec["offset"]:])
        assert tail[0]["url"] == rec["url"]
        assert tail[0]["html"] == rec["html"]


def test_member_limit_stops_before_decompress(data):
    got = _parse(data)
    cut = got[10]["offset"]
    import io as _io
    members = list(W._iter_members_with_offsets(
        _io.BytesIO(data).read, limit=cut))
    assert members and members[-1][0] < cut
    # responses before the cut: exactly the first 10
    n = sum(1 for _, m in members
            for r in W._records_in_member(m) if r["type"] == "response")
    assert n == 10


def test_sliced_scan_equals_full_scan(spark, corpus_dir):
    full = {r["url"]: (bytes(r["html"]), r["warc_ts"], r["offset"])
            for r in W.warc_pages(spark, corpus_dir).collect()}
    sliced = {r["url"]: (bytes(r["html"]), r["warc_ts"], r["offset"])
              for r in W.warc_pages_sliced(
                  spark, corpus_dir, records_per_slice=7).collect()}
    assert sliced == full and len(full) == 40


def test_slices_partition_each_file(spark, corpus_dir):
    sl = W.warc_slices(spark, corpus_dir, records_per_slice=7)
    rows = sorted((r["path"], r["start"], r["end"])
                  for r in sl.collect())
    # 40 pages over 3 files: 14+14+12 records → ceil(14/7)=2 slices
    # per file; consecutive slices tile [first_offset, file_length)
    assert len(rows) == 6
    by_file = {}
    for p, s, e in rows:
        assert s < e
        by_file.setdefault(p, []).append((s, e))
    for spans in by_file.values():
        for (_, e0), (s1, _) in zip(spans, spans[1:]):
            assert e0 == s1


def test_index_reuse_skips_reindex(spark, corpus_dir):
    idx = W.warc_index(spark, corpus_dir)
    out = W.warc_pages_sliced(spark, corpus_dir,
                              records_per_slice=9, index=idx)
    assert out.count() == 40


def test_scan_plan_paths_only_single_arrow_stage(spark, corpus_dir):
    df = W.warc_pages(spark, corpus_dir)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert plan.count("MapInArrow") == 1
    assert "Exchange" not in plan  # map-only: no shuffle anywhere
    # the binaryFile scan must read path metadata only — never the
    # file content column (files stream inside the Arrow stage)
    scan = [ln for ln in plan.splitlines() if "FileScan" in ln]
    assert scan and "content" not in scan[0]


# ------------------------------------------------------------ WET sink

@pytest.fixture(scope="module")
def wet_docs(spark):
    from datetime import datetime, timezone

    rows = [("https://ex.org/a", datetime(2024, 5, 1, 12, 0, 0,
                                          tzinfo=timezone.utc),
             "plain ascii body"),
            ("https://ex.org/b", datetime(2024, 5, 2, 3, 4, 5,
                                          tzinfo=timezone.utc),
             "umlauts äöü and € signs"),
            ("https://ex.org/c", datetime(2024, 5, 3, 23, 59, 59,
                                          tzinfo=timezone.utc),
             ""),  # empty extraction still gets a record
            ]
    return spark.createDataFrame(
        rows, "url string, warc_ts timestamp, extracted_text string")


def test_wet_round_trip(spark, wet_docs, tmp_path):
    # write_wet → warc_pages(types=conversion) is a lossless cycle:
    # the text comes back UTF-8 in `html`, mime text/plain, no status
    out = str(tmp_path / "wet")
    n = W.write_wet(wet_docs.repartition(2), out)
    assert n == 3
    back = {r["url"]: r for r in
            W.warc_pages(spark, out, glob="*.warc.wet.gz",
                         types=("conversion",)).collect()}
    want = {r["url"]: r for r in wet_docs.collect()}
    assert back.keys() == want.keys()
    for url, w in want.items():
        g = back[url]
        assert bytes(g["html"]).decode("utf-8") == w["extracted_text"]
        assert g["mime"] == "text/plain"
        assert g["http_status"] is None  # no HTTP envelope in WET
        assert g["warc_ts"].replace(tzinfo=None) \
            == w["warc_ts"].replace(tzinfo=None)


def test_wet_record_col_matches_writer(spark, wet_docs, tmp_path):
    # the pure-codegen record column and the Python sink must emit
    # byte-identical records — one contract, two implementations
    out = str(tmp_path / "wet1")
    W.write_wet(wet_docs.coalesce(1), out)
    import glob as _g
    import os

    files = _g.glob(os.path.join(out, "*.warc.wet.gz"))
    assert len(files) == 1
    # each gzip member is exactly one record: the member iterator
    # recovers the per-record bytes the sink emitted
    members = list(W._iter_member_bytes(open(files[0], "rb").read))
    got_cols = {r["url"]: r["rec"] for r in wet_docs.select(
        "url", W.wet_record_col().alias("rec")).collect()}
    assert len(members) == len(got_cols)
    for m in members:
        # WARC-Target-URI line identifies the record
        uri = [ln for ln in m.split(b"\r\n")
               if ln.startswith(b"WARC-Target-URI: ")][0]
        url = uri.split(b": ", 1)[1].decode()
        assert got_cols[url].encode("utf-8") == m, url


def test_wet_empty_partitions_write_no_files(spark, wet_docs, tmp_path):
    out = str(tmp_path / "wet2")
    n = W.write_wet(wet_docs.repartition(8), out)
    import glob as _g
    import os

    files = _g.glob(os.path.join(out, "*.warc.wet.gz"))
    assert n == 3 and 0 < len(files) <= 3  # no empty-partition files


def test_ok_pages_fuses_into_scan_stage(spark, corpus_dir):
    # the pre-extraction gate is pure codegen predicates: it must not
    # add an Exchange or a second Python stage over the WARC scan
    df = W.ok_pages(W.warc_pages(spark, corpus_dir))
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert plan.count("MapInArrow") == 1
    assert "Exchange" not in plan


# -------------------------------------- HTTP envelope: encoding/charset

def test_content_encoding_round_trip(rows):
    decorated = [dict(r) for r in rows]
    decorated[0]["content_encoding"] = "gzip"
    decorated[1]["content_encoding"] = "deflate"
    got = _parse(W.build_warc_gz(decorated))
    for i in (0, 1):
        assert got[i]["html"] == rows[i]["html"], i  # inflated back


def test_broken_raw_deflate_tolerated():
    import io
    import zlib as _z

    # the classic broken server: DEFLATE bits without the zlib wrapper
    payload = b"<html><body>Label: value body text</body></html>"
    co = _z.compressobj(6, _z.DEFLATED, -_z.MAX_WBITS)
    raw = co.compress(payload) + co.flush()
    block = (b"HTTP/1.1 200 OK\r\nContent-Type: text/html\r\n"
             b"Content-Encoding: deflate\r\nContent-Length: "
             + str(len(raw)).encode() + b"\r\n\r\n" + raw)
    rec = W._warc_record("response", [
        ("WARC-Target-URI", "https://x/"),
        ("WARC-Date", "2024-01-01T00:00:00Z"),
        ("Content-Type", "application/http; msgtype=response"),
    ], block)
    co2 = _z.compressobj(6, _z.DEFLATED, W._GZ_WBITS)
    data = co2.compress(rec) + co2.flush()
    got = _parse(data)
    assert got[0]["html"] == payload


def _one_response(body: bytes, encoding: str):
    block = (b"HTTP/1.1 200 OK\r\nContent-Type: text/html\r\n"
             b"Content-Encoding: " + encoding.encode("ascii")
             + b"\r\nContent-Length: " + str(len(body)).encode("ascii")
             + b"\r\n\r\n" + body)
    rec = W._warc_record("response", [
        ("WARC-Target-URI", "https://x/"),
        ("WARC-Date", "2024-01-01T00:00:00Z"),
        ("Content-Type", "application/http; msgtype=response"),
    ], block)
    import zlib as _z

    co = _z.compressobj(6, _z.DEFLATED, W._GZ_WBITS)
    return _parse(co.compress(rec) + co.flush())


def test_br_bodies_decode():
    # br now decodes through the from-scratch RFC 7932 decoder
    # (r4 seam closed); a body that is NOT valid brotli despite the
    # header poisons to b"" (the same contract as a corrupt gzip)
    from credit_ocr_system_spark.kernel.brotli import brotli_compress

    plain = b"<html><body>hello brotli body</body></html>"
    for mode in ("store", "literal"):
        got = _one_response(brotli_compress(plain, mode), "br")
        assert got[0]["html"] == plain
        assert got[0]["content_encoding"] == "br"
    assert _one_response(b"XXXX", "br")[0]["html"] == b""


def test_zstd_bodies_decode():
    # zstd now decodes through the from-scratch RFC 8878 decoder —
    # the last real-crawl Content-Encoding seam is closed
    from credit_ocr_system_spark.kernel.zstd import zstd_compress_store

    plain = b"<html><body>hello zstd body</body></html>"
    got = _one_response(zstd_compress_store(plain), "zstd")
    assert got[0]["html"] == plain
    assert got[0]["content_encoding"] == "zstd"
    assert _one_response(b"XXXX", "zstd")[0]["html"] == b""


def test_unknown_encoding_passes_through():
    # a coding no crawl reader knows stays the named pass-through
    got = _one_response(b"XXXX", "compress")
    assert got[0]["html"] == b"XXXX"  # undecoded, not dropped
    assert got[0]["content_encoding"] == "compress"


def test_charset_param_and_location_surface(rows):
    decorated = [dict(r) for r in rows]
    decorated[0]["mime"] = "text/html; charset=windows-1252"
    decorated[1]["http_status"] = 301
    decorated[1]["html"] = b""
    decorated[1]["http_headers"] = (("Location", "https://y/new"),)
    got = _parse(W.build_warc_gz(decorated))
    assert got[0]["mime"] == "text/html"  # param split off
    assert got[0]["charset"] == "windows-1252"
    assert got[1]["redirect_to"] == "https://y/new"
    assert got[2]["charset"] is None and got[2]["redirect_to"] is None


def test_corpus_charset_header_matches_page_bytes(corpus_dir, spark):
    # the header charset must truthfully describe the page bytes the
    # generator emitted (same url-hash key on both sides): decoding
    # with the DECLARED charset must round-trip the meta-tagged text
    from credit_ocr_system_spark.kernel.charset import decode_html

    rows = W.warc_pages(spark, corpus_dir).filter(
        "charset is not null").collect()
    assert rows, "corpus drew no charset-labeled pages"
    for r in rows:
        text = decode_html(bytes(r["html"]),
                           f"text/html; charset={r['charset']}")
        assert "�" not in text, r["url"]
        assert "charset" in text[:200]  # the injected meta tag


def test_corpus_draws_content_encodings(corpus_dir, spark):
    # ~2/9 of OK rows gzip/deflate; the scan must inflate them all:
    # every OK html row DECODES to markup (a BOM-or-< opener) — a body
    # that survived un-inflated would decode to compressor noise
    from credit_ocr_system_spark.kernel.charset import decode_html

    pages = W.ok_pages(W.warc_pages(spark, corpus_dir))
    rows = pages.filter("mime = 'text/html'").collect()
    assert rows
    for r in rows:
        assert decode_html(bytes(r["html"])).lstrip()[:1] == "<", \
            r["url"]


def test_content_encoding_column_and_coverage(corpus_dir, spark):
    pages = W.warc_pages(spark, corpus_dir)
    enc = {r["content_encoding"] for r in
           pages.select("content_encoding").distinct().collect()}
    assert {"gzip", "deflate", None} <= enc  # the corpus draws both


def test_extraction_job_emits_wet(spark, tmp_path):
    from credit_ocr_system_spark.plans.pipeline import run_extraction_job
    from credit_ocr_system_spark.sources.pages import pages_df

    out, wet = str(tmp_path / "job"), str(tmp_path / "wet")
    wat = str(tmp_path / "wat")
    pages = pages_df(spark, 30, partitions=2)
    r1 = run_extraction_job(spark, pages, out, num_partitions=2,
                            wet_dir=wet, wat_dir=wat)
    assert r1["n_wet"] == r1["n_docs"] == 30
    assert r1["n_wat"] == 30
    back = W.warc_pages(spark, wet + "/" + r1["run_id"],
                        glob="*.warc.wet.gz", types=("conversion",))
    assert back.count() == 30
    meta = W.warc_pages(spark, wat + "/" + r1["run_id"],
                        glob="*.warc.wat.gz", types=("metadata",))
    assert meta.count() == 30
    assert meta.filter("mime = 'application/json'").count() == 30
    # each record's WARC-Date is its own input row's fetch time
    want = {r["url"]: r["warc_ts"]
            for r in pages.select("url", "warc_ts").collect()}
    for emitted in (back, meta):
        got = {r["url"]: r["warc_ts"]
               for r in emitted.select("url", "warc_ts").collect()}
        assert got == want
    # resumed run: no new docs, no new wet/wat output
    r2 = run_extraction_job(spark, pages, out, num_partitions=2,
                            wet_dir=wet, wat_dir=wat)
    assert r2["skipped"] is True
    import os

    assert not os.path.exists(wet + "/" + r2["run_id"])
    assert not os.path.exists(wat + "/" + r2["run_id"])


def test_x_robots_tag_surfaces(rows):
    # header-level indexing directives survive the envelope parse
    # exactly; untagged rows stay None
    decorated = [dict(r) for r in rows]
    decorated[2]["http_headers"] = (("X-Robots-Tag", "noindex"),)
    decorated[5]["http_headers"] = (
        ("X-Robots-Tag", "noindex, nofollow"),)
    # REPEATED header: both directives must survive (join, not
    # last-wins — dropping 'noindex' keeps an opted-out page)
    decorated[6]["http_headers"] = (("X-Robots-Tag", "noindex"),
                                    ("X-Robots-Tag", "nofollow"))
    got = _parse(W.build_warc_gz(decorated))
    assert got[2]["x_robots_tag"] == "noindex"
    assert got[5]["x_robots_tag"] == "noindex, nofollow"
    assert got[6]["x_robots_tag"] == "noindex, nofollow"
    assert got[0]["x_robots_tag"] is None
    # and the deterministic corpus actually draws tagged rows
    from credit_ocr_system_spark.sources.warc import corpus_rows

    tags = [tuple(r.get("http_headers", ())) for r in
            corpus_rows(0, 240)]
    assert any("noindex" in v for hs in tags for _, v in hs)
