#!/usr/bin/env python3
"""End-to-end benchmark of ``plans.pipeline.run_extraction_job``.

    python3 perfbench/run.py --workload warc_crawl --seed 1 \\
        --seconds 12 --trace 0

Runs the unmodified job, closed loop (one call at a time) in one
Spark application at ``local[min(nproc, 4)]`` with 4 partitions per slot,
on a seeded workload (``workloads.py``). Set-up: session start, one
warm-up job (for ``resume_delta`` the untimed pre-commit of 90% of
the corpus), and per repetition a fresh output root. Then timed, warm,
full-size repetitions run while the next one is expected to end
within ``--seconds`` (at least one). Every repetition's outputs are
checked; any mismatch makes the run exit 1.

``--trace 0`` reports the end-to-end metrics of BENCHMARK.json,
``--trace 1`` the per-layer ones: traced and untraced repetitions
alternate, traced first; the traced ones record spans (``spans.py``)
and Spark's node and stage metrics, and the spans are written to
``perfbench/out/``. The last stdout line is the JSON result; the lines
before it are the same numbers as a table.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import statistics
import subprocess
import sys
import time
import traceback

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
SLOTS = min(len(os.sched_getaffinity(0)), 4)
PARTITIONS = 4 * SLOTS


def _isolate(work: str) -> None:
    """Keep every file Spark, the JVM and the workers write inside
    the checkout."""
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp)
    os.environ.update({
        "TMPDIR": tmp,
        "SPARK_LOCAL_DIRS": os.path.join(work, "spark-local"),
        "SPARK_GRAFT_WAREHOUSE": os.path.join(work, "warehouse"),
        # the long metadata limit keeps input paths whole in plan node
        # descriptions, which is how the trace finds the input scans;
        # -UsePerfData stops the JVM writing its perf-data file to the
        # system temp directory
        "PYSPARK_SUBMIT_ARGS": (
            "--conf spark.ui.showConsoleProgress=false "
            "--conf spark.sql.maxMetadataStringLength=4096 "
            "--driver-java-options "
            f"'-Djava.io.tmpdir={tmp} -XX:-UsePerfData' pyspark-shell"),
    })


def _median(values: list[float]) -> float:
    return float(statistics.median(values))


class Bench:
    def __init__(self, workload: str, seed: int, seconds: int,
                 trace: bool, work: str) -> None:
        self.workload, self.seed = workload, seed
        self.seconds, self.trace, self.work = seconds, trace, work
        self.resume = workload == "resume_delta"
        self.spark = None
        self.failures: list[str] = []
        self.reps: list[dict] = []

    # -------------------------------------------------------- set-up

    def _open(self):
        """The job's input DataFrame, opened the way a user would."""
        if self.resume:
            return self.spark.read.parquet(os.path.join(self.inputs, "pages"))
        from credit_ocr_system_spark.sources.warc import ok_pages, warc_pages

        return ok_pages(warc_pages(self.spark, self.inputs))

    def _job(self, pages, out_root: str, wet_dir: str | None) -> dict:
        from credit_ocr_system_spark.plans.pipeline import run_extraction_job

        return run_extraction_job(self.spark, pages, out_root,
                                  num_partitions=PARTITIONS, wet_dir=wet_dir)

    def setup(self) -> None:
        import workloads as W

        t = time.perf_counter()
        self.inputs = W.inputs(self.workload, self.seed)
        self.expect = W.expected(self.inputs)
        self.fresh = W.new_urls(self.expect, self.seed) if self.resume else None
        self.input_s = time.perf_counter() - t

        from credit_ocr_system_spark.session import build_session

        t = time.perf_counter()
        self.spark = build_session(app_name="perfbench",
                                   master=f"local[{SLOTS}]",
                                   shuffle_partitions=PARTITIONS)
        self.spark.sparkContext.setLogLevel("ERROR")
        self.session_s = time.perf_counter() - t

        # Warm-up: one untimed job. resume_delta: the pre-commit of 90%
        # of the corpus into the root every rep starts from.
        # warc_crawl: the first WARC file into a throwaway root (the JVM
        # warms per job more than per row; a job's fixed cost dominates
        # at this size).
        t = time.perf_counter()
        self.warm_root = os.path.join(self.work, "warm")
        if self.resume:
            from pyspark.sql import functions as F

            pages = self._open().where(~F.col("url").isin(sorted(self.fresh)))
            wet, want = None, len(self.expect) - len(self.fresh)
        else:
            from credit_ocr_system_spark.sources.warc import (ok_pages,
                                                              warc_pages)

            first = W.warc_file(0)
            pages = ok_pages(warc_pages(self.spark, self.inputs, glob=first))
            wet = os.path.join(self.work, "warm-wet")
            want = W.records_in(self.inputs, first)
        stats = self._job(pages, self.warm_root, wet)
        if stats.get("n_docs") != want:
            self.failures.append(f"warm-up committed {stats.get('n_docs')}"
                                 f" docs, expected {want}")
        self.warmup_s = time.perf_counter() - t

    # ----------------------------------------------------------- reps

    def rep(self, traced: bool) -> dict:
        import procfs
        import workloads as W

        k = len(self.reps)
        rep_dir = os.path.join(self.work, f"rep{k}")
        out = os.path.join(rep_dir, "out")
        wet = None if self.resume else os.path.join(rep_dir, "wet")
        t = time.perf_counter()
        if self.resume:
            shutil.copytree(self.warm_root, out)
        else:
            os.makedirs(out)
        pages = self._open()
        prep_s = time.perf_counter() - t

        bytes0 = procfs.tree_bytes(out)
        files0 = sum(len(f) for _d, _s, f in os.walk(out))
        n_in = len(self.expect)
        rec = {"traced": traced, "prep_s": prep_s, "n_in": n_in}
        tracer = None
        cpu0, t0 = procfs.tree_cpu_s(), time.perf_counter()
        try:
            if traced:
                from spans import Tracer

                tracer = Tracer()
                with tracer.installed(), tracer.span("job"):
                    stats = self._job(pages, out, wet)
            else:
                stats = self._job(pages, out, wet)
        except Exception:
            traceback.print_exc()
            self.failures.append(f"rep {k}: run_extraction_job raised")
            rec.update(raised=True, errors=n_in)
            self.reps.append(rec)
            return rec
        wall = time.perf_counter() - t0
        cpu = procfs.tree_cpu_s() - cpu0
        sink_bytes = procfs.tree_bytes(out) - bytes0
        stored = sink_bytes + (procfs.tree_bytes(wet) if wet else 0)
        rec.update(
            raised=False, wall=wall, stats=stats,
            docs_per_s=n_in / wall, cpu_ms_per_doc=cpu * 1000.0 / n_in,
            stored_bytes_per_doc=stored / n_in,
            rss_mb=procfs.python_worker_peak_rss_mb())
        bad, rec["errors"] = W.check_rep(out, wet, stats, self.expect,
                                         self.fresh, self.seed)
        self.failures += [f"rep {k}: {b}" for b in bad]
        if tracer is not None:
            rec["layers"], rec["executions"] = self._layers(
                tracer, out, stats, files0, sink_bytes)
            rec["spans"] = tracer.export()
        shutil.rmtree(rep_dir)
        self.reps.append(rec)
        return rec

    def _layers(self, tracer, out: str, stats: dict, files0: int,
                sink_bytes: int) -> tuple[dict, list]:
        import spans as T
        import workloads as W

        ext = W.run_rows(os.path.join(out, "extracted"), stats["run_id"],
                         ["doc_kind", "kernel_us", "error"]).to_pylist()
        n_docs = stats["n_docs"]
        input_rows = (len(self.expect) if self.resume
                      else W.WARC_RECORDS + len(W.scan_row_ids()))
        layers, execs = T.layer_metrics(
            self.spark, tracer, self.inputs, input_rows, n_docs,
            sum(r["kernel_us"] for r in ext) / 1e6)
        for kind in ("html", "pdf"):
            us = [r["kernel_us"] for r in ext if r["doc_kind"] == kind]
            layers[f"kernel.ms_per_doc.{kind}"] = (
                sum(us) / len(us) / 1000.0 if us else 0.0)
        lineage = W.run_rows(os.path.join(out, "lineage"), stats["run_id"],
                             ["n_docs"]).column("n_docs").to_pylist()
        status_rows = W.run_rows(os.path.join(out, "doc_status"),
                                 stats["run_id"], ["url"]).num_rows
        layers.update({
            "kernel.error_rows": float(sum(1 for r in ext
                                           if r["error"] is not None)),
            "pipeline.resume_dropped_rows": float(len(self.expect) - n_docs),
            "pipeline.partition_max_over_mean":
                max(lineage) / (n_docs / PARTITIONS),
            "fields.rows": float(stats["n_fields"]),
            "sink.bytes_written": float(sink_bytes),
            "sink.files_written": float(
                sum(len(f) for _d, _s, f in os.walk(out)) - files0),
            "sink.doc_status.rewrite_ratio": status_rows / n_docs,
        })
        return layers, execs

    def measure(self) -> None:
        """Closed loop: reps (traced/untraced pairs under ``--trace 1``)
        while the next is expected to end within ``--seconds``."""
        start = time.perf_counter()
        while True:
            if self.trace:
                # traced first: the first rep after the warm-up is the
                # slowest, so the overhead estimate errs high, and the
                # layers come from the same rep position --trace 0 uses
                self.rep(True)
                self.rep(False)
            else:
                self.rep(False)
            walls = [r["wall"] for r in self.reps if not r["raised"]]
            per_round = (_median(walls) * (2 if self.trace else 1)
                         if walls else 0.0)
            if (not walls or time.perf_counter() - start + per_round
                    > self.seconds):
                break

    # -------------------------------------------------------- results

    def metrics(self) -> dict[str, float]:
        import workloads as W

        ok = [r for r in self.reps if not r["raised"]]
        plain = [r for r in ok if not r["traced"]]
        traced = [r for r in ok if r["traced"]]
        if not plain or (self.trace and not traced):
            return {}
        if not self.trace:
            return {
                "docs_per_s": _median([r["docs_per_s"] for r in plain]),
                "cpu_ms_per_doc": _median([r["cpu_ms_per_doc"]
                                           for r in plain]),
                "worker_peak_rss_mb": max(r["rss_mb"] for r in plain),
                "stored_bytes_per_doc": _median(
                    [r["stored_bytes_per_doc"] for r in plain]),
                "setup_s": self.session_s + self.warmup_s
                + _median([r["prep_s"] for r in plain]),
            }
        out = {name: _median([r["layers"][name] for r in traced])
               for name in traced[0]["layers"]}
        for k, v in W.kernel_cpu_ms(self.expect).items():
            out[f"kernel.cpu_ms_per_doc.{k}"] = v
        out["trace.overhead_ratio"] = (
            _median([r["docs_per_s"] for r in plain])
            / _median([r["docs_per_s"] for r in traced]))
        return out

    def close(self) -> None:
        """Stop the session, then the JVM, then wait for (or kill) every
        process left below this one."""
        import procfs

        if self.spark is not None:
            from pyspark import SparkContext

            gateway = SparkContext._gateway
            try:
                self.spark.stop()
            except Exception:  # the JVM may already be gone
                traceback.print_exc()
            if gateway is not None:
                gateway.shutdown()
                proc = getattr(gateway, "proc", None)
                if proc is not None:
                    # the JVM exits when its stdin pipe closes
                    proc.stdin.close()
                    try:
                        proc.wait(timeout=60)
                    except subprocess.TimeoutExpired:
                        pass  # reap_descendants kills it
        procfs.reap_descendants()


def _spec() -> dict:
    with open(os.path.join(ROOT, "BENCHMARK.json"), encoding="utf-8") as fh:
        return json.load(fh)


def main(argv: list[str] | None = None) -> int:
    spec = _spec()
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True,
                    choices=[w["name"] for w in spec["workloads"]])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, default=spec["run_seconds"])
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)
    if not os.path.isfile(os.path.join(ROOT, "credit_ocr_system_spark",
                                       "plans", "pipeline.py")):
        print("perfbench: credit_ocr_system_spark not found next to "
              "perfbench/; run from the root of a checkout",
              file=sys.stderr)
        return 2

    # SIGTERM unwinds like an exception, so the session, the JVM and
    # the workers are still stopped and the scratch directory removed
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    work = os.path.join(HERE, ".work", str(os.getpid()))
    _isolate(work)
    sys.path.insert(0, ROOT)
    bench = Bench(args.workload, args.seed, args.seconds, bool(args.trace),
                  work)
    try:
        bench.setup()
        bench.measure()
        values = bench.metrics()
    finally:
        try:
            bench.close()
        finally:
            shutil.rmtree(work, ignore_errors=True)

    wanted = spec["per_layer" if args.trace else "end_to_end"]
    missing = [m["name"] for m in wanted if m["name"] not in values]
    if missing:
        bench.failures.append(f"metrics not measured: {missing}")
    attempted = sum(r["n_in"] for r in bench.reps)
    failed = sum(r["errors"] for r in bench.reps)
    ok = [r for r in bench.reps if not r["raised"]]
    print(f"workload={args.workload} seed={args.seed} slots={SLOTS} "
          f"partitions={PARTITIONS} reps={len(bench.reps)} "
          f"walls_s={[round(r['wall'], 3) for r in ok]}")
    print(f"inputs_s={bench.input_s:.3f} session_s={bench.session_s:.3f} "
          f"warmup_s={bench.warmup_s:.3f}")
    print(f"failed_share={failed / max(attempted, 1):.6f} "
          f"(failed={failed} attempted={attempted} docs)")
    for m in wanted:
        if m["name"] in values:
            print(f"  {m['name']:<44} {values[m['name']]:>16.6f} {m['unit']}")
    for f in bench.failures:
        print(f"FAIL {f}", file=sys.stderr)
    if args.trace:
        os.makedirs(os.path.join(HERE, "out"), exist_ok=True)
        path = os.path.join(HERE, "out",
                            f"trace-{args.workload}-s{args.seed}.json")
        with open(path, "w", encoding="utf-8") as fh:
            json.dump({"workload": args.workload, "seed": args.seed,
                       "metrics": values,
                       "reps": ok},
                      fh, indent=1)
        print(f"spans: {os.path.relpath(path, ROOT)}")
    correct = not bench.failures
    print(json.dumps({
        "correct": correct, "attempted": attempted, "failed": failed,
        "metrics": {m["name"]: {"value": values[m["name"]],
                                "unit": m["unit"]}
                    for m in wanted if m["name"] in values}}))
    return 0 if correct else 1


if __name__ == "__main__":
    sys.exit(main())
