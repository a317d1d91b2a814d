#!/usr/bin/env python3
"""Benchmark of the extraction job users submit, `plans.pipeline.run_pipeline`.

Run from the repository root:

    python3 perfbench/run.py --workload mixed_fresh --seed 42 --seconds 10 --trace 0

One closed loop: a single driver on ``local[nproc]`` runs one job at a
time, with 2 extraction partitions per core.  After set-up, a run makes
untimed jobs on the workload's own table until the JVM has settled, then
as many timed jobs as typically fill ``--seconds`` on a 4-core host, and
at least three.
Workloads (see ``WORKLOADS``):

* ``mixed_fresh``: the sf0.1 document mix through
  ``run_pipeline(output_path, checkpoint_path)`` into empty tables, the
  shape `jobs.py` submits.  OCR-envelope kernels, the giant-document
  tail, the sink and the lineage commit carry it.
* ``web_census``: only the rows a real crawl carries (HTML, raw PDF,
  images), counters only (``output_path=None``).  Scan, salted exchange,
  Arrow boundary and the byte kernels carry it; it has no envelope
  kernel and no sink.

The last line of standard output is one JSON object with the keys
``correct``, ``attempted``, ``failed`` and ``metrics``.  ``--trace 0``
reports the end-to-end metrics; ``--trace 1`` makes a traced run and
reports the per-layer metrics (``layers.json`` says which end-to-end
metric each one should move).  Inputs are generated from ``--seed`` and
cached under ``.perfbench/``; every run checks the job's outputs against
the expected outcome of every document.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import subprocess
import sys
import time
from dataclasses import dataclass, field
from typing import Dict, List, Optional, Tuple

import checks
import corpus_gen
import proctree

BENCH_DIR = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(BENCH_DIR)
PACKAGE = "pdf_ocr_batch_ndrocr_lite_spark"
WORK = os.path.join(ROOT, ".perfbench")
_T0 = time.perf_counter()

DEFAULT_SEED = 42
NUM_BUCKETS = 32        # lineage keys: ~25 documents per key at mix size
WARMUP_SEED, WARMUP_SIZE = 1, 300
# A fixed driver heap: the default (half of RAM) lets G1 grow the heap by
# a different amount in every run, which made the peak RSS unsteady.
DRIVER_MEMORY = "2g"
KERNEL_KINDS = ("pdf", "html", "rawpdf", "image")
SINK_LAYERS = ("sink.wall_s", "sink.commit_s", "lineage.s", "meta.s")


@dataclass(frozen=True)
class Workload:
    kind: str           # corpus_gen input kind
    size: int           # documents per job
    tiny: int           # documents per job in the self-test
    sink: bool          # output and checkpoint tables, or counters only
    settle: int         # untimed jobs before the timed ones
    job_s: float        # typical settled job wall time on a 4-core host


# Job times fall for the first few jobs on a table while the JVM compiles
# and the Python workers warm up: on a 4-core host, mixed_fresh from 6.9 s
# to a steady 4.2-4.7 s by its fourth job, web_census from 2.6 s to a
# steady 1.5-1.8 s by its sixth.
WORKLOADS = {
    "mixed_fresh": Workload("mixed", 800, 200, True, 3, 4.5),
    "web_census": Workload("web", 5000, 400, False, 5, 1.7),
}


@dataclass
class Job:
    docs: int
    wall_s: float
    cpu_s: float
    traced: bool
    totals: Optional[Dict[str, int]]
    error: Optional[str] = None
    layers: Dict[str, float] = field(default_factory=dict)


def log(msg: str) -> None:
    print(f"[perfbench {time.perf_counter() - _T0:7.2f}] {msg}",
          file=sys.stderr, flush=True)


def nproc() -> int:
    return len(os.sched_getaffinity(0))


def parse_args(argv):
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    p.add_argument("--seed", type=int, default=DEFAULT_SEED)
    p.add_argument("--seconds", type=float, default=10.0)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    p.add_argument("--tiny", action="store_true",
                   help="self-test size: a few hundred documents")
    p.add_argument("--corrupt", choices=("flip", "drop"),
                   help="self-test: corrupt the last job's sink output "
                        "before checking it")
    args = p.parse_args(argv)
    if args.corrupt and not WORKLOADS[args.workload].sink:
        p.error(f"--corrupt needs a workload with a sink, not "
                f"{args.workload}")
    return args


def set_environment() -> None:
    """Everything the Spark JVM and its Python workers inherit: the
    repository on the workers' import path, and scratch space inside the
    checkout."""
    for d in ("spark-local", "tmp"):
        os.makedirs(os.path.join(WORK, d), exist_ok=True)
    old = os.environ.get("PYTHONPATH")
    os.environ["PYTHONPATH"] = ROOT + (os.pathsep + old if old else "")
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(WORK, "spark-local")
    os.environ["TMPDIR"] = os.path.join(WORK, "tmp")
    java = os.environ.get("JAVA_TOOL_OPTIONS", "")
    os.environ["JAVA_TOOL_OPTIONS"] = (
        f"{java} -Djava.io.tmpdir={os.path.join(WORK, 'tmp')} "
        "-XX:-UsePerfData").strip()
    if ROOT not in sys.path:
        sys.path.insert(0, ROOT)


class Bench:
    """One workload's pages table, its timed jobs, their checks and, in a
    traced run, their spans."""

    def __init__(self, spark, args, spec: Workload, inputs) -> None:
        self.spark = spark
        self.args = args
        self.spec = spec
        self.inputs = inputs
        self.partitions = 2 * nproc()
        self.out = os.path.join(WORK, "tables", "out")
        self.ckpt = os.path.join(WORK, "tables", "ckpt")
        self.pages = spark.read.parquet(inputs.pages_dir)
        self.tracer = None
        self.rest = None

    def clear_tables(self) -> None:
        from pdf_ocr_batch_ndrocr_lite_spark.plans import checkpoint as ck
        for p in (self.out, self.ckpt, ck.meta_path(self.ckpt)):
            shutil.rmtree(p, ignore_errors=True)

    def run_pipeline(self, storage=None, sink: Optional[bool] = None
                     ) -> Dict[str, int]:
        from pdf_ocr_batch_ndrocr_lite_spark.plans.pipeline import run_pipeline
        if self.spec.sink if sink is None else sink:
            return run_pipeline(self.spark, self.pages, self.out, self.ckpt,
                                storage=storage, num_buckets=NUM_BUCKETS,
                                num_partitions=self.partitions)
        return run_pipeline(self.spark, self.pages, storage=storage,
                            num_buckets=NUM_BUCKETS,
                            num_partitions=self.partitions)

    def traced_pipeline(self, sink: Optional[bool] = None) -> Dict[str, int]:
        import spans

        with self.tracer.span("run_pipeline"), \
                spans.checkpoint_spans(self.tracer):
            return self.run_pipeline(spans.TracedStorage(self.tracer), sink)

    def timed_job(self, traced: bool, rss=None) -> Job:
        """One job into empty tables; ``rss`` samples its memory unless the
        job is an untimed settling one."""
        import spans

        self.clear_tables()
        pid = os.getpid()
        if rss is not None:
            rss.active.set()
        gc0 = spans.jvm_gc_seconds(self.spark) if traced else 0.0
        cpu0 = proctree.cpu_seconds(pid)
        t0 = time.perf_counter()
        totals, error = None, None
        try:
            totals = self.traced_pipeline() if traced else self.run_pipeline()
        except Exception as e:  # a failed job counts all its documents
            error = f"{type(e).__name__}: {e}"
        wall = time.perf_counter() - t0
        cpu = proctree.cpu_seconds(pid) - cpu0
        if rss is not None:
            rss.active.clear()
        docs = totals["docs"] if totals else 0
        job = Job(docs=docs, wall_s=wall, cpu_s=cpu, traced=traced,
                  totals=totals, error=error)
        if traced:
            job.layers["jvm.gc_s"] = spans.jvm_gc_seconds(self.spark) - gc0
        return job

    def settle(self) -> None:
        """Untimed jobs on the workload's own table, so that the timed ones
        sample a settled JVM rather than its warm-up curve."""
        for i in range(self.spec.settle):
            job = self.timed_job(False)
            log(f"settling job {i + 1}: {job.wall_s:.3f} s"
                f"{' ERROR ' + job.error if job.error else ''}")

    def window(self, rss) -> List[Job]:
        """As many jobs, back to back, as typically fill ``--seconds`` once
        settled, and at least three.  The count is fixed rather than
        timed, so that a slow machine does not take a smaller sample.
        Traced runs order untraced and traced jobs U T T U, which cancels
        a steady drift out of trace.overhead."""
        n = max(3, round(self.args.seconds / self.spec.job_s))
        if self.args.trace:
            n = max(4, n)
        jobs: List[Job] = []
        for i in range(n):
            traced = bool(self.args.trace) and i % 4 in (1, 2)
            if traced:
                self.tracer.trace = i
            job = self.timed_job(traced, rss)
            jobs.append(job)
            log(f"job {i + 1}{' traced' if traced else ''}: "
                f"{job.docs} docs {job.wall_s:.3f} s cpu {job.cpu_s:.2f} s"
                f"{' ERROR ' + job.error if job.error else ''}")
            if traced and not job.error:
                job.layers.update(self.job_layers(i))
        return jobs

    # -- correctness --

    def failures(self, jobs: List[Job]) -> Tuple[int, List[str]]:
        """Documents proven wrong over all jobs, and why."""
        want = checks.expected_totals(self.inputs.expected)
        failed, why = 0, []
        for i, job in enumerate(jobs):
            if job.error:
                failed += self.inputs.rows
                why.append(f"job {i + 1} raised: {job.error}")
                continue
            n = checks.counter_failures(job.totals, want)
            if i == len(jobs) - 1:
                n = max(n, self.check_outputs(job, why))
            elif n:
                why.append(f"job {i + 1} counters {job.totals} != {want}")
            failed += n
        return failed, why

    def check_outputs(self, job: Job, why: List[str]) -> int:
        """Full check of the last job's tables, and its digest."""
        want = checks.expected_totals(self.inputs.expected)
        totals = dict(job.totals)
        rows = []
        n = 0
        if self.spec.sink:
            if self.args.corrupt:
                checks.corrupt_sink(self.out, self.args.corrupt)
            rows = checks.sink_rows(self.out)
            sink_bad = checks.sink_failures(rows, self.inputs.expected)
            lineage_bad = checks.lineage_failures(self.ckpt, totals,
                                                  NUM_BUCKETS)
            if len(rows) != totals["extracted"]:
                sink_bad = max(sink_bad, abs(len(rows) - totals["extracted"]))
            if sink_bad or lineage_bad:
                why.append(f"sink: {sink_bad} wrong documents, lineage: "
                           f"{lineage_bad}")
            n = max(sink_bad, lineage_bad)
        counters = checks.counter_failures(totals, want)
        if counters:
            why.append(f"counters {totals} != expected {want}")
        n = max(n, counters)
        got = checks.digest(totals, rows)
        size = self.inputs.rows
        rec = checks.recorded_digest(BENCH_DIR, self.args.workload,
                                     self.args.seed, size)
        log(f"output digest {got} (recorded: {rec})")
        if rec is not None and rec != got:
            why.append(f"digest {got} != recorded {rec}")
            n = max(n, 1)
        return n

    # -- traced run --

    def job_layers(self, trace: int) -> Dict[str, float]:
        """Per-layer figures of one traced job, from its spans and the
        REST stage metrics of the Spark jobs they submitted."""
        import spans

        tr = self.tracer
        rp = tr.find(trace, "run_pipeline")[0]
        stages = self.rest.stages(tr.subtree(rp))
        exch = spans.exchange_stage(stages)
        extr = spans.extract_stage(stages)
        durations = self.rest.task_durations_ms(extr) if extr else []
        skew = (max(durations) / statistics.median(durations)
                if durations and statistics.median(durations) > 0 else 0.0)

        def wall(name: str) -> float:
            return sum(s["end"] - s["start"] for s in tr.find(trace, name))

        sink_spans = tr.find(trace, "storage.overwrite_partitions")
        commit = 0.0
        if sink_spans:
            sink_stages = self.rest.stages(sink_spans)
            last = max((s["end_epoch"] for s in sink_stages),
                       default=sink_spans[0]["start"])
            commit = sink_spans[0]["end"] - last
        return {
            "flag.stage_s": spans.stage_seconds(exch),
            "exchange.bytes": float(exch["shuffleWriteBytes"] if exch else 0),
            "exchange.write_s":
                (exch["shuffleWriteTime"] / 1e9) if exch else 0.0,
            "extract.stage_s": spans.stage_seconds(extr),
            "extract.task_skew": skew,
            "sink.wall_s": wall("storage.overwrite_partitions"),
            "sink.commit_s": commit,
            "lineage.s": wall("commit_lineage"),
            "meta.s": wall("commit_run_meta"),
            "totals.s": tr.self_time(rp),
            "tasks.failed": float(sum(s["numFailedTasks"] for s in stages)),
        }

    def prefix_jobs(self) -> Dict[str, float]:
        """The layer-split prefix jobs: salted exchange alone, an identity
        Python stage with an output-sized payload, and the full extraction
        aggregated by document kind."""
        from pyspark.sql import functions as F

        from pdf_ocr_batch_ndrocr_lite_spark.operators import extract as ex

        tr = self.tracer
        tr.trace = -1
        P = self.partitions
        with tr.span("prefix.exchange") as s_exch:
            ex.flag_pages(self.pages, P).agg(
                F.count(F.lit(1)), F.sum(F.length("html"))).collect()

        text_len = {e["url"]: len(e["extracted_text"])
                    for e in self.inputs.expected}

        def identity(batches):
            import pandas as pd
            for pdf in batches:
                urls = pdf["url"].tolist()
                n = len(urls)
                yield pd.DataFrame({
                    "url": urls, "lang": pdf["lang"].tolist(),
                    "doc_kind": ["html"] * n, "action": ["extracted"] * n,
                    "extracted_text": ["x" * text_len.get(u, 0)
                                       for u in urls],
                    "page_count": [1] * n, "token_count": [0] * n,
                    "block_count": [0] * n, "parse_warnings": [0] * n,
                    "low_coverage": [0] * n,
                    "bytes_in": pdf["bytes_len"].tolist(),
                    "seconds": [0.0] * n}, columns=ex._OUT_COLS)

        with tr.span("prefix.identity") as s_ident:
            ex.flag_pages(self.pages, P).mapInPandas(
                identity, schema=ex.EXTRACT_SCHEMA).agg(
                F.count(F.lit(1)), F.sum(F.length("extracted_text"))
            ).collect()
        with tr.span("prefix.extract") as s_extr:
            kinds = ex.run_extraction(self.pages, P).groupBy("doc_kind").agg(
                F.count(F.lit(1)).alias("docs"),
                F.sum("seconds").alias("s"),
                F.percentile("seconds", 0.99).alias("p99"),
                F.sum(F.length("extracted_text")).alias("chars"),
            ).collect()

        def dur(s):
            return s["end"] - s["start"]

        out = {"prefix.exchange_s": dur(s_exch),
               "prefix.identity_s": dur(s_ident),
               "prefix.arrow_s": dur(s_ident) - dur(s_exch),
               "prefix.extract_s": dur(s_extr)}
        if not self.spec.sink:
            # the timed jobs write nothing: measure the sink, lineage and
            # meta layers on this workload's rows with one traced fresh
            # write, so that they are never left unmeasured
            tr.trace = -2
            self.clear_tables()
            self.traced_pipeline(sink=True)
            probe = self.job_layers(-2)
            out.update({k: probe[k] for k in SINK_LAYERS})
        by_kind = {r["doc_kind"]: r for r in kinds}
        for k in KERNEL_KINDS:
            r = by_kind.get(k)
            out[f"kernel.{k}.s"] = float(r["s"]) if r else 0.0
            out[f"kernel.{k}.docs"] = float(r["docs"]) if r else 0.0
        pdf = by_kind.get("pdf")
        out["kernel.pdf.p99_ms"] = float(pdf["p99"]) * 1000 if pdf else 0.0
        return out


def median(values: List[float]) -> float:
    return statistics.median(values) if values else 0.0


def layer_metrics(bench: Bench, jobs: List[Job],
                  prefix: Dict[str, float]) -> Dict[str, float]:
    traced = [j for j in jobs if j.traced and not j.error]
    plain = [j for j in jobs if not j.traced and not j.error]
    if not traced:
        raise RuntimeError("no traced job succeeded")
    m = {k: median([j.layers[k] for j in traced]) for k in traced[0].layers}
    m.update(prefix)
    m["sink.s"] = m.pop("sink.wall_s") - prefix["prefix.extract_s"]
    files = sum(f.endswith(".parquet")
                for _, _, fs in os.walk(bench.out) for f in fs)
    m["sink.files"] = float(files)
    extracted = sum(e["action"] == "extracted" for e in bench.inputs.expected)
    m["sink.rows_per_file"] = extracted / files if files else 0.0
    m["worker.peak_rss_mb"] = proctree.worker_peak_rss_bytes(
        os.getpid()) / 2 ** 20
    rate_plain = median([j.docs / j.wall_s for j in plain])
    rate_traced = median([j.docs / j.wall_s for j in traced])
    m["trace.overhead"] = (rate_plain / rate_traced - 1.0
                           if rate_traced else 0.0)
    return m


def stop_spark(spark) -> None:
    """Stop Spark and wait until every process this run started has
    ended."""
    gateway = spark.sparkContext._gateway
    spark.stop()
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    if proc is not None:
        proc.stdin.close()      # the JVM exits when its stdin closes
        try:
            proc.wait(timeout=30)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
    deadline = time.time() + 30
    while time.time() < deadline:
        left = [p for p in proctree.descendants(os.getpid())
                if p != os.getpid()]
        if not left:
            return
        time.sleep(0.1)
    for p in left:
        try:
            os.kill(p, 9)
        except OSError:
            pass


def main(argv=None) -> int:
    args = parse_args(sys.argv[1:] if argv is None else argv)
    if not os.path.isdir(os.path.join(ROOT, PACKAGE)):
        log(f"no {PACKAGE} package next to {BENCH_DIR}: nothing to measure")
        return 2
    set_environment()

    spec = WORKLOADS[args.workload]
    size = spec.tiny if args.tiny else spec.size
    t_inputs = time.perf_counter()
    cache = os.path.join(WORK, "inputs")
    warm = corpus_gen.ensure(cache, "mixed", WARMUP_SEED, WARMUP_SIZE,
                             nproc())
    inputs = corpus_gen.ensure(cache, spec.kind, args.seed, size, nproc())
    inputs_s = time.perf_counter() - t_inputs
    log(f"inputs: {inputs.rows} docs, {inputs_s:.2f} s "
        f"(generation {warm.gen_s + inputs.gen_s:.2f} s)")

    from pdf_ocr_batch_ndrocr_lite_spark.plans.pipeline import (
        build_session, run_pipeline)

    spark = build_session(app_name="pdf-extract", master=f"local[{nproc()}]",
                          driver_memory=DRIVER_MEMORY)
    try:
        spark.sparkContext.setLogLevel("ERROR")
        log("session built")
        warm_dir = os.path.join(WORK, "tables", "warmup")
        shutil.rmtree(warm_dir, ignore_errors=True)
        run_pipeline(spark, spark.read.parquet(warm.pages_dir),
                     os.path.join(warm_dir, "out"),
                     os.path.join(warm_dir, "ckpt"),
                     num_buckets=NUM_BUCKETS, num_partitions=2 * nproc())
        setup_s = proctree.process_age_s() - inputs_s
        log(f"setup: {setup_s:.2f} s")

        bench = Bench(spark, args, spec, inputs)
        if args.trace:
            import spans
            bench.tracer = spans.Tracer(spark.sparkContext)
            bench.rest = spans.StageMetrics(spark.sparkContext)
        bench.settle()
        jvm = spark.sparkContext._gateway.proc.pid
        with proctree.RssSampler([os.getpid(), jvm]) as rss:
            jobs = bench.window(rss)
        log("checking outputs")
        failed, why = bench.failures(jobs)
        for w in why:
            log(f"CHECK FAILED: {w}")
        attempted = inputs.rows * len(jobs)
        failed = min(failed, attempted)

        if args.trace:
            units = layer_units()
            try:
                metrics = layer_metrics(bench, jobs, bench.prefix_jobs())
            except Exception as e:
                # still print a result, failed, with every metric at 0
                why.append(f"traced run: {type(e).__name__}: {e}")
                log(f"CHECK FAILED: {why[-1]}")
                metrics = {}
            metrics = {k: metrics.get(k, 0.0) for k in units}
            path = os.path.join(WORK, f"spans-{args.workload}-"
                                      f"s{args.seed}.json")
            bench.tracer.write(path)
            log(f"spans written to {path}")
        else:
            plain = [j for j in jobs if not j.error]
            metrics = {
                "docs_per_s": median([j.docs / j.wall_s for j in plain]),
                "core_s_per_kdoc": median([j.cpu_s / j.docs * 1000
                                           for j in plain if j.docs]),
                "setup_s": setup_s,
                "peak_rss_mb": rss.peak / 2 ** 20,
                "ok_share": (attempted - failed) / attempted,
            }
            units = {"docs_per_s": "1/s", "core_s_per_kdoc": "s",
                     "setup_s": "s", "peak_rss_mb": "MiB",
                     "ok_share": "share"}
    finally:
        log("stopping Spark")
        stop_spark(spark)
        log("stopped")

    print(json.dumps({
        "correct": failed == 0 and not why,
        "attempted": attempted,
        "failed": failed,
        "metrics": {k: {"value": metrics[k], "unit": units[k]}
                    for k in units},
    }))
    return 0


def layer_units() -> Dict[str, str]:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        return {m["name"]: m["unit"] for m in json.load(fh)["per_layer"]}


if __name__ == "__main__":
    sys.exit(main())
