"""Spans for the traced run, recorded from the benchmark's own files.

A span wraps one call into a layer of the job: its name, start, end, the
span that caused it and the trace (timed job) it belongs to.  While a span
is open, the Spark jobs it submits carry the span's job group, so the
stage metrics of Spark's status REST API (served at ``sc.uiWebUrl``)
attach to it.  Spans stay in memory and are written out at the end.
"""

from __future__ import annotations

import contextlib
import datetime as dt
import json
import time
import urllib.request
from typing import Iterator, List, Optional

from pdf_ocr_batch_ndrocr_lite_spark.plans import checkpoint as ck
from pdf_ocr_batch_ndrocr_lite_spark.sources.storage import StorageAdapter

_GROUP_KEY = "spark.jobGroup.id"


class Tracer:
    def __init__(self, sc) -> None:
        self.sc = sc
        self.spans: List[dict] = []
        self.trace = 0
        self._open: List[dict] = []

    @contextlib.contextmanager
    def span(self, name: str) -> Iterator[dict]:
        rec = {"id": len(self.spans), "trace": self.trace, "name": name,
               "parent": self._open[-1]["id"] if self._open else None,
               "start": time.time(), "end": None}
        rec["group"] = f"perfbench-{rec['id']}"
        self.spans.append(rec)
        self._open.append(rec)
        self.sc.setLocalProperty(_GROUP_KEY, rec["group"])
        try:
            yield rec
        finally:
            rec["end"] = time.time()
            self._open.pop()
            self.sc.setLocalProperty(
                _GROUP_KEY, self._open[-1]["group"] if self._open else None)

    def children(self, rec: dict) -> List[dict]:
        return [s for s in self.spans if s["parent"] == rec["id"]]

    def subtree(self, rec: dict) -> List[dict]:
        out, todo = [], [rec]
        while todo:
            s = todo.pop()
            out.append(s)
            todo.extend(self.children(s))
        return out

    def self_time(self, rec: dict) -> float:
        """Duration minus the part covered by direct child spans (which
        never overlap: the job runs on one driver thread)."""
        covered = sum(c["end"] - c["start"] for c in self.children(rec))
        return (rec["end"] - rec["start"]) - covered

    def find(self, trace: int, name: str) -> List[dict]:
        return [s for s in self.spans
                if s["trace"] == trace and s["name"] == name]

    def write(self, path: str) -> None:
        with open(path, "w") as fh:
            json.dump(self.spans, fh, indent=0)


class TracedStorage(StorageAdapter):
    """`StorageAdapter` whose verbs record spans; `run_pipeline` takes it
    through its ``storage=`` argument."""

    def __init__(self, tracer: Tracer) -> None:
        super().__init__()
        self.tracer = tracer

    def read(self, spark, path):
        with self.tracer.span("storage.read"):
            return super().read(spark, path)

    def append(self, df, path):
        with self.tracer.span("storage.append"):
            return super().append(df, path)

    def overwrite_partitions(self, df, path, partition_cols):
        with self.tracer.span("storage.overwrite_partitions"):
            return super().overwrite_partitions(df, path, partition_cols)

    def merge_upsert(self, spark, path, updates, key_cols, order_col):
        with self.tracer.span("storage.merge_upsert"):
            return super().merge_upsert(spark, path, updates, key_cols,
                                        order_col)


@contextlib.contextmanager
def checkpoint_spans(tracer: Tracer) -> Iterator[None]:
    """Wrap `plans.checkpoint.commit_run_meta` and `commit_lineage`, which
    `run_pipeline` looks up on the module at call time."""
    saved = ck.commit_run_meta, ck.commit_lineage

    def commit_run_meta(*a, **kw):
        with tracer.span("commit_run_meta"):
            return saved[0](*a, **kw)

    def commit_lineage(*a, **kw):
        with tracer.span("commit_lineage"):
            return saved[1](*a, **kw)

    ck.commit_run_meta, ck.commit_lineage = commit_run_meta, commit_lineage
    try:
        yield
    finally:
        ck.commit_run_meta, ck.commit_lineage = saved


def _epoch(stamp: str) -> float:
    return dt.datetime.strptime(stamp, "%Y-%m-%dT%H:%M:%S.%fGMT").replace(
        tzinfo=dt.timezone.utc).timestamp()


class StageMetrics:
    """Completed-stage metrics from the status REST API, keyed by the job
    groups of spans."""

    def __init__(self, sc) -> None:
        self.sc = sc
        self.base = (f"{sc.uiWebUrl}/api/v1/applications/"
                     f"{sc.applicationId}")

    def _get(self, path: str):
        with urllib.request.urlopen(self.base + path, timeout=30) as r:
            return json.load(r)

    def stages(self, spans: List[dict], timeout_s: float = 30.0
               ) -> List[dict]:
        """Every stage that ran (not skipped) for the jobs of `spans`,
        once the listener has recorded them all as finished."""
        tracker = self.sc.statusTracker()
        job_ids = sorted({j for s in spans
                          for j in tracker.getJobIdsForGroup(s["group"])})
        deadline = time.time() + timeout_s
        while True:
            jobs = [self._get(f"/jobs/{j}") for j in job_ids]
            stage_ids = sorted({sid for j in jobs for sid in j["stageIds"]})
            attempts = [a for sid in stage_ids
                        for a in self._get(f"/stages/{sid}")]
            done = all(j["status"] != "RUNNING" for j in jobs) and all(
                a["status"] in ("COMPLETE", "SKIPPED", "FAILED")
                for a in attempts)
            if done or time.time() > deadline:
                break
            time.sleep(0.2)
        out = []
        for a in attempts:
            if a["status"] == "SKIPPED" or "completionTime" not in a:
                continue
            a = dict(a)
            a["start_epoch"] = _epoch(a["submissionTime"])
            a["end_epoch"] = _epoch(a["completionTime"])
            out.append(a)
        return out

    def task_durations_ms(self, stage: dict) -> List[float]:
        tasks = self._get(f"/stages/{stage['stageId']}/{stage['attemptId']}"
                          "/taskList?length=100000")
        return [float(t["duration"]) for t in tasks
                if t.get("status") == "SUCCESS" and "duration" in t]


def jvm_gc_seconds(spark) -> float:
    """Collection time of every garbage collector of the driver JVM, which
    in local mode hosts the executors too."""
    mf = spark.sparkContext._jvm.java.lang.management.ManagementFactory
    return sum(b.getCollectionTime()
               for b in mf.getGarbageCollectorMXBeans()) / 1000.0


def stage_seconds(stage: Optional[dict]) -> float:
    if stage is None:
        return 0.0
    return stage["end_epoch"] - stage["start_epoch"]


def exchange_stage(stages: List[dict]) -> Optional[dict]:
    """The salted exchange's map side: the stage that writes the most
    shuffle bytes (it carries the payloads)."""
    cands = [s for s in stages if s["shuffleWriteBytes"] > 0]
    return max(cands, key=lambda s: s["shuffleWriteBytes"], default=None)


def extract_stage(stages: List[dict]) -> Optional[dict]:
    """The Python extraction stage: of the stages that read a shuffle, the
    one with the most executor run time."""
    cands = [s for s in stages if s["shuffleReadBytes"] > 0]
    return max(cands, key=lambda s: s["executorRunTime"], default=None)
