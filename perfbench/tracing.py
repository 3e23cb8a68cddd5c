"""Spans around calls into the program's public functions.

The tracer records, for each span, its name, start, end, parent and the
CPU seconds the JVM and its Python workers spent while it was open. Every
span sets a Spark job group, so after the run the status store yields the
jobs, tasks, executor CPU, shuffle, spill and task skew of each span.
Spans stay in memory and are written out with the run report.

``install`` wraps the public functions that ``run_pipeline``, the
incremental ingest path and ``curate`` reach, by replacing the module
attributes those callers look up at call time; ``uninstall`` restores them.
No program file changes.
"""

from __future__ import annotations

import contextlib
import functools
import time
import uuid

from py4j.protocol import Py4JError

import host


class NullTracer:
    """Tracing off: spans cost one context-manager entry and record nothing."""

    enabled = False

    @contextlib.contextmanager
    def span(self, name: str, **attrs):
        yield {}


class Tracer:
    enabled = True

    def __init__(self, spark, root_pid: int):
        self.sc = spark.sparkContext
        self.root_pid = root_pid
        self.run_id = uuid.uuid4().hex[:12]
        self.spans: list[dict] = []
        self._stack: list[dict] = []
        self.captured: dict[str, list] = {}

    @contextlib.contextmanager
    def span(self, name: str, **attrs):
        parent = self._stack[-1] if self._stack else None
        rec = {"id": len(self.spans), "run_id": self.run_id, "name": name,
               "parent": parent["id"] if parent else None, "attrs": dict(attrs),
               "group": f"{self.run_id}-{len(self.spans)}"}
        self.spans.append(rec)
        self._stack.append(rec)
        self.sc.setJobGroup(rec["group"], name)
        cpu0 = host.tree_cpu_s(self.root_pid)
        rec["start"] = time.perf_counter()
        try:
            yield rec
        finally:
            rec["end"] = time.perf_counter()
            rec["cpu_s"] = host.tree_cpu_s(self.root_pid) - cpu0
            self._stack.pop()
            if parent is not None:
                self.sc.setJobGroup(parent["group"], parent["name"])
            else:
                self.sc.setLocalProperty("spark.jobGroup.id", None)
                self.sc.setLocalProperty("spark.job.description", None)

    def capture(self, key: str, value) -> None:
        self.captured.setdefault(key, []).append(value)

    # -- reporting ---------------------------------------------------------

    def self_times(self) -> None:
        """Adds ``dur_s`` and ``self_s`` (duration minus the part covered
        by child spans; children of one parent never overlap here)."""
        for s in self.spans:
            s["dur_s"] = s["end"] - s["start"]
            s["self_s"] = s["dur_s"]
        for s in self.spans:
            if s["parent"] is not None:
                self.spans[s["parent"]]["self_s"] -= s["dur_s"]

    def engine_counters(self) -> None:
        """Per-span (own jobs only) Spark counters from the status store."""
        tracker = self.sc.statusTracker()
        store = self.sc._jsc.sc().statusStore()
        jvm = self.sc._jvm
        quantiles = self.sc._gateway.new_array(jvm.double, 2)
        quantiles[0], quantiles[1] = 0.5, 1.0
        empty_list = getattr(store, "stageData$default$3")()
        empty_q = getattr(store, "stageData$default$5")()
        for s in self.spans:
            c = {"jobs": 0, "tasks": 0, "cpu_s": 0.0, "shuffle_bytes": 0,
                 "spill_bytes": 0, "failed_tasks": 0, "run_ms": 0, "skew": 0.0}
            longest = (-1, None)
            job_ids = tracker.getJobIdsForGroup(s["group"])
            c["jobs"] = len(job_ids)
            for jid in job_ids:
                info = tracker.getJobInfo(jid)
                for sid in (info.stageIds if info else []):
                    try:
                        attempts = store.stageData(sid, False, empty_list, False, empty_q)
                    except Py4JError:
                        continue  # skipped stage: its output was reused
                    for i in range(attempts.size()):
                        sd = attempts.apply(i)
                        if str(sd.status()) == "SKIPPED":
                            continue
                        c["tasks"] += sd.numCompleteTasks() + sd.numFailedTasks()
                        c["failed_tasks"] += sd.numFailedTasks()
                        c["cpu_s"] += sd.executorCpuTime() / 1e9
                        c["shuffle_bytes"] += sd.shuffleWriteBytes()
                        c["spill_bytes"] += sd.memoryBytesSpilled() + sd.diskBytesSpilled()
                        c["run_ms"] += sd.executorRunTime()
                        if sd.executorRunTime() > longest[0]:
                            longest = (sd.executorRunTime(), (sid, sd.attemptId()))
            if longest[1] is not None:
                try:
                    dist = store.taskSummary(longest[1][0], longest[1][1], quantiles)
                    if dist.isDefined():
                        rt = dist.get().executorRunTime()
                        med, mx = rt.apply(0), rt.apply(1)
                        c["skew"] = mx / med if med > 0 else 1.0
                except Py4JError:
                    pass
            s["engine"] = c

    def inclusive(self, span: dict) -> dict:
        """Engine counters of a span and all its descendants."""
        ids = {span["id"]}
        for s in self.spans:
            if s["parent"] in ids:
                ids.add(s["id"])
        out: dict = {}
        skews = []
        for s in self.spans:
            if s["id"] in ids:
                for k, v in s["engine"].items():
                    if k != "skew":
                        out[k] = out.get(k, 0) + v
                if s["engine"]["skew"]:
                    skews.append(s["engine"]["skew"])
        out["skew"] = max(skews) if skews else 0.0
        return out


def _wrap(tracer, fn, name_of, capture: str | None = None):
    """``fn`` inside a span named ``name_of(*args)``; with ``capture`` the
    returned (lazy) DataFrame is kept so its rows can be counted after the
    traced pass, outside every span."""
    @functools.wraps(fn)
    def wrapper(*args, **kwargs):
        with tracer.span(name_of(*args, **kwargs)):
            out = fn(*args, **kwargs)
        if capture:
            tracer.capture(capture, out)
        return out
    return wrapper


def install(tracer) -> list[tuple]:
    """Wraps the program's public layer entry points; returns the undo list."""
    from amharic_ecommerce_data_extractor_spark.operators import (
        curation, dedup, incremental, linking,
    )
    from amharic_ecommerce_data_extractor_spark.sources import checkpoint

    undo: list[tuple] = []

    def patch(module, attr, wrapper_fn):
        undo.append((module, attr, getattr(module, attr)))
        setattr(module, attr, wrapper_fn)

    # sources.checkpoint: run_pipeline looks these up as ckpt.<name>, and
    # run_stage/chunked_stage look up write_stage in their own module
    patch(checkpoint, "run_stage", _wrap(
        tracer, checkpoint.run_stage, lambda spark, workdir, stage, *a, **k: f"ckpt.{stage}"))
    patch(checkpoint, "chunked_stage", _wrap(
        tracer, checkpoint.chunked_stage,
        lambda spark, workdir, stage, *a, **k: f"ckpt.{stage}.chunks"))
    patch(checkpoint, "write_stage", _wrap(
        tracer, checkpoint.write_stage, lambda df, stage_dir, stage, *a, **k: f"write:{stage}"))

    # operators.linking: canonicalize_surfaces calls both as module globals;
    # dedup and incremental imported connected_components by name
    patch(linking, "lsh_candidate_pairs", _wrap(
        tracer, linking.lsh_candidate_pairs, lambda *a, **k: "link.lsh", "link.verified"))

    orig_banded = linking.banded_candidate_pairs

    @functools.wraps(orig_banded)
    def banded(*args, **kwargs):
        out = orig_banded(*args, **kwargs)
        parent = tracer._stack[-1]["name"] if tracer._stack else ""
        tracer.capture(f"candidates:{parent}", out)
        return out

    patch(linking, "banded_candidate_pairs", banded)
    patch(dedup, "banded_candidate_pairs", banded)

    orig_cc = linking.connected_components

    @functools.wraps(orig_cc)
    def cc(edges, *args, **kwargs):
        stats = kwargs.setdefault("stats", {})
        with tracer.span("link.cc") as rec:
            out = orig_cc(edges, *args, **kwargs)
            rec["attrs"].update(stats)
        return out

    for module in (linking, dedup, incremental):
        patch(module, "connected_components", cc)

    # operators.dedup / operators.curation
    patch(curation, "dedup", _wrap(tracer, dedup.dedup, lambda *a, **k: "dedup"))
    patch(dedup, "minhash_duplicate_pairs", _wrap(
        tracer, dedup.minhash_duplicate_pairs, lambda *a, **k: "dedup.pairs",
        "dedup.verified"))

    # operators.incremental: ingest_dedup_batch imports incremental_dedup
    # from the module at call time; append is a method of DedupIndex
    patch(incremental, "incremental_dedup", _wrap(
        tracer, incremental.incremental_dedup, lambda *a, **k: "incdedup.dedup"))
    patch(incremental.DedupIndex, "append", _wrap(
        tracer, incremental.DedupIndex.append, lambda *a, **k: "index.append"))
    return undo


def uninstall(undo: list[tuple]) -> None:
    for module, attr, orig in reversed(undo):
        setattr(module, attr, orig)
