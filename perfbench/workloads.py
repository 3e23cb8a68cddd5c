"""The benchmark workloads: one timed loop of public program calls each.

An operation is one ``run_pipeline`` call (kg_batch, kg_longtail), one
arrival (ingest_incremental) or one ``curate`` call (curate_corpus). Each
operation is timed from the moment its input is in place to its committed
result, then checked; a failed check makes it a failed operation that is
left out of every timing.
"""

from __future__ import annotations

import json
import os
import random
import shutil
import statistics
import time
from dataclasses import dataclass, field

import checks
import host
import inputs

from amharic_ecommerce_data_extractor_spark.operators.curation import curate
from amharic_ecommerce_data_extractor_spark.operators.incremental import DedupIndex
from amharic_ecommerce_data_extractor_spark.plans.pipeline import run_pipeline
from amharic_ecommerce_data_extractor_spark.streaming.stream import (
    ingest_dedup_batch, streaming_triples,
)

KG_STAGES = ["ingest", "extract", "extract_bucketed", "triples", "link",
             "graph_triples", "graph_nodes", "scorecard", "graph_features"]

# input sizes; the timed loops below scale their operation count with
# --seconds, never these sizes
KG_MESSAGES = 40_000
ARRIVAL_ROWS = 200
CURATE_DOCS = 8_000
ORACLE_SAMPLE = 300


@dataclass
class Op:
    latency_s: float
    items: int
    ok: bool
    detail: dict = field(default_factory=dict)


@dataclass
class Ctx:
    spark: object
    seed: int
    seconds: int
    work: str          # scratch directory of this run
    cache: str         # input cache directory
    root_pid: int      # parent of the JVM and its Python workers


def _sample(values: list, k: int, seed: int) -> list:
    return sorted(random.Random(seed).sample(values, min(k, len(values))))


def _timed(fn) -> tuple[float, object]:
    t0 = time.perf_counter()
    out = fn()
    return time.perf_counter() - t0, out


# ---------------------------------------------------------------------------
# kg_batch / kg_longtail: run_pipeline over one generated corpus
# ---------------------------------------------------------------------------

class KgWorkload:
    def __init__(self, name: str):
        self.name = name

    def prepare(self, ctx: Ctx) -> tuple[str, dict]:
        return inputs.prepare(ctx.cache, self.name, ctx.seed, n_rows=KG_MESSAGES)

    def texts(self, inp: str):
        return checks.read_parquet(os.path.join(inp, "messages"), ["content"])["content"]

    def run(self, ctx: Ctx, inp: str, props: dict, tracer, tag: str,
            max_ops: int | None = None) -> dict:
        messages_dir = os.path.join(inp, "messages")
        ids = checks.read_parquet(messages_dir, ["message_id"])["message_id"].tolist()
        sample = checks.read_parquet(messages_dir, None,
                                     ("message_id", _sample(ids, ORACLE_SAMPLE, ctx.seed)))
        ops, first_digests, t_start = [], None, time.perf_counter()
        workdir = None
        while not ops or (time.perf_counter() - t_start < ctx.seconds
                          and (max_ops is None or len(ops) < max_ops)):
            workdir = os.path.join(ctx.work, f"{tag}-kg{len(ops)}")
            try:
                with tracer.span("run_pipeline"):
                    dt, summary = _timed(lambda: run_pipeline(
                        ctx.spark, workdir, input_path=messages_dir))
            except Exception as exc:  # an operation that raised is a failed one
                ops.append(Op(0.0, props["rows"], False, {"error": repr(exc)[:500]}))
                continue
            p, r = checks.triple_pr(os.path.join(workdir, "triples", "data"), sample)
            digests = {s: checks.dir_digest(os.path.join(workdir, s, "data"))
                       for s in ("triples", "graph_triples", "scorecard")}
            first_digests = first_digests or digests
            ok = (p >= checks.MIN_PR and r >= checks.MIN_PR
                  and summary["messages"] == props["rows"] and digests == first_digests)
            ops.append(Op(dt, props["rows"], ok,
                          {"precision": p, "recall": r, "digests": digests,
                           "triples": summary["triples"], "nodes": summary["nodes"],
                           "vendors": summary["vendors"],
                           "stage_seconds": summary["stage_seconds"]}))
        return {"ops": ops, "stored_bytes": host.tree_bytes(workdir),
                "input_bytes": props["bytes"], "workdir": workdir}


# ---------------------------------------------------------------------------
# ingest_incremental: closed loop, one producer, one arrival file at a time
# ---------------------------------------------------------------------------

def index_files(warehouse: str, name: str) -> tuple[int, int]:
    """(data files, rows) of the three DedupIndex tables."""
    files = rows = 0
    for suffix in ("exact", "sigs", "bands"):
        path = os.path.join(warehouse, f"{name}_{suffix}")
        if os.path.isdir(path):
            files += sum(1 for _, _, fs in os.walk(path)
                         for f in fs if f.endswith(".parquet"))
            rows += checks.count_rows(path)
    return files, rows


class IngestWorkload:
    name = "ingest_incremental"

    @staticmethod
    def n_arrivals(seconds: int) -> int:
        # ~4 s per arrival on a 4-core host; at least four so the median is
        # not the bootstrap arrival
        return max(4, seconds // 4)

    def prepare(self, ctx: Ctx) -> tuple[str, dict]:
        return inputs.prepare(ctx.cache, self.name, ctx.seed,
                              n_arrivals=self.n_arrivals(ctx.seconds),
                              arrival_rows=ARRIVAL_ROWS)

    def texts(self, inp: str):
        return checks.read_parquet(os.path.join(inp, "arrivals"), ["content"])["content"]

    def run(self, ctx: Ctx, inp: str, props: dict, tracer, tag: str,
            max_ops: int | None = None) -> dict:
        spark = ctx.spark
        base = os.path.join(ctx.work, f"{tag}-ingest")
        landing, out_dir, ck_dir, sink = (os.path.join(base, d) for d in
                                          ("landing", "kept", "ck", "triples"))
        for d in (landing, ck_dir):
            os.makedirs(d, exist_ok=True)
        store = DedupIndex(spark, f"bench_idx_{tag}", n_buckets=8)
        warehouse = spark.conf.get("spark.sql.warehouse.dir").removeprefix("file:")
        accepted: set = set()
        ops, files_per_arrival = [], []
        arrivals = sorted(os.listdir(os.path.join(inp, "arrivals")))
        for a, name in enumerate(arrivals[:max_ops]):
            dst = os.path.join(landing, name)
            shutil.copytree(os.path.join(inp, "arrivals", name), dst)

            def arrive():
                with tracer.span("arrival", arrival=a):
                    with tracer.span("incdedup"):
                        ingest_dedup_batch(spark.read.parquet(dst), a, store,
                                           out_dir, ck_dir)
                    kept = spark.read.parquet(os.path.join(out_dir, f"ingest_batch={a}"))
                    with tracer.span("stream_triples"):
                        streaming_triples(kept).write.mode("append").parquet(sink)

            try:
                dt, _ = _timed(arrive)
            except Exception as exc:
                ops.append(Op(0.0, ARRIVAL_ROWS, False, {"error": repr(exc)[:500]}))
                continue
            kept = checks.read_parquet(os.path.join(out_dir, f"ingest_batch={a}"),
                                       ["message_id", "repo", "content"])
            contents = kept["content"].fillna("\x00null")
            fresh = checks.unique_texts(kept["content"]) and not (set(contents) & accepted)
            accepted |= set(contents)
            p, r = checks.triple_pr(sink, kept)
            n_in = checks.count_rows(dst)
            ok = fresh and p >= checks.MIN_PR and r >= checks.MIN_PR
            ops.append(Op(dt, n_in, ok, {"kept": len(kept), "rows": n_in,
                                         "precision": p, "recall": r,
                                         "no_repeat_content": fresh}))
            if tracer.enabled:
                files_per_arrival.append(index_files(warehouse, store.name)[0])
        files, rows = index_files(warehouse, store.name)
        stored = (host.tree_bytes(out_dir) + host.tree_bytes(sink)
                  + host.tree_bytes(ck_dir) + sum(
                      host.tree_bytes(os.path.join(warehouse, f"{store.name}_{s}"))
                      for s in ("exact", "sigs", "bands")))
        input_bytes = sum(host.tree_bytes(os.path.join(inp, "arrivals", n))
                          for n in arrivals[:max_ops])
        return {"ops": ops, "stored_bytes": stored, "input_bytes": input_bytes,
                "index_files": files, "index_rows": rows,
                "index_files_per_arrival": files_per_arrival,
                "planted": self.planted_report(inp, out_dir)}

    @staticmethod
    def planted_report(inp: str, out_dir: str) -> dict:
        with open(os.path.join(inp, "planted.json"), encoding="utf-8") as f:
            planted = json.load(f)
        kept_ids = set()
        if os.path.isdir(out_dir):
            kept_ids = set(checks.read_parquet(out_dir, ["message_id"])["message_id"])
        out = {}
        for kind in ("exact", "near"):
            rows = [p for p in planted if p["kind"] == kind]
            out[f"{kind}_planted"] = len(rows)
            out[f"{kind}_dropped"] = sum(p["message_id"] not in kept_ids for p in rows)
            out[f"{kind}_source_kept"] = sum(p["source_id"] in kept_ids for p in rows)
            out[f"{kind}_dropped_when_source_kept"] = sum(
                p["message_id"] not in kept_ids for p in rows if p["source_id"] in kept_ids)
        return out


# ---------------------------------------------------------------------------
# curate_corpus: curate() with its defaults, result committed to parquet
# ---------------------------------------------------------------------------

class CurateWorkload:
    name = "curate_corpus"

    def prepare(self, ctx: Ctx) -> tuple[str, dict]:
        return inputs.prepare(ctx.cache, self.name, ctx.seed, n_docs=CURATE_DOCS)

    def texts(self, inp: str):
        return checks.read_parquet(os.path.join(inp, "docs"), ["text"])["text"]

    def run(self, ctx: Ctx, inp: str, props: dict, tracer, tag: str,
            max_ops: int | None = None) -> dict:
        docs_dir = os.path.join(inp, "docs")
        with open(os.path.join(inp, "planted.json"), encoding="utf-8") as f:
            exact_copies = {p["doc_id"] for p in json.load(f) if p["kind"] == "exact"}
        ops, first, t_start, sink = [], None, time.perf_counter(), None
        while not ops or (time.perf_counter() - t_start < ctx.seconds
                          and (max_ops is None or len(ops) < max_ops)):
            sink = os.path.join(ctx.work, f"{tag}-curated{len(ops)}")

            def call():
                with tracer.span("curate.call"):
                    with tracer.span("curate"):
                        curated, audit = curate(ctx.spark.read.parquet(docs_dir))
                        curated.write.parquet(sink)
                        rows = [tuple(r) for r in audit.collect()]
                    curated.unpersist()
                return rows

            try:
                dt, audit_rows = _timed(call)
            except Exception as exc:
                ops.append(Op(0.0, props["rows"], False, {"error": repr(exc)[:500]}))
                continue
            out = checks.read_parquet(sink, ["doc_id", "text"])
            result = (checks.digest(out[["doc_id"]]), audit_rows)
            first = first or result
            ok = (checks.audit_monotone(audit_rows) and checks.unique_texts(out["text"])
                  and not (set(out["doc_id"]) & exact_copies) and result == first)
            ops.append(Op(dt, props["rows"], ok,
                          {"audit": audit_rows, "curated": len(out),
                           "exact_copies_kept": len(set(out["doc_id"]) & exact_copies)}))
        return {"ops": ops, "stored_bytes": host.tree_bytes(sink),
                "input_bytes": props["bytes"]}


WORKLOADS = {
    "kg_batch": KgWorkload("kg_batch"),
    "kg_longtail": KgWorkload("kg_longtail"),
    "ingest_incremental": IngestWorkload(),
    "curate_corpus": CurateWorkload(),
}


def tail(latencies: list[float]) -> tuple[float | None, float | None]:
    """(percentile, value): the highest percentile with at least ten
    operations beyond it, or (None, None) when there are too few."""
    n = len(latencies)
    if n < 11:
        return None, None
    k = n - 10  # 1-based rank with exactly ten samples above it
    return round(100.0 * k / n, 2), sorted(latencies)[k - 1]


def summarize(ops: list[Op]) -> dict:
    good = [o for o in ops if o.ok]
    lat = [o.latency_s for o in good]
    pct, tail_v = tail(lat)
    return {
        "attempted": len(ops), "failed": len(ops) - len(good),
        "latencies_s": [o.latency_s for o in ops],
        "p50_s": statistics.median(lat) if lat else None,
        "tail_pct": pct, "tail_s": tail_v,
        "items_per_s": statistics.median(o.items / o.latency_s for o in good) if good else None,
    }
