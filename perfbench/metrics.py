"""Metric definitions, the traced pass, and the run report.

End-to-end metrics come from the untraced pass; per-layer metrics from a
second, traced pass in the same process. Every run prints every metric of
its mode; a layer that a workload does not exercise reports 0.
"""

from __future__ import annotations

import json
import os
import statistics
import sys
import time

import checks
import host
import tracing
from workloads import KG_STAGES

END_TO_END = {
    "setup_s": "s",
    "msgs_per_s": "1/s",
    "arrival_p50_s": "s",
    "peak_rss_mb": "MB",
    "stored_bytes_per_input_byte": "ratio",
    "triple_precision": "ratio",
    "triple_recall": "ratio",
}

ENGINE_SPANS = {            # per-layer name -> traced span it aggregates
    "extract": "ckpt.extract.chunks",
    "link": "ckpt.link",
    "incdedup": "incdedup",
    "curate": "curate",
    "total": None,          # every root span: the whole traced pass
}
ENGINE_FIELDS = {"jobs": "count", "tasks": "count", "cpu_s": "s",
                 "shuffle_bytes": "bytes", "spill_bytes": "bytes",
                 "failed_tasks": "count", "skew": "ratio"}

PER_LAYER: dict[str, str] = {}
for _stage in KG_STAGES:
    PER_LAYER.update({f"ckpt.{_stage}.s": "s", f"ckpt.{_stage}.bytes": "bytes",
                      f"ckpt.{_stage}.rows": "count"})
PER_LAYER.update({
    "extract.distinct_ratio": "ratio", "extract.cpu_s": "s",
    "kernels.preprocess_us": "us", "kernels.label_us": "us",
    "triples.rows": "count",
    "link.surfaces": "count", "link.candidate_pairs": "count",
    "link.verified_pairs": "count", "link.verify_yield": "ratio",
    "link.cc_rounds": "count", "link.cc_path": "count", "link.components": "count",
    "link.lsh_s": "s", "link.cc_s": "s",
    "incdedup.s": "s", "incdedup.kept_ratio": "ratio", "index.append_s": "s",
    "index.rows": "count", "index.files": "count", "stream_triples.s": "s",
    "dedup.s": "s", "dedup.candidate_pairs": "count", "dedup.verified_pairs": "count",
    "curate.jobs": "count",
})
for _span in ENGINE_SPANS:
    PER_LAYER.update({f"engine.{_span}.{f}": u for f, u in ENGINE_FIELDS.items()})
PER_LAYER.update({"share.extract": "ratio", "share.link_graph": "ratio",
                  "share.untraced": "ratio", "trace.overhead_s": "s",
                  "trace.probe_s": "s"})

UNITS = {**END_TO_END, **PER_LAYER}

# top-level traced span -> layer group for the self-time shares
SHARE_GROUPS = {
    "ckpt.extract_bucketed": "extract", "ckpt.link": "link_graph",
    "ckpt.graph_triples": "link_graph", "ckpt.graph_nodes": "link_graph",
}

# operations in the traced pass (None: every one the untraced pass ran)
TRACED_OPS = {"kg_batch": 1, "kg_longtail": 1, "curate_corpus": 1,
              "ingest_incremental": None}


def end_to_end(summary: dict, res: dict, setup_times: list[float],
               peak_rss_bytes: int) -> dict:
    ok = summary["p50_s"] is not None
    out = {
        "setup_s": statistics.median(setup_times),
        "msgs_per_s": summary["items_per_s"] if ok else 0.0,
        "arrival_p50_s": summary["p50_s"] if ok else 0.0,
        "peak_rss_mb": peak_rss_bytes / 2**20,
        "stored_bytes_per_input_byte": res["stored_bytes"] / max(1, res["input_bytes"]),
    }
    # worst operation; curate_corpus emits no triples and reports neither
    checked = [o.detail for o in res["ops"] if "precision" in o.detail]
    if checked:
        out["triple_precision"] = min(d["precision"] for d in checked)
        out["triple_recall"] = min(d["recall"] for d in checked)
    return out


def _ops(ops: list) -> list[dict]:
    return [{"latency_s": o.latency_s, "items": o.items, "ok": o.ok, **o.detail}
            for o in ops]


def ops_report(res: dict, summary: dict) -> dict:
    out = {k: v for k, v in res.items() if k not in ("ops", "workdir")}
    out.update(summary)
    out["ops"] = _ops(res["ops"])
    return out


def _marker_rows(stage_dir: str) -> int:
    rows = 0
    for dirpath, _, files in os.walk(stage_dir):
        if "_STAGE_DONE" in files and os.path.basename(dirpath) != "extract":
            with open(os.path.join(dirpath, "_STAGE_DONE"), encoding="utf-8") as f:
                rows += json.load(f).get("rows", 0)
    return rows


def traced(ctx, wl, inp: str, props: dict) -> tuple[dict, dict]:
    """Runs the workload again with spans installed, then once more without
    them as the reference for the tracing overhead (both after the untraced
    pass, so neither pays the JVM's first-run warm-up). Returns the layer
    values and the report section (spans, shares, overhead)."""
    n_ops = TRACED_OPS[wl.name]
    tracer = tracing.Tracer(ctx.spark, ctx.root_pid)
    undo = tracing.install(tracer)
    try:
        res = wl.run(ctx, inp, props, tracer, "t", max_ops=n_ops)
    finally:
        tracing.uninstall(undo)
    ref = wl.run(ctx, inp, props, tracing.NullTracer(), "r", max_ops=n_ops)
    t_probe = time.perf_counter()
    counts = {k: sum(df.count() for df in v) for k, v in tracer.captured.items()}
    probe_s = time.perf_counter() - t_probe
    tracer.self_times()
    tracer.engine_counters()
    spans = tracer.spans

    def named(name):
        return [s for s in spans if s["name"] == name]

    def per_call(name, key="dur_s"):
        vals = [s[key] for s in named(name)]
        return statistics.median(vals) if vals else 0.0

    roots = [s for s in spans if s["parent"] is None]
    traced_wall = sum(s["dur_s"] for s in roots)
    shares: dict[str, float] = {}
    for s in spans:
        top = s
        while top["parent"] is not None and spans[top["parent"]]["parent"] is not None:
            top = spans[top["parent"]]
        group = "untraced" if top["parent"] is None else SHARE_GROUPS.get(top["name"], top["name"])
        shares[group] = shares.get(group, 0.0) + s["self_s"]
    shares = {k: v / traced_wall for k, v in shares.items()} if traced_wall else {}

    v: dict = {k: 0.0 for k in PER_LAYER}
    workdir = res.get("workdir")
    if workdir:
        for stage in KG_STAGES:
            span = "ckpt.extract.chunks" if stage == "extract" else f"ckpt.{stage}"
            stage_dir = os.path.join(workdir, stage)
            v[f"ckpt.{stage}.s"] = per_call(span)
            v[f"ckpt.{stage}.bytes"] = host.tree_bytes(stage_dir)
            v[f"ckpt.{stage}.rows"] = _marker_rows(stage_dir)
        v["extract.distinct_ratio"] = props["distinct_text_ratio"]
        v["extract.cpu_s"] = per_call("ckpt.extract.chunks", "cpu_s")
        v["triples.rows"] = v["ckpt.triples.rows"]
        v["link.surfaces"] = v["ckpt.link.rows"]
        link = checks.read_parquet(os.path.join(workdir, "link", "data"), ["canonical_id"])
        v["link.components"] = int(link["canonical_id"].nunique())
    v["link.candidate_pairs"] = counts.get("candidates:link.lsh", 0)
    v["link.verified_pairs"] = counts.get("link.verified", 0)
    if v["link.candidate_pairs"]:
        v["link.verify_yield"] = v["link.verified_pairs"] / v["link.candidate_pairs"]
    ccs = named("link.cc")
    if ccs:
        v["link.cc_rounds"] = max(s["attrs"].get("rounds", 0) for s in ccs)
        v["link.cc_path"] = max(0 if s["attrs"].get("rounds", 0) == 0 else 1 for s in ccs)
        v["link.cc_s"] = sum(s["dur_s"] for s in ccs) / len(roots)
    v["link.lsh_s"] = sum(s["dur_s"] for s in named("link.lsh")) / max(1, len(roots))
    if named("incdedup"):
        v["incdedup.s"] = per_call("incdedup")
        v["index.append_s"] = per_call("index.append")
        v["stream_triples.s"] = per_call("stream_triples")
        kept = sum(o.detail.get("kept", 0) for o in res["ops"])
        v["incdedup.kept_ratio"] = kept / max(1, sum(o.items for o in res["ops"]))
        v["index.rows"], v["index.files"] = res["index_rows"], res["index_files"]
    if named("dedup"):
        v["dedup.s"] = per_call("dedup")
        v["dedup.candidate_pairs"] = counts.get("candidates:dedup.pairs", 0)
        v["dedup.verified_pairs"] = counts.get("dedup.verified", 0)
        v["curate.jobs"] = statistics.median(tracer.inclusive(s)["jobs"] for s in named("curate"))
    for key, span_name in ENGINE_SPANS.items():
        targets = roots if span_name is None else named(span_name)
        if not targets:
            continue
        sums: dict = {}
        for s in targets:
            for f, val in tracer.inclusive(s).items():
                sums[f] = max(sums.get(f, 0), val) if f == "skew" else sums.get(f, 0) + val
        for f in ENGINE_FIELDS:
            v[f"engine.{key}.{f}"] = sums[f] if f == "skew" else sums[f] / len(targets)
    v["share.extract"] = shares.get("extract", 0.0)
    v["share.link_graph"] = shares.get("link_graph", 0.0)
    v["share.untraced"] = shares.get("untraced", 0.0)
    good = [o.latency_s for o in res["ops"] if o.ok]
    good_ref = [o.latency_s for o in ref["ops"] if o.ok]
    if good and good_ref:
        v["trace.overhead_s"] = statistics.median(good) - statistics.median(good_ref)
    v["trace.probe_s"] = probe_s

    all_ops = res["ops"] + ref["ops"]
    report = {
        "attempted": len(all_ops), "failed": sum(not o.ok for o in all_ops),
        "run_id": tracer.run_id, "traced_wall_s": traced_wall,
        "self_time_shares": shares, "captured_counts": counts,
        "ops": _ops(res["ops"]),
        "reference_ops": _ops(ref["ops"]),
        "index_files_per_arrival": res.get("index_files_per_arrival"),
        "planted": res.get("planted"),
        "spans": [{k: s[k] for k in ("id", "run_id", "name", "parent", "start", "end",
                                     "dur_s", "self_s", "cpu_s", "attrs", "engine")}
                  for s in spans]
        # the part of each operation no wrapped call covers, as its own span
        + [{"name": "untraced", "run_id": tracer.run_id, "parent": r["id"],
            "dur_s": r["self_s"], "self_s": r["self_s"]} for r in roots],
    }
    return v, report


def write_report(work_root: str, report: dict, keep: int = 200) -> None:
    out_dir = os.path.join(work_root, "reports")
    os.makedirs(out_dir, exist_ok=True)
    name = (f"{report['workload']}-s{report['seed']}-t{report['trace']}"
            f"-{time.strftime('%Y%m%dT%H%M%S')}-{os.getpid()}.json")
    with open(os.path.join(out_dir, name), "w", encoding="utf-8") as f:
        json.dump(report, f, indent=1, default=str)
    old = sorted((os.path.join(out_dir, n) for n in os.listdir(out_dir)),
                 key=os.path.getmtime)
    for stale in old[:-keep]:
        os.remove(stale)
    print(f"[perfbench] report: {os.path.join(out_dir, name)}", file=sys.stderr, flush=True)
