"""KG-construction benchmark: one command, seeded workloads, local[4].

    python3 perfbench/run.py --workload kg_batch --seed 1 --seconds 20 --trace 0

Run from the repository root. With ``--trace 0`` it measures the
end-to-end metrics with no instrumentation; with ``--trace 1`` it runs the
workload untraced, then with spans around the program's public functions,
then untraced again as the reference for the tracing overhead, and reports
the per-layer metrics. Workloads: kg_batch and ingest_incremental (listed in
BENCHMARK.json), kg_longtail and curate_corpus (run by hand; see
layers.json). The last line of standard output is one JSON object:
``correct``, ``attempted``, ``failed`` and ``metrics``. A full run report
(input properties, host facts, every operation, digests, spans) is written
under ``.bench_work/reports/``.

Everything the run writes (inputs, checkpoints, shuffle files, catalog
tables, temporary files) stays under ``.bench_work/`` in the working
directory.
"""

from __future__ import annotations

import argparse
import json
import os
import random
import shutil
import sys
import time

ROOT = os.getcwd()
WORK_ROOT = os.path.join(ROOT, ".bench_work")
DRIVER_MEMORY = "3g"     # fits a 15 GB, 4-core host; the package default 16g does not
CORES = 4
SETUP_CYCLES = 3
KERNEL_SAMPLE = 2000


def log(msg: str) -> None:
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def configure_env(run_dir: str) -> None:
    """Points every writer at the run directory before the JVM starts."""
    tmp = os.path.join(run_dir, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["TMPDIR"] = tmp
    # the spark-submit launcher JVM would otherwise write under /tmp
    os.environ["SPARK_LAUNCHER_OPTS"] = f"-XX:-UsePerfData -Djava.io.tmpdir={tmp}"
    os.environ["SPARK_DRIVER_MEMORY"] = DRIVER_MEMORY
    os.environ["SPARK_GRAFT_LOCAL_DIR"] = os.path.join(run_dir, "spark-local")
    # Python workers import the package from the checkout
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p)
    os.environ.pop("SPARK_GRAFT_CHECKPOINT_FORMAT", None)


def spark_conf(run_dir: str) -> dict[str, str]:
    tmp = os.path.join(run_dir, "tmp")
    return {
        "spark.sql.warehouse.dir": os.path.join(run_dir, "warehouse"),
        "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData",
        "spark.ui.showConsoleProgress": "false",
        # keep every job's stage data for the per-span engine counters
        "spark.ui.retainedJobs": "100000",
        "spark.ui.retainedStages": "100000",
    }


def setup_cycle(run_dir: str):
    """One set-up: session creation plus JVM and Python-worker warm-up (one
    small extraction job, so every worker spawns and imports the package)."""
    from amharic_ecommerce_data_extractor_spark.operators.extract import extract_entities
    from amharic_ecommerce_data_extractor_spark.session import get_spark

    t0 = time.perf_counter()
    spark = get_spark(app_name="perfbench", cores=CORES, extra_conf=spark_conf(run_dir))
    spark.sparkContext.setLogLevel("ERROR")
    tiny = spark.range(0, 64, numPartitions=CORES).selectExpr(
        "id AS message_id", "concat('ምጣድ ዋጋ ', id, ' ብር መገናኛ') AS content")
    extract_entities(tiny).write.format("noop").mode("overwrite").save()
    return time.perf_counter() - t0, spark


def stop_jvm() -> None:
    """Stops the session, then the JVM, and waits for it to exit."""
    from pyspark import SparkContext
    from pyspark.sql import SparkSession

    active = SparkSession.getActiveSession()
    if active is not None:
        active.stop()
    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None)
    if gateway is not None:
        gateway.shutdown()
    if proc is not None:
        if proc.stdin:
            proc.stdin.close()
        try:
            proc.wait(timeout=30)
        except Exception:
            proc.kill()
            proc.wait(timeout=30)
    SparkContext._gateway = None
    SparkContext._jvm = None


def kernel_layer(texts, seed: int) -> dict:
    """kernels.textprep.preprocess_series and kernels.labeler.extract_message
    timed single-process with cold caches over sampled distinct texts."""
    import pandas as pd

    from amharic_ecommerce_data_extractor_spark.kernels import labeler as lb
    from amharic_ecommerce_data_extractor_spark.kernels import textprep as tp

    distinct = sorted({t for t in texts if isinstance(t, str)})
    sample = random.Random(seed).sample(distinct, min(KERNEL_SAMPLE, len(distinct)))
    lb._classify.cache_clear()
    lb._label_info.cache_clear()
    lb.extract_message_cached.cache_clear()
    t0 = time.perf_counter()
    clean = tp.preprocess_series(pd.Series(sample, dtype=object)).tolist()
    t1 = time.perf_counter()
    recs = [lb.extract_message(c) for c in clean]
    t2 = time.perf_counter()
    surfaces = {(k, s) for r in recs for k in ("products", "locations") for s in r[k]}
    n = max(1, len(sample))
    return {"kernels.preprocess_us": (t1 - t0) * 1e6 / n,
            "kernels.label_us": (t2 - t1) * 1e6 / n,
            "sample_texts": len(sample), "entity_surfaces_in_sample": len(surfaces)}


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), required=True)
    args = ap.parse_args()

    sys.path.insert(0, ROOT)
    try:
        import amharic_ecommerce_data_extractor_spark  # noqa: F401
        import pyspark  # noqa: F401
    except ImportError as exc:
        log(f"cannot import the program under test from {ROOT}: {exc}")
        return 2
    import host
    import metrics
    import tracing
    import workloads

    if args.workload not in workloads.WORKLOADS:
        log(f"unknown workload {args.workload!r}; known: {sorted(workloads.WORKLOADS)}")
        return 2
    wl = workloads.WORKLOADS[args.workload]

    run_dir = os.path.join(WORK_ROOT, "runs", f"{args.workload}-{os.getpid()}")
    shutil.rmtree(run_dir, ignore_errors=True)
    configure_env(run_dir)
    cache = os.path.join(WORK_ROOT, "inputs")
    os.makedirs(cache, exist_ok=True)
    facts = host.host_facts()
    report: dict = {"workload": args.workload, "seed": args.seed,
                    "seconds": args.seconds, "trace": args.trace, "host": facts}
    try:
        # inputs first: generated in-process, cached by seed, never timed
        ctx = workloads.Ctx(None, args.seed, args.seconds, run_dir, cache, os.getpid())
        inp, props = wl.prepare(ctx)
        report["input"] = props

        setup_times = []
        for k in range(SETUP_CYCLES):
            if k:
                ctx.spark.stop()
            dt, ctx.spark = setup_cycle(run_dir)
            setup_times.append(dt)
        report["setup_s"] = setup_times
        facts.update({
            "driver_heap": ctx.spark.conf.get("spark.driver.memory"),
            "master": ctx.spark.sparkContext.master,
            "checkpoint_dir": os.path.relpath(run_dir, ROOT),
            "checkpoint_fs": host.fs_type(run_dir),
            "shuffle_dir": os.path.relpath(os.environ["SPARK_GRAFT_LOCAL_DIR"], ROOT),
            "shuffle_fs": host.fs_type(run_dir),
        })

        cpu0, load0 = host.cpu_counters(), host.load1()
        with host.RssSampler(os.getpid()) as rss:
            res = wl.run(ctx, inp, props, tracing.NullTracer(), "u")
        cpu1 = host.cpu_counters()
        facts.update({"load1_after": host.load1(), "load1_timed_start": load0,
                      "steal_pct": host.steal_pct(cpu0, cpu1)})
        summary = workloads.summarize(res["ops"])
        report["untraced"] = metrics.ops_report(res, summary)

        kernels = kernel_layer(wl.texts(inp), args.seed)
        props["entity_surfaces_in_sample"] = kernels.pop("entity_surfaces_in_sample")
        props["kernel_sample_texts"] = kernels.pop("sample_texts")
        if args.trace:
            values, report["traced"] = metrics.traced(ctx, wl, inp, props)
            values.update(kernels)
            attempted = summary["attempted"] + report["traced"]["attempted"]
            failed = summary["failed"] + report["traced"]["failed"]
        else:
            values = metrics.end_to_end(summary, res, setup_times, rss.peak_bytes)
            attempted, failed = summary["attempted"], summary["failed"]
        report["metrics"] = values
    finally:
        stop_jvm()
        shutil.rmtree(run_dir, ignore_errors=True)
    metrics.write_report(WORK_ROOT, report)
    result = {"correct": failed == 0, "attempted": attempted, "failed": failed,
              "metrics": {k: {"value": v, "unit": metrics.UNITS[k]}
                          for k, v in values.items()}}
    print(json.dumps(result), flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
