"""Per-stage checkpointing with lineage and resume (graft operator G5).

Every pipeline stage writes:
* its data as parquet under ``<workdir>/<stage>/data`` (the checkpoint —
  doubles as the cache between stages and the resume point);
* a ``_lineage`` parquet: one row per commit with the row count and an
  order-insensitive content signature (bit_xor of xxhash64 over all columns,
  in read-back order), plus the per-row ``content_sha256`` invariant
  aggregate when present. The values come from an ``Observation`` on the
  write itself, so a commit is ONE Spark job: no read-back, no count;
* a ``_STAGE_DONE`` JSON marker (stage name, rows, wall time) written LAST
  and atomically (temp file + ``os.replace``) — its presence is the commit
  point of the stage.

Resume = skip stages whose marker exists. For long Python-heavy stages,
``chunked_stage`` hash-splits the input on a key into N chunks and commits
each chunk independently — a mid-run restart recomputes only unfinished
chunks (per-partition resume within a stage).

The reference has no counterpart (every stage re-reads CSV and recomputes,
``run_pipeline.py:89,217``); this is the distributed-reliability layer the
north rule mandates.

The format a stage was WRITTEN with is committed in its ``_STAGE_DONE``
marker (and in ``_CHUNK_MANIFEST`` for chunked stages); resume reads hard-
fail on a mismatch with the requested/ambient format, so flipping
``SPARK_GRAFT_CHECKPOINT_FORMAT`` mid-run can never read a parquet
checkpoint with the Iceberg reader or vice versa.

Iceberg production recipe (the north rule's table format; the sandbox has no
runtime jar, so 'parquet' is the tested default — the dispatch seam is
``fmt``/``SPARK_GRAFT_CHECKPOINT_FORMAT``):

* jars: add ``org.apache.iceberg:iceberg-spark-runtime-<spark_ver>_<scala_ver>``
  (e.g. ``iceberg-spark-runtime-3.5_2.12``) via ``--packages`` or the
  cluster image.
* session confs (catalog named ``kg`` here)::

      spark.sql.extensions=org.apache.iceberg.spark.extensions.IcebergSparkSessionExtensions
      spark.sql.catalog.kg=org.apache.iceberg.spark.SparkCatalog
      spark.sql.catalog.kg.type=hadoop          # or hive / rest / glue
      spark.sql.catalog.kg.warehouse=s3a://<bucket>/<warehouse-path>

* run with ``SPARK_GRAFT_CHECKPOINT_FORMAT=iceberg``; ``write_stage`` then
  issues ``df.write.format('iceberg')...save(<path>)``. With a catalog,
  prefer table identifiers (``kg.db.stage_extract``) over raw paths by
  passing ``fmt='iceberg'`` and a catalog-qualified ``workdir`` naming
  convention.
* partition spec: ``partition_by=['_chunk']`` flows through unchanged —
  Iceberg turns it into an identity partition field; add hidden partitioning
  (``days(ts)``, ``bucket(N, key)``) with ALTER TABLE after first write.
* Iceberg's snapshot commit replaces the marker's atomicity role (readers
  never see partial data), but the ``_STAGE_DONE`` marker remains the
  RESUME signal and records rows/wall-time/format either way.
"""

from __future__ import annotations

import json
import os
import shutil
import time

import pyarrow as pa
import pyarrow.parquet as pq
from pyspark.sql import DataFrame, Observation, SparkSession, functions as F

MARKER = "_STAGE_DONE"
CHUNK_COL = "_chunk"


def with_chunk_column(df: DataFrame, key_col: str = "message_id",
                      n_chunks: int = 8) -> DataFrame:
    """Adds the ``_chunk`` hash-bucket column. Checkpoint the result with
    ``run_stage(..., partition_by=['_chunk'])`` and a downstream
    ``chunked_stage`` reads each chunk via partition pruning (one total
    pass over the input instead of n_chunks full scans)."""
    return df.withColumn(CHUNK_COL,
                         F.pmod(F.xxhash64(F.col(key_col)), F.lit(n_chunks)).cast("int"))


def _marker_path(stage_dir: str) -> str:
    return os.path.join(stage_dir, MARKER)


def stage_done(stage_dir: str) -> bool:
    return os.path.exists(_marker_path(stage_dir))


def committed_rows(stage_dir: str) -> int:
    """Row count a completed stage committed in its _STAGE_DONE marker."""
    with open(_marker_path(stage_dir), encoding="utf-8") as f:
        return json.load(f)["rows"]


def _write_json(path: str, obj: dict) -> None:
    """Atomic marker write: a dump that fails partway leaves the previous
    file (or none), never an empty marker that reads as committed."""
    tmp = path + ".tmp"
    with open(tmp, "w", encoding="utf-8") as f:
        json.dump(obj, f)
    os.replace(tmp, path)


def _observe_lineage(df: DataFrame, partition_by: list[str] | None
                     ) -> tuple[DataFrame, Observation]:
    """Attach the lineage aggregates to the frame being written. Columns are
    hashed in the order the checkpoint reads back (a hive-partitioned read
    appends the partition columns), so verify_stage_lineage's fresh
    signature over the read-back agrees."""
    parts = list(partition_by or [])
    cols = [c for c in df.columns if c not in parts] + parts
    aggs = [F.count(F.lit(1)).alias("n_rows"),
            F.bit_xor(F.xxhash64(*cols)).alias("content_sig")]
    if "content_sha256" in cols:
        aggs.append(F.bit_xor(F.xxhash64("content_sha256")).alias("sha256_sig"))
    obs = Observation()
    return df.observe(obs, *aggs), obs


def _write_lineage(stage_dir: str, lineage: dict) -> None:
    """Write the one-row _lineage table with local file IO (like the
    markers; no Spark job), replacing the directory so no part file of an
    earlier commit survives."""
    columns = {"partition_id": pa.array([0], pa.int32())}
    columns.update({k: pa.array([v], pa.int64()) for k, v in lineage.items()})
    path = os.path.join(stage_dir, "_lineage")
    tmp = path + ".tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    pq.write_table(pa.table(columns), os.path.join(tmp, "part-00000.parquet"))
    shutil.rmtree(path, ignore_errors=True)
    os.replace(tmp, path)


def _bucket_table_name(stage_dir: str) -> str:
    """Deterministic catalog identifier for a bucketed stage checkpoint —
    derived from the absolute stage path so every session (including a
    resume in a fresh JVM) computes the same name."""
    import hashlib

    digest = hashlib.md5(os.path.abspath(stage_dir).encode()).hexdigest()[:12]
    return f"kg_ckpt_{digest}"


def _register_bucketed_table(spark: SparkSession, stage_dir: str,
                             bucket_by: tuple[str, int]) -> str:
    """Ensure the catalog knows the bucketed stage table (a resume in a new
    session loses the in-memory catalog entry but not the files): recreate
    the EXTERNAL table over the existing bucketed parquet files. Spark
    recovers each file's bucket id from its `_SSSSS` filename tag, so a
    DDL-registered table reads exactly like the originally written one."""
    table = _bucket_table_name(stage_dir)
    if not spark.catalog.tableExists(table):
        data_path = os.path.join(stage_dir, "data")
        col, n = bucket_by
        ddl = spark.read.parquet(data_path)._jdf.schema().toDDL()
        spark.sql(
            f"CREATE TABLE {table} ({ddl}) USING parquet "
            f"CLUSTERED BY ({col}) SORTED BY ({col}) INTO {n} BUCKETS "
            f"LOCATION '{data_path}'")
    return table


def write_stage(df: DataFrame, stage_dir: str, stage: str,
                partition_by: list[str] | None = None,
                fmt: str = "parquet",
                bucket_by: tuple[str, int] | None = None) -> None:
    """Checkpoint one stage. fmt dispatches the sink format: 'parquet'
    (sandbox default) or any registered table format — the north rule names
    Iceberg, so production runs pass fmt='iceberg' and the partition spec
    flows through partition_by unchanged (Iceberg's committer replaces the
    _STAGE_DONE marker's atomicity role, but the marker stays as the
    resume signal either way).

    bucket_by=(col, n_buckets): write the checkpoint as an EXTERNAL bucketed
    catalog table whose files live at the stage's own data path — the
    write-once-shuffle-never-again layout (sources/bucketed.py): the bucket
    shuffle is paid here ONCE, and every downstream join/groupBy on the
    bucket key off this checkpoint plans with no exchange. Parquet-only in
    the sandbox (mutually exclusive with partition_by here); on Iceberg the
    equivalent is the `bucket(n, col)` partition transform. The spec is
    committed in the marker so a resume re-registers the table by DDL.

    The commit is one Spark job (plus whatever the build itself triggers):
    the row count and lineage signatures are observed on the write, then
    _lineage and the marker are written with local file IO."""
    t0 = time.perf_counter()
    data_path = os.path.join(stage_dir, "data")
    spark = df.sparkSession
    observed, obs = _observe_lineage(df, partition_by)
    if bucket_by is not None:
        if fmt != "parquet":
            raise ValueError(
                "bucket_by checkpoints are parquet-only in the sandbox; on "
                "Iceberg use the bucket(n, col) partition transform instead")
        if partition_by:
            raise ValueError("bucket_by and partition_by are mutually "
                             "exclusive for stage checkpoints")
        col, n = bucket_by
        table = _bucket_table_name(stage_dir)
        spark.sql(f"DROP TABLE IF EXISTS {table}")
        (observed.write.mode("overwrite").format(fmt).option("path", data_path)
         .bucketBy(n, col).sortBy(col).saveAsTable(table))
    else:
        w = observed.write.mode("overwrite")
        if partition_by:
            w = w.partitionBy(*partition_by)
        w.format(fmt).save(data_path)

    lineage = obs.get
    _write_lineage(stage_dir, lineage)
    marker = {"stage": stage, "rows": int(lineage["n_rows"]), "fmt": fmt,
              "seconds": round(time.perf_counter() - t0, 3)}
    if bucket_by is not None:
        marker["bucket_by"] = [bucket_by[0], bucket_by[1]]
    _write_json(_marker_path(stage_dir), marker)


def checkpoint_format() -> str:
    """Stage-sink format: 'parquet' (sandbox default) or e.g. 'iceberg' via
    SPARK_GRAFT_CHECKPOINT_FORMAT (cluster with the runtime jar + catalog)."""
    return os.environ.get("SPARK_GRAFT_CHECKPOINT_FORMAT", "parquet")


def committed_format(stage_dir: str) -> str | None:
    """The format a completed stage was actually written with (from its
    _STAGE_DONE marker); None if the stage is incomplete or the marker
    predates format recording."""
    if not stage_done(stage_dir):
        return None
    with open(_marker_path(stage_dir), encoding="utf-8") as f:
        return json.load(f).get("fmt")


def _resolve_resume_format(stage_dir: str, fmt: str) -> str:
    """Resume-format guard: a checkpoint written as parquet must never be
    read with the Iceberg reader (or vice versa) just because
    SPARK_GRAFT_CHECKPOINT_FORMAT changed between runs — that is a silent
    wrong-reader read. Hard-fails on mismatch, like the n_chunks guard."""
    committed = committed_format(stage_dir)
    if committed is not None and committed != fmt:
        raise ValueError(
            f"checkpoint format mismatch at {stage_dir}: stage was committed "
            f"with fmt={committed!r} but fmt={fmt!r} was requested (is "
            f"SPARK_GRAFT_CHECKPOINT_FORMAT different from the writing "
            f"run's?); resume with the committed format or delete the stage "
            f"dir to rewrite it")
    return committed or fmt


def run_stage(spark: SparkSession, workdir: str, stage: str, build,
              partition_by: list[str] | None = None,
              fmt: str | None = None,
              bucket_by: tuple[str, int] | None = None) -> DataFrame:
    """Compute-or-resume: if the stage marker exists, read the checkpoint;
    otherwise build(), checkpoint, and read back (truncating lineage).
    partition_by lays the checkpoint out hive-partitioned — downstream
    filters on those columns become partition pruning, not data scans.
    bucket_by=(col, n) lays it out as a bucketed table — downstream
    joins/groupBys on the key plan with no exchange (see write_stage); the
    returned frame is the catalog-table read, which is what carries the
    bucket spec (a bare path read silently drops it)."""
    fmt = fmt or checkpoint_format()
    stage_dir = os.path.join(workdir, stage)
    data_path = os.path.join(stage_dir, "data")
    if not stage_done(stage_dir):
        os.makedirs(stage_dir, exist_ok=True)
        write_stage(build(), stage_dir, stage, partition_by=partition_by,
                    fmt=fmt, bucket_by=bucket_by)
    else:
        fmt = _resolve_resume_format(stage_dir, fmt)
        with open(_marker_path(stage_dir), encoding="utf-8") as f:
            committed_bucket = json.load(f).get("bucket_by")
        if bucket_by is not None and (
                committed_bucket is None or list(bucket_by) != committed_bucket):
            raise ValueError(
                f"bucketed-checkpoint resume mismatch at {stage_dir}: "
                f"committed bucket_by={committed_bucket} vs requested "
                f"{list(bucket_by)}; delete the stage dir to rewrite it")
        bucket_by = tuple(committed_bucket) if committed_bucket else None
    if bucket_by is not None:
        return spark.table(_register_bucketed_table(spark, stage_dir, bucket_by))
    return spark.read.format(fmt).load(data_path)


def chunked_stage(
    spark: SparkSession,
    workdir: str,
    stage: str,
    source: DataFrame,
    transform,
    key_col: str = "message_id",
    n_chunks: int = 8,
    fmt: str | None = None,
) -> DataFrame:
    """Stage with intra-stage resume: the input is hash-split on key_col into
    n_chunks; each chunk is transformed and committed independently (its own
    data dir + marker). A restart skips finished chunks — finished partitions
    are never recomputed. Output is the multi-chunk parquet scan.

    A stage-level manifest (chunking params) is committed BEFORE the first
    chunk: resuming with a different n_chunks/key_col would silently change
    the pmod memberships (duplicated + missing rows), so it hard-fails.

    Scan amplification: with a plain source, every chunk's filter re-scans
    the full input (n_chunks× read amplification — fatal at 100 TB). When
    the source carries a ``_chunk`` column AND was checkpointed partitioned
    by it (see ``with_chunk_column`` + ``run_stage(partition_by=...)``),
    the per-chunk filter is a PARTITION-PRUNING predicate: each chunk reads
    only its own files, total read = one pass over the input."""
    stage_dir = os.path.join(workdir, stage)
    os.makedirs(stage_dir, exist_ok=True)
    fmt = fmt or checkpoint_format()
    if stage_done(stage_dir):
        with open(_marker_path(stage_dir), encoding="utf-8") as f:
            if json.load(f).get("gc_chunks"):
                raise ValueError(
                    f"chunked_stage: chunk dirs at {stage_dir} were "
                    f"garbage-collected after finalization (gc_chunk_dirs) "
                    f"— read the finalized stage instead, or delete the "
                    f"stage dir to recompute from scratch")
    manifest_path = os.path.join(stage_dir, "_CHUNK_MANIFEST")
    manifest = {"key_col": key_col, "n_chunks": n_chunks, "fmt": fmt}
    if os.path.exists(manifest_path):
        with open(manifest_path, encoding="utf-8") as f:
            committed = json.load(f)
        # manifests written before format recording carry no 'fmt' key —
        # tolerate them (like committed_format's None), compare the rest
        compare = dict(manifest)
        if "fmt" not in committed:
            compare.pop("fmt")
        if committed != compare:
            raise ValueError(
                f"chunked_stage resume mismatch at {stage_dir}: committed "
                f"{committed} vs requested {manifest}; restart the stage "
                f"(delete the dir) or resume with the committed parameters")
    else:
        _write_json(manifest_path, manifest)
    if CHUNK_COL in source.columns:
        # guard against a committed _chunk domain wider than this loop: a
        # source bucketed 0..7 consumed with n_chunks=4 would silently drop
        # buckets 4..7 (partition-column-only scan — cheap, values come from
        # the hive directory names)
        max_chunk = source.agg(F.max(CHUNK_COL)).collect()[0][0]
        if max_chunk is not None and max_chunk >= n_chunks:
            raise ValueError(
                f"chunked_stage: source carries {CHUNK_COL} up to {max_chunk} "
                f"but n_chunks={n_chunks} would process only 0..{n_chunks - 1}; "
                f"pass the n_chunks the source was bucketed with")
        chunk_key = F.col(CHUNK_COL)
    else:
        chunk_key = F.pmod(F.xxhash64(F.col(key_col)), F.lit(n_chunks))
    for chunk in range(n_chunks):
        cdir = os.path.join(stage_dir, f"chunk={chunk}")
        if stage_done(cdir):
            continue
        os.makedirs(cdir, exist_ok=True)
        part = source.where(chunk_key == chunk)
        write_stage(transform(part), cdir, f"{stage}/chunk={chunk}", fmt=fmt)
    _write_json(_marker_path(stage_dir), {"stage": stage, "chunks": n_chunks})
    return spark.read.format(fmt).load(os.path.join(stage_dir, "chunk=*", "data"))


def gc_chunk_dirs(workdir: str, stage: str, finalized_stage: str) -> list[str]:
    """Reclaim a chunked stage's per-chunk resume dirs once a finalize stage
    over the same rows has committed (e.g. the pipeline's
    extract → extract_bucketed rewrite: the chunk union and the bucketed
    copy hold the same data twice; the chunk dirs are resume points only
    and are never read again once the finalize marker exists).

    Refuses to delete anything unless (a) the finalize stage's marker
    exists AND (b) the finalize marker's committed row count equals the sum
    of the chunk markers' row counts — a finalize that silently dropped
    rows must not destroy the only copy that still has them. Returns the
    removed chunk-dir paths (empty when already collected). The chunked
    stage's own marker and manifest are kept and annotated
    (``gc_chunks: true``); a later ``chunked_stage`` call on the collected
    dir fails loudly on that flag rather than silently recomputing."""
    stage_dir = os.path.join(workdir, stage)
    fin_dir = os.path.join(workdir, finalized_stage)
    if not stage_done(fin_dir):
        raise ValueError(
            f"gc_chunk_dirs: finalize stage {fin_dir} has no marker — the "
            f"chunk dirs are still the only committed copy")
    fin_rows = committed_rows(fin_dir)
    chunk_dirs = sorted(
        os.path.join(stage_dir, d) for d in os.listdir(stage_dir)
        if d.startswith("chunk=")) if os.path.isdir(stage_dir) else []
    if not chunk_dirs:
        return []
    chunk_rows = 0
    for cdir in chunk_dirs:
        if not stage_done(cdir):
            raise ValueError(f"gc_chunk_dirs: incomplete chunk {cdir} — "
                             f"the chunked stage never finished")
        chunk_rows += committed_rows(cdir)
    if chunk_rows != fin_rows:
        raise ValueError(
            f"gc_chunk_dirs: finalize stage {fin_dir} committed {fin_rows} "
            f"rows but the chunk markers sum to {chunk_rows} — refusing to "
            f"delete the copy that disagrees")
    for cdir in chunk_dirs:
        shutil.rmtree(cdir)
    if stage_done(stage_dir):
        with open(_marker_path(stage_dir), encoding="utf-8") as f:
            marker = json.load(f)
        marker["gc_chunks"] = True
        _write_json(_marker_path(stage_dir), marker)
    return chunk_dirs


def verify_stage_lineage(spark: SparkSession, stage_dir: str,
                         fmt: str | None = None) -> dict:
    """Re-verify a checkpointed stage against its _lineage manifest.

    Per-partition signatures are not comparable across reads (split
    boundaries move), but their XOR-fold is: bit_xor is associative and
    commutative, so XOR of the stored per-partition content signatures ==
    the global bit_xor over all rows, however the data is partitioned on
    re-read. Compares global row count + global content signature (+ the
    sha256 signature when present). Returns {'ok': bool, ...evidence}.

    The reader format comes from the stage's own _STAGE_DONE marker when
    recorded (a verify must read with the format the stage was written in,
    whatever the ambient env says); an EXPLICITLY passed fmt that
    contradicts the marker hard-fails, same contract as run_stage."""
    if fmt is not None:
        fmt = _resolve_resume_format(stage_dir, fmt)
    else:
        fmt = committed_format(stage_dir) or checkpoint_format()
    data = spark.read.format(fmt).load(os.path.join(stage_dir, "data"))
    lin = spark.read.parquet(os.path.join(stage_dir, "_lineage"))

    stored_aggs = [F.sum("n_rows").alias("n_rows"),
                   F.expr("bit_xor(content_sig)").alias("content_sig")]
    has_sha = "sha256_sig" in lin.columns
    if has_sha:
        stored_aggs.append(F.expr("bit_xor(sha256_sig)").alias("sha256_sig"))
    stored = lin.agg(*stored_aggs).collect()[0]

    cols = data.columns
    fresh_aggs = [F.count("*").alias("n_rows"),
                  F.expr(f"bit_xor(xxhash64({', '.join(cols)}))").alias("content_sig")]
    if has_sha:
        fresh_aggs.append(F.expr("bit_xor(xxhash64(content_sha256))").alias("sha256_sig"))
    fresh = data.agg(*fresh_aggs).collect()[0]

    checks = {k: (stored[k] or 0) == (fresh[k] or 0)
              for k in (["n_rows", "content_sig"] + (["sha256_sig"] if has_sha else []))}
    return {"ok": all(checks.values()), "checks": checks,
            "stored": {k: stored[k] for k in checks},
            "fresh": {k: fresh[k] for k in checks}}


def verify_sha256_invariant(df: DataFrame, text_col: str = "content") -> int:
    """Rows whose content no longer matches their carried sha256 — must be 0
    at every checkpoint (BASELINE.md row invariant)."""
    return df.where(
        F.sha2(F.coalesce(F.col(text_col), F.lit("")), 256) != F.col("content_sha256")
    ).count()
