"""Correctness gates applied to every timed operation's output.

Outputs are read back with pyarrow (no Spark job), so checking never adds
work to the engine between timed operations.
"""

from __future__ import annotations

import hashlib
import os

import pandas as pd
import pyarrow.dataset as ds

from amharic_ecommerce_data_extractor_spark.kernels import pandas_oracle as oracle

MIN_PR = 0.95  # the paper's triple precision/recall target
TRIPLE_KEY = ["subj", "pred", "obj", "message_id"]


def read_parquet(path: str, columns: list[str] | None = None,
                 ids: tuple[str, list] | None = None) -> pd.DataFrame:
    """Reads a (possibly hive-partitioned) parquet directory; ``ids``
    = (column, values) keeps only matching rows."""
    dataset = ds.dataset(path, format="parquet", partitioning="hive")
    flt = ds.field(ids[0]).isin(ids[1]) if ids else None
    return dataset.to_table(columns=columns, filter=flt).to_pandas()


def count_rows(path: str) -> int:
    return ds.dataset(path, format="parquet", partitioning="hive").count_rows()


def oracle_triples(messages: pd.DataFrame) -> set:
    tri = oracle.emit_triples(oracle.extract_frame(messages))
    return set(tri[TRIPLE_KEY].itertuples(index=False, name=None))


def triple_pr(triples_dir: str, messages: pd.DataFrame) -> tuple[float, float]:
    """Precision/recall of the emitted triples of ``messages`` against the
    pandas oracle run on the same messages."""
    ids = [int(i) for i in messages["message_id"]]
    got = read_parquet(triples_dir, TRIPLE_KEY, ("message_id", ids))
    got_set = set(got.itertuples(index=False, name=None))
    return oracle.precision_recall(got_set, oracle_triples(messages))


def digest(frame: pd.DataFrame) -> str:
    """Order-independent content digest of a result table."""
    rows = sorted(repr(r) for r in frame.itertuples(index=False, name=None))
    h = hashlib.sha256()
    for r in rows:
        h.update(r.encode("utf-8"))
        h.update(b"\n")
    return h.hexdigest()[:16]


def dir_digest(path: str) -> str | None:
    return digest(read_parquet(path)) if os.path.isdir(path) else None


def audit_monotone(audit_rows: list[tuple]) -> bool:
    """Rows surviving must never increase from one curation stage to the next."""
    counts = [n for _, _, n in sorted(audit_rows)]
    return all(b <= a for a, b in zip(counts, counts[1:]))


def unique_texts(texts: pd.Series) -> bool:
    return not texts.fillna("\x00null").duplicated().any()
