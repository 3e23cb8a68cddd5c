"""Seeded input generators for the benchmark workloads.

Every input is a pure function of (workload, seed, size) and is written as
parquet under the benchmark's cache directory before any timed window
opens; a cached input is reused by a later run with the same key. The
program under test only ever receives the parquet files.

Inputs are generated in this process with pandas + pyarrow (no Spark job),
so whether an input came from the cache never changes how warm the JVM is
when timing starts.
"""

from __future__ import annotations

import hashlib
import json
import os
import random
import shutil

import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq

from amharic_ecommerce_data_extractor_spark.data import synthetic as syn
from amharic_ecommerce_data_extractor_spark.kernels import labeler as lb

FORMAT_VERSION = 2

MESSAGE_ARROW_SCHEMA = pa.schema([
    ("message_id", pa.int64()),
    ("repo", pa.string()),
    ("path", pa.string()),
    ("commit", pa.string()),
    ("lang", pa.string()),
    ("content", pa.string()),
    # UTC-adjusted so Spark reads it as TimestampType, like the package's
    # own Spark-side generator produces
    ("message_date", pa.timestamp("us", tz="UTC")),
    ("views", pa.int64()),
    ("channel_title", pa.string()),
    ("sender_id", pa.int64()),
    ("sender_username", pa.string()),
    ("media_path", pa.string()),
    ("media_type", pa.string()),
    ("content_sha256", pa.string()),
])

DOC_ARROW_SCHEMA = pa.schema([
    ("doc_id", pa.int64()),
    ("text", pa.string()),
    ("source", pa.string()),
])

# files per input table: one scan split per core of local[4], the layout the
# package generator's own parquet write produces there
N_FILES = 4


def _to_arrow(pdf: pd.DataFrame, schema: pa.Schema) -> pa.Table:
    cols = {}
    for field in schema:
        s = pdf[field.name]
        if pa.types.is_timestamp(field.type):
            s = pd.to_datetime(s).dt.tz_localize("UTC")
        elif pa.types.is_integer(field.type):
            s = pd.array(s.astype(object).where(s.notna(), None), dtype="Int64")
        cols[field.name] = pa.array(s, type=field.type, from_pandas=True)
    return pa.table(cols, schema=schema)


def write_table(pdf: pd.DataFrame, schema: pa.Schema, out_dir: str,
                n_files: int = N_FILES) -> None:
    os.makedirs(out_dir, exist_ok=True)
    table = _to_arrow(pdf.reset_index(drop=True), schema)
    step = -(-table.num_rows // n_files)
    for i in range(n_files):
        part = table.slice(i * step, step)
        if part.num_rows:
            pq.write_table(part, os.path.join(out_dir, f"part-{i:05d}.parquet"))


def _text_props(texts: pd.Series) -> dict:
    rows = int(len(texts))
    distinct = int(texts.fillna("\x00null").nunique())
    return {"rows": rows, "distinct_texts": distinct,
            "distinct_text_ratio": round(distinct / rows, 6) if rows else 0.0,
            "exact_duplicate_rows": rows - distinct}


def _messages(n_rows: int, seed: int) -> pd.DataFrame:
    return syn.generate_messages_pandas(n_rows=n_rows,
                                        n_vendors=max(20, n_rows // 200), seed=seed)


# ---------------------------------------------------------------------------
# kg_batch: the package's own corpus generator
# ---------------------------------------------------------------------------

def gen_kg_batch(out: str, seed: int, n_rows: int) -> dict:
    pdf = _messages(n_rows, seed)
    write_table(pdf, MESSAGE_ARROW_SCHEMA, os.path.join(out, "messages"))
    props = _text_props(pdf["content"])
    props.update({"planted_exact": 0, "planted_near": 0,
                  "mega_vendor_share": round(float((pdf["repo"] == "vendor_000").mean()), 4)})
    return props


# ---------------------------------------------------------------------------
# kg_longtail: unique texts whose product/location runs carry a long tail of
# near-duplicate surface variants (model numbers, descriptor mixes)
# ---------------------------------------------------------------------------

_LT_PRODUCTS = sorted(lb.ENGLISH_PRODUCT_INDICATORS - lb.PRODUCT_DESCRIPTORS)
_LT_DESCRIPTORS = sorted(d for d in lb.PRODUCT_DESCRIPTORS if d.isalpha())
_LT_LOC_HEADS = ["መገናኛ", "ለቡ", "ሲቲ ሞል", "ህንፃ", "ቢሮ ቁጥር"]


LT_VARIANTS = 24


def gen_kg_longtail(out: str, seed: int, n_rows: int) -> dict:
    """Each product family is (descriptor, product, model base); its
    variants differ in the model number's last digits, so char-3-gram LSH
    buckets hold about ``LT_VARIANTS`` surfaces, never one giant bucket.
    Locations follow the same scheme with building/floor numbers."""
    rng = random.Random(seed * 7919 + 17)
    n_families = max(8, n_rows // LT_VARIANTS)
    families = [(rng.choice(_LT_DESCRIPTORS), rng.choice(_LT_PRODUCTS),
                 rng.randrange(100, 999)) for _ in range(n_families)]
    n_loc_families = max(4, n_families // 4)
    loc_families = [(rng.choice(_LT_LOC_HEADS), rng.randrange(1, 99))
                    for _ in range(n_loc_families)]
    base = _messages(n_rows, seed)
    contents = []
    for i in range(n_rows):
        desc, prod, model = families[rng.randrange(n_families)]
        variant = rng.randrange(LT_VARIANTS)
        head, block = loc_families[rng.randrange(n_loc_families)]
        parts = [f"{desc} {prod} {model}{variant:02d}",
                 f"ዋጋ {rng.choice([250, 500, 750, 1200, 2500, 5000]) + rng.randrange(50)} ብር",
                 f"አድራሻ {head} {block} ፎቅ {rng.randrange(1, 12)}",
                 f"ስልክ 09{rng.randrange(10**8):08d}"]
        contents.append(" ".join(parts))
    base["content"] = contents
    base["content_sha256"] = [hashlib.sha256(c.encode("utf-8")).hexdigest()
                              for c in contents]
    write_table(base, MESSAGE_ARROW_SCHEMA, os.path.join(out, "messages"))
    props = _text_props(base["content"])
    props.update({"planted_exact": 0, "planted_near": 0,
                  "product_families": n_families,
                  "variants_per_family": LT_VARIANTS})
    return props


# ---------------------------------------------------------------------------
# ingest_incremental: a sequence of small arrival files with planted exact
# and near reposts of earlier arrivals
# ---------------------------------------------------------------------------

_NEAR_SUFFIXES = ["ዛሬ", "ብቻ", "አሁን", "new", "ይደውሉ"]
REPOST_SHARE = 0.1   # of each arrival after the first, per kind (exact, near)


def gen_ingest(out: str, seed: int, n_arrivals: int, arrival_rows: int) -> dict:
    rng = random.Random(seed * 104729 + 3)
    n_exact = n_near = int(arrival_rows * REPOST_SHARE)
    n_fresh = arrival_rows - n_exact - n_near
    pool = _messages(n_arrivals * arrival_rows, seed)
    next_fresh = 0
    next_planted = 10_000_000
    planted: list[dict] = []
    history: list[pd.Series] = []
    arr_dir = os.path.join(out, "arrivals")
    for a in range(n_arrivals):
        take = arrival_rows if a == 0 else n_fresh
        fresh = pool.iloc[next_fresh:next_fresh + take]
        next_fresh += take
        rows = [r for _, r in fresh.iterrows()]
        if a > 0:
            for k in range(n_exact + n_near):
                src = history[rng.randrange(len(history))].copy()
                kind = "exact" if k < n_exact else "near"
                if kind == "near":
                    src["content"] = f"{src['content'] or ''} {rng.choice(_NEAR_SUFFIXES)}"
                    src["content_sha256"] = hashlib.sha256(
                        src["content"].encode("utf-8")).hexdigest()
                planted.append({"arrival": a, "kind": kind,
                                "message_id": next_planted,
                                "source_id": int(src["message_id"])})
                src["message_id"] = next_planted
                src["path"] = f"msgs/{next_planted:012d}.txt"
                next_planted += 1
                rows.append(src)
        batch = pd.DataFrame(rows).reset_index(drop=True)
        history.extend(r for r in rows
                       if int(r["message_id"]) < 10_000_000 and isinstance(r["content"], str))
        write_table(batch, MESSAGE_ARROW_SCHEMA,
                    os.path.join(arr_dir, f"a{a:04d}"), n_files=1)
    with open(os.path.join(out, "planted.json"), "w", encoding="utf-8") as f:
        json.dump(planted, f)
    all_rows = pd.concat([pq.read_table(os.path.join(arr_dir, d)).to_pandas()
                          for d in sorted(os.listdir(arr_dir))])
    props = _text_props(all_rows["content"])
    props.update({"arrivals": n_arrivals, "arrival_rows": arrival_rows,
                  "planted_exact": sum(p["kind"] == "exact" for p in planted),
                  "planted_near": sum(p["kind"] == "near" for p in planted)})
    return props


# ---------------------------------------------------------------------------
# curate_corpus: documents built from message text with planted
# near-duplicate clusters and exact copies
# ---------------------------------------------------------------------------

MSGS_PER_DOC = 4
CLUSTER_SIZE = 4          # a planted near-duplicate cluster: source + 3 variants
EXACT_COPY_SHARE = 0.05


def gen_curate(out: str, seed: int, n_docs: int) -> dict:
    rng = random.Random(seed * 15485863 + 11)
    msgs = _messages(n_docs * MSGS_PER_DOC, seed)
    pool = [(t, v) for t, v in zip(msgs["content"], msgs["repo"])
            if isinstance(t, str) and t.strip()]
    docs = []
    for d in range(n_docs):
        picks = rng.sample(range(len(pool)), MSGS_PER_DOC)
        docs.append({"doc_id": d, "text": " ".join(pool[p][0] for p in picks),
                     "source": pool[picks[0]][1]})
    n_clusters = n_docs // 20
    next_id = n_docs
    planted: list[dict] = []
    for c in range(n_clusters):
        src = docs[rng.randrange(n_docs)]
        for _ in range(CLUSTER_SIZE - 1):
            words = src["text"].split(" ")
            words.insert(rng.randrange(len(words) + 1), rng.choice(_NEAR_SUFFIXES))
            docs.append({"doc_id": next_id, "text": " ".join(words),
                         "source": src["source"]})
            planted.append({"kind": "near", "doc_id": next_id, "source_id": src["doc_id"]})
            next_id += 1
    for _ in range(int(n_docs * EXACT_COPY_SHARE)):
        src = docs[rng.randrange(n_docs)]
        docs.append({"doc_id": next_id, "text": src["text"], "source": src["source"]})
        planted.append({"kind": "exact", "doc_id": next_id, "source_id": src["doc_id"]})
        next_id += 1
    pdf = pd.DataFrame(docs)
    write_table(pdf, DOC_ARROW_SCHEMA, os.path.join(out, "docs"))
    with open(os.path.join(out, "planted.json"), "w", encoding="utf-8") as f:
        json.dump(planted, f)
    props = _text_props(pdf["text"])
    props.update({"planted_exact": sum(p["kind"] == "exact" for p in planted),
                  "planted_near": sum(p["kind"] == "near" for p in planted),
                  "near_clusters": n_clusters})
    return props


GENERATORS = {
    "kg_batch": gen_kg_batch,
    "kg_longtail": gen_kg_longtail,
    "ingest_incremental": gen_ingest,
    "curate_corpus": gen_curate,
}


def prepare(cache_root: str, workload: str, seed: int, keep: int = 6,
            **size) -> tuple[str, dict]:
    """Generate (or reuse) the input for (workload, seed, size); returns its
    directory and its recorded properties. The newest ``keep`` inputs stay
    cached, older ones are removed."""
    key = "-".join([workload, f"s{seed}", f"v{FORMAT_VERSION}"]
                   + [f"{k}{v}" for k, v in sorted(size.items())])
    out = os.path.join(cache_root, key)
    props_path = os.path.join(out, "props.json")
    if not os.path.exists(props_path):
        tmp = f"{out}.tmp{os.getpid()}"
        shutil.rmtree(tmp, ignore_errors=True)
        os.makedirs(tmp)
        props = GENERATORS[workload](tmp, seed, **size)
        props["bytes"] = sum(
            os.path.getsize(os.path.join(d, f))
            for d, _, files in os.walk(tmp) for f in files if f.endswith(".parquet"))
        with open(os.path.join(tmp, "props.json"), "w", encoding="utf-8") as f:
            json.dump(props, f)
        shutil.rmtree(out, ignore_errors=True)
        os.replace(tmp, out)
    os.utime(out)
    entries = sorted((os.path.join(cache_root, e) for e in os.listdir(cache_root)
                      if ".tmp" not in e), key=os.path.getmtime, reverse=True)
    for old in entries[keep:]:
        shutil.rmtree(old, ignore_errors=True)
    with open(props_path, encoding="utf-8") as f:
        return out, json.load(f)
