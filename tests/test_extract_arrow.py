"""The extraction operator's Arrow UDF against its spec kernels, end to end.

Adversarial literals are repeated and spread over several partitions and
small Arrow batches, so the per-batch factorize, the ``pc.take`` expansion
and both cross-batch memos (clean text, finished record) all run; every row
must equal ``kernels.textprep`` + ``kernels.labeler`` applied to its text.
"""

import unicodedata

import pandas as pd
import pytest

from amharic_ecommerce_data_extractor_spark.kernels import labeler as lb
from amharic_ecommerce_data_extractor_spark.kernels import textprep as tp
from amharic_ecommerce_data_extractor_spark.operators.extract import extract_entities

# rule-labeling edge cases: triggers, number/price runs, locations, contacts
LABEL_ADVERSARIAL = [
    "ምርጥ blender ዋጋ 500 ብር መገናኛ ሲቲ ሞል 0911223344",
    "550ብር ዋጋ፦1,200 ብር በ 250 ብር",
    "ዋጋ 500",
    "ዋጋ",
    "mini electric stove 2500 ብር +251911123456",
    "መገናኛ 4 ፎቅ ቢሮ ቁጥር 2",
    "10meter x 45cm tape",
    "axbxc 3x4",
    "ድስት ምጣድ መፍጫ",
    "hello world nothing here",
    "",
    "። ፣ ! ?",
    "ዋጋ ብር",          # trigger followed by non-number
    "500 600 ብር",       # only the second number is priced
    "ለቡ",               # single location token
    "quality",           # single product indicator
]

# preprocessing edge cases: glyph variants, Geez numerals, punctuation runs,
# url/mention/hashtag, non-Amharic scripts, whitespace, null
PREP_ADVERSARIAL = [
    "ሃሎ ኋይት ሧት ፅናት ጽ ሓ",
    "ዋጋው ፻፳፭ ብር ነው። ፰፻",
    "x!!!...??  ,,ab፦cd፡ef",
    "https://t.me/a @ማርያም #ቅናሽ_1 www.x.io ስም",
    "emoji 😊🚀 mixed ຣ ไทย",
    "  spaced\tout text  ",
    "500ብር እና ብር500 12a34b",
    "", "   ", None,
]

# decomposed input: the chain must NFC-normalize before stripping non-Amharic
NFD_ROW = unicodedata.normalize("NFD", "café ዋጋ ፻፳፭ ብር")

ENTITY_COLS = ("tokens", "labels", "products", "prices", "locations",
               "contacts", "price_values")


def test_extract_matches_kernels_on_adversarial_rows(spark):
    literals = LABEL_ADVERSARIAL + PREP_ADVERSARIAL + [NFD_ROW]
    assert not unicodedata.is_normalized("NFC", NFD_ROW)
    copies = 4
    rows = [(i, literals[i % len(literals)]) for i in range(len(literals) * copies)]
    df = (spark.createDataFrame(rows, "message_id long, content string")
          .repartition(3))
    assert df.rdd.getNumPartitions() >= 3

    key = "spark.sql.execution.arrow.maxRecordsPerBatch"
    old = spark.conf.get(key)
    spark.conf.set(key, "7")  # several batches per partition
    try:
        got = {r["message_id"]: r for r in extract_entities(df).collect()}
    finally:
        spark.conf.set(key, old)

    assert len(got) == len(rows)
    want_clean = tp.preprocess_series(pd.Series(literals, dtype=object)).tolist()
    want_recs = [lb.extract_message(c) for c in want_clean]
    for i, text in rows:
        j = i % len(literals)
        row = got[i]
        assert row["content"] == text
        assert row["preprocessed_text"] == want_clean[j], (text, row["preprocessed_text"])
        for col in ENTITY_COLS:
            assert list(row[col]) == want_recs[j][col], (text, col, row[col])
    assert "caf" in got[literals.index(NFD_ROW)]["tokens"]


@pytest.mark.parametrize("backend", ["bogus", "rules_jvm"])
def test_unknown_backend_raises_before_any_action(spark, backend):
    sc = spark.sparkContext
    group = f"extract-backend-{backend}"
    sc.setJobGroup(group, "extract_entities backend validation")
    try:
        df = spark.createDataFrame([(1, "ዋጋ 500 ብር")], "message_id long, content string")
        with pytest.raises(ValueError, match="unknown backend"):
            extract_entities(df, backend=backend)
        assert list(sc.statusTracker().getJobIdsForGroup(group)) == []
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
