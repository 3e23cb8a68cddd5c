"""CoNLL reader/writer vs the reference parser's goldens
(tests/unit/test_conll_parser.py in the reference)."""

import pytest

from amharic_ecommerce_data_extractor_spark.sources.conll import (
    conll_token_rows,
    label_vocabulary,
    read_conll,
    train_eval_split,
    write_conll,
)

SAMPLE = """Dell\tB-PRODUCT
laptop\tI-PRODUCT
price\tO
1000\tB-PRICE
ETB\tI-PRICE

New   O
Phone  B-PRODUCT
+251911123456\tB-CONTACT_INFO


"""


@pytest.fixture()
def sample_path(tmp_path):
    p = tmp_path / "sample.conll"
    p.write_text(SAMPLE, encoding="utf-8")
    return str(p)


def test_read_conll_sentences(spark, sample_path):
    got = {r["sentence_id"]: (r["tokens"], r["labels"])
           for r in read_conll(spark, sample_path).collect()}
    assert len(got) == 2  # trailing blank lines do not create sentences
    assert got[0] == (["Dell", "laptop", "price", "1000", "ETB"],
                      ["B-PRODUCT", "I-PRODUCT", "O", "B-PRICE", "I-PRICE"])
    # whitespace-run delimiters accepted like the reference's re.split(r'\s+')
    assert got[1] == (["New", "Phone", "+251911123456"],
                      ["O", "B-PRODUCT", "B-CONTACT_INFO"])


def test_read_conll_malformed_raises(spark, tmp_path):
    p = tmp_path / "bad.conll"
    p.write_text("tok1\tO\ntok2 O extra\n", encoding="utf-8")
    with pytest.raises(Exception, match="Malformed CoNLL line"):
        read_conll(spark, str(p)).collect()


def test_read_conll_lenient(spark, tmp_path):
    p = tmp_path / "bad.conll"
    p.write_text("tok1\tO\ntok2 O extra\ntok3\tB-LOC\n", encoding="utf-8")
    rows = read_conll(spark, str(p), strict=False).collect()
    assert rows[0]["tokens"] == ["tok1", "tok3"]


def test_read_conll_missing_file(spark, tmp_path):
    with pytest.raises(Exception):
        read_conll(spark, str(tmp_path / "nope.conll")).collect()


def test_corrupted_label_passthrough(spark, tmp_path):
    # the reference corpus carries one corrupted label 'I-LOCገ'; parser
    # surfaces it verbatim (filtering happens at triple-emission)
    p = tmp_path / "c.conll"
    p.write_text("ቦሌ\tI-LOCገ\n", encoding="utf-8")
    rows = read_conll(spark, str(p)).collect()
    assert rows[0]["labels"] == ["I-LOCገ"]


def test_roundtrip_and_vocab(spark, sample_path, tmp_path):
    df = read_conll(spark, sample_path)
    out = str(tmp_path / "out_conll")
    write_conll(df, out)
    back = read_conll(spark, out + "/*.txt")
    a = [(r["tokens"], r["labels"]) for r in df.orderBy("sentence_id").collect()]
    b = [(r["tokens"], r["labels"]) for r in back.orderBy("sentence_id").collect()]
    assert a == b
    assert label_vocabulary(df) == ["B-CONTACT_INFO", "B-PRICE", "B-PRODUCT",
                                    "I-PRICE", "I-PRODUCT", "O"]
    tr, ev = train_eval_split(df)
    assert tr.count() + ev.count() == 2


def test_token_rows(spark, sample_path):
    rows = conll_token_rows(read_conll(spark, sample_path)).collect()
    assert len(rows) == 8
    first = [r for r in rows if r["sentence_id"] == 0 and r["pos"] == 0][0]
    assert (first["token"], first["label"]) == ("Dell", "B-PRODUCT")


def test_tab_only_line_is_sentence_boundary(spark, tmp_path):
    # reference line.strip() strips ALL whitespace: a tab-only line is a
    # blank (sentence boundary), never a phantom ('','') token or a
    # malformed-line error (ADVICE r1)
    p = tmp_path / "tabs.conll"
    p.write_text("a\tO\n\t\nb\tO\n", encoding="utf-8")
    got = {r["sentence_id"]: r["tokens"] for r in read_conll(spark, str(p)).collect()}
    assert got == {0: ["a"], 1: ["b"]}


def test_tab_strict_variant(spark, tmp_path):
    # labeling-side parser splits on TAB only: 'New York\tB-LOC' is ONE
    # token with an internal space under sep='tab', two fields total
    p = tmp_path / "tabsep.conll"
    p.write_text("New York\tB-LOC\n\nx y z\tO\n", encoding="utf-8")
    got = [tuple(r) for r in read_conll(spark, str(p), sep="tab")
           .orderBy("sentence_id").collect()]
    assert got == [(0, ["New York"], ["B-LOC"]), (1, ["x y z"], ["O"])]
    # whereas the whitespace variant rejects those 3-field lines
    with pytest.raises(Exception, match="Malformed CoNLL line"):
        read_conll(spark, str(p), sep="whitespace").collect()


def test_multifile_glob(spark, tmp_path):
    (tmp_path / "a.conll").write_text("a1\tO\n\na2\tB-LOC\n", encoding="utf-8")
    (tmp_path / "b.conll").write_text("b1\tO\n", encoding="utf-8")
    df = read_conll(spark, str(tmp_path / "*.conll"))
    got = [tuple(r["tokens"]) for r in df.orderBy("sentence_id").collect()]
    assert sorted(map(list, got)) == [["a1"], ["a2"], ["b1"]]
    assert [r["sentence_id"] for r in df.orderBy("sentence_id").collect()] == [0, 1, 2]


def test_multisplit_read_matches_single_partition(spark, tmp_path):
    """Pins the split-order invariant: a file forced into MANY scan splits
    parses identically to the whole-file parse (sentences spanning split
    boundaries merge correctly)."""
    import random

    rng = random.Random(3)
    sents = []
    for s in range(400):
        n = rng.randint(1, 6)
        sents.append("\n".join(f"tok{s}_{i}\tB-PRODUCT" for i in range(n)))
    big = "\n\n".join(sents) + "\n"
    p = tmp_path / "big.conll"
    p.write_text(big, encoding="utf-8")

    before_mpb = spark.conf.get("spark.sql.files.maxPartitionBytes")
    before_ocb = spark.conf.get("spark.sql.files.openCostInBytes")
    try:
        spark.conf.set("spark.sql.files.maxPartitionBytes", "2048")
        spark.conf.set("spark.sql.files.openCostInBytes", "0")
        many = read_conll(spark, str(p))
        assert many.rdd.getNumPartitions() >= 1
        got = [(r["tokens"], r["labels"]) for r in many.orderBy("sentence_id").collect()]
    finally:
        spark.conf.set("spark.sql.files.maxPartitionBytes", before_mpb)
        spark.conf.set("spark.sql.files.openCostInBytes", before_ocb)
    want = [( [f"tok{s}_{i}" for i in range(len(sent.splitlines()))],
              ["B-PRODUCT"] * len(sent.splitlines()) )
            for s, sent in enumerate(sents)]
    assert got == want


def test_dense_ids_false_keeps_stable_hash_ids(spark, sample_path):
    df = read_conll(spark, sample_path, dense_ids=False)
    rows = df.collect()
    assert len(rows) == 2
    assert len({r["sentence_id"] for r in rows}) == 2  # unique, not dense


def test_conll_to_csv(spark, sample_path, tmp_path):
    from amharic_ecommerce_data_extractor_spark.sources.conll import conll_to_csv

    out = str(tmp_path / "csv_out")
    df = conll_to_csv(read_conll(spark, sample_path), out)
    got = {r["message_text"]: r["labels_sequence"] for r in df.collect()}
    assert got == {
        "Dell laptop price 1000 ETB": "B-PRODUCT I-PRODUCT O B-PRICE I-PRICE",
        "New Phone +251911123456": "O B-PRODUCT B-CONTACT_INFO",
    }
    back = spark.read.option("header", True).csv(out)
    assert back.count() == 2 and set(back.columns) == {"message_text", "labels_sequence"}


def test_write_labeling_file(spark, tmp_path):
    import unicodedata

    from amharic_ecommerce_data_extractor_spark.kernels import textprep as tp
    from amharic_ecommerce_data_extractor_spark.sources.conll import write_labeling_file

    texts = [
        "ሰላም ዋጋ 500 ብር",
        "blender 750",
        "ሃሎ ኋይት",                                      # glyph variants
        "ዋጋው ፻፳፭ ብር ነው። ፰፻",                          # Geez numerals
        unicodedata.normalize("NFD", "café ዋጋ ፻፳፭ ብር"),  # needs NFC first
        "skip me",
    ]
    msgs = spark.createDataFrame(list(enumerate(texts, start=1)),
                                 "message_id long, content string")
    out = str(tmp_path / "labeling")
    write_labeling_file(msgs, out, n_messages=5)
    text = spark.read.text(out).collect()
    lines = [r["value"] for r in text]
    # token-per-line with blank separators, first N messages only
    assert "ሰላም" in lines and "500" in lines and "blender" in lines
    assert all("skip" not in ln for ln in lines)
    assert "" in lines  # blank separator rows survive
    # exactly the preprocess + tokenize kernels, message by message
    want = [tok for t in texts[:5]
            for tok in tp.tokenize_text(tp.preprocess_text(t)) + [""]]
    assert lines == want
    assert "caf" in lines


# ---------------------------------------------------------------------------
# Property test: random corpora vs a reference-semantics Python parser,
# under randomized scan-split sizes (multi-split reconstruction invariant)
# ---------------------------------------------------------------------------

def _reference_parse(text: str):
    """The reference parser's semantics (utils/conll_parser.py:5-53):
    strip each line, blank closes a sentence, split on whitespace runs."""
    sentences, cur = [], []
    for line in text.splitlines():
        line = line.strip()
        if not line:
            if cur:
                sentences.append(cur)
            cur = []
        else:
            tok, lab = line.split(None, 1)[0], line.split(None, 1)[1]
            cur.append((tok, lab.strip()))
    if cur:
        sentences.append(cur)
    return sentences


def test_read_conll_property(spark, tmp_path):
    import random

    rng = random.Random(7)
    for trial in range(4):
        lines = []
        for s in range(rng.randint(1, 120)):
            for t in range(rng.randint(1, 5)):
                sep = rng.choice(["\t", " ", "   ", " \t "])
                lines.append(f"w{s}_{t}{sep}B-PRODUCT")
            lines.extend([""] * rng.randint(1, 3))  # multi-blank runs
        text = "\n".join(lines) + rng.choice(["", "\n", "\n\n"])
        p = tmp_path / f"prop_{trial}.conll"
        p.write_text(text, encoding="utf-8")

        want = [([t for t, _ in sent], [lab for _, lab in sent])
                for sent in _reference_parse(text)]

        before = spark.conf.get("spark.sql.files.maxPartitionBytes")
        try:
            spark.conf.set("spark.sql.files.maxPartitionBytes",
                           str(rng.choice([512, 2048, 134217728])))
            got = [(list(r["tokens"]), list(r["labels"]))
                   for r in read_conll(spark, str(p)).orderBy("sentence_id").collect()]
        finally:
            spark.conf.set("spark.sql.files.maxPartitionBytes", before)
        assert got == want, f"trial {trial}"
