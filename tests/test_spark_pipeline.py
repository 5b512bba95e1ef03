"""Spark integration tests: per-turn extraction equality against the pure
Python reference implementation, pipeline resume from manifests, spans.

These need a local SparkSession (session-scoped; slower than the unit
suites, still < 2 min)."""

import os
import shutil

import pytest

from texoo_spark import textops

pytestmark = pytest.mark.spark


@pytest.fixture(scope="session")
def spark():
    from texoo_spark.session import get_spark
    s = get_spark("texoo-tests", master="local[4]", shuffle_partitions=8)
    s.sparkContext.setLogLevel("ERROR")
    yield s
    s.stop()


@pytest.fixture(scope="session")
def fixture_turns(spark):
    """Transcript table built from the reference golden strings (F1)."""
    from tests.test_textops import DEMENTIA, DE_TEXT, MED_TEXT, TAB_TEXT
    rows = []
    strings = [
        DEMENTIA, MED_TEXT, DE_TEXT, TAB_TEXT,
        "sentence.\n\nEEG:\nEEG Lorem ipsum dolor",
        "They describe the process in three stages:\n1. Adaptive stage.",
        "Nearing the coast of Mexico, the depression attained its peak "
        "intensity with winds of 35 mph (55 km/h) and a minimum pressure "
        "of 1,007 mbar (29.7 inHg).",
    ]
    for i, text in enumerate(strings):
        rows.append((f"conv-{i % 3}", i, "user", text, None))
    return spark.createDataFrame(
        rows, "conv_id string, turn_idx int, role string, text string, "
              "tool string")


def _reference(text):
    """The pure reference lane: html.strip_html (HTML-looking turns only),
    then textops.extract_arrays in DISCARD mode."""
    from texoo_spark.html import looks_like_html, strip_html
    t = text or ""
    if looks_like_html(t):
        t = strip_html(t)["main_text"]
    return textops.extract_arrays(t, textops.DISCARD)


def _texts(df):
    return {(r.conv_id, r.turn_idx): r.text for r in df.collect()}


def test_per_turn_text_equality(spark, fixture_turns):
    """THE correctness contract: extracted_text from the Spark pipeline
    equals the pure-Python reference reconstruction for every turn."""
    from texoo_spark.pipeline import extract_turns, with_tok_text
    texts = _texts(fixture_turns)
    out = with_tok_text(extract_turns(fixture_turns,
                                      newlines=textops.DISCARD,
                                      strip_html_first=False)).collect()
    assert len(out) == 7
    for row in out:
        text = texts[(row.conv_id, row.turn_idx)]
        expected = textops.extract_document(text, textops.DISCARD)
        assert row.extracted_text == expected.text, text[:40]
        assert row.n_sentences == len(expected.sentences)
        assert row.n_tokens == len(expected.tokens)
        # shifted offsets slice the extracted text back to the surface
        base = row.tok_begin[0] if row.tok_begin else 0
        for t, b, e in zip(row.tok_text, row.tok_begin, row.tok_end):
            assert row.extracted_text[b - base:e - base] == t


def test_extract_keep_mode(spark, fixture_turns):
    from texoo_spark.pipeline import extract_turns
    texts = _texts(fixture_turns)
    out = extract_turns(fixture_turns, newlines=textops.KEEP,
                        strip_html_first=False).collect()
    for row in out:
        expected = textops.extract_document(
            texts[(row.conv_id, row.turn_idx)], textops.KEEP)
        assert row.extracted_text == expected.text


def test_html_turns_extracted(spark):
    from texoo_spark.pipeline import extract_turns
    para = ("Several specific diagnostic criteria can be used to diagnose "
            "vascular dementia, including the DSM-IV and ICD-10 criteria.")
    html = (f"<html><body><nav><a href='/x'>nav link text</a></nav>"
            f"<p>{para}</p><footer>copyright</footer></body></html>")
    df = spark.createDataFrame(
        [("c1", 0, "user", html, None)],
        "conv_id string, turn_idx int, role string, text string, tool string")
    row = extract_turns(df).collect()[0]
    assert row.extracted_text == para
    assert "nav link" not in row.extracted_text


def test_spans_long(spark, fixture_turns):
    from texoo_spark.pipeline import extract_turns, spans_long
    spans = spans_long(extract_turns(fixture_turns,
                                     strip_html_first=False))
    rows = spans.collect()
    assert all(r.ann_type == "SENTENCE" for r in rows)
    med_rows = [r for r in rows if r.turn_idx == 1]
    assert len(med_rows) == 2  # medText has 2 sentences
    assert med_rows[0].begin == 0
    assert med_rows[1].begin == 152


def test_run_extraction_resume(spark, fixture_turns, tmp_path_factory):
    """Manifests make the job resumable: a second run processes nothing."""
    from texoo_spark.pipeline import run_extraction
    base = str(tmp_path_factory.mktemp("pipe"))
    inp = os.path.join(base, "input")
    outp = os.path.join(base, "out")
    fixture_turns.withColumn("ts", __import__("pyspark.sql.functions",
                                              fromlist=["F"]).lit(None)
                             .cast("timestamp")) \
        .write.parquet(inp)
    r1 = run_extraction(spark, inp, outp, n_buckets=4, salt_buckets=2)
    assert r1["processed_parts"] >= 1
    assert r1["n_turns"] == 7
    r2 = run_extraction(spark, inp, outp, n_buckets=4, salt_buckets=2)
    assert r2["processed_parts"] == 0
    assert r2["skipped_parts"] == r1["processed_parts"]
    # manifest carries lineage + metrics
    mani = spark.read.parquet(os.path.join(outp, "_manifest")).collect()
    assert all(m.status == "done" for m in mani)
    assert sum(m.n_turns for m in mani) == 7
    assert all(m.input_path == inp for m in mani)
    # typed spans table written alongside (north_rule contract)
    spans = spark.read.parquet(os.path.join(outp, "spans"))
    assert spans.count() > 0
    assert {f.name for f in spans.schema.fields} >= {
        "conv_id", "turn_idx", "span_seq", "ann_type", "source",
        "begin", "end", "confidence"}
    shutil.rmtree(base, ignore_errors=True)


def test_gazetteer_udf_spark(spark):
    from pyspark.sql import functions as F
    from texoo_spark.pipeline import extract_turns
    from texoo_spark.udfs import make_gazetteer_udf
    from tests.test_spans import IMMUNO, TERMS
    df = spark.createDataFrame(
        [("c", 0, "user", IMMUNO, None)],
        "conv_id string, turn_idx int, role string, text string, tool string")
    ext = extract_turns(df, strip_html_first=False)
    gaz = make_gazetteer_udf(TERMS, "CASE_SENSITIVE")
    row = (ext.withColumn("m", gaz(F.col("extracted_text"),
                                   F.col("tok_begin"), F.col("tok_end")))
           .select(F.size("m.m_begin").alias("n")).collect()[0])
    assert row.n == 8  # MatchingAnnotatorTest.testCaseSensitive


PADS = ["", "  ", "\t", "\n", " \t\n "]


def test_gazetteer_and_linker_shift_leading_whitespace(spark):
    """Matches and linked surfaces of a turn with leading spaces, tab or
    newline equal those of the unpadded turn, shifted by the padding:
    both gazetteer UDFs and the linker slice extracted_text with the
    tok_begin[0] shift (schema.py)."""
    from pyspark.sql import functions as F
    from texoo_spark.annotator import (Pipeline, extract_annotator,
                                       gazetteer_annotator,
                                       linker_annotator,
                                       release_annotator_caches)
    from texoo_spark.pipeline import extract_turns
    from texoo_spark.udfs import make_gazetteer_count_udf, make_gazetteer_udf
    text = "Aspirin is a drug."
    terms = ["Aspirin", "drug"]
    df = spark.createDataFrame(
        [(i, "c", i, "user", pad + text, None) for i, pad in enumerate(PADS)],
        "doc_id long, conv_id string, turn_idx int, role string, "
        "text string, tool string")
    gaz = make_gazetteer_udf(terms, "CASE_SENSITIVE")
    count = make_gazetteer_count_udf(terms, "CASE_SENSITIVE")
    rows = (extract_turns(df, strip_html_first=False)
            .withColumn("m", gaz(F.col("extracted_text"),
                                 F.col("tok_begin"), F.col("tok_end")))
            .select("doc_id", "m.m_begin", "m.m_end").collect())
    counts = {r.doc_id: r.n for r in
              df.select("doc_id", count(F.col("text")).alias("n")).collect()}
    for r in rows:
        shift = len(PADS[r.doc_id])
        assert r.m_begin == [0 + shift, 13 + shift]
        assert r.m_end == [7 + shift, 17 + shift]
        assert counts[r.doc_id] == 2
    pipe = Pipeline()
    pipe.stages.append(extract_annotator("DISCARD", False))
    pipe.stages.append(gazetteer_annotator(terms))
    pipe.stages.append(linker_annotator([["aspirin", "E1", 0.9],
                                         ["drug", "E2", 0.8]]))
    linked = pipe.run(df.select("doc_id", "text")).collect()
    release_annotator_caches()
    assert len(linked) == len(PADS)
    for r in linked:
        assert (r.n_linked, r.first_entity) == (2, "E1"), repr(
            PADS[r.doc_id])


def test_run_extraction_sizes_tasks_by_slots(spark, tmp_path_factory):
    """Buckets are the resume unit, not the task unit: 64 buckets over
    ~300 turns write at most defaultParallelism files, each ordered by
    (conv_id, turn_idx), each bucket whole in one file; resume still
    works per bucket."""
    import pyarrow.parquet as pq
    from pyspark.sql import functions as F
    from texoo_spark.pipeline import run_extraction
    base = str(tmp_path_factory.mktemp("task_sizing"))
    inp, out = os.path.join(base, "input"), os.path.join(base, "out")
    rows = [(f"conv-{c:03d}", t, "user",
             f"Turn {t} of conversation {c}. It has two sentences.", None)
            for c in range(60) for t in range(5)]
    (spark.createDataFrame(
        rows, "conv_id string, turn_idx int, role string, text string, "
              "tool string")
     .withColumn("ts", F.lit(None).cast("timestamp"))
     .write.parquet(inp))
    r1 = run_extraction(spark, inp, out, n_buckets=64)
    assert r1["n_turns"] == len(rows)
    assert r1["processed_parts"] > spark.sparkContext.defaultParallelism
    tdir = os.path.join(out, "turns")
    files = [os.path.join(tdir, f) for f in os.listdir(tdir)
             if f.startswith("part-") and f.endswith(".parquet")]
    assert 1 <= len(files) <= spark.sparkContext.defaultParallelism
    owner = {}
    for f in files:
        t = pq.read_table(f, columns=["conv_id", "turn_idx", "part_id"])
        keys = list(zip(t.column("conv_id").to_pylist(),
                        t.column("turn_idx").to_pylist()))
        assert keys == sorted(keys), f
        for pid in set(t.column("part_id").to_pylist()):
            assert owner.setdefault(pid, f) == f, pid
    assert len(owner) == r1["processed_parts"]
    r2 = run_extraction(spark, inp, out, n_buckets=64)
    assert r2["processed_parts"] == 0
    assert r2["skipped_parts"] == r1["processed_parts"]
    mani = spark.read.parquet(os.path.join(out, "_manifest"))
    assert mani.agg(F.sum("n_turns")).collect()[0][0] == len(rows)
    shutil.rmtree(base, ignore_errors=True)


def test_with_tok_text_matches_reference(spark, fixture_turns):
    """Token surfaces derived in Catalyst equal the reference lane's
    tok_texts, in KEEP and DISCARD mode, with the offsets they come from."""
    from texoo_spark.pipeline import extract_turns, with_tok_text
    texts = _texts(fixture_turns)
    for mode in (textops.KEEP, textops.DISCARD):
        rows = with_tok_text(extract_turns(
            fixture_turns, newlines=mode, strip_html_first=False)).collect()
        assert len(rows) == len(texts)
        for r in rows:
            toks, begins, ends, _, _ = textops.extract_arrays(
                texts[(r.conv_id, r.turn_idx)], mode)
            assert r.tok_text == toks
            assert (r.tok_begin, r.tok_end) == (begins, ends)


def test_arrow_lane_matches_reference_lane(spark, fixture_turns):
    """The mapInArrow lane equals the reference lane (html.strip_html ->
    textops) on the fixture strings, row for row, and keeps every input
    column except text, in input order."""
    from pyspark.sql import functions as F
    from texoo_spark.arrow_extract import extract_turns_arrow
    from texoo_spark.pipeline import with_part_id
    src = (with_part_id(fixture_turns, n_buckets=4, salt_buckets=2)
           .withColumn("ts", F.lit(None).cast("timestamp")))
    texts = _texts(src)
    out = extract_turns_arrow(src.sortWithinPartitions("conv_id", "turn_idx"))
    assert out.columns[:6] == ["conv_id", "turn_idx", "role", "tool",
                               "part_id", "ts"]
    rows = out.collect()
    assert len(rows) == len(texts)
    for r in rows:
        _, begins, ends, sents, ext = _reference(
            texts[(r.conv_id, r.turn_idx)])
        assert r.extracted_text == ext
        assert r.n_tokens == len(begins) and r.n_sentences == len(sents)
        assert r.tok_begin == begins and r.tok_end == ends
        assert (list(zip(r.sent_begin, r.sent_end, r.sent_tok_start,
                         r.sent_tok_end)) == sents)


def test_run_extraction_arrow_lane(spark, fixture_turns, tmp_path_factory):
    from pyspark.sql import functions as F
    from texoo_spark.pipeline import run_extraction
    out = str(tmp_path_factory.mktemp("arrow_lane"))
    inp = str(tmp_path_factory.mktemp("arrow_in")) + "/turns"
    (fixture_turns.withColumn("ts", F.lit(None).cast("timestamp"))
     .write.parquet(inp))
    s1 = run_extraction(spark, inp, out, n_buckets=4, salt_buckets=2)
    assert s1["n_turns"] == fixture_turns.count()
    cols = spark.read.parquet(os.path.join(out, "turns")).columns
    assert "text" not in cols and "tok_text" not in cols
    s2 = run_extraction(spark, inp, out, n_buckets=4, salt_buckets=2)
    assert s2["processed_parts"] == 0 and s2["skipped_parts"] >= 1


def test_run_extraction_corrupt_manifest_raises(spark, fixture_turns,
                                                tmp_path_factory):
    """Only a missing manifest means a fresh run: an unreadable one must
    raise, and nothing may be appended to turns."""
    from pyspark.sql import functions as F
    from texoo_spark.pipeline import run_extraction
    out = str(tmp_path_factory.mktemp("corrupt_manifest"))
    inp = str(tmp_path_factory.mktemp("corrupt_in")) + "/turns"
    (fixture_turns.withColumn("ts", F.lit(None).cast("timestamp"))
     .write.parquet(inp))
    run_extraction(spark, inp, out, n_buckets=4, salt_buckets=2)
    mdir = os.path.join(out, "_manifest")
    for name in os.listdir(mdir):
        if name.endswith(".parquet"):
            with open(os.path.join(mdir, name), "wb") as f:
                f.write(b"not a parquet file")
    with pytest.raises(Exception):
        run_extraction(spark, inp, out, n_buckets=4, salt_buckets=2)
    assert spark.read.parquet(os.path.join(out, "turns")).count() == 7


def test_salting_spreads_skewed_conversation(spark):
    """A single long conversation must spread over salt_buckets partitions
    in contiguous 64-turn blocks (skew bound), while short conversations
    stay in one bucket (locality)."""
    from pyspark.sql import functions as F
    from texoo_spark.pipeline import with_part_id
    rows = ([("conv-long", i) for i in range(1000)]
            + [("conv-short", i) for i in range(10)])
    df = spark.createDataFrame(rows, "conv_id string, turn_idx int")
    parts = (with_part_id(df, n_buckets=32, salt_buckets=4)
             .groupBy("conv_id")
             .agg(F.countDistinct("part_id").alias("n_parts"))
             .collect())
    got = {r.conv_id: r.n_parts for r in parts}
    assert got["conv-long"] == 4      # bounded spread, not 1, not 32
    assert got["conv-short"] == 1     # short conv keeps locality
    # block contiguity: every 64-turn block lands in exactly one part
    blocks = (with_part_id(df, n_buckets=32, salt_buckets=4)
              .filter(F.col("conv_id") == "conv-long")
              .groupBy(F.floor(F.col("turn_idx") / 64).alias("block"))
              .agg(F.countDistinct("part_id").alias("p"))
              .collect())
    assert all(r.p == 1 for r in blocks)


def test_curation_pipeline(spark, tmp_path_factory):
    """extract -> quality filter -> exact dedup -> near dedup funnel."""
    from pyspark.sql import functions as F
    from texoo_spark import curate
    base = ("the quick brown fox jumps over the lazy dog and runs far "
            "away to the hills")
    rows = []
    for i in range(6):                      # 6 exact copies -> 1 survivor
        rows.append((f"c{i}", 0, "user", base, None))
    rows.append(("n0", 0, "user", base + " tonight", None))  # near-dup
    rows.append(("q0", 0, "user", "too short", None))        # quality drop
    rows.append(("q1", 0, "user", "1 2 3 4 5 6 7 8 9 10 11", None))  # digits
    rows.append(("k0", 0, "user",
                 "a completely different sentence with the usual stopwords "
                 "that is long enough to keep for training data", None))
    df = spark.createDataFrame(
        rows, "conv_id string, turn_idx int, role string, text string,"
              " tool string").withColumn("ts", F.lit(None).cast("timestamp"))
    inp = str(tmp_path_factory.mktemp("curate_in")) + "/turns"
    out = str(tmp_path_factory.mktemp("curate_out"))
    from texoo_spark.pipeline import with_part_id
    with_part_id(df, n_buckets=4).write.parquet(inp)
    funnel = curate.run(spark, inp, out, min_words=5)
    assert funnel["input"] == 10
    assert funnel["after_quality"] == 8        # 2 quality drops
    assert funnel["after_exact_dedup"] == 3    # 6 copies -> 1
    assert funnel["after_near_dedup"] == 2     # near-dup suppressed
    kept = {r.conv_id for r in
            spark.read.parquet(out + "/curated").collect()}
    assert "k0" in kept and len(kept) == 2
    fun = spark.read.parquet(out + "/_funnel").collect()[0]
    assert fun.after_near_dedup == 2


def test_curation_bare_schema(spark, tmp_path_factory):
    """curate.run accepts the bare transcript schema (no part_id)."""
    from pyspark.sql import functions as F
    from texoo_spark import curate
    from texoo_spark.schema import TRANSCRIPT_SCHEMA
    text = ("a long enough sentence about the weather and the sea for "
            "the quality gate")
    df = spark.createDataFrame(
        [("c0", 0, "user", text, None, None),
         ("c1", 0, "user", text, None, None),
         ("c2", 0, "user", "short", None, None)], TRANSCRIPT_SCHEMA)
    inp = str(tmp_path_factory.mktemp("curate_bare_in")) + "/turns"
    out = str(tmp_path_factory.mktemp("curate_bare_out"))
    df.write.parquet(inp)
    funnel = curate.run(spark, inp, out)
    assert funnel == {"input": 3, "after_quality": 2,
                      "after_exact_dedup": 1, "after_near_dedup": 1}
    kept = spark.read.parquet(out + "/curated")
    assert [r.conv_id for r in kept.collect()] == ["c0"]
    assert "part_id" not in kept.columns
    assert kept.filter(F.col("extracted_text") == text).count() == 1


def test_arrow_lane_edge_rows(spark):
    """Null text, empty text, whitespace-only, giant turn, unicode: the
    hot lane must not drop or corrupt any row."""
    from pyspark.sql import functions as F
    from texoo_spark.arrow_extract import extract_turns_arrow
    from texoo_spark.pipeline import with_part_id
    big = ("word " * 20000).strip()          # ~100k chars single turn
    rows = [("c", 0, "user", None, None),
            ("c", 1, "user", "", None),
            ("c", 2, "user", "   \n\t  ", None),
            ("c", 3, "user", big, None),
            ("c", 4, "user", "héllo wörld — naïve café. Ünicode?", None)]
    df = (spark.createDataFrame(
        rows, "conv_id string, turn_idx int, role string, text string,"
              " tool string")
        .withColumn("ts", F.lit(None).cast("timestamp")))
    out = {r.turn_idx: r for r in extract_turns_arrow(
        with_part_id(df, n_buckets=2)
        .sortWithinPartitions("conv_id", "turn_idx")).collect()}
    assert len(out) == 5
    assert out[0].extracted_text == "" and out[0].n_tokens == 0
    assert out[1].extracted_text == "" and out[1].n_tokens == 0
    assert out[2].n_tokens == 0
    assert out[3].n_tokens == 20000
    assert out[3].extracted_text == big
    assert out[4].n_tokens > 0
    r4 = out[4]
    for b, e in zip(r4.tok_begin, r4.tok_end):
        assert 0 <= b < e <= len(r4.extracted_text)


def test_run_extraction_table_log_sink(spark, fixture_turns,
                                       tmp_path_factory):
    """table_log=True: every output committed through the versioned table
    format — one atomic snapshot per run per table, resume reads the
    committed manifest, results identical to the plain-parquet sink."""
    from texoo_spark.pipeline import run_extraction
    from texoo_spark.tablelog import TableLog
    base = str(tmp_path_factory.mktemp("pipetl"))
    inp = os.path.join(base, "input")
    fixture_turns.withColumn("ts", __import__("pyspark.sql.functions",
                                              fromlist=["F"]).lit(None)
                             .cast("timestamp")) \
        .write.parquet(inp)
    plain, versioned = os.path.join(base, "out_p"), os.path.join(base, "out_t")
    rp = run_extraction(spark, inp, plain, n_buckets=4, salt_buckets=2)
    r1 = run_extraction(spark, inp, versioned, n_buckets=4, salt_buckets=2,
                        table_log=True)
    assert r1["n_turns"] == rp["n_turns"] == 7
    turns_t = TableLog(os.path.join(versioned, "turns"))
    # identical rows to the plain sink
    key = ["conv_id", "turn_idx"]
    a = sorted((r.conv_id, r.turn_idx, r.extracted_text) for r in
               turns_t.read(spark).collect())
    b = sorted((r.conv_id, r.turn_idx, r.extracted_text) for r in
               spark.read.parquet(os.path.join(plain, "turns")).collect())
    assert a == b
    # one committed snapshot per table; resume processes nothing and
    # commits nothing new
    assert [h["op"] for h in turns_t.history()] == ["append"]
    r2 = run_extraction(spark, inp, versioned, n_buckets=4, salt_buckets=2,
                        table_log=True)
    assert r2["processed_parts"] == 0
    assert [h["op"] for h in turns_t.history()] == ["append"]
    mani_t = TableLog(os.path.join(versioned, "_manifest"))
    mani = mani_t.read(spark).collect()
    assert all(m.status == "done" for m in mani)
    assert sum(m.n_turns for m in mani) == 7
    assert TableLog(os.path.join(versioned, "spans")).read(spark).count() \
        == spark.read.parquet(os.path.join(plain, "spans")).count()
    shutil.rmtree(base, ignore_errors=True)
