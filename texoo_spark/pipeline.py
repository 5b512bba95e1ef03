"""End-to-end extraction pipeline over transcript tables.

Scale design (BASELINE north_rule):
- bucket by hash(conv_id) into a fixed bucket count (part_id); skewed
  long conversations are salted by turn block so one conversation cannot
  pin a bucket (extraction is per-turn, so salting is always safe);
- buckets are the unit of resume and lineage: per-bucket manifests make
  the job resumable (completed part_ids are filtered away on restart) and
  each manifest row carries lineage (input path, code version) and
  metrics (turn/token/sentence counts);
- buckets are not the unit of work: the pending buckets are range-
  partitioned into as many tasks as the cluster has slots, or more when
  the pending turns exceed TURNS_PER_TASK per slot, never more than the
  bucket count. Every Python task pays a fixed worker set-up (~0.25
  core-s), so one task per bucket made a small job pay it per bucket;
- stable turn ordering via sortWithinPartitions(conv_id, turn_idx);
- all text work crosses into Python once, in the mapInArrow lane
  (arrow_extract.py); token surfaces are derived on demand in Catalyst
  (with_tok_text); everything else is built-in Catalyst operators
  (filters push down to the parquet scan).
"""

from __future__ import annotations

import datetime
import math
import os

from pyspark.errors import AnalysisException
from pyspark.sql import DataFrame, Observation, SparkSession, functions as F

from texoo_spark import textops
from texoo_spark.arrow_extract import extract_turns_arrow
from texoo_spark.schema import MANIFEST_SCHEMA

CODE_VERSION = "texoo-spark-0.1"

# Turns one extraction task should carry. Every Python task pays ~0.25
# core-seconds of PySpark worker set-up before its first row (almost all
# of it importlib.invalidate_caches() re-reading pyspark.zip's directory
# once per cached zipimporter); against ~230 core-us of extraction per
# turn, 100k turns keep that fixed cost near 1% of the task.
TURNS_PER_TASK = 100_000


def with_part_id(df: DataFrame, n_buckets: int,
                 salt_buckets: int = 0) -> DataFrame:
    """Assign a deterministic partition bucket from hash(conv_id).

    With salt_buckets > 0, long conversations are spread over salt_buckets
    adjacent buckets using turn_idx blocks (64 turns per block), which keeps
    per-conversation turn order intact within a block while bounding skew.
    """
    base = F.pmod(F.hash(F.col("conv_id")), F.lit(n_buckets))
    if salt_buckets > 1:
        salt = F.pmod(F.floor(F.col("turn_idx") / 64), F.lit(salt_buckets))
        part = F.pmod(base + salt, F.lit(n_buckets))
    else:
        part = base
    return df.withColumn("part_id", part.cast("int"))


def extract_turns(df: DataFrame, newlines: str = textops.DISCARD,
                  strip_html_first: bool = True) -> DataFrame:
    """text -> (extracted_text, token/sentence offset arrays) per turn,
    on the mapInArrow lane (arrow_extract.extract_turns_arrow).

    When strip_html_first is set, HTML-looking turns are boilerplate-
    stripped before segmentation in the same Python hop; offsets are
    relative to the cleaned text, which IS the extracted-text contract.
    Token surfaces are not produced: call with_tok_text."""
    return extract_turns_arrow(df, newlines, strip_html_first)


def with_tok_text(df: DataFrame) -> DataFrame:
    """Add the token surfaces ``tok_text`` to extraction output, derived
    JVM-side from extracted_text and the offsets by the reconstruction
    rule in schema.py (Spark's substring counts code points, as Python
    slicing does)."""
    return df.withColumn("tok_text", F.expr(
        "transform(arrays_zip(tok_begin, tok_end), x -> substring("
        "extracted_text, x.tok_begin - tok_begin[0] + 1, "
        "x.tok_end - x.tok_begin))"))


def _read_manifest(spark: SparkSession, path: str, table) -> DataFrame | None:
    """The manifest of earlier runs, or None when there is none yet. Any
    other read failure raises: treating a corrupt manifest as empty would
    append every part a second time."""
    if table is not None:
        return table.read(spark) if table.current_version() else None
    try:
        return spark.read.parquet(path)
    except AnalysisException as e:
        if e.getCondition() == "PATH_NOT_FOUND":
            return None
        raise


def run_extraction(spark: SparkSession, input_path: str, output_dir: str,
                   n_buckets: int = 64, salt_buckets: int = 4,
                   newlines: str = textops.DISCARD,
                   resume: bool = True,
                   write_spans: bool = True,
                   table_log: bool = False) -> dict:
    """Batch extraction with checkpointed partition manifests.

    Outputs (BASELINE north_rule): <out>/turns (extracted text + offset
    arrays), <out>/spans (long-format typed spans per turn), and
    <out>/_manifest (per-bucket lineage + metrics; resume filters the
    manifested buckets away). Buckets do not set the task count: see
    TURNS_PER_TASK.
    Returns a summary dict {processed_parts, skipped_parts, n_turns}.
    Turn rows keep every input column except text; token surfaces are not
    stored (with_tok_text derives them; schema.py states the rule).
    A missing manifest means a fresh run; an unreadable one raises.

    ``table_log=True`` commits every output through
    texoo_spark.tablelog.TableLog instead of plain parquet-dir appends:
    each run is ONE atomic versioned snapshot per table (a crashed run
    leaves unreferenced files, never a torn table), history/time travel
    record lineage per run, and resume reads the manifest from its
    committed snapshot. On a cluster with an Iceberg catalog this is the
    seam where df.writeTo(table).append() slots in (tablelog.py module
    docstring); the default plain-parquet mode is the bench hot lane.
    """
    manifest_path = os.path.join(output_dir, "_manifest")
    data_path = os.path.join(output_dir, "turns")
    spans_path = os.path.join(output_dir, "spans")
    if table_log:
        from texoo_spark.tablelog import TableLog
        turns_t = TableLog(data_path)
        spans_t = TableLog(spans_path)
        manifest_t = TableLog(manifest_path)

    df = spark.read.parquet(input_path)
    df = with_part_id(df, n_buckets, salt_buckets)

    done: set[int] = set()
    prev_manifest = (_read_manifest(spark, manifest_path,
                                    manifest_t if table_log else None)
                     if resume else None)
    if prev_manifest is not None:
        done = {r.part_id for r in
                prev_manifest
                .filter(F.col("status") == "done")
                .select("part_id").distinct().collect()}
    if done:
        df = df.filter(~F.col("part_id").isin(list(done)))

    pending = {r.part_id: r["count"]
               for r in df.groupBy("part_id").count().collect()}
    pending_ids = sorted(pending)
    if not pending_ids:
        return {"processed_parts": 0, "skipped_parts": len(done), "n_turns": 0}

    # buckets are the unit of resume and lineage, not of work: every task
    # pays a Python worker start-up (TURNS_PER_TASK), so tasks follow the
    # slots and the pending turns; more tasks than buckets would be empty,
    # because range partitioning never splits a bucket
    n_tasks = min(len(pending_ids),
                  max(spark.sparkContext.defaultParallelism,
                      math.ceil(sum(pending.values()) / TURNS_PER_TASK)))
    # order established on slim rows; the mapInArrow lane preserves it
    clustered = df.repartitionByRange(n_tasks, "part_id")
    extracted = extract_turns(
        clustered.sortWithinPartitions("conv_id", "turn_idx"),
        newlines=newlines)

    # clustered plain write: range partitioning keeps every bucket whole
    # in one file and gives each file a contiguous part_id range, so
    # parquet row-group stats prune part_id predicates on read without
    # the dynamic-partition writer's sort/fanout overhead
    if table_log:
        turns_t.append(extracted)
        read_turns = turns_t.read(spark)
    else:
        (extracted.write.mode("append")
         .parquet(data_path))
        read_turns = spark.read.parquet(data_path)

    if write_spans:
        new_spans = spans_long(
            read_turns.filter(F.col("part_id").isin(pending_ids)))
        if table_log:
            spans_t.append(new_spans)
        else:
            new_spans.write.mode("append").parquet(spans_path)

    # metrics from the written files (metadata-cheap column-pruned scan)
    stats = (read_turns
             .filter(F.col("part_id").isin(pending_ids))
             .groupBy("part_id")
             .agg(F.count("*").alias("n_turns"),
                  F.sum("n_tokens").alias("n_tokens"),
                  F.sum("n_sentences").alias("n_sentences")))
    now = datetime.datetime.now(datetime.timezone.utc).replace(tzinfo=None)
    # the summary's turn count is observed on the manifest write itself,
    # not re-aggregated by a second job
    observed = Observation("manifest")
    manifest = (stats
                .withColumn("status", F.lit("done"))
                .withColumn("input_path", F.lit(input_path))
                .withColumn("code_version", F.lit(CODE_VERSION))
                .withColumn("written_at", F.lit(now))
                .select([f.name for f in MANIFEST_SCHEMA.fields])
                .observe(observed, F.sum("n_turns").alias("n_turns")))
    if table_log:
        manifest_t.append(manifest)
    else:
        manifest.write.mode("append").parquet(manifest_path)

    return {"processed_parts": len(pending_ids),
            "skipped_parts": len(done),
            "n_turns": int(observed.get["n_turns"] or 0)}


def spans_long(extracted: DataFrame) -> DataFrame:
    """Explode per-turn sentence arrays into a long-format spans table
    (SENTENCE annotations; SURVEY.md §1.5 output contract)."""
    return (extracted
            .select("conv_id", "turn_idx",
                    F.posexplode(F.arrays_zip("sent_begin", "sent_end"))
                    .alias("span_seq", "s"))
            .select("conv_id", "turn_idx", "span_seq",
                    F.lit("SENTENCE").alias("ann_type"),
                    F.lit("PRED").alias("source"),
                    F.col("s.sent_begin").alias("begin"),
                    F.col("s.sent_end").alias("end"),
                    F.lit(None).cast("string").alias("label"),
                    F.lit(None).cast("string").alias("ref_id"),
                    F.lit(1.0).alias("confidence")))
