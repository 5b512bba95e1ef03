"""Driver-side probes shared by the workloads.

- the pure reference lane (html.strip_html, then textops.extract_document)
  that every Spark lane's output is compared with;
- a deterministic sample of turns, chosen by a hash of (conv_id, turn_idx)
  so input and output samples pick the same keys;
- per-turn kernel timings over the workload's own texts;
- noop-sink stage timings and parquet size accounting.
"""

from __future__ import annotations

import os
import re
import statistics
import time

import pyarrow.parquet as pq
from pyspark.sql import functions as F

from texoo_spark import dedup, html, textops

from steal import Stopwatch

SAMPLE_TURNS = 2000
# text the lean extractor hands to the full routine (textops'
# newline/tab/NBSP test, restated here to count it)
_FALLBACK = re.compile(r"[^\S ]")


def reference(raw: str | None) -> tuple[str, list[int], list[int]]:
    t = raw or ""
    if html.looks_like_html(t):
        t = html.strip_html(t)["main_text"]
    doc = textops.extract_document(t, textops.DISCARD)
    return (doc.text, [tok.begin for tok in doc.tokens],
            [tok.end for tok in doc.tokens])


def sample_filter(df, n_turns: int):
    k = max(1, n_turns // SAMPLE_TURNS)
    return df.filter(F.pmod(F.hash("conv_id", "turn_idx"), F.lit(k)) == 0)


def input_sample(spark, path: str, n_turns: int) -> dict:
    rows = (sample_filter(spark.read.parquet(path), n_turns)
            .select("conv_id", "turn_idx", "text").collect())
    return {(r.conv_id, r.turn_idx): r.text for r in rows}


def equality(spark, out_path: str, raw: dict, n_turns: int) -> tuple[int, int]:
    """(turns equal to the reference lane, turns compared) over the sample
    keys present in the output."""
    rows = (sample_filter(spark.read.parquet(out_path), n_turns)
            .select("conv_id", "turn_idx", "extracted_text", "tok_begin",
                    "tok_end").collect())
    ok = 0
    for r in rows:
        text, begins, ends = reference(raw[(r.conv_id, r.turn_idx)])
        ok += (text == r.extracted_text and begins == list(r.tok_begin)
               and ends == list(r.tok_end))
    return ok, len(rows)


def kernel_layers(tracer, texts: list[str]) -> dict[str, float]:
    """Per-turn cost and counts of the html, textops and dedup kernels on
    the driver, one span around each loop."""
    n = len(texts)
    with tracer.span("html.looks_like_html", calls=n):
        t0 = time.perf_counter()
        is_html = [html.looks_like_html(t) for t in texts]
        gate_s = time.perf_counter() - t0
    pages = [t for t, h in zip(texts, is_html) if h]
    with tracer.span("html.strip_html", calls=len(pages)):
        t0 = time.perf_counter()
        stripped = [html.strip_html(t) for t in pages]
        strip_s = time.perf_counter() - t0
    it = iter(stripped)
    clean = [next(it)["main_text"] if h else t for t, h in zip(texts, is_html)]
    with tracer.span("textops.extract_arrays_lean", calls=n):
        t0 = time.perf_counter()
        lean = [textops.extract_arrays_lean(t, textops.DISCARD)
                for t in clean]
        lean_s = time.perf_counter() - t0
    with tracer.span("textops.extract_arrays", calls=n):
        t0 = time.perf_counter()
        for t in clean:
            textops.extract_arrays(t, textops.DISCARD)
        full_s = time.perf_counter() - t0
    extracted = [x[4] for x in lean]
    with tracer.span("dedup.minhash_signatures_batch", calls=n):
        t0 = time.perf_counter()
        dedup.minhash_signatures_batch(extracted)
        minhash_s = time.perf_counter() - t0
    n_blocks = sum(s["n_blocks"] for s in stripped)
    return {
        "html.gate_us_per_turn": 1e6 * gate_s / n,
        "html.strip_us_per_html_turn": 1e6 * strip_s / len(pages) if pages
        else 0.0,
        "html.html_share": len(pages) / n,
        "html.kept_block_ratio": (sum(s["kept_blocks"] for s in stripped)
                                  / n_blocks if n_blocks else 0.0),
        "textops.lean_us_per_turn": 1e6 * lean_s / n,
        "textops.full_us_per_turn": 1e6 * full_s / n,
        "textops.fallback_share": sum(_FALLBACK.search(t) is not None
                                      for t in clean) / n,
        "textops.tokens_per_turn": sum(len(x[1]) for x in lean) / n,
        "textops.sentences_per_turn": sum(len(x[3]) for x in lean) / n,
        "dedup.minhash_us_per_turn": 1e6 * minhash_s / n,
        # pure-Python work of the arrow lane per turn (gate, strip, lean)
        "_kernel_us_per_turn": 1e6 * (gate_s + strip_s + lean_s) / n,
    }


def noop_seconds(tracer, name: str, make_df, reps: int = 2) -> float:
    """Fastest of ``reps`` runs of a plan into the noop sink, in seconds
    net of steal."""
    times = []
    for _ in range(reps):
        with tracer.span(name), Stopwatch() as sw:
            make_df().write.format("noop").mode("overwrite").save()
        times.append(sw.net)
    return min(times)


def parquet_bytes(path: str) -> int:
    total = 0
    for d, _, files in os.walk(path):
        total += sum(os.path.getsize(os.path.join(d, f)) for f in files
                     if f.endswith(".parquet"))
    return total


def column_bytes(path: str, column: str) -> int:
    """Compressed bytes of one top-level column over a parquet directory."""
    total = 0
    for d, _, files in os.walk(path):
        for f in files:
            if not f.endswith(".parquet"):
                continue
            meta = pq.ParquetFile(os.path.join(d, f)).metadata
            for g in range(meta.num_row_groups):
                rg = meta.row_group(g)
                for c in range(rg.num_columns):
                    col = rg.column(c)
                    if col.path_in_schema.split(".")[0] == column:
                        total += col.total_compressed_size
    return total


def median(xs: list[float]) -> float:
    return statistics.median(xs) if xs else 0.0
