"""The two benchmark workloads, and the curate probe.

Each workload names its input layout, runs its job once per call of
``job`` (the measured unit), checks the outputs of the last job, and in a
traced run measures the layers its job goes through. Metrics of a layer a
workload never calls read 0 on that workload (see LAYERS.md).
"""

from __future__ import annotations

import json
import os
import shutil

import pandas as pd
from pyspark.sql import functions as F

from probes import (column_bytes, equality, input_sample, kernel_layers,
                    median, noop_seconds, reference)
from steal import Stopwatch

# pipeline_cli: the CLI's defaults except --buckets, which the CLI sizes
# for clusters (256); at this input size 256 buckets cost ~26 s of task
# overhead per job on 4 cores, whatever the turn count
CLI_BUCKETS = 16
CLI_SALT_BUCKETS = 16
NEAR_JACCARD = 0.5      # S-curve midpoint of 64 hashes in 16 bands


def _sorted_input(b, path):
    return b.spark.read.parquet(path).sortWithinPartitions("conv_id",
                                                           "turn_idx")


def _timed(b, name, fn):
    """(seconds net of steal, result) of one call of ``fn``."""
    with b.tracer.span(name), Stopwatch() as sw:
        out = fn()
    return sw.net, out


def _program_actions(b, job_span: str) -> list[list[dict]]:
    """For each traced measured job span named ``job_span``: the Spark
    action spans inside its pipeline.run_extraction call, in order."""
    return [b.tracer.children(call["id"])
            for top in b.tracer.children(None) if top["name"] == job_span
            for call in b.tracer.children(top["id"])
            if call["name"] == "pipeline.run_extraction"]


def _first(spans: list[dict], name: str) -> int:
    return next(i for i, s in enumerate(spans) if s["name"] == name)


def _secs(spans: list[dict], *names: str) -> float:
    return sum(s["end"] - s["start"] for s in spans if s["name"] in names)


def _kernels(b, raw: dict) -> float:
    """Record the driver kernel layers; return the arrow lane's pure-Python
    microseconds per turn."""
    k = kernel_layers(b.tracer, list(raw.values()))
    kernel_us = k.pop("_kernel_us_per_turn")
    b.layer.update(k)
    return kernel_us


def _arrow_stages(b, path: str, kernel_us: float) -> float:
    """spark.scan_s, spark.sort_s and arrow_extract.* from noop-sink runs;
    returns the scan+sort+UDF time."""
    read = lambda: b.spark.read.parquet(path)          # noqa: E731
    scan = noop_seconds(b.tracer, "spark.scan", read)
    sort = noop_seconds(b.tracer, "spark.sort",
                        lambda: _sorted_input(b, path))
    udf = noop_seconds(b.tracer, "arrow_extract.stage",
                       lambda: b.T.arrow_extract.extract_turns_arrow(
                           _sorted_input(b, path)))
    stage = udf - sort
    b.layer["spark.scan_s"] = scan
    b.layer["spark.sort_s"] = sort - scan
    b.layer["arrow_extract.stage_s"] = stage
    b.layer["arrow_extract.kernel_share"] = (
        kernel_us * b.n_turns / 1e6 / (b.cores * stage) if stage > 0 else 0.0)
    return udf


class ExtractBulk:
    name = "extract_bulk"
    clustered = True
    # after one warm-up job the first measured job still ran 10-20% slower
    # than the next (the JVM compiles per-row code paths only after enough
    # rows); a job here costs ~2.5 s
    warmup_jobs = 2

    def job(self, b, inp, out):
        def run():
            ext = b.T.arrow_extract.extract_turns_arrow(_sorted_input(b, inp))
            with b.tracer.span("spark.write"):
                ext.write.mode("overwrite").parquet(out)
        secs, _ = _timed(b, "job.extract_bulk", run)
        return {"job_s": secs}

    def check(self, b, runs, raw):
        n_out = b.spark.read.parquet(b.out).count()
        b.check("turns_out_equal_in", n_out == b.n_turns,
                f"{n_out} out vs {b.n_turns} in")
        return equality(b.spark, b.out, raw, b.n_turns)

    def probe(self, b, runs, raw):
        udf = _arrow_stages(b, b.inp, _kernels(b, raw))
        b.layer["spark.write_s"] = median([r["job_s"] for r in runs]) - udf
        b.layer["session.scaling_eff_1to4"] = b.scaling_efficiency()


class PipelineCli:
    name = "pipeline_cli"
    clustered = False
    warmup_jobs = 1

    def _run(self, b, inp, out):
        return b.T.pipeline.run_extraction(
            b.spark, inp, out, n_buckets=CLI_BUCKETS,
            salt_buckets=CLI_SALT_BUCKETS)

    def job(self, b, inp, out):
        shutil.rmtree(out, ignore_errors=True)
        secs, first = _timed(b, "job.pipeline_cli",
                             lambda: self._run(b, inp, out))
        resume, again = _timed(b, "job.pipeline_cli.resume",
                               lambda: self._run(b, inp, out))
        return {"job_s": secs, "resume_s": resume, "first": first,
                "again": again}

    def check(self, b, runs, raw):
        last = runs[-1]
        turns = b.spark.read.parquet(os.path.join(b.out, "turns"))
        n_out = turns.count()
        b.check("turns_out_equal_in",
                n_out == b.n_turns and last["first"]["n_turns"] == b.n_turns,
                f"{n_out} rows, summary {last['first']['n_turns']}, "
                f"{b.n_turns} in")
        n_spans = b.spark.read.parquet(os.path.join(b.out, "spans")).count()
        n_sent = turns.agg(F.sum("n_sentences")).collect()[0][0]
        b.check("spans_rows_equal_sentences", n_spans == n_sent,
                f"{n_spans} spans vs {n_sent} sentences")
        b.check("resume_processes_no_parts",
                last["again"]["processed_parts"] == 0,
                f"rerun processed {last['again']['processed_parts']} parts")
        return equality(b.spark, os.path.join(b.out, "turns"), raw,
                        b.n_turns)

    def probe(self, b, runs, raw):
        _kernels(b, raw)
        spark, inp = b.spark, b.inp
        turns_path = os.path.join(b.out, "turns")
        turns = spark.read.parquet(turns_path)
        per_part = [r["n"] for r in turns.groupBy("part_id")
                    .agg(F.count("*").alias("n")).collect()]
        b.layer["pipeline.part_skew"] = max(per_part) / median(per_part)

        def bucket_ids():
            return b.T.pipeline.with_part_id(spark.read.parquet(inp),
                                             CLI_BUCKETS, CLI_SALT_BUCKETS)

        def bucketed():
            return bucket_ids().repartition(len(per_part), "part_id")
        scan = noop_seconds(b.tracer, "spark.scan",
                            lambda: spark.read.parquet(inp))
        shuffle = noop_seconds(b.tracer, "pipeline.shuffle", bucketed)
        stage = noop_seconds(b.tracer, "extract.stage",
                             lambda: b.T.pipeline.extract_turns(bucketed()))
        b.layer["pipeline.shuffle_s"] = shuffle - scan
        b.layer["extract.stage_s"] = stage - shuffle
        b.layer["extract.tok_text_bytes_per_turn"] = (
            column_bytes(turns_path, "tok_text") / b.n_turns)
        # run_extraction's own stages, from the Spark actions it ran inside
        # the traced measured jobs: the spans write, the manifest write and
        # the stats collect after it, and the rerun's manifest read and
        # pending part scan
        firsts = _program_actions(b, "job.pipeline_cli")
        reruns = _program_actions(b, "job.pipeline_cli.resume")
        b.layer["pipeline.spans_s"] = median(
            [_secs(a, "spark.write:spans") for a in firsts])
        b.layer["pipeline.manifest_s"] = median(
            [_secs(a[_first(a, "spark.write:_manifest"):],
                   "spark.write:_manifest", "spark.collect") for a in firsts])
        b.layer["pipeline.pending_scan_s"] = median(
            [_secs(a, "spark.collect") for a in reruns])
        b.layer["pipeline.resume_s"] = median([r["resume_s"] for r in runs])
        curate_probe(b)


def curate_probe(b) -> None:
    """The curate and dedup layers, from pipeline_cli's traced run: over a
    clustered input of the seed's curate_dedup mix (duplicates, near
    duplicates, short turns), time each stage over a persisted extraction,
    count the LSH candidates, then time one whole curate.run and check its
    funnel. curate_dedup is not a workload of its own: a run of it costs as
    much as a pipeline_cli run, and a comparison of two commits has time
    for the runs of two workloads."""
    from gen import make_documents, measured_shares, write_inputs
    from texoo_spark import curate, dedup
    spark, T = b.spark, b.T
    docs = make_documents("curate_dedup", b.seed)
    n_turns = len(docs)
    inp, out = b.tmp("curate_input"), b.tmp("curate_out")
    write_inputs(spark, docs, inp, True, 2 * b.cores)
    shares = measured_shares(docs)
    print("curate input " + json.dumps({"turns": n_turns, **shares}))
    b.layer.update({f"transcripts.{k}": shares[k] for k in
                    ("exact_dup_share", "near_dup_share", "short_share")})
    ext = T.arrow_extract.extract_turns_arrow(
        _sorted_input(b, inp)).persist()
    try:
        n_in = ext.count()
        q = T.curate.quality_filter(ext)
        q_s, n_q = _timed(b, "curate.quality", q.count)
        e = T.curate.drop_exact_dupes(q)
        e_s, n_e = _timed(b, "curate.exact", e.count)
        n_s, n_n = _timed(b, "curate.near",
                          lambda: T.curate.drop_near_dupes(e).count())
        keyed = e.withColumn("_k", F.concat_ws(
            "#", "conv_id",
            F.lpad(F.col("turn_idx").cast("string"), 12, "0")))
        texts = {r._k: r.extracted_text
                 for r in keyed.select("_k", "extracted_text").collect()}
        pairs = T.dedup.minhash_lsh_candidates(
            keyed, id_col="_k", text_col="extracted_text").collect()
    finally:
        ext.unpersist()
        dedup.release_dedup_caches()
        curate.release_curate_caches()
    hits = sum(dedup.jaccard(texts[p.id_a], texts[p.id_b]) >= NEAR_JACCARD
               for p in pairs)
    # the whole funnel, after the stage counts above compiled its plans
    run_s, funnel = _timed(b, "job.curate_dedup",
                           lambda: T.curate.run(spark, inp, out))
    T.dedup.release_dedup_caches()
    b.layer.update({
        # stage times are each count minus the count of the stage before
        # it, all over the persisted extraction
        "curate.quality_s": q_s,
        "curate.quality_pass_ratio": n_q / n_in,
        "curate.exact_s": e_s - q_s,
        "curate.exact_kept_ratio": n_e / n_q,
        "curate.near_s": n_s - e_s,
        "curate.near_kept_ratio": n_n / n_e,
        "curate.turns_per_s": n_turns / run_s,
        "dedup.candidate_pairs": float(len(pairs)),
        "dedup.candidate_precision": hits / len(pairs) if pairs else 0.0,
    })
    b.check("curate_funnel_input_equal_in", funnel["input"] == n_turns,
            f"{funnel['input']} vs {n_turns}")
    recount = exact_dedup_recount(
        [r.text for r in spark.read.parquet(inp).select("text").collect()])
    b.check("curate_exact_dedup_equals_pandas_recount",
            funnel["after_exact_dedup"] == recount,
            f"{funnel['after_exact_dedup']} vs pandas {recount}")
    ok, compared = equality(spark, os.path.join(out, "curated"),
                            input_sample(spark, inp, n_turns), n_turns)
    b.check("curate_text_equality", compared > 0 and ok == compared,
            f"{ok}/{compared} sampled curated turns equal the reference")


def passes_quality(text: str, min_words: int = 5,
                   max_digit_ratio: float = 0.3) -> bool:
    """curate.quality_filter's default gates, on one string."""
    digits = sum(c in "0123456789" for c in text)
    return (len(text.split(" ")) >= min_words
            and digits / max(len(text), 1) <= max_digit_ratio)


def exact_dedup_recount(raw_texts: list[str]) -> int:
    """Survivors of quality filter + exact dedup, recounted with pandas on
    the reference lane's extracted text."""
    texts = pd.Series([reference(t)[0] for t in raw_texts])
    return int(texts[texts.map(passes_quality)].drop_duplicates().size)


WORKLOADS = {w.name: w for w in (ExtractBulk(), PipelineCli())}
