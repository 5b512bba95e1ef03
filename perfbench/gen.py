"""Seeded input generator for the benchmark workloads.

Builds a (doc_id, text) documents table in the shape of the test-data
documents.parquet, then expands it through
texoo_spark.transcripts.transcripts_from_documents (and, for the clustered
layout, pipeline.with_part_id). That function picks a turn's variant from
doc_id % 4 (plain / two sentences / newline header / HTML page) and puts
doc_id % 7 == 0 into the skewed "conv-skew" conversation, so choosing each
doc_id's residue mod 28 sets both properties per turn. The seed drives every
choice; the same seed gives the same table.

The mix of each workload is a share per property: HTML, newline,
two-sentence, exact duplicate, near duplicate (one word replaced in a long
text), short (fewer words than curate's quality filter keeps) and skew.
measured_shares() reports what a generated table really holds.
"""

from __future__ import annotations

import random

import pandas as pd

WORDS = (
    "the a of and to in is on for with as by at it that this be are was "
    "data table spark query join filter scan sort hash group window row "
    "column value key stream batch merge vector customer order line part "
    "fast slow big small agg index cache shard node cluster worker task "
    "stage plan shuffle partition file block page text token sentence "
    "model train test score rank search engine user request reply "
    "answer question report summary detail example result error retry "
    "memory disk network latency throughput budget limit quota region "
    "country city market price volume growth risk policy review change "
    "release version feature issue ticket owner team meeting schedule "
    "morning evening weekend project status update draft final note").split()

PLAIN, TWO_SENT, NEWLINE, HTML = 0, 1, 2, 3       # variant = doc_id % 4
ORIGINAL, EXACT, NEAR, SHORT = 0, 1, 2, 3        # kind of payload

# Share of turns per property; the rest of the turns are plain text.
#
# Variant and skew shares are transcripts_from_documents' own mix: it
# picks the variant from doc_id % 4, a quarter each of plain, two-sentence,
# newline-header and HTML turns, and puts every 7th document
# (skew_conv_every=7) into "conv-skew". pipeline_cli has no HTML turns, so
# its other three variants take a third each.
#
# The duplicate and short-turn shares have no measured or published source
# for chat transcripts that this benchmark could cite. They are set equal,
# a tenth each, so each of curate's three filters (quality, exact dedup,
# near dedup) removes a share that stands well above the seed-to-seed
# noise of a 6k-turn input (about 0.4 points) while most turns reach the
# write. Short means fewer words than curate's quality filter keeps (5).
PROGRAM_VARIANT = 1 / 4
PROGRAM_SKEW = 1 / 7
DUP_SHARE = 0.10
MIXES = {
    "extract_bulk": dict(n_turns=24000, html=PROGRAM_VARIANT,
                         newline=PROGRAM_VARIANT, two_sent=PROGRAM_VARIANT,
                         exact=0.0, near=0.0, short=0.0, skew=PROGRAM_SKEW),
    "pipeline_cli": dict(n_turns=16000, html=0.0, newline=1 / 3,
                         two_sent=1 / 3, exact=0.0, near=0.0, short=0.0,
                         skew=PROGRAM_SKEW),
    "curate_dedup": dict(n_turns=6000, html=PROGRAM_VARIANT,
                         newline=PROGRAM_VARIANT, two_sent=PROGRAM_VARIANT,
                         exact=DUP_SHARE, near=DUP_SHARE, short=DUP_SHARE,
                         skew=PROGRAM_SKEW),
}

_RESIDUES = 28          # lcm of the variant (4) and skew (7) moduli
_MAX_DOC_ID = 100_000   # transcripts keep turn_idx = doc_id % 100000 unique


def _sentence(rng: random.Random) -> str:
    n = rng.randint(6, 16)
    words = rng.choices(WORDS, k=n)
    if rng.random() < 0.3:
        words[rng.randrange(1, n)] += ","
    if rng.random() < 0.1:
        words.insert(rng.randrange(1, n), str(rng.randint(2, 998)))
    if rng.random() < 0.1:
        words.insert(rng.randrange(1, n), "e.g.")
    words[0] = words[0].capitalize()
    end = rng.random()
    return " ".join(words) + ("." if end < 0.8 else "?" if end < 0.95 else "!")


def _payload(rng: random.Random, min_words: int = 0) -> str:
    while True:
        text = " ".join(_sentence(rng) for _ in range(rng.randint(1, 4)))
        if text.count(" ") + 1 >= min_words:
            return text


def _mutate(rng: random.Random, text: str) -> str:
    words = text.split(" ")
    i = rng.randrange(1, len(words) - 1)
    repl = rng.choice(WORDS)
    words[i] = repl if repl != words[i] else repl + "s"
    return " ".join(words)


def make_documents(workload: str, seed: int) -> pd.DataFrame:
    """Documents table (doc_id, text) plus the generator's own labels
    (variant, skew, kind) for the workload's mix, from the seed."""
    mix = MIXES[workload]
    rng = random.Random(f"{workload}/{seed}")
    n = mix["n_turns"]
    p_plain = 1.0 - mix["html"] - mix["newline"] - mix["two_sent"]
    variants = rng.choices(range(4), (p_plain, mix["two_sent"],
                                      mix["newline"], mix["html"]), k=n)
    skew = [rng.random() < mix["skew"] for _ in range(n)]
    kinds = rng.choices(range(4), (1 - mix["exact"] - mix["near"]
                                   - mix["short"], mix["exact"],
                                   mix["near"], mix["short"]), k=n)
    texts: list[str] = []
    originals: list[int] = []         # row numbers of original long texts
    for i in range(n):
        kind = kinds[i]
        if kind in (EXACT, NEAR) and originals:
            src = rng.choice(originals)
            variants[i] = variants[src]
            texts.append(texts[src] if kind == EXACT
                         else _mutate(rng, texts[src]))
        elif kind == SHORT:
            variants[i] = PLAIN
            texts.append(" ".join(rng.choices(WORDS, k=rng.randint(1, 3))))
        else:
            kinds[i] = ORIGINAL
            texts.append(_payload(rng, min_words=20))
            originals.append(i)
    # a doc_id whose residue mod 28 encodes (variant, skew), unique per row
    cls = {(v, s): [r for r in range(_RESIDUES)
                    if r % 4 == v and (r % 7 == 0) == s]
           for v in range(4) for s in (False, True)}
    used = [0] * _RESIDUES
    doc_ids = []
    for v, s in zip(variants, skew):
        r = min(cls[(v, s)], key=used.__getitem__)
        doc_ids.append(used[r] * _RESIDUES + r)
        used[r] += 1
    if max(doc_ids) >= _MAX_DOC_ID:
        raise ValueError(f"{workload}: too many turns for unique turn_idx")
    return pd.DataFrame({"doc_id": doc_ids, "text": texts,
                         "variant": variants, "skew": skew, "kind": kinds})


def measured_shares(docs: pd.DataFrame) -> dict[str, float]:
    """Shares of the generated table, measured on its rows."""
    n = len(docs)
    n_words = docs["text"].str.count(" ") + 1
    distinct = len(docs.drop_duplicates(["variant", "text"]))
    return {
        "html_share": float((docs["variant"] == HTML).mean()),
        "newline_share": float((docs["variant"] == NEWLINE).mean()),
        "exact_dup_share": (n - distinct) / n,
        "near_dup_share": float((docs["kind"] == NEAR).mean()),
        "short_share": float((n_words < 5).mean()),
        "skew_share": float(docs["skew"].mean()),
    }


def write_inputs(spark, docs: pd.DataFrame, path: str, clustered: bool,
                 n_files: int) -> None:
    """Write the documents as ``<path>.documents.parquet``, expand them into
    a transcript table and write that to ``path``: clustered by
    pipeline.with_part_id (the layout extract_bulk and curate.run read)
    or raw and unclustered (what pipeline_cli reads)."""
    from texoo_spark.pipeline import with_part_id
    from texoo_spark.transcripts import transcripts_from_documents
    docs_path = path + ".documents.parquet"
    docs[["doc_id", "text"]].to_parquet(docs_path, index=False)
    turns = transcripts_from_documents(spark.read.parquet(docs_path))
    if clustered:
        turns = (with_part_id(turns, n_buckets=64, salt_buckets=32)
                 .repartition(n_files, "part_id"))
    else:
        turns = turns.repartition(n_files)
    turns.write.mode("overwrite").parquet(path)
