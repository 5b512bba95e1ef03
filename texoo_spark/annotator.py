"""Pipeline facade: composable DataFrame -> DataFrame annotator stages.

Spark equivalent of the reference's Annotator/AnnotatorFactory component
registry (texoo-core/.../annotator/Annotator.java:66-107,
AnnotatorFactory.java): an Annotator is a named stage with provenance; a
Pipeline composes stages and records lineage (stage names + code version)
for the manifest rows (Provenance.java equivalent).
"""

from __future__ import annotations

from collections.abc import Callable
from dataclasses import dataclass, field

from pyspark.sql import DataFrame

from texoo_spark.pipeline import CODE_VERSION


@dataclass
class Annotator:
    """A named DataFrame transformation stage. type_name identifies the
    registered builder that can reconstruct the stage from params
    (AnnotatorFactory.fromXML equivalent); empty for ad-hoc stages, which
    then cannot be serialized."""
    name: str
    fn: Callable[[DataFrame], DataFrame]
    params: dict = field(default_factory=dict)
    type_name: str = ""

    def annotate(self, df: DataFrame) -> DataFrame:
        return self.fn(df)


@dataclass
class Pipeline:
    """Ordered composition of annotators with provenance."""
    stages: list[Annotator] = field(default_factory=list)

    def add(self, name: str, fn: Callable[[DataFrame], DataFrame],
            **params) -> "Pipeline":
        self.stages.append(Annotator(name, fn, params))
        return self

    def run(self, df: DataFrame) -> DataFrame:
        for stage in self.stages:
            df = stage.annotate(df)
        return df

    def provenance(self) -> dict:
        """Lineage for manifest rows. Large list params (e.g. a 100k-term
        gazetteer, carried in params for bundle serialization) are
        summarized to their length — manifests record WHAT ran, the bundle
        descriptor (save_pipeline) records the full data."""
        def summarize(v):
            if isinstance(v, list) and len(v) > 20:
                return {"n_items": len(v)}
            return v

        return {
            "code_version": CODE_VERSION,
            "stages": [{"name": s.name,
                        "params": {k: summarize(v)
                                   for k, v in s.params.items()}}
                       for s in self.stages],
        }


# ---------------------------------------------------------------------------
# Model-bundle save/load (Annotator.writeModel/readModel +
# AnnotatorFactory, texoo-core/.../annotator/Annotator.java:121-133,
# AnnotatorFactory.java): a pipeline serializes to a JSON descriptor of
# (type, params) stages; loading rebuilds each stage through the builder
# registry, so the restored pipeline produces identical output. Builders
# must be registered (deterministic reconstruction — trained components
# either carry their parameters in params or retrain deterministically).
# ---------------------------------------------------------------------------

ANNOTATOR_REGISTRY: dict[str, Callable[..., "Annotator"]] = {}

# caches created by stages whose plan consumes an input twice (linker);
# release with release_annotator_caches() between batches in a
# long-running service — the same tracked-persist pattern as dedup.py
_PERSISTED: list = []


def _persist_tracked(df: DataFrame) -> DataFrame:
    df = df.persist()
    _PERSISTED.append(df)
    return df


def release_annotator_caches() -> int:
    """Unpersist every cache created by annotator stages in this
    process (call after the stage outputs have been consumed). Returns
    the number released."""
    n = len(_PERSISTED)
    for df in _PERSISTED:
        df.unpersist()
    _PERSISTED.clear()
    return n


def register_annotator(type_name: str):
    def deco(builder: Callable[..., "Annotator"]):
        ANNOTATOR_REGISTRY[type_name] = builder
        return builder
    return deco


def save_pipeline(pipeline: "Pipeline", path: str) -> None:
    """Write the pipeline descriptor JSON (the bundle's annotator.xml
    equivalent). Raises on unregistered ad-hoc stages."""
    import json
    for s in pipeline.stages:
        if not s.type_name:
            raise ValueError(f"stage '{s.name}' has no registered type; "
                             "cannot serialize")
    doc = {"code_version": CODE_VERSION,
           "stages": [{"type": s.type_name, "name": s.name,
                       "params": s.params} for s in pipeline.stages]}
    with open(path, "w", encoding="utf-8") as f:
        json.dump(doc, f, indent=2, sort_keys=True)


def load_pipeline(path: str) -> "Pipeline":
    """Rebuild a pipeline from its descriptor via the builder registry."""
    import json
    with open(path, encoding="utf-8") as f:
        doc = json.load(f)
    p = Pipeline()
    for st in doc["stages"]:
        builder = ANNOTATOR_REGISTRY.get(st["type"])
        if builder is None:
            raise KeyError(f"no registered annotator type '{st['type']}'")
        p.stages.append(builder(**st["params"]))
    return p


@register_annotator("extract")
def extract_annotator(newlines: str = "DISCARD",
                      strip_html: bool = True) -> Annotator:
    """T1 stage: the extraction lane. It stores no token surfaces; the
    stages that read them (tagger) derive them with
    pipeline.with_tok_text."""
    from texoo_spark.pipeline import extract_turns
    return Annotator(
        "extract",
        lambda df: extract_turns(df, newlines=newlines,
                                 strip_html_first=strip_html),
        {"newlines": newlines, "strip_html": strip_html}, "extract")


@register_annotator("tagger")
def tagger_annotator(trained: bool = False,
                     weights: list | None = None,
                     bias: list | None = None,
                     trigram_vocab: list | None = None,
                     label: str = "MENTION") -> Annotator:
    """A2 stage: mention tagging with the baseline or a trained model.

    A trained stage carries its LEARNED PARAMETERS (weights, bias, trigram
    vocab) in params, so the serialized bundle is self-contained — loading
    it on a host without the training fixture reproduces identical output
    (Annotator.writeModel semantics: the bundle IS the model). Passing
    trained=True without explicit weights trains on the reference CoNLL
    fixture once and embeds the result."""
    import numpy as np
    from texoo_spark.encoders import LetterNGramEncoder
    from texoo_spark.tagger import (LinearTagger, tag_mentions,
                                    make_surface_trigram_featurizer,
                                    train_conll_tagger)

    if trained and weights is None:
        tg, enc = train_conll_tagger()
        weights = [[float(x) for x in row] for row in tg.weights]
        bias = [float(x) for x in tg.bias]
        trigram_vocab = sorted(enc.vocab, key=enc.vocab.get)
        label = tg.label

    def fn(df: DataFrame) -> DataFrame:
        if weights is None:
            tagger = LinearTagger.capitalized_mention_baseline()
        else:
            enc = LetterNGramEncoder(n=3)
            enc.vocab = {g: i for i, g in enumerate(trigram_vocab or [])}
            tagger = LinearTagger(
                np.asarray(weights, dtype=np.float64),
                np.asarray(bias, dtype=np.float64), label=label,
                featurizer=make_surface_trigram_featurizer(enc)
                if trigram_vocab else None)
        return tag_mentions(df, tagger)

    params = {"trained": trained}
    if weights is not None:
        params.update(weights=weights, bias=bias,
                      trigram_vocab=trigram_vocab, label=label)
    return Annotator("tagger", fn, params, "tagger")


def extraction_pipeline(newlines: str = "DISCARD",
                        strip_html: bool = True) -> Pipeline:
    """The standard transcript extraction pipeline (Annotator.annotate
    equivalent for the hot path, SURVEY.md §3.1)."""
    p = Pipeline()
    p.stages.append(extract_annotator(newlines, strip_html))
    return p


def route_by_language(df: DataFrame,
                      annotators: dict[str, Annotator],
                      default_lang: str = "en",
                      lang_col: str = "lang") -> DataFrame:
    """A3 (GenericMentionAnnotator.java:64-78): dispatch rows to a
    per-language annotator and union the results. Missing languages fall
    back to the default annotator."""
    from pyspark.sql import functions as F
    default = annotators[default_lang]
    known = list(annotators)
    parts = [ann.annotate(df.filter(F.col(lang_col) == lang))
             for lang, ann in annotators.items()]
    parts.append(default.annotate(df.filter(~F.col(lang_col).isin(known)
                                            | F.col(lang_col).isNull())))
    out = parts[0]
    for p in parts[1:]:
        out = out.unionByName(p)
    return out


@register_annotator("gazetteer")
def gazetteer_annotator(terms: list[str],
                        case_strategy: str = "CASE_SENSITIVE",
                        label: str = "GENERIC") -> Annotator:
    """MatchingAnnotator-equivalent stage: adds m_begin/m_end/m_label
    arrays of SILVER mention spans. The full term list rides in params so
    the stage round-trips through save_pipeline/load_pipeline (the
    MatchingAnnotator bundle stores its word list the same way)."""
    from pyspark.sql import functions as F
    from texoo_spark.udfs import make_gazetteer_udf
    gaz = make_gazetteer_udf(terms, case_strategy)

    def fn(df: DataFrame) -> DataFrame:
        return (df.withColumn("m", gaz(F.col("extracted_text"),
                                       F.col("tok_begin"),
                                       F.col("tok_end")))
                .select("*", "m.*").drop("m"))

    return Annotator("gazetteer", fn,
                     {"terms": list(terms), "case_strategy": case_strategy,
                      "label": label}, "gazetteer")


@register_annotator("linker")
def linker_annotator(aliases: list, top_k: int = 1) -> Annotator:
    """A13 NamedEntityAnnotator stage, composable after the gazetteer
    stage: each (m_begin, m_end) mention's surface is resolved through
    the REAL link_mentions operator (normalized-alias broadcast join,
    top-k by prior with the entity-id tie-break) and the doc grain is
    restored with two summary columns — n_linked (mentions that resolved
    to an entity) and first_entity (the entity of the earliest linked
    mention). The alias table rides in params as [alias, entity_id,
    prior] rows, so the serialized bundle is self-contained
    (NamedEntityAnnotator's knowledge base travels with the model,
    Annotator.writeModel semantics)."""
    from pyspark.sql import functions as F

    def fn(df: DataFrame) -> DataFrame:
        from texoo_spark.linking import link_mentions
        spark = df.sparkSession
        adf = spark.createDataFrame(
            [(str(a), str(e), float(p)) for a, e, p in aliases],
            "alias string, entity_id string, prior double")
        # the input is consumed TWICE (mention explode + join-back of the
        # per-doc aggregate); persist so upstream stages — typically the
        # extraction lane and the gazetteer UDF — run once, not once per
        # consumer (tracked: release with release_annotator_caches())
        df = _persist_tracked(df)
        # conv_id carries doc_id in its ORIGINAL type — a string/long
        # round-trip would silently NULL non-numeric ids and report
        # n_linked=0 instead of erroring
        mentions = (df.select(
            F.col("doc_id").alias("conv_id"),
            F.lit(0).alias("turn_idx"),
            "extracted_text",
            "tok_begin",
            F.explode(F.arrays_zip(F.col("m_begin").alias("begin"),
                                   F.col("m_end").alias("end"))).alias("m"))
            .select("conv_id", "turn_idx",
                    F.col("m.begin").alias("begin"),
                    F.col("m.end").alias("end"),
                    # mention offsets are raw-text coordinates and
                    # extracted_text starts at tok_begin[0] (schema.py)
                    F.expr("substring(extracted_text,"
                           " m.begin - tok_begin[0] + 1,"
                           " m.end - m.begin)").alias("surface")))
        linked = (link_mentions(mentions, adf, top_k=top_k)
                  .filter(F.col("cand_rank") == 1)
                  .filter(F.col("entity_id").isNotNull()))
        agg = (linked.groupBy("conv_id")
               .agg(F.count("*").alias("_n_linked"),
                    F.min(F.struct("begin", "entity_id"))
                    .getField("entity_id").alias("first_entity"))
               .select(F.col("conv_id").alias("doc_id"),
                       "_n_linked", "first_entity"))
        # the linked aggregate is bounded by the mention count of the
        # (filtered) input — broadcast it so the doc side never shuffles
        return (df.join(F.broadcast(agg), "doc_id", "left")
                .withColumn("n_linked",
                            F.coalesce(F.col("_n_linked"), F.lit(0)))
                .drop("_n_linked"))

    return Annotator("linker", fn,
                     {"aliases": [list(a) for a in aliases],
                      "top_k": top_k}, "linker")
