"""Sequence-tagger inference harness (A2 shape).

The reference's MentionAnnotator runs a DL4j BLSTM over per-token feature
tensors and decodes BIO2/BIOES tags into mention spans
(texoo-entity-recognition/.../ner/MentionAnnotator.java:55-66,
tagger/MentionTagger.java). This module implements the Spark-side
inference harness with the same dataflow:

  per-token features (deterministic encoders) -> broadcast weight matrix ->
  batched numpy forward pass -> per-token tag + confidence ->
  decode_bio2 span grouping (A4)

The model here is a linear (logistic) layer — the point is the distributed
plumbing: weights broadcast once per executor, matmul per Arrow batch, no
per-row Python. A trained BLSTM/transformer slots in by replacing
`forward` (e.g. onnxruntime session.run), nothing else changes.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, functions as F
from pyspark.sql.types import (ArrayType, DoubleType, IntegerType,
                               StringType, StructField, StructType)

from texoo_spark.encoders import surface_features, SURFACE_SIZE
from texoo_spark.pipeline import with_tok_text
from texoo_spark.spans import decode_bio2

TAGS = ["O", "B", "I"]

TAGGED_SCHEMA = StructType([
    StructField("m_begin", ArrayType(IntegerType())),
    StructField("m_end", ArrayType(IntegerType())),
    StructField("m_confidence", ArrayType(DoubleType())),
    StructField("m_label", ArrayType(StringType())),
])


class LinearTagger:
    """Logistic token tagger; weights and featurizer pluggable.

    The default featurizer is the 11-flag SurfaceEncoder; the trained CoNLL
    lane (train_conll_tagger) adds a letter-trigram vocabulary block
    (SurfaceEncoder + LetterNGramEncoder, the reference MentionTagger's
    deterministic feature subset — MentionTagger.java builds surface +
    embedding tensors; we use surface + trigram one-hots, its
    network-free analogue)."""

    def __init__(self, weights: np.ndarray, bias: np.ndarray,
                 label: str = "GENERIC", featurizer=None):
        assert weights.shape[1] == len(TAGS)
        self.weights = weights.astype(np.float64)
        self.bias = bias.astype(np.float64)
        self.label = label
        self.featurizer = featurizer

    def featurize(self, tokens: list[str]) -> np.ndarray:
        if self.featurizer is not None:
            return self.featurizer(tokens)
        return np.vstack([surface_features(t) for t in tokens]
                         ).astype(np.float64)

    def _sparse_probs(self, idx_list: list[np.ndarray]) -> np.ndarray:
        """Softmax probs from active-feature index lists. The features are
        0/1 flags, so logits are sums of weight ROWS: gather + segment-sum
        instead of materializing a dense [T x F] matrix (at F ~ thousands
        of trigrams the dense path is >50x wasted FLOPs — and wasted
        executor memory bandwidth at scale). A dummy all-zero weight row
        appended per token keeps np.add.reduceat correct for tokens with
        zero active features."""
        w_aug = getattr(self, "_w_aug", None)
        if w_aug is None:
            w_aug = self._w_aug = np.vstack(
                [self.weights, np.zeros((1, len(TAGS)))])
        dummy = self.weights.shape[0]
        flat = np.concatenate(
            [np.append(a, dummy) for a in idx_list]).astype(np.int64)
        lens = np.fromiter((len(a) + 1 for a in idx_list), np.int64,
                           count=len(idx_list))
        starts = np.zeros(len(idx_list), dtype=np.int64)
        np.cumsum(lens[:-1], out=starts[1:])
        logits = np.add.reduceat(w_aug[flat], starts, axis=0) + self.bias
        logits -= logits.max(axis=1, keepdims=True)
        e = np.exp(logits)
        return e / e.sum(axis=1, keepdims=True)

    @classmethod
    def capitalized_mention_baseline(cls) -> "LinearTagger":
        """A deterministic weight set tagging capitalized words as mentions
        (B for the first, I for continuations is handled by decode's
        B-run merging being off — adjacent B's stay separate mentions, so
        the baseline emits B for every capitalized token and relies on
        decode_bio2's B,B -> two spans; a trained model replaces this)."""
        w = np.zeros((SURFACE_SIZE, len(TAGS)), dtype=np.float32)
        # feature 0 = startsWithUppercase; feature 3 = allLower
        w[0, 1] = 4.0   # startsUpper -> B
        w[3, 0] = 4.0   # allLower -> O
        w[10, 0] = 4.0  # endsPunct -> O
        b = np.array([1.0, 0.0, -2.0], dtype=np.float32)
        return cls(w, b)

    def forward(self, feats: np.ndarray) -> np.ndarray:
        """[T x F] -> [T x |TAGS|] softmax probabilities."""
        logits = feats @ self.weights + self.bias
        logits -= logits.max(axis=1, keepdims=True)
        e = np.exp(logits)
        return e / e.sum(axis=1, keepdims=True)

    def tag_tokens(self, tokens: list[str],
                   sent_bounds: list[int]) -> list[tuple[int, int, str, float]]:
        """Token texts -> mention spans (tok_start, tok_end, label, conf)."""
        if not tokens:
            return []
        indices = getattr(self.featurizer, "indices", None)
        if indices is not None:
            probs = self._sparse_probs(indices(tokens))
        else:
            probs = self.forward(self.featurize(tokens))
        best = probs.argmax(axis=1)
        tags = [TAGS[i] for i in best]
        confs = [float(probs[i, j]) for i, j in enumerate(best)]
        return decode_bio2(tags, None, confs, sent_bounds,
                           default_type=self.label)


# ---------------------------------------------------------------------------
# Trained model lane (A2): deterministic softmax training on the reference
# CoNLL fixture (texoo-entity-recognition/src/test/resources/datasets/
# CoNLL2003.conll, the corpus MentionAnnotatorTest trains against).
# Zero init + full-batch gradient descent + float64 => bit-identical weights
# on every machine; no RNG anywhere.
# ---------------------------------------------------------------------------

# Bundled byte-identical copy of the reference's CoNLL2003 test fixture
# (texoo-entity-recognition/src/test/resources/datasets/CoNLL2003.conll,
# public Apache-2.0 test data) — no runtime dependency on the reference
# checkout, works from texoo_spark.zip. Resolved LAZILY so importing
# this module never does resource I/O (and cannot raise) on hosts whose
# zip lacks the fixture.


def conll_fixture_path() -> str:
    from texoo_spark.maxent import resource_path
    return resource_path("CoNLL2003.conll")


def conll_fixture_examples(path: str | None = None):
    """[(tokens, bio2_tags, sent_bounds)] per fixture document."""
    from texoo_spark.readers import read_conll
    path = path or conll_fixture_path()
    with open(path, encoding="utf-8") as f:
        docs = read_conll(f.readlines())
    out = []
    for d in docs:
        doc = d["doc"]
        toks = [t.text for t in doc.tokens]
        bounds = [s.tok_end for s in doc.sentences]
        out.append((toks, d["bio2"], bounds))
    return out


def make_surface_trigram_featurizer(ngram_encoder,
                                    max_cache_entries: int = 1 << 20):
    """Featurizer: [surface(11) | trigram one-hot(|vocab|)] per token.

    Per distinct token string we cache only the ACTIVE FEATURE INDICES
    (both blocks are 0/1 flags), not the dense row — a few ints per token
    instead of an 11+|vocab|-wide float64 vector, so a long-lived executor
    streaming a high-cardinality corpus holds megabytes, not gigabytes.
    The cache is additionally bounded: at max_cache_entries it resets
    (token distributions are Zipfian — hot tokens repopulate immediately,
    and a reset is cheaper and simpler than LRU bookkeeping on executors)."""
    n_features = SURFACE_SIZE + ngram_encoder.size
    cache: dict[str, np.ndarray] = {}

    def indices(tokens: list[str]) -> list[np.ndarray]:
        out = []
        for t in tokens:
            idx = cache.get(t)
            if idx is None:
                if len(cache) >= max_cache_entries:
                    cache.clear()
                surf = np.flatnonzero(surface_features(t))
                tri = np.flatnonzero(ngram_encoder.encode(t)) + SURFACE_SIZE
                idx = np.concatenate([surf, tri])
                cache[t] = idx
            out.append(idx)
        return out

    def featurize(tokens: list[str]) -> np.ndarray:
        out = np.zeros((len(tokens), n_features), dtype=np.float64)
        for i, idx in enumerate(indices(tokens)):
            out[i, idx] = 1.0
        return out

    featurize.indices = indices
    return featurize


def train_linear_tagger(examples, featurizer, n_features: int,
                        epochs: int = 200, lr: float = 0.5,
                        l2: float = 1e-4) -> tuple[np.ndarray, np.ndarray]:
    """Deterministic multinomial-logistic training (full-batch GD,
    softmax cross-entropy, zero init, float64)."""
    xs, ys = [], []
    for toks, tags, _bounds in examples:
        if not toks:
            continue
        xs.append(featurizer(toks))
        ys.extend(TAGS.index((t or "O")[0].upper()) for t in tags)
    x = np.vstack(xs)
    y = np.asarray(ys)
    n = len(y)
    yh = np.zeros((n, len(TAGS)))
    yh[np.arange(n), y] = 1.0
    w = np.zeros((n_features, len(TAGS)))
    b = np.zeros(len(TAGS))
    for _ in range(epochs):
        logits = x @ w + b
        logits -= logits.max(axis=1, keepdims=True)
        e = np.exp(logits)
        p = e / e.sum(axis=1, keepdims=True)
        g = (p - yh) / n
        w -= lr * (x.T @ g + l2 * w)
        b -= lr * g.sum(axis=0)
    return w, b


_TRAINED_CACHE: dict[str, tuple] = {}


def train_conll_tagger(path: str | None = None,
                       epochs: int = 200, lr: float = 0.5,
                       force_retrain: bool = False):
    """LinearTagger trained on the reference CoNLL fixture, plus its
    trigram encoder (cached per process; training is deterministic, so
    every executor/driver reproduces identical weights).

    With default arguments the exact float64 training result ships in
    resources/tagger_conll.npz and is loaded instead of trained, so
    driver-timed query paths pay ~ms, not the ~0.7 s fixture training
    (round-3 bench spike); training stays the reproducibility path —
    tests retrain with force_retrain=True and assert bit-equality."""
    from texoo_spark.encoders import LetterNGramEncoder
    from texoo_spark.maxent import bundled_path
    key = f"{path}:{epochs}:{lr}:{force_retrain}"
    if key in _TRAINED_CACHE:
        return _TRAINED_CACHE[key]
    bundled = (bundled_path("tagger_conll.npz")
               if not force_retrain and path is None
               and (epochs, lr) == (200, 0.5) else None)
    if bundled:
        data = np.load(bundled, allow_pickle=False)
        enc = LetterNGramEncoder(n=3)
        enc.vocab = {g: i for i, g in enumerate(data["vocab"].tolist())}
        featurizer = make_surface_trigram_featurizer(enc)
        tagger = LinearTagger(data["w"], data["b"], label="MENTION",
                              featurizer=featurizer)
    else:
        examples = conll_fixture_examples(path)
        enc = LetterNGramEncoder(n=3).train(
            [t for toks, _, _ in examples for t in toks])
        featurizer = make_surface_trigram_featurizer(enc)
        w, b = train_linear_tagger(examples, featurizer,
                                   SURFACE_SIZE + enc.size, epochs, lr)
        tagger = LinearTagger(w, b, label="MENTION", featurizer=featurizer)
    _TRAINED_CACHE[key] = (tagger, enc)
    return _TRAINED_CACHE[key]


def make_tagger_udf(tagger: LinearTagger):
    """mapInPandas-style pandas UDF: (tok_text, sent_tok_end) -> mention
    arrays. The tagger (weights) is captured once per executor process."""
    from pyspark.sql.functions import pandas_udf

    @pandas_udf(TAGGED_SCHEMA)
    def tagger_udf(tok_text: pd.Series, sent_tok_end: pd.Series,
                   tok_begin: pd.Series, tok_end: pd.Series) -> pd.DataFrame:
        rows = {"m_begin": [], "m_end": [], "m_confidence": [], "m_label": []}
        for toks, bounds, tbs, tes in zip(tok_text, sent_tok_end,
                                          tok_begin, tok_end):
            toks = list(toks) if toks is not None else []
            bounds = (list(bounds) if bounds is not None and len(bounds)
                      else [len(toks)])
            spans = tagger.tag_tokens(toks, bounds)
            rows["m_begin"].append([int(tbs[s]) for s, _, _, _ in spans])
            rows["m_end"].append([int(tes[e - 1]) for _, e, _, _ in spans])
            rows["m_confidence"].append([c for _, _, _, c in spans])
            rows["m_label"].append([lb for _, _, lb, _ in spans])
        return pd.DataFrame(rows)

    return tagger_udf


def tag_mentions(extracted: DataFrame,
                 tagger: LinearTagger | None = None) -> DataFrame:
    """Extraction output -> + token surfaces and mention span arrays
    (PRED source)."""
    tagger = tagger or LinearTagger.capitalized_mention_baseline()
    udf = make_tagger_udf(tagger)
    return (with_tok_text(extracted)
            .withColumn("m", udf(F.col("tok_text"), F.col("sent_tok_end"),
                                 F.col("tok_begin"), F.col("tok_end")))
            .select("*", "m.*").drop("m"))
