"""Reference-exact MentionAnnotator network (A2): feature space + numpy
Graves-BiLSTM forward/backprop, architecture driven by the reference's
bundled model config.

The reference ships the CONFIG and FEATURE SPACE of its English NER model
(texoo-entity-recognition/src/main/resources/models/
MentionAnnotator_en_NER-GENERIC_WikiNER+tri_20170309/annotator.xml +
trigram.tsv.gz) but NOT the weights (blstm.bin.gz is absent from the
repo), so exact answer parity is impossible hermetically. This module
makes everything that IS specified reference-exact:

- encoder stack POS(4) | SUR(11) | TRI(24,665) -> nin 24,680
  (annotator.xml <encoders> order; PositionEncoder.java:72-84 flags
  [beginDoc, beginSent, endSent, endDoc]; SurfaceEncoder 11 flags;
  LetterNGramEncoder.java:86-106 '#'+keepOnlyPrintableChars(token)+'#'
  trigram windows, binary hits against the SHIPPED trigram.tsv.gz vocab)
- network Dense(300, ReLU) -> Dense(300, ReLU) ->
  GravesBidirectionalLSTM(100, tanh/sigmoid gates, peepholes, forget
  bias 1, directions combined by ADD) -> RnnOutput(5, softmax, MCXENT)
  over the BIOES tagset in the reference's label order S,B,I,E,O
  (BIOESTag.java:28-30); per-tag confidence = p(O) for O else 1 - p(O)
  (BIOESTag.java:62-64)
- training per the config: RMSProp(lr .032, decay .95, eps 1e-8),
  l2 1e-4 on weight matrices only, seeded init (RELU-scaled normal for
  dense, Xavier for LSTM/output) from the config's own seed -> training
  is bit-deterministic

Trained (deterministically) on the reference's CoNLL2003 test fixture —
the honest ceiling without the weights file; train-set span F1 is pinned
at 1.0 by tests/test_bilstm.py.
"""

from __future__ import annotations

import gzip
import json
import math
import os
import re
import unicodedata

import numpy as np
import pandas as pd  # noqa: F401 — resolves pandas_udf type hints

from texoo_spark.encoders import SURFACE_SIZE, surface_features
from texoo_spark.spans import bio2_to_bioes, bioes_to_bio2, decode_bio2

MODEL_DIR = ("/root/reference/texoo-entity-recognition/src/main/resources/"
             "models/MentionAnnotator_en_NER-GENERIC_WikiNER+tri_20170309")

BIOES = ["S", "B", "I", "E", "O"]        # BIOESTag.Label order
POS_SIZE = 4                             # [beginDoc, beginSent, endSent, endDoc]

# architecture defaults = the bundled annotator.xml conf (used verbatim
# when the reference checkout is absent; parse_annotator_xml asserts
# equality against the real file when it exists)
DEFAULT_CONF = {"nin": 24680, "ffw": 300, "lstm": 100, "nout": 5,
                "lr": 0.032, "rms_decay": 0.95, "epsilon": 1e-8,
                "l2": 1e-4, "seed": 1505148779882,
                "forget_bias": 1.0}


def parse_annotator_xml(path: str | None = None) -> dict:
    """Layer configuration out of the bundled annotator.xml (the DL4j
    MultiLayerConfiguration JSON inside the component CDATA). The file is
    bundled in texoo_spark/resources (byte-identical copy of the
    reference's shipped model config — public Apache-2.0 model data, same
    adjudication as the OpenNLP .bin files), so the lane has no runtime
    dependency on the reference checkout."""
    from texoo_spark.maxent import resource_path
    path = path or resource_path("annotator.xml")
    with open(path, encoding="utf-8") as f:
        xml = f.read()
    m = re.search(r"<conf><!\[CDATA\[(.*?)\]\]></conf>", xml, re.S)
    conf = json.loads(m.group(1))
    layers = [c["layer"] for c in conf["layerConfiguration"]["confs"]]
    dense0 = layers[0]["dense"]
    dense1 = layers[1]["dense"]
    lstm = layers[2]["gravesBidirectionalLSTM"]
    out = layers[3]["rnnoutput"]
    return {
        "nin": dense0["nin"], "ffw": dense0["nout"],
        "lstm": lstm["nout"], "nout": out["nout"],
        "lr": dense0["learningRate"],
        "rms_decay": dense0["rmsDecay"],
        "epsilon": dense0["epsilon"],
        "l2": dense0["l2"],
        "seed": conf["layerConfiguration"]["confs"][0]["seed"],
        "forget_bias": lstm["forgetGateBiasInit"],
        "ffw1_nin": dense1["nin"], "lstm_nin": lstm["nin"],
    }


def load_trigram_vocab(path: str | None = None) -> list[str]:
    """The shipped trigram vocabulary in its index order
    (trigram.tsv.gz rows: index \\t ngram \\t frequency). Bundled copy of
    the reference's shipped model data (public Apache-2.0) in
    texoo_spark/resources — works from texoo_spark.zip on hosts without
    the reference checkout."""
    from texoo_spark.maxent import resource_path
    path = path or resource_path("trigram.tsv.gz")
    vocab: list[str] = []
    with gzip.open(path, "rt", encoding="utf-8") as f:
        for line in f:
            parts = line.rstrip("\n").split("\t")
            if len(parts) >= 2:
                idx, gram = int(parts[0]), parts[1]
                assert idx == len(vocab), "trigram.tsv.gz out of order"
                vocab.append(gram)
    return vocab


def keep_only_printable(s: str) -> str:
    """LetterNGramEncoder.keepOnlyPrintableChars parity: keep unicode
    categories L*, N*, P*, Sm, Sc; lowercase."""
    kept = []
    for ch in s:
        cat = unicodedata.category(ch)
        if cat[0] in "LNP" or cat in ("Sm", "Sc"):
            kept.append(ch)
    return "".join(kept).lower()


def reference_ngrams(token: str, n: int = 3) -> list[str]:
    """LetterNGramEncoder.generateNGrams parity: '#'+kept+'#' windows of
    n; EMPTY below length n (no short-word fallback in the reference)."""
    w = "#" + keep_only_printable(token) + "#"
    return [w[i:i + n] for i in range(len(w) - n + 1)]


class ReferenceFeaturizer:
    """POS | SUR | TRI active-index featurizer (nin = 15 + |vocab|)."""

    def __init__(self, vocab: list[str]):
        self.tri_index = {g: i for i, g in enumerate(vocab)}
        self.nin = POS_SIZE + SURFACE_SIZE + len(vocab)
        self._cache: dict[str, np.ndarray] = {}

    def _token_indices(self, token: str) -> np.ndarray:
        """SUR + TRI indices for one token (POS depends on position and
        is added by encode_document)."""
        idx = self._cache.get(token)
        if idx is None:
            if len(self._cache) >= (1 << 20):
                self._cache.clear()
            surf = np.flatnonzero(surface_features(token)) + POS_SIZE
            tri = [self.tri_index[g] for g in reference_ngrams(token)
                   if g in self.tri_index]
            base = POS_SIZE + SURFACE_SIZE
            idx = np.concatenate([
                surf.astype(np.int64),
                np.asarray(sorted(set(tri)), dtype=np.int64) + base])
            self._cache[token] = idx
        return idx

    def encode_document(self, sentences: list[list[str]]
                        ) -> list[list[np.ndarray]]:
        """Per-sentence, per-token active feature indices with the
        document-positional POS flags (PositionEncoder.encodeEach)."""
        out = []
        n_sents = len(sentences)
        for si, toks in enumerate(sentences):
            rows = []
            for ti, tok in enumerate(toks):
                pos = []
                begin_sent = ti == 0
                end_sent = ti == len(toks) - 1
                if si == 0 and begin_sent:
                    pos.append(0)                    # beginDoc
                if begin_sent:
                    pos.append(1)                    # beginSent
                if end_sent:
                    pos.append(2)                    # endSent
                if si == n_sents - 1 and end_sent:
                    pos.append(3)                    # endDoc
                rows.append(np.concatenate([
                    np.asarray(pos, dtype=np.int64),
                    self._token_indices(tok)]))
            out.append(rows)
        return out


def _sigmoid(x):
    # clip keeps exp() in range; sigmoid saturates identically either way
    return 1.0 / (1.0 + np.exp(-np.clip(x, -60.0, 60.0)))


class BiLSTMTagger:
    """Numpy Graves-BiLSTM sequence tagger (shapes per annotator.xml).

    Pass `params` (a {name: array} dict, e.g. from a broadcast) to skip
    the seeded random init — the executor-side construction path."""

    def __init__(self, conf: dict | None = None,
                 params: dict | None = None):
        self.conf = dict(DEFAULT_CONF, **(conf or {}))
        if params is not None:
            self.p = {k: np.asarray(v, dtype=np.float64)
                      for k, v in params.items()}
            return
        c = self.conf
        rng = np.random.RandomState(c["seed"] % (2 ** 32))
        nin, ffw, H, nout = c["nin"], c["ffw"], c["lstm"], c["nout"]

        def relu_init(fan_in, shape):
            return rng.normal(0.0, math.sqrt(2.0 / fan_in), shape)

        def xavier(fan_in, fan_out, shape):
            return rng.normal(0.0, math.sqrt(2.0 / (fan_in + fan_out)),
                              shape)

        p = {}
        p["W0"] = relu_init(nin, (nin, ffw))
        p["b0"] = np.zeros(ffw)
        p["W1"] = relu_init(ffw, (ffw, ffw))
        p["b1"] = np.zeros(ffw)
        for d in ("f", "b"):                     # forward / backward dir
            p[f"Wx_{d}"] = xavier(ffw, H, (ffw, 4 * H))
            p[f"Wh_{d}"] = xavier(H, H, (H, 4 * H))
            p[f"bg_{d}"] = np.zeros(4 * H)
            p[f"bg_{d}"][H:2 * H] = c["forget_bias"]   # forget gate bias 1
            p[f"pp_{d}"] = xavier(H, H, (3, H))        # peepholes i/f/o
        p["Wo"] = xavier(H, nout, (H, nout))
        p["bo"] = np.zeros(nout)
        self.p = {k: v.astype(np.float64) for k, v in p.items()}

    # -- forward ---------------------------------------------------------

    def _embed(self, idx_rows: list[np.ndarray]) -> np.ndarray:
        """Sparse layer-0: active-index rows of W0 summed (the input is
        0/1, so x @ W0 == sum of active rows) -> ReLU dense chain."""
        W0, b0 = self.p["W0"], self.p["b0"]
        h0 = np.empty((len(idx_rows), W0.shape[1]))
        for i, idx in enumerate(idx_rows):
            h0[i] = W0[idx].sum(axis=0)
        h0 = np.maximum(h0 + b0, 0.0)
        h1 = np.maximum(h0 @ self.p["W1"] + self.p["b1"], 0.0)
        return h0, h1

    def _lstm_dir(self, X: np.ndarray, d: str, reverse: bool):
        """One direction over [T x ffw]; returns (H_out [T x H], cache)."""
        H = self.conf["lstm"]
        Wx, Wh = self.p[f"Wx_{d}"], self.p[f"Wh_{d}"]
        bg, pp = self.p[f"bg_{d}"], self.p[f"pp_{d}"]
        T = X.shape[0]
        pre_x = X @ Wx + bg                     # [T x 4H]
        order = range(T - 1, -1, -1) if reverse else range(T)
        h = np.zeros(H)
        c = np.zeros(H)
        Hs = np.zeros((T, H))
        cache = []
        for t in order:
            pre = pre_x[t] + h @ Wh
            i = _sigmoid(pre[:H] + pp[0] * c)
            f = _sigmoid(pre[H:2 * H] + pp[1] * c)
            g = np.tanh(pre[2 * H:3 * H])
            c_new = f * c + i * g
            o = _sigmoid(pre[3 * H:] + pp[2] * c_new)
            tc = np.tanh(c_new)
            h_new = o * tc
            cache.append((t, X[t], h, c, i, f, g, o, c_new, tc))
            h, c = h_new, c_new
            Hs[t] = h
        return Hs, cache

    def forward_sentence(self, idx_rows: list[np.ndarray],
                         want_cache: bool = False):
        """[T tokens] -> softmax probs [T x 5] (+ caches for backprop)."""
        h0, h1 = self._embed(idx_rows)
        Hf, cf = self._lstm_dir(h1, "f", reverse=False)
        Hb, cb = self._lstm_dir(h1, "b", reverse=True)
        Hsum = Hf + Hb                           # GravesBidirectional ADD
        logits = Hsum @ self.p["Wo"] + self.p["bo"]
        logits -= logits.max(axis=1, keepdims=True)
        e = np.exp(logits)
        probs = e / e.sum(axis=1, keepdims=True)
        if want_cache:
            return probs, (h0, h1, Hf, cf, Hb, cb, Hsum)
        return probs

    # -- backprop --------------------------------------------------------

    def _backprop_lstm(self, d: str, cache, dH: np.ndarray,
                       grads: dict) -> np.ndarray:
        H = self.conf["lstm"]
        Wx, Wh, pp = self.p[f"Wx_{d}"], self.p[f"Wh_{d}"], self.p[f"pp_{d}"]
        dWx = grads[f"Wx_{d}"]
        dWh = grads[f"Wh_{d}"]
        dbg = grads[f"bg_{d}"]
        dpp = grads[f"pp_{d}"]
        dX = np.zeros((dH.shape[0], Wx.shape[0]))
        dh_next = np.zeros(H)
        dc_next = np.zeros(H)
        for step in reversed(cache):
            t, x, h_prev, c_prev, i, f, g, o, c_new, tc = step
            dh = dH[t] + dh_next
            do = dh * tc
            dpre_o = do * o * (1 - o)
            dc = dh * o * (1 - tc * tc) + dc_next + dpre_o * pp[2]
            di = dc * g
            dpre_i = di * i * (1 - i)
            df = dc * c_prev
            dpre_f = df * f * (1 - f)
            dg = dc * i
            dpre_g = dg * (1 - g * g)
            dpp[0] += dpre_i * c_prev
            dpp[1] += dpre_f * c_prev
            dpp[2] += dpre_o * c_new
            dpre = np.concatenate([dpre_i, dpre_f, dpre_g, dpre_o])
            dWx += np.outer(x, dpre)
            dWh += np.outer(h_prev, dpre)
            dbg += dpre
            dX[t] += dpre @ Wx.T
            dh_next = dpre @ Wh.T
            dc_next = dc * f + dpre_i * pp[0] + dpre_f * pp[1]
        return dX

    def _zero_grads(self) -> dict:
        return {k: np.zeros_like(v) for k, v in self.p.items()}

    def _accumulate(self, idx_rows, y: np.ndarray, grads: dict) -> float:
        """Forward + backprop one sentence; y = BIOES label ids [T].
        Returns summed cross-entropy. Gradients are summed into grads;
        the caller normalizes by total token count (MCXENT mean)."""
        probs, (h0, h1, Hf, cf, Hb, cb, Hsum) = self.forward_sentence(
            idx_rows, want_cache=True)
        T = len(idx_rows)
        loss = -np.log(np.maximum(probs[np.arange(T), y], 1e-12)).sum()
        dlog = probs.copy()
        dlog[np.arange(T), y] -= 1.0             # un-normalized
        grads["Wo"] += Hsum.T @ dlog
        grads["bo"] += dlog.sum(axis=0)
        dHsum = dlog @ self.p["Wo"].T
        dh1 = (self._backprop_lstm("f", cf, dHsum, grads)
               + self._backprop_lstm("b", cb, dHsum, grads))
        dh1 *= (h1 > 0)
        grads["W1"] += h0.T @ dh1
        grads["b1"] += dh1.sum(axis=0)
        dh0 = dh1 @ self.p["W1"].T
        dh0 *= (h0 > 0)
        grads["b0"] += dh0.sum(axis=0)
        dW0 = grads["W0"]
        for i, idx in enumerate(idx_rows):
            dW0[idx] += dh0[i]                   # sparse scatter-add
        return loss

    def train(self, docs_idx, docs_tags, epochs: int = 200,
              f1_hook=None) -> list[float]:
        """Full-batch RMSProp over (documents -> sentences); per the
        config: lr .032, decay .95, eps 1e-8, l2 1e-4 on weight matrices
        (not biases). Deterministic. Stops early when f1_hook returns
        1.0. Returns the per-epoch loss history."""
        c = self.conf
        cacheg = {k: np.zeros_like(v) for k, v in self.p.items()}
        weight_keys = {k for k in self.p if not k.startswith("b")
                       and k != "bo"}
        n_tokens = sum(len(s) for doc in docs_tags for s in doc)
        history = []
        for epoch in range(epochs):
            grads = self._zero_grads()
            loss = 0.0
            for doc_rows, doc_tags in zip(docs_idx, docs_tags):
                for sent_rows, sent_y in zip(doc_rows, doc_tags):
                    loss += self._accumulate(sent_rows, sent_y, grads)
            for k, gr in grads.items():
                gr /= n_tokens
                if k in weight_keys:
                    gr += c["l2"] * self.p[k]
                cg = cacheg[k]
                cg *= c["rms_decay"]
                cg += (1 - c["rms_decay"]) * gr * gr
                self.p[k] -= c["lr"] * gr / (np.sqrt(cg) + c["epsilon"])
            history.append(loss / n_tokens)
            # the hook costs a full inference pass — probe every 5 epochs
            # (still deterministic: the stop epoch is data-determined)
            if (f1_hook is not None and (epoch + 1) % 5 == 0
                    and f1_hook(self) >= 1.0):
                break
        return history

    # -- decoding --------------------------------------------------------

    def tag_sentences(self, docs_idx: list[list[np.ndarray]]
                      ) -> list[tuple[list[str], list[float]]]:
        """Per sentence: (BIOES tags, confidences). Confidence follows
        BIOESTag.java:62-64: p(O) for O, else 1 - p(O)."""
        out = []
        o_col = BIOES.index("O")
        for sent_rows in docs_idx:
            probs = self.forward_sentence(sent_rows)
            best = probs.argmax(axis=1)
            tags = [BIOES[i] for i in best]
            confs = [float(probs[t, o_col]) if tags[t] == "O"
                     else float(1.0 - probs[t, o_col])
                     for t in range(len(tags))]
            out.append((tags, confs))
        return out

    def tag_document_spans(self, sentences: list[list[str]],
                           featurizer: ReferenceFeaturizer,
                           label: str = "MENTION"):
        """Document sentences -> mention spans in DOC-token coordinates
        (tok_start, tok_end, label, confidence): BIOES argmax ->
        BIOES->BIO2 correction -> decode_bio2 (MentionTagger's
        createAnnotations path)."""
        docs_idx = featurizer.encode_document(sentences)
        tags_bio2, confs_all, bounds = [], [], []
        off = 0
        for sent_rows, toks in zip(docs_idx, sentences):
            if not toks:
                continue
            probs = self.forward_sentence(sent_rows)
            best = probs.argmax(axis=1)
            bioes = [BIOES[i] for i in best]
            o_col = BIOES.index("O")
            confs = [float(probs[t, o_col]) if bioes[t] == "O"
                     else float(1.0 - probs[t, o_col])
                     for t in range(len(bioes))]
            tags_bio2.extend(bioes_to_bio2(bioes))
            confs_all.extend(confs)
            off += len(toks)
            bounds.append(off)
        return decode_bio2(tags_bio2, None, confs_all, bounds,
                           default_type=label)


_FIXTURE_CACHE: dict = {}


def fixture_documents(path: str | None = None):
    """Reference CoNLL2003 fixture as (sentences, bioes_tags) per doc."""
    from texoo_spark.tagger import conll_fixture_examples
    docs = []
    for toks, bio2, bounds in conll_fixture_examples(path):
        sents, tags = [], []
        start = 0
        for end in bounds:
            sents.append(toks[start:end])
            tags.append(bio2_to_bioes(bio2[start:end]))
            start = end
        docs.append((sents, tags))
    return docs


def fixture_span_f1(model: BiLSTMTagger, featurizer: ReferenceFeaturizer,
                    docs) -> float:
    """Micro span F1 on the fixture under MentionAnnotatorEvaluation
    semantics (STRONG match on exact token boundaries, V1)."""
    tp = fp = fn = 0
    for sents, gold_bioes in docs:
        gold_bio2 = [t for s in gold_bioes for t in bioes_to_bio2(s)]
        bounds, off = [], 0
        for s in sents:
            off += len(s)
            bounds.append(off)
        gold = {(b, e) for b, e, _, _ in
                decode_bio2(gold_bio2, None, None, bounds)}
        pred = {(b, e) for b, e, _, _ in
                model.tag_document_spans(sents, featurizer)}
        tp += len(gold & pred)
        fp += len(pred - gold)
        fn += len(gold - pred)
    p = tp / max(tp + fp, 1)
    r = tp / max(tp + fn, 1)
    return 2 * p * r / max(p + r, 1e-12)


def tag_mentions_neural(extracted):
    """A2 neural lane, distributed: the fixture-trained reference-
    architecture BiLSTM applied to extraction output. Parameters (~62 MB
    float64) and the trigram vocab are broadcast ONCE per executor; the
    pandas UDF rebuilds the tagger from the broadcast (no retraining, no
    per-row Python beyond the batched forward). Adds the same mention
    span arrays as tagger.tag_mentions."""
    from pyspark.sql import functions as F
    from pyspark.sql.functions import pandas_udf
    from texoo_spark.pipeline import with_tok_text
    from texoo_spark.tagger import TAGGED_SCHEMA

    model, feat, _info = train_fixture_bilstm()
    sc = extracted.sparkSession.sparkContext
    bc_params = sc.broadcast(model.p)
    bc_vocab = sc.broadcast(sorted(feat.tri_index,
                                   key=feat.tri_index.get))
    conf = dict(model.conf)

    @pandas_udf(TAGGED_SCHEMA)
    def neural_udf(tok_text: pd.Series, sent_tok_end: pd.Series,
                   tok_begin: pd.Series, tok_end: pd.Series) -> pd.DataFrame:
        tagger = BiLSTMTagger(conf, params=bc_params.value)
        ft = ReferenceFeaturizer(bc_vocab.value)
        rows = {"m_begin": [], "m_end": [], "m_confidence": [],
                "m_label": []}
        for toks, bounds, tbs, tes in zip(tok_text, sent_tok_end,
                                          tok_begin, tok_end):
            toks = list(toks) if toks is not None else []
            bounds = (list(bounds) if bounds is not None and len(bounds)
                      else [len(toks)])
            sents, start = [], 0
            for end in bounds:
                sents.append(toks[start:end])
                start = end
            spans = tagger.tag_document_spans(sents, ft)
            rows["m_begin"].append([int(tbs[s]) for s, _, _, _ in spans])
            rows["m_end"].append([int(tes[e - 1]) for _, e, _, _ in spans])
            rows["m_confidence"].append([c for _, _, _, c in spans])
            rows["m_label"].append([lb for _, _, lb, _ in spans])
        return pd.DataFrame(rows)

    return (with_tok_text(extracted)
            .withColumn("m", neural_udf(
                F.col("tok_text"), F.col("sent_tok_end"),
                F.col("tok_begin"), F.col("tok_end")))
            .select("*", "m.*").drop("m"))


def _disk_cache_path(conf: dict, vocab_size: int) -> str:
    """Deterministic training means the result is a pure function of
    (config, vocab, fixture) — cache the trained parameters on disk so
    only the first process on a machine pays the ~1 min training cost."""
    import hashlib
    from texoo_spark.tagger import conll_fixture_path
    h = hashlib.sha256(json.dumps(conf, sort_keys=True).encode())
    h.update(str(vocab_size).encode())
    try:
        with open(conll_fixture_path(), "rb") as f:
            h.update(f.read())
    except OSError:
        pass
    d = os.path.join(os.path.expanduser("~"), ".cache", "texoo_spark")
    os.makedirs(d, exist_ok=True)
    return os.path.join(d, f"bilstm_fixture_{h.hexdigest()[:16]}.npz")


def train_fixture_bilstm(max_epochs: int = 300):
    """The reference-architecture BiLSTM trained deterministically on the
    CoNLL fixture (cached in-process AND on disk). Returns (model,
    featurizer, info) where info carries the achieved span F1 and
    epochs run."""
    if "model" not in _FIXTURE_CACHE:
        from texoo_spark.maxent import bundled_path
        conf = parse_annotator_xml()
        vocab = load_trigram_vocab()
        feat = ReferenceFeaturizer(vocab)
        model = BiLSTMTagger(conf)
        cache_file = _disk_cache_path(model.conf, len(vocab))
        # pre-trained weights ship in resources/ (float32, ~27 MB
        # compressed vs 62 MB float64) so no driver/executor ever pays
        # the ~40 s first-process training. The EXACT local float64
        # cache takes priority over the float32-rounded bundle when both
        # exist (exactness first — the bundle is the portability
        # fallback for fresh hosts/zip deployments); training below
        # stays as the reproducibility path (tests retrain-and-compare).
        src = (cache_file if os.path.exists(cache_file)
               else bundled_path(os.path.basename(cache_file)))
        if src:
            data = np.load(src)
            for k in model.p:
                model.p[k] = np.ascontiguousarray(
                    data[k].astype(np.float64))
            info = {"f1": float(data["_f1"][0]),
                    "epochs": int(data["_epochs"][0]),
                    "final_loss": float(data["_final_loss"][0])}
        else:
            docs = fixture_documents()
            docs_idx = [feat.encode_document(sents) for sents, _ in docs]
            docs_y = [[np.asarray([BIOES.index(t) for t in sent_tags])
                       for sent_tags in tags] for _, tags in docs]
            hist = model.train(
                docs_idx, docs_y, epochs=max_epochs,
                f1_hook=lambda m: fixture_span_f1(m, feat, docs))
            f1 = fixture_span_f1(model, feat, docs)
            info = {"f1": f1, "epochs": len(hist),
                    "final_loss": hist[-1]}
            tmp = cache_file + ".tmp"
            np.savez(tmp, **model.p,
                     _f1=np.array([f1]),
                     _epochs=np.array([len(hist)]),
                     _final_loss=np.array([hist[-1]]))
            os.replace(tmp + ".npz" if os.path.exists(tmp + ".npz")
                       else tmp, cache_file)
        _FIXTURE_CACHE["model"] = (model, feat, info)
    return _FIXTURE_CACHE["model"]
