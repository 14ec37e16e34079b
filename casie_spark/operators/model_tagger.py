"""Model-inference tagging stage: Arrow-batched ``mapInPandas`` with
broadcast numpy weights — the distributed-inference harness for the
reference's BiLSTM-CRF stages (SURVEY.md §2.10).

The reference loads Keras models once and loops documents sequentially
(link_coref.py:89-119, :1960-1968, :1978).  Here the same contract is a
DataFrame stage:

- weights live in a ``SparkContext.broadcast`` — deserialized once per
  Python worker, reused across all Arrow batches (the reference's
  "load model once" optimization, S5 in SURVEY §2.1);
- inference is numpy table-gathers over whole Arrow batches (the
  analog of the reference's batched ``model.predict``,
  nug_arg_detection.py:320) followed by per-sentence VITERBI decoding
  with trained transition scores — the CRF layer of the reference
  model (nug_arg_detection.py:199-202) — falling back to per-token
  argmax (P5) for weights without transitions; tokens are
  dictionary-encoded with a hashed vocab, OOV=1/PAD=0 reserved exactly
  like x2index.py:20-26 (F11);
- the emitted columns are the same tagging contract as ``tag_rules``
  (trigger_tag / arg_tag), so the downstream linking DAG is untouched.

The inference stage is mapInPandas on the PRE-exchange side of the
pipeline's single doc_id repartition (Python-eval plan nodes do not
propagate partitioning, so the exchange must sit above them — the
one-token-shuffle plan invariant of tests/test_plans.py holds).
Viterbi needs whole sentences; the decoder buffers the trailing
incomplete sentence of each Arrow batch into the next one, so the
prediction is bit-for-bit independent of batching and partitioning.

Two weight providers:

- ``distill_rule_weights`` — deterministic unigram weights distilled
  from the rule lexicons (the round-1 harness; kept as fallback and
  for harness-parity tests);
- ``load_weights`` — trained context-feature weights
  (operators/train_tagger.py trains them on the 1,000 gold-annotated
  CASIE articles; artifact at casie_spark/artifacts/tagger_weights.npz)
  with per-feature tables t0/s0/tm1/tp1/shape + bias per head.
"""

from __future__ import annotations

import functools
import os
import unicodedata
import zlib
from dataclasses import dataclass, field

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from .. import config
from .perceptron import gather_logits

PAD_ID = 0   # x2index.py:20-26 reserves 0/1
OOV_ID = 1
VOCAB_BITS = 16
VOCAB_SIZE = 1 << VOCAB_BITS
BIGRAM_SIZE = 1 << 17
TRIGRAM_SIZE = 1 << 18
N_SHAPES = 10

TRIGGER_LABELS = ["O"] + list(config.EVENT_SUBTYPES)
ARG_LABELS = ["O", "CVE", "Version", "Money", "Time", "Malware", "PII",
              "Data", "Organization", "System", "Person", "Number",
              "Vulnerability", "Patch"]
# full gold argument-type inventory (data/annotation arg.type values)
GOLD_ARG_LABELS = ["O", "CVE", "Capabilities", "Data", "Device", "File",
                   "GPE", "Malware", "Money", "Number", "Organization",
                   "PII", "Patch", "PaymentMethod", "Person", "Purpose",
                   "Software", "System", "Time", "Version",
                   "Vulnerability", "Website"]

ARTIFACT_PATH = os.path.join(
    os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
    "artifacts", "tagger_weights.npz",
)

_CTX_KEYS = ("t0", "s0", "tm1", "tp1", "sh", "b1", "b2", "tri",
             "pf3", "sf3", "sf4", "sev", "b")
# "sev" (sentence-has-decoded-trigger, a (2, L) table on the arg head)
# is NOT a gather key: its ids come from the trigger head's decoded
# path, so TaggerWeights.decode applies it explicitly between the two
# head decodes rather than from feature_arrays.
_GATHER_KEYS = ("t0", "s0", "tm1", "tp1", "sh", "b1", "b2", "tri",
                "pf3", "sf3", "sf4")


def token_id(tok: str) -> int:
    """Hashed dictionary encoding (stable across workers/sessions):
    crc32 of the lowercased token into [2, VOCAB_SIZE)."""
    return 2 + (zlib.crc32(tok.lower().encode("utf-8")) % (VOCAB_SIZE - 2))


def shape_id(tok: str) -> int:
    """Closed word-shape feature (F10's one-hot analog): 10 classes.

    Defined in JVM-expressible terms (Unicode Nd for digits,
    upper()/lower() comparisons for case, L/Nd for alphanumeric) so
    begin_repair.shape_id_col is a bit-exact twin — verified a no-op
    vs the earlier str.isdigit()/isupper() form on every unique token
    of the gold corpus (21,542) and the synthetic bench corpus, so the
    committed artifacts trained against the old form stay valid.
    Out-of-corpus tokens whose only numerics are non-Nd (No/Nl:
    superscripts, fractions, roman numerals — str.isdigit() true, Nd
    false) classify as shape 1 rather than the old 6; train and serve
    share this function, so the change is consistent, not a skew."""
    if not tok:
        return 0
    if tok.startswith("CVE-"):
        return 9
    cats = [unicodedata.category(c) for c in tok]
    has_digit = "Nd" in cats
    if has_digit and "." in tok:
        return 8  # version-shaped
    if has_digit and all(c == "Nd" for c in cats):
        return 7
    if has_digit:
        return 6
    if "$" in tok:
        return 5
    up, lo = tok.upper(), tok.lower()
    if tok == up and tok != lo and len(tok) > 1:
        return 4
    f = tok[0]
    if f == f.upper() and f != f.lower():
        return 3
    if tok == lo and tok != up:
        return 2
    if not any(c == "Nd" or c[0] == "L" for c in cats):
        return 1
    return 0


def _ngram_id(s: str, size: int) -> int:
    return zlib.crc32(s.encode("utf-8")) % size


def feature_arrays(toks: list, prevs: list, nexts: list
                   ) -> dict[str, np.ndarray]:
    """Shared train/inference featurizer: hashed ids for the current
    token (raw + stem), its sentence neighbors (PAD at boundaries),
    its shape class, and the hashed bigrams/trigram around it (the
    memorization features — a linear sum over unigram tables cannot
    represent context-dependent labels; the n-gram rows can).  One
    dict of int64 arrays per batch.

    All per-token hashes are computed once per UNIQUE surface and
    scattered back (r5 decode profile: featurization was 91% of the
    inference UDF, and the token stream is Zipfian — the unique set
    runs 5-20x smaller than the batch).  Values are bit-identical to
    the per-token form; tests/test_properties.py compares against the
    naive reference featurizer."""
    from .tagging import _py_stem

    n = len(toks)

    def norm(t):
        return "" if t is None or (isinstance(t, float) and pd.isna(t)) \
            else str(t).lower()

    low = [norm(t) for t in toks]
    plo = [norm(t) for t in prevs]
    nlo = [norm(t) for t in nexts]

    # one unique table over current+prev+next surfaces (prev/next are
    # shifted copies of the current stream plus '' at boundaries, so
    # the union costs nothing extra) — every per-token hash below runs
    # at unique scale and gathers back through the inverse index
    allv = np.asarray(low + plo + nlo, dtype=object)
    uniq, inv = np.unique(allv, return_inverse=True)
    ilow, iprev, inext = inv[:n], inv[n:2 * n], inv[2 * n:]
    m = len(uniq)

    def uids(fn):
        return np.fromiter((fn(t) for t in uniq), dtype=np.int64, count=m)

    tid_u = uids(token_id)                      # plain id ('' hashes too)
    pad_u = uids(lambda t: PAD_ID if not t else token_id(t))
    out = {
        "t0": tid_u[ilow],
        "s0": uids(lambda t: token_id(_py_stem(t)))[ilow],
        "tm1": pad_u[iprev],
        "tp1": pad_u[inext],
        "b1": np.fromiter(
            (_ngram_id(p + "|" + c, BIGRAM_SIZE) for p, c in zip(plo, low)),
            dtype=np.int64, count=n),
        "b2": np.fromiter(
            (_ngram_id(c + "|" + x, BIGRAM_SIZE) for c, x in zip(low, nlo)),
            dtype=np.int64, count=n),
        "tri": np.fromiter(
            (_ngram_id(p + "|" + c + "|" + x, TRIGRAM_SIZE)
             for p, c, x in zip(plo, low, nlo)),
            dtype=np.int64, count=n),
        # hashed affixes: generalization features — a token never
        # seen in training still shares its suffix/prefix rows with
        # seen vocabulary ("-ility", "-ware", "-tion", "un-")
        "pf3": uids(lambda t: PAD_ID if not t
                    else token_id("\x02" + t[:3]))[ilow],
        "sf3": uids(lambda t: PAD_ID if not t
                    else token_id("\x03" + t[-3:]))[ilow],
        "sf4": uids(lambda t: PAD_ID if not t
                    else token_id("\x04" + t[-4:]))[ilow],
    }
    # shape is case-sensitive — its own (smaller) unique pass
    shu, shinv = np.unique(np.asarray([str(t) for t in toks],
                                      dtype=object), return_inverse=True)
    out["sh"] = np.fromiter((shape_id(t) for t in shu), dtype=np.int64,
                            count=len(shu))[shinv]
    return out


@dataclass
class TaggerWeights:
    """Per-head scorer.  Without context tables: logits = W[token_id]
    (the distilled unigram model).  With them: logits = sum of one
    gather per feature table + bias — the trained linear model.  With
    transition matrices additionally present, ``decode`` runs
    per-sentence Viterbi over the label sequence — the CRF decoding
    capability of the reference's BiLSTM-CRF layer
    (nug_arg_detection.py:199-202), trained as a structured perceptron
    (operators/train_tagger.py)."""
    w_trigger: np.ndarray  # (VOCAB_SIZE, len(trigger_labels)) float32
    w_arg: np.ndarray      # (VOCAB_SIZE, len(arg_labels)) float32
    trigger_labels: list[str] = field(default_factory=lambda: list(TRIGGER_LABELS))
    arg_labels: list[str] = field(default_factory=lambda: list(ARG_LABELS))
    trig_ctx: dict[str, np.ndarray] | None = None
    arg_ctx: dict[str, np.ndarray] | None = None
    trig_trans: dict[str, np.ndarray] | None = None  # {"trans": LxL, "start": L}
    arg_trans: dict[str, np.ndarray] | None = None

    def _logits(self, f: dict[str, np.ndarray]) -> tuple[np.ndarray, np.ndarray]:
        if self.trig_ctx is None:
            return self.w_trigger[f["s0"]], self.w_arg[f["t0"]]
        # each head gathers its OWN tables: the trigger head carries the
        # affix tables (pf3/sf3/sf4 generalize type-level trigger
        # classification) while the argument head omits them (measured:
        # affixes dilute the span-identity arg head, Dice F1 0.81 -> 0.66)
        return tuple(gather_logits(t, f, [k for k in _GATHER_KEYS if k in t])
                     for t in (self.trig_ctx, self.arg_ctx))

    def score(self, toks: list, prevs: list, nexts: list
              ) -> tuple[np.ndarray, np.ndarray]:
        """Batch -> (trigger label indices, arg label indices) by
        per-token argmax (no sequence structure)."""
        f = feature_arrays(toks, prevs, nexts)
        trig_logits, arg_logits = self._logits(f)
        return trig_logits.argmax(axis=1), arg_logits.argmax(axis=1)

    def decode(self, toks: list, prevs: list, nexts: list,
               sent_starts: np.ndarray) -> tuple[np.ndarray, np.ndarray]:
        """Sentence-structured decode: Viterbi per sentence when the
        head has trained transitions, per-token argmax otherwise.
        ``sent_starts``: sorted indices where a new sentence begins
        (must include 0).

        Two-pass when the arg head carries a "sev" table (r4): the
        trigger head decodes first, each sentence's has-trigger flag
        gathers a (2, L) bias into the arg logits, then the arg head
        decodes.  Flags are sentence-local, so this stays inside the
        batch — no extra pass over the data.  The table is trained on
        PREDICTED flags from fold-wise cross-decoding
        (train_tagger._cross_fit_flags), matching this cascade."""
        f = feature_arrays(toks, prevs, nexts)
        trig_logits, arg_logits = self._logits(f)

        def _path(logits, tr):
            if tr is None:
                return logits.argmax(axis=1)
            return viterbi_segments(logits.astype(np.float32),
                                    sent_starts, tr["trans"], tr["start"])

        trig_path = _path(trig_logits, self.trig_trans)
        if self.arg_ctx is not None and "sev" in self.arg_ctx:
            flags = sentence_flag_ids(trig_path, sent_starts,
                                      len(trig_path))
            arg_logits = arg_logits + self.arg_ctx["sev"][flags]
        return trig_path, _path(arg_logits, self.arg_trans)


def sentence_flag_ids(path: np.ndarray, starts: np.ndarray,
                      n: int) -> np.ndarray:
    """Per-token sev ids from a decoded label path: 1 when the token's
    sentence contains any non-O label (index 0 is O for both heads),
    else 0.  ``starts`` are the sorted sentence-begin indices
    (including 0)."""
    if n == 0:
        return np.zeros(0, np.int64)
    starts = np.asarray(starts, dtype=np.int64)
    seg = np.zeros(n, np.int64)
    seg[starts] = 1
    seg = np.cumsum(seg) - 1
    has = np.zeros(len(starts), bool)
    np.logical_or.at(has, seg, path != 0)
    return has[seg].astype(np.int64)


def viterbi_segments(logits: np.ndarray, starts: np.ndarray,
                     trans: np.ndarray, start_scores: np.ndarray) -> np.ndarray:
    """Vectorized Viterbi over concatenated variable-length segments.

    logits (n, L) are the emission scores of all tokens of a block;
    ``starts`` marks segment beginnings.  Segments are bucketed by
    length so one pathological 500-token sentence cannot inflate the
    padded (S, T, L) tensors of 20-token ones.  Returns the flat label
    path (n,)."""
    n, L = logits.shape
    if n == 0:
        return np.zeros(0, np.int64)
    starts = np.asarray(starts, dtype=np.int64)
    ends = np.append(starts[1:], n)
    lengths = ends - starts
    out = np.zeros(n, np.int64)
    for lo, hi in ((1, 16), (17, 64), (65, 1 << 30)):
        sel = np.flatnonzero((lengths >= lo) & (lengths <= hi))
        if not len(sel):
            continue
        _viterbi_bucket(logits, starts[sel], lengths[sel], trans,
                        start_scores, out)
    return out


def _viterbi_bucket(logits, starts, lengths, trans, start_scores, out):
    S = len(starts)
    T = int(lengths.max())
    L = logits.shape[1]
    sent_of = np.repeat(np.arange(S), lengths)
    pos_of = np.arange(len(sent_of)) - np.repeat(
        np.cumsum(lengths) - lengths, lengths)
    flat_idx = np.repeat(starts, lengths) + pos_of
    em = np.full((S, T, L), -1e30, np.float32)
    em[sent_of, pos_of] = logits[flat_idx]

    dp = em[:, 0, :] + start_scores[None, :]
    final_dp = dp.copy()
    back = np.zeros((S, T, L), np.int8)
    for t in range(1, T):
        cand = dp[:, :, None] + trans[None, :, :]   # (S, from, to)
        b = cand.argmax(axis=1)
        dp_t = np.take_along_axis(cand, b[:, None, :], 1)[:, 0, :] + em[:, t, :]
        back[:, t] = b
        active = lengths > t
        dp = np.where(active[:, None], dp_t, dp)
        last = lengths == t + 1
        if last.any():
            final_dp[last] = dp_t[last]

    labels = np.zeros((S, T), np.int64)
    labels[np.arange(S), lengths - 1] = final_dp.argmax(axis=1)
    for t in range(T - 1, 0, -1):
        active = lengths > t
        prev_lab = back[np.arange(S), t, labels[:, t]]
        labels[active, t - 1] = prev_lab[active]
    out[flat_idx] = labels[sent_of, pos_of]


def _stemmed_forms(w: str) -> set[str]:
    """Both the raw and stem form — lookups stem the query token, so
    the stem form is the one that matters; the raw form is kept for
    terms whose stem differs (defensive, harmless)."""
    from .tagging import _py_stem

    return {w, _py_stem(w)}


def distill_rule_weights() -> TaggerWeights:
    """Deterministic 'training': write the rule lexicons into the
    weight matrices.  Precedence becomes weight magnitude, mirroring
    the combine() ordering (link_coref.py:1196-1219): lexicon triggers
    outrank general-noun triggers; the argument gazetteer order of
    tag_rules becomes descending magnitudes."""
    wt = np.zeros((VOCAB_SIZE, len(TRIGGER_LABELS)), dtype=np.float32)
    wa = np.zeros((VOCAB_SIZE, len(ARG_LABELS)), dtype=np.float32)
    wt[:, 0] = 1.0  # O bias
    wa[:, 0] = 1.0

    # triggers: earlier EVENT_SUBTYPES win ties, exactly like the
    # prio ordering in tag_rules
    for prio, etype in enumerate(config.EVENT_SUBTYPES):
        col = TRIGGER_LABELS.index(etype)
        score = 100.0 - prio
        for term in sorted(config.WORDSET[etype]):
            for form in _stemmed_forms(term):
                i = token_id(form)
                if wt[i].max() < score:
                    wt[i, 1:] = 0.0
                    wt[i, col] = score
    for etype, nouns in config.GENERAL_NOUNS.items():
        if etype == "general":
            continue
        col = TRIGGER_LABELS.index(etype)
        for term in nouns:
            for form in _stemmed_forms(term):
                i = token_id(form)
                if wt[i].max() < 50.0:
                    wt[i, 1:] = 0.0
                    wt[i, col] = 50.0

    from .tagging import (
        _DATA_GAZ,
        _MALWARE_GAZ,
        _PERSON_GAZ,
        _PII_GAZ,
        _SYSTEM_GAZ,
        _TIME_WORDS,
        _VENDOR_GAZ,
    )

    gaz_by_label = [
        ("Time", _TIME_WORDS), ("Malware", _MALWARE_GAZ), ("PII", _PII_GAZ),
        ("Data", _DATA_GAZ), ("Organization", _VENDOR_GAZ),
        ("System", _SYSTEM_GAZ), ("Person", _PERSON_GAZ),
        ("Vulnerability", config.GENERAL_ARG["Vulnerability"]),
        ("Patch", config.GENERAL_ARG["Patch"]),
    ]
    for rank, (label, terms) in enumerate(gaz_by_label):
        col = ARG_LABELS.index(label)
        score = 90.0 - rank
        for term in terms:
            i = token_id(term)
            if wa[i].max() < score:
                wa[i, 1:] = 0.0
                wa[i, col] = score
    return TaggerWeights(wt, wa)


def parse_weights(arrays) -> TaggerWeights:
    """Artifact arrays (``trig_*`` / ``arg_*`` tables, label lists and
    optional ``{head}_trans`` / ``{head}_start`` Viterbi scores) ->
    TaggerWeights; shared by :func:`load_weights` and the trainer."""
    def _trans(head):
        if f"{head}_trans" not in arrays:
            return None
        return {"trans": arrays[f"{head}_trans"].astype(np.float32),
                "start": arrays[f"{head}_start"].astype(np.float32)}

    return TaggerWeights(
        w_trigger=np.zeros((VOCAB_SIZE, len(TRIGGER_LABELS)), np.float32),
        w_arg=np.zeros((VOCAB_SIZE, len(GOLD_ARG_LABELS)), np.float32),
        trigger_labels=[str(s) for s in arrays["trigger_labels"]],
        arg_labels=[str(s) for s in arrays["arg_labels"]],
        trig_ctx={k: arrays[f"trig_{k}"].astype(np.float32)
                  for k in _CTX_KEYS if f"trig_{k}" in arrays},
        arg_ctx={k: arrays[f"arg_{k}"].astype(np.float32)
                 for k in _CTX_KEYS if f"arg_{k}" in arrays},
        trig_trans=_trans("trig"),
        arg_trans=_trans("arg"),
    )


@functools.cache
def _distilled() -> TaggerWeights:
    return distill_rule_weights()


def load_weights(path: str = ARTIFACT_PATH) -> TaggerWeights:
    """Trained artifact if present, else the distilled fallback (not
    pinned under the path: the next call re-checks it).  Zip-safe and
    cached per (process, path) via deploy.load_artifact — the driver
    builds the broadcast from it."""
    from ..deploy import load_artifact

    return load_artifact(path, parse_weights) or _distilled()


def tag_model(tokens: DataFrame, weights: TaggerWeights | None = None,
              presorted: bool = True) -> DataFrame:
    """tokens -> + trigger_tag, arg_tag via broadcast-weight batched
    inference.  Regex/shape argument classes (CVE, Version, Money,
    Number, year) stay JVM-side — they backstop the model exactly like
    the reference's findargument rules (link_coref.py:751-786).

    ORDERING PRECONDITION (``presorted=True``, the pipeline path): the
    decoder derives sentence boundaries from physical row adjacency, so
    each partition must stream tokens in (doc_id, sent_id, token_id)
    emission order with no document split across partitions — exactly
    what the tokenizer emits.  A cheap vectorized monotonicity check
    inside the decoder raises on violations instead of silently
    mis-segmenting.  Callers holding a shuffled / re-read token frame
    must pass ``presorted=False``, which co-locates and sorts first
    (one extra exchange on the safety path only)."""
    from pyspark.sql import types as T

    spark = tokens.sparkSession
    if weights is None:
        weights = load_weights()
    bc = spark.sparkContext.broadcast(weights)

    if not presorted:
        tokens = tokens.repartition(F.col("doc_id")).sortWithinPartitions(
            "doc_id", "sent_id", "token_id")

    # Sentence-structured inference must see whole sentences (Viterbi
    # over the label sequence), so the stage is mapInPandas directly on
    # the tokenizer's output stream — BEFORE the pipeline's one doc_id
    # exchange (Python-eval plan nodes do not propagate partitioning,
    # so anything windows need must sit above them; the explicit
    # repartition below owns that).  The token stream arrives in
    # (doc, sent, token) emission order inside each partition; Arrow
    # batch boundaries can split a sentence, so the decoder carries the
    # trailing incomplete sentence into the next batch — predictions
    # are bit-for-bit independent of batching and partitioning.
    # Sentence context (prev/next token) is derived from the sentence
    # rows themselves.
    out_schema = T.StructType(
        list(tokens.schema.fields)
        + [T.StructField("_m_trig", T.StringType()),
           T.StructField("_m_arg", T.StringType())]
    )

    def decode_stream(batches):
        w = bc.value  # one deserialization per worker, reused per batch
        tl = np.array(w.trigger_labels, dtype=object)
        al = np.array(w.arg_labels, dtype=object)
        seen_sents: set = set()  # (doc, sent) keys already closed in
        #                          this partition — a reappearance means
        #                          the input violated emission order

        def _block(pdf: pd.DataFrame) -> pd.DataFrame:
            n = len(pdf)
            doc = pdf["doc_id"].to_numpy()
            sent = pdf["sent_id"].to_numpy()
            new_sent = np.ones(n, dtype=bool)
            if n > 1:
                new_sent[1:] = (doc[1:] != doc[:-1]) | (sent[1:] != sent[:-1])
            # ordering-precondition guard (see tag_model docstring):
            # token_id strictly increasing inside each sentence run, and
            # no sentence key reappearing after it closed.  Vectorized +
            # sentence-scale — negligible next to the logit gathers.
            tid = pdf["token_id"].to_numpy()
            cont = ~new_sent
            if n > 1 and np.any(tid[1:][cont[1:]] <= tid[:-1][cont[1:]]):
                raise ValueError(
                    "tag_model: token_id not increasing within a "
                    "sentence — input violates (doc_id, sent_id, "
                    "token_id) emission order; call with "
                    "presorted=False")
            for i in np.flatnonzero(new_sent):
                k = (doc[i], sent[i])
                if k in seen_sents:
                    raise ValueError(
                        "tag_model: sentence (doc_id=%r, sent_id=%r) "
                        "split non-contiguously in a partition — input "
                        "violates emission order; call with "
                        "presorted=False" % k)
                seen_sents.add(k)
            toks = pdf["token"].astype(str).tolist()
            prevs = [None if new_sent[i] else toks[i - 1] for i in range(n)]
            nexts = [toks[i + 1] if i + 1 < n and not new_sent[i + 1] else None
                     for i in range(n)]
            ti, ai = w.decode(toks, prevs, nexts, np.flatnonzero(new_sent))
            res = pdf.copy()
            res["_m_trig"] = tl[ti]
            res["_m_arg"] = al[ai]
            return res

        carry = None
        for pdf in batches:
            if carry is not None:
                pdf = pd.concat([carry, pdf], ignore_index=True)
                carry = None
            if not len(pdf):
                continue
            doc = pdf["doc_id"].to_numpy()
            sent = pdf["sent_id"].to_numpy()
            tail = (doc == doc[-1]) & (sent == sent[-1])
            n_tail = len(pdf) if tail.all() else int(tail[::-1].argmin())
            carry = pdf.iloc[len(pdf) - n_tail:].reset_index(drop=True)
            head = pdf.iloc[: len(pdf) - n_tail]
            if len(head):
                yield _block(head)
        if carry is not None and len(carry):
            yield _block(carry)

    df = tokens.mapInPandas(decode_stream, schema=out_schema)
    df = df.repartition(F.col("doc_id"))

    # JVM-side shape/regex argument classes + BIO assembly (shared
    # window semantics with tag_rules)
    from ..functions.regex import is_cve_token, is_version_token

    low = F.lower(F.col("token"))
    w = Window.partitionBy("doc_id").orderBy("sent_id", "token_id")
    same_sent = F.lag("sent_id", 1, -1).over(w) == F.col("sent_id")
    prev = F.when(same_sent, F.lag(low, 1, "").over(w)).otherwise(F.lit(""))
    # cheap scalar gates ahead of every regex (see ner.raw_ner note)
    tokc = F.col("token")
    has_digit = tokc != F.translate(tokc, "0123456789", "")
    is_money = (tokc.startswith("$") & tokc.rlike(r"^\$\d")) | (
        low.isin("million", "billion", "thousand")
        & same_sent
        & F.lag(tokc, 1, "").over(w).rlike(r"^\$?\d")
    )
    is_number = (has_digit & tokc.rlike(r"^\d[\d,]*$")
                 & ~prev.isin("cve", "v"))
    is_year = has_digit & tokc.rlike(r"^(19|20)\d\d$")

    arg_type = (
        F.when(tokc.startswith("CVE-") & is_cve_token(tokc), "CVE")
        .when(has_digit & is_version_token(tokc)
              & ~tokc.rlike(r"^\d+$"), "Version")
        .when(is_money, "Money")
        .when(is_year, "Time")
        .when(F.col("_m_arg") != "O", F.col("_m_arg"))
        .when(is_number, "Number")
        .otherwise(F.lit(None))
    )
    df = df.withColumn("_arg", arg_type)

    # general-noun fallback by per-doc dominant trigger type — the
    # reference applies this RULE after model predictions too
    # (generalnountrigger/scoreH, link_coref.py:898-920, :941-945),
    # so it belongs to both tagging providers.  Packed-key window over
    # the existing doc_id partitioning (shared with tag_rules) — no
    # per-doc frame is ever built or broadcast.
    from .tagging import with_dominant_trigger

    df = df.withColumn(
        "_trig_t", F.when(F.col("_m_trig") != "O", F.col("_m_trig"))
    )
    df = with_dominant_trigger(df, "_trig_t").drop("_trig_t")
    # consecutive same-type trigger tokens continue one nugget span
    # (I-) — the trained heads label every token of a multi-token gold
    # nugget, so without continuation each token would open its own
    # B- span and halve mention precision.  Continuation requires the
    # previous token to have actually EMITTED a trigger (same type,
    # not overridden by the argument conflict rule).
    prev_trig = F.when(same_sent, F.lag("_m_trig", 1).over(w))
    prev_was_trigger = (
        prev_trig.eqNullSafe(F.col("_m_trig"))
        & F.when(same_sent, F.lag("_arg", 1).over(w)).isNull()
    )
    df = df.withColumn(
        "trigger_tag",
        F.when(F.col("_arg").isNotNull(), F.lit("O"))
        .when((F.col("_m_trig") != "O") & prev_was_trigger,
              F.concat(F.lit("I-"), F.col("_m_trig")))
        .when(F.col("_m_trig") != "O", F.concat(F.lit("B-"), F.col("_m_trig")))
        .when(low.isin(config.GENERAL_NOUNS["general"])
              & F.col("_dominant").isNotNull(),
              F.concat(F.lit("B-"), F.col("_dominant")))
        .otherwise(F.lit("O")),
    ).drop("_dominant")
    prev_arg = F.when(same_sent, F.lag("_arg", 1).over(w))
    df = df.withColumn(
        "arg_tag",
        F.when(F.col("_arg").isNull(), F.lit("O"))
        .when(prev_arg.eqNullSafe(F.col("_arg")), F.concat(F.lit("I-"), F.col("_arg")))
        .otherwise(F.concat(F.lit("B-"), F.col("_arg"))),
    )
    return df.drop("_m_trig", "_m_arg", "_arg")
