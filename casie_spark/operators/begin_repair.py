"""Edge-repair stage (mode=model): snap predicted argument and trigger
span edges onto the gold annotation convention.

The reference's BiLSTM-CRF span decoder learns the corpus' left-edge
convention (include the determiner of the NP: nug_arg_detection.py
trains on the gold BIO tags directly); the averaged-perceptron
substitute under-includes it, costing ~9 points of exact-begin recall
while the span itself is found (see train_begin.py for the measured
decomposition).  This stage recovers the edge with trained 4-class
shift heads over surface context on the EVENT/ARG-scale span frames:
a begin head and a mirrored end head per span kind.  Feature ids are
JVM crc32/shape expressions (no strings reach Python, no Python
hashing), one slim pandas_udf per span frame turns the int ids into
shifts, and all edits are JVM expressions.  :func:`repair_edges` is
the one entry point (``pipeline.span_frames`` calls it per span
kind).  No token-stream work: the neighbor context rides the one span
pass (``linking.extract_spans``) on the existing doc_id exchange.

Only mode=model pipelines run it; rules/gold modes keep byte parity
with the model-free reference semantics.
"""

from __future__ import annotations

import os

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import WindowSpec

from .linking import extract_spans, spans_of

# token shifts applied to a span's begin, in model class order
SHIFTS = (-2, -1, 0, 1)
# token shifts applied to a span's END (r3 VERDICT next #5 — the
# symmetric right-edge head): -1 drops the last token, +1/+2 absorb
# following tokens.  Class order mirrors SHIFTS (outside-2, outside-1,
# keep, inside-1) so the same trainer fits both edges.
END_SHIFTS = (2, 1, 0, -1)

BEGIN_ARTIFACT = os.path.join(
    os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
    "artifacts", "begin_weights.npz",
)

# span-pass context read at a span's FIRST token, {column: token-level
# column} (consumed and dropped by the begin head of repair_edges) ...
_START_CARRY = {"_tok": "token", "_p1": "_p1", "_p1b": "_p1b",
                "_p2": "_p2", "_p2b": "_p2b", "_nx": "_nx", "_nxb": "_nxb"}
_CTX_COLS = tuple(_START_CARRY)
# ... and at its LAST token (consumed and dropped by the end head): the
# last token, the two following ones and the one before it
_END_CARRY = {"_ltok": "token", "_ln1": "_nx", "_ln1b": "_nxb",
              "_ln2": "_n2", "_ln2b": "_n2b",
              "_lp1": "_p1", "_lp1b": "_p1b"}
_END_CTX_COLS = tuple(_END_CARRY)


# artifact key prefix -> weights-dict key; "aend"/"tend" are the
# right-edge heads (distinct prefixes so "arg_*" parsing stays exact)
_HEAD_KEYS = {"arg": "arg", "trig": "trig",
              "aend": "arg_end", "tend": "trig_end"}


# ---------------------------------------------------------------------
# JVM-native shift scoring (r5): the edge heads are linear summed-gather
# models over crc32-hashed surface ids — exactly the shape the linker's
# r4 JVM rewrite handled.  Feature ids become crc32 expressions
# (zlib.crc32 == java.util.zip.CRC32, bit-parity-probed incl. unicode),
# and ONE slim pandas_udf per span frame turns the int ids into the
# shifts (numpy gathers + argmax; no strings cross the Arrow boundary,
# no Python hashing).  Pure-JVM scoring was built and measured twice
# and lost both times — see _with_shifts_jvm's docstring for the
# receipts.  Differential parity vs the Python featurizer + float64
# perceptron.gather_logits is gated in test_begin_repair.
# ---------------------------------------------------------------------

def _hid_col(prefix: str, *cols):
    """JVM twin of train_begin._h: token_id('\\x1f'.join(parts)) with
    None -> '' (begin_features' s() normalization)."""
    from .model_tagger import VOCAB_SIZE

    parts = [F.lit(prefix)] + [F.coalesce(c, F.lit("")) for c in cols]
    return F.lit(2) + F.pmod(
        F.crc32(F.encode(F.lower(F.concat_ws("\x1f", *parts)), "UTF-8")),
        F.lit(VOCAB_SIZE - 2))


def shape_id_col(c):
    """JVM twin of model_tagger.shape_id (10-class word shape);
    bit-parity-tested against the Python form in test_begin_repair."""
    tok = F.coalesce(c, F.lit(""))
    has_digit = tok.rlike(r"\p{Nd}")
    first = F.substring(tok, 1, 1)

    def cased(s):
        return F.lower(s) != F.upper(s)

    return (
        F.when(tok == "", 0)
        .when(tok.startswith("CVE-"), 9)
        .when(has_digit & tok.contains("."), 8)
        .when(tok.rlike(r"^\p{Nd}+$"), 7)
        .when(has_digit, 6)
        .when(tok.contains("$"), 5)
        .when((tok == F.upper(tok)) & cased(tok) & (F.length(tok) > 1), 4)
        .when((first == F.upper(first)) & cased(first), 3)
        .when((tok == F.lower(tok)) & cased(tok), 2)
        .when(~tok.rlike(r"[\p{L}\p{Nd}]"), 1)
        .otherwise(0)
    )


def _edge_id_cols(label_col: str, t0: str, p1: str, p2: str, nx: str
                  ) -> dict:
    """The ten hashed feature-id expressions of begin_features, as JVM
    columns (keyed like train_begin._KEYS)."""
    a, t = F.col(label_col), F.col(t0)
    p1c, p2c, nxc = F.col(p1), F.col(p2), F.col(nx)
    return {
        "at": _hid_col("a", a),
        "t0": _hid_col("t", t),
        "p1": _hid_col("1", p1c),
        "p2": _hid_col("2", p2c),
        "nx": _hid_col("n", nxc),
        "at_t0": _hid_col("A", a, t),
        "at_p1": _hid_col("B", a, p1c),
        "p1_t0": _hid_col("C", p1c, t),
        "at_p1_t0": _hid_col("D", a, p1c, t),
        "sh_p1": shape_id_col(p1c),
    }


def _with_shifts_jvm(df: DataFrame, heads: list, label_col: str
                     ) -> DataFrame:
    """Append one predicted edge-shift column per head in ``heads``, a
    list of (tables, context columns (t0, p1, p2, nx), shift classes,
    output column).

    Hybrid design, each alternative measured (r5): the 10 hashed
    feature ids per head are JVM crc32/shape expressions — no strings
    ever reach Python and no Python hashing runs — and ONE slim
    pandas_udf per span frame turns the int ids of every head into
    shifts (numpy table gathers + argmax over the broadcast weights,
    float64 in _KEYS order — bit-identical to the trainer's scorer).
    The two pure-JVM alternatives lose: one broadcast join per table
    costs ~20 AQE broadcast stages of scheduling latency (5.0 s vs
    this design's ~1 s standalone), and stack+single-join+sum-agg pays
    a span-scale join-back plus a 20x explode (5.2 s).  The id columns
    are int64 — the Arrow round-trip ships 20 ints per span instead of
    9 strings, and the UDF body is pure gathers."""
    from pyspark.sql.functions import pandas_udf

    from .perceptron import gather_logits
    from .train_begin import _KEYS

    id_exprs = []
    for _, cols, _, _ in heads:
        ids = _edge_id_cols(label_col, *cols)
        id_exprs += [ids[k] for k in _KEYS]
    bc = df.sparkSession.sparkContext.broadcast(
        [(tables, shifts) for tables, _, shifts, _ in heads])
    names = [name for *_, name in heads]
    n = len(_KEYS)

    @pandas_udf(", ".join(f"{name} int" for name in names))
    def _shift_ids(*id_cols: pd.Series) -> pd.DataFrame:
        ids = [c.to_numpy() for c in id_cols]
        out = {}
        for h, (name, (tables, shifts)) in enumerate(zip(names, bc.value)):
            logits = gather_logits(tables, dict(zip(_KEYS, ids[h * n:])),
                                   _KEYS, np.float64)
            out[name] = np.asarray(shifts, np.int32)[logits.argmax(axis=1)]
        return pd.DataFrame(out)

    return (df.withColumn("_shifts", _shift_ids(*id_exprs))
            .select("*", "_shifts.*").drop("_shifts"))


def parse_begin_weights(arrays):
    """Artifact arrays -> {"arg": tables, "trig": tables[, "arg_end":
    tables, "trig_end": tables]} (one shift head per span kind and
    edge, keyed by the ``_HEAD_KEYS`` prefixes), or None when empty."""
    out = {}
    for prefix, head in _HEAD_KEYS.items():
        tables = {k[len(prefix) + 1:]: arrays[k].astype(np.float32)
                  for k in arrays if k.startswith(prefix + "_")}
        if tables:
            out[head] = tables
    return out or None


def load_begin_weights(path: str | None = None):
    """The trained edge-repair heads (operators/train_begin.py — argument
    spans keyed by arg_type, trigger spans by subtype), or None when
    absent.  Cached per (process, path) by deploy.load_artifact."""
    from ..deploy import load_artifact

    return load_artifact(path or BEGIN_ARTIFACT, parse_begin_weights)


def edge_context(w: WindowSpec) -> tuple[dict, list]:
    """The edge heads' context in the span pass (``extract_spans(...,
    context=True)``): each token's sentence neighbors over ``w`` —
    previous/previous-2 and next/next-2 token text + begin, nulled
    across a sentence edge — and the span aggregates reading them at
    the first token (``_CTX_COLS``) and last token
    (``_END_CTX_COLS``).  _nx is the token AFTER the first one, the
    span's own second token when n_tokens > 1 (the +1-shift target);
    _lp1 mirrors it at the end (the end head's -1 target)."""
    cols = {}
    for name, near, k in (("_p1", F.lag, 1), ("_p2", F.lag, 2),
                          ("_nx", F.lead, 1), ("_n2", F.lead, 2)):
        same = near("sent_id", k).over(w) == F.col("sent_id")
        cols[name] = F.when(same, near("token", k).over(w))
        cols[name + "b"] = F.when(same, near("begin", k).over(w))
    aggs = ([F.min_by(src, "token_id").alias(out)
             for out, src in _START_CARRY.items()]
            + [F.max_by(src, "token_id").alias(out)
               for out, src in _END_CARRY.items()])
    return cols, aggs


def arguments_with_context(tagged: DataFrame) -> DataFrame:
    """extract_arguments plus the edge context (:func:`edge_context`)."""
    return spans_of(extract_spans(tagged, context=True), "argument")


def events_with_context(tagged: DataFrame) -> DataFrame:
    """extract_events plus the edge context (:func:`edge_context`)."""
    return spans_of(extract_spans(tagged, context=True), "event")


def _apply_begin(df: DataFrame) -> DataFrame:
    """JVM-side begin edits for the predicted begin shift ``_shb``:
    guard unavailable targets to keep-as-is, then rewrite text / begin
    / first_token_id / n_tokens."""
    sh = F.col("_shb")

    # guard: fall back to 0 when the shift target does not exist
    df = df.withColumn(
        "_shb",
        F.when((sh == -1) & F.col("_p1b").isNotNull(), -1)
        .when((sh == -2) & F.col("_p2b").isNotNull()
              & F.col("_p1b").isNotNull(), -2)
        .when((sh == 1) & F.col("_nxb").isNotNull()
              & (F.col("n_tokens") > 1), 1)
        .otherwise(0))

    pad1 = F.expr("repeat(' ', begin - _p1b - length(_p1))")
    pad2 = F.expr("repeat(' ', _p1b - _p2b - length(_p2))")
    new_text = (
        F.when(sh == -1, F.concat("_p1", pad1, "text"))
        .when(sh == -2,
              F.concat("_p2", pad2, "_p1", pad1, "text"))
        .when(sh == 1,
              F.expr("substring(text, _nxb - begin + 1)"))
        .otherwise(F.col("text")))
    new_begin = (
        F.when(sh == -1, F.col("_p1b"))
        .when(sh == -2, F.col("_p2b"))
        .when(sh == 1, F.col("_nxb"))
        .otherwise(F.col("begin")))
    return (
        df.withColumn("text", new_text)
        .withColumn("begin", new_begin)
        .withColumn("first_token_id", F.col("first_token_id") + sh)
        .withColumn("n_tokens", F.col("n_tokens") - sh)
        .drop("_shb")
    )


def _apply_end(df: DataFrame) -> DataFrame:
    """JVM-side end edits for the predicted end shift ``_she`` (guard +
    rewrite text / end / n_tokens).  Reads ``begin`` and ``n_tokens``
    from the frame, so after :func:`_apply_begin` the guards and the
    substring arithmetic see the begin-adjusted values."""
    sh = F.col("_she")

    # guard: keep-as-is when the shift target does not exist
    df = df.withColumn(
        "_she",
        F.when((sh == 1) & F.col("_ln1b").isNotNull(), 1)
        .when((sh == 2) & F.col("_ln1b").isNotNull()
              & F.col("_ln2b").isNotNull(), 2)
        .when((sh == -1) & F.col("_lp1b").isNotNull()
              & (F.col("n_tokens") > 1), -1)
        .otherwise(0))

    n1_end = F.col("_ln1b") + F.length("_ln1")
    n2_end = F.col("_ln2b") + F.length("_ln2")
    lp1_end = F.col("_lp1b") + F.length("_lp1")
    pad1 = F.expr("repeat(' ', _ln1b - end)")
    pad2 = F.expr("repeat(' ', _ln2b - (_ln1b + length(_ln1)))")
    new_text = (
        F.when(sh == 1, F.concat("text", pad1, "_ln1"))
        .when(sh == 2,
              F.concat("text", pad1, "_ln1", pad2, "_ln2"))
        .when(sh == -1,
              F.expr("substring(text, 1, _lp1b + length(_lp1) - begin)"))
        .otherwise(F.col("text")))
    new_end = (
        F.when(sh == 1, n1_end)
        .when(sh == 2, n2_end)
        .when(sh == -1, lp1_end)
        .otherwise(F.col("end")))
    return (
        df.withColumn("text", new_text)
        .withColumn("end", new_end)
        .withColumn("n_tokens", F.col("n_tokens") + sh)
        .drop("_she")
    )


def repair_edges(spans: DataFrame, begin_w, end_w,
                 label_col: str = "arg_type") -> DataFrame:
    """Snap span edges onto the gold convention: the begin head
    (``begin_w``, SHIFTS classes over the first-token context) and the
    end head (``end_w``, END_SHIFTS classes over the mirrored
    last-token context: t0 = last token, p1 = adjacent-outside _ln1,
    p2 = outside-2 _ln2, nx = adjacent-inside _lp1, so train_begin
    fits both edges with one trainer).  ``spans`` is a span frame with
    the edge context (``extract_spans(..., context=True)``);
    ``label_col`` is "arg_type" for argument spans and "subtype" for
    trigger spans.  A head whose tables are None does not run.

    One pandas_udf scores whichever heads are present
    (:func:`_with_shifts_jvm`): the end head's features are untouched
    by the begin edit, so both shifts are predicted before either edit
    applies.  Only the guards are order-sensitive, and they apply
    begin then end.  A predicted shift whose target is unavailable
    (sentence edge; a single-token span for begin +1 / end -1) falls
    back to keep-as-is.  Rebuilt text pads inter-token gaps with
    spaces — begins/ends stay exact (they come from the token stream),
    only non-space whitespace inside the gap is approximated.  Each
    head drops its own context columns, so a begin-only repair keeps
    the end context an end head trains on (train_begin).

    Overlap behavior (r4 ADVICE, MEASURED r5): a left shift may absorb
    the I- tail of the PRECEDING predicted span, so two repaired spans
    can overlap.  A guard that suppressed those shifts was built and
    measured head-on: it was slightly WORSE everywhere — exact-(begin,
    end) F1 nugget 0.789 -> 0.783, argument 0.796 -> 0.785 — because
    the blocked shifts were mostly CORRECT repairs whose neighbor tag
    was itself a tagging error (receipts in BASELINE.md).

    Bit-identical to the Python scorer (test_begin_repair differential
    gate; the full-corpus edge audit regenerates
    artifacts/edge_audit.json byte-for-byte)."""
    heads = [head for head in (
        (begin_w, ("_tok", "_p1", "_p2", "_nx"), SHIFTS, "_shb"),
        (end_w, ("_ltok", "_ln1", "_ln2", "_lp1"), END_SHIFTS, "_she"),
    ) if head[0] is not None]
    if not heads:
        return spans
    df = _with_shifts_jvm(spans, heads, label_col)
    if begin_w is not None:
        df = _apply_begin(df).drop(*_CTX_COLS)
    if end_w is not None:
        df = _apply_end(df).drop(*_END_CTX_COLS)
    return df
