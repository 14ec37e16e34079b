"""Realis classification (SURVEY §2.10 M4): label each event nugget
Actual / Generic / Other.

Reference shape (rebuilt, not ported): realis is decided over the
nugget plus a ±7-token context window (prepare.features_realis_sentence,
prepare.py:261-285 — W2 in SURVEY §2.5) in TWO binary passes —
Generic-vs-NotGeneric, then Actual-vs-Other on the remainder
(realis_identify.py:44-57 label folding; two-pass orchestration
link_coref.py:2017-2026) — and the predictions are joined back onto
events by their character offset (realisassign link_coref.py:1459-1483,
J6 in SURVEY §2.3).

Here:

- ``realis_context`` materializes the W2 window as an ordered token
  array per event (a range join events×tokens on the doc-partitioned
  stream + one groupBy — events are ~100x smaller than tokens);
- ``classify_realis_rules`` is the model-free provider: deterministic
  lexical cues for the two passes (modal/conditional cues -> Other,
  habitual/generic cues or plural trigger without specifics ->
  Generic, else Actual).  The reference's dense-softmax weights are
  absent upstream (.MISSING_LARGE_BLOBS); a trained model slots in
  behind the same (doc_id, event_id -> realis) contract exactly like
  operators.model_tagger does for tagging;
- ``with_realis`` composes both and joins the prediction back (J6).

The cue-rule provider is all JVM column expressions — no UDF; the
trained provider (``trained_realis_provider``, weights from
operators/train_realis.py) is one broadcast-weight pandas_udf over the
already-aggregated per-event context rows (event-scale, not
token-scale).
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.functions import pandas_udf

CONTEXT_WIDTH = 7  # prepare.py:261-285: lower/upper = y ± 7

# pass-1 cues: habitual/generic statements
GENERIC_CUES = ["often", "usually", "typically", "generally", "commonly",
                "common", "many", "most", "increasingly", "rising"]
# pass-2 cues: hypothetical / future / conditional
OTHER_CUES = ["could", "would", "may", "might", "can", "should", "will",
              "if", "unless", "potential", "potentially", "possible",
              "planned", "risk", "wants", "trying", "attempt"]


def realis_context(events: DataFrame, tagged: DataFrame,
                   width: int = CONTEXT_WIDTH) -> DataFrame:
    """events + tokens -> (doc_id, event_id, ctx) with ctx = the
    lowercased tokens within ±width of the nugget's first token, in
    sentence order (the W2 window)."""
    ev = events.select(
        F.col("doc_id").alias("_e_doc"), "event_id",
        F.col("sent_id").alias("_e_sent"),
        F.col("first_token_id").alias("_e_tid"),
    )
    toks = tagged.select(
        "doc_id", "sent_id", "token_id", F.lower("token").alias("_w")
    )
    j = toks.join(
        ev,
        (F.col("doc_id") == F.col("_e_doc"))
        & (F.col("sent_id") == F.col("_e_sent"))
        & (F.col("token_id") >= F.col("_e_tid") - width)
        & (F.col("token_id") <= F.col("_e_tid") + width),
        "inner",
    )
    return (
        j.groupBy("doc_id", "event_id")
        .agg(
            F.array_sort(
                F.collect_list(F.struct("token_id", "_w"))
            ).alias("_ord"),
        )
        .select(
            "doc_id", "event_id",
            F.transform("_ord", lambda s: s["_w"]).alias("ctx"),
        )
    )


def _has_any(ctx, words):
    return F.size(F.array_intersect(ctx, F.array(*[F.lit(w) for w in words]))) > 0


def classify_realis_rules(ctx_df: DataFrame, events: DataFrame) -> DataFrame:
    """(doc_id, event_id, realis) via the two-pass cue rules.

    Pass 1 Generic-vs-NotGeneric: habitual cues, or a plural trigger
    with no number/date anywhere in the window (a generic plural claim
    has no specifics).  Pass 2 Actual-vs-Other on the remainder:
    modal/conditional cues -> Other, else Actual."""
    ev = events.select(
        "doc_id", "event_id", F.lower(F.col("text")).alias("_trig"),
    )
    df = ctx_df.join(ev, ["doc_id", "event_id"], "inner")
    has_digit = F.exists("ctx", lambda w: w.rlike(r"\d"))
    plural_trig = F.col("_trig").rlike(r"[^s]s$")
    generic = _has_any(F.col("ctx"), GENERIC_CUES) | (plural_trig & ~has_digit)
    other = _has_any(F.col("ctx"), OTHER_CUES)
    return df.select(
        "doc_id", "event_id",
        F.when(generic, "Generic")
        .when(other, "Other")
        .otherwise("Actual")
        .alias("realis"),
    )


def parse_realis_weights(arrays):
    """Artifact arrays -> (tables, labels) for the realis head."""
    tables = {k[7:]: arrays[k].astype(np.float32)
              for k in arrays if k.startswith("realis_")
              and k != "realis_labels"}
    return tables, [str(s) for s in arrays["realis_labels"]]


def load_realis_weights(path: str | None = None):
    """(tables, labels) from the trained realis artifact
    (operators/train_realis.py), or None when absent.  Cached per
    (process, path) by deploy.load_artifact."""
    from ..deploy import load_artifact
    from .train_realis import REALIS_ARTIFACT

    return load_artifact(path or REALIS_ARTIFACT, parse_realis_weights)


def trained_realis_provider(weights=None):
    """Trained M4 provider (same signature as classify_realis_rules):
    bag-of-context + trigger-head linear head recovered from the gold
    corpus (train_realis.py) — corpus accuracy 0.922 vs 0.628 for the
    cue rules / 0.619 majority."""
    def provider(ctx_df: DataFrame, events: DataFrame) -> DataFrame:
        w = weights if weights is not None else load_realis_weights()
        if w is None:  # pragma: no cover - artifact is committed
            return classify_realis_rules(ctx_df, events)
        bc = ctx_df.sparkSession.sparkContext.broadcast(w)
        ev = events.select("doc_id", "event_id",
                           F.col("text").alias("_trig_text"))
        df = ctx_df.join(ev, ["doc_id", "event_id"], "inner")

        @pandas_udf("string")
        def predict(txt: pd.Series, ctx: pd.Series) -> pd.Series:
            from .train_realis import _logits, realis_features

            tables, labels = bc.value
            trig, widx, wsamp = realis_features(txt.tolist(), ctx.tolist())
            out = np.array(labels, dtype=object)[
                _logits(tables, trig, widx, wsamp, len(txt)).argmax(axis=1)]
            return pd.Series(out)

        return df.select(
            "doc_id", "event_id",
            predict("_trig_text", "ctx").alias("realis"))

    return provider


def with_realis(events: DataFrame, tagged: DataFrame,
                provider=classify_realis_rules) -> DataFrame:
    """events -> + realis (J6 assignment join).  ``provider`` is the
    classification stage; swap in a broadcast-weight model provider
    with the same signature for trained inference."""
    preds = provider(realis_context(events, tagged), events)
    out = events.join(preds, ["doc_id", "event_id"], "left")
    return out.withColumn("realis", F.coalesce("realis", F.lit("Actual")))
