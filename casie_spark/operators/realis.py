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

Here the label is scored in place, on the row that carries the event,
so there is no J6 join-back:

- ``realis_context`` adds the W2 window to the events frame as an
  ordered token array, cut from the ``ctx_window`` the span pass
  (``linking.extract_spans``) collects over a range window on each
  event's first token — no join back to the token stream;
- a provider maps the (trigger text, ctx) columns to one label Column.
  ``classify_realis_rules`` is the model-free provider: deterministic
  lexical cues for the two passes (modal/conditional cues -> Other,
  habitual/generic cues or plural trigger without specifics ->
  Generic, else Actual).  The reference's dense-softmax weights are
  absent upstream (.MISSING_LARGE_BLOBS); the trained provider
  (``trained_realis_provider``, weights from operators/train_realis.py)
  slots in behind the same column contract as one broadcast-weight
  pandas_udf over the per-event context rows (event-scale, not
  token-scale);
- ``with_realis`` is ``realis_context`` plus one ``withColumn``.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import Column, DataFrame, SparkSession
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


def realis_context(events: DataFrame,
                   width: int = CONTEXT_WIDTH) -> DataFrame:
    """events -> events + ``ctx``, the lowercased tokens within ±width
    of the nugget's first token, in sentence order (the W2 window).
    Cut from the ``ctx_window`` the span pass carries on each event
    (``linking.extract_spans``), which is wide enough for every edge
    repair shift, so ``first_token_id`` may already be repaired; the
    window column is dropped."""
    near = F.filter("ctx_window", lambda t: F.abs(
        t["token_id"] - F.col("first_token_id")) <= width)
    return events.withColumn(
        "ctx", F.transform(near, lambda t: t["w"])).drop("ctx_window")


def _has_any(ctx, words):
    return F.size(F.array_intersect(ctx, F.array(*[F.lit(w) for w in words]))) > 0


def classify_realis_rules(text: Column, ctx: Column) -> Column:
    """The realis label of a trigger ``text`` and its W2 window ``ctx``,
    by the two-pass cue rules.

    Pass 1 Generic-vs-NotGeneric: habitual cues, or a plural trigger
    with no number/date anywhere in the window (a generic plural claim
    has no specifics).  Pass 2 Actual-vs-Other on the remainder:
    modal/conditional cues -> Other, else Actual."""
    has_digit = F.exists(ctx, lambda w: w.rlike(r"\d"))
    plural_trig = F.lower(text).rlike(r"[^s]s$")
    generic = _has_any(ctx, GENERIC_CUES) | (plural_trig & ~has_digit)
    other = _has_any(ctx, OTHER_CUES)
    return (F.when(generic, "Generic")
            .when(other, "Other")
            .otherwise("Actual"))


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
    cue rules / 0.619 majority.  One broadcast-weight pandas_udf."""
    def provider(text: Column, ctx: Column) -> Column:
        w = weights if weights is not None else load_realis_weights()
        if w is None:  # pragma: no cover - artifact is committed
            return classify_realis_rules(text, ctx)
        bc = SparkSession.active().sparkContext.broadcast(w)

        @pandas_udf("string")
        def predict(txt: pd.Series, ctx: pd.Series) -> pd.Series:
            from .train_realis import _logits, realis_features

            tables, labels = bc.value
            trig, widx, wsamp = realis_features(txt.tolist(), ctx.tolist())
            out = np.array(labels, dtype=object)[
                _logits(tables, trig, widx, wsamp, len(txt)).argmax(axis=1)]
            return pd.Series(out)

        return predict(text, ctx)

    return provider


def with_realis(events: DataFrame,
                provider=classify_realis_rules) -> DataFrame:
    """events -> + realis, scored in place on the context frame (no
    J6 join-back).  ``provider`` maps (text, ctx) columns to the label
    column; an event with an empty window, or a null label, is
    ``Actual``."""
    df = realis_context(events)
    label = F.when(F.size("ctx") > 0, provider(F.col("text"), F.col("ctx")))
    return df.withColumn(
        "realis", F.coalesce(label, F.lit("Actual"))).drop("ctx")
