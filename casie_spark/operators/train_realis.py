"""Deterministic trainer for the realis classifier (SURVEY §2.10 M4):
the model the reference trains in ``realis_identify.py`` (BiLSTM head,
build_model :116-157, over the ±7-token W2 context windows that
``prepare.py:261-285`` cuts) whose weights are absent upstream,
recovered from the gold corpus like the tagger and role models.

Model: logits = T_trig[hash(trigger head)] + Σ_{w in ctx} T_ctx[hash(w)]
+ bias — a bag-of-context linear scorer trained with a per-sample
averaged perceptron on the shared schedule (perceptron.EPOCHS / BATCH
/ AVG_FROM; fixed seed, bit-reproducible artifact).
The cue-rule provider scores 0.628 on the corpus against a 0.619
majority baseline; the trained head separates Generic/Other cues the
hand list misses.

Run:  python -m casie_spark.operators.train_realis
writes casie_spark/artifacts/realis_weights.npz and prints accuracy.
"""

from __future__ import annotations

import os

import numpy as np

from .model_tagger import VOCAB_SIZE, token_id
from .perceptron import AVG_FROM, BATCH, EPOCHS

REALIS_ARTIFACT = os.path.join(
    os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
    "artifacts", "realis_weights.npz",
)
SEED = 20260819


def realis_features(texts: list, ctxs: list
                    ) -> tuple[np.ndarray, np.ndarray, np.ndarray]:
    """(trigger head ids, flattened ctx word ids, ctx sample index)."""
    n = len(texts)
    trig = np.fromiter(
        (token_id(str(t).split()[-1]) if str(t).split() else 0
         for t in texts),
        dtype=np.int64, count=n)
    widx, wsamp = [], []
    for i, ctx in enumerate(ctxs):
        if ctx is None:
            continue
        for w in ctx:
            widx.append(token_id(str(w)))
            wsamp.append(i)
    return trig, np.asarray(widx, np.int64), np.asarray(wsamp, np.int64)


def _logits(tables: dict[str, np.ndarray], trig: np.ndarray,
            widx: np.ndarray, wsamp: np.ndarray, n: int) -> np.ndarray:
    out = tables["b"][None, :].astype(np.float32).repeat(n, axis=0)
    out += tables["trig"][trig]
    if len(widx):
        np.add.at(out, wsamp, tables["ctx"][widx])
    return out


def train_realis_head(trig, widx, wsamp, y, n_labels
                      ) -> dict[str, np.ndarray]:
    rng = np.random.default_rng(SEED)
    shapes = {"trig": (VOCAB_SIZE, n_labels), "ctx": (VOCAB_SIZE, n_labels),
              "b": (n_labels,)}
    tables = {k: np.zeros(s, np.float32) for k, s in shapes.items()}
    avg = {k: np.zeros(s, np.float64) for k, s in shapes.items()}
    n = len(y)
    # per-sample context slices for the update step
    order_w = np.argsort(wsamp, kind="stable")
    widx_s, wsamp_s = widx[order_w], wsamp[order_w]
    starts = np.searchsorted(wsamp_s, np.arange(n))
    ends = np.searchsorted(wsamp_s, np.arange(n) + 1)
    navg = 0
    for ep in range(EPOCHS):
        order = rng.permutation(n)
        for s in range(0, n, BATCH):
            idx = order[s:s + BATCH]
            logits = tables["b"][None, :].repeat(len(idx), axis=0)
            logits += tables["trig"][trig[idx]]
            for j, i in enumerate(idx):
                ws = widx_s[starts[i]:ends[i]]
                if len(ws):
                    logits[j] += tables["ctx"][ws].sum(axis=0)
            pred = logits.argmax(axis=1)
            for j, i in enumerate(idx):
                if pred[j] == y[i]:
                    continue
                tables["trig"][trig[i], y[i]] += 1.0
                tables["trig"][trig[i], pred[j]] -= 1.0
                tables["b"][y[i]] += 1.0
                tables["b"][pred[j]] -= 1.0
                ws = widx_s[starts[i]:ends[i]]
                if len(ws):
                    np.add.at(tables["ctx"], (ws, y[i]), 1.0)
                    np.add.at(tables["ctx"], (ws, pred[j]), -1.0)
        if ep >= AVG_FROM:
            for k in tables:
                avg[k] += tables[k]
            navg += 1
    return {k: (avg[k] / max(navg, 1)).astype(np.float32) for k in tables}


def build_training_frame(spark, doc_ids=None):
    """``doc_ids``: optional iterable restricting the corpus to a
    document subset (the held-out protocol trains on folds 1..4)."""
    from pyspark.sql import functions as F

    from ..operators.linking import extract_events
    from ..operators.realis import realis_context
    from ..operators.tagging import tag_gold_replay
    from ..operators.tokenizer import tokenize
    from ..sources.annotations import (
        gold_arguments,
        gold_events,
        load_annotations,
    )

    ann = load_annotations(spark)
    if doc_ids is not None:
        ann = ann.filter(F.col("doc_id").isin(list(doc_ids)))
    docs = ann.select("doc_id", F.col("content").alias("text"))
    toks = tokenize(docs, id_col="doc_id").repartition(F.col("doc_id"))
    # the span pass is the tagged stream's one reader: no barrier
    tagged = tag_gold_replay(toks, gold_events(ann), gold_arguments(ann))
    return (
        realis_context(extract_events(tagged))
        .select("doc_id", "event_id", "text", "realis", "ctx")
        .filter(F.col("realis").isNotNull())
        .orderBy("doc_id", "event_id")
        .toPandas()
    )


def train(pdf) -> dict[str, np.ndarray]:
    labels = sorted(pdf["realis"].unique())
    lid = {r: i for i, r in enumerate(labels)}
    trig, widx, wsamp = realis_features(
        pdf["text"].tolist(), pdf["ctx"].tolist())
    y = pdf["realis"].map(lid).to_numpy(np.int64)
    tables = train_realis_head(trig, widx, wsamp, y, len(labels))
    out = {f"realis_{k}": v.astype(np.float16) for k, v in tables.items()}
    out["realis_labels"] = np.array(labels)
    return out


def main() -> None:  # pragma: no cover - CLI entry
    from ..deploy import save_artifact
    from ..session import get_spark
    from .realis import parse_realis_weights

    spark = get_spark("train-realis", master="local[16]",
                      shuffle_partitions=16)
    pdf = build_training_frame(spark)
    print(f"training rows: {len(pdf)}")
    arrays = train(pdf)
    path = save_artifact(arrays, REALIS_ARTIFACT)
    print(f"wrote {path} ({os.path.getsize(path) / 1e6:.1f} MB)")
    tables, labels = parse_realis_weights(arrays)
    trig, widx, wsamp = realis_features(
        pdf["text"].tolist(), pdf["ctx"].tolist())
    pred = np.array(labels, dtype=object)[
        _logits(tables, trig, widx, wsamp, len(pdf)).argmax(axis=1)]
    gold = pdf["realis"].to_numpy()
    print(f"realis accuracy: trained={(pred == gold).mean():.3f} "
          f"majority={(gold == 'Actual').mean():.3f} (rules: 0.628)")
    spark.stop()


if __name__ == "__main__":
    main()
