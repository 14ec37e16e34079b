"""Deterministic trainer for the role-phrase model (SURVEY §2.10 M5 /
P4): the classifier the reference routes AmbiguousList (event-subtype,
argument-type) pairs through (role_phrase.py BiLSTM-attention; its
blobs are absent upstream like the taggers').

The gold corpus carries every argument's role, so the capability is
recovered the same way as the taggers: a summed-gather linear model —
tables for the (subtype, arg_type) pair, the hashed argument HEAD word
(last token, the reference's headentity, prepare.py:183-189), the
hashed first word, and a bias — trained by the same summed-gather
averaged perceptron (operators/perceptron.py), fixed seed/schedule,
bit-reproducible artifact.

Run:  python -m casie_spark.operators.train_roles
writes casie_spark/artifacts/role_weights.npz and prints accuracy
(the deterministic first-legal-role fallback is the baseline).
"""

from __future__ import annotations

import os

import numpy as np

from .. import config
from .model_tagger import VOCAB_SIZE, token_id
from .perceptron import gather_logits, train_head

ROLE_ARTIFACT = os.path.join(
    os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
    "artifacts", "role_weights.npz",
)
SEED = 20260818
ROLE_KEYS = ("pair", "head", "first")  # gather order

SUBTYPES = list(config.EVENT_SUBTYPES)
ARG_TYPES = sorted({a for v in config.PAIR.values() for a in v})


def pair_id(subtype: str, arg_type: str) -> int:
    s = SUBTYPES.index(subtype) if subtype in SUBTYPES else len(SUBTYPES)
    a = ARG_TYPES.index(arg_type) if arg_type in ARG_TYPES else len(ARG_TYPES)
    return s * (len(ARG_TYPES) + 1) + a


N_PAIRS = (len(SUBTYPES) + 1) * (len(ARG_TYPES) + 1)


def role_features(subtypes: list, arg_types: list, texts: list
                  ) -> dict[str, np.ndarray]:
    """Shared train/inference featurizer."""
    n = len(texts)

    def head(t):
        words = str(t).split()
        return token_id(words[-1]) if words else 0

    def first(t):
        words = str(t).split()
        return token_id(words[0]) if words else 0

    return {
        "pair": np.fromiter(
            (pair_id(s, a) for s, a in zip(subtypes, arg_types)),
            dtype=np.int64, count=n),
        "head": np.fromiter((head(t) for t in texts), dtype=np.int64, count=n),
        "first": np.fromiter((first(t) for t in texts), dtype=np.int64, count=n),
    }


def build_training_frame(spark, doc_ids=None):
    """``doc_ids``: optional iterable restricting the gold arguments to
    a document subset (the held-out protocol trains on folds 1..4)."""
    from pyspark.sql import functions as F

    from ..sources.annotations import gold_arguments, load_annotations

    ann = load_annotations(spark)
    if doc_ids is not None:
        ann = ann.filter(F.col("doc_id").isin(list(doc_ids)))
    return (
        gold_arguments(ann)
        .filter(F.col("role").isNotNull())
        .select("doc_id", "event_index", "arg_index", "subtype",
                "arg_type", "text", "role")
        .orderBy("doc_id", "event_index", "arg_index")
        .toPandas()
    )


def train(pdf) -> dict[str, np.ndarray]:
    labels = sorted(pdf["role"].unique())
    lid = {r: i for i, r in enumerate(labels)}
    f = role_features(pdf["subtype"].tolist(), pdf["arg_type"].tolist(),
                      pdf["text"].tolist())
    y = pdf["role"].map(lid).to_numpy(np.int64)
    n = len(labels)
    shapes = {**{k: (N_PAIRS if k == "pair" else VOCAB_SIZE, n)
                 for k in ROLE_KEYS}, "b": (n,)}
    tables = train_head(f, y, shapes, SEED)
    out = {f"role_{k}": v.astype(np.float16) for k, v in tables.items()}
    out["role_labels"] = np.array(labels)
    return out


def main() -> None:  # pragma: no cover - CLI entry
    from ..deploy import save_artifact
    from ..session import get_spark
    from .roles import parse_role_weights

    spark = get_spark("train-roles", master="local[8]", shuffle_partitions=8)
    pdf = build_training_frame(spark)
    print(f"training rows: {len(pdf)}")
    arrays = train(pdf)
    path = save_artifact(arrays, ROLE_ARTIFACT)
    print(f"wrote {path} ({os.path.getsize(path) / 1e6:.1f} MB)")

    # accuracy: trained vs the deterministic first-legal-role fallback
    tables, labels = parse_role_weights(arrays)
    f = role_features(pdf["subtype"].tolist(), pdf["arg_type"].tolist(),
                      pdf["text"].tolist())
    pred = np.array(labels, dtype=object)[
        gather_logits(tables, f, ROLE_KEYS).argmax(axis=1)]
    acc = (pred == pdf["role"].to_numpy()).mean()
    amb = pdf.apply(
        lambda r: r["arg_type"] in config.AMBIGUOUS_LIST.get(r["subtype"], []),
        axis=1).to_numpy()
    det = pdf.apply(
        lambda r: (config.ROLE_PAIR.get(r["subtype"], {})
                   .get(r["arg_type"], [None])[0]), axis=1).to_numpy()
    det_acc = (det == pdf["role"].to_numpy()).mean()
    print(f"role accuracy: trained={acc:.3f} deterministic={det_acc:.3f}")
    print(f"ambiguous subset: trained={(pred[amb] == pdf['role'].to_numpy()[amb]).mean():.3f} "
          f"deterministic={(det[amb] == pdf['role'].to_numpy()[amb]).mean():.3f}")
    spark.stop()


if __name__ == "__main__":
    main()
