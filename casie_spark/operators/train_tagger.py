"""Deterministic trainer for the model tagger's weights (SURVEY §2.10
M1/M2): a linear context-feature classifier fit on the 1,000
gold-annotated CASIE articles.

The reference trains BiLSTM-CRF models (nug_arg_detection.py:111-208)
whose weight blobs are absent upstream (.MISSING_LARGE_BLOBS); the gold
corpus itself IS present, so the tagging capability is recovered by
training deterministically here.  The model is intentionally the
simplest thing that fits the broadcast-gather inference contract
(model_tagger.TaggerWeights): per-head logits are a sum of
embedding-table gathers (token, stem, neighbors, shape, n-grams,
affixes) plus a bias — trained by the summed-gather averaged
perceptron (operators/perceptron.py), fixed seed, fixed epochs, data
in (doc_id, sent_id, token_id) order, so the artifact is
bit-reproducible.  A second, closed-form phase fits the
CRF-analog transition scores (fit_transitions) and picks their scale
against the real pipeline metric (select_transition_scale), enabling
per-sentence Viterbi decoding at inference.

Two protocols:

- deployment fit (``main``): fit on the full annotated corpus, report
  mention-level Dice P/R/F1 (score.py §A6 semantics via
  casie_spark.scoring) — memorization-regime numbers, like the
  reference's own published recipe on its single corpus;
- held-out (``holdout_main``, ``--holdout``): 80/20 deterministic
  doc-level split mirroring the reference's trainfile/testfile lists
  (nug_arg_detection.py:232-275); emissions, transitions, the λ
  scale AND the downstream role/realis heads + link ranker are all
  fit on the train folds only, mention + end-to-end triple metrics
  are scored on the untouched fold — written to
  artifacts/holdout_metrics.json, gated by tests/test_holdout.py.

Run:  python -m casie_spark.operators.train_tagger [--holdout]
writes casie_spark/artifacts/tagger_weights.npz and prints metrics.
"""

from __future__ import annotations

import os

import numpy as np

from .model_tagger import (
    _GATHER_KEYS,
    ARTIFACT_PATH,
    BIGRAM_SIZE,
    GOLD_ARG_LABELS,
    N_SHAPES,
    TRIGGER_LABELS,
    TRIGRAM_SIZE,
    VOCAB_SIZE,
    feature_arrays,
    parse_weights,
)
from .perceptron import gather_logits, train_head

SEED = 20260817
CLASS_WEIGHT_POW = 0.15  # inverse-class-frequency exponent of the
                         # perceptron updates (O is ~30:1 in the stream)
# Per-head table sets in gather order, selected by measurement (r4
# sweeps, BASELINE.md): the affix tables (pf3/sf3/sf4) go to the
# TRIGGER head only — type-level trigger classification transfers
# through suffixes ("-ware", "-tion"), while the argument head is
# span-identity and adding affixes to it measured Dice F1 0.81 -> 0.66
# (diluted capacity); the argument head instead carries the sev table
# (cross-fitted predicted sentence-has-trigger flags, see train()).
TRIG_KEYS = _GATHER_KEYS + ("b",)
ARG_KEYS = tuple(k for k in _GATHER_KEYS
                 if k not in ("pf3", "sf3", "sf4")) + ("b", "sev")
_ROWS = {"sh": N_SHAPES, "b1": BIGRAM_SIZE, "b2": BIGRAM_SIZE,
         "tri": TRIGRAM_SIZE, "sev": 2}

TRANS_SMOOTH = 0.5   # add-k smoothing for the label-bigram counts
# Candidate scales for the transition term (0 = per-token argmax); the
# trainer picks one per head against the real pipeline metric.  A
# coarse 2x sweep located the working range at 2-4 (P/R crossover);
# the grid refines inside it.
LAMBDA_GRID = (0.0, 1.0, 2.0, 2.5, 3.0, 4.0, 6.0, 8.0)
PRECISION_FLOOR = 0.70  # select-λ objective: nugget precision must
                        # clear this (the structured decode exists to
                        # fix over-prediction), then max joint F1


def head_shapes(keys, n_labels: int) -> dict[str, tuple]:
    """Perceptron table shapes for one tagger head's ``keys``."""
    return {k: (n_labels,) if k == "b" else (_ROWS.get(k, VOCAB_SIZE),
                                             n_labels) for k in keys}


def build_training_frame(spark):
    """Gold-tagged token stream -> pandas (sorted, deterministic):
    columns token, prev, next, trig_label, arg_label."""
    from pyspark.sql import functions as F
    from pyspark.sql import Window

    from ..operators.tagging import tag_gold_replay
    from ..operators.tokenizer import tokenize
    from ..sources.annotations import (
        gold_arguments,
        gold_events,
        load_annotations,
    )

    ann = load_annotations(spark)
    docs = ann.select("doc_id", F.col("content").alias("text"))
    toks = tokenize(docs, id_col="doc_id")
    tagged = tag_gold_replay(toks, gold_events(ann), gold_arguments(ann))
    wsent = Window.partitionBy("doc_id", "sent_id").orderBy("token_id")
    out = (
        tagged.select(
            "doc_id", "sent_id", "token_id", "token",
            F.lag("token", 1).over(wsent).alias("prev"),
            F.lead("token", 1).over(wsent).alias("next"),
            # strip the BIO prefix: heads classify the TYPE, span
            # assembly happens downstream exactly as at inference
            F.regexp_replace("trigger_tag", "^[BI]-", "").alias("trig_label"),
            F.regexp_replace("arg_tag", "^[BI]-", "").alias("arg_label"),
        )
        .orderBy("doc_id", "sent_id", "token_id")
    )
    return out.toPandas()


def fit_transitions(y: np.ndarray, starts: np.ndarray, n_labels: int,
                    k: float = TRANS_SMOOTH
                    ) -> tuple[np.ndarray, np.ndarray]:
    """Generative label-bigram scores for the Viterbi decode — the
    transition half of the reference's CRF layer
    (nug_arg_detection.py:199-202), recovered as smoothed
    log P(y_t | y_(t-1)) over the gold sentences plus log P(y_0) start
    scores.  ``select_transition_scale`` picks the weight λ that mixes
    them with the perceptron emissions.

    A discriminative alternative (joint structured-perceptron
    fine-tune of emissions + transitions) was tried first and rejected:
    on this near-separable memorization objective the sequence-level
    mistake updates oscillate — the averaged weights landed at nugget
    F1 0.22 (vs 0.74 token-phase) across every (epochs, batch,
    freeze/joint) configuration probed.  The generative fit is closed
    form, deterministic, and leaves the known-good emissions
    untouched."""
    n = len(y)
    cont = np.ones(n, dtype=bool)
    cont[starts] = False
    idx = np.flatnonzero(cont)
    cnt = np.zeros((n_labels, n_labels), np.float64)
    np.add.at(cnt, (y[idx - 1], y[idx]), 1.0)
    trans = np.log((cnt + k) / (cnt.sum(axis=1, keepdims=True) + k * n_labels))
    scnt = np.bincount(y[starts], minlength=n_labels).astype(np.float64)
    start = np.log((scnt + k) / (scnt.sum() + k * n_labels))
    return trans.astype(np.float32), start.astype(np.float32)


def sentence_starts(pdf) -> np.ndarray:
    """Indices where a new (doc_id, sent_id) begins in the sorted
    training frame."""
    doc = pdf["doc_id"].to_numpy()
    sent = pdf["sent_id"].to_numpy()
    n = len(pdf)
    new = np.ones(n, dtype=bool)
    if n > 1:
        new[1:] = (doc[1:] != doc[:-1]) | (sent[1:] != sent[:-1])
    return np.flatnonzero(new)


def _cross_fit_flags(pdf, f, yt, n_folds: int = 5,
                     lam: float = 2.0) -> np.ndarray:
    """Predicted sentence-has-trigger flags via fold-wise
    cross-decoding (the r3 'sev' retry — training on GOLD flags
    measured triple F1 0.729 -> 0.711 because inference flags come
    from the decoded trigger pass; these flags come from a trigger
    head that never saw the row's document, so the arg head trains on
    the cascade it will actually see).  Doc-level md5 subfolds; each
    fold is decoded by a head + fixed-λ transitions fit on the other
    folds.  Deterministic.  Returns int64 0/1 per row."""
    from .model_tagger import sentence_flag_ids, viterbi_segments

    folds = pdf["doc_id"].map(lambda d: doc_fold(d, n_folds)).to_numpy()
    n = len(pdf)
    is_start = np.zeros(n, bool)
    is_start[sentence_starts(pdf)] = True
    flags = np.zeros(n, np.int64)
    for k in range(n_folds):
        te = folds == k
        if not te.any():
            continue
        tr = ~te
        ftr = {kk: v[tr] for kk, v in f.items()}
        # same recipe as the deployment trigger head, fit on the
        # other folds only
        head = train_head(ftr, yt[tr],
                          head_shapes(TRIG_KEYS, len(TRIGGER_LABELS)),
                          SEED + 100 + k, CLASS_WEIGHT_POW)
        tables = {kk: v.astype(np.float32) for kk, v in head.items()}
        # folds split whole docs, so both subsets keep sentence
        # contiguity; a row is a sentence start in the subset iff it
        # was one in the full frame
        starts_tr = np.flatnonzero(is_start[tr])
        starts_te = np.flatnonzero(is_start[te])
        sc = _scaled(fit_transitions(yt[tr], starts_tr,
                                     len(TRIGGER_LABELS)), lam)
        fte = {kk: v[te] for kk, v in f.items()}
        path = viterbi_segments(gather_logits(tables, fte, _GATHER_KEYS),
                                starts_te,
                                sc["trans"], sc["start"])
        flags[te] = sentence_flag_ids(path, starts_te, len(path))
    return flags


def train(pdf, sev: bool = True) -> dict[str, np.ndarray]:
    """pandas frame from build_training_frame -> artifact arrays.
    ``sev``: train the arg head with the cross-fitted
    sentence-has-predicted-trigger table (see _cross_fit_flags) —
    measured r4: full-corpus arg Dice 0.809 -> 0.848 (recall 0.825 ->
    0.890 with precision also up), held-out arg F1 +0.013, held-out
    nugget +0.009; the r3 gold-flag variant of the same idea was
    rejected (0.729 -> 0.711 triples) because gold flags mismatch the
    decoded cascade."""
    toks = pdf["token"].astype(str).tolist()
    prevs = pdf["prev"].tolist()
    nexts = pdf["next"].tolist()
    f = feature_arrays(toks, prevs, nexts)

    trig_idx = {t: i for i, t in enumerate(TRIGGER_LABELS)}
    arg_idx = {t: i for i, t in enumerate(GOLD_ARG_LABELS)}
    yt = pdf["trig_label"].map(lambda v: trig_idx.get(v, 0)).to_numpy(np.int64)
    ya = pdf["arg_label"].map(lambda v: arg_idx.get(v, 0)).to_numpy(np.int64)

    trig = train_head(f, yt, head_shapes(TRIG_KEYS, len(TRIGGER_LABELS)),
                      SEED, CLASS_WEIGHT_POW)
    fa = f
    arg_keys = ARG_KEYS if sev else ARG_KEYS[:-1]
    if sev:
        fa = dict(f)
        # the cross-fit trigger heads mirror the deployment trigger
        # recipe so the arg head trains against the cascade it will see
        fa["sev"] = _cross_fit_flags(pdf, f, yt)
    arg = train_head(fa, ya, head_shapes(arg_keys, len(GOLD_ARG_LABELS)),
                     SEED + 1, CLASS_WEIGHT_POW)

    out: dict[str, np.ndarray] = {}
    for k, v in trig.items():
        out[f"trig_{k}"] = v.astype(np.float16)
    for k, v in arg.items():
        out[f"arg_{k}"] = v.astype(np.float16)
    out["trigger_labels"] = np.array(TRIGGER_LABELS)
    out["arg_labels"] = np.array(GOLD_ARG_LABELS)
    return out


def raw_transitions(pdf) -> dict[str, tuple[np.ndarray, np.ndarray]]:
    """Unscaled (trans, start) log-prob matrices per head, fit on the
    gold label sequences of the training frame."""
    starts = sentence_starts(pdf)
    trig_idx = {t: i for i, t in enumerate(TRIGGER_LABELS)}
    arg_idx = {t: i for i, t in enumerate(GOLD_ARG_LABELS)}
    yt = pdf["trig_label"].map(lambda v: trig_idx.get(v, 0)).to_numpy(np.int64)
    ya = pdf["arg_label"].map(lambda v: arg_idx.get(v, 0)).to_numpy(np.int64)
    return {
        "trig": fit_transitions(yt, starts, len(TRIGGER_LABELS)),
        "arg": fit_transitions(ya, starts, len(GOLD_ARG_LABELS)),
    }


def select_transition_scale(spark, arrays, raw, doc_ids=None) -> float:
    """Deterministic JOINT λ choice: run the REAL pipeline metric
    (evaluate, mode=model, over ``doc_ids`` — the held-out protocol
    passes its train docs) once per grid value with λ·(trans, start)
    wired into both heads, then pick ONE λ shared by both.

    Per-head selection was tried and rejected: the heads are coupled
    through the trigger/argument conflict rule (R4, arg wins —
    tagging.py), so the nugget metric of a (λ_trig, λ_arg) mix is NOT
    the nugget metric of the λ_trig grid row (measured: trig=3/arg=2
    landed at nugget P 0.697/F1 0.768 vs the grid's λ=3 row P
    0.713/F1 0.777).  A shared λ is exactly a measured grid row.

    Objective, lexicographic: nugget precision ≥ PRECISION_FLOOR
    first (the structured decode exists to fix the over-prediction
    side: λ=0 nugget P 0.611 at R 0.951), then the summed nugget+arg
    F1, then the smaller λ.  Fixed grid + fixed rule =
    bit-reproducible artifact."""
    results = []
    for lam in LAMBDA_GRID:
        w = parse_weights(with_transitions(arrays, raw, lam))
        m = evaluate(spark, "model", tagger_weights=w, doc_ids=doc_ids)
        results.append((lam, m))
        print(f"  λ={lam:g}: nugget P {m['nugget']['precision']:.3f} "
              f"R {m['nugget']['recall']:.3f} F1 {m['nugget']['f1']:.3f} | "
              f"arg P {m['argument']['precision']:.3f} "
              f"R {m['argument']['recall']:.3f} F1 {m['argument']['f1']:.3f}")

    return max(
        results,
        key=lambda r: (r[1]["nugget"]["precision"] >= PRECISION_FLOOR,
                       r[1]["nugget"]["f1"] + r[1]["argument"]["f1"],
                       -r[0]),
    )[0]


def _scaled(raw_pair, lam: float):
    if lam == 0.0:
        return None
    trans, start = raw_pair
    return {"trans": (trans * lam).astype(np.float32),
            "start": (start * lam).astype(np.float32)}


def with_transitions(arrays, raw, lam: float) -> dict[str, np.ndarray]:
    """Artifact arrays plus both heads' λ-scaled Viterbi scores
    (``{head}_trans`` / ``{head}_start``; none at λ = 0)."""
    out = dict(arrays)
    for head in ("trig", "arg"):
        sc = _scaled(raw[head], lam)
        if sc is not None:
            out[f"{head}_trans"], out[f"{head}_start"] = \
                sc["trans"], sc["start"]
    return out


def evaluate(spark, mode: str = "model", tagger_weights=None,
             doc_ids: list[str] | None = None) -> dict:
    """Mention-level Dice P/R/F1 (nugget + argument heads) of the
    tagger against gold spans on the full corpus — the BASELINE.md
    metric.  Gold spans come from the gold-replay tagging of the same
    token stream, so tokenization differences cancel.
    ``tagger_weights`` overrides the artifact (λ-grid selection);
    ``doc_ids`` restricts scoring to a document subset (the held-out
    protocol)."""
    from pyspark.sql import functions as F

    from ..operators.spans import assemble_spans
    from ..operators.tagging import tag_gold_replay
    from ..operators.tokenizer import tokenize
    from ..pipeline import tagged_tokens
    from ..scoring import mention_dice_f1
    from ..sources.annotations import (
        gold_arguments,
        gold_events,
        load_annotations,
    )
    from ..util import materialize

    ann = load_annotations(spark)
    if doc_ids is not None:
        ann = ann.filter(F.col("doc_id").isin(list(doc_ids)))
    docs = ann.select("doc_id", F.col("content").alias("text"))
    tagged_pred = materialize(
        tagged_tokens(docs, id_col="doc_id", mode=mode, hash_ids=False,
                      tagger_weights=tagger_weights))
    toks = tokenize(docs, id_col="doc_id")
    tagged_gold = materialize(
        tag_gold_replay(toks, gold_events(ann), gold_arguments(ann)))
    out = {}
    for head, col in (("nugget", "trigger_tag"), ("argument", "arg_tag")):
        pred = assemble_spans(tagged_pred, col)
        gold = assemble_spans(tagged_gold, col)
        out[head] = mention_dice_f1(pred, gold)
    tagged_pred.unpersist()
    tagged_gold.unpersist()
    return out


N_FOLDS = 5          # held-out protocol: fold 0 is the test split
HOLDOUT_METRICS_PATH = os.path.join(
    os.path.dirname(ARTIFACT_PATH), "holdout_metrics.json")


def doc_fold(doc_id: str, n_folds: int = N_FOLDS) -> int:
    """Deterministic, platform-stable fold assignment: md5 of the
    doc_id string mod n_folds.  The reference's own recipe separates
    trainfile/testfile article lists (nug_arg_detection.py:232-275);
    a content-independent hash split is the same protocol without a
    checked-in list."""
    import hashlib

    return int(hashlib.md5(str(doc_id).encode()).hexdigest()[:8], 16) % n_folds


def holdout_main(out_path: str | None = None) -> None:  # pragma: no cover - CLI entry
    """Held-out evaluation (r2 VERDICT missing #3): train on folds
    1..4 (~80% of documents), select λ on the TRAIN docs only, score
    mention Dice AND end-to-end triples on the untouched fold-0 docs.
    EVERY learned component is fold-restricted — tagger emissions,
    transitions, λ, AND the role head, realis head and link ranker
    (r3: earlier revisions leaked the committed full-corpus
    role/realis/linker artifacts into the held-out triple number) —
    threaded into run_pipeline via ``model_weights``.
    Writes artifacts/holdout_metrics.json (committed; the test gate
    reads it).  The committed inference artifact remains the
    full-corpus fit — this protocol measures generalization, it does
    not replace the deployment weights."""
    import json

    from pyspark.sql import functions as F

    from ..pipeline import run_pipeline
    from ..scoring import triple_prf
    from ..session import get_spark
    from ..sources.annotations import gold_triples, load_annotations

    spark = get_spark("train-tagger-holdout", master="local[16]",
                      shuffle_partitions=16)
    pdf = build_training_frame(spark)
    folds = pdf["doc_id"].map(doc_fold).to_numpy()
    train_pdf = pdf[folds != 0].reset_index(drop=True)
    all_docs = sorted(pdf["doc_id"].unique())
    train_docs = sorted(pdf["doc_id"][folds != 0].unique())
    test_docs = sorted(set(all_docs) - set(train_docs))
    print(f"docs: {len(train_docs)} train / {len(test_docs)} held out; "
          f"rows: {len(train_pdf)}/{len(pdf)}")

    arrays = train(train_pdf)
    raw = raw_transitions(train_pdf)

    print("selecting λ on the train split:")
    lam = select_transition_scale(spark, arrays, raw, doc_ids=train_docs)
    print(f"selected λ (train-only): {lam:g}")

    w = parse_weights(with_transitions(arrays, raw, lam))
    mention = evaluate(spark, "model", tagger_weights=w, doc_ids=test_docs)
    mention_train = evaluate(spark, "model", tagger_weights=w,
                             doc_ids=train_docs)

    # fold-restricted downstream heads (begin repair / role / realis /
    # link ranker): each trains on the SAME train docs, so nothing the
    # held-out triple number touches has seen fold 0
    from . import train_begin, train_linker, train_realis, train_roles
    from .begin_repair import parse_begin_weights
    from .linker import parse_linker_weights
    from .realis import parse_realis_weights
    from .roles import parse_role_weights

    begin_w = parse_begin_weights(
        train_begin.train_arrays(spark, doc_ids=train_docs,
                                 tagger_weights=w))
    role_w = parse_role_weights(
        train_roles.train(train_roles.build_training_frame(
            spark, doc_ids=train_docs)))
    realis_w = parse_realis_weights(
        train_realis.train(train_realis.build_training_frame(
            spark, doc_ids=train_docs)))
    link_pools = train_linker._pool_arrays(
        train_linker.build_training_pools(
            spark, doc_ids=train_docs, tagger_weights=w,
            begin_weights=begin_w))
    link_w = parse_linker_weights(train_linker.train(link_pools))
    mw = {"begin": begin_w, "role": role_w, "realis": realis_w,
          "linker": link_w}

    ann = load_annotations(spark).filter(
        F.col("doc_id").isin(test_docs)).cache()
    docs = ann.select("doc_id", F.col("content").alias("text"))
    pred = run_pipeline(docs, id_col="doc_id", mode="model",
                        tagger_weights=w, model_weights=mw)
    triples = triple_prf(pred, gold_triples(ann))
    ann.unpersist()

    out = {
        "protocol": "80/20 doc-level md5 split (doc_fold), fold 0 held "
                    "out; emissions + transitions + λ + begin repair + "
                    "role/realis heads + link ranker all fit on train "
                    "folds only",
        "n_folds": N_FOLDS,
        "n_train_docs": len(train_docs),
        "n_test_docs": len(test_docs),
        "selected_lambda": lam,
        "heldout_nugget": mention["nugget"],
        "heldout_argument": mention["argument"],
        "train_nugget": mention_train["nugget"],
        "train_argument": mention_train["argument"],
        "heldout_triples": triples,
    }
    dest = out_path or HOLDOUT_METRICS_PATH
    with open(dest, "w") as fh:
        json.dump(out, fh, indent=2, sort_keys=True)
    print(f"wrote {dest}")
    print("held-out nugget:", mention["nugget"])
    print("held-out argument:", mention["argument"])
    print("held-out triples:", triples)
    spark.stop()


def main() -> None:  # pragma: no cover - CLI entry
    from ..deploy import save_artifact
    from ..session import get_spark

    spark = get_spark("train-tagger", master="local[16]",
                      shuffle_partitions=16)
    pdf = build_training_frame(spark)
    print(f"training rows: {len(pdf)}")
    arrays = train(pdf)
    raw = raw_transitions(pdf)
    print("selecting transition scale:")
    lam = select_transition_scale(spark, arrays, raw)
    print(f"selected λ: {lam:g}")
    path = save_artifact(with_transitions(arrays, raw, lam), ARTIFACT_PATH)
    print(f"wrote {path} ({os.path.getsize(path) / 1e6:.1f} MB)")
    print("model:", evaluate(spark, "model"))
    print("rules:", evaluate(spark, "rules"))
    spark.stop()


if __name__ == "__main__":
    import sys

    if "--holdout" in sys.argv:
        outp = [a.split("=", 1)[1] for a in sys.argv
                if a.startswith("--out=")]
        holdout_main(out_path=outp[0] if outp else None)
    else:
        main()
