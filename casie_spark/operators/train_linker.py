"""Deterministic trainer for the link-disambiguation ranker
(operators/linker.py).

Training data: the union candidate pools of the model-tagged corpus
(the SAME ``candidate_frame`` the scorer consumes — one feature
implementation, no train/serve skew), labeled by the gold triples:
a candidate is positive when its event begin equals the gold nugget
begin of the best-overlap gold argument.

Model: averaged ranking perceptron — for each labeled multi-candidate
pool, the highest-scoring gold candidate must beat the highest-scoring
non-gold one by a margin; on a violation the weight vector moves by
the feature difference, including the (subtype × arg_type) pair table
and the two hashed lexical tables.  Fixed seed, fixed epochs, pools
in (doc_id, arg_id) order — the artifact is bit-reproducible.

Measured (corpus, mode=model): multi-candidate pick accuracy 0.958
(reference rule cascade: 0.825; 5-fold doc CV 0.89); right-event
attachment 0.770 → 0.835 of found arguments (= the same/prev-sentence
pool ceiling).

Run:  python -m casie_spark.operators.train_linker
writes casie_spark/artifacts/linker_weights.npz and prints metrics.
"""

from __future__ import annotations

import os

import numpy as np

from .linker import (
    LEXDIM,
    LINKER_ARTIFACT,
    N_BASE,
    N_PAIR,
    base_vector,
    candidate_frame,
    parse_linker_weights,
)

SEED = 20260817
EPOCHS = 32          # 20 -> 32 bought +0.5 pt multi-pick accuracy in
                     # the fixed-grid probe; flat beyond
MARGIN = 1.0


def build_training_pools(spark, doc_ids=None, tagger_weights=None,
                         begin_weights="auto"):
    """Candidate frame of the model-tagged corpus + is_gold labels,
    collected to pandas sorted by (doc_id, arg_id, event_id).
    ``doc_ids`` restricts the corpus to a document subset and
    ``tagger_weights`` overrides the committed tagger artifact — the
    held-out protocol passes both so the ranker's candidate pools come
    from the fold-trained tagger over the train folds only.
    ``begin_weights``: the begin-repair tables applied to the argument
    spans before candidate generation ("auto" loads the committed
    artifact) — the pools must match what link_trained sees at
    inference, where repair runs before linking."""
    from pyspark.sql import functions as F

    from ..pipeline import span_frames, tagged_tokens
    from ..sources.annotations import (
        gold_arguments,
        gold_triples,
        load_annotations,
    )
    from ..util import truncate

    ann = load_annotations(spark)
    if doc_ids is not None:
        ann = ann.filter(F.col("doc_id").isin(list(doc_ids)))
    ann = ann.cache()
    docs = ann.select("doc_id", F.col("content").alias("text"))
    if begin_weights == "auto":
        from .begin_repair import load_begin_weights

        begin_weights = load_begin_weights()
    events, args = span_frames(
        tagged_tokens(docs, id_col="doc_id", mode="model", hash_ids=False,
                      tagger_weights=tagger_weights), begin_weights)
    # the candidate pool and the gold match both read the repaired
    # args: one truncate scores the edge heads once
    args = truncate(args)
    cand = candidate_frame(events, args)

    ga = gold_arguments(ann).select(
        "doc_id", F.col("begin").alias("g_begin"),
        F.col("end").alias("g_end"),
        F.col("arg_type").alias("g_type")).distinct()
    gt = gold_triples(ann).select(
        "doc_id", F.col("begin").alias("g_begin"),
        F.col("nugget_begin").alias("g_ev_begin")).distinct()
    am = args.join(
        ga, (args.doc_id == ga.doc_id) & (args.arg_type == ga.g_type)
        & (args.begin < ga.g_end) & (args.end > ga.g_begin), "inner"
    ).select(args.doc_id.alias("doc_id"), "arg_id", "g_begin")
    gold_ev = am.join(gt, ["doc_id", "g_begin"], "inner").select(
        "doc_id", "arg_id", "g_ev_begin").distinct()

    out = cand.join(
        gold_ev.withColumnRenamed("g_ev_begin", "event_begin")
        .withColumn("is_gold", F.lit(1)),
        ["doc_id", "arg_id", "event_begin"], "left",
    ).fillna({"is_gold": 0})
    pdf = out.select(
        "doc_id", "arg_id", "event_id", "pair_idx", "l1", "l2",
        "d", "absd", "same_sent", "nearest",
        "first_ev", "n_cand", "commas", "trigs", "sentgap", "is_gold",
    ).toPandas()
    return pdf.sort_values(
        ["doc_id", "arg_id", "event_id"]).reset_index(drop=True)


def _pool_arrays(pdf):
    """pandas frame -> list of (X, pair_idx, lex1, lex2, gold_rows)
    per (doc_id, arg_id) pool, deterministic order."""
    pools = []
    for _, g in pdf.groupby(["doc_id", "arg_id"], sort=True):
        g = g.sort_values("event_id").reset_index(drop=True)
        X = base_vector(
            g["d"].to_numpy(np.float64), g["absd"].to_numpy(np.float64),
            g["same_sent"].to_numpy(np.float64),
            g["nearest"].to_numpy(np.float64),
            g["first_ev"].to_numpy(np.float64),
            g["n_cand"].to_numpy(np.float64),
            g["commas"].to_numpy(np.float64),
            g["trigs"].to_numpy(np.float64),
            g["sentgap"].to_numpy(np.float64),
        )
        # the pair/lexicon indices are computed JVM-side by
        # candidate_frame (pair_index_col / lex_bucket_col) — the SAME
        # expressions the scorer consumes, so there is no train/serve
        # hashing skew by construction
        pair = g["pair_idx"].to_numpy(np.int64)
        l1 = g["l1"].to_numpy(np.int64)
        l2 = g["l2"].to_numpy(np.int64)
        gold = np.flatnonzero(g["is_gold"].to_numpy())
        pools.append((X, pair, l1, l2, gold))
    return pools


def train(pools) -> dict[str, np.ndarray]:
    """Averaged ranking perceptron over the labeled multi-candidate
    pools."""
    data = [p for p in pools if len(p[4]) and len(p[0]) > 1]
    w = np.zeros(N_BASE)
    wp = np.zeros(N_PAIR)
    l1w = np.zeros(LEXDIM)
    l2w = np.zeros(LEXDIM)
    aw, awp, al1, al2 = (np.zeros_like(x) for x in (w, wp, l1w, l2w))
    rng = np.random.default_rng(SEED)
    idx = np.arange(len(data))
    for _ in range(EPOCHS):
        rng.shuffle(idx)
        for i in idx:
            X, pair, l1, l2, gold = data[i]
            s = X @ w + wp[pair] + l1w[l1] + l2w[l2]
            gmask = np.zeros(len(s), bool)
            gmask[gold] = True
            bg = np.flatnonzero(gmask)[np.argmax(s[gmask])]
            others = np.flatnonzero(~gmask)
            if not len(others):
                continue
            bo = others[np.argmax(s[others])]
            if s[bg] <= s[bo] + MARGIN:
                w += X[bg] - X[bo]
                wp[pair[bg]] += 1.0
                wp[pair[bo]] -= 1.0
                l1w[l1[bg]] += 1.0
                l1w[l1[bo]] -= 1.0
                l2w[l2[bg]] += 1.0
                l2w[l2[bo]] -= 1.0
        aw += w
        awp += wp
        al1 += l1w
        al2 += l2w
    return {
        "w_base": (aw / EPOCHS).astype(np.float32),
        "w_pair": (awp / EPOCHS).astype(np.float32),
        "lex_trig": (al1 / EPOCHS).astype(np.float32),
        "lex_arg": (al2 / EPOCHS).astype(np.float32),
    }


def pick_accuracy(pools, arrays) -> dict:
    """Pick accuracy over labeled pools (multi and all)."""
    w, wp, l1w, l2w = parse_linker_weights(arrays)
    n_multi = r_multi = n_all = r_all = 0
    for X, pair, l1, l2, gold in pools:
        if not len(gold):
            continue
        s = X @ w + wp[pair] + l1w[l1] + l2w[l2]
        hit = int(s.argmax() in gold)
        n_all += 1
        r_all += hit
        if len(X) > 1:
            n_multi += 1
            r_multi += hit
    return {"multi_acc": r_multi / max(n_multi, 1), "n_multi": n_multi,
            "all_acc": r_all / max(n_all, 1), "n_all": n_all}


def main() -> None:  # pragma: no cover - CLI entry
    from ..deploy import save_artifact
    from ..session import get_spark

    spark = get_spark("train-linker", master="local[16]",
                      shuffle_partitions=16)
    pdf = build_training_pools(spark)
    print(f"candidate rows: {len(pdf)}")
    pools = _pool_arrays(pdf)
    arrays = train(pools)
    acc = pick_accuracy(pools, arrays)
    print(f"pick accuracy: multi {acc['multi_acc']:.3f} "
          f"({acc['n_multi']} pools), all {acc['all_acc']:.3f}")
    path = save_artifact(arrays, LINKER_ARTIFACT)
    print(f"wrote {path} ({os.path.getsize(path) / 1e3:.0f} KB)")

    # end-to-end triple quality with the trained linker
    from pyspark.sql import functions as F

    from ..pipeline import run_pipeline
    from ..scoring import triple_prf
    from ..sources.annotations import gold_triples, load_annotations

    ann = load_annotations(spark).cache()
    docs = ann.select("doc_id", F.col("content").alias("text"))
    pred = run_pipeline(docs, id_col="doc_id", mode="model")
    print("triples:", triple_prf(pred, gold_triples(ann)))
    spark.stop()


if __name__ == "__main__":
    main()
