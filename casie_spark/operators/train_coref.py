"""Trained event-coref pair combiner (r3 VERDICT weak #1).

The reference clusters with seven fixed weights + a 0.75 threshold
(link_coref.py:2041-2044); on gold-replay inputs that operating point
measures pairwise F1 0.654, while BASELINE.md's ceiling analysis shows
an oracle-fit logistic over all available surface signals reaches
pairwise F1 0.687 — headroom the fixed weights leave on the table.
This trainer captures that headroom HONESTLY:

- 5-fold deterministic doc split (train_tagger.doc_fold — the same
  protocol every other learned head uses);
- per fold: logistic regression (ridge IRLS, closed deterministic
  schedule) over the nine raw pair features (coref.COREF_PAIR_FEATURES
  = the reference's seven un-normalized + argument token overlap +
  trigger surface identity), distance threshold grid-picked on the
  TRAIN folds' clustering F1 only, then the held fold clustered with
  that model — the pooled CV numbers are the quality claim;
- deployment artifact = full-corpus fit (the same memorization-regime
  deployment recipe as the tagger/linker/role/realis heads), committed
  at casie_spark/artifacts/coref_weights.npz, bit-reproducible.

Threshold selection is O(grid-size) cheap because average linkage is
threshold-independent up to a dendrogram cut with prefix semantics:
``merge_sequence`` records the merge order once per group, and "labels
at threshold t" = the state after the longest prefix of merges whose
distance is <= t — exactly where ``average_linkage_clusters`` stops
(it breaks at the FIRST min > t, so non-monotonic inversions are
handled identically).

Run: python -m casie_spark.operators.train_coref
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import functions as F

from .coref import (
    COREF_ARTIFACT,
    COREF_PAIR_FEATURES,
    _parse_pubdate,
    average_linkage_clusters,
    coref_inputs,
    pair_matrices,
    trained_distance,
)
from .train_tagger import doc_fold

THR_GRID = np.round(np.arange(0.02, 0.99, 0.01), 2)


# ---------------------------------------------------------------------------
# input assembly (driver-side collect: trainer-only, 1,000-article corpus)
# ---------------------------------------------------------------------------

def build_inputs(spark) -> pd.DataFrame:
    """Gold-replay per-event coref inputs + gold hopper labels, the
    exact frame the deployed clustering consumes (coref.coref_inputs)
    joined to gold_events by (doc_id, nugget begin) — the same match
    rule as tests/test_coref_parity.py."""
    from ..pipeline import span_frames
    from .linking import link
    from .tagging import tag_gold_replay
    from .tokenizer import tokenize
    from ..sources.annotations import (
        gold_arguments,
        gold_events,
        load_annotations,
    )

    ann = load_annotations(spark).cache()
    docs = ann.select("doc_id", F.col("content").alias("text"))
    toks = tokenize(docs, id_col="doc_id").repartition(F.col("doc_id"))
    events, args = span_frames(
        tag_gold_replay(toks, gold_events(ann), gold_arguments(ann)))
    pubdates = ann.select("doc_id", F.col("info.date").alias("pubdate"))
    base = coref_inputs(events, link(events, args), pubdates)
    gev = gold_events(ann).select(
        "doc_id", "hopper_id", F.col("nugget_begin").alias("begin"))
    pdf = (
        base.join(events.select("doc_id", "event_id", "begin"),
                  ["doc_id", "event_id"])
        .join(gev, ["doc_id", "begin"], "inner")
        .toPandas()
        .sort_values(["doc_id", "subtype", "event_id"])
        .reset_index(drop=True)
    )
    ann.unpersist()
    return pdf


def build_groups(pdf: pd.DataFrame) -> list[dict]:
    """Per (doc, subtype) candidate group with n >= 2: raw feature
    matrices, gold hopper ids, fold assignment.  Groups of one event
    are threshold-independent singletons — excluded from training and
    from threshold selection, included as singletons in B-cubed."""
    groups = []
    for (doc_id, subtype), sub in pdf.groupby(["doc_id", "subtype"],
                                              sort=True):
        sub = sub.sort_values("event_id")
        pubdate = _parse_pubdate(sub["pubdate"].iloc[0])
        groups.append({
            "doc_id": doc_id,
            "subtype": subtype,
            "fold": doc_fold(doc_id),
            "event_ids": sub["event_id"].to_numpy(),
            "hoppers": sub["hopper_id"].to_numpy(),
            "mats": pair_matrices(sub, pubdate) if len(sub) > 1 else None,
        })
    return groups


def pair_table(groups: list[dict]) -> tuple[np.ndarray, np.ndarray, np.ndarray]:
    """(X, y, fold) over the upper triangle of every n>=2 group, in
    deterministic (doc_id, subtype, i, j) order."""
    rows, labels, folds = [], [], []
    for g in groups:
        if g["mats"] is None:
            continue
        n = len(g["event_ids"])
        iu, ju = np.triu_indices(n, k=1)
        feat = np.stack([g["mats"][f][iu, ju] for f in COREF_PAIR_FEATURES],
                        axis=1)
        rows.append(feat)
        labels.append((g["hoppers"][iu] == g["hoppers"][ju]).astype(float))
        folds.append(np.full(len(iu), g["fold"]))
    X = np.concatenate(rows)
    return X, np.concatenate(labels), np.concatenate(folds)


# ---------------------------------------------------------------------------
# logistic fit (ridge IRLS — deterministic, no learning-rate schedule)
# ---------------------------------------------------------------------------

def fit_logistic(X: np.ndarray, y: np.ndarray, l2: float = 1e-2,
                 iters: int = 30):
    """Returns (w, b, mu, sd): ridge logistic regression by IRLS on
    standardized features.  30 Newton steps is far past convergence
    for 9 features; everything is closed-form deterministic."""
    mu = X.mean(axis=0)
    sd = X.std(axis=0)
    sd[sd == 0] = 1.0
    Z = np.concatenate([(X - mu) / sd, np.ones((len(X), 1))], axis=1)
    beta = np.zeros(Z.shape[1])
    ridge = np.eye(Z.shape[1]) * l2 * len(X)
    ridge[-1, -1] = 0.0  # don't penalize the intercept
    for _ in range(iters):
        p = 1.0 / (1.0 + np.exp(-(Z @ beta)))
        wgt = np.clip(p * (1 - p), 1e-6, None)
        H = (Z * wgt[:, None]).T @ Z + ridge
        grad = Z.T @ (y - p) - ridge @ beta
        beta = beta + np.linalg.solve(H, grad)
    return beta[:-1], float(beta[-1]), mu, sd


def rank_auc(x: np.ndarray, y: np.ndarray) -> float:
    """Mann-Whitney AUC with average ranks for ties (same protocol as
    the r3 ceiling table in BASELINE.md)."""
    order = np.argsort(x, kind="mergesort")
    ranks = np.empty(len(x))
    sx = x[order]
    i = 0
    while i < len(sx):
        j = i
        while j + 1 < len(sx) and sx[j + 1] == sx[i]:
            j += 1
        ranks[order[i:j + 1]] = (i + j) / 2.0 + 1.0
        i = j + 1
    n1 = int(y.sum())
    n0 = len(y) - n1
    if n1 == 0 or n0 == 0:
        return 0.5
    return (ranks[y == 1].sum() - n1 * (n1 + 1) / 2.0) / (n1 * n0)


# ---------------------------------------------------------------------------
# threshold selection via the dendrogram prefix
# ---------------------------------------------------------------------------

def merge_sequence(dist: np.ndarray) -> tuple[list[float], list[np.ndarray]]:
    """Average-linkage merge order all the way to one cluster:
    (merge_dists, labels_after_k) with labels_after_k[0] = all
    singletons.  Same tie-break as average_linkage_clusters (min over
    (distance, (i, j))), so the prefix at any threshold reproduces its
    partition exactly."""
    n = dist.shape[0]
    clusters: dict[int, list[int]] = {i: [i] for i in range(n)}
    d = {(i, j): float(dist[i, j]) for i in range(n) for j in range(i + 1, n)}
    nxt = n
    merge_dists: list[float] = []
    states: list[np.ndarray] = []

    def snapshot():
        lab = np.zeros(n, dtype=int)
        for cid, members in enumerate(sorted(clusters.values(), key=min)):
            for m in members:
                lab[m] = cid
        return lab

    states.append(snapshot())
    while len(clusters) > 1:
        (i, j), best = min(d.items(), key=lambda kv: (kv[1], kv[0]))
        merged = clusters.pop(i) + clusters.pop(j)
        newd = {}
        for k, members in clusters.items():
            pairs = [(min(a, b), max(a, b)) for a in merged for b in members]
            newd[k] = float(np.mean([dist[a, b] for a, b in pairs]))
        clusters[nxt] = merged
        d = {(a, b): v for (a, b), v in d.items()
             if a not in (i, j) and b not in (i, j)}
        for k, v in newd.items():
            d[(min(k, nxt), max(k, nxt))] = v
        nxt += 1
        merge_dists.append(best)
        states.append(snapshot())
    return merge_dists, states


def _prefix_k(merge_dists: list[float], thr: float) -> int:
    """Index of the first merge whose distance exceeds thr (handles
    average-linkage inversions the same way the deployed function's
    break does)."""
    for k, m in enumerate(merge_dists):
        if m > thr:
            return k
    return len(merge_dists)


def _pair_stats(labels: np.ndarray, hoppers: np.ndarray) -> tuple[int, int]:
    """(npred, tp) same-cluster pair counts for one labeling."""
    iu, ju = np.triu_indices(len(labels), k=1)
    same = labels[iu] == labels[ju]
    return int(same.sum()), int((same & (hoppers[iu] == hoppers[ju])).sum())


def gold_pair_count(groups: list[dict]) -> int:
    """Same-hopper pair count over ALL within-doc event pairs (the
    pairwise metric of tests/test_coref_parity.py — hoppers may span
    subtype groups; predicted clusters never do, so cross-group gold
    pairs are unreachable recall for any threshold)."""
    by_doc: dict = {}
    for g in groups:
        by_doc.setdefault(g["doc_id"], []).append(g["hoppers"])
    total = 0
    for hops in by_doc.values():
        h = np.concatenate(hops)
        iu, ju = np.triu_indices(len(h), k=1)
        total += int((h[iu] == h[ju]).sum())
    return total


def select_threshold(groups: list[dict], model, grid=THR_GRID
                     ) -> tuple[float, float]:
    """Grid-pick the distance threshold maximizing pooled pairwise F1
    over ``groups`` under ``model`` (w, b, mu, sd, _).  Returns
    (threshold, f1).  Ties break toward the LOWER threshold."""
    per_group = []
    ng_total = gold_pair_count(groups)
    for g in groups:
        if g["mats"] is None:
            continue
        dist = trained_distance(g["mats"], model)
        merge_dists, states = merge_sequence(dist)
        stats = [_pair_stats(lab, g["hoppers"]) for lab in states]
        per_group.append((merge_dists, stats))
    best = (0.0, grid[0])
    for thr in grid:
        tp = npred = 0
        for merge_dists, stats in per_group:
            np_k, tp_k = stats[_prefix_k(merge_dists, thr)]
            npred += np_k
            tp += tp_k
        if npred == 0 or ng_total == 0:
            continue
        p, r = tp / npred, tp / ng_total
        f1 = 2 * p * r / (p + r) if p + r else 0.0
        if f1 > best[0]:
            best = (f1, float(thr))
    return best[1], best[0]


# ---------------------------------------------------------------------------
# cross-validated evaluation (the honest numbers)
# ---------------------------------------------------------------------------

def _b_cubed(rows: list[tuple]) -> tuple[float, float, float]:
    """rows: (doc_id, cluster_id, hopper_id) per mention."""
    df = pd.DataFrame(rows, columns=["d", "c", "h"])
    csz = df.groupby(["d", "c"])["h"].transform("size")
    hsz = df.groupby(["d", "h"])["c"].transform("size")
    inter = df.groupby(["d", "c", "h"])["h"].transform("size")
    p = float((inter / csz).mean())
    r = float((inter / hsz).mean())
    return p, r, 2 * p * r / (p + r) if p + r else 0.0


def cross_validate(groups: list[dict], X, y, fold, n_folds: int = 5) -> dict:
    """Per fold: fit on the other folds, pick the threshold on the
    other folds, cluster the held fold.  Pooled pairwise P/R/F1 + B3
    over all held folds = the honest quality claim."""
    tp = npred = 0
    ngold = gold_pair_count(groups)
    b3_rows: list[tuple] = []
    fold_thrs = []
    for f in range(n_folds):
        tr = fold != f
        w, b, mu, sd = fit_logistic(X[tr], y[tr])
        model = (w, b, mu, sd, None)
        train_groups = [g for g in groups if g["fold"] != f]
        thr, _ = select_threshold(train_groups, model)
        fold_thrs.append(thr)
        for g in groups:
            if g["fold"] != f:
                continue
            hop = g["hoppers"]
            if g["mats"] is None:
                labels = np.zeros(1, dtype=int)
            else:
                dist = trained_distance(g["mats"], model)
                labels = np.asarray(
                    average_linkage_clusters(dist, thr))
                np_k, tp_k = _pair_stats(labels, hop)
                npred += np_k
                tp += tp_k
            for idx in range(len(hop)):
                b3_rows.append((g["doc_id"],
                                f"{g['subtype']}|{int(labels[idx])}",
                                int(hop[idx])))
    p = tp / npred if npred else 0.0
    r = tp / ngold if ngold else 0.0
    b3p, b3r, b3f = _b_cubed(b3_rows)
    return {
        "pairwise_p": p, "pairwise_r": r,
        "pairwise_f1": 2 * p * r / (p + r) if p + r else 0.0,
        "b3_p": b3p, "b3_r": b3r, "b3_f1": b3f,
        "fold_thresholds": fold_thrs,
    }


def main() -> None:  # pragma: no cover - CLI entry
    from ..deploy import save_artifact
    from ..session import get_spark

    spark = get_spark("train-coref", master="local[16]",
                      shuffle_partitions=16)
    pdf = build_inputs(spark)
    print(f"matched events: {len(pdf)}")
    groups = build_groups(pdf)
    X, y, fold = pair_table(groups)
    print(f"candidate pairs: {len(X)} ({int(y.sum())} positive)")

    print("\nper-feature AUC (raw value vs same-hopper):")
    for k, name in enumerate(COREF_PAIR_FEATURES):
        print(f"  {name:12s} {rank_auc(X[:, k], y):.3f}")

    cv = cross_validate(groups, X, y, fold)
    print("\n5-fold cross-fitted (honest) clustering quality:")
    print(f"  pairwise P {cv['pairwise_p']:.3f} / R {cv['pairwise_r']:.3f}"
          f" / F1 {cv['pairwise_f1']:.3f}")
    print(f"  B3       P {cv['b3_p']:.3f} / R {cv['b3_r']:.3f}"
          f" / F1 {cv['b3_f1']:.3f}")
    print(f"  fold thresholds: {cv['fold_thresholds']}")

    w, b, mu, sd = fit_logistic(X, y)
    model = (w, b, mu, sd, None)
    thr, fit_f1 = select_threshold(groups, model)
    print(f"\nfull-fit deployment threshold {thr:.2f}"
          f" (train-regime pairwise F1 {fit_f1:.3f})")
    path = save_artifact({
        "w": w, "b": np.float64(b), "mu": mu, "sd": sd,
        "thr": np.float64(thr),
    }, COREF_ARTIFACT)
    print(f"saved {path}")
    spark.stop()


if __name__ == "__main__":  # pragma: no cover
    main()
