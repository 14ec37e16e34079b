"""Event coreference clustering (the document-global graph op,
SURVEY.md section 2.9).

Reference: corefdiffbyevent + average-linkage AgglomerativeClustering
per (doc, event subtype), 7 weighted distance features, threshold 0.75
(code/link_coref.py:1510-1679, :2041-2044).  Events of the same
cluster form a hopper ('Same' relation).

Feature matrix, reference pairing (link_coref.py:1656-1663):

    w[0] nuggetdiff   surface distance of the two triggers
    w[1] realisdiff   0/1 realis mismatch
    w[2] argtype      shared-argument-type count   (min-max normalized)
    w[3] argcoref     1 - coreferent-arg-pair ratio (:1602-1613)
    w[4] nuggetdist   |sentence gap|               (min-max normalized)
    w[5] argmiss      e1 arg types absent from e2  (min-max normalized)
    w[6] timedist     0/1 Time-argument day difference (:1590-1600,
                      timedifference :499-544 via functions.timeparse)

Normalization is replicated as the reference EXECUTES it, not as the
code reads: the min tracker's comparison is inverted
(``if minX < min(dist)``, :1620-1633), so the minimum stays pinned at
its 100.0 sentinel and ``(v - 100) / (max - 100)`` flips sign —
each min-maxed feature becomes ≈1.0 with a small inverted signal
(more shared arg types ⇒ slightly closer), or exactly 0 when the
feature's max is 0.  The 0.75 threshold is tuned against THIS
geometry; a clean min-max leaves every same-subtype pair under the
threshold (measured round 2: pairwise P 0.507 = the one-cluster-per-
(doc,subtype) baseline).

Documented substitutes for parser/model inputs absent upstream (the
column contract does not change when real ones slot in):
- nuggetdiff: 1 - char-trigram Jaccard (reference uses word2vec
  cosine/2, strdist :300-309; the w2v matrix is not shipped);
- argcoref's per-pair predicate: normalized surface equality or
  containment (reference overlaps CoreNLP coref-chain spans,
  iscoref :311-332; the chains are parser output not shipped).

Implementation: one ``applyInPandas`` per doc_id group (sklearn-free
numpy average-linkage; event counts per doc are tens at most).  The
grouping key is doc_id, so the stage rides the pipeline's existing
doc_id partitioning; the per-doc pubdate joins in at EVENT scale
(~100x smaller than tokens), never broadcast.
"""

from __future__ import annotations

import os
from collections import Counter

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..config import COREF_THRESHOLD, COREF_WEIGHTS
from ..functions.timeparse import day_difference, resolve_time

OUT_SCHEMA_TMPL = "doc_id {id_type}, event_id long, cluster_id long"

_ARG_SEP = "\x1f"  # unit separator: never appears in argument surfaces

COREF_ARTIFACT = os.path.join(
    os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
    "artifacts", "coref_weights.npz")

# Feature order of the TRAINED pair scorer (operators/train_coref.py).
# The first seven are the reference's features in raw (un-normalized)
# form; argoverlap and exact are the two extra surface signals the
# BASELINE.md ceiling analysis measured (argument token overlap AUC
# 0.571, trigger surface identity — the strongest same-hopper cue).
COREF_PAIR_FEATURES = [
    "nugdiff", "realisdiff", "argtype", "argcoref",
    "nugdist", "argmiss", "timedist", "argoverlap", "exact",
]


def _trigram_jaccard(a: str, b: str) -> float:
    a, b = (a or "").lower(), (b or "").lower()
    ta = {a[i:i + 3] for i in range(max(1, len(a) - 2))}
    tb = {b[i:i + 3] for i in range(max(1, len(b) - 2))}
    if not ta or not tb:
        return 0.0
    return len(ta & tb) / len(ta | tb)


def _is_coref(a: str, b: str) -> bool:
    """Deterministic substitute for the reference's CoreNLP-chain span
    overlap (iscoref, link_coref.py:311-332): two argument mentions
    count as coreferent when their normalized surfaces match or one
    contains the other ('Equifax' vs 'Equifax Inc.').  Containment is
    the dominant within-document coreference signal for the named
    arguments CASIE links (vendors, products, CVE ids, files)."""
    a = (a or "").lower().strip()
    b = (b or "").lower().strip()
    if not a or not b:
        return False
    return a == b or (len(a) >= 3 and a in b) or (len(b) >= 3 and b in a)


def _parse_pubdate(raw) -> tuple[int, int, int]:
    """'2018_11_09' -> (2018, 11, 9); anything else -> (0, 0, 0)
    (reference splits the <date> header on '_', link_coref.py:230-238)."""
    try:
        y, m, d = (int(v) for v in str(raw).split("_"))
        return y, m, d
    except (ValueError, AttributeError):
        return 0, 0, 0


def _timedist(pubdate: tuple[int, int, int], s1: str, s2: str) -> float:
    """0/1 Time-argument distance (link_coref.py:1590-1600): both
    events carry a Time argument and their resolved dates differ by
    >0 days (timedifference :499-544 — identical surfaces short-
    circuit to 0; resolution order duration -> strtotime -> adjust is
    functions.timeparse.resolve_time)."""
    if not s1 or not s2 or s1 == s2:
        return 0.0
    d1 = resolve_time(s1.split(), pubdate)
    d2 = resolve_time(s2.split(), pubdate)
    return 1.0 if day_difference(d1, d2) > 0 else 0.0


def _ref_minmax(m: np.ndarray) -> np.ndarray:
    """The normalization the reference executes (link_coref.py:
    1617-1651): min pinned at the 100.0 sentinel, zero matrix when the
    max is zero.  For max < 100 the division flips sign, giving
    ≈1.0-with-inverted-signal values — see module docstring."""
    hi = float(m.max())
    if hi == 0.0:
        return np.zeros_like(m)
    return (m - 100.0) / (hi - 100.0)


def average_linkage_clusters(dist: np.ndarray, threshold: float) -> list[int]:
    """Deterministic average-linkage agglomerative clustering: merge the
    closest pair (ties -> smallest indices) while min distance <=
    threshold.  Mirrors sklearn AgglomerativeClustering(linkage=
    'average', distance_threshold=...) semantics."""
    n = dist.shape[0]
    clusters: dict[int, list[int]] = {i: [i] for i in range(n)}
    d = {(i, j): float(dist[i, j]) for i in range(n) for j in range(i + 1, n)}
    nxt = n
    while len(clusters) > 1:
        (i, j), best = min(d.items(), key=lambda kv: (kv[1], kv[0]))
        if best > threshold:
            break
        merged = clusters.pop(i) + clusters.pop(j)
        # average linkage: distance to new cluster = size-weighted mean
        newd = {}
        for k, members in clusters.items():
            pairs = [(min(a, b), max(a, b)) for a in merged for b in members]
            newd[k] = float(np.mean([dist[a, b] for a, b in pairs]))
        clusters[nxt] = merged
        d = {
            (a, b): v
            for (a, b), v in d.items()
            if a not in (i, j) and b not in (i, j)
        }
        for k, v in newd.items():
            d[(min(k, nxt), max(k, nxt))] = v
        nxt += 1
    labels = [0] * n
    for cid, members in enumerate(sorted(clusters.values(), key=min)):
        for m in members:
            labels[m] = cid
    return labels


def pair_matrices(sub: pd.DataFrame, pubdate: tuple[int, int, int],
                  extras: bool = True) -> dict[str, np.ndarray]:
    """Raw (n, n) pair-feature matrices for one (doc, subtype) event
    group (pandas frame with event_text/sent_id/realis/arg_types/
    arg_texts/time_surface columns, already sorted by event_id).

    The seven reference features come back UN-normalized (the
    reference-executed min-max is applied by the caller, see
    _ref_minmax); argoverlap/exact are extra signals consumed only by
    the trained scorer (COREF_PAIR_FEATURES) and are skipped (left as
    zero matrices) when ``extras`` is False — the reference path
    discards them, so the parity clustering keeps its original per-doc
    cost.  argmiss is asymmetric (e1 arg types absent from e2) —
    clustering and training both read the upper triangle, matching
    average_linkage_clusters."""
    n = len(sub)
    texts = sub["event_text"].tolist()
    sents = sub["sent_id"].to_numpy(dtype=float)
    realis = sub["realis"].fillna("").tolist()
    typelists = [
        [t for t in (s or "").split("|") if t] for s in sub["arg_types"]
    ]
    typecounts = [Counter(tl) for tl in typelists]
    argtexts = [
        [t for t in (s or "").split(_ARG_SEP) if t]
        for s in sub["arg_texts"]
    ]
    argtoks = [
        {w for t in tl for w in t.lower().split()} for tl in argtexts
    ]
    times = ["" if t is None or t != t else str(t)
             for t in sub["time_surface"]]

    m = {k: np.zeros((n, n)) for k in COREF_PAIR_FEATURES}
    for i in range(n):
        for j in range(n):
            if i == j:
                continue
            m["nugdiff"][i, j] = 1.0 - _trigram_jaccard(texts[i], texts[j])
            m["nugdist"][i, j] = abs(sents[i] - sents[j])
            m["realisdiff"][i, j] = 0.0 if realis[i] == realis[j] else 1.0
            # multiset remove-first intersection (:1579-1588)
            inter = sum((typecounts[i] & typecounts[j]).values())
            m["argtype"][i, j] = inter
            m["argmiss"][i, j] = len(typelists[i]) - inter
            # argument coref ratio (:1602-1613): fraction of
            # (arg_i, arg_j) pairs whose mentions corefer; 1.0
            # when either event has no arguments
            cnt = tot = 0
            for a1 in argtexts[i]:
                for a2 in argtexts[j]:
                    if _is_coref(a1, a2):
                        cnt += 1
                    tot += 1
            m["argcoref"][i, j] = 1.0 - (cnt / tot) if tot else 1.0
            # Time-argument day difference (:1590-1600); the
            # reference keeps the LAST Time argument per event
            # (surface overwritten in the argument loop, :502-507)
            m["timedist"][i, j] = _timedist(pubdate, times[i], times[j])
            if extras:
                # extra trained-scorer signals
                u = argtoks[i] | argtoks[j]
                m["argoverlap"][i, j] = (
                    len(argtoks[i] & argtoks[j]) / len(u) if u else 0.0
                )
                m["exact"][i, j] = (
                    1.0 if texts[i].lower() == texts[j].lower() else 0.0
                )
    return m


def reference_distance(m: dict[str, np.ndarray]) -> np.ndarray:
    """The reference's weighted 7-feature distance (link_coref.py:
    1656-1663) with the executed normalization quirk."""
    w = COREF_WEIGHTS
    dist = (
        w[0] * m["nugdiff"]
        + w[1] * m["realisdiff"]
        + w[2] * _ref_minmax(m["argtype"])
        + w[3] * m["argcoref"]
        + w[4] * _ref_minmax(m["nugdist"])
        + w[5] * _ref_minmax(m["argmiss"])
        + w[6] * m["timedist"]
    )
    np.fill_diagonal(dist, 0.0)
    return dist


def trained_distance(m: dict[str, np.ndarray], tw) -> np.ndarray:
    """Distance = 1 - sigmoid(pair logit) under the trained combiner
    (train_coref.py): standardized raw features, logistic weights fit
    5-fold cross-doc; the artifact's threshold was grid-picked on the
    TRAIN folds only (honest protocol, BASELINE.md round 4)."""
    w, b, mu, sd, _thr = tw
    z = np.full_like(m["nugdiff"], float(b))
    for k, name in enumerate(COREF_PAIR_FEATURES):
        z += w[k] * ((m[name] - mu[k]) / sd[k])
    dist = 1.0 - 1.0 / (1.0 + np.exp(-z))
    np.fill_diagonal(dist, 0.0)
    return dist


def parse_coref_weights(arrays):
    """Artifact arrays -> (w, b, mu, sd, threshold), or None for a
    stale artifact from an older feature set."""
    if arrays["w"].shape[0] != len(COREF_PAIR_FEATURES):
        return None
    return (arrays["w"].astype(np.float64), float(arrays["b"]),
            arrays["mu"].astype(np.float64), arrays["sd"].astype(np.float64),
            float(arrays["thr"]))


def load_coref_weights(path: str | None = None):
    """(w, b, mu, sd, threshold) or None when no (current) artifact.
    Cached per (process, path) by deploy.load_artifact."""
    from ..deploy import load_artifact

    return load_artifact(path or COREF_ARTIFACT, parse_coref_weights)


def _make_cluster_doc(trained):
    """applyInPandas body; ``trained`` is the (w, b, mu, sd, thr)
    tuple for the trained scorer or None for the reference distance.
    The tuple is tiny (9 floats + stats) — closure-pickled into the
    UDF, no broadcast needed."""

    def _cluster_doc(pdf: pd.DataFrame) -> pd.DataFrame:
        out = []
        doc_id = pdf["doc_id"].iloc[0]
        pubdate = (_parse_pubdate(pdf["pubdate"].iloc[0])
                   if "pubdate" in pdf else (0, 0, 0))
        next_cluster = 0
        for subtype in sorted(pdf["subtype"].unique()):
            sub = pdf[pdf["subtype"] == subtype].sort_values("event_id")
            n = len(sub)
            if n == 1:
                out.append((doc_id, int(sub["event_id"].iloc[0]), next_cluster))
                next_cluster += 1
                continue
            m = pair_matrices(sub, pubdate, extras=trained is not None)
            if trained is not None:
                dist = trained_distance(m, trained)
                threshold = trained[4]
            else:
                dist = reference_distance(m)
                threshold = COREF_THRESHOLD
            labels = average_linkage_clusters(dist, threshold)
            for eid, lab in zip(sub["event_id"], labels):
                out.append((doc_id, int(eid), next_cluster + lab))
            next_cluster += max(labels) + 1
        return pd.DataFrame(out, columns=["doc_id", "event_id", "cluster_id"])

    return _cluster_doc


def coref_inputs(events: DataFrame, linked: DataFrame,
                 pubdates: DataFrame | None = None) -> DataFrame:
    """The per-event frame _cluster_doc consumes, BEFORE the groupBy:
    (doc_id, event_id, subtype, sent_id, event_text, realis,
    arg_types, arg_texts, time_surface, pubdate).  Exposed so
    train_coref.py can collect the identical inputs the deployed
    clustering sees."""
    has_text = "arg_text" in linked.columns
    has_arg_id = "arg_id" in linked.columns
    aggs = [
        F.concat_ws("|", F.array_sort(F.collect_list("arg_type"))).alias("arg_types"),
        (
            F.concat_ws(_ARG_SEP, F.array_sort(F.collect_list("arg_text")))
            if has_text else F.lit("")
        ).alias("arg_texts"),
        (
            F.max_by(
                F.when(F.col("arg_type") == "Time", F.col("arg_text")),
                F.when(F.col("arg_type") == "Time", F.col("arg_id")),
            )
            if has_text and has_arg_id
            else (
                F.max(F.when(F.col("arg_type") == "Time", F.col("arg_text")))
                if has_text else F.lit(None).cast("string")
            )
        ).alias("time_surface"),
    ]
    argl = linked.groupBy("doc_id", "event_id").agg(*aggs)
    base = events.select(
        "doc_id", "event_id",
        F.col("subtype"), F.col("sent_id"),
        F.col("text").alias("event_text"),
        (F.col("realis") if "realis" in events.columns else F.lit(None).cast("string")).alias("realis"),
    ).join(argl, ["doc_id", "event_id"], "left")
    if pubdates is not None:
        base = base.join(
            pubdates.select("doc_id", F.col("pubdate").cast("string").alias("pubdate")),
            "doc_id", "left",
        )
    else:
        base = base.withColumn("pubdate", F.lit(None).cast("string"))
    return base


def cluster_events(events: DataFrame, linked: DataFrame,
                   pubdates: DataFrame | None = None,
                   weights: str = "reference") -> DataFrame:
    """events + linked arg pairs -> (doc_id, event_id, cluster_id).

    ``pubdates``: optional (doc_id, pubdate) frame, pubdate the raw
    'y_m_d' header string — enables the timedist feature (otherwise
    every date resolves against (0,0,0) and timedist still fires on
    fully-specified surfaces only).

    ``weights``: 'reference' (default — the reference's fixed 7-weight
    distance + 0.75 threshold, the parity-gated path), 'trained' (the
    cross-fitted logistic combiner, requires the committed artifact),
    'auto' (trained when the artifact exists, else reference), or an
    explicit (w, b, mu, sd, thr) tuple (the fold-restricted holdout
    protocol passes these)."""
    if weights == "trained":
        trained = load_coref_weights()
        if trained is None:
            from ..deploy import resolve_artifact

            # resolve through the zip-safe indirection so a stale
            # artifact inside a --py-files bundle gets the retrain
            # message, not a bogus file-not-found
            if os.path.exists(resolve_artifact(COREF_ARTIFACT)):
                raise ValueError(
                    f"stale coref artifact at {COREF_ARTIFACT} (expected "
                    f"{len(COREF_PAIR_FEATURES)} features); retrain with "
                    "python -m casie_spark.operators.train_coref")
            raise FileNotFoundError(
                f"no coref artifact at {COREF_ARTIFACT}; run "
                "python -m casie_spark.operators.train_coref")
    elif weights == "auto":
        trained = load_coref_weights()
    elif weights == "reference":
        trained = None
    else:
        # explicit (w, b, mu, sd, thr) tuple (the holdout protocol);
        # cross_validate builds thr=None internally — fall back to the
        # reference threshold rather than let None reach the executor UDF
        trained = weights
        if trained is not None and trained[4] is None:
            trained = (*trained[:4], float(COREF_THRESHOLD))
    base = coref_inputs(events, linked, pubdates)
    # doc_id type follows the input (url string or hashed long key)
    id_type = dict(events.dtypes)["doc_id"]
    return base.groupBy("doc_id").applyInPandas(
        _make_cluster_doc(trained), schema=OUT_SCHEMA_TMPL.format(id_type=id_type)
    )
