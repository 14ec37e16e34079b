"""Summed-gather averaged perceptron: the one trainer and scorer behind
the learned heads (tagger, edge repair, roles).

A head is a dict of float32 tables: one ``(rows, n_labels)`` table per
feature key, gathered by that key's int64 id array, plus a bias ``b``
of shape ``(n_labels,)``.  Logits = b + Σ_k tables[k][f[k]].

Training is a mini-batch AVERAGED PERCEPTRON: on each mistake, +w at
the gold label row and -w at the predicted one, per feature table
(w = inverse-class-frequency ** ``class_weight_pow``, normalized so
class 0 has weight 1 — the A1 class-frequency -> class-weights
computation, reference role_phrase.py:270-281, which keeps the ~30:1
O class from drowning the tagger's trigger/argument classes).
Mistake-driven updates reach high accuracy on the near-separable
memorization objective where plain SGD under-trains; averaging the
last epochs gives the usual stability.  Deterministic: fixed seed,
fixed epoch/batch schedule, so every artifact is bit-reproducible.
"""

from __future__ import annotations

import numpy as np

EPOCHS = 24
BATCH = 256          # small batches: less mini-batch staleness, more
                     # mistake-driven steps -> near-ceiling train fit
AVG_FROM = 20        # average the last epochs only (early epochs are
                     # still far from the solution and dilute the mean)


def gather_logits(tables: dict[str, np.ndarray], f: dict[str, np.ndarray],
                  keys, dtype=np.float32) -> np.ndarray:
    """(n, n_labels) logits: bias plus one table gather per key, added
    left to right in ``keys`` order in ``dtype`` — order and dtype fix
    the float rounding, hence the argmax ties."""
    out = tables["b"][None, :].astype(dtype).repeat(len(f[keys[0]]), axis=0)
    for k in keys:
        out += tables[k][f[k]]
    return out


def train_head(f: dict[str, np.ndarray], y: np.ndarray,
               shapes: dict[str, tuple], seed: int,
               class_weight_pow: float = 0.0) -> dict[str, np.ndarray]:
    """Fit one head.  ``shapes`` maps each table key to its shape
    (``"b"`` -> ``(n_labels,)``); its iteration order is the gather
    order and the order of the returned float32 tables."""
    rng = np.random.default_rng(seed)
    tables = {k: np.zeros(s, np.float32) for k, s in shapes.items()}
    avg = {k: np.zeros(s, np.float64) for k, s in shapes.items()}
    keys = tuple(k for k in shapes if k != "b")
    n = len(y)
    counts = np.bincount(y, minlength=shapes["b"][0]).astype(np.float64)
    cw = (n / np.maximum(counts, 1.0)) ** class_weight_pow
    cw = (cw / cw[0]).astype(np.float32)
    navg = 0
    for ep in range(EPOCHS):
        order = rng.permutation(n)
        for s in range(0, n, BATCH):
            idx = order[s:s + BATCH]
            pred = gather_logits(tables, {k: f[k][idx] for k in keys},
                                 keys).argmax(axis=1)
            mist = pred != y[idx]
            if mist.any():
                mi = idx[mist]
                pm = pred[mist]
                wts = cw[y[mi]]
                for k in keys:
                    np.add.at(tables[k], (f[k][mi], y[mi]), wts)
                    np.add.at(tables[k], (f[k][mi], pm), -wts)
                np.add.at(tables["b"], y[mi], wts)
                np.add.at(tables["b"], pm, -wts)
        if ep >= AVG_FROM:
            for k in tables:
                avg[k] += tables[k]
            navg += 1
    return {k: (avg[k] / max(navg, 1)).astype(np.float32) for k in tables}
