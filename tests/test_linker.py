"""Trained link-disambiguation ranker (operators/linker.py): artifact
shape, determinism, fallback, and the candidate-frame feature
semantics on a constructed document."""

from __future__ import annotations

import numpy as np
import pytest
from pyspark.sql import functions as F

from casie_spark.operators.linker import (
    LEXDIM,
    LINKER_ARTIFACT,
    N_BASE,
    N_PAIR,
    base_vector,
    candidate_frame,
    lex_bucket,
    link_trained,
    load_linker_weights,
)


def test_artifact_present_and_well_formed():
    w = load_linker_weights(LINKER_ARTIFACT)
    assert w is not None, "trained linker artifact missing"
    w_base, w_pair, lex_trig, lex_arg = w
    assert w_base.shape == (N_BASE,)
    assert w_pair.shape == (N_PAIR,)
    assert lex_trig.shape == lex_arg.shape == (LEXDIM,)
    assert np.isfinite(w_base).all() and np.isfinite(w_pair).all()
    # the trained tables are not degenerate
    assert np.abs(w_base).sum() > 0 and np.abs(lex_trig).sum() > 0


def test_lex_bucket_stable():
    assert lex_bucket("stole records", "Victim") == lex_bucket(
        "stole whatever", "Victim")   # head-stem only
    assert lex_bucket("stealing", "Victim") == lex_bucket("steal", "Victim")
    assert 0 <= lex_bucket("anything", "X") < LEXDIM


def test_lex_bucket_col_matches_python(spark):
    """The JVM bucket expression (lex_bucket_col) must agree bit-for-bit
    with the Python hash the artifact was trained on — stem rule, md5
    low bits, little-endian assembly, empty/whitespace edge cases."""
    from casie_spark.operators.linker import (
        ARG_TYPES,
        PAIR_INDEX,
        SUBTYPES,
        lex_bucket_col,
        pair_index_col,
    )

    texts = [
        "stole records", "stealing", "steal", "leaked files", "phishes",
        "patched", "ransomware attack", "CVE-2017-0144", "a", "es", "ss",
        "", "   ", "Equifax breach", "users' data", "données volées",
        "breached,", "$3.2 million", "ing", "kisses", "was", "dos",
    ]
    keys = ["Victim", "Databreach", "X", "Tool"]
    rows = [(t, k) for t in texts for k in keys]
    df = spark.createDataFrame(rows, "text string, key string")
    got = df.select(
        "text", "key",
        lex_bucket_col(F.col("text"), F.col("key")).alias("b")).collect()
    for r in got:
        assert r["b"] == lex_bucket(r["text"], r["key"]), (
            r["text"], r["key"])

    prows = [(s, a) for s in SUBTYPES for a in ARG_TYPES]
    pdf = spark.createDataFrame(prows, "subtype string, arg_type string")
    pgot = pdf.select(
        "subtype", "arg_type",
        pair_index_col(F.col("subtype"), F.col("arg_type")).alias("i"),
    ).collect()
    for r in pgot:
        assert r["i"] == PAIR_INDEX[(r["subtype"], r["arg_type"])]


def test_base_vector_shapes_and_clips():
    X = base_vector(
        np.array([-2000.0, 10.0]), np.array([2000.0, 10.0]),
        np.array([1.0, 0.0]), np.array([1.0, 0.0]),
        np.array([0.0, 1.0]), np.array([3.0, 3.0]),
        np.array([9.0, 0.0]), np.array([0.0, 2.0]),
        np.array([0.0, 1.0]))
    assert X.shape == (2, N_BASE)
    assert X[0, 2] == -2.0 and X[0, 3] == 2.0      # distance clipped
    assert X[0, 8] == 4.0                          # commas clipped
    assert X[0, 10] == 1.0 and X[1, 10] == 0.0     # no-trigger-between
    assert X[0, 11] == 0.0 and X[1, 11] == 1.0     # sentence gap
    assert X[0, 12] == 0.0 and X[1, 12] == 1.0     # trigger in later sent


@pytest.fixture(scope="module")
def toy(spark):
    """Two sentences; sent 0 has two Databreach triggers and one arg
    between them; sent 1 has an arg whose only pool is the previous
    sentence."""
    tagged = spark.createDataFrame(
        [  # doc, sent, token_id, begin, token, trigger_tag, arg_tag
            (1, 0, 0, 0, "Hackers", "O", "B-Person"),
            (1, 0, 1, 8, "stole", "B-Databreach", "O"),
            (1, 0, 2, 14, "data", "O", "B-Data"),
            (1, 0, 3, 19, ",", "O", "O"),
            (1, 0, 4, 21, "then", "O", "O"),
            (1, 0, 5, 26, "leaked", "B-Databreach", "O"),
            (1, 0, 6, 33, "files", "O", "O"),
            (1, 1, 7, 40, "Victims", "O", "B-Person"),
            (1, 1, 8, 48, "suffered", "O", "O"),
        ],
        "doc_id long, sent_id int, token_id int, begin long, "
        "token string, trigger_tag string, arg_tag string",
    )
    from casie_spark.operators.linking import extract_arguments, extract_events

    ev = extract_events(tagged)
    ar = extract_arguments(tagged)
    return ev, ar


def test_candidate_frame_features(toy):
    ev, ar = toy
    cand = candidate_frame(ev, ar)
    rows = {(r["arg_text"], r["event_text"]): r for r in cand.collect()}
    # "data" (begin 14) vs "stole" (8) and "leaked" (26): both same-sent
    r1 = rows[("data", "stole")]
    assert r1["same_sent"] == 1.0 and r1["d"] == -6.0
    assert r1["n_cand"] == 2.0 and r1["nearest"] == 1.0
    assert r1["commas"] == 0.0 and r1["trigs"] == 0.0
    r2 = rows[("data", "leaked")]
    assert r2["nearest"] == 0.0 and r2["first_ev"] == 0.0
    assert r2["commas"] == 1.0   # the comma at begin 19 intervenes
    # "Victims" in sent 1: pool is the two prev-sentence events
    r3 = rows[("Victims", "stole")]
    assert r3["same_sent"] == 0.0 and r3["commas"] == 0.0
    # "Hackers" precedes both triggers; d > 0 for both
    assert rows[("Hackers", "stole")]["d"] == 8.0


def test_link_trained_deterministic_and_contract(toy):
    ev, ar = toy
    a = link_trained(ev, ar)
    cols = set(a.columns)
    assert {"doc_id", "event_id", "subtype", "event_text", "event_begin",
            "arg_id", "arg_type", "arg_text", "arg_begin",
            "arg_sent"} <= cols
    rows_a = sorted(map(tuple, a.collect()))
    rows_b = sorted(map(tuple, link_trained(ev, ar).collect()))
    assert rows_a == rows_b
    # every argument attaches exactly once
    n_args = ar.count()
    assert a.select("arg_id").distinct().count() == a.count() == n_args


def test_link_trained_falls_back_without_artifact(toy, tmp_path):
    """weights=None + missing artifact path -> reference rule cascade
    (linking.link) — same rows."""
    ev, ar = toy
    from casie_spark.operators import linker
    from casie_spark.operators.linking import link

    missing = str(tmp_path / "nope.npz")
    assert linker.load_linker_weights(missing) is None
    got = link_trained(ev, ar, weights=None)
    want = link(ev, ar)
    assert sorted(map(tuple, got.select(*want.columns).collect())) == \
        sorted(map(tuple, want.collect()))


def test_jvm_scorer_parity(toy):
    """with_score_jvm (pure-JVM link scoring: column math + broadcast
    weight joins, r5) must agree with the numpy score_rows kernel the
    artifact was trained against — |Δ| ≤ 1e-9 on every candidate and
    identical argmax picks."""
    import pandas as pd

    from casie_spark.operators.linker import (
        load_linker_weights,
        score_rows,
        with_score_jvm,
    )

    ev, ar = toy
    w = load_linker_weights()
    assert w is not None
    cand = candidate_frame(ev, ar)
    got = with_score_jvm(cand, w).select(
        "arg_id", "event_id", "link_score", "pair_idx", "l1", "l2",
        "d", "absd", "same_sent", "nearest", "first_ev", "n_cand",
        "commas", "trigs", "sentgap").toPandas()
    want = score_rows(got, *w)
    diff = np.abs(got["link_score"].to_numpy() - want)
    assert diff.max() <= 1e-9, diff.max()
    # identical per-argument winner under both scorers
    got["_py"] = want
    for _arg, sub in got.groupby("arg_id"):
        jvm_pick = sub.sort_values(
            ["link_score", "event_id"], ascending=[False, True]
        )["event_id"].iloc[0]
        py_pick = sub.sort_values(
            ["_py", "event_id"], ascending=[False, True])["event_id"].iloc[0]
        assert jvm_pick == py_pick
