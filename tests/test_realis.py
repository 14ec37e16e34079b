"""Realis stage (M4): W2 context windows cut from the span pass,
two-pass cue classification, in-place scoring, pipeline integration."""

from __future__ import annotations

import numpy as np
from pyspark.sql import functions as F

from casie_spark.operators.linking import extract_events
from casie_spark.operators.realis import (
    classify_realis_rules,
    realis_context,
    with_realis,
)
from casie_spark.operators.rules import apply_rules
from casie_spark.operators.tagging import tag_rules
from casie_spark.operators.tokenizer import tokenize

DOCS = [
    # Actual: concrete past event with specifics
    ("u1", "Hackers stole 400 million records from Adobe last Tuesday."),
    # Other: modal/conditional cue in the window
    ("u2", "Attackers could steal credentials if the flaw is unpatched."),
    # Generic: habitual cue
    ("u3", "Criminals typically steal passwords through phishing emails."),
]


def _events(spark):
    docs = spark.createDataFrame(DOCS, "url string, text string")
    return extract_events(apply_rules(tag_rules(tokenize(docs, id_col="url"))))


def test_realis_context_window(spark):
    events = _events(spark)
    ctx = realis_context(events)
    assert ctx.columns == [c for c in events.columns
                           if c != "ctx_window"] + ["ctx"]
    rows = ctx.collect()
    assert rows, "no events extracted"
    assert len(rows) == events.count()  # one row per event
    for r in rows:
        assert 1 <= len(r["ctx"]) <= 15  # ±7 tokens + the nugget
        assert all(w == w.lower() for w in r["ctx"])


def _join_context(events, tagged, width=7):
    """The W2 window as a range join back to the tokens (the form the
    span pass replaced): every token of the event's sentence within
    ±width of its first token, sorted by token_id."""
    toks = tagged.select(
        F.col("doc_id").alias("_t_doc"), F.col("sent_id").alias("_t_sent"),
        F.col("token_id").alias("_t_id"), F.lower("token").alias("_w"))
    j = events.join(
        toks,
        (F.col("doc_id") == F.col("_t_doc"))
        & (F.col("sent_id") == F.col("_t_sent"))
        & (F.col("_t_id") >= F.col("first_token_id") - width)
        & (F.col("_t_id") <= F.col("first_token_id") + width),
        "left")
    hit = F.when(F.col("_t_id").isNotNull(), F.struct("_t_id", "_w"))
    return j.groupBy("doc_id", "event_id").agg(
        F.transform(F.array_sort(F.collect_list(hit)),
                    lambda s: s["_w"]).alias("ctx"))


def _long_sentence_stream(spark, seed):
    """Seeded tokens in 3-30-token sentences with random 1-3-token
    trigger spans, so repaired first tokens sit up to two tokens from
    the assembled ones and windows reach both sentence edges."""
    rng = np.random.default_rng(seed)
    words = ["Hackers", "stole", "the", "data", "could", "often", "may",
             "records", "2019", ",", "attack", "."]
    rows = []
    for d in range(4):
        begin = 0
        for s in range(6):
            n = int(rng.integers(3, 31))
            tags, i = ["O"] * n, 0
            while i < n:
                if rng.random() < 0.2:
                    k = int(rng.integers(1, 4))
                    for j in range(i, min(n, i + k)):
                        tags[j] = ("B-" if j == i else "I-") + "Databreach"
                    i += k + 1
                else:
                    i += 1
            for t in range(n):
                tok = str(rng.choice(words))
                rows.append((d, s, t, tok, begin, tags[t], "O"))
                begin += len(tok) + 1
    return spark.createDataFrame(
        rows, "doc_id long, sent_id int, token_id int, token string, "
              "begin long, trigger_tag string, arg_tag string")


def test_span_pass_window_equals_range_join(spark):
    """The span pass's carried window, cut around the edge-repaired
    first token, equals the range join back to the tokens exactly, for
    every begin shift in SHIFTS (the guards keep a shift inside the
    sentence, so each moves first_token_id by the shift or not at
    all).  A pass that collected only ±CONTEXT_WIDTH around the
    assembled first token would lose the tokens a shift brings into
    the window."""
    from test_begin_repair import forced_weights

    from casie_spark.operators.begin_repair import (
        SHIFTS,
        events_with_context,
        repair_edges,
    )

    for seed in (3, 4):
        tagged = _long_sentence_stream(spark, seed).cache()
        spans = events_with_context(tagged).cache()
        base = {r["event_id"] + 1000 * r["doc_id"]: r["first_token_id"]
                for r in spans.collect()}
        for shift in SHIFTS:
            events = repair_edges(
                spans, forced_weights(SHIFTS.index(shift)), None,
                label_col="subtype").cache()
            moved = {r["event_id"] + 1000 * r["doc_id"]: r["first_token_id"]
                     for r in events.collect()}
            got = {(r["doc_id"], r["event_id"]): r["ctx"]
                   for r in realis_context(events).collect()}
            want = {(r["doc_id"], r["event_id"]): r["ctx"]
                    for r in _join_context(events, tagged).collect()}
            assert got == want, (seed, shift)
            # the forced head really moves first tokens by `shift`
            assert sum(moved[k] - base[k] == shift for k in base) > 10
            events.unpersist()
        spans.unpersist()
        tagged.unpersist()


def test_two_pass_classification(spark):
    events = _events(spark)
    preds = realis_context(events).select(
        "doc_id", classify_realis_rules(F.col("text"), F.col("ctx"))
        .alias("realis"))
    by_doc = {}
    for r in preds.collect():
        by_doc.setdefault(r["doc_id"], set()).add(r["realis"])
    assert "Actual" in by_doc["u1"]
    assert "Other" in by_doc["u2"]
    assert "Generic" in by_doc["u3"]


def test_with_realis_assignment(spark):
    events = _events(spark)
    out = with_realis(events)
    assert "realis" in out.columns
    assert out.filter(F.col("realis").isNull()).count() == 0
    assert out.count() == events.count()  # scored in place, 1:1


def test_pipeline_emits_mixed_realis(spark):
    from casie_spark.pipeline import run_pipeline
    from casie_spark.sources.documents import synth_documents

    docs = synth_documents(spark, 120, partitions=4)
    vals = {
        r["realis"]
        for r in run_pipeline(docs, mode="rules")
        .select("realis").distinct().collect()
    }
    assert vals <= {"Actual", "Generic", "Other"}
    assert "Actual" in vals


def test_trained_realis_provider(spark):
    """The trained M4 head (corpus acc 0.922 vs rules 0.628) plugs into
    the same provider contract and separates cue-free Generic/Actual
    contexts the hand rules miss."""
    from casie_spark.operators.realis import trained_realis_provider

    tagged = spark.createDataFrame(
        [(1, 0, i, t, i * 10, "B-Databreach" if t == "breached" else "O",
          "O")
         for i, t in enumerate(
             "hackers breached the company database yesterday".split())],
        "doc_id long, sent_id int, token_id int, token string, "
        "begin long, trigger_tag string, arg_tag string")
    events = extract_events(tagged)
    out = with_realis(events, provider=trained_realis_provider())
    rows = out.collect()
    assert len(rows) == 1
    assert rows[0]["realis"] in ("Actual", "Generic", "Other", "General")
    # determinism
    again = with_realis(events,
                        provider=trained_realis_provider()).collect()
    assert rows[0]["realis"] == again[0]["realis"]


def test_event_without_context_is_actual(spark):
    """An event whose carried window holds no token within ±7 of its
    first token has an empty W2 window; with either provider it is
    labelled Actual (a plural trigger would otherwise read as Generic
    under the cue rules)."""
    from casie_spark.operators.realis import trained_realis_provider

    far = [(0, "hackers"), (9, "breached")]
    events = spark.createDataFrame(
        [(1, 0, 0, "breaches", 40, far), (1, 1, 0, "breached", 1, [])],
        "doc_id long, event_id int, sent_id int, text string, "
        "first_token_id int, "
        "ctx_window array<struct<token_id:int, w:string>>")
    for provider in (classify_realis_rules, trained_realis_provider()):
        out = with_realis(events, provider=provider)
        assert out.columns == [c for c in events.columns
                               if c != "ctx_window"] + ["realis"]
        assert {r["event_id"]: r["realis"] for r in out.collect()} == {
            0: "Actual", 1: "Actual"}
