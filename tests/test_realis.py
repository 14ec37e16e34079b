"""Realis stage (M4): W2 context windows, two-pass cue classification,
J6 assignment join, pipeline integration."""

from __future__ import annotations

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
    tagged = apply_rules(tag_rules(tokenize(docs, id_col="url")))
    return extract_events(tagged), tagged


def test_realis_context_window(spark):
    events, tagged = _events(spark)
    ctx = realis_context(events, tagged)
    assert ctx.columns == events.columns + ["ctx"]
    rows = ctx.collect()
    assert rows, "no events extracted"
    assert len(rows) == events.count()  # one row per event
    for r in rows:
        assert 1 <= len(r["ctx"]) <= 15  # ±7 tokens + the nugget
        assert all(w == w.lower() for w in r["ctx"])


def test_two_pass_classification(spark):
    events, tagged = _events(spark)
    preds = realis_context(events, tagged).select(
        "doc_id", classify_realis_rules(F.col("text"), F.col("ctx"))
        .alias("realis"))
    by_doc = {}
    for r in preds.collect():
        by_doc.setdefault(r["doc_id"], set()).add(r["realis"])
    assert "Actual" in by_doc["u1"]
    assert "Other" in by_doc["u2"]
    assert "Generic" in by_doc["u3"]


def test_with_realis_assignment(spark):
    events, tagged = _events(spark)
    out = with_realis(events, tagged)
    assert "realis" in out.columns
    assert out.filter(F.col("realis").isNull()).count() == 0
    assert out.count() == events.count()  # J6 join is 1:1


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
    from casie_spark.operators.realis import (
        realis_context,
        trained_realis_provider,
        with_realis,
    )

    tagged = spark.createDataFrame(
        [(1, 0, i, t, i * 10, "B-Databreach" if t == "breached" else "O")
         for i, t in enumerate(
             "hackers breached the company database yesterday".split())],
        "doc_id long, sent_id int, token_id int, token string, "
        "begin long, trigger_tag string")
    events = spark.createDataFrame(
        [(1, 0, 0, "breached", 1)],
        "doc_id long, event_id int, sent_id int, text string, "
        "first_token_id int")
    out = with_realis(events, tagged, provider=trained_realis_provider())
    rows = out.collect()
    assert len(rows) == 1
    assert rows[0]["realis"] in ("Actual", "Generic", "Other", "General")
    # determinism
    again = with_realis(events, tagged,
                        provider=trained_realis_provider()).collect()
    assert rows[0]["realis"] == again[0]["realis"]


def test_event_without_context_is_actual(spark):
    """An event whose first_token_id matches no token has an empty W2
    window; with either provider it is labelled Actual (a plural
    trigger would otherwise read as Generic under the cue rules)."""
    from casie_spark.operators.realis import trained_realis_provider

    tagged = spark.createDataFrame(
        [(1, 0, i, t, i * 10) for i, t in enumerate(
            "hackers breached the company".split())],
        "doc_id long, sent_id int, token_id int, token string, begin long")
    events = spark.createDataFrame(
        [(1, 0, 0, "breaches", 40), (1, 1, 0, "breached", 1)],
        "doc_id long, event_id int, sent_id int, text string, "
        "first_token_id int")
    for provider in (classify_realis_rules, trained_realis_provider()):
        out = with_realis(events, tagged, provider=provider)
        assert out.columns == events.columns + ["realis"]
        assert {r["event_id"]: r["realis"] for r in out.collect()} == {
            0: "Actual", 1: "Actual"}
