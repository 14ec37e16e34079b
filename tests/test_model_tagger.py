"""Model-inference harness: the broadcast-weight mapInPandas tagger
must honor the tagging column contract and reproduce the rule tagger's
triples to high parity (its weights are distilled from the rule
lexicons)."""

from __future__ import annotations

from pyspark.sql import functions as F

from casie_spark.operators.model_tagger import (
    TaggerWeights,
    distill_rule_weights,
    shape_id,
    tag_model,
    token_id,
)
from casie_spark.operators.tokenizer import tokenize
from casie_spark.pipeline import (
    restore_urls,
    run_pipeline,
    tagged_tokens,
    triples_from_tagged,
)
from casie_spark.sources.documents import synth_documents


def test_token_id_stable_and_reserved():
    assert token_id("Attack") == token_id("attack")
    assert 2 <= token_id("x") < (1 << 16)
    assert token_id("attack") == token_id("attack")


def test_distilled_weights_shape():
    w = distill_rule_weights()
    assert w.w_trigger.shape[0] == w.w_arg.shape[0] == (1 << 16)
    assert w.w_trigger.shape[1] == len(w.trigger_labels)
    # the lexicon actually landed: some rows prefer a non-O label
    assert (w.w_trigger.argmax(axis=1) > 0).sum() > 100
    assert (w.w_arg.argmax(axis=1) > 0).sum() > 50


def test_tag_model_contract(spark):
    """Distilled weights pinned explicitly: the TRAINED artifact's
    Viterbi decode may legitimately suppress context-free lexicon
    unigrams (that is its precision job); the column contract and the
    lexicon semantics are what this test owns."""
    docs = spark.createDataFrame(
        [("u1", "Hackers stealing $4 million and CVE-2019-0708 was exploited.")],
        "url string, text string")
    toks = tokenize(docs, id_col="url")
    tagged = tag_model(toks, weights=distill_rule_weights())
    assert {"trigger_tag", "arg_tag"} <= set(tagged.columns)
    rows = {r["token"]: (r["trigger_tag"], r["arg_tag"])
            for r in tagged.collect()}
    assert rows["CVE-2019-0708"][1] == "B-CVE"
    assert rows["Hackers"][1] == "B-Person"
    # "stealing" stems to "steal" (Databreach lexicon)
    assert rows["stealing"][0] == "B-Databreach"
    assert rows["million"][1] in ("B-Money", "I-Money")


def test_model_vs_rules_triple_parity(spark):
    """Distilled weights must reproduce the rule pipeline's triples to
    high precision (differences: context-dependent rules a unigram
    model cannot carry — histogram-resolved 'general' nouns and the
    NER look-back inherited arguments)."""
    docs = synth_documents(spark, 150, partitions=4)
    rules_t = {tuple(r) for r in run_pipeline(docs, mode="rules")
               .select("doc_id", "subj", "pred", "obj").distinct().collect()}
    # the distilled tagger under the reference rules downstream (no
    # trained head set), on the English pages run_pipeline keeps
    en = docs.filter(F.col("lang") == "en")
    model_t = {tuple(r) for r in restore_urls(triples_from_tagged(
        tagged_tokens(en, mode="model", tagger_weights=distill_rule_weights())),
        en)
        .select("doc_id", "subj", "pred", "obj").distinct().collect()}
    tp = len(rules_t & model_t)
    precision = tp / len(model_t)
    recall = tp / len(rules_t)
    assert precision >= 0.95, (precision, recall)
    assert recall >= 0.85, (precision, recall)


def test_custom_weights_injectable(spark):
    """Zeroed weights -> everything O except JVM-side shape classes."""
    import numpy as np

    from casie_spark.operators.model_tagger import ARG_LABELS, TRIGGER_LABELS

    w = TaggerWeights(
        w_trigger=np.zeros((1 << 16, len(TRIGGER_LABELS)), dtype=np.float32),
        w_arg=np.zeros((1 << 16, len(ARG_LABELS)), dtype=np.float32),
    )
    docs = spark.createDataFrame(
        [("u1", "Hackers stole data on January 2019")], "url string, text string")
    tagged = tag_model(tokenize(docs, id_col="url"), weights=w)
    rows = {r["token"]: (r["trigger_tag"], r["arg_tag"]) for r in tagged.collect()}
    assert rows["stole"] == ("O", "O")
    assert rows["Hackers"] == ("O", "O")
    assert rows["2019"][1] == "B-Time"  # JVM-side year shape survives


def test_sentence_flag_ids_golden():
    """sev ids: 1 for every token of a sentence containing any non-O
    decoded label, 0 otherwise; empty input safe."""
    import numpy as np

    from casie_spark.operators.model_tagger import sentence_flag_ids

    path = np.array([0, 0, 2, 0, 0, 0, 1, 0, 0])
    starts = np.array([0, 4, 6])
    assert sentence_flag_ids(path, starts, 9).tolist() == [
        1, 1, 1, 1, 0, 0, 1, 1, 1]
    assert sentence_flag_ids(
        np.zeros(3, np.int64), np.array([0]), 3).tolist() == [0, 0, 0]
    assert sentence_flag_ids(
        np.zeros(0, np.int64), np.array([]), 0).tolist() == []


def test_sev_table_biases_arg_decode():
    """A 'sev' table on the arg head shifts arg logits by the decoded
    trigger flag of the token's sentence: with a strongly negative
    non-O column for flag=0, arg predictions in trigger-less sentences
    are suppressed; the trigger path itself is unaffected."""
    import numpy as np

    from casie_spark.operators.model_tagger import (
        ARTIFACT_PATH,
        load_weights,
    )

    base = load_weights(ARTIFACT_PATH)
    toks = ["Attackers", "stole", "records", ".",
            "The", "weather", "was", "mild", "."]
    prevs = [None] + toks[:-1]
    nexts = toks[1:] + [None]
    starts = np.array([0, 4])
    trig0, arg0 = base.decode(toks, prevs, nexts, starts)

    sev = np.zeros((2, len(base.arg_labels)), np.float32)
    sev[0, 1:] = -1e6  # no-trigger sentence: forbid non-O args
    with_sev = TaggerWeights(
        w_trigger=base.w_trigger, w_arg=base.w_arg,
        trigger_labels=base.trigger_labels, arg_labels=base.arg_labels,
        trig_ctx=base.trig_ctx, arg_ctx={**base.arg_ctx, "sev": sev},
        trig_trans=base.trig_trans, arg_trans=base.arg_trans)
    trig1, arg1 = with_sev.decode(toks, prevs, nexts, starts)
    assert (trig0 == trig1).all()
    flags = trig1 != 0
    # sentence 0 has a decoded trigger ("stole"); sentence 1 must not
    assert flags[:4].any() and not flags[4:].any()
    assert (arg1[4:] == 0).all()          # suppressed where flag=0
    assert (arg1[:4] == arg0[:4]).all()   # untouched where flag=1
