"""Differential test of gold-mode linking against the sequential oracle
(oracle_ref.link_oracle) on seeded synthetic gold annotations.

The corpus parity gate (test_parity) needs the CASIE annotation files;
this test writes its own gold JSON in ``ANNOTATION_SCHEMA`` shape, so
gold replay -> span assembly -> the rule cascade -> roles runs wherever
Spark does.  The generator is tuned so each branch of the cascade shows
up often: a small trigger vocabulary makes surfaces repeat across
events (containment by surface matters), sentences carry 0-3 nuggets
and 0-3 argument spans, and the argument types include types that some
subtypes do not accept.
"""

from __future__ import annotations

import json
import random

import pytest
from pyspark.sql import functions as F

from casie_spark.config import PAIR, ROLE_PAIR
from casie_spark.operators.tagging import tag_gold_replay
from casie_spark.operators.tokenizer import tokenize
from casie_spark.pipeline import triples_from_tagged
from casie_spark.sources.annotations import (
    gold_arguments,
    gold_events,
    load_annotations,
)
from oracle_ref import link_oracle, replay_tags, spans

SUBTYPES = ["Databreach", "Ransom", "PatchVulnerability",
            "DiscoverVulnerability"]
# Person and Time fit every subtype; Data, Money and Number only the
# attack side (Data not Ransom), CVE and Version only the vulnerability
# side
ARG_TYPES = ["Person", "Time", "Data", "Money", "Number", "CVE", "Version"]
TRIGGER_WORDS = ["breach", "attack", "hack", "patch", "flaw"]
ARG_WORDS = ["acme", "records", "monday", "bitcoin", "users", "router"]
FILLER = ["the", "firm", "said", "on", "its", "network", "after", "that",
          "were", "told"]
N_DOCS = 400


def _sentence(rng):
    """-> (words, [(kind, lo, hi)]) with disjoint token ranges."""
    # a third of the sentences have no nugget and at least one argument
    # (which takes the previous sentence's pool), and a third have three
    n_nuggets = rng.choice([0, 0, 1, 2, 3, 3])
    items = (["N"] * n_nuggets
             + ["A"] * rng.randint(0 if n_nuggets else 1, 3)
             + ["F"] * rng.randint(1, 3))
    rng.shuffle(items)
    words, marks = [], []
    for kind in items:
        lo = len(words)
        if kind == "N":
            words += rng.choices(TRIGGER_WORDS, k=rng.randint(1, 2))
        elif kind == "A":
            words += rng.choices(ARG_WORDS, k=rng.randint(1, 3))
        else:
            words += rng.choices(FILLER, k=rng.randint(1, 2))
        if kind != "F":
            marks.append((kind, lo, len(words)))
    return words + ["."], marks


def synth_gold_doc(doc_no: int) -> dict:
    """One gold annotation in ANNOTATION_SCHEMA shape; a pure function
    of ``doc_no``."""
    rng = random.Random(doc_no)
    text, nuggets, args = "", [], []
    for _ in range(rng.randint(2, 8)):
        words, marks = _sentence(rng)
        offsets = []
        for w in words:
            if offsets and w != ".":
                text += " "
            offsets.append((len(text), len(text) + len(w)))
            text += w
        text += "\n"
        for kind, lo, hi in marks:
            b, e = offsets[lo][0], offsets[hi - 1][1]
            (nuggets if kind == "N" else args).append((b, e))
    events = []
    for i, (b, e) in enumerate(nuggets):
        events.append({
            "index": f"E{i}", "type": "x",
            "subtype": rng.choice(SUBTYPES),
            "realis": rng.choice(["Actual", "Other", "Generic"]),
            "nugget": {"startOffset": b, "endOffset": e,
                       "text": text[b:e], "index": f"N{i}"},
            "argument": [],
        })
    for j, (b, e) in enumerate(args if events else []):
        host = rng.choice(events)
        arg_type = rng.choice(ARG_TYPES)
        legal = ROLE_PAIR[host["subtype"]].get(arg_type, [])
        role = rng.choice(legal) if legal and rng.random() < 0.6 else None
        host["argument"].append({
            "startOffset": b, "endOffset": e, "text": text[b:e],
            "type": arg_type, "index": f"A{j}",
            "role": {"type": role} if role else None,
        })
    return {
        "sourcefile": f"{doc_no}.txt",
        "info": {"title": "", "date": "", "type": "text", "link": ""},
        "content": text,
        "cyberevent": {"hopper": [
            {"relation": None, "index": i, "events": [ev]}
            for i, ev in enumerate(events)]},
    }


def case_counts(docs) -> dict[str, int]:
    """How often each branch of the cascade occurs, read off the gold
    spans with the oracle's own replay."""
    counts = dict.fromkeys(
        ["same_multi", "prev_multi", "prev_containment",
         "first_sentence", "incompatible_only"], 0)
    for a in docs:
        evs = [e for h in a["cyberevent"]["hopper"] for e in h["events"]]
        toks = replay_tags(a["content"], evs)
        ev_spans = spans(toks, "trig")
        by_sent: dict[int, list] = {}
        for e in sorted(ev_spans, key=lambda s: s["first"]):
            by_sent.setdefault(e["sent"], []).append(e)
        for arg in spans(toks, "arg"):
            counts["first_sentence"] += arg["sent"] == 0
            sel = (arg["sent"] if arg["sent"] in by_sent
                   else arg["sent"] - 1 if arg["sent"] - 1 in by_sent
                   else None)
            if sel is None:
                continue
            pool = by_sent[sel]
            cands = [e for e in pool if arg["label"] in PAIR[e["label"]]]
            counts["incompatible_only"] += not cands
            if len(cands) > 1:
                if sel == arg["sent"]:
                    counts["same_multi"] += 1
                else:
                    counts["prev_multi"] += 1
                    # the previous sentence's first trigger surface is
                    # not in the first candidate: containment decides
                    counts["prev_containment"] += (
                        pool[0]["toks"][0] not in cands[0]["toks"])
    return counts


@pytest.fixture(scope="module")
def synth_gold(tmp_path_factory):
    docs = [synth_gold_doc(i) for i in range(N_DOCS)]
    path = tmp_path_factory.mktemp("gold") / "annotations.json"
    path.write_text(json.dumps(docs))
    return docs, str(path)


def test_generator_covers_each_cascade_branch(synth_gold):
    docs, _ = synth_gold
    counts = case_counts(docs)
    assert counts["same_multi"] >= 600, counts
    assert counts["prev_multi"] >= 200, counts
    assert counts["prev_containment"] >= 12, counts
    assert counts["first_sentence"] >= 400, counts
    assert counts["incompatible_only"] >= 400, counts


def test_gold_linking_matches_oracle(spark, synth_gold):
    """Gold replay -> triples_from_tagged emits exactly the oracle's
    (doc, event_begin, pred, arg_begin) set."""
    docs, path = synth_gold
    ann = load_annotations(spark, path)
    toks = tokenize(ann.select("doc_id", F.col("content").alias("text")),
                    id_col="doc_id")
    tagged = tag_gold_replay(toks, gold_events(ann), gold_arguments(ann))
    got = {
        (r["doc_id"], r["event_begin"], r["pred"], r["arg_begin"])
        for r in triples_from_tagged(tagged).select(
            "doc_id", "event_begin", "pred", "arg_begin").collect()
    }
    want = set()
    for a in docs:
        evs = [e for h in a["cyberevent"]["hopper"] for e in h["events"]]
        doc_id = a["sourcefile"][:-4]
        want |= {(doc_id, k1, k2, k3)
                 for k1, k2, k3 in link_oracle(a["content"], evs)}
    assert len(want) > 1500
    assert got == want, (sorted(got - want)[:5], sorted(want - got)[:5])
