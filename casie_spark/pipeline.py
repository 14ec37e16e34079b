"""End-to-end DAG: documents -> tokens -> tags -> spans -> events/args
-> roles -> triples.

The reference runs this as a sequential per-document Python loop
(link_coref.py:1954-2056); here it is one DataFrame plan.  The
per-document loop becomes partition parallelism: documents are
salt-repartitioned by url hash before the tokenizer (the only Arrow
stage) so Zipf-skewed domains cannot produce straggler partitions at
web scale (BASELINE.json north_rule "salted-key repartitioned").
Everything after tokenization partitions naturally by doc_id through
the window/join operators.  The token stream has one reader, the span
pass (``linking.extract_spans``: events, arguments, their realis
windows, sentence arrays and edge context at once).  ``span_frames``
is the one span stage every caller shares: it cuts the pass with the
pipeline's one barrier, a truncate, and edge-repairs both kinds;
realis, linking and roles run above that event-scale leaf.  The
trained heads of mode=model travel as one ``Heads`` set
(``model_heads``); no head set means the reference rules.
"""

from __future__ import annotations

import functools
from collections.abc import Callable
from typing import NamedTuple

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from .util import truncate
from .operators.begin_repair import repair_edges
from .operators.linking import extract_spans, link, spans_of
from .operators.roles import assign_roles
from .operators.rules import apply_rules
from .operators.tagging import tag_gold_replay, tag_rules
from .operators.tokenizer import tokenize

TRIPLE_COLUMNS = [
    "doc_id", "subj", "pred", "obj", "event_subtype", "realis",
    "event_id", "event_begin", "arg_begin", "confidence",
]


def salt_repartition(df: DataFrame, key: str = "url", n: int | None = None) -> DataFrame:
    """Hash-salted repartition defusing hot-domain skew (SURVEY.md
    section 4 item 1).  xxhash64 of the full key spreads rows of one
    domain uniformly; n defaults to spark.sql.shuffle.partitions."""
    if n:
        return df.repartition(n, F.xxhash64(F.col(key)))
    return df.repartition(F.xxhash64(F.col(key)))


def doc_key(col):
    """Internal 8-byte document key: xxhash64 of the url/id string.
    Token-stream sorts, shuffles and caches compare longs instead of
    ~30-char urls — a large memory-bandwidth saving on the window-heavy
    tagging DAG.  Birthday-bound collision estimate: expected colliding
    PAIRS ≈ n²/2^65, i.e. ≈ 2.7x10^4 pairs (≈ 0.000003% of docs) at
    n = 10^12 — negligible for analytics, but a dedup/exact-provenance
    run at that scale should use :func:`doc_key128`.  The public triple
    output maps back to urls via a join either way."""
    return F.xxhash64(col.cast("string"))


def restore_urls(df: DataFrame, documents: DataFrame,
                 id_col: str = "url") -> DataFrame:
    """Replace ``df``'s internal :func:`doc_key` ``doc_id`` with the
    document's own id string.  Run it where rows are few (triples,
    events), not on the token stream."""
    id_map = documents.select(
        doc_key(F.col(id_col)).alias("doc_id"),
        F.col(id_col).cast("string").alias("_url"),
    ).distinct()
    return (
        df.join(id_map, "doc_id").drop("doc_id")
        .withColumnRenamed("_url", "doc_id")
    )


def doc_key128(col):
    """16-byte document key for true web scale: two distinct xxhash64
    digests packed into a struct (the second hashes the input with an
    appended constant, so the halves come from one hash family and are
    correlated — this widens the key to 128 bits but is NOT two
    independent hashes; a uniform-hash n²/2^129 collision bound does
    not strictly apply, though no correlated collision is known for
    xxhash64 under distinct inputs).  Struct keys hash, sort and join
    natively; use where an 8-byte key's ~10^4 colliding pairs per
    10^12 docs matter (exact dedup ledgers, provenance joins)."""
    s = col.cast("string")
    return F.struct(
        F.xxhash64(s).alias("h0"),
        F.xxhash64(s, F.lit(0x9E3779B9)).alias("h1"),
    )


def tagged_tokens(documents: DataFrame, id_col: str = "url",
                  mode: str = "rules", gold=None,
                  hash_ids: bool = True, tagger_weights=None) -> DataFrame:
    """documents -> tagged token table (the model-stage column contract),
    lazy: no barrier, since the span stage (:func:`span_frames`) is its
    one reader (a caller that reads it more than once, like
    train_begin's edge audit, `materialize`s it).
    ``tagger_weights``: optional TaggerWeights override for mode="model"
    (default: the trained artifact, falling back to distilled).

    One explicit hash repartition on doc_id right after tokenization is
    the ONLY full shuffle of the token stream: every downstream window,
    groupBy and join is keyed on doc_id (+ finer sort keys), and
    HashPartitioning(doc_id) satisfies clustering on any superset of
    keys, so Catalyst reuses this exchange for the whole linking DAG
    (sorts instead of shuffles).
    """
    docs = salt_repartition(documents, id_col)
    # mode="model" runs inference BEFORE the doc_id exchange (tag_model
    # owns that exchange; see its partitioning note)
    if hash_ids:
        docs = docs.withColumn("_doc_key", doc_key(F.col(id_col)))
        toks = tokenize(docs, id_col="_doc_key", id_type="long")
        if mode == "gold" and gold is not None:
            gold = tuple(
                g.withColumn("doc_id", doc_key(F.col("doc_id"))) for g in gold
            )
    else:
        toks = tokenize(docs, id_col=id_col)
    # `end` is begin + len(token) by tokenizer construction; span
    # assembly recomputes it, so it need not ride the ~15 window/sort
    # buffer passes of the tagging DAG (see spans.span_aggregates)
    toks = toks.drop("end")
    if mode != "model":
        toks = toks.repartition(F.col("doc_id"))
    # toks has a SINGLE consumer (the tagging stage — histogram and
    # rule sweeps are window ops now, not join-backs), so it needs no
    # materialization barrier: the tokenizer fuses into the tagging
    # stage.  The same holds for `tagged` itself: its one consumer is
    # the span pass (linking.extract_spans), whose truncate is the
    # pipeline's one barrier.  Only multi-referenced frames get a
    # barrier — Spark does not dedupe common subplans, so each one is
    # a frame that would otherwise re-execute its subtree per
    # reference; every removed barrier is one fewer job for the driver
    # to plan (the serial component that caps N->4N scaling).
    if mode == "rules":
        tagged = apply_rules(tag_rules(toks))
    elif mode == "model":
        # broadcast-weight mapInPandas inference stage (SURVEY §2.10);
        # same downstream rule sweeps as the reference applies after
        # its model predictions (recheck/compatible/combine)
        from .operators.model_tagger import tag_model

        tagged = apply_rules(tag_model(toks, weights=tagger_weights))
    elif mode == "gold":
        ev, ar = gold
        tagged = tag_gold_replay(toks, ev, ar)
    else:
        raise ValueError(f"unknown tagging mode: {mode}")
    return tagged


class Heads(NamedTuple):
    """The trained heads mode=model runs in place of the reference
    rules: ``begin`` the edge-repair tables ({"arg", "trig", "arg_end",
    "trig_end"}, operators.begin_repair; None skips the repair),
    ``realis`` a (text, ctx) -> Column realis provider, ``link`` an
    (events, args) -> linked picker and ``role`` a (subtype, arg_type,
    arg_text) -> Column role provider."""
    begin: dict | None
    realis: Callable
    link: Callable
    role: Callable


def model_heads(model_weights: dict | None = None) -> Heads:
    """The trained head set, resolved once: the committed artifacts,
    each overridable by a ``model_weights`` key — "begin" (the
    load_begin_weights tables), "realis" and "role" ((tables, labels)
    tuples), "linker" (the load_linker_weights tuple).  The held-out
    protocol (train_tagger --holdout) passes heads fit on the train
    folds only."""
    from .operators.begin_repair import load_begin_weights
    from .operators.linker import link_trained
    from .operators.realis import trained_realis_provider
    from .operators.roles import trained_role_provider

    mw = model_weights or {}
    return Heads(
        begin=mw["begin"] if "begin" in mw else load_begin_weights(),
        realis=trained_realis_provider(mw.get("realis")),
        link=functools.partial(link_trained,
                               weights=mw.get("linker", "auto")),
        role=trained_role_provider(mw.get("role")),
    )


def span_frames(tagged: DataFrame, begin: dict | None = None
                ) -> tuple[DataFrame, DataFrame]:
    """tagged tokens -> (events, args): the one span stage.  The span
    pass (``linking.extract_spans``, with the edge context when
    ``begin`` is given) is cut by one truncate, the pipeline's one
    barrier: it is the token stream's only reader and both frames
    project it, so the tagging DAG and the pass run once and
    everything above reads an EVENT/ARG-scale leaf, which keeps the
    rendered plan far below the 1 MB maxPlanStringLength cap
    (test_pipeline_job_budget pins the plan size).  ``begin``: the
    edge-repair tables (``Heads.begin``); each kind runs
    ``begin_repair.repair_edges`` with its own begin and end heads."""
    spans = truncate(extract_spans(tagged, context=begin is not None))
    events, args = spans_of(spans, "event"), spans_of(spans, "argument")
    if begin is not None:
        events = repair_edges(events, begin.get("trig"),
                              begin.get("trig_end"), label_col="subtype")
        args = repair_edges(args, begin.get("arg"), begin.get("arg_end"))
    return events, args


def triples_from_tagged(tagged: DataFrame, heads: Heads | None = None
                        ) -> DataFrame:
    """tagged tokens -> (subj, pred, obj) triples.  ``heads``: the
    trained head set (:func:`model_heads`), which repairs span edges,
    labels realis, links with the trained ranker and scores the role
    of every linked pair (route "all", gold-vocabulary canon); None
    runs the reference rules (cue-rule realis, the rule cascade, the
    RolePair table on the ambiguous pairs only)."""
    from .operators.realis import classify_realis_rules, with_realis

    events, args = span_frames(tagged, heads.begin if heads else None)
    if "realis" not in events.columns:
        # rules/model tagging carries no realis — run the M4 stage
        # (two-pass cue classifier over the ±7-token W2 window); gold
        # replay keeps the annotated labels instead
        events = with_realis(
            events, provider=heads.realis if heads else classify_realis_rules)
    if heads is None:
        rolled = assign_roles(link(events, args))
    else:
        rolled = assign_roles(heads.link(events, args), provider=heads.role,
                              route="all", canon=True)

    realis = (
        F.col("realis") if "realis" in rolled.columns else F.lit(None).cast("string")
    )
    return rolled.select(
        "doc_id",
        F.col("event_text").alias("subj"),
        F.coalesce("role", F.lit("has_argument")).alias("pred"),
        F.col("arg_text").alias("obj"),
        F.col("subtype").alias("event_subtype"),
        F.coalesce(realis, F.lit("Actual")).alias("realis"),
        "event_id",
        "event_begin",
        "arg_begin",
        F.lit(1.0).alias("confidence"),
    )


def run_pipeline(documents: DataFrame, id_col: str = "url",
                 mode: str = "rules", gold=None, tagger_weights=None,
                 model_weights: dict | None = None) -> DataFrame:
    """documents(url, warc_ts, html, text, lang) -> triples, doc_id =
    the original url/id (internal long keys are joined back here —
    triples are ~100x smaller than the token stream, so the mapping
    join is cheap).  Pages whose ``lang`` is not "en" are dropped.

    mode="model" runs the trained head set (:func:`model_heads`):
    edge repair, the trained M4 realis classifier, the trained
    union-pool link ranker (operators.linker) and the trained
    role-phrase model on ALL linked pairs (it beats the deterministic
    table on every slice and emits the gold-corpus role vocabulary,
    incl. the Software pairs RolePair lacks) — matching the reference
    architecture, where models handle the ambiguous decisions.
    rules/gold keep parity with the model-free reference semantics
    (RolePair + cue-rule + rule-cascade, verbatim RolePair vocabulary
    included).  ``model_weights`` overrides single trained heads
    (see :func:`model_heads`); omitted keys fall back to the
    committed full-corpus artifacts."""
    if "lang" in documents.columns:
        documents = documents.filter(F.col("lang") == "en")
    heads = model_heads(model_weights) if mode == "model" else None
    tagged = tagged_tokens(documents, id_col=id_col, mode=mode, gold=gold,
                           tagger_weights=tagger_weights)
    triples = triples_from_tagged(tagged, heads)
    return restore_urls(triples, documents, id_col).select(*TRIPLE_COLUMNS)
