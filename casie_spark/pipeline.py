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
windows, sentence arrays and edge context at once), and its truncate
is the pipeline's one barrier; edge repair, realis, linking and roles
run above that event-scale leaf.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from .util import truncate
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
    lazy: no barrier, since the span pass is its one reader (callers
    that read it more than once, like the trainers, `materialize` it).
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
    # owns that exchange; see its partitioning note); its mapInPandas
    # decoder derives sentence context from the token rows itself, so
    # the tokenizer's context columns are not needed
    ctx = False
    if hash_ids:
        docs = docs.withColumn("_doc_key", doc_key(F.col(id_col)))
        toks = tokenize(docs, id_col="_doc_key", id_type="long", context=ctx)
        if mode == "gold" and gold is not None:
            gold = tuple(
                g.withColumn("doc_id", doc_key(F.col("doc_id"))) for g in gold
            )
    else:
        toks = tokenize(docs, id_col=id_col, context=ctx)
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


def triples_from_tagged(tagged: DataFrame, role_provider=None,
                        realis_provider=None,
                        link_provider=None,
                        role_route: str = "ambiguous",
                        role_canon: bool = False,
                        begin_weights=None) -> DataFrame:
    """tagged tokens -> (subj, pred, obj) triples.  ``role_provider``:
    optional role-phrase model hook (see operators.roles.assign_roles);
    ``realis_provider``: optional M4 classifier override (default: the
    cue rules); ``link_provider``: optional (events, args) -> linked
    callable replacing the reference rule cascade
    (operators.linker.link_trained — the trained union-pool ranker
    mode=model pipelines use); ``role_route``/``role_canon``: provider
    routing and gold-vocabulary canonicalization, forwarded to
    assign_roles (mode=model passes "all"/True); ``begin_weights``:
    optional trained begin-repair weights ({"arg": tables, "trig":
    tables}, operators.begin_repair) — mode=model snaps argument AND
    trigger edges onto the gold convention before linking; each head
    applies when its tables are present."""
    # the span pass is the pipeline's ONE barrier.  It is the token
    # stream's only reader, and the events and arguments frames both
    # project it, so `truncate` runs the tagging DAG and the pass once
    # and leaves an EVENT/ARG-scale leaf under everything above (edge
    # repair, realis, linking, roles), which keeps the rendered plan
    # far below the 1 MB maxPlanStringLength cap (test_pipeline_job_
    # budget pins the plan size).  Nothing above it is read twice.
    spans = truncate(extract_spans(tagged, context=bool(begin_weights)))
    events, args = spans_of(spans, "event"), spans_of(spans, "argument")
    if begin_weights:
        from .operators.begin_repair import repair_edges

        # fused: ONE pandas_udf scores both edge heads per span kind
        # (r4 VERDICT next #3 — halves the Python-worker round-trips)
        events = repair_edges(events, begin_weights.get("trig"),
                              begin_weights.get("trig_end"),
                              label_col="subtype")
        args = repair_edges(args, begin_weights.get("arg"),
                            begin_weights.get("arg_end"))
    if "realis" not in events.columns:
        # rules/model tagging carries no realis — run the M4 stage
        # (two-pass cue classifier over the ±7-token W2 window); gold
        # replay keeps the annotated labels instead
        from .operators.realis import classify_realis_rules, with_realis

        events = with_realis(
            events, provider=realis_provider or classify_realis_rules)
    linked = (link_provider or link)(events, args)
    rolled = assign_roles(linked, provider=role_provider,
                          route=role_route, canon=role_canon)

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
                 mode: str = "rules", gold=None,
                 english_only: bool = True, tagger_weights=None,
                 role_provider: object = "auto",
                 model_weights: dict | None = None) -> DataFrame:
    """documents(url, warc_ts, html, text, lang) -> triples, doc_id =
    the original url/id (internal long keys are joined back here —
    triples are ~100x smaller than the token stream, so the mapping
    join is cheap).

    ``role_provider``: "auto" (default) routes ALL linked pairs
    through the TRAINED role-phrase model (route="all" — it beats the
    deterministic table on every slice and emits the gold-corpus role
    vocabulary, incl. the Software pairs RolePair lacks), realis
    through the trained M4 classifier, AND argument→event attachment
    through the trained union-pool link ranker (operators.linker) when
    mode="model" — matching the reference architecture, where models
    handle the ambiguous decisions — and uses the deterministic
    RolePair + cue-rule + rule-cascade fallbacks otherwise (rules/gold
    keep parity with the model-free reference semantics, verbatim
    RolePair vocabulary included).
    Pass an explicit provider callable or None to override.

    ``model_weights``: optional overrides for the learned heads in
    mode=model — a dict with any of the keys "role", "realis"
    ((tables, labels) tuples), "linker" (the load_linker_weights
    tuple) and "begin" (the load_begin_weights tables).  Used by the held-out protocol (train_tagger --holdout) to
    run the full model pipeline with every learned component fit on
    the train folds only; omitted keys fall back to the committed
    full-corpus artifacts."""
    if english_only and "lang" in documents.columns:
        documents = documents.filter(F.col("lang") == "en")
    realis_provider = None
    link_provider = None
    begin_weights = None
    role_route, role_canon = "ambiguous", False
    if role_provider == "auto":
        if mode == "model":
            from .operators.linker import link_trained
            from .operators.realis import trained_realis_provider
            from .operators.roles import trained_role_provider

            from .operators.begin_repair import load_begin_weights

            mw = model_weights or {}
            role_provider = trained_role_provider(mw.get("role"))
            realis_provider = trained_realis_provider(mw.get("realis"))
            begin_weights = mw.get("begin", load_begin_weights())
            if "linker" in mw:
                import functools

                link_provider = functools.partial(
                    link_trained, weights=mw["linker"])
            else:
                link_provider = link_trained
            role_route, role_canon = "all", True
        else:
            role_provider = None
    tagged = tagged_tokens(documents, id_col=id_col, mode=mode, gold=gold,
                           tagger_weights=tagger_weights)
    triples = triples_from_tagged(tagged, role_provider=role_provider,
                                  realis_provider=realis_provider,
                                  link_provider=link_provider,
                                  role_route=role_route,
                                  role_canon=role_canon,
                                  begin_weights=begin_weights)
    return restore_urls(triples, documents, id_col).select(*TRIPLE_COLUMNS)
