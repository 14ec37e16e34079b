"""Event <-> argument linking (J4, SURVEY.md section 2.3) as joins.

Reimplements the semantics of ``link`` (reference
code/link_coref.py:1228-1406) declaratively:

1.  Nugget spans -> events, argument spans -> arguments, both from one
    span pass over the token stream (``extract_spans``), ids assigned
    in reading order (the running span count per doc — matching the
    reference's sequential eventid/argumentid counters at :1230,
    :1296).
2.  select_sent per argument sentence (:1299-1309): the argument looks
    at its own sentence first — if ANY event exists there it is the
    only pool considered (even if none is compatible) — else at the
    previous sentence, else the argument is dropped.
3.  Candidate events = events of select_sent whose subtype legally
    accepts the argument's entity type (Pair, :1369-1373).
4.  Exactly one candidate -> attach (:1375-1378).  More than one ->
    the nearest-trigger tie-break (:1380-1406): walk the argument's
    tokens in order; the first token whose nearest trigger + relative
    position matches a candidate (nugget token-list containment +
    offset direction) decides, candidates probed in event-id order.

Physical plan: one span pass (window ops + one aggregate), then the
one candidate pool the trained ranker also uses (``candidate_pool``: an
inner theta-join on the sentence gap; events per doc-sentence are
tiny, skew is AQE's).  The cascade is a lexicographic order over the
pool rows: one window over the (doc, arg) pool collects the
same-sentence event tokens and the previous sentence's first event
token, a filter keeps select_sent's Pair-compatible events, and a
row_number top-1 ranks them by the first argument token at which the
containment + direction rule holds.  The trigger tokens the tie-break
needs are the events' own tokens, so nothing joins back to the token
stream and no barrier cuts the plan.  No Python UDF anywhere.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from .. import config
from ..util import truncate
from .spans import span_aggregates, span_start

# comma-class tokens: the clause-boundary proxies of the trained linker
BOUNDARY_TOKENS = (",", ";", ":", "—", "-")


def _compat(ev_label, arg_label):
    """arg entity type legal for event subtype (Pair, link_coref.py:38-42)."""
    c = F.lit(False)
    for sub, args in config.PAIR.items():
        c = c | ((ev_label == sub) & arg_label.isin(args))
    return c


def extract_spans(tagged: DataFrame, context: bool = False) -> DataFrame:
    """The one span pass: nugget (kind "event", trigger_tag) and
    argument (kind "argument", arg_tag) spans together, from one window
    pass over the doc_id-partitioned tokens and one aggregate keyed by
    (doc_id, kind, span).  One row per span:

    (doc_id, kind, id, sent_id, begin, end, first_token_id, n_tokens,
     label, text, realis?, role?, ctx_window, sent_commas, sent_trigs
     [, the edge context of begin_repair.edge_context when ``context``])

    ``id`` is the running span count, so a document's spans of a kind
    are numbered in reading order from 0 (the reference's sequential
    eventid/argumentid counters, link_coref.py:1230, :1296).
    ``realis``/``role`` come off the first token when ``tagged`` carries
    them (gold replay, link_coref.py:1241-1244).  An event's
    ``ctx_window`` holds (token_id, lowercased token) of its sentence
    from CONTEXT_WIDTH - min(SHIFTS) before to CONTEXT_WIDTH +
    max(SHIFTS) after its first token, so ``realis.realis_context`` can
    cut the W2 window around any edge-repaired first token.  An
    argument's ``sent_commas``/``sent_trigs`` are the sorted begins of
    its sentence's comma-class and trigger tokens (the trained linker's
    clause-boundary counts).  Every window rides the one (doc_id,
    sent_id, token_id) sort on the one doc_id exchange; nothing joins
    back to the tokens."""
    from .begin_repair import SHIFTS, edge_context
    from .realis import CONTEXT_WIDTH

    w = Window.partitionBy("doc_id").orderBy("sent_id", "token_id")
    sent = Window.partitionBy("doc_id", "sent_id")
    near = sent.orderBy("token_id").rangeBetween(
        -(CONTEXT_WIDTH - min(SHIFTS)), CONTEXT_WIDTH + max(SHIFTS))
    tags = {"event": F.col("trigger_tag"), "argument": F.col("arg_tag")}
    ctx_cols, ctx_aggs = edge_context(w) if context else ({}, [])
    toks = tagged.withColumns({
        **{f"_start_{k}": span_start(tag, w) for k, tag in tags.items()},
        "ctx_window": F.collect_list(F.struct(
            "token_id", F.lower("token").alias("w"))).over(near),
        "sent_commas": F.collect_list(F.when(
            F.col("token").isin(*BOUNDARY_TOKENS), F.col("begin"))).over(sent),
        "sent_trigs": F.collect_list(
            F.when(tags["event"] != "O", F.col("begin"))).over(sent),
        **ctx_cols,
    })
    run = w.rowsBetween(Window.unboundedPreceding, 0)
    toks = toks.withColumns(
        {f"_id_{k}": F.sum(f"_start_{k}").over(run) for k in tags})
    # one row per (token, kind) whose tag is not O
    kinds = F.filter(F.array(*[
        F.struct(F.lit(k).alias("kind"), tag.alias("_tag"),
                 F.col(f"_id_{k}").alias("id"))
        for k, tag in tags.items()]), lambda r: r["_tag"] != "O")
    is_event = F.col("kind") == "event"
    return (
        toks.select("*", F.inline(kinds))
        .groupBy("doc_id", "kind", "id")
        .agg(
            *span_aggregates(F.col("_tag"), "end" in tagged.columns),
            *[F.min_by(c, "token_id").alias(c)
              for c in ("realis", "role") if c in tagged.columns],
            F.min_by(F.when(is_event, F.col("ctx_window")),
                     "token_id").alias("ctx_window"),
            *[F.min_by(F.when(~is_event, F.array_sort(c)),
                       "token_id").alias(c)
              for c in ("sent_commas", "sent_trigs")],
            *ctx_aggs,
        )
        .withColumn("id", (F.col("id") - 1).cast("int"))
    )


def spans_of(spans: DataFrame, kind: str) -> DataFrame:
    """One kind's rows of an :func:`extract_spans` frame, under that
    kind's names: events (event_id, subtype, realis?, ctx_window) or
    arguments (arg_id, arg_type, role?, sent_commas, sent_trigs)."""
    event = kind == "event"
    return (
        spans.filter(F.col("kind") == kind)
        .withColumnsRenamed({"id": "event_id" if event else "arg_id",
                             "label": "subtype" if event else "arg_type"})
        .drop("kind", *(("role", "sent_commas", "sent_trigs") if event
                        else ("realis", "ctx_window")))
    )


def extract_events(tagged: DataFrame) -> DataFrame:
    """Trigger spans -> events: the event rows of :func:`extract_spans`."""
    return spans_of(extract_spans(tagged), "event")


def extract_arguments(tagged: DataFrame) -> DataFrame:
    """Argument spans -> arguments: the argument rows of
    :func:`extract_spans`."""
    return spans_of(extract_spans(tagged), "argument")


def candidate_pool(events: DataFrame, arguments: DataFrame) -> DataFrame:
    """The one (argument, event) candidate pool both linkers pick from:
    every event in sentences arg_sent-2 .. arg_sent+1 of the argument's
    document, with no Pair filter.  One row per pair:

    (doc_id, arg_id, arg_sent, arg_type, arg_text, arg_begin, arg_end,
     arg_first_tid, arg_n_tokens, sent_commas, sent_trigs, role?,
     event_id, ev_sent, subtype, event_text, event_begin, ev_first_tid,
     realis?)

    The rule cascade reads its same-or-previous sentences out of the
    window; the trained ranker scores all four, since on the gold links
    same-or-previous covers 98.98% of right events and -2..+1 covers
    99.95% (the next sentence alone holds 196 of 22,481).  An inner
    theta-join: events per doc-sentence are tiny and AQE covers skew."""
    ev = events.select(
        F.col("doc_id").alias("_e_doc"), "event_id",
        F.col("sent_id").alias("ev_sent"), "subtype",
        F.col("text").alias("event_text"),
        F.col("begin").alias("event_begin"),
        F.col("first_token_id").alias("ev_first_tid"),
        *(["realis"] if "realis" in events.columns else []),
    )
    ar = arguments.select(
        "doc_id", "arg_id", F.col("sent_id").alias("arg_sent"),
        "arg_type", F.col("text").alias("arg_text"),
        F.col("begin").alias("arg_begin"), F.col("end").alias("arg_end"),
        F.col("first_token_id").alias("arg_first_tid"),
        F.col("n_tokens").alias("arg_n_tokens"),
        "sent_commas", "sent_trigs",
        *(["role"] if "role" in arguments.columns else []),
    )
    gap = F.col("ev_sent") - F.col("arg_sent")
    return ar.join(
        ev, (F.col("doc_id") == F.col("_e_doc")) & (gap >= -2) & (gap <= 1),
        "inner",
    ).drop("_e_doc")


def link(events: DataFrame, arguments: DataFrame) -> DataFrame:
    """Attach arguments to events by the reference rule cascade; returns
    one row per attached pair:

    (doc_id, arg_id, arg_sent, arg_type, arg_text, arg_begin, role?,
     event_id, subtype, event_text, event_begin, realis?)

    A lexicographic order over :func:`candidate_pool`, computed from
    the candidate rows alone: the trigger tokens the tie-break looks
    for are the events' own tokens (``event_text`` split on spaces,
    numbered from ``ev_first_tid``), so the token stream is not read."""
    warg = Window.partitionBy("doc_id", "arg_id")
    same = F.col("ev_sent") == F.col("arg_sent")
    ev_toks = F.split(F.col("event_text"), " ")
    tid_toks = F.transform(
        ev_toks, lambda tok, i: F.struct(
            (F.col("ev_first_tid") + i).alias("tid"), tok.alias("tok")))
    pool = candidate_pool(events, arguments).withColumns({
        # every trigger token of the argument's own sentence
        "_same_toks": F.flatten(
            F.collect_list(F.when(same, tid_toks)).over(warg)),
        # the first trigger token of the previous sentence (min_by
        # skips the null orderings of the other sentences' rows)
        "_prev_tok": F.min_by(
            F.get(ev_toks, 0),
            F.when(F.col("ev_sent") == F.col("arg_sent") - 1,
                   F.col("ev_first_tid"))).over(warg),
    })
    # select_sent (link_coref.py:1299-1309): the argument's sentence if
    # it has any event, else the previous one if that has any; then
    # Pair compatibility (:1369-1373)
    select_sent = (
        F.when(F.size("_same_toks") > 0, F.col("arg_sent"))
        .when(F.col("_prev_tok").isNotNull(), F.col("arg_sent") - 1))
    cand = pool.filter(
        (F.col("ev_sent") == select_sent)
        & _compat(F.col("subtype"), F.col("arg_type"))
    ).withColumn("n_cand", F.count("*").over(warg))

    # tie-break (:1380-1406): walk the argument's tokens in order; the
    # candidate is valid at a token when the token's nearest trigger
    # surface is one of its tokens and lies on the matching side.  Same
    # sentence: the nearest trigger token by distance (tie -> earlier),
    # and token order is char order, so `event_begin <= token.begin`
    # is `ev_first_tid <= tid`.  Previous sentence: every token's
    # nearest trigger is that sentence's first one ("differsentence"),
    # which always precedes the token, so only containment decides.
    def valid_at(i):
        tid = F.col("arg_first_tid") + i
        near = F.array_min(F.transform(
            F.col("_same_toks"), lambda t: F.struct(
                F.abs(t["tid"] - tid).alias("d"), t["tid"].alias("tid"),
                t["tok"].alias("tok"))))
        side = (F.when(near["tid"] < tid, F.col("ev_first_tid") <= tid)
                .otherwise(F.col("ev_first_tid") >= tid))
        return F.array_contains(ev_toks, near["tok"]) & side

    first_valid = F.when(
        same,
        F.array_min(F.transform(
            F.sequence(F.lit(0), F.col("arg_n_tokens") - 1),
            lambda i: F.when(valid_at(i), i))),
    ).when(F.array_contains(ev_toks, F.col("_prev_tok")), F.lit(0))
    wpick = warg.orderBy(F.asc_nulls_last("_key"), "event_id")
    return (
        cand.withColumn("_key", first_valid)
        .withColumn("_rk", F.row_number().over(wpick))
        .filter((F.col("_rk") == 1)
                & ((F.col("n_cand") == 1) | F.col("_key").isNotNull()))
        .select("doc_id", "arg_id", "arg_sent", "arg_type", "arg_text",
                "arg_begin", *(["role"] if "role" in arguments.columns else []),
                "event_id", "subtype", "event_text", "event_begin",
                *(["realis"] if "realis" in events.columns else []))
    )


# W3 symbol alphabet, verbatim parseJsontoFeatures.py:37 — note the
# quirky order: 'x' is skipped after 'w' and appended after 'aa', so
# bucket 23 is 'y' and the >=26 overflow bucket is 'x'
DISTANCE_SYMBOLS = ["a", "b", "c", "d", "e", "f", "g", "h", "i", "j",
                    "k", "l", "m", "n", "o", "p", "q", "r", "s", "t",
                    "u", "v", "w", "y", "z", "aa", "x"]


def encode_distance(d):
    """W3: 26-bucket distance symbol ``encoded[min(d, 26)]``
    (parseJsontoFeatures.py:431-433,486)."""
    syms = F.array(*[F.lit(s) for s in DISTANCE_SYMBOLS])
    return F.element_at(syms, F.least(d, F.lit(26)).cast("int") + 1)


def nearest_trigger(tagged: DataFrame) -> DataFrame:
    """Per token: nearest trigger surface + relative position +
    26-bucket distance symbol (W3).

    Deterministic analog of combineNearTrggr
    (parseJsontoFeatures.py:360-503): nearest same-sentence trigger by
    token distance (tie -> earlier trigger); if none, a trigger in the
    previous/next sentence -> 'differsentence'.  ``dist_code`` is null
    for the differsentence case, where the reference encodes no
    same-sentence token distance.

    Returns (doc_id, sent_id, token_id, begin, near_trigger,
    trigger_position, dist_code)."""
    toks = tagged.select("doc_id", "sent_id", "token_id", "begin").filter(
        F.col("begin").isNotNull())
    trig = tagged.filter(F.col("trigger_tag") != "O").select(
        F.col("doc_id").alias("_t_doc"),
        F.col("sent_id").alias("t_sent"),
        F.col("token_id").alias("t_tid"),
        F.col("token").alias("t_tok"),
    )

    # min_by over a doc-clustered groupBy instead of a per-token window:
    # HashPartitioning(doc_id) satisfies clustering on (doc_id, sent_id,
    # token_id), so neither aggregation re-shuffles.  samesent feeds
    # BOTH union branches below — truncate stops the subtree executing
    # twice AND keeps the rendered plan a leaf.
    samesent = truncate(
        toks.join(
            trig,
            (F.col("doc_id") == F.col("_t_doc")) & (F.col("sent_id") == F.col("t_sent")),
            "left",
        )
        .drop("_t_doc")
        .groupBy("doc_id", "sent_id", "token_id")
        .agg(
            F.first("begin").alias("begin"),
            # guard: a null ordering value is skipped by min_by, but a
            # struct OF nulls would sort first — so wrap in when()
            F.min_by(
                F.struct("t_tok", "t_tid"),
                F.when(
                    F.col("t_tid").isNotNull(),
                    F.struct(F.abs(F.col("t_tid") - F.col("token_id")).alias("d"),
                             F.col("t_tid").alias("t")),
                ),
            ).alias("_best"),
        )
    )
    same_hit = samesent.filter(F.col("_best.t_tid").isNotNull()).select(
        "doc_id", "sent_id", "token_id", "begin",
        F.col("_best.t_tok").alias("near_trigger"),
        F.when(F.col("_best.t_tid") < F.col("token_id"), "before")
        .otherwise("after")
        .alias("trigger_position"),
        encode_distance(F.abs(F.col("_best.t_tid") - F.col("token_id")))
        .alias("dist_code"),
    )

    # tokens with no same-sentence trigger: look at sent +/- 1
    miss = samesent.filter(F.col("_best.t_tid").isNull()).select(
        "doc_id", "sent_id", "token_id", "begin"
    )
    adj_hit = (
        miss.join(
            trig,
            (F.col("doc_id") == F.col("_t_doc"))
            & (F.abs(F.col("t_sent") - F.col("sent_id")) == 1),
            "inner",
        )
        .drop("_t_doc")
        .groupBy("doc_id", "sent_id", "token_id")
        .agg(
            F.first("begin").alias("begin"),
            F.min_by(
                F.col("t_tok"),
                F.struct(F.col("t_sent").alias("s"), F.col("t_tid").alias("t")),
            ).alias("near_trigger"),
        )
        .withColumn("trigger_position", F.lit("differsentence"))
        .withColumn("dist_code", F.lit(None).cast("string"))
    )
    return same_hit.unionByName(adj_hit)
