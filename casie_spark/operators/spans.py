"""BIO span assembly — the shared window operator (SURVEY.md section 2.5).

The reference re-implements tag-run -> span grouping at least six times
(processLabel parseJsontoFeatures.py:296-309, trggrtophrase :987-1017,
process_input_phrase realis_identify.py:36-114 and role_phrase.py:37-96,
link link_coref.py:1228-1359, score.collect score.py:442-558).  Here it
is one set of span rules (``span_start`` + ``span_aggregates``) used by
the pipeline's one span pass (``linking.extract_spans``: nuggets and
arguments together), gold parsing and the scorer.

Span-start semantics (matching link_coref.py:1236-1277 exactly):
- tag == 'O'                      -> not in any span
- tag startswith 'B-'             -> new span
- tag startswith 'I-' and label != previous token's label -> new span
  (the I-without-B / I-after-different-label repair, link_coref.py:1214-1219;
  an I-X after 'O' starts a span because 'O' has empty label)
- otherwise (I- continuing same label) -> extend

Physical shape: two window functions over (doc partition, token order)
+ one hash aggregation — no UDF, fully whole-stage-codegen'd.  The
window partitions by doc_id so at 10^12 pages no cross-document shuffle
grows beyond the doc-hash repartition already applied upstream.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F
from pyspark.sql.window import WindowSpec


def span_label(tag: Column) -> Column:
    """The label of a BIO tag: '' for O, else the text after 'B-'/'I-'."""
    return F.when(tag == "O", F.lit("")).otherwise(F.substring(tag, 3, 1000000))


def span_start(tag: Column, w: WindowSpec) -> Column:
    """1 where ``tag`` opens a span, else 0, in the (sent_id, token_id)
    order of ``w`` (the span-start rules of the module docstring).  A
    running sum of it over ``w`` numbers the spans 1, 2, ... in reading
    order, constant across each span's tokens."""
    label = span_label(tag)
    new_sent = F.lag("sent_id", 1, -1).over(w) != F.col("sent_id")
    prev_label = F.lag(label, 1, "").over(w)
    return (
        F.when(tag == "O", F.lit(0))
        .when(tag.startswith("B-"), F.lit(1))
        .when(tag.startswith("I-") & (new_sent | (prev_label != label)),
              F.lit(1))
        .otherwise(F.lit(0))
    )


def span_aggregates(tag: Column, has_end: bool) -> list[Column]:
    """The per-span aggregates over the tokens of one span:
    (sent_id, begin, end, first_token_id, n_tokens, label, text)."""
    return [
        # constant within a span (spans never cross sentences and
        # never mix labels by construction), so first() is safe
        F.first("sent_id").alias("sent_id"),
        F.min("begin").alias("begin"),
        # `end` is begin + len(token) by tokenizer construction, so the
        # pipeline keeps it out of the window-heavy tagging stages
        F.max(F.col("end") if has_end
              else F.col("begin") + F.length("token")).alias("end"),
        F.min("token_id").alias("first_token_id"),
        F.count("*").alias("n_tokens"),
        F.first(span_label(tag)).alias("label"),
        F.concat_ws(" ", F.array_sort(
            F.collect_list(F.struct("token_id", "token"))
        ).getField("token")).alias("text"),
    ]


def assemble_spans(tokens: DataFrame, tag_col: str,
                   doc_col: str = "doc_id") -> DataFrame:
    """tokens(+tag_col BIO column) -> spans.

    Returns one row per span:
      (doc_id, span_id, sent_id, begin, end, first_token_id, n_tokens,
       label, text)

    Reference span loops run per sentence (link_coref.py:1234 iterates
    words of one sentence), so a span never crosses a sentence
    boundary: the window orders by (sent_id, token_id) and a sentence
    change breaks the run because the reference resets its
    accumulator per sentence.  Events and arguments of the pipeline
    come from ``linking.extract_spans``, which assembles both tag
    columns in one pass with the same rules.
    """
    tag = F.col(tag_col)
    w = Window.partitionBy(doc_col).orderBy("sent_id", "token_id")
    df = tokens.withColumn("_start", span_start(tag, w))
    df = df.withColumn(
        "span_id",
        F.sum("_start").over(w.rowsBetween(Window.unboundedPreceding, 0)),
    )
    return (
        df.filter(tag != "O")
        .groupBy(doc_col, "span_id")
        .agg(*span_aggregates(tag, "end" in tokens.columns))
    )
