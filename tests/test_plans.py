"""Physical-plan regression tests: the optimizations SURVEY §4 claims
must actually appear in the plans — predicate pushdown into the
parquet scan, column pruning, broadcast dictionary joins, and no
redundant shuffle between the tokenizer repartition and the window
stages."""

from __future__ import annotations

from pyspark.sql import functions as F

from casie_spark.queries import QUERIES


def _plan(df) -> str:
    # "simple" renders each operator once (formatted repeats them in
    # the detail section, which breaks occurrence counting)
    return df._sc._jvm.PythonSQLUtils.explainString(
        df._jdf.queryExecution(), "simple"
    )


def test_filter_pushdown_and_pruning(spark, sf_dir):
    df = QUERIES["q01_pricing_summary"](spark, sf_dir)
    plan = _plan(df)
    # l_shipdate predicate reaches the parquet scan
    assert "PushedFilters" in plan
    assert "l_shipdate" in plan.split("PushedFilters")[1].split("\n")[0]
    # column pruning: ReadSchema holds only needed columns, not l_comment
    read = plan.split("ReadSchema")[1].split("\n")[0]
    assert "l_comment" not in read and "l_quantity" in read


def test_broadcast_dimension_join(spark, sf_dir):
    plan = _plan(QUERIES["q02_revenue_by_nation"](spark, sf_dir))
    assert "BroadcastHashJoin" in plan


def test_window_reuses_partitioning(spark, sf_dir):
    """q04: one shuffle for the window partitioning, nothing more —
    running sum and lag share the same (o_custkey) exchange."""
    plan = _plan(QUERIES["q04_running_total"](spark, sf_dir))
    assert plan.count("Exchange") == 1


def _doc_exchanges(plan: str) -> list[str]:
    return [ln for ln in plan.splitlines()
            if "Exchange hashpartitioning(doc_id" in ln]


def test_pipeline_single_token_shuffle(spark):
    """The tagging DAG after the doc_id repartition must not re-shuffle
    the token stream: windows in tag_rules/apply_rules all cluster by
    doc_id (subset rule) — and neither does the span pass on top of
    it."""
    from casie_spark.operators.linking import extract_spans
    from casie_spark.operators.tagging import tag_rules
    from casie_spark.operators.rules import apply_rules
    from casie_spark.operators.tokenizer import tokenize

    docs = spark.createDataFrame(
        [(f"u{i}", f"Hackers stole data on CVE-2019-000{i} last week.")
         for i in range(10)],
        "url string, text string")
    toks = tokenize(docs, id_col="url").repartition(F.col("doc_id"))
    tagged = apply_rules(tag_rules(toks))
    # exactly ONE token-stream exchange (the explicit doc_id
    # repartition); further hash exchanges in the plan belong to the
    # ~1800-row lexicon build, and broadcasts don't repartition the
    # stream.  Every window (doc_id), (doc_id,sent_id), (doc_id,_trig)
    # rides the same partitioning via the clustering subset rule, and
    # so do the span pass's windows and its (doc_id, kind, span)
    # aggregate.
    for df in (tagged, extract_spans(tagged)):
        assert len(_doc_exchanges(_plan(df))) == 1, _plan(df)


def test_model_pipeline_single_token_shuffle(spark):
    """Same invariant for mode='model': the scalar-pandas_udf inference
    expression preserves attribute ids, so the context lag/lead, the
    inference, the BIO assembly, the dominant-trigger window and the
    span pass all ride the one explicit doc_id exchange — in particular no
    groupBy+join-back histogram (which would add an exchange AND
    broadcast a per-doc frame)."""
    from casie_spark.operators.linking import extract_spans
    from casie_spark.operators.model_tagger import tag_model
    from casie_spark.operators.rules import apply_rules
    from casie_spark.operators.tokenizer import tokenize

    docs = spark.createDataFrame(
        [(f"u{i}", f"Hackers stole data on CVE-2019-000{i} last week.")
         for i in range(10)],
        "url string, text string")
    # the pipeline's model path: inference runs pre-exchange;
    # tag_model owns the one repartition
    toks = tokenize(docs, id_col="url")
    tagged = apply_rules(tag_model(toks))
    # the context span pass (edge-repair neighbors, realis window,
    # sentence arrays) rides the same exchange
    for df in (tagged, extract_spans(tagged, context=True)):
        plan = _plan(df)
        assert len(_doc_exchanges(plan)) == 1, plan
        # no per-doc frame is broadcast anywhere in the tagging DAG
        assert "BroadcastExchange" not in plan, \
            "per-doc broadcast crept back in"


def test_minhash_single_subtree(spark, sf_dir):
    """q13: the shingle->signature pipeline must be planned ONCE (the
    unpivoted-bands form) — exactly one parquet scan and two Generate
    nodes (words posexplode + band unpivot).  The per-band loop it
    replaced re-ran the whole pipeline four times."""
    plan = _plan(QUERIES["q13_minhash_bands"](spark, sf_dir))
    assert plan.count("Scan parquet") == 1, plan
    assert plan.count("Generate") == 2, plan


def test_lsh_candidates_use_materialized_index(spark, sf_dir):
    """q21: candidate generation reads the materialized exploded
    signature index (InMemoryTableScan on both join sides), so the
    hyperplane folds are computed once — parquet is scanned only for
    the rerank vectors."""
    plan = _plan(QUERIES["q21_ann_lsh"](spark, sf_dir))
    assert plan.count("InMemoryTableScan") >= 2, plan
    # rerank qv/cv sides only; the old union form scanned 8 more times
    assert plan.count("Scan parquet") <= 4, plan


def test_no_per_doc_broadcast_in_time_normalization(spark):
    """normalize_time_args joins the one-row-per-document pubdate frame
    with a shuffle join, never a forced broadcast (O(n_docs) memory)."""
    from casie_spark.functions.timeparse import normalize_time_args

    docs = spark.createDataFrame(
        [(f"u{i}", "<text>x</text>") for i in range(5)],
        "url string, html string")
    triples = spark.createDataFrame(
        [(f"u{i}", "e1", "Time", "last week") for i in range(5)],
        "doc_id string, subj string, pred string, obj string")
    out = normalize_time_args(triples, docs)
    plan = _plan(out)
    assert "BroadcastExchange" not in plan, "pubdate frame must shuffle-join"


def test_substring_dedup_plan_shape(spark, sf_dir):
    """q33: the per-doc token count is map-only (size over the split
    array, no posexplode), so the only Generate nodes are the two gram
    passes (dup-set build + position probe); the token stream shuffles
    once per gram pass on doc_id plus the gram-scale groupBy — no
    extra count-words exchange."""
    plan = _plan(QUERIES["q33_substring_dedup"](spark, sf_dir))
    assert plan.count("Generate") == 2, plan
    # intervals ride the existing doc_id windows: two Window chains,
    # both already partitioned by doc_id (no re-sort on a new key)
    assert "windowspecdefinition(doc_id" in plan


def test_url_ops_prune_to_id_column(spark, sf_dir):
    """q37/q38: the URL ops synthesize from doc_id, so EVERY parquet
    scan must prune to struct<doc_id> — at crawl scale these run
    before any text is read, and a scan that drags `text` along
    defeats the point.  q38's blocklist must arrive as a broadcast
    semi-join (never a per-entry LIKE scan or a shuffled join)."""
    p37 = _plan(QUERIES["q37_url_dedup"](spark, sf_dir))
    for seg in p37.split("ReadSchema")[1:]:
        assert seg.split("\n")[0].strip().strip(":").strip() == \
            "struct<doc_id:bigint>", p37
    # one exchange: the groupBy on the canonical string
    assert p37.count("Exchange hashpartitioning") == 1, p37

    p38 = _plan(QUERIES["q38_host_blocklist"](spark, sf_dir))
    for seg in p38.split("ReadSchema")[1:]:
        assert seg.split("\n")[0].strip().strip(":").strip() == \
            "struct<doc_id:bigint>", p38
    assert "BroadcastHashJoin" in p38 and "LeftSemi" in p38, p38


def test_decontaminate_broadcasts_eval_grams(spark, sf_dir):
    """q34: the eval-benchmark gram set is explicitly broadcast into a
    LeftSemi hash join, so the train token stream shuffles only for
    its own windowing — never against the eval side."""
    plan = _plan(QUERIES["q34_decontaminate"](spark, sf_dir))
    assert "BroadcastHashJoin" in plan and "LeftSemi" in plan, plan
    assert "SortMergeJoin" not in plan.split("LeftSemi")[0], plan


def test_line_dedup_no_window_on_line_key(spark, sf_dir):
    """q40: the first-occurrence keeper is a groupBy-min on md5(line)
    with a map-side partial aggregate — never a row_number window over
    the line key, which would serialize on exactly the 10^6-copy
    boilerplate lines the op exists to remove."""
    plan = _plan(QUERIES["q40_line_dedup"](spark, sf_dir))
    assert "Window" not in plan, plan
    assert "partial_min(struct(_id" in plan, plan


def test_token_shards_single_exchange_no_global_sort(spark, sf_dir):
    """q41: exactly ONE exchange (the per-shard window partition), the
    prefix sum rides a Window keyed on shard, and no sort is global
    (a total ORDER BY over the corpus is the crawl-scale
    anti-pattern this signature avoids)."""
    plan = _plan(QUERIES["q41_token_shards"](spark, sf_dir))
    assert plan.count("Exchange hashpartitioning") == 1, plan
    assert "windowspecdefinition(shard" in plan, plan
    assert "], true, 0" not in plan, plan  # no global Sort


def test_upsample_epochs_map_only(spark, sf_dir):
    """q43: fractional upsampling is MAP-ONLY — zero exchanges, one
    whole-stage-codegen span, scan pruned to (doc_id, lang).  At crawl
    scale the epoch copies must come from explode, never a shuffle."""
    plan = _plan(QUERIES["q43_upsample_epochs"](spark, sf_dir))
    assert "Exchange" not in plan, plan
    assert plan.count("ReadSchema") == 1, plan
    assert "struct<doc_id:bigint,lang:string>" in plan, plan


def test_dsir_scores_broadcast_into_gram_stream(spark, sf_dir):
    """q42: the 512-row bucket score table reaches the gram stream as
    a broadcast hash join (never a sort-merge join against the
    corpus-scale gram stream), and the per-doc mean keeps map-side
    partial aggregation."""
    plan = _plan(QUERIES["q42_dsir_weights"](spark, sf_dir))
    assert "SortMergeJoin" not in plan, plan
    assert "BroadcastHashJoin" in plan, plan
    assert "partial_count" in plan or "partial_sum" in plan, plan


def test_c4_line_clean_map_only(spark, sf_dir):
    """q44: the C4 line rules are higher-order column functions — zero
    exchanges, no UDF (BatchEvalPython/ArrowEvalPython), one scan."""
    plan = _plan(QUERIES["q44_c4_line_clean"](spark, sf_dir))
    assert "Exchange" not in plan, plan
    assert "EvalPython" not in plan, plan
    assert plan.count("ReadSchema") == 1, plan


def test_temperature_mix_broadcasts_group_weights(spark, sf_dir):
    """q47: the per-group weight table reaches the doc stream as a
    broadcast join; the only doc-scale aggregation is the groupBy(key)
    with map-side partial aggregation (5 keys -> ~5 rows per task)."""
    plan = _plan(QUERIES["q47_temperature_mix"](spark, sf_dir))
    assert "BroadcastHashJoin" in plan, plan
    assert "SortMergeJoin" not in plan, plan
    assert "partial_count" in plan, plan


def test_warc_roundtrip_map_only(spark, sf_dir):
    """q48: WARC render+parse is pure string column math — zero
    exchanges, no Python eval, one scan."""
    plan = _plan(QUERIES["q48_warc_roundtrip"](spark, sf_dir))
    assert "Exchange" not in plan, plan
    assert "EvalPython" not in plan, plan
    assert plan.count("ReadSchema") == 1, plan


def test_pack_sequences_single_exchange(spark, sf_dir):
    """q50: exactly ONE exchange (the per-shard prefix-sum window) —
    the explode fans out AFTER the window, never a second shuffle, and
    no global sort."""
    plan = _plan(QUERIES["q50_pack_sequences"](spark, sf_dir))
    assert plan.count("Exchange hashpartitioning") == 1, plan
    assert "windowspecdefinition(shard" in plan, plan


def test_html_extract_map_only(spark, sf_dir):
    """q52: the HTML->text regexp chain is map-only — zero exchanges,
    no Python eval, one scan."""
    plan = _plan(QUERIES["q52_html_extract"](spark, sf_dir))
    assert "Exchange" not in plan, plan
    assert "EvalPython" not in plan, plan


def test_bm25_plan_shape(spark, sf_dir):
    """q53: query terms / document frequencies / corpus stats all
    broadcast onto the postings frame; no Python UDF anywhere; the
    candidate path never re-sorts globally (top-k is a per-query
    window)."""
    plan = _plan(QUERIES["q53_bm25_topk"](spark, sf_dir))
    assert "BroadcastHashJoin" in plan, plan
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan
    assert "CartesianProduct" not in plan  # 1-row stats joins as BNLJ


def test_triangle_and_adamic_no_udf_no_cartesian(spark, sf_dir):
    """q55/q60: wedge enumeration is equi-joins only — a cartesian in
    either plan means the orientation/anti-join shape regressed."""
    for name in ("q55_triangle_counts", "q60_adamic_adar"):
        plan = _plan(QUERIES[name](spark, sf_dir))
        assert "CartesianProduct" not in plan, (name, plan)
        assert "BatchEvalPython" not in plan, name


def test_negative_samples_plan_shape(spark, sf_dir):
    """q56: bounded explode + joins; the positive-set filter appears
    as a real anti-join (LeftAnti), no Python UDF."""
    plan = _plan(QUERIES["q56_negative_samples"](spark, sf_dir))
    assert "LeftAnti" in plan, plan
    assert "BatchEvalPython" not in plan


def test_kmv_single_distinct_exchange(spark, sf_dir):
    """q58: the (group, item) distinct plus the per-group window are
    the only hash exchanges — the sketch never shuffles doc bodies."""
    plan = _plan(QUERIES["q58_kmv_cardinality"](spark, sf_dir))
    assert plan.count("Exchange hashpartitioning") <= 3, plan
    assert "BatchEvalPython" not in plan
