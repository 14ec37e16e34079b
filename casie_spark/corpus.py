"""The composed corpus-hygiene pipeline: raw crawl table in, training
corpus out.

Every stage is an operator that is individually oracle-checked through
the driver contract (q09/q11/q13/q19/q30/q31/q32/q33/q34/q36/q37/q38);
this module only sequences them in the order published pipelines
(C4, CCNet, Gopher, RefinedWeb, Dolma) apply them:

1. host blocklist        (urlnorm.filter_blocked_hosts — no text read)
2. URL-level dedup       (urlnorm.canonical_url keeper window)
3. exact text dedup      (dedup.drop_exact_duplicates)
3a. C4 line/page rules   (textstats.c4_clean_lines — optional,
                          default off: terminal-punct / min-words /
                          javascript line filters + lorem-ipsum /
                          curly-brace page drops, applied before span
                          dedup as in Raffel et al. 2020 §2.2)
3b. line/paragraph dedup (dedup.drop_duplicate_lines — optional,
                          default off: the Dolma paragraph rule;
                          rewrites text, so it runs BEFORE the
                          quality gates score it)
4. quality gates         (textstats.quality_columns: tokens + score)
5. repetition gates      (textstats.repetition_columns, Gopher A1.1)
6. fuzzy near-dup drop   (dedup.drop_neardup_duplicates: LSH ->
                          Jaccard-verified -> connected components)
7. decontamination       (dedup.decontaminate vs an eval/benchmark set)
8. mixture quotas        (dedup.quota_sample, map-only)
9. PII redaction         (redact.redact_pii — transform, not filter)

Scale notes: stages 1-8 never append columns to the corpus frame —
each gate computes its verdict on an (id, text) projection and comes
back as a semi/anti-join on the uniformly-hashed id, so the wide doc
row (html payload etc.) is shuffled at most by the joins Catalyst
actually needs and the output schema equals the input schema.  Every
gate that references the corpus frame MORE THAN ONCE (verdict subtree
+ join-back) sits behind a :func:`casie_spark.util.truncate` lineage
barrier — without it each stage embeds the previous stage's tree
twice and the logical plan grows exponentially (measured: a 118 MB
plan render by stage 7 on an 11-row corpus; the repo's barrier policy
in CLAUDE.md exists for exactly this).  The barriers make each stage
an eager job, which is also what ``with_report=True`` needs — its
per-stage counts then cost one cached-scan action each instead of
re-evaluating the chain.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F


def prepare_training_corpus(
    docs: DataFrame,
    *,
    blocklist: list[str] | DataFrame | None = None,
    url_dedup: bool | None = None,
    c4_line_rules: bool = False,
    line_dedup: bool = False,
    min_tokens: int = 5,
    min_quality: float | None = 0.3,
    max_dup_bigram_frac: float | None = 0.5,
    max_top_word_frac: float | None = 0.8,
    neardup_threshold: float | None = None,
    eval_set: DataFrame | None = None,
    quotas: dict[str, float] | None = None,
    default_quota: float = 1.0,
    redact: bool = True,
    id_col: str = "doc_id",
    text_col: str = "text",
    url_col: str = "url",
    with_report: bool = False,
):
    """Run the hygiene chain (module docstring) and return the cleaned
    corpus with the INPUT schema; with ``with_report=True`` returns
    ``(corpus, {stage: surviving_rows})`` instead.  Pass None to skip
    any gate; ``url_dedup=None`` auto-enables when ``url_col`` exists."""
    from .functions.redact import redact_pii
    from .functions.textstats import (c4_clean_lines, quality_columns,
                                      repetition_columns)
    from .functions.urlnorm import (canonical_url, filter_blocked_hosts)
    from .operators.dedup import (decontaminate, drop_duplicate_lines,
                                  drop_exact_duplicates,
                                  drop_neardup_duplicates, quota_sample)
    from .util import truncate

    report: dict[str, int] = {}

    def step(name: str, df: DataFrame) -> DataFrame:
        if with_report:
            report[name] = df.count()
        return df

    out = step("input", docs)
    if blocklist is not None:
        out = step("host_blocklist",
                   filter_blocked_hosts(truncate(out), blocklist,
                                        url_col, id_col))
    if url_dedup is None:
        url_dedup = url_col in out.columns
    if url_dedup:
        w = Window.partitionBy(canonical_url(url_col)).orderBy(id_col)
        out = step("url_dedup",
                   out.withColumn("_rk", F.row_number().over(w))
                   .filter("_rk = 1").drop("_rk"))
    out = step("exact_dedup", drop_exact_duplicates(out, text_col, id_col))
    if c4_line_rules:
        # C4 applies its line/page rules before span dedup (Raffel et
        # al. 2020 §2.2); map-only transform, no barrier needed
        out = step("c4_line_rules",
                   c4_clean_lines(out, text_col).drop("n_lines_kept"))
    if line_dedup:
        out = step("line_dedup",
                   drop_duplicate_lines(truncate(out), text_col, id_col))
    if min_tokens or min_quality is not None:
        out = truncate(out)
        q = quality_columns(out.select(id_col, text_col), text_col)
        keep = q.filter(
            (F.col("n_tokens") >= int(min_tokens or 0))
            & (F.col("quality_score") >= float(min_quality or 0.0))
        ).select(id_col)
        out = step("quality", out.join(keep, id_col, "left_semi"))
    if max_dup_bigram_frac is not None or max_top_word_frac is not None:
        out = truncate(out)
        r = repetition_columns(out.select(id_col, text_col), text_col, id_col)
        cond = F.lit(False)
        if max_dup_bigram_frac is not None:
            cond = cond | (F.col("dup_bigram_frac") > max_dup_bigram_frac)
        if max_top_word_frac is not None:
            cond = cond | (F.col("top_word_frac") > max_top_word_frac)
        out = step("repetition",
                   out.join(r.filter(cond).select(id_col), id_col, "left_anti"))
    if neardup_threshold is not None:
        out = step("neardup",
                   drop_neardup_duplicates(truncate(out), neardup_threshold,
                                           text_col=text_col, id_col=id_col))
    if eval_set is not None:
        out = truncate(out)
        hits = decontaminate(out, eval_set, text_col=text_col,
                             id_col=id_col).select(id_col)
        out = step("decontaminate", out.join(hits, id_col, "left_anti"))
    if quotas:
        out = step("quota", quota_sample(out, quotas, id_col=id_col,
                                         default_quota=default_quota))
    if redact:
        cols = out.columns
        red = redact_pii(out, text_col)
        out = step("redact",
                   red.drop(text_col, "n_emails", "n_ips", "n_phones")
                   .withColumnRenamed("redacted_text", text_col)
                   .select(*cols))
    return (out, report) if with_report else out


def pack_token_shards(docs: DataFrame, budget_tokens: int = 100_000,
                      n_shards: int = 1024, text_col: str = "text",
                      id_col: str = "doc_id") -> DataFrame:
    """Deterministic token-budget sharding — the last step of training
    prep: assign every document to a (shard, bin) so each bin holds
    ~budget_tokens of text, stable across runs and cluster sizes (the
    writer that follows emits one training file per bin; trainers
    stream bins in hash order).

    Bin rule: within a shard, documents are ordered by md5(id) (a
    deterministic pseudo-shuffle — neighbors in the corpus do NOT land
    in the same bin, which is exactly what training wants) and
    ``bin = floor(exclusive_prefix_tokens / budget)``.  This is the
    closed-form relaxation of greedy packing: a bin may overflow by at
    most one document (greedy's reset-on-overflow state is not
    expressible as a distributed prefix sum, and the overflow is
    bounded and rare at real budgets).

    Scale shape: token counts are map-only column math; the only
    shuffle is the per-shard prefix-sum window riding
    ``hash16(id) % n_shards`` — n_shards is sized to the cluster so a
    shard is a bounded partition, never a global total order (a single
    ORDER BY over 10^12 rows is the anti-pattern this signature
    avoids).  hash16/md5 keep the DuckDB oracle (q41) bit-exact."""
    from .functions.textstats import hash16

    ids = F.col(id_col).cast("string")
    # a null text holds no tokens, like an empty one
    text = F.coalesce(F.col(text_col), F.lit(""))
    n_tok = F.size(F.filter(F.split(text, r"\s+"),
                            lambda x: x != F.lit(""))).cast("long")
    base = docs.select(
        id_col,
        n_tok.alias("n_tokens"),
        (hash16(ids) % n_shards).alias("shard"),
        F.md5(ids).alias("_h"),
    )
    w = (Window.partitionBy("shard").orderBy("_h", id_col)
         .rowsBetween(Window.unboundedPreceding, 0))
    cum = F.sum("n_tokens").over(w)
    return base.select(
        id_col, "shard", "n_tokens",
        F.floor((cum - F.col("n_tokens")) / F.lit(int(budget_tokens)))
        .cast("long").alias("bin"),
    )


def write_training_shards(docs: DataFrame, out_dir: str,
                          budget_tokens: int = 100_000,
                          n_shards: int = 16, text_col: str = "text",
                          id_col: str = "doc_id") -> dict:
    """Checkpoint-resumable training-corpus export — the sink side of
    :func:`pack_token_shards`: docs are written as parquet partitioned
    by (shard, bin) with one manifest row per completed shard
    (casie_spark.manifests — the same lineage/resume machinery as the
    graph sink).  Only shards WITHOUT an 'ok' manifest row are
    written, so re-running after an interruption completes the
    remainder and a completed run is a no-op.  A shard is recorded
    complete only when the input actually contained documents for it
    (a partial upstream read must not mark absent shards done —
    the sinks.resumable_run rule).

    Safe to resume because the (shard, bin) assignment is a pure
    function of each document's id and the in-shard token prefix sum —
    identical on every re-run over the same corpus; partial writes of
    an uncommitted shard are overwritten by the dynamic partition
    overwrite."""
    import os
    import time

    from . import manifests

    spark = docs.sparkSession
    stage = "training_shards"
    pending = manifests.pending_buckets(spark, out_dir, stage, n_shards)
    if not pending:
        return {"written_shards": [], "rows": 0}

    assign = pack_token_shards(docs, budget_tokens, n_shards,
                               text_col, id_col)
    data = (docs.join(assign.select(id_col, "shard", "bin"), id_col)
            .filter(F.col("shard").isin([int(s) for s in pending])))
    t0 = time.perf_counter()
    data.persist()
    per_shard = {
        r["shard"]: r["n"]
        for r in data.groupBy("shard").agg(F.count("*").alias("n")).collect()
    }
    (data.write.mode("overwrite")
     .option("partitionOverwriteMode", "dynamic")
     .partitionBy("shard", "bin")
     .parquet(os.path.join(out_dir, "shards")))
    data.unpersist()
    wall_ms = int((time.perf_counter() - t0) * 1000)
    done = {int(s): per_shard[s] for s in pending if s in per_shard}
    if done:
        manifests.record(spark, out_dir, stage, done, wall_ms)
    return {"written_shards": sorted(done), "rows": int(sum(done.values()))}


def hashed_gram_buckets(docs: DataFrame, text_col: str = "text",
                        id_col: str = "doc_id", n_buckets: int = 512,
                        keep_cols: tuple[str, ...] = ()) -> DataFrame:
    """(id, *keep_cols, b) rows: one per unigram/bigram occurrence,
    b = hash16(gram) % n_buckets — the hashed bag-of-ngrams feature
    space of Xie et al. 2023 (DSIR).  Map-only (lowercase whitespace
    split, adjacent-pair bigrams built inside the array, then one
    explode); hash16/md5 keep the DuckDB oracle (q42) bit-exact."""
    from .functions.textstats import hash16

    ws = F.filter(F.split(F.lower(F.col(text_col)), r"\s+"),
                  lambda x: x != F.lit(""))
    bi = F.when(
        F.size(ws) >= 2,
        F.transform(F.sequence(F.lit(1), F.size(ws) - 1),
                    lambda i: F.concat(F.element_at(ws, i), F.lit(" "),
                                       F.element_at(ws, i + 1))),
    ).otherwise(F.array().cast("array<string>"))
    return docs.select(
        id_col, *keep_cols, F.explode(F.concat(ws, bi)).alias("g"),
    ).select(id_col, *keep_cols,
             (hash16(F.col("g")) % n_buckets).alias("b"))


def dsir_logratio(docs: DataFrame, target, text_col: str = "text",
                  id_col: str = "doc_id", n_buckets: int = 512,
                  alpha: float = 1.0, threshold: float = 0.0,
                  stats_frac: float | None = None) -> DataFrame:
    """DSIR importance scoring (Xie et al. 2023, "Data Selection for
    Language Models via Importance Resampling"): score every document
    by how much more likely its hashed n-gram bag is under the TARGET
    distribution (``target``: a boolean Column marking the exemplar
    docs — a trusted domain, a language, a quality slice) than under
    the RAW pool (the whole corpus).  Returns one row per non-empty
    doc: (id, n_grams, logratio, keep) where logratio is the per-gram
    mean of log10 p_target(bucket) - log10 p_raw(bucket) (add-alpha
    smoothed, rounded to 4 — the repo's cross-engine float rule) and
    keep = rounded logratio >= threshold.

    Scale shape: the gram stream is map-only (hashed_gram_buckets)
    and the explode+md5 pass — the dominant cost — runs ONCE: the
    (id, target?, bucket) frame is materialized (columnar cache, three
    narrow columns) and both consumers read the cache.  The bucket
    distributions aggregate to n_buckets rows with map-side combine
    absorbing the Zipf head (one conditional-sum pass computes target
    AND raw together), the corpus totals ride a single-partition
    window over those n_buckets rows (integer sums — no float drift),
    the per-bucket score table broadcasts back into the cached gram
    frame, and the only data-scale exchange is the final groupBy(id)
    with partial aggregation.  At 100 TB the cached gram frame is the
    scale limit — there you would fit the two distributions on a
    sample instead (DSIR's distributions are estimates, not exact
    counts; the oracle-exact full-corpus form here is the verifiable
    special case) and the cache becomes a 512-row broadcast table.
    ``stats_frac`` IS that 100 TB path: fit the two distributions on a
    deterministic hash-sample of documents (hash16(id:dsir)/65536 <
    stats_frac — stable across runs and cluster sizes, the
    quota_sample rule) so the corpus-scale gram pass runs exactly once
    (scoring) with nothing materialized, and only the sample's gram
    stream feeds the 512-row stats.

    Measured (sf0.1, local[32], best-of-3): 12.0 s as three gram
    passes -> 6.2 s with the single materialized pass."""
    from .functions.textstats import hash16
    from .util import materialize

    flagged = docs.select(
        F.col(id_col).alias("_did"), F.col(text_col).alias("_txt"),
        target.alias("_t"))
    if stats_frac is None:
        # oracle-exact: one materialized gram pass feeds stats AND
        # per-doc scoring
        bucketed = materialize(hashed_gram_buckets(
            flagged, text_col="_txt", id_col="_did", n_buckets=n_buckets,
            keep_cols=("_t",)))
        stats_src = bucketed
    else:
        # estimate the distributions on a hash-sample; the full gram
        # stream is then single-consumer and stays lazy (no cache)
        bucketed = hashed_gram_buckets(
            flagged, text_col="_txt", id_col="_did", n_buckets=n_buckets,
            keep_cols=("_t",))
        u = (hash16(F.concat(F.col("_did").cast("string"),
                             F.lit(":dsir"))) / F.lit(65536.0))
        stats_src = hashed_gram_buckets(
            flagged.filter(u < float(stats_frac)), text_col="_txt",
            id_col="_did", n_buckets=n_buckets, keep_cols=("_t",))
    stats = stats_src.groupBy("b").agg(
        F.sum(F.when(F.col("_t"), 1).otherwise(0)).alias("ct"),
        F.count("*").alias("cr"),
    )
    a, bkt = float(alpha), float(n_buckets)
    # pmod(b,1) == 0 for every row but is not a foldable literal, so
    # the single-partition window (512 rows) skips WindowExec's
    # no-partition-defined warning
    wall = (Window.partitionBy(F.pmod(F.col("b"), F.lit(1)))
            .rowsBetween(Window.unboundedPreceding,
                         Window.unboundedFollowing))
    scores = stats.select(
        "b",
        (F.log10((F.col("ct") + a) / (F.sum("ct").over(wall) + a * bkt))
         - F.log10((F.col("cr") + a) / (F.sum("cr").over(wall) + a * bkt))
         ).alias("lr"),
    )
    out = (bucketed.join(F.broadcast(scores), "b")
           .groupBy("_did")
           .agg(F.count("*").alias("n_grams"),
                # + 0.0 turns a mean that rounds to -0.0 into 0.0; the
                # q42 oracle does the same, so the engines agree on sign
                (F.round(F.sum("lr") / F.count("*"), 4) + 0.0)
                .alias("logratio")))
    return out.select(
        F.col("_did").alias(id_col),
        "n_grams", "logratio",
        (F.col("logratio") >= F.lit(float(threshold))).alias("keep"),
    )


def upsample_epochs(docs: DataFrame, weight, id_col: str = "doc_id",
                    salt: str = "epoch") -> DataFrame:
    """Deterministic fractional upsampling — the mixture/epoch step of
    training prep (the "2.5 epochs of Wikipedia" rule of published LM
    data recipes): emit floor(w) copies of every document plus one
    more iff hash16(id:salt)/65536 < frac(w).  Expected copy count is
    exactly w per doc, the realization is a pure function of the id
    (stable across runs and cluster sizes — no RNG state, the same
    property quota_sample relies on), and the whole operator is
    MAP-ONLY: floor/frac/hash are column math and the copies come from
    exploding a sequence literal — zero shuffles at any corpus size.

    ``weight``: a double Column (per-doc mixture weight, e.g. a
    when-chain over source/lang).  Output: the input row + (epoch,
    n_copies); docs whose realized copy count is 0 (w < 1 losing the
    hash draw) are dropped."""
    from .functions.textstats import hash16

    w = weight.cast("double")
    u = (hash16(F.concat(F.col(id_col).cast("string"),
                         F.lit(":" + salt))) / F.lit(65536.0))
    n = (F.floor(w) + F.when(u < w - F.floor(w), 1).otherwise(0)).cast("int")
    return (docs.withColumn("n_copies", n)
            .filter(F.col("n_copies") > 0)
            .withColumn("epoch",
                        F.explode(F.sequence(F.lit(0),
                                             F.col("n_copies") - 1)))
            .withColumn("epoch", F.col("epoch").cast("int")))


def temperature_weights(docs: DataFrame, key_col: str = "lang",
                        alpha: float = 0.5,
                        round_to: int | None = 6) -> DataFrame:
    """Temperature-based mixture reweighting — the multilingual
    sampling rule of mBERT/XLM-R/mT5 (sample group k with probability
    proportional to p_k^alpha; alpha < 1 flattens the distribution
    toward rare groups, alpha = 1 is the raw corpus).  Returns the
    input rows plus ``weight``: the expected copy count that realizes
    the tempered mixture, weight_k = (p_k^alpha / sum_j p_j^alpha) /
    p_k.  Summed over the corpus the weights equal N — total corpus
    size is preserved, mass moves from head groups to tail groups.
    Feed the column into :func:`upsample_epochs` for the realized
    copies (``round_to`` fixes the weight before the hash draw so the
    realization is bit-identical across engines).

    Scale shape: ONE groupBy(key) collapsing to a groups-scale frame
    (map-side combinable count), a single-partition window over those
    few rows for the normalizer, and a broadcast join back onto the
    corpus — the doc stream is never shuffled."""
    counts = docs.groupBy(key_col).agg(F.count("*").alias("_ck"))
    # pmod trick as in dsir_logratio: constant partition key without
    # WindowExec's no-partition warning; the frame is groups-scale
    wall = (Window.partitionBy(F.pmod(F.col("_ck"), F.lit(1)))
            .rowsBetween(Window.unboundedPreceding,
                         Window.unboundedFollowing))
    a = float(alpha)
    n_total = F.sum("_ck").over(wall)
    pk = F.col("_ck") / n_total
    qk = F.pow(pk, F.lit(a)) / F.sum(F.pow(pk, F.lit(a))).over(wall)
    w = qk / pk
    if round_to is not None:
        w = F.round(w, round_to)
    weights = counts.select(key_col, w.alias("weight"))
    return docs.join(F.broadcast(weights), key_col)


def pack_sequences(docs: DataFrame, seq_len: int = 2048,
                   n_shards: int = 16, text_col: str = "text",
                   id_col: str = "doc_id") -> DataFrame:
    """Fixed-length training-sequence packing with document
    boundaries — the step after :func:`pack_token_shards`: concatenate
    each shard's token stream (md5 pseudo-shuffle order, same rule) and
    cut it into back-to-back sequences of exactly ``seq_len`` tokens,
    splitting documents across sequence boundaries where they fall
    (the GPT-style "pack then chunk" recipe; the emitted doc-boundary
    segments are what an attention-mask builder consumes).

    Output: one row per (sequence, document segment) —
    (shard, seq, doc_id, doc_offset, seg_len, seq_offset): tokens
    [doc_offset, doc_offset+seg_len) of the doc occupy positions
    [seq_offset, seq_offset+seg_len) of sequence ``seq`` in ``shard``.
    Every sequence except each shard's last holds exactly seq_len
    tokens; segment unions tile every doc exactly once (both gated in
    test_corpus.py).

    Scale shape: one per-shard prefix-sum window (the q41 exchange),
    then a bounded explode — a doc spans at most n_tokens/seq_len + 1
    sequences, so the fan-out is the token count divided by seq_len,
    never quadratic.  All arithmetic is integer-exact; the DuckDB
    oracle (q50) reproduces it bit-for-bit."""
    from .functions.textstats import hash16

    ids = F.col(id_col).cast("string")
    n_tok = F.size(F.filter(F.split(F.col(text_col), r"\s+"),
                            lambda x: x != F.lit(""))).cast("long")
    base = docs.select(
        id_col,
        n_tok.alias("_nt"),
        (hash16(ids) % n_shards).alias("shard"),
        F.md5(ids).alias("_h"),
    ).filter(F.col("_nt") > 0)
    w = (Window.partitionBy("shard").orderBy("_h", id_col)
         .rowsBetween(Window.unboundedPreceding, 0))
    start = (F.sum("_nt").over(w) - F.col("_nt")).alias("_p0")
    spanned = base.select(id_col, "shard", "_nt", start).select(
        id_col, "shard", "_nt", "_p0",
        F.explode(F.sequence(
            F.floor(F.col("_p0") / seq_len).cast("long"),
            F.floor((F.col("_p0") + F.col("_nt") - 1) / seq_len)
            .cast("long"))).alias("seq"),
    )
    seg_start = F.greatest(F.col("_p0"), F.col("seq") * seq_len)
    seg_end = F.least(F.col("_p0") + F.col("_nt"),
                      (F.col("seq") + 1) * seq_len)
    return spanned.select(
        "shard", "seq", id_col,
        (seg_start - F.col("_p0")).alias("doc_offset"),
        (seg_end - seg_start).alias("seg_len"),
        (seg_start - F.col("seq") * seq_len).alias("seq_offset"),
    )


def leakage_safe_split(docs: DataFrame, n: int = 3, n_hashes: int = 4,
                       train_pct: int = 80, val_pct: int = 10,
                       text_col: str = "text",
                       id_col: str = "doc_id") -> DataFrame:
    """Train/validation/test assignment at near-dup-CLUSTER
    granularity: a doc-level hash split leaks whenever two near-
    duplicate pages land on opposite sides of the train/eval fence
    (the contamination mode q34's decontaminate measures after the
    fact); splitting on the q36 connected component instead puts every
    near-dup of a page on the SAME side by construction.

    Candidate pairs are the LSH buckets themselves (unverified — for
    split assignment over-merging is the conservative direction: more
    docs travel together, never fewer), closed into components by
    ``dedup.neardup_components`` (the q36 closure, run to the
    fixpoint); a doc with no candidate forms its own component.
    The split is hash16(component) % 100 against (train_pct,
    val_pct) cut points — fully deterministic, so shards and resumes
    regenerate the identical assignment, and the oracle (q57) replays
    the closure with a recursive CTE.

    Scale shape: inherits the q36 candidate machinery (one banded
    bucket self-join with the skew cap, CC rounds barriered with
    truncate); the final assignment is one left join of the corpus ids
    against the (small) clustered-doc map plus pure column math —
    document text is read only by the shingle pass.
    """
    from .functions.textstats import hash16
    from .operators.dedup import neardup_components

    comp = neardup_components(docs, n, n_hashes, text_col, id_col)
    out = (docs.select(id_col)
           .join(comp, id_col, "left")
           .select(id_col,
                   F.coalesce("component", F.col(id_col))
                   .alias("component")))
    bucket = hash16(F.col("component").cast("string")) % 100
    return out.select(
        id_col, "component",
        F.when(bucket < train_pct, F.lit("train"))
        .when(bucket < train_pct + val_pct, F.lit("validation"))
        .otherwise(F.lit("test")).alias("split"))


def weighted_sample(docs: DataFrame, k: int = 100, weight=None,
                    id_col: str = "doc_id") -> DataFrame:
    """Deterministic weighted sampling WITHOUT replacement
    (Efraimidis & Spirakis 2006, the exponential-key / A-ES scheme):
    each row draws u in (0, 1] from the md5 hash of its id and keys
    itself by ln(u)/w; the k LARGEST keys are exactly a weighted
    sample without replacement.  Complements the sampling family —
    q30's quotas are per-group caps, q43's upsampling is
    with-replacement epochs, q47's temperature reweights groups; this
    is the "pick k docs, quality-proportional, no duplicates" op a
    curation pass runs.

    The hash IS the randomness (the q56 convention): resumes and
    reruns regenerate the identical sample, and the DuckDB oracle
    (q64) replays hash, key and ranking bit-for-bit.  Keys are
    rounded (8) before ranking with an id tie-break — the cross-engine
    float contract; the rounding is part of the operator's definition.

    Scale shape: map-only key computation + a global top-k that plans
    as TakeOrdered — no shuffle beyond the k-row collect tree.
    ``weight`` defaults to ``n_chars``; rows whose weight is not
    strictly positive (or null) are never sampled.
    """
    w = weight if weight is not None else F.col("n_chars")
    ids = F.col(id_col).cast("string")
    u = (F.conv(F.substring(F.md5(ids), 1, 8), 16, 10).cast("double")
         + 1.0) / float(1 << 32)
    key = F.round(F.log(u) / w, 8)
    ranked = docs.filter(w > 0).select(
        id_col, w.cast("double").alias("weight"), key.alias("skey"))
    top = ranked.orderBy(F.desc("skey"), id_col).limit(k)
    rk = Window.orderBy(F.desc("skey"), id_col)
    return (top.withColumn("sample_rank", F.row_number().over(rk))
            .select(id_col, "weight", "sample_rank"))


def shard_checksums(docs: DataFrame, n_shards: int = 16,
                    text_col: str = "text",
                    id_col: str = "doc_id") -> DataFrame:
    """Order-insensitive per-shard content checksums — the integrity
    audit for the resumable shard sinks (`write_training_shards`,
    `sources/sinks.py`): after a crash-window replay, a shard's
    checksum must equal the pre-crash manifest's, regardless of the
    order the replacement write emitted rows.

    checksum = SUM over the shard's docs of the 32-bit md5 fraction of
    (id || '|' || content-md5) — addition is commutative, so the value
    is independent of row order AND partitioning (the property a
    naive "md5 of concatenated rows" lacks, which is why distributed
    integrity checks are sum-of-hashes, e.g. ORC/Iceberg column
    stats).  32-bit terms summed into a 64-bit accumulator overflow
    only past 2^32 rows per shard — shard budgets (q41) keep shards
    far under that; the DuckDB oracle (q65) replays the identical sum.

    Scale shape: map-only hashing + one n_shards-key agg with map-side
    combine; text crosses no shuffle.
    """
    from .functions.textstats import hash16

    ids = F.col(id_col).cast("string")
    shard = (hash16(ids) % n_shards).alias("shard")
    row_h = F.conv(
        F.substring(F.md5(F.concat_ws("|", ids, F.md5(text_col))), 1, 8),
        16, 10).cast("long")
    return (docs.select(shard, row_h.alias("_h"))
            .groupBy("shard")
            .agg(F.count("*").alias("n_docs"),
                 F.sum("_h").alias("content_checksum")))
