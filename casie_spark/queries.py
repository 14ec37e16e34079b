"""Driver-contract query suite: each entry exists twice —

- a Spark DataFrame implementation (``QUERIES[name]``), exercising the
  operator inventory of SURVEY.md section 2 on the driver-provided
  testdata tables, and
- an ANSI-SQL oracle (``ORACLE_SQL[name]``) DuckDB runs on the same
  parquet for the order-insensitive value-hash comparison.

Conventions keeping the two engines hash-identical:
- every computed column is aliased the same on both sides;
- floating aggregates are rounded (ROUND(x, 2..4)) on both sides so
  parallel summation order can't flip the last ulp;
- window orderings always carry a unique tie-break key;
- timestamps only pass through date_trunc (both engines UTC).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

# --- inline corpus for regex/extraction oracles (same text reaches both
# engines, so the check is about the operators, not data plumbing) -----
CVE_CORPUS = [
    (1, "Researchers discovered CVE-2019-0708 in Remote Desktop Services."),
    (2, "Adobe released a patch for CVE-2018-4878 and CVE-2018-4990 last week."),
    (3, "No vulnerabilities mentioned here at all."),
    (4, "The flaw CVE-2019-0708 was exploited in the wild; see also CVE-2017-0144."),
    (5, "Update to version 2.4.41 to fix CVE-2019-0211."),
    (6, "CVE-2017-0144, also known as EternalBlue, powered WannaCry."),
]


def _values_sql() -> str:
    rows = ", ".join(f"({i}, '{t}')" for i, t in CVE_CORPUS)
    return f"(VALUES {rows}) AS corpus(doc_id, text)"


def _t(sf_dir: str, name: str) -> str:
    return f"{sf_dir}/{name}.parquet"


def _load(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    return spark.read.parquet(_t(sf_dir, name))


# ---------------------------------------------------------------------------
# relational core
# ---------------------------------------------------------------------------

def q01_pricing_summary(spark, sf_dir):
    """TPC-H Q1 shape: scan + filter + hash agg (SURVEY 2.4)."""
    li = _load(spark, sf_dir, "lineitem")
    return (
        li.filter(F.col("l_shipdate") <= "1997-09-01")
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            F.round(F.sum("l_quantity"), 2).alias("sum_qty"),
            F.round(F.sum("l_extendedprice"), 2).alias("sum_base_price"),
            F.round(
                F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2
            ).alias("sum_disc_price"),
            F.round(F.avg("l_quantity"), 4).alias("avg_qty"),
            F.count("*").alias("count_order"),
        )
    )


def q02_revenue_by_nation(spark, sf_dir):
    """3-way join (broadcast dims) + agg (SURVEY 2.3 J-class)."""
    c = _load(spark, sf_dir, "customer")
    n = _load(spark, sf_dir, "nation")
    o = _load(spark, sf_dir, "orders")
    return (
        o.join(c, o.o_custkey == c.c_custkey)
        .join(F.broadcast(n), c.c_nationkey == n.n_nationkey)
        .groupBy("n_name")
        .agg(
            F.round(F.sum("o_totalprice"), 2).alias("revenue"),
            F.count("*").alias("n_orders"),
        )
    )


def q03_order_priority(spark, sf_dir):
    o = _load(spark, sf_dir, "orders")
    return (
        o.filter(
            (F.col("o_orderdate") >= "1995-01-01")
            & (F.col("o_orderdate") < "1996-01-01")
        )
        .groupBy("o_orderpriority")
        .agg(F.count("*").alias("order_count"))
    )


def q04_running_total(spark, sf_dir):
    """Window: running sum + lag per customer (SURVEY 2.5)."""
    o = _load(spark, sf_dir, "orders")
    w = Window.partitionBy("o_custkey").orderBy("o_orderdate", "o_orderkey")
    return o.select(
        "o_custkey",
        "o_orderkey",
        F.round(
            F.sum("o_totalprice").over(
                w.rowsBetween(Window.unboundedPreceding, 0)
            ),
            2,
        ).alias("running_total"),
        F.round(
            F.col("o_totalprice") - F.coalesce(F.lag("o_totalprice", 1).over(w), F.lit(0.0)),
            2,
        ).alias("delta_prev"),
    )


def q05_topk_per_group(spark, sf_dir):
    """Top-3 events per user by value (SURVEY 2.6 T1/T3)."""
    e = _load(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy(F.desc("value"), "event_id")
    return (
        e.withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") <= 3)
        .select("user_id", "event_id", F.round("value", 4).alias("value"), "rk")
    )


def q06_sessionize(spark, sf_dir):
    """Sessionization: 30-min gap splits; per-user session stats."""
    e = _load(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    gap = F.unix_timestamp("ts") - F.unix_timestamp(F.lag("ts", 1).over(w))
    sess = (
        e.withColumn("new_sess", F.when(gap.isNull() | (gap > 1800), 1).otherwise(0))
        .withColumn(
            "session_id",
            F.sum("new_sess").over(w.rowsBetween(Window.unboundedPreceding, 0)),
        )
    )
    per_sess = sess.groupBy("user_id", "session_id").agg(
        F.count("*").alias("n_events")
    )
    return per_sess.groupBy("user_id").agg(
        F.count("*").alias("n_sessions"),
        F.round(F.avg("n_events"), 4).alias("avg_events_per_session"),
        F.max("n_events").alias("max_events"),
    )


def q07_asof_join(spark, sf_dir):
    """As-of join: each event -> user's latest order at/before event ts
    (SURVEY 2.3 J4-style).

    Implemented as the scale-safe union-window form (the r2/r3 plan
    audits flagged the join form's unbounded-history fan-out): orders
    and events union into one stream, ONE hash exchange on user_id,
    and a running ``last(order, ignorenulls=True)`` over the
    event-time sort carries each user's latest order forward.  No
    join fan-out exists at any history length — a hot user's rows
    stay linear — and ties at equal timestamps sort orders before
    events (an order ON the event timestamp qualifies, matching the
    ``o_orderdate <= ts`` semantics) with the largest o_orderkey
    winning, the same tie-break as the former top-1-per-event join."""
    e = _load(spark, sf_dir, "events")
    o = _load(spark, sf_dir, "orders")
    orders = o.select(
        F.col("o_custkey").alias("user_id"),
        F.col("o_orderdate").cast("timestamp").alias("ts"),
        F.lit(1).alias("is_order"),
        F.lit(None).cast("long").alias("event_id"),
        F.struct(
            F.col("o_orderkey"),
            F.round("o_totalprice", 2).alias("last_order_price"),
        ).alias("ord"),
    )
    events = e.select(
        "user_id", "ts",
        F.lit(0).alias("is_order"),
        F.col("event_id"),
        F.lit(None).cast(
            "struct<o_orderkey:long,last_order_price:double>").alias("ord"),
    )
    w = (
        Window.partitionBy("user_id")
        .orderBy("ts", F.desc("is_order"), F.col("ord.o_orderkey").asc_nulls_first())
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return (
        orders.unionByName(events)
        .withColumn("last_ord", F.last("ord", ignorenulls=True).over(w))
        .filter("is_order = 0 AND last_ord IS NOT NULL")
        .select(
            "event_id", "user_id",
            F.col("last_ord.o_orderkey").alias("o_orderkey"),
            F.col("last_ord.last_order_price").alias("last_order_price"),
        )
    )


def q15_rollup(spark, sf_dir):
    li = _load(spark, sf_dir, "lineitem")
    return (
        li.rollup("l_returnflag", "l_linestatus")
        .agg(F.round(F.sum("l_quantity"), 2).alias("sum_qty"),
             F.count("*").alias("n"))
    )


def q16_event_windows(spark, sf_dir):
    """Tumbling 1-hour windows (batch analog of the streaming agg)."""
    e = _load(spark, sf_dir, "events")
    return (
        e.groupBy(
            # emitted as string: Spark timestamps are session-TZ-aware,
            # DuckDB's naive — strings hash identically
            F.date_format(F.date_trunc("hour", F.col("ts")), "yyyy-MM-dd HH:mm:ss")
            .alias("window_start"),
            "event_type",
        )
        .agg(F.count("*").alias("n"), F.round(F.sum("value"), 2).alias("sum_value"))
    )


# ---------------------------------------------------------------------------
# text / pipeline-shaped
# ---------------------------------------------------------------------------

def q08_cve_extract(spark, sf_dir):
    """Regex extraction + explode + agg (SURVEY 2.8 F1) on the shared
    inline corpus."""
    df = spark.createDataFrame(CVE_CORPUS, "doc_id int, text string")
    return (
        df.select(
            "doc_id",
            F.explode(
                F.regexp_extract_all(F.col("text"), F.lit(r"CVE-\d+-\d+"), 0)
            ).alias("cve"),
        )
        .groupBy("cve")
        .agg(
            F.count("*").alias("n_mentions"),
            F.countDistinct("doc_id").alias("n_docs"),
        )
    )


def q09_exact_dedup(spark, sf_dir):
    """Exact dedup via content hash (training-data op)."""
    d = _load(spark, sf_dir, "documents")
    return (
        d.groupBy(F.md5(F.col("text")).alias("content_hash"))
        .agg(F.count("*").alias("n_copies"), F.min("doc_id").alias("keeper_doc_id"))
        .filter(F.col("n_copies") > 1)
    )


def q10_token_stats(spark, sf_dir):
    """Token counting per doc -> per-lang stats (training-data op)."""
    d = _load(spark, sf_dir, "documents")
    toks = d.select(
        "lang", F.size(F.split(F.col("text"), r"\s+")).alias("n_tokens")
    )
    return toks.groupBy("lang").agg(
        F.count("*").alias("n_docs"),
        F.round(F.avg("n_tokens"), 4).alias("avg_tokens"),
        F.max("n_tokens").alias("max_tokens"),
        F.min("n_tokens").alias("min_tokens"),
    )


def q11_quality_scores(spark, sf_dir):
    """Quality scoring: stopword ratio + mean word length per source."""
    d = _load(spark, sf_dir, "documents")
    words = d.select(
        "source", F.explode(F.split(F.col("text"), r"\s+")).alias("w")
    ).filter(F.col("w") != "")
    return words.groupBy("source").agg(
        F.round(
            F.avg(F.when(F.col("w").isin("the", "a", "of", "to", "and"), 1.0).otherwise(0.0)),
            4,
        ).alias("stopword_ratio"),
        F.round(F.avg(F.length("w")), 4).alias("avg_word_len"),
        F.count("*").alias("n_words"),
    )


def q12_lang_dist(spark, sf_dir):
    d = _load(spark, sf_dir, "documents")
    return d.groupBy("lang").agg(
        F.count("*").alias("n_docs"),
        F.round(F.avg("n_chars"), 4).alias("avg_chars"),
    )


def q13_minhash_bands(spark, sf_dir):
    """MinHash-LSH banding for near-dup candidates: word 3-shingles ->
    4 md5-min signatures -> bucket collisions (training-data op;
    corpus-scale analog of SURVEY 2.9 canonicalization).  md5 is the
    hash on both engines so signatures agree exactly."""
    from .operators.dedup import minhash_signature, word_shingles, words_with_pos

    d = _load(spark, sf_dir, "documents")
    sig = minhash_signature(word_shingles(words_with_pos(d), 3), 4)
    # unpivot the bands into rows so the shingle->signature subtree is
    # planned ONCE (the per-band loop referenced `sig` four times and
    # Spark has no common-subplan reuse outside exchanges — the whole
    # posexplode+window+groupBy pipeline re-ran per band); grouping by
    # band then mirrors the oracle's UNION ALL + GROUP BY band shape
    # exactly, including omitting bands with no over-1 bucket
    unp = sig.select(
        F.posexplode(F.array(*[F.col(f"minh{b}") for b in range(4)]))
        .alias("band", "bucket")
    )
    return (
        unp.groupBy("band", "bucket")
        .agg(F.count("*").alias("bucket_size"))
        .filter("bucket_size > 1")
        .groupBy("band")
        .agg(
            F.count("*").alias("n_buckets"),
            F.sum(F.col("bucket_size") * (F.col("bucket_size") - 1) / 2)
            .cast("long").alias("n_candidate_pairs"),
        )
    )


def q14_embedding_knn(spark, sf_dir):
    """Brute-force cosine top-5 ANN baseline (training-data op).
    Query set = vec_id < 20; rounded sim so both engines rank alike."""
    e = _load(spark, sf_dir, "embeddings")
    q = e.filter(F.col("vec_id") < 20).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("qv")
    )
    c = e.select(F.col("vec_id").alias("neighbor_id"), F.col("embedding").alias("cv"))
    dot = F.aggregate(
        F.zip_with("qv", "cv", lambda x, y: x.cast("double") * y.cast("double")),
        F.lit(0.0),
        lambda acc, v: acc + v,
    )
    norm = lambda col: F.sqrt(  # noqa: E731
        F.aggregate(col, F.lit(0.0), lambda acc, v: acc + v.cast("double") * v.cast("double"))
    )
    j = (
        q.crossJoin(c)
        .filter(F.col("query_id") != F.col("neighbor_id"))
        .withColumn("sim", F.round(dot / (norm(F.col("qv")) * norm(F.col("cv"))), 4))
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("sim"), "neighbor_id")
    return (
        j.withColumn("rk", F.row_number().over(w))
        .filter("rk <= 5")
        .select("query_id", "neighbor_id", "sim", "rk")
    )


def q17_span_assembly(spark, sf_dir):
    """The BIO span operator cross-checked against an independent SQL
    window formulation (SURVEY 2.5): keyword tokens form runs; count
    spans + span lengths per doc."""
    d = _load(spark, sf_dir, "documents")
    words = d.select(
        "doc_id", F.posexplode(F.split(F.col("text"), r"\s+")).alias("pos", "w")
    )
    kw = F.col("w").isin("spark", "join", "merge")
    w = Window.partitionBy("doc_id").orderBy("pos")
    tagged = words.withColumn(
        "is_kw", kw.cast("int")
    ).withColumn(
        "start",
        (kw & ~F.coalesce(F.lag(kw, 1).over(w), F.lit(False))).cast("int"),
    )
    spans = (
        tagged.withColumn(
            "span_id",
            F.sum("start").over(w.rowsBetween(Window.unboundedPreceding, 0)),
        )
        .filter("is_kw = 1")
        .groupBy("doc_id", "span_id")
        .agg(F.count("*").alias("span_len"))
    )
    return spans.groupBy("doc_id").agg(
        F.count("*").alias("n_spans"),
        F.max("span_len").alias("max_span_len"),
        F.sum("span_len").alias("n_kw_tokens"),
    )


# ---------------------------------------------------------------------------
# training-data pipeline ops (dedup / similarity / text analysis / multimodal)
# ---------------------------------------------------------------------------

def q18_simhash(spark, sf_dir):
    """SimHash signatures + LSH bands per doc (training-data dedup op;
    casie_spark.operators.dedup.simhash)."""
    from .operators.dedup import simhash

    return simhash(_load(spark, sf_dir, "documents"))


def q19_ngram_jaccard(spark, sf_dir):
    """Two-phase near-dup: MinHash-LSH candidates -> exact 3-gram
    Jaccard (casie_spark.operators.dedup.ngram_jaccard)."""
    from .operators.dedup import ngram_jaccard

    return ngram_jaccard(_load(spark, sf_dir, "documents"))


def q20_embedding_neardup(spark, sf_dir):
    """Brute-force embedding-cosine near-dup pairs, sim >= 0.4
    (casie_spark.operators.dedup.embedding_neardup)."""
    from .operators.dedup import embedding_neardup

    return embedding_neardup(_load(spark, sf_dir, "embeddings"), 0.4)


def q21_ann_lsh(spark, sf_dir):
    """Hyperplane-sign LSH-bucketed ANN top-3 — the scale path for q14
    (casie_spark.operators.similarity.lsh_topk)."""
    from .operators.similarity import lsh_topk

    return lsh_topk(_load(spark, sf_dir, "embeddings"), k=3, query_limit=100)


def q22_langid(spark, sf_dir):
    """Stopword-profile language-ID heuristic -> confusion counts vs
    the labeled lang column (casie_spark.functions.textstats)."""
    from .functions.textstats import predict_lang, split_words

    d = _load(spark, sf_dir, "documents")
    pred = d.select(
        "lang", predict_lang(split_words(F.col("text"))).alias("predicted_lang")
    )
    return pred.groupBy("lang", "predicted_lang").agg(F.count("*").alias("n_docs"))


def q23_fingerprints(spark, sf_dir):
    """Mod-16 sampled rolling-hash document fingerprints
    (casie_spark.functions.textstats.shingle_fingerprints)."""
    from .functions.textstats import shingle_fingerprints
    from .operators.dedup import words_with_pos

    d = _load(spark, sf_dir, "documents")
    fps = shingle_fingerprints(words_with_pos(d))
    return fps.groupBy("doc_id").agg(
        F.count("*").alias("n_fps"),
        F.min("fp").alias("min_fp"),
        F.max("fp").alias("max_fp"),
    )


def q24_multimodal_meta(spark, sf_dir):
    """Binary-payload metadata (bytes, content hash) per source — the
    JVM-side half of the multimodal stage (operators.multimodal)."""
    from .operators.multimodal import attach_binary

    d = attach_binary(_load(spark, sf_dir, "documents"))
    return d.groupBy("source").agg(
        F.count("*").alias("n_blobs"),
        F.sum(F.length("blob")).alias("total_bytes"),
        F.countDistinct(F.md5("text")).alias("n_distinct_sha"),
    )


def q31_repetition(spark, sf_dir):
    """Gopher-style repetition gates (textstats.repetition_columns):
    duplicate bigram/trigram fractions + most-frequent-word share per
    doc — boilerplate filters for a training-data pipeline."""
    from .functions.textstats import repetition_columns

    d = _load(spark, sf_dir, "documents").filter(F.col("doc_id") < 100)
    return repetition_columns(d)


# word -> PII rewrites shared by q32's Spark side and oracle (the
# synthetic corpus carries no PII, so some is injected deterministically
# before redaction — same trick as q29)
_PII_REWRITES = [
    (r"\bspark\b", "alice@example.com"),
    (r"\bmerge\b", "10.0.0.1"),
    (r"\bbatch\b", "555-123-4567"),
]


def q32_pii_redaction(spark, sf_dir):
    """PII redaction hygiene pass (functions.redact.redact_pii):
    emails/IPs/phones -> typed placeholders; counts + an md5 of the
    redacted text verified byte-for-byte against the oracle."""
    from .functions.redact import redact_pii

    d = _load(spark, sf_dir, "documents").filter(F.col("doc_id") < 100)
    text = F.col("text")
    for pat, rep in _PII_REWRITES:
        text = F.regexp_replace(text, pat, rep)
    out = redact_pii(d.withColumn("text", text))
    return out.select(
        "doc_id", "n_emails", "n_ips", "n_phones",
        F.md5("redacted_text").alias("redacted_md5"),
    )


def q33_substring_dedup(spark, sf_dir):
    """Substring-level dedup (dedup.substring_dedup, Lee et al. 2021):
    per-doc coverage by 8-token windows occurring in >= 2 documents —
    duplicated windows merged into maximal intervals so dup_tokens is
    the span a substring-cut would remove.  One token-scale exchange,
    one gram-scale groupBy on the md5 key, interval merge per doc."""
    from .operators.dedup import substring_dedup

    return substring_dedup(_load(spark, sf_dir, "documents"), k=8)


# eval-benchmark sources for q34's Spark side and oracle (a fifth of
# the synthetic corpus plays the held-out benchmark suite)
_EVAL_SOURCES = ("src0", "src1", "src2", "src3")


def q34_decontaminate(spark, sf_dir):
    """Train-vs-benchmark decontamination (dedup.decontaminate — the
    GPT-3-style n-gram overlap audit, k=8 here): train docs sharing
    any 8-token window with the eval sources are flagged with their
    hit fraction.  The eval gram set is broadcast (benchmarks are
    small by construction); the train stream shuffles only for its own
    windowing."""
    from .operators.dedup import decontaminate

    d = _load(spark, sf_dir, "documents")
    ev = d.filter(F.col("source").isin(*_EVAL_SOURCES))
    tr = d.filter(~F.col("source").isin(*_EVAL_SOURCES))
    return decontaminate(tr, ev, k=8)


def q35_unigram_logprob(spark, sf_dir):
    """Corpus-level unigram LM quality proxy
    (textstats.unigram_logprob, the oracle-checkable unigram form of
    the CCNet perplexity filter): add-alpha-smoothed corpus token
    frequencies, per-doc mean log10 probability.  Per-(doc, word)
    counts first (map-side combine eats the Zipf head), vocabulary
    and totals derived from the counts frame, score join at doc-word
    scale."""
    from .functions.textstats import unigram_logprob

    return unigram_logprob(_load(spark, sf_dir, "documents"), alpha=0.5)


def q36_neardup_clusters(spark, sf_dir):
    """Near-dup cluster assembly: the q13 MinHash-LSH candidate-pair
    graph closed into connected components by
    ``dedup.neardup_components`` (iterative min-label propagation,
    run to the fixpoint), one row per clustered doc with its component
    id and cluster size.  The DuckDB oracle rebuilds the identical pair
    graph and closes it with a recursive CTE, so the ITERATIVE
    operator is hash-checked end-to-end: component = min reachable doc
    id on both engines.  This is the survivorship step every doc-level
    dedup needs at crawl scale — LSH emits pairs, but "keep one per
    near-dup CLUSTER" requires the transitive closure (keeper = the
    doc whose id equals its component).

    Scale shape: candidate generation is the capped per-bucket
    self-join (never all-pairs); each CC round is two shuffles keyed
    on doc/label with localCheckpoint barriers (util.truncate) so the
    plan tree stays flat; the loop exits on a zero changed-count, so
    a chain of any length closes fully."""
    from .operators.dedup import neardup_components

    comp = neardup_components(_load(spark, sf_dir, "documents"))
    return comp.select(
        "doc_id", "component",
        F.count("*").over(Window.partitionBy("component"))
        .cast("long").alias("cluster_size"),
    )


def _variant_url():
    """Deterministic URL synthesis shared by q37 and q39 (the
    synthetic corpus has no url column): four URL variants per
    canonical target, keyed by doc_id, covering every normalization
    branch — kept query params, mid-string and trailing tracking
    params, upper-case scheme+host, both default ports, www. and
    fragments.  The identical CASE chain runs in the oracles
    (_VARIANT_URL_SQL) — the q29 rewrite pattern."""
    k = F.expr("doc_id div 4").cast("string")
    m = F.col("doc_id") % 4
    host = F.concat(F.lit("example-"),
                    F.expr("(doc_id div 4) % 7").cast("string"),
                    F.lit(".com"))
    path = F.concat(F.lit("/page/"), k)
    return (
        F.when(m == 0, F.concat(F.lit("https://"), host, path,
                                F.lit("?q="), k))
        .when(m == 1, F.concat(F.upper(F.concat(F.lit("https://www."), host)),
                               F.lit(":443"), path,
                               F.lit("?utm_source=feed&q="), k))
        .when(m == 2, F.concat(F.lit("http://"), host, F.lit(":80"),
                               path, F.lit("/")))
        .otherwise(F.concat(F.lit("http://www."), host, path,
                            F.lit("?gclid=xyz123#frag")))
    )


_VARIANT_URL_SQL = """
        CASE doc_id % 4
          WHEN 0 THEN 'https://example-' || ((doc_id // 4) % 7)
               || '.com/page/' || (doc_id // 4) || '?q=' || (doc_id // 4)
          WHEN 1 THEN upper('https://www.example-' || ((doc_id // 4) % 7)
               || '.com') || ':443/page/' || (doc_id // 4)
               || '?utm_source=feed&q=' || (doc_id // 4)
          WHEN 2 THEN 'http://example-' || ((doc_id // 4) % 7)
               || '.com:80/page/' || (doc_id // 4) || '/'
          ELSE 'http://www.example-' || ((doc_id // 4) % 7)
               || '.com/page/' || (doc_id // 4) || '?gclid=xyz123#frag'
        END"""


def q37_url_dedup(spark, sf_dir):
    """URL-level dedup (functions.urlnorm): canonicalize page URLs —
    fragment / scheme+host case / default port / www. / utm-gclid-
    fbclid tracking params / trailing slash — and group equivalent
    addresses (the no-text first pass of every crawl pipeline; CCNet
    and RefinedWeb both dedup on the normalized URL before reading a
    byte of body).  URLs come from the shared _variant_url synthesis.
    Map-only until the one groupBy on the uniformly-hashed canonical
    string."""
    from .functions.urlnorm import url_duplicates

    d = _load(spark, sf_dir, "documents")
    return url_duplicates(d.select("doc_id", _variant_url().alias("url")))


# hosts blocked by q38 on both engines (suffix semantics: an entry
# blocks itself and every subdomain)
_BLOCKED_HOSTS = ["example-2.com", "tracker-3.net"]


def q38_host_blocklist(spark, sf_dir):
    """URL blocklist filtering (functions.urlnorm.filter_blocked_hosts
    — the RefinedWeb/C4 pre-fetch URL filter): drop docs whose host
    matches a blocklist entry or any subdomain of it.  Suffix matching
    runs as a bounded explode (one row per host label) + broadcast
    semi-join — never a LIKE scan per entry.  URLs are synthesized
    deterministically (the q29/q37 pattern; the identical CASE chain
    runs in the oracle) with subdomain, upper-case and port variants
    so the suffix/case/port paths all exercise.  Returns per-host kept
    counts + an id checksum over the SURVIVORS."""
    from .functions.urlnorm import filter_blocked_hosts, url_host

    d = _load(spark, sf_dir, "documents")
    k = F.expr("doc_id div 3")
    m = F.col("doc_id") % 3
    url = (
        F.when(m == 0, F.concat(F.lit("https://ads.example-"),
                                (k % 7).cast("string"), F.lit(".com/x")))
        .when(m == 1, F.concat(F.lit("https://WWW.EXAMPLE-"),
                               (k % 7).cast("string"),
                               F.lit(".COM:443/y")))
        .otherwise(F.concat(F.lit("https://tracker-"),
                            (k % 5).cast("string"),
                            F.lit(".net/z?id="), k.cast("string")))
    )
    docs = d.select("doc_id", url.alias("url"))
    kept = filter_blocked_hosts(docs, _BLOCKED_HOSTS)
    return kept.groupBy(url_host("url").alias("host")).agg(
        F.count("*").alias("n_kept"),
        F.sum("doc_id").cast("long").alias("id_checksum"),
    )


# per-source mixture quotas shared by q30's Spark side and oracle
_QUOTAS = {"src0": 0.75, "src1": 0.5, "src2": 0.25, "src3": 0.1}
_DEFAULT_QUOTA = 0.6


def q30_source_quota(spark, sf_dir):
    """Deterministic training-mixture weighting (dedup.quota_sample):
    map-only hash-threshold sampling per source — kept-set verified
    bit-for-bit against the DuckDB oracle via the shared md5 hash16.
    Result: per-source kept counts + an id checksum."""
    from .operators.dedup import quota_sample

    d = _load(spark, sf_dir, "documents")
    kept = quota_sample(d, _QUOTAS, default_quota=_DEFAULT_QUOTA)
    return kept.groupBy("source").agg(
        F.count("*").alias("n_kept"),
        F.sum("doc_id").cast("long").alias("id_checksum"),
    )


# q39 (composed corpus-hygiene) knobs, shared by the Spark side and the
# oracle.  Thresholds are set so EVERY stage drops rows on the synthetic
# corpus: the blocklist kills one of the seven synthesized hosts, the
# URL variants collapse 4:1, injected exact copies (ids +10_000_000, an
# offset clear of every sf's id range) die at exact dedup, min_quality
# 0.3 removes the stopword-free docs (score 0.2), the repetition caps
# sit inside the corpus' measured dup-bigram/top-word tails, natural
# near-dup pairs exist at jaccard >= 0.7, and six train docs naturally
# share 8-grams with the two eval sources.
_HYG_BLOCKED = ["example-2.com"]
_HYG_EVAL = ("src0", "src1")
_HYG_QUOTAS = {"src2": 0.5, "src3": 0.25}
_HYG_DEFAULT_QUOTA = 0.9
_HYG_NEARDUP_T = 0.7
_HYG_MIN_TOKENS = 12
_HYG_MIN_QUALITY = 0.3
_HYG_MAX_DUP_BI = 0.1
_HYG_MAX_TOP_W = 0.2


def q39_corpus_hygiene(spark, sf_dir):
    """The COMPOSED corpus-hygiene pipeline
    (corpus.prepare_training_corpus), hash-verified end to end: host
    blocklist -> URL dedup -> exact dedup -> quality -> repetition ->
    Jaccard-verified near-dup CC drop -> decontamination -> mixture
    quotas -> PII redaction, in the published C4/CCNet/Gopher order.
    Every stage is individually oracle-checked through q09/q11/q13/
    q19/q30/q31/q32/q36/q37/q38; this query pins the COMPOSITION —
    stage order, survivor threading, and gate semantics — against one
    DuckDB oracle that chains the same nine stages as CTEs (the
    near-dup closure as a recursive CTE).  Result: the final corpus as
    (doc_id, source, md5(redacted text)), bit-equal across engines.

    Inputs are deterministic (the q29/q37 pattern): urls from the
    shared _variant_url synthesis, PII injected via _PII_REWRITES,
    exact-duplicate copies appended at ids +10,000,000; sources
    src0/src1 play the eval/benchmark suite (natural 8-gram overlap
    exists), everything else is the train corpus."""
    from .corpus import prepare_training_corpus

    d = _load(spark, sf_dir, "documents").select("doc_id", "text", "source")
    dups = d.filter(F.col("doc_id") < 40).select(
        (F.col("doc_id") + 10_000_000).alias("doc_id"), "text", "source")
    text = F.col("text")
    for pat, rep in _PII_REWRITES:
        text = F.regexp_replace(text, pat, rep)
    corpus = (d.unionByName(dups)
              .withColumn("text", text)
              .withColumn("url", _variant_url()))
    ev = corpus.filter(F.col("source").isin(*_HYG_EVAL))
    train = corpus.filter(~F.col("source").isin(*_HYG_EVAL))
    out = prepare_training_corpus(
        train, blocklist=_HYG_BLOCKED,
        min_tokens=_HYG_MIN_TOKENS, min_quality=_HYG_MIN_QUALITY,
        max_dup_bigram_frac=_HYG_MAX_DUP_BI, max_top_word_frac=_HYG_MAX_TOP_W,
        neardup_threshold=_HYG_NEARDUP_T, eval_set=ev, quotas=_HYG_QUOTAS,
        default_quota=_HYG_DEFAULT_QUOTA, redact=True)
    return out.select("doc_id", "source", F.md5("text").alias("text_md5"))


# the boilerplate line every q40 document carries (the chrome/banner
# case corpus-wide line dedup exists for); 12 tokens so it lines up
# with the synthesized chunking on both engines
_Q40_BOILERPLATE = ("subscribe to the daily security briefing for "
                    "updates and alerts today")
_Q40_CHUNK = 12


def q41_token_shards(spark, sf_dir):
    """Deterministic token-budget sharding (corpus.pack_token_shards —
    the training-file packing step): every doc assigned to a
    (shard, bin) with ~300 tokens per bin, shard = hash16(id) % 8,
    in-shard order = md5(id) pseudo-shuffle, bin = floor(exclusive
    prefix tokens / budget).  The per-shard prefix sum is the only
    shuffle — no global ORDER BY — and the shared md5/hash16
    primitives make the assignment bit-reproducible in the oracle."""
    from .corpus import pack_token_shards

    d = _load(spark, sf_dir, "documents")
    return pack_token_shards(d, budget_tokens=300, n_shards=8)


def q40_line_dedup(spark, sf_dir):
    """Corpus-wide exact line dedup (dedup.drop_duplicate_lines — the
    C4 repeated-span / Dolma paragraph rule: a non-empty line occurring
    more than once in the corpus survives only at its smallest
    (doc, position)).  The synthetic corpus has no line structure, so
    each doc's text is deterministically re-lined into 12-token chunks
    and a shared boilerplate line is appended to EVERY doc (the
    identical chunking runs in the oracle) — the boilerplate survives
    once, in doc 0, and naturally repeated chunks dedup too.  Result:
    per doc, the md5 and length of the rebuilt text, bit-equal across
    engines."""
    from .operators.dedup import drop_duplicate_lines

    d = _load(spark, sf_dir, "documents")
    ws = F.filter(F.split(F.col("text"), r"\s+"),
                  lambda x: x != F.lit(""))
    nchunks = F.greatest(
        F.ceil(F.size(ws) / F.lit(_Q40_CHUNK)).cast("int"), F.lit(1))
    lined = F.concat_ws(
        "\n",
        F.transform(
            F.sequence(F.lit(0), nchunks - 1),
            lambda i: F.array_join(
                F.slice(ws, i * _Q40_CHUNK + 1, _Q40_CHUNK), " "),
        ),
    )
    docs = d.select(
        "doc_id",
        F.concat(lined, F.lit("\n"), F.lit(_Q40_BOILERPLATE)).alias("text"),
    )
    out = drop_duplicate_lines(docs)
    return out.select(
        "doc_id",
        F.md5("text").alias("text_md5"),
        F.length("text").cast("long").alias("n_chars"),
    )


# word -> entity/noun rewrites shared by q29's Spark side and oracle
_NER_REWRITES = [
    (r"\bspark\b", "Microsoft"),   # vendor gazetteer -> B-Organization
    (r"\bhash\b", "hackers"),      # person gazetteer -> B-Person
    (r"\bquery\b", "company"),     # org noun: inherits Organization
    (r"\bscan\b", "customer"),     # person noun: inherits Person
]


def q29_ner_lookback(spark, sf_dir):
    """Derived NER with J8 look-back inheritance (operators.ner:
    whitelist/BIO encoding + nouns inheriting the nearest compatible
    entity's tag) over the documents word stream, fully oracle-checked:
    the DuckDB SQL mirrors the gazetteers, BIO windows, packed-key max
    and decode bit-for-bit.  Digit-initial tokens are excluded on both
    sides so the F2 version-context rules (whose retro-writes need
    version-shaped tokens) are provably inert — the operator still
    runs its full chain."""
    from .operators.ner import with_ner

    d = _load(spark, sf_dir, "documents")
    # the synthetic corpus is entity-free word soup; map four of its
    # vocabulary words to entity/noun surfaces DETERMINISTICALLY (the
    # identical replacement chain runs in the oracle) so the look-back
    # inheritance actually exercises: Microsoft/hackers are sources,
    # company/customer are inheriting nouns
    text = F.col("text")
    for pat, rep in _NER_REWRITES:
        text = F.regexp_replace(text, pat, rep)
    words = d.select(
        "doc_id",
        F.posexplode(F.split(text, r"\s+")).alias("pos", "token"),
    )
    # exclusion filter, regex-gated like the ner module's own chains:
    # digit-initial is a one-char compare (no regex), and the v-version
    # regex can only match a surviving token if it starts with 'v'
    # (digit-initial matches are already excluded) — ungated, these two
    # rlikes ran on every one of the stream's ~10M tokens
    first = F.substring("token", 1, 1)
    toks = words.filter(
        ~first.between("0", "9")
        & ~(F.col("token").startswith("v")
            & F.col("token").rlike(r"^v+\d+\.\d+"))
    ).select(
        "doc_id", F.lit(0).alias("sent_id"),
        (F.col("pos") + 1).alias("token_id"), "token",
    )
    out = with_ner(toks)
    return out.filter(F.col("ner") != "O").select(
        "doc_id", F.col("token_id").alias("pos"), "token", "ner",
    )


# ---------------------------------------------------------------------------
# pipeline-native operators (no ANSI-SQL oracle: iterative clustering /
# Arrow-UDF stages; the driver records the weaker rows-only check)
# ---------------------------------------------------------------------------

def q25_event_coref(spark, sf_dir):
    """Per-doc agglomerative event coreference (reference weights/
    threshold link_coref.py:2041-2044) over the deterministic synth
    corpus -> cluster-size histogram.  applyInPandas per doc; not
    SQL-expressible (iterative average-linkage clustering)."""
    from .functions.text import extract_pubdate_raw
    from .operators.coref import cluster_events
    from .operators.linking import link
    from .operators.roles import assign_roles
    from .pipeline import doc_key, span_frames, tagged_tokens
    from .sources.documents import synth_documents

    docs = synth_documents(spark, 200)
    events, args = span_frames(tagged_tokens(docs, id_col="url",
                                             mode="rules"))
    linked = assign_roles(link(events, args))
    pubdates = docs.select(
        doc_key(F.col("url")).alias("doc_id"),
        extract_pubdate_raw(F.col("html").cast("string")).alias("pubdate"),
    )
    clusters = cluster_events(events, linked, pubdates=pubdates)
    sizes = clusters.groupBy("doc_id", "cluster_id").agg(F.count("*").alias("sz"))
    return sizes.groupBy("sz").agg(F.count("*").alias("n_clusters")).orderBy("sz")


def q26_canonical_graph(spark, sf_dir):
    """Full graph materialization: canonicalized edges per event
    subtype + vertex kinds (broadcast dictionary + MinHash-LSH +
    connected components; operators.canonicalize, sources.sinks).
    The summary (one row per subtype) is collected inside
    ``track_persists`` and returned as a local frame, so the graph
    build's checkpoints and edge cache are freed on return."""
    from .sources.documents import synth_documents
    from .sources.sinks import build_graph
    from .util import track_persists

    with track_persists():
        _, edges = build_graph(synth_documents(spark, 200), mode="rules")
        by_sub = edges.groupBy("event_subtype").agg(
            F.count("*").alias("n_edges"),
            F.countDistinct("obj_id").alias("n_entities"),
        ).orderBy("event_subtype")
        rows = by_sub.collect()
    return spark.createDataFrame(rows, by_sub.schema)


def q27_model_inference(spark, sf_dir):
    """Broadcast-weight pandas_udf tagging (operators.model_tagger,
    trained artifact) -> triples per subtype; exercises the M1/M2
    inference harness."""
    from .pipeline import run_pipeline
    from .sources.documents import synth_documents

    docs = synth_documents(spark, 200)
    return (
        run_pipeline(docs, mode="model")
        .groupBy("event_subtype", "realis")
        .agg(F.count("*").alias("n_triples"))
        .orderBy("event_subtype", "realis")
    )


def q28_ann_ivf(spark, sf_dir):
    """IVF ANN: fixed-seed k-means coarse quantizer, 4-of-16 cell
    probe, exact cosine rerank (operators.similarity.ivf_topk) — the
    data-adaptive scale path beside q21's hyperplane LSH.  No SQL
    oracle (k-means training); rows-only determinism check."""
    from .operators.similarity import ivf_topk

    return ivf_topk(_load(spark, sf_dir, "embeddings"), k=3, query_limit=100)


# q42/q43 knobs, shared by the Spark side and the generated oracle SQL
_Q42_BUCKETS = 512
# fractional mixture weights keyed on lang: integer part, halves,
# quarters and a sub-1.0 entry all exercised (0.5 docs can realize 0
# copies and drop)
_Q43_WEIGHTS = {"en": 1.0, "de": 2.5, "es": 0.5, "fr": 1.25, "zh": 2.0}


def q42_dsir_weights(spark, sf_dir):
    """DSIR importance scoring (corpus.dsir_logratio — Xie et al.
    2023): hashed unigram+bigram bag per doc, per-bucket
    log10(p_target/p_raw) with target = the English slice, per-doc
    mean log-ratio and a keep flag at threshold 0.  The bucket
    distributions are one conditional-sum aggregate to 512 rows; the
    score table broadcasts back into the gram stream; the only
    data-scale exchange is the final per-doc mean."""
    from .corpus import dsir_logratio

    d = _load(spark, sf_dir, "documents")
    return dsir_logratio(d, F.col("lang") == "en", n_buckets=_Q42_BUCKETS)


def q43_upsample_epochs(spark, sf_dir):
    """Deterministic fractional upsampling (corpus.upsample_epochs —
    the 'N epochs of source X' mixture rule): floor(w) copies plus a
    hash-threshold extra for the fractional part, weights keyed on
    lang.  Map-only — the plan gate asserts zero exchanges at any
    corpus size."""
    from .corpus import upsample_epochs

    d = _load(spark, sf_dir, "documents")
    wt = F.lit(None).cast("double")
    for lang, w in _Q43_WEIGHTS.items():
        wt = F.when(F.col("lang") == lang, float(w)).otherwise(wt)
    return upsample_epochs(d, wt).select(
        "doc_id", "lang", "n_copies", "epoch")


_Q44_CHUNK = 12


def _q44_synth_lines(d):
    """Deterministic line synthesis for q44 (the corpus has no line
    structure or punctuation): 12-token chunks like q40, each chunk
    decorated by its own hash16 — %3 picks the terminal mark ('.', '?'
    or none) and %5==0 prepends 'javascript ' — plus page-level plants
    ('Lorem Ipsum' filler on doc_id%11, a curly-brace code line on
    doc_id%13).  Identical arithmetic runs in the DuckDB oracle."""
    from .functions.textstats import hash16

    ws = F.filter(F.split(F.col("text"), r"\s+"),
                  lambda x: x != F.lit(""))
    nchunks = F.greatest(
        F.ceil(F.size(ws) / F.lit(_Q44_CHUNK)).cast("int"), F.lit(1))

    def mk(i):
        chunk = F.array_join(F.slice(ws, i * _Q44_CHUNK + 1, _Q44_CHUNK), " ")
        h = hash16(chunk)
        return F.concat(
            F.when(h % 5 == 0, F.lit("javascript ")).otherwise(F.lit("")),
            chunk,
            F.when(h % 3 == 0, F.lit("."))
            .when(h % 3 == 1, F.lit("?")).otherwise(F.lit("")))

    lined = F.concat_ws("\n", F.transform(F.sequence(F.lit(0), nchunks - 1),
                                          mk))
    txt = F.concat(
        lined,
        F.when(F.col("doc_id") % 11 == 0,
               F.lit("\nthis filler is Lorem Ipsum text.")).otherwise(F.lit("")),
        F.when(F.col("doc_id") % 13 == 0,
               F.lit("\nfunction() { return; }")).otherwise(F.lit("")))
    return d.select("doc_id", txt.alias("text"))


def q44_c4_line_clean(spark, sf_dir):
    """C4 line-level cleaning (textstats.c4_clean_lines — Raffel et
    al. 2020 §2.2): keep lines ending in terminal punctuation with
    >= 5 words and no 'javascript'; drop pages with < 3 surviving
    lines or containing 'lorem ipsum' / '{'.  MAP-ONLY — the plan gate
    asserts zero exchanges.  Result: per surviving doc, kept-line
    count + md5/length of the rebuilt text, bit-equal across
    engines."""
    from .functions.textstats import c4_clean_lines

    docs = _q44_synth_lines(_load(spark, sf_dir, "documents"))
    out = c4_clean_lines(docs)
    return out.select(
        "doc_id", "n_lines_kept",
        F.md5("text").alias("text_md5"),
        F.length("text").cast("long").alias("n_chars"))


def q47_temperature_mix(spark, sf_dir):
    """Temperature-based mixture resampling (corpus.temperature_weights
    composed with corpus.upsample_epochs — the multilingual p^alpha
    sampling rule of mBERT/XLM-R/mT5 at alpha=0.5): per-lang expected
    copy counts that flatten the language distribution while
    preserving total corpus size, realized as deterministic epoch
    copies.  One groups-scale aggregate + broadcast join back; the
    realization is map-only."""
    from .corpus import temperature_weights, upsample_epochs

    d = _load(spark, sf_dir, "documents").select("doc_id", "lang")
    wtd = temperature_weights(d, "lang", alpha=0.5)
    return upsample_epochs(wtd, F.col("weight")).select(
        "doc_id", "lang", "weight", "n_copies", "epoch")


def q48_warc_roundtrip(spark, sf_dir):
    """WARC/WET ingest round trip (sources.warc): render every doc as
    a WET conversion record (format_warc) and parse it back with the
    column-op parser (parse_warc_records) — target URI, record type,
    byte-accurate Content-Length, payload intact.  MAP-ONLY string
    ops; the file-level lineSep record splitting is exercised in
    test_warc.py (the oracle contract has no file surface)."""
    from .sources.warc import format_warc, parse_warc_records

    d = _load(spark, sf_dir, "documents").select(
        "doc_id", "text",
        F.concat(F.lit("https://"), F.col("source"),
                 F.lit(".example.org/doc/"),
                 F.col("doc_id").cast("string")).alias("url"))
    parsed = parse_warc_records(format_warc(d))
    return parsed.select(
        "doc_id", "target_uri", "warc_type", "content_length",
        F.md5("payload").alias("payload_md5"),
        (F.col("payload") == F.col("text")).alias("ok"))


# q51 robots template: exercises comments, a non-star section (must be
# ignored), consecutive UA lines sharing a record, an empty Disallow,
# longest-match Allow-over-Disallow, and a hash-conditional extra rule
_Q51_ROBOTS = ("# crawler policy\n"
               "User-agent: badbot\n"
               "Disallow: /\n"
               "\n"
               "User-agent: otherbot\n"
               "User-agent: *\n"
               "Disallow: /private\n"
               "Allow: /private/ok\n"
               "Disallow:")


def q51_robots_gate(spark, sf_dir):
    """robots.txt crawl gate (functions.robots.apply_robots): per-host
    robots bodies parsed into User-agent:* rules (one posexplode + one
    per-host window), urls matched by longest path prefix with
    Allow-wins ties (Google REP), unknown hosts default allowed.
    Hosts/paths/robots are synthesized deterministically; hosts with
    even hash16 carry an extra '/tmp' Disallow so the rule set is
    host-dependent."""
    from .functions.robots import apply_robots
    from .functions.textstats import hash16

    d = _load(spark, sf_dir, "documents")
    host = F.concat(F.col("source"), F.lit(".example.org"))
    ids = F.col("doc_id").cast("string")
    m = F.col("doc_id") % 5
    path = (F.when(m == 0, F.concat(F.lit("/doc/"), ids))
            .when(m == 1, F.concat(F.lit("/private/doc/"), ids))
            .when(m == 2, F.concat(F.lit("/private/ok/"), ids))
            .when(m == 3, F.concat(F.lit("/tmp/"), ids))
            .otherwise(F.lit("")))
    urls = d.select(
        "doc_id", F.concat(F.lit("https://"), host, path).alias("url"))
    robots = (d.select(host.alias("host")).distinct()
              .withColumn("robots_txt", F.concat(
                  F.lit(_Q51_ROBOTS),
                  F.when(hash16(F.col("host")) % 2 == 0,
                         F.lit("\nDisallow: /tmp")).otherwise(F.lit("")))))
    return (apply_robots(urls, robots)
            .select("doc_id", "url", "crawl_allowed"))


_Q52_CHUNK = 15


def q52_html_extract(spark, sf_dir):
    """HTML -> text extraction (functions.text.html_to_text — the
    crawl-chain step between WARC ingest and the hygiene gates):
    script/style/comment removal, block-boundary line breaks, tag
    stripping, entity decoding, whitespace normalization, as a pure
    regexp chain (RE2/Java-shared).  Each doc's text is wrapped into a
    deterministic HTML page (head with script+style, h1 title,
    15-token <p> blocks, a comment, &amp;/&nbsp; entities) and the
    extraction is md5-verified against the identical DuckDB chain."""
    from .functions.text import html_to_text

    d = _load(spark, sf_dir, "documents")
    ws = F.filter(F.split(F.col("text"), r"\s+"),
                  lambda x: x != F.lit(""))
    nchunks = F.greatest(
        F.ceil(F.size(ws) / F.lit(_Q52_CHUNK)).cast("int"), F.lit(1))
    paras = F.concat_ws(
        "",
        F.transform(
            F.sequence(F.lit(0), nchunks - 1),
            lambda i: F.concat(
                F.lit("<p>"),
                F.array_join(F.slice(ws, i * _Q52_CHUNK + 1, _Q52_CHUNK),
                             " "),
                F.lit("</p>"))))
    html = F.concat(
        F.lit("<html><head><title>doc</title><script>var x=1;</script>"
              "<style>.c{color:red}</style></head><body><h1>Doc "),
        F.col("doc_id").cast("string"),
        F.lit("</h1>"), paras,
        F.lit("<!-- footer --><div>tags &amp; entities&nbsp;here</div>"
              "</body></html>"))
    out = d.select("doc_id", html_to_text(html).alias("text"))
    return out.select(
        "doc_id", F.md5("text").alias("text_md5"),
        F.length("text").cast("long").alias("n_chars"),
        (F.size(F.split(F.col("text"), "\n", -1))).alias("n_lines"))


def q50_pack_sequences(spark, sf_dir):
    """Fixed-length sequence packing with doc boundaries
    (corpus.pack_sequences — the GPT-style pack-then-chunk recipe
    after q41's sharding): per-shard md5-ordered token stream cut into
    back-to-back 256-token sequences, one row per (sequence, doc
    segment).  One prefix-sum window exchange + a bounded explode;
    integer-exact end to end."""
    from .corpus import pack_sequences

    d = _load(spark, sf_dir, "documents")
    return pack_sequences(d, seq_len=256, n_shards=8)


def q49_semantic_dedup(spark, sf_dir):
    """SemDeDup (dedup.semantic_dedup — Abbas et al. 2023): k-means
    cells bound the pairwise-cosine quadratic, duplicate groups close
    into components, one survivor (min id) per group.  Rows-only (the
    quantizer is iterative k-means, not SQL-expressible — same
    contract as q25–q28); its own gates live in
    test_dedup_similarity.py (planted-group survivorship, partition
    invariance, n_cells=1 brute-force differential)."""
    from .operators.dedup import semantic_dedup

    return semantic_dedup(_load(spark, sf_dir, "embeddings"),
                          threshold=0.4, n_cells=16)


# q53 query set: fixed multi-term queries over the corpus vocabulary;
# the same literals render into the oracle's VALUES list, so both
# engines score the identical term sets
_Q53_QUERIES: list[tuple[int, str]] = [
    (1, "hash join merge"),
    (2, "window sort order"),
    (3, "spark table scan batch"),
    (4, "vector column stream"),
    (5, "customer filter query"),
]


def q53_bm25_topk(spark, sf_dir):
    """Inverted-index BM25 top-k lexical retrieval
    (operators/retrieval.py — the lexical twin of the q14/q21/q28
    embedding searches): postings built with one (term, doc)-keyed
    shuffle, corpus stats (N, avgdl) and document frequencies derived
    from the postings frame, query terms broadcast onto the posting
    lists, per-query top-10 by rounded BM25 with doc_id tie-break.
    All JVM expressions; the oracle rebuilds the identical index and
    scoring in DuckDB CTEs."""
    from .operators.retrieval import bm25_topk

    d = _load(spark, sf_dir, "documents")
    queries = spark.createDataFrame(_Q53_QUERIES, "query_id int, qtext string")
    return bm25_topk(d, queries, k=10)


def q54_bpe_merges(spark, sf_dir):
    """Distributed BPE tokenizer training (operators/bpe.py — Sennrich
    et al. 2016): corpus -> (word, count) vocabulary in one
    token-scale shuffle, then 30 merge rounds of global pair-count agg
    + 1-row argmax + JVM regexp merge with per-round truncate
    barriers.  Rows-only by contract (the merge sequence is an
    iterative argmax, not SQL-expressible — the q25–q28 precedent);
    its own gate is the pure-Python sequential-BPE differential +
    hypothesis properties in tests/test_bpe.py."""
    from .operators.bpe import learn_bpe

    return learn_bpe(_load(spark, sf_dir, "documents"), n_merges=30)


def _q45_edges(d):
    """Deterministic KG-shaped edge synthesis (the corpus has no graph
    structure): vertices are word bigrams, edges connect consecutive
    bigrams — a co-occurrence graph whose vertex/edge counts grow with
    the vocabulary, not the corpus.  Built LINEARLY as posexplode +
    lead window on the doc_id partitioning (the repetition_columns
    shape — a nested transform/element_at form re-evaluates the inner
    array per element, O(n^3) per doc, measured 158 s vs 3 s at
    sf0.01).  Identical lead-window construction runs in the oracle."""
    w = Window.partitionBy("doc_id").orderBy("pos")
    ws = F.filter(F.split(F.lower(F.col("text")), r"\s+"),
                  lambda x: x != F.lit(""))
    toks = d.select("doc_id", F.posexplode(ws).alias("pos", "w"))
    g = (toks.withColumn("w1", F.lead("w", 1).over(w))
         .withColumn("w2", F.lead("w", 2).over(w)))
    return (g.filter(F.col("w2").isNotNull())
            .select(F.concat_ws("_", "w", "w1").alias("src"),
                    F.concat_ws("_", "w1", "w2").alias("dst"))
            .distinct())


def q45_khop_neighbors(spark, sf_dir):
    """k-hop neighborhood query over the synthesized co-occurrence
    graph (graph.k_hop — frontier BFS with truncate barriers per hop):
    min-hop distance within 3 directed hops from the hash-selected
    seed set (hash16(src) % 37 == 0).  The oracle unrolls the same BFS
    as three join stages."""
    from .functions.textstats import hash16
    from .operators.graph import k_hop

    e = _q45_edges(_load(spark, sf_dir, "documents"))
    seeds = (e.select(F.col("src").alias("v")).distinct()
             .filter(hash16(F.col("v")) % 37 == 0))
    return k_hop(e, seeds, k=3).select("v", "hop")


def q46_pagerank(spark, sf_dir):
    """Fixed-iteration PageRank over the same synthesized graph
    (graph.pagerank — power iteration as join+groupBy, dangling mass
    redistributed via a 1-row broadcast aggregate, ranks truncated per
    iteration).  5 iterations, damping 0.85, round-6 (cross-engine
    float rule); the oracle unrolls the five iterations as CTE
    stages."""
    from .operators.graph import pagerank

    e = _q45_edges(_load(spark, sf_dir, "documents"))
    return pagerank(e, iters=5).select("v", "pr")


def q55_triangle_counts(spark, sf_dir):
    """Per-vertex triangle counts over the q45 co-occurrence graph
    (graph.triangle_counts — degree-ordered orientation, each triangle
    enumerated once; the wedge join is bounded O(sqrt(m)) per vertex
    so power-law hubs cannot explode it).  The oracle enumerates the
    identical triangle set with the naive id ordering — the set is
    orientation-invariant, only the intermediate join sizes differ."""
    from .operators.graph import triangle_counts

    e = _q45_edges(_load(spark, sf_dir, "documents"))
    return triangle_counts(e)


def q56_negative_samples(spark, sf_dir):
    """Filtered tail-corruption negatives over the q45 graph
    (graph.negative_samples — the Bordes et al. 2013 corrupted-triple
    training-pair generator, hash-deterministic so shards regenerate
    identically on resume): dense entity index, md5-indexed tail
    replacement, anti-join filter against the positive set.  The
    oracle replays the identical index, hash and filter in DuckDB."""
    from .operators.graph import negative_samples

    e = _q45_edges(_load(spark, sf_dir, "documents"))
    return negative_samples(e, n_neg=3)


def q57_leakage_split(spark, sf_dir):
    """Leakage-safe train/val/test assignment
    (corpus.leakage_safe_split): split at near-dup-COMPONENT
    granularity — every near-duplicate of a page lands on the same
    side of the train/eval fence by construction, closing the
    contamination mode q34 measures after the fact.  The oracle
    replays the q36 recursive-CTE closure + the hash16 bucket rule."""
    from .corpus import leakage_safe_split

    return leakage_safe_split(_load(spark, sf_dir, "documents"))


def q58_kmv_cardinality(spark, sf_dir):
    """Distinct-bigram cardinality per source via a KMV bottom-k
    sketch (textstats.kmv_cardinality — Bar-Yossef et al. 2002), the
    estimate reported NEXT TO the exact count so the error is
    self-auditing; both columns deterministic, so the whole sketch is
    hash-checked against DuckDB (unlike HLL register blobs).  The
    production swap to approx_count_distinct (HLL++, map-combinable)
    is gated in tests/test_textstats.py on the same frame."""
    from .functions.textstats import kmv_cardinality

    return kmv_cardinality(_load(spark, sf_dir, "documents"),
                           k=64, ngram=2)


def q59_label_propagation(spark, sf_dir):
    """Community detection over the q45 graph
    (graph.label_propagation — the deterministic synchronous LPA
    variant: most-frequent neighbor label, min-label ties, fixed 4
    iterations).  The oracle unrolls the iterations as CTE stages
    (the q46 pattern); integer counts only, so no float contract is
    needed."""
    from .operators.graph import label_propagation

    e = _q45_edges(_load(spark, sf_dir, "documents"))
    return label_propagation(e, iters=4)


def q60_adamic_adar(spark, sf_dir):
    """Adamic-Adar link prediction over the q45 graph
    (graph.adamic_adar): top-100 non-adjacent distance-2 pairs by
    sum(1/ln(deg(z))) over common neighbors — the heuristic ranker
    the q56 negatives train against.  Rounded-then-ranked with (a, b)
    tie-breaks; the oracle replays the wedge join, anti-join and
    ranking."""
    from .operators.graph import adamic_adar

    e = _q45_edges(_load(spark, sf_dir, "documents"))
    return adamic_adar(e, k=100)


def q61_length_quantiles(spark, sf_dir):
    """Per-language token-count quantile audit (corpus QA: sequence-
    length budgeting for the q50 packer needs the length distribution,
    not just q10's mean/max).  EXACT percentiles here (both engines
    share the 1 + p*(n-1) interpolation rule), oracle-checked;
    the scale knob is `approx_percentile` (GK sketch, map-combinable,
    no per-group value buffer), gated against the exact answer in
    tests/test_textstats.py on the same frame — the q58 pattern."""
    d = _load(spark, sf_dir, "documents")
    nt = F.size(F.filter(F.split(F.col("text"), r"\s+"),
                         lambda x: x != F.lit("")))
    pct = F.expr(
        "percentile(nt, array(0.25D, 0.5D, 0.75D, 0.9D))")
    return (d.select("lang", nt.alias("nt"))
            .groupBy("lang")
            .agg(F.count("*").alias("n_docs"), pct.alias("p"))
            .select("lang", "n_docs",
                    F.round(F.col("p")[0], 4).alias("p25"),
                    F.round(F.col("p")[1], 4).alias("p50"),
                    F.round(F.col("p")[2], 4).alias("p75"),
                    F.round(F.col("p")[3], 4).alias("p90")))


def q62_range_join(spark, sf_dir):
    """Bucketed range join (operators/rangejoin.py): every 20th event
    opens a 2-hour incident window on its user; ALL of the user's
    events inside the window attach to it — resolved as a
    (key, hour-bucket) EQUI-join + bounded interval explode + exact
    containment filter, never the O(points x intervals-per-key)
    inequality join the naive form plans (the as-of q07 lesson,
    applied to full interval containment).  Integer epoch seconds end
    to end; the oracle states the same join naively in DuckDB."""
    from .operators.rangejoin import bucketed_interval_join

    e = _load(spark, sf_dir, "events")
    pts = e.select("event_id", "user_id",
                   F.unix_timestamp("ts").alias("ts_s"))
    iv = (pts.filter(F.col("event_id") % 20 == 0)
          .select("user_id", F.col("event_id").alias("incident_id"),
                  F.col("ts_s").alias("start_s"),
                  (F.col("ts_s") + 7200).alias("end_s")))
    j = bucketed_interval_join(pts, iv, bucket_secs=3600)
    return j.select(
        "event_id", "incident_id",
        (F.col("ts_s") - F.col("start_s")).alias("secs_since"))


def q63_crawl_delta(spark, sf_dir):
    """Incremental crawl-snapshot delta — the step an Iceberg-backed
    corpus runs between two crawl rounds to process ONLY what moved:
    full-outer join of snapshot A and B on doc_id, content-hash
    compare, one row per doc with status
    added/removed/changed/unchanged.  Snapshot B is a deterministic
    perturbation of A (every 7th doc dropped, every 5th surviving doc
    re-extracted with a marker token, a shifted id range added), so
    every branch is exercised; the oracle states the identical
    full-outer + CASE in DuckDB.  Scale shape: one id-keyed full-outer
    join; hashes computed per side BEFORE the join so text never
    crosses the shuffle twice."""
    d = _load(spark, sf_dir, "documents")
    a = d.select("doc_id", F.md5("text").alias("h_a"))
    b_mod = (d.filter(F.col("doc_id") % 7 != 0)
             .select("doc_id",
                     F.md5(F.when(F.col("doc_id") % 5 == 0,
                                  F.concat(F.col("text"),
                                           F.lit(" refreshed")))
                           .otherwise(F.col("text"))).alias("h_b")))
    b_new = d.select((F.col("doc_id") + 1_000_000).alias("doc_id"),
                     F.md5("text").alias("h_b")).filter(
        F.col("doc_id") % 3 == 0)
    b = b_mod.unionByName(b_new)
    j = a.join(b, "doc_id", "full_outer")
    status = (F.when(F.col("h_a").isNull(), F.lit("added"))
              .when(F.col("h_b").isNull(), F.lit("removed"))
              .when(F.col("h_a") == F.col("h_b"), F.lit("unchanged"))
              .otherwise(F.lit("changed")))
    return j.select("doc_id", status.alias("status"))


def q64_weighted_sample(spark, sf_dir):
    """Weighted sampling without replacement
    (corpus.weighted_sample — Efraimidis-Spirakis exponential keys,
    md5-derived randomness): top-100 docs by ln(u)/n_chars key.
    Map-only + TakeOrdered; the oracle replays hash, key and rank."""
    from .corpus import weighted_sample

    return weighted_sample(_load(spark, sf_dir, "documents"), k=100)


def q65_shard_checksums(spark, sf_dir):
    """Order-insensitive shard integrity checksums
    (corpus.shard_checksums): sum-of-row-hashes per q41-style shard —
    the audit a resumable sink runs after a crash-window replay.
    Map-only + one n_shards-key agg; the oracle replays the identical
    hash and sum."""
    from .corpus import shard_checksums

    return shard_checksums(_load(spark, sf_dir, "documents"), n_shards=8)


QUERIES = {
    "q01_pricing_summary": q01_pricing_summary,
    "q02_revenue_by_nation": q02_revenue_by_nation,
    "q03_order_priority": q03_order_priority,
    "q04_running_total": q04_running_total,
    "q05_topk_per_group": q05_topk_per_group,
    "q06_sessionize": q06_sessionize,
    "q07_asof_join": q07_asof_join,
    "q08_cve_extract": q08_cve_extract,
    "q09_exact_dedup": q09_exact_dedup,
    "q10_token_stats": q10_token_stats,
    "q11_quality_scores": q11_quality_scores,
    "q12_lang_dist": q12_lang_dist,
    "q13_minhash_bands": q13_minhash_bands,
    "q14_embedding_knn": q14_embedding_knn,
    "q15_rollup": q15_rollup,
    "q16_event_windows": q16_event_windows,
    "q17_span_assembly": q17_span_assembly,
    "q18_simhash": q18_simhash,
    "q19_ngram_jaccard": q19_ngram_jaccard,
    "q20_embedding_neardup": q20_embedding_neardup,
    "q21_ann_lsh": q21_ann_lsh,
    "q22_langid": q22_langid,
    "q23_fingerprints": q23_fingerprints,
    "q24_multimodal_meta": q24_multimodal_meta,
    "q25_event_coref": q25_event_coref,
    "q26_canonical_graph": q26_canonical_graph,
    "q27_model_inference": q27_model_inference,
    "q28_ann_ivf": q28_ann_ivf,
    "q29_ner_lookback": q29_ner_lookback,
    "q30_source_quota": q30_source_quota,
    "q31_repetition": q31_repetition,
    "q32_pii_redaction": q32_pii_redaction,
    "q33_substring_dedup": q33_substring_dedup,
    "q34_decontaminate": q34_decontaminate,
    "q35_unigram_logprob": q35_unigram_logprob,
    "q36_neardup_clusters": q36_neardup_clusters,
    "q37_url_dedup": q37_url_dedup,
    "q38_host_blocklist": q38_host_blocklist,
    "q39_corpus_hygiene": q39_corpus_hygiene,
    "q40_line_dedup": q40_line_dedup,
    "q41_token_shards": q41_token_shards,
    "q42_dsir_weights": q42_dsir_weights,
    "q43_upsample_epochs": q43_upsample_epochs,
    "q44_c4_line_clean": q44_c4_line_clean,
    "q45_khop_neighbors": q45_khop_neighbors,
    "q46_pagerank": q46_pagerank,
    "q47_temperature_mix": q47_temperature_mix,
    "q48_warc_roundtrip": q48_warc_roundtrip,
    "q49_semantic_dedup": q49_semantic_dedup,
    "q50_pack_sequences": q50_pack_sequences,
    "q51_robots_gate": q51_robots_gate,
    "q52_html_extract": q52_html_extract,
    "q53_bm25_topk": q53_bm25_topk,
    "q54_bpe_merges": q54_bpe_merges,
    "q55_triangle_counts": q55_triangle_counts,
    "q56_negative_samples": q56_negative_samples,
    "q57_leakage_split": q57_leakage_split,
    "q58_kmv_cardinality": q58_kmv_cardinality,
    "q59_label_propagation": q59_label_propagation,
    "q60_adamic_adar": q60_adamic_adar,
    "q61_length_quantiles": q61_length_quantiles,
    "q62_range_join": q62_range_join,
    "q63_crawl_delta": q63_crawl_delta,
    "q64_weighted_sample": q64_weighted_sample,
    "q65_shard_checksums": q65_shard_checksums,
}


def _simhash_oracle() -> str:
    from .functions.textstats import hash16_sql
    from .operators.dedup import SIMHASH_BITS

    h = hash16_sql("w")
    votes = ",\n                   ".join(
        f"sum(CASE WHEN ({h} >> {i}) & 1 = 1 THEN 1 ELSE -1 END) AS v{i}"
        for i in range(SIMHASH_BITS)
    )
    combine = " + ".join(
        f"(CASE WHEN v{i} > 0 THEN {1 << i} ELSE 0 END)"
        for i in range(SIMHASH_BITS)
    )
    return f"""
        WITH words AS (
            SELECT doc_id, unnest(regexp_split_to_array(text, '\\s+')) AS w
            FROM documents
        ), votes AS (
            SELECT doc_id,
                   {votes}
            FROM words GROUP BY doc_id
        ), sig AS (
            SELECT doc_id, {combine} AS simhash FROM votes
        )
        SELECT doc_id, simhash, simhash >> 8 AS band_hi,
               simhash & 255 AS band_lo
        FROM sig
    """


def _ngram_jaccard_oracle() -> str:
    return """
        WITH words AS (
            SELECT doc_id,
                   unnest(regexp_split_to_array(text, '\\s+')) AS w,
                   generate_subscripts(regexp_split_to_array(text, '\\s+'), 1) AS pos
            FROM documents
        ), sh AS (
            SELECT DISTINCT doc_id,
                   w || ' ' || lead(w, 1) OVER win || ' ' || lead(w, 2) OVER win AS shingle
            FROM words WINDOW win AS (PARTITION BY doc_id ORDER BY pos)
            QUALIFY lead(w, 2) OVER win IS NOT NULL
        ), sizes AS (
            SELECT doc_id, count(*) AS n_sh FROM sh GROUP BY doc_id
        ), sig AS (
            SELECT doc_id,
                   min(md5('0|' || shingle)) AS minh0,
                   min(md5('1|' || shingle)) AS minh1,
                   min(md5('2|' || shingle)) AS minh2,
                   min(md5('3|' || shingle)) AS minh3
            FROM sh GROUP BY doc_id
        ), buckets AS (
            -- mirrors minhash_candidate_pairs' max_bucket=1000 skew
            -- guard: over-full buckets are dropped before pairing
            SELECT doc_id, band, bucket FROM (
                SELECT doc_id, 0 AS band, minh0 AS bucket FROM sig
                UNION ALL SELECT doc_id, 1, minh1 FROM sig
                UNION ALL SELECT doc_id, 2, minh2 FROM sig
                UNION ALL SELECT doc_id, 3, minh3 FROM sig
            ) u QUALIFY count(*) OVER (PARTITION BY band, bucket) <= 1000
        ), cand AS (
            SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
            FROM buckets a JOIN buckets b
              ON a.band = b.band AND a.bucket = b.bucket AND a.doc_id < b.doc_id
        ), inter AS (
            SELECT c.doc_a, c.doc_b, count(*) AS n_inter
            FROM cand c
            JOIN sh sa ON sa.doc_id = c.doc_a
            JOIN sh sb ON sb.doc_id = c.doc_b AND sb.shingle = sa.shingle
            GROUP BY c.doc_a, c.doc_b
        )
        SELECT c.doc_a, c.doc_b,
               round(coalesce(i.n_inter, 0)
                     / (za.n_sh + zb.n_sh - coalesce(i.n_inter, 0)), 4) AS jaccard
        FROM cand c
        LEFT JOIN inter i ON i.doc_a = c.doc_a AND i.doc_b = c.doc_b
        JOIN sizes za ON za.doc_id = c.doc_a
        JOIN sizes zb ON zb.doc_id = c.doc_b
    """


def _ner_lookback_oracle() -> str:
    """DuckDB mirror of q29: every gazetteer / whitelist / packed-key
    constant is generated from the SAME Python lists the operator
    uses, so the two engines cannot drift."""
    from .functions.singular import singular_noun
    from .operators.ner import _COMPAT_GROUPS
    from .operators.tagging import (
        _MONTHS,
        _PERSON_GAZ,
        _SYSTEM_GAZ,
        _VENDOR_GAZ,
    )
    from . import config

    def inlist(vals):
        return ", ".join("'" + v.replace("'", "''") + "'" for v in vals)

    weekdays = ["monday", "tuesday", "wednesday", "thursday", "friday",
                "saturday", "sunday"]
    dates = inlist(_MONTHS + weekdays)
    types = sorted({t for _, _, ts in _COMPAT_GROUPS for t in ts})
    type_code = " ".join(
        f"WHEN substr(ner1, 3) = '{t}' THEN {i}" for i, t in enumerate(types))
    group_key = "\n            ".join(
        f"max(CASE WHEN substr(ner1, 3) IN ({inlist(ts)}) AND code IS NOT NULL"
        f" THEN pos_key + code END) OVER (PARTITION BY doc_id) AS best_{g},"
        for g, _ns, ts in _COMPAT_GROUPS)
    grp = " ".join(
        f"WHEN w IN ({inlist(sorted(set(ns)))}) THEN '{g}'"
        for g, ns, _ts in _COMPAT_GROUPS)
    plural_forms = sorted({
        w for _, ns, _ in _COMPAT_GROUPS for w in ns
        if singular_noun(w) is not False})

    def decode(g):
        names = " ".join(
            f"WHEN (best_{g} % 128) // 2 = {i} THEN '{t}'"
            for i, t in enumerate(types))
        return (f"(CASE WHEN (best_{g} % 128) % 2 = 1 THEN 'I-' ELSE 'B-' "
                f"END) || (CASE {names} END)")

    inherit = " ".join(
        f"WHEN grp = '{g}' AND best_{g} IS NOT NULL THEN {decode(g)}"
        for g, _ns, _ts in _COMPAT_GROUPS)
    # DuckDB string literals are verbatim (no backslash escaping), so
    # the regex patterns embed as-is
    text_expr = "text"
    for pat, rep in _NER_REWRITES:
        text_expr = f"regexp_replace({text_expr}, '{pat}', '{rep}', 'g')"
    return f"""
        WITH rewritten AS (
            SELECT doc_id, {text_expr} AS text FROM documents
        ), words AS (
            SELECT doc_id,
                   unnest(regexp_split_to_array(text, '\\s+')) AS w,
                   generate_subscripts(regexp_split_to_array(text, '\\s+'), 1) AS pos
            FROM rewritten
        ), toks AS (
            SELECT doc_id, w, pos FROM words
            WHERE NOT regexp_matches(w, '^v*[0-9]+\\.[0-9]+')
              AND NOT regexp_matches(w, '^[0-9]')
        ), raw AS (
            SELECT doc_id, pos, w,
                CASE
                    WHEN regexp_matches(w, '^CVE-[0-9]+-[0-9]+$') THEN 'CVE'
                    WHEN regexp_matches(w, '^https?://') OR regexp_matches(w, '^www\\.') THEN 'URL'
                    WHEN regexp_matches(w, '^[^@\\s]+@[^@\\s]+\\.[^@\\s]+$') THEN 'EMAIL'
                    WHEN regexp_matches(w, '^\\$[0-9]') THEN 'MONEY'
                    WHEN lower(w) IN ({dates}) THEN 'DATE'
                    WHEN lower(w) IN ({inlist(_VENDOR_GAZ)}) THEN 'ORGANIZATION'
                    WHEN lower(w) IN ({inlist(_SYSTEM_GAZ)}) THEN 'SOFTWARE'
                    WHEN lower(w) IN ({inlist(_PERSON_GAZ)}) THEN 'PERSON'
                    ELSE 'O' END AS r
            FROM toks
        ), bio AS (
            SELECT doc_id, pos, w,
                CASE WHEN r = 'O' OR r NOT IN ({inlist(config.NER_WHITELIST)}) THEN 'O'
                     WHEN lag(r) OVER win IS NOT NULL AND lag(r) OVER win <> 'O'
                          AND lag(r) OVER win IN ({inlist(config.NER_WHITELIST)})
                          AND lower(lag(r) OVER win) = lower(r)
                        THEN 'I-' || upper(substr(r, 1, 1)) || lower(substr(r, 2))
                     ELSE 'B-' || upper(substr(r, 1, 1)) || lower(substr(r, 2))
                END AS ner1
            FROM raw WINDOW win AS (PARTITION BY doc_id ORDER BY pos)
        ), keyed AS (
            SELECT *,
                (CASE {type_code} END) * 2
                    + (CASE WHEN ner1 LIKE 'I-%' THEN 1 ELSE 0 END) AS code,
                ((1 << 20) - 1 - least(pos, (1 << 20) - 1)) * 128 AS pos_key
            FROM bio
        ), bested AS (
            SELECT doc_id, pos, w, ner1,
            {group_key}
                CASE {grp} END AS grp,
                w IN ({inlist(plural_forms)}) AS plural
            FROM keyed
        ), final AS (
            SELECT doc_id, pos, w AS token,
                CASE WHEN ner1 = 'O' AND NOT coalesce(plural, FALSE)
                          AND (CASE {inherit} END) IS NOT NULL
                     THEN (CASE {inherit} END)
                     ELSE ner1 END AS ner
            FROM bested
        )
        SELECT doc_id, pos, token, ner FROM final WHERE ner <> 'O'
    """


def _pii_redaction_oracle() -> str:
    """DuckDB mirror of q32: identical inject -> count -> redact chain
    generated from the same pattern constants."""
    from .functions.redact import _RULES

    text_expr = "text"
    for pat, rep in _PII_REWRITES:
        text_expr = f"regexp_replace({text_expr}, '{pat}', '{rep}', 'g')"
    stages, counts = [], []
    cur = "s0"
    stages.append(f"s0 AS (SELECT doc_id, {text_expr} AS t FROM documents "
                  f"WHERE doc_id < 100)")
    for i, (placeholder, pat, cname) in enumerate(_RULES):
        nxt = f"s{i + 1}"
        cols = [
            "doc_id",
            f"length(regexp_extract_all(t, '{pat}')) AS {cname}",
            f"regexp_replace(t, '{pat}', '{placeholder}', 'g') AS t",
            *(c for _, _, c in _RULES[:i]),
        ]
        stages.append(f"{nxt} AS (SELECT {', '.join(cols)} FROM {cur})")
        cur = nxt
    with_clause = ",\n        ".join(stages)
    return f"""
        WITH {with_clause}
        SELECT doc_id, n_emails, n_ips, n_phones, md5(t) AS redacted_md5
        FROM {cur}
    """


def _source_quota_oracle() -> str:
    """DuckDB mirror of q30: the same md5-hash16 threshold per source,
    thresholds generated from the same _QUOTAS dict."""
    from .functions.textstats import hash16_sql

    h = hash16_sql("source || '|' || CAST(doc_id AS VARCHAR)")
    cases = " ".join(
        f"WHEN source = '{s}' THEN {int(q * (1 << 16))}"
        for s, q in sorted(_QUOTAS.items()))
    return f"""
        SELECT source, count(*) AS n_kept,
               CAST(sum(doc_id) AS BIGINT) AS id_checksum
        FROM documents
        WHERE {h} < (CASE {cases} ELSE {int(_DEFAULT_QUOTA * (1 << 16))} END)
        GROUP BY source
    """


def _ann_lsh_oracle() -> str:
    from .operators.similarity import (
        DEFAULT_PLANES,
        DEFAULT_TABLES,
        hyperplane_literals,
    )

    planes = hyperplane_literals(DEFAULT_TABLES * DEFAULT_PLANES)
    buckets = []
    for t in range(DEFAULT_TABLES):
        expr = " + ".join(
            f"(CASE WHEN list_dot_product(embedding::DOUBLE[], "
            f"{planes[t * DEFAULT_PLANES + p]}) > 0 THEN {1 << p} ELSE 0 END)"
            for p in range(DEFAULT_PLANES)
        )
        buckets.append(f"{expr} AS bucket{t}")
    bucket_cols = ",\n                   ".join(buckets)
    unions = "\n            UNION ALL ".join(
        f"SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id "
        f"FROM sig q JOIN sig c ON q.bucket{t} = c.bucket{t} "
        f"WHERE q.vec_id < 100 AND q.vec_id <> c.vec_id"
        for t in range(DEFAULT_TABLES)
    )
    return f"""
        WITH sig AS (
            SELECT vec_id,
                   {bucket_cols}
            FROM embeddings
        ), cand AS (
            SELECT DISTINCT query_id, neighbor_id FROM (
            {unions}
            )
        ), scored AS (
            SELECT cand.query_id, cand.neighbor_id,
                   round(list_dot_product(q.embedding::DOUBLE[], c.embedding::DOUBLE[])
                         / (sqrt(list_dot_product(q.embedding::DOUBLE[], q.embedding::DOUBLE[]))
                            * sqrt(list_dot_product(c.embedding::DOUBLE[], c.embedding::DOUBLE[]))),
                         4) AS sim
            FROM cand
            JOIN embeddings q ON q.vec_id = cand.query_id
            JOIN embeddings c ON c.vec_id = cand.neighbor_id
        )
        SELECT query_id, neighbor_id, sim, rk FROM (
            SELECT query_id, neighbor_id, sim,
                   row_number() OVER (PARTITION BY query_id
                       ORDER BY sim DESC, neighbor_id) AS rk
            FROM scored
        ) t WHERE rk <= 3
    """


def _langid_oracle() -> str:
    from .functions.textstats import LANG_ORDER, LANG_PROFILES

    score_cols = ",\n                   ".join(
        "sum(CASE WHEN w IN ({}) THEN 1 ELSE 0 END) AS s_{}".format(
            ", ".join(f"'{t}'" for t in LANG_PROFILES[lg]), lg)
        for lg in LANG_ORDER
    )
    best = "greatest(" + ", ".join(f"s_{lg}" for lg in LANG_ORDER) + ")"
    case = "CASE WHEN {b} = 0 THEN 'und' ".format(b=best) + " ".join(
        f"WHEN s_{lg} = {best} THEN '{lg}'" for lg in LANG_ORDER
    ) + " END"
    return f"""
        WITH scored AS (
            SELECT doc_id, any_value(lang) AS lang,
                   {score_cols}
            FROM (SELECT doc_id, lang,
                         unnest(regexp_split_to_array(text, '\\s+')) AS w
                  FROM documents) t
            GROUP BY doc_id
        )
        SELECT lang, {case} AS predicted_lang, count(*) AS n_docs
        FROM scored GROUP BY 1, 2
    """


def _fingerprints_oracle() -> str:
    from .functions.textstats import hash16_sql

    h = hash16_sql("w || ' ' || w1 || ' ' || w2")
    return f"""
        WITH words AS (
            SELECT doc_id,
                   unnest(regexp_split_to_array(text, '\\s+')) AS w,
                   generate_subscripts(regexp_split_to_array(text, '\\s+'), 1) AS pos
            FROM documents
        ), sh AS (
            SELECT doc_id, w, lead(w, 1) OVER win AS w1, lead(w, 2) OVER win AS w2
            FROM words WINDOW win AS (PARTITION BY doc_id ORDER BY pos)
            QUALIFY lead(w, 2) OVER win IS NOT NULL
        ), fps AS (
            SELECT DISTINCT doc_id, {h} AS fp
            FROM sh WHERE {h} % 16 = 0
        )
        SELECT doc_id, count(*) AS n_fps, min(fp) AS min_fp, max(fp) AS max_fp
        FROM fps GROUP BY doc_id
    """


def _bm25_oracle(k: int = 10, k1: float = 1.2, b: float = 0.75) -> str:
    """q53: identical tokenization, postings, Lucene-idf BM25 and
    round-before-rank contract in DuckDB CTEs.  Query terms render
    from the same _Q53_QUERIES literals the Spark side reads."""
    qvals = ", ".join(
        f"({qid}, '{term}')"
        for qid, qtext in _Q53_QUERIES
        for term in dict.fromkeys(qtext.lower().split())
    )
    return f"""
        WITH toks AS (
            SELECT doc_id,
                   unnest(list_filter(
                       regexp_split_to_array(lower(text), '[^a-z0-9]+'),
                       x -> x <> '')) AS term
            FROM documents
        ), postings AS (
            SELECT term, doc_id, count(*) AS tf
            FROM toks GROUP BY term, doc_id
        ), doclen AS (
            SELECT doc_id, sum(tf) AS dl FROM postings GROUP BY doc_id
        ), stats AS (
            SELECT count(*) AS n_docs, avg(dl) AS avgdl FROM doclen
        ), dfreq AS (
            SELECT term, count(*) AS df FROM postings GROUP BY term
        ), qterms AS (
            SELECT * FROM (VALUES {qvals}) AS q(query_id, term)
        ), scored AS (
            SELECT q.query_id, p.doc_id,
                   round(sum(
                       ln(1.0 + (s.n_docs - d.df + 0.5) / (d.df + 0.5))
                       * p.tf * ({k1} + 1.0)
                       / (p.tf + {k1} * (1.0 - {b} + {b} * l.dl / s.avgdl))
                   ), 4) AS score
            FROM postings p
            JOIN qterms q USING (term)
            JOIN dfreq d USING (term)
            JOIN doclen l USING (doc_id)
            CROSS JOIN stats s
            GROUP BY q.query_id, p.doc_id
        )
        SELECT query_id, doc_id, score, rank FROM (
            SELECT query_id, doc_id, score,
                   row_number() OVER (PARTITION BY query_id
                                      ORDER BY score DESC, doc_id) AS rank
            FROM scored) t
        WHERE rank <= {k}
    """


# shared by q36 and q57: the q13 signature/pair CTEs (identical
# shingle, seeded-md5 min and bucket-cap semantics) closed with a
# recursive CTE — component = min doc id reachable in the candidate-
# pair graph, matching connected_components' min-label fixpoint
_NEARDUP_CC_CTES = """
        WITH RECURSIVE words AS (
            SELECT doc_id, w, pos FROM (
                SELECT doc_id,
                       unnest(regexp_split_to_array(text, '\\s+')) AS w,
                       generate_subscripts(regexp_split_to_array(text, '\\s+'), 1) AS pos
                FROM documents) t
        ), sh AS (
            SELECT doc_id,
                   w || ' ' || lead(w, 1) OVER win || ' ' || lead(w, 2) OVER win AS shingle,
                   lead(w, 2) OVER win AS w2
            FROM words
            WINDOW win AS (PARTITION BY doc_id ORDER BY pos)
        ), sig AS (
            SELECT doc_id,
                   min(md5('0' || '|' || shingle)) AS minh0,
                   min(md5('1' || '|' || shingle)) AS minh1,
                   min(md5('2' || '|' || shingle)) AS minh2,
                   min(md5('3' || '|' || shingle)) AS minh3
            FROM sh WHERE w2 IS NOT NULL GROUP BY doc_id
        ), unp AS (
            SELECT doc_id AS doc, 0 AS band, minh0 AS bucket FROM sig
            UNION ALL SELECT doc_id, 1, minh1 FROM sig
            UNION ALL SELECT doc_id, 2, minh2 FROM sig
            UNION ALL SELECT doc_id, 3, minh3 FROM sig
        ), capped AS (
            SELECT doc, band, bucket FROM (
                SELECT doc, band, bucket,
                       count(*) OVER (PARTITION BY band, bucket) AS bsz
                FROM unp) t
            WHERE bsz <= 1000
        ), pairs AS (
            SELECT DISTINCT a.doc AS doc_a, b.doc AS doc_b
            FROM capped a JOIN capped b USING (band, bucket)
            WHERE a.doc < b.doc
        ), edges AS (
            SELECT doc_a AS src, doc_b AS dst FROM pairs
            UNION ALL SELECT doc_b, doc_a FROM pairs
        ), reach(node, lbl) AS (
            SELECT src, src FROM edges
            UNION
            SELECT e.dst, r.lbl FROM reach r JOIN edges e ON e.src = r.node
        ), comp AS (
            SELECT node AS doc_id, min(lbl) AS component
            FROM reach GROUP BY node
        )"""


def _neardup_clusters_oracle() -> str:
    """q36: see _NEARDUP_CC_CTES."""
    return _NEARDUP_CC_CTES + """
        SELECT doc_id, component,
               CAST(count(*) OVER (PARTITION BY component) AS BIGINT)
                   AS cluster_size
        FROM comp
    """


def _leakage_split_oracle(train_pct: int = 80, val_pct: int = 10) -> str:
    """q57: the q36 closure left-joined onto the full corpus
    (singletons become their own component) + the identical
    hash16-bucket split rule."""
    from .functions.textstats import hash16_sql

    h = hash16_sql("component::varchar")
    return _NEARDUP_CC_CTES + f"""
        , assigned AS (
            SELECT d.doc_id,
                   coalesce(c.component, d.doc_id) AS component
            FROM documents d LEFT JOIN comp c USING (doc_id)
        )
        SELECT doc_id, component,
               CASE WHEN {h} % 100 < {train_pct} THEN 'train'
                    WHEN {h} % 100 < {train_pct + val_pct}
                        THEN 'validation'
                    ELSE 'test' END AS split
        FROM assigned
    """


def _url_dedup_oracle() -> str:
    """q37: the identical URL-variant CASE chain + the shared
    canonicalization (functions.urlnorm.canonical_url_sql — RE2 twin
    of the Java-regex column chain) + the dedup groupBy."""
    from .functions.urlnorm import canonical_url_sql

    return f"""
        WITH urls AS (
            SELECT doc_id, {_VARIANT_URL_SQL} AS url
            FROM documents
        )
        SELECT {canonical_url_sql("url")} AS canonical_url,
               count(*) AS n_copies, min(doc_id) AS keeper_doc_id
        FROM urls GROUP BY 1 HAVING count(*) > 1
    """


def _host_blocklist_oracle() -> str:
    """q38: identical URL synthesis, host extraction, dot-suffix
    expansion and suffix-blocklist semantics in DuckDB list functions."""
    blocked = ", ".join(f"('{h}')" for h in _BLOCKED_HOSTS)
    return f"""
        WITH urls AS (
            SELECT doc_id,
                   CASE doc_id % 3
                     WHEN 0 THEN 'https://ads.example-'
                          || ((doc_id // 3) % 7) || '.com/x'
                     WHEN 1 THEN 'https://WWW.EXAMPLE-'
                          || ((doc_id // 3) % 7) || '.COM:443/y'
                     ELSE 'https://tracker-' || ((doc_id // 3) % 5)
                          || '.net/z?id=' || (doc_id // 3)
                   END AS url
            FROM documents
        ), hosts AS (
            SELECT doc_id, url,
                   lower(regexp_extract(url, '://([^/:?#]+)', 1)) AS host
            FROM urls
        ), sufs AS (
            SELECT doc_id,
                   unnest(list_transform(
                       range(1, len(string_split(host, '.')) + 1),
                       i -> array_to_string(string_split(host, '.')[i:], '.')
                   )) AS suffix
            FROM hosts
        ), blocked(suffix) AS (VALUES {blocked}),
        bad AS (
            SELECT DISTINCT doc_id FROM sufs JOIN blocked USING (suffix)
        )
        SELECT host, count(*) AS n_kept,
               CAST(sum(doc_id) AS BIGINT) AS id_checksum
        FROM hosts
        WHERE doc_id NOT IN (SELECT doc_id FROM bad)
        GROUP BY host
    """


def _token_shards_oracle() -> str:
    """q41: identical token count, hash16-mod shard, md5 in-shard
    order and exclusive-prefix-sum bin rule."""
    from .functions.textstats import hash16_sql

    h16 = hash16_sql("CAST(doc_id AS VARCHAR)")
    return f"""
        WITH base AS (
            SELECT doc_id,
                   CAST(len(list_filter(
                       regexp_split_to_array(coalesce(text, ''), '\\s+'),
                       x -> x <> '')) AS BIGINT) AS n_tokens,
                   {h16} % 8 AS shard,
                   md5(CAST(doc_id AS VARCHAR)) AS h
            FROM documents
        )
        SELECT doc_id, shard, n_tokens,
               CAST(floor((sum(n_tokens) OVER (
                        PARTITION BY shard ORDER BY h, doc_id
                        ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                    - n_tokens) / 300.0) AS BIGINT) AS bin
        FROM base
    """


def _html_extract_oracle() -> str:
    """q52: identical page synthesis and the identical regexp chain —
    RE2 runs the same patterns Java does (no backreferences used), so
    the extracted text is byte-equal."""
    c = _Q52_CHUNK
    return r"""
        WITH base AS (
            SELECT doc_id, list_filter(
                       regexp_split_to_array(text, '\s+'),
                       x -> x <> '') AS ws
            FROM documents
        ), page AS (
            SELECT doc_id,
                   '<html><head><title>doc</title><script>var x=1;</script>'
                   || '<style>.c{color:red}</style></head><body><h1>Doc '
                   || CAST(doc_id AS VARCHAR) || '</h1>'
                   || array_to_string(list_transform(
                          range(0, greatest(CAST(ceil(len(ws) / """ + f"{c}.0" + r""") AS INT), 1)),
                          i -> '<p>' || array_to_string(
                                   ws[(i*""" + str(c) + r"""+1):(i*""" + str(c) + r"""+""" + str(c) + r""")], ' ')
                               || '</p>'), '')
                   || '<!-- footer --><div>tags &amp; entities&nbsp;here</div>'
                   || '</body></html>' AS html
            FROM base
        ), x AS (
            SELECT doc_id,
                   regexp_replace(regexp_replace(regexp_replace(
                   regexp_replace(regexp_replace(regexp_replace(
                   regexp_replace(regexp_replace(regexp_replace(
                   regexp_replace(regexp_replace(regexp_replace(
                   regexp_replace(
                       html,
                       '(?is)<script\b.*?</script\s*>|<style\b.*?</style\s*>',
                       ' ', 'g'),
                       '(?s)<!--.*?-->', ' ', 'g'),
                       '(?i)</(p|div|h[1-6]|li|tr|table|ul|ol|blockquote)\s*>|<br\s*/?>',
                       chr(10), 'g'),
                       '(?s)<[^>]*>', ' ', 'g'),
                       '&nbsp;', ' ', 'g'),
                       '&amp;', '&', 'g'),
                       '&lt;', '<', 'g'),
                       '&gt;', '>', 'g'),
                       '&quot;', '"', 'g'),
                       '&#39;', '''', 'g'),
                       '[ ' || chr(9) || chr(13) || ']+', ' ', 'g'),
                       ' ?' || chr(10) || ' ?', chr(10), 'g'),
                       chr(10) || '+', chr(10), 'g') AS t
            FROM page
        ), fin AS (
            SELECT doc_id,
                   regexp_replace(t, '^' || chr(10) || '|' || chr(10) || '$',
                                  '', 'g') AS text
            FROM x
        )
        SELECT doc_id, md5(text) AS text_md5,
               CAST(length(text) AS BIGINT) AS n_chars,
               CAST(len(string_split(text, chr(10))) AS INT) AS n_lines
        FROM fin
    """


def _robots_gate_oracle() -> str:
    """q51: identical host/path/robots synthesis, then the same parse —
    comment strip, section running-sum over a per-host window,
    User-agent:* record selection, longest-prefix match with
    allow-wins ties via a (length, allow) arg-max — and
    coalesce(best_allow, true) as the default-allow rule."""
    from .functions.textstats import hash16_sql

    body = _Q51_ROBOTS.replace("\n", "' || chr(10) || '")
    h16 = hash16_sql("host")
    return f"""
        WITH hosts AS (
            SELECT DISTINCT source || '.example.org' AS host
            FROM documents
        ), robots AS (
            SELECT host,
                   '{body}'
                   || CASE WHEN {h16} % 2 = 0
                           THEN chr(10) || 'Disallow: /tmp'
                           ELSE '' END AS robots_txt
            FROM hosts
        ), lines AS (
            SELECT host,
                   generate_subscripts(string_split(robots_txt, chr(10)), 1)
                   AS pos,
                   trim(regexp_replace(
                       unnest(string_split(robots_txt, chr(10))),
                       '#.*$', '')) AS ln
            FROM robots
        ), marked AS (
            SELECT host, pos, ln,
                   trim(regexp_replace(ln, '^[A-Za-z-]+\\s*:', '')) AS val,
                   CASE WHEN lower(ln) LIKE 'user-agent%'
                        THEN 1 ELSE 0 END AS is_ua,
                   coalesce(lag(CASE WHEN lower(ln) LIKE 'user-agent%'
                                     THEN 1 ELSE 0 END)
                            OVER (PARTITION BY host ORDER BY pos), 0)
                   AS prev_ua
            FROM lines
        ), tagged AS (
            SELECT host, pos, ln, val,
                   sum(CASE WHEN is_ua = 1 AND prev_ua = 0
                            THEN 1 ELSE 0 END)
                   OVER (PARTITION BY host ORDER BY pos
                         ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                   AS sec
            FROM marked
        ), star AS (
            SELECT DISTINCT host, sec FROM tagged
            WHERE lower(ln) LIKE 'user-agent%' AND val = '*'
        ), rules AS (
            SELECT t.host, t.val AS rule_path,
                   lower(t.ln) LIKE 'allow:%' AS allow
            FROM tagged t JOIN star USING (host, sec)
            WHERE regexp_matches(lower(t.ln), '^(allow|disallow):')
              AND t.val <> ''
        ), urls AS (
            SELECT doc_id,
                   'https://' || source || '.example.org' ||
                   CASE doc_id % 5
                        WHEN 0 THEN '/doc/' || CAST(doc_id AS VARCHAR)
                        WHEN 1 THEN '/private/doc/' || CAST(doc_id AS VARCHAR)
                        WHEN 2 THEN '/private/ok/' || CAST(doc_id AS VARCHAR)
                        WHEN 3 THEN '/tmp/' || CAST(doc_id AS VARCHAR)
                        ELSE '' END AS url
            FROM documents
        ), parts AS (
            SELECT doc_id, url,
                   regexp_extract(url, '^[a-z]+://([^/]+)', 1) AS host,
                   CASE WHEN regexp_replace(url, '^[a-z]+://[^/]*', '') = ''
                        THEN '/' ELSE
                        regexp_replace(url, '^[a-z]+://[^/]*', '') END
                   AS path
            FROM urls
        ), verdict AS (
            SELECT p.doc_id, p.url,
                   arg_max(r.allow,
                           length(r.rule_path) * 2
                           + CASE WHEN r.allow THEN 1 ELSE 0 END)
                   FILTER (r.rule_path IS NOT NULL
                           AND starts_with(p.path, r.rule_path))
                   AS best_allow
            FROM parts p LEFT JOIN rules r ON p.host = r.host
            GROUP BY p.doc_id, p.url
        )
        SELECT doc_id, url,
               coalesce(best_allow, TRUE) AS crawl_allowed
        FROM verdict
    """


def _pack_sequences_oracle(seq_len: int = 256, n_shards: int = 8) -> str:
    """q50: identical token count / hash16 shard / md5 order /
    exclusive prefix sum, then the spanned-sequence range as a
    generate-series unnest and the same greatest/least segment
    arithmetic — integer-exact end to end."""
    from .functions.textstats import hash16_sql

    h16 = hash16_sql("CAST(doc_id AS VARCHAR)")
    L = seq_len
    return f"""
        WITH base AS (
            SELECT doc_id,
                   CAST(len(list_filter(
                       regexp_split_to_array(text, '\\s+'),
                       x -> x <> '')) AS BIGINT) AS nt,
                   {h16} % {n_shards} AS shard,
                   md5(CAST(doc_id AS VARCHAR)) AS h
            FROM documents
        ), pos AS (
            SELECT doc_id, shard, nt,
                   sum(nt) OVER (PARTITION BY shard ORDER BY h, doc_id
                                 ROWS BETWEEN UNBOUNDED PRECEDING
                                 AND CURRENT ROW) - nt AS p0
            FROM base WHERE nt > 0
        ), spanned AS (
            SELECT doc_id, shard, nt, p0,
                   unnest(range(CAST(floor(p0 / {L}.0) AS BIGINT),
                                CAST(floor((p0 + nt - 1) / {L}.0)
                                     AS BIGINT) + 1)) AS seq
            FROM pos
        )
        SELECT shard, seq, doc_id,
               CAST(greatest(p0, seq * {L}) - p0 AS BIGINT) AS doc_offset,
               CAST(least(p0 + nt, (seq + 1) * {L})
                    - greatest(p0, seq * {L}) AS BIGINT) AS seg_len,
               CAST(greatest(p0, seq * {L}) - seq * {L} AS BIGINT)
                 AS seq_offset
        FROM spanned
    """


def _dsir_oracle() -> str:
    """q42: identical lowercase whitespace unigrams + adjacent
    bigrams, hash16-mod bucketing, add-1 smoothed log10 ratio and the
    round-4 per-doc mean (the repo's cross-engine float rule, same
    contract as q35)."""
    from .functions.textstats import hash16_sql

    b = _Q42_BUCKETS
    h16 = hash16_sql("g")
    return f"""
        WITH base AS (
            SELECT doc_id, lang = 'en' AS t,
                   list_filter(regexp_split_to_array(lower(text), '\\s+'),
                               x -> x <> '') AS ws
            FROM documents
        ), g AS (
            SELECT doc_id, t, unnest(list_concat(ws,
                CASE WHEN len(ws) >= 2
                     THEN list_transform(range(1, len(ws)),
                                         i -> ws[i] || ' ' || ws[i+1])
                     ELSE []::VARCHAR[] END)) AS g
            FROM base
        ), bk AS (
            SELECT doc_id, t, {h16} % {b} AS b FROM g
        ), stats AS (
            SELECT b, sum(CASE WHEN t THEN 1 ELSE 0 END) AS ct,
                   count(*) AS cr
            FROM bk GROUP BY b
        ), tot AS (SELECT sum(ct) AS nt, sum(cr) AS nr FROM stats),
        scores AS (
            SELECT b, log10((ct + 1.0)/(nt + {b}.0))
                    - log10((cr + 1.0)/(nr + {b}.0)) AS lr
            FROM stats, tot
        )
        SELECT bk.doc_id, CAST(count(*) AS BIGINT) AS n_grams,
               round(sum(lr)/count(*), 4) + 0.0 AS logratio,
               round(sum(lr)/count(*), 4) >= 0.0 AS keep
        FROM bk JOIN scores USING (b)
        GROUP BY bk.doc_id
    """


def _upsample_oracle() -> str:
    """q43: identical lang->weight case, hash16(id:epoch)/65536 draw
    for the fractional copy, range-unnest for the epochs (integer
    exact end to end)."""
    from .functions.textstats import hash16_sql

    case = " ".join(f"WHEN '{k}' THEN {v}" for k, v in _Q43_WEIGHTS.items())
    h16 = hash16_sql("CAST(doc_id AS VARCHAR) || ':epoch'")
    return f"""
        WITH w AS (
            SELECT doc_id, lang,
                   CASE lang {case} END AS wt,
                   {h16} / 65536.0 AS u
            FROM documents
        ), n AS (
            SELECT doc_id, lang,
                   CAST(floor(wt) + CASE WHEN u < wt - floor(wt)
                                         THEN 1 ELSE 0 END AS INT)
                   AS n_copies
            FROM w
        )
        SELECT doc_id, lang, n_copies,
               CAST(unnest(range(0, n_copies)) AS INT) AS epoch
        FROM n WHERE n_copies > 0
    """


def _c4_line_clean_oracle() -> str:
    """q44: identical 12-token chunking, per-chunk hash16 decoration
    (%3 terminal mark, %5 javascript prefix), page plants on
    doc_id%11/%13, then the C4 line rules as a list_filter lambda and
    the page rules as a WHERE — all integer/string exact."""
    c = _Q44_CHUNK
    h = "('0x' || substring(md5(ch), 1, 4))::int"
    return f"""
        WITH base AS (
            SELECT doc_id, list_filter(
                       regexp_split_to_array(text, '\\s+'),
                       x -> x <> '') AS ws
            FROM documents
        ), lined AS (
            SELECT doc_id,
                   array_to_string(list_transform(
                       list_transform(
                           range(0, greatest(CAST(ceil(len(ws) / {c}.0) AS INT), 1)),
                           i -> array_to_string(ws[(i*{c}+1):(i*{c}+{c})], ' ')),
                       ch -> (CASE WHEN {h} % 5 = 0
                                   THEN 'javascript ' ELSE '' END)
                             || ch ||
                             (CASE {h} % 3 WHEN 0 THEN '.'
                                           WHEN 1 THEN '?' ELSE '' END)
                   ), chr(10))
                   || CASE WHEN doc_id % 11 = 0
                           THEN chr(10) || 'this filler is Lorem Ipsum text.'
                           ELSE '' END
                   || CASE WHEN doc_id % 13 = 0
                           THEN chr(10) || 'function() {{ return; }}'
                           ELSE '' END AS text
            FROM base
        ), kept AS (
            SELECT doc_id, text,
                   list_filter(string_split(text, chr(10)),
                       ln -> regexp_matches(rtrim(ln), '[.!?"]$')
                             AND len(list_filter(
                                     regexp_split_to_array(ln, '\\s+'),
                                     x -> x <> '')) >= 5
                             AND NOT contains(lower(ln), 'javascript')
                   ) AS kl
            FROM lined
        )
        SELECT doc_id, CAST(len(kl) AS INT) AS n_lines_kept,
               md5(array_to_string(kl, chr(10))) AS text_md5,
               CAST(length(array_to_string(kl, chr(10))) AS BIGINT)
               AS n_chars
        FROM kept
        WHERE len(kl) >= 3
          AND NOT contains(lower(text), 'lorem ipsum')
          AND NOT contains(text, '{{')
    """


_GRAPH_EDGES_CTE = """
        base AS (
            SELECT doc_id,
                   list_filter(regexp_split_to_array(lower(text), '\\s+'),
                               x -> x <> '') AS ws
            FROM documents
        ), toks AS (
            SELECT doc_id, unnest(ws) AS w,
                   generate_subscripts(ws, 1) AS pos
            FROM base
        ), grams AS (
            SELECT doc_id, w,
                   lead(w, 1) OVER win AS w1, lead(w, 2) OVER win AS w2
            FROM toks WINDOW win AS (PARTITION BY doc_id ORDER BY pos)
        ), edges AS MATERIALIZED (
            SELECT DISTINCT w || '_' || w1 AS src, w1 || '_' || w2 AS dst
            FROM grams WHERE w2 IS NOT NULL
        )"""


def _khop_oracle(k: int = 3) -> str:
    """q45: identical bigram-adjacency synthesis, then min-hop BFS
    unrolled as one frontier-join stage per hop (frontier = previous
    hop only, anti-joined against everything seen — the same
    expansion-order argument that makes the operator's hop minimal)."""
    from .functions.textstats import hash16_sql

    ctes = [_GRAPH_EDGES_CTE.strip(), f"""
        h0 AS MATERIALIZED (
            SELECT DISTINCT src AS v, 0 AS hop FROM edges
            WHERE {hash16_sql('src')} % 37 = 0
        )"""]
    seen = "SELECT v FROM h0"
    for i in range(1, k + 1):
        ctes.append(f"""
        h{i} AS MATERIALIZED (
            SELECT v, {i} AS hop FROM (
                SELECT DISTINCT e.dst AS v
                FROM edges e JOIN h{i-1} f ON e.src = f.v) t
            WHERE v NOT IN ({seen})
        )""")
        seen += f" UNION ALL SELECT v FROM h{i}"
    union = " UNION ALL ".join(f"SELECT v, hop FROM h{i}"
                               for i in range(k + 1))
    return "WITH " + ", ".join(ctes) + f" {union}"


def _triangle_oracle() -> str:
    """q55: identical edge synthesis; naive id-ordered triangle
    enumeration (x < y < z by construction of the three joins) — the
    triangle set is orientation-invariant, so this matches the
    operator's degree-ordered plan row-for-row after the per-vertex
    explode."""
    return ("WITH " + _GRAPH_EDGES_CTE.strip() + """
        , und AS MATERIALIZED (
            SELECT DISTINCT least(src, dst) AS a, greatest(src, dst) AS b
            FROM edges WHERE src <> dst
        ), tri AS (
            SELECT e1.a AS x, e1.b AS y, e2.b AS z
            FROM und e1
            JOIN und e2 ON e2.a = e1.b
            JOIN und e3 ON e3.a = e1.a AND e3.b = e2.b
        )
        SELECT v, count(*) AS n_tri
        FROM (SELECT unnest([x, y, z]) AS v FROM tri) t
        GROUP BY v
    """)


def _negative_samples_oracle(n_neg: int = 3) -> str:
    """q56: identical edge synthesis, dense entity index, 60-bit md5
    tail pick, true-tail and positive-set filters."""
    h = ("('0x' || substring(md5(c.src || '|' || c.dst || '|' || "
         "c.i::varchar), 1, 15))::bigint")
    slots = ", ".join(str(i) for i in range(n_neg))
    return ("WITH " + _GRAPH_EDGES_CTE.strip() + f"""
        , pos AS MATERIALIZED (SELECT DISTINCT src, dst FROM edges),
        ents AS MATERIALIZED (
            SELECT v, row_number() OVER (ORDER BY v) - 1 AS idx
            FROM (SELECT src AS v FROM pos UNION SELECT dst FROM pos) t
        ), nents AS (SELECT count(*) AS n FROM ents),
        cand AS (
            SELECT c.src, c.dst, c.i AS sample_id, {h} % nents.n AS idx
            FROM (SELECT src, dst, unnest([{slots}]) AS i FROM pos) c,
                 nents
        )
        SELECT c.src, c.dst, c.sample_id, e.v AS neg_dst
        FROM cand c JOIN ents e USING (idx)
        WHERE e.v <> c.dst
          AND NOT EXISTS (SELECT 1 FROM pos p
                          WHERE p.src = c.src AND p.dst = e.v)
    """)


def _kmv_oracle(k: int = 64) -> str:
    """q58: identical whitespace-bigram item set, md5-fraction hash,
    k-th order statistic and (k-1)/h_k estimator."""
    return f"""
        WITH words AS (
            SELECT doc_id, source, w, pos FROM (
                SELECT doc_id, source,
                       unnest(list_filter(
                           regexp_split_to_array(lower(text), '\\s+'),
                           x -> x <> '')) AS w,
                       generate_subscripts(list_filter(
                           regexp_split_to_array(lower(text), '\\s+'),
                           x -> x <> ''), 1) AS pos
                FROM documents) z
        ), grams AS (
            SELECT source AS grp,
                   w || ' ' || lead(w, 1) OVER win AS term,
                   lead(w, 1) OVER win AS w1
            FROM words WINDOW win AS (PARTITION BY doc_id ORDER BY pos)
        ), t AS (
            SELECT DISTINCT grp, term FROM grams WHERE w1 IS NOT NULL
        ), ranked AS (
            SELECT grp, term,
                   ('0x' || substring(md5(term), 1, 8))::bigint
                       / 4294967296.0 AS h
            FROM t
        ), rk AS (
            SELECT grp, h,
                   row_number() OVER (PARTITION BY grp
                                      ORDER BY h, term) AS rk
            FROM ranked
        ), agg AS (
            SELECT grp AS source, count(*) AS n_distinct_exact,
                   max(CASE WHEN rk = {k} THEN h END) AS hk
            FROM rk GROUP BY grp
        )
        SELECT source, n_distinct_exact,
               CASE WHEN hk IS NOT NULL THEN round({k - 1} / hk, 2)
                    ELSE CAST(n_distinct_exact AS DOUBLE) END
                   AS kmv_estimate
        FROM agg
    """


def _label_propagation_oracle(iters: int = 4) -> str:
    """q59: identical edge synthesis + the synchronous LPA iterations
    unrolled as CTE stages, argmax by (count desc, label asc)."""
    ctes = [_GRAPH_EDGES_CTE.strip(), """
        und AS MATERIALIZED (
            SELECT DISTINCT least(src, dst) AS a, greatest(src, dst) AS b
            FROM edges WHERE src <> dst
        ), sym AS MATERIALIZED (
            SELECT a AS u, b AS v FROM und
            UNION ALL SELECT b, a FROM und
        ), l0 AS MATERIALIZED (
            SELECT DISTINCT u AS v, u AS lbl FROM sym
        )"""]
    for i in range(1, iters + 1):
        ctes.append(f"""
        l{i} AS MATERIALIZED (
            SELECT v, lbl FROM (
                SELECT s.v, l.lbl, count(*) AS n,
                       row_number() OVER (
                           PARTITION BY s.v
                           ORDER BY count(*) DESC, l.lbl) AS rk
                FROM sym s JOIN l{i-1} l ON l.v = s.u
                GROUP BY s.v, l.lbl) t
            WHERE rk = 1
        )""")
    return ("WITH " + ", ".join(ctes)
            + f" SELECT v, lbl AS community FROM l{iters}")


def _adamic_adar_oracle(k: int = 100) -> str:
    """q60: identical wedge join, per-pair 1/ln(deg) sum, anti-join
    vs the edge set and round-before-rank."""
    return ("WITH " + _GRAPH_EDGES_CTE.strip() + f"""
        , und AS MATERIALIZED (
            SELECT DISTINCT least(src, dst) AS a, greatest(src, dst) AS b
            FROM edges WHERE src <> dst
        ), sym AS MATERIALIZED (
            SELECT a AS z, b AS x FROM und
            UNION ALL SELECT b, a FROM und
        ), deg AS (SELECT z, count(*) AS dg FROM sym
                   GROUP BY z HAVING count(*) >= 2),
        wz AS (SELECT s.z, s.x, 1.0 / ln(d.dg) AS w
               FROM sym s JOIN deg d USING (z)),
        scored AS (
            SELECT s1.x AS a, s2.x AS b, round(sum(s1.w), 4) AS score
            FROM wz s1 JOIN wz s2 ON s1.z = s2.z AND s1.x < s2.x
            GROUP BY s1.x, s2.x
        ), cand AS (
            SELECT sc.a, sc.b, sc.score
            FROM scored sc LEFT JOIN und
              ON und.a = sc.a AND und.b = sc.b
            WHERE und.a IS NULL
        )
        SELECT a, b, score, rank FROM (
            SELECT a, b, score,
                   row_number() OVER (ORDER BY score DESC, a, b) AS rank
            FROM cand) t
        WHERE rank <= {k}
    """)


def _pagerank_oracle(iters: int = 5, damping: float = 0.85) -> str:
    """q46: identical synthesis, then the power iteration unrolled as
    one (dangling-mass, contribution, rank) CTE triple per iteration —
    double arithmetic matches Spark's and the final round-6 is the
    cross-engine float rule."""
    d = damping
    ctes = [_GRAPH_EDGES_CTE.strip(), f"""
        verts AS (SELECT src AS v FROM edges UNION SELECT dst FROM edges),
        outdeg AS (SELECT src AS v, count(*) AS dg FROM edges GROUP BY src),
        vdeg AS MATERIALIZED (SELECT v, coalesce(dg, 0) AS dg
                 FROM verts LEFT JOIN outdeg USING (v)),
        nv AS (SELECT count(*) AS n FROM verts),
        r0 AS MATERIALIZED (SELECT v, dg, 1.0 / n AS pr FROM vdeg, nv)"""]
    for i in range(1, iters + 1):
        ctes.append(f"""
        dm{i} AS (SELECT coalesce(sum(pr), 0.0) AS dm FROM r{i-1}
                  WHERE dg = 0),
        c{i} AS (SELECT e.dst AS v, sum(r.pr / r.dg) AS cin
                 FROM edges e JOIN r{i-1} r ON e.src = r.v AND r.dg > 0
                 GROUP BY e.dst),
        r{i} AS MATERIALIZED (SELECT vd.v, vd.dg,
                        ({1.0 - d}) / nv.n
                        + {d} * (coalesce(c.cin, 0.0) + dd.dm / nv.n) AS pr
                 FROM vdeg vd LEFT JOIN c{i} c ON vd.v = c.v, nv, dm{i} dd)""")
    return ("WITH " + ", ".join(ctes)
            + f" SELECT v, round(pr, 6) AS pr FROM r{iters}")


def _temperature_mix_oracle(alpha: float = 0.5) -> str:
    """q47: identical per-lang share -> p^alpha renormalization ->
    expected-copy weight (round-6 BEFORE the hash draw, so the
    realized copies are bit-identical), then the q43 upsample shape
    (hash16(id:epoch)/65536 draw, range-unnest epochs)."""
    from .functions.textstats import hash16_sql

    h16 = hash16_sql("CAST(d.doc_id AS VARCHAR) || ':epoch'")
    return f"""
        WITH counts AS (
            SELECT lang, count(*) AS ck FROM documents GROUP BY lang
        ), nrm AS (
            SELECT lang, ck / (SELECT sum(ck) FROM counts) AS pk
            FROM counts
        ), wts AS (
            SELECT lang,
                   round((pow(pk, {alpha})
                          / (SELECT sum(pow(pk, {alpha})) FROM nrm))
                         / pk, 6) AS weight
            FROM nrm
        ), w2 AS (
            SELECT d.doc_id, d.lang, wts.weight,
                   {h16} / 65536.0 AS u
            FROM documents d JOIN wts USING (lang)
        ), n AS (
            SELECT doc_id, lang, weight,
                   CAST(floor(weight) + CASE WHEN u < weight - floor(weight)
                                             THEN 1 ELSE 0 END AS INT)
                   AS n_copies
            FROM w2
        )
        SELECT doc_id, lang, weight, n_copies,
               CAST(unnest(range(0, n_copies)) AS INT) AS epoch
        FROM n WHERE n_copies > 0
    """


def _warc_roundtrip_oracle() -> str:
    """q48: identical record rendering (byte Content-Length via
    octet_length(encode)) and the same header-block/payload split —
    substring after the first blank line, trailing newlines trimmed,
    per-header regexp_extract (RE2 '[^\\n]' newline class matches
    Spark's Java regex here)."""
    return r"""
        WITH d AS (
            SELECT doc_id, text,
                   'https://' || source || '.example.org/doc/'
                   || CAST(doc_id AS VARCHAR) AS url
            FROM documents
        ), recs AS (
            SELECT doc_id, text,
                   'WARC/1.0' || chr(10)
                   || 'WARC-Type: conversion' || chr(10)
                   || 'WARC-Target-URI: ' || url || chr(10)
                   || 'WARC-Date: 2026-01-01T00:00:00Z' || chr(10)
                   || 'Content-Length: '
                   || CAST(octet_length(encode(text)) AS VARCHAR)
                   || chr(10) || chr(10) || text || chr(10) || chr(10)
                   AS record
            FROM d
        ), split AS (
            SELECT doc_id, text, record,
                   split_part(record, chr(10) || chr(10), 1) AS head
            FROM recs
        ), parsed AS (
            SELECT doc_id, text,
                   nullif(regexp_extract(head,
                       'WARC-Target-URI: ([^\n]+)', 1), '') AS target_uri,
                   nullif(regexp_extract(head,
                       'WARC-Type: ([^\n]+)', 1), '') AS warc_type,
                   CAST(nullif(regexp_extract(head,
                       'Content-Length: ([0-9]+)', 1), '') AS BIGINT)
                   AS content_length,
                   rtrim(substring(record, length(head) + 3), chr(10))
                   AS payload
            FROM split
        )
        SELECT doc_id, target_uri, warc_type, content_length,
               md5(payload) AS payload_md5,
               payload = text AS ok
        FROM parsed
    """


def _line_dedup_oracle() -> str:
    """q40: identical 12-token re-lining + boilerplate append, then the
    first-occurrence rule as a row_number window over the line string
    (the oracle needn't be skew-shaped; the operator's agg+join keeper
    computes the same smallest-(doc, pos) winner) and a string_agg
    rebuild in position order."""
    bp = _Q40_BOILERPLATE
    c = _Q40_CHUNK
    return f"""
        WITH base AS (
            SELECT doc_id, list_filter(
                       regexp_split_to_array(text, '\\s+'),
                       x -> x <> '') AS ws
            FROM documents
        ), lined AS (
            SELECT doc_id,
                   array_to_string(list_transform(
                       range(0, greatest(CAST(ceil(len(ws) / {c}.0) AS INT), 1)),
                       i -> array_to_string(ws[(i*{c}+1):(i*{c}+{c})], ' ')
                   ), chr(10)) || chr(10) || '{bp}' AS text
            FROM base
        ), lines AS (
            SELECT doc_id,
                   unnest(string_split(text, chr(10))) AS ln,
                   generate_subscripts(string_split(text, chr(10)), 1) AS pos
            FROM lined
        ), keepers AS (
            SELECT doc_id, pos, ln FROM (
                SELECT doc_id, pos, ln, row_number() OVER (
                    PARTITION BY ln ORDER BY doc_id, pos) AS rk
                FROM lines WHERE ln <> '') t WHERE rk = 1
        ), kept AS (
            SELECT doc_id, pos, ln FROM keepers
            UNION ALL
            SELECT doc_id, pos, ln FROM lines WHERE ln = ''
        ), rebuilt AS (
            SELECT doc_id,
                   string_agg(ln, chr(10) ORDER BY pos) AS text
            FROM kept GROUP BY doc_id
        )
        SELECT l.doc_id,
               md5(coalesce(r.text, '')) AS text_md5,
               CAST(coalesce(length(r.text), 0) AS BIGINT) AS n_chars
        FROM lined l LEFT JOIN rebuilt r USING (doc_id)
    """


def _gram8_cte(src: str, win: str, k: int = 8) -> str:
    """8-token-window gram ids over ``src`` (mirrors
    dedup.token_windows: lowercase, whitespace split, empties filtered
    before positions, md5 of the space-joined window) — used twice by
    the q39 oracle with distinct window names."""
    joined = " || ' ' || ".join(
        ["w"] + [f"lead(w,{i}) OVER {win}" for i in range(1, k)])
    return f"""
            SELECT doc_id, gid FROM (
                SELECT doc_id, md5({joined}) AS gid,
                       lead(w,{k - 1}) OVER {win} AS wl
                FROM (
                    SELECT doc_id, unnest(ws) AS w,
                           generate_subscripts(ws, 1) AS pos
                    FROM (SELECT doc_id, list_filter(
                              regexp_split_to_array(lower(text), '\\s+'),
                              x -> x <> '') AS ws
                          FROM {src}) t0) t1
                WINDOW {win} AS (PARTITION BY doc_id ORDER BY pos)) t2
            WHERE wl IS NOT NULL"""


def _corpus_hygiene_oracle() -> str:
    """q39: the nine hygiene stages as chained CTEs over the identical
    deterministic inputs — blocklist suffix semantics (q38), canonical-
    URL keeper window (q37), exact-dedup keeper window (q09), the
    quality-score formula (textstats.quality_columns), the Gopher
    repetition gates (q31), MinHash-LSH candidates + exact-Jaccard
    verification (q13/q19) closed into components by a recursive CTE
    (q36) with only non-keepers dropped, 8-gram decontamination (q34),
    the hash16 quota threshold (q30), and the PII redaction chain
    (q32).  Multi-referenced CTEs are MATERIALIZED: the recursive
    closure and the NOT-IN probes would otherwise re-evaluate the
    whole upstream chain per reference (measured: minutes -> 0.3 s)."""
    from .functions.redact import _RULES
    from .functions.textstats import hash16_sql
    from .functions.urlnorm import canonical_url_sql

    evs = ", ".join(f"'{s}'" for s in _HYG_EVAL)
    pii = "text"
    for pat, rep in _PII_REWRITES:
        pii = f"regexp_replace({pii}, '{pat}', '{rep}', 'g')"
    blocked = ", ".join(f"'{h}'" for h in _HYG_BLOCKED)
    qcases = " ".join(
        f"WHEN source = '{s}' THEN {int(q * (1 << 16))}"
        for s, q in sorted(_HYG_QUOTAS.items()))
    h16 = hash16_sql("source || '|' || CAST(doc_id AS VARCHAR)")
    red_stages, cur = [], "s8"
    for i, (placeholder, pat, _cname) in enumerate(_RULES):
        nxt = f"r{i + 1}"
        tcol = "text" if i == 0 else "t"
        red_stages.append(
            f"{nxt} AS (SELECT doc_id, source, "
            f"regexp_replace({tcol}, '{pat}', '{placeholder}', 'g') AS t "
            f"FROM {cur})")
        cur = nxt
    red_sql = ",\n        ".join(red_stages)
    return f"""
        WITH RECURSIVE base AS (
            SELECT doc_id, text, source FROM documents
            UNION ALL
            SELECT doc_id + 10000000, text, source FROM documents
            WHERE doc_id < 40
        ), corpus AS MATERIALIZED (
            SELECT doc_id, {pii} AS text, source,
                   {_VARIANT_URL_SQL} AS url
            FROM base
        ), ctrain AS (
            SELECT * FROM corpus WHERE source NOT IN ({evs})
        ), hosts AS (
            SELECT doc_id,
                   lower(regexp_extract(url, '://([^/:?#]+)', 1)) AS host
            FROM ctrain
        ), blk AS (
            SELECT DISTINCT doc_id FROM (
                SELECT doc_id, unnest(list_transform(
                    range(1, len(string_split(host, '.')) + 1),
                    i -> array_to_string(string_split(host, '.')[i:], '.')
                )) AS suffix FROM hosts) s
            WHERE suffix IN ({blocked})
        ), s1 AS MATERIALIZED (
            SELECT * FROM ctrain
            WHERE doc_id NOT IN (SELECT doc_id FROM blk)
        ), s2 AS MATERIALIZED (
            SELECT doc_id, text, source, url FROM (
                SELECT *, row_number() OVER (
                    PARTITION BY {canonical_url_sql('url')}
                    ORDER BY doc_id) AS rk
                FROM s1) t WHERE rk = 1
        ), s3 AS MATERIALIZED (
            SELECT doc_id, text, source, url FROM (
                SELECT *, row_number() OVER (
                    PARTITION BY md5(text) ORDER BY doc_id) AS rk
                FROM s2) t WHERE rk = 1
        ), qual AS (
            SELECT doc_id,
                   len(regexp_split_to_array(text, '\\s+')) AS n_tokens,
                   round(len(list_filter(regexp_split_to_array(text, '\\s+'),
                             x -> x IN ('the','a','of','to','and')))
                         / len(regexp_split_to_array(text, '\\s+')), 4) AS swr,
                   round(length(regexp_replace(text, '[^A-Za-z]', '', 'g'))
                         / length(text), 4) AS ar
            FROM s3
        ), s4 AS MATERIALIZED (
            SELECT s3.* FROM s3 JOIN qual USING (doc_id)
            WHERE n_tokens >= {_HYG_MIN_TOKENS}
              AND round(CASE WHEN n_tokens < 5 THEN 0.0
                             WHEN swr <= 0.0 THEN 0.2
                             ELSE least(1.0, ar * 0.5 + least(swr * 4, 0.5))
                        END, 4) >= {_HYG_MIN_QUALITY}
        ), rwords AS (
            SELECT doc_id, w, pos FROM (
                SELECT doc_id,
                       unnest(regexp_split_to_array(lower(text), '\\s+')) AS w,
                       generate_subscripts(
                           regexp_split_to_array(lower(text), '\\s+'), 1) AS pos
                FROM s4) t WHERE w <> ''
        ), rgrams AS (
            SELECT doc_id, w, pos, lead(w, 1) OVER rwin AS w1
            FROM rwords WINDOW rwin AS (PARTITION BY doc_id ORDER BY pos)
        ), ragg AS (
            SELECT doc_id, count(w) AS n,
                   count(CASE WHEN w1 IS NOT NULL THEN 1 END) AS nb,
                   count(DISTINCT CASE WHEN w1 IS NOT NULL
                         THEN w || ' ' || w1 END) AS ndb
            FROM rgrams GROUP BY doc_id
        ), rtop AS (
            SELECT doc_id, max(c) AS topc FROM (
                SELECT doc_id, w, count(*) AS c FROM rwords
                GROUP BY doc_id, w) t GROUP BY doc_id
        ), rbad AS (
            SELECT a.doc_id FROM ragg a JOIN rtop USING (doc_id)
            WHERE round((nb - ndb) / greatest(nb, 1), 4) > {_HYG_MAX_DUP_BI}
               OR round(topc / n, 4) > {_HYG_MAX_TOP_W}
        ), s5 AS MATERIALIZED (
            SELECT * FROM s4
            WHERE doc_id NOT IN (SELECT doc_id FROM rbad)
        ), nwords AS (
            SELECT doc_id, w, pos FROM (
                SELECT doc_id,
                       unnest(regexp_split_to_array(text, '\\s+')) AS w,
                       generate_subscripts(
                           regexp_split_to_array(text, '\\s+'), 1) AS pos
                FROM s5) t
        ), nsh AS MATERIALIZED (
            SELECT DISTINCT doc_id,
                   w || ' ' || lead(w, 1) OVER nwin || ' ' ||
                   lead(w, 2) OVER nwin AS shingle
            FROM nwords WINDOW nwin AS (PARTITION BY doc_id ORDER BY pos)
            QUALIFY lead(w, 2) OVER nwin IS NOT NULL
        ), nsig AS (
            SELECT doc_id,
                   min(md5('0|' || shingle)) AS m0,
                   min(md5('1|' || shingle)) AS m1,
                   min(md5('2|' || shingle)) AS m2,
                   min(md5('3|' || shingle)) AS m3
            FROM nsh GROUP BY doc_id
        ), nunp AS (
            SELECT doc_id AS doc, 0 AS band, m0 AS bucket FROM nsig
            UNION ALL SELECT doc_id, 1, m1 FROM nsig
            UNION ALL SELECT doc_id, 2, m2 FROM nsig
            UNION ALL SELECT doc_id, 3, m3 FROM nsig
        ), ncap AS (
            SELECT doc, band, bucket FROM (
                SELECT doc, band, bucket,
                       count(*) OVER (PARTITION BY band, bucket) AS bsz
                FROM nunp) t WHERE bsz <= 1000
        ), npairs AS MATERIALIZED (
            SELECT DISTINCT a.doc AS doc_a, b.doc AS doc_b
            FROM ncap a JOIN ncap b USING (band, bucket)
            WHERE a.doc < b.doc
        ), ninter AS (
            SELECT p.doc_a, p.doc_b, count(*) AS ni
            FROM npairs p
            JOIN nsh sa ON sa.doc_id = p.doc_a
            JOIN nsh sb ON sb.doc_id = p.doc_b AND sb.shingle = sa.shingle
            GROUP BY 1, 2
        ), nsizes AS (
            SELECT doc_id, count(*) AS ns FROM nsh GROUP BY doc_id
        ), nedges AS MATERIALIZED (
            SELECT doc_a AS src, doc_b AS dst FROM (
                SELECT p.doc_a, p.doc_b,
                       round(coalesce(i.ni, 0)
                             / (za.ns + zb.ns - coalesce(i.ni, 0)), 4) AS j
                FROM npairs p
                LEFT JOIN ninter i USING (doc_a, doc_b)
                JOIN nsizes za ON za.doc_id = p.doc_a
                JOIN nsizes zb ON zb.doc_id = p.doc_b) t
            WHERE j >= {_HYG_NEARDUP_T}
        ), nsym AS MATERIALIZED (
            SELECT src, dst FROM nedges
            UNION ALL SELECT dst, src FROM nedges
        ), reach(node, lbl) AS (
            SELECT src, src FROM nsym
            UNION
            SELECT e.dst, r.lbl FROM reach r JOIN nsym e ON e.src = r.node
        ), ncomp AS (
            SELECT node AS doc_id, min(lbl) AS component
            FROM reach GROUP BY node
        ), s6 AS MATERIALIZED (
            SELECT * FROM s5 WHERE doc_id NOT IN (
                SELECT doc_id FROM ncomp WHERE doc_id <> component)
        ), evg AS MATERIALIZED (
            SELECT DISTINCT gid FROM (
                {_gram8_cte("(SELECT doc_id, text FROM corpus "
                            f"WHERE source IN ({evs}))", "ewin")}) ge
        ), twg AS MATERIALIZED (
            {_gram8_cte("s6", "twin")}
        ), contam AS (
            SELECT DISTINCT doc_id FROM twg
            WHERE gid IN (SELECT gid FROM evg)
        ), s7 AS MATERIALIZED (
            SELECT * FROM s6
            WHERE doc_id NOT IN (SELECT doc_id FROM contam)
        ), s8 AS MATERIALIZED (
            SELECT * FROM s7
            WHERE {h16} < (CASE {qcases}
                           ELSE {int(_HYG_DEFAULT_QUOTA * (1 << 16))} END)
        ), {red_sql}
        SELECT doc_id, source, md5(t) AS text_md5 FROM {cur}
    """


def _token_windows_cte(k: int = 8) -> str:
    """Shared words+grams CTE for the substring-dedup/decontamination
    oracles: mirrors dedup.token_windows (lowercase, whitespace split,
    empty tokens filtered BEFORE positions are assigned, md5 of the
    space-joined k-gram).  Positions are 1-based here vs posexplode's
    0-based — only relative arithmetic reaches the results."""
    joined = " || ' ' || ".join(
        ["w"] + [f"lead(w,{i}) OVER win" for i in range(1, k)])
    return f"""
        words AS (
            SELECT doc_id, source, unnest(ws) AS w,
                   generate_subscripts(ws, 1) AS pos
            FROM (SELECT doc_id, source,
                         list_filter(regexp_split_to_array(lower(text), '\\s+'),
                                     x -> x <> '') AS ws
                  FROM documents) t
        ), grams AS (
            SELECT doc_id, source, pos, md5({joined}) AS gram_id,
                   lead(w,{k - 1}) OVER win AS wlast
            FROM words WINDOW win AS (PARTITION BY doc_id ORDER BY pos)
        ), g AS (
            SELECT doc_id, source, pos, gram_id FROM grams
            WHERE wlast IS NOT NULL
        )"""


def _substring_dedup_oracle(k: int = 8) -> str:
    return f"""
        WITH {_token_windows_cte(k)},
        dup AS (
            SELECT gram_id FROM g GROUP BY gram_id
            HAVING count(DISTINCT doc_id) >= 2
        ), dpos AS (
            SELECT doc_id, pos, pos + {k - 1} AS e FROM g
            WHERE gram_id IN (SELECT gram_id FROM dup)
        ), marked AS (
            SELECT doc_id, pos, e,
                   CASE WHEN max(e) OVER (PARTITION BY doc_id ORDER BY pos
                        ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
                        >= pos THEN 0 ELSE 1 END AS is_new
            FROM dpos
        ), grp AS (
            SELECT doc_id, pos, e,
                   sum(is_new) OVER (PARTITION BY doc_id ORDER BY pos
                       ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                       AS gidx
            FROM marked
        ), ivals AS (
            SELECT doc_id, gidx, max(e) - min(pos) + 1 AS clen,
                   count(*) AS cnt
            FROM grp GROUP BY doc_id, gidx
        ), cov AS (
            SELECT doc_id, CAST(sum(cnt) AS BIGINT) AS n_dup_windows,
                   CAST(sum(clen) AS BIGINT) AS dup_tokens
            FROM ivals GROUP BY doc_id
        ), tot AS (
            SELECT doc_id, count(*) AS n_tokens FROM words GROUP BY doc_id
        )
        SELECT t.doc_id, t.n_tokens,
               CAST(coalesce(c.n_dup_windows, 0) AS BIGINT) AS n_dup_windows,
               CAST(coalesce(c.dup_tokens, 0) AS BIGINT) AS dup_tokens,
               round(coalesce(c.dup_tokens, 0) / t.n_tokens, 4) AS dup_frac
        FROM tot t LEFT JOIN cov c USING (doc_id)
    """


def _decontaminate_oracle(k: int = 8) -> str:
    evs = ", ".join(f"'{s}'" for s in _EVAL_SOURCES)
    return f"""
        WITH {_token_windows_cte(k)},
        ev AS (
            SELECT DISTINCT gram_id FROM g WHERE source IN ({evs})
        ), tw AS (
            SELECT doc_id, gram_id FROM g WHERE source NOT IN ({evs})
        ), per_doc AS (
            SELECT doc_id, count(*) AS n_windows FROM tw GROUP BY doc_id
        ), hits AS (
            SELECT doc_id, count(*) AS n_hits FROM tw
            WHERE gram_id IN (SELECT gram_id FROM ev) GROUP BY doc_id
        )
        SELECT h.doc_id, p.n_windows, h.n_hits,
               round(h.n_hits / p.n_windows, 4) AS hit_frac
        FROM hits h JOIN per_doc p USING (doc_id)
    """


def oracle_sql(sf_dir: str = "") -> dict[str, str]:
    """DuckDB equivalents; tables are pre-registered views named like
    the parquet files, so plain table names are used."""
    return {
        "q01_pricing_summary": """
            SELECT l_returnflag, l_linestatus,
                   round(sum(l_quantity), 2) AS sum_qty,
                   round(sum(l_extendedprice), 2) AS sum_base_price,
                   round(sum(l_extendedprice * (1 - l_discount)), 2) AS sum_disc_price,
                   round(avg(l_quantity), 4) AS avg_qty,
                   count(*) AS count_order
            FROM lineitem
            WHERE l_shipdate <= TIMESTAMP '1997-09-01 00:00:00'
            GROUP BY l_returnflag, l_linestatus
        """,
        "q02_revenue_by_nation": """
            SELECT n_name,
                   round(sum(o_totalprice), 2) AS revenue,
                   count(*) AS n_orders
            FROM orders
            JOIN customer ON o_custkey = c_custkey
            JOIN nation ON c_nationkey = n_nationkey
            GROUP BY n_name
        """,
        "q03_order_priority": """
            SELECT o_orderpriority, count(*) AS order_count
            FROM orders
            WHERE o_orderdate >= TIMESTAMP '1995-01-01 00:00:00'
              AND o_orderdate < TIMESTAMP '1996-01-01 00:00:00'
            GROUP BY o_orderpriority
        """,
        "q04_running_total": """
            SELECT o_custkey, o_orderkey,
                   round(sum(o_totalprice) OVER (
                       PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
                       ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW), 2)
                       AS running_total,
                   round(o_totalprice - coalesce(lag(o_totalprice, 1) OVER (
                       PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey), 0.0), 2)
                       AS delta_prev
            FROM orders
        """,
        "q05_topk_per_group": """
            SELECT user_id, event_id, round(value, 4) AS value, rk FROM (
                SELECT user_id, event_id, value,
                       row_number() OVER (PARTITION BY user_id
                                          ORDER BY value DESC, event_id) AS rk
                FROM events) t
            WHERE rk <= 3
        """,
        "q06_sessionize": """
            WITH g AS (
                SELECT user_id, ts, event_id,
                       CASE WHEN epoch(ts) - epoch(lag(ts) OVER w) IS NULL
                              OR epoch(ts) - epoch(lag(ts) OVER w) > 1800
                            THEN 1 ELSE 0 END AS new_sess
                FROM events
                WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
            ), s AS (
                SELECT user_id,
                       sum(new_sess) OVER (PARTITION BY user_id ORDER BY ts, event_id
                           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS session_id
                FROM g
            ), per_sess AS (
                SELECT user_id, session_id, count(*) AS n_events
                FROM s GROUP BY user_id, session_id
            )
            SELECT user_id, count(*) AS n_sessions,
                   round(avg(n_events), 4) AS avg_events_per_session,
                   max(n_events) AS max_events
            FROM per_sess GROUP BY user_id
        """,
        "q07_asof_join": """
            SELECT event_id, user_id, o_orderkey,
                   round(o_totalprice, 2) AS last_order_price
            FROM (
                SELECT e.event_id, e.user_id, o.o_orderkey, o.o_totalprice,
                       row_number() OVER (PARTITION BY e.event_id
                           ORDER BY o.o_orderdate DESC, o.o_orderkey DESC) AS rk
                FROM events e
                JOIN orders o ON e.user_id = o.o_custkey AND o.o_orderdate <= e.ts
            ) t WHERE rk = 1
        """,
        "q08_cve_extract": f"""
            SELECT cve, count(*) AS n_mentions,
                   count(DISTINCT doc_id) AS n_docs
            FROM (
                SELECT doc_id, unnest(regexp_extract_all(text, 'CVE-\\d+-\\d+')) AS cve
                FROM {_values_sql()}
            ) t GROUP BY cve
        """,
        "q09_exact_dedup": """
            SELECT md5(text) AS content_hash, count(*) AS n_copies,
                   min(doc_id) AS keeper_doc_id
            FROM documents GROUP BY md5(text) HAVING count(*) > 1
        """,
        "q10_token_stats": """
            SELECT lang, count(*) AS n_docs,
                   round(avg(n_tokens), 4) AS avg_tokens,
                   max(n_tokens) AS max_tokens,
                   min(n_tokens) AS min_tokens
            FROM (SELECT lang, len(regexp_split_to_array(text, '\\s+')) AS n_tokens
                  FROM documents) t
            GROUP BY lang
        """,
        "q11_quality_scores": """
            SELECT source,
                   round(avg(CASE WHEN w IN ('the','a','of','to','and')
                                  THEN 1.0 ELSE 0.0 END), 4) AS stopword_ratio,
                   round(avg(length(w)), 4) AS avg_word_len,
                   count(*) AS n_words
            FROM (SELECT source, unnest(regexp_split_to_array(text, '\\s+')) AS w
                  FROM documents) t
            WHERE w <> ''
            GROUP BY source
        """,
        "q12_lang_dist": """
            SELECT lang, count(*) AS n_docs, round(avg(n_chars), 4) AS avg_chars
            FROM documents GROUP BY lang
        """,
        "q13_minhash_bands": """
            WITH words AS (
                SELECT doc_id, w, pos FROM (
                    SELECT doc_id,
                           unnest(regexp_split_to_array(text, '\\s+')) AS w,
                           generate_subscripts(regexp_split_to_array(text, '\\s+'), 1) AS pos
                    FROM documents) t
            ), sh AS (
                SELECT doc_id,
                       w || ' ' || lead(w, 1) OVER win || ' ' || lead(w, 2) OVER win AS shingle,
                       lead(w, 2) OVER win AS w2
                FROM words
                WINDOW win AS (PARTITION BY doc_id ORDER BY pos)
            ), sig AS (
                SELECT doc_id,
                       min(md5('0' || '|' || shingle)) AS minh0,
                       min(md5('1' || '|' || shingle)) AS minh1,
                       min(md5('2' || '|' || shingle)) AS minh2,
                       min(md5('3' || '|' || shingle)) AS minh3
                FROM sh WHERE w2 IS NOT NULL GROUP BY doc_id
            ), buckets AS (
                SELECT band, bucket, count(*) AS bucket_size FROM (
                    SELECT 0 AS band, minh0 AS bucket FROM sig
                    UNION ALL SELECT 1, minh1 FROM sig
                    UNION ALL SELECT 2, minh2 FROM sig
                    UNION ALL SELECT 3, minh3 FROM sig
                ) u GROUP BY band, bucket HAVING count(*) > 1
            )
            SELECT band, count(*) AS n_buckets,
                   CAST(sum(bucket_size * (bucket_size - 1) / 2) AS BIGINT)
                       AS n_candidate_pairs
            FROM buckets GROUP BY band
        """,
        "q14_embedding_knn": """
            SELECT query_id, neighbor_id, sim, rk FROM (
                SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
                       round(
                         list_dot_product(q.embedding::DOUBLE[], c.embedding::DOUBLE[])
                         / (sqrt(list_dot_product(q.embedding::DOUBLE[], q.embedding::DOUBLE[]))
                            * sqrt(list_dot_product(c.embedding::DOUBLE[], c.embedding::DOUBLE[]))),
                         4) AS sim,
                       row_number() OVER (PARTITION BY q.vec_id
                           ORDER BY round(
                             list_dot_product(q.embedding::DOUBLE[], c.embedding::DOUBLE[])
                             / (sqrt(list_dot_product(q.embedding::DOUBLE[], q.embedding::DOUBLE[]))
                                * sqrt(list_dot_product(c.embedding::DOUBLE[], c.embedding::DOUBLE[]))) , 4) DESC,
                           c.vec_id) AS rk
                FROM embeddings q, embeddings c
                WHERE q.vec_id < 20 AND q.vec_id <> c.vec_id
            ) t WHERE rk <= 5
        """,
        "q15_rollup": """
            SELECT l_returnflag, l_linestatus,
                   round(sum(l_quantity), 2) AS sum_qty, count(*) AS n
            FROM lineitem GROUP BY ROLLUP (l_returnflag, l_linestatus)
        """,
        "q16_event_windows": """
            SELECT strftime(date_trunc('hour', ts), '%Y-%m-%d %H:%M:%S')
                       AS window_start, event_type,
                   count(*) AS n, round(sum(value), 2) AS sum_value
            FROM events GROUP BY 1, event_type
        """,
        "q17_span_assembly": """
            WITH words AS (
                SELECT doc_id,
                       unnest(regexp_split_to_array(text, '\\s+')) AS w,
                       generate_subscripts(regexp_split_to_array(text, '\\s+'), 1) AS pos
                FROM documents
            ), tagged AS (
                SELECT doc_id, pos,
                       CASE WHEN w IN ('spark','join','merge') THEN 1 ELSE 0 END AS is_kw,
                       CASE WHEN w IN ('spark','join','merge')
                             AND coalesce(lag(w IN ('spark','join','merge')) OVER win, FALSE) = FALSE
                            THEN 1 ELSE 0 END AS start
                FROM words WINDOW win AS (PARTITION BY doc_id ORDER BY pos)
            ), spans AS (
                SELECT doc_id, span_id, count(*) AS span_len FROM (
                    SELECT doc_id, is_kw,
                           sum(start) OVER (PARTITION BY doc_id ORDER BY pos
                               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS span_id
                    FROM tagged) t
                WHERE is_kw = 1 GROUP BY doc_id, span_id
            )
            SELECT doc_id, count(*) AS n_spans, max(span_len) AS max_span_len,
                   CAST(sum(span_len) AS BIGINT) AS n_kw_tokens
            FROM spans GROUP BY doc_id
        """,
        "q18_simhash": _simhash_oracle(),
        "q19_ngram_jaccard": _ngram_jaccard_oracle(),
        "q20_embedding_neardup": """
            SELECT doc_a, doc_b, sim FROM (
                SELECT a.vec_id AS doc_a, b.vec_id AS doc_b,
                       round(list_dot_product(a.embedding::DOUBLE[], b.embedding::DOUBLE[])
                             / (sqrt(list_dot_product(a.embedding::DOUBLE[], a.embedding::DOUBLE[]))
                                * sqrt(list_dot_product(b.embedding::DOUBLE[], b.embedding::DOUBLE[]))),
                             4) AS sim
                FROM embeddings a, embeddings b
                WHERE a.vec_id < b.vec_id
            ) t WHERE sim >= 0.4
        """,
        "q21_ann_lsh": _ann_lsh_oracle(),
        "q22_langid": _langid_oracle(),
        "q23_fingerprints": _fingerprints_oracle(),
        "q24_multimodal_meta": """
            SELECT source, count(*) AS n_blobs,
                   CAST(sum(octet_length(encode(text))) AS BIGINT) AS total_bytes,
                   count(DISTINCT md5(text)) AS n_distinct_sha
            FROM documents GROUP BY source
        """,
        "q29_ner_lookback": _ner_lookback_oracle(),
        "q33_substring_dedup": _substring_dedup_oracle(),
        "q34_decontaminate": _decontaminate_oracle(),
        "q35_unigram_logprob": """
            WITH words AS (
                SELECT doc_id,
                       unnest(list_filter(
                           regexp_split_to_array(lower(text), '\\s+'),
                           x -> x <> '')) AS w
                FROM documents
            ), dw AS (
                SELECT doc_id, w, count(*) AS c FROM words
                GROUP BY doc_id, w
            ), vocab AS (
                SELECT w, sum(c) AS cw FROM dw GROUP BY w
            ), tot AS (
                SELECT sum(cw) AS n_total, count(*) AS v FROM vocab
            ), scored AS (
                SELECT w, log10((cw + 0.5) / (n_total + 0.5 * (v + 1)))
                       AS logp
                FROM vocab, tot
            )
            SELECT dw.doc_id, CAST(sum(c) AS BIGINT) AS n_tokens,
                   round(sum(c * logp) / sum(c), 4) AS mean_logp10
            FROM dw JOIN scored USING (w) GROUP BY dw.doc_id
        """,
        "q36_neardup_clusters": _neardup_clusters_oracle(),
        "q37_url_dedup": _url_dedup_oracle(),
        "q38_host_blocklist": _host_blocklist_oracle(),
        "q39_corpus_hygiene": _corpus_hygiene_oracle(),
        "q40_line_dedup": _line_dedup_oracle(),
        "q41_token_shards": _token_shards_oracle(),
        "q42_dsir_weights": _dsir_oracle(),
        "q43_upsample_epochs": _upsample_oracle(),
        "q44_c4_line_clean": _c4_line_clean_oracle(),
        "q45_khop_neighbors": _khop_oracle(),
        "q46_pagerank": _pagerank_oracle(),
        "q47_temperature_mix": _temperature_mix_oracle(),
        "q48_warc_roundtrip": _warc_roundtrip_oracle(),
        "q50_pack_sequences": _pack_sequences_oracle(),
        "q51_robots_gate": _robots_gate_oracle(),
        "q52_html_extract": _html_extract_oracle(),
        "q53_bm25_topk": _bm25_oracle(),
        "q55_triangle_counts": _triangle_oracle(),
        "q56_negative_samples": _negative_samples_oracle(),
        "q57_leakage_split": _leakage_split_oracle(),
        "q58_kmv_cardinality": _kmv_oracle(),
        "q59_label_propagation": _label_propagation_oracle(),
        "q60_adamic_adar": _adamic_adar_oracle(),
        "q65_shard_checksums": """
            SELECT (('0x' || substring(md5(doc_id::varchar), 1, 4))::int
                    % 8) AS shard,
                   count(*) AS n_docs,
                   CAST(sum(('0x' || substring(
                        md5(doc_id::varchar || '|' || md5(text)),
                        1, 8))::bigint) AS BIGINT) AS content_checksum
            FROM documents GROUP BY 1
        """,
        "q64_weighted_sample": """
            SELECT doc_id, weight, sample_rank FROM (
                SELECT doc_id, CAST(n_chars AS DOUBLE) AS weight,
                       row_number() OVER (ORDER BY skey DESC, doc_id)
                           AS sample_rank
                FROM (
                    SELECT doc_id, n_chars,
                           round(ln((('0x' || substring(
                                       md5(doc_id::varchar), 1, 8))::bigint
                                     + 1.0) / 4294967296.0)
                                 / n_chars, 8) AS skey
                    FROM documents WHERE n_chars > 0) t
            ) r WHERE sample_rank <= 100
        """,
        "q63_crawl_delta": """
            WITH a AS (SELECT doc_id, md5(text) AS h_a FROM documents),
            b AS (
                SELECT doc_id,
                       md5(CASE WHEN doc_id % 5 = 0
                                THEN text || ' refreshed'
                                ELSE text END) AS h_b
                FROM documents WHERE doc_id % 7 <> 0
                UNION ALL
                SELECT doc_id + 1000000 AS doc_id, md5(text) AS h_b
                FROM documents WHERE (doc_id + 1000000) % 3 = 0
            )
            SELECT coalesce(a.doc_id, b.doc_id) AS doc_id,
                   CASE WHEN a.h_a IS NULL THEN 'added'
                        WHEN b.h_b IS NULL THEN 'removed'
                        WHEN a.h_a = b.h_b THEN 'unchanged'
                        ELSE 'changed' END AS status
            FROM a FULL OUTER JOIN b ON a.doc_id = b.doc_id
        """,
        "q62_range_join": """
            SELECT e.event_id, i.incident_id,
                   CAST(floor(epoch(e.ts)) - floor(epoch(i.ts))
                        AS BIGINT) AS secs_since
            FROM events e
            JOIN (SELECT user_id, event_id AS incident_id, ts
                  FROM events WHERE event_id % 20 = 0) i
              ON e.user_id = i.user_id
             AND floor(epoch(e.ts)) >= floor(epoch(i.ts))
             AND floor(epoch(e.ts)) < floor(epoch(i.ts)) + 7200
        """,
        "q61_length_quantiles": """
            SELECT lang, count(*) AS n_docs,
                   round(quantile_cont(nt, 0.25), 4) AS p25,
                   round(quantile_cont(nt, 0.50), 4) AS p50,
                   round(quantile_cont(nt, 0.75), 4) AS p75,
                   round(quantile_cont(nt, 0.90), 4) AS p90
            FROM (SELECT lang,
                         len(list_filter(
                             regexp_split_to_array(text, '\\s+'),
                             x -> x <> '')) AS nt
                  FROM documents) t
            GROUP BY lang
        """,
        "q30_source_quota": _source_quota_oracle(),
        "q32_pii_redaction": _pii_redaction_oracle(),
        "q31_repetition": """
            WITH words AS (
                SELECT doc_id, w, pos FROM (
                    SELECT doc_id,
                           unnest(regexp_split_to_array(lower(text), '\\s+')) AS w,
                           generate_subscripts(regexp_split_to_array(lower(text), '\\s+'), 1) AS pos
                    FROM documents WHERE doc_id < 100) t
                WHERE w <> ''
            ), grams AS (
                SELECT doc_id, w, pos,
                       lead(w, 1) OVER win AS w1,
                       lead(w, 2) OVER win AS w2
                FROM words WINDOW win AS (PARTITION BY doc_id ORDER BY pos)
            ), agg AS (
                SELECT doc_id,
                       count(w) AS n,
                       count(CASE WHEN w1 IS NOT NULL THEN 1 END) AS nb,
                       count(DISTINCT CASE WHEN w1 IS NOT NULL
                             THEN w || ' ' || w1 END) AS ndb,
                       count(CASE WHEN w2 IS NOT NULL THEN 1 END) AS nt,
                       count(DISTINCT CASE WHEN w2 IS NOT NULL
                             THEN w || ' ' || w1 || ' ' || w2 END) AS ndt
                FROM grams GROUP BY doc_id
            ), top AS (
                SELECT doc_id, max(c) AS topc FROM (
                    SELECT doc_id, w, count(*) AS c FROM words
                    GROUP BY doc_id, w) t GROUP BY doc_id
            )
            SELECT a.doc_id,
                   round((nb - ndb) / greatest(nb, 1), 4) AS dup_bigram_frac,
                   round((nt - ndt) / greatest(nt, 1), 4) AS dup_trigram_frac,
                   round(topc / n, 4) AS top_word_frac
            FROM agg a JOIN top USING (doc_id)
        """,
    }
