"""corpus.prepare_training_corpus: the composed hygiene chain drops
exactly the planted offenders, stage by stage, and preserves the
input schema."""

from __future__ import annotations

import pytest

from casie_spark.corpus import prepare_training_corpus

# distinct survivor bodies (enough stopwords/alpha to pass quality,
# no shared shingles so the near-dup gate cannot chain them)
T1 = ("the report describes a new analysis of the network data and "
      "the results are clear")
T2 = ("a second article explains the storage system and how the cache "
      "behaves under heavy load")
T3 = ("the third page talks about weather patterns and the ocean "
      "currents in the north sea")
T4 = ("the fourth body text differs from the first but the address "
      "points at the same page")
NEAR_A = ("the quick brown fox jumps over the lazy dog and runs far "
          "away into the hills today")
NEAR_B = ("the quick brown fox jumps over the lazy dog and runs far "
          "away into the hills tonight")
EVAL_TXT = ("question one two three four five six seven eight nine ten "
            "answer")
T11 = ("the contact page lists bob@example.com as the address for all "
       "the support questions")


def _docs(spark):
    rows = [
        # survivors
        (1, "https://good.org/a", T1, "src0"),
        (2, "https://good.org/b", T2, "src0"),
        # blocked host (subdomain of a blocklist entry)
        (3, "https://ads.spam.com/x", T3, "src0"),
        # url-dup of doc 1 (www + tracking param + fragment)
        (4, "https://www.good.org/a?utm_source=f#top", T4, "src0"),
        # exact text dup of doc 2
        (5, "https://good.org/c", T2, "src0"),
        # too short: fails the min-token quality gate
        (6, "https://good.org/d", "ok", "src0"),
        # boilerplate: passes quality, fails the dup-bigram gate
        (7, "https://good.org/e", "buy the item " * 10, "src0"),
        # near-dup pair: 8 survives (min id), 9 drops
        (8, "https://good.org/f", NEAR_A, "src0"),
        (9, "https://good.org/g", NEAR_B, "src0"),
        # contaminated: shares an 8-token window with the eval set
        (10, "https://good.org/h",
         "the benchmark " + EVAL_TXT + " is listed here", "src0"),
        # PII survivor: email must be redacted, row kept
        (11, "https://good.org/i", T11, "src0"),
    ]
    return spark.createDataFrame(
        rows, "doc_id long, url string, text string, source string")


def test_prepare_training_corpus_stages(spark):
    eval_set = spark.createDataFrame(
        [(100, EVAL_TXT)], "doc_id long, text string")
    out, report = prepare_training_corpus(
        _docs(spark),
        blocklist=["spam.com"],
        neardup_threshold=0.5,
        eval_set=eval_set,
        redact=True,
        with_report=True,
    )
    rows = {r["doc_id"]: r for r in out.collect()}
    assert sorted(rows) == [1, 2, 8, 11]
    # schema preserved, order included
    assert out.columns == ["doc_id", "url", "text", "source"]
    # the PII survivor is redacted in place
    assert "<EMAIL>" in rows[11]["text"]
    assert "bob@example.com" not in rows[11]["text"]
    # the report tells the story stage by stage
    assert report["input"] == 11
    assert report["host_blocklist"] == 10      # -3
    assert report["url_dedup"] == 9            # -4 (canonical twin of 1)
    assert report["exact_dedup"] == 8          # -5
    assert report["quality"] == 7              # -6
    assert report["repetition"] == 6           # -7
    assert report["neardup"] == 5              # -9
    assert report["decontaminate"] == 4        # -10
    assert report["redact"] == 4


def test_prepare_training_corpus_default_gates(spark):
    """Disabled gates change nothing: with url dropped and every
    optional gate off, only exact text dedup applies."""
    df = prepare_training_corpus(
        _docs(spark).drop("url"), url_dedup=None, redact=False,
        min_quality=None, min_tokens=0, max_dup_bigram_frac=None,
        max_top_word_frac=None)
    assert sorted(r["doc_id"] for r in df.collect()) == [
        1, 2, 3, 4, 6, 7, 8, 9, 10, 11]


def test_pack_token_shards_invariants(spark):
    """Every bin's token load stays under budget + one document (the
    documented closed-form relaxation of greedy packing), assignment
    is deterministic, and every doc lands in exactly one (shard, bin)."""
    from pyspark.sql import functions as F

    from casie_spark.corpus import pack_token_shards

    rows = [(i, "w " * (5 + (i * 7) % 40)) for i in range(200)]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    out = pack_token_shards(docs, budget_tokens=60, n_shards=4)
    got = out.collect()
    assert len(got) == 200 and len({r["doc_id"] for r in got}) == 200
    max_doc = max(r["n_tokens"] for r in got)
    loads = (
        out.groupBy("shard", "bin").agg(F.sum("n_tokens").alias("load"))
        .collect()
    )
    assert all(r["load"] <= 60 + max_doc for r in loads)
    # bins are consecutive from 0 within each shard
    for shard in {r["shard"] for r in got}:
        bins = sorted({r["bin"] for r in got if r["shard"] == shard})
        assert bins == list(range(len(bins)))
    # deterministic across recomputation
    again = {(r["doc_id"], r["shard"], r["bin"])
             for r in pack_token_shards(docs, 60, 4).collect()}
    assert again == {(r["doc_id"], r["shard"], r["bin"]) for r in got}


def test_pack_token_shards_null_text_counts_zero(spark):
    """A null text holds 0 tokens and gets a bin, exactly like an
    empty text (a null count would leave the document unbinned)."""
    from casie_spark.corpus import pack_token_shards

    docs = spark.createDataFrame(
        [(1, None), (2, ""), (3, "a b c"), (4, "d e")],
        "doc_id long, text string")
    got = {r["doc_id"]: (r["n_tokens"], r["bin"])
           for r in pack_token_shards(docs, budget_tokens=2,
                                      n_shards=1).collect()}
    assert got[1][0] == 0 and got[2][0] == 0, got
    assert all(b is not None for _, b in got.values()), got
    assert sorted(n for n, _ in got.values()) == [0, 0, 2, 3]


def test_prepare_training_corpus_line_dedup_stage(spark):
    """The optional 3b stage: a boilerplate line repeated across docs
    survives once (smallest doc), runs after exact dedup and BEFORE the
    quality gates (they must score the cleaned text)."""
    bp = "subscribe to our newsletter"
    rows = [
        (1, f"the first article body has plenty of the words\n{bp}"),
        (2, f"a second article body of the same general shape\n{bp}"),
    ]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    out, report = prepare_training_corpus(
        docs, line_dedup=True, min_tokens=0, min_quality=None,
        max_dup_bigram_frac=None, max_top_word_frac=None,
        redact=False, with_report=True)
    got = {r["doc_id"]: r["text"] for r in out.collect()}
    assert got[1].endswith(bp)
    assert bp not in got[2]
    assert report["line_dedup"] == 2  # transform, not a filter


def test_prepare_training_corpus_c4_stage(spark):
    """The optional 3a stage: C4 line rules rewrite the text (junk
    lines dropped) and page rules drop whole docs, before the quality
    gates score the cleaned text."""
    good = "this sentence is long enough to survive the line rules."
    rows = [
        (1, f"{good}\nnav menu\n{good}\n{good}"),
        (2, f"{good}\n{good}\n{good}\nclassic lorem ipsum filler."),
    ]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    out, report = prepare_training_corpus(
        docs, c4_line_rules=True, min_tokens=0, min_quality=None,
        max_dup_bigram_frac=None, max_top_word_frac=None,
        redact=False, with_report=True)
    got = {r["doc_id"]: r["text"] for r in out.collect()}
    assert set(got) == {1}                       # doc 2: lorem ipsum page
    assert got[1] == "\n".join([good] * 3)       # nav line dropped
    assert report["c4_line_rules"] == 1
    assert list(out.columns) == ["doc_id", "text"]


def test_write_training_shards_resumable(spark, tmp_path):
    """The corpus sink twin of sinks.resumable_run: interrupted input
    marks only delivered shards complete; resume writes the remainder;
    a completed run is a no-op; parquet rows match the manifest."""
    from pyspark.sql import functions as F

    from casie_spark.corpus import pack_token_shards, write_training_shards
    from casie_spark.manifests import pending_buckets, read_manifest

    out = str(tmp_path / "shards_run")
    rows = [(i, "tok " * (10 + i % 30)) for i in range(120)]
    docs = spark.createDataFrame(rows, "doc_id long, text string").persist()
    n_shards = 4

    assign = pack_token_shards(docs, 80, n_shards)
    # interrupted run: upstream delivered only shards 0-1
    part_ids = assign.filter("shard < 2").select("doc_id")
    r1 = write_training_shards(docs.join(part_ids, "doc_id"), out,
                               budget_tokens=80, n_shards=n_shards)
    assert sorted(r1["written_shards"]) == [0, 1]
    assert sorted(pending_buckets(spark, out, "training_shards",
                                  n_shards)) == [2, 3]

    # resume with the full corpus: only the missing shards are written
    r2 = write_training_shards(docs, out, budget_tokens=80,
                               n_shards=n_shards)
    assert sorted(r2["written_shards"]) == [2, 3]
    # completed: third run is a no-op
    r3 = write_training_shards(docs, out, budget_tokens=80,
                               n_shards=n_shards)
    assert r3 == {"written_shards": [], "rows": 0}

    got = spark.read.parquet(out + "/shards")
    assert got.count() == 120
    m = read_manifest(spark, out)
    assert m.filter("status='ok'").count() == n_shards
    assert m.agg(F.sum("rows")).first()[0] == 120
    # shard/bin partition values round-trip and match a fresh packing
    fresh = {(r["doc_id"], r["shard"], r["bin"])
             for r in pack_token_shards(docs, 80, n_shards).collect()}
    assert {(r["doc_id"], int(r["shard"]), int(r["bin"]))
            for r in got.select("doc_id", "shard", "bin").collect()} == fresh


def test_dsir_logratio_separates_target_from_pool(spark):
    """DSIR semantics: docs written in the target slice's vocabulary
    score a higher mean log-ratio than docs from a disjoint
    vocabulary, and the score is a pure function of the text (same
    result under different partitioning)."""
    from casie_spark.corpus import dsir_logratio
    from pyspark.sql import functions as F

    tgt = "the security advisory describes the patch and the fix"
    off = "zzq qqz zqz qzq zzzq qqqz"
    rows = ([(i, tgt + f" v{i}", "en") for i in range(8)]
            + [(100 + i, off + f" w{i}", "zz") for i in range(8)]
            # unlabeled docs drawn from each vocabulary
            + [(200, tgt + " extra", "xx"), (201, off + " extra", "xx")])
    docs = spark.createDataFrame(rows, "doc_id long, text string, lang string")

    got = {r["doc_id"]: r for r in
           dsir_logratio(docs, F.col("lang") == "en").collect()}
    assert len(got) == 18
    assert got[200]["logratio"] > got[201]["logratio"]
    assert got[0]["logratio"] > 0 and got[100]["logratio"] < 0
    assert got[0]["keep"] and not got[100]["keep"]

    re_got = {r["doc_id"]: r["logratio"] for r in
              dsir_logratio(docs.repartition(7), F.col("lang") == "en")
              .collect()}
    assert re_got == {k: v["logratio"] for k, v in got.items()}


def test_upsample_epochs_deterministic_and_bounded(spark):
    """upsample_epochs: every doc realizes floor(w) or ceil(w) copies
    with epoch ids 0..n-1, the realization is a pure function of the
    id (identical under different partitioning), and the corpus-level
    mean copy count approaches w."""
    import math

    from casie_spark.corpus import upsample_epochs
    from pyspark.sql import functions as F

    docs = spark.createDataFrame(
        [(i, "t") for i in range(400)], "doc_id long, text string")
    w = 1.75
    out = upsample_epochs(docs, F.lit(w)).collect()
    per_doc = {}
    for r in out:
        per_doc.setdefault(r["doc_id"], []).append(r["epoch"])
    for did, eps in per_doc.items():
        n = len(eps)
        assert n in (math.floor(w), math.ceil(w))
        assert sorted(eps) == list(range(n))
    total = len(out)
    assert abs(total / 400 - w) < 0.1  # hash draw ~ fair coin at p=.75

    again = sorted((r["doc_id"], r["epoch"]) for r in
                   upsample_epochs(docs.repartition(13), F.lit(w)).collect())
    assert again == sorted((r["doc_id"], r["epoch"]) for r in out)

    # fractional-only weight can drop docs entirely (w < 1)
    half = upsample_epochs(docs, F.lit(0.5)).collect()
    assert 0 < len(half) < 400
    assert all(r["n_copies"] == 1 and r["epoch"] == 0 for r in half)


def test_dsir_sample_fit_scale_path(spark):
    """stats_frac fits the bucket distributions on a deterministic
    hash-sample (the 100 TB path): scores shift slightly but the
    target/pool separation and keep flags survive, and the realization
    is partition-invariant."""
    from casie_spark.corpus import dsir_logratio
    from pyspark.sql import functions as F

    tgt = "the security advisory describes the patch and the fix"
    off = "zzq qqz zqz qzq zzzq qqqz"
    rows = ([(i, tgt + f" v{i}", "en") for i in range(20)]
            + [(100 + i, off + f" w{i}", "zz") for i in range(20)])
    docs = spark.createDataFrame(rows, "doc_id long, text string, lang string")

    got = {r["doc_id"]: r for r in
           dsir_logratio(docs, F.col("lang") == "en",
                         stats_frac=0.5).collect()}
    assert len(got) == 40  # every doc scored, sample only fits stats
    assert all(got[i]["keep"] for i in range(20))
    assert not any(got[100 + i]["keep"] for i in range(20))

    re_got = {r["doc_id"]: r["logratio"] for r in
              dsir_logratio(docs.repartition(9), F.col("lang") == "en",
                            stats_frac=0.5).collect()}
    assert re_got == {k: v["logratio"] for k, v in got.items()}


def test_temperature_weights_properties(spark):
    """Temperature reweighting: total expected corpus size preserved
    (sum of weights == N), rare groups upweighted above 1 and head
    groups below 1 at alpha < 1, and alpha = 1 is the identity."""
    from casie_spark.corpus import temperature_weights
    from pyspark.sql import functions as F

    rows = ([(i, "en") for i in range(90)]
            + [(100 + i, "sw") for i in range(10)])
    docs = spark.createDataFrame(rows, "doc_id long, lang string")

    out = temperature_weights(docs, "lang", alpha=0.5, round_to=None)
    w = {r["lang"]: r["weight"] for r in
         out.select("lang", "weight").distinct().collect()}
    assert w["sw"] > 1.0 > w["en"]
    total = out.agg(F.sum("weight")).first()[0]
    assert abs(total - 100) < 1e-9
    # tempered shares: q_sw/q_en == (p_sw/p_en)^alpha
    assert (10 * w["sw"]) / (90 * w["en"]) == pytest.approx(
        (10 / 90) ** 0.5, rel=1e-12)

    ident = {r["lang"]: r["weight"] for r in
             temperature_weights(docs, "lang", alpha=1.0, round_to=None)
             .select("lang", "weight").distinct().collect()}
    assert ident["en"] == pytest.approx(1.0) and ident["sw"] == pytest.approx(1.0)


def test_pack_sequences_invariants(spark):
    """Sequence packing: segments tile every doc exactly once, every
    sequence except each shard's last holds exactly seq_len tokens
    with gap-free seq_offsets, and the realization is deterministic."""
    from casie_spark.corpus import pack_sequences

    rows = [(i, "tok " * (3 + (i * 11) % 40)) for i in range(150)]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    L, K = 32, 4
    got = pack_sequences(docs, seq_len=L, n_shards=K).collect()

    # per-doc coverage: segments are contiguous from 0 and sum to n_tok
    per_doc = {}
    for r in got:
        per_doc.setdefault(r["doc_id"], []).append(r)
    assert len(per_doc) == 150
    for did, segs in per_doc.items():
        segs.sort(key=lambda r: r["doc_offset"])
        n_tok = 3 + (did * 11) % 40
        assert segs[0]["doc_offset"] == 0
        assert sum(s["seg_len"] for s in segs) == n_tok
        for a, b in zip(segs, segs[1:]):
            assert b["doc_offset"] == a["doc_offset"] + a["seg_len"]
            assert b["seq"] == a["seq"] + 1      # split = consecutive seqs

    # per-sequence fill: full L except the last seq of each shard
    per_seq = {}
    for r in got:
        per_seq.setdefault((r["shard"], r["seq"]), []).append(r)
    last = {}
    for (sh, sq) in per_seq:
        last[sh] = max(last.get(sh, -1), sq)
    for (sh, sq), segs in per_seq.items():
        segs.sort(key=lambda r: r["seq_offset"])
        assert segs[0]["seq_offset"] == 0
        for a, b in zip(segs, segs[1:]):
            assert b["seq_offset"] == a["seq_offset"] + a["seg_len"]
        fill = sum(s["seg_len"] for s in segs)
        if sq < last[sh]:
            assert fill == L
        else:
            assert 0 < fill <= L

    again = sorted(map(tuple, pack_sequences(
        docs.repartition(9), seq_len=L, n_shards=K).collect()))
    assert again == sorted(map(tuple, got))


def test_leakage_safe_split_invariants(spark):
    """Near-duplicate pages NEVER straddle the split fence; every doc
    gets exactly one assignment; deterministic + partition-invariant."""
    from casie_spark.corpus import leakage_safe_split
    from casie_spark.operators.dedup import (minhash_candidate_pairs,
                                             minhash_signature,
                                             word_shingles,
                                             words_with_pos)

    base = "the quick brown fox jumps over the lazy dog again and again"
    rows = []
    for i in range(30):
        if i % 3 == 0:
            rows.append((i, base + f" tail{i % 2}"))  # near-dup family
        else:
            rows.append((i, f"unique doc {i} " + " ".join(
                f"w{i}{j}" for j in range(12))))
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    out = leakage_safe_split(docs).collect()
    assert len(out) == 30 and len({r["doc_id"] for r in out}) == 30
    split_of = {r["doc_id"]: r["split"] for r in out}
    comp_of = {r["doc_id"]: r["component"] for r in out}
    # candidate pairs (the operator's own edge set) must agree on split
    pairs = minhash_candidate_pairs(minhash_signature(
        word_shingles(words_with_pos(docs), 3), 4), 4).collect()
    assert pairs, "fixture must produce near-dup candidates"
    for p in pairs:
        assert split_of[p["doc_a"]] == split_of[p["doc_b"]]
        assert comp_of[p["doc_a"]] == comp_of[p["doc_b"]]
    # determinism across partitioning
    out2 = leakage_safe_split(docs.repartition(7)).collect()
    assert sorted(map(tuple, out)) == sorted(map(tuple, out2))


def test_weighted_sample_invariants(spark):
    """A-ES weighted WOR sampling: exactly k distinct rows, heavier
    rows strongly overrepresented, deterministic and partition-
    invariant (the hash is the randomness)."""
    import pyspark.sql.functions as F

    from casie_spark.corpus import weighted_sample

    # 500 docs: ids < 100 carry weight 2000, the rest weight 20
    rows = [(i, 2000 if i < 100 else 20) for i in range(500)]
    docs = spark.createDataFrame(rows, "doc_id long, n_chars long")
    out = weighted_sample(docs, k=50).collect()
    assert len(out) == 50
    assert len({r["doc_id"] for r in out}) == 50
    assert sorted(r["sample_rank"] for r in out) == list(range(1, 51))
    heavy = sum(1 for r in out if r["doc_id"] < 100)
    # expected heavy share ~ 100*2000/(100*2000+400*20) ~ 96%;
    # any outcome under half would mean the weighting is broken
    assert heavy > 25, heavy
    out2 = weighted_sample(docs.repartition(11), k=50).collect()
    assert sorted(map(tuple, out)) == sorted(map(tuple, out2))
    # custom weight column routes through
    out3 = weighted_sample(docs, k=10, weight=F.lit(1.0)).collect()
    assert len(out3) == 10



def test_weighted_sample_skips_non_positive_weights(spark):
    """A zero weight would divide by zero and a negative one would
    flip its key's sign to the top of the ranking: neither row is
    sampled."""
    from casie_spark.corpus import weighted_sample

    docs = spark.createDataFrame([(1, 0), (2, -5), (3, 100)],
                                 "doc_id long, n_chars long")
    out = weighted_sample(docs, k=3).collect()
    assert [(r["doc_id"], r["weight"], r["sample_rank"]) for r in out] \
        == [(3, 100.0, 1)]

def test_shard_checksums_detect_mutation_and_order_invariance(spark):
    """Integrity audit semantics: identical content -> identical
    checksums under any partitioning/ordering; a single-row text
    change flips exactly that shard's checksum but not its count."""
    import pyspark.sql.functions as F

    from casie_spark.corpus import shard_checksums
    from casie_spark.functions.textstats import hash16

    rows = [(i, f"document body number {i}") for i in range(200)]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    a = {r["shard"]: (r["n_docs"], r["content_checksum"])
         for r in shard_checksums(docs, n_shards=8).collect()}
    b = {r["shard"]: (r["n_docs"], r["content_checksum"])
         for r in shard_checksums(
             docs.repartition(13).orderBy(F.desc("doc_id")),
             n_shards=8).collect()}
    assert a == b and len(a) == 8
    mutated = docs.withColumn(
        "text", F.when(F.col("doc_id") == 7,
                       F.lit("tampered")).otherwise(F.col("text")))
    c = {r["shard"]: (r["n_docs"], r["content_checksum"])
         for r in shard_checksums(mutated, n_shards=8).collect()}
    changed = {s for s in a if a[s] != c[s]}
    doc7_shard = {r["shard"] for r in spark.createDataFrame(
        [(7,)], "doc_id long").select(
        (hash16(F.col("doc_id").cast("string")) % 8).alias("shard"))
        .collect()}
    assert changed == doc7_shard
    for s in changed:
        assert a[s][0] == c[s][0]  # count unchanged, content differs
