"""Begin-repair stage (operators/begin_repair.py + train_begin.py).

Kernel-level: featurizer determinism and the shift-application
geometry (begin/text/first_token_id/n_tokens adjustments, guard
fallbacks at sentence edges and single-token spans) on a constructed
token frame with HAND-BUILT weight tables that force a chosen class —
so the test pins the Spark plumbing, not the learned artifact.  The
artifact itself is covered by the reproducibility + end-to-end gates
in test_trained_tagger.py.
"""

from __future__ import annotations

import numpy as np
import pytest
from pyspark.sql import functions as F

from casie_spark.operators.begin_repair import (
    END_SHIFTS,
    SHIFTS,
    arguments_with_context,
    repair_edges,
)
from casie_spark.operators.model_tagger import N_SHAPES, VOCAB_SIZE
from casie_spark.operators.train_begin import _KEYS, begin_features


def forced_weights(cls_index: int) -> dict:
    """Weight tables whose bias alone forces ``cls_index`` for every
    input."""
    tables = {k: np.zeros((N_SHAPES if k == "sh_p1" else VOCAB_SIZE, 4),
                          np.float32) for k in _KEYS}
    b = np.zeros(4, np.float32)
    b[cls_index] = 10.0
    tables["b"] = b
    return tables


@pytest.fixture(scope="module")
def tagged(spark):
    # one doc, two sentences; char begins mimic the tokenizer
    # (double space between "the" and "critical" exercises gap padding)
    rows = [
        # sent 0: "Flaw found ."  — arg at sentence START (no prev)
        (1, 0, 0, "Flaw", 0, "B-Vulnerability"),
        (1, 0, 1, "found", 5, "O"),
        (1, 0, 2, ".", 11, "O"),
        # sent 1: "Researchers saw the  critical flaw ."
        (1, 1, 0, "Researchers", 13, "O"),
        (1, 1, 1, "saw", 25, "O"),
        (1, 1, 2, "the", 29, "O"),
        (1, 1, 3, "critical", 34, "B-Vulnerability"),  # note 2-space gap
        (1, 1, 4, "flaw", 43, "I-Vulnerability"),
        (1, 1, 5, ".", 48, "O"),
    ]
    df = spark.createDataFrame(
        rows, "doc_id long, sent_id int, token_id int, token string, "
              "begin long, arg_tag string")
    return df.withColumn("trigger_tag", F.lit("O"))


def spans_by_begin(df):
    return {r["begin"]: r.asDict() for r in df.collect()}


def test_keep_class_is_identity(spark, tagged):
    args0 = arguments_with_context(tagged)
    out = repair_edges(args0, forced_weights(SHIFTS.index(0)), None)
    got = {r["begin"]: r for r in out.collect()}
    assert set(got) == {0, 34}
    assert got[34]["text"] == "critical flaw"
    assert got[34]["n_tokens"] == 2
    # each head drops only its own context: the begin head leaves the
    # end-context columns for an end head, which drops them
    from casie_spark.operators.begin_repair import _END_CTX_COLS

    leftover = [c for c in out.columns if c.startswith("_")]
    assert sorted(leftover) == sorted(_END_CTX_COLS)
    done = repair_edges(out, None, forced_weights(END_SHIFTS.index(0)))
    assert not [c for c in done.columns if c.startswith("_")]
    assert spans_by_begin(done)[34]["text"] == "critical flaw"


def test_shift_minus1_applies_and_guards(spark, tagged):
    out = repair_edges(arguments_with_context(tagged),
                       forced_weights(SHIFTS.index(-1)), None)
    got = spans_by_begin(out)
    # sent-1 span pulled onto "the"; pad preserves the 2-space gap so
    # the end-begin == len(text) invariant survives
    assert 29 in got
    assert got[29]["text"] == "the  critical flaw"
    assert got[29]["first_token_id"] == 2
    assert got[29]["n_tokens"] == 3
    assert got[29]["end"] - got[29]["begin"] == len(got[29]["text"])
    # sent-0 span has no previous token -> guard falls back to keep
    assert 0 in got and got[0]["text"] == "Flaw"


def test_shift_minus2_applies_and_guards(spark, tagged):
    out = repair_edges(arguments_with_context(tagged),
                       forced_weights(SHIFTS.index(-2)), None)
    got = spans_by_begin(out)
    assert 25 in got
    assert got[25]["text"] == "saw the  critical flaw"
    assert got[25]["n_tokens"] == 4
    assert got[0]["text"] == "Flaw"  # guard


def test_shift_plus1_applies_and_guards(spark, tagged):
    out = repair_edges(arguments_with_context(tagged),
                       forced_weights(SHIFTS.index(1)), None)
    got = spans_by_begin(out)
    # 2-token span shrinks onto its second token
    assert 43 in got
    assert got[43]["text"] == "flaw"
    assert got[43]["n_tokens"] == 1
    assert got[43]["first_token_id"] == 4
    # single-token span cannot shrink -> keep
    assert got[0]["text"] == "Flaw"


def test_none_weights_passthrough(spark, tagged):
    """With no head present nothing is scored, edited or dropped."""
    args0 = arguments_with_context(tagged)
    out = repair_edges(args0, None, None)
    assert out.columns == args0.columns
    got = spans_by_begin(out)
    assert got == spans_by_begin(args0)
    assert got[34]["text"] == "critical flaw"


def test_trigger_head_path(spark, tagged):
    """events_with_context + repair with label_col=subtype: the
    trigger-span variant used by the pipeline's event side."""
    from casie_spark.operators.begin_repair import events_with_context

    ev = events_with_context(
        tagged.withColumn("trigger_tag",
                          F.when(F.col("token") == "flaw", "B-Databreach")
                          .otherwise("O"))
        .withColumn("arg_tag", F.lit("O")))
    out = repair_edges(ev, forced_weights(SHIFTS.index(-1)), None,
                       label_col="subtype")
    got = spans_by_begin(out)
    # "flaw" trigger pulled onto "critical"
    assert 34 in got and got[34]["text"] == "critical flaw"
    assert got[34]["subtype"] == "Databreach"


def test_end_shift_plus1_applies_and_guards(spark, tagged):
    """END +1 absorbs the following token; a span whose next token is
    the sentence terminator still absorbs it (it exists); the sent-0
    span's +1 target 'found' exists too — force +2 to hit the guard.
    The end head runs alone."""
    out = repair_edges(arguments_with_context(tagged), None,
                       forced_weights(END_SHIFTS.index(1)))
    got = spans_by_begin(out)
    # "critical flaw" absorbs the "." (begin 48)
    assert got[34]["text"] == "critical flaw ."
    assert got[34]["n_tokens"] == 3
    assert got[34]["end"] - got[34]["begin"] == len(got[34]["text"])
    assert got[0]["text"] == "Flaw found"  # sent-0 absorbs "found"


def test_end_shift_minus1_applies_and_guards(spark, tagged):
    out = repair_edges(arguments_with_context(tagged),
                       forced_weights(SHIFTS.index(0)),
                       forced_weights(END_SHIFTS.index(-1)))
    got = spans_by_begin(out)
    # 2-token span drops its last token
    assert got[34]["text"] == "critical"
    assert got[34]["n_tokens"] == 1
    assert got[34]["end"] == 34 + len("critical")
    # single-token span cannot shrink -> keep
    assert got[0]["text"] == "Flaw"


def test_end_shift_plus2_and_chain_after_begin(spark, tagged):
    """begin -1 then end +2: both edges move, offsets stay exact."""
    out = repair_edges(arguments_with_context(tagged),
                       forced_weights(SHIFTS.index(-1)),
                       forced_weights(END_SHIFTS.index(2)))
    got = spans_by_begin(out)
    # sent-1: begin pulled onto "the" (29); end +2 would need two
    # tokens after "flaw" but only "." exists -> guard keeps end
    assert got[29]["text"] == "the  critical flaw"
    # sent-0: "Flaw" + "found ." absorbed
    assert got[0]["text"] == "Flaw found ."
    assert got[0]["n_tokens"] == 3
    assert got[0]["end"] - got[0]["begin"] == len(got[0]["text"])


def test_featurizer_deterministic_and_null_safe():
    f1 = begin_features(["Data", "CVE"], ["flaw", "CVE-2021-1"],
                        ["the", None], [None, "of"], ["was", None])
    f2 = begin_features(["Data", "CVE"], ["flaw", "CVE-2021-1"],
                        ["the", None], [None, "of"], ["was", None])
    assert set(f1) == set(_KEYS)
    for k in f1:
        assert (f1[k] == f2[k]).all()
        assert f1[k].dtype == np.int64


def test_edge_audit_recorded_and_floored():
    """Exact-edge audit artifact (r4 VERDICT next #5 — regenerate
    with `python -m casie_spark.operators.train_begin --audit`):
    begin repair must lift exact-begin span F1, and the END head must
    lift exact-(begin,end) F1 on BOTH heads."""
    import json

    from casie_spark.operators.train_begin import EDGE_AUDIT_PATH

    with open(EDGE_AUDIT_PATH) as fh:
        audit = json.load(fh)
    for head in ("nugget", "argument"):
        cfgs = audit[head]
        assert set(cfgs) == {"none", "begin", "begin+end"}
        # begin repair pays on the exact-begin key (measured +0.038)
        assert cfgs["begin"]["begin_only"]["f1"] >= \
            cfgs["none"]["begin_only"]["f1"] + 0.02
        # the end head pays on the exact-(begin,end) key
        assert cfgs["begin+end"]["begin_end"]["f1"] >= \
            cfgs["begin"]["begin_end"]["f1"] + 0.01
        # floors with margin (measured nugget 0.789 / argument 0.796)
        assert cfgs["begin+end"]["begin_end"]["f1"] >= 0.76


def test_jvm_scorer_parity_with_python_logits(spark):
    """The deployed shift scorer (JVM crc32/shape feature ids + one
    int-only pandas_udf of numpy gathers + argmax) is bit-identical to
    the Python featurizer + float64 gather_logits + np.argmax on the
    COMMITTED artifact — including null neighbors, unicode, and
    tie-prone near-zero rows."""
    import numpy as np

    from casie_spark.operators.begin_repair import (
        _with_shifts_jvm,
        load_begin_weights,
    )
    from casie_spark.operators.perceptron import gather_logits

    w = load_begin_weights()
    if w is None:
        pytest.skip("no begin artifact")

    rows = [
        ("System", "the", None, None, "server", "server", ".", None, "the"),
        ("Vulnerability", "flaw", "critical", "a", "was", "flaw",
         "was", "patched", "critical"),
        ("Person", "Users", "Müller", "Dr.", "of", "Users", "of",
         "Windows", "Müller"),
        ("Money", "$4", "than", "more", "million", "million", "in",
         "ransom", "$4"),
        ("CVE", "CVE-2021-1234", "(", "bug", ")", "CVE-2021-1234",
         ")", None, "("),
        ("Time", "Tuesday", None, None, None, "Tuesday", None, None, None),
        ("Data", "records", "10,000", "about", "were", "records",
         "were", "stolen", "10,000"),
    ]
    cols = ["arg_type", "_tok", "_p1", "_p2", "_nx",
            "_ltok", "_ln1", "_ln2", "_lp1"]
    rows = [(1, i) + r for i, r in enumerate(rows)]
    df = spark.createDataFrame(
        rows, "doc_id long, first_token_id int, "
        + ", ".join(f"{c} string" for c in cols))
    got = (
        _with_shifts_jvm(df, [
            (w["arg"], ("_tok", "_p1", "_p2", "_nx"), (-2, -1, 0, 1),
             "_shb"),
            (w["arg_end"], ("_ltok", "_ln1", "_ln2", "_lp1"), END_SHIFTS,
             "_she")], "arg_type")
        .select(*cols, "_shb", "_she").collect()
    )
    assert len(got) == len(rows)
    for r in got:
        fb = begin_features([r["arg_type"]], [r["_tok"]], [r["_p1"]],
                            [r["_p2"]], [r["_nx"]])
        exp_b = (-2, -1, 0, 1)[int(gather_logits(
            w["arg"], fb, _KEYS, np.float64).argmax(axis=1)[0])]
        fe = begin_features([r["arg_type"]], [r["_ltok"]], [r["_ln1"]],
                            [r["_ln2"]], [r["_lp1"]])
        exp_e = END_SHIFTS[int(gather_logits(
            w["arg_end"], fe, _KEYS, np.float64).argmax(axis=1)[0])]
        assert r["_shb"] == exp_b, r
        assert r["_she"] == exp_e, r


def test_jvm_hash_and_shape_twins(spark):
    """_hid_col == train_begin._h and shape_id_col == shape_id on a
    unicode/punctuation-heavy sample — the crc32 and shape JVM twins
    the scorer relies on."""
    from pyspark.sql import functions as F2

    from casie_spark.operators.begin_repair import _hid_col, shape_id_col
    from casie_spark.operators.model_tagger import shape_id
    from casie_spark.operators.train_begin import _h

    toks = ["The", "stole", "$4", "CVE-2021-1234", "", "patch-2.3.1",
            "Füße", "ABC", "a", ".", "42", "x2", "3.1", "U.S.", "don't",
            "iPhone", "²", "é", "ＡＢ", "--", "A1", "10,000"]
    df = spark.createDataFrame([(t,) for t in toks], "tok string")
    out = df.select(
        "tok",
        _hid_col("a", F2.col("tok")).alias("hid"),
        _hid_col("D", F2.col("tok"), F2.col("tok"),
                 F2.col("tok")).alias("hid3"),
        shape_id_col(F2.col("tok")).alias("sh"),
    ).collect()
    for r in out:
        assert r["hid"] == _h("a", r["tok"]), r["tok"]
        assert r["hid3"] == _h("D", r["tok"], r["tok"], r["tok"]), r["tok"]
        assert r["sh"] == shape_id(r["tok"]), r["tok"]


def _random_tagged(spark, seed: int, docs: int = 4):
    """A seeded token stream with random argument AND trigger BIO
    spans of 1-3 tokens, placed anywhere in 5-9-token sentences, so
    every edge guard (sentence start/end, single-token span) fires."""
    rng = np.random.default_rng(seed)
    words = ["hackers", "stole", "the", "critical", "flaw", "data",
             "Adobe", "$4", "million", "CVE-2021-1234", "on", "."]

    def bio(n):
        tags, i = ["O"] * n, 0
        while i < n:
            if rng.random() < 0.35:
                lab = str(rng.choice(["Databreach", "Vulnerability"]))
                k = int(rng.integers(1, 4))
                for j in range(i, min(n, i + k)):
                    tags[j] = ("B-" if j == i else "I-") + lab
                i += k + 1
            else:
                i += 1
        return tags

    rows = []
    for d in range(docs):
        begin = 0
        for s in range(3):
            n = int(rng.integers(5, 10))
            toks = [str(w) for w in rng.choice(words, n)]
            for t, (tok, at, tt) in enumerate(zip(toks, bio(n), bio(n))):
                rows.append((d, s, t, tok, begin, at, tt))
                begin += len(tok) + int(rng.integers(1, 3))
    return spark.createDataFrame(
        rows, "doc_id long, sent_id int, token_id int, token string, "
              "begin long, arg_tag string, trigger_tag string")


def test_repair_edges_equals_sequential_composition(spark):
    """repair_edges with both heads (scored on one frame, guards
    applied in order) == a begin-only repair followed by an end-only
    one, on argument and trigger spans, for seeded random weight
    tables."""
    from casie_spark.operators.begin_repair import events_with_context

    tagged = _random_tagged(spark, 7).cache()

    def rows(df):
        return sorted(tuple(sorted(r.asDict().items())) for r in df.collect())

    for seed in (1, 2):
        rng = np.random.default_rng(seed)
        bw, ew = ({k: rng.standard_normal(v.shape).astype(np.float32)
                   for k, v in forced_weights(0).items()} for _ in range(2))
        for spans, lab in ((arguments_with_context(tagged), "arg_type"),
                           (events_with_context(tagged), "subtype")):
            fused = repair_edges(spans, bw, ew, label_col=lab)
            seq = repair_edges(repair_edges(spans, bw, None, lab), None,
                               ew, lab)
            assert sorted(fused.columns) == sorted(seq.columns)
            got, want = rows(fused), rows(seq.select(*fused.columns))
            assert got == want
            # the random heads really move edges (not an identity check)
            assert got != rows(repair_edges(spans, None, None, lab)
                               .select(*fused.columns))
    tagged.unpersist()
