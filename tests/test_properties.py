"""Property-based tests (hypothesis) over the pure kernels that the
distributed operators delegate to: tokenizer offsets, time
normalization, number words, dependency-tree walks.

These cover the input space the golden tests cannot enumerate; the
Spark stages are thin wrappers over these functions (plus window/join
plumbing tested elsewhere), so invariants proven here transfer."""

from __future__ import annotations

from hypothesis import given, settings
from hypothesis import strategies as st

from casie_spark.functions.timeparse import (
    adjust,
    day_difference,
    durationtotime,
    resolve_time,
    txt2int,
)
from casie_spark.operators.tokenizer import tokenize_text
from casie_spark.operators.trees import (
    build_deptree,
    depth_to_root,
    span_head,
    synth_deps,
    tree_path,
)

TEXT = st.text(
    alphabet=st.characters(blacklist_categories=("Cs",), max_codepoint=0x2FFF),
    max_size=400,
)


@given(TEXT)
@settings(max_examples=200, deadline=None)
def test_tokenizer_offsets_are_exact_slices(text):
    toks = tokenize_text(text)
    prev_begin = -1
    for sent_id, token_id, tok, begin, end in toks:
        assert text[begin:end] == tok          # offset fidelity invariant
        assert begin < end
        assert begin > prev_begin              # strictly increasing globally
        prev_begin = begin
    # determinism
    assert toks == tokenize_text(text)


@given(TEXT)
@settings(max_examples=100, deadline=None)
def test_tokenizer_ids_dense(text):
    toks = tokenize_text(text)
    by_sent = {}
    for sent_id, token_id, *_ in toks:
        by_sent.setdefault(sent_id, []).append(token_id)
    for sent_id, ids in by_sent.items():
        assert ids == list(range(len(ids)))    # dense, ordered token ids
    assert sorted(by_sent) == list(range(len(by_sent)))


WORDS = st.lists(
    st.one_of(
        st.sampled_from(["one", "two", "hundred", "thousand", "million",
                         "and", "years", "ago", "last", "week", "January",
                         "2018", "21st", "Tuesday", "noise", "today"]),
        st.text(st.characters(min_codepoint=48, max_codepoint=122), max_size=8),
    ),
    max_size=8,
)


@given(WORDS)
@settings(max_examples=300, deadline=None)
def test_time_functions_total(tokens):
    """Time normalization is a total function: any token list yields a
    3-field date with sane ranges, and adjust is idempotent on its own
    output when fields are complete."""
    pub = (2018, 11, 9)
    d = resolve_time(tokens, pub)
    assert len(d) == 3
    y, m, day = d
    # upper bounds are hard invariants (year window < 2020, months <= 12,
    # day ordinal <= 31 pre-adjust); lower bounds are open: "N years/
    # weeks ago" subtracts unboundedly, faithfully to the reference
    assert y <= 2100
    assert m <= 12
    assert day <= 40
    dur, is_text = durationtotime(tokens, pub)
    assert isinstance(is_text, bool)
    if 0 not in d:
        assert adjust(list(d), pub)[0] == d[0]


@given(st.text(max_size=60))
@settings(max_examples=200, deadline=None)
def test_txt2int_total_nonnegative(s):
    assert txt2int(s) >= 0


@given(st.lists(st.sampled_from(
    ["one", "two", "three", "twenty", "hundred", "thousand", "and"]),
    min_size=1, max_size=5))
@settings(max_examples=200, deadline=None)
def test_txt2int_reference_recurrence(words):
    """Oracle: independent evaluation of the reference recurrence
    (current*scale+inc, flush on scale>100)."""
    vocab = {"one": (1, 1), "two": (1, 2), "three": (1, 3),
             "twenty": (1, 20), "hundred": (100, 0),
             "thousand": (1000, 0), "and": (1, 0)}
    cur = res = 0
    for w in words:
        sc, inc = vocab[w]
        cur = cur * sc + inc
        if sc > 100:
            res, cur = res + cur, 0
    assert txt2int(" ".join(words)) == res + cur


@given(st.lists(st.text(st.characters(min_codepoint=97, max_codepoint=122),
                        min_size=1, max_size=8), min_size=1, max_size=25))
@settings(max_examples=150, deadline=None)
def test_synth_deps_tree_invariants(tokens):
    """synth_deps always yields a rooted tree: every token appears as a
    dependent exactly once, every node reaches the root, paths exist
    between any two nodes, and the span head lies in the span."""
    edges = synth_deps(tokens)
    deps = sorted(d for _, d, _ in edges)
    assert deps == list(range(1, len(tokens) + 1))
    tree = build_deptree(edges)
    n = len(tokens)
    for i in range(1, n + 1):
        assert 0 <= depth_to_root(tree, i) <= 25
    if n >= 2:
        p = tree_path(tree, 1, n)
        assert p and p[0] == 1 and p[-1] == n
        assert len(set(p)) == len(p)           # simple path
        span = list(range(1, min(n, 4) + 1))
        assert span_head(tree, span) in span


@given(st.integers(1900, 2100), st.integers(1, 12), st.integers(1, 28),
       st.integers(1900, 2100), st.integers(1, 12), st.integers(1, 28))
@settings(max_examples=200, deadline=None)
def test_day_difference_metric_properties(y1, m1, d1, y2, m2, d2):
    a, b = [y1, m1, d1], [y2, m2, d2]
    assert day_difference(a, a) == 0
    assert day_difference(a, b) == -day_difference(b, a)


@given(st.text(max_size=24))
@settings(max_examples=300, deadline=None)
def test_singular_noun_total(w):
    """F12 is a total function: any string yields False or a non-empty
    string, and singular output is never longer than the input
    (suffix-stripping rules; irregulars map within the table)."""
    from casie_spark.functions.singular import singular_noun

    out = singular_noun(w)
    assert out is False or (isinstance(out, str) and len(out) >= 1)
    if isinstance(out, str) and w.lower() not in (
            "people", "men", "women", "mice", "geese", "teeth", "feet",
            "media", "data", "indices", "matrices", "vertices",
            "appendices", "criteria", "phenomena"):
        assert len(out) <= len(w)


_TOKEN_ST = st.one_of(
    st.none(),
    st.text(max_size=8),
    st.sampled_from(["the", "The", "THE", "CVE-2021-1234", "$4",
                     "patch-2.3.1", "stole", ""]),
)


@given(st.lists(_TOKEN_ST, min_size=1, max_size=40))
@settings(max_examples=150, deadline=None)
def test_feature_arrays_unique_scatter_parity(toks):
    """The unique-scatter featurizer (r5 decode optimization) is
    bit-identical to the per-token naive form for every key — the
    inference weights were trained against these exact ids."""
    import pandas as pd

    from casie_spark.operators.model_tagger import (
        BIGRAM_SIZE, PAD_ID, TRIGRAM_SIZE, _ngram_id, feature_arrays,
        shape_id, token_id)
    from casie_spark.operators.tagging import _py_stem

    prevs = [None] + toks[:-1]
    nexts = toks[1:] + [None]
    f = feature_arrays(toks, prevs, nexts)

    def norm(t):
        return "" if t is None or (
            isinstance(t, float) and pd.isna(t)) else str(t).lower()

    low = [norm(t) for t in toks]
    plo = [norm(t) for t in prevs]
    nlo = [norm(t) for t in nexts]
    ref = {
        "t0": [token_id(t) for t in low],
        "s0": [token_id(_py_stem(t)) for t in low],
        "tm1": [PAD_ID if not t else token_id(t) for t in plo],
        "tp1": [PAD_ID if not t else token_id(t) for t in nlo],
        "sh": [shape_id(str(t)) for t in toks],
        "b1": [_ngram_id(p + "|" + c, BIGRAM_SIZE)
               for p, c in zip(plo, low)],
        "b2": [_ngram_id(c + "|" + x, BIGRAM_SIZE)
               for c, x in zip(low, nlo)],
        "tri": [_ngram_id(p + "|" + c + "|" + x, TRIGRAM_SIZE)
                for p, c, x in zip(plo, low, nlo)],
        "pf3": [PAD_ID if not t else token_id("\x02" + t[:3])
                for t in low],
        "sf3": [PAD_ID if not t else token_id("\x03" + t[-3:])
                for t in low],
        "sf4": [PAD_ID if not t else token_id("\x04" + t[-4:])
                for t in low],
    }
    for k, v in ref.items():
        assert list(f[k]) == v, k



# --- averaged-perceptron heads: golden bit-identity ------------------------
#
# The hashes below were recorded from the per-head trainers and loaders
# that operators/perceptron.py and deploy.load_artifact replaced: the
# same seeded synthetic (f, y) trained by train_begin.train_begin_head,
# train_roles.train_role_head and train_tagger._train_head (trigger head
# with class weights; argument head with "sev" and without the affix
# tables), and every committed artifact as parsed by the six loaders.
# The annotated training corpus is not part of the repository, so these
# pins are what shows that retraining and serving are unchanged.

def _synth_head_data(sizes, n_labels, seed, n=3000):
    """Seeded (f, y): ids from a small vocabulary (rows repeat, so the
    tables get shared updates), mostly class 0, labels a function of
    the first two features plus 5% noise."""
    import numpy as np

    rng = np.random.default_rng(seed)
    f = {k: rng.integers(0, min(m, 400), n).astype(np.int64)
         for k, m in sizes.items()}
    k0, k1 = list(sizes)[:2]
    y = np.where(rng.random(n) < 0.6, 0,
                 1 + (f[k0] * 7 + f[k1]) % (n_labels - 1))
    noise = rng.random(n) < 0.05
    y[noise] = rng.integers(0, n_labels, int(noise.sum()))
    return f, y.astype(np.int64)


def _tables_sha256(tables):
    """Digest of key order, dtype, shape and bytes of every table."""
    import hashlib

    import numpy as np

    h = hashlib.sha256()
    for k, v in tables.items():
        h.update(f"{k}|{v.dtype.str}|{v.shape}|".encode())
        h.update(np.ascontiguousarray(v).tobytes())
    return h.hexdigest()


def _parsed_sha256(obj):
    """Digest of a loader's parsed weights (dataclass / dict / tuple /
    ndarray / scalar tree; dict keys sorted)."""
    import dataclasses
    import hashlib

    import numpy as np

    h = hashlib.sha256()

    def feed(o):
        if dataclasses.is_dataclass(o):
            for fld in dataclasses.fields(o):
                h.update(fld.name.encode())
                feed(getattr(o, fld.name))
        elif isinstance(o, dict):
            for k in sorted(o):
                h.update(f"<{k}>".encode())
                feed(o[k])
        elif isinstance(o, (list, tuple)):
            h.update(b"[")
            for v in o:
                feed(v)
            h.update(b"]")
        elif isinstance(o, np.ndarray):
            h.update(f"{o.dtype.str}|{o.shape}|".encode())
            h.update(np.ascontiguousarray(o).tobytes())
        else:
            h.update(repr(o).encode())

    feed(obj)
    return h.hexdigest()


_HEAD_GOLDEN = {
    "begin": "67254d5141eb2139462414b9793bd420b5bb762dc8d2fb8c210ac496ceee9a2f",
    "roles": "ba102f215c3d308786f7a1e12db9bafff99791c7e9b44c1e961ca4e60ce28491",
    "tagger_trigger": "9e8d5031e8c44db2325b98032c55bd653226ca1cd7c11d3044e0ae69e21194f8",
    "tagger_argument": "ca3928759848cf1a076be7cdd85c7af91e32212d3a2297c5622d18d4c7bb4e38",
}


def test_perceptron_heads_golden():
    from casie_spark.operators import train_begin, train_roles, train_tagger
    from casie_spark.operators.model_tagger import (
        BIGRAM_SIZE, GOLD_ARG_LABELS, N_SHAPES, TRIGGER_LABELS,
        TRIGRAM_SIZE, VOCAB_SIZE)
    from casie_spark.operators.perceptron import train_head

    v = VOCAB_SIZE
    tag_sizes = {"t0": v, "s0": v, "tm1": v, "tp1": v, "sh": N_SHAPES,
                 "b1": BIGRAM_SIZE, "b2": BIGRAM_SIZE, "tri": TRIGRAM_SIZE,
                 "pf3": v, "sf3": v, "sf4": v}
    got = {}
    f, y = _synth_head_data(
        {k: (N_SHAPES if k == "sh_p1" else v) for k in train_begin._KEYS},
        4, 1)
    got["begin"] = _tables_sha256(
        train_head(f, y, train_begin.SHAPES, train_begin.SEED))
    f, y = _synth_head_data(
        {"pair": train_roles.N_PAIRS, "head": v, "first": v}, 6, 2)
    got["roles"] = _tables_sha256(train_head(
        f, y, {"pair": (train_roles.N_PAIRS, 6), "head": (v, 6),
               "first": (v, 6), "b": (6,)}, train_roles.SEED))
    nt, na = len(TRIGGER_LABELS), len(GOLD_ARG_LABELS)
    f, y = _synth_head_data(tag_sizes, nt, 3)
    got["tagger_trigger"] = _tables_sha256(train_head(
        f, y, train_tagger.head_shapes(train_tagger.TRIG_KEYS, nt),
        train_tagger.SEED, train_tagger.CLASS_WEIGHT_POW))
    f, y = _synth_head_data({**tag_sizes, "sev": 2}, na, 4)
    got["tagger_argument"] = _tables_sha256(train_head(
        f, y, train_tagger.head_shapes(train_tagger.ARG_KEYS, na),
        train_tagger.SEED + 1, train_tagger.CLASS_WEIGHT_POW))
    assert got == _HEAD_GOLDEN


_ARTIFACT_GOLDEN = {
    "tagger": "951aa95aec0e20d570405b9a17d596a2340af772e8c5da64d3d22964aa45c870",
    "begin": "ecd5dd8d4b5935888304585a2465c0970e056c8b7967cc7f4ee07219a193581a",
    "role": "4be458190a93dc1e56566fe7df013dbe24d72745abc354a68df00d30307c646e",
    "realis": "bee1588b21b14e840da8541696d96853462e0df1bbeb7cd4a21c606dcd8db4a0",
    "linker": "d442471484efd91054fd347480c28b40c4133a4e83b030b4dbf8770bd5207e17",
    "coref": "a29af8862d43436271cf794ebfda12f13f19748cb66cd0c68add53814813a2c6",
}


def test_committed_artifacts_parse_golden():
    from casie_spark.operators.begin_repair import load_begin_weights
    from casie_spark.operators.coref import load_coref_weights
    from casie_spark.operators.linker import load_linker_weights
    from casie_spark.operators.model_tagger import load_weights
    from casie_spark.operators.realis import load_realis_weights
    from casie_spark.operators.roles import load_role_weights

    got = {name: _parsed_sha256(fn()) for name, fn in (
        ("tagger", load_weights), ("begin", load_begin_weights),
        ("role", load_role_weights), ("realis", load_realis_weights),
        ("linker", load_linker_weights), ("coref", load_coref_weights))}
    assert got == _ARTIFACT_GOLDEN
