"""Canonicalization: dictionary, MinHash-LSH edges, connected
components, end-to-end surface clustering."""

from __future__ import annotations

from pyspark.sql import functions as F

from casie_spark.operators.canonicalize import (
    apply_dictionary,
    build_dictionary,
    canonicalize_surfaces,
    connected_components,
    minhash_edges,
)


def test_dictionary_and_cve_normalization(spark):
    ents = spark.createDataFrame(
        [("cve-2019-0708",), ("Microsoft",), ("unknownco",)], "obj string"
    )
    d = build_dictionary(spark)
    out = {r["obj"]: r["canonical_id"]
           for r in apply_dictionary(ents, d, "obj").collect()}
    assert out["cve-2019-0708"] == "CVE-2019-0708"
    assert out["Microsoft"] == "vendor:microsoft"
    assert out["unknownco"] is None


def test_minhash_edges_find_near_identical(spark):
    surf = spark.createDataFrame(
        [(1, "acme corporation"), (2, "acme corporation inc"),
         (3, "completely different zebra")],
        "surface_id long, surface string",
    )
    edges = minhash_edges(surf, "surface_id", "surface", threshold=0.5)
    got = {(r["src"], r["dst"]) for r in edges.collect()}
    assert (1, 2) in got
    assert all(3 not in e for e in got)



def _minhash_edges_per_band(surfaces, id_col="surface_id", surface_col="surface",
                            n_hashes=16, bands=8, threshold=0.5):
    """Reference: the one-self-join-per-band LSH loop that
    ``minhash_edges`` replaced (bucket-size guard applied per band)."""
    from pyspark.sql import Window

    from casie_spark.operators.canonicalize import shingles
    from casie_spark.util import materialize

    rows_per_band = n_hashes // bands
    sh = surfaces.select(
        F.col(id_col).alias("sid"),
        shingles(F.col(surface_col)).alias("sh"),
    ).filter(F.size("sh") > 0)

    def minhash(seed):
        return F.array_min(
            F.transform("sh", lambda s: F.xxhash64(F.concat(F.lit(str(seed)), s)))
        )

    sig = sh.select("sid", "sh", *[minhash(k).alias(f"h{k}") for k in range(n_hashes)])
    sig = materialize(sig.select("sid", "sh", *[
        F.hash(*[F.col(f"h{b * rows_per_band + r}") for r in range(rows_per_band)])
        .alias(f"band{b}") for b in range(bands)]))
    pairs = None
    for b in range(bands):
        banded = (
            sig.select("sid", "sh", F.col(f"band{b}").alias("bk"))
            .withColumn("_bsz", F.count("*").over(Window.partitionBy("bk")))
            .filter(F.col("_bsz") <= 1000).drop("_bsz")
        )
        left = banded.select(F.col("sid").alias("src"), F.col("sh").alias("sh1"), "bk")
        right = banded.select(F.col("sid").alias("dst"), F.col("sh").alias("sh2"), "bk")
        p = left.join(right, "bk").filter(F.col("src") < F.col("dst")).drop("bk")
        pairs = p if pairs is None else pairs.unionByName(p)
    pairs = pairs.dropDuplicates(["src", "dst"])
    jac = F.size(F.array_intersect("sh1", "sh2")) / F.size(F.array_union("sh1", "sh2"))
    return pairs.filter(jac >= threshold).select("src", "dst")


def _edge_set(df):
    return {(r["src"], r["dst"]) for r in df.collect()}


def test_minhash_edges_match_per_band_reference(spark):
    """The single (band, bucket) self-join finds exactly the edges of
    the per-band loop: seeded near-duplicate surface sets with signed
    64-bit ids, and one set whose shared band buckets exceed the
    1,000-member skew guard."""
    import random

    vocab = ["acme", "corp", "cyber", "lab", "lazarus", "group", "apt",
             "bank", "intl", "systems", "fancy", "bear", "x", "networks"]

    def mutate(rng, s):
        i = rng.randrange(len(s) + 1)
        return s[:i] + rng.choice("abcdefgh ") + s[i + 1:]

    for seed in (0, 1, 2):
        rng = random.Random(seed)
        base = [" ".join(rng.choice(vocab) for _ in range(rng.randint(1, 4)))
                for _ in range(40)]
        surfaces = set(base)
        surfaces |= {mutate(rng, rng.choice(base)) for _ in range(120)}
        surfaces |= {"", "ab"}  # shorter than one shingle
        ids = rng.sample(range(-2**60, 2**60), len(surfaces))
        surf = spark.createDataFrame(list(zip(ids, sorted(surfaces))),
                                     "surface_id long, surface string")
        want = _edge_set(_minhash_edges_per_band(surf))
        assert len(want) > 20
        assert _edge_set(minhash_edges(surf)) == want

    # 1,100 surfaces sharing a 600-char prefix and differing in a
    # 3-letter suffix: in every band nearly all of them share one
    # bucket, which the guard drops, so few of the 604,450 pairs (all
    # with Jaccard > 0.99) become edges
    rng = random.Random(7)
    letters = "abcdefghijklmnopqrstuvwxyz"
    prefix = "".join(rng.choice(letters + "0123456789") for _ in range(600))
    suffixes = rng.sample([a + b + c for a in letters for b in letters
                           for c in letters], 1100)
    surf = spark.createDataFrame(
        [(i, prefix + sfx) for i, sfx in enumerate(suffixes)],
        "surface_id long, surface string")
    want = _edge_set(_minhash_edges_per_band(surf))
    assert len(want) < 20_000
    assert _edge_set(minhash_edges(surf)) == want


def test_connected_components_chain(spark):
    edges = spark.createDataFrame([(1, 2), (2, 3), (10, 11)], "src long, dst long")
    comp = {r["sid"]: r["component"]
            for r in connected_components(edges).collect()}
    assert comp == {1: 1, 2: 1, 3: 1, 10: 10, 11: 10}


def test_connected_components_random_differential(spark):
    """Seeded random graphs vs a pure-Python union-find: every edge
    endpoint must land in component = min reachable id (the q36
    oracle's recursive-CTE contract).  Four regimes: sparse (many
    small components), dense (one giant component), and a 12- and a
    20-node path (worst-case diameter for min-label propagation — the
    20-node path needs more rounds than the old 15-round cap allowed,
    so a capped loop splits it)."""
    import random

    def unionfind(edges):
        parent = {}

        def find(x):
            parent.setdefault(x, x)
            while parent[x] != x:
                parent[x] = parent[parent[x]]
                x = parent[x]
            return x

        for a, b in edges:
            ra, rb = find(a), find(b)
            if ra != rb:
                parent[max(ra, rb)] = min(ra, rb)
        # the root is the min id of its component
        return {v: find(v) for v in list(parent)}

    cases = []
    rng = random.Random(36)
    for n, m in ((30, 12), (25, 60)):
        cases.append([(rng.randrange(n), rng.randrange(n)) for _ in range(m)])
    cases.append([(i, i + 1) for i in range(11)])  # 12-node path
    cases.append([(i + 1, i) for i in range(19)])  # 20-node path

    for raw in cases:
        edges_py = [(a, b) for a, b in raw if a != b]
        want = unionfind(edges_py)
        edges = spark.createDataFrame(edges_py, "src long, dst long")
        got = {r["sid"]: r["component"]
               for r in connected_components(edges).collect()}
        assert got == want


def test_connected_components_degenerate_inputs(spark):
    """Empty and filter-emptied edge frames return (the convergence
    count still arrives) with no rows; self-loops and edges given in
    both directions close like any other edge."""
    no_edges = spark.createDataFrame([], "src long, dst long")
    edges = spark.createDataFrame([(1, 2)], "src long, dst long")

    assert connected_components(no_edges).collect() == []
    assert connected_components(edges.filter("src > 9")).collect() == []
    loops = spark.createDataFrame([(5, 5), (2, 1), (1, 2), (3, 3), (3, 2)],
                                  "src long, dst long")
    got = {r["sid"]: r["component"]
           for r in connected_components(loops).collect()}
    assert got == {1: 1, 2: 1, 3: 1, 5: 5}


def test_canonicalize_end_to_end(spark):
    ents = spark.createDataFrame(
        [("CVE-2020-1000",), ("Adobe",), ("acme corp",), ("acme corporation",),
         ("zebra stripes ltd",)],
        "obj string",
    )
    d = build_dictionary(spark)
    out = {r["obj"]: r["canonical_id"]
           for r in canonicalize_surfaces(ents, d, "obj").collect()}
    assert out["CVE-2020-1000"] == "CVE-2020-1000"
    assert out["Adobe"] == "vendor:adobe"
    # the two acme variants share a cluster id; zebra does not
    assert out["acme corp"] == out["acme corporation"]
    assert out["acme corp"].startswith("cluster:")
    assert out["zebra stripes ltd"] != out["acme corp"]
