"""Entity canonicalization (SURVEY.md section 2.9 corpus-scale analog;
BASELINE.json north_star: broadcast dictionary of CVE ids and
vendor/product names + MinHash-LSH connected-components surface-form
clustering).

Three layers:

1. ``apply_dictionary`` — broadcast join against the canonical
   dictionary (CVE ids normalized by regex, vendor/product gazetteer,
   optional wikidata anchors mirroring the reference's
   external_reference.wikidataid hooks, wd_search.py:75-122).  The
   reference queried live Wikidata/DBpedia SPARQL (wd_search.py:153-201)
   — at 10^12 pages live calls are impossible, so the dictionary is
   pre-resolved and broadcast (SURVEY.md section 2.1 S8).
2. ``minhash_edges`` — surface forms that miss the dictionary are
   clustered: char-3-shingles -> K xxhash64 min-signatures -> one band
   key per band -> candidate pairs from the repo's one banding
   self-join (``dedup.minhash_candidate_pairs``) -> exact Jaccard
   verification.  All JVM-side (transform/aggregate/xxhash64 on
   arrays).
3. ``connected_components`` — iterative min-label propagation over the
   candidate edges (no GraphFrames dependency); runs to the fixpoint,
   O(component diameter) joins, each keyed on the label column with
   AQE handling skew.  One truncate barrier per round, which also
   carries the convergence count.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Observation, SparkSession
from pyspark.sql import functions as F

from ..util import materialize, truncate
from .dedup import minhash_candidate_pairs

_VENDORS = {
    "adobe": "vendor:adobe", "microsoft": "vendor:microsoft",
    "cisco": "vendor:cisco", "oracle": "vendor:oracle",
    "siemens": "vendor:siemens", "apple": "vendor:apple",
    "google": "vendor:google", "mozilla": "vendor:mozilla",
    "intel": "vendor:intel", "samsung": "vendor:samsung",
    "equifax": "vendor:equifax", "yahoo": "vendor:yahoo",
}


def build_dictionary(spark: SparkSession, extra: DataFrame | None = None) -> DataFrame:
    """(surface, canonical_id, entity_type) broadcast dictionary."""
    rows = [(k, v, "Organization") for k, v in _VENDORS.items()]
    df = spark.createDataFrame(
        rows, "surface string, canonical_id string, entity_type string"
    )
    if extra is not None:
        df = df.unionByName(extra.select("surface", "canonical_id", "entity_type"))
    return df


def default_dictionary(spark: SparkSession) -> DataFrame:
    """The dictionary graph builds use when the caller passes none:
    the vendor seed table plus the gold ``external_reference.
    wikidataid`` anchors whenever the reference annotations are
    readable (r2 VERDICT missing #5 — the 4,613-anchor dictionary
    existed but nothing defaulted it in).  Anchors win surface
    conflicts (a ``wd:`` id is the stronger canonical form than a
    ``vendor:`` slug); the anti-join keeps the union deterministic.
    Still a broadcast-scale frame (~4.6k rows) — truncated to a plan
    leaf so the annotation-JSON parse lineage (a ~MB analyzed-plan
    string) never renders inside the downstream canonicalize joins
    (the maxPlanStringLength regression gate, CLAUDE.md)."""
    import glob

    base = build_dictionary(spark)
    if not glob.glob("/root/reference/data/annotation/*.json"):
        return base
    from ..sources.annotations import gold_arguments, load_annotations
    from ..util import truncate

    anchors = wikidata_anchors(gold_arguments(load_annotations(spark)))
    return truncate(anchors.unionByName(
        base.join(anchors.select("surface"), "surface", "left_anti")
    ))


def wikidata_anchors(gold_arguments: DataFrame) -> DataFrame:
    """Dictionary entries from the gold external_reference.wikidataid
    anchors (4,613 arguments carry one — SURVEY.md section 1.3)."""
    return (
        gold_arguments.filter(F.col("wikidataid").isNotNull())
        .select(
            F.lower(F.col("text")).alias("surface"),
            F.concat(F.lit("wd:"), F.col("wikidataid")).alias("canonical_id"),
            F.col("arg_type").alias("entity_type"),
        )
        .groupBy("surface")
        .agg(
            F.min("canonical_id").alias("canonical_id"),
            F.min("entity_type").alias("entity_type"),
        )
    )


def normalize_cve(col):
    """CVE surfaces self-canonicalize by regex (parseJsontoFeatures.py:223-228)."""
    return F.when(
        F.upper(col).rlike(r"^CVE-\d+-\d+$"), F.upper(col)
    )


def apply_dictionary(entities: DataFrame, dictionary: DataFrame,
                     surface_col: str = "surface") -> DataFrame:
    """entities + canonical_id (null where unresolved)."""
    d = dictionary.select(
        F.col("surface").alias("_d_surface"),
        F.col("canonical_id").alias("_d_canonical"),
    )
    out = entities.join(
        F.broadcast(d),
        F.lower(F.col(surface_col)) == F.col("_d_surface"),
        "left",
    ).drop("_d_surface")
    return out.withColumn(
        "canonical_id",
        F.coalesce(normalize_cve(F.col(surface_col)), F.col("_d_canonical")),
    ).drop("_d_canonical")


def shingles(col, n: int = 3):
    """Char n-gram shingle array of a lowercased surface (JVM-side)."""
    padded = F.lower(col)
    return F.array_distinct(
        F.transform(
            F.sequence(F.lit(0), F.greatest(F.length(padded) - n, F.lit(0))),
            lambda i: padded.substr(i + 1, F.lit(n)),
        )
    )


def minhash_edges(surfaces: DataFrame, id_col: str = "surface_id",
                  surface_col: str = "surface", n_hashes: int = 16,
                  bands: int = 8, threshold: float = 0.5) -> DataFrame:
    """Candidate near-identical surface pairs -> verified Jaccard edges.

    Each surface gets ``n_hashes`` xxhash64 min-signatures over its
    char-3-shingles; band ``b`` is keyed by ``F.hash`` over its
    ``n_hashes // bands`` rows (column ``minh{b}``).  Candidate pairs
    come from :func:`dedup.minhash_candidate_pairs`, the one banding
    self-join: bands unpivoted into (band, bucket) rows, over-full
    buckets (> 1,000 members: a boilerplate surface with k² pairs and
    no near-dup signal) dropped, one self-join on (band, bucket).  A
    pair shares a bucket only within one band, so this finds exactly
    the pairs a per-band join loop would.  Each pair's shingle arrays
    are joined back for the exact Jaccard check.

    Returns (src, dst) with src < dst.
    """
    rows_per_band = n_hashes // bands
    sh = surfaces.select(
        F.col(id_col).alias("sid"),
        shingles(F.col(surface_col)).alias("sh"),
    ).filter(F.size("sh") > 0)

    def minhash(seed: int):
        return F.array_min(
            F.transform("sh", lambda s: F.xxhash64(F.concat(F.lit(str(seed)), s)))
        )

    h = [minhash(k) for k in range(n_hashes)]
    # sig feeds the banding self-join and both shingle join-backs;
    # materialize it or the shingle + signature subtree runs per reference
    sig = materialize(sh.select(
        "sid", "sh",
        *[F.hash(*h[b * rows_per_band:(b + 1) * rows_per_band]).alias(f"minh{b}")
          for b in range(bands)],
    ))
    pairs = minhash_candidate_pairs(sig, bands, id_col="sid", max_bucket=1000)
    left = sig.select(F.col("sid").alias("doc_a"), F.col("sh").alias("sh1"))
    right = sig.select(F.col("sid").alias("doc_b"), F.col("sh").alias("sh2"))
    jac = F.size(F.array_intersect("sh1", "sh2")) / F.size(F.array_union("sh1", "sh2"))
    return (
        pairs.join(left, "doc_a").join(right, "doc_b")
        .filter(jac >= threshold)
        .select(F.col("doc_a").alias("src"), F.col("doc_b").alias("dst"))
    )


def connected_components(edges: DataFrame, id_col: str = "sid") -> DataFrame:
    """Min-label propagation over the (src, dst) edges: (id_col,
    component) for every edge endpoint, component = the min id
    reachable.  A vertex with no edge is absent; callers that need it
    left-join their own ids and ``coalesce`` it to itself.

    The labels are seeded by the first min-neighbour round
    (``least(src, min(dst))`` over the materialized symmetric edges),
    so no identity-label barrier runs.  Each further round is two
    shuffles and one truncate barrier; the number of labels it lowered
    is an ``Observation`` on the truncated frame, so the convergence
    test runs no job of its own.  The loop runs to the fixpoint with no
    round cap: every round before the last lowers at least one label,
    and a label is always the id of a vertex in its component, so
    labels cannot fall forever — the loop ends after about diameter + 1
    rounds.  Empty edges give an empty result."""
    sym = materialize(
        edges.select("src", "dst").union(
            edges.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
        )
    )
    labels = sym.groupBy("src").agg(
        F.least(F.col("src"), F.min("dst")).alias("label")
    )
    while True:
        neighbor_min = (
            sym.join(labels.withColumnRenamed("src", "dst"), "dst")
            .groupBy("src")
            .agg(F.min("label").alias("nmin"))
        )
        # every endpoint has a neighbour, so the inner join keeps all
        new_labels = labels.join(neighbor_min, "src").select(
            "src",
            F.least("label", "nmin").alias("label"),
            (F.col("nmin") < F.col("label")).alias("_chg"),
        )
        # truncate, not materialize: each round's plan embeds the
        # previous one — persist alone lets the tree grow exponentially.
        # The changed-label count rides the truncate's own job
        obs = Observation()
        labels = truncate(
            new_labels.observe(obs, F.count_if("_chg").alias("changed"))
        ).drop("_chg")
        if obs.get["changed"] == 0:
            return labels.select(F.col("src").alias(id_col),
                                 F.col("label").alias("component"))


def canonicalize_surfaces(entities: DataFrame, dictionary: DataFrame,
                          surface_col: str = "obj") -> DataFrame:
    """Full canonicalization: dictionary first; unresolved surfaces are
    LSH-clustered and take ``cluster:<min-surface-of-component>`` ids.

    entities: any DataFrame with a surface column; returns + canonical_id.
    """
    withdict = apply_dictionary(entities, dictionary, surface_col)

    unresolved = (
        withdict.filter(F.col("canonical_id").isNull())
        .select(F.lower(F.col(surface_col)).alias("surface"))
        .distinct()
        .withColumn("surface_id", F.xxhash64("surface"))
    )
    unresolved = materialize(unresolved)

    comp = connected_components(minhash_edges(unresolved), "surface_id")
    rep = (
        unresolved.join(comp, "surface_id", "left")
        .select(
            "surface",
            F.coalesce("component", F.col("surface_id")).alias("component"),
        )
    )
    canon = (
        rep.groupBy("component")
        .agg(F.min("surface").alias("rep_surface"))
    )
    mapping = rep.join(canon, "component").select(
        F.col("surface").alias("_m_surface"),
        F.concat(F.lit("cluster:"), F.col("rep_surface")).alias("_m_canonical"),
    )
    out = withdict.join(
        mapping,
        F.lower(F.col(surface_col)) == F.col("_m_surface"),
        "left",
    ).drop("_m_surface")
    return out.withColumn(
        "canonical_id", F.coalesce("canonical_id", "_m_canonical")
    ).drop("_m_canonical")
