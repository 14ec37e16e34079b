"""Graph sinks: partitioned vertex/edge tables + resumable runs.

Replaces the reference's per-token TSV / CoNLL corpus sinks
(to_one_file_each link_coref.py:1727-1816, allfileoutput :1691-1703)
with partitioned columnar graph tables:

- edges(subj_id, pred, obj_id, doc_id, event_id, cluster_id,
  event_subtype, realis, confidence, bucket) partitioned by
  event_subtype (partition pruning for per-event-type queries) and
  bucketed by url-hash for resume;
- vertices(vertex_id, surface, kind, n_mentions) partitioned by kind.

The Iceberg shape is write_graph_table / refresh_edge_partitions
(DataFrameWriterV2: createOrReplace + overwritePartitions); the
connector jar is absent in the sandbox, so the V1 catalog path and
path-based write_graph carry the tested story, with manifest rows
(casie_spark.manifests) standing in for snapshot lineage.
"""

from __future__ import annotations

import os
import time

from pyspark.sql import DataFrame, Observation, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import StructType

from .. import manifests
from ..util import cache_lazy, track_persists, truncate
from ..operators.canonicalize import canonicalize_surfaces, default_dictionary
from ..operators.coref import cluster_events
from ..pipeline import restore_urls, span_frames, tagged_tokens
from ..operators.linking import link
from ..operators.roles import assign_roles


def build_graph(documents: DataFrame, mode: str = "rules", gold=None,
                dictionary: DataFrame | None = None,
                id_col: str = "url") -> tuple[DataFrame, DataFrame]:
    """documents -> (vertices, edges) with canonical entity ids and
    per-doc event-coref cluster ids.  ``edges`` is cached lazily and
    ``vertices`` derive from it, so whichever is written first fills
    the cache; call inside ``util.track_persists()`` to release it."""
    spark = documents.sparkSession
    tagged = tagged_tokens(documents, id_col=id_col, mode=mode, gold=gold)
    # truncate (not persist) at the graph path's barriers: the coref +
    # canonicalization layers below reference these repeatedly and the
    # combined lineage otherwise grows beyond what the driver can even
    # render (see util.truncate).  The span stage is the token stream's
    # one reader; events and args are projections of its leaf.
    events, args = span_frames(tagged)
    linked = assign_roles(link(events, args))

    # graph edges carry the real document id, restored at the event
    # level; events re-reads the spans leaf, so it takes no barrier
    events = restore_urls(events, documents, id_col)
    linked = truncate(restore_urls(linked, documents, id_col))

    # timedist needs each document's <date> header; EVENT-scale join
    pubdates = None
    if "html" in documents.columns:
        from ..functions.text import extract_pubdate_raw

        pubdates = documents.select(
            F.col(id_col).cast("string").alias("doc_id"),
            extract_pubdate_raw(F.col("html").cast("string")).alias("pubdate"),
        )
    # mode=model clusters with the cross-fitted trained combiner
    # (operators/train_coref.py; honest-CV pairwise F1 0.693 vs 0.654
    # for the reference's fixed weights); rules/gold keep the
    # reference distance so the differential parity gates stay stable
    clusters = cluster_events(
        events, linked, pubdates=pubdates,
        weights="auto" if mode == "model" else "reference")
    d = dictionary if dictionary is not None else default_dictionary(spark)
    canon = canonicalize_surfaces(
        linked.withColumn("obj_surface", F.col("arg_text")), d, "obj_surface"
    ).withColumnRenamed("canonical_id", "obj_id")

    edges = (
        canon.join(clusters, ["doc_id", "event_id"], "left")
        .select(
            F.concat(F.lit("event:"), F.col("doc_id"), F.lit("#"),
                     F.col("event_id")).alias("subj_id"),
            F.col("event_text").alias("subj_surface"),
            F.coalesce("role", F.lit("has_argument")).alias("pred"),
            F.coalesce("obj_id", F.lower("arg_text")).alias("obj_id"),
            F.col("arg_text").alias("obj_surface"),
            "doc_id", "event_id",
            F.coalesce("cluster_id", F.lit(-1)).alias("cluster_id"),
            F.col("subtype").alias("event_subtype"),
            (F.coalesce(F.col("realis"), F.lit("Actual"))
             if "realis" in canon.columns else F.lit("Actual")).alias("realis"),
            F.lit(1.0).alias("confidence"),
        )
    )
    # the edge and vertex writes are two sequential actions over this
    # frame: the first populates the cache, the second reads it instead
    # of re-running coref and the canonicalize join tail
    edges = cache_lazy(edges)

    entity_verts = (
        edges.groupBy(F.col("obj_id").alias("vertex_id"))
        .agg(
            F.min("obj_surface").alias("surface"),
            F.count("*").alias("n_mentions"),
        )
        .withColumn("kind", F.lit("entity"))
    )
    event_verts = (
        edges.groupBy(F.col("subj_id").alias("vertex_id"))
        .agg(
            F.min("subj_surface").alias("surface"),
            F.count("*").alias("n_mentions"),
        )
        .withColumn("kind", F.lit("event"))
    )
    vertices = entity_verts.unionByName(event_verts)
    return vertices, edges


def write_graph(vertices: DataFrame, edges: DataFrame, out_dir: str) -> None:
    """Write ``edges`` partitioned by event_subtype and ``vertices`` by
    kind under ``out_dir``.  A partitioned write of no rows leaves only
    ``_SUCCESS``, from which no reader can infer a schema, so a table
    whose write counted 0 rows (an Observation on the write, no extra
    job) is rewritten as one empty file carrying the columns a
    non-empty table reads back, partition column last."""
    for df, name, pcol in ((edges, "edges", "event_subtype"),
                           (vertices, "vertices", "kind")):
        path = os.path.join(out_dir, name)
        written = Observation()
        (df.observe(written, F.count(F.lit(1)).alias("rows"))
         .write.mode("overwrite").partitionBy(pcol).parquet(path))
        if written.get["rows"] == 0:
            fields = [f for f in df.schema.fields if f.name != pcol]
            schema = StructType(fields + [df.schema[pcol]])
            df.sparkSession.createDataFrame([], schema) \
                .write.mode("overwrite").parquet(path)


def write_graph_table(vertices: DataFrame, edges: DataFrame,
                      table_prefix: str, format: str = "parquet",
                      path: str | None = None,
                      v2_catalog: bool = False) -> None:
    """Materialize the graph as CATALOG tables ``<prefix>_edges``
    (partitioned by event_subtype) and ``<prefix>_vertices`` (by
    kind), addressable via ``spark.table()`` — the north-rule target
    shape is partitioned Iceberg edge/vertex tables.

    ``v2_catalog=True`` routes through DataFrameWriterV2 — the exact
    calls an Iceberg catalog takes: ``writeTo(t).using(format)
    .partitionedBy(col).createOrReplace()`` for the full build and
    :func:`refresh_edge_partitions` (``overwritePartitions()`` = one
    atomic snapshot commit) for incremental refresh.  The sandbox
    session catalog is V1 (no connector jar on the classpath), so the
    default path drives the V1 writer to the same layout, and the V1
    refresh uses dynamic-partition-overwrite ``insertInto`` — the same
    replaced-partitions result minus snapshot history (lineage comes
    from casie_spark.manifests instead).  Swapping to Iceberg on a
    real cluster is configuration, not code: add the runtime jar + a
    SparkCatalog entry and pass ``format='iceberg', v2_catalog=True``.
    """
    for df, name, pcol in ((edges, "edges", "event_subtype"),
                           (vertices, "vertices", "kind")):
        tbl = f"{table_prefix}_{name}"
        if v2_catalog:
            df.writeTo(tbl).using(format).partitionedBy(
                F.col(pcol)).createOrReplace()
        else:
            df.sparkSession.sql(f"DROP TABLE IF EXISTS {tbl}")
            w = df.write.mode("overwrite").format(format).partitionBy(pcol)
            if path is not None:
                w = w.option("path", os.path.join(path, name))
            w.saveAsTable(tbl)


def refresh_edge_partitions(edges: DataFrame, table_prefix: str,
                            v2_catalog: bool = False) -> None:
    """Replace exactly the event_subtype partitions present in
    ``edges`` (incremental graph refresh after reprocessing a slice of
    the corpus).  V2/Iceberg: ``overwritePartitions()`` — an atomic
    snapshot commit.  V1 fallback: dynamic ``partitionOverwriteMode``
    ``insertInto`` — same replaced-partitions result.  Partitions NOT
    present in the batch are untouched on both paths, which is what
    makes deterministic re-runs idempotent (the resumable_run rule)."""
    tbl = f"{table_prefix}_edges"
    if v2_catalog:
        edges.writeTo(tbl).overwritePartitions()
        return
    # insertInto is positional: reorder to the table's schema (the V1
    # writer stores partition columns last, the build-time frame
    # carries event_subtype mid-row).  The dynamic mode must be set on
    # the SESSION conf — insertInto ignores the per-writer option
    # (measured: a static overwrite wiped the untouched partitions)
    spark = edges.sparkSession
    cols = spark.table(tbl).columns
    key = "spark.sql.sources.partitionOverwriteMode"
    prior = spark.conf.get(key, "STATIC")
    spark.conf.set(key, "dynamic")
    try:
        edges.select(*cols).write.mode("overwrite").insertInto(tbl)
    finally:
        spark.conf.set(key, prior)


def resumable_run(documents: DataFrame, out_dir: str, n_buckets: int = 16,
                  mode: str = "rules", id_col: str = "url") -> dict:
    """Checkpoint-resumable triple extraction: processes only buckets
    without an 'ok' manifest row; appends edges partitioned by
    (event_subtype, bucket) + manifest rows.  Re-running after an
    interruption completes the remainder; a completed run is a no-op.
    """
    spark = documents.sparkSession
    stage = "edges"
    pending = manifests.pending_buckets(spark, out_dir, stage, n_buckets)
    if not pending:
        return {"processed_buckets": [], "rows": 0}

    all_docs = manifests.with_bucket(documents, id_col, n_buckets)
    docs = all_docs.filter(F.col("bucket").isin(pending))
    # a bucket is recorded complete only when the input actually
    # contained documents for it — a partial input (e.g. an upstream
    # read that silently lost partitions) must NOT mark absent buckets
    # done, or resume would skip them forever
    input_buckets = {
        r["bucket"]
        for r in docs.select("bucket").distinct().collect()
    }
    t0 = time.perf_counter()
    # the scope frees build_graph's barriers and its edge cache, which
    # the bucket count and the write below both read
    with track_persists():
        _, edges = build_graph(docs.drop("bucket"), mode=mode, id_col=id_col)
        edges = manifests.with_bucket(edges, "doc_id", n_buckets)
        per_bucket = {
            r["bucket"]: r["n"]
            for r in edges.groupBy("bucket").agg(F.count("*").alias("n")).collect()
        }
        per_bucket = {b: per_bucket.get(b, 0) for b in pending if b in input_buckets}
        # dynamic partition overwrite, NOT append: the manifest row lands
        # AFTER the data write, so a crash between the two leaves committed
        # parquet with no manifest — the resume reprocesses those buckets,
        # and an append would duplicate every edge in them.  Overwriting
        # exactly the (event_subtype, bucket) partitions present in this
        # batch is idempotent because the pipeline is deterministic over
        # the same input buckets (same rule as corpus.write_training_shards)
        (edges.write.mode("overwrite")
         .option("partitionOverwriteMode", "dynamic")
         .partitionBy("event_subtype", "bucket")
         .parquet(os.path.join(out_dir, "edges")))
    wall_ms = int((time.perf_counter() - t0) * 1000)
    manifests.record(spark, out_dir, stage, per_bucket, wall_ms)
    return {"processed_buckets": sorted(pending),
            "rows": int(sum(per_bucket.values()))}
