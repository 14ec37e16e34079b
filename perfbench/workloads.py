"""Workload inputs, timed units and output checks.

A unit is one call of the program's public entry point on the whole
input, ended by a full-column action: ``run_pipeline`` + a ``noop``
write of every triple column, or ``build_graph`` + ``write_graph`` into
a fresh directory.  Output checks ride on ``DataFrame.observe``, so they
add no Spark job to the timed region.
"""

from __future__ import annotations

import contextlib
import json
import os
import time

from pyspark.sql import Observation
from pyspark.sql import functions as F

# Seeds map onto this many doc-id windows; a window's pages are a pure
# function of its doc ids (sources.documents.synth_documents).
WINDOWS = 8

WORKLOADS = {
    # Article-length pages: each page joins 6 consecutive synthetic
    # bodies (~2 kB), so the model decode UDF, the edge heads and the
    # linker ranker see news-article-sized sentence pools.
    "model_articles": {"kind": "pipeline", "mode": "model", "pages": 100,
                       "bodies_per_page": 6},
    # Short pages through the graph path: fixed per-call cost (~170
    # jobs), the only workload with coref, canonicalize and the writes.
    "graph_small": {"kind": "graph", "mode": "rules", "pages": 64,
                    "bodies_per_page": 1},
}

EXPECTED_PATH = os.path.join(os.path.dirname(os.path.abspath(__file__)),
                             "expected.json")


def window(seed: int) -> int:
    return seed % WINDOWS


def build_inputs(spark, workload: str, seed: int, partitions: int):
    """-> (persisted documents frame, page count, {"all": urls, "en": English urls})."""
    from casie_spark.sources.documents import synth_documents

    spec = WORKLOADS[workload]
    per_page = spec["bodies_per_page"]
    n_ids = spec["pages"] * per_page
    start = window(seed) * n_ids
    raw = (
        synth_documents(spark, start + n_ids, partitions=partitions)
        .withColumn("_id", F.regexp_extract("url", r"/(\d+)$", 1).cast("long"))
        .filter(F.col("_id") >= start)
    )
    if per_page == 1:
        docs = raw.drop("_id")
    else:
        bodies = F.array_sort(F.collect_list(F.struct("_id", "text")))
        docs = (
            raw.groupBy(((F.col("_id") - start) / per_page).cast("long").alias("_page"))
            .agg(
                F.min_by("url", "_id").alias("_url0"),
                F.min("warc_ts").alias("warc_ts"),
                F.min_by(F.col("html").cast("string"), "_id").alias("_html0"),
                F.array_join(F.transform(bodies, lambda b: b["text"]), "\n").alias("text"),
                F.min_by("lang", "_id").alias("lang"),
            )
            .select(
                F.concat("_url0", F.lit("/full")).alias("url"),
                "warc_ts",
                F.encode(F.concat(F.substring_index("_html0", "<text>", 1),
                                  F.lit("<text>\n"), "text"), "UTF-8").alias("html"),
                "text",
                "lang",
            )
            .repartition(partitions, "url")
        )
    docs = docs.persist()
    pages = docs.count()
    rows = docs.select("url", "lang").collect()
    urls = {"all": sorted(r.url for r in rows),
            "en": sorted(r.url for r in rows if r.lang == "en")}
    return docs, pages, urls


def _foreign(col, urls):
    """1 where a row's doc_id is not one of ``urls``."""
    return F.when(F.coalesce(F.col(col).isin(urls), F.lit(False)), 0).otherwise(1)


def _fingerprint(cols):
    """Order-insensitive fingerprint: sum of row hashes, exact."""
    return F.sum(F.xxhash64(*cols).cast("decimal(38,0)"))


def _span(tracer, layer):
    return tracer.span(layer) if tracer is not None else contextlib.nullcontext()


def pipeline_unit(spark, docs, spec, urls, tracer=None) -> dict:
    """run_pipeline drops non-English pages, so every triple's doc_id
    must be an English input url."""
    from casie_spark import pipeline
    from casie_spark.util import track_persists

    obs = Observation("triples")
    with track_persists():
        t0 = time.time()
        triples = pipeline.run_pipeline(docs, mode=spec["mode"])
        checked = triples.observe(
            obs,
            F.count(F.lit(1)).alias("rows"),
            _fingerprint(pipeline.TRIPLE_COLUMNS).alias("fp"),
            F.sum(F.when(F.col("subj").isNull() | F.col("pred").isNull()
                         | F.col("obj").isNull(), 1).otherwise(0)).alias("nulls"),
            F.sum(_foreign("doc_id", urls["en"])).alias("foreign"),
        )
        with _span(tracer, "pipeline"):
            checked.write.format("noop").mode("overwrite").save()
        t1 = time.time()
    got = obs.get
    out = {"t0": t0, "t1": t1, "rows": got["rows"], "fp": str(got["fp"])}
    out["errors"] = [msg for bad, msg in (
        (got["rows"] == 0, "no triples"),
        (got["nulls"] != 0, f"{got['nulls']} triples with null subj/pred/obj"),
        (got["foreign"] != 0, f"{got['foreign']} triples whose doc_id is not an English input url"),
    ) if bad]
    return out


def graph_unit(spark, docs, spec, urls, out_dir, tracer=None) -> dict:
    """build_graph applies no language filter, so edges may come from
    any input page; the written tables must match the frames written."""
    from casie_spark.sources import sinks
    from casie_spark.util import track_persists

    ov, oe = Observation("vertices"), Observation("edges")
    with track_persists():
        t0 = time.time()
        vertices, edges = sinks.build_graph(docs, mode=spec["mode"])
        sinks.write_graph(vertices.observe(ov, F.count(F.lit(1)).alias("rows")),
                          edges.observe(oe, F.count(F.lit(1)).alias("rows")), out_dir)
        t1 = time.time()
    e = spark.read.parquet(os.path.join(out_dir, "edges"))
    v = spark.read.parquet(os.path.join(out_dir, "vertices"))
    er = e.agg(
        F.count(F.lit(1)).alias("rows"),
        _fingerprint(sorted(e.columns)).alias("fp"),
        F.sum(F.when(F.col("subj_id").isNull() | F.col("pred").isNull()
                     | F.col("obj_id").isNull(), 1).otherwise(0)).alias("nulls"),
        F.sum(_foreign("doc_id", urls["all"])).alias("foreign"),
    ).first()
    vr = v.agg(F.count(F.lit(1)).alias("rows"),
               _fingerprint(sorted(v.columns)).alias("fp")).first()
    ends = e.select(F.col("subj_id").alias("id")).union(e.select(F.col("obj_id").alias("id")))
    dangling = ends.join(v.select(F.col("vertex_id").alias("id")), "id", "left_anti").count()
    out = {"t0": t0, "t1": t1, "edges": er["rows"], "vertices": vr["rows"],
           "fp": f"{er['fp']}/{vr['fp']}"}
    out["errors"] = [msg for bad, msg in (
        (er["rows"] == 0, "no edges"),
        (er["rows"] != oe.get["rows"], f"edges read back {er['rows']} != written {oe.get['rows']}"),
        (vr["rows"] != ov.get["rows"], f"vertices read back {vr['rows']} != written {ov.get['rows']}"),
        (dangling != 0, f"{dangling} edge endpoints are not vertices"),
        (er["nulls"] != 0, f"{er['nulls']} edges with null subj/pred/obj"),
        (er["foreign"] != 0, f"{er['foreign']} edges whose doc_id is not an input url"),
    ) if bad]
    return out


def check_expected(workload: str, seed: int, unit: dict) -> None:
    """Append an error to ``unit`` when a recorded window's output moved."""
    with open(EXPECTED_PATH) as f:
        want = json.load(f).get(workload, {}).get(str(window(seed)))
    if want is None:
        return
    got = {k: unit[k] for k in want}
    if got != want:
        unit["errors"].append(f"output differs from the recorded window: {got} != {want}")
