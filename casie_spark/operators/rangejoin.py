"""Scalable range (interval) join: points into validity intervals.

Spark's own planner turns ``p.ts BETWEEN i.start AND i.end`` into a
broadcast-nested-loop or a sort-merge whose range condition still
scans every interval per key — O(|points| x |intervals per key|)
work the moment a key is hot.  The published fix (the "bucketing /
epoch-slicing" pattern behind Databricks' range-join hints and
bioinformatic interval engines) rewrites it as an EQUI-join:

1. slice time into fixed buckets of ``bucket_secs``;
2. each interval explodes into the buckets it overlaps — a BOUNDED
   fan-out of ceil(interval_len / bucket_secs) + 1 rows;
3. each point belongs to exactly ONE bucket, so the (key, bucket)
   equi-join touches only co-bucketed candidates;
4. the exact containment predicate filters the surviving candidates.

Each (point, interval) pair meets at most once (the point has one
bucket), so no post-join dedup is needed.  All arithmetic is integer
epoch seconds — cross-engine exact, which is what lets the q62 oracle
state the same join naively in DuckDB and hash-match.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def bucketed_interval_join(points: DataFrame, intervals: DataFrame,
                           ts_col: str = "ts_s", start_col: str = "start_s",
                           end_col: str = "end_s", key: str = "user_id",
                           bucket_secs: int = 86400) -> DataFrame:
    """Inner-join ``points`` to every interval of the same ``key``
    with start <= ts < end (half-open).  Returns the joined frame
    with all columns of both inputs (key deduplicated).

    ``bucket_secs`` trades fan-out for candidate precision: the
    interval explode emits len/bucket + 1 rows, the filter discards
    co-bucketed non-matches.  Pick it near the typical interval
    length.
    """
    p = points.withColumn(
        "_b", F.floor(F.col(ts_col) / bucket_secs).cast("long"))
    # an empty or inverted interval contains no point; dropping it
    # first keeps its bucket sequence from running end -> start
    i = intervals.filter(F.col(end_col) > F.col(start_col)).withColumn(
        "_b",
        F.explode(F.sequence(
            F.floor(F.col(start_col) / bucket_secs).cast("long"),
            # end is exclusive: a boundary-aligned end owns no bucket
            F.floor((F.col(end_col) - 1) / bucket_secs).cast("long"))))
    return (p.join(i, [key, "_b"])
            .filter((F.col(ts_col) >= F.col(start_col))
                    & (F.col(ts_col) < F.col(end_col)))
            .drop("_b"))
