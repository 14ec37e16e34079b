"""Differential + boundary gates for the bucketed range join
(operators/rangejoin.py): the equi-join rewrite must equal the naive
inequality join exactly, including half-open boundaries and intervals
that straddle or align with bucket edges."""

from __future__ import annotations

import numpy as np

from casie_spark.operators.rangejoin import bucketed_interval_join


def _naive(points, intervals):
    out = set()
    for (pid, key, ts) in points:
        for (ikey, iid, s, e) in intervals:
            if key == ikey and s <= ts < e:
                out.add((pid, iid))
    return out


def _run(spark, points, intervals, bucket_secs):
    p = spark.createDataFrame(points, "pid long, user_id long, ts_s long")
    i = spark.createDataFrame(
        intervals, "user_id long, iid long, start_s long, end_s long")
    got = bucketed_interval_join(p, i, ts_col="ts_s",
                                 bucket_secs=bucket_secs)
    return {(r["pid"], r["iid"]) for r in got.collect()}


def test_boundaries_halfopen_and_bucket_alignment(spark):
    B = 100
    intervals = [
        (1, 10, 100, 300),   # exactly bucket-aligned [100, 300)
        (1, 11, 150, 250),   # straddles a bucket edge
        (1, 12, 199, 201),   # tiny, crosses the 200 edge
        (2, 20, 0, 100),     # other key
    ]
    points = [
        (1, 1, 100),   # == start -> IN (10)
        (2, 1, 300),   # == end   -> OUT (10)
        (3, 1, 299),   # last second -> IN (10)
        (4, 1, 200),   # bucket edge inside 10, 11, 12
        (5, 1, 99),    # just before -> none
        (6, 2, 50),    # other key -> 20 only
        (7, 2, 150),   # after 20's end -> none
    ]
    want = _naive([(p, k, t) for p, k, t in points], intervals)
    got = _run(spark, points, intervals, B)
    assert got == want
    assert (1, 10) in got and (2, 10) not in got
    assert got >= {(4, 10), (4, 11), (4, 12), (6, 20)}


def test_random_differential_multiple_bucket_widths(spark):
    rng = np.random.RandomState(3)
    points = [(int(i), int(rng.randint(5)), int(rng.randint(0, 5000)))
              for i in range(300)]
    intervals = []
    for j in range(60):
        s = int(rng.randint(0, 4800))
        intervals.append((int(rng.randint(5)), int(j), s,
                          s + int(rng.randint(1, 400))))
    want = _naive(points, intervals)
    for b in (64, 100, 1000):
        assert _run(spark, points, intervals, b) == want, b


def test_inverted_interval_joins_nothing(spark):
    """An interval whose end precedes its start contains no point and
    must not explode into the buckets between end and start (a 10**15
    second span would overflow the bucket sequence and abort the
    whole join)."""
    intervals = [(1, 30, 864000, -10**15), (1, 31, 500, 500)]
    points = [(1, 1, 0), (2, 1, 500), (3, 1, 863999)]
    assert _run(spark, points, intervals, 86400) == set()
