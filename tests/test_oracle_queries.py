"""Cross-engine correctness: every queries() entry vs its DuckDB
oracle at sf0.001 (and the width- and sign-sensitive ones at sf0.01),
compared as order-insensitive row multisets that keep the sign of a
float zero, with every oracle column inside 64 bits (stricter than a
value-hash comparison)."""

from __future__ import annotations

import math
import os

import duckdb
import pytest

import __spark_entry__ as entry_mod

TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]


# the sign- and width-sensitive cases, also run at sf0.01: q42 emits
# a -0.0 there, and q50/q65 sum into DuckDB's 128-bit integers
SF01_QUERIES = ["q42_dsir_weights", "q50_pack_sequences",
                "q65_shard_checksums"]


def _connect(sf_dir):
    con = duckdb.connect()
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{sf_dir}/{t}.parquet'")
    return con


@pytest.fixture(scope="module")
def duck(sf_dir):
    return _connect(sf_dir)


@pytest.fixture(scope="module")
def sf01_dir(sf_dir):
    return os.path.join(os.path.dirname(sf_dir), "sf0.01")


@pytest.fixture(scope="module")
def duck01(sf01_dir):
    return _connect(sf01_dir)


def _norm(v):
    if isinstance(v, float):
        if math.isnan(v):
            return "NaN"
        if v == 0.0:
            # -0.0 == 0.0 and they hash alike, so a multiset of floats
            # cannot tell them apart: encode the sign
            return "-0.0" if math.copysign(1.0, v) < 0 else 0.0
        # + 0.0: a tiny value that rounds to zero keeps no sign
        return round(v, 6) + 0.0
    if hasattr(v, "__float__") and not isinstance(v, (int, bool)):
        return round(float(v), 6)
    return v


def _multiset(rows):
    out = {}
    for r in rows:
        k = tuple(_norm(v) for v in r)
        out[k] = out.get(k, 0) + 1
    return out


def _check(spark, sf_dir, duck, name):
    q = entry_mod.queries()[name]
    sql = entry_mod.oracle_sql().get(name)

    if sql is None:
        # pipeline-native ops (coref/canonicalize/model inference) have
        # no ANSI-SQL oracle; gate = non-empty + deterministic repeat
        rows1 = _multiset(tuple(r) for r in q(spark, sf_dir).collect())
        rows2 = _multiset(tuple(r) for r in q(spark, sf_dir).collect())
        assert rows1 and rows1 == rows2, f"{name}: nondeterministic or empty"
        return

    sdf = q(spark, sf_dir)
    scols = [c.lower() for c in sdf.columns]
    srows = [tuple(r) for r in sdf.collect()]

    # Spark's integer columns are 64-bit: an oracle column DuckDB
    # widens to 128 bits breaks the result contract even when the
    # values agree
    rel = duck.sql(sql)
    wide = [c for c, t in zip(rel.columns, rel.types)
            if str(t) in ("HUGEINT", "UHUGEINT")]
    assert not wide, f"{name}: 128-bit oracle columns {wide}"

    res = duck.execute(sql)
    dcols = [d[0].lower() for d in res.description]
    drows = res.fetchall()

    assert scols == dcols, f"{name}: column mismatch {scols} vs {dcols}"
    # driver compares after sorting columns by name; row-level multiset
    # equality implies that
    s_idx = sorted(range(len(scols)), key=lambda i: scols[i])
    sm = _multiset([tuple(r[i] for i in s_idx) for r in srows])
    dm = _multiset([tuple(r[i] for i in s_idx) for r in drows])
    only_s = {k: v for k, v in sm.items() if dm.get(k) != v}
    only_d = {k: v for k, v in dm.items() if sm.get(k) != v}
    assert sm == dm, (
        f"{name}: {len(srows)} spark vs {len(drows)} duck rows; "
        f"spark-only sample {list(only_s.items())[:3]}; "
        f"duck-only sample {list(only_d.items())[:3]}"
    )


@pytest.mark.parametrize("name", sorted(entry_mod.queries().keys()))
def test_query_vs_oracle(spark, sf_dir, duck, name):
    _check(spark, sf_dir, duck, name)


@pytest.mark.parametrize("name", SF01_QUERIES)
def test_query_vs_oracle_sf0_01(spark, sf01_dir, duck01, name):
    _check(spark, sf01_dir, duck01, name)


def test_entry_smoke(spark):
    df = entry_mod.entry(spark)
    rows = df.limit(10).collect()
    assert len(rows) > 0
    assert set(df.columns) == {
        "doc_id", "subj", "pred", "obj", "event_subtype", "realis", "confidence"
    }
