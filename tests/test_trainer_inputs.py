"""The trainers' span stage on seeded synthetic gold.

``train_coref.build_inputs`` (gold replay),
``train_linker.build_training_pools`` (model tagging, edge repair) and
``train_begin.build_training_frame`` (model tagging, a begin-only
repair) read the CASIE annotation files, which are not everywhere the
tests run.
These tests point ``load_annotations`` at the synthetic gold of
``test_linking_oracle`` and pin each collected frame's row count and
order-free ``sum(xxhash64)`` fingerprint, so a change to how the
trainers cut and repair spans cannot move their inputs unnoticed.
"""

from __future__ import annotations

import functools
import json

import pytest
from pyspark.sql import functions as F

from casie_spark.sources import annotations
from test_linking_oracle import synth_gold_doc

N_DOCS = 100


@pytest.fixture(scope="module")
def gold_path(tmp_path_factory):
    path = tmp_path_factory.mktemp("trainer_gold") / "annotations.json"
    path.write_text(json.dumps([synth_gold_doc(i) for i in range(N_DOCS)]))
    return str(path)


@pytest.fixture
def synth_annotations(monkeypatch, gold_path):
    monkeypatch.setattr(annotations, "load_annotations", functools.partial(
        annotations.load_annotations, path=gold_path))


def fingerprint(spark, pdf) -> tuple[int, str]:
    df = spark.createDataFrame(pdf)
    r = df.agg(
        F.count(F.lit(1)).alias("rows"),
        F.sum(F.xxhash64(*sorted(df.columns)).cast("decimal(38,0)"))
        .alias("fp"),
    ).first()
    return r["rows"], str(r["fp"])


def test_coref_inputs_pinned(spark, synth_annotations):
    from casie_spark.operators.train_coref import build_inputs

    assert fingerprint(spark, build_inputs(spark)) == (
        683, "202574878745498290527")


def test_linker_pools_pinned(spark, synth_annotations):
    from casie_spark.operators.train_linker import build_training_pools

    assert fingerprint(spark, build_training_pools(spark)) == (
        208, "67395312383652521857")


@pytest.mark.parametrize("edge,want", [
    ("begin", (66, "-69802961189778787054")),
    ("end", (73, "26382679140376462063")),
])
def test_trigger_edge_frames_pinned(spark, synth_annotations, edge, want):
    """``train_begin``'s trigger-head frames (the synthetic gold's
    argument types rarely meet the tagger's).  The end frame comes from
    begin-repaired spans, a begin-only repair that keeps the end
    context; a forced -1 begin head moves the trigger begins, which
    the committed head leaves in place on this corpus."""
    from test_begin_repair import forced_weights

    from casie_spark.operators.begin_repair import SHIFTS
    from casie_spark.operators.train_begin import build_training_frame

    pdf = build_training_frame(
        spark, head="trig", edge=edge,
        begin_weights={"trig": forced_weights(SHIFTS.index(-1))})
    assert fingerprint(spark, pdf) == want
