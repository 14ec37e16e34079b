"""Role assignment (roleassign, reference code/link_coref.py:1409-1457).

Semantics:
- The upstream role column (model prediction / gold replay) wins when
  present.  NOTE a deliberate divergence: the reference *forces* the
  single-valued RolePair role over the model output (:1420-1427), but
  its RolePair constants use a different surface vocabulary than the
  corpus roles the models were trained on (e.g. RolePair says
  'Ransom-Price'/'Vulnerable-System-Version' where the corpus says
  'Price'/'Vulnerable_System_Version') — forcing would systematically
  rename ~600 corpus-vocabulary roles, so upstream-first preserves
  parity with the corpus the models emit.
- With no upstream role: the single-valued RolePair role (:1420-1427),
  else the first legal role as deterministic fallback (model-free v1 —
  a trained model slots in behind the same column).
- Databreach 'Number' arguments take Number-of-Victim /
  Number-of-Compromised-Data from the role of the *next* argument id
  attached to the same event (:1444-1457).

Physical note: the (subtype, arg_type) -> role lookup is a ~70-row
broadcast-joined table, NOT a nested when()-chain — the chain version
blew the 64 KB whole-stage-codegen method limit and forced interpreted
fallback for the whole stage.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import Column, DataFrame, SparkSession, Window
from pyspark.sql import functions as F
from pyspark.sql.functions import pandas_udf

from .. import config


def role_lookup_df(spark: SparkSession) -> DataFrame:
    """(subtype, arg_type, single_role, first_role) — RolePair flattened."""
    rows = []
    for sub, amap in config.ROLE_PAIR.items():
        for atype, roles in amap.items():
            rows.append(
                (sub, atype, roles[0] if len(roles) == 1 else None, roles[0])
            )
    return spark.createDataFrame(
        rows, "subtype string, arg_type string, single_role string, first_role string"
    )


def parse_role_weights(arrays):
    """Artifact arrays -> (tables, labels) for the role-phrase head."""
    tables = {k[5:]: arrays[k].astype(np.float32)
              for k in arrays if k.startswith("role_") and k != "role_labels"}
    return tables, [str(s) for s in arrays["role_labels"]]


def load_role_weights(path: str | None = None):
    """(tables, labels) from the trained role-phrase artifact
    (operators/train_roles.py), or None when absent.  Cached per
    (process, path) by deploy.load_artifact; the provider broadcasts it."""
    from ..deploy import load_artifact
    from .train_roles import ROLE_ARTIFACT

    return load_artifact(path or ROLE_ARTIFACT, parse_role_weights)


def trained_role_provider(weights=None):
    """Role-phrase model provider for :func:`assign_roles` — the
    trained replacement for the reference's BiLSTM-attention role model
    (role_phrase.py; SURVEY §2.10 M5).  Broadcast summed-gather linear
    head over (subtype, arg_type) pair + hashed head/first words of the
    argument surface; corpus accuracy 0.972 overall / 0.940 on the
    AmbiguousList subset vs 0.327 for the deterministic fallback."""
    def provider(subtype: Column, arg_type: Column,
                 arg_text: Column) -> Column:
        w = weights if weights is not None else load_role_weights()
        if w is None:  # pragma: no cover - artifact is committed
            return F.lit(None).cast("string")
        bc = SparkSession.active().sparkContext.broadcast(w)

        @pandas_udf("string")
        def predict(sub: pd.Series, at: pd.Series,
                    txt: pd.Series) -> pd.Series:
            from .perceptron import gather_logits
            from .train_roles import ROLE_KEYS, role_features

            tables, labels = bc.value
            f = role_features(sub.tolist(), at.tolist(), txt.tolist())
            out = np.array(labels, dtype=object)[
                gather_logits(tables, f, ROLE_KEYS).argmax(1)]
            return pd.Series(out)

        return predict(subtype, arg_type, arg_text)

    return provider


def is_ambiguous_role(subtype, arg_type):
    """P4 candidate predicate (AmbiguousList, prepare.py:177-179):
    True when the (event subtype, argument entity type) pair has more
    than one plausible role and the reference routes it to the
    role-phrase model instead of the deterministic RolePair table
    (role_phrase.py:35 ArgumentList3 narrows the label files the same
    way)."""
    c = F.lit(False)
    for sub, types in config.AMBIGUOUS_LIST.items():
        c = c | ((subtype == sub) & arg_type.isin(types))
    return c


def assign_roles(linked: DataFrame, provider=None,
                 route: str = "ambiguous", canon: bool = False) -> DataFrame:
    """linked (from operators.linking.link) -> + final ``role``.

    ``provider``: optional role-phrase model hook — a callable mapping
    the (subtype, arg_type, arg_text) columns to one role Column.  It
    is scored in place on ``linked``: no candidate subset, no join-back
    and no barrier.  That is the same as joining predictions back by
    (doc_id, event_id, arg_id), because that key is unique in
    ``linked``: both ``linking.link`` and ``linker.link_trained`` keep
    one event per (doc_id, arg_id) (``_rk = 1``).  With
    ``route="ambiguous"`` (the reference semantics) only the P4
    AmbiguousList pairs take the provider's role and resolve as
    upstream > provider > deterministic.  With ``route="all"`` (the
    mode=model quality path) EVERY linked pair is scored by the
    provider — the trained head is more accurate than the
    deterministic table on every slice (0.972 overall vs 0.616,
    train_roles.py), emits the gold-corpus vocabulary, and covers the
    (subtype, Software) pairs RolePair has no entry for at all (845
    gold arguments that otherwise fall through to has_argument).

    ``canon=True`` additionally maps any deterministic-table fallback
    through config.GOLD_ROLE_CANON so the output vocabulary is
    uniformly the corpus one (RolePair's 'Vulnerable-System' /
    'Patch-Releaser' / ... strings do not occur in the corpus — see
    the config docstring).  Rules-mode callers leave both options at
    their reference-faithful defaults."""
    upstream = (F.col("role") if "role" in linked.columns
                else F.lit(None).cast("string"))
    lookup = role_lookup_df(linked.sparkSession)
    df = linked.join(F.broadcast(lookup), ["subtype", "arg_type"], "left")
    provided = F.lit(None).cast("string")
    if provider is not None:
        provided = provider(F.col("subtype"), F.col("arg_type"),
                            F.col("arg_text"))
        if route != "all":
            provided = F.when(
                is_ambiguous_role(F.col("subtype"), F.col("arg_type")),
                provided)
    fallback = [F.col("single_role"), F.col("first_role")]
    if canon:
        canon_map = F.create_map(
            *[F.lit(x) for kv in config.GOLD_ROLE_CANON.items() for x in kv])
        fallback = [F.coalesce(canon_map[c], c) for c in fallback]
    df = df.withColumn(
        "role", F.coalesce(upstream, provided, *fallback),
    ).drop("single_role", "first_role")

    # Databreach Number -> look at the next attached argument's role
    # (canon: the corpus calls the data-count role Number-of-Data)
    wnext = Window.partitionBy("doc_id", "event_id").orderBy("arg_id")
    next_role = F.lead("role", 1).over(wnext)
    return df.withColumn(
        "role",
        F.when(
            (F.col("subtype") == "Databreach")
            & (F.col("arg_type") == "Number")
            & (next_role == "Victim"),
            F.lit("Number-of-Victim"),
        )
        .when(
            (F.col("subtype") == "Databreach")
            & (F.col("arg_type") == "Number")
            & (next_role == "Compromised-Data"),
            F.lit("Number-of-Data" if canon else "Number-of-Compromised-Data"),
        )
        .otherwise(F.col("role")),
    )
