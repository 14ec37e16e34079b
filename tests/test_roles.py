"""P4 ambiguous-role candidate filter + provider hook
(AmbiguousList, reference prepare.py:177-179; candidate narrowing
role_phrase.py:35)."""

from __future__ import annotations

from pyspark.sql import functions as F

from casie_spark.operators.roles import assign_roles, is_ambiguous_role

LINKED_ROWS = [
    # (doc, event, arg, subtype, arg_type)
    ("d1", 0, 0, "Phishing", "Person"),        # ambiguous
    ("d1", 0, 1, "Phishing", "File"),          # not ambiguous
    ("d1", 1, 2, "Ransom", "Money"),           # ambiguous
    ("d1", 1, 3, "Ransom", "Time"),            # not ambiguous
    ("d1", 2, 4, "DiscoverVulnerability", "Website"),  # not in its list
]
SCHEMA = "doc_id string, event_id int, arg_id int, subtype string, arg_type string"


def test_ambiguous_candidates_match_reference_list(spark):
    linked = spark.createDataFrame(LINKED_ROWS, SCHEMA)
    amb = is_ambiguous_role(F.col("subtype"), F.col("arg_type"))
    cand = {(r["event_id"], r["arg_id"])
            for r in linked.filter(amb).collect()}
    assert cand == {(0, 0), (1, 2)}


def test_provider_resolves_only_ambiguous_pairs(spark):
    linked = spark.createDataFrame(LINKED_ROWS, SCHEMA)

    def provider(subtype, arg_type, arg_text):
        return F.lit("ProviderRole")

    out = {(r["event_id"], r["arg_id"]): r["role"]
           for r in assign_roles(linked, provider=provider).collect()}
    assert out[(0, 0)] == "ProviderRole"
    assert out[(1, 2)] == "ProviderRole"
    # unambiguous pairs keep the deterministic RolePair role
    assert out[(0, 1)] != "ProviderRole"
    assert out[(1, 3)] != "ProviderRole"


def test_no_provider_matches_round1_behavior(spark):
    linked = spark.createDataFrame(LINKED_ROWS, SCHEMA)
    base = {(r["event_id"], r["arg_id"]): r["role"]
            for r in assign_roles(linked).collect()}
    assert all(v is None or isinstance(v, str) for v in base.values())
    # deterministic fallback still fills roles from RolePair
    assert base[(1, 3)] is not None


def test_trained_role_provider_resolves_ambiguity(spark):
    """The trained role-phrase model picks surface-appropriate roles
    for P4-ambiguous pairs: 'hackers' -> Attacker, 'customers' ->
    Victim for Databreach+Person (the deterministic fallback returns
    the same role for both)."""
    from casie_spark.operators.roles import trained_role_provider

    cand = spark.createDataFrame(
        [("d", 0, 0, "Databreach", "Person", "hackers"),
         ("d", 0, 1, "Databreach", "Person", "customers"),
         ("d", 1, 2, "Ransom", "Money", "$500"),
         ("d", 2, 3, "Phishing", "Organization", "Apple")],
        "doc_id string, event_id int, arg_id int, subtype string, "
        "arg_type string, arg_text string")
    role = trained_role_provider()(
        F.col("subtype"), F.col("arg_type"), F.col("arg_text"))
    out = {r["arg_id"]: r["role"]
           for r in cand.select("arg_id", role.alias("role")).collect()}
    assert out[0] == "Attacker"
    assert out[1] == "Victim"
    assert out[2] == "Price"
    assert out[3] == "Trusted-Entity"


def test_pipeline_auto_role_provider(spark):
    """mode=model routes ambiguous pairs through the trained provider;
    rules mode stays deterministic (parity-preserving)."""
    from casie_spark.pipeline import run_pipeline
    from casie_spark.sources.documents import synth_documents

    docs = synth_documents(spark, 60, partitions=2)
    model_roles = {r["pred"] for r in
                   run_pipeline(docs, mode="model").select("pred").distinct().collect()}
    assert model_roles  # runs end-to-end with the provider wired
