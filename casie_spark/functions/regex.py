"""CVE / version token predicates.

- CVE pattern ``CVE-\\d+-\\d+``: reference code/parseJsontoFeatures.py:223-228.
- Version pattern ``(v)*\\d+\\.\\d+(\\.\\d+)*``: parseJsontoFeatures.py:185-222
  (context rules — previous token is software/system-ish — are applied at
  the tagging stage, functions stay context-free).

Everything JVM-side (``rlike``) so Catalyst keeps these in whole-stage
codegen and DuckDB can mirror them for the oracle.
"""

from __future__ import annotations

from pyspark.sql import Column


def is_cve_token(tok: Column) -> Column:
    return tok.rlike(r"^CVE-\d+-\d+$")


def is_version_token(tok: Column) -> Column:
    return tok.rlike(r"^v?\d+\.\d+(\.\d+)*$")
