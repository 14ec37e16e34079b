"""spark-submit --py-files deployment: the zip bundle must carry the
trained artifacts AND the loaders must find them when the package is
imported from the zip (north_rule: "run via spark-submit --py-files on
a multi-executor cluster").  The subprocess below has NO filesystem
checkout on its path — its only source of casie_spark is the zip —
so a regression to plain os.path artifact loading fails loudly here
instead of silently degrading a cluster run to the rule fallbacks.
"""

from __future__ import annotations

import json
import os
import subprocess
import sys
import zipfile

import pytest

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

# one probe per learned head: loader call -> truthy means the TRAINED
# artifact was found (every loader returns None / an untrained
# fallback when the artifact is absent)
_PROBE = r"""
import json
import casie_spark

checks = {}
# the package must come from the zip, not a checkout
checks["from_zip"] = casie_spark.__file__.split("/casie_spark/")[0].endswith(".zip")

from casie_spark.operators.model_tagger import load_weights
checks["tagger"] = load_weights().trig_trans is not None  # distilled fallback has no transitions

from casie_spark.operators.begin_repair import load_begin_weights
checks["begin_repair"] = load_begin_weights() is not None

from casie_spark.operators.linker import load_linker_weights
checks["linker"] = load_linker_weights() is not None

from casie_spark.operators.roles import load_role_weights
checks["roles"] = load_role_weights() is not None

from casie_spark.operators.realis import load_realis_weights
checks["realis"] = load_realis_weights() is not None

from casie_spark.operators.coref import load_coref_weights
checks["coref"] = load_coref_weights() is not None

print(json.dumps(checks))
"""


@pytest.fixture(scope="module")
def bundle(tmp_path_factory):
    from casie_spark.deploy import build_pyfiles_zip

    out = tmp_path_factory.mktemp("deploy") / "casie_spark.zip"
    return build_pyfiles_zip(str(out))


def test_zip_carries_code_and_artifacts(bundle):
    with zipfile.ZipFile(bundle) as zf:
        names = set(zf.namelist())
    assert "casie_spark/__init__.py" in names
    assert "casie_spark/pipeline.py" in names
    assert "casie_spark/operators/model_tagger.py" in names
    for art in ("tagger_weights.npz", "begin_weights.npz",
                "linker_weights.npz", "role_weights.npz",
                "realis_weights.npz", "coref_weights.npz"):
        assert f"casie_spark/artifacts/{art}" in names
    assert not any(n.endswith(".pyc") or "__pycache__" in n for n in names)


def test_loaders_resolve_artifacts_from_zip(bundle, tmp_path):
    env = dict(os.environ)
    env["PYTHONPATH"] = bundle  # the zip is the ONLY package source
    r = subprocess.run(
        [sys.executable, "-c", _PROBE], capture_output=True, text=True,
        env=env, cwd=str(tmp_path), timeout=120,
    )
    assert r.returncode == 0, r.stderr
    checks = json.loads(r.stdout.strip().splitlines()[-1])
    assert checks and all(checks.values()), checks


def test_resolve_artifact_passthrough(tmp_path):
    """Real files and explicit non-package paths are returned verbatim
    (training probes rely on a missing explicit path staying missing)."""
    from casie_spark.deploy import resolve_artifact
    from casie_spark.operators.model_tagger import ARTIFACT_PATH

    assert resolve_artifact(ARTIFACT_PATH) == ARTIFACT_PATH  # exists on disk
    custom = str(tmp_path / "nope.npz")
    assert resolve_artifact(custom) == custom  # explicit override, untouched


_SUBMIT_DRIVER = r"""
import sys
from pyspark.sql import SparkSession

spark = (
    SparkSession.builder.appName("casie-submit-smoke")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.sql.session.timeZone", "UTC")
    .getOrCreate()
)
import casie_spark

# the package must resolve from the --py-files zip, not a checkout
assert casie_spark.__file__.split("/casie_spark/")[0].endswith(".zip"), \
    casie_spark.__file__

from casie_spark.pipeline import run_pipeline
from casie_spark.sources.documents import synth_documents

docs = synth_documents(spark, 60)
n = run_pipeline(docs, mode="model").count()
print("TRIPLES=" + str(n))
spark.stop()
"""


def test_spark_submit_pyfiles_end_to_end(bundle, tmp_path):
    """The north-rule invocation, literally: ``spark-submit --py-files
    casie_spark.zip driver.py`` with NO checkout on the path — the zip
    is the only package source for the driver AND the executors (the
    pipeline's mapInPandas/pandas_udf stages import casie_spark inside
    executor workers).  mode=model exercises the broadcast-weight
    loaders through the zip-safe resolve_artifact path under a real
    submit, end to end to triples."""
    import shutil

    spark_submit = shutil.which("spark-submit") or "/opt/spark/bin/spark-submit"
    if not os.path.exists(spark_submit):
        pytest.skip("spark-submit not on this host")
    driver = tmp_path / "submit_driver.py"
    driver.write_text(_SUBMIT_DRIVER)
    env = {k: v for k, v in os.environ.items() if k != "PYTHONPATH"}
    r = subprocess.run(
        [spark_submit, "--master", "local[2]", "--driver-memory", "4g",
         "--py-files", bundle, str(driver)],
        capture_output=True, text=True, env=env, cwd=str(tmp_path),
        timeout=420,
    )
    assert r.returncode == 0, r.stderr[-4000:]
    lines = [ln for ln in r.stdout.splitlines() if ln.startswith("TRIPLES=")]
    assert lines, r.stdout[-2000:]
    assert int(lines[0].split("=", 1)[1]) > 0


def _role_arrays(b):
    import numpy as np

    return {"role_pair": np.zeros((3, 1), np.float16),
            "role_head": np.zeros((3, 1), np.float16),
            "role_first": np.zeros((3, 1), np.float16),
            "role_b": np.array([b], np.float16),
            "role_labels": np.array(["Victim"])}


def _realis_arrays(b):
    import numpy as np

    return {"realis_trig": np.zeros((3, 1), np.float16),
            "realis_ctx": np.zeros((3, 1), np.float16),
            "realis_b": np.array([b], np.float16),
            "realis_labels": np.array(["Actual"])}


def _coref_arrays(b):
    import numpy as np

    from casie_spark.operators.coref import COREF_PAIR_FEATURES

    n = len(COREF_PAIR_FEATURES)
    return {"w": np.ones(n), "b": np.float64(b), "mu": np.zeros(n),
            "sd": np.ones(n), "thr": np.float64(0.5)}


@pytest.mark.parametrize("head", ["roles", "realis", "coref"])
def test_resave_is_not_masked_by_loader_cache(head, tmp_path):
    """Saving a retrained artifact over an already-loaded path must
    reach the next load: the loader cache may not keep serving the
    tables it parsed before the save."""
    from casie_spark.deploy import save_artifact
    from casie_spark.operators.coref import load_coref_weights
    from casie_spark.operators.realis import load_realis_weights
    from casie_spark.operators.roles import load_role_weights

    arrays, load, bias = {
        "roles": (_role_arrays, load_role_weights, lambda w: w[0]["b"][0]),
        "realis": (_realis_arrays, load_realis_weights,
                   lambda w: w[0]["b"][0]),
        "coref": (_coref_arrays, load_coref_weights, lambda w: w[1]),
    }[head]
    path = str(tmp_path / f"{head}.npz")
    save_artifact(arrays(1.0), path)
    assert bias(load(path)) == 1.0
    save_artifact(arrays(2.0), path)
    assert bias(load(path)) == 2.0


def test_artifact_inventory_matches_loaders():
    """Every committed .npz is the default artifact of one of the six
    loaders, and every loader finds its trained artifact — an orphaned
    artifact (one no loader reads) or a missing one fails here."""
    import glob

    from casie_spark.deploy import _ARTIFACTS_DIR
    from casie_spark.operators.begin_repair import (
        BEGIN_ARTIFACT, load_begin_weights)
    from casie_spark.operators.coref import COREF_ARTIFACT, load_coref_weights
    from casie_spark.operators.linker import (
        LINKER_ARTIFACT, load_linker_weights)
    from casie_spark.operators.model_tagger import ARTIFACT_PATH, load_weights
    from casie_spark.operators.realis import load_realis_weights
    from casie_spark.operators.roles import load_role_weights
    from casie_spark.operators.train_realis import REALIS_ARTIFACT
    from casie_spark.operators.train_roles import ROLE_ARTIFACT

    loaders = {ARTIFACT_PATH: load_weights, BEGIN_ARTIFACT: load_begin_weights,
               ROLE_ARTIFACT: load_role_weights,
               REALIS_ARTIFACT: load_realis_weights,
               LINKER_ARTIFACT: load_linker_weights,
               COREF_ARTIFACT: load_coref_weights}
    assert set(glob.glob(os.path.join(_ARTIFACTS_DIR, "*.npz"))) == set(loaders)
    for path, load in loaders.items():
        assert load() is not None, path
    assert load_weights().trig_ctx is not None  # not the distilled fallback
