"""Cluster packaging and zip-safe artifact access.

The north rule runs this engine via ``spark-submit --py-files
casie_spark.zip`` on a multi-executor cluster.  Shipped that way, the
package's ``__file__`` points *inside* the archive, so the plain
``os.path.join(dirname(__file__), "artifacts", ...)`` paths every
weight loader builds do not exist on disk — and the loaders would
silently fall back to the untrained/rule paths.  Two pieces close
that gap:

- :func:`build_pyfiles_zip` packages the source tree plus the trained
  ``artifacts/*.npz`` into one zip suitable for ``--py-files`` (the
  reference ships its model blobs the same way, as files beside the
  code — link_coref.py:89-119 loads them relative to the script).
- :func:`resolve_artifact` is the indirection every loader routes its
  default path through: a real file wins untouched; otherwise the
  artifact is located through :mod:`importlib.resources` (which reads
  from zips) and extracted once to a content-addressed per-user cache
  so ``np.load`` keeps operating on a normal file.

Every loader and trainer reads and writes its ``.npz`` through
:func:`load_artifact` / :func:`save_artifact`: one resolve-load-parse
path with one per-path cache, which a save invalidates.

Executors never need any of this: weights are loaded on the driver and
broadcast (SURVEY.md S5), so only the driver-side import path must be
zip-safe.  ``tests/test_deploy.py`` runs the whole loader surface in a
subprocess whose only package source is the zip.
"""

from __future__ import annotations

import hashlib
import os
import tempfile
import zipfile

import numpy as np

_PKG_DIR = os.path.dirname(os.path.abspath(__file__))
_ARTIFACTS_DIR = os.path.join(_PKG_DIR, "artifacts")

# extensions worth shipping: code, trained weights, committed metrics
_SHIP_SUFFIXES = (".py", ".npz", ".json")


def build_pyfiles_zip(out_path: str | None = None) -> str:
    """Write ``casie_spark.zip`` for ``spark-submit --py-files``.

    Walks the package source tree (works only from a filesystem
    checkout — packaging FROM a zip is not a real workflow) and stores
    every ``.py`` / ``.npz`` / ``.json`` under a top-level
    ``casie_spark/`` prefix, skipping ``__pycache__``.  Returns the
    absolute zip path (default: ``$TMPDIR/casie_spark.zip``).
    """
    out = os.path.abspath(
        out_path or os.path.join(tempfile.gettempdir(), "casie_spark.zip"))
    tmp = out + ".tmp"
    with zipfile.ZipFile(tmp, "w", zipfile.ZIP_DEFLATED) as zf:
        for root, dirs, files in os.walk(_PKG_DIR):
            dirs[:] = sorted(d for d in dirs if d != "__pycache__")
            for name in sorted(files):
                if not name.endswith(_SHIP_SUFFIXES):
                    continue
                full = os.path.join(root, name)
                rel = os.path.join(
                    "casie_spark", os.path.relpath(full, _PKG_DIR))
                zf.write(full, rel)
    os.replace(tmp, out)
    return out


_EXTRACT_CACHE: dict[str, str] = {}
_PRIVATE_CACHE_DIR: list[str] = []  # fallback when shared /tmp is unsafe


def _cache_dir() -> str:
    """Per-user extraction cache dir, validated against /tmp squatting.

    The predictable shared-tmp path is only trusted when it is a real
    directory we own with no group/other write bits — on a multi-tenant
    node another user could otherwise pre-create it (``makedirs(...,
    exist_ok=True)`` succeeds on a foreign-owned dir) and plant files at
    the content-addressed names.  When the check fails, fall back to a
    process-private ``mkdtemp`` (loses cross-process reuse, keeps
    correctness)."""
    shared = os.path.join(
        tempfile.gettempdir(), f"casie_artifacts_{os.getuid()}")
    try:
        os.makedirs(shared, mode=0o700, exist_ok=True)
        st = os.lstat(shared)
        import stat as _stat

        if _stat.S_ISDIR(st.st_mode) and st.st_uid == os.getuid() \
                and not (st.st_mode & 0o022):
            return shared
    except OSError:
        pass
    if not _PRIVATE_CACHE_DIR:
        _PRIVATE_CACHE_DIR.append(tempfile.mkdtemp(prefix="casie_artifacts_"))
    return _PRIVATE_CACHE_DIR[0]


def _extracted_resource(name: str) -> str | None:
    """Extract ``casie_spark/artifacts/<name>`` from the import source
    (zip or wheel) to a cached real file; None when absent there too.

    The cache file is content-addressed (md5 prefix), so a redeployed
    zip with different weights never collides with a stale extraction.
    Successful resolutions are memoized per process (name -> path), so
    repeated loader calls don't re-read + re-hash the zip bytes;
    absence is NOT memoized (matching :func:`load_artifact`'s
    no-pinning convention — a cheap ``is_file()`` probe re-runs instead).  A
    pre-existing cache file is trusted only after its bytes hash to the
    expected digest — a planted or truncated file is overwritten, never
    loaded.
    """
    cached = _EXTRACT_CACHE.get(name)
    if cached is not None and os.path.exists(cached):
        return cached
    try:
        from importlib import resources

        ref = resources.files(__package__).joinpath("artifacts", name)
        if not ref.is_file():
            return None
        data = ref.read_bytes()
    except Exception:  # no importer metadata (e.g. bare sys.path hack)
        return None
    digest = hashlib.md5(data).hexdigest()
    out = os.path.join(_cache_dir(), f"{digest[:12]}_{name}")
    valid = False
    if os.path.exists(out):
        with open(out, "rb") as f:
            valid = hashlib.md5(f.read()).hexdigest() == digest
    if not valid:
        tmp = f"{out}.{os.getpid()}.tmp"
        with open(tmp, "wb") as f:
            f.write(data)
        os.replace(tmp, out)  # atomic: concurrent extractors agree
    _EXTRACT_CACHE[name] = out
    return out


def resolve_artifact(path: str) -> str:
    """Map a default artifact path to a loadable real file.

    A path that exists (or any caller-supplied path outside the
    package artifacts dir — explicit overrides keep exact semantics,
    including "missing" probes before training) is returned unchanged;
    a missing path *inside* ``casie_spark/artifacts`` is retried
    through the package import source, covering the ``--py-files``
    zip deployment.  :func:`load_artifact` applies its
    ``os.path.exists`` / cache-by-path logic to the resolved path.
    """
    if os.path.exists(path) or os.path.dirname(path) != _ARTIFACTS_DIR:
        return path
    return _extracted_resource(os.path.basename(path)) or path


_ARTIFACT_CACHE: dict = {}


def load_artifact(path: str, parse):
    """``parse(arrays)`` of the ``.npz`` at ``path`` (resolved through
    :func:`resolve_artifact`; ``arrays`` is a name -> ndarray dict), or
    None when the file is absent.  Cached per (process, path).  Neither
    absence nor a None parse (a stale artifact from an older feature
    set) is cached, so a later :func:`save_artifact` is picked up."""
    p = resolve_artifact(path)
    if p in _ARTIFACT_CACHE:
        return _ARTIFACT_CACHE[p]
    if not os.path.exists(p):
        return None
    with np.load(p, allow_pickle=False) as z:
        out = parse({k: z[k] for k in z.files})
    if out is not None:
        _ARTIFACT_CACHE[p] = out
    return out


def save_artifact(arrays, path: str) -> str:
    """Write ``arrays`` as a compressed ``.npz`` at ``path`` and drop
    that path's cached parse, so the next load sees the new tables."""
    os.makedirs(os.path.dirname(path), exist_ok=True)
    np.savez_compressed(path, **arrays)
    _ARTIFACT_CACHE.pop(resolve_artifact(path), None)
    return path


def main() -> None:  # pragma: no cover - thin CLI
    """``python -m casie_spark.deploy [out.zip]`` — build the bundle."""
    import sys

    out = build_pyfiles_zip(sys.argv[1] if len(sys.argv) > 1 else None)
    print(out)


if __name__ == "__main__":  # pragma: no cover
    main()
