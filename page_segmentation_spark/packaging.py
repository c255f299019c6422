"""Executor-side packaging: ship this package to Python workers.

The reference parallelizes decode with a local ``multiprocessing.Pool``
(lib/dataset.py:195) where workers inherit the parent's modules.  Spark
executors don't — the package must travel.  Production path:

    spark-submit --py-files $(python -m page_segmentation_spark.packaging)

which prints the zip's path.  Programmatic path: :func:`ship_package`
(called by :func:`page_segmentation_spark.session.get_spark`) builds the
same zip and registers it with ``sc.addPyFile`` so any cluster manager
distributes it.

The default zip path is content-addressed
(``$TMPDIR/page_segmentation_spark-<digest>.zip``, the digest taken over
the source files), written under a temporary name and renamed into
place, and never rewritten once it exists.  So two sessions, or two
checkouts of different sources, never overwrite a zip that another
session's executors may be fetching.
"""

from __future__ import annotations

import hashlib
import os
import tempfile
import zipfile

_PKG_DIR = os.path.dirname(os.path.abspath(__file__))
_PKG_NAME = os.path.basename(_PKG_DIR)


def make_pyfiles_zip(out_path: str | None = None) -> str:
    """Zip the package (source only) for --py-files.

    Without ``out_path`` the zip lands at a path named by a digest of the
    sources and is reused if it already exists."""
    sources = []  # (path, archive name), sorted
    for root, dirs, files in os.walk(_PKG_DIR):
        dirs[:] = sorted(d for d in dirs if d != "__pycache__")
        for fn in sorted(f for f in files if f.endswith(".py")):
            full = os.path.join(root, fn)
            rel = os.path.relpath(full, _PKG_DIR)
            sources.append((full, os.path.join(_PKG_NAME, rel)))
    if out_path is None:
        h = hashlib.sha256()
        for full, rel in sources:
            with open(full, "rb") as f:
                h.update(rel.encode() + b"\0" + f.read() + b"\0")
        out_path = os.path.join(
            os.environ.get("TMPDIR", "/tmp"),
            f"{_PKG_NAME}-{h.hexdigest()[:16]}.zip",
        )
        if os.path.exists(out_path):
            return out_path
    fd, tmp = tempfile.mkstemp(
        suffix=".zip.tmp", dir=os.path.dirname(os.path.abspath(out_path))
    )
    try:
        with os.fdopen(fd, "wb") as f, zipfile.ZipFile(
            f, "w", zipfile.ZIP_DEFLATED
        ) as zf:
            for full, rel in sources:
                zf.write(full, rel)
        os.chmod(tmp, 0o644)  # mkstemp creates 0600
        os.replace(tmp, out_path)
    except BaseException:
        os.unlink(tmp)
        raise
    return out_path


def ship_package(spark) -> str:
    """Build the zip and distribute it to executors (idempotent).

    When the package itself was imported FROM a ``--py-files`` zip
    (spark-submit production path), ``_PKG_DIR`` is a path inside that
    zip: it is not a walkable directory, and rebuilding would clobber
    the already-registered archive with an empty one (addFile then
    rejects the content mismatch).  The package is already on every
    executor in that case, so shipping is a no-op."""
    if not os.path.isdir(_PKG_DIR):
        return _PKG_DIR
    path = make_pyfiles_zip()
    spark.sparkContext.addPyFile(path)
    return path


if __name__ == "__main__":
    print(make_pyfiles_zip())
