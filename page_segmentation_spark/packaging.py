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

The same zip carries :func:`install_zip_reload_guard`, which the
package's ``__init__`` runs on import.  So the guard reaches every Spark
Python worker that imports the package (``get_spark``, ``--py-files``
and cluster deploys alike) without any conf or daemon module.  The
package's Arrow kernels call :func:`freeze_worker_heap` when they start,
which takes what a reused worker has loaded out of the full collection
that the worker daemon runs after every task.
"""

from __future__ import annotations

import functools
import gc
import hashlib
import os
import sys
import tempfile
import zipfile
import zipimport

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


#: ``__main__`` module names of PySpark's Python worker processes
_SPARK_WORKER_MAINS = ("pyspark.daemon", "pyspark.worker")


def _worker_main() -> str | None:
    """The module name this process runs as ``__main__``, if any."""
    spec = getattr(sys.modules.get("__main__"), "__spec__", None)
    return getattr(spec, "name", None)


def _stat_guarded(reload):
    """Wrap ``zipimporter.invalidate_caches`` (``reload``) so that it
    re-reads an archive only when the archive's stat key changed.

    Each importer keeps the ``(st_mtime_ns, st_size, st_ino)`` of its
    ``archive`` from its last guarded reload.  An unchanged key returns
    without reading; anything else, a failed ``stat`` included, runs
    ``reload`` (which re-reads the central directory or drops the cache)
    and then records the key, taken before the read so that a rewrite
    during the read is seen at the next call.  A zip rewritten in place
    with another size or mtime, or replaced under the same path (a new
    inode), is therefore still re-read.  The key misses one case: a
    rewrite in place to the same size within one timestamp tick.  Spark
    refuses to ``addPyFile`` a different file under a name it already
    serves, and :func:`make_pyfiles_zip` never rewrites its
    content-addressed zip, so that case does not reach the workers."""

    @functools.wraps(reload)
    def invalidate_caches(self):
        try:
            st = os.stat(self.archive)
            key = (st.st_mtime_ns, st.st_size, st.st_ino)
        except OSError:
            key = None
        if key is not None and key == getattr(self, "_pss_stat_key", None):
            return
        reload(self)
        self._pss_stat_key = key

    invalidate_caches._pss_stat_guarded = True
    return invalidate_caches


def _install_stat_guard() -> None:
    """Replace ``zipimporter.invalidate_caches`` with its stat-guarded
    form in this process; a second call does nothing, and neither does
    a Python before 3.10, whose ``zipimporter`` has no such method."""
    cls = zipimport.zipimporter
    reload = getattr(cls, "invalidate_caches", None)
    if reload is not None and not getattr(reload, "_pss_stat_guarded", False):
        cls.invalidate_caches = _stat_guarded(reload)


def install_zip_reload_guard() -> bool:
    """Stat-guard ``zipimporter.invalidate_caches`` if this process is a
    Spark Python worker; return whether it is.

    PySpark's ``worker_util.setup_spark_files`` calls
    ``importlib.invalidate_caches()`` at the start of every task, and
    each ``zipimporter`` then re-reads its archive's whole central
    directory (``pyspark.zip`` alone has over a thousand entries): about
    0.2 s of CPU per task before the kernel runs.  The guard skips the
    re-read of an archive that has not changed (:func:`_stat_guarded`).
    The worker installs it when a task first imports this package, so
    that worker's first task still pays the cost, and its second task
    re-reads each archive once more to record the keys.  On the driver,
    in tests and in tools the stdlib method stays untouched."""
    if _worker_main() not in _SPARK_WORKER_MAINS:
        return False
    _install_stat_guard()
    return True


#: ``len(sys.modules)`` at this process's last :func:`freeze_worker_heap`
_modules_at_freeze = 0


def freeze_worker_heap() -> bool:
    """Move this worker's live objects to the collector's permanent
    generation when it has loaded modules since it last did; return
    whether it froze.

    A reused worker (``pyspark.daemon`` with ``SPARK_REUSE_WORKER``)
    runs a full ``gc.collect()`` after every task.  Once the package
    and its kernel are loaded, that collection walks some 74,000 live
    objects (about 20 ms) and finds almost nothing.  ``gc.freeze()`` takes
    them out of every later collection, which then walks only what was
    made since.  The package's Arrow kernels call this when they start,
    so the freeze comes after their modules and the task's closure have
    loaded; a kernel that imports more modules later (the WARC kernel,
    then extraction, in one streaming worker) freezes again at its next
    start.  It collects first, so nothing that is already garbage is
    frozen; cyclic garbage made after the freeze is still collected.
    Without reuse, or under ``pyspark.worker``, no per-task collection
    runs and this does nothing, as it does on the driver, in tests and
    in tools."""
    global _modules_at_freeze
    if _worker_main() != "pyspark.daemon" or not os.environ.get(
        "SPARK_REUSE_WORKER"
    ):
        return False
    if len(sys.modules) <= _modules_at_freeze:
        return False
    gc.collect()
    gc.freeze()
    _modules_at_freeze = len(sys.modules)
    return True


if __name__ == "__main__":
    print(make_pyfiles_zip())
