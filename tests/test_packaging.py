"""ship_package guards (page_segmentation_spark/packaging.py)."""

import gc
import os
import shutil
import zipfile

import pytest

from page_segmentation_spark import packaging


def test_make_pyfiles_zip_contains_package(tmp_path):
    out = packaging.make_pyfiles_zip(str(tmp_path / "pkg.zip"))
    names = zipfile.ZipFile(out).namelist()
    assert "page_segmentation_spark/queries.py" in names
    assert "page_segmentation_spark/operators/components.py" in names
    assert all(n.endswith(".py") for n in names)


def test_ship_package_noop_when_imported_from_zip(monkeypatch, tmp_path):
    # spark-submit --py-files imports the package from inside the zip:
    # _PKG_DIR is then not a real directory, and shipping must be a
    # no-op (rebuilding would clobber the registered archive with an
    # empty zip and addFile would reject the mismatch).
    fake = str(tmp_path / "page_segmentation_spark.zip" / "page_segmentation_spark")
    monkeypatch.setattr(packaging, "_PKG_DIR", fake)

    class Boom:
        @property
        def sparkContext(self):  # pragma: no cover - must not be reached
            raise AssertionError("ship_package must not touch spark")

    assert packaging.ship_package(Boom()) == fake
    assert not os.path.exists(fake)


def test_ship_package_path_is_content_addressed(monkeypatch, tmp_path):
    # two package trees with different sources ship to different paths;
    # the same tree shipped twice reuses its zip without rewriting it
    monkeypatch.setenv("TMPDIR", str(tmp_path))
    added = []

    class FakeSpark:
        class sparkContext:  # noqa: N801 - mimics SparkSession attribute
            addPyFile = staticmethod(added.append)

    paths = []
    for tree in ("a", "b"):
        dst = tmp_path / tree / "page_segmentation_spark"
        shutil.copytree(
            os.path.dirname(packaging.__file__), dst,
            ignore=shutil.ignore_patterns("__pycache__"),
        )
        (dst / "probe.py").write_text(f"TREE = {tree!r}\n")
        monkeypatch.setattr(packaging, "_PKG_DIR", str(dst))
        paths.append(packaging.ship_package(FakeSpark()))
        zf = zipfile.ZipFile(paths[-1])
        assert zf.read("page_segmentation_spark/probe.py") == (
            f"TREE = {tree!r}\n".encode()
        )
    assert paths[0] != paths[1] and added == paths

    os.utime(paths[1], ns=(0, 10**9))  # a rewrite would move the mtime
    before = os.stat(paths[1])
    assert packaging.ship_package(FakeSpark()) == paths[1]
    after = os.stat(paths[1])
    assert (after.st_ino, after.st_mtime_ns) == (before.st_ino, 10**9)
    assert not [n for n in os.listdir(tmp_path) if n.endswith(".tmp")]


# The zip reload guard patches a stdlib class for the whole process, so
# each check runs in its own interpreter and this one keeps the stdlib
# method.
_GUARD_PRELUDE = """
import importlib, os, sys, zipfile, zipimport
from page_segmentation_spark import packaging

zp = sys.argv[1]

def write(path, src):
    with zipfile.ZipFile(path, "w") as zf:  # "w" truncates: same inode
        zf.writestr("probe_mod.py", src)

write(zp, "V = 1\\n")
sys.path.insert(0, zp)
import probe_mod
assert probe_mod.V == 1
packaging._install_stat_guard()
packaging._install_stat_guard()  # a second install does nothing
guarded = zipimport.zipimporter.invalidate_caches
assert guarded.__wrapped__.__name__ == "invalidate_caches"
assert not hasattr(guarded.__wrapped__, "_pss_stat_guarded")

reads = []
_read = zipimport._read_directory
def counting(archive):
    reads.append(archive)
    return _read(archive)
zipimport._read_directory = counting

def reloads():
    del reads[:]
    importlib.invalidate_caches()
    return reads.count(zp)

def reimport():
    del sys.modules["probe_mod"]
    return importlib.import_module("probe_mod").V

def pin_mtime(path, st):
    os.utime(path, ns=(st.st_atime_ns, st.st_mtime_ns))
"""


def _run_python(code, *args, **env):
    import subprocess
    import sys

    root = os.path.dirname(os.path.dirname(os.path.abspath(packaging.__file__)))
    out = subprocess.run(
        [sys.executable, "-c", code, *args],
        env=dict(os.environ, PYTHONPATH=root, **env),
        capture_output=True, text=True, timeout=120,
    )
    assert out.returncode == 0, out.stderr


def _run_guard_script(tmp_path, body):
    _run_python(_GUARD_PRELUDE + body, str(tmp_path / "probe.zip"))


def test_zip_guard_skips_unchanged_archive(tmp_path):
    _run_guard_script(tmp_path, """
assert reloads() == 1  # the first guarded call records the stat key
assert reloads() == 0 and reloads() == 0
assert reimport() == 1
""")


def test_zip_guard_rereads_in_place_rewrite(tmp_path):
    # same path, same inode and same mtime: only the size tells
    _run_guard_script(tmp_path, """
assert reloads() == 1 and reloads() == 0
st = os.stat(zp)
write(zp, "V = 22\\n")
pin_mtime(zp, st)
new = os.stat(zp)
assert (new.st_ino, new.st_mtime_ns) == (st.st_ino, st.st_mtime_ns)
assert new.st_size != st.st_size
assert reloads() == 1
assert reimport() == 22
assert reloads() == 0
""")


def test_zip_guard_rereads_replaced_archive(tmp_path):
    # os.replace under the same path, same size and mtime: a new inode
    _run_guard_script(tmp_path, """
write(zp, "V = 2\\n")
assert reloads() == 1 and reloads() == 0
st = os.stat(zp)
write(zp + ".tmp", "V = 3\\n")
pin_mtime(zp + ".tmp", st)
os.replace(zp + ".tmp", zp)
new = os.stat(zp)
assert (new.st_size, new.st_mtime_ns) == (st.st_size, st.st_mtime_ns)
assert new.st_ino != st.st_ino
assert reloads() == 1
assert reimport() == 3
os.unlink(zp)  # a failed stat always reaches the stdlib method
assert reloads() == 1 and reloads() == 1
""")


def test_package_import_leaves_stdlib_reload_outside_spark_workers():
    _run_python(
        "import zipimport\n"
        "stdlib = zipimport.zipimporter.invalidate_caches\n"
        "import page_segmentation_spark\n"
        "assert zipimport.zipimporter.invalidate_caches is stdlib\n"
        "assert page_segmentation_spark._packaging.install_zip_reload_guard() is False\n"
        "assert zipimport.zipimporter.invalidate_caches is stdlib\n"
    )


def test_zip_guard_installed_in_spark_worker(spark):
    import zipimport

    from page_segmentation_spark.functions.text import per_document

    df = spark.range(0, 8, numPartitions=4)
    rows = per_document(
        df, ["id"], "id",
        # naming `packaging` makes the worker import the package
        lambda _: (
            getattr(
                packaging.zipimport.zipimporter.invalidate_caches,
                "_pss_stat_guarded", False,
            ),
        ),
        "guarded boolean",
    ).collect()
    assert len(rows) == 8 and all(r["guarded"] for r in rows)
    # the driver (this process) keeps the stdlib method
    assert not hasattr(zipimport.zipimporter.invalidate_caches, "_pss_stat_guarded")


# Heap freeze: interpreter-level checks fake the worker scope in their
# own interpreter; the Spark checks read the collector from inside the
# workers of the test session, where the driver keeps normal GC.
_FREEZE_PRELUDE = """
import gc, importlib.machinery, os, sys, weakref
from page_segmentation_spark import packaging

gc.disable()  # only explicit collections below

def run_as(name):
    sys.modules["__main__"].__spec__ = importlib.machinery.ModuleSpec(name, None)

def cycle():
    c = type("Cycle", (), {})()
    c.me = c
    return weakref.ref(c)  # c is cyclic garbage from here on
"""


@pytest.mark.parametrize("reuse, mains", [
    ("", (None, "pyspark.worker", "pyspark.daemon")),  # "" = unset
    ("1", (None, "pyspark.worker")),
])
def test_heap_freeze_does_nothing_outside_reused_daemon_workers(reuse, mains):
    _run_python(_FREEZE_PRELUDE + f"""
ref = cycle()
for main in {mains!r}:
    if main:
        run_as(main)
    assert packaging.freeze_worker_heap() is False, main
    assert gc.get_freeze_count() == 0 and ref() is not None
""", SPARK_REUSE_WORKER=reuse)


def test_heap_freeze_collects_first_and_refreezes_on_new_modules():
    _run_python(_FREEZE_PRELUDE + """
run_as("pyspark.daemon")
ref = cycle()
assert packaging.freeze_worker_heap() is True
assert ref() is None  # collected, not frozen
frozen = gc.get_freeze_count()
assert frozen > 0
assert packaging.freeze_worker_heap() is False  # no new module
assert gc.get_freeze_count() == frozen
assert "colorsys" not in sys.modules
import colorsys
assert packaging.freeze_worker_heap() is True
assert gc.get_freeze_count() > frozen
late = cycle()  # garbage made after the freeze is still collected
gc.collect()
assert late() is None
""", SPARK_REUSE_WORKER="1")


def _worker_rows(spark, fn, ddl, jobs=1, tasks=4):
    """Rows of ``jobs`` runs of a ``per_document`` kernel over ``tasks``
    one-row partitions."""
    from page_segmentation_spark.functions.text import per_document

    df = per_document(
        spark.range(0, tasks, numPartitions=tasks), ["id"], "id", fn, ddl
    )
    return [r for _ in range(jobs) for r in df.collect()]


def test_worker_heap_frozen_in_spark_worker(spark):
    rows = _worker_rows(
        spark,
        lambda _: (gc.get_freeze_count(), len(gc.get_objects())),
        "frozen long, tracked long",
        jobs=2,
    )
    assert rows and all(r["frozen"] > 0 for r in rows)
    assert all(r["tracked"] < 1000 for r in rows), rows
    assert gc.get_freeze_count() == 0  # the driver keeps normal GC


def test_worker_refreezes_only_after_a_task_loads_modules(spark):
    def fn(_):
        import importlib
        import sys

        from pyspark import TaskContext

        fresh = "colorsys" not in sys.modules
        importlib.import_module("colorsys")
        return (os.getpid(), TaskContext.get().taskAttemptId(), fresh,
                gc.get_freeze_count())

    rows = _worker_rows(
        spark, fn, "pid int, task long, fresh boolean, frozen long",
        jobs=4, tasks=8,
    )
    per_worker = {}  # pid -> its task rows, in the order it ran them
    for r in sorted(rows, key=lambda r: r["task"]):
        per_worker.setdefault(r["pid"], []).append(r)
    grew = same = 0
    for seq in per_worker.values():
        for a, b in zip(seq, seq[1:]):
            if a["fresh"]:  # the next task freezes the new module
                assert b["frozen"] > a["frozen"], seq
                grew += 1
            else:  # no new module: no freeze (frozen objects may be freed)
                assert b["frozen"] <= a["frozen"], seq
                same += 1
    assert grew and same


def test_worker_collects_cycles_made_after_the_freeze(spark):
    def fn(_):
        import weakref

        from pyspark import TaskContext

        task = TaskContext.get().taskAttemptId()
        refs = packaging.__dict__.setdefault("_test_cycles", [])
        earlier = [ref for t, ref in refs if t != task]
        c = type("Cycle", (), {})()
        c.me = c
        refs.append((task, weakref.ref(c)))
        return (os.getpid(), task, gc.get_freeze_count(),
                len(earlier), sum(ref() is not None for ref in earlier))

    rows = _worker_rows(
        spark, fn, "pid int, task long, frozen long, earlier int, alive int",
        jobs=3,
    )
    assert all(r["frozen"] > 0 for r in rows)
    assert any(r["earlier"] for r in rows)  # a worker ran an earlier task
    assert not any(r["alive"] for r in rows), rows
