"""ship_package guards (page_segmentation_spark/packaging.py)."""

import os
import shutil
import zipfile

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
