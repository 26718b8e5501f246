"""The executor package zip (``session._package_zip``): named by the content
of the package, so a zip is reused only for the very same code."""

from __future__ import annotations

import os
import tempfile
import zipfile

from surge_spark.session import _package_zip


def _tree(root, body: str) -> str:
    os.makedirs(os.path.join(root, "streaming"))
    for rel, text in (("__init__.py", ""), ("streaming/fold.py", body), ("notes.txt", "x")):
        with open(os.path.join(root, rel), "w") as f:
            f.write(text)
    return str(root)


def _contents(zpath: str) -> dict[str, bytes]:
    with zipfile.ZipFile(zpath) as zf:
        return {n: zf.read(n) for n in zf.namelist()}


def test_package_zip_is_named_by_content(tmp_path, monkeypatch):
    tmp = tmp_path / "tmp"
    tmp.mkdir()
    monkeypatch.setattr(tempfile, "tempdir", str(tmp))
    # a zip left under a pid-style name by another process is never reused
    stale = tmp / f"surge_spark_pkg_{os.getpid()}.zip"
    with zipfile.ZipFile(stale, "w") as zf:
        zf.writestr("surge_spark/streaming/fold.py", "OLD = 1\n")

    one = _package_zip(_tree(tmp_path / "one", "VERSION = 1\n"))
    two = _package_zip(_tree(tmp_path / "two", "VERSION = 2\n"))
    assert one != two and str(stale) not in (one, two)
    assert _contents(one) == {
        "surge_spark/__init__.py": b"",
        "surge_spark/streaming/fold.py": b"VERSION = 1\n",
    }
    assert _contents(two)["surge_spark/streaming/fold.py"] == b"VERSION = 2\n"
    # the same code reuses its zip; no temp file is left behind
    assert _package_zip(_tree(tmp_path / "again", "VERSION = 1\n")) == one
    assert not [n for n in os.listdir(tmp) if n.endswith(".tmp")]
