"""Session factory invariants: the package zip shipped to Python
workers."""

from __future__ import annotations

import os
import subprocess
import sys
import tempfile
import types
import zipfile

from conduit_spark import session

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def test_shipped_package_zip_is_fresh_and_removed_at_exit(tmp_path, monkeypatch):
    """A file left at the old per-pid zip path (another checkout's
    package under a recycled pid, or junk) is never shipped: the zip
    handed to addPyFile holds exactly the current conduit_spark
    sources, and a process removes its zip when it exits."""
    monkeypatch.setattr(tempfile, "tempdir", str(tmp_path))
    (tmp_path / f"conduit_spark_pkg_{os.getpid()}.zip").write_bytes(b"stale")
    monkeypatch.setattr(session, "_PKG_ZIP", None, raising=False)
    monkeypatch.setattr(session, "_PYFILES_SENT", set())
    added = []
    fake = types.SimpleNamespace(
        sparkContext=types.SimpleNamespace(
            applicationId="app-zip-test", addPyFile=added.append
        )
    )
    session._ensure_package_on_executors(fake)

    pkg_dir = os.path.join(REPO, "conduit_spark")
    want = {
        os.path.join("conduit_spark", os.path.relpath(os.path.join(r, f), pkg_dir))
        for r, _d, files in os.walk(pkg_dir)
        for f in files
        if f.endswith(".py")
    }
    assert len(added) == 1
    with zipfile.ZipFile(added[0]) as zf:
        assert set(zf.namelist()) == want
        with open(os.path.join(pkg_dir, "plans.py"), "rb") as f:
            assert zf.read("conduit_spark/plans.py") == f.read()

    out = subprocess.run(
        [sys.executable, "-c",
         "from conduit_spark import session; print(session._package_zip())"],
        cwd=REPO, capture_output=True, text=True, timeout=120, check=True,
    ).stdout.strip()
    assert out.endswith(".zip") and not os.path.exists(out)
