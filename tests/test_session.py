"""Session factory invariants: the package zip shipped to Python
workers, the default driver heap, and session artifacts that die with
their session."""

from __future__ import annotations

import json
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


def test_default_driver_heap_follows_the_host(monkeypatch):
    """The default heap is half of physical memory, capped at 16g, so
    a small host is never asked for more heap than it has."""
    page = 4096
    for phys_gib, want in ((15, "7680m"), (64, "16384m")):
        monkeypatch.setattr(
            os,
            "sysconf",
            lambda name, n=phys_gib: page if name == "SC_PAGE_SIZE" else (n << 30) // page,
        )
        assert session._default_driver_memory() == want


_ARTIFACT_CHILD = """
import json, os, sys
sys.path.insert(0, sys.argv[1])
from conduit_spark import get_spark, plans
from conduit_spark.analytics.processor_queries import p_cdc_upsert
from conduit_spark.analytics.similarity import s_semantic_dedup

sf = sys.argv[2]
spark = get_spark("artifact-cleanup-a")
p_cdc_upsert(spark, sf).collect()
s_semantic_dedup(spark, sf).collect()
first = {name: path for (_app, name, _key), path in plans._ARTIFACTS.items()}

def write(path):
    open(os.path.join(path, "part-0"), "w").close()

probe_a = plans.session_artifact(spark, "probe", "k", write)
spark.stop()
spark = get_spark("artifact-cleanup-b")
probe_b = plans.session_artifact(spark, "probe", "k", write)
left = [p for p in [*first.values(), probe_a] if os.path.exists(p)]
print(json.dumps({"first": first, "a": probe_a, "b": probe_b,
                  "left": left, "root": plans._ARTIFACT_ROOT}))
spark.stop()
"""


def test_session_artifacts_are_removed_with_their_session(tmp_path, sf_dir):
    """A process that ran a fixture-backed query and a Lloyd consumer
    leaves no artifact directory in the temp dir after it exits, and a
    second application in the same process never gets the first
    application's directory back: the first one's directories are
    deleted as soon as the second one asks."""
    env = dict(os.environ, TMPDIR=str(tmp_path), SPARK_GRAFT_CPUS="2")
    proc = subprocess.run(
        [sys.executable, "-c", _ARTIFACT_CHILD, REPO, sf_dir],
        cwd=tmp_path, env=env, capture_output=True, text=True, timeout=600,
    )
    assert proc.returncode == 0, proc.stderr[-3000:]
    got = json.loads(proc.stdout.strip().splitlines()[-1])
    assert {"cdc_changelog", "lloyd"} <= set(got["first"])
    assert got["root"].startswith(str(tmp_path))
    assert got["b"] != got["a"]
    assert got["left"] == []
    assert not os.path.exists(got["root"])
    assert [p.name for p in tmp_path.iterdir() if p.name.startswith("conduit_")] == []
