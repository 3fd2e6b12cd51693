"""tools/package.py builds the zip the jobs/*.py entry points ship with
spark-submit --py-files: it must hold exactly the package's source files
and be importable on its own."""

from __future__ import annotations

import importlib.util
import os
import subprocess
import sys
import zipfile

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
PKG = os.path.join(REPO, "gtfs_osm_sync_spark")


def _source_files() -> dict[str, bytes]:
    out = {}
    for root, _dirs, files in os.walk(PKG):
        if "__pycache__" in root:
            continue
        for f in files:
            if f.endswith(".py"):
                full = os.path.join(root, f)
                with open(full, "rb") as fh:
                    out[os.path.relpath(full, REPO)] = fh.read()
    return out


def _build(tmp_path) -> str:
    spec = importlib.util.spec_from_file_location("package", os.path.join(REPO, "tools", "package.py"))
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod.build(str(tmp_path / "gtfs_osm_sync_spark.zip"))


def test_dist_zip_matches_source_tree(tmp_path):
    zpath = _build(tmp_path)
    src = _source_files()
    with zipfile.ZipFile(zpath) as z:
        names = z.namelist()
        assert sorted(names) == sorted(src)
        assert all(z.read(n) == src[n] for n in names)
    # the zip alone imports: run from an empty dir with only the zip on
    # the path (no checkout, no PYTHONPATH)
    env = {k: v for k, v in os.environ.items() if k != "PYTHONPATH"}
    code = (
        f"import sys; sys.path.insert(0, {zpath!r}); "
        "import gtfs_osm_sync_spark.streaming.sync as s, gtfs_osm_sync_spark as g; "
        "print(g.__file__)"
    )
    out = subprocess.run(
        [sys.executable, "-c", code], cwd=tmp_path, env=env, capture_output=True, text=True
    )
    assert out.returncode == 0, out.stderr[-2000:]
    assert out.stdout.strip().startswith(zpath)


def test_no_compiled_artifacts_tracked(tmp_path):
    """No __pycache__/.pyc may be tracked by git or shipped in the zip
    (a compiled artifact can shadow edited source under --py-files)."""
    tracked = subprocess.run(
        ["git", "ls-files"], cwd=REPO, capture_output=True, text=True
    ).stdout.splitlines()
    bad = [f for f in tracked if "__pycache__" in f or f.endswith(".pyc")]
    assert not bad, f"compiled artifacts tracked in git: {bad}"
    with zipfile.ZipFile(_build(tmp_path)) as z:
        zbad = [n for n in z.namelist() if "__pycache__" in n or n.endswith(".pyc")]
    assert not zbad, f"compiled artifacts in dist zip: {zbad}"
