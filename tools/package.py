"""Build the package zip for spark-submit --py-files.

Usage: python tools/package.py   (writes dist/gtfs_osm_sync_spark.zip)

The zip is a build product, not committed: build it before submitting
any jobs/*.py entry point.
"""

from __future__ import annotations

import os
import zipfile

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def build(out: str) -> str:
    """Write every gtfs_osm_sync_spark/**/*.py (no __pycache__) to `out`."""
    os.makedirs(os.path.dirname(os.path.abspath(out)), exist_ok=True)
    pkg = os.path.join(REPO, "gtfs_osm_sync_spark")
    with zipfile.ZipFile(out, "w", zipfile.ZIP_DEFLATED) as z:
        for root, _dirs, files in os.walk(pkg):
            if "__pycache__" in root:
                continue
            for f in files:
                if not f.endswith(".py"):
                    continue
                full = os.path.join(root, f)
                z.write(full, os.path.relpath(full, REPO))
    return out


def main() -> None:
    print(build(os.path.join(REPO, "dist", "gtfs_osm_sync_spark.zip")))


if __name__ == "__main__":
    main()
