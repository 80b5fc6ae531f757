#!/usr/bin/env python3
"""Package the engine for spark-submit --py-files (north_star contract).

Usage: ``python jobs/make_pyfiles.py [OUT_DIR]`` writes
``OUT_DIR/dpo_ocr_spark.zip`` (default ``dist/`` under the repo root) and
prints its path.
"""

from __future__ import annotations

import argparse
import os
import zipfile

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument(
        "out_dir", nargs="?", default=os.path.join(ROOT, "dist"),
        help="directory to write dpo_ocr_spark.zip into (default: dist/)",
    )
    dist = ap.parse_args(argv).out_dir
    os.makedirs(dist, exist_ok=True)
    out = os.path.join(dist, "dpo_ocr_spark.zip")
    with zipfile.ZipFile(out, "w", zipfile.ZIP_DEFLATED) as z:
        pkg = os.path.join(ROOT, "dpo_ocr_spark")
        for dirpath, _dirnames, filenames in os.walk(pkg):
            if "__pycache__" in dirpath:
                continue
            for fn in sorted(filenames):
                if fn.endswith(".py"):
                    full = os.path.join(dirpath, fn)
                    z.write(full, os.path.relpath(full, ROOT))
    print(out)
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
