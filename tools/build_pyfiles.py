"""Build dist/dataflow_spark.zip for spark-submit --py-files.

Usage: python tools/build_pyfiles.py [OUT_ZIP]   (default dist/dataflow_spark.zip)
"""

from __future__ import annotations

import os
import sys
import zipfile

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def main(out: str | None = None) -> str:
    out = out or os.path.join(ROOT, "dist", "dataflow_spark.zip")
    os.makedirs(os.path.dirname(os.path.abspath(out)), exist_ok=True)
    with zipfile.ZipFile(out, "w", zipfile.ZIP_DEFLATED) as z:
        pkg = os.path.join(ROOT, "dataflow_spark")
        for dirpath, _dirs, files in os.walk(pkg):
            if "__pycache__" in dirpath:
                continue
            for f in files:
                if f.endswith(".py"):
                    full = os.path.join(dirpath, f)
                    z.write(full, os.path.relpath(full, ROOT))
    print(out)
    return out


if __name__ == "__main__":
    main(sys.argv[1] if len(sys.argv) > 1 else None)
