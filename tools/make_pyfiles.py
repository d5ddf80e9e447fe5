"""Package gp_ann_spark for `spark-submit --py-files` (BASELINE.json
north_rule: "run via spark-submit --py-files on a multi-executor cluster").

    python tools/make_pyfiles.py [out.zip]   # default: dist/gp_ann_spark.zip
    spark-submit --master local[8] --py-files dist/gp_ann_spark.zip \
        tools/submit_smoke.py <sf_dir>
"""

from __future__ import annotations

import os
import sys
import zipfile

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def main(out: str | None = None) -> str:
    out = os.path.abspath(out or os.path.join(ROOT, "dist", "gp_ann_spark.zip"))
    os.makedirs(os.path.dirname(out), exist_ok=True)
    pkg = os.path.join(ROOT, "gp_ann_spark")
    with zipfile.ZipFile(out, "w", zipfile.ZIP_DEFLATED) as z:
        for dirpath, _, files in os.walk(pkg):
            if "__pycache__" in dirpath:
                continue
            for fn in files:
                if fn.endswith(".py"):
                    full = os.path.join(dirpath, fn)
                    z.write(full, os.path.relpath(full, ROOT))
    print(out)
    return out


if __name__ == "__main__":
    main(sys.argv[1] if len(sys.argv) > 1 else None)
