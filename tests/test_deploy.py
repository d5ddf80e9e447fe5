"""Deployment smoke: the engine runs from a ``spark-submit --py-files`` zip,
the shape in which it is zip-imported on every worker."""

from __future__ import annotations

import json
import os
import subprocess
import sys

import numpy as np
import pandas as pd
from pyspark.find_spark_home import _find_spark_home

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def test_spark_submit_py_files_smoke(tmp_path):
    zip_path = str(tmp_path / "gp_ann_spark.zip")
    subprocess.run(
        [sys.executable, os.path.join(ROOT, "tools", "make_pyfiles.py"), zip_path],
        check=True,
        capture_output=True,
    )
    assert os.path.isfile(zip_path)

    sf_dir = tmp_path / "sf"
    sf_dir.mkdir()
    vecs = np.random.default_rng(7).normal(size=(60, 8)).astype(np.float32)
    pd.DataFrame({"vec_id": np.arange(60, dtype=np.int64), "embedding": list(vecs)}).to_parquet(
        sf_dir / "embeddings.parquet"
    )

    # run from tmp_path so no worker can import the package from the checkout
    proc = subprocess.run(
        [
            os.path.join(_find_spark_home(), "bin", "spark-submit"),
            "--master", "local[2]",
            "--conf", "spark.ui.enabled=false",
            "--py-files", zip_path,
            os.path.join(ROOT, "tools", "submit_smoke.py"),
            str(sf_dir),
        ],
        cwd=tmp_path,
        capture_output=True,
        text=True,
        timeout=600,
    )
    assert proc.returncode == 0, proc.stderr[-4000:]
    out = json.loads(proc.stdout.strip().splitlines()[-1])
    assert out["smoke"] == "ok"
    assert out["n_points"] == 60 and out["n_edges"] > 0
