"""End-to-end test of the spark-submit job surface (engine/submit.py):
zip packaging, the full staged pipeline in local mode, and idempotent
resume from the per-bucket manifests — the north rule's `spark-submit
--py-files ... resumable from checkpoint with lineage + metrics` shape."""

import json
import zipfile
from pathlib import Path

from engine import submit


def test_make_zip(tmp_path):
    out = tmp_path / "engine.zip"
    submit.make_zip(str(out))
    names = zipfile.ZipFile(out).namelist()
    assert "engine/submit.py" in names and "engine/session.py" in names
    assert all(n.startswith("engine/") for n in names)


def test_submit_pipeline_and_resume(spark, unit_pages_sdf, tmp_path):
    inp = tmp_path / "pages"
    unit_pages_sdf.coalesce(2).write.mode("overwrite").parquet(str(inp))
    wd = tmp_path / "out"

    rc = submit.main(["--input", str(inp), "--workdir", str(wd),
                      "--buckets", "4"])
    assert rc == 0
    for stage in ("geopoints", "locations", "episodes", "tiles"):
        assert (wd / stage).exists(), stage
    eps1 = {tuple(r) for r in
            spark.read.parquet(str(wd / "episodes")).collect()}
    assert len(eps1) > 0

    # lineage + metrics: every bucket committed with a row count
    man = json.loads((wd / "episodes" / "_manifest.json").read_text())
    assert man["snapshots"], man
    assert len(man["partitions"]) == 4, man
    assert all("rows" in m for m in man["partitions"].values()), man

    # resume: a re-run sees every bucket committed, reprocesses nothing,
    # and the output is unchanged
    before = {p.name: p.stat().st_mtime
              for p in (wd / "episodes").rglob("*.parquet")}
    rc = submit.main(["--input", str(inp), "--workdir", str(wd),
                      "--buckets", "4"])
    assert rc == 0
    after = {p.name: p.stat().st_mtime
             for p in (wd / "episodes").rglob("*.parquet")}
    assert before == after  # committed chunks untouched
    eps2 = {tuple(r) for r in
            spark.read.parquet(str(wd / "episodes")).collect()}
    assert eps2 == eps1


def test_workers_import_path_holds_engine_root(spark):
    """get_spark puts the directory holding the `engine` package on the
    Python workers' PYTHONPATH, so Arrow kernels that call engine
    functions import it whatever directory the driver started in."""
    import os

    import pandas as pd

    def read_path(batches):
        for _ in batches:
            yield pd.DataFrame({"p": [os.environ.get("PYTHONPATH", "")]})

    root = str(Path(submit.__file__).resolve().parent.parent)
    got = spark.range(1).mapInPandas(read_path, "p string").first()["p"]
    assert root in got.split(os.pathsep), got
