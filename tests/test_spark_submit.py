"""End-to-end `spark-submit --py-files` launch of the maintenance CLI.

north_rule: the engine must run "via spark-submit --py-files on a
multi-executor cluster". This test launches the REAL spark-submit
binary with the engine shipped as a zip (no repo on the driver's cwd
path), runs compact + expire through the CLI, and checks the table's
row accounting survived — the packaging contract pytest's in-process
imports cannot catch.
"""

import json
import os
import shutil
import subprocess
import sys

import pytest

from aws_medallion_datalake_spark.session import build_pyfiles_zip
from aws_medallion_datalake_spark.sources.generator import SCHEMA, generate_images
from aws_medallion_datalake_spark.sources.tableformat import Table

SPARK_SUBMIT = shutil.which("spark-submit") or "/opt/spark/bin/spark-submit"

DRIVER = """
import sys
from aws_medallion_datalake_spark.operators.run import main
main(sys.argv[1:])
"""


@pytest.mark.skipif(
    not os.path.exists(SPARK_SUBMIT), reason="spark-submit not installed"
)
def test_spark_submit_pyfiles_runs_maintenance(tmp_path, spark):
    t = Table.create(
        str(tmp_path / "images"),
        schema_ddl=SCHEMA,
        partition_cols=["ingest_date"],
        stats_cols=["phash", "w", "h", "image_id"],
    )
    for k in range(2):  # fragmented: 2 commits x 8 files
        t.commit(
            "append",
            t.write_files(generate_images(spark, 400, n_files=8, start=400 * k)),
        )
    n_before = int(t.manifest_pdf()["record_count"].sum())
    files_before = len(t.manifest_pdf())

    script = tmp_path / "driver.py"
    script.write_text(DRIVER)
    env = dict(os.environ)
    env.pop("PYTHONPATH", None)  # the zip must be the ONLY way to the pkg
    out = subprocess.run(
        [
            SPARK_SUBMIT,
            "--master", "local[4]",
            "--conf", "spark.sql.shuffle.partitions=4",
            "--conf", "spark.ui.enabled=false",
            "--py-files", build_pyfiles_zip(),
            str(script),
            "--table", str(tmp_path / "images"),
            "--checkpoint", str(tmp_path / "ckpt"),
            "--stages", "compact,expire",
            "--master", "local[4]",
        ],
        capture_output=True,
        text=True,
        cwd=str(tmp_path),  # NOT the repo — imports must come from the zip
        env=env,
        timeout=420,
    )
    assert out.returncode == 0, out.stderr[-3000:]
    metrics = json.loads(out.stdout.strip().splitlines()[-1])
    assert set(metrics) == {"compact", "expire", "run_summary"}
    assert metrics["run_summary"]["status"] == "SUCCESS"

    t2 = Table.load(str(tmp_path / "images"))
    man = t2.manifest_pdf()
    assert int(man["record_count"].sum()) == n_before
    assert len(man) < files_before  # compaction actually packed files
    assert metrics["compact"]["rewritten_files"] == files_before


def test_pyfiles_zip_is_named_by_content(tmp_path, monkeypatch):
    """An unchanged package returns the same zip without rewriting it; a
    changed one gets a new zip, so a process that shipped the old one
    never sees it change."""
    import tempfile
    import zipfile

    from aws_medallion_datalake_spark import session

    pkg = tmp_path / "pkg" / "aws_medallion_datalake_spark"
    (pkg / "sub").mkdir(parents=True)
    (pkg / "__init__.py").write_text("")
    (pkg / "sub" / "mod.py").write_text("X = 1\n")
    monkeypatch.setattr(session, "_PKG_DIR", str(pkg))
    monkeypatch.setattr(tempfile, "tempdir", str(tmp_path / "tmp"))
    (tmp_path / "tmp").mkdir()

    first = build_pyfiles_zip()
    stat = os.stat(first)
    again = build_pyfiles_zip()
    assert again == first
    assert os.stat(again).st_mtime_ns == stat.st_mtime_ns
    assert os.stat(again).st_ino == stat.st_ino
    with zipfile.ZipFile(first) as zf:
        assert sorted(zf.namelist()) == [
            "aws_medallion_datalake_spark/__init__.py",
            "aws_medallion_datalake_spark/sub/mod.py",
        ]

    (pkg / "sub" / "mod.py").write_text("X = 2\n")
    changed = build_pyfiles_zip()
    assert changed != first and os.path.isfile(first)
    with zipfile.ZipFile(changed) as zf:
        assert zf.read("aws_medallion_datalake_spark/sub/mod.py") == b"X = 2\n"
    assert sorted(os.listdir(tmp_path / "tmp")) == sorted(
        os.path.basename(p) for p in (first, changed)
    )
