"""SparkSession factory, self-shipping of the package to executors, and
the one constructor for small driver-built frames.

The engine is driven by ``spark-submit --py-files engine.zip`` on a real
cluster (BASELINE.json north_rule). ``build_pyfiles_zip()`` produces that
zip; ``get_session()`` additionally ships it via ``addPyFile`` so ad-hoc
drivers (pytest, bench.py, notebooks) work without the flag — executors
unpickle pandas-UDF closures by importing this package, so it must be on
every worker's path either way.

Config mirrors the reference's job bootstrap (AQE + coalescePartitions,
/root/reference/scripts/bronze_digit.py:14-20) plus the Arrow/image-payload
tuning from SURVEY.md §4. File listing follows the engine's one
metadata fan-out rule: explicit paths are listed on the driver up to
``FOOTER_SPARK_THRESHOLD`` files, the same bound above which footer-stats
harvests fan out over executors.
"""

from __future__ import annotations

import hashlib
import os
import tempfile
import zipfile

from pyspark.sql import DataFrame, SparkSession

_PKG_DIR = os.path.dirname(os.path.abspath(__file__))
_PKG_NAME = os.path.basename(_PKG_DIR)


def build_pyfiles_zip(dest: str | None = None) -> str:
    """Zip the package for --py-files / addPyFile distribution.

    By default the zip is named by a hash of the package's files
    (``<tempdir>/<package>-<hash>.zip``) and written once: an unchanged
    package returns the existing zip untouched, so processes on one host
    never rewrite a zip another one has shipped (Spark refuses to add a
    file whose contents changed under its name). Entries carry a fixed
    timestamp, and the zip lands by ``os.replace`` of a temporary file,
    so no reader sees a partial zip.

    When the package already IMPORTS from a zip (a spark-submit
    --py-files driver), that zip is the distributable — return it
    instead of walking a zip-interior path (which yields nothing and
    would truncate the very zip spark-submit distributed)."""
    if not os.path.isdir(_PKG_DIR):
        container = _PKG_DIR
        while container and not os.path.isfile(container):
            container = os.path.dirname(container)
        if container and zipfile.is_zipfile(container):
            return container
        raise RuntimeError(f"package dir {_PKG_DIR!r} is not walkable")
    files = []
    for dirpath, dirnames, filenames in os.walk(_PKG_DIR):
        dirnames[:] = sorted(d for d in dirnames if d != "__pycache__")
        for fn in sorted(filenames):
            if fn.endswith(".py"):
                full = os.path.join(dirpath, fn)
                rel = os.path.join(_PKG_NAME, os.path.relpath(full, _PKG_DIR))
                with open(full, "rb") as fh:
                    files.append((rel, fh.read()))
    if dest is None:
        h = hashlib.sha256()
        for rel, data in files:
            h.update(f"{rel}\0{len(data)}\0".encode())
            h.update(data)
        name = f"{_PKG_NAME}-{h.hexdigest()[:16]}.zip"
        dest = os.path.join(tempfile.gettempdir(), name)
        if os.path.isfile(dest):
            return dest
    where = os.path.dirname(os.path.abspath(dest))
    fd, tmp = tempfile.mkstemp(suffix=".zip.tmp", dir=where)
    try:
        with os.fdopen(fd, "wb") as fh, zipfile.ZipFile(fh, "w") as zf:
            for rel, data in files:
                entry = zipfile.ZipInfo(rel, date_time=(1980, 1, 1, 0, 0, 0))
                zf.writestr(entry, data, zipfile.ZIP_DEFLATED)
        os.replace(tmp, dest)
    except BaseException:
        if os.path.exists(tmp):
            os.unlink(tmp)
        raise
    return dest


def local_frame(
    spark: SparkSession, columns: dict, ddl: str | None = None
) -> DataFrame:
    """A small driver-built frame (routing tables, path lists, key lists)
    as a ``LocalRelation``.

    ``createDataFrame(list)`` pickles its rows through a Python RDD, so
    the first job over it forks Python workers just to ship a few dozen
    values. A ``pyarrow.Table`` reaches the JVM as Arrow batches and
    lands as a ``LocalRelation``: no RDD, no job, no worker. ``columns``
    maps column name to values; ``ddl`` fixes the types (Arrow-cast),
    else they are inferred from the values."""
    import pyarrow as pa
    from pyspark.sql.types import StructType

    if ddl is None:
        return spark.createDataFrame(pa.table(columns))
    schema = StructType.fromDDL(ddl)
    return spark.createDataFrame(
        pa.table({f.name: columns[f.name] for f in schema.fields}), schema
    )


def get_session(
    master: str = "local[*]",
    app_name: str = "aws_medallion_datalake_spark",
    shuffle_partitions: int | None = None,
    extra_conf: dict | None = None,
    ship_package: bool = True,
) -> SparkSession:
    from .sources.tableformat import FOOTER_SPARK_THRESHOLD

    b = (
        SparkSession.builder.master(master)
        .appName(app_name)
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        # image payloads are KB–MB each: bound Arrow batch size (SURVEY §4)
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "256")
        .config("spark.sql.parquet.compression.codec", "snappy")
        # maintenance shuffles route wide binary rows into up-to-4096
        # output partitions; the bypass writer opens one file PER REDUCE
        # PARTITION per map task (a handle storm that also diverges from
        # the >200-partition production path, which always uses the
        # serialized sorter). Route everything wider than 64 through the
        # serialized sort writer: one spill file per map task.
        .config("spark.shuffle.sort.bypassMergeThreshold", "64")
        # the format("medallion") connector implements pushFilters; Spark
        # refuses such readers unless pushdown is explicitly enabled
        .config("spark.sql.python.filterPushdown.enabled", "true")
        # more than 32 explicit paths (Spark's default) are listed by a
        # distributed job: one task per path, e.g. 64 tasks to list a
        # compaction batch whose sizes the manifest already holds. List
        # on the driver up to the footer-stats fan-out bound instead.
        .config(
            "spark.sql.sources.parallelPartitionDiscovery.threshold",
            str(FOOTER_SPARK_THRESHOLD),
        )
        .config("spark.ui.enabled", "false")
        # local-mode driver == all executors; the 1g default heap OOMs on
        # binary image shuffles (irrelevant on a real cluster where
        # spark-submit sizes executors explicitly)
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "16g"))
    )
    if shuffle_partitions is not None:
        b = b.config("spark.sql.shuffle.partitions", str(shuffle_partitions))
    # startup-time self-ship: addPyFile (below) reaches executor Python
    # workers, but the DRIVER-SIDE Python runners Spark forks for the
    # Python Data Source API (the streaming source runner in particular)
    # build their PYTHONPATH from the JVM's inherited env, not from
    # late addPyFile includes — without this, readStream.format(
    # "medallion") dies with ModuleNotFoundError when the driver script
    # lives outside the repo. `spark-submit --py-files` does exactly
    # this for real drivers; we mirror it for ad-hoc ones. Must happen
    # BEFORE the JVM launches (a reused session keeps its env).
    if ship_package and os.path.isdir(_PKG_DIR):
        z = build_pyfiles_zip()
        b = b.config("spark.submit.pyFiles", z)
        pp = os.environ.get("PYTHONPATH", "")
        if z not in pp.split(os.pathsep):
            os.environ["PYTHONPATH"] = z + (os.pathsep + pp if pp else "")
    for k, v in (extra_conf or {}).items():
        b = b.config(k, v)
    spark = b.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    # Under `spark-submit --py-files engine.zip` the package already
    # imports FROM a shipped zip: re-adding a freshly built (hence
    # byte-different) zip of the same name makes addFile fail with
    # "exists and does not match contents". The files are already on
    # every worker's path in that mode — skip the self-ship.
    if ship_package and os.path.isdir(_PKG_DIR):
        spark.sparkContext.addPyFile(build_pyfiles_zip())
    return spark
