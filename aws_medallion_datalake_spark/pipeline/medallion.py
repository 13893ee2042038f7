"""Bronze→silver→gold stages, re-expressing the reference's semantics.

Stage semantics are lifted from the reference jobs (SURVEY.md §2, §3.1) and
re-targeted at the image+caption table:

- **bronze** — raw ingest, deliberately fragmented small files (the
  accumulation the reference's daily ``coalesce(1)`` writes produce over
  time, scripts/bronze_digit.py:149). Source: deterministic generator
  (replaces the REST fetch, scripts/bronze_digit.py:28-109).
- **silver** — clean/validate/dedup, mirroring
  scripts/silver_digit_clean.py:71-118: not-null key filter (:81),
  ``dropDuplicates`` (:90), trim/control-char cleanup of text
  (docs/SILVER_API_DIGIT_TRANSFORMACAO.md:84-86), type/range validation
  (casts :72-75), plus image-specific checks (fmt whitelist, positive
  dims). Audit column is a constant batch id, not current_timestamp(),
  so fixtures stay byte-deterministic.
- **gold** — aggregated marts, mirroring gold_digit_fixed.py's dims/facts
  and gold_agilean.py's quality metrics: per (ingest_date, fmt) fact table
  and a one-pass column-completeness profile (fixes the reference's
  O(columns) ``filter().count()`` loop, gold_agilean.py:117-122, with a
  single aggregate — SURVEY.md §2.4 A7).

Each stage writes a snapshot commit to its own Table — the medallion
"layers = namespaces" decision from SURVEY.md §1.1.
"""

from __future__ import annotations

from typing import Optional

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..sources.generator import SCHEMA, generate_images
from ..sources.tableformat import BLOOM_COLS_PROP, Table

STATS = ["phash", "w", "h", "image_id", "ingest_date"]
VALID_FMTS = ("png", "jpeg")

# footer blooms on the point-lookup key: after clustering orders files by
# (phash, w, h), every file's image_id [min,max] spans the table, so
# manifest pruning can't serve "fetch image X" — the parquet bloom can
BLOOM_PROPS = {BLOOM_COLS_PROP: "image_id"}


def bronze_ingest(
    spark: SparkSession,
    root: str,
    n_rows: int,
    *,
    n_files: int = 32,
    n_dates: int = 4,
) -> Table:
    """Create + populate the bronze table with many small files."""
    t = Table.create(
        root, SCHEMA, partition_cols=["ingest_date"], stats_cols=STATS,
        properties=dict(BLOOM_PROPS),
    )
    df = generate_images(spark, n_rows, n_files=n_files, n_dates=n_dates)
    entries = t.write_files(df)
    t.commit("append", entries, {"stage": "bronze", "rows": n_rows})
    return t


def silver_transform(df: DataFrame, batch_id: str = "batch-0") -> DataFrame:
    """The silver cleaning plan (pure transformation — testable lazily)."""
    return (
        df.filter(F.col("image_id").isNotNull())  # not-null key (ref :81)
        .filter(F.col("fmt").isin(*VALID_FMTS))
        .filter((F.col("w") > 0) & (F.col("h") > 0))
        .withColumn(
            "caption",
            F.trim(F.regexp_replace(F.col("caption"), "[\\t\\n\\r]", " ")),
        )
        .dropDuplicates(["image_id"])  # ref .distinct() / :90
        .withColumn("batch_id", F.lit(batch_id))
    )


def silver_refine(
    bronze: Table,
    spark: SparkSession,
    root: str,
    *,
    batch_id: str = "batch-0",
    snapshot_id: Optional[int] = None,
) -> Table:
    silver = Table.create(
        root,
        SCHEMA + ", batch_id string",
        partition_cols=["ingest_date"],
        stats_cols=STATS,
    )
    df = silver_transform(bronze.scan(spark, snapshot_id=snapshot_id), batch_id)
    # Partition-homogeneous files without a sampling job: the dates come
    # from one scan of the ingest_date column alone (column-pruned, no
    # payload read; whatever bronze's partition spec), so route each
    # (date, hash-slot) pair to exactly one output partition via the
    # cluster module's exact hash-routing salts. (repartitionByRange here
    # would sample the full child plan — every image payload — to learn
    # the dates.) NULL dates get a band of their own.
    from ..operators.cluster import exact_route_salts

    found = {
        r[0]
        for r in bronze.scan(spark, snapshot_id=snapshot_id, columns=["ingest_date"])
        .distinct()
        .collect()
    }
    dates = sorted(d for d in found if d is not None)
    bands = max(1, len(dates) + (None in found))
    slots_per_date = max(1, spark.sparkContext.defaultParallelism // bands)
    n_out = bands * slots_per_date
    salts = [int(s) for s in exact_route_salts(n_out)]
    didx = (
        F.coalesce(
            F.array_position(F.array(*[F.lit(d) for d in dates]), F.col("ingest_date")),
            F.lit(len(dates) + 1),
        )
        if dates
        else F.lit(1)
    )
    slot = F.pmod(F.xxhash64("image_id"), F.lit(slots_per_date))
    bucket = (didx - 1) * slots_per_date + slot  # didx is 1-based
    route = F.element_at(F.array(*[F.lit(s) for s in salts]), bucket.cast("int") + 1)
    df = (
        df.withColumn("__rt", route.cast("int"))
        .repartition(n_out, F.col("__rt"))
        .sortWithinPartitions("ingest_date", "phash")
        .drop("__rt")
    )
    silver.commit("append", silver.write_files(df), {"stage": "silver"})
    return silver


def gold_build(
    silver: Table, spark: SparkSession, root: str
) -> Table:
    """Gold fact: per (ingest_date, fmt) metrics in ONE aggregate pass."""
    gold = Table.create(
        root,
        "ingest_date string, fmt string, n_images bigint, n_distinct_phash bigint, "
        "total_bytes bigint, avg_pixels double, min_w int, max_w int",
        partition_cols=[],
        stats_cols=["ingest_date", "fmt"],
    )
    df = silver.scan(spark)
    fact = (
        df.groupBy("ingest_date", "fmt")
        .agg(
            F.count("*").alias("n_images"),
            F.countDistinct("phash").alias("n_distinct_phash"),
            F.sum(F.length("bytes")).alias("total_bytes"),
            F.avg(F.col("w").cast("double") * F.col("h")).alias("avg_pixels"),
            F.min("w").alias("min_w"),
            F.max("w").alias("max_w"),
        )
    )
    gold.commit("append", gold.write_files(fact.coalesce(1)), {"stage": "gold"})
    return gold


def gold_build_star(silver: Table, spark: SparkSession, root: str) -> dict:
    """Full gold star schema + persisted quality metrics, mirroring the
    reference's 4-dims/2-facts layout (gold_digit_fixed.py:34-146,
    docs/GOLD_API_DIGIT_STAR_SCHEMA.md:8-72) and its quality-metrics gold
    table (gold_agilean.py:103-162), re-targeted at the image domain:

    - ``dim_date``  — calendar dim from distinct ingest dates with the
      derived attrs the reference's dim_tempo specifies (ano, mes,
      trimestre, nome_mes, eh_fim_semana —
      docs/GOLD_API_DIGIT_STAR_SCHEMA.md:42-47).
    - ``dim_fmt``   — codec dim (fmt_key, is_lossy).
    - ``fact_images`` — row-grain fact keeping natural keys
      (gold_digit_fixed.py:110-128 keeps codigo_* on the fact).
    - ``fact_image_daily`` — aggregated fact (the fato_resumo analogue,
      gold_digit_fixed.py:131-146) = :func:`gold_build`'s output.
    - ``gold_quality`` — the one-pass completeness profile PERSISTED as
      a gold table with its own snapshot (the reference writes it to S3 +
      registers it, gold_agilean.py:150-162).

    Returns ``{name: Table}``; call :func:`register_gold_views` to expose
    them to ``spark.sql`` (the Athena surface, S13).
    """
    import os

    df = silver.scan(spark)
    tables: dict = {}

    def _commit(name: str, ddl: str, out: DataFrame, stats_cols=()) -> None:
        t = Table.create(os.path.join(root, name), ddl, stats_cols=list(stats_cols))
        t.commit("append", t.write_files(out.coalesce(1)), {"stage": f"gold:{name}"})
        tables[name] = t

    d = F.to_date("ingest_date")
    _commit(
        "dim_date",
        "date_key string, ano int, mes int, trimestre int, nome_mes string, "
        "eh_fim_semana boolean",
        df.select("ingest_date").distinct().select(
            F.col("ingest_date").alias("date_key"),
            F.year(d).alias("ano"),
            F.month(d).alias("mes"),
            F.quarter(d).alias("trimestre"),
            F.date_format(d, "MMMM").alias("nome_mes"),
            F.dayofweek(d).isin(1, 7).alias("eh_fim_semana"),
        ),
        stats_cols=["date_key"],
    )
    _commit(
        "dim_fmt",
        "fmt_key string, is_lossy boolean",
        df.select("fmt").distinct().select(
            F.col("fmt").alias("fmt_key"),
            (F.col("fmt") != "png").alias("is_lossy"),
        ),
    )
    _commit(
        "fact_images",
        "image_id string, date_key string, fmt_key string, w int, h int, "
        "n_bytes bigint, phash bigint",
        df.select(
            "image_id",
            F.col("ingest_date").alias("date_key"),
            F.col("fmt").alias("fmt_key"),
            "w",
            "h",
            F.length("bytes").cast("bigint").alias("n_bytes"),
            "phash",
        ),
        stats_cols=["date_key", "phash"],
    )
    daily = gold_build(silver, spark, os.path.join(root, "fact_image_daily"))
    tables["fact_image_daily"] = daily
    _commit(
        "gold_quality",
        "col_name string, non_null bigint, total bigint, "
        "completeness_pct double, status string",
        quality_profile(df).withColumnRenamed("column", "col_name"),
    )
    return tables


def register_gold_views(spark: SparkSession, tables: dict, prefix: str = "gold_") -> list:
    """Register every gold table as ``<prefix><name>`` for ``spark.sql``
    — realizes the Athena consumption layer (SURVEY.md §2.1 S13)."""
    names = []
    for name, t in tables.items():
        view = name if name.startswith(prefix) else f"{prefix}{name}"
        t.register(spark, view)
        names.append(view)
    return names


def quality_profile(df: DataFrame) -> DataFrame:
    """Column completeness % in one pass (reference: gold_agilean.py:103-162
    but without its per-column full-scan loop). Returns
    (column, non_null, total, completeness_pct, status)."""
    cols = df.columns
    agg = df.agg(
        F.count(F.lit(1)).alias("__total"),
        *[F.count(c).alias(c) for c in cols],
    )
    total = F.col("__total")
    stacked = agg.select(
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(c).alias("column"),
                        F.col(c).alias("non_null"),
                        total.alias("total"),
                    )
                    for c in cols
                ]
            )
        ).alias("s")
    ).select("s.*")
    pct = F.round(F.col("non_null") * 100.0 / F.col("total"), 2)
    return stacked.select(
        "column",
        "non_null",
        "total",
        pct.alias("completeness_pct"),
        F.when(pct >= 80, "GOOD")
        .when(pct >= 50, "FAIR")
        .otherwise("POOR")
        .alias("status"),  # thresholds from gold_agilean.py:129
    )
