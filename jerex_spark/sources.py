"""Table IO: Iceberg-first with parquet fallback (S1/S7 sinks).

The north rule targets Iceberg-backed page tables and Iceberg triple /
entity / edge outputs (SURVEY.md §2.1 S1, §2.2 S7).  This sandbox's
Spark distribution ships no iceberg-spark-runtime jar, so the module
resolves the format at runtime:

* a table reference ``iceberg:<catalog.db.table>`` (or any dotted
  table name when the Iceberg SparkCatalog class is on the JVM
  classpath) is read with ``spark.read.table`` and written with the
  DataFrameWriterV2 ``writeTo(...).using('iceberg')`` path — partition
  transforms pushed into the table spec, snapshot-based time travel
  and incremental streaming reads available to callers;
* a plain path is read/written as partitioned parquet with identical
  dataframe semantics, so every pipeline stage and test runs unchanged
  here and on an Iceberg cluster (launch with
  ``spark-submit --packages org.apache.iceberg:iceberg-spark-runtime-
  3.5_2.12:<ver>`` plus the catalog ``spark.sql.catalog.*`` configs —
  build_session forwards them from ``SPARK_GRAFT_ICEBERG_CATALOG``).

Filter pushdown / column pruning / partition pruning hold on both
branches: both scans are V2 datasources under Catalyst.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

ICEBERG_PREFIX = "iceberg:"
FILES_PER_VALUE = 8    # parquet writer tasks per partition value


def iceberg_available(spark: SparkSession) -> bool:
    """True iff the Iceberg Spark runtime is on the JVM classpath."""
    try:
        spark._jvm.java.lang.Class.forName(
            "org.apache.iceberg.spark.SparkCatalog")
        return True
    except Exception:
        return False


def is_table_ref(ref: str) -> bool:
    return ref.startswith(ICEBERG_PREFIX)


def table_name(ref: str) -> str:
    return ref[len(ICEBERG_PREFIX):]


def read_table(spark: SparkSession, ref: str) -> DataFrame:
    """``iceberg:<name>`` -> catalog table scan (partition pruning via
    the table spec); anything else -> parquet path scan."""
    if is_table_ref(ref):
        if not iceberg_available(spark):
            raise RuntimeError(
                f"{ref!r} needs iceberg-spark-runtime on the classpath "
                "(launch with --packages org.apache.iceberg:...)")
        return spark.read.table(table_name(ref))
    return spark.read.parquet(ref)


def write_table(df: DataFrame, ref: str, mode: str = "overwrite",
                partition_by: tuple[str, ...] = ()) -> None:
    """Partitioned write to an Iceberg table or a parquet path.

    Iceberg branch uses DataFrameWriterV2 (createOrReplace /
    append) so the write is a single atomic snapshot commit — the
    resume-safe sink the lineage layer expects.

    Parquet branch repartitions on (partition columns, salt) with
    ``FILES_PER_VALUE`` salt values: plain repartition on a
    low-cardinality partition column (e.g. 3 rel_types) would funnel
    the whole corpus through |values| writer tasks — a straggler at
    scale — while no repartition leaves one file per (task, value),
    the small-files explosion.  The salt bounds both: |values| x
    FILES_PER_VALUE writers, each owning one output file."""
    if is_table_ref(ref):
        spark = df.sparkSession
        if not iceberg_available(spark):
            raise RuntimeError(
                f"{ref!r} needs iceberg-spark-runtime on the classpath")
        from pyspark.sql import functions as F
        w = df.writeTo(table_name(ref)).using("iceberg")
        if partition_by:
            w = w.partitionedBy(*[F.col(c) for c in partition_by])
        if mode == "append":
            w.append()
        else:
            w.createOrReplace()
        return
    w = df.write.mode(mode)
    if partition_by:
        from pyspark.sql import functions as F
        salt = F.pmod(
            F.xxhash64(F.struct(*[F.col(c) for c in df.columns])),
            F.lit(FILES_PER_VALUE))
        df = df.repartition(*([F.col(c) for c in partition_by] + [salt]))
        w = df.write.mode(mode).partitionBy(*partition_by)
    w.parquet(ref)


def read_pages_stream(spark: SparkSession, ref: str, schema: str,
                      options: dict | None = None):
    """Incremental source (SURVEY.md §2.10): Iceberg streaming read of
    newly committed snapshots, or file-source streaming over a parquet
    directory — same downstream query graph either way.  ``options``
    are source options (e.g. maxFilesPerTrigger to bound microbatch
    size)."""
    if is_table_ref(ref):
        if not iceberg_available(spark):
            raise RuntimeError(
                f"{ref!r} needs iceberg-spark-runtime on the classpath")
        return (spark.readStream.format("iceberg")
                .options(**(options or {})).load(table_name(ref)))
    return (spark.readStream.schema(schema)
            .options(**(options or {})).parquet(ref))
