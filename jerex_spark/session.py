"""SparkSession factory with scale-tuned defaults.

Pin UTC so DuckDB-oracle comparisons are stable, enable AQE (runtime
coalescing + skew-join splitting for the canonicalization/dedup
shuffles), and bound Arrow batch size so the extract UDF's per-batch
memory stays flat regardless of input partition size.

AQE also runs inside persisted plans: the extract ``graph``, the
canonicalization verdict and the canonical triples ``ct`` are cached,
and pyspark 4.1 plans a cached plan without AQE unless
``canChangeCachedPlanOutputPartitioning`` is on, so their shuffles
would run a fixed 32 tasks over a few kilobytes.

Spark's generated-code cache is sized to a pass's working set.
``CodeGenerator`` keeps compiled classes in an LRU cache of
``spark.sql.codegen.cache.maxEntries`` entries, a static conf with
default 100.  One pass compiles more distinct classes than that
(measured on a 4-core host, cold pass with an unbounded cache): 175 for
a perfbench ``crawl_pages`` pass, 151 for an ``operator_suite`` pass and
291 for the 19 ``bench.BENCH_QUERIES`` at sf0.01.  A cyclic access
pattern larger than an LRU cache never hits, so at 100 every warm pass
recompiled every class (166-171 per crawl pass, 144 per suite pass):
~2 s and ~1 s of Janino, plus JIT warm-up of the freshly loaded classes.
1000 entries hold the largest pass more than twice over.

AQE numbers whole-stage codegen stages in re-plan order, and that
order can change between passes, so with the stage id in the class
name an identical stage came back as ``...Stage7`` or ``...Stage8``
with different source text and was compiled again.
``useIdInClassName=false`` drops the id: crawl passes 2-5 then compile
5/4/2/2 classes instead of 30/8/5/4.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


def build_session(app: str = "jerex-spark", master: str | None = None,
                  extra: dict | None = None) -> SparkSession:
    # one BLAS thread per python worker: with N workers per node, letting
    # OpenBLAS spawn N threads each oversubscribes N^2 threads and the
    # extract UDF's matmuls thrash. Workers inherit the JVM env, so set
    # this before the JVM launches (and pass executorEnv for clusters).
    for var in ("OMP_NUM_THREADS", "OPENBLAS_NUM_THREADS",
                "MKL_NUM_THREADS"):
        os.environ.setdefault(var, "1")
    master = master or os.environ.get("SPARK_GRAFT_MASTER") or \
        f"local[{os.environ.get('SPARK_GRAFT_CPUS', '*')}]"
    b = (
        SparkSession.builder.appName(app).master(master)
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.shuffle.partitions", "32")
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        # AQE inside cached plans (module docstring).  Spark defaults
        # to false because a cached plan's output partitioning can then
        # differ from the uncached one's, so a consumer may add an
        # exchange.
        .config("spark.sql.optimizer.canChangeCachedPlanOutputPartitioning",
                "true")
        # codegen class cache sized to a pass's working set, and no
        # AQE-order-dependent stage id in class names (module docstring)
        .config("spark.sql.codegen.cache.maxEntries", "1000")
        .config("spark.sql.codegen.useIdInClassName", "false")
        # InferFiltersFromGenerate copies the generator's child into an
        # inferred `size(child) > 0` filter, so an expensive generator
        # input (the shingle transform: split -> transform -> concat_ws
        # per element) is evaluated TWICE per row — and the inferred
        # Filter node is not whole-stage-codegen.  The rule's benefit
        # (skipping empty arrays before the Generate) is a no-op for
        # this workload: every generator input is non-empty by
        # construction (length-gated upstream).  Scale-independent —
        # the duplicated work grows linearly with the corpus.
        .config("spark.sql.optimizer.excludedRules",
                "org.apache.spark.sql.catalyst.optimizer."
                "InferFiltersFromGenerate")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "256")
        .config("spark.sql.files.maxPartitionBytes", "134217728")
        .config("spark.driver.memory",
                os.environ.get("SPARK_GRAFT_DRIVER_MEM", "8g"))
        .config("spark.ui.enabled", "false")
        .config("spark.executorEnv.OMP_NUM_THREADS", "1")
        .config("spark.executorEnv.OPENBLAS_NUM_THREADS", "1")
        .config("spark.executorEnv.MKL_NUM_THREADS", "1")
    )
    # Iceberg catalog passthrough (sources.py): on a cluster launched
    # with --packages org.apache.iceberg:iceberg-spark-runtime-..., set
    # SPARK_GRAFT_ICEBERG_CATALOG=<name> (plus optional _TYPE /
    # _WAREHOUSE) and `iceberg:<name>.db.table` refs resolve.
    catalog = os.environ.get("SPARK_GRAFT_ICEBERG_CATALOG")
    if catalog:
        b = (b.config(f"spark.sql.catalog.{catalog}",
                      "org.apache.iceberg.spark.SparkCatalog")
             .config(f"spark.sql.catalog.{catalog}.type",
                     os.environ.get("SPARK_GRAFT_ICEBERG_TYPE", "hadoop"))
             .config(f"spark.sql.catalog.{catalog}.warehouse",
                     os.environ.get("SPARK_GRAFT_ICEBERG_WAREHOUSE",
                                    "spark-warehouse/iceberg")))
    for k, v in (extra or {}).items():
        b = b.config(k, v)
    return b.getOrCreate()


def codegen_compile_count(spark) -> int:
    """Generated classes this JVM has compiled so far (cache misses of
    Spark's codegen cache); the difference of two reads counts the
    compiles in between."""
    return (spark.sparkContext._jvm.org.apache.spark.metrics.source
            .CodegenMetrics.METRIC_COMPILATION_TIME().getCount())
