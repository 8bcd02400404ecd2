"""Pins for the configuration surface: the session confs and the
extract fan-out written as literals, a reader for every PipelineConfig
field, the query registry's order, the LSH plane cache's bound and the
codegen class cache's size."""

from __future__ import annotations

import ast
import dataclasses
import pathlib

from jerex_spark.config import PipelineConfig

PKG = pathlib.Path(__file__).resolve().parents[1] / "jerex_spark"


def test_build_session_sets_shuffle_and_arrow_batch(spark):
    conf = spark.sparkContext.getConf()
    assert conf.get("spark.sql.shuffle.partitions") == "32"
    assert conf.get("spark.sql.execution.arrow.maxRecordsPerBatch") == "256"


def test_build_session_lets_aqe_run_inside_cached_plans(spark):
    assert spark.conf.get(
        "spark.sql.optimizer.canChangeCachedPlanOutputPartitioning") \
        == "true"


def test_build_session_sizes_the_codegen_cache(spark):
    conf = spark.sparkContext.getConf()
    assert conf.get("spark.sql.codegen.cache.maxEntries") == "1000"
    assert conf.get("spark.sql.codegen.useIdInClassName") == "false"


def test_codegen_cache_holds_a_cycle_past_the_default(spark):
    """A cycle of 150 distinct projections (an int literal is inlined, so
    each generated source differs; 300 classes in all) is larger than
    Spark's default 100-entry LRU cache, where every repeat would miss.
    The session's cache holds the cycle: the second pass compiles
    nothing."""
    from pyspark.sql import functions as F

    from jerex_spark.session import codegen_compile_count

    def cycle():
        c0 = codegen_compile_count(spark)
        for i in range(150):
            spark.range(4).select((F.col("id") + F.lit(i)).alias("x")) \
                .collect()
        return codegen_compile_count(spark) - c0

    assert cycle() > 100
    assert cycle() == 0


def test_bench_records_codegen_compiles(spark, sf0001, monkeypatch):
    """bench.run_suite records each query's compiles per run, so a warm
    run that recompiles shows up even though best-of-N hides its time."""
    import bench
    monkeypatch.setattr(bench, "BENCH_QUERIES", ("tpch_q1",))
    _best, _cold, _rows, compiles = bench.run_suite(spark, sf0001, runs=3)
    assert compiles["tpch_q1"]["warm"] == [0, 0]
    assert compiles["tpch_q1"]["cold"] >= 0


def test_salted_repartition_one_partition_per_core(spark):
    from jerex_spark.pipeline import salted_repartition
    df = spark.createDataFrame([(f"d{i}", "x") for i in range(100)],
                               ["doc_key", "text"])
    assert (salted_repartition(df).rdd.getNumPartitions()
            == spark.sparkContext.defaultParallelism)


def test_every_config_field_has_a_reader():
    """A PipelineConfig field nothing reads is a dead option: every
    field must appear as an attribute read in jerex_spark/ outside
    config.py."""
    read = set()
    for p in PKG.rglob("*.py"):
        if p.name == "config.py" and p.parent == PKG:
            continue
        for node in ast.walk(ast.parse(p.read_text())):
            if (isinstance(node, ast.Attribute)
                    and isinstance(node.ctx, ast.Load)):
                read.add(node.attr)
    unread = [f.name for f in dataclasses.fields(PipelineConfig)
              if f.name not in read]
    assert not unread, f"PipelineConfig fields with no reader: {unread}"


def test_flagship_queries_in_first_50():
    from jerex_spark.operators import all_queries
    first = list(all_queries())[:50]
    for name in ("kg_triples", "kg_delta_merge", "canon_gazetteer",
                 "ivf_topk", "lsh_topk"):
        assert name in first, name


def test_plane_cache_holds_widest_schedule():
    """Codes pack into int32, so a schedule uses at most MAX_BANDS x 32
    planes; the cache must hold them all so one query's planes never
    evict each other."""
    from jerex_spark.operators.similarity import MAX_BANDS, _plane_weights
    assert _plane_weights.cache_info().maxsize >= MAX_BANDS * 32
