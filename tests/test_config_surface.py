"""Pins for the configuration surface: the session confs and the
extract fan-out written as literals, a reader for every PipelineConfig
field, the query registry's order and the LSH plane cache's bound."""

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
