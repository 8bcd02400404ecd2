"""AQE inside persisted plans, and the canonicalization verdict computed
once per pass.

The session turns on ``canChangeCachedPlanOutputPartitioning`` so AQE
plans persisted DataFrames too; ``canonicalize_entities`` persists the
per-form verdict so the canonical triples and the entity table share
one LSH verify.  The differential test runs the pipeline composition
with the conf on and off and requires identical written tables."""

from __future__ import annotations

import pandas as pd
from pyspark.sql import functions as F

from jerex_spark.caching import release_persisted
from jerex_spark.canonicalize import canonicalize_entities
from jerex_spark.graph import (canonical_entity_table, canonical_triples,
                               edges)

CONF = "spark.sql.optimizer.canChangeCachedPlanOutputPartitioning"


def test_persisted_groupby_is_coalesced(spark):
    df = (spark.range(100).groupBy((F.col("id") % 5).alias("k")).count()
          .persist())
    try:
        assert df.count() == 5
        assert df.rdd.getNumPartitions() < 32
    finally:
        df.unpersist()


def _scan_nodes(node, out):
    """Append the executed-plan nodes under ``node`` to ``out``,
    descending through AQE wrappers and query stages but not into the
    plans cached behind an InMemoryTableScan."""
    name = node.getClass().getSimpleName()
    if name == "AdaptiveSparkPlanExec":
        return _scan_nodes(node.executedPlan(), out)
    if name.endswith("QueryStageExec"):
        return _scan_nodes(node.plan(), out)
    out.append(node)
    if name == "InMemoryTableScanExec":
        return out
    kids = node.children()
    for i in range(kids.size()):
        _scan_nodes(kids.apply(i), out)
    return out


def _levenshtein_outside_and_cached(df):
    df.collect()
    nodes = _scan_nodes(df._jdf.queryExecution().executedPlan(), [])
    outside = [n.simpleString(1000) for n in nodes
               if n.getClass().getSimpleName() != "InMemoryTableScanExec"
               and "levenshtein" in n.simpleString(1000)]
    cached = [n for n in nodes
              if n.getClass().getSimpleName() == "InMemoryTableScanExec"
              and "levenshtein" in
              n.relation().cachedPlan().toString()]
    return outside, cached


def test_tail_reads_the_verdict_from_the_cache(spark):
    ents = spark.createDataFrame(
        [("d1", 0, "Acme Corp", "ORG"), ("d1", 1, "acme korp", "ORG"),
         ("d2", 0, "globex", "ORG"), ("d2", 1, "zzz thing", "LOC")],
        ["doc_key", "entity_idx", "phrase", "type"])
    alias = spark.createDataFrame(
        [("acme corp", "Q1"), ("globex", "Q2")], ["alias", "canonical_id"])
    triples = spark.createDataFrame(
        [("d1", 0, 1, "rel", 0.5), ("d2", 0, 1, "rel", 0.25)],
        "doc_key string, head_idx long, tail_idx long, rel_type string, "
        "score double")
    canon = canonicalize_entities(ents, alias)
    for df in (canonical_triples(triples, canon),
               canonical_entity_table(canon)):
        outside, cached = _levenshtein_outside_and_cached(df)
        assert not outside, outside
        assert cached


def _extract_text_udf():
    @F.pandas_udf("string")
    def extract_text_udf(s: pd.Series) -> pd.Series:
        from jerex_spark.corpus import extract_text_series
        return extract_text_series(s)
    return extract_text_udf


def _tables(spark, pages, alias):
    """scripts/run_pipeline.py's composition up to the written tables,
    collected as sorted full rows."""
    from jerex_spark.extract import extract_graph
    from jerex_spark.graph import entity_phrases
    from jerex_spark.pipeline import kg_tables, salted_repartition
    docs = pages.select(
        F.col("url").alias("doc_key"),
        F.coalesce("text", _extract_text_udf()("html")).alias("text"),
        "lang")
    graph = extract_graph(salted_repartition(docs)).persist()
    t = kg_tables(graph)
    ents = entity_phrases(t["mentions"], t["entities"])
    canon = canonicalize_entities(ents, alias)
    ct = canonical_triples(t["triples"], canon).persist()
    try:
        return [sorted(df.collect(), key=repr)
                for df in (ct, canonical_entity_table(canon), edges(ct))]
    finally:
        graph.unpersist()
        ct.unpersist()
        release_persisted()


def test_pipeline_tables_equal_with_and_without_cached_plan_aqe(spark):
    from jerex_spark.corpus import make_pages
    pages = spark.createDataFrame(
        make_pages(200)[["url", "html", "text", "lang"]])
    alias = spark.createDataFrame(
        [("acme corp", "Q_ACME"), ("acme corporation", "Q_ACME"),
         ("globex", "Q_GLOBEX"), ("alice rivera", "Q_ALICE"),
         ("springfield", "Q_SPR")], ["alias", "canonical_id"])
    on = _tables(spark, pages, alias)
    prev = spark.conf.get(CONF)
    spark.conf.set(CONF, "false")
    try:
        off = _tables(spark, pages, alias)
    finally:
        spark.conf.set(CONF, prev)
    assert all(on), [len(x) for x in on]
    assert on == off
