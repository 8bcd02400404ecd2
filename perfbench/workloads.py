"""One pass of each workload, driven through the program's public calls.

``pipeline_pass`` mirrors ``scripts/run_pipeline.py --alias`` call for
call, from the pages table to the three written KG tables.
``suite_pass`` runs ``SUITE_QUERIES``, a subset of ``bench.BENCH_QUERIES``
(imported, not copied), in a seeded order, timing construction
(``fn(spark, sf_dir)``) and the action separately.

Both take a tracer.  The untraced passes get ``NoTrace``; the traced
run (tracing.py) passes one whose ``cut`` tags a call's jobs with a job
group and materializes and times its output.
"""

from __future__ import annotations

import gc
import os
import random
import time
from contextlib import contextmanager

import pandas as pd
from pyspark.sql import functions as F


def build(master: str, work: str, extra: dict | None = None):
    """The program's own tuned session, plus the benchmark's deployment
    settings: temp dirs inside the work dir, a bounded JVM heap,
    quiet console."""
    from jerex_spark.session import build_session
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    conf = {"spark.local.dir": tmp,
            "spark.driver.extraJavaOptions":
                f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData",
            "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
            "spark.driver.memory": "3g",
            "spark.ui.showConsoleProgress": "false"}
    conf.update(extra or {})
    spark = build_session(app="perfbench", master=master, extra=conf)
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def settle(spark) -> None:
    """Full Python and JVM garbage collection, outside the timed region,
    so a pass does not pay for the previous pass's garbage."""
    gc.collect()
    spark.sparkContext._jvm.System.gc()


class NoTrace:
    """Tracer that leaves the composition exactly as the program runs it."""

    def cut(self, name, df):
        return df

    @contextmanager
    def span(self, name):
        yield

    def tag(self, name):
        pass


def _extract_text_udf():
    @F.pandas_udf("string")
    def extract_text_udf(s: pd.Series) -> pd.Series:
        from jerex_spark.corpus import extract_text_series
        return extract_text_series(s)
    return extract_text_udf


def pipeline_pass(spark, in_dir: str, out_dir: str, tr=NoTrace()) -> int:
    """pages -> extract_text -> salted repartition -> fused extract ->
    canonicalize (alias + LSH) -> canonical triples/entities/edges ->
    partitioned parquet writes.  Returns the canonical triple count."""
    from jerex_spark.caching import release_persisted
    from jerex_spark.canonicalize import canonicalize_entities
    from jerex_spark.extract import extract_graph
    from jerex_spark.graph import (canonical_entity_table,
                                   canonical_triples, edges,
                                   entity_phrases, write_graph)
    from jerex_spark.pipeline import kg_tables, salted_repartition
    from jerex_spark.sources import read_table

    cut = tr.cut
    pages = cut("sources.read", read_table(
        spark, os.path.join(in_dir, "pages.parquet")))
    docs = cut("corpus.extract_text", pages.select(
        F.col("url").alias("doc_key"),
        F.coalesce("text", _extract_text_udf()("html")).alias("text"),
        "lang"))
    docs = cut("pipeline.salted_repartition", salted_repartition(docs))
    graph = cut("extract", extract_graph(docs)).persist()
    t = kg_tables(graph)
    ents = cut("graph.entity_phrases",
               entity_phrases(t["mentions"], t["entities"]))
    alias = read_table(spark, os.path.join(in_dir, "alias.parquet"))
    canon = cut("canonicalize", canonicalize_entities(ents, alias))
    ct = cut("graph.canonical_triples",
             canonical_triples(t["triples"], canon)).persist()
    ents_t = cut("graph.canonical_entity_table",
                 canonical_entity_table(canon))
    edge_t = cut("graph.edges", edges(ct))
    with tr.span("sources.write"):
        write_graph(out_dir, ct, ents_t, edge_t)
    with tr.span("pipeline.count"):
        n = ct.count()
    graph.unpersist()
    ct.unpersist()
    release_persisted()
    return n


# One or two queries of each operators layer: dedup, similarity (the
# embdup/ANN family), relational and analytics.  A pass of all 19 bench
# queries takes ~26 s warm and ~64 s cold on a 4-core host, which does
# not fit a run; these 6 take ~7 s warm.  kg_* and canon_gazetteer are
# left out because crawl_pages times extract and canonicalize.
SUITE_QUERIES = ("dedup_exact", "dedup_lsh_verified", "embdup_cosine_lsh",
                 "ann_cosine_topk", "tpch_q1", "asof_click_before_error")


def suite_order(seed: int) -> list[str]:
    from bench import BENCH_QUERIES
    order = [q for q in BENCH_QUERIES if q in SUITE_QUERIES]
    if len(order) != len(SUITE_QUERIES):
        raise ValueError("suite queries missing from bench.BENCH_QUERIES: "
                         f"{sorted(set(SUITE_QUERIES) - set(order))}")
    random.Random(seed).shuffle(order)
    return order


def suite_pass(spark, sf_dir: str, order: list[str],
               tr=NoTrace()) -> dict[str, tuple[float, float, int]]:
    """name -> (construct_s, action_s, rows) for one pass of the suite."""
    from jerex_spark.caching import release_persisted
    from jerex_spark.operators import all_queries
    qs = all_queries()
    out = {}
    for name in order:
        tr.tag(name)
        t0 = time.perf_counter()
        df = qs[name][0](spark, sf_dir)
        t1 = time.perf_counter()
        rows = df.count()
        t2 = time.perf_counter()
        release_persisted()
        out[name] = (t1 - t0, t2 - t1, rows)
    return out
