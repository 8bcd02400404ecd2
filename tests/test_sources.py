"""Table IO abstraction (S1 scan / S7 sinks): parquet branch exercised
end-to-end; Iceberg branch capability-gated (no iceberg-spark-runtime
jar in this sandbox) with its dispatch logic unit-tested."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from jerex_spark.sources import (FILES_PER_VALUE, iceberg_available,
                                 is_table_ref, read_pages_stream,
                                 read_table, table_name, write_table)


def test_ref_dispatch():
    assert is_table_ref("iceberg:cat.db.pages")
    assert table_name("iceberg:cat.db.pages") == "cat.db.pages"
    assert not is_table_ref("/data/pages.parquet")
    assert not is_table_ref("s3://bucket/pages")


def test_parquet_roundtrip_partitioned(spark, tmp_path):
    df = spark.createDataFrame(
        [(i, ["works_at", "based_in", "partner_of"][i % 3])
         for i in range(300)], ["id", "rel_type"])
    out = str(tmp_path / "triples")
    write_table(df, out, partition_by=("rel_type",))
    back = read_table(spark, out)
    assert back.count() == 300
    # partition pruning: a rel_type filter prunes to one directory
    plan = (back.filter(F.col("rel_type") == "works_at")
            ._jdf.queryExecution().executedPlan().toString())
    assert "PartitionFilters: [isnotnull(rel_type" in plan, plan
    # bounded files: between 1 and FILES_PER_VALUE per partition value
    # (salted repartition — neither one-task-per-value stragglers nor
    # one file per (task, value) explosion)
    for v in ["works_at", "based_in", "partner_of"]:
        n_files = len(list(
            (tmp_path / "triples").glob(f"rel_type={v}/*.parquet")))
        assert 1 <= n_files <= FILES_PER_VALUE, (v, n_files)


def test_iceberg_branch_gated(spark, tmp_path):
    if iceberg_available(spark):
        pytest.skip("iceberg present: gate is for jar-less environments")
    df = spark.range(3)
    with pytest.raises(RuntimeError, match="iceberg-spark-runtime"):
        read_table(spark, "iceberg:cat.db.t")
    with pytest.raises(RuntimeError, match="iceberg-spark-runtime"):
        write_table(df, "iceberg:cat.db.t")
    with pytest.raises(RuntimeError, match="iceberg-spark-runtime"):
        read_pages_stream(spark, "iceberg:cat.db.t", "id long")


def test_stream_parquet_branch(spark, tmp_path):
    src = str(tmp_path / "pages_stream")
    (spark.createDataFrame([(f"u{i}", f"text {i}") for i in range(40)],
                           ["url", "text"])
     .repartition(4).write.parquet(src))
    q = (read_pages_stream(spark, src, "url string, text string")
         .writeStream.format("memory").queryName("pages_stream_t")
         .trigger(availableNow=True).start())
    q.awaitTermination(60)
    assert spark.sql("select count(*) c from pages_stream_t") \
        .collect()[0].c == 40


def test_write_graph_routes_through_sources(spark, tmp_path):
    from jerex_spark.graph import write_graph
    ct = spark.createDataFrame(
        [("a", "works_at", "b", 2, "x", "y", "PER", "ORG", 0.9, 1)],
        ["subj_id", "rel_type", "obj_id", "n_evidence", "subj_phrase",
         "obj_phrase", "subj_type", "obj_type", "max_score", "n_docs"])
    ents = spark.createDataFrame([("a", "PER", 1, ["x"], 1)],
                                 ["canonical_id", "type", "n_clusters",
                                  "surfaces", "n_docs"])
    ed = spark.createDataFrame([("a", "b", 2, ["works_at"])],
                               ["subj_id", "obj_id", "weight",
                                "rel_types"])
    out = str(tmp_path / "graph_out")
    write_graph(out, ct, ents, ed)
    assert read_table(spark, f"{out}/triples").count() == 1
    assert read_table(spark, f"{out}/entities").count() == 1
    assert read_table(spark, f"{out}/edges").count() == 1
