"""End-to-end pipeline wiring: pages/documents -> KG tables.

This is the driver-visible composition of the stages: load ->
salted repartition (skew) -> fused extract (shuffle-free) ->
explode -> canonicalize -> dedup -> write.  Each stage returns a
DataFrame so callers can cut the pipeline anywhere (tests, bench,
lineage checkpoints).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .config import DEFAULT, PipelineConfig
from .extract import (explode_entities, explode_mentions, explode_triples,
                      extract_graph)


def load_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Driver-provided documents table -> (doc_key, text, lang, source).

    ``doc_key = source '/' doc_id`` stands in for the page url
    (FIXTURES.md §4)."""
    df = spark.read.parquet(f"{sf_dir}/documents.parquet")
    return df.select(
        F.concat_ws("/", "source", F.col("doc_id").cast("string"))
        .alias("doc_key"),
        "doc_id", "text", "lang", "source")


def salted_repartition(df: DataFrame) -> DataFrame:
    """Skew-defeating repartition before the heavy extract UDF.

    Web corpora are skewed by host/language; hashing the full document
    key with a salt spreads hot hosts across all partitions (SURVEY.md
    §4 item 2).  xxhash64 is cheap, JVM-side, and deterministic.

    The fan-out is one partition per core: each mapInPandas partition
    pays a fixed Python-worker round trip, so 1 task/core minimizes
    that overhead (measured 0.69s vs 0.94s for the sf0.1 flagship at
    1x vs 2x); heavy-tailed per-doc cost has its own remedy
    (cost_balanced_repartition)."""
    return df.repartition(df.sparkSession.sparkContext.defaultParallelism,
                          F.xxhash64("doc_key", F.lit(DEFAULT.weight_seed)))


def cost_balanced_repartition(df: DataFrame, cost: "F.Column",
                              n: int | None = None) -> DataFrame:
    """Straggler-defeating repartition for heavy-tailed per-row cost
    (SURVEY.md §4 item 3: long docs cost ~quadratically more in the
    extract UDF).  Rows are bucketed into log2 cost classes (rows in a
    class cost within 2x of each other) and each class is dealt
    round-robin across all target partitions, so every partition gets
    the same cost profile — a hash repartition can land several giants
    in one task.

    The round-robin deal needs a per-class global index, computed WITHOUT
    any global sort or single-partition window (the v1 implementation's
    unpartitioned ``Window.orderBy`` funneled the whole dataset through
    one task):

    1. local rank within (class, input-partition) — windows bounded by
       input partition size, fully parallel;
    2. cumulative class offsets from the tiny (class x partition) count
       table — a window over counts, never over rows;
    3. global index = offset + local rank, slot = index mod n.

    Two passes over the input (counts + rank); persist upstream if
    ``cost`` is expensive to recompute.  Scale-safe at any row count:
    the only driver-independent state is the C x P counts table.

    The two passes observe ``spark_partition_id()`` independently, so a
    non-deterministic upstream (round-robin repartition, sample, task
    retry, files changing between jobs) can present a (class, pid)
    combination in pass 2 that pass 1 never counted.  The offset join
    is therefore a LEFT join with ``coalesce(_off, 0)``: an unseen
    combination degrades balance for those rows instead of silently
    dropping them (an inner join would)."""
    from pyspark.sql.window import Window
    n = n or df.sparkSession.sparkContext.defaultParallelism * 2
    cls = F.floor(F.log2(F.greatest(cost.cast("double") + 1.0, F.lit(1.0))))
    src = (df.withColumn("_cost", cost)
           .withColumn("_class", cls)
           .withColumn("_pid", F.spark_partition_id()))
    counts = src.groupBy("_class", "_pid").agg(F.count("*").alias("_cnt"))
    offs = counts.select(
        "_class", "_pid",
        F.coalesce(
            F.sum("_cnt").over(
                Window.partitionBy("_class").orderBy("_pid")
                .rowsBetween(Window.unboundedPreceding, -1)),
            F.lit(0)).alias("_off"))
    ranked = (src.join(F.broadcast(offs), ["_class", "_pid"], "left")
              .withColumn("_off", F.coalesce(F.col("_off"), F.lit(0)))
              .withColumn("_rank", F.row_number().over(
                  Window.partitionBy("_class", "_pid")
                  .orderBy(F.col("_cost").desc()))))
    # range-partition on the round-robin slot: exactly one slot value
    # per partition (hash would collide slots)
    return (ranked
            .withColumn("_slot",
                        F.pmod(F.col("_off") + F.col("_rank"), F.lit(n)))
            .repartitionByRange(n, F.col("_slot"))
            .drop("_cost", "_class", "_pid", "_off", "_rank", "_slot"))


def build_graph(documents: DataFrame,
                cfg: PipelineConfig = DEFAULT) -> DataFrame:
    """documents(doc_key, text, ...) -> persisted nested doc-graph."""
    return extract_graph(salted_repartition(documents), cfg)


def kg_tables(graph: DataFrame) -> dict[str, DataFrame]:
    return {
        "mentions": explode_mentions(graph),
        "entities": explode_entities(graph),
        "triples": explode_triples(graph),
    }


def flagship_triples(spark: SparkSession, sf_dir: str,
                     cfg: PipelineConfig = DEFAULT) -> DataFrame:
    """The headline query: emit all (subj, pred, obj) triples with types
    and provenance for the corpus (SURVEY.md §7.1 step 3)."""
    docs = load_documents(spark, sf_dir)
    graph = build_graph(docs, cfg)
    t = explode_triples(graph)

    # eval-identity span-set keys serialized to strings (same scheme as
    # kg_entities.identity_key, operators/kg.py) so the emitted table is
    # flat-typed: hashable, sortable, safe for any downstream sink.
    def _key(col: str):
        return F.concat_ws("|", F.transform(
            col, lambda s: F.concat_ws(":", s.start, s.end))).alias(col)

    return t.select(
        "doc_key",
        F.col("head_idx").cast("int").alias("head_idx"),
        F.col("tail_idx").cast("int").alias("tail_idx"),
        "rel_type", "head_type", "tail_type",
        F.round("score", 6).alias("score"),
        _key("head_key"), _key("tail_key"))
