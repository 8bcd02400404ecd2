"""Structured Streaming: the extract operator is stateless, so it runs
unchanged under readStream (continuous crawl ingestion — SURVEY.md
§2.12); plus a watermarked tumbling-window aggregation over the events
shape (late-data handling a streaming rollup needs).
"""

from __future__ import annotations

import os
import time

from pyspark.sql import functions as F

from jerex_spark.corpus import make_pages
from jerex_spark.extract import extract_graph


def _write_parquet_dir(spark, tmp_path, n=60):
    pdf = make_pages(n)[["url", "text"]].rename(columns={"url": "doc_key"})
    src = str(tmp_path / "pages_in")
    spark.createDataFrame(pdf).repartition(3).write.parquet(src)
    return src, pdf


def test_streaming_extract(spark, tmp_path):
    src, pdf = _write_parquet_dir(spark, tmp_path)
    stream = (spark.readStream
              .schema("doc_key string, text string")
              .option("maxFilesPerTrigger", "2")
              .parquet(src))
    graph = extract_graph(stream)
    q = (graph.select("doc_key", F.size("triples").alias("n_triples"))
         .writeStream.format("memory").queryName("stream_graph")
         .outputMode("append").trigger(availableNow=True).start())
    q.awaitTermination(120)
    rows = spark.sql("select * from stream_graph").collect()
    assert len(rows) == len(pdf)
    # streaming result == batch result, doc for doc
    batch = {r.doc_key: len(r.triples)
             for r in extract_graph(
                 spark.createDataFrame(pdf)).collect()}
    got = {r.doc_key: r.n_triples for r in rows}
    assert got == batch


def test_streaming_extract_wrapper(spark, tmp_path):
    """streaming.streaming_extract: pages stream through the sources
    layer -> doc graphs, equal to the batch result."""
    from jerex_spark.streaming import streaming_extract
    src, pdf = _write_parquet_dir(spark, tmp_path, n=30)
    q = (streaming_extract(spark, src)
         .select("doc_key", F.size("mentions").alias("n_mentions"))
         .writeStream.format("memory").queryName("stream_wrap")
         .outputMode("append").trigger(availableNow=True).start())
    q.awaitTermination(120)
    got = {r.doc_key: r.n_mentions
           for r in spark.sql("select * from stream_wrap").collect()}
    batch = {r.doc_key: len(r.mentions)
             for r in extract_graph(spark.createDataFrame(pdf)).collect()}
    assert got == batch


def test_streaming_stateful_entity_rollup(spark, tmp_path):
    """applyInPandasWithState custom stateful operator: per-key state
    accumulates ACROSS microbatches (maxFilesPerTrigger=1 forces
    several), surfaces stay capped, counts end exact."""
    from jerex_spark.streaming import (MAX_SURFACES,
                                       streaming_entity_rollup)
    src = str(tmp_path / "canon_in")
    rows = [("QHOT" if i % 4 else f"Q{i}", f"d{i:03d}",
             f"surface_{i % 30}") for i in range(120)]
    df = spark.createDataFrame(
        rows, "canonical_id string, doc_key string, phrase string")
    # several files -> several microbatches
    df.repartition(6).write.parquet(src)
    stream = (spark.readStream
              .schema("canonical_id string, doc_key string, phrase string")
              .option("maxFilesPerTrigger", "1").parquet(src))
    q = (streaming_entity_rollup(stream)
         .writeStream.format("memory").queryName("ent_rollup")
         .outputMode("update").trigger(availableNow=True).start())
    q.awaitTermination(120)
    # update mode: take the LAST emitted row per key
    final = spark.sql("""
        select canonical_id, n_mentions, n_batches, first_seen, surfaces
        from (select *, row_number() over (partition by canonical_id
                                           order by n_batches desc) rn
              from ent_rollup) where rn = 1""").collect()
    by_key = {r.canonical_id: r for r in final}
    hot = by_key["QHOT"]
    assert hot.n_mentions == 90                    # exact across batches
    assert hot.n_batches > 1                       # state really spanned
    assert hot.first_seen == "d001"
    assert len(hot.surfaces) == MAX_SURFACES       # capped
    assert hot.surfaces == sorted(hot.surfaces)
    assert by_key["Q0"].n_mentions == 1


def test_streaming_extract_watermark_drops_late(spark, tmp_path):
    """streaming_extract -> watermarked windowed sink: the event-time
    column rides through the extract (passthrough, no join), a row
    arriving after the watermark passed its window is DROPPED, and the
    windowed state stays bounded to the open windows."""
    import pandas as pd

    from jerex_spark.streaming import streaming_extract
    src = tmp_path / "late_in"
    os.makedirs(src)
    texts = dict(zip([f"p/{i}" for i in range(6)],
                     make_pages(6)["text"]))

    def _file(path, specs):
        pd.DataFrame({
            "doc_key": [k for k, _ in specs],
            "text": [texts[k] for k, _ in specs],
            "warc_ts": pd.to_datetime([t for _, t in specs]),
        }).to_parquet(path, index=False, coerce_timestamps="us",
                      allow_truncated_timestamps=True)

    fs = [str(src / f"f{i}.parquet") for i in range(4)]
    # batch 0: two docs in window [00:00, 00:10)
    _file(fs[0], [("p/0", "2024-01-01 00:01:00"),
                  ("p/1", "2024-01-01 00:02:00")])
    # batch 1: 01:00 doc -> watermark advances to 00:50 for batch 2
    _file(fs[1], [("p/2", "2024-01-01 01:00:00")])
    # batch 2: on-time doc; at batch END the 00:50 watermark EVICTS and
    # emits window [00:00, 00:10) (Spark evicts at end-of-batch, so a
    # late row needs the state already gone to be dropped)
    _file(fs[2], [("p/5", "2024-01-01 01:01:00")])
    # batch 3: one LATE doc for the closed first window + one on-time
    _file(fs[3], [("p/3", "2024-01-01 00:05:00"),
                  ("p/4", "2024-01-01 01:05:00")])
    now = time.time()
    for i, f in enumerate(fs):             # file source orders by mtime
        os.utime(f, (now - 240 + i * 60, now - 240 + i * 60))

    graph = streaming_extract(
        spark, str(src),
        schema="doc_key string, text string, warc_ts timestamp",
        passthrough=("warc_ts",),
        options={"maxFilesPerTrigger": "1"})   # one file per microbatch
    agg = (graph.withWatermark("warc_ts", "10 minutes")
           .groupBy(F.window("warc_ts", "10 minutes"))
           .agg(F.count("*").alias("n_docs"),
                F.sum(F.size("mentions")).alias("n_mentions")))
    q = (agg.writeStream.format("memory").queryName("late_win")
         .outputMode("append").trigger(availableNow=True).start())
    q.awaitTermination(120)
    progress = q.lastProgress
    dropped = sum(p["stateOperators"][0].get(
        "numRowsDroppedByWatermark", 0) for p in q.recentProgress)
    rows = {tuple(str(x) for x in r.window): r
            for r in spark.sql("select * from late_win").collect()}
    w1 = rows[("2024-01-01 00:00:00", "2024-01-01 00:10:00")]
    assert w1.n_docs == 2, "late row p/3 must be dropped, not counted"
    assert dropped == 1, f"watermark dropped {dropped} rows, expected 1"
    # the extract output rode along: mention counts match the batch run
    batch = {r.doc_key: len(r.mentions) for r in extract_graph(
        spark.createDataFrame(pd.DataFrame({
            "doc_key": list(texts), "text": list(texts.values())}))
    ).collect()}
    assert w1.n_mentions == batch["p/0"] + batch["p/1"]
    # open windows (>= watermark 00:55) are not emitted in append mode
    assert ("2024-01-01 01:00:00", "2024-01-01 01:10:00") not in rows
    # state bounded: only the still-open windows are retained
    state = progress["stateOperators"][0]["numRowsTotal"]
    assert state <= 2, f"windowed state not bounded: {state} rows"


def test_streaming_windowed_watermark(spark, tmp_path):
    src = str(tmp_path / "events_in")
    rows = [(i, f"2024-01-01 00:{i % 50:02d}:00", "error" if i % 3 == 0
             else "click", float(i)) for i in range(200)]
    df = spark.createDataFrame(
        rows, "event_id long, ts_s string, event_type string, value double"
    ).withColumn("ts", F.to_timestamp("ts_s")).drop("ts_s")
    df.repartition(2).write.parquet(src)

    stream = (spark.readStream
              .schema("event_id long, event_type string, value double, "
                      "ts timestamp")
              .parquet(src))
    agg = (stream.withWatermark("ts", "10 minutes")
           .groupBy(F.window("ts", "10 minutes"), "event_type")
           .agg(F.count("*").alias("n")))
    q = (agg.writeStream.format("memory").queryName("stream_win")
         .outputMode("complete").trigger(availableNow=True).start())
    q.awaitTermination(120)
    got = spark.sql(
        "select event_type, sum(n) as n from stream_win group by 1"
    ).collect()
    want = {r.event_type: r.n for r in
            df.groupBy("event_type").agg(F.count("*").alias("n")).collect()}
    assert {r.event_type: r.n for r in got} == want


def test_streaming_dedup_exact(spark, tmp_path):
    """streaming_dedup_exact: dup-heavy pages stream -> one row per
    distinct text, matching the batch dedup_exact groupBy's key set."""
    import pandas as pd

    from jerex_spark.streaming import streaming_dedup_exact
    src = str(tmp_path / "dedup_in")
    texts = list(make_pages(5)["text"])
    pdf = pd.DataFrame({
        "doc_key": [f"p/{i}" for i in range(20)],
        "text": [texts[i % 5] for i in range(20)],     # 4 copies each
        "fetch_ts": pd.to_datetime(
            [f"2024-01-01 00:{i:02d}:00" for i in range(20)]),
    })
    spark.createDataFrame(pdf).repartition(3).write.parquet(src)
    stream = (spark.readStream
              .schema("doc_key string, text string, fetch_ts timestamp")
              .parquet(src))
    q = (streaming_dedup_exact(stream, delay="1 hour")
         .writeStream.format("memory").queryName("stream_dedup")
         .outputMode("append").trigger(availableNow=True).start())
    q.awaitTermination(120)
    rows = spark.sql("select * from stream_dedup").collect()
    assert len(rows) == 5, "one survivor per distinct text"
    assert {r.text_md5 for r in rows} == {
        r.text_md5 for r in spark.createDataFrame(pdf).selectExpr(
            "md5(text) as text_md5").distinct().collect()}
    # state bounded to the distinct-content count inside the horizon
    state = q.lastProgress["stateOperators"][0]["numRowsTotal"]
    assert state <= 5, f"dedup state not bounded: {state} rows"


def test_streaming_dedup_exact_readmits_after_horizon(spark, tmp_path):
    """The horizon boundary, both sides: a re-crawl INSIDE the
    watermark horizon is dropped; the same content re-fetched AFTER the
    horizon (state evicted) is re-emitted as a fresh first-seen."""
    import pandas as pd

    from jerex_spark.streaming import streaming_dedup_exact
    src = tmp_path / "dedup_readmit"
    os.makedirs(src)
    text_a, text_b, text_c, text_d = make_pages(4)["text"]

    def _file(path, specs):
        pd.DataFrame({
            "doc_key": [k for k, _, _ in specs],
            "text": [t for _, t, _ in specs],
            "fetch_ts": pd.to_datetime([ts for _, _, ts in specs]),
        }).to_parquet(path, index=False, coerce_timestamps="us",
                      allow_truncated_timestamps=True)

    fs = [str(src / f"f{i}.parquet") for i in range(5)]
    # batch 0: first fetches of A and B
    _file(fs[0], [("p/a0", text_a, "2024-01-01 00:00:00"),
                  ("p/b0", text_b, "2024-01-01 00:01:00")])
    # batch 1: re-crawl of A inside the 10-minute horizon -> dropped
    _file(fs[1], [("p/a1", text_a, "2024-01-01 00:05:00")])
    # batch 2: C at 01:00 -> the watermark computed at this batch's END
    # (00:50) becomes operative in batch 3 (Spark's one-batch delay)
    _file(fs[2], [("p/c0", text_c, "2024-01-01 01:00:00")])
    # batch 3: filler — runs under the 00:50 watermark, so its END
    # evicts A (expired 00:10) and B (00:11) from the dedup state
    _file(fs[3], [("p/d0", text_d, "2024-01-01 01:02:00")])
    # batch 4: A again, long after the horizon -> fresh first-seen
    _file(fs[4], [("p/a2", text_a, "2024-01-01 01:05:00")])
    now = time.time()
    for i, f in enumerate(fs):             # file source orders by mtime
        os.utime(f, (now - 240 + i * 60, now - 240 + i * 60))

    stream = (spark.readStream
              .schema("doc_key string, text string, fetch_ts timestamp")
              .option("maxFilesPerTrigger", "1")
              .parquet(str(src)))
    q = (streaming_dedup_exact(stream, delay="10 minutes")
         .writeStream.format("memory").queryName("stream_readmit")
         .outputMode("append").trigger(availableNow=True).start())
    q.awaitTermination(120)
    got = sorted(r.doc_key for r in
                 spark.sql("select * from stream_readmit").collect())
    assert got == ["p/a0", "p/a2", "p/b0", "p/c0", "p/d0"], got
