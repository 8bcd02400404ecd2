"""Structured Streaming surfaces (SURVEY.md §2.10/§2.12).

The fused extract operator is stateless, so continuous crawl ingestion
is just ``readStream -> extract_graph -> writeStream`` (tested in
tests/test_streaming.py).  This module adds the stateful pieces a
continuously-maintained KG needs:

* :func:`streaming_extract` — pages stream (Iceberg incremental or
  file source, sources.read_pages_stream) through the extract stage;
* :func:`streaming_dedup_exact` — continuous-ingestion exact dedup
  with bounded state (``dropDuplicatesWithinWatermark``), the
  streaming twin of ``operators.dedup.dedup_exact``;
* :func:`streaming_entity_rollup` — an incrementally-maintained
  canonical-entity table via ``applyInPandasWithState``: per
  canonical_id the state carries (n_mentions, n_batches, first_seen,
  capped surface sample) and every microbatch emits the updated row.
  This is the custom stateful operator pattern (Arrow-batched per-key
  state, executor-local, checkpointable) — the streaming twin of
  graph.canonical_entity_table;
* :func:`streaming_triple_merge` — a continuously-maintained canonical
  TRIPLE table keyed by (subj, pred, obj): running support, batch
  count, first-seen doc, capped provenance — the streaming twin of
  operators.kg.kg_delta_merge (every microbatch is the crawl delta).

Scale notes: state is keyed by canonical_id and lives in the state
store partition that owns the key, so hot entities update in one task
per microbatch but the per-key state itself is O(max_surfaces) bytes —
bounded regardless of how many documents mention the entity.
"""

from __future__ import annotations

from typing import Any, Iterable, Iterator

import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

from .extract import extract_graph

ROLLUP_OUTPUT_SCHEMA = (
    "canonical_id string, n_mentions long, n_batches long, "
    "first_seen string, surfaces array<string>")
ROLLUP_STATE_SCHEMA = (
    "n_mentions long, n_batches long, first_seen string, "
    "surfaces array<string>")
MAX_SURFACES = 20


def streaming_extract(spark: SparkSession, ref: str,
                      schema: str = "doc_key string, text string",
                      passthrough: tuple[str, ...] = (),
                      options: dict | None = None) -> DataFrame:
    """Pages stream -> per-document graph rows (stateless; watermarks /
    sinks are the caller's choice).  Pass the event-time column (e.g.
    ``warc_ts``) through ``passthrough`` so a downstream watermarked
    windowed sink can bound its state without a join."""
    from .sources import read_pages_stream
    return extract_graph(read_pages_stream(spark, ref, schema, options),
                         passthrough=passthrough)


def _rollup_update(key: tuple, pdfs: Iterable[pd.DataFrame],
                   state: GroupState) -> Iterator[pd.DataFrame]:
    """Merge this microbatch's mentions of one canonical_id into the
    running state; emit the updated row.  Deterministic: surfaces are
    kept as the lexicographically-lowest MAX_SURFACES."""
    n_new = 0
    first_seen_new: Any = None
    surfaces: set = set()
    for pdf in pdfs:
        n_new += len(pdf)
        surfaces.update(pdf["phrase"].dropna())
        if len(pdf):
            lo = pdf["doc_key"].min()
            if first_seen_new is None or lo < first_seen_new:
                first_seen_new = lo
    if state.exists:
        n_mentions, n_batches, first_seen, old_surfaces = state.get
        surfaces.update(old_surfaces)
    else:
        n_mentions, n_batches, first_seen = 0, 0, None
    n_mentions += n_new
    n_batches += 1
    if first_seen is None or (first_seen_new is not None
                              and first_seen_new < first_seen):
        first_seen = first_seen_new
    kept = sorted(surfaces)[:MAX_SURFACES]
    state.update((n_mentions, n_batches, first_seen, kept))
    yield pd.DataFrame({
        "canonical_id": [key[0]], "n_mentions": [n_mentions],
        "n_batches": [n_batches], "first_seen": [first_seen],
        "surfaces": [kept]})


def streaming_entity_rollup(canon_mentions: DataFrame) -> DataFrame:
    """canon_mentions stream (canonical_id, doc_key, phrase) ->
    continuously-updated canonical entity table.

    ``applyInPandasWithState``: Arrow-batched per-key state,
    update-mode output — each microbatch emits one refreshed row per
    canonical_id it touched."""
    return (canon_mentions
            .groupBy("canonical_id")
            .applyInPandasWithState(
                _rollup_update,
                outputStructType=ROLLUP_OUTPUT_SCHEMA,
                stateStructType=ROLLUP_STATE_SCHEMA,
                outputMode="update",
                timeoutConf=GroupStateTimeout.NoTimeout))


# --- continuously-maintained canonical triple table ----------------------
TRIPLE_MERGE_OUTPUT_SCHEMA = (
    "subj string, pred string, obj string, support long, "
    "n_batches long, first_seen string, provenance array<string>")
TRIPLE_MERGE_STATE_SCHEMA = (
    "support long, n_batches long, first_seen string, "
    "provenance array<string>")
MAX_PROVENANCE = 20


def _triple_merge_update(key: tuple, pdfs: Iterable[pd.DataFrame],
                         state: GroupState) -> Iterator[pd.DataFrame]:
    """Fold one microbatch's occurrences of one (subj, pred, obj) into
    the running state; emit the refreshed canonical row.  Provenance
    keeps the lexicographically-lowest MAX_PROVENANCE doc_keys —
    bounded state per key no matter how hot the triple."""
    n_new = 0
    docs: set = set()
    for pdf in pdfs:
        n_new += len(pdf)
        docs.update(pdf["doc_key"].dropna())
    if state.exists:
        support, n_batches, first_seen, old_prov = state.get
        docs.update(old_prov)
    else:
        support, n_batches, first_seen = 0, 0, None
    support += n_new
    n_batches += 1
    lo = min(docs) if docs else None
    if first_seen is None or (lo is not None and lo < first_seen):
        first_seen = lo
    prov = sorted(docs)[:MAX_PROVENANCE]
    state.update((support, n_batches, first_seen, prov))
    yield pd.DataFrame({
        "subj": [key[0]], "pred": [key[1]], "obj": [key[2]],
        "support": [support], "n_batches": [n_batches],
        "first_seen": [first_seen], "provenance": [prov]})


def streaming_triple_merge(triples: DataFrame) -> DataFrame:
    """Triples stream (subj, pred, obj, doc_key) -> continuously-
    maintained canonical triple table: per-identity running support,
    batch count, first-seen doc, and a capped provenance sample — the
    streaming twin of ``operators.kg.kg_delta_merge`` (there the crawl
    delta is a batch MERGE; here every microbatch IS the delta).

    Same scale shape as the entity rollup: state keyed by the triple
    identity, O(MAX_PROVENANCE) bytes per key, update-mode output so
    the sink (an Iceberg MERGE INTO upsert in production) receives one
    refreshed row per touched identity per microbatch.  Streaming-only
    by Spark's design (applyInPandasWithState raises
    UnsupportedOperationException on a static DataFrame) — the batch
    backfill path is operators.kg.kg_delta_merge itself."""
    return (triples
            .groupBy("subj", "pred", "obj")
            .applyInPandasWithState(
                _triple_merge_update,
                outputStructType=TRIPLE_MERGE_OUTPUT_SCHEMA,
                stateStructType=TRIPLE_MERGE_STATE_SCHEMA,
                outputMode="update",
                timeoutConf=GroupStateTimeout.NoTimeout))


# --- continuous-ingestion exact dedup -----------------------------------
def streaming_dedup_exact(pages: DataFrame, time_col: str = "fetch_ts",
                          delay: str = "24 hours") -> DataFrame:
    """Pages stream -> first fetch of each distinct text within the
    watermark horizon (the streaming twin of operators.dedup.dedup_exact,
    reference analog: the dataset-load dedup a re-crawled corpus needs
    before `jerex/model.py` inference).

    ``dropDuplicatesWithinWatermark`` keys state by ``md5(text)`` and
    evicts a key once the event-time watermark passes its first-seen
    timestamp + ``delay`` — so state is bounded by the horizon's
    distinct-content count, not the crawl's lifetime, which is the only
    formulation that survives an unbounded 100 TB crawl.  Semantics at
    the boundary: a re-crawl of unchanged content INSIDE the horizon is
    dropped; the same content re-fetched AFTER the horizon is re-emitted
    as a fresh first-seen — exactly what an incremental KG refresh
    wants (dedupe the burst, re-process the long-interval revisit).
    Batch-mode note: on a non-streaming DataFrame Spark treats this as
    plain dropDuplicates, so the operator is safe in backfill jobs too.
    """
    return (pages
            .withColumn("text_md5", F.md5("text"))
            .withWatermark(time_col, delay)
            .dropDuplicatesWithinWatermark(["text_md5"]))

