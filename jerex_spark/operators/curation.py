"""End-to-end corpus curation: filter -> duplicate-cluster collapse.

The canonical shape of a training-data pipeline over webtext (and the
composition target the per-operator queries build toward): score every
document (language-ID + quality), FILTER to the admissible set, then
DEDUPLICATE the survivors — MinHash-LSH candidate pairs restricted to
the surviving subgraph, transitive closure via distributed connected
components, keep the canonical (minimum doc_id) member per duplicate
cluster.  Filter-before-dedup is the standard order: it shrinks the
pair graph before the closure, and replicas share text so clusters
survive or die atomically under content-based filters.

Output is one VERDICT ROW PER DOCUMENT (auditable keep-list, the shape
the lineage manifests spool at scale): the scores, the filter verdict,
the duplicate-cluster label (filtered-out docs are their own
singleton label — no NULLs: the driver's compare sorts row tuples,
and a nullable key column would make that sort ill-typed), and the
final ``kept`` flag.  Downstream materialization is
``WHERE kept`` — at 100 TB that filter reaches the parquet scan.

Scale notes: the score stage is pure Catalyst over one documents scan;
the survivor gate is a left-semi equi-join (broadcastable only at
small scale — survivors are most of a real corpus, so it stays a
shuffle join on doc_id); the closure input is the *pair* set (orders
of magnitude smaller than the corpus) and the final cluster-label join
broadcasts the tiny component map back onto the verdict table.

Reference anchor: cluster identity as an order-insensitive set with a
deterministic representative (jerex/evaluation/conversion.py:4-10),
as in operators/components.py.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from .components import connected_components
from .dedup import MINHASH_SQL, lsh_pair_graph
from .textops import (QUALITY_SQL, _docs, _langid_sql, pred_lang_expr,
                      quality_expr)

# operating point: English-predicted docs at >= the corpus's median
# quality (0.35 at the synthetic corpus; quality is ROUND(..,4)-ed
# identically on both engines, so the boundary compare is stable)
CURATION_LANG = "en"
CURATION_MIN_QUALITY = 0.35


def corpus_curation(spark, sf_dir) -> DataFrame:
    """Per-document curation verdicts over ``documents``:
    (doc_id, pred_lang, quality, passed_filter, component_id, kept)."""
    # both scores are pure Catalyst expressions over text, so the whole
    # verdict is ONE documents scan — no self-join of per-doc score
    # tables (the oracle joins QUALITY_SQL/_langid_sql on doc_id, which
    # is value-identical)
    d = _docs(spark, sf_dir)   # one parquet read shared with the graph
    verdict = (d
               .select("doc_id",
                       pred_lang_expr().alias("pred_lang"),
                       quality_expr().alias("quality"))
               .withColumn(
                   "passed_filter",
                   (F.col("pred_lang") == CURATION_LANG)
                   & (F.col("quality") >= CURATION_MIN_QUALITY)))

    surv = verdict.filter("passed_filter").select("doc_id")
    # collapsed pair graph (rep LSH pairs + per-group star edges): same
    # closure as the expanded pair list at linear edges per dup group.
    # LOAD-BEARING INVARIANT: the filter is text-pure, so exact-dup
    # groups survive or die atomically — the star form is equivalent
    # only then (an id-dependent filter could drop just the rep and
    # disconnect members the expanded member-member pairs would have
    # kept together; such a filter must go back to minhash_lsh_pairs).
    edges = (lsh_pair_graph(d)
             .join(surv.withColumnRenamed("doc_id", "doc_a"),
                   "doc_a", "left_semi")
             .join(surv.withColumnRenamed("doc_id", "doc_b"),
                   "doc_b", "left_semi"))
    comp = connected_components(edges, "doc_a", "doc_b")

    out = (verdict
           .join(comp, verdict.doc_id == comp.id, "left")
           .select(verdict["doc_id"], "pred_lang", "quality",
                   "passed_filter",
                   F.coalesce("component", verdict.doc_id)
                   .alias("component_id")))
    return out.withColumn(
        "kept",
        F.col("passed_filter") & (F.col("doc_id") == F.col("component_id")))


CURATION_SQL = f"""
WITH RECURSIVE
fv AS (
  SELECT q.doc_id, l.pred AS pred_lang, q.quality,
         (l.pred = '{CURATION_LANG}'
          AND q.quality >= {CURATION_MIN_QUALITY}) AS passed_filter
  FROM ({QUALITY_SQL}) q JOIN ({_langid_sql()}) l USING (doc_id)),
sp AS (
  SELECT p.doc_a, p.doc_b FROM ({MINHASH_SQL}) p
  WHERE p.doc_a IN (SELECT doc_id FROM fv WHERE passed_filter)
    AND p.doc_b IN (SELECT doc_id FROM fv WHERE passed_filter)),
edges AS (SELECT doc_a AS u, doc_b AS w FROM sp
          UNION SELECT doc_b, doc_a FROM sp),
reach(id, r) AS (
    SELECT u, u FROM edges
    UNION
    SELECT e.u, reach.r FROM edges e JOIN reach ON reach.id = e.w),
comp AS (SELECT id AS doc_id, MIN(r) AS cid FROM reach GROUP BY id)
SELECT fv.doc_id, fv.pred_lang, fv.quality, fv.passed_filter,
       COALESCE(c.cid, fv.doc_id) AS component_id,
       (fv.passed_filter
        AND fv.doc_id = COALESCE(c.cid, fv.doc_id)) AS kept
FROM fv LEFT JOIN comp c USING (doc_id)
"""


QUERIES = {
    "corpus_curation": (corpus_curation, CURATION_SQL),
}
