"""Canonicalization as an oracle-checked operator.

Runs the REAL canonicalization stage (jerex_spark.canonicalize:
broadcast alias join -> MinHash-LSH char-shingle blocking ->
levenshtein-ratio verify -> deterministic best -> self-canonical
fallback) over a gazetteer mention table derived relationally from the
documents corpus, against an inline alias dictionary that exercises
all three match kinds (exact, lsh-fuzzy, self).  The whole stage is
JVM-side Catalyst expressions, so a DuckDB oracle replicates it
operator-for-operator — this is the cross-engine check of the
entity-linking semantics themselves.
"""

from __future__ import annotations

from pyspark.sql import functions as F

from ..canonicalize import MAX_ED_RATIO, N_HASHES, SHINGLE_C, \
    canonicalize_entities
from .textops import _docs

ALIASES = [
    ("scan", "Q_SCAN"),        # exact corpus word
    ("merge", "Q_MERGE"),      # exact corpus word
    ("joins", "Q_JOIN"),       # edit distance 1 from 'join'
    ("streem", "Q_STREAM"),    # edit distance 1 from 'stream'
    ("windoww", "Q_WINDOW"),   # edit distance 1 from 'window'
]


def canon_gazetteer(spark, sf_dir):
    docs = _docs(spark, sf_dir)
    # spread by doc-id hash before the word explode: a compact input
    # (single parquet split) would run the explode + distinct map side
    # on one task; the raw text moves once, deterministic, sized from
    # the session's parallelism (same rationale as dedup._split_docs)
    n = spark.sparkContext.defaultParallelism
    # per-doc array_distinct replaces the row-level distinct: doc_id is
    # unique per input row, so deduping words inside the array is the
    # same (doc_id, phrase) set with zero shuffles (guide §2.4)
    ments = (docs.repartition(n, F.xxhash64("doc_id"))
             .select("doc_id",
                     F.explode(F.array_distinct(F.split("text", " ")))
                     .alias("phrase"))
             # canonicalize_entities keys on (doc_key, entity_idx) —
             # one gazetteer "entity" per (doc, phrase)
             .withColumn("doc_key",
                         F.concat_ws("|", F.col("doc_id").cast("string"),
                                     "phrase"))
             .withColumn("entity_idx", F.lit(0)))
    alias = spark.createDataFrame(ALIASES, ["alias", "canonical_id"])
    out = canonicalize_entities(ments, alias)
    return out.select("doc_id", "phrase", "canonical_id", "match_kind")


def _canon_sql() -> str:
    alias_rows = ", ".join(f"('{a}', '{c}')" for a, c in ALIASES)
    return f"""
WITH ments AS (
  SELECT DISTINCT doc_id, unnest(string_split(text, ' ')) AS phrase
  FROM documents),
norm AS (SELECT doc_id, phrase, phrase AS n FROM ments),
alias(alias, canonical_id) AS (VALUES {alias_rows}),
exact AS (
  SELECT m.doc_id, m.phrase, a.canonical_id
  FROM norm m JOIN alias a ON m.n = a.alias),
misses AS (
  SELECT m.* FROM norm m
  LEFT JOIN alias a ON m.n = a.alias WHERE a.alias IS NULL),
-- char {SHINGLE_C}-shingles; whole word if shorter
msh AS (
  SELECT DISTINCT doc_id, n, substr(n, i, {SHINGLE_C}) AS sh
  FROM misses,
       (SELECT unnest(generate_series(1, 400)) AS i) ii
  WHERE i <= greatest(length(n) - {SHINGLE_C - 1}, 1)),
ash AS (
  SELECT DISTINCT alias, canonical_id, substr(alias, i, {SHINGLE_C}) AS sh
  FROM alias,
       (SELECT unnest(generate_series(1, 400)) AS i) ii
  WHERE i <= greatest(length(alias) - {SHINGLE_C - 1}, 1)),
msig AS (
  SELECT doc_id, n, h.hash_id,
         MIN(md5(CAST(h.hash_id AS VARCHAR) || '|' || sh)) AS sig
  FROM msh, (SELECT unnest(generate_series(0, {N_HASHES - 1}))
             AS hash_id) h
  GROUP BY doc_id, n, h.hash_id),
asig AS (
  SELECT alias, canonical_id, h.hash_id,
         MIN(md5(CAST(h.hash_id AS VARCHAR) || '|' || sh)) AS sig
  FROM ash, (SELECT unnest(generate_series(0, {N_HASHES - 1}))
             AS hash_id) h
  GROUP BY alias, canonical_id, h.hash_id),
cand AS (
  SELECT DISTINCT m.doc_id, m.n, a.alias, a.canonical_id
  FROM msig m JOIN asig a ON m.hash_id = a.hash_id AND m.sig = a.sig),
verified AS (
  SELECT doc_id, n, canonical_id,
         levenshtein(n, alias)
           / CAST(greatest(length(n), length(alias)) AS DOUBLE) AS ratio
  FROM cand
  WHERE levenshtein(n, alias)
        / CAST(greatest(length(n), length(alias)) AS DOUBLE)
        <= {MAX_ED_RATIO}),
best AS (
  SELECT doc_id, n, canonical_id FROM (
    SELECT doc_id, n, canonical_id,
           ROW_NUMBER() OVER (PARTITION BY doc_id, n
                              ORDER BY ratio, canonical_id) AS rn
    FROM verified) WHERE rn = 1)
SELECT doc_id, phrase, canonical_id, 'exact' AS match_kind FROM exact
UNION ALL
SELECT m.doc_id, m.phrase,
       COALESCE(b.canonical_id, 'self:' || md5(m.n)) AS canonical_id,
       CASE WHEN b.canonical_id IS NOT NULL THEN 'lsh'
            ELSE 'self' END AS match_kind
FROM misses m LEFT JOIN best b ON m.doc_id = b.doc_id AND m.n = b.n
"""


QUERIES = {
    "canon_gazetteer": (canon_gazetteer, _canon_sql()),
}
