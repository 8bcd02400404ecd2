"""Corpus-preparation filters: decontamination, repetition, rebalance,
PII scrubbing.

Training-data hygiene operators a 100 TB pipeline runs between
curation (operators/curation.py) and batch assembly (operators/
packing.py), all exact and oracle-checked:

* ``decontaminate`` — benchmark decontamination by n-gram overlap
  (the public recipe from GPT-3 appendix C / Gopher: drop training
  documents sharing long n-grams with the evaluation set).  The eval
  set here is the corpus's own deterministic ``hash_split`` test
  split, so the operator is self-contained and reproducible: the same
  salt that froze the split freezes the contamination verdicts.
* ``doc_repetition`` — Gopher-style repetition quality signals (Rae
  et al. 2021, table A1): per-document duplicate 2-gram fraction and
  most-frequent-2-gram fraction, with the flag thresholds documented
  as constants rather than buried.
* ``lang_rebalance`` — deterministic stratified downsampling: every
  predicted-language stratum is sampled down to the smallest
  stratum's token mass.  The keep decision is a pure integer
  comparison (``bucket * stratum_tokens < 65536 * min_tokens``) on an
  md5-derived bucket — no floats, no rand(), so re-runs and the
  DuckDB oracle agree bit-for-bit and the judgement is reproducible
  under retries exactly like ``hash_split``.
* ``pii_scrub`` — email/phone redaction with per-document counts; a
  pure zero-shuffle projection using RE2-compatible patterns so the
  Spark (Java regex) and DuckDB (RE2) engines agree exactly.
* ``repeated_spans`` — position-aware repeated-substring detection at
  k-token granularity (the distributable analog of the suffix-array
  ExactSubstr dedup in Lee et al. 2021, "Deduplicating Training Data
  Makes Language Models Better", arXiv:2107.06499): every k-token
  window whose gram occurs >= 2 times corpus-wide (multiplicity
  counted, so within-document repeats qualify too) is flagged, and
  consecutive flagged positions merge into maximal spans.  Unlike the
  document-level dedup family this finds the boilerplate *inside*
  otherwise-unique pages — the dominant duplication mode in web text.

Scale notes (100 TB): ``decontaminate`` is one shingle equi-join —
the test side is ~5% of the corpus, shingled AFTER a left-semi gate
(never shingle what you won't join) and distinct-ed before the join;
per-doc rollup is a partial-aggregable groupBy on doc_id.
``doc_repetition`` is explode -> two keyed groupBys ((doc_id, gram)
then doc_id) — both partial-aggregable, no skew possible beyond a
single document's gram count.  ``lang_rebalance`` aggregates the
corpus to O(n_langs) rows, broadcasts them back, and filters — one
partial agg plus a broadcast join, zero wide shuffles.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from ..caching import persist_tracked as _persist
from .dedup import SHINGLE_K, _SHINGLES_SQL, _shingles
from .packing import HASH_SPLIT_SQL, hash_split
from .textops import _docs, _langid_sql, pred_lang_expr

# Gopher-inspired flag thresholds (Rae et al. 2021 use 0.20 for the
# top-2-gram character fraction and ~0.30 for duplicate 5-gram mass;
# we apply them to whitespace 2-gram COUNTS — same signal, exact
# integer provenance).  The flag only fires at >= MIN_GRAMS_FOR_FLAG:
# a 5-gram doc has top_frac >= 0.25 by pigeonhole, so the ratio
# thresholds are meaningless below a floor (fraction estimates need
# mass — same reason Gopher gates its filters on document length).
DUP_FRAC_MAX = 0.3
TOP_FRAC_MAX = 0.2
MIN_GRAMS_FOR_FLAG = 20

REBALANCE_SALT = ":rebalance:v1"   # independent draw from hash_split's


# --- benchmark decontamination -------------------------------------------
def decontaminate(spark, sf_dir) -> DataFrame:
    """(doc_id, n_shingles, n_overlap, contaminated) for every TRAIN
    document: n_overlap = how many of its distinct 5-gram shingles
    also occur anywhere in the held-out test split.  Short docs
    (< SHINGLE_K tokens) have no shingles and are trivially clean."""
    docs = _docs(spark, sf_dir)   # one parquet read for every subtree
    splits = hash_split(spark, sf_dir, docs_df=docs)
    train = splits.filter(F.col("split") == "train").select("doc_id")
    test = splits.filter(F.col("split") == "test").select("doc_id")

    # gate each side BEFORE shingling: the explode+distinct only ever
    # runs over rows that reach the join
    test_sh = (_shingles(docs.join(test, "doc_id", "left_semi"))
               .select("shingle").distinct())
    train_sh = _shingles(docs.join(train, "doc_id", "left_semi"))

    hits = train_sh.join(test_sh.withColumn("hit", F.lit(1)),
                         "shingle", "left")
    per_doc = hits.groupBy("doc_id").agg(
        F.count("*").alias("n_shingles"),
        F.sum(F.coalesce("hit", F.lit(0))).alias("n_overlap"))
    return (train.join(per_doc, "doc_id", "left")
            .select("doc_id",
                    F.coalesce("n_shingles", F.lit(0))
                    .cast("long").alias("n_shingles"),
                    F.coalesce("n_overlap", F.lit(0))
                    .cast("long").alias("n_overlap"))
            .withColumn("contaminated", F.col("n_overlap") > 0))


DECONTAMINATE_SQL = f"""
WITH splits AS ({HASH_SPLIT_SQL}),
{_SHINGLES_SQL},
tr AS (SELECT doc_id FROM splits WHERE split = 'train'),
te_sh AS (
  SELECT DISTINCT shingle FROM shingles
  JOIN splits USING (doc_id) WHERE split = 'test'),
tr_sh AS (
  SELECT s.doc_id, s.shingle FROM shingles s JOIN tr USING (doc_id)),
agg AS (
  SELECT doc_id, COUNT(*) AS n_shingles,
         SUM(CASE WHEN te.shingle IS NOT NULL THEN 1 ELSE 0 END)
           AS n_overlap
  FROM tr_sh LEFT JOIN te_sh te USING (shingle)
  GROUP BY doc_id)
SELECT t.doc_id,
       CAST(COALESCE(a.n_shingles, 0) AS BIGINT) AS n_shingles,
       CAST(COALESCE(a.n_overlap, 0) AS BIGINT) AS n_overlap,
       COALESCE(a.n_overlap, 0) > 0 AS contaminated
FROM tr t LEFT JOIN agg a USING (doc_id)
"""


# --- repetition quality signals ------------------------------------------
def doc_repetition(spark, sf_dir) -> DataFrame:
    """(doc_id, n_grams, n_distinct, top_count, dup_frac, top_frac,
    repetitive) over whitespace 2-grams.  dup_frac = fraction of gram
    occurrences that are repeats of an earlier one; top_frac = mass of
    the single most frequent gram."""
    d = _docs(spark, sf_dir).select(
        "doc_id", F.split("text", " ").alias("l"))
    grams = (d.filter(F.size("l") >= 2)
             .select("doc_id",
                     F.explode(F.transform(
                         F.sequence(F.lit(0), F.size("l") - 2),
                         lambda i: F.concat_ws(" ", F.slice("l", i + 1, 2))))
                     .alias("gram")))
    counts = grams.groupBy("doc_id", "gram").agg(F.count("*").alias("c"))
    agg = counts.groupBy("doc_id").agg(
        F.sum("c").alias("n_grams"),
        F.count("*").alias("n_distinct"),
        F.max("c").alias("top_count"))
    out = (d.select("doc_id").join(agg, "doc_id", "left")
           .select("doc_id",
                   F.coalesce("n_grams", F.lit(0))
                   .cast("long").alias("n_grams"),
                   F.coalesce("n_distinct", F.lit(0))
                   .cast("long").alias("n_distinct"),
                   F.coalesce("top_count", F.lit(0))
                   .cast("long").alias("top_count")))
    zero = F.col("n_grams") == 0
    dup = F.when(zero, F.lit(0.0)).otherwise(
        F.round(1.0 - F.col("n_distinct") / F.col("n_grams"), 4))
    top = F.when(zero, F.lit(0.0)).otherwise(
        F.round(F.col("top_count") / F.col("n_grams"), 4))
    return (out.withColumn("dup_frac", dup).withColumn("top_frac", top)
            .withColumn("repetitive",
                        (F.col("n_grams") >= MIN_GRAMS_FOR_FLAG)
                        & ((F.col("dup_frac") > DUP_FRAC_MAX)
                           | (F.col("top_frac") > TOP_FRAC_MAX))))


DOC_REPETITION_SQL = f"""
WITH t AS (SELECT doc_id, string_split(text, ' ') AS l FROM documents),
g AS (
  SELECT doc_id, array_to_string(l[i + 1:i + 2], ' ') AS gram
  FROM (SELECT doc_id, l, unnest(generate_series(0, len(l) - 2)) AS i
        FROM t WHERE len(l) >= 2)),
c AS (SELECT doc_id, gram, COUNT(*) AS c FROM g GROUP BY doc_id, gram),
a AS (
  SELECT doc_id, CAST(SUM(c) AS BIGINT) AS n_grams,
         CAST(COUNT(*) AS BIGINT) AS n_distinct,
         CAST(MAX(c) AS BIGINT) AS top_count
  FROM c GROUP BY doc_id),
j AS (
  SELECT t.doc_id, COALESCE(a.n_grams, 0) AS n_grams,
         COALESCE(a.n_distinct, 0) AS n_distinct,
         COALESCE(a.top_count, 0) AS top_count
  FROM t LEFT JOIN a USING (doc_id)),
r AS (
  SELECT doc_id, n_grams, n_distinct, top_count,
         CASE WHEN n_grams = 0 THEN 0.0
              ELSE ROUND(1.0 - n_distinct / CAST(n_grams AS DOUBLE), 4)
         END AS dup_frac,
         CASE WHEN n_grams = 0 THEN 0.0
              ELSE ROUND(top_count / CAST(n_grams AS DOUBLE), 4)
         END AS top_frac
  FROM j)
SELECT doc_id, n_grams, n_distinct, top_count, dup_frac, top_frac,
       (n_grams >= {MIN_GRAMS_FOR_FLAG}
        AND (dup_frac > {DUP_FRAC_MAX} OR top_frac > {TOP_FRAC_MAX}))
         AS repetitive
FROM r
"""


# --- deterministic language rebalancing -----------------------------------
def _bucket16(h):
    """First 4 hex chars of md5 Column ``h`` as an int in [0, 65536)."""
    hexd = "0123456789abcdef"
    v = sum(((F.instr(F.lit(hexd), F.substring(h, i, 1)) - 1)
             * (16 ** (4 - i))) for i in range(1, 5))
    return v.cast("long")


def lang_rebalance(spark, sf_dir) -> DataFrame:
    """(doc_id, pred_lang, n_tokens, bucket, keep): downsample every
    predicted-language stratum to the smallest stratum's token mass.
    keep <=> bucket * stratum_tokens < 65536 * min_stratum_tokens —
    exact integer arithmetic, so expected kept mass per stratum equals
    min_tokens with zero estimator bias and full determinism."""
    d = _docs(spark, sf_dir).select(
        "doc_id", pred_lang_expr().alias("pred_lang"),
        F.size(F.split("text", " ")).cast("long").alias("n_tokens"))
    totals = d.groupBy("pred_lang").agg(
        F.sum("n_tokens").alias("stratum_tokens"))
    mins = totals.agg(F.min("stratum_tokens").alias("min_tokens"))
    h = F.md5(F.concat(F.col("doc_id").cast("string"),
                       F.lit(REBALANCE_SALT)))
    return (d.withColumn("bucket", _bucket16(h))
            .join(F.broadcast(totals), "pred_lang")
            .crossJoin(F.broadcast(mins))
            .select("doc_id", "pred_lang", "n_tokens", "bucket",
                    (F.col("bucket") * F.col("stratum_tokens")
                     < F.lit(65536) * F.col("min_tokens")).alias("keep")))


def _bucket16_sql(h: str) -> str:
    return " + ".join(
        f"(instr('0123456789abcdef', substr({h}, {i}, 1)) - 1)"
        f" * {16 ** (4 - i)}" for i in range(1, 5))


LANG_REBALANCE_SQL = f"""
WITH d AS (
  SELECT doc_id, pred AS pred_lang,
         CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens,
         CAST(({_bucket16_sql(
             f"md5(CAST(doc_id AS VARCHAR) || '{REBALANCE_SALT}')")})
           AS BIGINT) AS bucket
  FROM ({_langid_sql()}) JOIN documents USING (doc_id)),
tot AS (
  SELECT pred_lang, SUM(n_tokens) AS stratum_tokens
  FROM d GROUP BY pred_lang),
m AS (SELECT MIN(stratum_tokens) AS min_tokens FROM tot)
SELECT d.doc_id, d.pred_lang, d.n_tokens, d.bucket,
       (d.bucket * t.stratum_tokens < 65536 * m.min_tokens) AS keep
FROM d JOIN tot t USING (pred_lang) CROSS JOIN m
"""


# --- PII scrubbing ---------------------------------------------------------
# Conservative RE2-compatible patterns (both engines: Spark uses Java
# regex, DuckDB uses RE2 — no lookbehind/backreference anywhere so the
# two agree).  Emails and international-ish phone numbers; the scrub
# is a pure projection (zero shuffles) and the counts let a pipeline
# monitor redaction volume per partition/source.
PII_EMAIL_RE = r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}"
PII_PHONE_RE = r"\+?[0-9][0-9() -]{6,}[0-9]"
EMAIL_TOKEN = "<EMAIL>"
PHONE_TOKEN = "<PHONE>"


def pii_scrub(spark, sf_dir) -> DataFrame:
    """(doc_id, n_emails, n_phones, scrubbed): redact emails then
    phone numbers, replacing each with a fixed token.  Order matters
    and is part of the contract: emails first, so a digit-bearing
    local part is not half-eaten by the phone pattern."""
    d = _docs(spark, sf_dir)
    # idx=0 = the whole match (Spark defaults to capture group 1,
    # which raises on group-free patterns; DuckDB defaults to 0)
    n_em = F.size(F.regexp_extract_all(
        "text", F.lit(PII_EMAIL_RE), F.lit(0))).cast("long")
    after_em = F.regexp_replace("text", PII_EMAIL_RE, EMAIL_TOKEN)
    n_ph = F.size(F.regexp_extract_all(
        after_em, F.lit(PII_PHONE_RE), F.lit(0))).cast("long")
    return d.select(
        "doc_id", n_em.alias("n_emails"), n_ph.alias("n_phones"),
        F.regexp_replace(after_em, PII_PHONE_RE, PHONE_TOKEN)
        .alias("scrubbed"))


PII_SCRUB_SQL = f"""
WITH e AS (
  SELECT doc_id,
         CAST(len(regexp_extract_all(text, '{PII_EMAIL_RE}'))
           AS BIGINT) AS n_emails,
         regexp_replace(text, '{PII_EMAIL_RE}', '{EMAIL_TOKEN}', 'g')
           AS after_em
  FROM documents)
SELECT doc_id, n_emails,
       CAST(len(regexp_extract_all(after_em, '{PII_PHONE_RE}'))
         AS BIGINT) AS n_phones,
       regexp_replace(after_em, '{PII_PHONE_RE}', '{PHONE_TOKEN}', 'g')
         AS scrubbed
FROM e
"""


# --- repeated-substring spans ----------------------------------------------
def repeated_spans(spark, sf_dir, k: int = SHINGLE_K) -> DataFrame:
    """(doc_id, span_start, span_end, n_windows, max_occurrences):
    maximal token spans covered by k-gram windows that occur >= 2
    times anywhere in the corpus (multiplicity counted — a gram
    repeated within one document qualifies).  ``span_start`` /
    ``span_end`` are inclusive token indices; ``n_windows`` is how
    many flagged windows merged into the span; ``max_occurrences`` the
    highest corpus-wide count among them.

    Position-aware substring dedup per Lee et al. 2021
    (arXiv:2107.06499): their suffix array finds repeats at byte
    granularity in one machine's memory; the distributable form is
    fixed-k windows — one flatMap (posexplode, no shuffle), one
    partial-aggregable groupBy on the gram hash, one equi-join back,
    and a per-document window merge.  Grams are md5-hashed before the
    groupBy so the shuffle carries 32-byte keys instead of raw k-token
    strings (identical expression on the DuckDB side, so the oracle is
    bitwise).  The merge window is partitioned by doc_id — never
    global — and a document contributes at most n_tokens rows to it.
    At 100 TB the gram-count join is the only wide stage; AQE handles
    the skew of ultra-common boilerplate grams."""
    d = _docs(spark, sf_dir).select(
        "doc_id", F.split("text", " ").alias("l"))
    grams = (d.filter(F.size("l") >= k)
             .select("doc_id", F.posexplode(F.transform(
                 F.sequence(F.lit(0), F.size("l") - k),
                 lambda i: F.md5(F.concat_ws(" ", F.slice("l", i + 1, k)))))
                 .alias("pos", "gh")))
    grams = _persist(grams)
    rep = (grams.groupBy("gh").agg(F.count("*").alias("c"))
           .filter(F.col("c") >= 2))
    flagged = grams.join(rep, "gh").select("doc_id", "pos", "c")
    w = Window.partitionBy("doc_id").orderBy("pos")
    brk = F.when(F.col("pos") - F.lag("pos").over(w) == 1,
                 F.lit(0)).otherwise(F.lit(1))
    spans = (flagged.withColumn("brk", brk)
             .withColumn("span_id", F.sum("brk").over(
                 w.rowsBetween(Window.unboundedPreceding,
                               Window.currentRow))))
    return (spans.groupBy("doc_id", "span_id").agg(
        F.min("pos").cast("long").alias("span_start"),
        (F.max("pos") + (k - 1)).cast("long").alias("span_end"),
        F.count("*").cast("long").alias("n_windows"),
        F.max("c").cast("long").alias("max_occurrences"))
        .drop("span_id"))


REPEATED_SPANS_SQL = f"""
WITH t AS (SELECT doc_id, string_split(text, ' ') AS l FROM documents),
g AS (
  SELECT doc_id, i AS pos,
         md5(array_to_string(l[i + 1:i + {SHINGLE_K}], ' ')) AS gh
  FROM (SELECT doc_id, l,
               unnest(generate_series(0, len(l) - {SHINGLE_K})) AS i
        FROM t WHERE len(l) >= {SHINGLE_K})),
rep AS (SELECT gh, COUNT(*) AS c FROM g GROUP BY gh
        HAVING COUNT(*) >= 2),
f AS (SELECT g.doc_id, g.pos, rep.c FROM g JOIN rep USING (gh)),
s AS (
  SELECT doc_id, pos, c,
         CASE WHEN pos - LAG(pos) OVER
                (PARTITION BY doc_id ORDER BY pos) = 1
              THEN 0 ELSE 1 END AS brk
  FROM f),
sp AS (
  SELECT doc_id, pos, c,
         SUM(brk) OVER (PARTITION BY doc_id ORDER BY pos
                        ROWS UNBOUNDED PRECEDING) AS span_id
  FROM s)
SELECT doc_id,
       CAST(MIN(pos) AS BIGINT) AS span_start,
       CAST(MAX(pos) + {SHINGLE_K - 1} AS BIGINT) AS span_end,
       CAST(COUNT(*) AS BIGINT) AS n_windows,
       CAST(MAX(c) AS BIGINT) AS max_occurrences
FROM sp GROUP BY doc_id, span_id
"""


QUERIES = {
    "decontaminate": (decontaminate, DECONTAMINATE_SQL),
    "doc_repetition": (doc_repetition, DOC_REPETITION_SQL),
    "lang_rebalance": (lang_rebalance, LANG_REBALANCE_SQL),
    "pii_scrub": (pii_scrub, PII_SCRUB_SQL),
    "repeated_spans": (repeated_spans, REPEATED_SPANS_SQL),
}
