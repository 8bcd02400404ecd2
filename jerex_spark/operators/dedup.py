"""Deduplication operators over the documents table.

Exact (hash groupBy), MinHash+LSH (shingle -> minhash -> band ->
bucket self-join), and n-gram Jaccard — the dedup family a 100 TB
training-data pipeline needs.  Everything is JVM-side Catalyst
expressions; the hash function is md5 (identical in Spark and DuckDB),
and MinHash signatures are *lexicographic minima of md5 hex strings*
(seeded per hash function by prefixing the hash id), which makes every
stage portable to the DuckDB oracle with zero custom code.

Scale notes: at corpus scale the shingle explode is a flatMap (no
shuffle); the signature build is one partial-aggregable groupBy; the
LSH bucket join is an equi-join on (hash_id, sig) — AQE handles bucket
skew; candidate pairs are distinct-ed before any verify stage.  This
is the standard scale path: candidates are O(near-dups), never O(n^2).
On dup-heavy corpora the LSH family collapses byte-identical texts
BEFORE shingling: signatures and verify verdicts are computed once per
distinct text and expanded relationally, so the exact-dup mass that
dominates web crawls costs linear expansion instead of quadratic
candidate work.  _lsh_rep_pairs is the single branch point that
decides collapse vs plain for every LSH operator.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

N_HASHES = 8
SHINGLE_K = 5

# Hard input-size cap for the two all-pairs EXACT baselines below
# (ngram_jaccard standalone, embdup_cosine_exact).  They exist as
# correctness anchors for the LSH-gated scale twins and are O(n^2) by
# construction: fine at oracle/bench scale, catastrophic pointed at a
# corpus.  Above the cap they raise instead of launching the job.
MAX_ALLPAIRS_ROWS = 10_000

# Long-lived sessions (notebooks, services) should release the caches
# these operators create once the query's final action has run;
# bench.py and the test session fixture call release_persisted() after
# each query so repeated invocations don't accumulate cached blocks.
from ..caching import persist_tracked as _persist
from ..caching import release_persisted  # noqa: F401  (re-export)
from .textops import _docs


# --- exact dedup: hash-groupBy ------------------------------------------
def dedup_exact(spark, sf_dir):
    d = _docs(spark, sf_dir)
    return (d.groupBy(F.md5("text").alias("text_md5"))
            .agg(F.count("*").alias("n_docs"),
                 F.min("doc_id").alias("canonical_doc_id")))


DEDUP_EXACT_SQL = """
SELECT md5(text) AS text_md5, COUNT(*) AS n_docs,
       MIN(doc_id) AS canonical_doc_id
FROM documents GROUP BY md5(text)
"""


def _shingle_array():
    """Per-doc DISTINCT shingle array from the split token list ``l``.
    Shingles are distinct *within* a document, so the former row-level
    ``.distinct()`` — a full exchange + two sort-aggregates over every
    shingle in the corpus — is exactly ``array_distinct`` applied
    per row: same (doc_id, shingle) set, zero shuffles (guide §2.4).

    The sequence endpoint is clamped at 0 so the expression is TOTAL:
    the optimizer may re-evaluate it on rows the ``size(l) >= k``
    filter later drops (InferFiltersFromGenerate duplicates the array
    into a ``size(arr) > 0`` predicate that can be ordered before the
    length gate), and an unclamped ``sequence(0, -1)`` is descending —
    its ``i = -1`` made ``slice(l, 0, k)`` raise.  Rows with
    ``size(l) < k`` never reach the output, so the clamp changes no
    result.

    One ``F.expr`` string on purpose: the composed-Column form cost a
    dozen py4j round trips per call site, and query CONSTRUCTION time
    (driver-side, inside the bench's timed region, ~0.6ms per py4j
    call) is a measured chunk of every shingle query — the parsed
    expression tree is identical."""
    return F.expr(
        f"array_distinct(transform("
        f"sequence(0, greatest(size(`l`) - {SHINGLE_K}, 0)), "
        f"i -> concat_ws(' ', slice(`l`, i + 1, {SHINGLE_K}))))")


def _split_docs(d):
    """Documents split to token lists, SPREAD by doc-id hash first.

    The shingle pipelines are compute-bound per row (split + transform
    + md5s); a compact input (one parquet split, or a selective
    semi-join output) would otherwise run that whole fused stage on
    one task.  Hashing doc_id across defaultParallelism partitions
    moves only the raw text once — strictly fewer bytes than the
    pre-round-6 plan, which shuffled the ~5x larger exploded shingle
    set through a corpus-wide distinct — and doubles as the hot-host
    skew spread (same rationale as pipeline.salted_repartition).
    Deterministic (xxhash64 of the id, guide §2.5), scale-adaptive
    (derived from the session's parallelism, not a constant)."""
    n = d.sparkSession.sparkContext.defaultParallelism
    return (d.repartition(n, F.xxhash64("doc_id"))
            .select("doc_id", F.split("text", " ").alias("l"))
            .filter(F.size("l") >= SHINGLE_K))


def _shingle_arrays(d):
    """(doc_id, sharr): the per-doc distinct shingle ARRAY — the
    un-exploded form the map-only signature build consumes."""
    return _split_docs(d).select("doc_id", _shingle_array().alias("sharr"))


def _shingles(d):
    return (_shingle_arrays(d)
            .select("doc_id", F.explode("sharr").alias("shingle")))


def _shingles_n(d):
    """(doc_id, n, shingle): exploded distinct shingles with the doc's
    distinct-shingle count riding on every row.  ``n`` comes from the
    per-doc array (``size``), so Jaccard consumers need no separate
    per-doc count aggregation + re-join (two joins removed from the
    verify stage, guide §2.4)."""
    return (_shingle_arrays(d)
            .select("doc_id", F.size("sharr").alias("n"),
                    F.explode("sharr").alias("shingle")))


# --- exact-dup collapse for the LSH family --------------------------------
# Web corpora are full of byte-identical documents (boilerplate,
# mirrors; the 10x scale probe's replicated corpus is 90% exact dups).
# Identical texts have identical shingle sets and therefore identical
# MinHash signatures, so the LSH stages only ever need ONE
# representative per distinct text: intra-group pairs all collide by
# construction, and a cross-group verdict holds for every member pair.
# Running shingle -> signature -> band join on representatives and
# expanding verdicts relationally afterwards is a pure plan
# optimization — output bitwise-identical to the per-doc oracle SQL —
# that turns k identical copies from k^2 candidate work into k rows of
# expansion.  (Same design as embdup_cosine_lsh's vector collapse.)
# Array-free on purpose: expansion is equi-joins on the text hash, so
# a pathological million-copy text never materializes a giant
# collect_list row.  _lsh_rep_pairs is the one place that chooses
# between this collapse and the plain per-doc pipeline; the group
# tables are built only once it has chosen the collapse.
def _dup_groups(d):
    """(docmap, groups): per-doc (doc_id, th=md5(text), n_toks) map and
    one representative (min doc_id) per distinct text.  Both persisted
    — the rep filter, the verdict expansion, and the intra-group pair
    build all reuse them."""
    # spread before the md5+split projection (same rationale as
    # _split_docs: a single-split scan would hash the whole corpus on
    # one task)
    n = d.sparkSession.sparkContext.defaultParallelism
    docmap = _persist(d.repartition(n, F.xxhash64("doc_id")).select(
        "doc_id", F.md5("text").alias("th"),
        F.size(F.split("text", " ")).alias("n_toks")))
    groups = _persist(docmap.groupBy("th").agg(
        F.min("doc_id").alias("doc_id"), F.count("*").alias("k")))
    return docmap, groups


# Collapse-branch thresholds: the exact-dup collapse pays a fixed tax
# (text-hash group map, rep semi-join, verdict-expansion joins, intra
# build) and earns it back quadratically on dup CLIQUES — a clique of
# k identical docs costs the PLAIN pipeline C(k,2) candidate pairs
# each verified over the full shingle set, versus k-1 expansion rows
# under the collapse.  With small cliques and little dup mass the tax
# exceeds the earnings, and both plans are output-identical to the
# per-doc oracle SQL, so the branch is a pure cost decision.  Bounds:
# plain-path extra verify work per clique is < MAX_PLAIN_CLIQUE/2
# times the collapsed cost, and total extra shingle/sig work is
# < MAX_PLAIN_DUP_FRAC of the corpus — both trivial at these caps.
MAX_PLAIN_CLIQUE = 8
MAX_PLAIN_DUP_FRAC = 0.02


def _collapse_worthwhile(d) -> bool:
    """ONE lean probe job deciding the collapse branch: group doc
    counts by a 64-bit text hash (long keys — partial-aggregable, no
    text shuffled, no cache materialization) and reduce to corpus
    size, distinct-text count, and the LARGEST exact-dup clique.
    Collapse only when a clique exceeds MAX_PLAIN_CLIQUE or the dup
    mass exceeds MAX_PLAIN_DUP_FRAC — the regimes where the plain
    per-doc pipeline's quadratic clique work bites.  Hash collisions
    merge distinct texts, which can only inflate the clique/mass
    estimates and flip toward the (always-correct) collapse path, so
    the probe is output-safe either way."""
    g = (d.groupBy(F.xxhash64("text").alias("h"))
         .agg(F.count("*").alias("k")))
    r = g.agg(F.sum("k").alias("n"), F.count("*").alias("nd"),
              F.max("k").alias("mk")).first()
    if not r.n:
        return False
    dup_frac = 1.0 - r.nd / r.n
    return (r.mk or 0) > MAX_PLAIN_CLIQUE or dup_frac > MAX_PLAIN_DUP_FRAC


def _sig_table(sharr_df):
    """(doc_id, hash_id, sig) MinHash signatures, MAP-ONLY: each of the
    N_HASHES minima is ``array_min`` over the doc's shingle array with
    the seeded md5 applied per element, then the 8 columns unpivot
    with ``stack``.  min over the per-doc multiset == min over the
    distinct set, so this is value-identical to the oracle's
    explode + GROUP BY MIN — but the plan has NO aggregation at all
    (the previous groupBy minimum over var-length strings planned as
    Sort + SortAggregate pairs around an exchange; guide §2.4: the
    work is per-document, so no shuffle is fundamentally required)."""
    def one_min(i: int):
        # one F.expr per hash id (vs ~8 py4j calls each composed):
        # construction cost, not plan shape — the tree is identical
        return F.expr(
            f"array_min(transform(`sharr`, "
            f"s -> md5(concat_ws('|', '{i}', s))))").alias(f"s{i}")

    mins = sharr_df.select("doc_id",
                           *[one_min(i) for i in range(N_HASHES)])
    stacked = ", ".join(f"{i}, s{i}" for i in range(N_HASHES))
    return mins.select(
        "doc_id",
        F.expr(f"stack({N_HASHES}, {stacked}) AS (hash_id, sig)"))


def _rep_lsh_pairs(sharr_df):
    """MinHash-LSH candidate pairs over the given (rep) shingle-array
    table — the same signature math as MINHASH_SQL."""
    # the self-join would otherwise recompute the whole
    # shingle->hash->min pipeline for each side (Spark has no
    # CSE across self-joins); signatures are tiny (n_reps x
    # N_HASHES rows), so cache them
    sig = _persist(_sig_table(sharr_df))
    a = sig.select(F.col("doc_id").alias("doc_a"), "hash_id", "sig")
    b = sig.select(F.col("doc_id").alias("doc_b"), "hash_id", "sig")
    return (a.join(b, ["hash_id", "sig"])
            .filter(F.col("doc_a") < F.col("doc_b"))
            .select("doc_a", "doc_b").distinct())


def _lsh_rep_pairs(d):
    """(reps, rep_pairs, dg): the single collapse-vs-plain branch point
    of the text LSH family.  The probe runs first, so the md5 group
    tables are built (and persisted) only on the collapse branch.

    Plain: ``reps`` is ``d`` itself, ``rep_pairs`` the per-doc LSH
    pairs — identical texts still collide in every band, so dup pairs
    are already in the set — and ``dg`` is None.  Collapse: ``reps`` is
    ``d`` semi-joined to one representative per distinct text (BEFORE
    the shingle transform, so the k-1 copies never shingle) and ``dg``
    is the (docmap, groups) pair the callers expand verdicts with."""
    if not _collapse_worthwhile(d):
        return d, _rep_lsh_pairs(_shingle_arrays(d)), None
    docmap, groups = _dup_groups(d)
    reps = d.join(groups.select("doc_id"), "doc_id", "left_semi")
    return reps, _rep_lsh_pairs(_shingle_arrays(reps)), (docmap, groups)


def _expand_rep_pairs(rep_pairs, docmap, groups, carry=()):
    """Rep-level pairs -> all member pairs, via equi-joins on the text
    hash.  Each member pair appears exactly once (groups are disjoint
    and the rep pair set is distinct), ordered with least/greatest
    because group id ranges interleave."""
    g = groups.select(F.col("doc_id").alias("rep"), "th")
    withth = (rep_pairs
              .join(g.select(F.col("rep").alias("doc_a"),
                             F.col("th").alias("th_a")), "doc_a")
              .join(g.select(F.col("rep").alias("doc_b"),
                             F.col("th").alias("th_b")), "doc_b"))
    ma = docmap.select(F.col("th").alias("th_a"), F.col("doc_id").alias("a"))
    mb = docmap.select(F.col("th").alias("th_b"), F.col("doc_id").alias("b"))
    return (withth.join(ma, "th_a").join(mb, "th_b")
            .select(F.least("a", "b").alias("doc_a"),
                    F.greatest("a", "b").alias("doc_b"), *carry))


def _intra_pairs(docmap, groups, carry=()):
    """All pairs within each exact-dup group (identical sigs collide in
    every band), restricted — like the per-doc pipeline — to texts long
    enough to shingle at all."""
    dup_ths = groups.filter(F.col("k") > 1).select("th")
    dm = (docmap.filter(F.col("n_toks") >= SHINGLE_K)
          .join(dup_ths, "th", "left_semi"))
    a = dm.select("th", F.col("doc_id").alias("doc_a"))
    b = dm.select("th", F.col("doc_id").alias("doc_b"))
    return (a.join(b, "th")
            .filter(F.col("doc_a") < F.col("doc_b"))
            .select("doc_a", "doc_b", *carry))


_SHINGLES_SQL = f"""
shingles AS (
  SELECT DISTINCT doc_id,
         array_to_string(l[i + 1:i + {SHINGLE_K}], ' ') AS shingle
  FROM (SELECT doc_id, l,
               unnest(generate_series(0, len(l) - {SHINGLE_K})) AS i
        FROM (SELECT doc_id, string_split(text, ' ') AS l FROM documents)
        WHERE len(l) >= {SHINGLE_K}))
"""


# --- MinHash + LSH candidate pairs ---------------------------------------
def minhash_lsh_pairs(spark, sf_dir):
    """Candidate near-dup pairs: rep-level shingle/MinHash/band join
    (_lsh_rep_pairs) -> on the collapse branch, relational expansion
    back to member pairs plus the intra-group pairs.  Bitwise-equal to
    the per-doc MINHASH_SQL oracle on both branches."""
    # ONE parquet read shared by every subtree of this query: each
    # spark.read.parquet call re-reads the file footer JVM-side
    # (~70ms measured) and the construction happens inside the timed
    # region — the reused plan node is identical to re-reading.
    _, rp, dg = _lsh_rep_pairs(_docs(spark, sf_dir))
    if dg is None:
        return rp
    return _expand_rep_pairs(rp, *dg).unionByName(_intra_pairs(*dg))


def lsh_pair_graph(d):
    """(doc_a, doc_b) edges with the closure of minhash_lsh_pairs over
    ``d``, for consumers that need components, not the pair list
    (operators/components.py, curation.py).  On the collapse branch a
    dup group is a clique in the expanded pair set; a star (rep -> each
    other member) has the same transitive closure with k-1 edges
    instead of C(k,2), so the edges are rep pairs + star edges — edge
    count linear, not quadratic, in duplicate mass.  Star edges carry
    the same shingle-length gate as the pair pipeline (texts too short
    to shingle never pair, so their dup groups stay singletons)."""
    _, rp, dg = _lsh_rep_pairs(d)
    if dg is None:
        return rp
    docmap, groups = dg
    star = (docmap.filter(F.col("n_toks") >= SHINGLE_K)
            .join(groups.select("th", F.col("doc_id").alias("rep")), "th")
            .filter(F.col("doc_id") != F.col("rep"))
            .select(F.col("rep").alias("doc_a"),
                    F.col("doc_id").alias("doc_b")))
    return rp.unionByName(star)


MINHASH_SQL = f"""
WITH {_SHINGLES_SQL},
sig AS (
  SELECT doc_id, h.hash_id,
         MIN(md5(CAST(h.hash_id AS VARCHAR) || '|' || shingle)) AS sig
  FROM shingles,
       (SELECT unnest(generate_series(0, {N_HASHES - 1})) AS hash_id) h
  GROUP BY doc_id, h.hash_id)
SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
FROM sig a JOIN sig b
  ON a.hash_id = b.hash_id AND a.sig = b.sig AND a.doc_id < b.doc_id
"""


# --- exact n-gram Jaccard for candidate pairs ----------------------------
def _guard_allpairs(df, what: str, scale_twin: str) -> None:
    """Refuse to launch an all-pairs exact baseline on a big input.
    The count is one extra (cheap, parquet-footer-driven) action —
    acceptable for a declared baseline whose whole point is small-scale
    ground truth."""
    n = df.count()
    if n > MAX_ALLPAIRS_ROWS:
        raise ValueError(
            f"{what} is an O(n^2) exact baseline capped at "
            f"{MAX_ALLPAIRS_ROWS} input rows (got {n}); use {scale_twin} "
            f"— the LSH-gated scale path — on corpora")


def ngram_jaccard(spark, sf_dir, shingles=None):
    # Standalone invocation (shingles=None) is the unguided all-pairs
    # baseline -> guarded.  The gated path (dedup_lsh_verified passes a
    # candidate-restricted ``_shingles_n`` table) is scale-safe and
    # skips the guard.  ``shingles``, when given, must carry the per-doc
    # distinct-shingle count ``n`` (see _shingles_n): the count rides
    # through the intersection self-join as a grouping key, so the
    # former per-doc count aggregation and its two re-joins are gone
    # and the only shuffles left are the self-join + one partial agg.
    if shingles is None:
        d = _docs(spark, sf_dir)
        _guard_allpairs(d.select("doc_id"),
                        "ngram_jaccard", "dedup_lsh_verified")
        shingles = _shingles_n(d)
    # used twice below (both join sides): cache
    sh = _persist(shingles)
    a = sh.select(F.col("doc_id").alias("doc_a"),
                  F.col("n").alias("n_a"), "shingle")
    b = sh.select(F.col("doc_id").alias("doc_b"),
                  F.col("n").alias("n_b"), "shingle")
    inter = (a.join(b, "shingle")
             .filter(F.col("doc_a") < F.col("doc_b"))
             .groupBy("doc_a", "doc_b", "n_a", "n_b")
             .agg(F.count("*").alias("inter")))
    return (inter
            .select("doc_a", "doc_b",
                    F.round(F.col("inter")
                            / (F.col("n_a") + F.col("n_b")
                               - F.col("inter")), 4).alias("jaccard"))
            .filter(F.col("jaccard") >= 0.1))


NGRAM_JACCARD_SQL = f"""
WITH {_SHINGLES_SQL},
counts AS (SELECT doc_id, COUNT(*) AS n FROM shingles GROUP BY doc_id),
inter AS (
  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, COUNT(*) AS inter
  FROM shingles a JOIN shingles b
    ON a.shingle = b.shingle AND a.doc_id < b.doc_id
  GROUP BY a.doc_id, b.doc_id)
SELECT doc_a, doc_b,
       ROUND(inter / CAST(ca.n + cb.n - inter AS DOUBLE), 4) AS jaccard
FROM inter
JOIN counts ca ON ca.doc_id = doc_a
JOIN counts cb ON cb.doc_id = doc_b
WHERE ROUND(inter / CAST(ca.n + cb.n - inter AS DOUBLE), 4) >= 0.1
"""


# --- block -> verify composition: exact Jaccard only on LSH candidates --
# This is the production near-dup shape at corpus scale: the shingle
# self-join in ngram_jaccard is O(pairs sharing any shingle) and blows
# up on common shingles; gating on MinHash candidates keeps the verify
# stage O(near-dup docs).  The gate is physical, not just logical: the
# shingle table is semi-joined to the (broadcast) candidate doc set
# BEFORE the intersection self-join, so the self-join's inputs carry
# only candidate docs — Catalyst cannot derive that restriction itself
# from a post-hoc inner join (the v1 mistake: full-corpus shingle
# self-join, then filter).  The Jaccard cut is shared with the oracle SQL.
JACCARD_VERIFY_MIN = 0.5


def dedup_lsh_verified(spark, sf_dir):
    """Verify runs at the REPRESENTATIVE level too: Jaccard is a
    function of the two shingle sets, so identical texts share every
    verdict — k copies of a page cost ONE exact-Jaccard computation,
    the verdict expands relationally, and intra-group pairs are 1.0 by
    identity.  The signature side shingles the reps once (consumed by
    one partial-aggregable groupBy); the verify side shingles only the
    LSH-candidate docs (semi-join gate BEFORE the explode, as before).
    On the plain branch of _lsh_rep_pairs the reps are the docs and the
    verdicts are returned directly."""
    reps, rp, dg = _lsh_rep_pairs(_docs(spark, sf_dir))
    # rp is REFERENCED FIVE TIMES downstream (both cand_docs legs, the
    # verdict join, and via the gated shingle table's lineage), so its
    # ~500-line subtree used to be re-canonicalized for every cache
    # lookup at planning time — a measured driver-side gap before the
    # first heavy job.  localCheckpoint truncates the lineage to the
    # materialized pair table (tiny: near-dup candidates), so every
    # downstream reference plans against a leaf.  Same durability trade
    # as components.py's closure loop — at cluster scale with executor
    # churn swap for a reliable checkpoint(), same call shape.
    rp = rp.localCheckpoint()
    cand_docs = (rp.select(F.col("doc_a").alias("doc_id"))
                 .unionByName(rp.select(F.col("doc_b").alias("doc_id")))
                 .distinct())
    # gate the DOCUMENTS, then re-shingle only the gated set: the
    # signature side consumes its shingles exactly once (inside the one
    # partial-aggregable groupBy of _sig_table), so persisting a full
    # rep-shingle table bought nothing — the verify side's shingle
    # build now runs over candidate docs only, which is the same
    # physical gate as before (semi-join precedes the explode).
    # No broadcast hint: AQE converts the semi-join to broadcast at
    # runtime when the candidate set is small (the common case) but
    # degrades to a shuffle join gracefully when a corpus is dup-heavy.
    gated_docs = reps.join(cand_docs, "doc_id", "left_semi")
    jac = ngram_jaccard(spark, sf_dir, shingles=_shingles_n(gated_docs))
    rep_ver = (rp.join(jac, ["doc_a", "doc_b"])
               .filter(F.col("jaccard") >= JACCARD_VERIFY_MIN))
    if dg is None:
        return rep_ver.select("doc_a", "doc_b", "jaccard")
    cross = _expand_rep_pairs(rep_ver, *dg, carry=("jaccard",))
    # identical shingle sets: jaccard is exactly 1.0 (>= any threshold
    # in (0,1]; the oracle's ROUND(1.0, 4) is the same double)
    intra = _intra_pairs(*dg, carry=(F.lit(1.0).alias("jaccard"),))
    return cross.unionByName(intra)


DEDUP_VERIFIED_SQL = f"""
WITH {_SHINGLES_SQL},
sig AS (
  SELECT doc_id, h.hash_id,
         MIN(md5(CAST(h.hash_id AS VARCHAR) || '|' || shingle)) AS sig
  FROM shingles,
       (SELECT unnest(generate_series(0, {N_HASHES - 1})) AS hash_id) h
  GROUP BY doc_id, h.hash_id),
cand AS (
  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
  FROM sig a JOIN sig b
    ON a.hash_id = b.hash_id AND a.sig = b.sig AND a.doc_id < b.doc_id),
counts AS (SELECT doc_id, COUNT(*) AS n FROM shingles GROUP BY doc_id),
inter AS (
  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, COUNT(*) AS inter
  FROM shingles a JOIN shingles b
    ON a.shingle = b.shingle AND a.doc_id < b.doc_id
  GROUP BY a.doc_id, b.doc_id)
SELECT c.doc_a, c.doc_b,
       ROUND(inter / CAST(ca.n + cb.n - inter AS DOUBLE), 4) AS jaccard
FROM cand c
JOIN inter i ON i.doc_a = c.doc_a AND i.doc_b = c.doc_b
JOIN counts ca ON ca.doc_id = c.doc_a
JOIN counts cb ON cb.doc_id = c.doc_b
WHERE ROUND(inter / CAST(ca.n + cb.n - inter AS DOUBLE), 4)
      >= {JACCARD_VERIFY_MIN}
"""


# --- embedding-cosine near-dup ------------------------------------------
# the synthetic embeddings are near-uniform (max pairwise cosine ~0.51
# at sf0.01); 0.45 keeps ~the top 0.01% of pairs as "near-dups"
COS_DUP_THRESHOLD = 0.45


def embdup_cosine_exact(spark, sf_dir, threshold: float = COS_DUP_THRESHOLD):
    """Embedding-cosine near-duplicate pairs, exact O(n^2) baseline
    (correctness anchor for the LSH-gated variant below; JVM-side
    zip_with/aggregate dot products, broadcast one side at this scale).
    Guarded: raises above MAX_ALLPAIRS_ROWS vectors — use
    embdup_cosine_lsh on corpora."""
    from .similarity import _DOT, _emb, _with_norm
    e = _with_norm(_emb(spark, sf_dir))
    _guard_allpairs(e.select("vec_id"), "embdup_cosine_exact",
                    "embdup_cosine_lsh")
    a = e.select(F.col("vec_id").alias("id_a"), F.col("vec").alias("va"),
                 F.col("norm").alias("na"))
    b = e.select(F.col("vec_id").alias("id_b"), F.col("vec").alias("vb"),
                 F.col("norm").alias("nb"))
    cos = F.expr(_DOT.format(a="va", b="vb")) / (F.col("na") * F.col("nb"))
    return (a.crossJoin(b)
            .filter(F.col("id_a") < F.col("id_b"))
            .select("id_a", "id_b", F.round(cos, 6).alias("cos6"))
            .filter(F.col("cos6") >= threshold)
            .select("id_a", "id_b", F.round("cos6", 4).alias("cos")))


EMBDUP_EXACT_SQL = f"""
WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS vec FROM embeddings),
n AS (SELECT vec_id, vec, sqrt(list_dot_product(vec, vec)) AS norm
      FROM e),
p AS (
  SELECT a.vec_id AS id_a, b.vec_id AS id_b,
         ROUND(list_dot_product(a.vec, b.vec) / (a.norm * b.norm), 6)
           AS cos6
  FROM n a JOIN n b ON a.vec_id < b.vec_id)
SELECT id_a, id_b, ROUND(cos6, 4) AS cos
FROM p WHERE cos6 >= {COS_DUP_THRESHOLD}
"""


# near-dup pairs (cos >= threshold) are CLOSER than generic top-k
# neighbors, so fewer bands reach full recall than lsh_topk needs:
# measured recall vs the exact baseline is 1.0 at 16 x 4 on the
# synthetic corpus — the small-n floor for the auto schedule (which,
# at COS_DUP_THRESHOLD and the default target bucket size, also
# *derives* 16 x 4 at n=500)
EMBDUP_N_BANDS = 16

# Bucket rows per side of one scored block: a scoring task holds one
# Arrow batch, its current bucket's vectors and one COS_TILE_ROWS^2
# block of doubles (2 MB), however large a bucket grows.
COS_TILE_ROWS = 512


def _bucket_cosines(ids, X, norms, cut: float, tile: int) -> list:
    """[(id_a, id_b, cos) arrays] for the pairs of ONE (band, bucket)
    whose cosine is >= ``cut``; ``ids`` ascend, so id_a < id_b.

    Bitwise contract: each dot product is similarity._DOT's strict left
    fold — acc starts at 0.0 and adds x[k] * y[k] for k = 0..dim-1 —
    run as dim rank-1 updates of a tile x tile block, then divided by
    the product of the Spark-computed norms.  Every cosine is therefore
    the Catalyst per-pair form's, bit for bit; rounding stays in Spark
    (numpy rounds half-to-even, Spark's ROUND is HALF_UP).  A zero-norm
    vector has no cosine with its bucket-mates: raise, as the Catalyst
    division does under ANSI, instead of emitting NaNs."""
    m = len(ids)
    if m < 2:
        return []
    zero = np.flatnonzero(norms == 0.0)
    if len(zero):
        raise ZeroDivisionError(
            f"embdup_cosine_lsh: vec_id {ids[zero[0]]} has norm 0, so its "
            f"cosine with the {m - 1} other vectors of its LSH bucket is "
            f"undefined")
    XT = np.ascontiguousarray(X.T)                     # (dim, m)
    out = []
    for i0 in range(0, m, tile):
        for j0 in range(i0, m, tile):
            A, B = XT[:, i0:i0 + tile], XT[:, j0:j0 + tile]
            acc = np.zeros((A.shape[1], B.shape[1]))
            for a, b in zip(A, B):
                acc += np.multiply.outer(a, b)
            cos = acc / np.multiply.outer(norms[i0:i0 + tile],
                                          norms[j0:j0 + tile])
            keep = ~(cos < cut)    # keeps NaN: Spark orders it above all
            if i0 == j0:
                keep = np.triu(keep, 1)
            ii, jj = np.nonzero(keep)
            out.append((ids[i0 + ii], ids[j0 + jj], cos[ii, jj]))
    return out


def _score_buckets(batches, cut: float, tile: int):
    """mapInPandas body over one partition of band rows sorted by
    (band, bucket, vec_id).  Rows are held until the (band, bucket) key
    changes, so a bucket split across Arrow batches is scored whole;
    at most one output frame per input batch."""
    held, key = [], None

    def frame(out):
        a, b, c = (np.concatenate(x) for x in zip(*out))
        return pd.DataFrame({"id_a": a, "id_b": b, "cos": c})

    def score():
        ids, X, norms = (np.concatenate(x) for x in zip(*held))
        return _bucket_cosines(ids, X, norms, cut, tile)

    for pdf in batches:
        if pdf.empty:
            continue
        band, bucket = pdf["band"].to_numpy(), pdf["bucket"].to_numpy()
        ids, norms = pdf["vec_id"].to_numpy(), pdf["norm"].to_numpy()
        X = np.stack(pdf["vec"].to_numpy())
        cuts = np.flatnonzero((band[1:] != band[:-1])
                              | (bucket[1:] != bucket[:-1])) + 1
        out = []
        for s, e in zip(np.r_[0, cuts], np.r_[cuts, len(pdf)]):
            if (band[s], bucket[s]) != key:
                if held:
                    out += score()
                held, key = [], (band[s], bucket[s])
            held.append((ids[s:e], X[s:e], norms[s:e]))
        if out:
            yield frame(out)
    if held and (out := score()):
        yield frame(out)


def embdup_cosine_lsh(spark, sf_dir, threshold: float = COS_DUP_THRESHOLD):
    """Embedding-cosine near-dup, scale path: sign-LSH band blocking
    (shared with similarity.lsh_topk) -> exact cosines of every pair
    inside each bucket, one numpy kernel call per partition -> pair
    dedup.  Candidates are O(bucket collisions), never O(n^2);
    high-cosine pairs collide in some band with high probability
    (recall vs the exact baseline pinned >= 0.9 in
    tests/test_similarity.py).  Approximate by construction but
    deterministic at a fixed corpus -> oracle-checked against frozen
    golden rows (scripts/golden_ann.py).

    (n_bands, band_bits) come from similarity.lsh_schedule: bits grow
    with the corpus so bucket sizes stay ~constant, bands grow so pairs
    at ``threshold`` keep >= DESIGN_RECALL collision probability — no
    manual dial at any corpus size.

    Stage order (each step load-bearing at corpus scale):

    1. EXACT-DUP COLLAPSE — group identical vectors (web corpora are
       full of byte-identical embeddings; the 10x probe's replicated
       corpus is 90% exact dups).  LSH then runs on distinct
       representatives only; intra-group pairs are emitted directly
       (their cosine is the self-cosine — recall 1.0 by construction)
       and cross-group verdicts expand to all member pairs.  Without
       this, k copies of one vector cost k^2 candidate work for pairs
       whose answer is known.
    2. Band rows keep their vector and norm and are shuffled ONCE, on
       (band, bucket), then sorted by (band, bucket, vec_id) within each
       partition.  One mapInPandas call per partition streams the
       sorted rows and scores each bucket's pairs as numpy blocks
       (_bucket_cosines: bitwise the Catalyst fold), emitting only
       pairs with cos >= threshold - 1e-6.  No candidate-pair row is
       ever materialized, and no dot product runs interpreted (Catalyst
       evaluates the zip_with/aggregate fold without codegen).
    3. Spark rounds (HALF_UP), applies the threshold and drops the
       repeats of a pair that shares buckets in several bands (it is
       scored once per shared band).  Only pairs at the threshold or
       above leave the kernel, so this distinct sees about as many rows
       as the output, not the candidate pairs."""
    from ..caching import persist_tracked
    from .similarity import (_DOT, _band_buckets, _emb, _with_norm,
                             lsh_schedule)
    e = persist_tracked(_with_norm(_emb(spark, sf_dir)))
    # Dup probe BEFORE the collapse: count vs distinct-hash count in
    # ONE tiny agg (the job also materializes the persisted vector
    # table).  Dup-free corpora (every vector distinct) then skip the
    # whole collapse machinery — the groupBy over full 64-dim vector
    # keys AND the member-pair expansion joins are 1:1 identities in
    # that case — the same adaptive branch as the text family's
    # _collapse_worthwhile.  A hash collision can only under-count
    # distincts,
    # flipping the branch to the (always-correct) collapse path, so
    # the probe is output-safe.
    probe = e.agg(F.count("*").alias("n"),
                  F.count_distinct(F.xxhash64("vec")).alias("nd")).first()
    dup_free = probe.n == probe.nd
    if dup_free:
        n_reps = probe.n
        reps = e.select("vec_id", "vec", "norm")
        groups = None
    else:
        groups = persist_tracked(
            e.groupBy("vec").agg(
                F.min("vec_id").alias("vec_id"),
                F.first("norm").alias("norm"),
                F.sort_array(F.collect_list("vec_id")).alias("members"),
                F.count("*").alias("k")))
        # the count also materializes the persisted table we join below
        n_reps = groups.count()
        reps = groups.select("vec_id", "vec", "norm")
    n_bands, band_bits = lsh_schedule(n_reps, design_cos=threshold,
                                      min_bands=EMBDUP_N_BANDS)
    # the band-bucket build is spread by vec_id first: its input is the
    # cached vector table, whose partitioning follows the (possibly
    # single-split) scan, and the bucketing matmul + posexplode are
    # per-row compute that would otherwise run on that one task (same
    # rationale as _split_docs; measured one 0.29s single-task stage at
    # sf0.1).  The (band, bucket) exchange has an explicit partition
    # count, so AQE keeps the scoring on all cores instead of
    # coalescing its few-MB input to one or two tasks.
    n_par = spark.sparkContext.defaultParallelism
    # the kernel's cut sits below every raw cosine that HALF_UP
    # rounds to >= threshold at 6 digits; Spark applies the real test
    cut, tile = threshold - 1e-6, COS_TILE_ROWS

    def score_buckets(batches):
        return _score_buckets(batches, cut, tile)

    rep_pairs = (_band_buckets(reps.repartition(n_par, "vec_id"),
                               n_bands=n_bands, band_bits=band_bits)
                 .repartition(n_par, "band", "bucket")
                 .sortWithinPartitions("band", "bucket", "vec_id")
                 .mapInPandas(score_buckets,
                              "id_a long, id_b long, cos double")
                 .select("id_a", "id_b", F.round("cos", 6).alias("cos6"))
                 .filter(F.col("cos6") >= threshold)
                 .distinct())
    if dup_free:
        return rep_pairs.select("id_a", "id_b",
                                F.round("cos6", 4).alias("cos"))
    # expand cross-group rep verdicts to all member pairs (identical
    # vectors => identical cosine)
    ga = groups.select(F.col("vec_id").alias("id_a"),
                       F.col("members").alias("ma"))
    gb = groups.select(F.col("vec_id").alias("id_b"),
                       F.col("members").alias("mb"))
    cross = (rep_pairs.join(ga, "id_a").join(gb, "id_b")
             .select(F.explode("ma").alias("a"), "mb", "cos6")
             .select("a", F.explode("mb").alias("b"), "cos6")
             .select(F.least("a", "b").alias("id_a"),
                     F.greatest("a", "b").alias("id_b"), "cos6"))
    # intra-group pairs: numerically-computed self-cosine (== what the
    # uncollapsed algorithm would compute for two identical vectors)
    selfcos = F.round(
        F.expr(_DOT.format(a="vec", b="vec"))
        / (F.col("norm") * F.col("norm")), 6)
    intra = (groups.filter(F.col("k") > 1)
             .select(F.explode("members").alias("a"), "members",
                     selfcos.alias("cos6"))
             .select("a", F.explode("members").alias("b"), "cos6")
             .filter(F.col("a") < F.col("b"))
             .select(F.col("a").alias("id_a"),
                     F.col("b").alias("id_b"), "cos6"))
    return (cross.unionByName(intra)
            .filter(F.col("cos6") >= threshold)
            .select("id_a", "id_b", F.round("cos6", 4).alias("cos")))


from .golden import golden_emb_sql as _golden_emb_sql

QUERIES = {
    "dedup_exact": (dedup_exact, DEDUP_EXACT_SQL),
    "minhash_lsh_pairs": (minhash_lsh_pairs, MINHASH_SQL),
    "ngram_jaccard": (ngram_jaccard, NGRAM_JACCARD_SQL),
    "dedup_lsh_verified": (dedup_lsh_verified, DEDUP_VERIFIED_SQL),
    "embdup_cosine_exact": (embdup_cosine_exact, EMBDUP_EXACT_SQL),
    # approximate by construction but deterministic at a fixed corpus:
    # oracle = frozen golden rows from the independent numpy
    # implementation (scripts/golden_ann.py)
    "embdup_cosine_lsh": (embdup_cosine_lsh,
                          _golden_emb_sql("embdup", ["id_a", "id_b",
                                                     "cos"])),
}
