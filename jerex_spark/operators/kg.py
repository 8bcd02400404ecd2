"""KG-construction queries (the flagship pipeline surface).

The extract stage embeds the frozen scorer inside a ``mapInPandas``
black box, so no closed-form SQL can reproduce it.  The DuckDB oracle
for these queries is instead the *golden tables* materialized by
scripts/make_golden.py from the plain-Python reference executor — an
independent implementation of the same semantics (ref
jerex/models/joint_models.py:202-244, jerex/evaluation/conversion.py:
20-98) — selected by a corpus content signature so the right rows
match whatever sf dir the harness runs at.  Projections here carry
identity/discrete columns only; continuous scores differ between
batched and per-doc BLAS in the last ulps and stay gated by
tests/test_parity.py::test_scores_match (1e-4) instead.
"""

from __future__ import annotations

from pyspark.sql import functions as F

from ..caching import persist_tracked as _persist
from ..config import DEFAULT, GLOBAL
from ..pipeline import build_graph, flagship_triples, kg_tables, \
    load_documents
# corpus-signature expression + SQL builder live in golden.py, shared
# with scripts/make_golden.py so the freeze side and the check side
# can never drift apart
from .golden import DOC_SIG_EXPR, GOLDEN_GLOB
from .golden import golden_doc_sql as _golden_sql


def _triples_identity(t):
    """Identity-key projection of the flat triples table (drop the
    fp score column; see module docstring)."""
    return t.select(
        "doc_key",
        F.col("head_idx").cast("long").alias("head_idx"),
        F.col("tail_idx").cast("long").alias("tail_idx"),
        "rel_type", "head_type", "tail_type", "head_key", "tail_key")


def kg_triples(spark, sf_dir):
    return _triples_identity(flagship_triples(spark, sf_dir, DEFAULT))


def kg_triples_global(spark, sf_dir):
    """F6/F9 'joint_global' model variant (ref jerex/models/__init__.py:
    9-20, joint_models.py:246-318) — same pipeline, global relation
    head instead of multi-instance."""
    return _triples_identity(flagship_triples(spark, sf_dir, GLOBAL))


def kg_mentions(spark, sf_dir):
    graph = build_graph(load_documents(spark, sf_dir), DEFAULT)
    m = kg_tables(graph)["mentions"]
    return m.select(
        "doc_key",
        *[F.col(c).cast("long").alias(c)
          for c in ("mention_idx", "sent_idx", "start", "end",
                    "sub_start", "sub_end")],
        "phrase")


def kg_entities(spark, sf_dir):
    graph = build_graph(load_documents(spark, sf_dir), DEFAULT)
    e = kg_tables(graph)["entities"]
    return e.select(
        "doc_key",
        F.col("entity_idx").cast("long").alias("entity_idx"),
        "type",
        F.size("mention_idxs").cast("long").alias("n_mentions"),
        # canonical identity key: sorted mention span set
        # (ref jerex/evaluation/conversion.py:4-10)
        F.concat_ws("|", F.transform(
            "spans", lambda s: F.concat_ws(":", s.start, s.end)))
        .alias("identity_key"))


def kg_doc_stats(spark, sf_dir):
    """Per-doc pipeline statistics (mentions/entities/triples emitted,
    cap-truncation flags — SURVEY.md §7.3 item 4: never silent)."""
    graph = build_graph(load_documents(spark, sf_dir), DEFAULT)
    return graph.select(
        "doc_key",
        F.col("n_tokens").cast("long").alias("n_tokens"),
        F.col("n_spans").cast("long").alias("n_spans"),
        F.size("mentions").cast("long").alias("n_mentions"),
        F.size("entities").cast("long").alias("n_entities"),
        F.size("triples").cast("long").alias("n_triples"),
        F.col("truncated.spans").alias("spans_capped"),
        F.col("truncated.mentions").alias("mentions_capped"),
        F.col("truncated.pairs").alias("pairs_capped"))


def kg_token_stats(spark, sf_dir):
    """Token/span counts from INSIDE the extract UDF — oracle-checked
    against the SQL closed form, so the mapInPandas tokenization path
    itself is cross-engine verified (the driver's only view into the
    UDF black box)."""
    graph = build_graph(load_documents(spark, sf_dir), DEFAULT)
    return graph.select("doc_key",
                        F.col("n_tokens").cast("long").alias("n_tokens"),
                        F.col("n_spans").cast("long").alias("n_spans"))


# SENTENCE-AWARE closed form for the span count: the tokenizer splits
# sentences at whitespace preceded by [.!?] (tokenization.py
# split_sentences), so token-level a sentence break occurs after every
# token ending in [.!?]; per-sentence span count is the size-1..S
# closed form, summed per doc and capped at max_spans_per_doc.  DuckDB
# has no lookbehind regex, so sentence ids come from a running sum of
# end-of-sentence flags instead of a regex split.  On a corpus without
# punctuation this degenerates to the whole-doc formula; on a
# multi-sentence corpus it cross-checks P1's intra-sentence restriction
# (ref sampling_common.py:85-96) against the mapInPandas tokenizer —
# exercised in tests/test_oracle_sentences.py.
KG_TOKEN_STATS_SQL = f"""
WITH tok AS (
  SELECT doc_key, generate_subscripts(l, 1) AS i, unnest(l) AS t
  FROM (SELECT source || '/' || doc_id AS doc_key,
               list_filter(string_split_regex(text, '\\s+'),
                           x -> x <> '') AS l
        FROM documents)),
s AS (
  SELECT doc_key, i,
         COALESCE(SUM(CASE WHEN regexp_matches(t, '[.!?]$')
                           THEN 1 ELSE 0 END)
                  OVER (PARTITION BY doc_key ORDER BY i
                        ROWS BETWEEN UNBOUNDED PRECEDING
                        AND 1 PRECEDING), 0) AS sent_id
  FROM tok),
slen AS (
  SELECT doc_key, sent_id, COUNT(*) AS n
  FROM s GROUP BY doc_key, sent_id),
agg AS (
  SELECT doc_key, SUM(n) AS n_tokens,
         SUM(least({DEFAULT.max_span_size}, n) * (n + 1)
             - least({DEFAULT.max_span_size}, n)
               * (least({DEFAULT.max_span_size}, n) + 1) // 2) AS raw
  FROM slen GROUP BY doc_key)
SELECT d.doc_key, CAST(COALESCE(agg.n_tokens, 0) AS BIGINT) AS n_tokens,
       -- COALESCE inside: DuckDB's least() IGNORES nulls, so
       -- least(NULL, cap) would be cap, not NULL
       CAST(least(COALESCE(agg.raw, 0), {DEFAULT.max_spans_per_doc})
            AS BIGINT) AS n_spans
FROM (SELECT source || '/' || doc_id AS doc_key FROM documents) d
LEFT JOIN agg ON agg.doc_key = d.doc_key
"""
# ^ LEFT JOIN back to documents: an empty/whitespace-only doc yields no
#   tok rows, but the mapInPandas side still emits its (0, 0) row.


# --- graph analytics over the constructed KG -------------------------------
# The north rule's "graph materialize" output must be QUERYABLE, not
# just written: these queries consume the emitted triple table itself.
# The Spark side derives from the live flagship extract; the DuckDB
# oracle runs the SAME derivation over the frozen golden triples
# (bitwise-equal tables per the kg_triples oracle), so any exact-
# integer graph statistic must agree.  All three are per-document
# graphs keyed by (doc_key, entity_idx): every join/agg is an
# equi-join / partial-aggregable groupBy on that key, never a global
# window, so at 100 TB a document's subgraph stays on one partition's
# worth of rows and the stages scale with the triple count.
#
# The triple/edge table is PERSISTED before any fan-out: a union or
# self-join duplicates its whole subtree — including the mapInPandas
# extract, the single most expensive stage — once per branch (Spark
# has no cross-branch CSE; measured 26.6s -> extract-once after the
# persist for kg_entity_degree at sf0.1).  In a production pipeline
# these queries would read the materialized triple table, where the
# persist is the scan cache.


def _golden_triples_derived(derivation: str, with_keys: bool = False) -> str:
    """DuckDB oracle fragment: signature-selected golden triples as CTE
    ``tr``, followed by ``derivation`` (a SELECT over ``tr``).  With
    ``with_keys`` the CTE also carries head_key/tail_key (entity
    identity strings) for derivations that serialize entities."""
    keys = ", g.head_key, g.tail_key" if with_keys else ""
    return f"""
WITH sig AS (SELECT {DOC_SIG_EXPR} AS s FROM documents),
tr AS (
  SELECT g.doc_key, g.head_idx, g.tail_idx, g.rel_type,
         g.head_type, g.tail_type{keys}
  FROM read_parquet('{GOLDEN_GLOB}/*/golden_triples.parquet') g
  JOIN sig ON g.corpus_sig = sig.s)
{derivation}
"""


def _undirected(t):
    """(doc_key, e, nbr, is_out) — each triple contributes one out-edge
    row for its head and one in-edge row for its tail."""
    out_ = t.select("doc_key", F.col("head_idx").alias("e"),
                    F.col("tail_idx").alias("nbr"),
                    F.lit(1).alias("is_out"))
    in_ = t.select("doc_key", F.col("tail_idx").alias("e"),
                   F.col("head_idx").alias("nbr"),
                   F.lit(0).alias("is_out"))
    return out_.unionByName(in_)


def _edge_set(t):
    """(doc_key, e, nbr): the distinct, self-loop-free undirected edge
    set the iterative graph kernels start from, ``localCheckpoint``-ed
    so each round's plan references it instead of the extract."""
    nz = t.filter(F.col("head_idx") != F.col("tail_idx"))
    return (_undirected(nz).select("doc_key", "e", "nbr").distinct()
            .localCheckpoint())


def kg_entity_degree(spark, sf_dir):
    """(doc_key, entity_idx, n_out, n_in, out_neighbors, in_neighbors,
    degree) for every entity that participates in >= 1 emitted triple:
    triple counts by direction plus distinct-neighbor counts (degree =
    distinct undirected neighbors).  One groupBy on (doc_key, entity)."""
    u = _undirected(_persist(_triples_identity(
        flagship_triples(spark, sf_dir, DEFAULT))))
    return u.groupBy("doc_key", F.col("e").alias("entity_idx")).agg(
        F.sum("is_out").cast("long").alias("n_out"),
        F.sum(1 - F.col("is_out")).cast("long").alias("n_in"),
        F.count_distinct(F.when(F.col("is_out") == 1, F.col("nbr")))
        .cast("long").alias("out_neighbors"),
        F.count_distinct(F.when(F.col("is_out") == 0, F.col("nbr")))
        .cast("long").alias("in_neighbors"),
        F.count_distinct("nbr").cast("long").alias("degree"))


KG_ENTITY_DEGREE_SQL = _golden_triples_derived("""
, u AS (
  SELECT doc_key, head_idx AS e, tail_idx AS nbr, 1 AS is_out FROM tr
  UNION ALL
  SELECT doc_key, tail_idx AS e, head_idx AS nbr, 0 AS is_out FROM tr)
SELECT doc_key, CAST(e AS BIGINT) AS entity_idx,
       CAST(SUM(is_out) AS BIGINT) AS n_out,
       CAST(SUM(1 - is_out) AS BIGINT) AS n_in,
       CAST(COUNT(DISTINCT CASE WHEN is_out = 1 THEN nbr END)
            AS BIGINT) AS out_neighbors,
       CAST(COUNT(DISTINCT CASE WHEN is_out = 0 THEN nbr END)
            AS BIGINT) AS in_neighbors,
       CAST(COUNT(DISTINCT nbr) AS BIGINT) AS degree
FROM u GROUP BY doc_key, e
""")


def kg_twohop(spark, sf_dir):
    """(doc_key, entity_idx, n_1hop, n_2hop): distinct entities within
    1 and within <= 2 undirected hops (self excluded) in each
    document's triple graph — the neighborhood-expansion primitive of
    KG queries.  One self-join of the distinct undirected edge set on
    (doc_key, hop node); per-document graphs bound the fan-out."""
    t = _persist(_triples_identity(
        flagship_triples(spark, sf_dir, DEFAULT)))
    one = _persist(
        _undirected(t).select("doc_key", "e", "nbr").distinct())
    two = (one.alias("a")
           .join(one.alias("b"),
                 [F.col("a.doc_key") == F.col("b.doc_key"),
                  F.col("a.nbr") == F.col("b.e")])
           .select(F.col("a.doc_key").alias("doc_key"),
                   F.col("a.e").alias("e"),
                   F.col("b.nbr").alias("nbr")))
    reach = (one.unionByName(two)
             .filter(F.col("nbr") != F.col("e")).distinct())
    return (one.groupBy("doc_key", "e")
            .agg(F.count_distinct("nbr").cast("long").alias("n_1hop"))
            .join(reach.groupBy("doc_key", "e")
                  .agg(F.count("*").cast("long").alias("n_2hop")),
                  ["doc_key", "e"])
            .select("doc_key", F.col("e").cast("long").alias("entity_idx"),
                    "n_1hop", "n_2hop"))


KG_TWOHOP_SQL = _golden_triples_derived("""
, one AS (
  SELECT DISTINCT doc_key, e, nbr FROM (
    SELECT doc_key, head_idx AS e, tail_idx AS nbr FROM tr
    UNION ALL
    SELECT doc_key, tail_idx AS e, head_idx AS nbr FROM tr)),
two AS (
  SELECT a.doc_key, a.e, b.nbr
  FROM one a JOIN one b ON a.doc_key = b.doc_key AND a.nbr = b.e),
reach AS (
  SELECT DISTINCT doc_key, e, nbr
  FROM (SELECT * FROM one UNION ALL SELECT * FROM two)
  WHERE nbr <> e)
SELECT o.doc_key, CAST(o.e AS BIGINT) AS entity_idx,
       CAST(o.n_1hop AS BIGINT) AS n_1hop,
       CAST(r.n_2hop AS BIGINT) AS n_2hop
FROM (SELECT doc_key, e, COUNT(DISTINCT nbr) AS n_1hop
      FROM one GROUP BY doc_key, e) o
JOIN (SELECT doc_key, e, COUNT(*) AS n_2hop
      FROM reach GROUP BY doc_key, e) r
  ON o.doc_key = r.doc_key AND o.e = r.e
""")


def kg_rel_profile(spark, sf_dir):
    """(rel_type, head_type, tail_type, n_triples, n_docs): the schema
    profile of the constructed KG — which (subject-type, predicate,
    object-type) signatures the extractor actually emits and how widely
    (distinct supporting documents).  Low-cardinality partial agg."""
    t = _triples_identity(flagship_triples(spark, sf_dir, DEFAULT))
    return t.groupBy("rel_type", "head_type", "tail_type").agg(
        F.count("*").cast("long").alias("n_triples"),
        F.count_distinct("doc_key").cast("long").alias("n_docs"))


KG_REL_PROFILE_SQL = _golden_triples_derived("""
SELECT rel_type, head_type, tail_type,
       CAST(COUNT(*) AS BIGINT) AS n_triples,
       CAST(COUNT(DISTINCT doc_key) AS BIGINT) AS n_docs
FROM tr GROUP BY rel_type, head_type, tail_type
""")


def _triangles_from(t):
    """Per-entity triangle counts from a triple-identity DataFrame
    (factored out of :func:`kg_triangles` so tests can feed crafted
    graphs)."""
    ed = _persist(
        t.filter(F.col("head_idx") != F.col("tail_idx"))
        .select("doc_key",
                F.least("head_idx", "tail_idx").alias("a"),
                F.greatest("head_idx", "tail_idx").alias("b"))
        .distinct())
    # the a<b orientation makes every triangle {a<b<c} match exactly
    # once: e1=(a,b), e2=(b,c), closing edge e3=(a,c)
    tri = _persist(
        ed.alias("e1")
        .join(ed.alias("e2"),
              [F.col("e1.doc_key") == F.col("e2.doc_key"),
               F.col("e1.b") == F.col("e2.a")])
        .join(ed.alias("e3"),
              [F.col("e2.doc_key") == F.col("e3.doc_key"),
               F.col("e1.a") == F.col("e3.a"),
               F.col("e2.b") == F.col("e3.b")])
        .select(F.col("e1.doc_key").alias("doc_key"),
                F.col("e1.a").alias("a"), F.col("e1.b").alias("b"),
                F.col("e2.b").alias("c")))
    corners = (tri.select("doc_key", F.col("a").alias("e"))
               .unionByName(tri.select("doc_key", F.col("b").alias("e")))
               .unionByName(tri.select("doc_key", F.col("c").alias("e"))))
    return (corners
            .groupBy("doc_key", F.col("e").cast("long").alias("entity_idx"))
            .agg(F.count("*").cast("long").alias("n_triangles")))


def kg_triangles(spark, sf_dir):
    """(doc_key, entity_idx, n_triangles): triangles each entity
    participates in within its document's undirected entity graph —
    the local-clustering primitive of KG quality analysis.  Distinct
    a<b edges, two-path join + closing-edge join, all keyed
    (doc_key, node): per-document graphs bound the fan-out, and the
    a<b vertex orientation is the standard trick that keeps the
    two-path join's per-node work proportional to oriented out-degree
    at web scale.  Exact-integer output; the oracle runs the same
    derivation over the frozen golden triples."""
    return _triangles_from(_persist(_triples_identity(
        flagship_triples(spark, sf_dir, DEFAULT))))


KG_TRIANGLES_SQL = _golden_triples_derived("""
, ed AS (
  SELECT DISTINCT doc_key,
         LEAST(head_idx, tail_idx) AS a,
         GREATEST(head_idx, tail_idx) AS b
  FROM tr WHERE head_idx <> tail_idx),
tri AS (
  SELECT e1.doc_key, e1.a, e1.b, e2.b AS c
  FROM ed e1
  JOIN ed e2 ON e1.doc_key = e2.doc_key AND e1.b = e2.a
  JOIN ed e3 ON e2.doc_key = e3.doc_key AND e1.a = e3.a
            AND e2.b = e3.b),
corners AS (
  SELECT doc_key, a AS e FROM tri
  UNION ALL SELECT doc_key, b AS e FROM tri
  UNION ALL SELECT doc_key, c AS e FROM tri)
SELECT doc_key, CAST(e AS BIGINT) AS entity_idx,
       CAST(COUNT(*) AS BIGINT) AS n_triangles
FROM corners GROUP BY doc_key, e
""")


# PageRank operating point: damping d = PR_DAMP_NUM/PR_DAMP_DEN,
# PR_ITERS synchronous iterations, ranks carried as parts-per-billion
# LONGs (PR_SCALE).  Integer fixed-point BY DESIGN: double-valued
# PageRank is not reproducible across engines or even across Spark
# summation orders (fp addition doesn't commute), and any decimal
# rounding of it sits one ulp from a flipped digit for the
# terminating-decimal trajectories small documents actually produce
# (a one-triple doc's exact rank lands ON a 6-decimal .5 boundary).
# With floor-divide-before-sum long arithmetic every engine — Spark
# at any parallelism, DuckDB, a driver-side reference — computes the
# IDENTICAL integers, so the oracle is plain SQL and the result is
# bitwise-stable under repartitioning: determinism a 1000-executor
# run keeps for free.  Truncation bias is <= ~(in_degree + 2) ppb per
# node per iteration — irrelevant at ranking granularity.
PR_DAMP_NUM, PR_DAMP_DEN = 17, 20     # d = 0.85
PR_ITERS = 5
PR_SCALE = 10 ** 9

# one iteration step, shared by the Spark plan and the DuckDB oracle
# up to the integral-divide spelling ({d}: Spark `DIV`, DuckDB `//` —
# identical on the nonnegative operands here):
# new_rank = (1-d)*S/n + d*(contrib + dangling/n), all floor
_PR_STEP_T = ("({bs} {d} ({dd} * n)) "
              "+ ({dn} * ({c} + {dang} {d} n)) {d} {dd}")


def _pr_step(divop: str, c: str = "c", dang: str = "dang") -> str:
    # (1-d)*S is pre-multiplied into ONE literal: as `3 * 1000000000`
    # both engines would evaluate an INT32 product and overflow.  The
    # contrib/dangling references are substitutable because the DuckDB
    # side must inline its COALESCEs (a bare lateral alias would
    # resolve to the NULLable joined column of the same name instead)
    return _PR_STEP_T.format(
        bs=(PR_DAMP_DEN - PR_DAMP_NUM) * PR_SCALE, dd=PR_DAMP_DEN,
        dn=PR_DAMP_NUM, d=divop, c=c, dang=dang)


def _pagerank_from(t):
    """PR_ITERS synchronous PageRank iterations over the per-document
    entity graphs of a triple-identity DataFrame — the
    iterative-algorithm pattern (driver loop building join+groupBy
    stages, state ``localCheckpoint``-ed per iteration, exactly how a
    production run would checkpoint between rounds).  The checkpoint
    — not a mere persist — is load-bearing: each iteration references
    the previous ranks TWICE (contributions + dangling mass), so
    without lineage truncation the logical plan doubles per round on
    top of the full extract subtree; five rounds of that OOMed a
    default-heap driver building the AQE plan string (persist caches
    data but keeps the plan).  Same pattern as operators/components.py.
    Distinct directed edges, self-loops dropped,
    dangling mass redistributed per document.  Every join / groupBy is
    keyed (doc_key, entity): co-partitioned stages whose shuffles
    reuse one partitioning, no global structure — at 100 TB each
    document's subgraph stays partition-local and iteration cost is
    linear in the edge table."""
    edges = (
        t.filter(F.col("head_idx") != F.col("tail_idx"))
        .select("doc_key", F.col("head_idx").alias("src"),
                F.col("tail_idx").alias("dst")).distinct()
        .localCheckpoint())
    nodes_raw = (edges.select("doc_key", F.col("src").alias("e"))
                 .unionByName(
                     edges.select("doc_key", F.col("dst").alias("e")))
                 .distinct())
    out_deg = edges.groupBy("doc_key", F.col("src").alias("e")).agg(
        F.count("*").alias("out_deg"))
    doc_n = nodes_raw.groupBy("doc_key").agg(F.count("*").alias("n"))
    nodes = (
        nodes_raw.join(out_deg, ["doc_key", "e"], "left")
        .join(doc_n, ["doc_key"])
        .select("doc_key", "e",
                F.coalesce("out_deg", F.lit(0)).alias("out_deg"),
                "n")
        .localCheckpoint())
    ranks = nodes.withColumn("r", F.expr(f"{PR_SCALE} DIV n"))
    for _ in range(PR_ITERS):
        contrib = (edges
                   .join(ranks.select("doc_key", F.col("e").alias("src"),
                                      "r", "out_deg"),
                         ["doc_key", "src"])
                   .groupBy("doc_key", F.col("dst").alias("e"))
                   .agg(F.sum(F.expr("r DIV out_deg")).alias("c")))
        dangling = (ranks.filter(F.col("out_deg") == 0)
                    .groupBy("doc_key").agg(F.sum("r").alias("dang")))
        ranks = (
            nodes.join(contrib, ["doc_key", "e"], "left")
            .join(dangling, ["doc_key"], "left")
            .withColumn("c", F.coalesce("c", F.lit(0)))
            .withColumn("dang", F.coalesce("dang", F.lit(0)))
            .withColumn("r", F.expr(_pr_step("DIV")))
            .select("doc_key", "e", "out_deg", "n", "r")
            .localCheckpoint())
    return ranks.select(
        "doc_key", F.col("e").cast("long").alias("entity_idx"),
        F.col("r").cast("long").alias("pagerank_ppb"))


def kg_pagerank(spark, sf_dir):
    """Per-document entity PageRank over the emitted triple graph —
    exact parts-per-billion integer fixed point (see _PR_STEP note),
    so the iterative distributed computation is bitwise-deterministic
    at any parallelism and the oracle is the same five unrolled
    iterations in plain DuckDB SQL over the frozen golden triples."""
    return _pagerank_from(_persist(_triples_identity(
        flagship_triples(spark, sf_dir, DEFAULT))))


def _pagerank_sql() -> str:
    """Unroll the PR_ITERS iterations as chained CTEs running the SAME
    step expression (``_pr_step('//')`` — DuckDB's integral divide)
    over the golden triples.  The per-iteration subquery aliases (cj,
    dj) deliberately differ from the lateral column aliases (c, dang)
    so the step expression resolves unambiguously."""
    ctes = [f"""
ed AS (
  SELECT DISTINCT doc_key, head_idx AS src, tail_idx AS dst
  FROM tr WHERE head_idx <> tail_idx),
nr AS (
  SELECT DISTINCT doc_key, e FROM (
    SELECT doc_key, src AS e FROM ed
    UNION ALL SELECT doc_key, dst AS e FROM ed)),
nd AS (
  SELECT nr.doc_key, nr.e, COALESCE(od.out_deg, 0) AS out_deg, dn.n
  FROM nr
  JOIN (SELECT doc_key, COUNT(*) AS n FROM nr GROUP BY doc_key) dn
    ON dn.doc_key = nr.doc_key
  LEFT JOIN (SELECT doc_key, src AS e, COUNT(*) AS out_deg
             FROM ed GROUP BY doc_key, src) od
    ON od.doc_key = nr.doc_key AND od.e = nr.e),
r0 AS (
  SELECT doc_key, e, out_deg, n, {PR_SCALE} // n AS r FROM nd)"""]
    step = _pr_step("//", c="COALESCE(cj.c, 0)",
                    dang="COALESCE(dj.dang, 0)")
    for i in range(PR_ITERS):
        ctes.append(f"""
r{i + 1} AS (
  SELECT nd.doc_key, nd.e, nd.out_deg, nd.n,
         {step} AS r
  FROM nd
  LEFT JOIN (SELECT ed.doc_key, ed.dst AS e,
                    SUM(p.r // p.out_deg) AS c
             FROM ed JOIN r{i} p
               ON p.doc_key = ed.doc_key AND p.e = ed.src
             GROUP BY ed.doc_key, ed.dst) cj
    ON cj.doc_key = nd.doc_key AND cj.e = nd.e
  LEFT JOIN (SELECT doc_key, SUM(r) AS dang FROM r{i}
             WHERE out_deg = 0 GROUP BY doc_key) dj
    ON dj.doc_key = nd.doc_key)""")
    return _golden_triples_derived(
        ", " + ",".join(ctes) + f"""
SELECT doc_key, CAST(e AS BIGINT) AS entity_idx,
       CAST(r AS BIGINT) AS pagerank_ppb
FROM r{PR_ITERS}
""")


KG_PAGERANK_SQL = _pagerank_sql()


# Label propagation operating point: LPA_ITERS synchronous rounds,
# each node adopting its neighbors' most frequent label with ties
# broken by the smaller label — the deterministic variant of
# Raghavan et al. 2007 (async random-order LPA is not reproducible;
# synchronous min-tie-break is exact integer arithmetic, so Spark at
# any parallelism, DuckDB, and a driver loop all compute identical
# labels).
LPA_ITERS = 4


def _communities_from(t):
    """LPA_ITERS synchronous label-propagation rounds over the
    per-document undirected entity graphs of a triple-identity
    DataFrame.  Same iterative-driver-loop pattern as
    :func:`_pagerank_from`: per-round ``localCheckpoint`` truncates
    the lineage (each round references the previous labels once in a
    join, and without truncation the plan nests a copy of the full
    extract subtree per round).  Every stage is keyed
    (doc_key, entity): the per-node argmax is a window partitioned on
    that key — never a global window — so at 100 TB each document's
    subgraph stays partition-local and a round costs one co-partitioned
    join + groupBy + per-key top-1."""
    from pyspark.sql.window import Window
    ed = _edge_set(t)
    labels = (ed.select("doc_key", "e").distinct()
              .withColumn("lbl", F.col("e")))
    w = Window.partitionBy("doc_key", "e").orderBy(
        F.col("cnt").desc(), F.col("lbl").asc())
    for _ in range(LPA_ITERS):
        labels = (
            ed.join(labels.select("doc_key", F.col("e").alias("nbr"),
                                  "lbl"),
                    ["doc_key", "nbr"])
            .groupBy("doc_key", "e", "lbl").agg(F.count("*").alias("cnt"))
            .withColumn("rn", F.row_number().over(w))
            .filter(F.col("rn") == 1)
            .select("doc_key", "e", "lbl")
            .localCheckpoint())
    return labels.select(
        "doc_key", F.col("e").cast("long").alias("entity_idx"),
        F.col("lbl").cast("long").alias("community"))


def kg_communities(spark, sf_dir):
    """(doc_key, entity_idx, community): entity communities within each
    document's undirected triple graph by synchronous min-tie-break
    label propagation — the community-detection primitive of KG
    curation (entity-cluster sanity checks, per-topic subgraph
    extraction).  Exact-integer trajectory (see LPA note), so the
    oracle is the same LPA_ITERS rounds unrolled as DuckDB CTEs over
    the frozen golden triples."""
    return _communities_from(_persist(_triples_identity(
        flagship_triples(spark, sf_dir, DEFAULT))))


def _communities_sql() -> str:
    ctes = ["""
edn AS (
  SELECT DISTINCT doc_key, e, nbr FROM (
    SELECT doc_key, head_idx AS e, tail_idx AS nbr
    FROM tr WHERE head_idx <> tail_idx
    UNION ALL
    SELECT doc_key, tail_idx AS e, head_idx AS nbr
    FROM tr WHERE head_idx <> tail_idx)),
l0 AS (SELECT DISTINCT doc_key, e, e AS lbl FROM edn)"""]
    for i in range(LPA_ITERS):
        ctes.append(f"""
l{i + 1} AS (
  SELECT doc_key, e, lbl FROM (
    SELECT doc_key, e, lbl,
           ROW_NUMBER() OVER (PARTITION BY doc_key, e
                              ORDER BY cnt DESC, lbl ASC) AS rn
    FROM (SELECT edn.doc_key, edn.e, p.lbl, COUNT(*) AS cnt
          FROM edn JOIN l{i} p
            ON p.doc_key = edn.doc_key AND p.e = edn.nbr
          GROUP BY edn.doc_key, edn.e, p.lbl))
  WHERE rn = 1)""")
    return _golden_triples_derived(
        ", " + ",".join(ctes) + f"""
SELECT doc_key, CAST(e AS BIGINT) AS entity_idx,
       CAST(lbl AS BIGINT) AS community
FROM l{LPA_ITERS}
""")


KG_COMMUNITIES_SQL = _communities_sql()


# k-core operating point: KCORE_ROUNDS rounds of degree-K pruning
# (Seidman 1983 coreness, iterated a fixed depth like the other
# kernels here — full fixpoint peeling has a data-dependent round
# count, which a cross-engine oracle can't unroll; on the small
# per-document graphs this pipeline emits, 3 rounds converges).
# Pure integer arithmetic, so Spark at any parallelism, DuckDB, and a
# driver loop compute identical survivor sets.
KCORE_K = 2
KCORE_ROUNDS = 3


def _kcore_from(t):
    """KCORE_ROUNDS rounds of K-core pruning over the per-document
    undirected entity graphs of a triple-identity DataFrame: each
    round drops every node with degree < K and every edge touching
    one, via two left-semi joins against the surviving-node set.
    Same driver-loop + per-round ``localCheckpoint`` pattern as
    :func:`_pagerank_from` (each round references the edge table
    twice — degree count + endpoint filter — so lineage would double
    per round otherwise).  All stages keyed (doc_key, node): at
    100 TB each document's subgraph stays partition-local and a round
    costs one groupBy plus two co-partitioned semi-joins."""
    ed = _edge_set(t)
    for _ in range(KCORE_ROUNDS):
        keep = (ed.groupBy("doc_key", "e")
                .agg(F.count("*").alias("deg"))
                .filter(F.col("deg") >= KCORE_K)
                .select("doc_key", "e"))
        ed = (ed.join(keep, ["doc_key", "e"], "left_semi")
              .join(keep.select("doc_key", F.col("e").alias("nbr")),
                    ["doc_key", "nbr"], "left_semi")
              .localCheckpoint())
    return (ed.groupBy("doc_key", "e")
            .agg(F.count("*").alias("deg"))
            .select("doc_key",
                    F.col("e").cast("long").alias("entity_idx"),
                    F.col("deg").cast("long").alias("core_deg")))


def kg_kcore(spark, sf_dir):
    """(doc_key, entity_idx, core_deg): the 2-core of each document's
    undirected triple graph after KCORE_ROUNDS pruning rounds, with
    each survivor's residual degree — the dense-subgraph filter of KG
    curation (strips pendant entities so hub analysis sees only
    cyclically-supported structure).  Exact-integer trajectory, so the
    oracle is the same rounds unrolled as DuckDB CTEs over the frozen
    golden triples."""
    return _kcore_from(_persist(_triples_identity(
        flagship_triples(spark, sf_dir, DEFAULT))))


def _kcore_sql() -> str:
    ctes = ["""
e0 AS (
  SELECT DISTINCT doc_key, e, nbr FROM (
    SELECT doc_key, head_idx AS e, tail_idx AS nbr
    FROM tr WHERE head_idx <> tail_idx
    UNION ALL
    SELECT doc_key, tail_idx AS e, head_idx AS nbr
    FROM tr WHERE head_idx <> tail_idx))"""]
    for i in range(KCORE_ROUNDS):
        ctes.append(f"""
k{i} AS (
  SELECT doc_key, e FROM e{i}
  GROUP BY doc_key, e HAVING COUNT(*) >= {KCORE_K}),
e{i + 1} AS (
  SELECT ed.doc_key, ed.e, ed.nbr FROM e{i} ed
  WHERE EXISTS (SELECT 1 FROM k{i} a
                WHERE a.doc_key = ed.doc_key AND a.e = ed.e)
    AND EXISTS (SELECT 1 FROM k{i} b
                WHERE b.doc_key = ed.doc_key AND b.e = ed.nbr))""")
    return _golden_triples_derived(
        ", " + ",".join(ctes) + f"""
SELECT doc_key, CAST(e AS BIGINT) AS entity_idx,
       CAST(COUNT(*) AS BIGINT) AS core_deg
FROM e{KCORE_ROUNDS}
GROUP BY doc_key, e
""")


KG_KCORE_SQL = _kcore_sql()


# BFS operating point: BFS_ROUNDS frontier expansions from each
# document's minimum entity index — hop distances are exact integers,
# the seed choice is deterministic, and a fixed round count keeps the
# trajectory unrollable as CTEs (same reasoning as the other kernels;
# per-document graphs here have tiny diameters, so 3 hops saturates).
BFS_ROUNDS = 3


def _bfs_from(t):
    """BFS_ROUNDS rounds of frontier expansion over the per-document
    undirected entity graphs of a triple-identity DataFrame, seeded at
    each document's min entity.  State = one (doc_key, e, dist) table,
    ``localCheckpoint``-ed per round (the anti-join references it and
    the union doubles the plan otherwise — the pattern every iterative
    kernel in this module uses).  All stages keyed (doc_key, node):
    partition-local per document at any corpus size."""
    ed = _edge_set(t)
    dist = (ed.groupBy("doc_key").agg(F.min("e").alias("e"))
            .withColumn("dist", F.lit(0)))
    for r in range(1, BFS_ROUNDS + 1):
        frontier = dist.filter(F.col("dist") == r - 1)
        nxt = (frontier.join(ed, ["doc_key", "e"])
               .select("doc_key", F.col("nbr").alias("e")).distinct()
               .join(dist, ["doc_key", "e"], "left_anti")
               .withColumn("dist", F.lit(r)))
        dist = dist.unionByName(nxt).localCheckpoint()
    return dist.select(
        "doc_key", F.col("e").cast("long").alias("entity_idx"),
        F.col("dist").cast("long").alias("dist"))


def kg_bfs_dist(spark, sf_dir):
    """(doc_key, entity_idx, dist): hop distance from each document's
    minimum entity through its undirected triple graph, BFS_ROUNDS
    hops — the neighborhood-radius primitive of KG curation (anchor
    context windows, hub-locality checks).  Exact-integer trajectory,
    so the oracle is the same rounds unrolled as DuckDB CTEs over the
    frozen golden triples."""
    return _bfs_from(_persist(_triples_identity(
        flagship_triples(spark, sf_dir, DEFAULT))))


def _bfs_sql() -> str:
    ctes = ["""
edn AS (
  SELECT DISTINCT doc_key, e, nbr FROM (
    SELECT doc_key, head_idx AS e, tail_idx AS nbr
    FROM tr WHERE head_idx <> tail_idx
    UNION ALL
    SELECT doc_key, tail_idx AS e, head_idx AS nbr
    FROM tr WHERE head_idx <> tail_idx)),
d0 AS (
  SELECT doc_key, MIN(e) AS e, 0 AS dist FROM edn GROUP BY doc_key)"""]
    for r in range(1, BFS_ROUNDS + 1):
        ctes.append(f"""
d{r} AS (
  SELECT doc_key, e, dist FROM d{r - 1}
  UNION ALL
  SELECT DISTINCT edn.doc_key, edn.nbr AS e, {r} AS dist
  FROM edn JOIN d{r - 1} f
    ON f.doc_key = edn.doc_key AND f.e = edn.e AND f.dist = {r - 1}
  WHERE NOT EXISTS (SELECT 1 FROM d{r - 1} p
                    WHERE p.doc_key = edn.doc_key AND p.e = edn.nbr))""")
    return _golden_triples_derived(
        ", " + ",".join(ctes) + f"""
SELECT doc_key, CAST(e AS BIGINT) AS entity_idx,
       CAST(dist AS BIGINT) AS dist
FROM d{BFS_ROUNDS}
""")


KG_BFS_SQL = _bfs_sql()


# --- N-Triples export ------------------------------------------------
# A real KG-construction deliverable: the extracted graph serialized as
# W3C RDF 1.1 N-Triples lines, consumable by any triple store.  The
# reference stops at predictions.json (jerex/model.py:270-316 store
# layout); an RDF surface is the natural KG-construction sink on top.

_NT_BASE = "http://example.org/jerex"
_NT_RDF_TYPE = "<http://www.w3.org/1999/02/22-rdf-syntax-ns#type>"
_NT_RDFS_LABEL = "<http://www.w3.org/2000/01/rdf-schema#label>"
# N-Triples §2.4 ECHAR escapes for STRING_LITERAL_QUOTE, backslash
# FIRST so later escapes aren't double-escaped.
_NT_ESCAPES = (("\\", "\\\\"), ('"', '\\"'), ("\n", "\\n"),
               ("\r", "\\r"), ("\t", "\\t"))


def _nt_escape(c):
    for raw, esc in _NT_ESCAPES:
        c = F.replace(c, F.lit(raw), F.lit(esc))
    return c


def _ent_iri(doc, idx):
    return F.concat(F.lit(f"<{_NT_BASE}/doc/"), doc,
                    F.lit("/entity/"), idx.cast("string"), F.lit(">"))


def _ntriples_lines(t):
    """One ``line`` column over the flat triples identity table: a
    relation statement per triple plus rdf:type and rdfs:label
    statements per distinct participating entity.

    Boundary (stated, not silent): IRI local parts (doc_key, rel_type,
    entity types) are emitted verbatim — valid N-Triples for this
    pipeline's key alphabet (``src{i}/{j}`` doc keys, identifier-safe
    ontology names); a corpus with IRI-unsafe doc keys would need a
    percent-encoding pass here AND in the oracle.  Label LITERALS get
    the full ECHAR escaping, so arbitrary entity-key text is safe."""
    rel = t.select(F.concat(
        _ent_iri(F.col("doc_key"), F.col("head_idx")),
        F.lit(f" <{_NT_BASE}/rel/"), F.col("rel_type"), F.lit("> "),
        _ent_iri(F.col("doc_key"), F.col("tail_idx")),
        F.lit(" .")).alias("line"))
    nodes = (t.select("doc_key", F.col("head_idx").alias("idx"),
                      F.col("head_type").alias("etype"),
                      F.col("head_key").alias("ekey"))
             .unionByName(t.select(
                 "doc_key", F.col("tail_idx").alias("idx"),
                 F.col("tail_type").alias("etype"),
                 F.col("tail_key").alias("ekey")))
             .distinct())
    typ = nodes.select(F.concat(
        _ent_iri(F.col("doc_key"), F.col("idx")),
        F.lit(f" {_NT_RDF_TYPE} <{_NT_BASE}/type/"), F.col("etype"),
        F.lit("> .")).alias("line"))
    lab = nodes.select(F.concat(
        _ent_iri(F.col("doc_key"), F.col("idx")),
        F.lit(f' {_NT_RDFS_LABEL} "'), _nt_escape(F.col("ekey")),
        F.lit('" .')).alias("line"))
    return rel.unionByName(typ).unionByName(lab)


def kg_ntriples(spark, sf_dir):
    """RDF N-Triples serialization of the extracted KG (see
    _ntriples_lines).  Row-per-line so the sink is a plain
    ``df.write.text`` at any scale — serialization is pure Catalyst
    concat/replace (codegen), no Python in the hot path; the node
    dedup is one partial-aggregable distinct on the triple table.
    The triples table is persisted because the line union fans out
    into three plan branches — unpersisted, each branch would re-run
    the extract stage (measured 3x cost on the degree query)."""
    t = _persist(flagship_triples(spark, sf_dir, DEFAULT)).select(
        "doc_key", F.col("head_idx").cast("long").alias("head_idx"),
        F.col("tail_idx").cast("long").alias("tail_idx"),
        "rel_type", "head_type", "tail_type", "head_key", "tail_key")
    return _ntriples_lines(t)


def _nt_escape_sql(col: str) -> str:
    expr = col
    for raw, esc in _NT_ESCAPES:
        r = raw.replace("'", "''")
        e = esc.replace("'", "''")
        expr = f"replace({expr}, '{r}', '{e}')"
    return expr


KG_NTRIPLES_SQL = _golden_triples_derived(f"""
, nodes AS (
  SELECT DISTINCT doc_key, head_idx AS idx, head_type AS etype,
         head_key AS ekey FROM tr
  UNION
  SELECT DISTINCT doc_key, tail_idx AS idx, tail_type AS etype,
         tail_key AS ekey FROM tr),
lines AS (
  SELECT '<{_NT_BASE}/doc/' || doc_key || '/entity/'
         || CAST(head_idx AS BIGINT) || '> <{_NT_BASE}/rel/'
         || rel_type || '> <{_NT_BASE}/doc/' || doc_key || '/entity/'
         || CAST(tail_idx AS BIGINT) || '> .' AS line FROM tr
  UNION ALL
  SELECT '<{_NT_BASE}/doc/' || doc_key || '/entity/'
         || CAST(idx AS BIGINT) || '> {_NT_RDF_TYPE} <{_NT_BASE}/type/'
         || etype || '> .' AS line FROM nodes
  UNION ALL
  SELECT '<{_NT_BASE}/doc/' || doc_key || '/entity/'
         || CAST(idx AS BIGINT) || '> {_NT_RDFS_LABEL} "'
         || {_nt_escape_sql('ekey')} || '" .' AS line FROM nodes)
SELECT line FROM lines
""", with_keys=True)


# --- cross-crawl KG maintenance + training-data derivations ---------------
# Three operators a CONTINUOUSLY-built KG needs beyond one-shot extract:
# merging a fresh crawl into the existing triple table (the MERGE INTO
# step of an Iceberg-backed KG), entity co-occurrence statistics (the
# standard PMI edge-weighting signal), and corrupt-triple negative
# sampling (the training-data generator for KG-embedding models,
# TransE-style — Bordes et al. 2013).  Cross-doc entity identity for
# the first two is the entity's SURFACE KEY: the sorted distinct set of
# its (lowercased) mention phrases — the same phrase-level identity the
# canonicalization stage (canonicalize.py) blocks on, derivable on the
# oracle side from the committed golden mention/entity tables alone.

# salt for the deterministic base/delta crawl split (kg_delta_merge)
_DELTA_SALT = ":crawl-batch-v1"


def _surface_of(entity_col, mentions_col="mentions"):
    """Surface key of one entity struct, computed IN PLACE from the
    nested doc-graph row: sorted distinct lowercased mention phrases
    joined by '|'.  ``mention_idxs`` index the doc's mentions array by
    position (mention_idx == list position by construction), so the
    former explode -> equi-join on (doc_key, mention_idx) -> groupBy
    collect_set — three shuffles of per-document data — collapses to a
    pure projection (guide §2.4: the work is per-document, so no
    exchange is fundamentally required).  array_distinct + array_sort
    over strings is exactly collect_set + array_sort (same byte-wise
    string ordering)."""
    return F.array_join(F.array_sort(F.array_distinct(F.transform(
        entity_col["mention_idxs"],
        lambda i: F.lower(
            F.element_at(F.col(mentions_col), i + 1)["phrase"])))), "|")


def _entity_surfaces(graph):
    """(doc_key, entity_idx, surface): surface = sorted distinct
    lowercased mention phrases joined by '|'.  Zero shuffles — one
    explode of the entities array with the surface computed per row
    (see _surface_of)."""
    e = graph.select("doc_key", "mentions", F.explode("entities").alias("e"))
    return e.select("doc_key",
                    F.col("e.entity_idx").alias("entity_idx"),
                    _surface_of(F.col("e")).alias("surface"))


# DuckDB twin of _entity_surfaces over the signature-selected golden
# tables: identity_key ("s:e|s:e") is the entity's span set, and every
# span matches exactly one golden mention row, so membership is a
# string equi-join.  All phrases are compared lowercased-ASCII, so the
# ORDER BY here and Spark's array_sort agree byte-for-byte.
def _golden_surfaces_cte() -> str:
    return f"""
WITH sig AS (SELECT {DOC_SIG_EXPR} AS s FROM documents),
ent AS (
  SELECT g.doc_key, g.entity_idx, g.identity_key
  FROM read_parquet('{GOLDEN_GLOB}/*/golden_entities.parquet') g
  JOIN sig ON g.corpus_sig = sig.s),
men AS (
  SELECT g.doc_key, g."start", g."end", g.phrase
  FROM read_parquet('{GOLDEN_GLOB}/*/golden_mentions.parquet') g
  JOIN sig ON g.corpus_sig = sig.s),
tr AS (
  SELECT g.doc_key, g.head_idx, g.tail_idx, g.rel_type
  FROM read_parquet('{GOLDEN_GLOB}/*/golden_triples.parquet') g
  JOIN sig ON g.corpus_sig = sig.s),
memb AS (
  SELECT doc_key, entity_idx,
         unnest(string_split(identity_key, '|')) AS span
  FROM ent),
surfd AS (
  SELECT DISTINCT memb.doc_key, memb.entity_idx, lower(men.phrase) AS p
  FROM memb JOIN men ON memb.doc_key = men.doc_key
   AND memb.span = men."start" || ':' || men."end"),
surf AS (
  SELECT doc_key, entity_idx, string_agg(p, '|' ORDER BY p) AS surface
  FROM surfd GROUP BY doc_key, entity_idx)
"""


def kg_delta_merge(spark, sf_dir):
    """Incremental-crawl triple merge: the corpus is split into a BASE
    and a DELTA crawl by a deterministic md5 bucket of doc_key (the
    same salt-hash family as hash_split), triples are lifted to
    cross-doc identity (subj_surface, pred, obj_surface), and the two
    batches merge into one canonical table with per-batch support,
    total provenance, and a status verdict: ``added`` (delta only),
    ``retained`` (seen in both), ``stale`` (base only — a candidate
    for re-verification in a real refresh).

    This is exactly the MERGE INTO an Iceberg-partitioned triple table
    a continuously-updated KG performs each crawl: one partial-
    aggregable groupBy on the triple identity — map-side combine does
    the heavy lifting, no window, no driver state, so the merge scales
    with distinct-triple count, not corpus size."""
    from .packing import _hex4_to_int
    # Single-pass plan: the per-entity surfaces are computed on the
    # nested doc-graph row (one array projection per doc, _surface_of)
    # and each triple looks its head/tail surface up positionally, so
    # the former persisted-graph fan-out (surfaces branch + triples
    # branch re-joined on (doc_key, entity_idx) — three extra
    # exchanges and a cache materialization) is now scan -> project ->
    # explode -> ONE partial-aggregable groupBy on the triple identity.
    graph = build_graph(load_documents(spark, sf_dir), DEFAULT)
    surfs = graph.select(
        "doc_key",
        F.transform("entities", lambda e: _surface_of(e)).alias("surfs"),
        "triples")
    t = (surfs.select("doc_key", "surfs", F.explode("triples").alias("t"))
         .select("doc_key",
                 F.element_at("surfs", F.col("t.head_idx") + 1)
                 .alias("subj"),
                 F.col("t.rel_type").alias("rel_type"),
                 F.element_at("surfs", F.col("t.tail_idx") + 1)
                 .alias("obj")))
    is_delta = (_hex4_to_int(
        F.md5(F.concat(F.col("doc_key"), F.lit(_DELTA_SALT)))) % 2)
    return (t.withColumn("is_delta", is_delta)
            .groupBy("subj", F.col("rel_type").alias("pred"), "obj")
            .agg((F.count("*") - F.sum("is_delta")).cast("long")
                 .alias("n_base"),
                 F.sum("is_delta").cast("long").alias("n_delta"),
                 F.count("*").cast("long").alias("support"),
                 F.count_distinct("doc_key").cast("long").alias("n_docs"))
            .withColumn("status",
                        F.when((F.col("n_base") > 0)
                               & (F.col("n_delta") > 0), "retained")
                        .when(F.col("n_delta") > 0, "added")
                        .otherwise("stale")))


def _delta_merge_sql() -> str:
    from .packing import _hex4_sql
    bucket = _hex4_sql(f"md5(t.doc_key || '{_DELTA_SALT}')")
    return _golden_surfaces_cte() + f"""
, lifted AS (
  SELECT t.doc_key, hs.surface AS subj, t.rel_type AS pred,
         ts.surface AS obj, ({bucket}) % 2 AS is_delta
  FROM tr t
  JOIN surf hs ON hs.doc_key = t.doc_key
              AND hs.entity_idx = t.head_idx
  JOIN surf ts ON ts.doc_key = t.doc_key
              AND ts.entity_idx = t.tail_idx)
SELECT subj, pred, obj,
       CAST(COUNT(*) - SUM(is_delta) AS BIGINT) AS n_base,
       CAST(SUM(is_delta) AS BIGINT) AS n_delta,
       CAST(COUNT(*) AS BIGINT) AS support,
       CAST(COUNT(DISTINCT doc_key) AS BIGINT) AS n_docs,
       CASE WHEN SUM(is_delta) < COUNT(*) AND SUM(is_delta) > 0
            THEN 'retained'
            WHEN SUM(is_delta) > 0 THEN 'added'
            ELSE 'stale' END AS status
FROM lifted GROUP BY subj, pred, obj
"""


def kg_cooccur_pmi(spark, sf_dir):
    """Entity co-occurrence PMI over the constructed KG: for every
    unordered pair of distinct entity surfaces appearing in the same
    document, pmi = ln(N * c_ab / (c_a * c_b)) with N = documents
    containing >= 1 entity — the standard association signal for
    weighting/denoising KG edges before materialization.

    Scale shape: the per-doc surface list is bounded by the mention
    cap, so the self-join fans out quadratically only within a
    document; pair counts partial-aggregate; the two marginal joins
    are equi-joins on the surface key; N rides along via a crossJoin
    with a 1-row broadcast aggregate (never a collect)."""
    # graph no longer persisted: _entity_surfaces is now a pure
    # projection (zero shuffles), so the extract feeds exactly one
    # consumer — the persisted distinct-surface table below
    graph = build_graph(load_documents(spark, sf_dir), DEFAULT)
    surf = _persist(_entity_surfaces(graph)
                    .select("doc_key", "surface").distinct())
    n = surf.select(F.count_distinct("doc_key").alias("n_corpus"))
    ca = surf.groupBy("surface").agg(F.count("*").alias("c"))
    pairs = (surf.alias("a")
             .join(surf.alias("b"),
                   [F.col("a.doc_key") == F.col("b.doc_key"),
                    F.col("a.surface") < F.col("b.surface")])
             .groupBy(F.col("a.surface").alias("surf_a"),
                      F.col("b.surface").alias("surf_b"))
             .agg(F.count("*").cast("long").alias("c_ab")))
    return (pairs
            .join(ca.select(F.col("surface").alias("surf_a"),
                            F.col("c").alias("c_a")), "surf_a")
            .join(ca.select(F.col("surface").alias("surf_b"),
                            F.col("c").alias("c_b")), "surf_b")
            .crossJoin(F.broadcast(n))
            .select("surf_a", "surf_b", "c_ab",
                    F.col("c_a").cast("long").alias("c_a"),
                    F.col("c_b").cast("long").alias("c_b"),
                    F.round(F.log(F.col("n_corpus") * F.col("c_ab")
                                  / (F.col("c_a") * F.col("c_b"))), 6)
                    .alias("pmi")))


KG_COOCCUR_PMI_SQL = _golden_surfaces_cte() + """
, ds AS (SELECT DISTINCT doc_key, surface FROM surf),
n AS (SELECT COUNT(DISTINCT doc_key) AS n_corpus FROM ds),
ca AS (SELECT surface, COUNT(*) AS c FROM ds GROUP BY surface),
pairs AS (
  SELECT a.surface AS surf_a, b.surface AS surf_b, COUNT(*) AS c_ab
  FROM ds a JOIN ds b
    ON a.doc_key = b.doc_key AND a.surface < b.surface
  GROUP BY a.surface, b.surface)
SELECT p.surf_a, p.surf_b, CAST(p.c_ab AS BIGINT) AS c_ab,
       CAST(ha.c AS BIGINT) AS c_a, CAST(hb.c AS BIGINT) AS c_b,
       ROUND(ln(n.n_corpus * p.c_ab / (ha.c * hb.c)), 6) AS pmi
FROM pairs p
JOIN ca ha ON ha.surface = p.surf_a
JOIN ca hb ON hb.surface = p.surf_b
CROSS JOIN n
"""


def kg_neg_samples(spark, sf_dir):
    """Corrupt-triple negative sampling for KG-embedding training
    (TransE-style, Bordes et al. 2013): every emitted triple yields
    two negatives — head-corrupted and tail-corrupted — with the
    replacement entity drawn DETERMINISTICALLY and uniformly from the
    document's other entities via the sample-from-(n-1)-then-skip
    trick: r = md5-bucket % (n_ent - 1); replacement = r if r < orig
    else r + 1.  ``is_false_negative`` flags corrupted triples that
    collide with a real positive (the 'filtered setting' every KG-
    embedding eval needs).  Docs with a single entity have no valid
    corruption and emit nothing.

    Scale shape: pure per-row hash math plus one broadcast-sized
    per-doc entity-count join and one left anti-style equi-join back
    to the positives on (doc, h, t, rel) — shuffle keys are the
    triple identity, partial-agg free, no window, no Python."""
    from .packing import _hex4_to_int
    graph = _persist(build_graph(load_documents(spark, sf_dir), DEFAULT))
    ne = (kg_tables(graph)["entities"]
          .groupBy("doc_key").agg(F.count("*").alias("n_ent")))
    t = (kg_tables(graph)["triples"]
         .select("doc_key",
                 F.col("head_idx").cast("long").alias("head_idx"),
                 F.col("tail_idx").cast("long").alias("tail_idx"),
                 "rel_type")
         .join(ne, "doc_key").filter(F.col("n_ent") >= 2))
    t = _persist(t)

    def corrupt(orig_col: str, tag: str):
        h = _hex4_to_int(F.md5(F.concat_ws(
            ":", F.col("doc_key"),
            F.col("head_idx").cast("string"),
            F.col("tail_idx").cast("string"),
            F.col("rel_type"), F.lit(tag))))
        r = h % (F.col("n_ent") - 1)
        return (F.when(r < F.col(orig_col), r).otherwise(r + 1)
                .cast("long"))

    neg_h = t.select(
        "doc_key", "head_idx", "tail_idx", "rel_type",
        F.lit("head").alias("corrupted"),
        corrupt("head_idx", "h").alias("neg_head_idx"),
        F.col("tail_idx").alias("neg_tail_idx"))
    neg_t = t.select(
        "doc_key", "head_idx", "tail_idx", "rel_type",
        F.lit("tail").alias("corrupted"),
        F.col("head_idx").alias("neg_head_idx"),
        corrupt("tail_idx", "t").alias("neg_tail_idx"))
    pos = t.select(F.col("doc_key").alias("_pd"),
                   F.col("head_idx").alias("_ph"),
                   F.col("tail_idx").alias("_pt"),
                   F.col("rel_type").alias("_pr"))
    return (neg_h.unionByName(neg_t)
            .join(pos,
                  (F.col("doc_key") == F.col("_pd"))
                  & (F.col("neg_head_idx") == F.col("_ph"))
                  & (F.col("neg_tail_idx") == F.col("_pt"))
                  & (F.col("rel_type") == F.col("_pr")), "left")
            .select("doc_key", "head_idx", "tail_idx", "rel_type",
                    "corrupted", "neg_head_idx", "neg_tail_idx",
                    F.col("_ph").isNotNull().alias("is_false_negative")))


def _neg_samples_sql() -> str:
    from .packing import _hex4_sql

    def bucket(tag: str) -> str:
        return _hex4_sql(
            "md5(t.doc_key || ':' || CAST(t.head_idx AS VARCHAR)"
            " || ':' || CAST(t.tail_idx AS VARCHAR)"
            f" || ':' || t.rel_type || ':{tag}')")

    def repl(orig: str, tag: str) -> str:
        return (f"CASE WHEN ({bucket(tag)}) % (ne.n_ent - 1) < {orig}"
                f" THEN ({bucket(tag)}) % (ne.n_ent - 1)"
                f" ELSE ({bucket(tag)}) % (ne.n_ent - 1) + 1 END")

    return _golden_surfaces_cte() + f"""
, ne AS (SELECT doc_key, COUNT(*) AS n_ent FROM ent GROUP BY doc_key),
base AS (
  SELECT t.doc_key, t.head_idx, t.tail_idx, t.rel_type, ne.n_ent
  FROM tr t JOIN ne ON ne.doc_key = t.doc_key WHERE ne.n_ent >= 2),
negs AS (
  SELECT t.doc_key, t.head_idx, t.tail_idx, t.rel_type,
         'head' AS corrupted,
         CAST({repl('t.head_idx', 'h')} AS BIGINT) AS neg_head_idx,
         CAST(t.tail_idx AS BIGINT) AS neg_tail_idx
  FROM base t JOIN ne ON ne.doc_key = t.doc_key
  UNION ALL
  SELECT t.doc_key, t.head_idx, t.tail_idx, t.rel_type,
         'tail' AS corrupted,
         CAST(t.head_idx AS BIGINT) AS neg_head_idx,
         CAST({repl('t.tail_idx', 't')} AS BIGINT) AS neg_tail_idx
  FROM base t JOIN ne ON ne.doc_key = t.doc_key)
SELECT n.doc_key, CAST(n.head_idx AS BIGINT) AS head_idx,
       CAST(n.tail_idx AS BIGINT) AS tail_idx, n.rel_type, n.corrupted,
       n.neg_head_idx, n.neg_tail_idx,
       (p.head_idx IS NOT NULL) AS is_false_negative
FROM negs n
LEFT JOIN tr p
  ON p.doc_key = n.doc_key AND p.head_idx = n.neg_head_idx
 AND p.tail_idx = n.neg_tail_idx AND p.rel_type = n.rel_type
"""


def kg_surface_components(spark, sf_dir):
    """Cross-document entity resolution over the constructed KG:
    surfaces (cross-doc entity identities — see _entity_surfaces)
    sharing ANY lowercased phrase alias are transitively clustered,
    and every surface gets a canonical representative (the cluster's
    minimum surface) — the blocking + transitive-closure step that
    turns per-document entities into corpus-level KG nodes, composing
    with canon_gazetteer's per-form verdicts.

    Scale shape: blocking is phrase-exact, never all-pairs, and each
    phrase block contributes STAR edges (every member -> the block's
    minimum surface) instead of the C(k,2) clique — closure-identical
    (a star spans the block) and linear in block size, so a viral
    alias shared by 10^6 entities costs 10^6 edges, not 10^11.  The
    closure itself is components.connected_components: exact driver
    union-find under the bounded-edge cap, the O(log n) large/small-
    star alternation past it."""
    from .components import connected_components
    # graph unpersisted: surfaces are a pure projection now, consumed
    # exactly once by the persisted distinct-surface table
    graph = build_graph(load_documents(spark, sf_dir), DEFAULT)
    surf = _persist(_entity_surfaces(graph)
                    .select("surface").distinct())
    memb = _persist(surf.select(
        "surface", F.explode(F.split("surface", r"\|")).alias("p")))
    # min-per-block as groupBy + equi-join, NOT a window: a window
    # funnels a viral alias's whole block through one task, while the
    # groupBy partial-aggregates map-side and AQE handles join skew
    reps = memb.groupBy("p").agg(F.min("surface").alias("rep"))
    star = (memb.join(reps, "p")
            .filter(F.col("surface") != F.col("rep"))
            .select(F.col("rep").alias("sa"),
                    F.col("surface").alias("sb"))
            .distinct())
    from pyspark.sql import Window
    comp = connected_components(star, "sa", "sb")
    labeled = (surf.join(comp, F.col("surface") == F.col("id"), "left")
               .select("surface",
                       F.coalesce("component", "surface")
                       .alias("canonical")))
    w = Window.partitionBy("canonical")
    return labeled.select(
        "surface", "canonical",
        F.count("*").over(w).cast("long").alias("cluster_size"),
        (F.col("surface") == F.col("canonical")).alias("is_canonical"))


# The min-per-phrase-block window is a plain GROUP BY in the oracle;
# the recursive closure mirrors components.DEDUP_COMPONENTS_SQL.
KG_SURFACE_COMPONENTS_SQL = _golden_surfaces_cte() + """
, s AS (SELECT DISTINCT surface FROM surf),
amemb AS (
  SELECT surface, unnest(string_split(surface, '|')) AS p FROM s),
reps AS (SELECT p, MIN(surface) AS rep FROM amemb GROUP BY p),
star AS (
  SELECT DISTINCT r.rep AS sa, m.surface AS sb
  FROM amemb m JOIN reps r ON r.p = m.p WHERE m.surface <> r.rep),
edges AS (SELECT sa AS u, sb AS v FROM star
          UNION SELECT sb, sa FROM star),
reach AS (
  WITH RECURSIVE walk(id, r) AS (
      SELECT u, u FROM edges
      UNION
      SELECT e.u, walk.r FROM edges e JOIN walk ON walk.id = e.v)
  SELECT id, MIN(r) AS component FROM walk GROUP BY id),
labeled AS (
  SELECT s.surface, COALESCE(c.component, s.surface) AS canonical
  FROM s LEFT JOIN reach c ON c.id = s.surface)
SELECT surface, canonical,
       COUNT(*) OVER (PARTITION BY canonical) AS cluster_size,
       surface = canonical AS is_canonical
FROM labeled
"""


_TRIPLE_COLS = ["doc_key", "head_idx", "tail_idx", "rel_type",
                "head_type", "tail_type", "head_key", "tail_key"]

QUERIES = {
    "kg_triples": (kg_triples, _golden_sql("triples", _TRIPLE_COLS)),
    "kg_triples_global": (kg_triples_global,
                          _golden_sql("triples_global", _TRIPLE_COLS)),
    "kg_mentions": (kg_mentions, _golden_sql("mentions", [
        "doc_key", "mention_idx", "sent_idx", "start", "end",
        "sub_start", "sub_end", "phrase"])),
    "kg_entities": (kg_entities, _golden_sql("entities", [
        "doc_key", "entity_idx", "type", "n_mentions", "identity_key"])),
    "kg_doc_stats": (kg_doc_stats, _golden_sql("doc_stats", [
        "doc_key", "n_tokens", "n_spans", "n_mentions", "n_entities",
        "n_triples", "spans_capped", "mentions_capped", "pairs_capped"])),
    "kg_token_stats": (kg_token_stats, KG_TOKEN_STATS_SQL),
    "kg_entity_degree": (kg_entity_degree, KG_ENTITY_DEGREE_SQL),
    "kg_twohop": (kg_twohop, KG_TWOHOP_SQL),
    "kg_rel_profile": (kg_rel_profile, KG_REL_PROFILE_SQL),
    "kg_triangles": (kg_triangles, KG_TRIANGLES_SQL),
    "kg_pagerank": (kg_pagerank, KG_PAGERANK_SQL),
    "kg_communities": (kg_communities, KG_COMMUNITIES_SQL),
    "kg_kcore": (kg_kcore, KG_KCORE_SQL),
    "kg_bfs_dist": (kg_bfs_dist, KG_BFS_SQL),
    "kg_ntriples": (kg_ntriples, KG_NTRIPLES_SQL),
    "kg_delta_merge": (kg_delta_merge, _delta_merge_sql()),
    "kg_cooccur_pmi": (kg_cooccur_pmi, KG_COOCCUR_PMI_SQL),
    "kg_neg_samples": (kg_neg_samples, _neg_samples_sql()),
    "kg_surface_components": (kg_surface_components,
                              KG_SURFACE_COMPONENTS_SQL),
}
