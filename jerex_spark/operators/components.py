"""Distributed connected components + duplicate-cluster collapse.

The dedup family (dedup.py) emits candidate/verified PAIRS; a corpus
pipeline needs CLUSTERS: transitive closure of the pair graph, one
canonical representative per cluster, and a keep-list that drops the
rest.  Pair output alone under-deduplicates — A~B and B~C must retire
both B and C, even when A~C was never emitted.

``connected_components`` is the alternating large-star / small-star
algorithm (Kiveris et al., "Connected Components in MapReduce and
Beyond", SoCC 2014): per round, every node connects its larger
neighbors (large-star) or its smaller-and-self neighbors (small-star)
to the minimum of its neighborhood.  Each half-round is one groupBy
(min per node) plus one equi-join — pure Catalyst, partial-aggregable,
AQE-friendly — and the edge set never grows beyond the symmetrized
input.  The alternation converges in O(log n) rounds on any graph
(paper, Thm 1 — NOT diameter-bound like naive label propagation, which
needs O(diameter) rounds and dies on chain-shaped dup clusters).
Iteration happens on the driver but every step is distributed; per
round the frontier is ``localCheckpoint``-ed to truncate lineage (at
cluster scale with executor churn, swap for a reliable
``checkpoint()`` dir — same call shape).  When the distinct edge set
is bounded (``DRIVER_CLOSURE_MAX_EDGES``) the closure instead runs as
one collect + exact union-find on the driver — the round-trip latency
of the distributed loop dominates whenever the pair graph is small,
and near-dup pairs are a sliver of any real corpus.

Reference semantics (transitive closure of the duplicate relation) per
jerex's entity-cluster identity treatment: clusters are sets, the
representative is the minimum member (reference conversion.py:4-10
uses order-insensitive identity sets; min-member is the deterministic
pick).  The DuckDB oracle computes the same closure with a recursive
CTE — exact integer semantics on both engines, no fp anywhere.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from .dedup import MINHASH_SQL, lsh_pair_graph
from .textops import _docs

# O(log n) convergence: 64 rounds covers any conceivable corpus
# (2^64 nodes); hitting the cap means a bug, not a big input — raise.
MAX_CC_ROUNDS = 64

# Below this many DISTINCT edges the closure runs as exact union-find
# on the driver instead of the star alternation: the distributed loop
# costs ~3 jobs/round x O(log n) rounds of driver-coordinated
# latency, which dominates end-to-end time whenever the pair graph is
# small — the common case, since near-dup pairs are a sliver of any
# corpus.  Same move AQE makes when a shuffle join's input turns out
# broadcast-sized.  1M edges is a bounded driver payload (two ids per
# row, tens of MB); past the cap the star alternation runs unchanged,
# so the operator stays cluster-safe at any scale.
DRIVER_CLOSURE_MAX_EDGES = 1_000_000


def _large_star(edges: DataFrame) -> DataFrame:
    """(u,v) undirected -> for each node, connect strictly larger
    neighbors to min(neighborhood incl. self)."""
    sym = edges.union(edges.select(F.col("v").alias("u"),
                                   F.col("u").alias("v")))
    mins = (sym.groupBy("u")
            .agg(F.min("v").alias("mv"))
            .select("u", F.least("u", "mv").alias("m")))
    return (sym.join(mins, "u")
            .filter(F.col("v") > F.col("u"))
            .select(F.col("v").alias("u"), F.col("m").alias("v"))
            .filter(F.col("u") != F.col("v"))
            .distinct())


def _small_star(edges: DataFrame) -> DataFrame:
    """Orient edges large->small, then connect each node's smaller
    neighbors AND itself to the minimum neighbor."""
    oriented = edges.select(F.greatest("u", "v").alias("u"),
                            F.least("u", "v").alias("v"))
    mins = oriented.groupBy("u").agg(F.min("v").alias("m"))
    leaves = (oriented.join(mins, "u")
              .select(F.col("v").alias("u"), F.col("m").alias("v")))
    selfs = mins.select("u", F.col("m").alias("v"))
    return (leaves.union(selfs)
            .filter(F.col("u") != F.col("v"))
            .distinct())


def _driver_closure(cur: DataFrame) -> DataFrame:
    """Exact union-find over a collected (bounded) distinct edge list.
    Union keeps the smaller root, so every final root is its
    component's minimum id — identical contract to the star
    alternation."""
    parent: dict = {}

    def find(x):
        parent.setdefault(x, x)
        while parent[x] != x:
            parent[x] = parent[parent[x]]   # path halving
            x = parent[x]
        return x

    for u, v in cur.collect():
        ru, rv = find(u), find(v)
        if ru != rv:
            parent[max(ru, rv)] = min(ru, rv)
    from pyspark.sql.types import StructField, StructType
    id_type = cur.schema["u"].dataType
    schema = StructType([StructField("id", id_type, False),
                         StructField("component", id_type, False)])
    return cur.sparkSession.createDataFrame(
        [(x, find(x)) for x in parent], schema)


def connected_components(edges: DataFrame, src: str, dst: str,
                         max_rounds: int = MAX_CC_ROUNDS,
                         driver_max_edges: int = DRIVER_CLOSURE_MAX_EDGES,
                         ) -> DataFrame:
    """Exact connected components of the undirected graph given as an
    edge list.  Returns (``id``, ``component``) for every node that
    appears in ``edges`` — ``component`` is the minimum node id of the
    component (callers left-join and coalesce to label isolated rows).

    Ids must be orderable and non-null; self-loops are ignored.
    When the distinct edge count is at most ``driver_max_edges`` the
    closure runs as driver-side union-find (see
    ``DRIVER_CLOSURE_MAX_EDGES``); otherwise the distributed star
    alternation runs, its convergence checked EXACTLY (set containment
    + count, not a hash), and exceeding ``max_rounds`` raises — a
    wrong answer is never returned silently."""
    cur = (edges.select(F.col(src).alias("u"), F.col(dst).alias("v"))
           .filter(F.col("u") != F.col("v"))
           .distinct()
           .localCheckpoint())
    n_cur = cur.count()
    if n_cur <= driver_max_edges:
        return _driver_closure(cur)
    for _ in range(max_rounds):
        # checkpoint BETWEEN the stars too: _small_star consumes its
        # input twice (min-agg + join) and Spark has no cross-plan CSE,
        # so an unmaterialized large-star — itself two shuffles — would
        # be recomputed in both branches (verified in explain()).
        half = _large_star(cur).localCheckpoint()
        nxt = _small_star(half).localCheckpoint()
        # exact stability: |nxt|=|cur| and nxt ⊆ cur (set-distinct both
        # ⟹ equality).  Counts first — cur's carried from last round,
        # so the non-final rounds cost one count job and no exceptAll
        # anti-join shuffle.
        n_nxt = nxt.count()
        if n_nxt == n_cur and nxt.exceptAll(cur).isEmpty():
            cur = nxt
            break
        cur, n_cur = nxt, n_nxt
    else:
        raise RuntimeError(
            f"connected_components: no fixpoint within {max_rounds} "
            f"large/small-star rounds — the alternation converges in "
            f"O(log n), so this indicates a bug, not a large input")
    # stable state = star edges (leaf -> root) + (root's own min edge
    # already collapsed); groupBy(min) guards the theoretical case of a
    # node carrying two star edges mid-collapse
    comp = cur.groupBy("u").agg(F.min("v").alias("component"))
    roots = (cur.select(F.col("v").alias("u")).distinct()
             .join(comp, "u", "left_anti")
             .select("u", F.col("u").alias("component")))
    return (comp.union(roots)
            .select(F.col("u").alias("id"), "component"))


def dedup_components(spark, sf_dir) -> DataFrame:
    """Duplicate CLUSTERS over the documents table: MinHash-LSH pair
    candidates -> transitive closure -> per-doc cluster label, cluster
    size, and the keep/drop verdict (canonical = min doc_id).  The
    downstream 100 TB flow filters ``is_canonical`` to materialize the
    deduplicated corpus.

    The closure consumes dedup.lsh_pair_graph, which on dup-heavy
    corpora is the COLLAPSED pair graph (rep-level LSH pairs + per-group
    star edges): identical closure as the expanded pair list — dup
    groups are cliques and a star spans a clique — at k-1 instead of
    C(k,2) edges per group."""
    d = _docs(spark, sf_dir)   # one parquet read shared with the graph
    comp = connected_components(lsh_pair_graph(d), "doc_a", "doc_b")
    labeled = (d.select("doc_id")
               .join(comp, F.col("doc_id") == F.col("id"), "left")
               .select("doc_id",
                       F.coalesce("component", "doc_id")
                       .alias("component_id")))
    from pyspark.sql import Window
    w = Window.partitionBy("component_id")
    return labeled.select(
        "doc_id", "component_id",
        F.count("*").over(w).alias("component_size"),
        (F.col("doc_id") == F.col("component_id")).alias("is_canonical"))


DEDUP_COMPONENTS_SQL = f"""
WITH RECURSIVE pairs AS ({MINHASH_SQL}),
edges AS (SELECT doc_a AS u, doc_b AS v FROM pairs
          UNION SELECT doc_b, doc_a FROM pairs),
reach(id, r) AS (
    SELECT u, u FROM edges
    UNION
    SELECT e.u, reach.r FROM edges e JOIN reach ON reach.id = e.v),
comp AS (SELECT id AS doc_id, MIN(r) AS component_id
         FROM reach GROUP BY id),
labeled AS (
    SELECT d.doc_id, COALESCE(c.component_id, d.doc_id) AS component_id
    FROM documents d LEFT JOIN comp c USING (doc_id))
SELECT doc_id, component_id,
       COUNT(*) OVER (PARTITION BY component_id) AS component_size,
       doc_id = component_id AS is_canonical
FROM labeled
"""


QUERIES = {
    "dedup_components": (dedup_components, DEDUP_COMPONENTS_SQL),
}
