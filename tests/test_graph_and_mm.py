"""Graph materialization and the full pages -> canonical-graph
integration path."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from jerex_spark.canonicalize import canonicalize_entities
from jerex_spark.corpus import make_pages
from jerex_spark.extract import extract_graph
from jerex_spark.graph import (canonical_entity_table, canonical_triples,
                               edges, entity_phrases)
from jerex_spark.pipeline import kg_tables


@pytest.fixture(scope="module")
def pages_graph(spark):
    pdf = make_pages(120)[["url", "text"]].rename(
        columns={"url": "doc_key"})
    g = extract_graph(spark.createDataFrame(pdf)).persist()
    g.count()
    yield g
    g.unpersist()


def test_end_to_end_canonical_graph(spark, pages_graph):
    t = kg_tables(pages_graph)
    ents = entity_phrases(t["mentions"], t["entities"])
    alias = spark.createDataFrame(
        [("acme corp", "Q_ACME"), ("globex", "Q_GLOBEX"),
         ("alice rivera", "Q_ALICE"), ("springfield", "Q_SPR")],
        ["alias", "canonical_id"])
    canon = canonicalize_entities(ents, alias)
    assert canon.filter(F.col("canonical_id").isNull()).count() == 0

    ct = canonical_triples(t["triples"], canon)
    n_raw = t["triples"].count()
    n_canon = ct.count()
    assert 0 < n_canon <= n_raw
    # dedup really merges: key is unique
    assert ct.groupBy("subj_id", "rel_type", "obj_id").count() \
        .filter("count > 1").count() == 0

    et = canonical_entity_table(canon)
    assert et.groupBy("canonical_id").count().filter("count > 1") \
        .count() == 0

    ed = edges(ct)
    assert ed.count() <= n_canon
    assert ed.filter(F.col("weight") < 1).count() == 0


def test_alias_hits_collapse_across_docs(spark, pages_graph):
    t = kg_tables(pages_graph)
    ents = entity_phrases(t["mentions"], t["entities"])
    alias = spark.createDataFrame([("acme corp", "Q_ACME")],
                                  ["alias", "canonical_id"])
    canon = canonicalize_entities(ents, alias)
    hits = canon.filter(F.col("canonical_id") == "Q_ACME")
    if hits.count() >= 2:   # corpus plants acme in many docs
        assert hits.select("doc_key").distinct().count() >= 2


def test_examples_html_sink(spark, pages_graph, tmp_path):
    from jerex_spark.graph import export_examples_html
    out = str(tmp_path / "examples.html")
    export_examples_html(pages_graph, out, limit=5)
    html = open(out).read()
    assert html.startswith("<html>") and "-[" in html and "<b>" in html


def test_examples_html_tp_fp_fn_marking(spark, pages_graph, tmp_path):
    """S8 parity with the reference template semantics: items render
    color-coded TP/FP/FN against gold eval identities
    (ref joint_evaluator.py:185-207)."""
    from jerex_spark.graph import export_examples_html
    rows = (pages_graph.filter(F.size("triples") > 0)
            .select("doc_key", "mentions", "entities", "triples")
            .limit(3).collect())
    assert rows
    # gold = the predictions themselves (all TP) plus one planted FN
    gold = {}
    for r in rows:
        ments = {m.mention_idx: m for m in r.mentions}
        ekey = {e.entity_idx: tuple(sorted(
            (ments[i].start, ments[i].end) for i in e.mention_idxs))
            for e in r.entities}
        etype = {e.entity_idx: e.type for e in r.entities}
        gold[r.doc_key] = {
            "mentions": {(m.start, m.end) for m in r.mentions},
            "entities": {(ekey[e.entity_idx], e.type) for e in r.entities},
            "triples": {(ekey[t.head_idx], etype[t.head_idx],
                         ekey[t.tail_idx], etype[t.tail_idx], t.rel_type)
                        for t in r.triples},
        }
    planted = next(iter(gold))
    gold[planted]["mentions"].add((990, 991))
    out = str(tmp_path / "examples_marked.html")
    export_examples_html(pages_graph, out, limit=3, gold=gold)
    html = open(out).read()
    assert "[TP]" in html and "[FN] (990,991)" in html
    assert "[FP]" not in html          # predictions == gold otherwise


def test_canonical_entity_table_hot_key(spark):
    """Country-scale hot key: one canonical id covering most of the
    corpus must aggregate with bounded per-reducer state — exact n_docs
    via Spark's distinct-aggregate rewrite, surfaces capped.  Every
    100th doc carries a second cluster of the hot id, so n_clusters and
    n_docs differ and the distinct count is exercised."""
    from test_cached_plan_aqe import _scan_nodes

    from jerex_spark.graph import MAX_SURFACES, canonical_entity_table
    n = 20000
    rows = [(f"d{i}", 0, "QHOT" if i % 20 else f"Q{i}", "LOC",
             f"surface_{i % 500}") for i in range(n)]
    rows += [(f"d{i}", 1, "QHOT", "LOC", f"surface_{i % 500}")
             for i in range(1, n, 100)]
    canon = spark.createDataFrame(
        rows, ["doc_key", "entity_idx", "canonical_id", "type", "phrase"])
    et = canonical_entity_table(canon)
    got = et.collect()
    hot = next(r for r in got if r.canonical_id == "QHOT")
    assert hot.n_docs == n - n // 20     # exact distinct docs
    assert hot.n_clusters == n - n // 20 + n // 100
    hot_surfaces = sorted({r[4] for r in rows if r[2] == "QHOT"})
    assert len(hot_surfaces) > MAX_SURFACES
    assert hot.surfaces == hot_surfaces[:MAX_SURFACES]   # capped, lowest

    # Bounded reducer state: raw rows cross only the exchange keyed by
    # (canonical_id, doc_key); the exchange keyed by canonical_id alone
    # carries per-task partial aggregates, at most one record per id
    # per map task, however many rows the hot id has.
    nodes = _scan_nodes(et._jdf.queryExecution().executedPlan(), [])
    shuffles = [nd for nd in nodes
                if nd.getClass().getSimpleName() == "ShuffleExchangeExec"]

    def keys(nd):
        exprs = nd.outputPartitioning().expressions()
        return sorted(exprs.apply(i).name() for i in range(exprs.size()))

    assert sorted(keys(nd) for nd in shuffles) == [
        ["canonical_id"], ["canonical_id", "doc_key"]]
    by_id = next(nd for nd in shuffles if keys(nd) == ["canonical_id"])
    below = _scan_nodes(by_id.child(), [])
    assert [keys(nd) for nd in below
            if nd.getClass().getSimpleName() == "ShuffleExchangeExec"] \
        == [["canonical_id", "doc_key"]]
    written = by_id.metrics().apply("shuffleRecordsWritten").value()
    map_tasks = by_id.shuffleDependency().rdd().getNumPartitions()
    assert written <= len(got) * map_tasks, (written, len(got), map_tasks)
