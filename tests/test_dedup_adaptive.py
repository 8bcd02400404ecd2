"""The exact-dup collapse is ADAPTIVE (dedup._collapse_worthwhile):
corpora whose dup mass/cliques are below the plain-path thresholds run
the per-doc pipeline, dup-heavy corpora keep the collapse.  The sf
corpora sit below the thresholds, so the driver's oracle gate
exercises the plain path; these tests pin the COLLAPSE branch against
the same DuckDB oracle SQL on crafted dup-heavy corpora — both
branches must be bitwise-equal to the per-doc SQL semantics.
"""

from __future__ import annotations

import tempfile

import duckdb
import pandas as pd
import pytest

from jerex_spark import caching
from jerex_spark.caching import release_persisted
from jerex_spark.operators.components import (DEDUP_COMPONENTS_SQL,
                                              dedup_components)
from jerex_spark.operators.dedup import (DEDUP_VERIFIED_SQL, MINHASH_SQL,
                                         _collapse_worthwhile,
                                         dedup_lsh_verified,
                                         lsh_pair_graph,
                                         minhash_lsh_pairs)
from jerex_spark.operators.textops import _docs

BASE = [
    "the quick brown fox jumps over the lazy dog tonight",
    "the quick brown fox jumps over the lazy dog today instead",
    "completely different words about spark catalyst physical plans",
    "completely different words about spark catalyst logical plans",
    "short text",                       # below SHINGLE_K, never pairs
    "unrelated fifth document mentioning entirely novel token streams",
]


def _corpus(dup_heavy: bool):
    texts, ids = [], []
    nid = 0
    for i, t in enumerate(BASE):
        copies = (3 if dup_heavy and i < 2 else
                  2 if dup_heavy and i == 4 else 1)
        for _ in range(copies):
            texts.append(t)
            ids.append(nid)
            nid += 1
    return pd.DataFrame({"doc_id": ids, "text": texts})


@pytest.fixture(params=[True, False], ids=["dup_heavy", "dup_free"])
def corpus_dir(request, spark):
    pdf = _corpus(request.param)
    with tempfile.TemporaryDirectory() as d:
        spark.createDataFrame(pdf).write.mode("overwrite").parquet(
            f"{d}/documents.parquet")
        yield d, request.param
    release_persisted()


def _duck(d, sql):
    con = duckdb.connect()
    con.execute(f"CREATE VIEW documents AS SELECT * FROM "
                f"'{d}/documents.parquet/*.parquet'")
    return sorted(tuple(r) for r in con.execute(sql).fetchall())


def test_branch_detection(spark, corpus_dir):
    # round 6: one lean grouped probe (dup mass + max clique vs the
    # plain-path thresholds), no cache materialization.  The dup-heavy
    # fixture's dup fraction (5/11) far exceeds MAX_PLAIN_DUP_FRAC, so
    # it must pick the collapse; the dup-free twin must not.
    d, dup_heavy = corpus_dir
    assert _collapse_worthwhile(_docs(spark, d)) is dup_heavy


def test_plain_branch_builds_no_text_groups(spark, corpus_dir):
    # the probe runs before the md5 group tables are built, so the
    # plain branch persists no (doc_id, th, ...) docmap / (th, ...)
    # groups frame that nothing would read
    d, dup_heavy = corpus_dir
    release_persisted()
    minhash_lsh_pairs(spark, d)
    dedup_lsh_verified(spark, d)
    lsh_pair_graph(_docs(spark, d))
    built = any("th" in df.columns for df in caching._PERSISTED)
    assert built is dup_heavy


def test_minhash_pairs_match_oracle_both_branches(spark, corpus_dir):
    d, _ = corpus_dir
    got = sorted((r.doc_a, r.doc_b)
                 for r in minhash_lsh_pairs(spark, d).collect())
    assert got == _duck(d, MINHASH_SQL)
    assert got, "crafted corpus must produce candidate pairs"


def test_verified_match_oracle_both_branches(spark, corpus_dir):
    d, _ = corpus_dir
    got = sorted((r.doc_a, r.doc_b, r.jaccard)
                 for r in dedup_lsh_verified(spark, d).collect())
    assert got == _duck(d, DEDUP_VERIFIED_SQL)


def test_components_match_oracle_both_branches(spark, corpus_dir):
    # the closure over lsh_pair_graph's edges (rep pairs + star edges
    # on the collapse branch, per-doc pairs on the plain one) equals
    # the closure over the expanded per-doc pair list
    d, _ = corpus_dir
    got = sorted(tuple(r) for r in dedup_components(spark, d).collect())
    assert got == _duck(d, DEDUP_COMPONENTS_SQL)
    assert any(not r[3] for r in got), "fixture must produce a cluster"


def test_components_collapse_branch(spark):
    """dedup_components over an ALL-identical corpus: rep pairs are
    empty, the closure is carried entirely by star edges — one cluster,
    min doc_id canonical."""
    pdf = pd.DataFrame({"doc_id": [7, 3, 11],
                        "text": ["same exact text repeated here ok"] * 3})
    with tempfile.TemporaryDirectory() as d:
        spark.createDataFrame(pdf).write.parquet(f"{d}/documents.parquet")
        rows = {r.doc_id: r for r in dedup_components(spark, d).collect()}
        release_persisted()
    assert {r.component_id for r in rows.values()} == {3}
    assert all(r.component_size == 3 for r in rows.values())
    assert rows[3].is_canonical and not rows[7].is_canonical
