"""Output checks, run outside the timed region.

* ``extraction_parity`` — the Spark extract against the plain-Python
  ``reference_executor.run_document`` on a seeded doc sample, compared by
  eval identity (mentions, entities, triples), never by raw score.  Docs
  whose score-to-boundary margins clear ``make_golden.MARGIN_FLOORS``
  must match exactly; the others are reported, not failed.
* ``table_digest`` — an order-insensitive digest of the written triples,
  entities and edges.  Every pass of one run must produce the same one.
* ``suite_rows`` / ``suite_oracles`` — the operator suite's SQL-oracle
  queries against DuckDB over the same parquet: row counts on every run,
  and in the traced run every row, order-insensitive with floats rounded
  to 6 places (the rule of the repo's oracle tests).  The golden-backed
  queries (kg_*, the ANN family) have goldens only for the fixed testdata
  corpora, so on the generated tables they are held to the warm-up
  pass's non-zero row count instead.
"""

from __future__ import annotations

import hashlib
import importlib.util
import json
import math
import os

import numpy as np
import pandas as pd
import pyarrow.parquet as pq

PARITY_DOCS = 16
SUITE_TABLES = ("region", "nation", "customer", "supplier", "part",
                "orders", "lineitem", "events", "documents", "embeddings")


def _margin_floors(root: str) -> dict:
    spec = importlib.util.spec_from_file_location(
        "make_golden", os.path.join(root, "scripts", "make_golden.py"))
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod.MARGIN_FLOORS


def _spark_identities(row) -> tuple[set, set, set]:
    ments = {(m.start, m.end) for m in row.mentions}
    ents = {(tuple((s.start, s.end) for s in e.spans), e.type)
            for e in row.entities}
    by_idx = {e.entity_idx: e for e in row.entities}
    trips = set()
    for t in row.triples:
        h, tl = by_idx[t.head_idx], by_idx[t.tail_idx]
        trips.add((tuple((s.start, s.end) for s in h.spans), h.type,
                   tuple((s.start, s.end) for s in tl.spans), tl.type,
                   t.rel_type))
    return ments, ents, trips


def _ref_identities(res) -> tuple[set, set, set]:
    ments = {(m["start"], m["end"]) for m in res.mentions}
    ents = {(tuple(map(tuple, e["mentions"])), e["type"])
            for e in res.entities}
    trips = {(tuple(map(tuple, t["head_key"])), t["head_type"],
              tuple(map(tuple, t["tail_key"])), t["tail_type"],
              t["rel_type"]) for t in res.triples}
    return ments, ents, trips


def extraction_parity(spark, in_dir: str, root: str, seed: int,
                      n_docs: int = PARITY_DOCS) -> dict:
    """Returns {checked, clear, mismatched_clear, mismatched_near_boundary}
    over ``n_docs`` distinct seeded sample docs."""
    from jerex_spark.corpus import extract_text
    from jerex_spark.extract import extract_graph
    from jerex_spark.reference_executor import run_document
    floors = _margin_floors(root)
    pages = pd.read_parquet(os.path.join(in_dir, "pages.parquet"),
                            columns=["url", "html"])
    pages["text"] = [extract_text(h) for h in pages["html"]]
    pages = pages.drop_duplicates("text")
    sample = pages.sample(n=min(n_docs, len(pages)), random_state=seed)
    pdf = sample.rename(columns={"url": "doc_key"})[["doc_key", "text"]]
    got = {r.doc_key: _spark_identities(r) for r in
           extract_graph(spark.createDataFrame(pdf)).collect()}
    out = {"checked": len(pdf), "clear": 0, "mismatched_clear": 0,
           "mismatched_near_boundary": 0}
    for key, text in zip(pdf["doc_key"], pdf["text"]):
        res = run_document(key, text)
        clear = all(res.margins[c] > floors[c] for c in floors)
        out["clear"] += clear
        if got.get(key) != _ref_identities(res):
            out["mismatched_clear" if clear
                else "mismatched_near_boundary"] += 1
    return out


def _canon(v):
    if isinstance(v, np.ndarray):
        return tuple(_canon(x) for x in v)
    if isinstance(v, (list, tuple)):
        return tuple(_canon(x) for x in v)
    if isinstance(v, float):
        return "nan" if math.isnan(v) else round(v, 6)
    return v


def table_digest(out_dir: str) -> str:
    """sha1 over the sorted rows of each written table.  Continuous
    score columns are left out: batch composition may move them in the
    last ulps, and the identities are what a pass must reproduce."""
    h = hashlib.sha1()
    for name in ("triples", "entities", "edges"):
        df = pq.read_table(os.path.join(out_dir, name)).to_pandas()
        cols = sorted(c for c in df.columns if df[c].dtype.kind != "f")
        rows = sorted(repr(tuple(_canon(v) for v in r))
                      for r in df[cols].itertuples(index=False))
        h.update(f"{name}:{cols}:{len(rows)}\n".encode())
        for r in rows:
            h.update(r.encode())
    return h.hexdigest()


def _rowset(rows, cols):
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    return sorted(tuple(_canon(r[i]) for i in order) for r in rows)


def suite_oracles(spark, sf_dir: str, names: list[str]) -> dict[str, str]:
    """name -> '' when the query equals its DuckDB oracle, else a reason.
    Only queries with a SQL (non-golden) oracle are passed in."""
    import duckdb

    from jerex_spark.caching import release_persisted
    from jerex_spark.operators import all_queries
    qs = all_queries()
    con = duckdb.connect()
    try:
        for t in SUITE_TABLES:
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM "
                        f"'{os.path.join(sf_dir, t)}.parquet'")
        verdict = {}
        for name in names:
            fn, sql = qs[name]
            sdf = fn(spark, sf_dir)
            scols, srows = sdf.columns, [tuple(r) for r in sdf.collect()]
            release_persisted()
            res = con.execute(sql)
            dcols = [c[0] for c in res.description]
            drows = res.fetchall()
            if sorted(scols) != sorted(dcols):
                verdict[name] = f"columns {scols} != {dcols}"
            elif _rowset(srows, scols) != _rowset(drows, dcols):
                verdict[name] = (f"rows differ ({len(srows)} spark, "
                                 f"{len(drows)} duckdb)")
            else:
                verdict[name] = ""
        return verdict
    finally:
        con.close()


def golden_backed(names) -> list[str]:
    """The suite queries whose oracle reads committed golden parquet."""
    from jerex_spark.operators import all_queries
    qs = all_queries()
    return [n for n in names if "golden_" in (qs[n][1] or "")]


def crawl_verdict(digests, parity, log) -> tuple[int, int]:
    """(attempted, failed) over the timed passes: a pass fails when its
    tables differ from the warm-up pass's, or every pass fails when the
    extract disagrees with the reference executor."""
    log(f"check parity: {json.dumps(parity)}")
    bad_parity = parity["mismatched_clear"] > 0 or parity["clear"] == 0
    n = len(digests) - 1
    failed = n if bad_parity else sum(d != digests[0] for d in digests[1:])
    log(f"check digests: {len(set(digests))} distinct over "
        f"{len(digests)} passes (warm-up included)")
    return n, failed


def _suite_expected(sf_dir: str, names: list[str]) -> dict[str, int]:
    """Row count of every SQL oracle, by DuckDB over the same parquet."""
    import duckdb

    from jerex_spark.operators import all_queries
    qs = all_queries()
    con = duckdb.connect()
    try:
        for t in SUITE_TABLES:
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM "
                        f"'{os.path.join(sf_dir, t)}.parquet'")
        return {n: con.execute(f"SELECT count(*) FROM ({qs[n][1]})")
                .fetchone()[0] for n in names}
    finally:
        con.close()


def suite_rows(warm: dict, results: list[dict], sf_dir: str,
               log) -> tuple[int, int]:
    """(attempted, failed) over every query of every timed pass.
    SQL-oracle queries must return the oracle's row count; golden-backed
    ones the warm-up pass's count, and at least one row."""
    golden = set(golden_backed(list(warm)))
    expected = _suite_expected(sf_dir, [n for n in warm if n not in golden])
    expected.update({n: warm[n][2] for n in golden})
    attempted = failed = 0
    for res in results:
        for name, (_c, _a, rows) in res.items():
            attempted += 1
            if rows != expected[name] or (name in golden and rows == 0):
                failed += 1
                log(f"check FAILED {name}: rows {rows}, expected "
                    f"{expected[name]}")
    log(f"check rows: {attempted - failed}/{attempted} queries match "
        f"({len(golden)} golden-backed held to stable counts)")
    return attempted, failed
