"""Graph materialization: canonical triples / entities / edges tables.

Final stage of the KG pipeline (SURVEY.md §7.1 step 6): join the
per-document triples to canonicalized entities, deduplicate across the
corpus, and produce the three output tables a KG consumer reads:

* ``entities``  — one row per canonical entity with surface stats
* ``triples``   — deduplicated (subj, pred, obj) with provenance counts
* ``edges``     — adjacency projection (subj, obj, weight)

Dedup keys follow the reference's eval identity (within-doc: mention
span set — ref jerex/evaluation/conversion.py:4-17; across docs:
canonical id).  All aggregations are partial-agg friendly; the only
shuffles are the two groupBys on canonical keys, which AQE skew-splits
(hot entities like countries are real at web scale) and coalesces to
the data's size.  That holds for the persisted ``ct`` too, because the
session lets AQE re-plan cached plans (session.py); Spark's default
would run the cached groupBy as a fixed 32 tasks over a few kilobytes.
Writes are partitioned by ``rel_type`` (low cardinality, stable) so
consumers prune partitions.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def entity_phrases(mentions: DataFrame, entities: DataFrame) -> DataFrame:
    """entities + representative phrase (first mention's phrase — the
    reference picks the first mention's type/phrase for the cluster,
    ref datasets.py:126-127)."""
    first_m = F.col("mention_idxs")[0]
    e = entities.select("doc_key", "entity_idx", "type",
                        first_m.alias("first_mention"))
    m = mentions.select("doc_key",
                        F.col("mention_idx").alias("first_mention"),
                        "phrase")
    return e.join(m, ["doc_key", "first_mention"]).drop("first_mention")


def canonical_triples(triples: DataFrame,
                      canon_entities: DataFrame) -> DataFrame:
    """Join per-doc triples to canonical ids and dedup corpus-wide.

    canon_entities: (doc_key, entity_idx, canonical_id, type, phrase).
    """
    h = canon_entities.select(
        "doc_key", F.col("entity_idx").alias("head_idx"),
        F.col("canonical_id").alias("subj_id"),
        F.col("phrase").alias("subj_phrase"),
        F.col("type").alias("subj_type"))
    t = canon_entities.select(
        "doc_key", F.col("entity_idx").alias("tail_idx"),
        F.col("canonical_id").alias("obj_id"),
        F.col("phrase").alias("obj_phrase"),
        F.col("type").alias("obj_type"))
    joined = (triples.join(h, ["doc_key", "head_idx"])
              .join(t, ["doc_key", "tail_idx"]))
    return (joined.groupBy("subj_id", "rel_type", "obj_id")
            .agg(F.count("*").alias("n_evidence"),
                 F.min("subj_phrase").alias("subj_phrase"),
                 F.min("obj_phrase").alias("obj_phrase"),
                 F.min("subj_type").alias("subj_type"),
                 F.min("obj_type").alias("obj_type"),
                 F.max("score").alias("max_score"),
                 F.countDistinct("doc_key").alias("n_docs")))


def salted_two_phase(df: DataFrame, keys: list[str], partials: list,
                     finals: list, n_salt: int = 64) -> DataFrame:
    """Two-phase aggregation with an explicit salt for skewed keys
    (north rule: hot canonical entities — countries, famous people —
    concentrate a naive groupBy into one reducer).  Phase 1 groups by
    (keys, salt) so a hot key spreads over ``n_salt`` reducers; phase 2
    merges the per-salt partials.  The salt is a deterministic hash of
    all columns, so re-runs are stable.

    ``partials``: aggregate columns for phase 1 (aliased);
    ``finals``: merge expressions over those aliases for phase 2.
    """
    all_cols = [F.col(c) for c in df.columns]
    salted = df.withColumn(
        "_salt", F.pmod(F.xxhash64(*all_cols), F.lit(n_salt)))
    p1 = salted.groupBy(*keys, "_salt").agg(*partials)
    return p1.groupBy(*keys).agg(*finals)


def canonical_entity_table(canon_entities: DataFrame,
                           n_salt: int = 64,
                           max_surfaces: int = 100) -> DataFrame:
    """Per-canonical-entity rollup, safe for country-scale hot keys.

    v1 merged ``collect_set(doc_key)`` partials in phase 2 — for one
    canonical entity mentioned in 10^8 docs that is a 10^8-element set
    on a single reducer.  Instead:

    * ``n_docs`` — exact two-level count-distinct: distinct on
      (canonical_id, doc_key) spreads a hot entity across reducers
      because doc_key varies, then a partial-agg count per id.  No set
      is ever materialized.
    * ``surfaces`` — capped at ``max_surfaces`` per salt group AND
      after the merge, bounding phase-2 state to
      n_salt x max_surfaces strings (lowest-sorted surfaces win —
      deterministic).
    """
    base = canon_entities.select(
        "canonical_id", "type", "doc_key", "phrase")
    rolled = salted_two_phase(
        base,
        keys=["canonical_id"],
        partials=[
            F.min("type").alias("_type"),
            F.count("*").alias("_n"),
            F.slice(F.array_sort(F.collect_set("phrase")),
                    1, max_surfaces).alias("_surfaces"),
        ],
        finals=[
            F.min("_type").alias("type"),
            F.sum("_n").alias("n_clusters"),
            F.slice(F.array_sort(F.array_distinct(
                F.flatten(F.collect_list("_surfaces")))),
                1, max_surfaces).alias("surfaces"),
        ],
        n_salt=n_salt)
    n_docs = (base.select("canonical_id", "doc_key").distinct()
              .groupBy("canonical_id").agg(F.count("*").alias("n_docs")))
    return rolled.join(n_docs, "canonical_id")


def edges(canon_triples: DataFrame) -> DataFrame:
    return (canon_triples.groupBy("subj_id", "obj_id")
            .agg(F.sum("n_evidence").alias("weight"),
                 F.array_sort(F.collect_set("rel_type")).alias("rel_types")))


def export_predictions_json(graph: DataFrame, documents: DataFrame,
                            path: str) -> None:
    """S7: per-document predictions export with the REFERENCE's exact
    per-doc key shapes (ref jerex/evaluation/joint_evaluator.py:111-135
    store_predictions):

    * ``tokens``    — the document's token phrases
    * ``mentions``  — ``[{start, end}]`` token spans
    * ``entities``  — ``[{mentions: [mention idx], type}]``
    * ``relations`` — ``[{head, tail, type}]`` (entity-list indices)

    plus ``doc_key`` for addressability, written as distributed JSON
    lines instead of the reference's rank-0 single-array spool (each
    line is one document object; concatenating the lines in any order
    reproduces the reference's array content).  ``tokens`` is derived
    JVM-side: the tokenizer's flat token sequence is exactly the
    whitespace split of the text (sentence splitting only re-groups,
    tokenization.py split_sentences), asserted against the Python
    tokenizer in tests."""
    docs = documents.select("doc_key", "text")
    tokens = F.filter(F.split(F.col("text"), r"\s+"),
                      lambda x: x != "")
    (graph.join(docs, "doc_key", "left")
     .select("doc_key",
             tokens.alias("tokens"),
             F.transform("mentions", lambda m: F.struct(
                 m.start.alias("start"),
                 m.end.alias("end"))).alias("mentions"),
             F.transform("entities", lambda e: F.struct(
                 e.mention_idxs.alias("mentions"),
                 e.type.alias("type"))).alias("entities"),
             F.transform("triples", lambda t: F.struct(
                 t.head_idx.alias("head"),
                 t.tail_idx.alias("tail"),
                 t.rel_type.alias("type"))).alias("relations"))
     .write.mode("overwrite").json(path))


_TPFPFN_STYLE = {"tp": "color:#0a0", "fp": "color:#c00",
                 "fn": "color:#c80"}


def _marked(kind: str, body: str) -> str:
    return (f"<li style='{_TPFPFN_STYLE[kind]}'>"
            f"[{kind.upper()}] {body}</li>")


def export_examples_html(graph: DataFrame, path: str,
                         limit: int = 25, gold: dict | None = None) -> None:
    """S8: small sampled HTML visualization of extractions (the shape
    of the reference's examples.html sink, ref joint_evaluator.py:
    137-207) — a debug artifact rendered from a bounded sample, never
    on the scale path.  No template engine: plain string rendering.

    ``gold``, when given, maps doc_key -> dict with 'mentions'
    (set of (start, end)), 'entities' (set of (span-set tuple, type))
    and 'triples' (set of (head span-set, head type, tail span-set,
    tail type, rel)) — the reference's eval identities — and every item
    is rendered color-coded as TP / FP / FN against it, matching the
    reference template's marking (ref joint_evaluator.py:185-207
    _get_tp_fn_fp)."""
    import html as _html
    rows = (graph.filter(F.size("triples") > 0)
            .select("doc_key", "mentions", "entities", "triples")
            .limit(limit).collect())
    parts = ["<html><head><meta charset='utf-8'>"
             "<title>extraction examples</title></head><body>"]
    for r in rows:
        parts.append(f"<h3>{_html.escape(r.doc_key)}</h3><ul>")
        ments = {m.mention_idx: m for m in r.mentions}
        ekey = {e.entity_idx: tuple((m.start, m.end) for m in sorted(
            (ments[i] for i in e.mention_idxs),
            key=lambda m: (m.start, m.end))) for e in r.entities}

        def esurf(e):
            return ", ".join(_html.escape(ments[i].phrase)
                             for i in e.mention_idxs)

        if gold is None:
            for e in r.entities:
                parts.append(
                    f"<li>E{e.entity_idx} <b>{e.type}</b>: {esurf(e)}</li>")
            for t in r.triples:
                parts.append(
                    f"<li>(E{t.head_idx}) -[{_html.escape(t.rel_type)}"
                    f" {t.score:.2f}]-> (E{t.tail_idx})</li>")
        else:
            g = gold.get(r.doc_key,
                         {"mentions": set(), "entities": set(),
                          "triples": set()})
            pred_m = {(m.start, m.end): m for m in r.mentions}
            for (s, e), m in sorted(pred_m.items()):
                kind = "tp" if (s, e) in g["mentions"] else "fp"
                parts.append(_marked(
                    kind, f"({s},{e}) {_html.escape(m.phrase)}"))
            for s, e in sorted(g["mentions"] - set(pred_m)):
                parts.append(_marked("fn", f"({s},{e})"))
            pred_e = {(ekey[e.entity_idx], e.type): e for e in r.entities}
            for key, e in sorted(pred_e.items()):
                kind = "tp" if key in g["entities"] else "fp"
                parts.append(_marked(
                    kind, f"E{e.entity_idx} <b>{e.type}</b>: {esurf(e)}"))
            for key in sorted(g["entities"] - set(pred_e)):
                parts.append(_marked("fn", f"<b>{key[1]}</b>: {key[0]}"))
            etype = {e.entity_idx: e.type for e in r.entities}
            pred_t = {(ekey[t.head_idx], etype[t.head_idx],
                       ekey[t.tail_idx], etype[t.tail_idx],
                       t.rel_type): t for t in r.triples}
            for key, t in sorted(pred_t.items()):
                kind = "tp" if key in g["triples"] else "fp"
                parts.append(_marked(
                    kind, f"(E{t.head_idx}) -[{_html.escape(t.rel_type)}"
                    f" {t.score:.2f}]-> (E{t.tail_idx})"))
            for key in sorted(g["triples"] - set(pred_t)):
                parts.append(_marked(
                    "fn", f"{key[0]} -[{_html.escape(key[4])}]-> {key[2]}"))
        parts.append("</ul>")
    parts.append("</body></html>")
    with open(path, "w") as f:
        f.write("\n".join(parts))


def write_graph(out_dir: str, canon_triples: DataFrame,
                canon_ents: DataFrame, edge_df: DataFrame) -> None:
    """S7 sinks: triples partitioned by rel_type (low cardinality,
    stable — consumers prune partitions), entities and edges flat.
    ``out_dir`` may be a path (parquet) or an ``iceberg:<db>`` prefix
    (atomic snapshot-commit tables) — see sources.write_table."""
    from .sources import is_table_ref, write_table
    sep = "." if is_table_ref(out_dir) else "/"
    write_table(canon_triples, f"{out_dir}{sep}triples",
                partition_by=("rel_type",))
    write_table(canon_ents, f"{out_dir}{sep}entities")
    write_table(edge_df, f"{out_dir}{sep}edges")
