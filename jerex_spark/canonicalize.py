"""Entity canonicalization: broadcast alias dictionary + MinHash-LSH
blocking + within-block verify (SURVEY.md §7.1 step 5).

The reference has no cross-document linking (all JEREX ops are
intra-document); canonicalization is the rebuild's addition that turns
per-document entity clusters into corpus-level canonical ids:

1. normalize the entity surface form (lowercase, squeeze whitespace);
2. exact-match against the alias dictionary — a *broadcast* hash join
   (the dict is small by construction: ~10^6 rows max at web scale);
3. for misses, MinHash-LSH blocking over character 3-gram shingles of
   the surface (md5-based minhash signatures — same portable scheme as
   operators/dedup.py) joins candidates to aliases sharing a band, and
   the within-block verify keeps the best alias by edit-distance ratio
   <= ``max_ed_ratio`` (built-in ``levenshtein`` — JVM-side);
4. anything still unmatched becomes self-canonical:
   ``canonical_id = 'self:' || md5(norm_phrase)``.

Scale path: step 2 is a broadcast join (no shuffle of the big side);
step 3 shuffles only the *unmatched minority* on (hash_id, sig), which
AQE skew-splits if one band is hot.  The verdict is persisted, so AQE
covers these shuffles only because the session turns on
``canChangeCachedPlanOutputPartitioning`` (session.py).  No driver-side
loops.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

N_HASHES = 6
SHINGLE_C = 3          # character shingles
MAX_ED_RATIO = 0.34    # verify: levenshtein / greatest(len) must be <=


def normalize_phrase(col):
    return F.regexp_replace(F.trim(F.lower(col)), r"\s+", " ")


def _char_shingles(col_name: str, k: int = SHINGLE_C):
    """All k-char shingles of the named string column as an array
    column (JVM-side).  One ``F.expr`` string: the composed-Column
    form cost ~a dozen py4j round trips per call site, a measured
    slice of canon_gazetteer's driver-side construction time — the
    parsed expression tree is identical."""
    c = f"`{col_name}`"   # quoted: a keyword or a name with a space
    return F.expr(
        f"transform(sequence(1, greatest(length({c}) - {k - 1}, "
        f"1)), i -> substring({c}, i, {k}))")


def _minhash_sigs(df: DataFrame, text_col: str, id_cols: list[str]):
    """(id_cols..., hash_id, sig) minhash signatures over char
    shingles, MAP-ONLY: each per-row minimum is ``array_min`` over the
    md5-transformed distinct-shingle array, unpivoted with ``stack``.
    Value-identical to the oracle's explode + GROUP BY MIN (min over
    the multiset == min over the set; rows here are unique per id by
    construction), with no exchange and none of the Sort+SortAggregate
    pairs a var-length string min used to force — same move as
    operators/dedup._sig_table."""
    def one_min(i: int):
        # one F.expr per hash id (construction cost; identical tree)
        return F.expr(
            f"array_min(transform(`sharr`, "
            f"s -> md5(concat_ws('|', '{i}', s))))").alias(f"s{i}")

    mins = (df.select(*id_cols,
                      F.array_distinct(_char_shingles(text_col))
                      .alias("sharr"))
            .select(*id_cols, *[one_min(i) for i in range(N_HASHES)]))
    stacked = ", ".join(f"{i}, s{i}" for i in range(N_HASHES))
    return mins.select(
        *id_cols,
        F.expr(f"stack({N_HASHES}, {stacked}) AS (hash_id, sig)"))


def canonicalize_form_verdicts(forms: DataFrame,
                               alias_dict: DataFrame) -> DataFrame:
    """forms(norm) x alias_dict(alias, canonical_id) ->
    (norm, canonical_id, match_kind) — one verdict per distinct
    normalized surface form.

    The whole alias/LSH/verify machinery depends only on the surface
    form, never on which document mentioned it — so it runs over the
    *vocabulary* (sublinear in mention instances by Zipf), not per
    mention instance.  The instance table only pays one equi-join to
    pick up its verdict (canonicalize_entities below).
    """
    # one canonical_id per alias_norm: two dictionary rows normalizing
    # to the same surface ('Acme  Corp'/Q1, 'acme corp'/Q2) must not
    # fan out entity rows — deterministic min() tie-break, matching the
    # LSH branch's (ratio, canonical_id) ordering
    dict_n = (alias_dict
              .withColumn("alias_norm", normalize_phrase(F.col("alias")))
              .groupBy("alias_norm")
              .agg(F.min("canonical_id").alias("canonical_id")))

    # 1) exact broadcast join at the form level
    exact = forms.join(F.broadcast(dict_n),
                       forms.norm == dict_n.alias_norm, "left")
    hit_forms = (exact.filter(F.col("canonical_id").isNotNull())
                 .select("norm", "canonical_id",
                         F.lit("exact").alias("match_kind")))
    miss_forms = exact.filter(F.col("canonical_id").isNull()).select("norm")

    # 2) LSH blocking for the miss forms
    ent_sig = _minhash_sigs(miss_forms, "norm", ["norm"])
    dict_sig = _minhash_sigs(dict_n.withColumnRenamed("alias_norm", "a"),
                             "a", ["a", "canonical_id"])
    cand = (ent_sig.join(dict_sig, ["hash_id", "sig"])
            .select("norm", "a", "canonical_id")
            .distinct())
    verified = (cand
                .withColumn("ed", F.levenshtein("norm", "a"))
                .withColumn("ratio", F.col("ed") / F.greatest(
                    F.length("norm"), F.length("a")))
                .filter(F.col("ratio") <= MAX_ED_RATIO))
    # best alias per form: lowest (ratio, canonical_id) — deterministic
    from pyspark.sql.window import Window
    w = Window.partitionBy("norm").orderBy(
        F.col("ratio"), F.col("canonical_id"))
    best = (verified.withColumn("rn", F.row_number().over(w))
            .filter(F.col("rn") == 1)
            .select("norm", F.col("canonical_id").alias("lsh_canonical_id")))

    fuzzy = (miss_forms.join(best, "norm", "left")
             .select("norm",
                     F.coalesce(F.col("lsh_canonical_id"),
                                F.concat(F.lit("self:"), F.md5("norm")))
                     .alias("canonical_id"),
                     F.when(F.col("lsh_canonical_id").isNotNull(), "lsh")
                     .otherwise(F.lit("self")).alias("match_kind")))
    return hit_forms.unionByName(fuzzy)


def canonicalize_entities(entities: DataFrame, alias_dict: DataFrame,
                          phrase_col: str = "phrase") -> DataFrame:
    """entities(doc_key, entity_idx, <phrase_col>, ...) x
    alias_dict(alias, canonical_id) -> + (canonical_id, match_kind).

    Runs the alias/LSH/verify stage once per DISTINCT normalized
    surface form (canonicalize_form_verdicts), then equi-joins the
    verdict back onto the mention instances — the vocabulary is orders
    of magnitude smaller than the instance table on any Zipfian corpus.
    The verdict join carries no hint: AQE broadcasts it when the
    vocabulary is small and falls back to a shuffle join when it isn't.

    The verdict is persisted: the KG tail reads the result twice (the
    canonical triples and the entity table), and uncached each read
    would re-run the LSH verify and its window.  The cached plan keeps
    AQE (session.py), and ``release_persisted()`` frees it.
    """
    from .caching import persist_tracked
    ents = entities.withColumn("norm", normalize_phrase(F.col(phrase_col)))
    # the vocabulary feeds both the exact and miss branches; inside the
    # cached verdict plan the two share one exchange (ReusedExchange)
    forms = ents.select("norm").distinct()
    verdict = persist_tracked(canonicalize_form_verdicts(forms, alias_dict))
    return ents.join(verdict, "norm").drop("norm")
