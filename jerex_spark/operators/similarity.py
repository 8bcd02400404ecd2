"""Similarity search over the embeddings table.

Brute-force cosine top-k as the correctness baseline (oracle-checked
against DuckDB's list arithmetic) and a sign-LSH-bucketed variant as
the scale path: at 100 TB you never do the O(n*m) cross join — you
bucket both sides by hyperplane sign bits and join on the bucket, which
turns the scan into an equi-join AQE can plan.  Dot products run
JVM-side via higher-order functions (zip_with/aggregate) — no Python.
"""

from __future__ import annotations

import functools
import hashlib

import numpy as np
import pandas as pd
from pyspark.sql import functions as F

TOP_K = 5
N_QUERIES = 10
N_PLANES = 6


def _emb(spark, sf_dir):
    return (spark.read.parquet(f"{sf_dir}/embeddings.parquet")
            .select("vec_id",
                    F.transform("embedding",
                                lambda x: x.cast("double")).alias("vec")))


_DOT = ("aggregate(zip_with({a}, {b}, (x, y) -> x * y), "
        "cast(0.0 as double), (acc, v) -> acc + v)")


def _with_norm(df):
    return df.withColumn(
        "norm", F.expr("sqrt(" + _DOT.format(a="vec", b="vec") + ")"))


# --- brute-force cosine top-k (baseline) ---------------------------------
def ann_cosine_topk(spark, sf_dir):
    from pyspark.sql.window import Window
    emb = _with_norm(_emb(spark, sf_dir))
    q = (emb.filter(F.col("vec_id") < N_QUERIES)
         .select(F.col("vec_id").alias("query_id"),
                 F.col("vec").alias("qvec"), F.col("norm").alias("qnorm")))
    pairs = (emb.crossJoin(F.broadcast(q))
             .filter(F.col("vec_id") != F.col("query_id")))
    cos = F.expr(_DOT.format(a="qvec", b="vec")) / (
        F.col("qnorm") * F.col("norm"))
    ranked = pairs.select(
        "query_id", F.col("vec_id").alias("neighbor_id"),
        F.round(cos, 6).alias("cos6"))
    w = Window.partitionBy("query_id").orderBy(
        F.col("cos6").desc(), F.col("neighbor_id"))
    return (ranked.withColumn("rank", F.row_number().over(w))
            .filter(F.col("rank") <= TOP_K)
            .select("query_id", "neighbor_id",
                    F.round("cos6", 4).alias("cos"), "rank"))


ANN_SQL = f"""
WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS vec FROM embeddings),
n AS (SELECT vec_id, vec, sqrt(list_dot_product(vec, vec)) AS norm FROM e),
q AS (SELECT vec_id AS query_id, vec AS qvec, norm AS qnorm
      FROM n WHERE vec_id < {N_QUERIES}),
ranked AS (
  SELECT q.query_id, n.vec_id AS neighbor_id,
         ROUND(list_dot_product(q.qvec, n.vec) / (q.qnorm * n.norm), 6)
           AS cos6
  FROM q, n WHERE n.vec_id <> q.query_id),
top AS (
  SELECT query_id, neighbor_id, cos6,
         ROW_NUMBER() OVER (PARTITION BY query_id
                            ORDER BY cos6 DESC, neighbor_id) AS rank
  FROM ranked)
SELECT query_id, neighbor_id, ROUND(cos6, 4) AS cos, rank
FROM top WHERE rank <= {TOP_K}
"""


# --- sign-LSH bucketing (scale path; golden-oracle-backed) ---------------
# Bounded at MAX_BANDS x 32 planes (codes pack into int32, so no
# schedule is wider), so one query's planes never evict each other.
@functools.lru_cache(maxsize=256 * 32)
def _plane_weights(p: int, dim: int = 64) -> tuple[float, ...]:
    """Deterministic pseudo-random hyperplane: component j of plane p =
    +1/-1 by parity of the first md5 nibble of 'plane{p}|{j}' — the
    same values the DuckDB oracle derives in SQL.  Memoized: these are
    pure constants of (p, dim), and the auto schedule derives 100+
    planes per query, so re-hashing 64 md5s per plane per invocation
    was a measured slice of driver-side construction time."""
    return tuple(1.0 if int(hashlib.md5(f"plane{p}|{j}".encode())
                            .hexdigest()[0], 16) % 2 == 0 else -1.0
                 for j in range(dim))


def _plane_expr(p: int, dim: int = 64) -> str:
    """Plane weights as an ARRAY LITERAL: the md5 derivation runs once
    on the driver, not per row — as a Catalyst md5-in-transform
    expression it was re-evaluated dim times per plane per ROW (the
    dominant cost of the LSH queries at sf0.1)."""
    return ("array(" + ", ".join(
        f"{x:.1f}d" for x in _plane_weights(p, dim)) + ")")


def lsh_bucket_ann(spark, sf_dir):
    """Bucket vectors by sign of projection onto N_PLANES deterministic
    hyperplanes; candidate pairs share a bucket.  Returns per-bucket
    candidate counts (the blocking statistics a planner needs)."""
    emb = _emb(spark, sf_dir)
    sign_bits = []
    for p in range(N_PLANES):
        proj = _DOT.format(a="vec", b=_plane_expr(p))
        sign_bits.append(f"case when {proj} >= 0 then 1 else 0 end")
    bucket = F.expr(" || ".join(f"cast({b} as string)" for b in sign_bits))
    b = emb.select("vec_id", bucket.alias("bucket"))
    return (b.groupBy("bucket")
            .agg(F.count("*").alias("n_vecs"),
                 F.min("vec_id").alias("min_vec_id"))
            .orderBy("bucket"))


LSH_BUCKET_SQL = f"""
WITH e AS (SELECT vec_id, generate_subscripts(embedding, 1) - 1 AS j,
                  CAST(unnest(embedding) AS DOUBLE) AS v FROM embeddings),
pl AS (SELECT p.p, j.j,
              CASE WHEN (strpos('0123456789abcdef',
                         substr(md5('plane' || p.p || '|' || j.j), 1, 1))
                         - 1) % 2 = 0
                   THEN 1.0 ELSE -1.0 END AS w
       FROM (SELECT unnest(generate_series(0, {N_PLANES - 1})) AS p) p,
            (SELECT unnest(generate_series(0, 63)) AS j) j),
proj AS (SELECT e.vec_id, pl.p, SUM(e.v * pl.w) AS s
         FROM e JOIN pl ON e.j = pl.j GROUP BY e.vec_id, pl.p),
buck AS (SELECT vec_id,
                string_agg(CASE WHEN s >= 0 THEN '1' ELSE '0' END, ''
                           ORDER BY p) AS bucket
         FROM proj GROUP BY vec_id)
SELECT bucket, COUNT(*) AS n_vecs, MIN(vec_id) AS min_vec_id
FROM buck GROUP BY bucket
"""


# --- sign-LSH neighbor search: multi-band within-bucket top-k -----------
# (bands x bits) is the recall/candidate-volume dial.  Measured on the
# synthetic embeddings at sf0.001 (n=500, recall@5 vs brute force,
# candidate pairs after dedup; brute = 4990):
#
#     8 x 4: 0.62 (1996 pairs)     16 x 5: 0.62 (2000 pairs)
#    12 x 4: 0.82 (2708 pairs)     20 x 4: 0.92 (3875-)
#    16 x 4: 0.84 (3207 pairs)     24 x 4: 1.00 (3875 pairs)
#
# The synthetic corpus is sign-LSH's WORST case: embeddings are
# near-uniform (top-5 "neighbors" sit at cos ~0.4-0.5, per-bit
# collision p ~ 0.63), so hitting recall >= 0.9 needs 24 bands — a
# candidate fraction approaching brute force at this tiny n.  On a
# real web corpus near-dups sit at cos >= 0.8 (p ~ 0.80/bit), where
# e.g. 16 bands x 8 bits gives the same recall at ~n/16 candidates —
# raise ``band_bits`` with corpus closeness, not just ``n_bands``.
N_BANDS = 24
BAND_BITS = 4
# the closest neighbors lsh_topk must not miss sit at cos ~0.4 on the
# near-uniform synthetic corpus (see the table above) — the design
# point the auto schedule below keeps recalled as n grows
TOPK_DESIGN_COS = 0.4

# --- auto schedule: derive (n_bands, band_bits) from corpus size ---------
# Expected bucket size is n / 2^band_bits, so within-bucket exact work
# per band is n^2 / 2^bits: bits must GROW with n or buckets (and the
# candidate join) grow quadratically.  Recall is then restored by
# growing bands: a pair at cosine c collides per bit with
# p = 1 - acos(c)/pi, per band with p^bits, in any of B bands with
# 1 - (1-p^bits)^B — solve B for the design recall.  Because p > 1/2
# at any useful design cosine, each extra bit multiplies total
# candidate volume by 1/(2p) < 1 at constant recall: the schedule gets
# *cheaper* per pair as it scales.  Callers pass their design cosine
# (the closest pairs they must not miss); defaults are floors so the
# small-n measured operating points above never regress.
TARGET_BUCKET_ROWS = 64
MAX_BANDS = 256
DESIGN_RECALL = 0.95


def lsh_schedule(n_rows: int, design_cos: float,
                 n_bands: int | None = None,
                 band_bits: int | None = None,
                 min_bands: int = 1) -> tuple[int, int]:
    """Resolve explicit overrides or derive (n_bands, band_bits) for a
    corpus of ``n_rows`` vectors so bucket sizes stay ~TARGET_BUCKET_ROWS
    and pairs at ``design_cos`` are recalled with prob >= DESIGN_RECALL.

    The band count is capped at MAX_BANDS (the plane matmul and the
    band join scale linearly in bands).  The recall pin OUTRANKS the
    bucket-size target: past ~65k rows the derived band count for an
    auto-derived code length would exceed the cap, so the schedule
    shortens the codes instead (fewer bits -> higher per-band collision
    prob -> fewer bands reach the same recall) and warns about the
    resulting bucket growth — never a silent recall degradation.  If
    the recall still cannot be reached within MAX_BANDS — an explicit
    ``band_bits`` override, or a design cosine so low (< ~-0.5) that
    even BAND_BITS-length codes need more than MAX_BANDS bands — the
    schedule warns with the achieved recall estimate."""
    import math
    import warnings
    derived_bits = None
    if band_bits is None:
        band_bits = BAND_BITS
        if n_rows > TARGET_BUCKET_ROWS:
            band_bits = max(BAND_BITS,
                            math.ceil(math.log2(n_rows / TARGET_BUCKET_ROWS)))
        derived_bits = band_bits
    if n_bands is None:
        p_bit = 1.0 - math.acos(max(-1.0, min(1.0, design_cos))) / math.pi

        def need(bits: int) -> int:
            p_band = max(min(p_bit ** bits, 1.0 - 1e-12), 1e-12)
            return math.ceil(math.log(1.0 - DESIGN_RECALL)
                             / math.log(1.0 - p_band))

        if derived_bits is not None:
            while need(band_bits) > MAX_BANDS and band_bits > BAND_BITS:
                band_bits -= 1
            if band_bits < derived_bits and need(band_bits) <= MAX_BANDS:
                warnings.warn(
                    f"lsh_schedule: recall-pinned band count at "
                    f"{derived_bits} bits exceeds MAX_BANDS={MAX_BANDS}; "
                    f"shortened codes to {band_bits} bits to hold recall "
                    f">= {DESIGN_RECALL} at cos {design_cos} — expected "
                    f"bucket rows grow to ~{n_rows / 2 ** band_bits:.0f} "
                    f"(target {TARGET_BUCKET_ROWS}); candidate volume "
                    f"rises accordingly", stacklevel=2)
        if need(band_bits) > MAX_BANDS:
            p_band = max(min(p_bit ** band_bits, 1.0 - 1e-12), 1e-12)
            achieved = 1.0 - (1.0 - p_band) ** MAX_BANDS
            src = ("explicit" if derived_bits is None
                   else f"floor ({BAND_BITS}-bit codes still need "
                        f"{need(band_bits)} bands)")
            warnings.warn(
                f"lsh_schedule: band_bits={band_bits} ({src}) cannot "
                f"reach recall {DESIGN_RECALL} at cos {design_cos} "
                f"within MAX_BANDS={MAX_BANDS}; achieved recall "
                f"estimate ~{achieved:.3f}", stacklevel=2)
        n_bands = min(MAX_BANDS, max(min_bands, need(band_bits)))
    return n_bands, band_bits


def _band_buckets(df, vec_col="vec", n_bands: int = None,
                  band_bits: int = None):
    """(..., band, bucket): one row per (vector, band); bucket = the
    band's ``band_bits`` sign bits packed into an int.  Multi-band =
    multi-probe: a neighbor is a candidate if it shares ANY band's
    bucket, recovering the recall a single long code loses.

    All n_bands x band_bits plane projections are ONE Arrow-batched
    matmul in a pandas UDF (same deterministic _plane_weights planes).
    The previous all-Catalyst form — one aggregate(zip_with(vec,
    <64-element literal>)) expression per plane — was the right shape
    for the 6-plane oracle-checked lsh_bucket_ann, but at an
    auto-scheduled 125+ planes the generated expression tree exceeds
    whole-stage codegen and evaluates interpreted: measured 6.2s to
    bucket 2000 vectors at sf0.1, versus microseconds for the
    equivalent (rows x 64) @ (64 x planes) matmul.  This is the
    documented Pandas-UDF boundary: vectorized, no per-row Python.
    No SQL twin needed — the approximate queries consuming these
    buckets (lsh_topk, embdup_cosine_lsh) are oracle-checked against
    frozen golden rows (scripts/golden_ann.py), not via live SQL."""
    from pyspark.sql.functions import pandas_udf

    n_bands = N_BANDS if n_bands is None else n_bands
    band_bits = BAND_BITS if band_bits is None else band_bits
    P = np.array([_plane_weights(p) for p in range(n_bands * band_bits)],
                 dtype=np.float64).T                   # (dim, planes)
    packer = np.array([1 << (band_bits - 1 - i) for i in range(band_bits)],
                      dtype=np.int32)

    @pandas_udf("array<int>")
    def _codes(v: pd.Series) -> pd.Series:
        if len(v) == 0:
            return pd.Series([], dtype=object)
        X = np.array(v.tolist(), dtype=np.float64)     # (rows, dim)
        signs = (X @ P) >= 0                           # (rows, planes)
        C = (signs.reshape(len(X), n_bands, band_bits)
             * packer).sum(axis=2).astype(np.int32)
        return pd.Series(list(C))

    w = df.withColumn("_codes", _codes(F.col(vec_col)))
    return w.select(*df.columns,
                    F.posexplode("_codes").alias("band", "bucket"))


def lsh_topk(spark, sf_dir, top_k: int = TOP_K,
             n_queries: int = N_QUERIES, n_bands: int = None,
             band_bits: int = None):
    """ANN via sign-LSH blocking: bucket every vector under ``n_bands``
    independent ``band_bits``-bit codes, equi-join queries to vectors on
    (band, bucket), exact cosine only within shared buckets, window
    top-k.  The join is the standard LSH scale shape — candidates are
    O(bucket collisions), never O(n*m).  Approximate by construction,
    but deterministic at a fixed corpus (md5-derived planes) ->
    oracle-checked against frozen golden rows from an independent
    numpy implementation (scripts/golden_ann.py); recall@5 = 1.0 vs
    brute force at the default operating point, pinned >= 0.9 in
    tests/test_similarity.py (see the bands-x-bits table above)."""
    from pyspark.sql.window import Window

    from ..caching import persist_tracked

    emb = persist_tracked(_with_norm(_emb(spark, sf_dir)))
    if n_bands is None or band_bits is None:
        # the count also materializes the persisted table we join twice
        n_bands, band_bits = lsh_schedule(
            emb.count(), design_cos=TOPK_DESIGN_COS,
            n_bands=n_bands, band_bits=band_bits, min_bands=N_BANDS)
    data_b = _band_buckets(emb, n_bands=n_bands, band_bits=band_bits)
    q_b = _band_buckets(
        emb.filter(F.col("vec_id") < n_queries)
        .select(F.col("vec_id").alias("query_id"),
                F.col("vec").alias("qvec"), F.col("norm").alias("qnorm")),
        vec_col="qvec", n_bands=n_bands, band_bits=band_bits)
    # explicit broadcast of the QUERY side: it is bounded (n_queries x
    # n_bands rows) at any corpus size, while the data side's size
    # estimate passes through a pandas UDF + posexplode, which Catalyst
    # underestimates — left alone it picked the corpus side as the
    # broadcast build and OOM'd the driver at the 10x probe scale
    cand = (F.broadcast(q_b).join(data_b, ["band", "bucket"])
            .filter(F.col("vec_id") != F.col("query_id")))
    cos = F.expr(_DOT.format(a="qvec", b="vec")) / (
        F.col("qnorm") * F.col("norm"))
    # compute cosine BEFORE the dedup so the distinct shuffles 3 scalar
    # columns, not two 64-dim arrays (multi-band duplicates carry
    # identical payloads, so the cosine is identical too)
    ranked = (cand.select("query_id", F.col("vec_id").alias("neighbor_id"),
                          F.round(cos, 6).alias("cos6"))
              .distinct())
    w = Window.partitionBy("query_id").orderBy(
        F.col("cos6").desc(), F.col("neighbor_id"))
    return (ranked.withColumn("rank", F.row_number().over(w))
            .filter(F.col("rank") <= top_k)
            .select("query_id", "neighbor_id",
                    F.round("cos6", 4).alias("cos"), "rank"))


# --- IVF: KMeans coarse quantizer + nprobe search (scale path) ----------
# The nprobe/ncells fraction is a DATA property, not an implementation
# dial: recall ~= probability the true neighbors' cells are probed.  On
# clustered embeddings (the real-corpus case) neighbors share their
# query's cell and a few probes suffice — measured recall@5 = 1.0 at
# 16 cells x 4 probes on an 8-cluster corpus
# (tests/test_similarity.py::test_ivf_recall_clustered).  The synthetic
# bench corpus is near-UNIFORM (no cluster structure), so holding the
# >= 0.9 recall pin there forces probing most cells: 10/12 measures
# recall 0.96 vs brute force at sf0.01.  Defaults target the pin on
# the worst case; on clustered data lower N_PROBE for speed.
N_CELLS = 12
N_PROBE = 10


KMEANS_SAMPLE_TARGET = 400 * N_CELLS   # training points for the quantizer
KMEANS_MAX_ITER = 8

# quantizer centroids per corpus: the coarse quantizer is a pure
# function of the corpus (deterministic hash-sample + pinned seed), so
# repeat ivf_topk calls in one session — bench loops, notebooks — skip
# the sample job + fit.  The key carries a FILE signature (relative
# path, size, mtime of every file under the embeddings path) alongside
# (sf_dir, row count), so a corpus rewritten in place invalidates the
# cache instead of silently serving stale centroids.
_CENTROID_CACHE: dict[tuple, "np.ndarray"] = {}


def _file_sig(path: str) -> tuple:
    """Cheap content-change signature of a parquet file/directory:
    sorted (relpath, size, mtime_ns) of every file under it.  Pure
    driver-side stat calls — no Spark job."""
    import os
    if os.path.isfile(path):
        st = os.stat(path)
        return ((os.path.basename(path), st.st_size, st.st_mtime_ns),)
    out = []
    for root, _dirs, files in os.walk(path):
        for f in files:
            fp = os.path.join(root, f)
            st = os.stat(fp)
            out.append((os.path.relpath(fp, path), st.st_size,
                        st.st_mtime_ns))
    return tuple(sorted(out))


def _fit_kmeans_np(X, k: int, seed: int = 42,
                   iters: int = KMEANS_MAX_ITER):
    """Deterministic Lloyd's k-means with k-means++ init on a bounded
    driver-side sample (numpy).  The coarse quantizer needs only a few
    thousand training points; fitting distributed (one Spark job per
    iteration) paid ~10s of scheduling for milliseconds of math."""
    import numpy as np
    if len(X) == 0:
        raise ValueError(
            "k-means sample is empty — the embeddings table has no rows")
    rng = np.random.default_rng(seed)
    centers = [X[rng.integers(len(X))]]
    for _ in range(k - 1):
        d2 = np.min(((X[:, None, :] - np.asarray(centers)[None]) ** 2)
                    .sum(-1), axis=1)
        tot = d2.sum()
        if tot == 0:        # all sampled vectors identical (or dup-heavy)
            centers.append(X[rng.integers(len(X))])
        else:
            centers.append(X[rng.choice(len(X), p=d2 / tot)])
    C = np.asarray(centers)
    for _ in range(iters):
        assign = np.argmin(((X[:, None, :] - C[None]) ** 2).sum(-1),
                           axis=1)
        for c in range(k):
            m = assign == c
            if m.any():
                C[c] = X[m].mean(axis=0)
    return C


def _cell_assign_col(centers) -> "F.Column":
    """argmin-distance cell id as one Arrow-batched numpy argmin
    (np.argmin = deterministic lowest-index tie-break, matching the
    torch/least() convention).  The previous all-Catalyst form — one
    aggregate(zip_with(vec, <64-element literal>)) per centroid inside
    least() on (dist, idx) structs — was measured at ~20s of
    analysis/codegen per fresh plan (the same expression-size blowup
    _band_buckets hit); the matmul form is milliseconds and carries
    the bounded (k x d) centroid matrix in the UDF closure, so it
    stays shuffle-free at any corpus size."""
    import numpy as np
    import pandas as pd
    from pyspark.sql.functions import pandas_udf

    Cm = np.asarray(centers, dtype=np.float64)         # (k, d)

    @pandas_udf("int")
    def _cell(v: pd.Series) -> pd.Series:
        if len(v) == 0:
            return pd.Series([], dtype="int32")
        X = np.array(v.tolist(), dtype=np.float64)     # (rows, d)
        # direct (x - c)^2 form, same op order as _fit_kmeans_np's
        # assignment step; Arrow batches bound the (rows, k, d) temp
        d2 = ((X[:, None, :] - Cm[None]) ** 2).sum(-1)
        return pd.Series(np.argmin(d2, axis=1).astype("int32"))

    return _cell(F.col("vec"))


def ivf_topk(spark, sf_dir, top_k: int = TOP_K,
             n_queries: int = N_QUERIES):
    """Inverted-file ANN: cluster vectors into N_CELLS, assign every
    vector to its cell, then search each query only in its N_PROBE
    nearest cells.  At corpus scale the cell assignment is the
    partition/bucket key, so the search is an equi-join instead of a
    cross join.

    The quantizer is fit driver-side (numpy Lloyd's) on a deterministic
    hash-sample of ~KMEANS_SAMPLE_TARGET vectors — a coarse quantizer's
    centroids converge on a bounded sample at ANY corpus size, so the
    driver memory is constant; v1's full-table MLlib fit ran 20
    iterations x full scans and dominated the bench suite.  Cell
    assignment is an Arrow-batched numpy argmin (_cell_assign_col —
    the earlier all-Catalyst least()-struct form cost ~20s of
    analysis/codegen per fresh plan).  Approximate by construction,
    but deterministic at a fixed corpus (pinned sample order + k-means
    seed) -> oracle-checked against frozen golden rows from an
    independent numpy implementation (scripts/golden_ann.py); recall
    vs brute force is asserted in tests/test_similarity.py."""
    from pyspark.sql.window import Window

    from ..caching import persist_tracked

    emb = persist_tracked(_with_norm(_emb(spark, sf_dir)))
    # deterministic pseudo-random sample, independent of partition
    # layout and corpus size: order by a hash of the id and take the
    # first KMEANS_SAMPLE_TARGET rows.  Plans as TakeOrderedAndProject
    # (per-partition top-K heap + driver merge), so exactly ONE pass
    # over the table and the driver never holds more than TARGET rows —
    # no extra count() action to size a fraction (the v2 per-mille
    # scheme needed one, and its 1/1000 floor grew the sample ~n/1000).
    import numpy as np
    # the count also materializes the persisted table we join below
    ckey = (sf_dir, emb.count(),
            _file_sig(f"{sf_dir}/embeddings.parquet"))
    C = _CENTROID_CACHE.get(ckey)
    if C is None:
        sample = np.asarray(
            emb.orderBy(F.xxhash64(F.col("vec_id")), F.col("vec_id"))
            .limit(KMEANS_SAMPLE_TARGET).select("vec")
            .toPandas()["vec"].tolist())
        C = _CENTROID_CACHE[ckey] = _fit_kmeans_np(sample, N_CELLS)
    assigned = emb.select("vec_id", "vec", "norm",
                          _cell_assign_col(C).alias("cell"))

    centers = spark.createDataFrame(
        [(i, [float(x) for x in c]) for i, c in enumerate(C)],
        ["cell", "cvec"])
    q = (assigned.filter(F.col("vec_id") < n_queries)
         .select(F.col("vec_id").alias("query_id"),
                 F.col("vec").alias("qvec"), F.col("norm").alias("qnorm")))
    # top-nprobe cells per query by euclidean distance to centroid
    qc = q.crossJoin(F.broadcast(centers)).withColumn(
        "dist", F.expr(
            "aggregate(zip_with(qvec, cvec, (x, y) -> (x - y) * (x - y)),"
            " cast(0.0 as double), (acc, v) -> acc + v)"))
    wq = Window.partitionBy("query_id").orderBy("dist", "cell")
    probes = (qc.withColumn("rn", F.row_number().over(wq))
              .filter(F.col("rn") <= N_PROBE)
              .select("query_id", "qvec", "qnorm", "cell"))
    # probes is bounded (n_queries x N_PROBE rows) at any corpus size;
    # broadcast it explicitly so the corpus side is never the build side
    cand = (F.broadcast(probes).join(assigned, "cell")
            .filter(F.col("vec_id") != F.col("query_id")))
    cos = F.expr(_DOT.format(a="qvec", b="vec")) / (
        F.col("qnorm") * F.col("norm"))
    ranked = cand.select("query_id", F.col("vec_id").alias("neighbor_id"),
                         F.round(cos, 6).alias("cos6"))
    w = Window.partitionBy("query_id").orderBy(
        F.col("cos6").desc(), F.col("neighbor_id"))
    return (ranked.withColumn("rank", F.row_number().over(w))
            .filter(F.col("rank") <= top_k)
            .select("query_id", "neighbor_id",
                    F.round("cos6", 4).alias("cos"), "rank"))


# --- int8 scalar quantization (ANN storage compression) -----------------
def _quantized(df):
    """Append per-vector min-max bounds (lo, hi) and the uint8 code
    array ``q`` (see :func:`emb_quantize` for the determinism
    argument).  Shared by the per-vector and per-label queries so the
    quantizer can never drift between them."""
    return (df
            .withColumn("lo", F.array_min("vec"))
            .withColumn("hi", F.array_max("vec"))
            .withColumn("q", F.expr(
                "transform(vec, x -> CASE WHEN hi = lo THEN CAST(0 AS BIGINT)"
                " ELSE least(CAST(255 AS BIGINT), greatest(CAST(0 AS BIGINT),"
                " CAST(floor(((x - lo) * CAST(255 AS DOUBLE)) / (hi - lo))"
                " AS BIGINT))) END)")))


def emb_quantize(spark, sf_dir):
    """(vec_id, n_dims, q_sum, q_nonzero, q_head): per-vector uint8
    scalar quantization — the storage form an ANN index keeps at scale
    (4x smaller than f32; IVF/LSH distances tolerate it).  Each vector
    is min-max quantized to ``q_i = floor((x_i - lo) * 255 / (hi -
    lo))`` clamped to [0, 255] (constant vectors -> all zeros), with
    integer summaries emitted: element sum, nonzero count, and the
    first 8 codes as a csv string.

    Cross-engine determinism: every arithmetic step is ELEMENTWISE
    IEEE double with identical operand bits and op order (the f32
    parquet values cast exactly to double; no reduction reorders fp),
    so Spark and DuckDB produce identical codes and the summaries are
    pure integers.  Pure Catalyst array expressions, no Python: embeds
    in whole-stage codegen and needs no shuffle at all."""
    d = _quantized(_emb(spark, sf_dir))
    return d.select(
        "vec_id",
        F.size("vec").cast("long").alias("n_dims"),
        F.expr("aggregate(q, CAST(0 AS BIGINT), (acc, v) -> acc + v)")
        .alias("q_sum"),
        F.size(F.filter("q", lambda x: x > 0)).cast("long")
        .alias("q_nonzero"),
        F.concat_ws(",", F.transform(F.slice("q", 1, 8),
                                     lambda x: x.cast("string")))
        .alias("q_head"))


EMB_QUANTIZE_SQL = """
WITH b AS (
  SELECT vec_id, vec, list_min(vec) AS lo, list_max(vec) AS hi
  FROM (SELECT vec_id,
               list_transform(embedding, x -> CAST(x AS DOUBLE)) AS vec
        FROM embeddings)),
q AS (
  SELECT vec_id, len(vec) AS n_dims,
         list_transform(vec, x ->
           CASE WHEN hi = lo THEN CAST(0 AS BIGINT)
                ELSE LEAST(CAST(255 AS BIGINT), GREATEST(CAST(0 AS BIGINT),
                     CAST(floor(((x - lo) * CAST(255 AS DOUBLE))
                                / (hi - lo)) AS BIGINT))) END) AS ql
  FROM b)
SELECT vec_id, CAST(n_dims AS BIGINT) AS n_dims,
       COALESCE(CAST(list_sum(ql) AS BIGINT), 0) AS q_sum,
       CAST(len(list_filter(ql, x -> x > 0)) AS BIGINT) AS q_nonzero,
       array_to_string(ql[1:8], ',') AS q_head
FROM q
"""


def emb_centroids_q(spark, sf_dir):
    """(label, dim, q_sum, n_vecs): per-class integer centroid of the
    quantized embeddings — the sum of uint8 codes and the vector count
    per (label, dimension), from which a consumer derives any centroid
    variant exactly (mean = q_sum/n_vecs in whatever precision it
    wants).  This is the distributed reduction an IVF-style index
    training or per-class drift monitor runs over the code table; the
    fp division is deliberately NOT emitted (cross-engine fp division
    of integer sums is reproducible, but the integers are the stronger
    contract and feed every downstream variant).

    Scale shape: posexplode multiplies rows by n_dims, but the groupBy
    key (label, dim) has bounded cardinality (classes x dims), so
    map-side partial aggregation collapses each partition to that
    constant-size state before the one shuffle.  Pure Catalyst."""
    d = _quantized(
        spark.read.parquet(f"{sf_dir}/embeddings.parquet")
        .select(F.col("label").cast("long").alias("label"),
                F.transform("embedding",
                            lambda x: x.cast("double")).alias("vec")))
    return (d.select("label", F.posexplode("q").alias("dim", "code"))
            .groupBy("label", "dim")
            .agg(F.sum("code").alias("q_sum"),
                 F.count("*").alias("n_vecs"))
            .select("label", F.col("dim").cast("long").alias("dim"),
                    "q_sum", F.col("n_vecs").cast("long").alias("n_vecs")))


EMB_CENTROIDS_SQL = """
WITH b AS (
  SELECT label, vec, list_min(vec) AS lo, list_max(vec) AS hi
  FROM (SELECT label,
               list_transform(embedding, x -> CAST(x AS DOUBLE)) AS vec
        FROM embeddings)),
q AS (
  SELECT label,
         list_transform(vec, x ->
           CASE WHEN hi = lo THEN CAST(0 AS BIGINT)
                ELSE LEAST(CAST(255 AS BIGINT), GREATEST(CAST(0 AS BIGINT),
                     CAST(floor(((x - lo) * CAST(255 AS DOUBLE))
                                / (hi - lo)) AS BIGINT))) END) AS ql
  FROM b),
c AS (
  SELECT label, generate_subscripts(ql, 1) - 1 AS dim, unnest(ql) AS code
  FROM q)
SELECT CAST(label AS BIGINT) AS label, CAST(dim AS BIGINT) AS dim,
       CAST(SUM(code) AS BIGINT) AS q_sum,
       CAST(COUNT(*) AS BIGINT) AS n_vecs
FROM c GROUP BY label, dim
"""


from .golden import golden_emb_sql as _golden_emb_sql

_ANN_COLS = ["query_id", "neighbor_id", "cos", "rank"]

QUERIES = {
    "ann_cosine_topk": (ann_cosine_topk, ANN_SQL),
    "lsh_bucket_ann": (lsh_bucket_ann, LSH_BUCKET_SQL),
    "emb_quantize": (emb_quantize, EMB_QUANTIZE_SQL),
    "emb_centroids_q": (emb_centroids_q, EMB_CENTROIDS_SQL),
    # approximate by construction but deterministic at a fixed corpus:
    # oracle = frozen golden rows from the independent numpy
    # implementation (scripts/golden_ann.py), selected by the
    # embeddings-table content signature
    "lsh_topk": (lsh_topk, _golden_emb_sql("lsh_topk", _ANN_COLS)),
    "ivf_topk": (ivf_topk, _golden_emb_sql("ivf_topk", _ANN_COLS)),
}
