"""IVF ANN quality (recall vs brute force) and streaming stateful
dedup (dropDuplicates under readStream — built-in stateful operator).
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from jerex_spark.operators.similarity import ann_cosine_topk, ivf_topk, \
    lsh_topk


def test_ivf_recall_vs_bruteforce(spark, sf001):
    """Default operating point holds >= 0.9 even on the near-uniform
    synthetic corpus (IVF's worst case — no cluster structure, so the
    probed fraction must approach 1; see the constants' comment)."""
    exact = {(r.query_id, r.neighbor_id)
             for r in ann_cosine_topk(spark, sf001).collect()}
    approx = {(r.query_id, r.neighbor_id)
              for r in ivf_topk(spark, sf001).collect()}
    assert approx, "ivf returned nothing"
    recall = len(exact & approx) / len(exact)
    assert recall >= 0.9, f"IVF recall@5 {recall:.2f}"


def test_ivf_recall_clustered(spark, tmp_path):
    """On clustered embeddings — the case IVF exists for — a small
    probe fraction (4 of 16 cells) already reaches full recall: the
    quantizer, cell assignment, and probe ranking are all doing their
    job; the big default N_PROBE is purely the uniform-corpus pin."""
    import numpy as np
    import pandas as pd

    import jerex_spark.operators.similarity as S
    rng = np.random.default_rng(7)
    centers = rng.normal(size=(8, 64)) * 3
    X = np.concatenate([c + rng.normal(size=(60, 64)) * 0.3
                        for c in centers])
    pd.DataFrame({
        "vec_id": range(len(X)),
        "embedding": [[float(v) for v in x] for x in X],
    }).to_parquet(tmp_path / "embeddings.parquet", index=False)
    d = str(tmp_path)
    exact = {(r.query_id, r.neighbor_id)
             for r in ann_cosine_topk(spark, d).collect()}
    orig = S.N_CELLS, S.N_PROBE
    S.N_CELLS, S.N_PROBE = 16, 4
    try:
        approx = {(r.query_id, r.neighbor_id)
                  for r in ivf_topk(spark, d).collect()}
    finally:
        S.N_CELLS, S.N_PROBE = orig
    recall = len(exact & approx) / len(exact)
    assert recall >= 0.9, f"clustered IVF recall@5 {recall:.2f}"


def test_ivf_deterministic(spark, sf001):
    a = sorted(map(tuple, ivf_topk(spark, sf001).collect()))
    b = sorted(map(tuple, ivf_topk(spark, sf001).collect()))
    assert a == b


def test_lsh_topk_recall_vs_bruteforce(spark, sf001):
    """The sign-LSH path is a real neighbor search (within-bucket
    top-k), not just bucket statistics.  The default operating point
    (24 bands x 4 bits — see the measured bands-x-bits table in
    similarity.py) must hold recall@5 >= 0.9 even on these
    near-uniform synthetic embeddings (sign-LSH's worst case), and the
    candidate set must stay strictly below the brute-force pair count
    — the whole point of the blocking."""
    from pyspark.sql import functions as F

    from jerex_spark.operators.similarity import (_band_buckets, _emb,
                                                  _with_norm, N_QUERIES)
    exact = {(r.query_id, r.neighbor_id)
             for r in ann_cosine_topk(spark, sf001).collect()}
    approx = {(r.query_id, r.neighbor_id)
              for r in lsh_topk(spark, sf001).collect()}
    assert approx, "lsh returned nothing"
    recall = len(exact & approx) / len(exact)
    assert recall >= 0.9, f"LSH recall@5 {recall:.2f}"

    # candidate volume at the same operating point
    emb = _with_norm(_emb(spark, sf001))
    n = emb.count()
    data_b = _band_buckets(emb)
    q_b = _band_buckets(
        emb.filter(F.col("vec_id") < N_QUERIES)
        .select(F.col("vec_id").alias("query_id"),
                F.col("vec").alias("qvec")), vec_col="qvec")
    cand = (q_b.join(data_b, ["band", "bucket"])
            .filter(F.col("vec_id") != F.col("query_id"))
            .select("query_id", "vec_id").distinct().count())
    brute = N_QUERIES * (n - 1)
    print(f"lsh_topk candidates: {cand} / brute {brute} "
          f"({cand / brute:.2f}) at recall {recall:.2f}")
    assert cand < brute


def test_lsh_topk_deterministic(spark, sf001):
    a = sorted(map(tuple, lsh_topk(spark, sf001).collect()))
    b = sorted(map(tuple, lsh_topk(spark, sf001).collect()))
    assert a == b


def test_embdup_lsh_recall_vs_exact(spark, sf001):
    """Embedding-cosine near-dup: the LSH-gated scale path must find
    most of the exact O(n^2) baseline's pairs, and never a false one
    (the cosine filter inside the buckets is exact)."""
    from jerex_spark.operators.dedup import (embdup_cosine_exact,
                                             embdup_cosine_lsh)
    exact = {(r.id_a, r.id_b)
             for r in embdup_cosine_exact(spark, sf001).collect()}
    approx = {(r.id_a, r.id_b)
              for r in embdup_cosine_lsh(spark, sf001).collect()}
    assert exact, "threshold too high for the corpus — no dup pairs"
    assert approx <= exact                      # no false positives
    recall = len(approx) / len(exact)
    assert recall >= 0.9, f"embdup LSH recall {recall:.2f}"


def test_allpairs_baselines_guarded(spark, sf001):
    """The two O(n^2) exact anchors refuse corpus-sized inputs."""
    import jerex_spark.operators.dedup as D
    orig = D.MAX_ALLPAIRS_ROWS
    D.MAX_ALLPAIRS_ROWS = 10
    try:
        with pytest.raises(ValueError, match="O\\(n\\^2\\)"):
            D.ngram_jaccard(spark, sf001)
        with pytest.raises(ValueError, match="O\\(n\\^2\\)"):
            D.embdup_cosine_exact(spark, sf001)
    finally:
        D.MAX_ALLPAIRS_ROWS = orig
    # under the cap both still run (oracle keeps them green at sf0.01)
    assert D.ngram_jaccard(spark, sf001).count() > 0


def test_kmeans_degenerate_samples():
    """k-means++ must survive a sample of identical vectors (d2 sums
    to zero -> uniform fallback) and fail loudly on an empty sample."""
    import numpy as np

    from jerex_spark.operators.similarity import _fit_kmeans_np
    C = _fit_kmeans_np(np.ones((50, 8)), 4)
    assert C.shape == (4, 8) and np.allclose(C, 1.0)
    with pytest.raises(ValueError, match="empty"):
        _fit_kmeans_np(np.empty((0, 8)), 4)


def test_streaming_stateful_dedup(spark, tmp_path):
    """Exact-dedup as a stateful streaming op: duplicate doc_keys
    across microbatches are dropped by state, not within-batch luck."""
    src = str(tmp_path / "dup_in")
    rows = [(f"d{i % 40}", f"text {i % 40}") for i in range(200)]
    (spark.createDataFrame(rows, ["doc_key", "text"])
     .repartition(10).write.parquet(src))
    stream = (spark.readStream.schema("doc_key string, text string")
              .option("maxFilesPerTrigger", "2").parquet(src))
    q = (stream.dropDuplicates(["doc_key"])
         .writeStream.format("memory").queryName("dedup_stream")
         .outputMode("append").trigger(availableNow=True).start())
    q.awaitTermination(120)
    got = spark.sql("select doc_key from dedup_stream").collect()
    keys = [r.doc_key for r in got]
    assert len(keys) == 40 and len(set(keys)) == 40


def test_embdup_lsh_collapses_exact_duplicates(spark, tmp_path):
    """Duplicate-heavy corpus (the web/replica pathology): the LSH path
    collapses identical vectors before banding, then expands intra- and
    cross-group pairs — output must equal the exact O(n^2) baseline's,
    cosines included, while LSH work is done on distinct vectors only."""
    import numpy as np
    import pandas as pd

    from jerex_spark.operators.dedup import (embdup_cosine_exact,
                                             embdup_cosine_lsh)
    rng = np.random.default_rng(21)
    base = rng.normal(size=(40, 64))
    # 3 exact copies of each of the first 10 vectors + 30 singletons
    vecs = list(base) + [base[i % 10] for i in range(20)]
    pd.DataFrame({
        "vec_id": range(len(vecs)),
        "embedding": [[float(v) for v in x] for x in vecs],
    }).to_parquet(tmp_path / "embeddings.parquet", index=False)
    d = str(tmp_path)
    exact = {(r.id_a, r.id_b, r.cos)
             for r in embdup_cosine_exact(spark, d, threshold=0.9).collect()}
    approx = {(r.id_a, r.id_b, r.cos)
              for r in embdup_cosine_lsh(spark, d, threshold=0.9).collect()}
    assert exact, "no dup pairs in the fixture"
    # every exact-dup pair must be present (recall 1.0 by construction
    # for identical vectors) and no pair may be invented
    assert approx == exact


def _kernel_vs_catalyst(spark, d):
    """(kernel, catalyst) unrounded cosines of every pair of ``d``'s
    vectors: the kernel scores them all as one multi-tile bucket,
    Catalyst as _DOT / (na * nb) per pair."""
    import numpy as np

    from jerex_spark.operators.dedup import _bucket_cosines
    from jerex_spark.operators.similarity import _DOT, _emb, _with_norm
    e = _with_norm(_emb(spark, d))
    pdf = e.toPandas().sort_values("vec_id")
    got = _bucket_cosines(pdf["vec_id"].to_numpy(),
                          np.stack(pdf["vec"].to_numpy()),
                          pdf["norm"].to_numpy(), cut=-2.0, tile=64)
    kernel = {(int(a), int(b)): float(c)
              for ia, ib, cc in got for a, b, c in zip(ia, ib, cc)}
    a = e.select(F.col("vec_id").alias("id_a"), F.col("vec").alias("va"),
                 F.col("norm").alias("na"))
    b = e.select(F.col("vec_id").alias("id_b"), F.col("vec").alias("vb"),
                 F.col("norm").alias("nb"))
    cos = F.expr(_DOT.format(a="va", b="vb")) / (F.col("na") * F.col("nb"))
    ref = {(r.id_a, r.id_b): r.cos for r in
           a.crossJoin(b).filter(F.col("id_a") < F.col("id_b"))
           .select("id_a", "id_b", cos.alias("cos")).collect()}
    assert len(ref) == len(pdf) * (len(pdf) - 1) // 2
    return kernel, ref


def test_embdup_kernel_cosines_bitwise(spark, sf0001, tmp_path):
    """The bucket kernel's cosines are the Catalyst per-pair fold's bit
    for bit, unrounded, on the sf0.001 vectors and on full-precision
    doubles (float32 components multiply exactly in double, which would
    hide a fused multiply-add).  End to end at threshold 0.0 (every
    pair with cos >= 0 survives, not just the few near-dups): each pair
    embdup_cosine_lsh emits is in the exact baseline with a bit-equal
    cos."""
    import numpy as np
    import pandas as pd

    from jerex_spark.operators.dedup import (embdup_cosine_exact,
                                             embdup_cosine_lsh)
    X = np.random.default_rng(3).normal(size=(200, 64))
    pd.DataFrame({"vec_id": range(len(X)), "embedding": list(X)}) \
        .to_parquet(tmp_path / "embeddings.parquet", index=False)
    for d in (sf0001, str(tmp_path)):
        kernel, ref = _kernel_vs_catalyst(spark, d)
        assert kernel.keys() == ref.keys()
        assert all(kernel[k].hex() == ref[k].hex() for k in ref), d

    exact = {(r.id_a, r.id_b): r.cos for r in
             embdup_cosine_exact(spark, sf0001, threshold=0.0).collect()}
    lsh = embdup_cosine_lsh(spark, sf0001, threshold=0.0).collect()
    assert len(lsh) > 1000
    assert all(exact[(r.id_a, r.id_b)].hex() == r.cos.hex() for r in lsh)


def test_embdup_kernel_batch_and_tile_invariant(spark, sf0001,
                                                monkeypatch):
    """7-row Arrow batches split every bucket across batches and 5-row
    tiles split every bucket into many blocks: the output must equal
    the default run's, so held rows are scored as whole buckets and
    tiles cover each pair exactly once."""
    import jerex_spark.operators.dedup as D

    def run():
        return sorted((r.id_a, r.id_b, r.cos.hex()) for r in
                      D.embdup_cosine_lsh(spark, sf0001,
                                          threshold=0.0).collect())

    base = run()
    key = "spark.sql.execution.arrow.maxRecordsPerBatch"
    old = spark.conf.get(key)
    monkeypatch.setattr(D, "COS_TILE_ROWS", 5)
    spark.conf.set(key, "7")
    try:
        small = run()
    finally:
        spark.conf.set(key, old)
    assert base and small == base


def test_embdup_lsh_zero_norm_raises(spark, tmp_path):
    """A zero vector has no cosine with its bucket-mates (the Catalyst
    division raises DIVIDE_BY_ZERO under ANSI): the kernel must raise
    and name it, not emit nothing."""
    import numpy as np
    import pandas as pd

    from jerex_spark.operators.dedup import (COS_DUP_THRESHOLD,
                                             EMBDUP_N_BANDS,
                                             embdup_cosine_lsh)
    from jerex_spark.operators.similarity import (_plane_weights,
                                                  lsh_schedule)
    n_bands, band_bits = lsh_schedule(6, design_cos=COS_DUP_THRESHOLD,
                                      min_bands=EMBDUP_N_BANDS)
    P = np.array([_plane_weights(p) for p in range(n_bands * band_bits)]).T
    # vec_id 1 is the sum of band 0's planes, so it projects >= 0 on
    # all of them: the same band-0 bucket as the zero vector (vec_id 3)
    X = np.random.default_rng(5).normal(size=(6, 64))
    X[1] = P[:, :band_bits].sum(axis=1)
    X[3] = 0.0
    assert ((X[1] @ P[:, :band_bits]) >= 0).all()
    pd.DataFrame({
        "vec_id": range(6),
        "embedding": [[float(v) for v in x] for x in X],
    }).to_parquet(tmp_path / "embeddings.parquet", index=False)
    with pytest.raises(Exception, match="vec_id 3 has norm 0"):
        embdup_cosine_lsh(spark, str(tmp_path)).collect()


def test_lsh_schedule_holds_recall_past_band_cap():
    """Past ~65k rows the recall-pinned band count exceeds MAX_BANDS:
    the schedule must shorten the codes (warning about bucket growth)
    rather than silently clamp bands and degrade recall."""
    import math
    import warnings

    from jerex_spark.operators.similarity import (DESIGN_RECALL,
                                                  MAX_BANDS, lsh_schedule)
    for n in (100_000, 1_000_000, 10_000_000):
        with warnings.catch_warnings(record=True) as w:
            warnings.simplefilter("always")
            bands, bits = lsh_schedule(n, design_cos=0.4)
        assert bands <= MAX_BANDS
        p_bit = 1.0 - math.acos(0.4) / math.pi
        recall = 1.0 - (1.0 - p_bit ** bits) ** bands
        assert recall >= DESIGN_RECALL, (n, bands, bits, recall)
        assert any("bucket rows grow" in str(x.message) for x in w), n


def test_lsh_schedule_explicit_bits_warns_achieved_recall():
    """An explicit band_bits override that cannot reach the design
    recall within MAX_BANDS must say so, with the achieved estimate."""
    import pytest

    from jerex_spark.operators.similarity import MAX_BANDS, lsh_schedule
    with pytest.warns(UserWarning, match="achieved recall"):
        bands, bits = lsh_schedule(200_000, design_cos=0.4, band_bits=12)
    assert bands == MAX_BANDS and bits == 12


def test_lsh_schedule_small_n_unchanged():
    """The cap compensation must not perturb the small-n operating
    points the frozen golden oracles were generated at."""
    import warnings

    from jerex_spark.operators.similarity import lsh_schedule
    with warnings.catch_warnings():
        warnings.simplefilter("error")      # no warnings at small n
        assert lsh_schedule(500, design_cos=0.4, min_bands=24) == (24, 4)
        assert lsh_schedule(2000, design_cos=0.4, min_bands=24) == (29, 5)
        assert lsh_schedule(500, design_cos=0.45, min_bands=16) == (16, 4)
        assert lsh_schedule(2000, design_cos=0.45, min_bands=16) == (25, 5)
