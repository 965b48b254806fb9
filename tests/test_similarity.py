"""LSH-ANN validation: recall against the oracle-checked brute force."""

from __future__ import annotations

import pytest

from datafusion_dft_spark.catalog import load_tables
from datafusion_dft_spark.operators import similarity as sim
from pyspark.sql import functions as F


@pytest.fixture(scope="module")
def emb(spark, sf_dir):
    return load_tables(spark, sf_dir)["embeddings"]


def test_lsh_recall_vs_brute_force(emb):
    queries = emb.filter(F.col("vec_id") < 10)
    exact = {
        (r.query_id, r.neighbor_id)
        for r in sim.brute_force_topk(emb, queries, k=5).collect()
    }
    approx = {
        (r.query_id, r.neighbor_id)
        for r in sim.lsh_topk(emb, queries, dim=64, k=5).collect()
    }
    recall = len(exact & approx) / len(exact)
    assert recall >= 0.5, f"LSH recall {recall:.2f} ({len(exact & approx)}/{len(exact)})"


def test_ivf_recall_vs_brute_force(emb):
    queries = emb.filter(F.col("vec_id") < 10)
    exact = {
        (r.query_id, r.neighbor_id)
        for r in sim.brute_force_topk(emb, queries, k=5).collect()
    }
    approx = {
        (r.query_id, r.neighbor_id)
        for r in sim.ivf_topk(emb, queries, k=5).collect()
    }
    recall = len(exact & approx) / len(exact)
    assert recall >= 0.4, f"IVF recall {recall:.2f} ({len(exact & approx)}/{len(exact)})"


def test_ivf_kmeans_refinement(emb):
    """Lloyd refinement must not hurt recall, and must produce balanced
    cells (the scale property it exists for)."""
    queries = emb.filter(F.col("vec_id") < 10)
    exact = {
        (r.query_id, r.neighbor_id)
        for r in sim.brute_force_topk(emb, queries, k=5).collect()
    }
    base = {
        (r.query_id, r.neighbor_id)
        for r in sim.ivf_topk(emb, queries, k=5, refine_iters=0).collect()
    }
    refined = {
        (r.query_id, r.neighbor_id)
        for r in sim.ivf_topk(emb, queries, k=5, refine_iters=2).collect()
    }
    r_base = len(exact & base) / len(exact)
    r_ref = len(exact & refined) / len(exact)
    # refinement moves centroids toward density: allow equality, forbid collapse
    assert r_ref >= r_base - 0.1, f"refined {r_ref:.2f} vs stride {r_base:.2f}"
    assert r_ref >= 0.4


def test_cosine_dup_pairs_find_synthetic_near_dups(spark, emb):
    """The corpus has no cosine>=0.95 pairs; inject perturbed copies and
    require the LSH-candidate path to find every one of them."""
    import numpy as np

    base = emb.limit(20).collect()
    rng = np.random.RandomState(7)
    rows = []
    for r in base:
        v = np.array(r.embedding, dtype=np.float32)
        rows.append((int(r.vec_id), [float(x) for x in v]))
        noisy = v + rng.randn(len(v)).astype(np.float32) * 0.02 * np.linalg.norm(v) / np.sqrt(len(v))
        rows.append((int(r.vec_id) + 100_000, [float(x) for x in noisy]))
    df = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    found = {
        (r.id1, r.id2)
        for r in sim.cosine_dup_pairs(df, threshold=0.95).collect()
    }
    expected = {(int(r.vec_id), int(r.vec_id) + 100_000) for r in base}
    missing = expected - found
    assert not missing, f"missed near-dup pairs: {missing}"


def test_lsh_rank1_is_true_nearest_for_most_queries(emb):
    """The injected near-duplicate vectors must survive bucketing."""
    queries = emb.filter(F.col("vec_id") < 10)
    exact1 = {
        r.query_id: r.neighbor_id
        for r in sim.brute_force_topk(emb, queries, k=1).collect()
    }
    lsh1 = {
        r.query_id: r.neighbor_id for r in sim.lsh_topk(emb, queries, dim=64, k=1).collect()
    }
    hits = sum(1 for q, n in exact1.items() if lsh1.get(q) == n)
    assert hits / len(exact1) >= 0.6, f"rank-1 agreement {hits}/{len(exact1)}"


def test_right_size_three_regimes(spark):
    from datafusion_dft_spark.operators.similarity import _right_size
    from datafusion_dft_spark.session import default_parallelism

    cpus = default_parallelism()
    # over-split tiny input coalesces down (narrow)
    tiny = spark.range(0, 100, 1, 64)
    assert _right_size(tiny, 100).rdd.getNumPartitions() == 1
    # under-split input with enough rows repartitions up to <= cpus
    fat = spark.range(0, 1_000_000, 1, 1)
    sized = _right_size(fat, 1_000_000)
    assert 1 < sized.rdd.getNumPartitions() <= cpus
    # well-split big input is untouched (keeps scan parallelism)
    big = spark.range(0, 1_000_000, 1, 200)
    assert _right_size(big, 1_000_000).rdd.getNumPartitions() == 200


def test_cosine_dup_pairs_join_path_matches_broadcast_path(spark, emb, monkeypatch):
    """The unbounded join-rehydration path (the 100 TB shape) must produce
    the identical pair set as the bounded broadcast bucket-verify path —
    fixtures always fit the broadcast budget, so force the cap down to
    exercise the join path explicitly."""
    from pyspark.sql import functions as F

    from datafusion_dft_spark.operators import similarity as sim

    e = emb.select("vec_id", sim.as_double("embedding").alias("embedding"))
    pert = e.filter(F.col("vec_id") < 5).select(
        (F.col("vec_id") + 1000000).alias("vec_id"),
        F.transform(
            "embedding",
            lambda x, i: x + F.when(i == 0, F.lit(0.05)).otherwise(F.lit(0.0)),
        ).alias("embedding"),
    )
    df = e.unionByName(pert)
    via_broadcast = {
        tuple(r) for r in sim.cosine_dup_pairs(df, threshold=0.9).collect()
    }
    monkeypatch.setattr(sim, "_BROADCAST_VERIFY_MAX", 0)
    via_join = {tuple(r) for r in sim.cosine_dup_pairs(df, threshold=0.9).collect()}
    assert via_broadcast == via_join and via_join


def test_bucket_verify_tier_matches_pair_expansion_tier(spark, emb, monkeypatch):
    """Forcing the high-candidate bucket-verify strategy must produce the
    identical pair set as the default pair-expansion strategy."""
    df = emb.select("vec_id", sim.as_double("embedding").alias("embedding"))
    pert = df.filter(F.col("vec_id") < 5).select(
        (F.col("vec_id") + 1000000).alias("vec_id"),
        F.transform(
            "embedding",
            lambda x, i: x + F.when(i == 0, F.lit(0.05)).otherwise(F.lit(0.0)),
        ).alias("embedding"),
    )
    aug = df.unionByName(pert)
    via_pairs = {tuple(r) for r in sim.cosine_dup_pairs(aug, threshold=0.9).collect()}
    monkeypatch.setattr(sim, "_PAIR_EXPAND_MAX", 0)
    via_buckets = {tuple(r) for r in sim.cosine_dup_pairs(aug, threshold=0.9).collect()}
    assert via_pairs == via_buckets and via_buckets


def test_planes_memoized_and_bit_identical():
    """_planes must stay bit-identical to the spec'd md5 derivation (the
    DuckDB oracles reproduce it) and memoize per shape so repeat index
    builds pay zero driver hashing."""
    import hashlib

    import numpy as np

    sim._planes.cache_clear()
    got = sim._planes(7, 3, 2)
    ref = np.empty((2, 3, 7))
    for t in range(2):
        for p in range(3):
            for d in range(7):
                h = int(hashlib.md5(f"{t}:{p}:{d}".encode()).hexdigest()[:8], 16)
                ref[t, p, d] = h / 4294967296.0 - 0.5
    assert np.array_equal(got, ref)
    assert sim._planes(7, 3, 2) is got  # memoized
    assert not got.flags.writeable  # shared array is immutable


def test_cosine_incremental_equals_unbounded_restricted(spark, emb):
    """Batch-vs-corpus incremental dedup must equal the unbounded full
    self-join restricted to batch-touching pairs — same planes, same
    rerank, no recall lost by splitting the corpus."""
    import numpy as np

    base = emb.limit(30).collect()
    rng = np.random.RandomState(11)
    rows = []
    for r in base:
        v = np.array(r.embedding, dtype=np.float32)
        rows.append((int(r.vec_id), [float(x) for x in v]))
        noisy = v + rng.randn(len(v)).astype(np.float32) * 0.02 * np.linalg.norm(v) / np.sqrt(len(v))
        rows.append((int(r.vec_id) + 100_000, [float(x) for x in noisy]))
    df = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    batch = df.filter("vec_id % 3 = 0")  # hits originals AND perturbed ids
    corpus = df.filter("vec_id % 3 != 0")
    inc = {
        (r.id1, r.id2, r.cosine)
        for r in sim.cosine_dup_pairs_incremental(batch, corpus, threshold=0.95).collect()
    }
    full = {
        (r.id1, r.id2, r.cosine)
        for r in sim.cosine_dup_pairs(df, threshold=0.95, strategy="unbounded").collect()
    }
    want = {t for t in full if t[0] % 3 == 0 or t[1] % 3 == 0}
    assert inc == want
    assert inc  # the perturbed pairs must actually appear


def test_semantic_dup_pairs_matches_clustered_reference(spark, emb):
    """SemDeDup formulation vs an independent numpy reference: identical
    md5-stride centroids, argmax-cosine assignment, exhaustive pairwise
    >= threshold WITHIN each cell. Perturbed near-dups are planted so
    the check is non-vacuous."""
    import numpy as np

    base = emb.select("vec_id", sim.as_double("embedding").alias("embedding"))
    pert = base.filter(F.col("vec_id") < 5).select(
        (F.col("vec_id") + 1000000).alias("vec_id"),
        F.transform(
            "embedding",
            lambda x, i: x + F.when(i == 0, F.lit(0.05)).otherwise(F.lit(0.0)),
        ).alias("embedding"),
    )
    aug = base.unionByName(pert)
    nrows = aug.count()
    got = {
        (r.id1, r.id2, r.cosine)
        for r in sim.semantic_dup_pairs(
            aug, threshold=0.95, n_clusters=16, dim=64, nrows=nrows
        ).collect()
    }
    # independent reference: same centroid sample via the operator's own
    # helper (itself pinned by the DuckDB differential), then plain numpy
    rows = aug.collect()
    ids = np.array([r.vec_id for r in rows], dtype=np.int64)
    mat = np.stack([np.array(r.embedding, dtype=np.float64) for r in rows])
    cd = aug.select(F.col("vec_id").alias("cid"), F.col("embedding").alias("cv"))
    cents = sim._stride_centroid_rows(cd, nrows, 16)
    cmat = np.stack([np.array(v) for _, v in cents])
    cids = np.array([c for c, _ in cents])
    sims_c = (mat @ cmat.T) / (
        np.linalg.norm(mat, axis=1)[:, None] * np.linalg.norm(cmat, axis=1)[None, :]
    )
    # same rounded-argmax convention as the operator and the oracle
    assign = cids[np.argmax(np.round(sims_c + 1e-9, 6), axis=1)]
    nrm = np.linalg.norm(mat, axis=1)
    full = (mat @ mat.T) / np.outer(nrm, nrm)
    want = set()
    for i in range(len(ids)):
        for j in range(len(ids)):
            if ids[i] < ids[j] and assign[i] == assign[j]:
                c = round(full[i, j] + 1e-9, 4)
                if c >= 0.95:
                    want.add((int(ids[i]), int(ids[j]), c))
    assert got == want and len(want) >= 5


def test_semantic_dup_pairs_is_subset_of_exhaustive(spark, emb):
    """Cell-boundary pairs are missed BY DESIGN — but every emitted pair
    must appear in the exhaustive (unbounded) formulation."""
    base = emb.select("vec_id", sim.as_double("embedding").alias("embedding"))
    pert = base.filter(F.col("vec_id") < 5).select(
        (F.col("vec_id") + 1000000).alias("vec_id"),
        F.transform(
            "embedding",
            lambda x, i: x + F.when(i == 0, F.lit(0.05)).otherwise(F.lit(0.0)),
        ).alias("embedding"),
    )
    aug = base.unionByName(pert)
    n = aug.count()
    semantic = {
        (r.id1, r.id2)
        for r in sim.semantic_dup_pairs(aug, 0.95, dim=64, nrows=n).collect()
    }
    exhaustive = {
        (r.id1, r.id2)
        for r in sim.cosine_dup_pairs(
            aug, threshold=0.95, dim=64, nrows=n, strategy="unbounded"
        ).collect()
    }
    assert semantic and semantic <= exhaustive


def test_semantic_dup_pairs_edge_cases(spark, emb, monkeypatch):
    from datafusion_dft_spark.operators import similarity as simmod

    # empty corpus -> empty typed result
    empty = spark.createDataFrame([], "vec_id long, embedding array<double>")
    out = sim.semantic_dup_pairs(empty, dim=64, nrows=0)
    assert out.count() == 0
    assert [f.name for f in out.schema.fields] == ["id1", "id2", "cosine"]
    # invalid rows (NULL / ragged / zero vectors) are dropped, not fatal
    bad = spark.createDataFrame(
        [(1, None), (2, [1.0] * 3), (3, [0.0] * 64)],
        "vec_id long, embedding array<double>",
    )
    assert sim.semantic_dup_pairs(bad, dim=64, nrows=3).count() == 0
    # an over-sized cell fails LOUDLY (mis-sized n_clusters at scale)
    monkeypatch.setattr(simmod, "_SEMANTIC_CELL_MAX", 2)
    dup = spark.createDataFrame(
        [(i, [1.0, 2.0] + [0.0] * 62) for i in range(6)],
        "vec_id long, embedding array<double>",
    )
    with pytest.raises(Exception, match="SemDeDup cell"):
        sim.semantic_dup_pairs(dup, n_clusters=1, dim=64, nrows=6).collect()


def test_semantic_assignment_is_shuffle_free(spark, emb):
    """The cluster assignment must be a pure projection: the ONLY
    exchange in the whole semantic plan is the groupBy(cluster) feeding
    the in-cell verify — no crossJoin, no window, no extra shuffle."""
    n = emb.count()
    out = sim.semantic_dup_pairs(emb, 0.95, dim=64, nrows=n)
    plan = out._jdf.queryExecution().executedPlan().toString()
    final = plan.split("== Initial Plan ==")[0]
    assert final.count("Exchange") <= 1, final
    assert "CartesianProduct" not in final and "BroadcastNestedLoop" not in final
    assert "FlatMapGroupsInPandas" in final  # in-cell verify
    assert "MapInArrow" in final  # vectorized assignment stage


def test_quantize_int8_roundtrip_properties(spark, emb):
    """SQ8 invariants: q integer-valued in [-127,127], reconstruction
    error bounded by scale/2, all-zero vectors quantize exactly."""
    aug = emb.select("vec_id", "embedding").unionByName(
        spark.createDataFrame(
            [(999001, [0.0] * 64)], "vec_id long, embedding array<double>"
        ).select("vec_id", sim.as_double("embedding").alias("embedding"))
    )
    qdf = sim.quantize_int8(aug)
    ec = sim.quantization_error_cols()
    rows = qdf.select(
        "vec_id", "q8_scale", "q8",
        ec["q8_max_err"].alias("max_err"), ec["q8_cos_self"].alias("cos_self"),
    ).collect()
    assert rows
    for r in rows:
        assert all(q == int(q) and -127 <= q <= 127 for q in r.q8)
        if r.vec_id == 999001:
            assert r.q8_scale == 0.0 and set(r.q8) == {0.0}
            assert r.cos_self == 1.0 and r.max_err == 0.0
        else:
            assert r.q8_scale > 0
            assert r.max_err <= r.q8_scale / 2 + 1e-12
            assert r.cos_self > 0.99  # 8-bit keeps cosine essentially intact


def test_quantized_ann_preserves_ranking(emb):
    """The per-vector scale cancels in cosine, so brute-force top-k over
    the quantized vectors reproduces the full-precision neighbors with
    high overlap — the property that makes SQ8 storage usable for ANN
    without a dequantization join."""
    queries = emb.filter(F.col("vec_id") < 10)
    exact = {
        (r.query_id, r.neighbor_id)
        for r in sim.brute_force_topk(emb, queries, k=5, dim=64).collect()
    }
    qcorpus = sim.quantize_int8(emb).select(
        "vec_id", F.col("q8").alias("embedding")
    )
    qqueries = sim.quantize_int8(queries).select(
        "vec_id", F.col("q8").alias("embedding")
    )
    approx = {
        (r.query_id, r.neighbor_id)
        for r in sim.brute_force_topk(qcorpus, qqueries, k=5, dim=64).collect()
    }
    overlap = len(exact & approx) / len(exact)
    assert overlap >= 0.9, f"SQ8 top-k overlap {overlap:.2f}"


def test_semantic_auto_k_scales_with_corpus(spark, emb, monkeypatch):
    """n_clusters=None derives K from the corpus so mean cell size stays
    constant — the production setting that keeps in-cell work linear."""
    from datafusion_dft_spark.operators import similarity as simmod

    seen = {}
    real_stride = simmod._stride_centroid_rows

    def spy(cd, nrows, n_centroids):
        seen["k"] = n_centroids
        return real_stride(cd, nrows, n_centroids)

    monkeypatch.setattr(simmod, "_SEMANTIC_TARGET_CELL", 100)
    monkeypatch.setattr(simmod, "_stride_centroid_rows", spy)
    n = emb.count()
    out = sim.semantic_dup_pairs(emb, 0.95, n_clusters=None, dim=64, nrows=n)
    # the auto-derived K is ceil(n/target_cell), floored at 16 (the
    # stride SAMPLE may return fewer — binomial — which only makes
    # cells coarser, never incorrect)
    assert seen["k"] == max(16, -(-n // 100))
    assert out.count() >= 0  # plan executes end-to-end


def test_semantic_incremental_equals_full_restricted(spark, emb):
    """With the SAME codebook, the cogrouped batch-vs-corpus increment
    must equal the full semantic formulation on the union restricted to
    batch-touching pairs."""
    base = emb.select("vec_id", sim.as_double("embedding").alias("embedding"))
    pert = base.filter(F.col("vec_id") < 8).select(
        (F.col("vec_id") + 1000000).alias("vec_id"),
        F.transform(
            "embedding",
            lambda x, i: x + F.when(i == 0, F.lit(0.05)).otherwise(F.lit(0.0)),
        ).alias("embedding"),
    )
    aug = base.unionByName(pert)
    n = aug.count()
    cd = aug.select(F.col("vec_id").alias("cid"), F.col("embedding").alias("cv"))
    cents = sim._stride_centroid_rows(cd, n, 16)
    # md5-stride batch split (the production daily-increment shape)
    stride = F.substring(F.md5(F.col("vec_id").cast("string")), 1, 1)
    is_batch = stride.isin("0", "1", "2", "3", "4")
    batch, corpus = aug.filter(is_batch), aug.filter(~is_batch)
    batch_ids = {r.vec_id for r in batch.select("vec_id").collect()}
    got = {
        tuple(r)
        for r in sim.semantic_dup_pairs_incremental(
            batch, corpus, threshold=0.9, dim=64, centroids=cents
        ).collect()
    }
    full = {
        tuple(r)
        for r in sim.semantic_dup_pairs(
            aug, threshold=0.9, dim=64, nrows=n, centroids=cents
        ).collect()
    }
    want = {
        (a, b, c) for a, b, c in full if a in batch_ids or b in batch_ids
    }
    assert got == want and got  # non-vacuous: planted pairs span the split


def test_semantic_incremental_edge_cases(spark, emb, monkeypatch):
    from datafusion_dft_spark.operators import similarity as simmod

    corpus = emb.select("vec_id", sim.as_double("embedding").alias("embedding"))
    n = corpus.count()
    # empty batch -> empty result (corpus-only cells emit nothing)
    empty_batch = spark.createDataFrame([], "vec_id long, embedding array<double>")
    out = sim.semantic_dup_pairs_incremental(
        empty_batch, corpus, dim=64, corpus_nrows=n
    )
    assert out.count() == 0
    # near-dup of a corpus row in the batch IS found across the split
    probe = corpus.filter(F.col("vec_id") == 7).select(
        F.lit(2000000).alias("vec_id"),
        F.transform(
            "embedding",
            lambda x, i: x + F.when(i == 0, F.lit(0.01)).otherwise(F.lit(0.0)),
        ).alias("embedding"),
    )
    pairs = sim.semantic_dup_pairs_incremental(
        probe, corpus, threshold=0.95, dim=64, corpus_nrows=n
    ).collect()
    assert {(r.id1, r.id2) for r in pairs} == {(7, 2000000)}
    # oversized cell raises the loud guard (batch+corpus counted together)
    monkeypatch.setattr(simmod, "_SEMANTIC_CELL_MAX", 3)
    dup = spark.createDataFrame(
        [(i, [1.0, 2.0] + [0.0] * 62) for i in range(4)],
        "vec_id long, embedding array<double>",
    )
    with pytest.raises(Exception, match="SemDeDup cell"):
        sim.semantic_dup_pairs_incremental(
            dup, dup.withColumn("vec_id", F.col("vec_id") + 10),
            n_clusters=1, dim=64, corpus_nrows=4,
        ).collect()


def test_semantic_incremental_plan_shape(spark, emb):
    """Two zero-shuffle Arrow assignment stages feeding ONE cogrouped
    verify: the plan carries FlatMapCoGroupsInPandas, two MapInArrow
    nodes, and no more exchanges than the cogroup's two cell-shuffles
    (one per side) — no crossJoin, no window, no cartesian."""
    full = emb.select("vec_id", sim.as_double("embedding").alias("embedding"))
    batch = full.filter(F.col("vec_id") < 50)
    corpus = full.filter(F.col("vec_id") >= 50)
    n = corpus.count()
    out = sim.semantic_dup_pairs_incremental(
        batch, corpus, dim=64, corpus_nrows=n, check_id_overlap=False
    )
    plan = out._jdf.queryExecution().executedPlan().toString()
    final = plan.split("== Initial Plan ==")[0]
    assert "FlatMapCoGroupsInPandas" in final
    assert final.count("MapInArrow") == 2, final
    assert final.count("Exchange") <= 2, final
    assert "CartesianProduct" not in final and "BroadcastNestedLoop" not in final


def test_semantic_incremental_overlap_guard(spark, emb):
    """Overlapping batch/corpus ids mean the batch was already merged
    into the corpus — that must raise (same contract as the cosine
    incremental), not silently emit (id, id, 1.0) self-pairs."""
    corpus = emb.select("vec_id", sim.as_double("embedding").alias("embedding"))
    batch = corpus.limit(5)  # ids also present in the corpus
    with pytest.raises(ValueError, match="share ids"):
        sim.semantic_dup_pairs_incremental(batch, corpus, dim=64)


def test_threshold_applies_to_rounded_cosine(spark):
    """The engine-wide numeric convention (also replayed by the DuckDB
    oracles since r13): the >= threshold test runs on the ROUNDED
    cosine round(cos+1e-9, 4), so a pair whose raw cosine sits in
    [thr-5e-5, thr) rounds up and QUALIFIES, while one below the
    rounding window does not. The r13 sf1 sweep caught the oracle
    filtering unrounded — 518 boundary pairs diverged on the
    adversarial corpus; this pins the convention at unit scale."""
    import math

    import numpy as np

    dim = 64

    def pair_with_cosine(c: float, base_id: int):
        v1 = np.zeros(dim); v1[0] = 1.0
        v2 = np.zeros(dim); v2[0] = c; v2[1] = math.sqrt(1.0 - c * c)
        return [
            (base_id, [float(x) for x in v1]),
            (base_id + 1, [float(x) for x in v2]),
        ]

    rows = (
        pair_with_cosine(0.94997, 0)      # in-window: rounds to 0.9500
        + pair_with_cosine(0.94990, 100)  # below window: rounds to 0.9499
        + pair_with_cosine(0.99, 200)     # comfortably above
    )
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    got = {
        (r.id1, r.id2): r.cosine
        for r in sim.cosine_dup_pairs(df, threshold=0.95, dim=dim).collect()
    }
    assert (0, 1) in got and got[(0, 1)] == 0.95, got
    assert (100, 101) not in got, got
    assert (200, 201) in got, got
    # the unbounded (100 TB) formulation applies the same convention
    got_u = {
        (r.id1, r.id2): r.cosine
        for r in sim.cosine_dup_pairs(
            df, threshold=0.95, dim=dim, strategy="unbounded"
        ).collect()
    }
    assert got_u == got


def test_semantic_dup_pairs_multi_matches_per_codebook(spark, emb):
    """r15 (VERDICT item 4): ONE tagged cell-verify over multiple
    codebooks must equal per-codebook semantic_dup_pairs runs exactly —
    tag filters ARE the per-codebook outputs. Together with
    test_semantic_incremental_equals_full_restricted (cogrouped
    increment == full restricted to batch-touching pairs) this pins the
    driver query's 3-arms-from-one-verify design."""
    base = emb.select("vec_id", sim.as_double("embedding").alias("embedding"))
    pert = base.filter(F.col("vec_id") < 8).select(
        (F.col("vec_id") + 1000000).alias("vec_id"),
        F.transform(
            "embedding",
            lambda x, i: x + F.when(i == 0, F.lit(0.05)).otherwise(F.lit(0.0)),
        ).alias("embedding"),
    )
    aug = base.unionByName(pert)
    n = aug.count()
    cd = aug.select(F.col("vec_id").alias("cid"), F.col("embedding").alias("cv"))
    cents_a = sim._stride_centroid_rows(cd, n, 16)
    cents_df = spark.createDataFrame(cents_a, "centroid_id long, centv array<double>")
    refined = sim.refine_centroids(cd, cents_df, iters=1)
    cents_b = [
        (int(r.centroid_id), [float(x) for x in r.centv]) for r in refined.collect()
    ]
    asg_a = sim._semantic_assign(cd, cents_a, 64)
    asg_b = sim._semantic_assign(cd, cents_b, 64)
    multi = sim.semantic_dup_pairs_multi([(0, asg_a), (1, asg_b)], threshold=0.9)
    rows = multi.collect()
    got_a = {(r.id1, r.id2, r.cosine) for r in rows if r.cb == 0}
    got_b = {(r.id1, r.id2, r.cosine) for r in rows if r.cb == 1}
    want_a = {
        tuple(r)
        for r in sim.semantic_dup_pairs(
            aug, threshold=0.9, dim=64, nrows=n, centroids=cents_a
        ).collect()
    }
    want_b = {
        tuple(r)
        for r in sim.semantic_dup_pairs(
            aug, threshold=0.9, dim=64, nrows=n, centroids=cents_b
        ).collect()
    }
    assert got_a == want_a and got_a  # non-vacuous
    assert got_b == want_b and got_b


def test_semantic_dup_pairs_multi_rejects_empty_assignments():
    with pytest.raises(ValueError, match="assignments must be non-empty"):
        sim.semantic_dup_pairs_multi([])


def test_embedding_rows_falls_back_only_on_unreadable_footer(emb, sf_dir, monkeypatch):
    """``_embedding_rows`` counts through Spark when the footer cannot be
    read (a missing path: OSError), and lets any other error raise."""
    import pyarrow.parquet as pq

    from datafusion_dft_spark.queries.similarity import _embedding_rows

    def raise_(exc):
        def read_metadata(*args, **kwargs):
            raise exc

        return read_metadata

    monkeypatch.setattr(pq, "read_metadata", raise_(OSError("no such file")))
    assert _embedding_rows(emb, sf_dir) == emb.count()
    monkeypatch.setattr(pq, "read_metadata", raise_(TypeError("bad argument")))
    with pytest.raises(TypeError, match="bad argument"):
        _embedding_rows(emb, sf_dir)
