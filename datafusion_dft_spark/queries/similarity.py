"""Similarity-search queries over the ``embeddings`` table.

The brute-force top-k and the norm statistics carry full DuckDB
oracles (list_dot_product on the DOUBLE-cast embedding). The LSH
variant is approximate by design — rows-only here, recall-checked
against brute force in tests/test_similarity.py.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..catalog import load_tables
from ..operators import similarity as sim
from ..registry import query

_DIM = 64


def _embedding_rows(emb: DataFrame, sf_dir: str) -> int:
    """Row count of ``embeddings.parquet`` from its footer (metadata
    only, no Spark job). A missing or remote path (OSError) or an
    unreadable footer (pyarrow ArrowInvalid on a truncated/mid-rewrite
    file) falls back to a Spark-side count; any other error raises."""
    import os

    import pyarrow as pa
    import pyarrow.parquet as pq

    try:
        return pq.read_metadata(os.path.join(sf_dir, "embeddings.parquet")).num_rows
    except (OSError, pa.ArrowInvalid):
        return emb.count()


# md5 first-hex-char buckets that form the ~25% daily-increment batch of
# dedup_embedding_cosine (its DuckDB oracle spells the same set). The
# 'c' bucket is included so the PLANTED near-dup sources (ids 0/1/2 ->
# md5 first char 'c') land in the batch — without it both incremental
# arms row-vacuously pass on 0 == 0 at test SF (the same vacuity the
# planting exists to prevent).
_BATCH_STRIDE = ("0", "1", "2", "c")
_N_QUERIES = 10


def _in_batch(id_col: str):
    """True where ``id_col``'s md5 stride bucket is in the batch."""
    return F.substring(F.md5(F.col(id_col).cast("string")), 1, 1).isin(
        *_BATCH_STRIDE
    )


@query(
    "ann_cosine_topk",
    oracle=f"""
        WITH e AS (
            SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings
        ), q AS (
            SELECT vec_id, v FROM e WHERE vec_id < {_N_QUERIES}
        ), scored AS (
            SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
                   round(list_dot_product(q.v, c.v)
                         / (sqrt(list_dot_product(q.v, q.v)) * sqrt(list_dot_product(c.v, c.v)))
                         + 1e-9, 4) AS cosine
            FROM e c, q
            WHERE c.vec_id <> q.vec_id
        )
        SELECT query_id, neighbor_id, cosine, rank FROM (
            SELECT query_id, neighbor_id, cosine,
                   row_number() OVER (PARTITION BY query_id
                                      ORDER BY cosine DESC, neighbor_id) AS rank
            FROM scored
        ) r WHERE rank <= 5
    """,
    tags=("similarity", "ann"),
    doc="Exact brute-force cosine top-5 for the first 10 vectors (broadcast "
    "queries x corpus scan; JVM higher-order dot products).",
)
def ann_cosine_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load_tables(spark, sf_dir)["embeddings"]
    queries = emb.filter(F.col("vec_id") < _N_QUERIES)
    return sim.brute_force_topk(emb, queries, k=5, dim=_DIM)


@query(
    "ann_pruned_topk",
    oracle=f"""
        WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
        q AS (SELECT * FROM e WHERE vec_id < {_N_QUERIES}),
        planes AS (
            -- bit-identical to operators/similarity._planes: md5-derived
            -- uniforms on [-0.5, 0.5), exact integer -> IEEE ops.
            SELECT t, p, d,
                   ('0x' || substr(md5(t || ':' || p || ':' || d), 1, 8))::BIGINT
                       / 4294967296.0 - 0.5 AS w
            FROM range(8) rt(t) CROSS JOIN range(6) rp(p) CROSS JOIN range({_DIM}) rd(d)
        ),
        dots AS (
            SELECT e.vec_id, pl.t, pl.p, sum(e.v[pl.d + 1] * pl.w) AS dp
            FROM e CROSS JOIN planes pl
            GROUP BY e.vec_id, pl.t, pl.p
        ),
        sigs AS (
            SELECT vec_id, t,
                   CAST(sum(CASE WHEN dp > 0 THEN 1 << p ELSE 0 END) AS BIGINT) AS bucket
            FROM dots GROUP BY vec_id, t
        ),
        qprobes AS (
            SELECT s.vec_id AS query_id, s.t,
                   CASE WHEN j = 0 THEN s.bucket
                        ELSE xor(s.bucket, CAST(1 << (j - 1) AS BIGINT)) END AS bucket
            FROM sigs s JOIN q ON q.vec_id = s.vec_id
            CROSS JOIN range(7) rj(j)
        ),
        lsh_cand AS (
            SELECT DISTINCT qp.query_id, c.vec_id AS neighbor_id
            FROM qprobes qp JOIN sigs c ON c.t = qp.t AND c.bucket = qp.bucket
            WHERE c.vec_id <> qp.query_id
        ),
        lsh_ranked AS (
            SELECT 'lsh' AS method, lc.query_id, lc.neighbor_id,
                   round(list_dot_product(a.v, b.v)
                         / (sqrt(list_dot_product(a.v, a.v)) * sqrt(list_dot_product(b.v, b.v)))
                         + 1e-9, 4) AS cosine
            FROM lsh_cand lc JOIN e a ON a.vec_id = lc.query_id
                             JOIN e b ON b.vec_id = lc.neighbor_id
        ),
        lsh_top AS (
            SELECT method, query_id, neighbor_id, cosine,
                   CAST(row_number() OVER (PARTITION BY query_id
                        ORDER BY cosine DESC, neighbor_id ASC) AS BIGINT) AS rank
            FROM lsh_ranked QUALIFY rank <= 5
        ),
        stride AS (SELECT greatest(1, count(*) // 16) AS s FROM e),
        cents AS (
            SELECT vec_id AS centroid_id, v AS cv FROM e, stride
            WHERE ('0x' || substr(md5(CAST(vec_id AS VARCHAR)), 1, 8))::BIGINT % s = 0
            ORDER BY vec_id LIMIT 16
        ),
        asgn AS (
            SELECT vec_id, centroid_id FROM (
                SELECT e.vec_id, c.centroid_id,
                       row_number() OVER (PARTITION BY e.vec_id ORDER BY
                           list_dot_product(e.v, c.cv)
                           / (sqrt(list_dot_product(e.v, e.v)) * sqrt(list_dot_product(c.cv, c.cv)))
                           DESC, c.centroid_id ASC) AS rnk
                FROM e CROSS JOIN cents c) WHERE rnk = 1
        ),
        qprobe AS (
            SELECT vec_id AS query_id, centroid_id FROM (
                SELECT q.vec_id, c.centroid_id,
                       row_number() OVER (PARTITION BY q.vec_id ORDER BY
                           list_dot_product(q.v, c.cv)
                           / (sqrt(list_dot_product(q.v, q.v)) * sqrt(list_dot_product(c.cv, c.cv)))
                           DESC, c.centroid_id ASC) AS rnk
                FROM q CROSS JOIN cents c) WHERE rnk <= 4
        ),
        ivf_cand AS (
            SELECT DISTINCT qp.query_id, a.vec_id AS neighbor_id
            FROM qprobe qp JOIN asgn a USING (centroid_id)
            WHERE a.vec_id <> qp.query_id
        ),
        ivf_ranked AS (
            SELECT 'ivf' AS method, ic.query_id, ic.neighbor_id,
                   round(list_dot_product(a.v, b.v)
                         / (sqrt(list_dot_product(a.v, a.v)) * sqrt(list_dot_product(b.v, b.v)))
                         + 1e-9, 4) AS cosine
            FROM ivf_cand ic JOIN e a ON a.vec_id = ic.query_id
                             JOIN e b ON b.vec_id = ic.neighbor_id
        ),
        ivf_top AS (
            SELECT method, query_id, neighbor_id, cosine,
                   CAST(row_number() OVER (PARTITION BY query_id
                        ORDER BY cosine DESC, neighbor_id ASC) AS BIGINT) AS rank
            FROM ivf_ranked QUALIFY rank <= 5
        )
        SELECT * FROM lsh_top UNION ALL SELECT * FROM ivf_top
    """,
    tags=("similarity", "ann", "lsh", "ivf"),
    doc="Both sub-linear ANN scale paths in one method-tagged query "
    "(consolidated for the driver's 50-query cap): hyperplane-LSH "
    "(8 tables x 6 md5-derived planes, radius-1 multi-probe, exact "
    "in-bucket rerank) and IVF-flat (16 md5-stride-sampled centroids, "
    "4-cell probe, exact in-cell rerank). Planes and stride derive from "
    "md5, so DuckDB reproduces bucketing, assignment, probing and rerank "
    "exactly — both approximate indexes are differentially verified, "
    "the doc_min_k_sketch pattern applied to ANN.",
)
def ann_pruned_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load_tables(spark, sf_dir)["embeddings"]
    queries = emb.filter(F.col("vec_id") < _N_QUERIES)
    # one row count shared by both index builds (r14: the footer read
    # shaves the one eager build job they shared)
    n = _embedding_rows(emb, sf_dir)
    lsh = sim.lsh_topk(emb, queries, dim=_DIM, k=5, nrows=n).select(
        F.lit("lsh").alias("method"), "query_id", "neighbor_id", "cosine", "rank"
    )
    ivf = sim.ivf_topk(emb, queries, k=5, nrows=n, dim=_DIM).select(
        F.lit("ivf").alias("method"), "query_id", "neighbor_id", "cosine", "rank"
    )
    return lsh.unionByName(ivf)


@query(
    "dedup_embedding_cosine",
    oracle="""
        WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
        pert AS (
            SELECT vec_id + 1000000 AS vec_id,
                   [v[i] + CASE WHEN i = 1 THEN 0.05 ELSE 0.0 END
                    for i in range(1, len(v) + 1)] AS v
            FROM e WHERE vec_id < 5
        ),
        aug AS (SELECT * FROM e UNION ALL SELECT * FROM pert),
        pairs AS (
            -- threshold on the ROUNDED cosine — the engine-wide
            -- cross-engine convention (_sieve_pairs /
            -- _exact_cosine_rerank filter on round(cos+1e-9, 4), so
            -- pairs in [thr-5e-5, thr) round up and qualify). An
            -- unrounded WHERE here diverged at sf1 on the adversarial
            -- corpus: 518 pairs with raw cosine just under 0.95
            -- rounded to 0.9500 on the Spark side (r13 sweep).
            SELECT a.vec_id AS id1, b.vec_id AS id2,
                   round(list_dot_product(a.v, b.v)
                         / (sqrt(list_dot_product(a.v, a.v)) * sqrt(list_dot_product(b.v, b.v)))
                         + 1e-9, 4) AS cosine
            FROM aug a JOIN aug b ON a.vec_id < b.vec_id
            WHERE round(list_dot_product(a.v, b.v)
                        / (sqrt(list_dot_product(a.v, a.v)) * sqrt(list_dot_product(b.v, b.v)))
                        + 1e-9, 4) >= 0.95
        ),
        sem_cents AS (
            SELECT vec_id AS centroid_id, v AS cv
            FROM aug, (SELECT greatest(1, count(*) // 16) AS s FROM aug)
            WHERE ('0x' || substr(md5(CAST(vec_id AS VARCHAR)), 1, 8))::BIGINT % s = 0
            ORDER BY vec_id LIMIT 16
        ),
        sem_asgn AS (
            -- cosine rounded (+1e-9, 6dp) BEFORE the argmax so a
            -- near-tie resolves to an exact tie on both engines and
            -- the centroid_id ASC tie-break decides identically
            SELECT vec_id, centroid_id FROM (
                SELECT a.vec_id, c.centroid_id,
                       row_number() OVER (PARTITION BY a.vec_id ORDER BY
                           round(list_dot_product(a.v, c.cv)
                                 / (sqrt(list_dot_product(a.v, a.v))
                                    * sqrt(list_dot_product(c.cv, c.cv)))
                                 + 1e-9, 6)
                           DESC, c.centroid_id ASC) AS rnk
                FROM aug a CROSS JOIN sem_cents c
            ) WHERE rnk = 1
        ),
        -- ONE Lloyd iteration (refine_centroids): each centroid moves
        -- to the per-element mean of its sem_asgn cell, rounded
        -- (+1e-9, 6dp) like the Spark side; empty cells keep their
        -- stride centroid (LEFT JOIN + coalesce)
        sem_ref_cents AS (
            SELECT c.centroid_id, coalesce(m.cv, c.cv) AS cv
            FROM sem_cents c LEFT JOIN (
                SELECT centroid_id, list(m ORDER BY i) AS cv
                FROM (
                    SELECT s.centroid_id, t.i,
                           round(avg(a.v[t.i]) + 1e-9, 6) AS m
                    FROM sem_asgn s JOIN aug a USING (vec_id)
                    CROSS JOIN (SELECT unnest(range(1, 65)) AS i) t
                    GROUP BY 1, 2
                ) GROUP BY centroid_id
            ) m USING (centroid_id)
        ),
        sem_ref_asgn AS (
            SELECT vec_id, centroid_id FROM (
                SELECT a.vec_id, c.centroid_id,
                       row_number() OVER (PARTITION BY a.vec_id ORDER BY
                           round(list_dot_product(a.v, c.cv)
                                 / (sqrt(list_dot_product(a.v, a.v))
                                    * sqrt(list_dot_product(c.cv, c.cv)))
                                 + 1e-9, 6)
                           DESC, c.centroid_id ASC) AS rnk
                FROM aug a CROSS JOIN sem_ref_cents c
            ) WHERE rnk = 1
        )
        SELECT 'bounded' AS method, id1, id2, cosine FROM pairs
        UNION ALL
        SELECT 'unbounded' AS method, id1, id2, cosine FROM pairs
        UNION ALL
        SELECT 'incremental' AS method, id1, id2, cosine FROM pairs
        WHERE id1 IN (SELECT vec_id FROM aug
                      WHERE substr(md5(CAST(vec_id AS VARCHAR)), 1, 1) IN ('0', '1', '2', 'c'))
           OR id2 IN (SELECT vec_id FROM aug
                      WHERE substr(md5(CAST(vec_id AS VARCHAR)), 1, 1) IN ('0', '1', '2', 'c'))
        UNION ALL
        SELECT 'semantic' AS method, p.id1, p.id2, p.cosine
        FROM pairs p
        JOIN sem_asgn a1 ON a1.vec_id = p.id1
        JOIN sem_asgn a2 ON a2.vec_id = p.id2
                        AND a2.centroid_id = a1.centroid_id
        UNION ALL
        SELECT 'semantic_incremental' AS method, p.id1, p.id2, p.cosine
        FROM pairs p
        JOIN sem_asgn a1 ON a1.vec_id = p.id1
        JOIN sem_asgn a2 ON a2.vec_id = p.id2
                        AND a2.centroid_id = a1.centroid_id
        WHERE substr(md5(CAST(p.id1 AS VARCHAR)), 1, 1) IN ('0', '1', '2', 'c')
           OR substr(md5(CAST(p.id2 AS VARCHAR)), 1, 1) IN ('0', '1', '2', 'c')
        UNION ALL
        SELECT 'semantic_refined' AS method, p.id1, p.id2, p.cosine
        FROM pairs p
        JOIN sem_ref_asgn a1 ON a1.vec_id = p.id1
        JOIN sem_ref_asgn a2 ON a2.vec_id = p.id2
                            AND a2.centroid_id = a1.centroid_id
    """,
    tags=("dedup", "similarity"),
    doc="Embedding-cosine near-duplicate pairs (>=0.95) via LSH candidates + "
    "exact rerank, ALL SIX formulations method-tagged in one query "
    "(consolidated for the driver's 50-query cap, the ann_pruned_topk "
    "pattern): 'bounded' = driver LSH bucketing over an Arrow-collected "
    "matrix + distributed two-tier verify; 'unbounded' = the fully "
    "distributed single-shuffle banded self-join — the actual 100 TB "
    "path, which a test-SF corpus would never select on its own, so it "
    "is pinned via strategy='unbounded' to get its own differential "
    "verification instead of only a pytest equivalence check; "
    "'incremental' = the daily batch-vs-corpus increment "
    "(cosine_dup_pairs_incremental over an md5-stride split, oracle "
    "restriction recomputed independently in DuckDB); 'semantic' = the "
    "SemDeDup recipe (Abbas et al. 2023) — md5-stride k-means cells, "
    "near-dup search WITHIN each cell only (pairs straddling a cell "
    "boundary missed by design, O(n^2/K) at scale), zero-shuffle "
    "literal-centroid argmax assignment + vectorized in-cell verify; "
    "the oracle replays the identical clustering and restricts "
    "the exhaustive pair join to same-cell pairs; "
    "'semantic_incremental' = the daily-increment SemDeDup — "
    "batch-touching pairs only: since r15 derived as the md5-stride "
    "restriction of the full arm's verify output (provably equal to "
    "the cogrouped batch-vs-corpus formulation, which remains the "
    "operator surface in semantic_dup_pairs_incremental with pytest "
    "equivalence coverage: a same-cell pair qualifies iff >=1 endpoint "
    "is in the batch, with the identical rounded cosine). The batch "
    "stride includes the 'c' bucket so the "
    "planted near-dup sources land in the batch and BOTH incremental "
    "arms are non-vacuous at test SF; 'semantic_refined' (round 11) = "
    "the SemDeDup search over a ONE-Lloyd-iteration refined codebook "
    "(refine_centroids, the production centroid knob) — the oracle "
    "replays the refinement exactly (per-cell rounded means, rounded "
    "argmax reassignment), upgrading Lloyd refinement from "
    "property-tested recall to differentially-checked. Since r15 all "
    "three semantic arms ride ONE tagged applyInPandas cell-verify "
    "(semantic_dup_pairs_multi over codebooks A and B, guide §4: one "
    "Python boundary, many consumers — applyInPandas stages 3 -> 1). The "
    "natural corpus has no qualifying pairs at test SF, which made the "
    "oracle vacuously pass on 0 == 0 rows; both engines therefore seed "
    "five deterministic near-duplicates (vec_id<5 perturbed by +0.05 on "
    "the first component, cosine ~0.9987) so the check proves both "
    "candidate-generation paths find the pairs the exhaustive oracle "
    "join finds.",
)
def dedup_embedding_cosine(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load_tables(spark, sf_dir)["embeddings"]
    e = emb.select("vec_id", sim.as_double("embedding").alias("embedding"))
    pert = e.filter(F.col("vec_id") < 5).select(
        (F.col("vec_id") + 1000000).alias("vec_id"),
        F.transform(
            "embedding",
            lambda x, i: x + F.when(i == 0, F.lit(0.05)).otherwise(F.lit(0.0)),
        ).alias("embedding"),
    )
    aug = e.unionByName(pert)
    nrows = _embedding_rows(emb, sf_dir) + 5  # + the five planted rows
    bounded = sim.cosine_dup_pairs(
        aug, threshold=0.95, dim=_DIM, nrows=nrows, strategy="bounded",
    )
    # ONE cached (vid, v, sigs) relation feeds the unbounded self-join
    # AND both sides of the incremental arm (r14, guide §4): the
    # signature pandas-UDF pass previously ran once for the unbounded
    # arm plus once per incremental side per banding consumer (~2.4x
    # the corpus per execution); stride-filtering the shared relation
    # commutes with the per-row signature math, so results are
    # identical. The cache is built inside the query, so every build
    # computes it afresh; callers that re-execute the plan clear it with
    # spark.catalog.clearCache(). Caching the narrow annotated relation
    # does NOT serialize the other arms the way persisting `aug` itself did
    # (measured 2.4 s -> 6.3 s): bounded/semantic arms keep their own
    # scan-rooted lineage and only the two LSH arms consume the cache.
    sig_rel = sim.sig_relation(aug, dim=_DIM, nrows=nrows).cache()
    unbounded = sim.cosine_dup_pairs(
        aug, threshold=0.95, dim=_DIM, nrows=nrows, strategy="unbounded",
        sig_rel=sig_rel,
    )
    # 'incremental' = the production daily-increment shape
    # (cosine_dup_pairs_incremental): an md5-stride ~25% batch probes
    # the remaining corpus plus itself — corpus scanned once, never
    # self-joined. The oracle recomputes the same stride split
    # independently and restricts its exhaustive pair join to
    # batch-touching pairs, so the increment path gets its own
    # differential row instead of only the pytest equivalence property.
    is_batch = _in_batch("vec_id")
    rel_is_batch = _in_batch("vid")
    incremental = sim.cosine_dup_pairs_incremental(
        aug.filter(is_batch),
        aug.filter(~is_batch),
        threshold=0.95,
        dim=_DIM,
        check_id_overlap=False,  # the split partitions one relation
        broadcast=True,  # pinned daily-increment plan (skips the eager
        # auto-rule counts; the auto rule itself is gated in test_plans)
        # stride-split views of the shared cached signature relation —
        # the corpus is signed once per execution, not once per arm
        new_rel=sig_rel.filter(rel_is_batch),
        corpus_rel=sig_rel.filter(~rel_is_batch),
    )
    # one codebook shared by the full AND incremental semantic arms
    # (and by the oracle's sem_cents CTE) — appends never shift cells
    cents = sim._stride_centroid_rows(
        aug.select(F.col("vec_id").alias("cid"), F.col("embedding").alias("cv")),
        nrows,
        16,
    )
    # ONE (cid, cv, cluster_id) assignment feeds the semantic arms:
    # they all assign with the SAME codebook, and the vectors come from
    # the already-cached sig_rel instead of a third parquet re-scan
    # (r14, guide §4). Since r15 the assignment has a SINGLE consumer
    # (the tagged union feeding the shared cell verify), so it is NOT
    # cached — a cache with one consumer is pure materialization
    # overhead; the degenerate fallback path below caches it because
    # there it feeds three separate arms.
    # empty corpus => no codebook: fall back to the operators' own
    # graceful empty-result path instead of assigning against an
    # empty centroid matrix
    prepared = sig_rel.select(F.col("vid").alias("cid"), F.col("v").alias("cv"))
    assigned = sim._semantic_assign(prepared, cents, _DIM) if cents else None
    # 'semantic_refined' = the production centroid knob: ONE Lloyd
    # iteration over the shared stride codebook (refine_centroids —
    # rounded argmax + rounded means, so the oracle's sem_ref_cents /
    # sem_ref_asgn CTEs replay it exactly), then the same SemDeDup
    # in-cell search. The collect is <= n_centroids rows by
    # construction (the codebook lives with the index, not the data).
    if cents:
        cents_df = spark.createDataFrame(
            cents, "centroid_id long, centv array<double>"
        )
        refined = sim.refine_centroids(
            aug.select(F.col("vec_id").alias("cid"), F.col("embedding").alias("cv")),
            cents_df,
            iters=1,
        )
        cents_ref = [
            (int(r.centroid_id), [float(x) for x in r.centv])
            for r in refined.collect()
        ]
    else:
        cents_ref = []
    if assigned is not None and cents_ref:
        # ONE in-cell verify pass for all three semantic arms (r15,
        # guide §4): the r14 shape ran THREE Python verify stages —
        # full (applyInPandas), incremental (cogrouped applyInPandas
        # over the same codebook-A cells: its batch-touching pair set
        # is a subset of the full arm's, computed from the same
        # vectors), and refined (applyInPandas over codebook-B cells).
        # semantic_dup_pairs_multi verifies codebook A and codebook B
        # cells in a single tagged stage, and ONE JVM explode fans each
        # verified pair out to its method rows: cb 0 -> 'semantic'
        # (+ 'semantic_incremental' when the md5 stride of id1 or id2
        # is in the batch — exactly the oracle's restriction, and
        # provably the cogrouped formulation's output: a same-cell pair
        # qualifies iff >= 1 endpoint is in the batch); cb 1 ->
        # 'semantic_refined'. A single consumer of the verify subtree
        # means NO cache and no materialization barrier (a first cut
        # cached the pair output for three filter consumers and
        # measured ~0.1 s SLOWER than the three-stage r14 shape — the
        # barrier cost more than the removed stages; the explode keeps
        # the one-pass win without it).
        assigned_ref = sim._semantic_assign(prepared, cents_ref, _DIM)
        cell_pairs = sim.semantic_dup_pairs_multi(
            [(0, assigned), (1, assigned_ref)], threshold=0.95
        )
        pair_is_batch = _in_batch("id1") | _in_batch("id2")
        sem_rows = cell_pairs.select(
            F.explode(
                F.when(F.col("cb") == 1, F.array(F.lit("semantic_refined")))
                .when(
                    pair_is_batch,
                    F.array(
                        F.lit("semantic"), F.lit("semantic_incremental")
                    ),
                )
                .otherwise(F.array(F.lit("semantic")))
            ).alias("method"),
            "id1",
            "id2",
            "cosine",
        )
        return (
            bounded.select(F.lit("bounded").alias("method"), "id1", "id2", "cosine")
            .unionByName(
                unbounded.select(
                    F.lit("unbounded").alias("method"), "id1", "id2", "cosine"
                )
            )
            .unionByName(
                incremental.select(
                    F.lit("incremental").alias("method"), "id1", "id2", "cosine"
                )
            )
            .unionByName(sem_rows)
        )
    else:
        # degenerate corpora (no codebook): the operators' own graceful
        # empty paths; here the assignment has three consumers, so the
        # r14 cache stays
        if assigned is not None:
            assigned = assigned.cache()
        asg_is_batch = _in_batch("cid")
        semantic = sim.semantic_dup_pairs(
            aug, threshold=0.95, dim=_DIM, nrows=nrows, centroids=cents,
            assigned=assigned,
        )
        sem_inc = sim.semantic_dup_pairs_incremental(
            aug.filter(is_batch),
            aug.filter(~is_batch),
            threshold=0.95,
            dim=_DIM,
            centroids=cents,
            check_id_overlap=False,  # the split partitions one relation
            batch_assigned=(
                assigned.filter(asg_is_batch) if assigned is not None else None
            ),
            corpus_assigned=(
                assigned.filter(~asg_is_batch) if assigned is not None else None
            ),
        )
        sem_ref = sim.semantic_dup_pairs(
            aug, threshold=0.95, dim=_DIM, nrows=nrows, centroids=cents_ref,
            assigned=(
                sim._semantic_assign(prepared, cents_ref, _DIM)
                if cents_ref
                else None
            ),
        )
    return bounded.select(
        F.lit("bounded").alias("method"), "id1", "id2", "cosine"
    ).unionByName(
        unbounded.select(F.lit("unbounded").alias("method"), "id1", "id2", "cosine")
    ).unionByName(
        incremental.select(F.lit("incremental").alias("method"), "id1", "id2", "cosine")
    ).unionByName(
        semantic.select(F.lit("semantic").alias("method"), "id1", "id2", "cosine")
    ).unionByName(
        sem_inc.select(
            F.lit("semantic_incremental").alias("method"), "id1", "id2", "cosine"
        )
    ).unionByName(
        sem_ref.select(
            F.lit("semantic_refined").alias("method"), "id1", "id2", "cosine"
        )
    )


@query(
    "embedding_label_stats",
    oracle="""
        WITH e AS (
            SELECT label, CAST(embedding AS DOUBLE[]) AS v,
                   list_max(list_transform(CAST(embedding AS DOUBLE[]),
                                           x -> abs(x))) / 127.0 AS s
            FROM embeddings
        ),
        q AS (
            SELECT label, v, s,
                   CASE WHEN s > 0 THEN list_transform(v, x -> round(x / s))
                        ELSE list_transform(v, x -> 0.0) END AS qv
            FROM e
        ),
        m AS (
            SELECT label, v, s, qv,
                   [abs(v[i] - qv[i] * s) for i in range(1, len(v) + 1)] AS err
            FROM q
        )
        SELECT m.label,
               count(*) AS n_vectors,
               round(avg(sqrt(list_dot_product(v, v))) + 1e-9, 4) AS avg_norm,
               round(min(sqrt(list_dot_product(v, v))) + 1e-9, 4) AS min_norm,
               round(max(sqrt(list_dot_product(v, v))) + 1e-9, 4) AS max_norm,
               round(max(list_max(err)) + 1e-9, 6) AS q8_max_err,
               round(avg(list_sum(err) / greatest(len(v), 1)) * 1000 + 1e-9, 4) AS q8_avg_err_milli,
               round(min(CASE WHEN s > 0 THEN
                   list_dot_product(v, qv)
                   / (sqrt(list_dot_product(v, v)) * sqrt(list_dot_product(qv, qv)))
                   ELSE 1.0 END) + 1e-9, 4) AS q8_min_cos,
               any_value(tr.cov_trace) AS cov_trace,
               round(min(sqrt(list_dot_product(v[1:32], v[1:32]))
                         / sqrt(list_dot_product(v, v))) + 1e-9, 4) AS trunc32_min_cos,
               round(avg(sqrt(list_dot_product(v[1:32], v[1:32]))
                         / sqrt(list_dot_product(v, v))) + 1e-9, 4) AS trunc32_avg_cos
        FROM m
        JOIN (
            -- per-label covariance trace = sum over dims of population
            -- variance; the Spark side reports sum(eigenvalues) of the
            -- distributed per-label covariance, equal by the trace
            -- identity — certifying the moment pipeline's diagonal.
            SELECT label, round(sum(m2 - m1 * m1) + 1e-9, 4) AS cov_trace
            FROM (
                SELECT label, i, avg(x * x) AS m2, avg(x) AS m1
                FROM (
                    SELECT label,
                           unnest(CAST(embedding AS DOUBLE[])) AS x,
                           unnest(range(1, len(embedding) + 1)) AS i
                    FROM embeddings
                )
                GROUP BY label, i
            )
            GROUP BY label
        ) tr ON tr.label = m.label
        GROUP BY m.label
    """,
    tags=("similarity", "aggregate", "quantization"),
    doc="Vector-norm statistics per label (array aggregation entirely "
    "JVM-side) PLUS int8 quantization quality (consolidated for the "
    "driver's 50-query cap): symmetric per-vector SQ8 quantization "
    "(quantize_int8 — scale = max|x|/127, round HALF_UP on both "
    "engines so quantized values are engine-exact) with per-label "
    "reconstruction stats — max absolute error (order-independent "
    "max-of-max), mean error in millis, and the minimum "
    "original-vs-quantized cosine (the ANN-ranking-fidelity bound; the "
    "per-vector scale cancels in cosine so quantized ANN needs no "
    "dequantization join). The 100 TB story: 4x smaller embedding "
    "storage with measured, differentially-verified quality bounds. "
    "Since r11 also DISTRIBUTED PCA (operators/pca.py): cov_trace = "
    "sum of eigenvalues of each label's covariance from the two-stage "
    "moment pipeline (one mapInArrow partials pass + one label-keyed "
    "combine), equal by the trace identity to the oracle's "
    "independently-recomputed per-dimension variance sum; "
    "eigenvectors/projection are pytest-differentialed vs numpy. Also "
    "the MATRYOSHKA truncation audit (trunc32_min/avg_cos — cosine "
    "fidelity of keeping only the first 32 dims, pure JVM folds): the "
    "prefix bound a serving stack checks before truncating stored "
    "embeddings, next to the PCA transform it falls back to.",
)
def embedding_label_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators import pca as pc

    emb = load_tables(spark, sf_dir)["embeddings"]
    qdf = sim.quantize_int8(emb)
    ec = sim.quantization_error_cols()
    nrm = sim.norm(sim.as_double("embedding"))
    stats = qdf.groupBy("label").agg(
        F.count(F.lit(1)).alias("n_vectors"),
        F.round(F.avg(nrm) + 1e-9, 4).alias("avg_norm"),
        F.round(F.min(nrm) + 1e-9, 4).alias("min_norm"),
        F.round(F.max(nrm) + 1e-9, 4).alias("max_norm"),
        F.round(F.max(ec["q8_max_err"]) + 1e-9, 6).alias("q8_max_err"),
        F.round(F.avg(ec["q8_mean_err"]) * 1000 + 1e-9, 4).alias("q8_avg_err_milli"),
        F.round(F.min(ec["q8_cos_self"]) + 1e-9, 4).alias("q8_min_cos"),
        # Matryoshka-truncation audit (operators/pca.py): cosine
        # fidelity of keeping only the first 32 dims — the bound a
        # serving stack checks before truncating stored embeddings.
        F.round(F.min(pc.truncation_quality("embedding", 32)) + 1e-9, 4).alias(
            "trunc32_min_cos"
        ),
        F.round(F.avg(pc.truncation_quality("embedding", 32)) + 1e-9, 4).alias(
            "trunc32_avg_cos"
        ),
    )
    # Distributed per-label PCA (operators/pca.py): the column is
    # sum(eigenvalues) of each label's covariance — by the trace
    # identity this must equal the oracle's independently-recomputed
    # per-dimension variance sum, certifying the two-stage moment
    # pipeline. Eager like the sampler threshold aggregates (≤ #labels
    # driver rows); the eigvectors themselves are pytest-checked
    # against single-node numpy (tests/test_pca.py).
    models = pc.pca_fit(emb, "embedding", label_col="label", k=8)
    trace_rows = [
        (lab, round(float(m.eigvals.sum()) + 1e-9, 4)) for lab, m in models.items()
    ]
    traces = F.broadcast(
        spark.createDataFrame(trace_rows, "label long, cov_trace double")
    )
    return stats.join(traces, "label")
