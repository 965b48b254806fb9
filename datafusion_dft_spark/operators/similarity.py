"""Similarity search over embedding columns (array<float>).

Two paths, mirroring how ANN is actually deployed:

- **Brute-force cosine top-k** — exact baseline. The query set is tiny
  and broadcast; the corpus side streams through a single projection
  computing dot products with JVM higher-order functions
  (``zip_with`` + ``aggregate`` — no Python in the loop). Per-query
  top-k via window row_number. Linear in corpus size, embarrassingly
  parallel: the 100 TB shape is "broadcast the queries, scan the
  corpus once".

- **LSH-bucketed ANN** — sub-linear scale path. Deterministic
  random-hyperplane signatures (seeded numpy planes baked into the
  plan as literals) bucket the corpus into L independent hash tables;
  queries probe their bucket plus its single-bit-flip neighbors in
  each table, then rerank exactly within the probed buckets. Recall
  tunes with (n_planes, n_tables, probe radius); per-query corpus
  cost drops from O(n) to O(L * n / 2^planes). Planes-per-table
  should grow with log(corpus) — the defaults suit 10^3..10^5
  vectors; at 10^9 use ~16 planes and more tables.

Everything is deterministic; cosine values are rounded (+1e-9 nudge)
so cross-engine comparisons hash stably.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import Column, DataFrame
from pyspark.sql import Window as W
from pyspark.sql import functions as F

N_PLANES = 6
N_TABLES = 8

# Corpus-size cap for the broadcast-verify rerank in cosine_dup_pairs:
# 250k x 64 float64 = 128 MB broadcast. Beyond it, the unbounded
# join-rehydration path runs instead.
_BROADCAST_VERIFY_MAX = 250_000
def as_double(vec: Column | str) -> Column:
    return F.transform(vec, lambda x: x.cast("double"))


def valid_vec(vec: Column | str, dim: int) -> Column:
    """Row predicate: ``vec`` is a usable embedding — non-NULL, exactly
    ``dim`` elements, every component finite, norm > 0.

    Applied at every ANN / embedding-dedup operator entry so real-corpus
    garbage (NULL vectors, ragged arities from schema drift, NaN/inf
    from upstream overflow, all-zero rows with no defined cosine) is
    DROPPED rather than crashing the vectorized numpy stages
    (``np.stack`` raises on ragged input) or poisoning rankings (Spark
    orders NaN above every float, so one NaN cosine would top every
    list). One short-circuiting JVM-side pass per row — a no-op on
    clean corpora and invisible to the differential oracles, which run
    on all-valid vectors.
    """
    v = F.col(vec) if isinstance(vec, str) else vec
    inf = F.lit(float("inf"))
    return (
        v.isNotNull()
        & (F.size(v) == F.lit(dim))
        & F.forall(v, lambda x: ~F.isnan(x) & (F.abs(x) != inf))
        & F.exists(v, lambda x: x != F.lit(0.0))
    )


def dot(a: Column, b: Column) -> Column:
    return F.aggregate(F.zip_with(a, b, lambda x, y: x * y), F.lit(0.0), lambda acc, x: acc + x)


def norm(a: Column) -> Column:
    return F.sqrt(F.aggregate(a, F.lit(0.0), lambda acc, x: acc + x * x))


def cosine(a: Column, b: Column) -> Column:
    return dot(a, b) / (norm(a) * norm(b))


def cosine_batch(a: Column, b: Column) -> Column:
    """Arrow-vectorized cosine for bulk rerank stages.

    ``cosine()``'s higher-order expressions are interpreted per
    element; fine at one dot per surviving row, but a candidate rerank
    evaluates millions of rows x dim lambdas (measured ~3 s of the
    4 s dedup_embedding_cosine steady state at sf0.1). One numpy
    einsum per Arrow batch does the same FLOPs at memory bandwidth.
    Left-to-right accumulation matches F.aggregate / DuckDB
    list_dot_product summation order closely enough that the rounded
    (+1e-9, 4dp) values hash identically — verified differentially.
    """

    @F.pandas_udf("double")
    def _udf(v1: pd.Series, v2: pd.Series) -> pd.Series:
        m1 = np.stack(v1.to_numpy())
        m2 = np.stack(v2.to_numpy())
        num = np.einsum("ij,ij->i", m1, m2)
        den = np.linalg.norm(m1, axis=1) * np.linalg.norm(m2, axis=1)
        return pd.Series(num / den)

    return _udf(a, b)


def brute_force_topk(
    corpus: DataFrame,
    queries: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    k: int = 5,
    dim: int | None = None,
) -> DataFrame:
    """Exact cosine top-k: (query_id, neighbor_id, cosine, rank).

    Ranking uses the rounded cosine with neighbor_id tiebreak so the
    result is deterministic and engine-portable. Rows failing
    :func:`valid_vec` are dropped on both sides (pass ``dim``
    explicitly in production; deriving it samples one row).
    """
    dim = dim if dim is not None else _dim_of(corpus, vec_col)
    q = queries.select(
        F.col(id_col).alias("query_id"), as_double(vec_col).alias("qv")
    ).filter(valid_vec("qv", dim))
    c = corpus.select(
        F.col(id_col).alias("neighbor_id"), as_double(vec_col).alias("cv")
    ).filter(valid_vec("cv", dim))
    scored = (
        c.crossJoin(F.broadcast(q))
        .filter(F.col("neighbor_id") != F.col("query_id"))
        .select(
            "query_id",
            "neighbor_id",
            F.round(cosine(F.col("qv"), F.col("cv")) + 1e-9, 4).alias("cosine"),
        )
    )
    w = W.partitionBy("query_id").orderBy(F.desc("cosine"), F.asc("neighbor_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w).cast("long"))
        .filter(F.col("rank") <= k)
        .select("query_id", "neighbor_id", "cosine", "rank")
    )


@__import__("functools").lru_cache(maxsize=16)
def _planes(dim: int, n_planes: int, n_tables: int) -> np.ndarray:
    """Deterministic hyperplane normals, one set per table.

    Coordinates are md5-derived uniforms on [-0.5, 0.5):
    ``int(md5("t:p:d")[:8], 16) / 2^32 - 0.5`` — every step is exact
    integer arithmetic followed by identical IEEE-754 ops, so DuckDB
    reproduces the planes bit-for-bit
    (``('0x'||substr(md5(t||':'||p||':'||d),1,8))::BIGINT / 4294967296.0
    - 0.5``) and the whole LSH pipeline becomes differentially
    checkable. Uniform (vs Gaussian) hyperplane normals lose exact
    rotation invariance but remain valid sign-LSH planes; recall is
    asserted against brute force in tests either way.

    Driver-latency note: tables x planes x dim md5 calls (221k at
    dim 768 / 24x12) run per index build, so the result is memoized per
    shape (lru_cache; the array is marked read-only since it is shared)
    and the per-coordinate hash reuses the md5 state of the "t:p:"
    prefix via ``.copy()`` — one update per coordinate instead of a
    full-string hash, identical digests (measured ~2.3x on the cold
    build; repeat builds are dict hits).
    """
    import hashlib

    d_tails = [str(d).encode() for d in range(dim)]
    out = np.empty((n_tables, n_planes, dim))
    for t in range(n_tables):
        for p in range(n_planes):
            prefix = hashlib.md5(f"{t}:{p}:".encode())
            row = out[t, p]
            for d in range(dim):
                h = prefix.copy()
                h.update(d_tails[d])
                row[d] = int(h.hexdigest()[:8], 16) / 4294967296.0 - 0.5
    out.setflags(write=False)
    return out


def signatures(
    vec: Column, dim: int, n_planes: int = N_PLANES, n_tables: int = N_TABLES
) -> Column:
    """array<long>[n_tables]: per-table sign-bit bucket ids.

    Computed by a vectorized pandas UDF: Spark's higher-order lambdas
    (aggregate/zip_with) are interpreted, not codegen'd, so evaluating
    n_tables*n_planes dot products per row as expressions costs millions
    of lambda invocations. One numpy matmul per Arrow batch
    ((N x dim) @ (dim x tables*planes)) does the same work at memory
    bandwidth — the canonical "vectorized UDF beats expression tree"
    case from SURVEY §1.3.
    """
    planes = _planes(dim, n_planes, n_tables)
    flat = planes.reshape(n_tables * n_planes, dim).T.copy()  # dim x (T*P)
    weights = (1 << np.arange(n_planes)).astype(np.int64)

    @F.pandas_udf("array<long>")
    def sig_udf(vecs: pd.Series) -> pd.Series:
        mat = np.stack(vecs.to_numpy())  # N x dim
        bits = (mat @ flat) > 0  # N x (T*P)
        bits = bits.reshape(len(mat), n_tables, n_planes)
        sigs = (bits * weights).sum(axis=2).astype(np.int64)  # N x T
        return pd.Series(list(sigs))

    return sig_udf(vec)


def _ensure_parallelism(df: DataFrame) -> DataFrame:
    """Repartition up to the core count when the source is under-split.

    Single-row-group parquet files (the test corpus) scan as ONE task,
    which serializes every downstream Arrow batch through one pandas
    UDF worker — and (round-12 diagnosis, SCALE.md) exposes the whole
    stage to this host's periodic per-vCPU degradation at full blast
    radius. A corpus at real scale arrives in thousands of row groups
    and skips this. Since r12 this delegates to the shared
    ``session.ensure_min_parallelism`` (one implementation of the
    narrow-scan guard repo-wide; the trigger widened from cpus/2 to
    cpus — identical behavior on the 1-partition local scans).
    """
    from ..session import ensure_min_parallelism

    return ensure_min_parallelism(df)


def _right_size(df: DataFrame, nrows: int, rows_per_part: int = 4000) -> DataFrame:
    """Split-count hygiene for pandas-UDF passes, sized from row count.

    Each scheduled task costs ~3-5 ms of driver work plus a Python
    worker round trip; a vectorized UDF wants thousands of rows per
    Arrow batch to amortize that. Target = rows/4000 partitions:

    - over-split (cur > 2x target, e.g. a 2k-row corpus arriving in
      64 splits): ``coalesce`` down — narrow, no shuffle. Only small
      inputs ever take this branch; at 10^9 rows the target is ~250k
      so a many-split corpus is untouched and keeps full scan
      parallelism.
    - under-split (fewer splits than cores AND enough rows to use
      them): repartition up to the core count, same guard as
      :func:`_ensure_parallelism`.
    """
    from ..session import default_parallelism

    cpus = default_parallelism()
    target = nrows // rows_per_part + 1
    cur = df.rdd.getNumPartitions()
    if cur > 2 * target:
        return df.coalesce(target)
    if cur < cpus // 2 and target > cur:
        return df.repartition(min(target, cpus))
    return df


def sig_relation(
    corpus: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    n_planes: int = 12,
    n_tables: int = 24,
    dim: int | None = None,
    nrows: int | None = None,
) -> DataFrame:
    """``(vid, v, sigs)``: the right-sized, signature-annotated corpus.

    The shared input of the unbounded self-join and the incremental
    probe (``cosine_dup_pairs(sig_rel=...)`` /
    ``cosine_dup_pairs_incremental(new_rel=/corpus_rel=...)``). A
    caller running SEVERAL formulations over one corpus builds this
    once, caches it, and passes it in — the signature pandas-UDF pass
    (the dominant per-run CPU of candidate generation) then runs once
    per corpus instead of once per formulation per consumer. Filters
    on ``vid`` commute with the per-row signature computation, so
    stride-splitting a cached relation equals signing the split
    inputs (guide §4: one Python-boundary pass, many consumers).
    """
    dim = dim or _dim_of(corpus, vec_col)
    if nrows is None:
        nrows = corpus.count()
    raw = corpus.select(
        F.col(id_col).alias("vid"), as_double(vec_col).alias("v")
    ).filter(valid_vec("v", dim))
    base = _right_size(raw, nrows)
    return base.select(
        "vid", "v", signatures(F.col("v"), dim, n_planes, n_tables).alias("sigs")
    )


def cosine_dup_pairs(
    corpus: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    threshold: float = 0.95,
    n_planes: int = 12,
    n_tables: int = 24,
    dim: int | None = None,
    nrows: int | None = None,
    strategy: str | None = None,
    sig_rel: DataFrame | None = None,
) -> DataFrame:
    """Embedding-cosine near-duplicate pairs: (id1, id2, cosine >= threshold).

    ``strategy`` pins the formulation: ``"bounded"`` (driver LSH
    bucketing over an Arrow-collected matrix + distributed verify) or
    ``"unbounded"`` (fully distributed single-shuffle banded self-join —
    the 100 TB path). ``None`` picks by corpus size
    (``nrows <= _BROADCAST_VERIFY_MAX``). Pinning exists so the
    unbounded formulation can be differentially oracle-checked on a
    corpus that would otherwise take the bounded path.

    Candidates come from multi-table LSH self-buckets, then the exact
    cosine filter runs only on candidates. Unlike query ANN
    (``lsh_topk``), a SELF-join needs no multi-probe: both members of
    a pair hash through the same planes, so recall is bought with more
    tables instead — at theta = acos(0.95) ~ 18deg a pair agrees with
    a random plane w.p. ~0.9, same 12-plane bucket w.p. 0.28, and the
    miss probability across 24 independent tables is 0.72^24 ~ 4e-4
    (pairs safely above the threshold do far better: at cosine 0.999
    the per-table bucket probability is 0.93 and the miss probability
    is ~1e-27). Deep buckets beat wide ones on clustered corpora:
    mid-similarity neighbor mass (cosine 0.5-0.85) collides constantly
    at 6 planes but almost never at 12 — measured 471k -> 17k distinct
    candidates (28x) on the sf0.1 corpus for the same found-pair set,
    which shrinks the distinct shuffle and the vector-rehydration
    joins by the same factor. The extra tables add one linear factor
    to the (cheap, vectorized) signature pass; candidate cost falls
    exponentially in planes. Same trade at 10^9 vectors: planes grow
    with log(n), tables buy back boundary recall.
    """
    if strategy not in (None, "bounded", "unbounded"):
        raise ValueError(f"unknown strategy: {strategy!r}")
    dim = dim or _dim_of(corpus, vec_col)
    if nrows is None:
        nrows = corpus.count()  # parquet serves this from footers; cached tables from stats
    raw = corpus.select(
        F.col(id_col).alias("vid"), as_double(vec_col).alias("v")
    ).filter(valid_vec("v", dim))
    use_bounded = (
        nrows <= _BROADCAST_VERIFY_MAX if strategy is None else strategy == "bounded"
    )
    if use_bounded:
        return _bounded_dup_pairs(
            corpus.sparkSession, raw, threshold, dim, n_planes, n_tables
        )
    # ``sig_rel``: a precomputed (vid, v, sigs) relation (sig_relation
    # output, typically cached by a caller that shares it with the
    # incremental formulation) — the signature pass then runs in the
    # caller's relation instead of being re-derived here.
    if sig_rel is not None:
        rel = sig_rel
        base = rel.select("vid", "v")
    else:
        base = _right_size(raw, nrows)
        rel = base.select(
            "vid", signatures(F.col("v"), dim, n_planes, n_tables).alias("sigs")
        )
    # Candidate generation as ONE shuffle: group ids per (table, bucket)
    # and expand ordered pairs JVM-side with nested array transforms.
    # This replaced a cache + equi-self-join formulation (r5): the
    # banded relation now has exactly one consumer, so the pandas-UDF
    # signature pass runs once with no cache materialization, no eager
    # count barrier, and no AQE exchange-reuse fragility — measured
    # 1.6 s -> 1.0 s steady at sf0.1. Shuffle bytes are bare
    # (table, bucket, vid) triples; vectors rejoin only for the exact
    # rerank of the (small) candidate set (carrying 64-double vectors
    # through candidate generation multiplies shuffle bytes ~30x).
    # Skew note for 10^9 vectors: a bucket's O(b^2) pair expansion runs
    # in the task owning that key — the same placement an equi-join
    # gives (one key pair = one partition) — so the fix for a
    # degenerate hot bucket is more planes (buckets shrink
    # exponentially), not a different join strategy.
    banded = rel.select("vid", F.posexplode("sigs").alias("table", "bucket"))
    buckets = (
        banded.groupBy("table", "bucket")
        .agg(F.sort_array(F.collect_list("vid")).alias("ids"))
        .filter(F.size("ids") >= 2)
    )
    pairs = buckets.select(
        F.explode(
            F.flatten(
                F.transform(
                    "ids",
                    lambda x, i: F.transform(
                        F.slice("ids", i + 2, F.size("ids")),
                        lambda y: F.struct(x.alias("id1"), y.alias("id2")),
                    ),
                )
            )
        ).alias("pr")
    ).select("pr.id1", "pr.id2")
    cand = pairs.distinct()  # the same pair surfaces from every agreeing table
    return _exact_cosine_rerank(cand, base, threshold)


def _exact_cosine_rerank(cand: DataFrame, base: DataFrame, threshold: float) -> DataFrame:
    """Vector-rehydration exact rerank shared by the self-join and
    incremental variants — ONE formula (same +1e-9 nudge, same 4 dp
    rounding), so their property-tested equality cannot desynchronize."""
    v1 = base.select(F.col("vid").alias("id1"), F.col("v").alias("v1"))
    v2 = base.select(F.col("vid").alias("id2"), F.col("v").alias("v2"))
    return (
        cand.join(v1, "id1")
        .join(v2, "id2")
        .withColumn("cosine", F.round(cosine_batch(F.col("v1"), F.col("v2")) + 1e-9, 4))
        .filter(F.col("cosine") >= threshold)
        .select("id1", "id2", "cosine")
    )


def cosine_dup_pairs_incremental(
    new_df: DataFrame,
    corpus_df: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    threshold: float = 0.95,
    n_planes: int = 12,
    n_tables: int = 24,
    dim: int | None = None,
    check_id_overlap: bool = True,
    broadcast: bool | None = None,
    new_rel: DataFrame | None = None,
    corpus_rel: DataFrame | None = None,
) -> DataFrame:
    """Embedding near-dup pairs between an incoming BATCH and a corpus.

    The increment counterpart of ``cosine_dup_pairs`` (the
    ``minhash_lsh_pairs_incremental`` shape applied to sign-LSH):
    the banded BATCH side probes one pass over the banded corpus plus
    itself on (table, bucket), so the corpus is never self-joined and
    candidate cost scales with |batch| × collision rate. ``broadcast``
    pins the probe strategy (``True`` = forced broadcast hint,
    ``False`` = no hint — Catalyst/AQE decides from runtime bytes;
    threshold=-1 forces the pure shuffle); ``None`` applies the shared
    ``_incr_should_broadcast`` rule — hint only while batch ×
    parallelism ≤ corpus AND the batch is under the
    ``_INCR_BROADCAST_MAX_BATCH`` cap, else defer to the bytes-based
    AQE choice. Identical planes (md5-derived, shared
    ``signatures``) mean recall equals the unbounded self-join's for
    batch-touching pairs — property-tested in tests/test_similarity.py.

    Returns (id1, id2, cosine) with id1 < id2, at least one side from
    the batch. Batch and corpus ids must be disjoint — overlap raises.
    The guard joins id-only over the cached relations: near-free warm,
    but a cold daily-increment job pays the corpus signature build at
    construction time (the pair join reuses it, so nothing is wasted —
    the cost just becomes eager). Callers with structural disjointness
    can pass ``check_id_overlap=False`` to skip that job; the default
    ``broadcast=None`` also runs an eager batch count to pick the probe
    strategy, so fully lazy construction needs ``broadcast`` pinned
    explicitly too.

    ``new_rel`` / ``corpus_rel`` — precomputed ``(vid, v, sigs)``
    relations (:func:`sig_relation` output; e.g. stride-filtered views
    of ONE cached corpus-wide relation shared with the unbounded
    self-join). When given, the per-side projection/validity/signature
    pipeline never runs here: the signature pandas-UDF pass happens in
    the caller's relation (once), and the probe side's banding —
    consumed twice (probe + build union) — re-reads the annotated rows
    instead of re-executing the UDF (guide §4). Both must be provided
    together, with ``broadcast`` pinned (the auto rule's counts would
    re-trigger the caller's lineage); the caller owns plane-parameter
    consistency.
    """
    if (new_rel is None) != (corpus_rel is None):
        raise ValueError("new_rel and corpus_rel must be provided together")
    if new_rel is not None:
        if broadcast is None:
            raise ValueError("precomputed relations require a pinned broadcast strategy")
        raw_new = new_rel.select("vid", "v")
        raw_corpus = corpus_rel.select("vid", "v")
        sig_new, sig_corpus = new_rel, corpus_rel
    else:
        dim = dim or _dim_of(new_df, vec_col)
        sigs = signatures(F.col("v"), dim, n_planes, n_tables)

        def prep(df):
            # _right_size: a single-row-group parquet corpus would scan as
            # ONE task and serialize the signature pandas-UDF pass through
            # one worker — the same hygiene the unbounded self-join applies.
            # The SIGNATURE-annotated relation is what gets cached (not the
            # bare vectors): the batch side's banding has two consumers
            # (probe + build union) and the rerank rehydrates v from the
            # same rows, so caching after the pandas-UDF pass runs it once
            # per side instead of once per consumer (guide §4).
            raw = df.select(
                F.col(id_col).alias("vid"), as_double(vec_col).alias("v")
            ).filter(valid_vec("v", dim))
            n = raw.count()
            rel = _right_size(raw, n).select("vid", "v", sigs.alias("sigs")).cache()
            return rel, n

        (sig_new, n_new), (sig_corpus, n_corpus) = prep(new_df), prep(corpus_df)
        raw_new = sig_new.select("vid", "v")
        raw_corpus = sig_corpus.select("vid", "v")
    if check_id_overlap:
        overlap = raw_new.select("vid").join(raw_corpus.select("vid"), "vid")
        if overlap.limit(1).count():
            raise ValueError(
                "cosine_dup_pairs_incremental: batch and corpus share ids — "
                "was this batch already merged into the corpus?"
            )

    def banded(rel):
        return rel.select("vid", F.posexplode("sigs").alias("table", "bucket"))

    probe = banded(sig_new).select(F.col("vid").alias("id_a"), "table", "bucket")
    build = (
        banded(sig_corpus)
        .unionByName(banded(sig_new))
        .select(F.col("vid").alias("id_b"), "table", "bucket")
    )
    # Same guard as the minhash increment: broadcast is the right plan
    # only while batch × parallelism ≤ corpus (and under the absolute
    # cap) — see _incr_should_broadcast's cost model; a backfill-sized
    # batch degrades to a shuffled (table, bucket) equi-join instead of
    # shipping the banded batch to every executor.
    if broadcast is None:
        from .dedup import _incr_should_broadcast

        broadcast = _incr_should_broadcast(new_df.sparkSession, n_new, n_corpus)
    probe_side = F.broadcast(probe) if broadcast else probe
    cand = (
        build.join(probe_side, ["table", "bucket"])
        .filter(F.col("id_a") != F.col("id_b"))
        .select(
            F.least("id_a", "id_b").alias("id1"),
            F.greatest("id_a", "id_b").alias("id2"),
        )
        .distinct()
    )
    base = raw_new.unionByName(raw_corpus)
    return _exact_cosine_rerank(cand, base, threshold)


def _collect_matrix(raw: DataFrame, dim: int) -> tuple[np.ndarray, np.ndarray]:
    """Materialize (ids, matrix) for a bounded corpus through Arrow.

    ``toArrow`` moves the vectors as one contiguous Arrow buffer that
    reshapes into the numpy matrix without touching Python rows; a
    ragged or wrong-dim vector fails the reshape.
    """
    tbl = raw.toArrow()
    ids = np.asarray(tbl.column("vid").to_numpy(zero_copy_only=False), dtype=np.int64)
    lists = tbl.column("v").combine_chunks()
    mat = np.asarray(
        lists.flatten().to_numpy(zero_copy_only=False), dtype=np.float64
    ).reshape(len(ids), dim)
    return ids, mat


# Candidate-count threshold between the two bounded verify strategies:
# at or below it, pairs are expanded + deduped in the driver (kills the
# post-verify distinct); above it, bucket member lists ship instead and
# the distinct runs on survivors only. 2M pairs x 16 B = 32 MB driver.
_PAIR_EXPAND_MAX = 2_000_000


def _bounded_dup_pairs(
    spark,
    raw: DataFrame,
    threshold: float,
    dim: int,
    n_planes: int,
    n_tables: int,
) -> DataFrame:
    """Bounded-corpus near-dup path: driver bucketing + distributed verify.

    For corpora inside the broadcast budget (<= ``_BROADCAST_VERIFY_MAX``
    rows — the same deliberate materialization as the IVF codebook:
    250k x 64 float64 = 128 MB) the whole vector matrix is collected
    once via Arrow, so the LSH signature matmul runs directly on that
    matrix in the driver instead of paying a pandas-UDF pass plus a
    posexplode + groupBy shuffle to rebuild information the driver
    already holds (measured: the executor-side formulation spent ~0.8 s
    of a 1.9 s steady state in that job at sf0.1). Identical math to
    :func:`signatures` — same md5 planes, same ``(mat @ flat) > 0``
    sign bits — so bucketing is unchanged. Verification is DISTRIBUTED
    either way, via two strategies picked by candidate count:

    - **pair expansion** (<= ``_PAIR_EXPAND_MAX`` raw candidates, the
      common case): pairs expand per bucket and dedupe with
      ``np.unique`` in index space (indices into the id-sorted matrix,
      so index order == id order), removing the post-verify
      ``distinct`` shuffle entirely; chunked pair-index arrays ship to
      executors, each task gathers its rows from the broadcast matrix
      and computes pairwise cosines with one einsum, emitting only
      survivors — a single shuffle-free mapInPandas stage.
    - **bucket verify** (clustered/adversarial corpora — e.g. the sf1
      rehearsal's 71M raw candidates for 6.6k survivors): deduped
      bucket member-index lists ship instead (bounded by
      n_tables x n ids, never by the quadratic pair count), each task
      verifies its buckets blockwise against the broadcast matrix, and
      the >= threshold filter runs BEFORE a distinct over survivors
      only. A degenerate hot bucket runs O(b^2) in its owning task —
      the same placement an equi-join gives; the real fix is more
      planes (buckets shrink exponentially).
    """
    from ..session import default_parallelism

    ids, mat = _collect_matrix(raw, dim)
    empty_schema = "id1 long, id2 long, cosine double"
    if ids.size == 0:
        return spark.createDataFrame([], empty_schema)
    order = np.argsort(ids)
    ids_s, mat_s = ids[order], mat[order]
    n = len(ids_s)
    planes = _planes(dim, n_planes, n_tables)
    flat = planes.reshape(n_tables * n_planes, dim).T
    bits = (mat_s @ flat) > 0  # N x (T*P)
    weights = (1 << np.arange(n_planes)).astype(np.int64)
    sigs = (bits.reshape(n, n_tables, n_planes) * weights).sum(axis=2)
    groups: list[np.ndarray] = []  # sorted index arrays, >= 2 members
    est_pairs = 0
    for t in range(n_tables):
        col = sigs[:, t]
        o = np.argsort(col, kind="stable")
        cuts = np.flatnonzero(np.diff(col[o])) + 1
        starts = np.concatenate(([0], cuts))
        ends = np.concatenate((cuts, [n]))
        sizes = ends - starts
        est_pairs += int((sizes * (sizes - 1) // 2).sum())
        for s, e in zip(starts[sizes >= 2], ends[sizes >= 2]):
            groups.append(np.sort(o[s:e]))
    if not groups:
        return spark.createDataFrame([], empty_schema)
    bc = spark.sparkContext.broadcast(
        (ids_s, mat_s, np.linalg.norm(mat_s, axis=1))
    )
    thr = threshold
    if est_pairs > _PAIR_EXPAND_MAX:
        return _bucket_verify(spark, bc, groups, thr, empty_schema)
    pi_parts: list[np.ndarray] = []
    pj_parts: list[np.ndarray] = []
    for g in groups:
        if len(g) == 2:  # size-2 buckets dominate real corpora
            pi_parts.append(g[:1])
            pj_parts.append(g[1:])
        else:
            ii, jj = np.triu_indices(len(g), 1)
            pi_parts.append(g[ii])
            pj_parts.append(g[jj])
    # dedupe in index space: i < j always (groups are index-sorted), and
    # index order mirrors id order, so id1 < id2 holds downstream.
    key = np.unique(
        np.concatenate(pi_parts).astype(np.int64) * n
        + np.concatenate(pj_parts).astype(np.int64)
    )
    pi, pj = key // n, key % n

    def verify_pairs(batches):
        b_ids, b_mat, b_norms = bc.value
        for pdf in batches:
            for pi_m, pj_m in zip(pdf["pi"], pdf["pj"]):
                i = np.asarray(pi_m, dtype=np.int64)
                j = np.asarray(pj_m, dtype=np.int64)
                for r0 in range(0, len(i), 1 << 20):  # bound per-task memory
                    ii, jj = i[r0 : r0 + (1 << 20)], j[r0 : r0 + (1 << 20)]
                    num = np.einsum("ij,ij->i", b_mat[ii], b_mat[jj])
                    raw = num / (b_norms[ii] * b_norms[jj]) + 1e-9
                    # prefilter with 1e-4 slack (2x the rounding step),
                    # then round only the near-threshold superset —
                    # np.round at ~100M/s was the per-candidate hot spot
                    cand = raw >= thr - 1e-4
                    if not cand.any():
                        continue
                    # np.round is half-even vs Spark/DuckDB's HALF_UP,
                    # but the +1e-9 nudge (applied identically on every
                    # engine) pushes values off exact .xxxx5 ties, so
                    # the modes can't disagree on reachable inputs —
                    # verified by the differential oracles.
                    c = np.round(raw[cand], 4)
                    keep = c >= thr
                    if keep.any():
                        yield pd.DataFrame(
                            {
                                "id1": b_ids[ii[cand][keep]],
                                "id2": b_ids[jj[cand][keep]],
                                "cosine": c[keep],
                            }
                        )

    # chunk the pair list so each task amortizes its Python round trip
    # while big candidate sets still spread across the cluster; explicit
    # parallelize slices — `.coalesce(n)` over a parallelized local
    # relation measures ~4.8 s/job on Spark 4.1 vs ~0.3 s for sliced
    # parallelize, a pure scheduler artifact
    chunk = max(8192, len(pi) // (2 * default_parallelism()) + 1)
    rows = [
        (pi[a : a + chunk].tolist(), pj[a : a + chunk].tolist())
        for a in range(0, len(pi), chunk)
    ]
    bdf = spark.createDataFrame(
        spark.sparkContext.parallelize(rows, len(rows)),
        "pi array<long>, pj array<long>",
    )
    return bdf.mapInPandas(verify_pairs, empty_schema)


def _sieve_pairs(sims, thr: float):
    """(row_idx, col_idx, cosine) of >= ``thr`` entries in a similarity
    block — THE cross-engine numeric convention, living ONLY here so
    every verify formulation (triangular, rectangular, bucketed) stays
    bit-identical against the oracles: prefilter with 1e-4 slack (2x
    the rounding step) so np.round — the measured per-candidate hot
    spot — touches only the near-threshold superset; +1e-9 nudge
    applied identically on every engine pushes values off exact .xxxx5
    ties so numpy's half-even and Spark/DuckDB's HALF_UP can't
    disagree on reachable inputs.
    """
    ri, cj = np.nonzero(sims + 1e-9 >= thr - 1e-4)
    if not len(ri):
        return ri, cj, np.array([], np.float64)
    c = np.round(sims[ri, cj] + 1e-9, 4)
    keep = c >= thr
    return ri[keep], cj[keep], c[keep]


def _blockwise_dup_pairs(ids, mat, nrm, thr: float, block: int = 2048):
    """Upper-triangle >= ``thr`` cosine pairs of one id-SORTED vector
    set, blockwise to bound per-task memory.

    Returns (id1, id2, cosine) numpy arrays (possibly empty); the
    numeric convention is ``_sieve_pairs``'s, and ``ids`` ascending
    makes the upper triangle emit id1 < id2.
    """
    out1, out2, outc = [], [], []
    n = len(ids)
    for r0 in range(0, n, block):
        r1 = min(r0 + block, n)
        sims = (mat[r0:r1] @ mat.T) / np.outer(nrm[r0:r1], nrm)
        ri, cj, c = _sieve_pairs(sims, thr)
        tri = (ri + r0) < cj  # upper tri: id1 < id2
        if tri.any():
            out1.append(ids[(ri + r0)[tri]])
            out2.append(ids[cj[tri]])
            outc.append(c[tri])
    if not out1:
        return (
            np.array([], np.int64),
            np.array([], np.int64),
            np.array([], np.float64),
        )
    return np.concatenate(out1), np.concatenate(out2), np.concatenate(outc)


def _bucket_verify(spark, bc, groups: list, thr: float, empty_schema: str) -> DataFrame:
    """High-candidate bounded verify: ship deduped bucket member lists.

    Shipped bytes are bounded by n_tables x n member indices — never by
    the quadratic candidate count — and each task verifies its buckets
    blockwise against the broadcast matrix, emitting only >= threshold
    survivors, so the trailing distinct shuffles survivors (thousands)
    instead of candidates (tens of millions on the sf1 rehearsal
    corpus). Buckets are size-sorted and round-robined across slices so
    one slice doesn't own every hot bucket.
    """
    from ..session import default_parallelism

    uniq = {g.tobytes(): g for g in groups}
    bylen = sorted(uniq.values(), key=len, reverse=True)
    n_slices = max(1, min(default_parallelism(), len(bylen)))
    arranged = [g for s in range(n_slices) for g in bylen[s::n_slices]]

    def verify_buckets(batches):
        # accumulate survivors across the whole input batch and emit ONE
        # Arrow batch per pdf — per-bucket emission creates thousands of
        # tiny record batches whose serialization overhead dwarfs the
        # cosine math (measured 34 s -> ~8 s on the sf3 corpus's 20k
        # buckets)
        b_ids, b_mat, b_norms = bc.value
        for pdf in batches:
            out1, out2, outc = [], [], []
            for members in pdf["idx"]:
                g = np.asarray(members, dtype=np.int64)
                # g is index-sorted and index order mirrors id order, so
                # the shared blockwise kernel's id1 < id2 contract holds
                i1, i2, c = _blockwise_dup_pairs(
                    b_ids[g], b_mat[g], b_norms[g], thr
                )
                if len(i1):
                    out1.append(i1)
                    out2.append(i2)
                    outc.append(c)
            if out1:
                yield pd.DataFrame(
                    {
                        "id1": np.concatenate(out1),
                        "id2": np.concatenate(out2),
                        "cosine": np.concatenate(outc),
                    }
                )

    bdf = spark.createDataFrame(
        spark.sparkContext.parallelize([(g.tolist(),) for g in arranged], n_slices),
        "idx array<long>",
    )
    return (
        bdf.mapInPandas(verify_buckets, empty_schema)
        .distinct()  # the same pair can surface from overlapping buckets
    )


def _dim_of(df: DataFrame, vec_col: str) -> int:
    """Sample the vector arity from the first non-empty row (0 if none).

    A convenience for ad-hoc calls — production callers pass ``dim``
    explicitly, both to skip the driver job and because a corpus whose
    first row is itself ragged would mis-derive here.
    """
    row = (
        df.select(F.size(vec_col).alias("d")).filter(F.col("d") > 0).first()
    )
    return int(row.d) if row is not None else 0


def refine_centroids(
    corpus: DataFrame,
    cents: DataFrame,
    iters: int = 2,
) -> DataFrame:
    """Lloyd k-means refinement of IVF centroids, fully distributed.

    Each iteration: broadcast the (tiny) centroid set, assign every
    corpus vector to its argmax-cosine centroid, and recompute each
    centroid as its cell's mean vector — one broadcast join plus one
    groupBy shuffle on centroid id per iteration. No driver-side
    vector math; the centroid relation never exceeds n_centroids rows.
    Empty cells keep their previous centroid. Refined centroids cut
    cell imbalance (stride samples land in dense regions), which is
    what bounds worst-case probe cost at 10^9 vectors.

    Engine-portable by the repo's rounding convention (round 11, so
    one Lloyd iteration can be differentially replayed in DuckDB as
    the 'semantic_refined' arm of ``dedup_embedding_cosine``): the
    assignment argmax ranks the ROUNDED cosine (+1e-9, 6dp — same as
    the SemDeDup assignment, so a cross-engine near-tie resolves to an
    exact tie and the centroid_id ASC tie-break decides identically),
    and the refined means are rounded the same way (a 6dp grid absorbs
    the ~1e-13 summation-order drift of a distributed avg).
    """
    first = cents.first()
    if first is None:  # empty corpus → empty codebook: nothing to refine
        return cents
    dim = len(first.centv)
    # Garbage hygiene (adversarial corpora): rows failing valid_vec are
    # DROPPED from the refinement — NaN/zero-norm vectors must not vote
    # on centroids, and under ANSI mode a zero-norm side would turn the
    # ranking cosine into a DIVIDE_BY_ZERO error. The centroid side may
    # still be garbage (callers can sample an unfiltered corpus), so
    # the ranking guards its denominator: a non-finite/zero-norm
    # centroid scores -2.0 (below every real cosine) instead of
    # erroring, and ties fall to the centroid_id ASC tie-break.
    corpus = corpus.filter(valid_vec("cv", dim))
    inf = F.lit(float("inf"))
    for _ in range(iters):
        scored = corpus.select("cid", "cv").crossJoin(
            F.broadcast(cents.select("centroid_id", "centv"))
        )
        den = norm(F.col("cv")) * norm(F.col("centv"))
        ranked_cos = F.when(
            ~F.isnan(den) & (den > 0) & (den < inf),
            F.round(dot(F.col("cv"), F.col("centv")) / den + 1e-9, 6),
        ).otherwise(F.lit(-2.0))
        w = W.partitionBy("cid").orderBy(
            F.desc(ranked_cos),
            F.asc("centroid_id"),
        )
        assigned = (
            scored.withColumn("rnk", F.row_number().over(w))
            .filter(F.col("rnk") == 1)
            .select("cid", "cv", "centroid_id")
        )
        means = assigned.groupBy("centroid_id").agg(
            F.array(
                *[F.round(F.avg(F.col("cv")[i]) + 1e-9, 6) for i in range(dim)]
            ).alias("newv")
        )
        cents = (
            cents.join(means, "centroid_id", "left")
            .select("centroid_id", F.coalesce("newv", "centv").alias("centv"))
        )
    return cents


def _stride_centroid_rows(
    cd: DataFrame, nrows: int, n_centroids: int
) -> list[tuple[int, list[float]]]:
    """Deterministic md5-stride centroid sample, materialized.

    A distributed hash-stride filter keeps ~n_centroids candidates
    executor-side (collecting all corpus ids to the driver would OOM at
    the scales these operators target), then a tiny ordered limit pins
    the exact set — <= n_centroids rows BY CONSTRUCTION. md5 (not
    xxhash64) keeps the sample engine-portable: DuckDB reproduces
    ('0x'||substr(md5(id),1,8))::BIGINT % stride. Shared by the IVF
    index and the SemDeDup clustering so both replay identically in the
    differential oracles. ``cd`` must carry (cid, cv) columns.
    """
    stride = max(1, nrows // n_centroids)
    stride_hash = F.conv(
        F.substring(F.md5(F.col("cid").cast("string")), 1, 8), 16, 10
    ).cast("long")
    rows = (
        cd.filter(F.pmod(stride_hash, F.lit(stride)) == 0)
        .orderBy("cid")
        .limit(n_centroids)
        .select(F.col("cid").alias("centroid_id"), F.col("cv").alias("centv"))
        .collect()
    )
    return [(int(r.centroid_id), [float(x) for x in r.centv]) for r in rows]


def ivf_topk(
    corpus: DataFrame,
    queries: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    k: int = 5,
    n_centroids: int = 16,
    n_probe: int = 4,
    refine_iters: int = 0,
    nrows: int | None = None,
    dim: int | None = None,
) -> DataFrame:
    """IVF-flat ANN: coarse-quantize the corpus, probe the nearest cells.

    Centroids are a deterministic stride-sample of the corpus, with
    optional Lloyd refinement (``refine_iters`` — see
    ``refine_centroids``; the oracled registry query keeps 0 so the
    centroid set stays closed-form for the DuckDB differential).
    Every vector is assigned to its nearest centroid (argmax cosine);
    a query scans only its ``n_probe`` nearest cells — n_probe/
    n_centroids of the corpus instead of all of it. The inverted-file
    shape scales: assignment is one broadcast join + argmax, and the
    probe join shuffles on cluster id only.
    """
    if nrows is None:
        nrows = corpus.count()
    dim = dim if dim is not None else _dim_of(corpus, vec_col)
    cd = _right_size(
        corpus.select(F.col(id_col).alias("cid"), as_double(vec_col).alias("cv"))
        .filter(valid_vec("cv", dim)),
        nrows,
    )
    # Pin the centroid table: it is <= n_centroids rows BY CONSTRUCTION
    # (a bounded coarse quantizer, not data-scaled), but as a lazy plan
    # it would re-scan the corpus once per consumer (corpus assignment
    # AND query probing). Materializing it to a literal relation costs
    # one tiny job and makes both broadcast joins trivial — the same
    # move every IVF implementation makes (the codebook lives with the
    # index, not the data).
    cents = corpus.sparkSession.createDataFrame(
        _stride_centroid_rows(cd, nrows, n_centroids),
        "centroid_id long, centv array<double>",
    )
    if refine_iters:
        cents = refine_centroids(cd, cents, iters=refine_iters)
        cents = corpus.sparkSession.createDataFrame(
            cents.collect(), "centroid_id long, centv array<double>"
        )

    def nearest(vec_df: DataFrame, vec: str, id_: str, n: int) -> DataFrame:
        scored = vec_df.crossJoin(F.broadcast(cents)).select(
            id_, vec, "centroid_id", cosine(F.col(vec), F.col("centv")).alias("sim")
        )
        w = W.partitionBy(id_).orderBy(F.desc("sim"), F.asc("centroid_id"))
        return (
            scored.withColumn("rnk", F.row_number().over(w))
            .filter(F.col("rnk") <= n)
            .drop("rnk", "sim")
        )

    assigned = nearest(cd, "cv", "cid", 1)  # corpus: one cell each
    q = queries.select(
        F.col(id_col).alias("query_id"), as_double(vec_col).alias("qv")
    ).filter(valid_vec("qv", dim))
    probes = nearest(q, "qv", "query_id", n_probe)  # queries: n_probe cells
    scored = (
        assigned.join(probes, "centroid_id")
        .filter(F.col("cid") != F.col("query_id"))
        .select(
            "query_id",
            F.col("cid").alias("neighbor_id"),
            F.round(cosine(F.col("qv"), F.col("cv")) + 1e-9, 4).alias("cosine"),
        )
        .dropDuplicates(["query_id", "neighbor_id"])
    )
    w = W.partitionBy("query_id").orderBy(F.desc("cosine"), F.asc("neighbor_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w).cast("long"))
        .filter(F.col("rank") <= k)
        .select("query_id", "neighbor_id", "cosine", "rank")
    )


def lsh_topk(
    corpus: DataFrame,
    queries: DataFrame,
    dim: int,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    k: int = 5,
    n_planes: int = N_PLANES,
    n_tables: int = N_TABLES,
    multiprobe: bool = True,
    nrows: int | None = None,
) -> DataFrame:
    """Approximate cosine top-k via multi-table hyperplane LSH + exact rerank.

    (query_id, neighbor_id, cosine, rank) — same shape as brute force so
    recall can be measured by direct comparison. Candidates come only
    from (table, bucket) matches; each query probes its own bucket and,
    with ``multiprobe``, every single-bit flip of it per table.
    """
    sigs = signatures(F.col("cv"), dim, n_planes, n_tables)
    cbase = corpus.select(
        F.col(id_col).alias("neighbor_id"), as_double(vec_col).alias("cv")
    ).filter(valid_vec("cv", dim))
    cbase = _right_size(cbase, nrows) if nrows is not None else _ensure_parallelism(cbase)
    c = cbase.select("neighbor_id", "cv", F.posexplode(sigs).alias("table", "bucket"))
    qsigs = signatures(F.col("qv"), dim, n_planes, n_tables)
    q = queries.select(
        F.col(id_col).alias("query_id"), as_double(vec_col).alias("qv")
    ).filter(valid_vec("qv", dim)).select(
        "query_id", "qv", F.posexplode(qsigs).alias("table", "qsig")
    )
    if multiprobe:
        # Vectors near a plane land on either side of it — probing every
        # single-bit flip recovers most of that lost recall.
        probes = F.array(
            F.col("qsig"),
            *[F.col("qsig").bitwiseXOR(F.lit(1 << p).cast("long")) for p in range(n_planes)],
        )
        q = q.select("query_id", "qv", "table", F.explode(probes).alias("bucket"))
    else:
        q = q.select("query_id", "qv", "table", F.col("qsig").alias("bucket"))
    scored = (
        c.join(F.broadcast(q), ["table", "bucket"])
        .filter(F.col("neighbor_id") != F.col("query_id"))
        .select(
            "query_id",
            "neighbor_id",
            F.round(cosine(F.col("qv"), F.col("cv")) + 1e-9, 4).alias("cosine"),
        )
        .dropDuplicates(["query_id", "neighbor_id"])
    )
    w = W.partitionBy("query_id").orderBy(F.desc("cosine"), F.asc("neighbor_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w).cast("long"))
        .filter(F.col("rank") <= k)
        .select("query_id", "neighbor_id", "cosine", "rank")
    )


# A single SemDeDup cell is verified O(cell^2) inside its owning task
# (vectorized, blockwise) — the same placement a groupBy gives any hot
# key. Cells beyond this bound mean n_clusters is mis-sized for the
# corpus; fail LOUDLY instead of grinding one straggler task.
_SEMANTIC_CELL_MAX = 250_000

# Auto-sized K targets this mean cell size: big enough that the fixed
# per-cell costs amortize, small enough that a cell's O(cell^2)
# verify stays a sub-second numpy matmul.
_SEMANTIC_TARGET_CELL = 4096


def _semantic_assign(
    cd: DataFrame, centroids: list[tuple[int, list[float]]], dim: int
) -> DataFrame:
    """(cid, cv) -> + cluster_id via one zero-shuffle mapInArrow pass.

    Full cosine, +1e-9 nudge, 6dp round BEFORE the argmax: the oracle
    recomputes the same rounded value with its own summation order, so
    a near-tie between two centroids resolves to an EXACT tie on both
    engines and the shared centroid_id tie-break (argmax-first over
    the id-sorted centroid rows = the oracle's ORDER BY ...
    centroid_id ASC) keeps assignment engine-identical — the same
    rounding guard every other cross-engine comparison in this module
    uses. ``cd`` rows must already satisfy ``valid_vec`` (exactly
    ``dim`` non-null doubles) so the flattened Arrow values reshape
    losslessly.
    """
    import pyarrow as pa
    from pyspark.sql import types as T

    cmat = np.array([cv for _, cv in centroids], dtype=np.float64)  # K x dim
    cnorm = np.linalg.norm(cmat, axis=1)
    cids_arr = np.array([c for c, _ in centroids], dtype=np.int64)
    assign_schema = T.StructType(
        list(cd.schema.fields) + [T.StructField("cluster_id", T.LongType())]
    )

    def assign(batches):
        for batch in batches:
            cv_arr = batch.column(batch.schema.get_field_index("cv"))
            n = len(cv_arr)
            if n == 0:
                continue
            mat = cv_arr.flatten().to_numpy(zero_copy_only=False).reshape(n, dim)
            sims = (mat @ cmat.T) / (
                np.linalg.norm(mat, axis=1)[:, None] * cnorm
            )
            am = np.argmax(np.round(sims + 1e-9, 6), axis=1)
            yield pa.RecordBatch.from_arrays(
                [batch.column(i) for i in range(batch.num_columns)]
                + [pa.array(cids_arr[am], pa.int64())],
                names=list(batch.schema.names) + ["cluster_id"],
            )

    return cd.mapInArrow(assign, schema=assign_schema)


def semantic_dup_pairs(
    corpus: DataFrame,
    threshold: float = 0.95,
    n_clusters: int | None = 16,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    nrows: int | None = None,
    dim: int | None = None,
    centroids: list[tuple[int, list[float]]] | None = None,
    assigned: DataFrame | None = None,
) -> DataFrame:
    """SemDeDup-style semantic near-duplicate pairs: cluster, then dedup
    within each cluster only.

    The published recipe (Abbas et al. 2023, "SemDeDup: Data-efficient
    learning at web-scale through semantic deduplication", arXiv
    2303.09540): coarse-cluster the embedding space with k-means and
    search for near-duplicates ONLY inside each cluster — the O(n^2)
    pair space drops to O(n^2 / K) and each cell's pairwise pass runs
    vectorized in worker memory. Pairs straddling a cluster boundary
    are missed BY DESIGN (the approximation the paper measures); the
    exhaustive formulations in ``cosine_dup_pairs`` are the recall
    oracle.

    Engine-portable clustering: centroids are the same deterministic
    md5-stride sample the IVF index uses (``_stride_centroid_rows``) so
    DuckDB replays assignment exactly; production at 100 TB would
    Lloyd-refine them (``refine_centroids``) and scale ``n_clusters``
    with the corpus so cells stay bounded. Plan shape: assignment is a
    ZERO-SHUFFLE vectorized Arrow stage — one ``mapInArrow`` pass
    computing the argmax of the per-centroid cosine per batch, ROUNDED
    (+1e-9, 6dp) before comparison so a near-tie between two centroids
    resolves to an exact tie on both engines and the shared
    centroid_id tie-break (np.argmax-first over the id-sorted centroid
    rows = the oracle's ORDER BY ... centroid_id ASC) keeps assignment
    engine-identical (K x dim doubles ride the closure, no crossJoin,
    no window) — and the ONLY
    exchange is the groupBy(cluster) feeding the in-cell vectorized
    verify (one applyInPandas stage, blockwise numpy matmul,
    >= threshold survivors only). An earlier formulation unrolled the
    16 x dim literal dot products as JVM expressions; at dim 64 the
    ~2000-node projection fell out of whole-stage codegen into
    interpreted evaluation and cost 1.6 s at sf0.1 — 5x the entire
    Arrow-stage formulation, measured.

    ``centroids`` overrides the internal stride sample with an explicit
    codebook (the incremental variant passes the established corpus
    codebook so batch and corpus land in the SAME cells).
    ``assigned`` — a precomputed ``(cid, cv, cluster_id)`` relation
    (``_semantic_assign`` output over this corpus and codebook,
    typically a cached relation a caller shares across the full and
    incremental formulations): the projection/validity/assignment
    pipeline is skipped here and only the cell shuffle + in-cell
    verify run (guide §4 — one Arrow assignment pass, many
    consumers). The caller owns corpus/codebook consistency.
    ``n_clusters=None`` auto-sizes K as ``ceil(nrows /
    _SEMANTIC_TARGET_CELL)`` (min 16) so mean cell size — and with it
    the O(cell^2) in-cell work — stays CONSTANT as the corpus grows:
    total work O(n * target_cell), linear. The sf1→sf10 receipt
    (``BENCH_SEMANTIC_SCALE.json``) measures both settings: K held
    fixed grows toward quadratic, K scaled tracks row growth. The
    oracled registry query pins K=16 so the DuckDB differential stays
    closed-form.
    """
    spark = corpus.sparkSession
    if dim is None:
        dim = _dim_of(corpus, vec_col)
    empty_schema = "id1 long, id2 long, cosine double"
    if assigned is None:
        cd = corpus.select(
            F.col(id_col).alias("cid"), as_double(vec_col).alias("cv")
        ).filter(valid_vec("cv", dim))
        if centroids is None:
            # nrows is only consumed here — an explicit codebook skips the
            # corpus-scan count job entirely
            if nrows is None:
                nrows = corpus.count()
            if n_clusters is None:
                n_clusters = max(16, -(-nrows // _SEMANTIC_TARGET_CELL))
            centroids = _stride_centroid_rows(cd, nrows, n_clusters)
        if not centroids:
            return spark.createDataFrame([], empty_schema)
        assigned = _semantic_assign(cd, centroids, dim)
    thr = threshold
    cell_max = _SEMANTIC_CELL_MAX

    def dedup_cell(pdf: pd.DataFrame) -> pd.DataFrame:
        n_g = len(pdf)
        if n_g > cell_max:
            raise ValueError(
                f"SemDeDup cell holds {n_g} rows (> {cell_max}); raise "
                "n_clusters (cells scale as n/K)"
            )
        empty = pd.DataFrame(
            {
                "id1": np.array([], np.int64),
                "id2": np.array([], np.int64),
                "cosine": np.array([], np.float64),
            }
        )
        if n_g < 2:
            return empty
        order = np.argsort(pdf["cid"].to_numpy())
        ids = pdf["cid"].to_numpy()[order]
        mat = np.stack(pdf["cv"].to_numpy()[order]).astype(np.float64)
        i1, i2, c = _blockwise_dup_pairs(
            ids, mat, np.linalg.norm(mat, axis=1), thr
        )
        if not len(i1):
            return empty
        return pd.DataFrame({"id1": i1, "id2": i2, "cosine": c})

    return assigned.groupBy("cluster_id").applyInPandas(dedup_cell, empty_schema)


def quantize_int8(
    df: DataFrame, vec_col: str = "embedding", scale_col: str = "q8_scale",
    q_col: str = "q8",
) -> DataFrame:
    """Symmetric per-vector int8 quantization (the FAISS SQ8 scheme).

    Appends ``scale = max|x| / 127`` and ``q_i = round(x_i / scale)``
    stored as ``array<tinyint>`` (q in [-127, 127]) — genuinely 8x
    smaller than the double source column (the 4x figure usually quoted
    is vs float32), and because the scale is symmetric AND per-vector
    it CANCELS in cosine, so ANN over the quantized vectors
    approximates the full-precision ranking with no dequantization join
    (consumers promote with :func:`as_double` in the scan projection —
    an elementwise cast, not a join; ``brute_force_topk`` et al.
    already do). All-zero vectors get scale 0 and an all-zero q
    (dequantizes exactly). Entirely JVM-side higher-order expressions —
    round() is HALF_UP on both Spark and DuckDB (away-from-zero), so
    the quantized values are engine-exact (the cast is lossless: the
    rounded value is already an integer in [-127, 127]) and every
    downstream error statistic is differentially checkable.
    """
    v = as_double(vec_col)
    s = F.array_max(F.transform(v, lambda x: F.abs(x))) / F.lit(127.0)
    sc = F.col(scale_col)
    # Scale validity must be explicit: a NaN component makes sc NaN and
    # Spark treats NaN as GREATER than 0, so a bare `sc > 0` would send
    # garbage rows into the quantize branch where the tinyint cast
    # errors under ANSI (CAST_OVERFLOW on NaN); an inf component makes
    # sc inf and inf/inf is NaN too. Finite positive scale → quantize;
    # zero scale (all-zero vector) → exact all-zero q; non-finite
    # garbage → NULL q (dropped by downstream null-safe aggregates,
    # same posture as valid_vec elsewhere).
    inf = F.lit(float("inf"))
    q = (
        F.when(
            ~F.isnan(sc) & (sc > 0) & (sc < inf),
            F.transform(v, lambda x: F.round(x / sc).cast("tinyint")),
        )
        .when(sc == 0, F.transform(v, lambda x: F.lit(0).cast("tinyint")))
        .otherwise(F.lit(None).cast("array<tinyint>"))
    )
    return df.withColumn(scale_col, s).withColumn(q_col, q)


def quantization_error_cols(
    vec_col: str = "embedding", scale_col: str = "q8_scale", q_col: str = "q8"
) -> dict[str, Column]:
    """Per-row reconstruction-quality columns for a quantized vector.

    - ``q8_max_err``: max |x_i - q_i * scale| (bounded by scale/2)
    - ``q8_mean_err``: mean absolute reconstruction error
    - ``q8_cos_self``: cosine(original, quantized) — the scale cancels,
      so this is computed directly on q (1.0 for all-zero vectors by
      convention: quantization is exact there)

    Per-element ops are engine-exact (same doubles, same HALF_UP
    round); sums run left-to-right on both engines (F.aggregate /
    list_sum, list_dot_product), the same convention the dedup verifies
    rely on.
    """
    v = as_double(vec_col)
    s = F.col(scale_col)
    # q is array<tinyint>; promote before any q*q product — Spark
    # arithmetic stays in the operand type, and tinyint*tinyint (up to
    # 127*127) would silently wrap inside norm(q)
    qd = as_double(F.col(q_col))
    err = F.zip_with(v, qd, lambda x, qq: F.abs(x - qq * s))
    cos_self = F.when(
        s > 0, cosine(v, qd)
    ).otherwise(F.lit(1.0))
    return {
        "q8_max_err": F.array_max(err),
        # greatest(size, 1): an EMPTY embedding array (adversarial
        # corpora) must yield mean 0, not an ANSI divide-by-zero
        "q8_mean_err": F.aggregate(err, F.lit(0.0), lambda a, x: a + x)
        / F.greatest(F.size(v), F.lit(1)).cast("double"),
        "q8_cos_self": cos_self,
    }


def _blockwise_cross_pairs(ids_a, mat_a, nrm_a, ids_b, mat_b, nrm_b, thr, block=2048):
    """>= ``thr`` cosine pairs of A x B (rectangular — no triangle),
    blockwise over A; emits (min_id, max_id, cosine) per pair so the
    id1 < id2 convention holds regardless of which side an id came
    from. The numeric convention is ``_sieve_pairs``'s — one home.
    """
    out1, out2, outc = [], [], []
    for r0 in range(0, len(ids_a), block):
        r1 = min(r0 + block, len(ids_a))
        sims = (mat_a[r0:r1] @ mat_b.T) / np.outer(nrm_a[r0:r1], nrm_b)
        ri, cj, c = _sieve_pairs(sims, thr)
        if len(ri):
            a = ids_a[(ri + r0)]
            b = ids_b[cj]
            out1.append(np.minimum(a, b))
            out2.append(np.maximum(a, b))
            outc.append(c)
    if not out1:
        return (
            np.array([], np.int64),
            np.array([], np.int64),
            np.array([], np.float64),
        )
    return np.concatenate(out1), np.concatenate(out2), np.concatenate(outc)


def semantic_dup_pairs_incremental(
    batch: DataFrame,
    corpus: DataFrame,
    threshold: float = 0.95,
    n_clusters: int | None = 16,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    corpus_nrows: int | None = None,
    dim: int | None = None,
    centroids: list[tuple[int, list[float]]] | None = None,
    check_id_overlap: bool = True,
    batch_assigned: DataFrame | None = None,
    corpus_assigned: DataFrame | None = None,
) -> DataFrame:
    """Daily-increment SemDeDup: batch-vs-(corpus + batch) pairs only.

    ``batch_assigned`` / ``corpus_assigned`` — precomputed
    ``(cid, cv, cluster_id)`` relations (``_semantic_assign`` output;
    e.g. stride-filtered views of ONE cached corpus-wide assignment
    shared with the full formulation — filtering commutes with the
    per-row assignment). Both must be given together; the
    projection/validity/assignment pipeline is then skipped and only
    the cogrouped cell verify runs (guide §4).

    The production shape the other dedup families already carry
    (``minhash_lsh_pairs_incremental`` / ``cosine_dup_pairs_
    incremental``): the accumulated corpus is never self-joined — the
    batch assigns into the ESTABLISHED cells (``centroids`` defaults to
    the corpus codebook, so appends never shift assignment) and each
    cell verifies batch x (corpus-cell + batch-cell) vectorized. Plan
    shape: two zero-shuffle assignment stages, then ONE cogrouped
    applyInPandas — Spark shuffles both sides by cell once and hands
    each cell's (batch rows, corpus rows) to a single task; per-batch
    cost ∝ batch x mean cell size, not corpus². Same loud cell guard
    as the full formulation (work-scaled: corpus-only cells pass —
    zero batch rows means zero verify work regardless of corpus-cell
    size, so an ever-growing corpus can't brick the daily job);
    corpus-corpus pairs are excluded by contract (they were reported
    when THOSE rows were the batch). Overlapping batch/corpus ids mean
    the batch was already merged — that raises (same contract as
    ``cosine_dup_pairs_incremental``; ``check_id_overlap=False`` skips
    the one verification job when the caller split one relation).
    """
    spark = corpus.sparkSession
    if (batch_assigned is None) != (corpus_assigned is None):
        raise ValueError("batch_assigned and corpus_assigned must be provided together")
    if dim is None:
        dim = _dim_of(corpus, vec_col)
    empty_schema = "id1 long, id2 long, cosine double"
    if batch_assigned is not None:
        b_assigned = batch_assigned
        # Self-cogroup guard: the intended caller passes two FILTERS of
        # ONE cached assignment, which share attribute ids — Spark
        # 4.1's relation-dedup + cogroup column pruning then strips the
        # right side's data columns down to the grouping key (observed:
        # cpdf arrives as ['cluster_id'] only, KeyError 'cid' in the
        # verify). A fresh-alias projection gives the right side
        # distinct attribute ids, which restores correct pruning.
        c_assigned = corpus_assigned.toDF(*corpus_assigned.columns)
        if check_id_overlap:
            overlap = b_assigned.select("cid").join(c_assigned.select("cid"), "cid")
            if overlap.limit(1).count():
                raise ValueError(
                    "semantic_dup_pairs_incremental: batch and corpus share "
                    "ids — was this batch already merged into the corpus?"
                )
    else:
        bd = batch.select(
            F.col(id_col).alias("cid"), as_double(vec_col).alias("cv")
        ).filter(valid_vec("cv", dim))
        cd = corpus.select(
            F.col(id_col).alias("cid"), as_double(vec_col).alias("cv")
        ).filter(valid_vec("cv", dim))
        if check_id_overlap:
            overlap = bd.select("cid").join(cd.select("cid"), "cid")
            if overlap.limit(1).count():
                raise ValueError(
                    "semantic_dup_pairs_incremental: batch and corpus share "
                    "ids — was this batch already merged into the corpus?"
                )
        if centroids is None:
            # corpus_nrows is only consumed here — don't pay a corpus-scan
            # count job when an explicit codebook makes it unused
            if corpus_nrows is None:
                corpus_nrows = corpus.count()
            if n_clusters is None:
                n_clusters = max(16, -(-corpus_nrows // _SEMANTIC_TARGET_CELL))
            centroids = _stride_centroid_rows(cd, corpus_nrows, n_clusters)
        if not centroids:
            return spark.createDataFrame([], empty_schema)
        b_assigned = _semantic_assign(bd, centroids, dim)
        c_assigned = _semantic_assign(cd, centroids, dim)
    thr = threshold
    cell_max = _SEMANTIC_CELL_MAX

    def verify_cell(bpdf: pd.DataFrame, cpdf: pd.DataFrame) -> pd.DataFrame:
        empty = pd.DataFrame(
            {
                "id1": np.array([], np.int64),
                "id2": np.array([], np.int64),
                "cosine": np.array([], np.float64),
            }
        )
        nb, nc = len(bpdf), len(cpdf)
        if nb == 0:
            return empty  # corpus-only cell: zero verify work — pass
        if nb + nc > cell_max:
            raise ValueError(
                f"SemDeDup cell holds {nb + nc} rows (> {cell_max}); "
                "raise n_clusters (cells scale as n/K)"
            )
        order = np.argsort(bpdf["cid"].to_numpy())
        b_ids = bpdf["cid"].to_numpy()[order]
        b_mat = np.stack(bpdf["cv"].to_numpy()[order]).astype(np.float64)
        b_nrm = np.linalg.norm(b_mat, axis=1)
        parts = [
            _blockwise_dup_pairs(b_ids, b_mat, b_nrm, thr)  # batch x batch
        ]
        if nc:
            c_ids = cpdf["cid"].to_numpy()
            c_mat = np.stack(cpdf["cv"].to_numpy()).astype(np.float64)
            parts.append(
                _blockwise_cross_pairs(
                    b_ids, b_mat, b_nrm,
                    c_ids, c_mat, np.linalg.norm(c_mat, axis=1), thr,
                )
            )
        i1 = np.concatenate([p[0] for p in parts])
        if not len(i1):
            return empty
        return pd.DataFrame(
            {
                "id1": i1,
                "id2": np.concatenate([p[1] for p in parts]),
                "cosine": np.concatenate([p[2] for p in parts]),
            }
        )

    return (
        b_assigned.groupBy("cluster_id")
        .cogroup(c_assigned.groupBy("cluster_id"))
        .applyInPandas(verify_cell, empty_schema)
    )


def semantic_dup_pairs_multi(
    assignments: list[tuple[int, DataFrame]],
    threshold: float = 0.95,
) -> DataFrame:
    """ONE in-cell verify pass over multiple codebooks' assignments.

    ``assignments`` — ``(tag, assigned)`` pairs where each ``assigned``
    is a ``(cid, cv, cluster_id)`` relation (``_semantic_assign``
    output). The tagged union shuffles by ``(cb, cluster_id)`` so each
    codebook's cells verify independently inside a SINGLE
    ``applyInPandas`` stage; output is ``(cb, id1, id2, cosine)``.

    Equivalence to per-codebook ``semantic_dup_pairs`` calls: grouping
    the union by ``(cb, cluster_id)`` hands the verify function exactly
    the rows one codebook's ``cluster_id`` group would contain (tags
    are disjoint by construction), and the verify math is the same
    ``_blockwise_dup_pairs`` over the same cid-sorted cell matrix — so
    ``filter(cb = t)`` of this output IS ``semantic_dup_pairs`` for
    codebook ``t``, row for row. The r14 round ran three separate
    Python verify stages (full, cogrouped incremental, refined) whose
    in-cell work overlapped: the full arm's pair set is a superset of
    the incremental arm's (a same-cell pair with one endpoint in the
    batch is found by both formulations, with the identical rounded
    cosine), so the daily-increment restriction is a FILTER of the full
    verify, not a second pass (guide §4 — one Python boundary, many
    consumers).

    Same loud cell guard as ``semantic_dup_pairs`` (per tagged cell).
    """
    if not assignments:
        raise ValueError("assignments must be non-empty")
    tagged = [
        a.select(
            F.lit(int(tag)).alias("cb"), "cid", "cv", "cluster_id"
        )
        for tag, a in assignments
    ]
    union = tagged[0]
    for t in tagged[1:]:
        union = union.unionByName(t)
    thr = threshold
    cell_max = _SEMANTIC_CELL_MAX
    out_schema = "cb int, id1 long, id2 long, cosine double"

    # no type hints: the (key, pdf) two-arg form is inferred from arity
    # (stringized hints under `from __future__ import annotations` make
    # the hint-based inference warn before falling back)
    def dedup_cell(key, pdf):
        cb = int(key[0])
        n_g = len(pdf)
        if n_g > cell_max:
            raise ValueError(
                f"SemDeDup cell holds {n_g} rows (> {cell_max}); raise "
                "n_clusters (cells scale as n/K)"
            )
        empty = pd.DataFrame(
            {
                "cb": np.array([], np.int32),
                "id1": np.array([], np.int64),
                "id2": np.array([], np.int64),
                "cosine": np.array([], np.float64),
            }
        )
        if n_g < 2:
            return empty
        order = np.argsort(pdf["cid"].to_numpy())
        ids = pdf["cid"].to_numpy()[order]
        mat = np.stack(pdf["cv"].to_numpy()[order]).astype(np.float64)
        i1, i2, c = _blockwise_dup_pairs(
            ids, mat, np.linalg.norm(mat, axis=1), thr
        )
        if not len(i1):
            return empty
        return pd.DataFrame(
            {"cb": np.full(len(i1), cb, np.int32), "id1": i1, "id2": i2,
             "cosine": c}
        )

    return union.groupBy("cb", "cluster_id").applyInPandas(dedup_cell, out_schema)
