"""Deduplication operators: exact, n-gram Jaccard, MinHash+LSH, SimHash.

Scale design (the point of these implementations):

- **Exact**: one hash-shuffle on md5(text). At 100 TB the shuffle keys
  are 32-byte digests, not documents — group state is tiny.
- **N-gram Jaccard**: exact pairwise similarity via a shingle-inverted
  index join. Exhaustive and only viable when shingles are selective;
  kept as the *ground truth* the sketch methods are validated against.
- **MinHash + LSH**: the 100 TB path. 64 deterministic universal-hash
  permutations over a per-shingle md5 base hash (engine-portable;
  xxhash64 variant kept for recall tests), computed SHUFFLE-FREE per
  document row, banded into 16 bands x 4 rows; documents join only
  within equal (band, bandhash) buckets, so the candidate join is
  output-bounded rather than O(n^2). Signature agreement then
  estimates Jaccard without touching the original text.
- **SimHash**: 64-bit weighted-bit fingerprint; close-Hamming pairs are
  found with the pigeonhole band trick (8 x 8-bit chunks — any pair
  within distance 7 shares at least one exact chunk), verified
  bucket-locally in numpy (XOR + SWAR popcount) so candidate pairs
  never exist as Spark rows and dedup needs no distinct (exactly-once
  first-agreeing-band emission).

Everything is deterministic (xxhash64/md5, no RNG) so results are
reproducible across runs, partitionings, and cluster sizes.

Note on caching: the sketch operators cache their intermediates for
the duration of one plan tree; long-lived sessions iterating many
pipelines should ``spark.catalog.clearCache()`` between them (bench.py
does).
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

NUM_PERM = 64
BANDS = 16

# ABSOLUTE cap on broadcasting the banded BATCH side of an incremental
# probe: above this many batch rows the probe never broadcasts,
# whatever the corpus size — at 16 bands a row is (id, band, bandhash)
# ~ 40 bytes, so 100k batch ids ~ 1.6M banded rows ~ 65 MB replicated
# into every executor, the sane per-executor memory ceiling (measured:
# 59.1 MB of exchange bytes for the 100k banded batch — see
# BENCH_INCR_BYTES.json). Within the
# cap the broadcast-vs-shuffle choice is NOT a flat row threshold (the
# round-10 BENCH_INCR_PROBE receipt showed the shuffled probe at or
# below broadcast at EVERY measured batch size against a 350k corpus —
# a flat 100k default contradicted its own evidence); it is the ratio
# rule in _incr_should_broadcast below, derived from the bytes model
# that receipt and BENCH_INCR_BYTES ground.
_INCR_BROADCAST_MAX_BATCH = 100_000


def _incr_should_broadcast(spark, n_batch: int, n_corpus: int) -> bool:
    """Should the incremental probe FORCE a broadcast hint?

    True means the banded batch is hint-broadcast — the plan that
    never materializes the banded corpus through an exchange, not even
    map-side (at 100 TB that map write alone is petabyte-scale disk).
    False means NO hint: the join is left to Catalyst/AQE, which picks
    broadcast-vs-shuffle from RUNTIME byte statistics against
    ``spark.sql.autoBroadcastJoinThreshold`` — the bytes-based default.
    (The round-10 BENCH_INCR_PROBE receipt's "shuffled" arm was in
    truth this un-hinted plan — the session's 64 MB threshold could
    auto-broadcast it — so its medians never compared a forced hint
    against a guaranteed shuffle. The round-11 BENCH_INCR_BYTES
    receipt separates all three arms: LOCAL wall-clock spread is
    jitter-bound across them — no network, nothing to see — while the
    byte accounting decides: at a 5k batch the un-hinted plan
    MIS-PLANNED, paying the full ~206 MB banded-corpus exchange for a
    3 MB-broadcastable batch (Catalyst's static estimate mis-sized
    the exploded batch), exactly the case the forced hint exists
    for.)

    The hint is forced only when it certainly wins — the network/
    materialization inequality: broadcast replicates the banded batch
    into every execution unit (batch × P bytes, P = static executor
    count when configured, else defaultParallelism locally, where the
    same ×P shows up as the serial broadcast-build vs a P-way
    shuffle), while any shuffle-side plan moves corpus + batch once.
    Hint iff batch × P ≤ corpus, under the absolute
    ``_INCR_BROADCAST_MAX_BATCH`` cap (never replicate a backfill).
    Callers with their own fleet math (a 1e5 daily batch vs a 1e9
    corpus on 1000 executors → hint) pin ``broadcast`` explicitly.
    """
    if n_batch > _INCR_BROADCAST_MAX_BATCH:
        return False
    n_exec = int(spark.conf.get("spark.executor.instances", "0"))
    p = n_exec if n_exec > 0 else max(1, spark.sparkContext.defaultParallelism)
    return n_batch * p <= n_corpus


ROWS_PER_BAND = NUM_PERM // BANDS
# Universal-hash permutation family over the 32-bit base hash:
# h_i = (A_i * h + B_i) mod P with P the largest 32-bit prime. A_i < 2^31
# keeps A_i * h < 2^63 (no int64 overflow in either engine). Coefficients
# are fixed golden-ratio multiples so Spark and the DuckDB oracle inline
# identical literals.
MINHASH_P = 4294967291
MINHASH_A = tuple(((2654435761 * (i + 1)) % 2147483647) | 1 for i in range(NUM_PERM))
MINHASH_B = tuple((40503 * (2654435761 * (i + 1) + 12345)) % 4294967291 for i in range(NUM_PERM))
SIMHASH_BITS = 64
# 8 chunks x 8 bits: pigeonhole-complete up to Hamming 7. Narrower
# chunks admit more random bucket collisions (p=1/256 per chunk-pair);
# on a billion-doc corpus widen to 16-bit chunks (Hamming<=3) or add a
# second-level band hash before the verify join.
SIMHASH_CHUNKS = 8


def shingle_array(text_col: str, k: int = 5):
    """Column of distinct k-word shingles for one document row.

    Built by zipping k shifted slices of the word array — each slice
    evaluates the split ONCE per row. (The previous
    ``transform(sequence, i -> slice(w, i, k))`` embedded a copy of the
    split inside the per-element lambda; higher-order lambdas are
    interpreted, so it re-split the text per shingle: O(words^2) per
    document, dominating the cold time of every shingle consumer.)
    Documents shorter than k words keep the original semantics: one
    shingle holding the whole document.
    """
    w = F.split(F.col(text_col), " ")
    cnt = F.greatest(F.size(w) - (k - 1), F.lit(0))
    g = F.slice(w, 1, cnt)
    for j in range(1, k):
        g = F.zip_with(g, F.slice(w, j + 1, cnt), lambda a, b: F.concat(a, F.lit(" "), b))
    return F.array_distinct(
        F.when(F.size(w) >= k, g).otherwise(F.array(F.array_join(w, " ")))
    )


def word_shingles(df: DataFrame, id_col: str, text_col: str, k: int = 5) -> DataFrame:
    """Distinct k-word shingles per document: (id_col, shingle)."""
    return df.select(
        F.col(id_col), F.explode(shingle_array(text_col, k)).alias("shingle")
    )


def _hex_digest(col: str) -> Column:
    """Lowercase hex of a 16-byte digest column — equals ``md5(x)``
    when the column is ``unhex(md5(x))`` (md5 prints lowercase hex;
    hex() prints uppercase; unhex/hex round-trip is lossless)."""
    return F.lower(F.hex(F.col(col)))


def exact_duplicates(df: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """(content_hash, keep_id, n_copies): one representative per distinct text.

    The aggregation keys on the 16-byte BINARY digest and re-hexes
    after the exchange (guide §2.3, narrower types): the shuffle
    carries half the key bytes of the hex-string formulation while
    ``content_hash`` stays the identical md5 hex string (NULL text →
    NULL digest → NULL content_hash, unchanged).
    """
    return (
        df.groupBy(F.unhex(F.md5(F.col(text_col))).alias("_h"))
        .agg(F.min(id_col).alias("keep_id"), F.count(F.lit(1)).alias("n_copies"))
        .select(_hex_digest("_h").alias("content_hash"), "keep_id", "n_copies")
    )


def paragraph_duplicates(
    df: DataFrame, id_col: str, text_col: str, block_words: int = 10
) -> DataFrame:
    """Paragraph-level exact dedup (the C4/CCNet sub-document trick).

    Documents are split into fixed ``block_words``-word paragraphs (the
    synthetic corpus has no newline structure; real corpora would split
    on '\\n\\n' — same machinery either way) and each DISTINCT paragraph
    gets one decision row: ``(content_hash, keep_id, n_copies)`` with
    ``keep_id`` the minimum doc id containing it and ``n_copies`` its
    total occurrence count corpus-wide. Downstream, a doc drops every
    paragraph whose ``keep_id`` is not itself — removing boilerplate
    repeated across documents that document-level dedup can't see.

    One explode + one hash aggregation: both map-side-combining, one
    shuffle, no joins — the paragraph stream never materializes more
    than (corpus words / block_words) rows. Engine-portable (md5),
    differentially checked in the ``dedup_exact`` driver row.
    """
    words = F.split(F.col(text_col), " ")
    n_blocks = F.ceil(F.size(words) / F.lit(block_words)).cast("int")
    return (
        df.select(F.col(id_col), words.alias("_w"), n_blocks.alias("_nb"))
        # NULL text yields size(words) = -1/NULL so _nb <= 0, and
        # sequence(0, _nb - 1) would run DESCENDING, emitting spurious
        # paragraph rows the SQL oracle (range over NULL) never emits.
        .where(F.col("_nb") > 0)
        .select(
            F.col(id_col),
            F.explode(F.sequence(F.lit(0), F.col("_nb") - 1)).alias("_blk"),
            F.col("_w"),
        )
        .select(
            F.col(id_col),
            # 16-byte binary digest through the exchange, hex after
            # (guide §2.3 — see exact_duplicates)
            F.unhex(
                F.md5(
                    F.array_join(
                        F.slice(
                            F.col("_w"), F.col("_blk") * block_words + 1, block_words
                        ),
                        " ",
                    )
                )
            ).alias("_h"),
        )
        .groupBy("_h")
        .agg(F.min(id_col).alias("keep_id"), F.count(F.lit(1)).alias("n_copies"))
        .select(_hex_digest("_h").alias("content_hash"), "keep_id", "n_copies")
    )


def span_duplicates(
    df: DataFrame, id_col: str, text_col: str, span_words: int = 20
) -> DataFrame:
    """Sliding-window exact SUBSTRING dedup (hash-grain approximation of
    the suffix-array method in Lee et al. 2022, "Deduplicating Training
    Data Makes Language Models Better").

    Every ``span_words``-word window at EVERY alignment is hashed; a
    window whose exact text occurs more than once corpus-wide becomes a
    ``(content_hash, keep_id, n_copies)`` decision row. This catches
    duplicated passages at arbitrary offsets — the case fixed paragraph
    blocks (``paragraph_duplicates``) miss when the copy is shifted by
    a few words. Only duplicated spans are emitted (occurrence ≥ 2):
    unlike the doc/para grains, the non-duplicated span population is
    ~the corpus token count and carries no decision value.

    Shape at scale: the window stream is built from shifted array
    slices of each row's own split (operators/text.py::ngrams — one
    split evaluation, no re-split per window), so the plan is one
    explode + one map-side-combining hash aggregation, one shuffle, no
    joins. md5 keys make it engine-portable; differentially checked in
    the ``dedup_exact`` driver row.
    """
    from .text import ngrams

    g = df.select(
        F.col(id_col), F.explode(ngrams(text_col, span_words)).alias("_span")
    )
    # 16-byte binary digest through the exchange, hex after the final
    # aggregate (guide §2.3): the span grain's exchange carries one row
    # per distinct span per mapper — halving the key bytes halves the
    # dominant shuffle payload at corpus scale; content_hash is the
    # identical md5 hex string by the unhex/hex round-trip.
    return (
        g.groupBy(F.unhex(F.md5("_span")).alias("_h"))
        .agg(F.min(id_col).alias("keep_id"), F.count(F.lit(1)).alias("n_copies"))
        .filter(F.col("n_copies") >= 2)
        .select(_hex_digest("_h").alias("content_hash"), "keep_id", "n_copies")
    )


def jaccard_pairs(
    df: DataFrame, id_col: str, text_col: str, k: int = 5, threshold: float = 0.8
) -> DataFrame:
    """Exact n-gram Jaccard >= threshold pairs via inverted-index join.

    (doc1, doc2, jaccard, containment1, containment2) with doc1 < doc2;
    all rounded to 4. The CONTAINMENT pair (|A∩B|/|A|, |A∩B|/|B|) is
    the asymmetric signal Jaccard hides: a short document quoted whole
    inside a long one has low Jaccard but containment ≈ 1 on the short
    side — the quote/subset-detection grain (Broder's containment
    measure), free here since both set sizes are already joined in.
    """
    sh = word_shingles(df, id_col, text_col, k).cache()
    counts = sh.groupBy(id_col).agg(F.count(F.lit(1)).alias("n_sh"))
    a = sh.select(F.col(id_col).alias("doc1"), "shingle")
    b = sh.select(F.col(id_col).alias("doc2"), "shingle")
    inter = (
        a.join(b, "shingle")
        .filter(F.col("doc1") < F.col("doc2"))
        .groupBy("doc1", "doc2")
        .agg(F.count(F.lit(1)).alias("n_inter"))
    )
    c1 = counts.select(F.col(id_col).alias("doc1"), F.col("n_sh").alias("n1"))
    c2 = counts.select(F.col(id_col).alias("doc2"), F.col("n_sh").alias("n2"))
    return (
        inter.join(c1, "doc1")
        .join(c2, "doc2")
        .withColumn(
            "jaccard",
            F.round(
                F.col("n_inter") / (F.col("n1") + F.col("n2") - F.col("n_inter")) + 1e-9, 4
            ),
        )
        .filter(F.col("jaccard") >= threshold)
        .withColumn("containment1", F.round(F.col("n_inter") / F.col("n1") + 1e-9, 4))
        .withColumn("containment2", F.round(F.col("n_inter") / F.col("n2") + 1e-9, 4))
        .select("doc1", "doc2", "jaccard", "containment1", "containment2")
    )


def jaccard_verify_candidates(
    df: DataFrame,
    id_col: str,
    text_col: str,
    candidates: DataFrame,
    k: int = 5,
    threshold: float = 0.8,
) -> DataFrame:
    """Exact Jaccard restricted to LSH candidate pairs: the 100 TB verify
    stage. The sketch proposes (sub-linear), exact confirms — but only
    over the candidate pairs, so no inverted-index self-join runs at
    all: each candidate document's distinct-shingle SET is built per
    row (shuffle-free), the pair list joins its two sets in, and the
    Jaccard is one array_intersect per pair. Work is strictly
    O(|candidates| * doc_length); the r3 shape (leftsemi subset ->
    full jaccard_pairs machinery) re-ran the explode + shingle-equality
    join + three aggregations on the subset — ~6 extra stages for the
    same numbers. Same output contract as :func:`jaccard_pairs`.
    """
    # cache both small relations: cand feeds three consumers (docs_in
    # twice via the union + the pair join) and sub feeds two (each side
    # of the pair); uncached, the whole LSH candidate lineage would
    # re-execute once per consumer — multiplicatively.
    cand = candidates.select("doc1", "doc2").distinct().cache()
    docs_in = (
        cand.select(F.col("doc1").alias(id_col))
        .union(cand.select(F.col("doc2").alias(id_col)))
        .distinct()
    )
    sub = (
        df.join(docs_in, id_col, "leftsemi")
        .select(F.col(id_col), shingle_array(text_col, k).alias("sh"))
        .cache()
    )
    s1 = sub.select(F.col(id_col).alias("doc1"), F.col("sh").alias("sh1"))
    s2 = sub.select(F.col(id_col).alias("doc2"), F.col("sh").alias("sh2"))
    inter = F.size(F.array_intersect("sh1", "sh2"))
    union = F.size("sh1") + F.size("sh2") - inter
    return (
        cand.join(s1, "doc1")
        .join(s2, "doc2")
        .withColumn("jaccard", F.round(inter / union.cast("double") + 1e-9, 4))
        .filter(F.col("jaccard") >= threshold)
        .withColumn(
            "containment1", F.round(inter / F.size("sh1").cast("double") + 1e-9, 4)
        )
        .withColumn(
            "containment2", F.round(inter / F.size("sh2").cast("double") + 1e-9, 4)
        )
        .select("doc1", "doc2", "jaccard", "containment1", "containment2")
    )


def minhash_signatures(
    df: DataFrame,
    id_col: str,
    text_col: str,
    k: int = 5,
    num_perm: int = NUM_PERM,
    method: str = "md5",
) -> DataFrame:
    """(id_col, sig: array[num_perm]) MinHash signature per document.

    Permutation i hashes the shingle with a per-permutation salt —
    deterministic, no stored coefficient table, identical on every
    executor. Two hash methods:

    - ``md5`` (default): one md5 per shingle parsed to a 32-bit base
      hash, then ``(A_i * h + B_i) mod P`` universal-hash permutations.
      Engine-portable (md5 + int64 arithmetic are identical
      everywhere), so the whole LSH pipeline is differentially
      checkable against DuckDB — the pattern proven by
      doc_min_k_sketch — at xxhash-class cost.
    - ``xxhash64``: min of the salted 64-bit integer hash;
      Spark-specific, so results can only be validated by recall tests.
    """
    if method == "md5":
        # Per-ROW formulation: a document's shingles all come from its
        # own text, so the signature needs no explode + groupBy at all —
        # zero shuffles (the r3 shape exploded shingles and ran
        # num_perm min-aggregates, which shuffled every shingle hash
        # AND planned a 64-expression aggregate; Catalyst planning of
        # that tree dominated cold time). ONE md5 per shingle, parsed
        # to a 32-bit base hash JVM-side (first 8 hex chars — Spark
        # conv(x,16,10), DuckDB ('0x'||x)::BIGINT, identical); the
        # num_perm universal-hash mins then run as one numpy
        # broadcast per Arrow batch (same vectorized-UDF pattern as
        # simhash below). A_i < 2^31 and h < 2^32 keep A_i*h + B_i
        # < 2^63: no int64 overflow in numpy, Spark, or DuckDB.
        hs = F.transform(
            shingle_array(text_col, k),
            lambda s: F.conv(F.substring(F.md5(s), 1, 8), 16, 10).cast("long"),
        )
        a = np.asarray(MINHASH_A[:num_perm], dtype=np.int64)[:, None]
        b = np.asarray(MINHASH_B[:num_perm], dtype=np.int64)[:, None]

        @F.pandas_udf("array<long>")
        def sig_udf(hss: "pd.Series") -> "pd.Series":
            # One flattened pass per Arrow batch (same reduceat pattern
            # as simhash's sim_udf): a per-document comprehension
            # re-enters numpy len(batch) times and dominated the
            # signature stage on 50k-doc corpora.
            if len(hss) == 0:
                return pd.Series([], dtype=object)
            lens = np.fromiter((len(h) for h in hss), dtype=np.int64, count=len(hss))
            h_flat = np.concatenate([np.asarray(h, dtype=np.int64) for h in hss])
            vals = (a * h_flat[None, :] + b) % MINHASH_P  # num_perm x total
            offsets = np.zeros(len(hss), dtype=np.int64)
            np.cumsum(lens[:-1], out=offsets[1:])
            mins = np.minimum.reduceat(vals, offsets, axis=1)  # num_perm x docs
            return pd.Series(list(mins.T))

        from .similarity import _ensure_parallelism

        return _ensure_parallelism(df.select(F.col(id_col), F.col(text_col))).select(
            F.col(id_col), sig_udf(hs).alias("sig")
        )
    if method != "xxhash64":
        raise ValueError(f"unknown minhash method {method!r}")
    sh = word_shingles(df, id_col, text_col, k)
    mins = [
        F.min(F.xxhash64(F.lit(i), F.col("shingle"))).alias(f"h{i}")
        for i in range(num_perm)
    ]
    sig = sh.groupBy(id_col).agg(*mins)
    return sig.select(
        F.col(id_col), F.array(*[F.col(f"h{i}") for i in range(num_perm)]).alias("sig")
    )


def _band_hash_array(rows: int, bands: int, method: str):
    """Array column of per-band hashes over a ``sig`` signature column
    — the banding derivation shared by the self-join and incremental
    LSH variants (identical hashes, so their buckets are compatible)."""
    if method == "md5":
        return F.array(
            *[
                F.md5(
                    F.concat_ws(
                        "|", *[F.col("sig")[b * rows + r].cast("string") for r in range(rows)]
                    )
                )
                for b in range(bands)
            ]
        )
    return F.array(
        *[
            F.xxhash64(*[F.col("sig")[b * rows + r] for r in range(rows)])
            for b in range(bands)
        ]
    )


def minhash_lsh_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    k: int = 5,
    threshold: float = 0.7,
    num_perm: int = NUM_PERM,
    bands: int = BANDS,
    method: str = "md5",
    sig: DataFrame | None = None,
) -> DataFrame:
    """Candidate near-duplicate pairs from banded MinHash-LSH.

    (doc1, doc2, est_jaccard) where est_jaccard = signature agreement
    rate >= threshold. Join happens only inside (band, bandhash)
    buckets — the scalable path for corpora where the pairwise join is
    impossible. With method='md5' (default) every step is
    engine-portable and differentially verified against DuckDB.

    ``sig`` — a precomputed ``(id_col, sig)`` signature relation
    (``minhash_signatures`` output), consumed AS-IS: a caller sharing
    one cached signature relation across formulations (full self-join
    + increment split) passes it here so the shingle→md5→minhash
    pipeline runs once per corpus per execution (guide §4); the
    caller owns caching and parameter consistency.
    """
    rows = num_perm // bands
    if sig is None:
        sig = minhash_signatures(df, id_col, text_col, k, num_perm, method=method).cache()
    banded = sig.select(
        F.col(id_col), F.posexplode(_band_hash_array(rows, bands, method)).alias("band", "bandhash")
    )
    left = banded.select(F.col(id_col).alias("doc1"), "band", "bandhash")
    right = banded.select(F.col(id_col).alias("doc2"), "band", "bandhash")
    cand = (
        left.join(right, ["band", "bandhash"])
        .filter(F.col("doc1") < F.col("doc2"))
        .select("doc1", "doc2")
        .distinct()
    )
    return _signature_rerank(cand, sig, id_col, num_perm, threshold)


def _signature_rerank(
    cand: DataFrame, sig: DataFrame, id_col: str, num_perm: int, threshold: float
) -> DataFrame:
    """Exact signature-agreement rerank shared by the self-join and
    incremental variants — ONE formula (same +1e-9 nudge, same 4 dp
    rounding), so the property-tested equality between the two cannot
    desynchronize."""
    s1 = sig.select(F.col(id_col).alias("doc1"), F.col("sig").alias("sig1"))
    s2 = sig.select(F.col(id_col).alias("doc2"), F.col("sig").alias("sig2"))
    agree = F.size(
        F.filter(F.zip_with("sig1", "sig2", lambda x, y: x == y), lambda m: m)
    )
    return (
        cand.join(s1, "doc1")
        .join(s2, "doc2")
        .withColumn("est_jaccard", F.round(agree / F.lit(num_perm) + 1e-9, 4))
        .filter(F.col("est_jaccard") >= threshold)
        .select("doc1", "doc2", "est_jaccard")
    )


def minhash_lsh_pairs_incremental(
    new_df: DataFrame,
    corpus_df: DataFrame | None,
    id_col: str,
    text_col: str,
    k: int = 5,
    threshold: float = 0.7,
    num_perm: int = NUM_PERM,
    bands: int = BANDS,
    method: str = "md5",
    check_id_overlap: bool = True,
    broadcast: bool | None = None,
    corpus_sig: DataFrame | None = None,
    new_sig: DataFrame | None = None,
) -> DataFrame:
    """Near-dup pairs between an incoming BATCH and an existing corpus.

    The production increment shape: a daily batch lands against a
    100 TB deduped corpus, and the question is "which batch docs
    duplicate anything (corpus or batch)?" — re-running the full
    self-join (`minhash_lsh_pairs` over corpus ∪ batch) would re-pay
    the corpus×corpus candidate mass for pairs that cannot contain a
    batch doc. Here the banded BATCH side probes the banded corpus
    stream plus itself: the corpus is scanned once, never self-joined,
    and cost scales with |batch| × collision rate. ``broadcast`` pins
    the probe strategy — ``True`` broadcasts the banded batch (one
    corpus pass, zero corpus shuffle: the daily-increment plan),
    ``False`` adds NO hint — Catalyst/AQE picks the join strategy from
    runtime bytes vs ``autoBroadcastJoinThreshold`` (set that to -1 to
    force a pure shuffled band join, as the backfill plan gates do) —
    and ``None`` (default) applies ``_incr_should_broadcast``: hint
    only while batch × parallelism ≤ corpus AND the batch is under the
    ``_INCR_BROADCAST_MAX_BATCH`` cap, else defer to the bytes-based
    AQE choice. Band hashes are identical to
    `minhash_lsh_pairs` (shared ``_band_hash_array``), so the result
    equals the full self-join's pairs restricted to those touching a
    batch doc (property-tested in tests/test_dedup.py).

    Returns (doc1, doc2, est_jaccard) with doc1 < doc2, doc1 or doc2
    from the batch. Batch and corpus ids must be disjoint — an
    overlapping id (a batch replayed after merging) would silently
    duplicate or mis-rerank pairs, so it raises instead. The check is
    an id-only join over the CACHED signatures — near-free once the
    cache is warm, but a daily-increment job starting COLD pays a full
    corpus signature build just to run the guard (the same build the
    pair join needs next, so nothing is wasted — it only moves the
    cost to an eager driver-synchronous job at construction time).
    Callers that guarantee disjointness structurally (e.g. the split
    itself partitions one relation) can pass
    ``check_id_overlap=False`` to skip that eager job. Note the
    default ``broadcast=None`` ALSO runs an eager job (a batch-side
    count over the cached signatures, to pick broadcast vs shuffle) —
    fully lazy construction requires pinning ``broadcast`` explicitly
    as well.

    ``corpus_sig`` — a PRECOMPUTED corpus signature relation
    ``(id_col, sig: array<long>)`` (``minhash_signatures`` output,
    e.g. persisted by the streaming sink). When given, ``corpus_df``
    is ignored (may be None) and the corpus's shingle→md5→minhash
    pipeline never runs: per-increment cost drops from an O(corpus)
    CPU recompute to an O(corpus-signatures) columnar SCAN. The
    caller owns parameter consistency — signatures built with a
    different (k, num_perm, method) silently change match semantics,
    which is why the streaming sink writes a params manifest beside
    them and verifies it on read (streaming/dedup.py).

    ``new_sig`` — a PRECOMPUTED batch signature relation (requires
    ``corpus_sig`` too). With both given, each side is consumed AS-IS
    (no internal re-cache): the intended caller holds ONE cached
    corpus-wide signature relation and passes stride-filtered views of
    it, so the shingle→md5→minhash pipeline runs once per corpus per
    execution instead of once per formulation — re-caching the views
    here would just duplicate the parent cache (guide §4/§5). The
    caller owns caching and parameter consistency.
    """
    rows = num_perm // bands
    if new_sig is not None:
        if corpus_sig is None:
            raise ValueError("new_sig requires corpus_sig")
        sig_new = new_sig.select(F.col(id_col), F.col("sig"))
        sig_corpus = corpus_sig.select(F.col(id_col), F.col("sig"))
    else:
        # Each signature relation has three consumers (banding, rerank
        # s1, rerank s2) — cache both, like the self-join variant, or
        # the corpus shingle+signature pass re-executes per consumer
        # and the "corpus scanned once" contract is fiction.
        sig_new = minhash_signatures(new_df, id_col, text_col, k, num_perm, method=method).cache()
        if corpus_sig is not None:
            sig_corpus = corpus_sig.select(F.col(id_col), F.col("sig")).cache()
        else:
            sig_corpus = minhash_signatures(
                corpus_df, id_col, text_col, k, num_perm, method=method
            ).cache()
    if check_id_overlap:
        overlap = sig_new.select(id_col).join(sig_corpus.select(id_col), id_col)
        if overlap.limit(1).count():
            raise ValueError(
                "minhash_lsh_pairs_incremental: batch and corpus share ids — "
                "was this batch already merged into the corpus?"
            )
    band_arr = _band_hash_array(rows, bands, method)

    def banded(sig):
        return sig.select(
            F.col(id_col), F.posexplode(band_arr).alias("band", "bandhash")
        )

    probe = banded(sig_new).select(F.col(id_col).alias("doc_a"), "band", "bandhash")
    build = (
        banded(sig_corpus)
        .unionByName(banded(sig_new))
        .select(F.col(id_col).alias("doc_b"), "band", "bandhash")
    )
    # Broadcast only while the batch is genuinely increment-sized FOR
    # THIS corpus (_incr_should_broadcast: batch × P ≤ corpus, under
    # the absolute cap) — a backfill falls back to a shuffled band
    # join instead of OOMing every executor. Both counts hit the
    # cached signature relations the pair join needs next, so this is
    # not an extra corpus pass.
    if broadcast is None:
        broadcast = _incr_should_broadcast(
            sig_new.sparkSession, sig_new.count(), sig_corpus.count()
        )
    probe_side = F.broadcast(probe) if broadcast else probe
    cand = (
        build.join(probe_side, ["band", "bandhash"])
        .filter(F.col("doc_a") != F.col("doc_b"))
        .select(
            F.least("doc_a", "doc_b").alias("doc1"),
            F.greatest("doc_a", "doc_b").alias("doc2"),
        )
        .distinct()
    )
    sig_all = sig_new.unionByName(sig_corpus)
    return _signature_rerank(cand, sig_all, id_col, num_perm, threshold)


def connected_components(pairs: DataFrame, a_col: str = "doc1", b_col: str = "doc2") -> DataFrame:
    """(member, component) labels over an undirected pair graph.

    Near-dup PAIRS are not a dedup decision: if A~B and B~C, keeping
    "min of each pair" can drop A and C while both survive other
    pairs' decisions inconsistently. Production dedup clusters the
    pair graph and keeps one representative per component.

    Algorithm: iterative minimum-label propagation (hash-join rounds)
    to fixpoint — each round every node adopts the smallest label among
    itself and its neighbors. Converges in O(diameter) rounds; near-dup
    components are small (pairs are transitive-ish), so 3-5 rounds
    cover real corpora. Each round is one shuffle join on node id —
    no driver-side graph state, scales with executors. The canonical
    label is the component's minimum member id.
    """
    edges = (
        pairs.select(F.col(a_col).alias("src"), F.col(b_col).alias("dst"))
        .union(pairs.select(F.col(b_col).alias("src"), F.col(a_col).alias("dst")))
        .distinct()
        .cache()
    )
    # label(node) starts as min(node, min neighbor)
    labels = (
        edges.groupBy("src")
        .agg(F.least(F.min("dst"), F.first("src")).alias("label"))
        .select(F.col("src").alias("member"), "label")
        .cache()
    )
    for i in range(20):  # diameter bound; near-dup graphs converge in <5
        # propagate: my next label = min(my label, neighbors' labels)
        neighbor_labels = (
            edges.join(labels.withColumnRenamed("member", "dst"), "dst")
            .groupBy("src")
            .agg(F.min("label").alias("nlabel"))
        )
        updated = (
            labels.join(neighbor_labels.withColumnRenamed("src", "member"), "member", "left")
            .select(
                "member",
                F.least(F.col("label"), F.coalesce(F.col("nlabel"), F.col("label"))).alias("label"),
            )
        )
        # fixpoint when no label changed
        changed = (
            updated.alias("u")
            .join(labels.alias("l"), "member")
            .filter(F.col("u.label") != F.col("l.label"))
            .limit(1)
            .count()
        )
        # Bound memory AND lineage across rounds: materialize the new
        # labels, drop the superseded generation, and truncate the plan
        # every few rounds (localCheckpoint) — without this, round N's
        # plan nests N join trees and executors hold every generation's
        # cache; both grow without bound on a high-diameter graph.
        prev = labels
        if i % 5 == 4:
            labels = updated.localCheckpoint(eager=True)
        else:
            labels = updated.cache()
            labels.count()  # materialize before dropping the parent
        prev.unpersist()
        if changed == 0:
            break
    edges.unpersist()
    # The surviving generation stays persisted for the caller's
    # materialization (every superseded generation was already dropped
    # in-loop); the caller's spark.catalog.clearCache() releases it.
    return labels.select("member", F.col("label").alias("component"))


def cluster_representatives(pairs: DataFrame, a_col: str = "doc1", b_col: str = "doc2") -> DataFrame:
    """(member, keep) — drop decision per clustered near-dup member:
    keep = the component's minimum id."""
    cc = connected_components(pairs, a_col, b_col)
    return cc.select("member", F.col("component").alias("keep"))


def simhash(df: DataFrame, id_col: str, text_col: str, method: str = "md5") -> DataFrame:
    """(id_col, simhash: long) 64-bit SimHash over word-frequency weights.

    ZERO-SHUFFLE since round 12: SimHash's frequency-weighted bit sum
    ``Σ_distinct cnt·(2·bit−1)`` equals the per-OCCURRENCE sum
    ``Σ_occurrences (2·bit−1)`` (integer arithmetic, term-by-term), so
    the (doc, word) count relation — previously an explode + a
    (doc, word) hash aggregate + a collect_list re-gather, two full
    shuffles of the word stream — is unnecessary. Word hashing runs
    scan-level inside ``transform`` over the per-row split array
    (JVM-side, md5 evaluated once per word via a nested transform).

    ZERO PYTHON since round 14 (guide §4): the 64 per-bit majority
    counters run as SWAR lane folds in pure JVM expressions instead of
    a vectorized pandas UDF — the UDF's cost at sf0.1 was almost
    entirely the ArrowEvalPython stage constant (probe receipt in
    OPT_MEASURE.json: the whole JVM hash pipeline costs 0.05-0.08 s
    while the UDF-bearing fingerprint costs 0.39-0.55 s), and the lane
    folds do the identical integer math per word. Each ``aggregate``
    fold packs independent bit-counters into one long (8x 8-bit lanes
    for docs <= 127 words; 16x 16-bit lanes <= 32767; an exact
    64-counter array fold beyond — CASE-dispatched per row so only the
    taken branch evaluates, and every lane width is chosen so the
    signed-long accumulator can NEVER overflow under ANSI: the top
    lane's count x its bit position stays under 2^63 at the branch's
    word cap). Bit extraction happens inside ``aggregate``'s finish
    lambda, binding the accumulator once — no re-evaluated folds. NOT
    the same as the rejected r12 "64 aggregate expressions" shape:
    that ran 64 grouped codegen buffers over an EXPLODED word stream
    (measured ~5 s at sf0.1); these folds are row-local array ops on
    the unexploded scan, 8 lane-adds per word on the common path. The
    fingerprint stage is embarrassingly parallel: it survives any
    scale the scan survives, and the only shuffle left in
    ``simhash_pairs`` is the banding groupBy. Bit b of the
    arithmetic-shifted signed hash equals bit b of the unsigned value,
    so results are bit-identical to the UDF formulation (planted
    boundary docs at 127/128 and 32767/32768 words pin all three
    branches in tests/test_dedup.py).

    NULL-text rows drop (the prior explode-based formulation dropped
    them structurally; the filter preserves that contract).

    NARROW-SCAN GUARD: when the input has fewer partitions than the
    session's parallelism (locally: the one-row-group test parquet —
    Spark cannot split inside a row group), the rows are repartitioned
    to the core count BEFORE the per-word work, trading one tiny
    exchange of raw (id, text) for full-width execution of the
    hashing stage. Without it the whole fingerprint runs as ONE task,
    and round-12 diagnosis showed single-task Python stages take this
    container's periodic per-vCPU degradation at full blast-radius
    (same kernel, same data: 0.1 s vs sporadic 8-17 s; parallel
    control probes stay flat, no steal/pressure/quota visible in-VM —
    see SCALE.md round 12 and BENCH_SIMHASH_ADJUDICATION.json). At
    100 TB a scan has thousands of splits, the guard never fires, and
    the zero-shuffle property holds.

    - ``md5`` (default): the word's 64 hash bits are the first 16 hex
      chars of md5(word) (hi 32 | lo 32 assembled bitwise — no
      overflow semantics involved). Engine-portable, so the whole
      SimHash pipeline is differentially checkable against DuckDB by
      per-bit extraction from the same hex — the doc_min_k_sketch /
      minhash pattern applied to SimHash.
    - ``xxhash64``: Spark's native hash; recall-tested only.
    """
    words = F.split(F.col(text_col), " ")
    if method == "md5":
        # nested transform: md5 materialized once per word, then hi|lo
        # assembled bitwise (shiftleft, not multiply — no overflow
        # semantics under ANSI mode).
        ms = F.transform(words, lambda w: F.md5(w))
        hs = F.transform(
            ms,
            lambda m: F.shiftleft(
                F.conv(F.substring(m, 1, 8), 16, 10).cast("long"), 32
            ).bitwiseOR(F.conv(F.substring(m, 9, 8), 16, 10).cast("long")),
        )
    elif method == "xxhash64":
        hs = F.transform(words, lambda w: F.xxhash64(w))
    else:
        raise ValueError(f"unknown simhash method {method!r}")
    from ..session import ensure_min_parallelism

    src = ensure_min_parallelism(df.filter(F.col(text_col).isNotNull()))
    # word count from the SPLIT array, not the hash array: transform
    # preserves length, and size(hs) would inline a SECOND full
    # md5+conv evaluation of the word pipeline into the projection
    # (caught in plans/r14/dedup_simhash_after.txt during A/B).
    base = src.select(F.col(id_col), hs.alias("__hs"), F.size(words).alias("__n"))
    return base.select(
        F.col(id_col), F.expr(_simhash_fp_sql("__hs", "__n")).alias("simhash")
    )


def _simhash_fp_sql(hs_col: str, n_col: str) -> str:
    """SQL expression: 64-bit SimHash majority fingerprint over a
    row-local array of word hashes — pure JVM, no Python stage.

    Majority bit b is ``2*ones_b > n`` where ``ones_b`` counts words
    with bit b set. Counters are packed SWAR-style into long lanes and
    accumulated with one ``aggregate`` fold per lane group; the finish
    lambda extracts and assembles the group's majority bits, binding
    the accumulator exactly once (referencing a fold result N times
    from outside would risk N evaluations — HOFs are codegen-fallback
    and Catalyst subexpression elimination does not reach into them).

    ANSI overflow proof per branch (counts are per-lane word counts,
    bounded by the branch's word cap):
    - 8-bit lanes, n <= 127: acc <= 127 x 0x0101...01 = 0x7F7F...7F < 2^63
    - 16-bit lanes, n <= 32767: acc <= 32767 x 0x0001000100010001
      = 0x7FFF7FFF7FFF7FFF < 2^63
    - exact: 64 separate long counters, each <= n.
    CASE evaluates only the taken branch per row, so short documents
    never pay the wider folds and gigantic ones stay exact.
    """
    lane8 = 0x0101010101010101
    lane16 = 0x0001000100010001
    # fast: groups g in 0..7 x byte lanes j in 0..7 -> bit b = g + 8j
    fast_parts = []
    for g in range(8):
        terms = " | ".join(
            f"shiftleft(cast(2 * (shiftrightunsigned(a, {8 * j}) & 255) "
            f"> {n_col} as long), {g + 8 * j})"
            for j in range(8)
        )
        fast_parts.append(
            f"aggregate({hs_col}, 0L, "
            f"(a, h) -> a + (shiftrightunsigned(h, {g}) & {lane8}L), "
            f"a -> ({terms}))"
        )
    fast = " | ".join(fast_parts)
    # mid: groups g in 0..15 x 16-bit lanes j in 0..3 -> bit b = g + 16j
    mid_parts = []
    for g in range(16):
        terms = " | ".join(
            f"shiftleft(cast(2 * (shiftrightunsigned(a, {16 * j}) & 65535) "
            f"> {n_col} as long), {g + 16 * j})"
            for j in range(4)
        )
        mid_parts.append(
            f"aggregate({hs_col}, 0L, "
            f"(a, h) -> a + (shiftrightunsigned(h, {g}) & {lane16}L), "
            f"a -> ({terms}))"
        )
    mid = " | ".join(mid_parts)
    # exact: one fold over an array of 64 long counters (rare branch)
    exact_terms = " | ".join(
        f"shiftleft(cast(2 * element_at(a, {b + 1}) > {n_col} as long), {b})"
        for b in range(64)
    )
    exact = (
        f"aggregate({hs_col}, array_repeat(0L, {SIMHASH_BITS}), "
        f"(acc, h) -> transform(acc, (x, b) -> x + (shiftrightunsigned(h, b) & 1)), "
        f"a -> ({exact_terms}))"
    )
    return (
        f"CASE WHEN {n_col} <= 127 THEN ({fast}) "
        f"WHEN {n_col} <= 32767 THEN ({mid}) "
        f"ELSE ({exact}) END"
    )


def _popcount64(x: np.ndarray) -> np.ndarray:
    """Vectorized 64-bit popcount (SWAR) — pure uint64 vector arithmetic.

    ~3.7x faster than a uint8-view LUT gather (20.6 vs 75.4 ms per 2M
    on this container's numpy 1.26, which lacks ``bitwise_count``);
    gather-bound LUT popcount was the straggler in sf10 hot buckets.
    """
    m1 = np.uint64(0x5555555555555555)
    m2 = np.uint64(0x3333333333333333)
    m4 = np.uint64(0x0F0F0F0F0F0F0F0F)
    h01 = np.uint64(0x0101010101010101)
    x = x - ((x >> np.uint64(1)) & m1)
    x = (x & m2) + ((x >> np.uint64(2)) & m2)
    x = (x + (x >> np.uint64(4))) & m4
    return (x * h01) >> np.uint64(56)


def simhash_pairs(
    df: DataFrame, id_col: str, text_col: str, max_hamming: int = 6, method: str = "md5"
) -> DataFrame:
    """(doc1, doc2, hamming) pairs within Hamming distance via pigeonhole bands.

    Pigeonhole over C = SIMHASH_CHUNKS chunks: a pair within Hamming
    distance d touches at most d chunks, so it agrees on >= C - d whole
    chunks. Banding keys on r-chunk COMBINATIONS with r = min(2, C - d)
    (Manku et al., WWW'07 "Detecting near-duplicates for web crawling"):

    - r=2 (d <= C-2, the default d=6): C(8,2) = 28 bands keyed on
      16-bit chunk pairs. Single 8-bit chunks have only 256 values, so
      any corpus beyond ~10k docs floods every bucket regardless of
      content (measured 454M candidate pairs on a 50k-doc corpus —
      quadratic cliff); 16-bit pair keys have 65k values and require
      joint agreement, collapsing collision mass while staying EXACT:
      >= 2 agreeing chunks always share a pair-band.
    - r=1 (d = C-1): the plain one-chunk banding.

    Contract: ids are expected unique. A duplicated id never self-pairs
    (dropped in the verify), but two rows sharing an id can emit
    duplicate (doc1, doc2) rows — dedupe ids upstream. Integral ids run
    natively (the vectorized verify packs ids into int64 arrays and the
    output schema is long); non-integral ids (string doc ids etc.) are
    transparently surrogate-keyed via ``xxhash64`` and mapped back, so
    the output carries the original id type — at the cost of one eager
    collision-guard job over the distinct ids plus two map-back joins.
    """
    if max_hamming >= SIMHASH_CHUNKS:
        raise ValueError("pigeonhole bands require max_hamming < number of chunks")
    id_type = df.schema[id_col].dataType.simpleString()
    if id_type not in ("tinyint", "smallint", "int", "bigint"):
        # Surrogate-key path: xxhash64(id) is deterministic across jobs
        # (unlike monotonically_increasing_id, which can reassign on
        # recomputation and silently mispair). A 64-bit collision would
        # merge two docs into one key, so guard eagerly: distinct ids
        # must equal distinct surrogates. Pair order (doc1 < doc2) is
        # re-canonicalized on the ORIGINAL id type after map-back.
        # NULL ids are dropped up front: NULL hashes to the xxhash64
        # seed (sharing a surrogate with any colliding real id), and in
        # the map-back least/greatest would skip the null side and emit
        # doc1 == doc2 / half-null rows, violating the pair contract —
        # the integral path's int64 packing already excludes them.
        keyed = df.filter(F.col(id_col).isNotNull()).select(
            F.col(id_col), F.xxhash64(F.col(id_col).cast("string")).alias("__sk"), F.col(text_col)
        )
        id_map = keyed.select(id_col, "__sk").distinct()
        counts = id_map.agg(
            F.count("*").alias("n_ids"), F.countDistinct("__sk").alias("n_sk")
        ).first()
        if counts["n_ids"] != counts["n_sk"]:
            raise ValueError(
                "xxhash64 surrogate collision across distinct ids; "
                "provide an integral id column instead"
            )
        pairs = simhash_pairs(
            keyed.select("__sk", text_col), "__sk", text_col, max_hamming, method
        )
        m1 = id_map.select(F.col("__sk").alias("doc1"), F.col(id_col).alias("__id1"))
        m2 = id_map.select(F.col("__sk").alias("doc2"), F.col(id_col).alias("__id2"))
        return (
            pairs.join(m1, "doc1")
            .join(m2, "doc2")
            .select(
                F.least("__id1", "__id2").alias("doc1"),
                F.greatest("__id1", "__id2").alias("doc2"),
                "hamming",
            )
        )
    from itertools import combinations

    fp = simhash(df, id_col, text_col, method=method)
    width = SIMHASH_BITS // SIMHASH_CHUNKS
    chunk = [
        F.shiftright(F.col("simhash"), i * width).bitwiseAND(F.lit((1 << width) - 1))
        for i in range(SIMHASH_CHUNKS)
    ]
    r = 2 if max_hamming <= SIMHASH_CHUNKS - 2 else 1
    if r == 2:
        keys = [
            F.shiftleft(ci, width).bitwiseOR(cj)
            for ci, cj in combinations(chunk, 2)
        ]
    else:
        keys = chunk
    # Bucket-local vectorized verify — the embedding-dedup tier-2 shape
    # applied to SimHash. The r6 formulation verified Hamming on the
    # band SELF-JOIN's output; on dup-dense corpora that join
    # materializes Σb² rows through the merge (sf10 rehearsal: 9.96
    # BILLION rows, 224 s just to count them, then a 276M-row distinct
    # — 343 s steady). Here ONE shuffle groups (id, fingerprint) per
    # (band, bucket) — ~16 bytes/member, bounded by members x bands,
    # never by pair count — and each bucket verifies pairwise
    # blockwise in numpy: XOR outer product + LUT popcount run at
    # memory bandwidth, and candidate pairs never exist as Spark rows.
    # Exactly-once emission needs no distinct: a surviving pair agrees
    # on its band's chunks by construction, so it is emitted only from
    # its lexicographically-first agreeing band — one literal premask
    # per band (bits below the band's chunks), tested against the
    # pair's agreement mask, all vectorized on survivors only. A hot
    # bucket's O(b²) block loop runs in the task owning that key (the
    # same placement a join gives); the pigeonhole pair-keys bound
    # bucket sizes (sf10: max 20.6k members => <1 s of numpy), and the
    # fix for degenerate density is a sharper fingerprint, not the
    # banding.
    banded = fp.select(
        F.col(id_col),
        F.col("simhash"),
        F.posexplode(F.array(*keys)).alias("chunk", "chunkval"),
    )
    buckets = (
        banded.groupBy("chunk", "chunkval")
        .agg(
            F.collect_list(id_col).alias("ids"),
            F.collect_list("simhash").alias("fps"),
        )
        .filter(F.size("ids") >= 2)
        .select("chunk", "ids", "fps")
    )
    if r == 2:
        premasks = np.array(
            [((1 << j) - 1) ^ (1 << i) for i, j in combinations(range(SIMHASH_CHUNKS), 2)],
            dtype=np.uint64,
        )
    else:
        premasks = np.array([(1 << i) - 1 for i in range(SIMHASH_CHUNKS)], dtype=np.uint64)
    d = max_hamming
    n_chunks, w = SIMHASH_CHUNKS, width

    def verify(batches):
        byte_mask = np.uint64((1 << w) - 1)
        PAIR_SLAB = 1 << 22  # ~4M candidate pairs per vectorized flush
        BIG = 2048  # buckets above this verify via matrix blocks instead

        def first_band_keep(xs, pm):
            """agreement mask over chunks for survivor xors; True where
            this band is the pair's first agreeing band (pm is the
            band's premask — scalar or per-pair array)."""
            m = np.zeros(len(xs), dtype=np.uint64)
            for k in range(n_chunks):
                m |= ((xs >> np.uint64(k * w)) & byte_mask == 0).astype(
                    np.uint64
                ) << np.uint64(k)
            return (m & pm) == 0

        for pdf in batches:
            n_buckets = len(pdf)
            if not n_buckets:
                continue
            # flatten the whole batch once: per-bucket python/numpy call
            # overhead on thousands of 2-3 member buckets was 10x the
            # math (0.065 -> 0.75 s at sf0.1 in the first cut)
            sizes = np.fromiter((len(x) for x in pdf["ids"]), dtype=np.int64, count=n_buckets)
            ids_flat = np.concatenate([np.asarray(x, np.int64) for x in pdf["ids"]])
            fps_flat = np.concatenate(
                [np.asarray(x, np.int64) for x in pdf["fps"]]
            ).view(np.uint64)
            offs = np.zeros(n_buckets, dtype=np.int64)
            np.cumsum(sizes[:-1], out=offs[1:])
            cks = np.asarray(pdf["chunk"], dtype=np.int64)
            out1, out2, outh = [], [], []
            pi_buf, pj_buf, ck_buf = [], [], []
            buffered = 0

            def flush():
                nonlocal buffered, pi_buf, pj_buf, ck_buf
                if not buffered:
                    return
                pi = np.concatenate(pi_buf)
                pj = np.concatenate(pj_buf)
                ck = np.concatenate(ck_buf)
                pi_buf, pj_buf, ck_buf = [], [], []
                buffered = 0
                xs = fps_flat[pi] ^ fps_flat[pj]
                ham = _popcount64(xs)
                keep = ham <= d
                if not keep.any():
                    return
                pi, pj, ck, ham, xs = pi[keep], pj[keep], ck[keep], ham[keep], xs[keep]
                first = first_band_keep(xs, premasks[ck])
                if not first.any():
                    return
                a, b2 = ids_flat[pi[first]], ids_flat[pj[first]]
                # index order within a bucket is arbitrary — order by
                # id; a == b2 means a duplicated doc_id (two rows, one
                # id): never a meaningful pair, so drop the self-pair
                neq = a != b2
                out1.append(np.minimum(a, b2)[neq])
                out2.append(np.maximum(a, b2)[neq])
                outh.append(ham[first][neq].astype(np.int64))

            two = sizes == 2  # the common case, en masse
            if two.any():
                s2 = offs[two]
                pi_buf.append(s2)
                pj_buf.append(s2 + 1)
                ck_buf.append(cks[two])
                buffered += len(s2)
            # cache triu indices only for small sizes (the mass of the
            # distribution): all cached arrays together stay < 1 MB.
            # Bigger buckets regenerate per bucket — an O(b²) allocation
            # against O(b²) popcount math — because caching every
            # distinct size up to BIG is worst-case gigabytes.
            triu_cache: dict = {}
            for idx in np.nonzero((sizes > 2) & (sizes <= BIG))[0]:
                b = int(sizes[idx])
                if b <= 64:
                    if b not in triu_cache:
                        triu_cache[b] = np.triu_indices(b, 1)
                    ii, jj = triu_cache[b]
                else:
                    ii, jj = np.triu_indices(b, 1)
                pi_buf.append(offs[idx] + ii)
                pj_buf.append(offs[idx] + jj)
                ck_buf.append(np.full(len(ii), cks[idx], dtype=np.int64))
                buffered += len(ii)
                if buffered >= PAIR_SLAB:
                    flush()
            flush()

            # hot buckets: blockwise XOR matrix so memory stays ~16 MB
            # and the quadratic pair set never materializes as indices
            for idx in np.nonzero(sizes > BIG)[0]:
                b = int(sizes[idx])
                o = int(offs[idx])
                pm = premasks[cks[idx]]
                sub, subids = fps_flat[o : o + b], ids_flat[o : o + b]
                cols = np.arange(b)
                rows_per_block = max(32, (1 << 21) // b)
                for r0 in range(0, b, rows_per_block):
                    r1 = min(r0 + rows_per_block, b)
                    x = sub[r0:r1, None] ^ sub[None, :]
                    ham = _popcount64(x)
                    keep = (ham <= d) & (np.arange(r0, r1)[:, None] < cols[None, :])
                    ri, cj = np.nonzero(keep)
                    if not len(ri):
                        continue
                    first = first_band_keep(x[ri, cj], pm)
                    if first.any():
                        a = subids[r0 + ri[first]]
                        b2 = subids[cj[first]]
                        neq = a != b2  # drop duplicated-doc_id self-pairs
                        out1.append(np.minimum(a, b2)[neq])
                        out2.append(np.maximum(a, b2)[neq])
                        outh.append(ham[ri[first], cj[first]][neq].astype(np.int64))
            if out1:
                yield pd.DataFrame(
                    {
                        "doc1": np.concatenate(out1),
                        "doc2": np.concatenate(out2),
                        "hamming": np.concatenate(outh),
                    }
                )

    return buckets.mapInPandas(verify, "doc1 long, doc2 long, hamming long")
