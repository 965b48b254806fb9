"""Streaming ingestion dedup: a Structured Streaming corpus builder.

Beyond-reference (the reference has no streaming surface — SURVEY §2.9)
but THE production shape for a 100 TB training-data pipeline:
documents arrive continuously, and each micro-batch must be deduped
against everything already accepted before it lands in the corpus.
This composes the existing batch-vs-corpus incremental MinHash
operator (``operators/dedup.py::minhash_lsh_pairs_incremental`` — one
corpus scan, no corpus self-join, banded batch probe) with
``foreachBatch``:

    batch ──► pairs vs corpus ──► drop corpus-duplicated docs
          ──► pairs within batch ──► keep one representative per
              duplicate cluster (min id, via connected_components)
          ──► survivors APPEND to the corpus directory

Scale notes (the reason this is foreachBatch and not a stateful op):
the accumulated corpus is parquet on shared storage, not Spark state —
state stores cap at executor memory × retention, a corpus does not.
The sink persists each batch's accepted SIGNATURES beside the docs
(``sigs/batch-<id>/``), so a micro-batch probes the compact (id, sig)
table instead of recomputing the corpus's shingle→md5→minhash
pipeline — per-batch cost = batch signature build + one columnar scan
of the signature table (O(corpus) IO on ~num_perm longs/doc, not
O(corpus) CPU over full text). Survivors and their signatures write
to per-batch subdirectories (``batch-<id>/``) with overwrite, so
foreachBatch's at-least-once replay is IDEMPOTENT — a replayed batch
rewrites its own directories in lockstep instead of double-appending.

Dedup policy (greedy, documented): (1) a batch doc that near-dups ANY
corpus doc is dropped; (2) the remaining batch docs form duplicate
clusters over their batch-internal pairs, and the minimum id of each
cluster survives. Matching uses the SAME banding/threshold as the
batch operators, so stream-built and batch-built corpora agree
(asserted in tests/test_streaming_dedup.py).
"""

from __future__ import annotations

import json
import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..operators.dedup import (
    connected_components,
    minhash_lsh_pairs,
    minhash_lsh_pairs_incremental,
    minhash_signatures,
)


def _batch_subdirs(root: str) -> list[str]:
    """batch-*/ subdirectories of ``root`` that hold parquet, sorted."""
    if not os.path.isdir(root):
        return []
    return [
        os.path.join(root, d)
        for d in sorted(os.listdir(root))
        if d.startswith("batch-")
        and os.path.isdir(os.path.join(root, d))
        and any(f.endswith(".parquet") for f in os.listdir(os.path.join(root, d)))
    ]


def _read_corpus(spark: SparkSession, corpus_dir: str) -> DataFrame | None:
    """The accumulated corpus (batch-*/ parquet), or None when empty."""
    subdirs = _batch_subdirs(corpus_dir)
    if not subdirs:
        return None
    return spark.read.parquet(*subdirs)


def _sig_dir(corpus_dir: str) -> str:
    return os.path.join(corpus_dir, "sigs")


def _sig_params_path(corpus_dir: str) -> str:
    return os.path.join(_sig_dir(corpus_dir), "_PARAMS.json")


def _read_corpus_sigs(
    spark: SparkSession, corpus_dir: str, params: dict
) -> DataFrame | None:
    """The persisted corpus signature table (sigs/batch-*/), or None.

    Signatures are only trusted when the params manifest matches the
    probe's (k, num_perm, method): a mismatch silently changes match
    semantics (different shingle width or permutation count = a
    different MinHash space), so it raises instead of degrading.
    """
    subdirs = _batch_subdirs(_sig_dir(corpus_dir))
    if not subdirs:
        return None
    manifest_path = _sig_params_path(corpus_dir)
    try:
        with open(manifest_path) as f:
            stored = json.load(f)
    except (OSError, ValueError) as e:
        raise ValueError(
            f"streaming dedup: signature table {_sig_dir(corpus_dir)} has no "
            f"readable params manifest ({e}); delete the sigs/ directory to "
            "rebuild from text"
        ) from e
    if stored != params:
        raise ValueError(
            "streaming dedup: persisted signature params "
            f"{stored} != requested {params}; delete the sigs/ directory to "
            "rebuild from text"
        )
    return spark.read.parquet(*subdirs)


def dedup_batch_against_corpus(
    batch_df: DataFrame,
    corpus_df: DataFrame | None,
    id_col: str,
    text_col: str,
    *,
    threshold: float = 0.7,
    k: int = 5,
    corpus_sig: DataFrame | None = None,
    **lsh_kwargs,
) -> DataFrame:
    """Survivors of one ingestion batch under the greedy policy above.

    Pure batch logic (no streaming dependency) so the semantics are
    testable and reusable from a plain backfill driver too.
    ``corpus_df`` should be MATERIALIZED storage (a parquet read, as the
    streaming sink guarantees) — chaining one call's lazy output in as
    the next call's corpus compounds the LSH + iterative
    connected-components plans into a tree that can OOM the planner.
    ``corpus_sig`` short-circuits the corpus signature build with a
    persisted ``(id_col, sig)`` relation (the sink maintains one); the
    corpus TEXT is then never read at all — per-batch cost is the
    batch's own signature build plus a columnar scan of the signature
    table. ``lsh_kwargs`` forwards to both LSH passes; the
    incremental-only knobs (``check_id_overlap``, ``broadcast``) go to
    the corpus pass.
    """
    incr_only = {
        key: lsh_kwargs.pop(key)
        for key in ("check_id_overlap", "broadcast")
        if key in lsh_kwargs
    }
    batch_df = batch_df.select(id_col, text_col)
    if corpus_df is not None or corpus_sig is not None:
        vs_corpus = minhash_lsh_pairs_incremental(
            batch_df,
            None if corpus_sig is not None else corpus_df.select(id_col, text_col),
            id_col,
            text_col,
            k=k,
            threshold=threshold,
            corpus_sig=corpus_sig,
            **incr_only,
            **lsh_kwargs,
        )
        batch_ids = batch_df.select(F.col(id_col).alias("__bid")).distinct()
        # batch endpoint of every corpus-touching pair: doc1 when doc1 is
        # the batch side and doc2 is corpus, else doc2 (covers
        # corpus-batch and batch-batch pairs alike — for batch-batch the
        # min-id doc1 is retained by policy anyway)
        p = (
            vs_corpus.join(
                batch_ids.withColumnRenamed("__bid", "doc1").withColumn(
                    "__b1", F.lit(True)
                ),
                "doc1",
                "left",
            )
            .join(
                batch_ids.withColumnRenamed("__bid", "doc2").withColumn(
                    "__b2", F.lit(True)
                ),
                "doc2",
                "left",
            )
        )
        drop_ids = p.select(
            F.when(
                F.col("__b1").isNotNull() & F.col("__b2").isNull(), F.col("doc1")
            )
            .otherwise(F.col("doc2"))
            .alias(id_col)
        ).distinct()
        remaining = batch_df.join(drop_ids, id_col, "left_anti")
    else:
        remaining = batch_df
    # within what's left: one representative (min id) per duplicate cluster
    internal = minhash_lsh_pairs(
        remaining, id_col, text_col, k=k, threshold=threshold, **lsh_kwargs
    )
    comps = connected_components(internal)  # (member, component=min id)
    non_reps = comps.filter(F.col("member") != F.col("component")).select(
        F.col("member").alias(id_col)
    )
    return remaining.join(non_reps, id_col, "left_anti")


def export_training_corpus(
    spark: SparkSession,
    corpus_dir: str,
    out_dir: str,
    id_col: str,
    text_col: str,
    *,
    seed: int = 0,
    shard_rows: int = 10000,
) -> dict:
    """Close the epoch: deduped stream corpus → shuffled training shards.

    Reads everything ``streaming_dedup_sink`` accepted, counts tokens,
    and exports via ``operators/ordering.py::write_training_shards`` —
    the deterministic seeded order, so the training run replays
    identically from any engine and resumes at shard boundaries.
    Returns ``{"n_docs", "n_shards", "total_tokens"}``.
    """
    from ..operators.ordering import write_training_shards
    from ..operators.text import token_count

    corpus = _read_corpus(spark, corpus_dir)
    if corpus is None:
        return {"n_docs": 0, "n_shards": 0, "total_tokens": 0}
    toked = corpus.withColumn("n_tokens", token_count(text_col))
    n_shards = write_training_shards(
        toked, out_dir, id_col, seed=seed, shard_rows=shard_rows
    )
    stats = toked.agg(
        F.count(F.lit(1)).alias("n"), F.sum("n_tokens").alias("t")
    ).first()
    return {
        "n_docs": int(stats["n"]),
        "n_shards": n_shards,
        "total_tokens": int(stats["t"] or 0),
    }


def streaming_dedup_sink(
    stream_df: DataFrame,
    corpus_dir: str,
    checkpoint_dir: str,
    id_col: str,
    text_col: str,
    *,
    threshold: float = 0.7,
    k: int = 5,
    **lsh_kwargs,
):
    """``writeStream`` query: dedup each micro-batch, append survivors.

    Returns the DataStreamWriter (caller ``.start()``s it — tests use
    ``.trigger(availableNow=True)`` for run-to-completion semantics).

    The sink maintains a SIGNATURE TABLE beside the docs
    (``sigs/batch-<id>/`` + a ``_PARAMS.json`` manifest): each batch's
    survivors land twice — text in ``batch-<id>/``, their MinHash
    signatures in ``sigs/batch-<id>/`` (same overwrite idempotence).
    The next batch probes the persisted signatures instead of
    recomputing the corpus's shingle→md5→minhash pipeline, so
    per-batch cost is the batch's own signature build + a columnar
    scan of (id, sig) — O(corpus) IO on a compact table rather than
    O(corpus) CPU over the full text (the 100 TB corpus shape; receipt
    in BENCH_STREAM_SIGS.json). A corpus built by an older sink (docs
    without sigs) self-heals: missing signature batches are computed
    from their text ONCE and persisted before the probe.
    """
    def process(batch_df: DataFrame, batch_id: int) -> None:
        ingest_batch(
            batch_df,
            batch_id,
            corpus_dir,
            id_col,
            text_col,
            threshold=threshold,
            k=k,
            **lsh_kwargs,
        )

    return (
        stream_df.writeStream.foreachBatch(process)
        .option("checkpointLocation", checkpoint_dir)
        .outputMode("update")
    )


def _sig_params(k: int, lsh_kwargs: dict) -> dict:
    from ..operators.dedup import NUM_PERM

    return {
        "k": k,
        "num_perm": int(lsh_kwargs.get("num_perm", NUM_PERM)),
        "method": lsh_kwargs.get("method", "md5"),
    }


def _ensure_corpus_sigs(
    spark: SparkSession,
    corpus_dir: str,
    sig_params: dict,
    id_col: str,
    text_col: str,
) -> DataFrame | None:
    """Signature table covering every doc batch, backfilling gaps.

    Raises on a params-manifest mismatch (a different MinHash space);
    writes the manifest on first use; computes missing batches' rows
    from their text ONCE (legacy-layout migration, self-healing).
    """
    doc_sub = _batch_subdirs(corpus_dir)
    if not doc_sub:
        return None
    sdir = _sig_dir(corpus_dir)
    manifest = _sig_params_path(corpus_dir)
    if os.path.exists(manifest):
        with open(manifest) as f:
            stored = json.load(f)
        if stored != sig_params:
            raise ValueError(
                "streaming dedup: persisted signature params "
                f"{stored} != requested {sig_params}; delete {sdir} to rebuild"
            )
    else:
        os.makedirs(sdir, exist_ok=True)
        with open(manifest, "w") as f:
            json.dump(sig_params, f)
    have = {os.path.basename(p) for p in _batch_subdirs(sdir)}
    for p in doc_sub:
        name = os.path.basename(p)
        if name not in have:
            minhash_signatures(
                spark.read.parquet(p),
                id_col,
                text_col,
                k=sig_params["k"],
                num_perm=sig_params["num_perm"],
                method=sig_params["method"],
            ).write.mode("overwrite").parquet(os.path.join(sdir, name))
    # read only the sig batches that have a live doc batch, so a
    # sig dir orphaned by manual doc deletion can't resurrect
    # phantom corpus members into the probe
    return spark.read.parquet(
        *[os.path.join(sdir, os.path.basename(p)) for p in doc_sub]
    )


def ingest_batch(
    batch_df: DataFrame,
    batch_id: int,
    corpus_dir: str,
    id_col: str,
    text_col: str,
    *,
    threshold: float = 0.7,
    k: int = 5,
    **lsh_kwargs,
) -> None:
    """One ingestion batch: dedup against the signature table, land
    survivors + their signatures. The sink's foreachBatch body, exposed
    so a plain backfill job (or a scale rehearsal, receipts in
    BENCH_STREAM_SIGS.json) runs the EXACT sink code path."""
    spark = batch_df.sparkSession
    if batch_df.isEmpty():
        return
    sig_params = _sig_params(k, lsh_kwargs)
    corpus_sigs = _ensure_corpus_sigs(spark, corpus_dir, sig_params, id_col, text_col)
    survivors = dedup_batch_against_corpus(
        batch_df,
        None,
        id_col,
        text_col,
        threshold=threshold,
        k=k,
        corpus_sig=corpus_sigs,
        # a replayed/streamed batch never shares ids with the corpus
        # by construction (checkpointed offsets); skip the eager
        # overlap-guard job per micro-batch
        check_id_overlap=False,
        **lsh_kwargs,
    )
    out = os.path.join(corpus_dir, f"batch-{batch_id}")
    survivors.write.mode("overwrite").parquet(out)
    # signatures of what actually LANDED (re-read the written files,
    # batch-sized): a replayed batch rewrites both directories in
    # lockstep, so docs and signatures cannot drift
    sdir = _sig_dir(corpus_dir)
    manifest = _sig_params_path(corpus_dir)
    if not os.path.exists(manifest):
        os.makedirs(sdir, exist_ok=True)
        with open(manifest, "w") as f:
            json.dump(sig_params, f)
    minhash_signatures(
        spark.read.parquet(out),
        id_col,
        text_col,
        k=sig_params["k"],
        num_perm=sig_params["num_perm"],
        method=sig_params["method"],
    ).write.mode("overwrite").parquet(os.path.join(sdir, f"batch-{batch_id}"))
