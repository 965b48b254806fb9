"""Composed training-data pipeline: the operators working together.

One query chaining benchmark decontamination (drop training docs
sharing an 8-gram with the held-out eval split) -> quality scoring ->
near-dup removal (keep the lowest doc_id of each Jaccard>=0.8 pair)
-> corpus statistics. This is the end-to-end shape a 100 TB data-prep
job takes; every stage is the oracle-checked operator from its own
module, so the composition is oracle-checked too.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..catalog import load_tables
from ..operators import decontam as dc
from ..operators import dedup as dd
from ..operators import sampling as sp
from ..operators import text as tx
from ..registry import query

_QUALITY_MIN = 0.3
# Held-out eval split: a 5% deterministic md5 stride stands in for the
# benchmark corpus (same content-hash membership rule as sampling.py,
# so DuckDB reproduces the split exactly).
_EVAL_FRACTION = 0.05
_EVAL_CUT = int(_EVAL_FRACTION * sp._M)
_DECONTAM_N = 8


@query(
    "pipeline_clean_corpus",
    oracle=f"""
        WITH eval_docs AS (
            SELECT * FROM documents
            WHERE ('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 8))::BIGINT
                  % {sp._M} < {_EVAL_CUT}
        ), train_docs AS (
            SELECT * FROM documents
            WHERE ('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 8))::BIGINT
                  % {sp._M} >= {_EVAL_CUT}
        ), {dc.decontam_oracle_cte(_DECONTAM_N)}, scored AS (
            SELECT doc_id, lang,
                   len(string_split(text, ' ')) AS n_words,
                   least(len(string_split(text, ' ')) / 100.0, 1.0) * 0.5
                   + (len(list_filter(string_split(text, ' '),
                          w -> list_contains(['the','a','of','to','and'], w)))
                      / CAST(len(string_split(text, ' ')) AS DOUBLE)) * 0.5 AS q
            FROM train_docs
        ), sh AS (
            SELECT doc_id,
                   unnest(list_distinct([array_to_string(words[i:i+4], ' ')
                                         for i in range(1, greatest(len(words) - 3, 2))])) AS s
            FROM (SELECT doc_id, string_split(text, ' ') AS words FROM train_docs) w
        ), cnt AS (
            SELECT doc_id, count(*) AS n_sh FROM sh GROUP BY doc_id
        ), dup_pairs AS (
            SELECT a.doc_id AS d1, b.doc_id AS d2, count(*) AS n_inter
            FROM sh a JOIN sh b ON a.s = b.s AND a.doc_id < b.doc_id
            GROUP BY a.doc_id, b.doc_id
        ), drops AS (
            SELECT DISTINCT d2 AS doc_id FROM dup_pairs
            JOIN cnt c1 ON d1 = c1.doc_id JOIN cnt c2 ON d2 = c2.doc_id
            WHERE n_inter / CAST(c1.n_sh + c2.n_sh - n_inter AS DOUBLE) + 1e-9 >= 0.8
        ), clang AS (
            SELECT lang, count(*) AS n_contaminated
            FROM train_docs JOIN contam USING (doc_id)
            GROUP BY lang
        ), base AS (
            SELECT lang,
                   count(*) AS n_docs,
                   CAST(sum(n_words) AS BIGINT) AS total_tokens,
                   round(avg(q) + 1e-9, 4) AS avg_quality
            FROM scored
            WHERE q >= {_QUALITY_MIN}
              AND doc_id NOT IN (SELECT doc_id FROM drops)
              AND doc_id NOT IN (SELECT doc_id FROM contam)
            GROUP BY lang
        )
        SELECT base.lang, n_docs, total_tokens, avg_quality,
               COALESCE(clang.n_contaminated, 0) AS n_contaminated
        FROM base LEFT JOIN clang USING (lang)
    """,
    tags=("pipeline", "dedup", "quality", "decontam"),
    doc="End-to-end corpus cleaning: benchmark decontamination (training "
    "docs sharing an 8-gram with the held-out 5% md5-stride eval split are "
    "dropped) + quality gate (score >= 0.3) + near-dup removal (keep min "
    "doc_id of each Jaccard>=0.8 pair) -> per-language statistics of the "
    "surviving corpus, with the per-language contaminated-doc count "
    "surfaced. The registered hot path finds near-dups via MinHash-LSH "
    "candidates + exact verify and probes contamination via a broadcast "
    "eval-gram join (both sub-linear, the 100 TB path); the oracle is the "
    "exhaustive all-pairs Jaccard + the same gram join, and "
    "tests/test_dedup.py asserts the exact-composed variant produces the "
    "identical corpus at the test SFs.",
)
def pipeline_clean_corpus(spark: SparkSession, sf_dir: str) -> DataFrame:
    return clean_corpus(spark, sf_dir, near_dup="lsh")


def clean_corpus_docs(
    spark: SparkSession, sf_dir: str, near_dup: str = "lsh"
) -> DataFrame:
    """The surviving documents themselves (doc_id, lang, n_words, q) —
    the set `clean_corpus` aggregates, exposed for downstream stages
    (training-shard export, manual audits)."""
    kept, _ = _kept_and_contam(spark, sf_dir, near_dup)
    return kept


def export_clean_corpus(
    spark: SparkSession,
    sf_dir: str,
    out_dir: str,
    *,
    near_dup: str = "lsh",
    seed: int = 0,
    shard_rows: int = 10000,
) -> int:
    """Full pipeline to disk: decontaminate + quality-gate + near-dup
    drop, then export the survivors as deterministic shuffled training
    shards (operators/ordering.py::write_training_shards). Returns the
    shard count."""
    from ..operators.ordering import write_training_shards

    # Cache the survivors: the shard writer executes its input twice
    # (guarded prefix pass + write), and the cleaning pipeline upstream
    # (decontamination gram joins + LSH near-dup) is far too expensive
    # to run twice — and must not, or a nondeterministic upstream could
    # hand the two passes different sets. (At real scale, persist the
    # cleaned corpus to storage between the stages instead.)
    kept = clean_corpus_docs(spark, sf_dir, near_dup).cache()
    return write_training_shards(kept, out_dir, "doc_id", seed=seed, shard_rows=shard_rows)


def clean_corpus(spark: SparkSession, sf_dir: str, near_dup: str = "lsh") -> DataFrame:
    """Composed cleaning pipeline, near-dup stage parameterized.

    near_dup='lsh' (default): banded MinHash-LSH proposes candidate
    pairs (no est_jaccard cutoff — banding alone gates recall), exact
    Jaccard confirms >=0.8 on the candidate subset only. O(n) + output-
    bounded join: the only strategy that survives 100 TB.
    near_dup='exact': exhaustive all-pairs inverted-index Jaccard — the
    ground-truth/oracle formulation, viable only at small SF.

    Decontamination runs first (the contaminated docs must not leak
    into the cleaned corpus however the later stages rule): the 5%
    md5-stride split stands in for a benchmark corpus, and any train
    doc sharing a distinct 8-gram with it is dropped and counted.
    """
    return _finish_stats(*_kept_and_contam(spark, sf_dir, near_dup))


def _kept_and_contam(spark: SparkSession, sf_dir: str, near_dup: str = "lsh"):
    """Shared pipeline core: (surviving docs, per-lang contamination)."""
    all_docs = load_tables(spark, sf_dir)["documents"]
    eval_docs = sp.deterministic_sample(all_docs, "doc_id", _EVAL_FRACTION)
    docs = all_docs.filter(sp.hash_bucket("doc_id") >= _EVAL_CUT)
    # The contam relation feeds two consumers (the per-lang count and
    # the anti-join filter); cache it so the gram explode + probe join
    # — the pipeline's most expensive stage — runs once per execution.
    contam = dc.contamination_hits(docs, eval_docs, n=_DECONTAM_N).cache()
    contam_by_lang = (
        docs.join(contam, "doc_id")
        .groupBy("lang")
        .agg(F.count(F.lit(1)).alias("n_contaminated"))
    )
    scored = docs.select(
        "doc_id",
        "lang",
        tx.token_count("text").alias("n_words"),
        (
            F.least(tx.token_count("text") / 100.0, F.lit(1.0)) * 0.5
            + (tx.stopword_count("text") / tx.token_count("text").cast("double")) * 0.5
        ).alias("q"),
    )
    if near_dup == "exact":
        pairs = dd.jaccard_pairs(docs, "doc_id", "text", k=5, threshold=0.8)
    elif near_dup == "lsh":
        # Candidate gate at est>=0.5, far below the exact 0.8 target: a true
        # 0.8-Jaccard pair has E[est]=0.8, sigma~0.05 at 64 perms, so 0.5 is
        # a 6-sigma margin against false negatives. Gating matters: with no
        # cutoff, moderately-similar corpus pairs (j~0.3 collide in a band
        # w.p. ~16*j^4) flood the exact-verify stage with O(n^2)-ish
        # candidates and the pipeline degenerates to all-pairs.
        cand = dd.minhash_lsh_pairs(docs, "doc_id", "text", k=5, threshold=0.5)
        pairs = dd.jaccard_verify_candidates(docs, "doc_id", "text", cand, k=5, threshold=0.8)
    else:
        raise ValueError(f"unknown near_dup strategy {near_dup!r}")
    drops = pairs.select(F.col("doc2").alias("doc_id")).distinct()
    kept = (
        scored.filter(F.col("q") >= _QUALITY_MIN)
        .join(F.broadcast(drops), "doc_id", "left_anti")
        # contam scales with corpus x contamination rate — no broadcast
        # hint (see operators/decontam.decontaminate); AQE decides.
        .join(contam.select("doc_id"), "doc_id", "left_anti")
    )
    return kept, contam_by_lang


def _finish_stats(kept: DataFrame, contam_by_lang: DataFrame) -> DataFrame:
    stats = kept.groupBy("lang").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("n_words").alias("total_tokens"),
        F.round(F.avg("q") + 1e-9, 4).alias("avg_quality"),
    )
    return stats.join(F.broadcast(contam_by_lang), "lang", "left").withColumn(
        "n_contaminated", F.coalesce(F.col("n_contaminated"), F.lit(0)).cast("long")
    )
