"""Deterministic sampling for training-data pipelines.

Spark's ``df.sample`` is seed-dependent *per partitioning*: the same
seed yields different rows after a repartition, and no other engine
can reproduce it. Pipelines that must be auditable sample by CONTENT
hash instead: a row is in the p-sample iff
``md5(key) mod M < p*M`` — stable under repartitioning, re-runs,
engine changes, and incremental appends (a row's membership never
flips as the corpus grows). The same predicate runs in DuckDB, so
samples are differentially verifiable like the sketch operators
(``tests/test_sampling.py``).

At 100 TB both operators are a single predicate pushed into the scan —
no shuffle, no state; stratified sampling broadcasts only the tiny
per-stratum fraction map.
"""

from __future__ import annotations

import math

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

# 2^31-ish prime modulus: big enough that fraction granularity
# (1/M ~ 5e-10) is far below any practical sampling rate.
_M = 2147483647


def hash_bucket(key: Column | str) -> Column:
    """Uniform bucket in [0, M) from the md5 of the key's string form."""
    col = F.col(key) if isinstance(key, str) else key
    return F.pmod(
        F.conv(F.substring(F.md5(col.cast("string")), 1, 8), 16, 10).cast("long"),
        F.lit(_M),
    )


def deterministic_sample(df: DataFrame, key: str, fraction: float) -> DataFrame:
    """Content-keyed p-sample: row kept iff hash(key) < fraction*M."""
    if not 0.0 <= fraction <= 1.0:
        raise ValueError(f"fraction must be in [0, 1], got {fraction}")
    return df.filter(hash_bucket(key) < int(fraction * _M))


def stratified_sample(df: DataFrame, key: str, strata_col: str, fractions: dict[str, float]) -> DataFrame:
    """Per-stratum fractions (e.g. upsample rare languages).

    Strata absent from ``fractions`` are dropped — explicit beats
    implicit when the output feeds a training mix. The fraction map
    rides the plan as a literal CASE, so the whole operator remains
    one scan-level predicate.
    """
    for s, f in fractions.items():
        if not 0.0 <= f <= 1.0:
            raise ValueError(f"fraction for stratum {s!r} must be in [0, 1], got {f}")
    thresh = None
    expr = F.when(F.lit(False), F.lit(0))
    for s, f in fractions.items():
        expr = expr.when(F.col(strata_col) == s, int(f * _M))
    thresh = expr.otherwise(F.lit(0))
    return df.filter(hash_bucket(key) < thresh)


def inverse_frequency_sample(
    df: DataFrame, key: str, strata_col: str, temperature: float = 0.5
) -> DataFrame:
    """Flatten a skewed stratum distribution (training-mix rebalancing).

    Each stratum ``s`` keeps the deterministic fraction
    ``(n_min / n_s) ** temperature`` — the rarest stratum survives
    whole, dominant strata are down-sampled toward it, and
    ``temperature`` interpolates between no rebalancing (0) and full
    flattening (1). This is the standard inverse-frequency/temperature
    mix used to keep high-resource languages from drowning out rare
    ones.

    Per-stratum thresholds are ``floor(M * (n_min/n_s)**t)`` — with the
    default ``t=0.5`` that is one IEEE-exact ``sqrt`` per stratum, so
    any engine recomputing the counts derives bit-identical thresholds
    (differentially checked in ``queries/sampling.py``). Membership is
    content-hash based like the other samplers: stable under
    repartitioning and corpus appends *given the same thresholds*
    (appends that shift stratum counts shift fractions — by design,
    the mix tracks the corpus).

    Eagerly runs one tiny aggregation (rows = #strata); the returned
    plan is a single scan-level predicate, zero exchanges. NULL strata
    are dropped (they never get a threshold).
    """
    if not 0.0 <= temperature <= 1.0:
        raise ValueError(f"temperature must be in [0, 1], got {temperature}")
    counts = {
        r["s"]: int(r["n"])
        for r in df.groupBy(F.col(strata_col).alias("s")).count().withColumnRenamed("count", "n").collect()
        if r["s"] is not None
    }
    if not counts:
        return df.filter(F.lit(False))
    n_min = min(counts.values())
    expr = F.when(F.lit(False), F.lit(0))
    for s, n in counts.items():
        # math.sqrt is IEEE-correctly-rounded (pow(x, 0.5) need not be),
        # so the default temperature derives thresholds any engine's
        # sqrt() reproduces bit-identically — the oracle contract.
        ratio = n_min / n
        frac = math.sqrt(ratio) if temperature == 0.5 else ratio**temperature
        expr = expr.when(F.col(strata_col) == s, F.lit(int(_M * frac)))
    return df.filter(hash_bucket(key) < expr.otherwise(F.lit(0)))


def quality_stratified_sample(
    df: DataFrame,
    id_col: str,
    stratum_col: str,
    score: Column,
    quantile: float = 0.75,
) -> DataFrame:
    """Curriculum/quality binning: keep rows whose ``score`` is at or
    above the per-stratum ``quantile`` — e.g. the top quality quartile
    of every language, the standard high-quality-subset stage a
    training mix applies after cleaning.

    Unlike the content-hash samplers (membership decided per row at
    scan level), the threshold here is DATA-DEPENDENT: one exact
    percentile aggregate per stratum (#strata rows), broadcast back,
    one filter — zero data shuffles beyond the tiny threshold
    aggregate. The scored projection is CACHED (r14, guide §4): it is
    consumed twice (threshold aggregate + filter) and the score
    expression is a pile of per-row string work, so without the cache
    every execution paid two full corpus scans each recomputing the
    score; the cached relation is narrow (id, stratum, 4-dp score —
    the text column never enters it), so at 100 TB it trades ~24
    B/row of storage for a second full-text scan+score pass. The
    exact percentile runs on 4-dp-rounded scores whose interpolation
    midpoints both engines compute identically (oracle-checked in
    ``sampling_suite``). Ties at the threshold are INCLUDED (>=) so
    the subset is deterministic under re-runs and engine swaps.
    """
    scored = df.select(F.col(id_col), F.col(stratum_col), score.alias("_q")).cache()
    th = scored.groupBy(stratum_col).agg(
        F.expr(f"percentile(_q, {quantile})").alias("_t")
    )
    return (
        scored.join(F.broadcast(th), stratum_col)
        .filter(F.col("_q") >= F.col("_t"))
        .select(id_col, stratum_col)
    )


def sample_oracle_sql(key: str, fraction: float, table: str = "documents") -> str:
    """The DuckDB-equivalent predicate, for differential tests."""
    return (
        f"SELECT * FROM {table} WHERE "
        f"('0x' || substr(md5(CAST({key} AS VARCHAR)), 1, 8))::BIGINT % {_M} "
        f"< {int(fraction * _M)}"
    )


def mixture_sample(
    df: DataFrame,
    key: str,
    strata_col: str,
    weights: dict[str, float],
    absent: str = "raise",
) -> DataFrame:
    """Target-share mixture construction: resample so the OUTPUT hits
    explicit per-stratum shares (DoReMi-style static domain weights) —
    the complement of :func:`inverse_frequency_sample`, which derives
    its shares from the counts.

    Given target shares ``w_s`` (the caller's mixture, summing to 1)
    the largest achievable output is ``N = min_s(n_s / w_s)`` — the
    scarcest stratum relative to its target caps the whole mix, and is
    kept whole; every other stratum down-samples to ``w_s · N / n_s``.
    Strata absent from ``weights`` DROP (explicit beats implicit for a
    training mix); strata named in ``weights`` but absent from the data
    RAISE by default — a silently-empty mixture component is a corpus
    bug — or, with ``absent="drop"``, fall out of the mix (N is then
    the min over PRESENT strata; the registry query uses this mode so
    partition-pruned/adversarial corpora degrade to an empty or
    partial mix instead of failing the whole suite).

    Every derivation is reproducible IEEE arithmetic on exact integer
    counts (divide / multiply / min / floor — all correctly rounded),
    so any engine re-derives the thresholds bit-identically from its
    own counts (mixture_oracle_sql; differentially checked in
    ``sampling_suite``). Same scale shape as the other samplers: one
    #strata-row count aggregate eagerly, then a single scan-level
    content-hash predicate — zero data shuffles, membership stable
    under repartitioning and re-runs.
    """
    if not weights:
        raise ValueError("weights must name at least one stratum")
    bad = {s: w for s, w in weights.items() if not w > 0}
    if bad:
        raise ValueError(f"weights must be > 0, got {bad}")
    counts = {
        r["s"]: int(r["n"])
        for r in df.filter(F.col(strata_col).isin(*weights))
        .groupBy(F.col(strata_col).alias("s"))
        .agg(F.count(F.lit(1)).alias("n"))
        .collect()
    }
    if absent not in ("raise", "drop"):
        raise ValueError(f"absent must be 'raise' or 'drop', got {absent!r}")
    missing = sorted(set(weights) - set(counts))
    if missing and absent == "raise":
        raise ValueError(
            f"mixture strata absent from the data: {missing} — a "
            "silently-empty mixture component is a corpus bug"
        )
    present = {s: w for s, w in weights.items() if s in counts}
    if not present:
        return df.filter(F.lit(False))
    n_out = min(counts[s] / present[s] for s in present)
    expr = F.when(F.lit(False), F.lit(0))
    for s in sorted(present):
        # Left-assoc ((M*w)*N)/n, mirrored verbatim in the oracle SQL.
        expr = expr.when(
            F.col(strata_col) == s,
            F.lit(int(_M * present[s] * n_out / counts[s])),
        )
    return df.filter(hash_bucket(key) < expr.otherwise(F.lit(0)))


def mixture_oracle_sql(
    key: str,
    strata_col: str,
    weights: dict[str, float],
    table: str = "documents",
) -> str:
    """DuckDB replay of :func:`mixture_sample`: re-derives N and the
    per-stratum thresholds from its own counts with the same left-assoc
    IEEE arithmetic. Generated from the SAME weights dict so the two
    sides cannot drift."""
    in_list = ", ".join(f"'{s}'" for s in sorted(weights))
    # CAST ... AS DOUBLE: DuckDB parses bare decimal literals as DECIMAL,
    # which would swap the IEEE division for decimal arithmetic.
    w_case = (
        "CASE " + strata_col + " "
        + " ".join(
            f"WHEN '{s}' THEN CAST({weights[s]!r} AS DOUBLE)"
            for s in sorted(weights)
        )
        + " END"
    )
    return f"""
        SELECT d.* FROM {table} d
        JOIN (
            SELECT {strata_col},
                   CAST(floor({_M} * {w_case}
                        * (SELECT min(n / {w_case})
                           FROM (SELECT {strata_col}, count(*) AS n
                                 FROM {table}
                                 WHERE {strata_col} IN ({in_list})
                                 GROUP BY {strata_col}))
                        / n) AS BIGINT) AS t
            FROM (SELECT {strata_col}, count(*) AS n FROM {table}
                  WHERE {strata_col} IN ({in_list})
                  GROUP BY {strata_col})
        ) th USING ({strata_col})
        WHERE ('0x' || substr(md5(CAST(d.{key} AS VARCHAR)), 1, 8))::BIGINT
              % {_M} < th.t
    """


def weighted_sample(
    df: DataFrame, key: str, weight, n: int, seed: int = 0
) -> DataFrame:
    """Deterministic WEIGHTED sampling without replacement — the
    Efraimidis–Spirakis scheme on content hashes: row i gets the
    exponential-race key ``e_i = -ln(u_i) / w_i`` with ``u_i`` a
    deterministic uniform in (0, 1] from ``md5(key#seed)``, and the n
    SMALLEST race keys win. P(row first) = w_i / Σw, so the sample
    tilts toward heavy rows (importance sampling by quality, length,
    citation count, ...) while staying auditable: membership is a pure
    function of (key, seed, weight), stable under repartitioning and
    re-runs, and replayable in any engine (weighted_oracle_sql).

    Scale shape: one scan computing the race key + a distributed
    top-n (``orderBy().limit()`` plans as TakeOrderedAndProject —
    per-partition heaps, never a global sort materialization). Race
    keys are ROUNDED to 12 dp before ordering with the row key as
    tie-break, so the 1-ulp libm differences in ``ln`` across engines
    cannot flip the cut (same acceptance class as the LM-score
    orderings). Non-positive or NULL weights RAISE — they have no
    sampling-probability meaning; the guard rides the race expression
    itself (``raise_error`` branch) so it costs no extra corpus scan.
    """
    if n < 1:
        raise ValueError(f"n must be >= 1, got {n}")
    w = F.col(weight) if isinstance(weight, str) else weight
    salted = F.concat(F.col(key).cast("string"), F.lit(f"#{seed}"))
    u = (
        F.pmod(
            F.conv(F.substring(F.md5(salted), 1, 8), 16, 10).cast("long"),
            F.lit(_M),
        )
        + 1
    ) / F.lit(float(_M))
    race = F.when(
        w.isNotNull() & (w > 0), F.round(-F.log(u) / w.cast("double"), 12)
    ).otherwise(
        F.raise_error(
            F.concat(
                F.lit("weighted_sample: NULL or non-positive weight at key="),
                F.col(key).cast("string"),
            )
        ).cast("double")
    )
    return (
        df.withColumn("_race", race)
        .orderBy(F.col("_race").asc(), F.col(key).asc())
        .limit(n)
        .drop("_race")
    )


def weighted_oracle_sql(
    key: str, weight_sql: str, n: int, seed: int = 0, table: str = "documents"
) -> str:
    """DuckDB replay of :func:`weighted_sample` (same race-key formula,
    12-dp rounding, and tie-break)."""
    u = (
        f"((('0x' || substr(md5(CAST({key} AS VARCHAR) || '#{seed}'), 1, 8))::BIGINT"
        f" % {_M} + 1) / CAST({_M} AS DOUBLE))"
    )
    return f"""
        SELECT * EXCLUDE (_race) FROM (
            SELECT *, round(-ln({u}) / CAST(({weight_sql}) AS DOUBLE), 12) AS _race
            FROM {table}
            ORDER BY _race ASC, {key} ASC
            LIMIT {n}
        )
    """
