"""Distributed exact percentiles via value histograms.

Spark's builtin exact ``percentile`` aggregate buffers a value->count
map per group and merges all partial maps in the FINAL aggregation
task for that group. On a low-cardinality group key over a
high-cardinality value column that concentrates the whole merge +
sort in a handful of tasks: measured 8.2 s steady at sf1 for three
``l_returnflag`` groups over ~1M distinct ``l_extendedprice`` values
— the one >12x scale cliff left open by the sf1 rehearsal (SCALE.md).

The histogram formulation keeps every heavy step distributed:

1. ``groupBy(group, value).count()`` — hash-partitioned on
   (group, value), so the combine work spreads over ALL shuffle
   partitions instead of one per group; map-side partial aggregation
   collapses duplicate values before the shuffle.
2. A per-group ordered cumulative sum over the DISTINCT values picks
   the two interpolation bounds. This window does sort each group's
   distinct values in one task, but on (value, count) pairs — the
   compressed domain, not the rows. For a truly unbounded continuous
   domain at extreme scale, the escape hatch is
   :func:`percentile_exact_refine` below or the sketch path
   (``percentile_approx``), which is the production answer the
   reference's approx aggregates exist for.
3. Group totals are one row per group; the join back to the bounds is
   broadcast.

Semantics match Spark's ``percentile(col, p)`` (and DuckDB's
``median`` / ``quantile_cont``) exactly: linear interpolation at rank
``(N-1) * p`` over the sorted non-null values; a group whose values
are all null yields NULL (verified differentially in
tests/test_percentiles.py).

Reference parity: dft exposes exact percentiles through DataFusion's
``approx_percentile_cont``/``median`` surface (SURVEY §2.4); this
module is the scale-correct exact path backing
``distinct_aggregates``'s oracle columns.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import Window as W
from pyspark.sql import functions as F

# Internal plan columns are namespaced so user group columns named
# "n"/"val"/"cnt"/... cannot collide or become ambiguous in the joins.
_N = "__pct_n"
_RN = "__pct_rn"
_LO = "__pct_lo"
_HI = "__pct_hi"
_VAL = "__pct_val"
_CNT = "__pct_cnt"
_CUM = "__pct_cum"
_VLO = "__pct_vlo"
_VHI = "__pct_vhi"
_APS = "__pct_aps"
_APLO = "__pct_ap_lo"
_APHI = "__pct_ap_hi"
_NF = "__pct_nonfinite"
_CLAMPED = "__pct_clamped"

NEG, POS = float("-inf"), float("inf")


def _interpolate(out_col: str) -> Column:
    """Linear interpolation at rank rn, in the builtin's exact IEEE
    shape: Spark's Percentile evaluates
    ``(higherIndex - position) * lower + (position - lowerIndex) *
    higher`` (two-sided weights, Percentile.scala), which differs from
    ``lower + frac * (higher - lower)`` by one ULP on some inputs —
    the differential tests compare at full precision, so the form
    matters. The integer-position case short-circuits to the lower
    value (matching the builtin's lowerIndex == higherIndex branch)
    so an exact-ordinal hit never multiplies a sentinel (inf * 0 =
    NaN), and equal bracketing values short-circuit too (the
    builtin's higherKey == lowerKey branch — interpolating
    ``(1-f)*v + f*v`` re-rounds and can drift one ULP off v)."""
    frac = F.col(_RN) - F.col(_LO)
    hi_ceil = F.ceil(_RN)
    return (
        F.when(frac == 0, F.col(_VLO))
        .when(F.col(_VLO) == F.col(_VHI), F.col(_VLO))
        .otherwise(
            (hi_ceil - F.col(_RN)) * F.col(_VLO) + frac * F.col(_VHI)
        )
        .alias(out_col)
    )


def _walk_bounds(hist: DataFrame, group_cols: list[str], out_col: str) -> DataFrame:
    """Shared exact cumulative-count walk: pick the lo/hi ordinal
    covers from a (group..., rn, lo, hi, val, cnt) histogram and
    interpolate."""
    gcols = [F.col(c) for c in group_cols]
    w = W.partitionBy(*group_cols).orderBy(_VAL)
    cum = hist.withColumn(_CUM, F.sum(_CNT).over(w))
    covers_lo = (F.col(_CUM) > F.col(_LO)) & (F.col(_CUM) - F.col(_CNT) <= F.col(_LO))
    covers_hi = (F.col(_CUM) > F.col(_HI)) & (F.col(_CUM) - F.col(_CNT) <= F.col(_HI))
    return (
        cum.filter(covers_lo | covers_hi)
        .groupBy(*gcols)
        .agg(
            F.min(F.when(covers_lo, F.col(_VAL))).alias(_VLO),
            F.min(F.when(covers_hi, F.col(_VAL))).alias(_VHI),
            F.max(_RN).alias(_RN),
            F.max(_LO).alias(_LO),
        )
        .select(*gcols, _interpolate(out_col))
    )


def percentile_exact_hist(
    df: DataFrame,
    group_cols: list[str],
    value_col: str,
    p: float,
    out_col: str | None = None,
) -> DataFrame:
    """Exact interpolated percentile per group: (group..., out_col).

    Equivalent to ``df.groupBy(*group_cols).agg(percentile(value_col, p))``
    but with the combine work distributed over (group, value) instead
    of concentrated per group. Groups present in ``df`` whose values
    are all NULL are emitted with a NULL percentile, matching the
    builtin aggregate.
    """
    out_col = out_col or f"p{int(p * 100)}_{value_col}"
    gcols = [F.col(c) for c in group_cols]
    v = F.col(value_col).cast("double")

    # Every group that exists in the input, so all-null groups survive
    # to the final left join (count(value) counts non-nulls only).
    groups = df.groupBy(*gcols).agg(F.count(v).alias(_N))
    tot = groups.filter(F.col(_N) > 0).select(
        *gcols,
        ((F.col(_N) - F.lit(1)) * F.lit(float(p))).alias(_RN),
    )
    tot = tot.withColumn(_LO, F.floor(_RN)).withColumn(_HI, F.ceil(_RN))
    hist = (
        df.filter(v.isNotNull())
        .groupBy(*gcols, v.alias(_VAL))
        .agg(F.count(F.lit(1)).alias(_CNT))
        .join(F.broadcast(tot), group_cols)
    )
    bounds = _walk_bounds(hist, group_cols, out_col)
    return groups.select(*gcols).join(bounds, group_cols, "left")


def percentile_exact_refine(
    df: DataFrame,
    group_cols: list[str],
    value_col: str,
    p: float,
    out_col: str | None = None,
    accuracy: int = 10000,
) -> DataFrame:
    """Exact percentile via approx-prune + exact-refine; constant-size tail.

    ``percentile_exact_hist`` still sorts each group's full distinct-
    value domain in one task. This variant bounds that step for LARGE
    groups to a constant independent of cardinality:

    1. One pass computes per-group N and a Greenwald-Khanna
       ``percentile_approx`` at ``p -/+ 3/accuracy``.
    2. For groups with ``N > 2*accuracy``, values outside the
       ``[ap_lo, ap_hi]`` sketch band clamp to a ±infinity sentinel
       BEFORE the histogram ``groupBy(group, value)``. Clamping
       preserves ranks (everything below the band collapses into one
       ordered bucket, likewise above), so the exact cumulative-count
       walk is unchanged — but the histogram holds ~6N/accuracy
       in-band values + 2 sentinels per group (~4k rows per group at
       sf1 defaults), and the per-group sort is O(band), not
       O(distinct values). The margin calculus needs N large: the
       sketch's rank error is <= N/accuracy, the quantile offset buys
       3N/accuracy, so the band overshoots each target ordinal by
       >= 2N/accuracy > 4 ranks — but ONLY once N > 2*accuracy.
    3. Groups at or below ``2*accuracy`` rows skip clamping entirely
       (band = whole domain): their full distinct-value set is at most
       2*accuracy rows — exactly the regime where the plain histogram
       walk is already cheap. Without this cutoff the fixed 3/accuracy
       quantile margin is smaller than one ordinal (1/N) for small
       groups and the band can exclude the interpolation's upper
       value (a silent-inf bug caught by review; regression-tested in
       tests/test_percentiles.py::test_small_near_unique_groups).
    4. The sketch contract is guarded INSIDE the output expression:
       a non-finite interpolation routes to ``raise_error`` in the
       same CASE that produces the column, so the optimizer cannot
       prune the check away (a bare assert_true projection would be
       eliminated by column pruning) and the query fails loudly
       rather than approximating.
    5. Groups that legitimately contain non-finite values (±inf/NaN —
       which would collide with the clamp sentinels and trip the
       guard on a VALID query) are detected in the probe pass and
       routed around the clamp: they keep their full value domain
       (the ``percentile_exact_hist`` regime, so correctness is
       unaffected at the cost of an unbounded histogram for those
       groups only) and the guard is scoped to clamped groups, so a
       genuine ±inf/NaN percentile flows through instead of aborting.

    Both passes are single scans with map-side partial aggregation;
    nothing grows with distinct-value cardinality except the (tiny)
    shuffled band plus the bounded small-group histograms. Used for
    ``distinct_aggregates``'s ``exact_p50`` column (l_extendedprice,
    ~1M distinct values at sf1: builtin 8.2 s → hist 5.5 s → refine
    0.1 s, identical values).
    """
    out_col = out_col or f"p{int(p * 100)}_{value_col}"
    gcols = [F.col(c) for c in group_cols]
    v = F.col(value_col).cast("double")
    q_lo = max(0.0, p - 3.0 / accuracy)
    q_hi = min(1.0, p + 3.0 / accuracy)
    small_cutoff = 2 * accuracy

    nonfinite = F.isnan(v) | (v == F.lit(POS)) | (v == F.lit(NEG))
    probe = df.groupBy(*gcols).agg(
        F.count(v).alias(_N),
        F.percentile_approx(v, F.array(F.lit(q_lo), F.lit(q_hi)), F.lit(accuracy)).alias(
            _APS
        ),
        F.max(F.when(nonfinite, F.lit(1)).otherwise(F.lit(0))).alias(_NF),
    )
    # No clamping for small groups (band = whole domain is already
    # cheap) NOR for groups holding genuine ±inf/NaN values — those
    # would collide with the sentinel buckets and abort a valid query.
    unclamped = (F.col(_N) <= small_cutoff) | (F.col(_NF) == 1)
    thresholds = probe.filter(F.col(_N) > 0).select(
        *gcols,
        ((F.col(_N) - F.lit(1)) * F.lit(float(p))).alias(_RN),
        F.when(unclamped, F.lit(NEG)).otherwise(F.col(_APS)[0]).alias(_APLO),
        F.when(unclamped, F.lit(POS)).otherwise(F.col(_APS)[1]).alias(_APHI),
        (~unclamped).cast("int").alias(_CLAMPED),
    )
    thresholds = thresholds.withColumn(_LO, F.floor(_RN)).withColumn(_HI, F.ceil(_RN))

    clamped = (
        df.filter(v.isNotNull())
        .join(F.broadcast(thresholds), group_cols)
        .select(
            *gcols,
            _RN,
            _LO,
            _HI,
            _CLAMPED,
            # non-finite values pass through untouched: they only exist
            # in unclamped groups (clamped groups proved all-finite in
            # the probe), and Spark's "NaN > +inf" ordering would
            # otherwise fold a genuine NaN into the POS sentinel
            F.when(nonfinite, v)
            .when(v < F.col(_APLO), F.lit(NEG))
            .when(v > F.col(_APHI), F.lit(POS))
            .otherwise(v)
            .alias(_VAL),
        )
    )
    hist = clamped.groupBy(*gcols, _RN, _LO, _HI, _CLAMPED, _VAL).agg(
        F.count(F.lit(1)).alias(_CNT)
    )
    # _CLAMPED is constant per group, so riding it through the walk as
    # an extra group key costs nothing — and avoids re-joining
    # thresholds (whose lineage re-runs the whole probe aggregation)
    # just to recover the flag.
    bounds = _walk_bounds(hist, group_cols + [_CLAMPED], f"__raw_{out_col}")
    # Sketch-contract guard fused into the output column itself (cannot
    # be pruned): a target ordinal inside a sentinel bucket yields ±inf
    # or NaN and the query fails loudly instead of approximating. Scoped
    # to clamped groups — unclamped ones have no sentinels, so their
    # non-finite results are real data, not band misses.
    raw = F.col(f"__raw_{out_col}")
    ok = (
        raw.isNull()
        | (F.col(_CLAMPED) == 0)
        | (~F.isnan(raw) & (raw > F.lit(NEG)) & (raw < F.lit(POS)))
    )
    guarded = F.when(ok, raw).otherwise(
        F.raise_error(F.lit("percentile_exact_refine: sketch band missed the target ordinal")).cast(
            "double"
        )
    )
    bounds = bounds.select(*gcols, guarded.alias(out_col))
    return probe.select(*gcols).join(bounds, group_cols, "left")


def group_drift(
    df: DataFrame,
    group_cols: list[str],
    score: Column,
    deciles: tuple[float, ...] = (0.1, 0.2, 0.3, 0.4, 0.5, 0.6, 0.7, 0.8, 0.9),
) -> DataFrame:
    """Per-group DISTRIBUTION-DRIFT report: ``(group..., drift)`` where
    drift = max_i |Q_g(p_i) − Q(p_i)| — the discrete Kolmogorov–
    Smirnov-style distance between each group's score quantiles and the
    corpus-global ones, evaluated at the decile grid.

    The pipeline-monitoring primitive: a source whose quality
    distribution walks away from the corpus (crawler regression,
    boilerplate flood, spam injection) shows a rising drift long before
    aggregate means move. Exact percentiles on 4-dp-rounded scores keep
    the interpolation engine-exact (the quality_stratified_sample
    contract), so the whole report replays in DuckDB
    (oracle-checked in ``text_token_fingerprints``).

    Shape at scale: one groupBy percentile aggregate (#groups rows),
    one global percentile row broadcast in via crossJoin — two passes
    over the score projection, zero data shuffles beyond the group agg.
    """
    levels = ", ".join(repr(p) for p in deciles)
    scored = df.select(*group_cols, score.alias("_q"))
    g = scored.groupBy(*group_cols).agg(
        F.expr(f"percentile(_q, array({levels}))").alias("_gq")
    )
    glob = scored.agg(F.expr(f"percentile(_q, array({levels}))").alias("_bq"))
    diff = F.array_max(
        F.zip_with(F.col("_gq"), F.col("_bq"), lambda a, b: F.abs(a - b))
    )
    return g.crossJoin(F.broadcast(glob)).select(
        *group_cols, F.round(diff + 1e-9, 4).alias("drift")
    )
