"""Extended join operators: as-of join and skew-aware joins.

Spark has no native as-of join (SURVEY's operator-gap list; the
reference has none either — this is beyond-reference pipeline
capability, the time-series join every feature pipeline needs).

**As-of join, union+window formulation** (single shuffle, no range
explosion): tag left and right rows, union on (key, ts), sort within
key, carry the latest right payload forward with ``last(ignorenulls)``
over an unbounded-preceding window, keep left rows. Cost = one shuffle
on the key + one in-partition sort — the same shape at 100 TB, and
skew-safe under AQE. The alternative (range-bucketed equi-join) wins
only when one side is tiny; ``merge_asof`` via ``applyInPandas`` is
kept out of the hot path deliberately.

**Salted join/aggregate**: explicit skew mitigation for hot keys —
salt the hot side N ways, explode the build side N ways, join on
(key, salt). AQE's skew-join handles moderate skew automatically;
salting is for the pathological key that dwarfs a partition.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import Window as W
from pyspark.sql import functions as F


def asof_join(
    left: DataFrame,
    right: DataFrame,
    on: str,
    left_ts: str,
    right_ts: str,
    right_cols: list[str] | None = None,
    suffix: str = "_right",
) -> DataFrame:
    """Backward as-of join: latest right row with right_ts <= left_ts per key.

    Returns all left rows/columns plus ``{right_col}{suffix}`` columns
    (and ``{right_ts}{suffix}``), NULL when no prior right row exists.
    """
    right_cols = right_cols or [c for c in right.columns if c not in (on, right_ts)]
    # The whole right payload travels as ONE struct so last(ignorenulls)
    # carries complete rows: per-column carries would backfill a NULL
    # field of the newest right row from an older row, synthesizing a
    # blended row no input contained (diverging from ASOF semantics).
    payload = F.struct(F.col(right_ts).alias("__rts"), *[F.col(c) for c in right_cols])
    # Equi-join semantics: NULL keys never match, including NULL = NULL.
    # Without this filter the window (partitioned by key) would group
    # NULL-key left rows with NULL-key right rows and carry a payload no
    # ASOF join would produce; dropping NULL-key right rows up front makes
    # NULL-key left rows come out with a NULL payload.
    right = right.filter(F.col(on).isNotNull())
    rt = right.select(
        F.col(on),
        F.col(right_ts).alias("__ts"),
        F.lit(0).alias("__side"),
        payload.alias("__r"),
        *[F.lit(None).cast(left.schema[c].dataType).alias(c) for c in left.columns if c != on],
    )
    lt = left.select(
        on,
        F.col(left_ts).alias("__ts"),
        F.lit(1).alias("__side"),
        F.lit(None).cast(rt.schema["__r"].dataType).alias("__r"),
        *[c for c in left.columns if c != on],
    )
    unioned = lt.unionByName(rt)
    # Right rows (side=0) sort before left rows at equal ts => "<=" semantics.
    w = (
        W.partitionBy(on)
        .orderBy("__ts", "__side")
        .rowsBetween(W.unboundedPreceding, W.currentRow)
    )
    carried = unioned.withColumn("__match", F.last("__r", ignorenulls=True).over(w))
    return carried.filter(F.col("__side") == 1).select(
        on,
        *[c for c in left.columns if c != on],
        *[F.col("__match").getField(c).alias(f"{c}{suffix}") for c in right_cols],
        F.col("__match").getField("__rts").alias(f"{right_ts}{suffix}"),
    )


def salted_join(
    big: DataFrame,
    small: DataFrame,
    on: str,
    salt_buckets: int = 16,
    how: str = "inner",
) -> DataFrame:
    """Equi-join with the big (skewed) side salted ``salt_buckets`` ways.

    The small side is exploded xN so every (key, salt) bucket finds its
    match; hot keys spread across ``salt_buckets`` tasks instead of one.
    Only inner/left joins are valid: an outer join would emit unmatched
    small-side rows once per salt bucket.
    """
    if how not in ("inner", "left", "left_outer", "leftouter"):
        raise ValueError(f"salted_join supports inner/left joins only, got {how!r}")
    big_s = big.withColumn("__salt", (F.rand(seed=42) * salt_buckets).cast("int"))
    small_s = small.withColumn(
        "__salt", F.explode(F.sequence(F.lit(0), F.lit(salt_buckets - 1)))
    )
    out = big_s.join(small_s, [on, "__salt"], how)
    return out.drop("__salt")


def salted_aggregate(
    df: DataFrame,
    key: str,
    agg_exprs: dict[str, str],
    salt_buckets: int = 16,
) -> DataFrame:
    """Two-stage aggregation through a salted intermediate key.

    Stage 1 aggregates on (key, salt) — hot keys split across tasks;
    stage 2 merges the partials. Supported agg_exprs values: sum, count,
    min, max (re-aggregable functions only).
    """
    mergers = {"sum": F.sum, "count": F.sum, "min": F.min, "max": F.max}
    firsts = {"sum": F.sum, "count": F.count, "min": F.min, "max": F.max}
    for fn in agg_exprs.values():
        if fn not in mergers:
            raise ValueError(f"non-re-aggregable function {fn!r}")
    salted = df.withColumn("__salt", (F.rand(seed=42) * salt_buckets).cast("int"))
    stage1 = salted.groupBy(key, "__salt").agg(
        *[firsts[fn](c).alias(f"__p_{c}") for c, fn in agg_exprs.items()]
    )
    return stage1.groupBy(key).agg(
        *[mergers[fn](f"__p_{c}").alias(f"{fn}_{c}") for c, fn in agg_exprs.items()]
    )


def skew_report(df: DataFrame, key: str) -> DataFrame:
    """Pre-flight skew diagnostic for a shuffle key: one row per metric.

    The question every 100 TB groupBy/join plan review asks first —
    "how hot is the hottest key?" — answered as a relation:
    ``(metric, val)`` with n_keys, max_count, mean_count, p99_count,
    max_over_mean (the skew factor), and suggested_salt =
    ceil(max/mean), the bucket count that levels the hottest key down
    to roughly average task load (the salting heuristic
    ``salted_aggregate`` consumes). Exact percentile runs on integer
    counts, where linear interpolation midpoints are IEEE-exact — the
    repo's engine-portability convention for oracle-checked quantiles.

    Plan: one map-side-combining count aggregate on the key + a
    single-row summary aggregate — the same cost class as the groupBy
    being diagnosed, so running it first is never the bottleneck.
    """
    counts = df.groupBy(key).agg(F.count(F.lit(1)).alias("cnt"))
    s = counts.agg(
        F.count(F.lit(1)).cast("double").alias("n_keys"),
        F.max("cnt").cast("double").alias("max_count"),
        F.avg("cnt").alias("mean_count"),
        F.expr("percentile(cnt, 0.99)").alias("p99_count"),
    ).select(
        "n_keys",
        "max_count",
        F.round(F.col("mean_count") + 1e-9, 4).alias("mean_count"),
        F.round(F.col("p99_count") + 1e-9, 4).alias("p99_count"),
        F.round(F.col("max_count") / F.col("mean_count") + 1e-9, 4).alias(
            "max_over_mean"
        ),
        F.ceil(F.col("max_count") / F.col("mean_count")).cast("double").alias(
            "suggested_salt"
        ),
    )
    metrics = [
        "n_keys",
        "max_count",
        "mean_count",
        "p99_count",
        "max_over_mean",
        "suggested_salt",
    ]
    # unpivot to (metric, val) rows — stack is a projection, no shuffle
    return s.select(
        F.expr(
            "stack({}, {})".format(
                len(metrics), ", ".join(f"'{m}', {m}" for m in metrics)
            )
        ).alias("metric", "val")
    )


def fuzzy_best_match(
    queries: DataFrame,
    corpus: DataFrame,
    q_text: str,
    c_key: str,
    c_text: str,
    max_distance: int = 2,
    len_band: int = 2,
) -> DataFrame:
    """Blocked fuzzy (edit-distance) entity resolution: for every query
    string, the best-matching corpus row within ``max_distance`` edits.

    Returns one row per DISTINCT query string: ``(q_text, keep_id,
    n_copies)`` where ``keep_id`` is the matched ``c_key`` (minimum
    distance, ties broken by smallest key — an order-free
    ``min(struct)``, no window sort) and ``n_copies`` counts ALL corpus
    rows within the threshold; unmatched queries survive with NULL
    keep_id and n_copies = 0 (a silent drop would hide dirty rows).

    BLOCKING is the scale lever: candidate pairs require equal first
    characters and lengths within ``len_band`` — the standard
    equi-key + band predicate that turns an all-pairs O(|Q|·|C|)
    comparison into per-block work. The query side (a cleanup
    worklist / dirty catalog — small by construction) BROADCASTS, so
    the corpus scans exactly once with no shuffle; at 100 TB the
    corpus side stays embarrassingly parallel. The broadcast rides the
    repo's shared model budget (``_MODEL_BROADCAST_MAX_ROWS``, one
    budget-bounded ``limit(budget+1).count()`` probe on the distinct
    query relation — round 13): a query side above budget
    RAISES instead of silently risking executor memory — the only
    non-broadcast fallback is a shuffle on the first-character block
    key (≤ |alphabet| distinct values, pathological skew), which a
    caller must opt into deliberately by splitting the worklist or
    choosing a finer blocking key, not get by accident. Blocking
    trades recall for the comparison bound (a typo in the first
    character escapes the block) — production stacks run multiple
    redundant blocking keys; this operator keeps one for a
    deterministic, oracle-checkable contract.

    Distances are ``levenshtein`` on ASCII inputs only: Spark counts
    codepoints, DuckDB counts BYTES, so non-ASCII text diverges
    between the engines (documented engine gotcha; the differential
    corpus is ASCII).
    """
    from .text import _MODEL_BROADCAST_MAX_ROWS  # shared model budget

    if max_distance < 0 or len_band < 0:
        raise ValueError("max_distance and len_band must be >= 0")
    q = queries.select(F.col(q_text).alias("_qt")).distinct()
    # Bounded budget probe: LIMIT budget+1 short-circuits the count as
    # soon as the budget is provably exceeded, so the guard costs one
    # budget-bounded job instead of a full evaluation of the (possibly
    # derived) query relation — the same extra-pass shape removed from
    # banded_range_join in round 12.
    n_probe = q.limit(_MODEL_BROADCAST_MAX_ROWS + 1).count()
    if n_probe > _MODEL_BROADCAST_MAX_ROWS:
        raise ValueError(
            f"fuzzy_best_match: more than {_MODEL_BROADCAST_MAX_ROWS} "
            "distinct query strings exceed the broadcast budget. The non-broadcast "
            "fallback would shuffle both sides on the first-character "
            "block key (<= |alphabet| distinct values — pathological "
            "skew), so it is not applied silently: split the query "
            "worklist into budget-sized batches, or block on a finer "
            "key before matching."
        )
    c = corpus.select(F.col(c_key).alias("_ck"), F.col(c_text).alias("_ct"))
    dist = F.levenshtein(F.col("_qt"), F.col("_ct"))
    cond = (
        (F.substring("_qt", 1, 1) == F.substring("_ct", 1, 1))
        & (F.abs(F.length("_qt") - F.length("_ct")) <= F.lit(len_band))
        & (dist <= F.lit(max_distance))
    )
    hits = (
        F.broadcast(q)
        .join(c, cond, "inner")
        .groupBy("_qt")
        .agg(
            F.count(F.lit(1)).alias("n_copies"),
            F.min(F.struct(dist.alias("_d"), F.col("_ck").alias("_k"))).alias("_best"),
        )
    )
    return (
        q.join(hits, "_qt", "left")
        .select(
            F.col("_qt").alias(q_text),
            F.col("_best._k").alias("keep_id"),
            F.coalesce(F.col("n_copies"), F.lit(0).cast("long")).alias("n_copies"),
        )
    )


def banded_range_join(
    points: DataFrame,
    intervals: DataFrame,
    point_ts: str,
    start_ts: str,
    end_ts: str,
    band_micros: int,
    validate: bool = False,
) -> DataFrame:
    """Range (interval) join without the cartesian trap: match every
    point row to every interval row with ``start <= ts <= end``.

    Naive ``ON ts BETWEEN start AND end`` has no equi-key, so Spark
    plans a broadcast-nested-loop / cartesian — O(|P|·|I|) comparisons
    that no cluster survives. The standard fix is BANDING: bucket time
    into ``band_micros``-wide bands, give each point its single band,
    EXPLODE each interval across the (few) bands it spans, equi-join
    on the band, and keep the range predicate as a residual filter.
    Cost: one shuffle keyed by band on each side, and each point meets
    only intervals overlapping its band. A point's band is unique, so
    no pair can match twice — no dedup pass. Choose ``band_micros``
    near the typical interval length: each interval then spans ≤ 2
    bands (the explode factor), the per-band population bounds the
    residual work, and a hot band is ordinary key skew that AQE
    handles.

    Inputs must be pre-aliased to collision-free column names; the
    output carries all columns of both sides. Intervals with
    ``end < start`` always FAIL LOUDLY — ``F.sequence`` would silently
    generate a DESCENDING band list for them, turning a data bug into
    wrong join results. By default the check is a raising expression
    (``assert_true``) folded into the band computation, so the
    interval side is scanned exactly ONCE and a malformed row aborts
    the job at execution time; ``validate=True`` additionally runs an
    eager pre-flight count that raises ``ValueError`` BEFORE the join
    executes (one extra pass over the interval side — a debugging
    convenience, never the at-scale default). NULL start/end rows
    drop in both modes (an unbounded interval is not representable;
    callers coalesce to sentinels if they mean ±infinity).

    The range axis generalizes beyond time: timestamp columns band on
    epoch micros; DATE columns band on epoch DAY numbers
    (``unix_date`` — Spark 4 disallows a direct DATE→BIGINT cast), so
    ``band_micros`` is read in days on a date axis; integral columns
    (IP ranges, byte offsets, genomic coordinates) band on their own
    values with ``band_micros`` read as plain band width. All three
    range columns must share one axis kind — a date side banding on
    days against a timestamp side banding on micros joins incomparable
    scales, so a kind mismatch raises ``ValueError`` at plan time
    (round 13; previously only each column's type was checked
    independently).
    """
    if band_micros <= 0:
        raise ValueError(f"band_micros must be > 0, got {band_micros}")

    def axis(df: DataFrame, name: str):
        """Map a range column to (numeric axis expression, axis KIND).

        The kind — 'micros' (timestamps), 'days' (dates), 'raw'
        (integrals) — travels with the expression so the point side and
        the interval side can be checked for agreement: a DATE point
        against TIMESTAMP intervals would band days against micros and
        silently return wrong (likely empty) results.
        """
        dt = df.schema[name].dataType.simpleString()
        if "timestamp" in dt:
            return F.unix_micros(F.col(name).cast("timestamp")), "micros"
        if dt == "date":
            # Spark 4 rejects DATE→BIGINT casts (DATATYPE_MISMATCH);
            # band on epoch-day numbers instead — band_micros is a
            # band width in DAYS on a date axis.
            return F.unix_date(F.col(name)), "days"
        if dt in ("tinyint", "smallint", "int", "bigint", "long"):
            return F.col(name).cast("long"), "raw"
        raise ValueError(
            f"range column {name!r} must be a timestamp, date, or integral "
            f"type, got {dt}"
        )

    def floor_div(col, n):
        # Exact floor division on longs: col - pmod(col, n) is the
        # floor multiple (pmod is non-negative), and the quotient is
        # exact in double for |col| < 2^53 — epoch micros until year
        # 2255. Truncating `DIV` would mis-band pre-epoch timestamps.
        return ((col - F.pmod(col, F.lit(n))) / F.lit(n)).cast("long")

    s_us, s_kind = axis(intervals, start_ts)
    e_us, e_kind = axis(intervals, end_ts)
    p_probe, p_kind = axis(points, point_ts)
    if not (s_kind == e_kind == p_kind):
        raise ValueError(
            "banded_range_join: range columns must share one axis kind; "
            f"got point {point_ts!r}={p_kind}, start {start_ts!r}={s_kind}, "
            f"end {end_ts!r}={e_kind}. A date axis bands on epoch DAYS and "
            "a timestamp axis on epoch MICROS — mixing them joins "
            "incomparable scales. Cast both sides to one type first."
        )
    if validate:
        # Eager pre-flight: one EXTRA pass over the interval side, so a
        # data bug raises ValueError before any join work. Debug mode.
        n_bad = intervals.filter(e_us < s_us).count()
        if n_bad:
            raise ValueError(f"{n_bad} interval rows have end < start")
    p_us = p_probe
    p = points.withColumn("_pband", floor_div(p_us, band_micros))
    # Zero-extra-pass guard, fused into the single interval scan:
    # assert_true yields NULL when the row is well-formed (or has NULL
    # bounds — those drop via the NULL sequence, matching equi-join
    # NULL semantics) and aborts the job otherwise. Adding the
    # always-NULL guard into the band start keeps it un-prunable by
    # the optimizer without changing the band arithmetic.
    well_formed = s_us.isNull() | e_us.isNull() | (e_us >= s_us)
    guard = F.assert_true(
        well_formed,
        F.format_string(
            f"banded_range_join: interval end < start ({end_ts}=%s < "
            f"{start_ts}=%s)",
            e_us.cast("string"),
            s_us.cast("string"),
        ),
    )
    band_lo = floor_div(s_us, band_micros) + F.coalesce(
        guard.cast("long"), F.lit(0)
    )
    iv = intervals.withColumn(
        "_iband",
        F.explode(F.sequence(band_lo, floor_div(e_us, band_micros))),
    )
    joined = p.join(
        iv,
        (F.col("_pband") == F.col("_iband")) & (p_us >= s_us) & (p_us <= e_us),
        "inner",
    )
    return joined.drop("_pband", "_iband")
