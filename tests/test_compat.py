"""DataFusion SQL-dialect compatibility shim (functions/compat.py).

A user of the reference brings queries written against DataFusion's
default function registry (extensions/builder.rs:192); these tests run
that surface through the SQL frontend and check semantics against
DuckDB (which shares most of the names) or exact expected values.
"""

from __future__ import annotations

import hashlib

import pytest

from datafusion_dft_spark.catalog import register_views
from datafusion_dft_spark.functions.compat import rewrite_function_names
from datafusion_dft_spark.sql import execute_sql


@pytest.fixture(scope="module", autouse=True)
def _views(spark, sf_dir):
    register_views(spark, sf_dir)


def _one(spark, sql):
    return execute_sql(spark, sql)[-1].collect()[0]


def test_rename_rewrite_text():
    out = rewrite_function_names(
        "SELECT make_array(1), ARRAY_HAS(a, 1), arrow_typeof(x), "
        "starts_with(s, 'a'), to_timestamp_seconds(9), today()"
    )
    assert out == (
        "SELECT array(1), array_contains(a, 1), typeof(x), "
        "startswith(s, 'a'), timestamp_seconds(9), current_date()"
    )
    # non-calls and prefixed names stay untouched
    assert rewrite_function_names("SELECT my_random(1), random_x, random") == (
        "SELECT my_random(1), random_x, random"
    )


def test_strpos_differential(spark, duckcon):
    q = "SELECT n_name, strpos(n_name, 'N_1') AS p FROM nation"
    got = {(r.n_name, r.p) for r in execute_sql(spark, q)[-1].collect()}
    want = {tuple(r) for r in duckcon.sql(q).fetchall()}
    assert got == want
    assert any(p > 0 for _, p in got) and any(p == 0 for _, p in got)


@pytest.mark.parametrize(
    "interval,seconds",
    [("INTERVAL '15' MINUTE", 900), ("INTERVAL '1' HOUR", 3600), ("INTERVAL '90' SECOND", 90)],
)
def test_date_bin_differential(spark, duckcon, interval, seconds):
    """date_bin floors to epoch-aligned buckets (DataFusion's 2-arg
    default origin), including pre-epoch timestamps — oracle is exact
    epoch arithmetic in DuckDB over the events corpus plus a pinned
    pre-epoch literal."""
    got = {
        r.b
        for r in execute_sql(
            spark,
            f"SELECT date_bin({interval}, ts) AS b FROM events "
            f"UNION ALL SELECT date_bin({interval}, TIMESTAMP '1969-12-31 22:31:07')",
        )[-1].collect()
    }
    want = {
        r[0]
        for r in duckcon.sql(
            f"SELECT to_timestamp(floor(epoch(ts) / {seconds}) * {seconds})::TIMESTAMP AS b FROM events "
            f"UNION ALL SELECT to_timestamp(floor(epoch(TIMESTAMP '1969-12-31 22:31:07') / {seconds}) * {seconds})::TIMESTAMP"
        ).fetchall()
    }
    assert got == want


def test_array_renames(spark):
    r = _one(
        spark,
        "SELECT make_array(1, 2, 3) AS a, array_has(make_array(1, 2), 2) AS h, "
        "array_to_string(make_array('a', 'b'), '-') AS s, "
        "array_length(make_array(1, 2, 3)) AS n, "
        "array_concat(make_array(1), make_array(2)) AS c, "
        "array_has_any(make_array(1, 2), make_array(2, 9)) AS o, "
        "generate_series(1, 4) AS g",
    )
    assert r.a == [1, 2, 3] and r.h is True and r.s == "a-b"
    assert r.n == 3 and r.c == [1, 2] and r.o is True and r.g == [1, 2, 3, 4]


def test_digest_matches_hashlib(spark):
    for algo in ("md5", "sha224", "sha256", "sha384", "sha512"):
        r = _one(spark, f"SELECT digest('datafusion', '{algo}') AS d")
        assert r.d == getattr(hashlib, algo)(b"datafusion").digest()
    with pytest.raises(Exception, match="unsupported algorithm"):
        _one(spark, "SELECT digest('x', 'crc32') AS d")


def test_timestamp_and_misc(spark):
    r = _one(
        spark,
        "SELECT to_timestamp_seconds(60) AS ts, to_unixtime(to_timestamp_seconds(60)) AS u, "
        "to_timestamp_millis(1500) AS tm, to_timestamp_micros(1500000) AS tu, "
        "arrow_typeof(1.5) AS t, to_hex(255) AS h, today() = current_date() AS today_ok",
    )
    assert r.u == 60 and r.ts.minute == 1
    assert r.tm == r.tu  # 1500 ms == 1500000 us
    # to_hex is LOWERCASE in DataFusion (Spark's hex is upper — a SQL
    # UDF carries the reference semantics, not a rename)
    assert "decimal" in r.t and r.h == "ff" and r.today_ok is True
    # starts_with / ends_with / random() resolve
    r2 = _one(
        spark,
        "SELECT starts_with('spark', 'sp') AS a, ends_with('spark', 'rk') AS b, "
        "random() >= 0 AS c",
    )
    assert r2.a is True and r2.b is True and r2.c is True


def test_compat_functions_visible_in_information_schema(spark):
    """The dialect shim's SQL UDFs surface in information_schema.routines
    like every other registered function (the reference exposes its
    registry via routines, src/db.rs:195-196)."""
    rows = execute_sql(
        spark,
        "SELECT routine_name, function_type FROM information_schema.routines "
        "WHERE routine_name IN ('strpos', 'date_bin', 'digest', 'to_unixtime')",
    )[-1].collect()
    assert {r.routine_name for r in rows} == {"strpos", "date_bin", "digest", "to_unixtime"}
    assert all(r.function_type == "SCALAR" for r in rows)


def test_epoch_extract_differential(spark, duckcon):
    """extract(epoch FROM x) / date_part('epoch', x): fractional-second
    doubles in DataFusion and DuckDB; Spark has no epoch field, so the
    shim rewrites to exact micros arithmetic — nested calls and DATE
    inputs included (balanced-paren scan, not a [^)]* regex)."""
    q = (
        "SELECT event_id, extract(epoch FROM ts) AS e, "
        "date_part('epoch', date_trunc('day', ts)) AS d "
        "FROM events WHERE event_id % 97 = 0"
    )
    got = {(r.event_id, round(r.e, 6), round(r.d, 6)) for r in execute_sql(spark, q)[-1].collect()}
    want = {(r[0], round(r[1], 6), round(r[2], 6)) for r in duckcon.sql(q).fetchall()}
    assert got == want and got
    # pre-epoch + DATE input
    r = _one(
        spark,
        "SELECT extract(epoch FROM TIMESTAMP '1969-12-31 23:59:00') AS neg, "
        "extract(epoch FROM DATE '1970-01-02') AS d",
    )
    assert r.neg == -60.0 and r.d == 86400.0


def test_rewrites_never_touch_literals_or_comments():
    """Rewrite tokens inside string literals or comments are DATA: the
    epoch rewrite must neither crash (unbalanced-paren on a literal
    without a closing paren) nor rewrite literal text, and renames must
    leave literals alone too."""
    s1 = "SELECT 'see extract(epoch FROM ts here' AS note"
    assert rewrite_function_names(s1) == s1  # no crash, no change
    s2 = "SELECT 'call was extract(epoch FROM ts)' AS note"
    assert rewrite_function_names(s2) == s2  # literal NOT rewritten
    s3 = "SELECT 1 /* extract(epoch FROM ts */ AS x"
    assert rewrite_function_names(s3) == s3
    s4 = "SELECT 'make_array(1)' AS lit, make_array(1) AS real"
    assert rewrite_function_names(s4) == "SELECT 'make_array(1)' AS lit, array(1) AS real"
    # real call AFTER a literal still rewrites
    s5 = "SELECT 'x' AS a, extract(epoch FROM ts) AS e FROM t"
    out = rewrite_function_names(s5)
    assert "unix_micros" in out and "'x'" in out


def test_view_column_alias_list_rewrite(spark):
    """CREATE VIEW v (a, b) AS SELECT <unaliased exprs> — the SQL
    standard / DataFusion form the reference's Q15 uses. Spark refuses
    permanent views with ANY unaliased output expression (and the check
    recurses through subquery column-alias lists), so the shim splices
    the aliases into the innermost SELECT list itself."""
    from datafusion_dft_spark.sql import (
        _rewrite_view_column_aliases,
        execute_sql,
    )

    out = _rewrite_view_column_aliases(
        "create view v0 (a, total) as select id, sum(id * (1 - id)) "
        "from range(5) group by id"
    )
    assert "(id) AS `a`" in out and "(sum(id * (1 - id))) AS `total`" in out
    # multiplication inside an item must NOT be mistaken for a star
    assert "view column list" not in out

    # end-to-end: permanent view in a database, queried, dropped
    spark.sql("CREATE DATABASE IF NOT EXISTS viewtest")
    prev = spark.catalog.currentDatabase()
    spark.catalog.setCurrentDatabase("viewtest")
    try:
        execute_sql(
            spark,
            "create view rev0 (k, total) as select id % 2, sum(id) "
            "from range(10) group by id % 2; ",
        )
        rows = {r.k: r.total for r in spark.sql("SELECT * FROM rev0").collect()}
        assert rows == {0: 20, 1: 25}
    finally:
        spark.sql("DROP VIEW IF EXISTS rev0")
        spark.catalog.setCurrentDatabase(prev)

    # statements without a column list pass through untouched
    same = "create view v1 as select 1 AS x"
    assert _rewrite_view_column_aliases(same) == same
    # star projections pass through — Spark aliases them from the
    # column list natively (positional, after * expansion)
    star = "create view v3 (a, b) as select * from startab"
    assert _rewrite_view_column_aliases(star) == star
    star_q = "create view v4 (a, b) as select t.* from startab t"
    assert _rewrite_view_column_aliases(star_q) == star_q
    # a -- line comment bails the rewrite (parenthesizing an item that
    # ends in a line comment would swallow the closing paren)
    cmt = "create view v5 (a) as select id -- c\n from range(3)"
    assert _rewrite_view_column_aliases(cmt) == cmt
    # comma/FROM inside a literal never splits items
    lit = _rewrite_view_column_aliases(
        "create view v6 (a, b) as select 'x, from y', id from range(3)"
    )
    assert "('x, from y') AS `a`" in lit and "(id) AS `b`" in lit
    # mismatched arity fails loudly
    import pytest as _pytest

    with _pytest.raises(ValueError, match="column list has 1"):
        _rewrite_view_column_aliases(
            "create view v2 (a) as select id, id+1 from range(3)"
        )


def test_star_exclude_rewrite(spark):
    """DataFusion's `* EXCLUDE` wildcard option maps onto Spark 4's
    native `* EXCEPT` — parenthesized and bare single-column forms,
    qualified stars, literals untouched."""
    assert (
        rewrite_function_names("SELECT * EXCLUDE (b, c) FROM t")
        == "SELECT * EXCEPT (b, c) FROM t"
    )
    assert (
        rewrite_function_names("SELECT t.* exclude b FROM t")
        == "SELECT t.* EXCEPT (b) FROM t"
    )
    assert (
        rewrite_function_names("SELECT '* EXCLUDE (b)' AS s, * EXCLUDE(b) FROM t")
        == "SELECT '* EXCLUDE (b)' AS s, * EXCEPT(b) FROM t"
    )
    # EXCLUDE as a plain identifier (no star prefix) is untouched
    assert (
        rewrite_function_names("SELECT exclude FROM t") == "SELECT exclude FROM t"
    )
    # end-to-end through the frontend
    from datafusion_dft_spark.sql import prepare_statement

    spark.range(3).selectExpr("id", "id*2 AS b", "id*3 AS c").createOrReplaceTempView(
        "excl_t"
    )
    got = spark.sql(prepare_statement(spark, "SELECT * EXCLUDE (b) FROM excl_t"))
    assert got.columns == ["id", "c"]
    got2 = spark.sql(prepare_statement(spark, "SELECT excl_t.* EXCLUDE c FROM excl_t"))
    assert got2.columns == ["id", "b"]


def test_unnest_rename_both_positions(spark, duckcon):
    """DataFusion `unnest` -> Spark `explode`, in the select list and as
    a FROM-clause table function; differential vs DuckDB's unnest."""
    got = [
        r[0]
        for r in spark.sql(
            rewrite_function_names("SELECT unnest(array(1, 2, 3)) AS v")
        ).collect()
    ]
    got_tvf = [
        r[0]
        for r in spark.sql(
            rewrite_function_names("SELECT * FROM unnest(array(4, 5))")
        ).collect()
    ]
    want = [r[0] for r in duckcon.sql("SELECT unnest([1, 2, 3]) AS v").fetchall()]
    assert got == want == [1, 2, 3]
    assert got_tvf == [4, 5]


def test_array_family_renames_differential(spark, duckcon):
    """The r9 array/string rename additions, differentially vs DuckDB
    (which speaks the DataFusion-style list_* names natively)."""
    cases = [
        # (DataFusion spelling, DuckDB equivalent)
        ("SELECT array_element(array(10, 20, 30), 2) AS v", "SELECT list_element([10, 20, 30], 2) AS v"),
        ("SELECT list_element(array(10, 20), 9) AS v", "SELECT NULL AS v"),  # OOB -> NULL
        ("SELECT list_append(array(1, 2), 3) AS v", "SELECT list_append([1, 2], 3) AS v"),
        ("SELECT list_sort(array(3, 1, 2)) AS v", "SELECT list_sort([3, 1, 2]) AS v"),
        ("SELECT array_reverse(array(1, 2, 3)) AS v", "SELECT list_reverse([1, 2, 3]) AS v"),
        ("SELECT list_distinct(array(1, 1, 2)) AS v", "SELECT list_sort(list_distinct([1, 1, 2])) AS v"),
        ("SELECT substr_index('a.b.c', '.', 2) AS v", "SELECT 'a.b' AS v"),
    ]
    for df_sql, duck_sql in cases:
        got = spark.sql(rewrite_function_names(df_sql)).collect()[0][0]
        want = duckcon.sql(duck_sql).fetchall()[0][0]
        assert got == want, (df_sql, got, want)


def test_non_carryable_array_fns_fail_loudly(spark):
    """array_slice/pop_back/pop_front stay unresolved (generic SQL UDFs
    are inexpressible) — loud failure, never a silent approximation."""
    import pytest

    for q in (
        "SELECT array_slice(array(1,2,3), 1, 2)",
        "SELECT array_pop_back(array(1,2,3))",
    ):
        with pytest.raises(Exception, match="UNRESOLVED_ROUTINE"):
            spark.sql(rewrite_function_names(q)).collect()


def test_approx_aggregate_renames(spark, duckcon):
    """approx_distinct / approx_median / approx_percentile_cont carry
    onto Spark's approx family; values checked within tolerance of the
    DuckDB exact answers (approx functions, exact tolerances)."""
    spark.range(1000).selectExpr("id", "cast(id as double) d").createOrReplaceTempView(
        "apx_t"
    )
    q = rewrite_function_names(
        "SELECT approx_distinct(id) AS nd, approx_median(d) AS md, "
        "approx_percentile_cont(d, 0.9) AS p90 FROM apx_t"
    )
    nd, md, p90 = spark.sql(q).collect()[0]
    assert abs(nd - 1000) <= 50
    assert abs(md - 499.5) <= 25
    assert abs(p90 - 899.1) <= 25
    # nested parens + literal safety of the structural rewrite
    assert rewrite_function_names(
        "SELECT approx_median(least(d, 1.0)) FROM t WHERE s <> 'approx_median(x)'"
    ) == "SELECT approx_percentile(least(d, 1.0), 0.5D) FROM t WHERE s <> 'approx_median(x)'"


def test_to_char_and_sha_family(spark, duckcon):
    """to_char's strftime subset translates to date_format; the bare
    sha* family returns BINARY like DataFusion; iszero carries."""
    got = spark.sql(
        rewrite_function_names(
            "SELECT to_char(DATE'2024-01-05', '%Y-%m') AS ym, "
            "to_char(TIMESTAMP'2024-01-05 13:07:09', '%Y-%m-%dT%H:%M:%S') AS iso, "
            "to_char(DATE'2024-01-05', '%d/%b/%Y') AS dmy, "
            "hex(sha256('x')) AS h, iszero(0.0) AS z, iszero(0.1) AS nz"
        )
    ).collect()[0]
    assert got.ym == "2024-01"
    assert got.iso == "2024-01-05T13:07:09"
    assert got.dmy == "05/Jan/2024"
    # DuckDB computes the same digest independently
    want = duckcon.sql("SELECT upper(sha256('x'))").fetchall()[0][0]
    assert got.h == want
    assert got.z is True and got.nz is False
    # uncarried token (%s epoch) or non-literal format: left unresolved
    assert "to_char" in rewrite_function_names("SELECT to_char(d, '%s') FROM t")
    assert "to_char" in rewrite_function_names("SELECT to_char(d, fmt_col) FROM t")
    # %G/%V would map onto Java's banned week-based letters (Y/w) and
    # %e's space-padding has no Java equivalent — all three must stay
    # unresolved rather than throw confusing runtime errors / silently
    # mis-pad (ADVICE r9)
    for tok in ("%G", "%V", "%e"):
        assert "to_char" in rewrite_function_names(
            f"SELECT to_char(d, '{tok}') FROM t"
        ), tok
    # literal safety
    assert rewrite_function_names("SELECT 'to_char(d, ''%Y'')' AS s") == (
        "SELECT 'to_char(d, ''%Y'')' AS s"
    )


DIALECT_SURFACE = [
    # every statement is a DataFusion spelling that must resolve on an
    # app session after rewrite_function_names — the sweep that found
    # this round's gaps, frozen as a regression gate
    "SELECT array_element(array(1,2,3), 2)",
    "SELECT list_element(array(1,2,3), 2)",
    "SELECT list_append(array(1), 2)",
    "SELECT list_sort(array(3,1))",
    "SELECT array_reverse(array(1,2))",
    "SELECT list_distinct(array(1,1,2))",
    "SELECT list_remove(array(1,2,1), 1)",
    "SELECT list_repeat(7, 3)",
    "SELECT list_union(array(1), array(2))",
    "SELECT list_intersect(array(1,2), array(2))",
    "SELECT list_position(array(9,8), 8)",
    "SELECT substr_index('a.b.c', '.', 2)",
    "SELECT unnest(array(1,2))",
    "SELECT * FROM unnest(array(1,2))",
    "SELECT approx_distinct(id) FROM range(5)",
    "SELECT approx_median(cast(id as double)) FROM range(5)",
    "SELECT approx_percentile_cont(cast(id as double), 0.5) FROM range(5)",
    "SELECT array_agg(id) FROM range(3)",
    "SELECT string_agg(cast(id as string), ',') FROM range(3)",
    "SELECT to_char(DATE'2024-01-05', '%Y-%m-%d')",
    "SELECT hex(sha256('x')), hex(sha224('x')), hex(sha384('x')), hex(sha512('x'))",
    "SELECT iszero(0.0)",
    "SELECT regexp_count('aXbXc', 'X')",
    "SELECT levenshtein('abc','axc')",
    "SELECT nvl2(NULL, 1, 2)",
    "SELECT width_bucket(5.0, 0.0, 10.0, 5)",
    "SELECT make_array(1, 2)",
    "SELECT starts_with('ab', 'a')",
    "SELECT to_timestamp_seconds(0)",
    "SELECT strpos('hello', 'll')",
    "SELECT digest('x', 'sha256')",
    "SELECT date_bin(INTERVAL '15' MINUTE, TIMESTAMP'2024-01-01 00:07:00')",
]


def test_dialect_surface_resolves(spark):
    """The swept DataFusion dialect surface stays resolvable end to end."""
    for q in DIALECT_SURFACE:
        spark.sql(rewrite_function_names(q)).collect()
