"""Generator determinism + generated-data usability; bench harness modes."""

from __future__ import annotations

import pytest

from datafusion_dft_spark.tools.tpch_gen import gen_tables, generate


def test_generator_deterministic(spark):
    a = gen_tables(spark, 0.0001)["lineitem"].orderBy("l_orderkey", "l_linenumber", "l_partkey")
    b = gen_tables(spark, 0.0001)["lineitem"].orderBy("l_orderkey", "l_linenumber", "l_partkey")
    assert [tuple(r) for r in a.collect()] == [tuple(r) for r in b.collect()]


def test_generated_db_layout_registers(spark, tmp_path):
    from datafusion_dft_spark.catalog import register_db

    generate(spark, str(tmp_path / "db"), scale_factor=0.0001, layout="db")
    names = register_db(spark, str(tmp_path / "db" / "tables"))
    assert len(names) == 11  # 8 relational (incl. partsupp) + events/documents/embeddings
    # registered under schema 'tpch' (catalog dir 'dft'); query one
    tname = [n for n in names if "lineitem" in n][0]
    n = spark.sql(f"SELECT count(*) AS n FROM {tname}").collect()[0].n
    assert n >= 100


def test_decimal_money_mode(spark):
    """money='decimal' stores the spec DECIMAL(12,2) for every money /
    rate / quantity column (and the same VALUES as double mode) — the
    type the verbatim Q15 differential depends on for deterministic
    sums; default double mode stays byte-identical to the driver
    corpus shape."""
    from decimal import Decimal

    from datafusion_dft_spark.tools.tpch_gen import gen_tables

    dec = gen_tables(spark, 0.0001, money="decimal")
    dbl = gen_tables(spark, 0.0001)
    li_dec, li_dbl = dec["lineitem"], dbl["lineitem"]
    for col in ("l_quantity", "l_extendedprice", "l_discount", "l_tax"):
        assert li_dec.schema[col].dataType.simpleString() == "decimal(12,2)"
        assert li_dbl.schema[col].dataType.simpleString() == "double"
    for tbl, col in (("supplier", "s_acctbal"), ("orders", "o_totalprice"),
                     ("partsupp", "ps_supplycost"), ("part", "p_retailprice")):
        assert dec[tbl].schema[col].dataType.simpleString() == "decimal(12,2)"
    a = sorted(r.l_extendedprice for r in li_dec.select("l_extendedprice").collect())
    b = sorted(r.l_extendedprice for r in li_dbl.select("l_extendedprice").collect())
    assert len(a) == len(b)
    for va, vb in zip(a, b):
        assert va == Decimal(str(vb))
    import pytest as _pytest

    with _pytest.raises(ValueError, match="money"):
        gen_tables(spark, 0.0001, money="float16")


def test_generated_data_runs_q1_shape(spark, tmp_path):
    generate(spark, str(tmp_path / "flat"), scale_factor=0.0001, layout="flat")
    df = spark.read.parquet(str(tmp_path / "flat" / "lineitem.parquet"))
    out = df.groupBy("l_returnflag", "l_linestatus").count().collect()
    assert 4 <= len(out) <= 6
    assert {r.l_returnflag for r in out} == {"A", "N", "R"}


def test_concurrent_bench(spark, sf_dir, monkeypatch):
    from datafusion_dft_spark.catalog import register_views
    from datafusion_dft_spark.plans.bench import run_bench_concurrent

    register_views(spark, sf_dir)
    # sized by the session's usable cores, not the host's cpu_count
    monkeypatch.setenv("SPARK_GRAFT_CPUS", "2")
    res = run_bench_concurrent(spark, "SELECT count(*) FROM orders", iterations=4)
    assert res.rows_consistent and len(res.phase_times["total"]) == 4
    assert res.concurrency_mode == "concurrent[2]"


def test_analyze_executes_the_whole_plan(spark):
    """--analyze times the full plan: a select-list Python UDF runs
    once per row (a timed count() would prune it and run it 0 times)."""
    from datafusion_dft_spark.plans.bench import analyze

    calls = spark.sparkContext.accumulator(0)

    def bump(x):
        calls.add(1)
        return x

    spark.udf.register("analyze_bump", bump, "long")
    info = analyze(spark, "SELECT analyze_bump(id) AS b FROM range(10)")
    assert info["rows"] == 10
    assert calls.value == 10


def test_rehearsal_generator_schema_parity(spark, sf_dir, tmp_path):
    """The adversarial rehearsal generator (repo-root tools/tpch_gen.py)
    must emit the driver corpus's schemas exactly, or sf1 bench numbers
    measure a different workload than the driver's own fixtures."""
    import sys

    sys.path.insert(0, "tools")
    try:
        from tpch_gen import generate as gen_rehearsal
    finally:
        sys.path.pop(0)

    out = str(tmp_path / "mini")
    gen_rehearsal(0.001, out)
    for t in ("region", "nation", "customer", "supplier", "part", "orders",
              "lineitem", "events", "documents", "embeddings"):
        got = spark.read.parquet(f"{out}/{t}.parquet").schema
        want = spark.read.parquet(f"{sf_dir}/{t}.parquet").schema
        assert [(f.name, f.dataType.simpleString()) for f in got] == [
            (f.name, f.dataType.simpleString()) for f in want
        ], t


def test_partsupp_primary_key_unique(spark):
    """(ps_partkey, ps_suppkey) is a primary key (spec 4.2.3) — the
    dbgen supplier-spread stride must give each part 4 DISTINCT
    suppliers even at toy scale floors where the spec stride can land
    on a residue with d*stride ≡ 0 (mod S)."""
    from pyspark.sql import functions as F

    for sf in (0.0001, 0.001, 0.01):
        ps = gen_tables(spark, sf)["partsupp"]
        dup = (
            ps.groupBy("ps_partkey", "ps_suppkey")
            .count()
            .filter(F.col("count") > 1)
            .count()
        )
        assert dup == 0, f"sf={sf}: {dup} duplicate (partkey, suppkey) pairs"
        per_part = ps.groupBy("ps_partkey").agg(
            F.count("*").alias("n"), F.countDistinct("ps_suppkey").alias("d")
        )
        bad = per_part.filter((F.col("n") != 4) | (F.col("d") != 4)).count()
        assert bad == 0, f"sf={sf}: parts without 4 distinct suppliers"


def test_part_brand_tied_to_manufacturer(spark):
    """Spec 4.2.2: Brand#MN where M is the part's Manufacturer#M digit."""
    from pyspark.sql import functions as F

    part = gen_tables(spark, 0.001)["part"]
    mismatch = part.filter(
        F.substring("p_brand", 7, 1) != F.substring("p_mfgr", 14, 1)
    ).count()
    assert mismatch == 0
    brands = {r[0] for r in part.select("p_brand").distinct().collect()}
    assert brands <= {f"Brand#{m}{n}" for m in range(1, 6) for n in range(1, 6)}


def test_nation_region_spec_mapping(spark):
    """The 25 nations carry the official spec region assignment."""
    nation = gen_tables(spark, 0.001)["nation"]
    got = {(r.n_name, r.n_regionkey) for r in nation.collect()}
    assert ("GERMANY", 3) in got and ("CANADA", 1) in got and ("CHINA", 2) in got
    assert len(got) == 25
    region = gen_tables(spark, 0.001)["region"]
    assert {(r.r_regionkey, r.r_name) for r in region.collect()} == {
        (0, "AFRICA"), (1, "AMERICA"), (2, "ASIA"), (3, "EUROPE"), (4, "MIDDLE EAST")
    }


def test_supplier_spread_follows_spec_at_scale(spark):
    """At spec-ratio sizes the stride fallback must never trigger: the
    emitted suppkeys equal the official dbgen formula exactly."""
    ps = gen_tables(spark, 0.01)["partsupp"].collect()
    n_supp = 100
    for r in ps[:400]:
        p0 = r.ps_partkey - 1
        expect = {
            (p0 + i * (n_supp // 4 + p0 // n_supp)) % n_supp + 1 for i in range(4)
        }
        assert r.ps_suppkey in expect, (r.ps_partkey, r.ps_suppkey)


def _bench_module():
    """The repository-root ``bench.py``, loaded as a module."""
    import importlib.util
    from pathlib import Path

    spec = importlib.util.spec_from_file_location(
        "bench", Path(__file__).resolve().parents[1] / "bench.py"
    )
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod


def _completed(spark, group: str) -> tuple[int, int]:
    """(stages, tasks) that the jobs of ``group`` ran to completion, read
    from the status tracker once the listener bus has drained. A stage
    skipped because its shuffle output was already there completes no
    task."""
    spark.sparkContext._jsc.sc().listenerBus().waitUntilEmpty()
    tracker = spark.sparkContext.statusTracker()
    stages = tasks = 0
    for jid in tracker.getJobIdsForGroup(group):
        for sid in tracker.getJobInfo(jid).stageIds:
            st = tracker.getStageInfo(sid)
            if st is not None and st.numTasks and st.numCompletedTasks == st.numTasks:
                stages += 1
                tasks += st.numCompletedTasks
    return stages, tasks


def test_bench_samples_rerun_every_stage(spark, sf_dir):
    """Each ``bench.py`` steady sample is a fresh execution: after the
    cold run, three samples of q01 each complete exactly the stages and
    tasks the first one did. Calling ``toArrow()`` again on the built
    DataFrame instead completes fewer from its second call on, because
    Spark skips the stages whose shuffle output is still there."""
    import uuid

    from datafusion_dft_spark.registry import all_queries

    bench = _bench_module()
    sc = spark.sparkContext
    df = all_queries()["q01_pricing_summary"].build(spark, sf_dir)
    df.toArrow()
    counts = []
    for _ in range(3):
        group = f"bench-sample-{uuid.uuid4().hex}"
        sc.setJobGroup(group, "bench sample")
        try:
            bench.sample(df)
        finally:
            sc.setJobGroup("", "")
        counts.append(_completed(spark, group))
    assert counts[0][0] >= 2, counts  # scan + aggregate: at least one shuffle
    assert counts[1] == counts[0] and counts[2] == counts[0], counts


@pytest.mark.parametrize("name", ["q01_pricing_summary", "dedup_minhash_lsh"])
def test_bench_sample_equals_cold_result(spark, sf_dir, name):
    """A steady sample delivers the table the cold run did, also for a
    builder that ``.cache()``s an intermediate (``dedup_minhash_lsh``):
    the sample drops that cache and recomputes it."""
    from datafusion_dft_spark.registry import all_queries

    df = all_queries()[name].build(spark, sf_dir)
    want = df.toArrow()
    _, got = _bench_module().sample(df)
    keys = [(c, "ascending") for c in want.column_names]  # the union is unordered
    assert want.num_rows > 0
    assert got.sort_by(keys).equals(want.sort_by(keys))
