"""Query layer semantics on a tiny in-memory cube: cut composition, envelope,
pagination partition property (∪ pages = whole, disjoint), case sensitivity
(HOWTO.md:101-103), count semantics (A2)."""

import pytest
from pyspark.sql import functions as F

from openapc_olap_spark.model import Aggregate, Cube, CubeRegistry
from openapc_olap_spark.query import JSON_RECORD_LIMIT, QueryEngine, QuerySpec


@pytest.fixture(scope="module")
def engine(spark):
    rows = [
        # institution, period, euro, is_hybrid
        ("Uni A", "2019", 100.0, "TRUE"),
        ("Uni A", "2020", 200.0, "FALSE"),
        ("Uni A", "2020", 300.0, "TRUE"),
        ("uni a", "2020", 400.0, "TRUE"),   # case-sensitivity foil
        ("Uni B", "2021", 500.0, "FALSE"),
        ("Uni B", "2021", 600.0, "TRUE"),
    ]
    df = spark.createDataFrame(
        rows, ["institution", "period", "euro", "is_hybrid"]
    ).withColumn("fid", F.monotonically_increasing_id())
    # stable explicit fact id (Q13 requirement)
    df = df.drop("fid")
    from pyspark.sql import Window
    df = df.withColumn(
        "fid", F.row_number().over(
            Window.orderBy("institution", "period", "euro")))
    df.createOrReplaceTempView("mini")
    reg = CubeRegistry()
    reg.register(Cube(
        name="mini", table="mini",
        dimensions=("institution", "period", "is_hybrid"),
        measures=("euro",),
        aggregates=(
            Aggregate("amount_sum", "euro", "sum"),
            Aggregate("num_items", "euro", "count"),
            Aggregate("amount_avg", "euro", "avg"),
            Aggregate("amount_stddev", "euro", "stddev"),
        ),
        fact_id="fid"))
    return QueryEngine(spark, reg)


def test_point_cut_case_sensitive(engine):
    df = engine.facts(QuerySpec.from_params("mini", cut="institution:Uni A"))
    assert df.count() == 3  # 'uni a' excluded — exact, case-sensitive


def test_cuts_are_anded(engine):
    df = engine.facts(QuerySpec.from_params(
        "mini", cut="institution:Uni A|is_hybrid:TRUE"))
    assert df.count() == 2


def test_range_cut_numeric(engine):
    df = engine.facts(QuerySpec.from_params("mini", cut="period:2020~2021"))
    assert df.count() == 5


def test_set_and_negated_cut(engine):
    assert engine.facts(QuerySpec.from_params(
        "mini", cut="period:2019;2021")).count() == 3
    assert engine.facts(QuerySpec.from_params(
        "mini", cut="!institution:Uni A")).count() == 3


def test_summary_no_drilldown(engine):
    row = engine.cells(QuerySpec.from_params("mini")).collect()[0]
    assert row["amount_sum"] == 2100.0
    assert row["num_items"] == 6


def test_count_is_row_count(engine, spark):
    """cubes `count` counts cell rows even when the measure is NULL (A2)."""
    spark.createDataFrame(
        [("X", None), ("X", 5.0)], ["institution", "euro"]
    ).createOrReplaceTempView("nullm")
    reg = CubeRegistry()
    reg.register(Cube("nullm", "nullm", ("institution",), ("euro",),
                      (Aggregate("n", "euro", "count"),)))
    eng = QueryEngine(spark, reg)
    assert eng.cells(QuerySpec.from_params("nullm")).collect()[0]["n"] == 2


def test_stddev_single_row_is_null(engine):
    row = engine.cells(QuerySpec.from_params(
        "mini", cut="period:2019")).collect()[0]
    assert row["amount_stddev"] is None


def test_envelope(engine):
    env = engine.aggregate_envelope(QuerySpec.from_params(
        "mini", drilldown="institution", order="amount_sum:desc"))
    assert env["summary"]["amount_sum"] == 2100.0
    assert env["total_cell_count"] == 3
    assert [c["institution"] for c in env["cells"]] == ["Uni B", "Uni A", "uni a"]
    # drilldowns never filter; cuts never change grain
    assert sum(c["num_items"] for c in env["cells"]) == env["summary"]["num_items"]


def test_envelope_with_cut(engine):
    env = engine.aggregate_envelope(QuerySpec.from_params(
        "mini", cut="is_hybrid:TRUE", drilldown="institution"))
    assert env["summary"]["num_items"] == 4
    assert env["total_cell_count"] == 3


def test_envelope_is_one_action_without_persist(engine, spark, monkeypatch):
    """aggregate_envelope answers with ONE DataFrame action and persists
    nothing: DataFrame actions and cache calls are wrapped (as the
    benchmark's tracer wraps them), the cache manager ends as it started,
    and the plan's helper columns never reach the envelope."""
    from pyspark.sql.classic.dataframe import DataFrame

    calls = []
    for name in ("collect", "count", "persist", "cache", "toLocalIterator"):
        def wrapped(self, *args, _orig=getattr(DataFrame, name), _name=name,
                    **kwargs):
            calls.append(_name)
            return _orig(self, *args, **kwargs)
        monkeypatch.setattr(DataFrame, name, wrapped)
    cache = spark._jsparkSession.sharedState().cacheManager()
    was_empty = cache.isEmpty()
    spec = QuerySpec.from_params(
        "mini", drilldown="institution|period", order="amount_sum:desc",
        page="1", pagesize="2")
    env = engine.aggregate_envelope(spec)
    assert calls == ["collect"]
    assert cache.isEmpty() == was_empty
    assert env["total_cell_count"] == 4
    assert [(c["institution"], c["period"]) for c in env["cells"]] == [
        ("uni a", "2020"), ("Uni A", "2019")]
    assert env["summary"]["num_items"] == 6
    text = repr(env)
    for helper in ("__n__", "__rn__", "__gid__"):
        assert helper not in text


def test_envelope_page_past_end_and_empty_cut(engine):
    """A page past the last cell keeps the exact total; a drilldown over an
    empty cut has no summary row at all."""
    env = engine.aggregate_envelope(QuerySpec.from_params(
        "mini", drilldown="institution", page="5", pagesize="2"))
    assert env["cells"] == []
    assert env["total_cell_count"] == 3
    assert env["summary"]["amount_sum"] == 2100.0
    env = engine.aggregate_envelope(QuerySpec.from_params(
        "mini", cut="institution:Nobody", drilldown="period"))
    assert env == {"summary": {}, "cells": [], "total_cell_count": 0}


def test_pagination_partition_property(engine):
    """∪ pages == unpaginated result and pages are disjoint (SURVEY.md §5)."""
    whole = engine.facts(QuerySpec.from_params("mini"))
    seen = []
    for page in range(4):
        p = engine.facts(QuerySpec.from_params("mini", page=page, pagesize=2))
        seen += [r["fid"] for r in p.collect()]
    assert sorted(seen) == sorted(r["fid"] for r in whole.collect())
    assert len(set(seen)) == len(seen)


def test_record_limit_cap(engine, spark):
    big = spark.range(1200).withColumnRenamed("id", "fid")
    big.createOrReplaceTempView("big")
    reg = CubeRegistry()
    reg.register(Cube("big", "big", ("fid",), (), (
        Aggregate("n", "fid", "count"),), fact_id="fid"))
    eng = QueryEngine(spark, reg)
    assert eng.facts(QuerySpec.from_params("big")).count() == JSON_RECORD_LIMIT
    assert eng.facts(QuerySpec.from_params(
        "big", pagesize=10_000)).count() == JSON_RECORD_LIMIT


def test_fact_by_id(engine):
    rows = engine.fact("mini", 1).collect()
    assert len(rows) == 1


def test_members(engine):
    vals = [r["institution"] for r in
            engine.members("mini", "institution").collect()]
    assert vals == sorted(vals)
    assert len(vals) == 3


def test_total_percentage(engine):
    df = engine.with_total_percentage(
        QuerySpec.from_params("mini", drilldown="institution"), "amount_sum")
    total = sum(r["total_percentage"] for r in df.collect())
    assert abs(total - 100.0) < 1e-9


def test_empty_result_is_empty_list(engine):
    """Missing value -> [] not error (HOWTO.md:99)."""
    assert engine.facts(QuerySpec.from_params(
        "mini", cut="institution:Nobody")).collect() == []


def test_count_distinct_exact_and_approx(engine, spark):
    """A5: count_distinct counts distinct non-null measure values; the
    approx_count_distinct opt-in (100 TB scale path) agrees on tiny
    cardinalities (HLL++ is exact for small sets)."""
    spark.createDataFrame(
        [("X", "k1"), ("X", "k1"), ("X", "k2"), ("Y", None), ("Y", "k3")],
        ["institution", "pub_key"]).createOrReplaceTempView("dupm")
    reg = CubeRegistry()
    reg.register(Cube(
        "dupm", "dupm", ("institution",), ("pub_key",),
        (Aggregate("n_exact", "pub_key", "count_distinct"),
         Aggregate("n_approx", "pub_key", "approx_count_distinct"))))
    eng = QueryEngine(spark, reg)
    rows = {r["institution"]: r for r in
            eng.cells(QuerySpec.from_params(
                "dupm", drilldown="institution")).collect()}
    assert rows["X"]["n_exact"] == 2          # k1 deduped
    assert rows["Y"]["n_exact"] == 1          # NULL not counted
    assert rows["X"]["n_approx"] == 2
    assert rows["Y"]["n_approx"] == 1


def test_count_distinct_incremental_merge(spark, sf_dir):
    """Merge semantics for incremental loads (model.py AGGREGATE_FUNCTIONS):

    1. re-aggregation — count_distinct over the UNION of two upsert batches
       equals the full recompute exactly (the declared semantics: queries
       re-scan facts, so distinct state never needs merging);
    2. per-batch RESULTS do not add (shared keys double-count) — the trap
       the docs call out;
    3. the mergeable path — per-batch hll_sketch state, hll_merge across
       batches — matches the exact full recompute on this cardinality
       (HLL sparse mode is exact for small sets) and stays associative.
    """
    from openapc_olap_spark.session import load_tables
    docs = load_tables(spark, sf_dir, ["documents"])["documents"]
    key = (F.col("doc_id") % 97).alias("k")          # overlapping key space
    inst = (F.col("doc_id") % 3).alias("institution")
    b1 = docs.filter(F.col("doc_id") % 2 == 0).select(inst, key)
    b2 = docs.filter(F.col("doc_id") % 3 != 1).select(inst, key)

    exact_union = (b1.unionAll(b2).groupBy("institution")
                   .agg(F.countDistinct("k").alias("n")))
    want = {r["institution"]: r["n"] for r in exact_union.collect()}

    per_batch = [
        {r["institution"]: r["n"] for r in
         b.groupBy("institution").agg(F.countDistinct("k").alias("n"))
         .collect()} for b in (b1, b2)]
    assert any(per_batch[0][i] + per_batch[1][i] != want[i] for i in want), \
        "fixture must exhibit the double-count trap"

    sketches = [b.groupBy("institution")
                 .agg(F.hll_sketch_agg("k").alias("sk")) for b in (b1, b2)]
    merged = (sketches[0].unionAll(sketches[1])
              .groupBy("institution")
              .agg(F.hll_sketch_estimate(F.hll_union_agg("sk")).alias("n")))
    got = {r["institution"]: r["n"] for r in merged.collect()}
    assert got == want
