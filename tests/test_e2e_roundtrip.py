"""End-to-end institutional round-trip over PARQUET storage (reference
operational flow: assets_generator tables -> model -> olap_server serve):
CLI ``load`` on the fixture CSVs, ``model`` emission, then the WSGI app
served from the written cube files — exercising
register_cube_tables + manifest where-slices over real files rather than
the in-memory fixtures the other suites use."""

import json
import os

import pytest

from openapc_olap_spark import __main__ as cli
from openapc_olap_spark.catalog import (
    build_openapc_registry, load_manifest, register_cube_tables,
)
from openapc_olap_spark.query import QueryEngine
from openapc_olap_spark.server import SlicerApp


def call(app, path, query=""):
    captured = {}

    def start_response(status, headers):
        captured["status"] = status
        captured["headers"] = dict(headers)

    body = b"".join(app({"PATH_INFO": path, "QUERY_STRING": query},
                        start_response))
    return captured["status"], captured["headers"], body


@pytest.fixture(scope="module")
def cube_dir(spark, openapc_fixture_dir, tmp_path_factory):
    out = str(tmp_path_factory.mktemp("cubes_e2e"))
    assert cli.main(["load", "--data-dir", openapc_fixture_dir,
                     "--out", out]) == 0
    return out


@pytest.fixture(scope="module")
def app(spark, cube_dir):
    register_cube_tables(spark, cube_dir)
    registry = build_openapc_registry(load_manifest(spark, cube_dir))
    return SlicerApp(QueryEngine(spark, registry)), registry


def test_load_writes_one_file_per_cube(spark, cube_dir):
    """The CLI load writes each cube as (institution, period)-sorted files,
    not one directory per institution (S5): one data file per cube on the
    fixture."""
    import glob

    for cube in ("openapc", "openapc_ac", "bpc", "transformative_agreements",
                 "combined", "deal", "doi_lookup"):
        entries = os.listdir(os.path.join(cube_dir, cube))
        data = [e for e in entries if e.endswith(".parquet")]
        assert len(data) == 1, (cube, entries)
    assert glob.glob(f"{cube_dir}/**/institution=*", recursive=True) == []
    assert spark.read.parquet(os.path.join(cube_dir, "openapc")).count() == 8
    assert os.path.isdir(os.path.join(cube_dir, "institutional_cubes"))


def test_model_emission(cube_dir, tmp_path_factory):
    path = str(tmp_path_factory.mktemp("model") / "model.json")
    assert cli.main(["model", "--out", cube_dir, "--file", path]) == 0
    model = json.load(open(path))
    names = {c["name"] for c in model["cubes"]}
    assert {"openapc", "combined", "deal", "doi_lookup"} <= names
    # institutional cubes from the manifest made it into the model
    assert any("_" in n and n not in
               {"openapc_ac", "doi_lookup", "springer_compact_coverage",
                "transformative_agreements"} for n in names)


def test_facts_and_aggregate_over_parquet(app):
    wsgi, _ = app
    status, _, body = call(wsgi, "/cube/openapc/facts", "cut=country:DEU")
    assert status == "200 OK"
    rows = json.loads(body)
    assert rows and all(r["country"] == "DEU" for r in rows)

    status, _, body = call(wsgi, "/cube/openapc/aggregate",
                           "drilldown=period&order=period")
    agg = json.loads(body)
    assert agg["summary"]["apc_num_items"] == len(
        json.loads(call(wsgi, "/cube/openapc/facts")[2]))
    assert agg["cells"]


def test_institutional_slice_serves_only_its_rows(app, spark):
    wsgi, registry = app
    inst_cubes = [n for n in registry.names()
                  if registry.get(n).where is not None]
    assert inst_cubes, "manifest produced no institutional cubes"
    name = sorted(inst_cubes)[0]
    cube = registry.get(name)
    inst = cube.where.split("'")[1]
    _, _, body = call(wsgi, f"/cube/{name}/facts")
    rows = json.loads(body)
    assert rows and all(r["institution"] == inst for r in rows)

    # the slice predicate reaches the plan's Parquet scan as a data filter,
    # not a partition filter (the cube has no partition column); the filter
    # it pushes into that scan is asserted in the next test
    from openapc_olap_spark.query import QuerySpec
    engine = QueryEngine(spark, registry)
    plan = engine.facts(QuerySpec(cube=name))._jdf.queryExecution() \
        .executedPlan().toString()
    assert "PartitionFilters: []" in plan
    assert f"institution = {inst}" in plan or "isnotnull(institution" in plan


def test_institutional_slice_is_pushed_into_the_scan(app, spark):
    """An institutional cube's slice reaches the Parquet scan as a pushed
    data filter (row-group min/max skipping), and its /aggregate answer is
    the static cube's answer under the same institution cut."""
    import re

    from openapc_olap_spark.query import QuerySpec

    wsgi, registry = app
    name = sorted(n for n in registry.names()
                  if registry.get(n).where is not None
                  and registry.get(n).table == "openapc")[0]
    inst = registry.get(name).where.split("'")[1]
    engine = QueryEngine(spark, registry)
    plan = engine.facts(QuerySpec(cube=name))._jdf.queryExecution() \
        .executedPlan().toString()
    pushed = re.findall(r"PushedFilters: \[([^\]]*)\]", plan)
    assert len(pushed) == 1, plan
    assert f"EqualTo(institution,{inst})" in pushed[0], plan

    query = "drilldown=period|publisher&order=period"
    status, _, sliced = call(wsgi, f"/cube/{name}/aggregate", query)
    assert status == "200 OK"
    status, _, cut = call(wsgi, "/cube/openapc/aggregate",
                          f"{query}&cut=institution:{inst}")
    assert status == "200 OK"
    sliced, cut = json.loads(sliced), json.loads(cut)
    # the envelope echoes the request's cut; everything else is the same
    assert sliced.pop("cell") == []
    assert cut.pop("cell") == [f"institution:{inst}"]
    assert sliced == cut
    assert sliced["cells"]


def test_doi_lookup_roundtrip(app):
    wsgi, _ = app
    _, _, body = call(wsgi, "/cube/doi_lookup/facts")
    rows = json.loads(body)
    assert rows
    sample = rows[0]
    _, _, body = call(wsgi, "/cube/doi_lookup/facts",
                      f"cut=doi:{sample['doi']}")
    hits = json.loads(body)
    assert hits and all(r["doi"] == sample["doi"] for r in hits)
    assert all(r["url"].endswith(r["doi"]) for r in hits)
