"""Replay of the reference's 14 worked HOWTO queries (HOWTO.md:31-104) —
the reference repo's de-facto correctness corpus (SURVEY.md §5 item 1) —
against our WSGI façade on an OpenAPC-shaped fixture.

Each test carries the HOWTO query number it replays; the documented
behaviors (query 10 ≡ query 5 equivalence at HOWTO.md:75-77, empty-result
[] at HOWTO.md:99, lowercase-DOI case sensitivity at HOWTO.md:101-103,
drilldowns-never-filter at HOWTO.md:59-61) are asserted explicitly.
"""

import json
import math

import pytest
from pyspark.sql import Window
from pyspark.sql import functions as F

from openapc_olap_spark.catalog import build_openapc_registry
from openapc_olap_spark.query import QueryEngine
from openapc_olap_spark.server import SlicerApp

# (institution, period, publisher, journal, doi, is_hybrid, country, euro)
_ROWS = [
    ("Bielefeld U", "2014", "Springer Nature", "Astro Journal",
     "10.1000/bi.1", "FALSE", "DEU", 1000.0),
    ("Bielefeld U", "2015", "Springer Nature", "Astro Journal",
     "10.1000/bi.2", "FALSE", "DEU", 1200.0),
    ("Bielefeld U", "2016", "Springer Nature", "Quantum Letters",
     "10.1000/bi.3", "TRUE", "DEU", 1400.0),
    ("Bielefeld U", "2016", "Wiley-Blackwell", "Bio Letters",
     "10.1000/bi.4", "TRUE", "DEU", 1600.0),
    ("Bielefeld U", "2019", "Wiley-Blackwell", "Bio Letters",
     "10.1000/bi.5", "FALSE", "DEU", 1800.0),
    ("Bielefeld U", "2020", "Frontiers", "Micro Journal",
     "10.3389/fmicb.2020.589364", "FALSE", "DEU", 2000.0),
    ("Oxford U", "2015", "Springer Nature", "Astro Journal",
     "10.1000/ox.1", "TRUE", "GBR", 2100.0),
    ("Oxford U", "2016", "Springer Nature", "Astro Journal",
     "10.1000/ox.2", "TRUE", "GBR", 2200.0),
    ("Oxford U", "2016", "Wiley-Blackwell", "Bio Letters",
     "10.1000/ox.3", "FALSE", "GBR", 2300.0),
    ("Oxford U", "2020", "Frontiers", "Micro Journal",
     "10.1000/ox.4", "TRUE", "GBR", 2400.0),
    ("Cambridge U", "2016", "Springer Nature", "Astro Journal",
     "10.1000/ca.1", "TRUE", "GBR", 2500.0),
    ("Cambridge U", "2019", "Springer Nature", "Quantum Letters",
     "10.1000/ca.2", "TRUE", "GBR", 2600.0),
    ("Cambridge U", "2020", "Springer Nature", "Astro Journal",
     "10.1000/ca.3", "TRUE", "GBR", 2700.0),
]
_COLS = ["institution", "period", "publisher", "journal_full_title",
         "doi", "is_hybrid", "country", "euro"]

_BIELEFELD = [r for r in _ROWS if r[0] == "Bielefeld U"]


@pytest.fixture(scope="module")
def app(spark):
    df = (spark.createDataFrame(_ROWS, _COLS)
          .withColumn("issn", F.lit("0000-0000"))
          .withColumn("institution_ror", F.lit("NA"))
          .withColumn("fid", F.row_number().over(Window.orderBy("doi"))))
    df.createOrReplaceTempView("openapc")
    lookup = (df.select(
        "institution", "institution_ror",
        F.col("institution").alias("institution_full_name"),
        F.col("euro").cast("string").alias("euro"), "period", "doi",
        F.concat(F.lit("https://olap.openapc.net/cube/openapc/facts?cut=doi:"),
                 "doi").alias("url"), "fid"))
    lookup.createOrReplaceTempView("doi_lookup")
    reg = build_openapc_registry(manifest_rows=[
        {"institution": "Bielefeld U", "cube_type": "apc",
         "cube_name": "bielefeld_u", "full_name": "Bielefeld University"}])
    return SlicerApp(QueryEngine(spark, reg))


def raw_call(app, path, query="", request_id=None):
    captured = {}

    def start_response(status, headers):
        captured["status"] = status
        captured["headers"] = dict(headers)

    environ = {"PATH_INFO": path, "QUERY_STRING": query}
    if request_id is not None:
        environ["HTTP_X_REQUEST_ID"] = request_id
    body = b"".join(app(environ, start_response))
    return captured["status"], captured["headers"]["Content-Type"], body


def call(app, path, query=""):
    status, _, body = raw_call(app, path, query)
    return status, json.loads(body) if body else None


def test_howto_1_cubes_list(app):
    status, cubes = call(app, "/cubes")
    assert status == "200 OK"
    names = {c["name"] for c in cubes}
    assert {"openapc", "bielefeld_u", "doi_lookup", "bpc", "combined",
            "transformative_agreements"} <= names


def test_howto_2_institutional_facts(app):
    _, rows = call(app, "/cube/bielefeld_u/facts")
    assert len(rows) == len(_BIELEFELD)
    assert {r["institution"] for r in rows} == {"Bielefeld U"}


def test_howto_3_4_facts_pagination_partition(app):
    _, p0 = call(app, "/cube/bielefeld_u/facts", "pagesize=4&page=0")
    _, p1 = call(app, "/cube/bielefeld_u/facts", "pagesize=4&page=1")
    _, everything = call(app, "/cube/bielefeld_u/facts")
    assert (len(p0), len(p1)) == (4, 2)
    ids = [r["fid"] for r in p0 + p1]
    assert len(set(ids)) == 6                     # disjoint pages
    assert sorted(ids) == sorted(r["fid"] for r in everything)


def test_howto_5_aggregate_all_functions(app):
    _, env = call(app, "/cube/bielefeld_u/aggregate")
    s = env["summary"]
    euros = [r[7] for r in _BIELEFELD]
    assert s["apc_num_items"] == len(euros)
    assert s["apc_amount_sum"] == pytest.approx(sum(euros))
    assert s["apc_amount_avg"] == pytest.approx(sum(euros) / len(euros))
    mean = sum(euros) / len(euros)
    samp = math.sqrt(sum((e - mean) ** 2 for e in euros) / (len(euros) - 1))
    assert s["apc_amount_stddev"] == pytest.approx(samp)  # sample stddev (A4)
    assert env["cells"] == []                     # no drilldown -> no cells


def test_howto_6_drilldown_publisher(app):
    _, env = call(app, "/cube/bielefeld_u/aggregate", "drilldown=publisher")
    pubs = {r[2] for r in _BIELEFELD}
    assert {c["publisher"] for c in env["cells"]} == pubs
    assert len(env["cells"]) == len(pubs)         # one cell per existing value
    assert sum(c["apc_num_items"] for c in env["cells"]) == len(_BIELEFELD)


def test_howto_7_order_by_aggregate(app):
    _, env = call(app, "/cube/bielefeld_u/aggregate",
                  "drilldown=publisher&order=apc_amount_sum")
    sums = [c["apc_amount_sum"] for c in env["cells"]]
    assert sums == sorted(sums)                   # ascending default


def test_howto_8_multi_drilldown(app):
    _, env = call(app, "/cube/bielefeld_u/aggregate",
                  "drilldown=publisher|journal_full_title")
    combos = {(r[2], r[3]) for r in _BIELEFELD}
    got = {(c["publisher"], c["journal_full_title"]) for c in env["cells"]}
    assert got == combos                          # inner group-by, no zero-fill


def test_howto_9_model_dimensions(app):
    _, model = call(app, "/cube/bielefeld_u/model")
    assert "institution" in model["dimensions"]
    assert "publisher" in model["dimensions"]
    assert {a["name"] for a in model["aggregates"]} == {
        "apc_num_items", "apc_amount_sum", "apc_amount_avg",
        "apc_amount_stddev"}


def test_howto_10_cut_equals_institutional_cube(app):
    """HOWTO.md:75-77 — openapc + institution cut ≡ the institutional cube."""
    _, via_cut = call(app, "/cube/openapc/aggregate",
                      "cut=institution:Bielefeld%20U")
    _, via_cube = call(app, "/cube/bielefeld_u/aggregate")
    assert via_cut["summary"] == via_cube["summary"]


def test_howto_11_range_cut(app):
    _, env = call(app, "/cube/openapc/aggregate", "cut=period:2014~2016")
    expect = [r for r in _ROWS if "2014" <= r[1] <= "2016"]
    assert env["summary"]["apc_num_items"] == len(expect)
    assert env["summary"]["apc_amount_sum"] == pytest.approx(
        sum(r[7] for r in expect))


def test_howto_12_cut_plus_drilldown(app):
    _, env = call(app, "/cube/openapc/aggregate",
                  "drilldown=institution&cut=country:DEU")
    assert {c["institution"] for c in env["cells"]} == {"Bielefeld U"}
    # cuts filter, drilldowns never do (HOWTO.md:59-61): cell count == cut rows
    assert env["cells"][0]["apc_num_items"] == len(_BIELEFELD)


def test_howto_13_full_combination(app):
    """2-level drilldown + 2 cuts + order + pagination; iterating to the last
    page surfaces the (publisher, institution) with the most hybrid articles
    (HOWTO.md:89-91)."""
    base = ("drilldown=publisher|institution&cut=country:GBR|is_hybrid:TRUE"
            "&order=apc_num_items")
    cells, page = [], 0
    while True:
        _, env = call(app, "/cube/openapc/aggregate",
                      f"{base}&pagesize=2&page={page}")
        cells.extend(env["cells"])
        if len(env["cells"]) < 2:
            break
        page += 1
    gbr_hybrid = [r for r in _ROWS if r[6] == "GBR" and r[5] == "TRUE"]
    combos = {(r[2], r[0]) for r in gbr_hybrid}
    assert {(c["publisher"], c["institution"]) for c in cells} == combos
    counts = [c["apc_num_items"] for c in cells]
    assert counts == sorted(counts)               # ascending across pages
    top = cells[-1]
    assert (top["publisher"], top["institution"]) == \
        ("Springer Nature", "Cambridge U")        # 3 hybrid articles, the max


def test_howto_14_doi_lookup(app):
    doi = "10.3389/fmicb.2020.589364"
    _, rows = call(app, "/cube/doi_lookup/facts", f"cut=doi:{doi}")
    assert len(rows) == 1
    assert rows[0]["url"].endswith(f"cut=doi:{doi}")
    # case sensitivity (HOWTO.md:101-103): DOIs are stored lowercase, the
    # cut is exact-match — an uppercase query finds nothing
    _, rows = call(app, "/cube/doi_lookup/facts",
                   "cut=doi:10.3389/FMICB.2020.589364")
    assert rows == []
    # miss -> [] not an error (HOWTO.md:99)
    _, rows = call(app, "/cube/doi_lookup/facts", "cut=doi:10.9999/none")
    assert rows == []


def test_howto_aggregate_csv_export(app):
    """VERDICT r06 item 6: the slicer deployment serves CSV on aggregates
    too (cubes' format=csv) — cells as rows, summary row when no
    drilldown."""
    captured = {}

    def start_response(status, headers):
        captured["status"] = status
        captured["headers"] = dict(headers)

    body = b"".join(app({"PATH_INFO": "/cube/bielefeld_u/aggregate",
                         "QUERY_STRING":
                         "drilldown=publisher&format=csv"}, start_response))
    assert captured["status"] == "200 OK"
    assert captured["headers"]["Content-Type"] == "text/csv"
    lines = body.decode().splitlines()
    header = lines[0].split(",")
    assert "publisher" in header and "apc_amount_sum" in header
    pubs = {r[2] for r in _BIELEFELD}
    assert len(lines) == 1 + len(pubs)
    # no drilldown -> the summary as the single CSV row
    body = b"".join(app({"PATH_INFO": "/cube/bielefeld_u/aggregate",
                         "QUERY_STRING": "format=csv"}, start_response))
    lines = body.decode().splitlines()
    assert len(lines) == 2
    assert "apc_amount_sum" in lines[0].split(",")


def test_howto_paged_envelope_parity(app):
    """Paging the reference-shaped cube's drilldown: the pages concatenate
    to the unpaged cells, every page carries the same summary, and
    total_cell_count stays the full cardinality, past the last page too."""
    _, whole = call(app, "/cube/bielefeld_u/aggregate",
                    "drilldown=publisher&order=publisher")
    cells = []
    for page in range(3):
        _, env = call(app, "/cube/bielefeld_u/aggregate",
                      f"drilldown=publisher&order=publisher&pagesize=2"
                      f"&page={page}")
        assert set(env) == set(whole)
        assert env["summary"] == whole["summary"]
        assert env["total_cell_count"] == whole["total_cell_count"] == 3
        cells += env["cells"]
    assert cells == whole["cells"]


# One URL per worked HOWTO query (1-14) plus the aggregate CSV export.
HOWTO_URLS = [
    ("/cubes", ""),
    ("/cube/bielefeld_u/facts", ""),
    ("/cube/bielefeld_u/facts", "pagesize=4&page=0"),
    ("/cube/bielefeld_u/facts", "pagesize=4&page=1"),
    ("/cube/bielefeld_u/aggregate", ""),
    ("/cube/bielefeld_u/aggregate", "drilldown=publisher"),
    ("/cube/bielefeld_u/aggregate",
     "drilldown=publisher&order=apc_amount_sum"),
    ("/cube/bielefeld_u/aggregate", "drilldown=publisher|journal_full_title"),
    ("/cube/bielefeld_u/model", ""),
    ("/cube/openapc/aggregate", "cut=institution:Bielefeld%20U"),
    ("/cube/openapc/aggregate", "cut=period:2014~2016"),
    ("/cube/openapc/aggregate", "drilldown=institution&cut=country:DEU"),
    ("/cube/openapc/aggregate",
     "drilldown=publisher|institution&cut=country:GBR|is_hybrid:TRUE"
     "&order=apc_num_items&pagesize=2&page=1"),
    ("/cube/doi_lookup/facts", "cut=doi:10.3389/fmicb.2020.589364"),
    ("/cube/bielefeld_u/aggregate", "drilldown=publisher&format=csv"),
]


def test_howto_hits_equal_fresh_misses(app, spark):
    """A repeated HOWTO URL is answered from the app's answer cache: the
    bytes a fresh app computes for it, and no Spark job in the hit's
    request group."""
    tracker = spark.sparkContext.statusTracker()
    fresh = SlicerApp(QueryEngine(spark, app.registry))
    cached = SlicerApp(QueryEngine(spark, app.registry))
    for i, (path, query) in enumerate(HOWTO_URLS):
        expected = raw_call(fresh, path, query, f"howto-fresh-{i}")
        assert expected[0] == "200 OK", (path, query)
        miss = raw_call(cached, path, query, f"howto-miss-{i}")
        hit = raw_call(cached, path, query, f"howto-hit-{i}")
        assert miss == hit == expected, (path, query)
        assert not tracker.getJobIdsForGroup(f"howto-hit-{i}"), (path, query)
    # the misses ran their jobs in their own groups, so the check can fail
    assert tracker.getJobIdsForGroup("howto-miss-5")
