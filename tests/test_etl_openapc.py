"""ETL golden tests on the synthetic OpenAPC corpus (SURVEY.md §5 strategy:
derived-cube row counts + spot rows — halving E8, melt/explode E16/E17,
prunes T7/T8, fail-fast E2)."""

import os
import threading

import pytest
from pyspark.sql import functions as F

from openapc_olap_spark.etl.openapc import (
    InputPaths, OpenAPCPipeline, UnknownInstitutionError,
)


@pytest.fixture(scope="module")
def pipeline(spark, openapc_fixture_dir):
    return OpenAPCPipeline(spark, InputPaths.under(openapc_fixture_dir))


def rows_of(df):
    return [r.asDict() for r in df.collect()]


def test_openapc_cube(pipeline):
    out = rows_of(pipeline.openapc_cube())
    assert len(out) == 8
    by_doi = {r["doi"]: r for r in out}
    # enrichment (E2) + ror strip (E3)
    assert by_doi["10.1002/apc1"]["country"] == "DEU"
    assert by_doi["10.1002/apc1"]["institution_ror"] == "01alpha99"
    assert by_doi["10.1002/apc5"]["country"] == "GBR"
    # non-ror-prefixed id -> NA (E3)
    assert by_doi["10.1002/apc5"]["institution_ror"] == "NA"
    # colon scrub (E4)
    assert by_doi["NA"]["journal_full_title"] == "Journal F Subtitle More"
    # euro is a float now
    assert by_doi["10.1002/apc2"]["euro"] == 1200.0


def corpus_copy(src, tmp_path, **extra_rows):
    """A copy of the fixture corpus with rows appended to some of its CSVs,
    keyed by file stem (``apc_de=[row, ...]``)."""
    import csv
    import shutil
    d = tmp_path / "corpus"
    shutil.copytree(src, d)
    for stem, rows in extra_rows.items():
        with open(d / f"{stem}.csv", "a", newline="") as f:
            csv.writer(f).writerows(rows)
    return str(d)


UNKNOWN_APC_ROW = ["Unknown U", "2021", "100.00", "10.1/x", "FALSE", "P", "J",
                   "NA", "NA", "NA", "NA", "NA", "NA", "NA", "NA", "NA", "NA",
                   "NA"]


def test_unknown_institution_aborts(spark, openapc_fixture_dir, tmp_path):
    bad_dir = corpus_copy(openapc_fixture_dir, tmp_path,
                          apc_de=[UNKNOWN_APC_ROW])
    p = OpenAPCPipeline(spark, InputPaths.under(bad_dir))
    with pytest.raises(UnknownInstitutionError, match="Unknown U"):
        p.openapc_cube().collect()
        p.check_validations()


def test_unknown_institution_aborts_write(spark, openapc_fixture_dir, tmp_path):
    """Reference abort parity through the build path (assets_generator.py
    :487-492): write() raises after materializing, via observed metrics."""
    bad_dir = corpus_copy(openapc_fixture_dir, tmp_path,
                          apc_de=[UNKNOWN_APC_ROW])
    p = OpenAPCPipeline(spark, InputPaths.under(bad_dir))
    with pytest.raises(UnknownInstitutionError, match="Unknown U"):
        p.write(str(tmp_path / "out"))


def test_write_releases_its_caches(spark, openapc_fixture_dir, tmp_path):
    """write() unpersists every frame it persisted, whether it succeeds or
    raises after the writes (unknown institution)."""
    cache = spark._jsparkSession.sharedState().cacheManager()
    spark.catalog.clearCache()
    OpenAPCPipeline(spark, InputPaths.under(openapc_fixture_dir)).write(
        str(tmp_path / "ok"))
    assert cache.isEmpty()
    bad_dir = corpus_copy(openapc_fixture_dir, tmp_path,
                          apc_de=[UNKNOWN_APC_ROW])
    p = OpenAPCPipeline(spark, InputPaths.under(bad_dir))
    with pytest.raises(UnknownInstitutionError, match="Unknown U"):
        p.write(str(tmp_path / "bad_out"))
    assert cache.isEmpty()


def test_generate_yamls_field_equivalent(pipeline, tmp_path):
    """generate_yamls (reference assets_generator.py:738-789): one parseable
    YAML per institution; header from the institutions dim, hierarchies in
    manifest priority order, per-type spec field-equivalent to the
    reference templates."""
    import yaml as pyyaml

    from openapc_olap_spark.etl.yamls import generate_yamls
    out = tmp_path / "yamls"
    written = generate_yamls(pipeline.institutional_manifest(),
                             pipeline.institutions, str(out))
    assert written, "no yaml files written"
    docs = {p: pyyaml.safe_load(open(p)) for p in written}
    for path, doc in docs.items():
        assert doc["source"] == "Open APC"
        assert doc["dataset"] == doc["slug"]
        assert doc["default"] in doc["hierarchies"]
        # priority 0 cube type is the default hierarchy
        first_type = doc["default"]
        h = doc["hierarchies"][first_type]
        assert h["cube"]
        assert {"name", "primary_aggregate", "filters", "table_items",
                "drilldowns"} <= set(h)
        # every hierarchy's percentage row relates to its primary aggregate
        for htype, hier in doc["hierarchies"].items():
            pct = [t for t in hier["table_items"]
                   if t["type"] == "total_percentage"]
            assert len(pct) == 1
            assert pct[0]["relates_to"] == hier["primary_aggregate"]
    # template parity spot-checks (YAML_STATIC_PART_APC / _TA)
    any_doc = next(iter(docs.values()))
    apc = any_doc["hierarchies"]["apc"]
    assert apc["primary_aggregate"] == "apc_amount_sum"
    assert apc["drilldowns"] == ["publisher", "journal_full_title", "doi"]
    assert {f["field"] for f in apc["filters"]} == {"period", "is_hybrid"}


def test_build_is_action_free(spark, openapc_fixture_dir, monkeypatch):
    """Plan construction must trigger NO Spark jobs — validation rides the
    write action via df.observe, not eager collects (100 TB: the old probe
    cost 3+ full corpus passes before the first write)."""
    from pyspark.sql import DataFrame as SparkDF

    def boom(self, *a, **k):
        raise AssertionError("driver-side action during plan construction")

    for action in ("collect", "count", "take", "first", "head", "toPandas"):
        monkeypatch.setattr(SparkDF, action, boom)
    p = OpenAPCPipeline(spark, InputPaths.under(openapc_fixture_dir))
    p.build_all()
    p.institutional_manifest()


def test_combined_cube(pipeline):
    out = rows_of(pipeline.combined_cube())
    # 8 apc rows + 2 TA rows with euro != NA
    assert len(out) == 10
    ta_rows = [r for r in out if r["doi"] in ("10.1002/ta1", "10.1016/ta3")]
    assert len(ta_rows) == 2
    # TA rows never carry institution_ror (reference missing-key -> NULL)
    assert all(r["institution_ror"] is None for r in ta_rows)
    assert {r["euro"] for r in ta_rows} == {1111.11, 750.0}


def test_ta_cube_schema(pipeline):
    df = pipeline.ta_cube()
    assert "euro" not in df.columns
    assert "agreement" in df.columns
    assert df.count() == 4


def test_deal_cube(pipeline):
    out = rows_of(pipeline.deal_cube())
    # wiley opt-out 2 + springer opt-out 1 + TA wiley 1 + TA springer 2 + apc
    # wiley 1 (apc1) + apc springer 1 (s00001) = 8
    assert len(out) == 8
    by_doi = {}
    for r in out:
        by_doi.setdefault(r["doi"], []).append(r)
    # E8 halving on 2019 Wiley opt-out: 1000.01/2 = 500.005 -> bankers 500.0
    assert by_doi["10.1002/oo1"][0]["euro"] == 500.0
    # E8 halving on 2019 TA DEAL Wiley row: 1111.11/2 = 555.555 -> 555.56
    assert by_doi["10.1002/ta1"][0]["euro"] == 555.56
    # imprint normalization (E7)
    assert by_doi["10.1002/oo1"][0]["publisher"] == "Wiley-Blackwell"
    assert by_doi["10.1007/s00001-021-1"][0]["publisher"] == "Springer Nature"
    # opt_out flags (E6/E10)
    assert by_doi["10.1002/oo1"][0]["opt_out"] == "TRUE"
    assert by_doi["10.1002/ta1"][0]["opt_out"] == "FALSE"
    # non-2019 opt-out not halved
    assert by_doi["10.1002/oo2"][0]["euro"] == 1300.0
    # APC-eligibility respected: 2019 Wiley row and hybrid row absent
    assert "10.1002/apc2" not in by_doi
    assert "10.1007/s00002-021-2" not in by_doi


def test_openapc_ac_cube(pipeline):
    out = rows_of(pipeline.openapc_ac_cube())
    # 8 apc rows + 2 cost rows (apc7) + 1 cost row (apc1); unmatched doi joins nothing
    assert len(out) == 11
    apc7 = [r for r in out if r["doi"] == "10.1002/apc7"]
    assert {(r["cost_type"], r["euro"]) for r in apc7} == {
        ("apc", 2000.0), ("colorpage", 150.0), ("pagecharge", 75.5)}
    assert {r["cost_category"] for r in apc7} == {"APC", "Additional Cost"}
    # publication_key: doi when present, url-sans-scheme otherwise (E5)
    na_doi = [r for r in out if r["doi"] == "NA"]
    assert na_doi[0]["publication_key"] == "example.org/paper6"
    # non-numeric cells dropped in melt (E16)
    apc1 = [r for r in out if r["doi"] == "10.1002/apc1"]
    assert {(r["cost_type"], r["euro"]) for r in apc1} == {
        ("apc", 1500.0), ("submissionfee", 20.0)}


def test_doi_lookup_cube(pipeline):
    out = rows_of(pipeline.doi_lookup_cube())
    # apc: 7 non-NA dois; bpc: 1; ta: 4 -> 12
    assert len(out) == 12
    r = next(x for x in out if x["doi"] == "10.1002/apc1")
    assert r["url"] == ("https://olap.openapc.net/cube/openapc/facts"
                        "?cut=doi:10.1002/apc1")
    assert r["institution_full_name"] == "Technical University Alpha"
    assert isinstance(r["euro"], str)  # euro is a STRING in doi_lookup
    bpc = next(x for x in out if x["doi"] == "10.5555/bpc1")
    assert "/cube/bpc/facts" in bpc["url"]


def test_institutional_manifest(pipeline):
    out = rows_of(pipeline.institutional_manifest())
    pairs = {(r["institution"], r["cube_type"]) for r in out}
    # Inst Delta has cubes_name NA -> no institutional cubes at all
    assert not any(i == "Inst Delta" for i, _ in pairs)
    # T7: apc_ac only for TU Alpha (only institution with non-apc cost rows)
    assert ("TU Alpha", "apc_ac") in pairs
    assert not any(t == "apc_ac" and i != "TU Alpha" for i, t in pairs)
    # T8: deal pruned to participants (TU Alpha, Uni Beta)
    deal_insts = {i for i, t in pairs if t == "deal"}
    assert deal_insts == {"TU Alpha", "Uni Beta"}
    # cube naming: apc cube has bare slug, others get suffix
    names = {(r["institution"], r["cube_type"]): r["cube_name"] for r in out}
    assert names[("TU Alpha", "apc")] == "tualpha"
    assert names[("TU Alpha", "apc_ac")] == "tualpha_apc_ac"
    # T9: priorities are a contiguous 0..n-1 rank in fixed type order
    tu = sorted((r["priority"], r["cube_type"]) for r in out
                if r["institution"] == "TU Alpha")
    assert tu == [(0, "apc"), (1, "apc_ac"), (2, "bpc"), (3, "ta"),
                  (4, "deal")]


def test_manifest_builds_no_cube_plan(spark, openapc_fixture_dir,
                                      monkeypatch):
    """After build_all(), the manifest reuses the enriched frames: it builds
    no openapc_ac or deal cube plan and enriches no source again."""
    p = OpenAPCPipeline(spark, InputPaths.under(openapc_fixture_dir))
    p.build_all()
    calls = dict.fromkeys(("openapc_ac_cube", "deal_cube", "_enrich"), 0)
    for name in calls:
        def counted(*args, _orig=getattr(OpenAPCPipeline, name), _name=name,
                    **kwargs):
            calls[_name] += 1
            return _orig(*args, **kwargs)
        monkeypatch.setattr(OpenAPCPipeline, name, counted)
    p.institutional_manifest()
    assert calls == {"openapc_ac_cube": 0, "deal_cube": 0, "_enrich": 0}


def test_manifest_deal_needs_a_participant_row(spark, openapc_fixture_dir,
                                               tmp_path):
    """T8: an institution whose only DEAL rows are APC-side (Wiley imprint,
    DEU, not hybrid, 2021) is in the deal cube but gets no deal cube of its
    own: only opt-out and TA-DEAL rows make a participant."""
    d = corpus_copy(
        openapc_fixture_dir, tmp_path,
        institutions=[["Uni Zeta", "University Zeta", "zeta",
                       "https://ror.org/06zeta66", "Europe", "DEU", "NW"]],
        apc_de=[["Uni Zeta", "2021", "1700.00", "10.1002/zeta1", "FALSE",
                 "Wiley-Blackwell", "Journal Z", "7777-1111", "NA", "NA",
                 "NA", "CC BY", "TRUE", "NA", "NA", "NA", "NA", "TRUE"]])
    p = OpenAPCPipeline(spark, InputPaths.under(d))
    deal = rows_of(p.deal_cube().filter(F.col("institution") == "Uni Zeta"))
    assert [(r["doi"], r["opt_out"]) for r in deal] == [
        ("10.1002/zeta1", "FALSE")]
    names = {r["cube_name"] for r in rows_of(p.institutional_manifest())
             if r["institution"] == "Uni Zeta"}
    assert names == {"zeta"}


def test_manifest_apc_named_cost_column_is_not_additional(
        spark, openapc_fixture_dir, tmp_path):
    """T7: an additional-costs column literally named 'apc' melts into
    cost_type 'apc' rows, which do not on their own give an institution an
    apc_ac cube."""
    import csv
    d = corpus_copy(openapc_fixture_dir, tmp_path)
    ac_path = os.path.join(d, "apc_de_additional_costs.csv")
    with open(ac_path, newline="") as f:
        header, *rows = list(csv.reader(f))
    rows = [r + [""] for r in rows] + [
        ["10.1002/apc8"] + [""] * (len(header) - 1) + ["99.00"]]
    with open(ac_path, "w", newline="") as f:
        csv.writer(f).writerows([header + ["apc"]] + rows)
    p = OpenAPCPipeline(spark, InputPaths.under(d))
    eps = rows_of(p.openapc_ac_cube().filter(F.col("doi") == "10.1002/apc8"))
    assert sorted((r["cost_type"], r["euro"]) for r in eps) == [
        ("apc", 99.0), ("apc", 3000.0)]
    pairs = {(r["institution"], r["cube_type"])
             for r in rows_of(p.institutional_manifest())}
    assert ("Uni Epsilon", "apc") in pairs
    assert [i for i, t in pairs if t == "apc_ac"] == ["TU Alpha"]


def test_write_partitioned(pipeline, tmp_path):
    out = str(tmp_path / "cubes")
    pipeline.write(out)
    assert os.path.isdir(os.path.join(out, "openapc"))
    # partitioned by institution -> directory per institution value
    parts = [p for p in os.listdir(os.path.join(out, "openapc"))
             if p.startswith("institution=")]
    assert len(parts) == 5
    df = pipeline.spark.read.parquet(os.path.join(out, "openapc"))
    assert df.count() == 8


def test_t10_institutions_by_cube_type(pipeline):
    out = {r["cube_type"]: r["institutions"]
           for r in pipeline.institutions_by_cube_type().collect()}
    assert out["apc_ac"] == ["TU Alpha"]
    assert out["bpc"] == ["College Gamma", "TU Alpha"]
    assert out["ta"] == ["College Gamma", "TU Alpha", "Uni Beta"]
    assert out["deal"] == ["TU Alpha", "Uni Beta"]


def test_write_finishes_after_uncollected_t10(spark, openapc_fixture_dir,
                                              tmp_path):
    """Building the T10 report registers no check that only its own
    collect would fire, so a later write() does not wait forever."""
    p = OpenAPCPipeline(spark, InputPaths.under(openapc_fixture_dir))
    p.institutions_by_cube_type()           # built, never collected
    failure = []

    def write():
        try:
            p.write(str(tmp_path / "out"))
        except Exception as e:              # reported by the assert below
            failure.append(e)

    t = threading.Thread(target=write, daemon=True)
    t.start()
    t.join(timeout=180)
    assert not t.is_alive(), "write() blocked after an uncollected T10"
    assert not failure, failure


def test_t11_additional_cost_institutions(pipeline):
    got = [r["institution"]
           for r in pipeline.additional_cost_institutions().collect()]
    assert got == ["TU Alpha"]


def test_write_clusters_institution_period(pipeline, tmp_path):
    """SCALING.md write-locality promise, asserted on actual parquet
    footers: partitioned cubes are written sortWithinPartitions
    (institution, period), so inside every physical file the period column
    is non-decreasing and consecutive row-group min/max stats are ordered —
    period cuts then skip row groups. Institution leads the sort so the
    dynamic-partition writer does not inject its own (unstable) sort."""
    import glob

    import pyarrow.parquet as pq

    out = str(tmp_path / "sorted_out")
    pipeline.write(out)
    checked = 0
    for path in glob.glob(f"{out}/*/institution=*/*.parquet"):
        pf = pq.ParquetFile(path)
        names = pf.schema_arrow.names
        if "period" not in names:
            continue
        md = pf.metadata
        col = names.index("period")
        prev_max = None
        for rg in range(md.num_row_groups):
            st = md.row_group(rg).column(col).statistics
            assert st is not None and st.has_min_max, path
            if prev_max is not None:
                assert st.min >= prev_max, path   # ordered row groups
            prev_max = st.max
        vals = pf.read(columns=["period"]).column("period").to_pylist()
        assert vals == sorted(vals), path         # clustered inside file
        checked += 1
    assert checked > 0
