"""The OpenAPC cube catalog: the reference's generated model, as code.

Rebuilds the cube metadata the reference assembles from string templates
(assets_generator.py:616-642; static/templates/MODEL_FIRST_PART,
MODEL_LAST_PART, MODEL_CUBE_STATIC_PART*) — names, labels, measures,
aggregate (measure, function) pairs, and per-cube dimension subsets — and
binds it to the Parquet cubes written by ``etl.openapc.OpenAPCPipeline``.

Institutional cubes (``<slug>``, ``<slug>_apc_ac``, ... —
assets_generator.py:678-702) are NOT separate tables here: each is a
``where institution = ...`` slice of the shared cube table, so the slicer
API surface is identical while storage stays one table per type. The table's
few files are sorted by (institution, period), so the slice reaches the
Parquet scan as a pushed data filter and min/max stats skip the row groups
of other institutions.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

from openapc_olap_spark.model import Aggregate, Cube, CubeRegistry

# Per-cube dimension lists, verbatim from the model templates.
_APC_DIMS = ("institution", "period", "publisher", "journal_full_title",
             "issn", "doi", "is_hybrid", "country", "institution_ror")
_AC_DIMS = _APC_DIMS + ("cost_type", "publication_key")
_AC_INST_DIMS = _APC_DIMS + ("cost_type", "publication_key", "cost_category")
_TA_DIMS = ("institution", "period", "publisher", "journal_full_title",
            "issn", "doi", "is_hybrid", "country", "agreement")
_BPC_DIMS = ("institution", "period", "publisher", "book_title", "doi",
             "doab", "backlist_oa", "country")
_DEAL_DIMS = ("institution", "period", "publisher", "journal_full_title",
              "issn", "doi", "is_hybrid", "country", "opt_out")
_DOI_DIMS = ("institution", "institution_ror", "institution_full_name",
             "euro", "period", "doi", "url")
_COMBINED_DIMS = ("institution", "period", "publisher", "journal_full_title",
                  "issn", "doi", "is_hybrid", "country")
_COVERAGE_DIMS = ("period", "publisher", "journal_full_title", "issn",
                  "is_hybrid", "num_springer_compact_articles",
                  "num_journal_total_articles", "num_journal_oa_articles")


def _apc_aggregates() -> tuple[Aggregate, ...]:
    """MODEL_FIRST_PART:15-40."""
    return (
        Aggregate("apc_amount_sum", "euro", "sum", "Sum"),
        Aggregate("apc_num_items", "euro", "count", "Number of Articles"),
        Aggregate("apc_amount_avg", "euro", "avg", "Mean Value"),
        Aggregate("apc_amount_stddev", "euro", "stddev", "Standard Deviation"),
    )


def _ac_aggregates() -> tuple[Aggregate, ...]:
    """MODEL_CUBE_STATIC_PART_AC:8-25 — count_distinct articles + row-count
    cost items."""
    return (
        Aggregate("apc_amount_sum", "euro", "sum", "Sum"),
        Aggregate("apc_num_items", "publication_key", "count_distinct",
                  "Number of Articles"),
        Aggregate("cost_data_num_items", "publication_key", "count",
                  "Matters of Expense"),
        Aggregate("apc_amount_avg", "euro", "avg", "Mean Value"),
        Aggregate("apc_amount_stddev", "euro", "stddev", "Standard Deviation"),
    )


def _bpc_aggregates() -> tuple[Aggregate, ...]:
    return (
        Aggregate("bpc_amount_sum", "euro", "sum", "Sum"),
        Aggregate("bpc_num_items", "euro", "count", "Number of Books"),
        Aggregate("bpc_amount_avg", "euro", "avg", "Mean BPC"),
        Aggregate("bpc_amount_stddev", "euro", "stddev", "Standard Deviation"),
    )


def _cube_for_type(cube_type: str, name: str, table: str,
                   where: str | None = None, label: str | None = None,
                   fact_id: str | None = "fid") -> Cube:
    """One institutional-or-static cube of a given type."""
    if cube_type == "apc":
        return Cube(name=name, table=table, dimensions=_APC_DIMS,
                    measures=("euro",), aggregates=_apc_aggregates(),
                    where=where, fact_id=fact_id, label=label or "openapc cube")
    if cube_type == "apc_ac":
        return Cube(name=name, table=table, dimensions=_AC_INST_DIMS,
                    measures=("euro",), aggregates=_ac_aggregates(),
                    where=where, fact_id=fact_id, label=label or "openapc additional costs")
    if cube_type == "bpc":
        return Cube(name=name, table=table, dimensions=_BPC_DIMS,
                    measures=("euro",), aggregates=_bpc_aggregates(),
                    where=where, fact_id=fact_id, label=label or "Monograph processing charges")
    if cube_type == "ta":
        return Cube(name=name, table=table, dimensions=_TA_DIMS,
                    aggregates=(Aggregate("num_items", "journal_full_title",
                                          "count", "Number of Articles"),),
                    where=where, fact_id=fact_id,
                    label=label or "Transformative Agreements data cube "
                                   "(No monetary values!)")
    if cube_type == "deal":
        return Cube(name=name, table=table, dimensions=_DEAL_DIMS,
                    measures=("euro",), aggregates=_apc_aggregates(),
                    where=where, fact_id=fact_id,
                    label=label or "DEAL data (cost data from articles "
                                   "published under the German DEAL agreement)")
    raise ValueError(f"unknown cube type {cube_type!r}")


_TYPE_TO_TABLE = {"apc": "openapc", "apc_ac": "openapc_ac", "bpc": "bpc",
                  "ta": "transformative_agreements", "deal": "deal"}


def build_openapc_registry(manifest_rows: list[dict] | None = None) -> CubeRegistry:
    """The eight static cubes (assets_generator.py:276-317) plus, when a
    manifest is given (rows of institutional_cubes.csv: institution,
    cube_name, full_name, cube_type, priority), one institution-sliced cube
    per manifest row."""
    reg = CubeRegistry()
    reg.register(_cube_for_type("apc", "openapc", "openapc"))
    # static openapc_ac uses the template's shorter dimension list
    reg.register(Cube(name="openapc_ac", table="openapc_ac",
                      dimensions=_AC_DIMS, measures=("euro",),
                      aggregates=_ac_aggregates(), fact_id="fid",
                      label="openapc additional costs"))
    reg.register(_cube_for_type("bpc", "bpc", "bpc"))
    reg.register(_cube_for_type("ta", "transformative_agreements",
                                "transformative_agreements"))
    reg.register(_cube_for_type("deal", "deal", "deal"))
    reg.register(Cube(
        name="combined", table="combined", dimensions=_COMBINED_DIMS,
        measures=("euro",), aggregates=_apc_aggregates(), fact_id="fid",
        label="combined cube (combines cost data from openapc and "
              "transformative agreements model)"))
    reg.register(Cube(
        name="doi_lookup", table="doi_lookup", dimensions=_DOI_DIMS,
        aggregates=(Aggregate("num_items", "doi", "count",
                              "Number of Records"),), fact_id="fid",
        label="DOI lookup cube, contains DOIs from all OpenAPC data sets"))
    reg.register(Cube(
        name="springer_compact_coverage", table="springer_compact_coverage",
        dimensions=_COVERAGE_DIMS,
        measures=("num_springer_compact_articles",
                  "num_journal_total_articles", "num_journal_oa_articles"),
        aggregates=(
            Aggregate("springer_compact_articles",
                      "num_springer_compact_articles", "sum",
                      "Springer Compact articles"),
            Aggregate("journal_total_articles", "num_journal_total_articles",
                      "sum", "Journal total articles"),
            Aggregate("journal_oa_articles", "num_journal_oa_articles",
                      "sum", "Journal OA articles"),
        ),
        label="Number of Springer Compact articles compared to number of "
              "total and oa articles in Springer journals"))

    for row in manifest_rows or []:
        inst = str(row["institution"]).replace("'", "''")
        reg.register(_cube_for_type(
            row["cube_type"], row["cube_name"],
            _TYPE_TO_TABLE[row["cube_type"]],
            where=f"institution = '{inst}'",
            label=row.get("full_name")))
    return reg


def register_cube_tables(spark: SparkSession, cubes_dir: str) -> list[str]:
    """Register every Parquet cube under ``cubes_dir`` (as written by
    OpenAPCPipeline.write) as a temp view; returns the names."""
    names = []
    for entry in sorted(os.listdir(cubes_dir)):
        path = os.path.join(cubes_dir, entry)
        if entry == "institutional_cubes" or not os.path.isdir(path):
            continue
        spark.read.parquet(path).createOrReplaceTempView(entry)
        names.append(entry)
    return names


def load_manifest(spark: SparkSession, cubes_dir: str) -> list[dict]:
    """Read institutional_cubes.csv (S6) back as manifest rows."""
    path = os.path.join(cubes_dir, "institutional_cubes")
    if not os.path.isdir(path):
        return []
    df = spark.read.csv(path, header=True)
    return [r.asDict() for r in df.collect()]
