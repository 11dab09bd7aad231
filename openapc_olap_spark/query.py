"""QuerySpec IR + compiler: the slicer query surface on Spark DataFrames.

Re-implements the query API contract of the reference's slicer server
(reference: HOWTO.md:35-104, olap_server.py:1-14, slicer.ini:6; execution
semantics of the pinned cubes dep, requirements.txt:1) as a tiny IR compiled
to declarative DataFrame plans:

- facts listing w/ cuts + stable pagination          (Q1, Q2-Q5, Q10, Q12)
- aggregate w/ drilldown + summary+cells envelope    (Q6-Q9, Q11, Q15)
- dimension members                                  (Q14)
- single fact by id                                  (Q13)

Everything is built-in Column expressions, so Catalyst gets the whole plan:
cuts push down to the Parquet scan, aggregates are partial+final hash aggs,
and the summary+cells envelope is ONE grouping-sets pass answered by ONE
Spark action (no second scan, no persist) — the properties that keep these
queries cheap at 100 TB.
"""

from __future__ import annotations

from dataclasses import dataclass

from pyspark.sql import Column, DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from openapc_olap_spark.cuts import Cut, cuts_to_predicate, parse_cuts
from openapc_olap_spark.model import Cube

# The server's hard response cap (slicer.ini:6 `json_record_limit: 500`;
# HOWTO.md:15 — un-paginated responses silently truncate at this size).
JSON_RECORD_LIMIT = 500


@dataclass(frozen=True)
class OrderTerm:
    field: str
    ascending: bool = True

    @classmethod
    def parse(cls, token: str) -> "OrderTerm":
        if ":" in token:
            name, direction = token.rsplit(":", 1)
            return cls(name, direction.lower() != "desc")
        return cls(token, True)


def parse_order(param: str | None) -> tuple[OrderTerm, ...]:
    """``order=field[:desc][,field2...]`` (cubes order grammar)."""
    if not param:
        return ()
    return tuple(OrderTerm.parse(t) for t in param.split(",") if t)


@dataclass(frozen=True)
class QuerySpec:
    """One parsed slicer request (the IR of SURVEY.md §3.1 step 3)."""

    cube: str
    cuts: tuple[Cut, ...] = ()
    drilldown: tuple[str, ...] = ()
    order: tuple[OrderTerm, ...] = ()
    page: int | None = None
    pagesize: int | None = None

    @classmethod
    def from_params(cls, cube: str, cut: str | None = None,
                    drilldown: str | None = None, order: str | None = None,
                    page: int | str | None = None,
                    pagesize: int | str | None = None) -> "QuerySpec":
        dd = tuple(d for d in (drilldown or "").split("|") if d)
        return cls(
            cube=cube,
            cuts=tuple(parse_cuts(cut)),
            drilldown=dd,
            order=parse_order(order),
            page=int(page) if page is not None else None,
            pagesize=int(pagesize) if pagesize is not None else None,
        )


class QueryEngine:
    """Compiles QuerySpecs against registered cubes into DataFrame plans."""

    def __init__(self, spark: SparkSession, registry) -> None:
        self.spark = spark
        self.registry = registry

    # -- plan building blocks -------------------------------------------------

    def _cell(self, cube: Cube) -> DataFrame:
        """The cube's cut-able cell source (a table scan; cuts applied later
        so Catalyst can push them into it). A cube-level ``where`` (the
        institutional-cube slice) is part of the source definition."""
        df = self.spark.table(cube.table)
        return df.filter(cube.where) if cube.where else df

    def _apply_cuts(self, df: DataFrame, spec: QuerySpec) -> DataFrame:
        pred = cuts_to_predicate(list(spec.cuts))
        return df.filter(pred) if pred is not None else df

    @staticmethod
    def _order_cols(order: tuple[OrderTerm, ...],
                    tiebreak: list[str]) -> list[Column]:
        """The order terms, then the tie-break columns they leave out."""
        named = {t.field for t in order}
        return ([F.col(t.field).asc() if t.ascending else F.col(t.field).desc()
                 for t in order]
                + [F.col(tb).asc() for tb in tiebreak if tb not in named])

    @staticmethod
    def _page_bounds(page: int | None,
                     pagesize: int | None) -> tuple[int, int]:
        """(offset, size) of a 0-based page, capped at JSON_RECORD_LIMIT; a
        request without pagination silently truncates at the cap
        (HOWTO.md:15,39-43)."""
        size = min(pagesize or JSON_RECORD_LIMIT, JSON_RECORD_LIMIT)
        return (page or 0) * size, size

    def _paginate(self, df: DataFrame, page: int | None,
                  pagesize: int | None) -> DataFrame:
        offset, size = self._page_bounds(page, pagesize)
        return (df.offset(offset) if offset else df).limit(size)

    # -- the four query classes ----------------------------------------------

    def facts(self, spec: QuerySpec) -> DataFrame:
        """``/cube/<c>/facts`` — rows of the cut cell, deterministically
        ordered (by fact id unless the spec orders otherwise) and paginated."""
        cube = self.registry.get(spec.cube)
        df = self._apply_cuts(self._cell(cube), spec)
        tiebreak = [cube.fact_id] if cube.fact_id else []
        cols = self._order_cols(spec.order, tiebreak)
        df = df.orderBy(*cols) if cols else df
        return self._paginate(df, spec.page, spec.pagesize)

    def fact(self, cube_name: str, fact_id_value) -> DataFrame:
        """``/cube/<c>/fact/<id>`` — single fact by stable id (Q13)."""
        cube = self.registry.get(cube_name)
        if not cube.fact_id:
            raise ValueError(f"cube {cube_name!r} declares no fact_id column")
        return self._cell(cube).filter(F.col(cube.fact_id) == F.lit(fact_id_value))

    def members(self, cube_name: str, dim: str, page: int | None = None,
                pagesize: int | None = None) -> DataFrame:
        """``/cube/<c>/members/<dim>`` — distinct dimension values (Q14)."""
        cube = self.registry.get(cube_name)
        if dim not in cube.dimensions:
            raise ValueError(f"cube {cube_name!r} has no dimension {dim!r}")
        df = self._cell(cube).select(dim).distinct().orderBy(F.col(dim).asc())
        return self._paginate(df, page, pagesize)

    def cells(self, spec: QuerySpec) -> DataFrame:
        """The per-group rows of an aggregate request: cuts -> groupBy
        drilldown -> all declared aggregates -> order -> page.

        With no drilldown this is the single summary row (Q6); with
        drilldown(s) it's one row per existing combination — inner group-by,
        no zero-fill (HOWTO.md:59-61).
        """
        cube = self.registry.get(spec.cube)
        df = self._apply_cuts(self._cell(cube), spec)
        aggs = [a.to_column() for a in cube.aggregates]
        if not aggs:
            raise ValueError(f"cube {spec.cube!r} declares no aggregates")
        out = df.groupBy(*spec.drilldown).agg(*aggs)
        cols = self._order_cols(spec.order, list(spec.drilldown))
        out = out.orderBy(*cols) if cols else out
        return self._paginate(out, spec.page, spec.pagesize)

    def aggregate_envelope(self, spec: QuerySpec) -> dict:
        """``/cube/<c>/aggregate`` response: ``{summary, cells,
        total_cell_count}`` (Q11), from ONE plan and ONE collect.

        A grouping-sets pass — ``(drilldown...), ()`` — scans the cut cell
        once; ``grouping_id`` separates the grand-total row (summary) from
        the per-group rows (cells). Two windows over the aggregated rows
        (not the facts) put the exact cell count on every row and rank the
        cells in request order, so one collect of "summary or in-page" rows
        answers the request, and a page past the end keeps its exact total.
        An empty cut aggregates no rows: ``summary == {}``.
        """
        cube = self.registry.get(spec.cube)
        if not spec.drilldown:
            summary_rows = self.cells(spec).collect()
            summary = summary_rows[0].asDict() if summary_rows else {}
            return {"summary": summary, "cells": [], "total_cell_count": 0}

        drilldown = list(spec.drilldown)
        aggs = [a.to_column() for a in cube.aggregates]
        is_cell = F.col("__gid__") == 0
        n_cells = F.count_if(is_cell).over(Window.partitionBy())
        rank = F.row_number().over(Window.partitionBy("__gid__").orderBy(
            *self._order_cols(spec.order, drilldown)))
        offset, size = self._page_bounds(spec.page, spec.pagesize)
        in_page = F.col("__rn__").between(offset + 1, offset + size)
        rows = (
            self._apply_cuts(self._cell(cube), spec)
            .groupingSets([drilldown, []], *drilldown)
            .agg(*aggs, F.grouping_id().alias("__gid__"))
            # count first: its single-partition exchange also serves the
            # per-grouping-id ranking, so the windows add one exchange
            .withColumn("__n__", n_cells)
            .withColumn("__rn__", rank)
            .filter(~is_cell | in_page)
            .collect()
        )
        summary, cells, total = {}, [], 0
        for row in sorted(rows, key=lambda r: r["__rn__"]):
            out = row.asDict()
            gid, n, _ = out.pop("__gid__"), out.pop("__n__"), out.pop("__rn__")
            if gid:
                summary = {k: v for k, v in out.items() if k not in drilldown}
                total = n
            else:
                cells.append(out)
        return {"summary": summary, "cells": cells, "total_cell_count": total}

    def with_total_percentage(self, spec: QuerySpec, aggregate: str,
                              out_col: str = "total_percentage") -> DataFrame:
        """The treemap client's derived metric (YAML_STATIC_PART_APC:23-27):
        each cell's share of the result-set total, as a percentage (A6).

        The grand total is a 1-row re-aggregation of the cells frame
        broadcast-joined back onto it — NOT an empty-partition window
        (``Window.partitionBy()``), which would funnel every group of a
        10^8-cell drilldown through one task. The cells plan is computed
        twice (once per branch); for the sub-second API grain that beats
        a persist round-trip, and at 100 TB the duplicated branch is the
        already-aggregated group frame, not the fact scan."""
        cells = self.cells(spec)
        total = cells.agg(F.sum(F.col(aggregate)).alias("__total__"))
        return (cells.join(F.broadcast(total))
                .withColumn(out_col,
                            F.col(aggregate) / F.col("__total__") * 100.0)
                .drop("__total__"))
