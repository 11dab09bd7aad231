"""Cube/dimension/measure/aggregate metadata registry.

The reference generates a ``model.json`` by string-concatenating templates
(reference: assets_generator.py:616-642, static/templates/MODEL_FIRST_PART:6-42,
MODEL_LAST_PART:217-338) and serves it at ``/cube/<name>/model``. Our registry
holds the same three-level metadata — cube -> {measures, aggregates(name ->
(measure, function)), dimensions} — as plain dataclasses, and can emit the
same JSON shape.

The aggregate *functions* supported are exactly the reference's inventory
(SURVEY.md §2.3): sum / count / avg / stddev / count_distinct, plus the
client-side derived ``total_percentage`` (YAML_STATIC_PART_APC:23-27) which we
compute engine-side with a window sum. Each function maps to a built-in
Catalyst expression — no UDFs — so aggregation stays map-side-combinable and
whole-stage-codegen'd at 100 TB.
"""

from __future__ import annotations

from dataclasses import dataclass, field

from pyspark.sql import Column
from pyspark.sql import functions as F

# function name -> Column-expression factory over the measure column name.
# ``count`` is row-count-of-cell semantics (cubes counts the cell's rows, not
# non-null measure values — SURVEY.md §2.3 A2), hence count(lit(1)).
AGGREGATE_FUNCTIONS = {
    "sum": lambda m: F.sum(F.col(m)),
    "count": lambda m: F.count(F.lit(1)),
    "avg": lambda m: F.avg(F.col(m)),
    "stddev": lambda m: F.stddev(F.col(m)),  # sample stddev = PostgreSQL stddev
    "min": lambda m: F.min(F.col(m)),
    "max": lambda m: F.max(F.col(m)),
    # MERGE SEMANTICS: count_distinct is exact and computed by full
    # re-aggregation — every query re-scans the cube's fact rows, so
    # incremental loads (the e17 upsert flow) need no distinct-state merge;
    # correctness under upserts follows from the facts being correct. What
    # does NOT merge is a per-batch countDistinct RESULT: distinct counts
    # of two batches cannot be added (shared values double-count). Pipelines
    # that want pre-aggregated distinct state across batches must carry a
    # mergeable sketch instead: hll_sketch (build per batch) + hll_merge
    # (union sketches, estimate) below — tested against the full-recompute
    # oracle in tests/test_query_layer.py.
    "count_distinct": lambda m: F.countDistinct(F.col(m)),
    # opt-in scale path for count_distinct at 100 TB (documented divergence)
    "approx_count_distinct": lambda m: F.approx_count_distinct(F.col(m)),
    # mergeable distinct-count state for incremental/rollup flows: a binary
    # HLL sketch column that unions associatively across batches
    "hll_sketch": lambda m: F.hll_sketch_agg(F.col(m)),
    "hll_merge": lambda m: F.hll_sketch_estimate(F.hll_union_agg(F.col(m))),
}


@dataclass(frozen=True)
class Aggregate:
    """One declared aggregate: ``name`` <- ``function``(``measure``)."""

    name: str
    measure: str
    function: str
    label: str | None = None

    def to_column(self) -> Column:
        try:
            factory = AGGREGATE_FUNCTIONS[self.function]
        except KeyError:
            raise ValueError(f"unknown aggregate function: {self.function!r}")
        return factory(self.measure).alias(self.name)

    def to_model_dict(self) -> dict:
        return {
            "name": self.name,
            "label": self.label or self.name,
            "measure": self.measure,
            "function": self.function,
        }


@dataclass(frozen=True)
class Cube:
    """A cube = one flat table + its declared metadata (SURVEY.md §1.1).

    ``table`` is the Spark table/view name the cube reads;
    ``dimensions`` are plain columns (flat, single-attribute — the reference
    has no hierarchies, MODEL_LAST_PART:217-338);
    ``fact_id`` names a stable unique column used for deterministic pagination
    and ``/fact/<id>`` lookup (the reference relies on the insert-order
    autoincrement id; we require an explicit column — SURVEY.md §2.2 Q13).
    """

    name: str
    table: str
    dimensions: tuple[str, ...]
    measures: tuple[str, ...] = ()
    aggregates: tuple[Aggregate, ...] = ()
    fact_id: str | None = None
    label: str | None = None
    # Optional SQL predicate restricting the cube to a slice of its table —
    # how the reference's per-institution tables (assets_generator.py:678-702)
    # become filtered views of ONE shared table (SURVEY.md §4): Catalyst
    # pushes the predicate into the table's scan, and the physical layout
    # stays N tables lighter.
    where: str | None = None

    def aggregate_by_name(self, name: str) -> Aggregate | None:
        for a in self.aggregates:
            if a.name == name:
                return a
        return None

    def to_model_dict(self) -> dict:
        return {
            "name": self.name,
            "label": self.label or self.name,
            "measures": [{"name": m, "label": m} for m in self.measures],
            "aggregates": [a.to_model_dict() for a in self.aggregates],
            "dimensions": list(self.dimensions),
        }


class CubeRegistry:
    """All cubes known to the engine; serializable to a cubes-style model.

    Mirrors the generated model.json + the ``/cubes`` listing
    (HOWTO.md:31-33,69-71).
    """

    def __init__(self) -> None:
        self._cubes: dict[str, Cube] = {}

    def register(self, cube: Cube) -> Cube:
        self._cubes[cube.name] = cube
        return cube

    def get(self, name: str) -> Cube:
        try:
            return self._cubes[name]
        except KeyError:
            raise KeyError(f"unknown cube: {name!r}")

    def __contains__(self, name: str) -> bool:
        return name in self._cubes

    def names(self) -> list[str]:
        return sorted(self._cubes)

    def list_cubes(self) -> list[dict]:
        """The ``/cubes`` endpoint payload."""
        return [{"name": c.name, "label": c.label or c.name}
                for _, c in sorted(self._cubes.items())]

    def to_model_dict(self) -> dict:
        """Whole-model JSON: shared dimension catalog + per-cube blocks
        (reference shape: MODEL_FIRST_PART + MODEL_LAST_PART)."""
        dims = sorted({d for c in self._cubes.values() for d in c.dimensions})
        return {
            "cubes": [c.to_model_dict() for _, c in sorted(self._cubes.items())],
            "dimensions": [{"name": d} for d in dims],
        }


def standard_money_aggregates(measure: str, prefix: str) -> tuple[Aggregate, ...]:
    """The reference's standard 4-aggregate block over a money measure:
    sum / count / avg / stddev (MODEL_FIRST_PART:15-40)."""
    return (
        Aggregate(f"{prefix}_amount_sum", measure, "sum"),
        Aggregate(f"{prefix}_num_items", measure, "count"),
        Aggregate(f"{prefix}_amount_avg", measure, "avg"),
        Aggregate(f"{prefix}_amount_stddev", measure, "stddev"),
    )
