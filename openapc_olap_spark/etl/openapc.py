"""The OpenAPC cube-building pipeline, Spark-first.

Re-expresses the reference's single-threaded, all-in-RAM ETL
(assets_generator.py:251-585 "create_cubes_tables") as declarative DataFrame
transforms. Each reference operator (SURVEY.md §2.4-2.5) is a standalone
function usable on its own; `OpenAPCPipeline` composes them into the seven
static cubes + manifest.

Scale design notes (100 TB posture):
- the institutions dimension is broadcast (reference: in-memory dict probe,
  assets_generator.py:704-721) — no shuffle on any enrichment join;
- fan-out to many cubes reuses ONE persisted enriched frame per fact file
  (apc, bpc, ta; reference T6: a Python loop appending each row to 1..4
  tables), and ``write`` releases those frames on every exit path;
- fail-fast "unknown institution" parity is an anti-join count, not a
  driver-side probe (reference aborts on KeyError, :487-492,521);
- per-institution tables become ONE table per cube type, written as a few
  files rebalanced by institution and sorted by (institution, period); an
  institutional cube is a ``where institution = ...`` slice that Catalyst
  pushes into the Parquet scan (reference routing :678-702).
"""

from __future__ import annotations

import os
from dataclasses import dataclass

from pyspark.sql import DataFrame, Observation, SparkSession, Window
from pyspark.sql import functions as F

from openapc_olap_spark.etl import schemas

# --------------------------------------------------------------------------
# Reference constants (semantic data, not code; assets_generator.py:40-48)
# --------------------------------------------------------------------------

# Treemap hierarchy menu order -> institutional cube priority (…:40,697-702)
CUBES_PRIORITIES = ["apc", "apc_ac", "bpc", "ta", "deal"]

# DEAL imprint normalization map (…:45-48)
DEAL_IMPRINTS = {
    "Wiley-Blackwell": [
        "Wiley-Blackwell", "EMBO", "American Geophysical Union (AGU)",
        "International Union of Crystallography (IUCr)",
        "The Econometric Society",
    ],
    "Springer Nature": ["Springer Nature", "Zhejiang University Press"],
}

# TA `agreement` values routed to the deal cube, per DEAL brand (…:447-469)
DEAL_AGREEMENTS = {
    "Wiley-Blackwell": "DEAL Wiley Germany",
    "Springer Nature": "DEAL Springer Nature Germany",
}

# DEAL start years; APC-side eligibility is a strict `>` on Jan-1 datetimes,
# i.e. Wiley rows qualify from period 2020, Springer from 2021 (…:42-43,548-557)
DEAL_WILEY_START_YEAR = 2019
DEAL_SPRINGER_START_YEAR = 2020

FACTS_DOI_URL = "https://olap.openapc.net/cube/{}/facts?cut=doi:"


class UnknownInstitutionError(ValueError):
    """Parity with the reference's abort on institutions missing from
    institutions.csv (assets_generator.py:487-492,521)."""


# --------------------------------------------------------------------------
# Row-level operators (SURVEY.md §2.4)
# --------------------------------------------------------------------------

def scrub_colons(df: DataFrame, column: str) -> DataFrame:
    """E4: colons cannot be escaped in cut URLs, so strip them from title
    columns (assets_generator.py:347,429-431,518-520)."""
    return df.withColumn(column, F.translate(F.col(column), ":", ""))


def strip_ror_prefix(col) -> F.Column:
    """E3: 'https://ror.org/XXXX' -> 'XXXX', else 'NA'
    (assets_generator.py:710-712)."""
    c = F.col(col) if isinstance(col, str) else col
    return F.when(c.startswith("https://ror.org/"), F.substring(c, 17, 2147483647)) \
            .otherwise(F.lit("NA"))


def normalize_imprints(df: DataFrame, brand: str) -> DataFrame:
    """E7: publisher imprints of a DEAL brand -> the canonical brand name
    (assets_generator.py:45-48,387-388,408-409,455-456,465-466,551,560)."""
    return df.withColumn(
        "publisher",
        F.when(F.col("publisher").isin(DEAL_IMPRINTS[brand]), F.lit(brand))
         .otherwise(F.col("publisher")))


def halve_2019_euro(df: DataFrame) -> DataFrame:
    """E8: DEAL-Wiley started 07/2019, so 2019 costs are halved:
    euro = round(euro/2, 2) (assets_generator.py:395-398,451-454).

    Rounding: exact decimal half-even (``bround`` over DECIMAL). The
    reference rounds the *binary double* (CPython round), which differs on
    the rare representational ties; decimal banker's rounding is the
    deterministic, engine-portable reading of the same intent.
    """
    halved = F.bround(F.col("euro").cast("decimal(18,2)") / 2, 2).cast("double")
    return df.withColumn(
        "euro",
        F.when(F.col("period") == "2019", halved).otherwise(F.col("euro")))


def publication_key(doi="doi", url="url") -> F.Column:
    """E5: doi if present, else the url stripped of its http(s) scheme,
    else NULL (validated separately — the reference raises,
    assets_generator.py:50,605-614)."""
    d, u = F.col(doi), F.col(url)
    return (
        F.when((d.isNotNull()) & (d != "") & (d != "NA"), d)
         .when((u.isNotNull()) & (u != "") & (u != "NA"),
               F.regexp_replace(u, r"^https?://", ""))
         .otherwise(F.lit(None).cast("string")))


def doi_lookup_select(df: DataFrame, cube_name: str,
                      ror_col: str = "_ror_id",
                      full_name_col: str = "_full_name") -> DataFrame:
    """E13: one source's slice of the DOI->record index — drop 'NA' DOIs,
    project the lookup columns, build the facts URL for the owning cube
    (assets_generator.py:263-271,352-356,442-444,526-528,593-603). euro
    stays STRING (the reference keeps the raw CSV cell)."""
    return (df.filter(F.col("doi") != "NA")
            .select(
                "institution",
                F.col(ror_col).alias("institution_ror"),
                F.col(full_name_col).alias("institution_full_name"),
                F.col("euro").cast("string").alias("euro"),
                "period", "doi",
                F.concat(F.lit(FACTS_DOI_URL.format(cube_name)),
                         F.col("doi")).alias("url")))


def institutions_report(frames: dict[str, DataFrame]) -> DataFrame:
    """T10: sorted distinct institutions per cube type — the reference's
    console report (assets_generator.py:664-676). Input: cube_type ->
    frame with an ``institution`` column. One shuffle (the groupBy);
    collect_set is bounded by institution cardinality (thousands)."""
    parts = [df.select("institution").withColumn("cube_type", F.lit(ct))
             for ct, df in frames.items()]
    out = parts[0]
    for p in parts[1:]:
        out = out.unionByName(p)
    return (out.groupBy("cube_type")
            .agg(F.sort_array(F.collect_set("institution"))
                 .alias("institutions")))


def institutions_with_additional_costs(facts: DataFrame,
                                       costs_long: DataFrame) -> DataFrame:
    """T11: institutions having >=1 fact row whose DOI carries additional
    costs (assets_generator.py:723-736) — a broadcast left-semi join, so
    the fact side never materializes the match."""
    dois = costs_long.select("doi").distinct()
    return (facts.join(F.broadcast(dois), "doi", "left_semi")
            .select("institution").distinct())


def melt_additional_costs(df: DataFrame) -> DataFrame:
    """E16: wide per-DOI cost columns -> long (doi, cost_type, euro); cells
    that do not parse as a float are dropped per-cell
    (assets_generator.py:322-339)."""
    value_cols = [c for c in df.columns if c != "doi"]
    long = df.unpivot("doi", value_cols, "cost_type", "cost_value")
    return (long
            .withColumn("euro", F.expr("try_cast(cost_value AS double)"))
            .filter(F.col("euro").isNotNull())
            .drop("cost_value"))


# --------------------------------------------------------------------------
# Pipeline
# --------------------------------------------------------------------------

@dataclass
class InputPaths:
    """Locations of the six raw CSVs (reference assets_generator.py:31-37)."""

    apc: str
    bpc: str
    transformative_agreements: str
    wiley_opt_out: str
    springer_opt_out: str
    institutions: str
    additional_costs: str

    @classmethod
    def under(cls, root: str) -> "InputPaths":
        j = lambda n: os.path.join(root, n)  # noqa: E731
        return cls(
            apc=j("apc_de.csv"), bpc=j("bpc.csv"),
            transformative_agreements=j("transformative_agreements.csv"),
            wiley_opt_out=j("deal_wiley_germany_opt_out.csv"),
            springer_opt_out=j("deal_springer_nature_germany_opt_out.csv"),
            institutions=j("institutions.csv"),
            additional_costs=j("apc_de_additional_costs.csv"),
        )


class OpenAPCPipeline:
    """Builds the seven static cubes + institutional manifest from raw CSVs.

    Each ``*_cube`` method returns an unevaluated DataFrame. The enriched
    apc/bpc/ta frames and the institutions dimension are persisted on first
    use, so every cube that fans out from them (the reference's T6) shares
    one scan; ``write`` materializes Parquet tables and then unpersists
    them, whether or not it succeeds.
    """

    def __init__(self, spark: SparkSession, paths: InputPaths) -> None:
        self.spark = spark
        self.paths = paths
        self._cache: dict[str, DataFrame] = {}
        self._cubes: dict[str, DataFrame] | None = None
        # (kind, source_name, Observation) triples registered by the
        # validation observes; drained by check_validations().
        self._pending_checks: list[tuple[str, str, Observation]] = []

    # -- sources -----------------------------------------------------------

    def _read_csv(self, path: str) -> DataFrame:
        """S1: header CSV, UTF-8, all-string schema inferred from header
        (the reference's csv.DictReader shape)."""
        return self.spark.read.csv(path, header=True, inferSchema=False,
                                   encoding="UTF-8", quote='"', escape='"')

    @property
    def institutions(self) -> DataFrame:
        """E1: institutions.csv -> enrichment dimension with the ROR short id
        derived (E3) — broadcast everywhere it is joined
        (assets_generator.py:704-721)."""
        if "institutions" not in self._cache:
            raw = self._read_csv(self.paths.institutions)
            dim = raw.select(
                F.col("institution"),
                F.col("institution_full_name").alias("_full_name"),
                F.col("institution_cubes_name").alias("_cube_name"),
                strip_ror_prefix("ror_id").alias("_ror_id"),
                F.col("continent").alias("_continent"),
                F.col("country").alias("_country"),
                F.col("state").alias("_state"),
            )
            self._cache["institutions"] = dim.persist()
        return self._cache["institutions"]

    def _enrich(self, df: DataFrame, source_name: str) -> DataFrame:
        """E2: broadcast-join institution enrichment with fail-fast parity —
        an unknown institution aborts the load, exactly like the reference's
        KeyError / collected-report paths (assets_generator.py:350,389-394,
        434-437,487-492,521).

        The unknown-institution count rides on the FIRST real action over
        the enriched frame via ``df.observe`` (a CollectMetrics node), so
        validation costs zero extra scans — at 100 TB the old eager
        ``.collect()`` probe was 3+ full corpus passes before any write.
        ``write()`` (and ``check_validations()``) raise after the action.
        """
        joined = df.join(F.broadcast(self.institutions), "institution", "left")
        obs = Observation()
        joined = joined.observe(
            obs,
            F.count(F.when(F.col("_country").isNull(), 1)).alias("n_unknown"),
            F.slice(F.sort_array(F.collect_set(
                F.when(F.col("_country").isNull(), F.col("institution")))),
                1, 20).alias("examples"))
        self._pending_checks.append(("unknown_institution", source_name, obs))
        return joined

    def check_validations(self) -> None:
        """Raise the first tripped fail-fast check. Call after an action has
        materialized the enriched frames (``write`` does this for every
        source); an Observation whose plan never ran would block, which is
        the documented contract of ``Observation.get``."""
        checks, self._pending_checks = self._pending_checks, []
        for kind, source_name, obs in checks:
            vals = obs.get
            if kind == "unknown_institution" and vals["n_unknown"] > 0:
                names = ", ".join(vals["examples"])
                raise UnknownInstitutionError(
                    f"institutions not found in institutions file while "
                    f"processing {source_name}: {names}")
            if kind == "publication_key" and vals["n_missing"] > 0:
                raise ValueError(
                    "could not extract a publication key (doi and url both "
                    f"missing) for row: {vals['example']}")

    @staticmethod
    def _project(df: DataFrame, columns: list[str]) -> DataFrame:
        """Align to a cube schema: select declared columns, NULL-fill any
        the source lacks (the reference's missing-dict-key -> SQL NULL)."""
        cols = [
            F.col(c) if c in df.columns else F.lit(None).cast("string").alias(c)
            for c in columns
        ]
        return df.select(*cols)

    # -- enriched sources (shared by several cubes) --------------------------

    def apc_enriched(self) -> DataFrame:
        """APC rows + colon scrub + country/institution_ror enrichment +
        float euro (assets_generator.py:511-529)."""
        if "apc_enriched" not in self._cache:
            df = self._read_csv(self.paths.apc)
            df = scrub_colons(df, "journal_full_title")
            df = self._enrich(df, "APC file")
            df = (df.withColumn("country", F.col("_country"))
                    .withColumn("institution_ror", F.col("_ror_id"))
                    .withColumn("euro", F.col("euro").cast("double")))
            self._cache["apc_enriched"] = df.persist()
        return self._cache["apc_enriched"]

    def ta_enriched(self) -> DataFrame:
        """TA rows + colon scrub + country (assets_generator.py:420-446)."""
        if "ta_enriched" not in self._cache:
            df = self._read_csv(self.paths.transformative_agreements)
            df = scrub_colons(df, "journal_full_title")
            df = self._enrich(df, "Transformative Agreements file")
            df = df.withColumn("country", F.col("_country"))
            self._cache["ta_enriched"] = df.persist()
        return self._cache["ta_enriched"]

    def bpc_enriched(self) -> DataFrame:
        """E15: BPC rows + book-title scrub + country
        (assets_generator.py:343-356)."""
        if "bpc_enriched" not in self._cache:
            df = self._read_csv(self.paths.bpc)
            df = scrub_colons(df, "book_title")
            df = self._enrich(df, "BPC file")
            df = (df.withColumn("country", F.col("_country"))
                    .withColumn("euro", F.col("euro").cast("double")))
            self._cache["bpc_enriched"] = df.persist()
        return self._cache["bpc_enriched"]

    # -- static cubes --------------------------------------------------------

    def openapc_cube(self) -> DataFrame:
        return self._project(self.apc_enriched(), schemas.APC_COLUMNS)

    def bpc_cube(self) -> DataFrame:
        return self._project(self.bpc_enriched(), schemas.BPC_COLUMNS)

    def ta_cube(self) -> DataFrame:
        return self._project(self.ta_enriched(), schemas.TA_COLUMNS)

    def combined_cube(self) -> DataFrame:
        """T1+E11: openapc ∪ TA-rows-with-cost, aligned to the APC schema
        (TA rows carry no institution_ror -> NULL, matching the reference's
        missing-key insert; assets_generator.py:302-306,445-446,529)."""
        apc = self._project(self.apc_enriched(), schemas.APC_COLUMNS)
        ta = (self.ta_enriched()
              .filter(F.col("euro") != "NA")
              .withColumn("euro", F.col("euro").cast("double")))
        ta = self._project(
            ta, [c for c in schemas.APC_COLUMNS if c != "euro"] + ["euro"])
        return apc.unionByName(ta.select(*schemas.APC_COLUMNS))

    def doi_lookup_cube(self) -> DataFrame:
        """E13: DOI -> record index across apc/ta/bpc; euro kept as STRING
        (assets_generator.py:263-271,352-356,442-444,526-528,593-603)."""
        parts = [doi_lookup_select(src, cube_name)
                 for src, cube_name in
                 ((self.apc_enriched(), "openapc"),
                  (self.bpc_enriched(), "bpc"),
                  (self.ta_enriched(), "transformative_agreements"))]
        out = parts[0]
        for p in parts[1:]:
            out = out.unionByName(p)
        return out

    def additional_costs_long(self) -> DataFrame:
        """E16 output: (doi, cost_type, euro double)."""
        return melt_additional_costs(
            self._read_csv(self.paths.additional_costs))

    # -- diagnostics (T10/T11) -------------------------------------------------

    def institutions_by_cube_type(self) -> DataFrame:
        """T10: sorted distinct institutions per non-apc cube type — the
        reference's console report (assets_generator.py:664-676).
        Output: (cube_type, institutions array<string>).

        Built like the manifest, from the enriched frames and the raw
        opt-out files, never from the cube plans: those register
        observations that only fire when the cube is written, so ``write``
        after an uncollected report would wait on them. The deal set is the
        participants plus the APC-side DEAL rows."""
        deal = self._deal_participants()
        for brand, start_year in (
                ("Wiley-Blackwell", DEAL_WILEY_START_YEAR),
                ("Springer Nature", DEAL_SPRINGER_START_YEAR)):
            deal = deal.unionByName(
                self._apc_deal(brand, start_year).select("institution"))
        return institutions_report({
            "apc_ac": self._ac_institutions(),
            "bpc": self.bpc_enriched(),
            "ta": self.ta_enriched(),
            "deal": deal,
        })

    def additional_cost_institutions(self) -> DataFrame:
        """T11: institutions having >=1 APC row whose DOI carries additional
        costs (assets_generator.py:723-736) — a left-semi join, so the fact
        side never materializes the match."""
        return institutions_with_additional_costs(
            self.apc_enriched(), self.additional_costs_long())

    def openapc_ac_cube(self) -> DataFrame:
        """E17+E5+E6: one 'apc' row per publication plus one row per
        additional cost item joined by DOI (assets_generator.py:532-546).

        The per-DOI cost table is tiny relative to the fact table ->
        broadcast the melted costs so the explode join never shuffles the
        100 TB side.
        """
        apc = self.apc_enriched().withColumn("publication_key",
                                             publication_key())
        obs = Observation()
        key_null = F.col("publication_key").isNull()
        apc = apc.observe(
            obs,
            F.count(F.when(key_null, 1)).alias("n_missing"),
            F.min(F.when(key_null, F.to_json(F.struct("institution", "period",
                                                      "doi", "url"))))
             .alias("example"))
        self._pending_checks.append(("publication_key", "APC file", obs))
        apc_rows = (apc.withColumn("cost_type", F.lit("apc"))
                       .withColumn("cost_category", F.lit("APC")))
        costs = self.additional_costs_long()
        cost_rows = (apc.drop("euro")
                     .join(F.broadcast(costs), "doi", "inner")
                     .withColumn("cost_category", F.lit("Additional Cost")))
        return (self._project(apc_rows, schemas.APC_AC_COLUMNS)
                .unionByName(self._project(cost_rows, schemas.APC_AC_COLUMNS)))

    # -- the DEAL cube (T2: 4-way union) --------------------------------------

    def _opt_out(self, path: str, brand: str, halve: bool) -> DataFrame:
        """Opt-out source: opt_out=TRUE + imprint normalization (+ 2019
        halving for Wiley) + country (assets_generator.py:382-418)."""
        df = self._read_csv(path)
        df = df.withColumn("opt_out", F.lit("TRUE"))
        df = normalize_imprints(df, brand)
        df = self._enrich(df, f"{brand} opt-out file")
        df = df.withColumn("country", F.col("_country"))
        df = df.withColumn("euro", F.col("euro").cast("double"))
        if halve:
            df = halve_2019_euro(df)
        return df

    def _ta_deal(self, brand: str, halve: bool) -> DataFrame:
        """E10: TA rows routed to deal by agreement value, opt_out=FALSE
        (assets_generator.py:447-469)."""
        df = (self.ta_enriched()
              .filter(F.col("agreement") == DEAL_AGREEMENTS[brand])
              .withColumn("opt_out", F.lit("FALSE"))
              .withColumn("euro", F.expr("try_cast(euro AS double)")))
        if halve:
            df = halve_2019_euro(df)
        return normalize_imprints(df, brand)

    def _apc_deal(self, brand: str, start_year: int) -> DataFrame:
        """E9: APC-side DEAL eligibility — imprint ∧ DEU ∧ not-hybrid ∧
        period strictly after the start year (assets_generator.py:547-562)."""
        df = (self.apc_enriched()
              .filter(F.col("publisher").isin(DEAL_IMPRINTS[brand])
                      & (F.col("country") == "DEU")
                      & (F.col("is_hybrid") == "FALSE")
                      & (F.col("period").cast("int") > F.lit(start_year)))
              .withColumn("opt_out", F.lit("FALSE")))
        return normalize_imprints(df, brand)

    def deal_cube(self) -> DataFrame:
        parts = [
            self._opt_out(self.paths.wiley_opt_out, "Wiley-Blackwell", halve=True),
            self._opt_out(self.paths.springer_opt_out, "Springer Nature", halve=False),
            self._ta_deal("Wiley-Blackwell", halve=True),
            self._ta_deal("Springer Nature", halve=False),
            self._apc_deal("Wiley-Blackwell", DEAL_WILEY_START_YEAR),
            self._apc_deal("Springer Nature", DEAL_SPRINGER_START_YEAR),
        ]
        out = self._project(parts[0], schemas.DEAL_COLUMNS)
        for p in parts[1:]:
            out = out.unionByName(self._project(p, schemas.DEAL_COLUMNS))
        return out

    # -- build + write ---------------------------------------------------------

    def build_all(self) -> dict[str, DataFrame]:
        """The seven cube plans, built once per load and written by
        ``write``: the ``openapc_ac`` and ``deal`` plans register checks
        that only an action over that very plan fires, so a second build
        would leave the first one's checks waiting in
        ``check_validations``."""
        if self._cubes is None:
            self._cubes = {
                "openapc": self.openapc_cube(),
                "openapc_ac": self.openapc_ac_cube(),
                "bpc": self.bpc_cube(),
                "transformative_agreements": self.ta_cube(),
                "combined": self.combined_cube(),
                "deal": self.deal_cube(),
                "doi_lookup": self.doi_lookup_cube(),
            }
        return self._cubes

    def _ac_institutions(self) -> DataFrame:
        """T7: institutions with an APC row whose DOI has a non-'apc' cost —
        the institutions of openapc_ac's non-'apc' rows."""
        return institutions_with_additional_costs(
            self.apc_enriched(),
            self.additional_costs_long().filter(F.col("cost_type") != "apc"))

    def _deal_participants(self) -> DataFrame:
        """T8: institutions in an opt-out file or on a TA-DEAL row (NOT the
        APC-side rows; the reference sets the flag only at
        :401,418,459,469)."""
        return (
            self._read_csv(self.paths.wiley_opt_out).select("institution")
            .unionByName(self._read_csv(self.paths.springer_opt_out)
                         .select("institution"))
            .unionByName(self.ta_enriched()
                         .filter(F.col("agreement")
                                 .isin(*DEAL_AGREEMENTS.values()))
                         .select("institution")))

    def institutional_manifest(self) -> DataFrame:
        """S6+T7+T8+T9: which (institution, cube_type) pairs exist, with
        priorities — the reference's institutional_cubes.csv
        (assets_generator.py:39,574-585,644-662,678-702).

        Institutional cubes exist only for institutions with a cubes_name
        (:682-683); apc_ac is pruned when ALL of an institution's rows are
        plain 'apc' (T7, :644-654); deal is pruned for non-participants
        (T8, :655-662). Priority = rank within the fixed type order among
        the types that institution actually has (T9, :697-702).

        Built from the persisted enriched frames plus two small raw reads
        (the additional-costs and opt-out files), never from the cube plans:
        openapc_ac's non-'apc' rows are exactly the APC rows whose DOI has a
        numeric non-'apc' cost, and every participant row is a deal row.
        """
        def present(df: DataFrame, cube_type: str) -> DataFrame:
            return (df.select("institution").distinct()
                    .withColumn("cube_type", F.lit(cube_type)))

        # T7: apc_ac only where a non-'apc' cost row exists; T8: deal only
        # for participants
        frames = [present(self.apc_enriched(), "apc"),
                  present(self._ac_institutions(), "apc_ac"),
                  present(self.bpc_enriched(), "bpc"),
                  present(self.ta_enriched(), "ta"),
                  present(self._deal_participants(), "deal")]

        all_pairs = frames[0]
        for f in frames[1:]:
            all_pairs = all_pairs.unionByName(f)

        inst = self.institutions
        pairs = (all_pairs
                 .join(F.broadcast(inst), "institution", "inner")
                 .filter(F.col("_cube_name").isNotNull()
                         & (F.col("_cube_name") != "NA")
                         & (F.col("_cube_name") != "")))

        # T9: priority = rank of cube_type in CUBES_PRIORITIES among present
        order = F.array(*[F.lit(t) for t in CUBES_PRIORITIES])
        w = (Window.partitionBy("institution")
             .orderBy(F.array_position(order, F.col("cube_type"))))
        return (pairs
                .withColumn("priority", F.row_number().over(w) - 1)
                .select(
                    "institution",
                    F.when(F.col("cube_type") == "apc", F.col("_cube_name"))
                     .otherwise(F.concat_ws("_", "_cube_name", "cube_type"))
                     .alias("cube_name"),
                    F.col("_full_name").alias("full_name"),
                    "cube_type", "priority"))

    @staticmethod
    def with_fact_id(df: DataFrame) -> DataFrame:
        """Stable ``fid`` for Q13 / deterministic pagination: a content hash
        of the full row. The reference gets this from the autoincrement
        insert id; a content hash is reproducible AND distributed (a global
        row_number would serialize the write through one partition).
        Byte-identical rows share an id — /fact/<id> then returns the first.
        """
        cols = [F.coalesce(F.col(c).cast("string"), F.lit("")) for c in df.columns]
        return df.withColumn("fid", F.xxhash64(F.concat_ws("\x1f", *cols)))

    def write(self, out_dir: str) -> None:
        """Materialize each cube as Parquet, plus the manifest CSV. Rows are
        rebalanced by institution (AQE sizes the files: one per cube at
        fixture and benchmark scale) and sorted by (institution, period)
        inside each file, so an institutional slice or a period cut skips
        row groups by their min/max stats. Trade-off: every scan opens few
        files, but an institutional slice reads each row group whose
        institution range covers it (the whole file while a cube is one row
        group) instead of one directory of its own. The persisted frames are
        released when it returns or raises."""
        try:
            for name, df in self.build_all().items():
                (self.with_fact_id(df)
                 .hint("rebalance", "institution")
                 .sortWithinPartitions("institution", "period")
                 .write.mode("overwrite")
                 .parquet(os.path.join(out_dir, name)))
            (self.institutional_manifest()
             .coalesce(1).write.mode("overwrite")
             .option("header", True)
             .csv(os.path.join(out_dir, "institutional_cubes")))
            # The write actions above materialized every enriched source, so
            # all observations have fired; raises on the first tripped check
            # (reference abort parity, at zero extra scan cost).
            self.check_validations()
        finally:
            for df in self._cache.values():
                df.unpersist()
            self._cache.clear()
            self._cubes = None
            # after a failed write some observed plans never ran, and
            # Observation.get would block on them
            self._pending_checks = []
