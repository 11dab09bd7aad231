"""Independent answers: DuckDB over the generated CSVs.

Each cube is re-derived from the raw CSVs in SQL, restating the ETL rules
(FIXTURES.md, the reference's assets_generator.py) rather than importing the
program, and slicer requests are answered on those tables. A request is
``(path, params)`` as the client sends it; answers are plain Python values
compared by ``compare`` with a float tolerance.
"""

from __future__ import annotations

import math
import os

import duckdb

from corpus import SPRINGER, WILEY

FACTS_URL = "https://olap.openapc.net/cube/{}/facts?cut=doi:"
PAGE_LIMIT = 500

_APC = [("apc_amount_sum", "SUM(euro)"), ("apc_num_items", "COUNT(*)"),
        ("apc_amount_avg", "AVG(euro)"), ("apc_amount_stddev", "STDDEV_SAMP(euro)")]
AGGREGATES = {
    "apc": _APC, "deal": _APC,
    "apc_ac": [("apc_amount_sum", "SUM(euro)"),
               ("apc_num_items", "COUNT(DISTINCT publication_key)"),
               ("cost_data_num_items", "COUNT(*)"),
               ("apc_amount_avg", "AVG(euro)"),
               ("apc_amount_stddev", "STDDEV_SAMP(euro)")],
    "bpc": [("bpc_amount_sum", "SUM(euro)"), ("bpc_num_items", "COUNT(*)"),
            ("bpc_amount_avg", "AVG(euro)"), ("bpc_amount_stddev", "STDDEV_SAMP(euro)")],
    "ta": [("num_items", "COUNT(*)")],
    "doi_lookup": [("num_items", "COUNT(*)")],
}
# aggregates whose cell values add up to the summary value
ADDITIVE = {"apc_amount_sum", "bpc_amount_sum", "cost_data_num_items", "num_items",
            "bpc_num_items"}
# static cube name -> (cube type, table)
STATIC = {"openapc": ("apc", "openapc"), "openapc_ac": ("apc_ac", "openapc_ac"),
          "bpc": ("bpc", "bpc"), "transformative_agreements": ("ta", "ta"),
          "deal": ("deal", "deal"), "combined": ("apc", "combined"),
          "doi_lookup": ("doi_lookup", "doi_lookup")}
TYPE_TABLE = {"apc": "openapc", "apc_ac": "openapc_ac", "bpc": "bpc",
              "ta": "ta", "deal": "deal"}
REGISTERED_ONLY = ["springer_compact_coverage"]     # registered, no table

_APC_COLS = ["institution", "period", "euro", "doi", "is_hybrid", "publisher",
             "journal_full_title", "issn", "issn_print", "issn_electronic",
             "issn_l", "license_ref", "indexed_in_crossref", "pmid", "pmcid",
             "ut", "url", "doaj", "country", "institution_ror"]


def _sql_list(values) -> str:
    return ", ".join("'" + v.replace("'", "''") + "'" for v in values)


def _halve(col: str) -> str:
    """round-half-even(euro / 2) to cents, in exact integer cents."""
    c = f"CAST(round({col} * 100) AS BIGINT)"
    return (f"(CASE WHEN {c} % 2 = 0 OR ({c} // 2) % 2 = 0 THEN {c} // 2 "
            f"ELSE {c} // 2 + 1 END) / 100.0")


def _normalize(brand: str, imprints: list[str]) -> str:
    return (f"CASE WHEN publisher IN ({_sql_list(imprints)}) THEN '{brand}' "
            "ELSE publisher END AS publisher")


# -- the cut grammar, restated ------------------------------------------------

def parse_cuts(param: str | None) -> list[tuple]:
    """``[!]dim:value``, ``dim:a;b``, ``dim:lo~hi`` joined by ``|`` ->
    (kind, dim, value(s), inverted) tuples."""
    cuts = []
    for tok in (param or "").split("|"):
        if not tok:
            continue
        inv = tok.startswith("!")
        dim, spec = tok.lstrip("!").split(":", 1)
        if "~" in spec:
            lo, hi = spec.split("~", 1)
            cuts.append(("range", dim, (lo or None, hi or None), inv))
        elif ";" in spec:
            cuts.append(("set", dim, tuple(v for v in spec.split(";") if v), inv))
        else:
            cuts.append(("point", dim, spec, inv))
    return cuts


def _intlike(s) -> bool:
    try:
        int(s)
        return True
    except (TypeError, ValueError):
        return False


def cut_holds(cut: tuple, value) -> bool:
    """Whether a returned row's value satisfies a cut (NULL never does)."""
    kind, _, arg, inv = cut
    if value is None:
        return False
    value = str(value)
    if kind == "point":
        ok = value == arg
    elif kind == "set":
        ok = value in arg
    else:
        lo, hi = arg
        if all(_intlike(b) for b in arg if b is not None):
            if not _intlike(value):
                return False
            v = int(value)
            ok = (lo is None or v >= int(lo)) and (hi is None or v <= int(hi))
        else:
            ok = (lo is None or value >= lo) and (hi is None or value <= hi)
    return ok != inv


def _cut_sql(cut: tuple, params: list) -> str:
    kind, dim, arg, inv = cut
    col = f'"{dim}"'
    if kind == "point":
        params.append(arg)
        pred = f"{col} = ?"
    elif kind == "set":
        params.extend(arg)
        pred = f"{col} IN ({', '.join('?' * len(arg))})"
    else:
        numeric = all(_intlike(b) for b in arg if b is not None)
        c = f"TRY_CAST({col} AS BIGINT)" if numeric else col
        parts = []
        for b, op in zip(arg, (">=", "<=")):
            if b is not None:
                params.append(int(b) if numeric else b)
                parts.append(f"{c} {op} ?")
        pred = " AND ".join(parts)
    return f"(NOT ({pred}))" if inv else f"({pred})"


class Oracle:
    def __init__(self, corpus_dir: str) -> None:
        self.con = duckdb.connect()
        self.con.execute("SET threads TO 2")
        for table, name in (
                ("apc_raw", "apc_de.csv"), ("ta_raw", "transformative_agreements.csv"),
                ("bpc_raw", "bpc.csv"), ("wiley_raw", "deal_wiley_germany_opt_out.csv"),
                ("springer_raw", "deal_springer_nature_germany_opt_out.csv"),
                ("ac_raw", "apc_de_additional_costs.csv"),
                ("inst_raw", "institutions.csv")):
            path = os.path.join(corpus_dir, name).replace("'", "''")
            self.con.execute(
                f"CREATE TABLE {table} AS SELECT * FROM read_csv('{path}', "
                "header=true, all_varchar=true, delim=',', quote='\"', escape='\"')")
        self._derive_cubes()
        self.cubes = self._cube_index()

    # -- the ETL, restated in SQL --------------------------------------------------

    def _derive_cubes(self) -> None:
        x = self.con.execute
        x("""CREATE TABLE inst AS SELECT institution,
               institution_full_name AS full_name, institution_cubes_name AS cube_name,
               CASE WHEN starts_with(ror_id, 'https://ror.org/')
                    THEN substr(ror_id, 17) ELSE 'NA' END AS ror, country
             FROM inst_raw""")
        def enriched(name, raw, replace, extra=""):
            x(f"""CREATE TABLE {name} AS SELECT * REPLACE ({replace}) FROM (
                    SELECT r.*, i.country, i.full_name AS _full_name, i.ror AS _ror
                    {extra} FROM {raw} r LEFT JOIN inst i USING (institution))""")

        scrub = "replace(journal_full_title, ':', '') AS journal_full_title"
        enriched("apc_e", "apc_raw", f"{scrub}, CAST(euro AS DOUBLE) AS euro",
                 ", i.ror AS institution_ror")
        enriched("ta_e", "ta_raw", scrub)
        enriched("bpc_e", "bpc_raw", "replace(book_title, ':', '') AS book_title, "
                 "CAST(euro AS DOUBLE) AS euro")
        apc_cols = ", ".join(f'"{c}"' for c in _APC_COLS)
        x(f"CREATE TABLE openapc AS SELECT {apc_cols} FROM apc_e")
        ta_cols = [c for c in _APC_COLS if c not in ("euro", "institution_ror")]
        x(f"""CREATE TABLE ta AS SELECT {', '.join(ta_cols)}, agreement FROM ta_e""")
        x("""CREATE TABLE bpc AS SELECT institution, period, euro, doi, backlist_oa,
               publisher, book_title, isbn, isbn_print, isbn_electronic, license_ref,
               indexed_in_crossref, doab, country FROM bpc_e""")
        ta_as_apc = ", ".join("CAST(euro AS DOUBLE)" if c == "euro" else
                              "NULL::VARCHAR" if c == "institution_ror" else f'"{c}"'
                              for c in _APC_COLS)
        x(f"""CREATE TABLE combined AS SELECT {apc_cols} FROM apc_e
              UNION ALL SELECT {ta_as_apc} FROM ta_e WHERE euro <> 'NA'""")
        ac_values = [c for c in self._columns("ac_raw") if c != "doi"]
        x(f"""CREATE TABLE costs AS SELECT doi, cost_type,
                TRY_CAST(cost_value AS DOUBLE) AS euro
              FROM (UNPIVOT ac_raw ON {', '.join(f'"{c}"' for c in ac_values)}
                    INTO NAME cost_type VALUE cost_value)
              WHERE TRY_CAST(cost_value AS DOUBLE) IS NOT NULL""")
        pkey = ("CASE WHEN a.doi IS NOT NULL AND a.doi <> '' AND a.doi <> 'NA' "
                "THEN a.doi WHEN a.url IS NOT NULL AND a.url <> '' AND a.url <> 'NA' "
                "THEN regexp_replace(a.url, '^https?://', '') END")
        cost_cols = ", ".join("c.euro" if c == "euro" else f'a."{c}"'
                              for c in _APC_COLS)
        x(f"""CREATE TABLE openapc_ac AS
              SELECT {apc_cols}, 'apc' AS cost_type, 'APC' AS cost_category,
                     {pkey} AS publication_key FROM apc_e a
              UNION ALL
              SELECT {cost_cols}, c.cost_type, 'Additional Cost', {pkey}
              FROM apc_e a JOIN costs c ON a.doi = c.doi""")
        x("""CREATE TABLE optout AS
             SELECT * REPLACE (CAST(euro AS DOUBLE) AS euro) FROM (
               SELECT o.*, i.country, NULL::VARCHAR AS institution_ror,
                      'wiley' AS brand
               FROM wiley_raw o LEFT JOIN inst i USING (institution)
               UNION ALL
               SELECT o.*, i.country, NULL::VARCHAR, 'springer'
               FROM springer_raw o LEFT JOIN inst i USING (institution))""")
        wiley = _normalize("Wiley-Blackwell", WILEY)
        springer = _normalize("Springer Nature", SPRINGER)
        halve = f"CASE WHEN period = '2019' THEN {_halve('euro')} ELSE euro END AS euro"
        ta_deal = ("(SELECT * REPLACE (TRY_CAST(euro AS DOUBLE) AS euro), "
                   "NULL::VARCHAR AS institution_ror FROM ta_e)")
        parts = [
            f"SELECT * REPLACE ({wiley}, {halve}), 'TRUE' AS opt_out "
            "FROM optout WHERE brand = 'wiley'",
            f"SELECT * REPLACE ({springer}), 'TRUE' AS opt_out "
            "FROM optout WHERE brand = 'springer'",
            f"SELECT * REPLACE ({wiley}, {halve}), 'FALSE' AS opt_out FROM {ta_deal} "
            "WHERE agreement = 'DEAL Wiley Germany'",
            f"SELECT * REPLACE ({springer}), 'FALSE' AS opt_out FROM {ta_deal} "
            "WHERE agreement = 'DEAL Springer Nature Germany'",
        ]
        for brand, imprints, start in (("Wiley-Blackwell", WILEY, 2019),
                                       ("Springer Nature", SPRINGER, 2020)):
            parts.append(
                f"SELECT * REPLACE ({_normalize(brand, imprints)}), "
                "'FALSE' AS opt_out FROM apc_e "
                f"WHERE publisher IN ({_sql_list(imprints)}) AND country = 'DEU' "
                f"AND is_hybrid = 'FALSE' AND CAST(period AS INTEGER) > {start}")
        x("CREATE TABLE deal AS " + " UNION ALL ".join(
            f"SELECT {apc_cols}, opt_out FROM ({p})" for p in parts))
        lookup = []
        for src, cube, euro in (("apc_e", "openapc", "CAST(euro AS VARCHAR)"),
                                ("bpc_e", "bpc", "CAST(euro AS VARCHAR)"),
                                ("ta_e", "transformative_agreements", "euro")):
            lookup.append(
                f"SELECT institution, _ror AS institution_ror, "
                f"_full_name AS institution_full_name, {euro} AS euro, period, doi, "
                f"'{FACTS_URL.format(cube)}' || doi AS url FROM {src} "
                "WHERE doi <> 'NA'")
        x("CREATE TABLE doi_lookup AS " + " UNION ALL ".join(lookup))

    def _columns(self, table: str) -> list[str]:
        return [r[0] for r in self.con.execute(f"DESCRIBE {table}").fetchall()]

    def _cube_index(self) -> dict[str, tuple[str, str, str | None]]:
        """cube name -> (type, table, institution or None): the static cubes
        plus the institutional manifest (cubes name set, type present, apc_ac
        only with a non-apc cost row, deal only for DEAL participants)."""
        cubes = {n: (t, tab, None) for n, (t, tab) in STATIC.items()}
        rows = self.con.execute("""
            WITH present AS (
              SELECT DISTINCT institution, 'apc' AS t FROM openapc
              UNION SELECT DISTINCT institution, 'apc_ac' FROM openapc_ac
                    WHERE cost_type <> 'apc'
              UNION SELECT DISTINCT institution, 'bpc' FROM bpc
              UNION SELECT DISTINCT institution, 'ta' FROM ta
              UNION SELECT DISTINCT institution, 'deal' FROM optout
              UNION SELECT DISTINCT institution, 'deal' FROM ta
                    WHERE agreement IN ('DEAL Wiley Germany',
                                        'DEAL Springer Nature Germany'))
            SELECT p.institution, p.t, i.cube_name FROM present p
            JOIN inst i USING (institution)
            WHERE i.cube_name IS NOT NULL AND i.cube_name NOT IN ('NA', '')
            ORDER BY 1, 2""").fetchall()
        for inst, t, slug in rows:
            cubes[slug if t == "apc" else f"{slug}_{t}"] = (t, TYPE_TABLE[t], inst)
        return cubes

    def check_stored(self, cubes_dir: str) -> list[str]:
        """Row count of each static cube as written by the load (its Parquet
        files, read by DuckDB) against the count derived here; one message
        per mismatch."""
        errors = []
        for name, (_, table) in STATIC.items():
            files = os.path.join(cubes_dir, name, "**", "*.parquet").replace("'", "''")
            try:
                got = self.query(f"SELECT COUNT(*) FROM read_parquet('{files}')", [])[0][0]
            except duckdb.Error as e:
                errors.append(f"cube {name}: unreadable ({e})")
                continue
            want = self.query(f"SELECT COUNT(*) FROM {table}", [])[0][0]
            if got != want:
                errors.append(f"cube {name}: {got} rows stored, expected {want}")
        return errors

    def cube_names(self) -> list[str]:
        return sorted(list(self.cubes) + REGISTERED_ONLY)

    def columns(self, cube: str) -> list[str]:
        return self._columns(self.cubes[cube][1])

    # -- answering requests --------------------------------------------------------

    def _where(self, cube: str, cuts: list[tuple], params: list) -> str:
        inst = self.cubes[cube][2]
        preds = []
        if inst is not None:
            params.append(inst)
            preds.append("institution = ?")
        preds += [_cut_sql(c, params) for c in cuts]
        return " WHERE " + " AND ".join(preds) if preds else ""

    def query(self, sql: str, params: list) -> list[tuple]:
        return self.con.execute(sql, params).fetchall()

    def values(self, cube: str, cut: str | None, dim: str) -> list[tuple]:
        """(value, rows) of ``dim`` inside a cube cell, most rows first."""
        params: list = []
        where = self._where(cube, parse_cuts(cut), params)
        return self.query(
            f'SELECT "{dim}", COUNT(*) AS n FROM {self.cubes[cube][1]}{where} '
            f'GROUP BY 1 HAVING "{dim}" IS NOT NULL ORDER BY n DESC, 1', params)

    def answer(self, path: str, q: dict) -> dict | None:
        """Expected answer of a slicer GET (aggregate, facts, members,
        cubes); None for the endpoints checked by shape only."""
        parts = [p for p in path.split("/") if p]
        if parts == ["cubes"]:
            return {"names": self.cube_names()}
        cube, endpoint = parts[1], parts[2]
        if endpoint not in ("aggregate", "facts", "members"):
            return None
        ctype, table, _ = self.cubes[cube]
        size = min(int(q.get("pagesize") or PAGE_LIMIT), PAGE_LIMIT)
        offset = int(q.get("page") or 0) * size
        cuts = parse_cuts(q.get("cut"))
        params: list = []
        where = self._where(cube, cuts, params)
        if endpoint == "members":
            dim = parts[3]
            rows = self.query(f'SELECT DISTINCT "{dim}" FROM {table}{where} '
                              f'ORDER BY 1 ASC NULLS FIRST LIMIT {size} '
                              f'OFFSET {offset}', params)
            return {"members": [r[0] for r in rows]}
        if endpoint == "facts":
            total = self.query(f"SELECT COUNT(*) FROM {table}{where}", params)[0][0]
            out = {"rows": max(0, min(size, total - offset)), "total": total,
                   "columns": self.columns(cube) + ["fid"]}
            if total <= size and offset == 0:
                cols = self.columns(cube)
                out["facts"] = [dict(zip(cols, r)) for r in self.query(
                    f"SELECT * FROM {table}{where}", params)]
            return out
        # aggregate
        aggs = AGGREGATES[ctype]
        agg_sql = ", ".join(f"{expr} AS {name}" for name, expr in aggs)
        drill = [d for d in (q.get("drilldown") or "").split("|") if d]
        if not drill:
            row = self.query(f"SELECT {agg_sql} FROM {table}{where}", params)[0]
            return {"summary": dict(zip([n for n, _ in aggs], row)), "cells": [],
                    "total_cell_count": 0}
        dd = ", ".join(f'"{d}"' for d in drill)
        row = self.query(f"SELECT COUNT(*), {agg_sql} FROM {table}{where}", params)[0]
        summary = dict(zip([n for n, _ in aggs], row[1:])) if row[0] else {}
        order = []
        named = set()
        for term in (q.get("order") or "").split(","):
            if not term:
                continue
            field, _, direction = term.partition(":")
            named.add(field)
            order.append(f'"{field}" DESC NULLS LAST' if direction.lower() == "desc"
                         else f'"{field}" ASC NULLS FIRST')
        order += [f'"{d}" ASC NULLS FIRST' for d in drill if d not in named]
        grouped = f"SELECT {dd}, {agg_sql} FROM {table}{where} GROUP BY {dd}"
        cells = self.query(f"{grouped} ORDER BY {', '.join(order)} "
                           f"LIMIT {size} OFFSET {offset}", params)
        total = self.query(f"SELECT COUNT(*) FROM ({grouped})", params)[0][0]
        names = drill + [n for n, _ in aggs]
        return {"summary": summary, "cells": [dict(zip(names, c)) for c in cells],
                "total_cell_count": total}


def _float(v):
    try:
        return float(v)
    except (TypeError, ValueError):
        return None


def close(a, b) -> bool:
    """Equality with a float tolerance; NaN equals NaN. Numeric strings (the
    string-typed euro of doi_lookup) compare as numbers, since the two
    engines format doubles differently."""
    if isinstance(a, str) and isinstance(b, str) and a != b:
        fa, fb = _float(a), _float(b)
        return fa is not None and fb is not None and close(fa, fb)
    if isinstance(a, float) or isinstance(b, float):
        if a is None or b is None:
            return a is b
        a, b = float(a), float(b)
        if math.isnan(a) or math.isnan(b):
            return math.isnan(a) and math.isnan(b)
        return abs(a - b) <= 1e-6 + 1e-9 * abs(b)
    return a == b


def same_record(got: dict, want: dict, keys=None) -> bool:
    keys = want.keys() if keys is None else keys
    return all(close(got.get(k), want.get(k)) for k in keys)
