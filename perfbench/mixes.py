"""Closed-loop client plans for the two traffic mixes.

A plan is one generator per client. It yields a ``Req``, is sent the
``Response`` of that request, and yields the next, so a follow-up request
(the last page of a paged drilldown, a fact fetched by an id seen in an
earlier page) can depend on an earlier answer. Parameter values come from
the served corpus through the oracle, ranked by how many rows they cover.
The sequence of request shapes is fixed per workload; the seed draws the
parameters (cut values, which page). So runs of different seeds send the
same mix of shapes with different values.

Each request carries its shape. Requests marked ``required`` are sent even
after the measured window has closed, so every run sends every shape in
``REQUIRED_SHAPES``; run.py counts the shapes of each run and fails a run
that misses one.

treemap: one client replays treemap-site sessions on institutional cubes, a
    Zipf-weighted pool of sessions, so most requests repeat an earlier one.
explore: ``nproc`` clients send researcher/scripted calls in the shapes of
    the slicer HOWTO queries 10-14 on the full static cubes with fresh
    random parameters, so almost no request repeats.
"""

from __future__ import annotations

import collections
import itertools
import math
import random
from dataclasses import dataclass, field
from urllib.parse import quote, urlencode

# Treemap hierarchies: (filter dimensions, drilldown chain) per cube type,
# as in the treemap YAML the program generates for each institution
# (HIERARCHY_SPECS in openapc_olap_spark/etl/yamls.py).
TREEMAP_SPECS = {
    "apc": (["period", "is_hybrid"], ["publisher", "journal_full_title", "doi"]),
    "apc_ac": (["period", "is_hybrid", "cost_category"],
               ["publisher", "journal_full_title", "doi", "cost_type"]),
    "bpc": (["period", "country", "backlist_oa", "doab"],
            ["publisher", "book_title", "doi"]),
    "ta": (["period", "is_hybrid"], ["agreement", "journal_full_title", "doi"]),
    "deal": (["period", "is_hybrid", "opt_out"],
             ["publisher", "journal_full_title", "doi"]),
}
# Assumed, not measured (no public record of the treemap site's traffic
# exists to derive them from): how many distinct sessions a run replays,
# how skewed their popularity is, and how often a visitor sets the period
# and is_hybrid filters before drilling down.
TREEMAP_POOL = 6
TREEMAP_POOL_ZIPF_S = 1.5
TREEMAP_PERIOD_CUT = 0.6
TREEMAP_HYBRID_CUT = 0.3
# Leading treemap requests sent whatever the timing, so every run measures
# at least the same requests and a slow host does not change the mix
TREEMAP_REQUIRED = 16
EXPLORE_CHECKED = 12        # leading shapes per explore client checked
                            # against the oracle (all are checked for shape)


@dataclass
class Req:
    path: str
    params: dict = field(default_factory=dict)
    checked: bool = False          # compare with the oracle's answer
    expect_row: dict | None = None  # /fact/<id>: the facts row the id came from
    shape: str = ""
    required: bool = False         # sent even after the measured window

    @property
    def url(self) -> str:
        if not self.params:
            return self.path
        return self.path + "?" + urlencode(self.params, quote_via=quote,
                                           safe=":|~;!")

    @property
    def category(self) -> str:
        if self.path.endswith("/aggregate"):
            return "aggregate"
        if self.path.endswith("/facts") and "/doi_lookup/" not in self.path:
            return "facts"
        return "lookup"


def _weighted(rng: random.Random, items: list, weights: list):
    return rng.choices(items, weights=weights, k=1)[0]


def _zipf_pick(rng: random.Random, items: list, s: float = 1.0):
    return _weighted(rng, items, [1.0 / (r ** s) for r in range(1, len(items) + 1)])


def _ranked(rng: random.Random, values: list, head: int = 10):
    """One of the ``head`` most frequent values, the more frequent likelier."""
    return _zipf_pick(rng, values[:head])


# -- treemap -----------------------------------------------------------------

def _treemap_session(orc, rng: random.Random, cube: str, ctype: str) -> list[Req]:
    filters, chain = TREEMAP_SPECS[ctype]
    base = f"/cube/{cube}"
    reqs = [Req(f"{base}/model", shape="model")]
    reqs += [Req(f"{base}/members/{f}", shape="members") for f in filters]
    cuts = []
    periods = [v for v, _ in orc.values(cube, None, "period")]
    if periods and rng.random() < TREEMAP_PERIOD_CUT:
        cuts.append(f"period:{_ranked(rng, periods, 8)}")
    if "is_hybrid" in filters and rng.random() < TREEMAP_HYBRID_CUT:
        cuts.append(f"is_hybrid:{rng.choice(['TRUE', 'FALSE'])}")
    for level, dim in enumerate(chain):
        params = {"drilldown": dim}
        if cuts:
            params["cut"] = "|".join(cuts)
        reqs.append(Req(f"{base}/aggregate", params, shape="aggregate"))
        if level == len(chain) - 1:
            break
        values = orc.values(cube, params.get("cut"), dim)
        if not values:
            break
        cuts.append(f"{dim}:{_ranked(rng, [v for v, _ in values])}")
    # the site's table of the records under the deepest cell
    reqs.append(Req(f"{base}/facts", {"cut": "|".join(cuts), "pagesize": 50},
                    shape="facts"))
    return reqs


def treemap(orc, clients: int, seed: int):
    """One client (``clients`` is fixed at 1 by the workload) replaying a
    Zipf-weighted pool of treemap sessions; every request is checked."""
    shapes, rng = random.Random(1), random.Random(seed)
    inst_cubes = [(n, t) for n, (t, _, inst) in orc.cubes.items() if inst]
    # popular institutions first: order cubes by their row count
    sizes = {n: orc.query(f"SELECT COUNT(*) FROM {orc.cubes[n][1]} "
                          "WHERE institution = ?", [orc.cubes[n][2]])[0][0]
             for n, _ in inst_cubes}
    inst_cubes.sort(key=lambda c: (-sizes[c[0]], c[0]))
    # a session's hierarchy type is drawn in proportion to how many
    # institutional cubes of that type the manifest holds
    type_counts = collections.Counter(t for _, t in inst_cubes)
    pool = []
    for _ in range(TREEMAP_POOL):
        ctype = _weighted(shapes, list(type_counts), list(type_counts.values()))
        cube, ctype = _zipf_pick(shapes, [c for c in inst_cubes if c[1] == ctype])
        pool.append(_treemap_session(orc, rng, cube, ctype))

    def client(cid: int):
        crng = random.Random(1009 + cid)       # the replay order, fixed
        yield Req("/cubes", checked=True, shape="cubes", required=True)
        n = 1
        while True:
            for req in _zipf_pick(crng, pool, TREEMAP_POOL_ZIPF_S):
                yield Req(req.path, req.params, checked=True, shape=req.shape,
                          required=n < TREEMAP_REQUIRED)
                n += 1
    return [client(0)]


# -- explore -----------------------------------------------------------------

def _domain(orc) -> dict:
    """Dimension values, most rows first."""
    def ranked(table, dim):
        return [r[0] for r in orc.query(
            f'SELECT "{dim}" FROM {table} GROUP BY 1 ORDER BY COUNT(*) DESC, 1', [])]
    return {
        "institutions": ranked("openapc", "institution"),
        "countries": ranked("combined", "country"),
        "periods": ranked("openapc", "period"),
        "publishers": ranked("combined", "publisher"),
        "journals": ranked("openapc", "journal_full_title"),
        "dois": ranked("doi_lookup", "doi"),
    }


# The explore shapes, one group of dependent requests per entry, as one
# script per client (for 4 clients; with another count the groups are dealt
# round-robin). Every client sends its script first, as required requests,
# so each run covers every shape whatever the timing; the scripts are
# balanced to take about the same time. Then each client cycles through all
# groups from its own offset until the measured window closes.
SCRIPTS = [
    [["facts_json", "fact"], ["doi_miss"], ["institution_summary"]],
    [["last_page"], ["doi_hit"], ["range_publishers"]],
    [["journals"], ["cost_types"], ["members"], ["country_institutions"]],
    [["dois"], ["deal"], ["facts_csv"]],
]
GROUPS = [g for lane in itertools.zip_longest(*SCRIPTS) for g in lane if g]

REQUIRED_SHAPES = {
    "treemap": {"cubes", "model", "members", "aggregate", "facts"},
    "explore": {"cubes", "last_page_end"} | {k for g in GROUPS for k in g},
}


def _explore_shape(kind: str, dom: dict, rng: random.Random, seen_rows: list,
                   checked: bool, required: bool):
    """The requests of one shape; a generator, sent each response."""
    def req(path, params=None, shape=kind, **kw):
        return Req(path, params or {}, checked, shape=shape, required=required, **kw)
    years = sorted(int(p) for p in dom["periods"])

    def span():
        a = int(_ranked(rng, dom["periods"]))
        return f"{a}~{min(a + rng.randrange(1, 6), years[-1])}"

    if kind == "fact" and not seen_rows:
        kind = "doi_hit"
    if kind == "institution_summary":          # HOWTO 10
        yield req("/cube/openapc/aggregate",
                  {"cut": f"institution:{_ranked(rng, dom['institutions'])}"})
    elif kind == "range_publishers":           # HOWTO 11: range cut, ordered, paged
        yield req("/cube/openapc/aggregate",
                  {"cut": f"period:{span()}", "drilldown": "publisher",
                   "order": "apc_num_items:desc", "pagesize": 50})
    elif kind == "country_institutions":       # HOWTO 12
        yield req("/cube/combined/aggregate",
                  {"drilldown": "institution",
                   "cut": f"country:{_ranked(rng, dom['countries'], 4)}"})
    elif kind == "last_page":                  # HOWTO 13, paged to the end
        params = {"drilldown": "publisher|institution",
                  "cut": f"country:{_ranked(rng, dom['countries'], 4)}|"
                         f"period:{span()}",
                  "order": "apc_num_items", "pagesize": rng.choice([10, 20, 50]),
                  "page": 0}
        resp = yield req("/cube/openapc/aggregate", params)
        total = (resp.json or {}).get("total_cell_count", 0) if resp else 0
        last = max(0, math.ceil(total / params["pagesize"]) - 1)
        yield req("/cube/openapc/aggregate", dict(params, page=last),
                  shape="last_page_end")
    elif kind == "journals":                   # high cardinality, set cut
        yield req("/cube/openapc/aggregate",
                  {"drilldown": "journal_full_title",
                   "cut": "period:" + ";".join(rng.sample(dom["periods"][:10], 3)),
                   "order": "apc_num_items:desc", "pagesize": 100})
    elif kind == "dois":                       # highest cardinality, negated cut
        yield req("/cube/combined/aggregate",
                  {"drilldown": "doi", "cut": f"!country:DEU|period:{span()}",
                   "order": "apc_amount_sum:desc", "pagesize": 100})
    elif kind == "cost_types":                 # count_distinct
        yield req("/cube/openapc_ac/aggregate",
                  {"drilldown": "cost_type", "cut": f"period:{span()}"})
    elif kind == "deal":
        yield req("/cube/deal/aggregate",
                  {"drilldown": "publisher|opt_out", "cut": f"period:{span()}",
                   "order": "apc_num_items:desc"})
    elif kind == "facts_csv":
        yield req("/cube/combined/facts",
                  {"cut": f"publisher:{_ranked(rng, dom['publishers'])}|"
                          f"period:{_ranked(rng, dom['periods'])}",
                   "format": "csv", "pagesize": 100, "page": rng.choice([0, 0, 1])})
    elif kind == "facts_json":
        resp = yield req("/cube/openapc/facts",
                         {"cut": f"journal_full_title:{_ranked(rng, dom['journals'], 200)}",
                          "pagesize": 50})
        if resp and isinstance(resp.json, list):
            seen_rows[:] = (seen_rows + resp.json)[-200:]
    elif kind == "fact":
        row = rng.choice(seen_rows)
        yield Req(f"/cube/openapc/fact/{row['fid']}", expect_row=row, shape=kind,
                  required=required)
    elif kind == "members":
        yield req("/cube/openapc/members/journal_full_title",
                  {"pagesize": 100, "page": rng.randrange(3)})
    elif kind == "doi_hit":                    # HOWTO 14
        yield req("/cube/doi_lookup/facts",
                  {"cut": f"doi:{dom['dois'][rng.randrange(len(dom['dois']))]}"})
    elif kind == "doi_miss":
        yield req("/cube/doi_lookup/facts",
                  {"cut": f"doi:10.9999/missing.{rng.randrange(10 ** 6)}"})
    else:
        raise ValueError(f"unknown explore shape {kind}")


def _explore_client(dom: dict, cid: int, clients: int, seed: int):
    rng = random.Random(seed * 7919 + cid)
    seen_rows: list[dict] = []
    if cid == 0:
        yield Req("/cubes", checked=True, shape="cubes", required=True)
    script = SCRIPTS[cid] if clients == len(SCRIPTS) else GROUPS[cid::clients]
    offset = cid * len(GROUPS) // clients
    cycle = itertools.cycle(GROUPS[offset:] + GROUPS[:offset])
    groups = itertools.chain(((g, True) for g in script), ((g, False) for g in cycle))
    n = 0
    for group, required in groups:
        for kind in group:
            yield from _explore_shape(kind, dom, rng, seen_rows,
                                      n < EXPLORE_CHECKED, required)
            n += 1


def explore(orc, clients: int, seed: int):
    dom = _domain(orc)
    return [_explore_client(dom, cid, clients, seed) for cid in range(clients)]


MIXES = {"treemap": treemap, "explore": explore}
