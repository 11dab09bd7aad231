"""Seeded OpenAPC-shaped corpus: the seven raw CSVs plus ``institutions.csv``.

Sizes are the real OpenAPC scale (``FULL_SIZES``) times ``SCALE``; value
domains follow FIXTURES.md sections A and C. Institution, journal and (through
the journal -> publisher map) publisher are Zipf-skewed. One process, one
``random.Random(seed)``: the same seed writes byte-identical files.

    python3 perfbench/corpus.py --seed 1 --out DIR
"""

from __future__ import annotations

import argparse
import bisect
import csv
import itertools
import json
import os
import random
import shutil

# Real OpenAPC scale. Every size is multiplied by SCALE so that one run
# (generate + load + serve) fits the benchmark's per-run time budget.
FULL_SIZES = {
    "apc": 300_000, "ta": 500_000, "bpc": 5_000,
    "wiley_opt_out": 10_000, "springer_opt_out": 10_000,
    "additional_cost_dois": 20_000, "institutions": 1_000,
    "journals": 20_000, "publishers": 1_500,
}
SCALE = 0.02
PERIODS = [str(y) for y in range(2005, 2025)]
CUBES_NAME_SHARE = 0.6

WILEY = ["Wiley-Blackwell", "EMBO", "American Geophysical Union (AGU)",
         "International Union of Crystallography (IUCr)",
         "The Econometric Society"]
SPRINGER = ["Springer Nature", "Zhejiang University Press"]
# Zipf rank order of the first publishers; the rest are synthetic.
HEAD_PUBLISHERS = ["Elsevier BV", "Springer Nature", "Wiley-Blackwell",
                   "MDPI AG", "Frontiers Media SA", "Public Library of Science (PLoS)",
                   "Oxford University Press (OUP)", "Copernicus GmbH", "EMBO",
                   "American Geophysical Union (AGU)", "Zhejiang University Press",
                   "International Union of Crystallography (IUCr)",
                   "The Econometric Society", "Hindawi Limited", "IOP Publishing"]
DOI_PREFIX = {"Elsevier BV": "1016", "Springer Nature": "1007",
              "Zhejiang University Press": "1631", "Frontiers Media SA": "3389",
              "MDPI AG": "3390", "Public Library of Science (PLoS)": "1371"}
OTHER_AGREEMENTS = ["Jisc Elsevier UK", "Bibsam Springer Nature Sweden",
                    "Projekt DEAL Elsevier Germany", "FinELib Wiley Finland",
                    "Austrian Academic Consortium IOP"]
COUNTRIES = [("DEU", "Europe", 0.55), ("GBR", "Europe", 0.12),
             ("AUT", "Europe", 0.08), ("CHE", "Europe", 0.06),
             ("SWE", "Europe", 0.05), ("NLD", "Europe", 0.04),
             ("USA", "North America", 0.05), ("CAN", "North America", 0.02),
             ("AUS", "Oceania", 0.03)]
DEU_STATES = ["BW", "BY", "BE", "HB", "HH", "HE", "NI", "NW", "SN", "TH"]
LICENSES = ["CC BY", "CC BY", "CC BY", "CC BY-NC", "CC BY-NC-ND", "CC BY-SA", "NA"]
TOPICS = ["Physics", "Chemistry", "Biology", "Medicine", "Economics", "Ecology",
          "Geosciences", "Mathematics", "Psychology", "Informatik",
          "Sozialforschung", "Énergie", "Neuroscience", "Materials"]

APC_HEADER = ["institution", "period", "euro", "doi", "is_hybrid", "publisher",
              "journal_full_title", "issn", "issn_print", "issn_electronic",
              "issn_l", "license_ref", "indexed_in_crossref", "pmid", "pmcid",
              "ut", "url", "doaj"]
TA_HEADER = APC_HEADER + ["agreement"]
BPC_HEADER = ["institution", "period", "euro", "doi", "backlist_oa",
              "publisher", "book_title", "isbn", "isbn_print",
              "isbn_electronic", "license_ref", "indexed_in_crossref", "doab"]
AC_HEADER = ["doi", "colorpage", "pagecharge", "submissionfee", "other"]
INST_HEADER = ["institution", "institution_full_name", "institution_cubes_name",
               "ror_id", "continent", "country", "state"]

FILES = ["apc_de.csv", "transformative_agreements.csv", "bpc.csv",
         "deal_wiley_germany_opt_out.csv",
         "deal_springer_nature_germany_opt_out.csv",
         "apc_de_additional_costs.csv", "institutions.csv"]


def sizes() -> dict[str, int]:
    return {k: max(1, round(v * SCALE)) for k, v in FULL_SIZES.items()}


def _zipf_cum(n: int, s: float) -> list[float]:
    return list(itertools.accumulate(1.0 / (r ** s) for r in range(1, n + 1)))


class _Picker:
    """Weighted index draws from a cumulative-weight table."""

    def __init__(self, rng: random.Random, cum: list[float]) -> None:
        self.rng, self.cum, self.total = rng, cum, cum[-1]

    def __call__(self) -> int:
        return bisect.bisect_right(self.cum, self.rng.random() * self.total)


class _Generator:
    def __init__(self, seed: int) -> None:
        self.rng = random.Random(seed)
        self.n = sizes()
        self._institutions()
        self._journals()
        # recent years dominate, as in the real data
        self.pick_period = _Picker(self.rng, list(itertools.accumulate(
            1.0 + i for i in range(len(PERIODS)))))
        self.doi_seq = 0
        self.apc_dois: list[str] = []

    # -- dimensions ------------------------------------------------------------

    def _institutions(self) -> None:
        rng = self.rng
        country_cum = list(itertools.accumulate(w for _, _, w in COUNTRIES))
        self.inst_rows = []
        for i in range(self.n["institutions"]):
            c = bisect.bisect_right(country_cum, rng.random() * country_cum[-1])
            country, continent, _ = COUNTRIES[min(c, len(COUNTRIES) - 1)]
            kind = rng.choice(["Universität", "University", "TU", "Hochschule",
                               "Institute"])
            name = f"{kind} {i:04d}"
            cubes = f"inst{i:04d}" if rng.random() < CUBES_NAME_SHARE else "NA"
            ror = (f"https://ror.org/0{rng.randrange(36 ** 6):x}"
                   if rng.random() < 0.85 else rng.choice(["NA", "no-ror"]))
            state = rng.choice(DEU_STATES) if country == "DEU" else "NA"
            self.inst_rows.append([name, f"{name} Full Name", cubes, ror,
                                   continent, country, state])
        self.inst_names = [r[0] for r in self.inst_rows]
        self.deu = [r[0] for r in self.inst_rows if r[5] == "DEU"] or self.inst_names
        # a shuffled rank order so Zipf heads are not always the low ids
        order = list(range(len(self.inst_names)))
        rng.shuffle(order)
        self.inst_by_rank = [self.inst_names[i] for i in order]
        self.pick_inst = _Picker(rng, _zipf_cum(len(order), 1.0))
        self.pick_deu = _Picker(rng, _zipf_cum(len(self.deu), 1.0))

    def _journals(self) -> None:
        rng = self.rng
        n_pub = max(self.n["publishers"], len(HEAD_PUBLISHERS))
        self.publishers = HEAD_PUBLISHERS + [
            f"Publisher {i:04d}" for i in range(n_pub - len(HEAD_PUBLISHERS))]
        pick_pub = _Picker(rng, _zipf_cum(n_pub, 1.1))
        self.journals = []          # (title, publisher, issn)
        for j in range(self.n["journals"]):
            pub = self.publishers[min(pick_pub(), n_pub - 1)]
            topic = rng.choice(TOPICS)
            title = (f"Journal of {topic} {j}" if rng.random() < 0.8
                     else f"{topic} Letters {j}: Series {rng.choice('ABC')}")
            self.journals.append((title, pub, f"{rng.randrange(10000):04d}-"
                                  f"{rng.randrange(10000):04d}"))
        self.pick_journal = _Picker(rng, _zipf_cum(len(self.journals), 1.0))

    # -- row parts ---------------------------------------------------------------

    def _pick(self, table: list, picker: _Picker):
        return table[min(picker(), len(table) - 1)]

    def _euro(self, lo: float = 60.0, hi: float = 12000.0) -> str:
        return f"{min(hi, max(lo, self.rng.lognormvariate(7.3, 0.55))):.2f}"

    def _doi(self, publisher: str, period: str) -> str:
        self.doi_seq += 1
        if publisher in SPRINGER:
            return f"10.1007/s{self.doi_seq % 99999:05d}-{period[2:]}-{self.doi_seq}"
        prefix = DOI_PREFIX.get(publisher, "1002" if publisher in WILEY else "5555")
        return f"10.{prefix}/art.{self.doi_seq}"

    def _article(self, inst: str, journal=None, period=None) -> list[str]:
        rng = self.rng
        title, pub, issn = journal or self._pick(self.journals, self.pick_journal)
        period = period or PERIODS[min(self.pick_period(), len(PERIODS) - 1)]
        if rng.random() < 0.1:
            doi = "NA"
            url = f"{rng.choice(['http', 'https'])}://repo.example.org/p/{self.doi_seq}"
            self.doi_seq += 1
        else:
            if self.apc_dois and rng.random() < 0.01:
                doi = rng.choice(self.apc_dois)        # shared across institutions
            else:
                doi = self._doi(pub, period)
            url = ("NA" if rng.random() < 0.5 else
                   f"{rng.choice(['http', 'https'])}://doi.example.org/{doi}")
        hybrid = "TRUE" if rng.random() < 0.3 else "FALSE"
        return [inst, period, self._euro(), doi, hybrid, pub, title, issn,
                issn if rng.random() < 0.5 else "NA",
                issn if rng.random() < 0.3 else "NA", issn,
                rng.choice(LICENSES), rng.choice(["TRUE", "TRUE", "FALSE"]),
                str(rng.randrange(10 ** 7, 10 ** 8)) if rng.random() < 0.3 else "NA",
                f"PMC{rng.randrange(10 ** 6, 10 ** 7)}" if rng.random() < 0.2 else "NA",
                "NA", url, "FALSE" if hybrid == "TRUE" else rng.choice(["TRUE", "FALSE"])]

    # -- files -------------------------------------------------------------------

    def write(self, out: str) -> None:
        rng = self.rng

        def writer(name, header):
            f = open(os.path.join(out, name), "w", newline="", encoding="utf-8")
            w = csv.writer(f, lineterminator="\n")
            w.writerow(header)
            return f, w

        f, w = writer("institutions.csv", INST_HEADER)
        w.writerows(self.inst_rows)
        f.close()

        f, w = writer("apc_de.csv", APC_HEADER)
        for _ in range(self.n["apc"]):
            row = self._article(self._pick(self.inst_by_rank, self.pick_inst))
            if row[3] != "NA":
                self.apc_dois.append(row[3])
            w.writerow(row)
        f.close()

        wiley_j = [j for j in self.journals if j[1] in WILEY] or self.journals[:1]
        springer_j = [j for j in self.journals if j[1] in SPRINGER] or self.journals[:1]
        f, w = writer("transformative_agreements.csv", TA_HEADER)
        for _ in range(self.n["ta"]):
            r = rng.random()
            if r < 0.3:
                inst = self._pick(self.deu, self.pick_deu)
                row = self._article(inst, rng.choice(wiley_j))
                agreement = "DEAL Wiley Germany"
            elif r < 0.6:
                inst = self._pick(self.deu, self.pick_deu)
                row = self._article(inst, rng.choice(springer_j))
                agreement = "DEAL Springer Nature Germany"
            else:
                row = self._article(self._pick(self.inst_by_rank, self.pick_inst))
                agreement = rng.choice(OTHER_AGREEMENTS)
            if rng.random() < 0.4:
                row[2] = "NA"
            w.writerow(row + [agreement])
        f.close()

        for name, key, pool in (
                ("deal_wiley_germany_opt_out.csv", "wiley_opt_out", wiley_j),
                ("deal_springer_nature_germany_opt_out.csv", "springer_opt_out",
                 springer_j)):
            f, w = writer(name, APC_HEADER)
            for _ in range(self.n[key]):
                period = rng.choice(["2019", "2019", "2020", "2021", "2022", "2023"])
                w.writerow(self._article(self._pick(self.deu, self.pick_deu),
                                         rng.choice(pool), period))
            f.close()

        f, w = writer("bpc.csv", BPC_HEADER)
        book_pubs = self.publishers[:40]
        for b in range(self.n["bpc"]):
            inst = self._pick(self.inst_by_rank, self.pick_inst)
            period = PERIODS[min(self.pick_period(), len(PERIODS) - 1)]
            doi = "NA" if rng.random() < 0.1 else f"10.4444/book.{b}"
            isbn = f"978-3-{rng.randrange(10 ** 5):05d}-{rng.randrange(10 ** 3):03d}-{b % 10}"
            w.writerow([inst, period, self._euro(500.0, 20000.0), doi,
                        rng.choice(["TRUE", "FALSE"]), rng.choice(book_pubs),
                        f"Book {b}: {rng.choice(TOPICS)} Studies", isbn,
                        isbn if rng.random() < 0.5 else "NA", "NA",
                        rng.choice(LICENSES), rng.choice(["TRUE", "FALSE"]),
                        rng.choice(["TRUE", "FALSE"])])
        f.close()

        f, w = writer("apc_de_additional_costs.csv", AC_HEADER)
        distinct = sorted(set(self.apc_dois))
        n_ac = min(self.n["additional_cost_dois"], len(distinct))
        chosen = rng.sample(distinct, int(n_ac * 0.9))
        chosen += [f"10.9999/unmatched.{i}" for i in range(n_ac - len(chosen))]
        for doi in chosen:
            cells = []
            for _ in AC_HEADER[1:]:
                r = rng.random()
                cells.append(self._euro(5.0, 900.0) if r < 0.35
                             else ("" if r < 0.9 else rng.choice(["NA", "n/a"])))
            w.writerow([doi] + cells)
        f.close()


def generate(seed: int, out: str) -> dict:
    """Write the corpus for ``seed`` into ``out`` (replaced atomically) and
    return its description: sizes, scale and bytes per file."""
    tmp = out + ".tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    _Generator(seed).write(tmp)
    meta = {"seed": seed, "scale": SCALE, "sizes": sizes(),
            "bytes": {n: os.path.getsize(os.path.join(tmp, n)) for n in FILES}}
    meta["input_bytes"] = sum(meta["bytes"].values())
    with open(os.path.join(tmp, "corpus.json"), "w") as f:
        json.dump(meta, f, indent=1, sort_keys=True)
    shutil.rmtree(out, ignore_errors=True)
    os.rename(tmp, out)
    return meta


def ensure(seed: int, root: str) -> tuple[str, dict]:
    """The corpus for ``seed`` under ``root``, generated once and reused."""
    out = os.path.join(root, f"corpus-s{seed}-x{SCALE}")
    try:
        with open(os.path.join(out, "corpus.json")) as f:
            return out, json.load(f)
    except FileNotFoundError:
        return out, generate(seed, out)


def main() -> None:
    p = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--out", required=True)
    a = p.parse_args()
    print(json.dumps(generate(a.seed, a.out), sort_keys=True))


if __name__ == "__main__":
    main()
