"""Seeded input generators: landing CSVs and a documents corpus.

The same seed gives byte-identical inputs. The landing follows the
30-column raw schema of the pipeline's test fixtures and carries every
case the medallion plans treat specially:

- an athlete pool that recurs across years, so incremental SCD-1
  merges see both updates (a returning athlete) and inserts (a debut);
- duplicate (year, gender, name) pairs, which the bronze dedup window
  ranks apart;
- DNF/DNS/DQ rows whose missing times are the literal ``-``;
- empty and unmapped country codes (no country key, or the
  name=code / continent='Unknown' fallback);
- professional (``MPRO``/``FPRO``) and age-group divisions.

A returning athlete always carries the identical name and country
string: the dims key on a normalised name, and spelling variants of one
key would make an incremental build legitimately differ from a full
load (the athlete surrogate key is hashed from the raw name).
"""

from __future__ import annotations

import csv
import os
import random
from dataclasses import dataclass, field

RAW_COLUMNS = [
    "rank", "athlete_name", "country", "div_rank", "gender_rank", "overall_rank",
    "designation", "bib", "division", "points", "swim_time", "swim_time_detail",
    "swim_div_rank", "swim_gender_rank", "swim_overall_rank", "transition_1",
    "transition_1_detail", "bike_time", "bike_time_detail", "bike_div_rank",
    "bike_gender_rank", "bike_overall_rank", "transition_2", "transition_2_detail",
    "run_time", "run_time_detail", "run_div_rank", "run_gender_rank",
    "run_overall_rank", "finish_time",
]

MAPPED_COUNTRIES = [
    "US", "DE", "GB", "FR", "AU", "CA", "ES", "IT", "NL", "BR", "CH", "AT",
    "DK", "SE", "NO", "BE", "NZ", "ZA", "MX", "JP", "IE", "PL", "CZ", "AR",
]
UNMAPPED_COUNTRIES = ["XX", "ZZ", "QQ"]
AGE_GROUPS = [(18, 24), (25, 29), (30, 34), (35, 39), (40, 44), (45, 49),
              (50, 54), (55, 59), (60, 64), (65, 69), (70, 74)]

_ONSETS = ["b", "br", "c", "d", "f", "g", "h", "j", "k", "l", "m", "n", "p",
           "r", "s", "st", "t", "v", "w", "z"]
_VOWELS = ["a", "e", "i", "o", "u", "ae", "ei", "ou"]
_CODAS = ["", "n", "r", "s", "l", "m", "t", "rd", "nn", "ck"]


def _word(rng: random.Random, syllables: int) -> str:
    return "".join(
        rng.choice(_ONSETS) + rng.choice(_VOWELS) + rng.choice(_CODAS)
        for _ in range(syllables)
    )


def _name(rng: random.Random) -> str:
    return f"{_word(rng, 2).capitalize()} {_word(rng, rng.randint(2, 3)).capitalize()}"


def _hms(seconds: int) -> str:
    return f"{seconds // 3600}:{seconds % 3600 // 60:02d}:{seconds % 60:02d}"


@dataclass
class Athlete:
    name: str
    country: str  # '' = empty code in the landing file
    birth_offset: int  # age in the first landing year


@dataclass
class Landing:
    """A generated landing directory (``year=<y>/<y>_{men,women}.csv``)
    and what the pipeline must make of it."""

    root: str
    years: list[int]
    files: list[tuple[int, str, str]]  # (year, gender, filename)
    rows_by_year: dict[int, int] = field(default_factory=dict)
    empty_country_by_year: dict[int, int] = field(default_factory=dict)
    bytes_by_year: dict[int, int] = field(default_factory=dict)

    def rows(self, years=None) -> int:
        return sum(self.rows_by_year[y] for y in (years or self.years))

    def empty_country_rows(self, years=None) -> int:
        return sum(self.empty_country_by_year[y] for y in (years or self.years))

    def bytes(self, years=None) -> int:
        return sum(self.bytes_by_year[y] for y in (years or self.years))


def _pool(rng: random.Random, size: int, taken: set[str]) -> list[Athlete]:
    out = []
    while len(out) < size:
        name = _name(rng)
        if name.lower() in taken:
            continue
        taken.add(name.lower())
        r = rng.random()
        if r < 0.03:
            country = ""
        elif r < 0.06:
            country = rng.choice(UNMAPPED_COUNTRIES)
        else:
            country = rng.choice(MAPPED_COUNTRIES)
        out.append(Athlete(name, country, rng.randint(18, 68)))
    return out


def _race(rng: random.Random, year: int, gender: str, entrants: list[Athlete],
          first_year: int) -> list[dict[str, str]]:
    """One race's result rows: times, designations, then ranks by time."""
    rows = []
    for i, a in enumerate(entrants):
        age = a.birth_offset + (year - first_year)
        pro = a.birth_offset < 40 and rng.random() < 0.04
        if pro:
            division = f"{gender}PRO"
        else:
            lo, hi = next(((lo, hi) for lo, hi in AGE_GROUPS if lo <= age <= hi), AGE_GROUPS[-1])
            division = f"{gender}{lo}-{hi}"
        slow = 1.0 if pro else 1.0 + (age - 18) / 120 + rng.random() * 0.35
        seg = {
            "swim_time": int(rng.uniform(2700, 3300) * slow),
            "transition_1": int(rng.uniform(120, 360) * slow),
            "bike_time": int(rng.uniform(15600, 18600) * slow),
            "transition_2": int(rng.uniform(100, 300) * slow),
            "run_time": int(rng.uniform(10200, 13800) * slow),
        }
        r = rng.random()
        designation = (
            "DNS" if r < 0.04 else "DNF" if r < 0.12 else "DQ" if r < 0.14 else "Finisher"
        )
        row = {c: "-" for c in RAW_COLUMNS}
        row.update(athlete_name=a.name, country=a.country, designation=designation,
                   bib=str(100 + i), division=division)
        if designation == "DNS":
            rows.append(row)
            continue
        done = list(seg) if designation != "DNF" else list(seg)[: rng.randint(1, 4)]
        for col in done:
            row[col] = _hms(seg[col])
        if designation != "DNF":
            total = sum(seg.values())
            if rng.random() < 0.02:  # segment sum disagrees with the clock
                total += rng.randint(90, 600)
            row["finish_time"] = _hms(total)
            row["_total"] = total
        rows.append(row)

    finishers = sorted(
        (r for r in rows if r["designation"] == "Finisher"), key=lambda r: r["_total"]
    )
    by_div: dict[str, int] = {}
    for pos, r in enumerate(finishers, start=1):
        by_div[r["division"]] = by_div.get(r["division"], 0) + 1
        if rng.random() < 0.01:
            continue  # finisher without a rank -> has_data_issue
        r.update(rank=str(pos), overall_rank=str(pos), gender_rank=str(pos),
                 div_rank=str(by_div[r["division"]]))
        if r["division"].endswith("PRO") and by_div[r["division"]] <= 15:
            r["points"] = str(5000 - 200 * (by_div[r["division"]] - 1))
    for r in rows:
        r.pop("_total", None)
    return rows


def make_landing(root: str, seed: int, years: int, rows_per_file: int) -> Landing:
    """Write ``years`` × 2 gender CSVs of about ``rows_per_file`` rows.

    Each gender has a pool of 1.5 × ``rows_per_file`` athletes and every
    race draws its field from it, so about two thirds of a year's
    athletes raced before. About 1 % of rows repeat an entrant under a
    second bib (a duplicate (year, gender, name) pair)."""
    rng = random.Random(seed)
    first = 2019
    year_list = [first + i for i in range(years)]
    landing = Landing(root=root, years=year_list, files=[])
    taken: set[str] = set()
    pools = {g: _pool(rng, int(rows_per_file * 1.5), taken) for g in ("M", "F")}
    for year in year_list:
        d = os.path.join(root, f"year={year}")
        os.makedirs(d, exist_ok=True)
        landing.rows_by_year[year] = 0
        landing.empty_country_by_year[year] = 0
        landing.bytes_by_year[year] = 0
        for gender, label in (("M", "men"), ("F", "women")):
            field_ = rng.sample(pools[gender], rows_per_file)
            field_ += rng.sample(field_, max(1, rows_per_file // 100))
            rows = _race(rng, year, gender, field_, first)
            filename = f"{year}_{label}.csv"
            path = os.path.join(d, filename)
            with open(path, "w", newline="") as fh:
                w = csv.DictWriter(fh, fieldnames=RAW_COLUMNS)
                w.writeheader()
                w.writerows(rows)
            landing.files.append((year, gender, filename))
            landing.rows_by_year[year] += len(rows)
            landing.empty_country_by_year[year] += sum(1 for r in rows if not r["country"])
            landing.bytes_by_year[year] += os.path.getsize(path)
    return landing


# ------------------------------------------------------------- documents
# Shape of the suite's sf0.1 documents table, as recorded in
# OPTIMIZATION_r14.md and measured on it: 5,000 documents of 10-100
# words (uniform, ~55 on average) drawn uniformly from a 30-word
# lexicon that holds the English stopwords "the" and "a"; one document
# in twenty is an earlier document with a marker word appended (31
# words in all); languages 40 % en, 15 % each de, es, fr, zh; 20
# sources. With 30 words, any two long documents share most of their
# distinct words, so near-duplicates are dense: that drives every
# MinHash/LSH figure of the dedup stage. Generated at 5,000 documents,
# this shape keeps 0.282 of the gated documents through dedup, as the
# sf0.1 table itself does (q153 arguments).
LEXICON = 30
STOPWORDS = ("the", "a")
COPY_SHARE = 0.05
LANGS = [("en", 0.4), ("de", 0.15), ("es", 0.15), ("fr", 0.15), ("zh", 0.15)]


def make_documents(seed: int, n_docs: int) -> list[tuple[int, str, str, str, int]]:
    """(doc_id, text, lang, source, n_chars) rows in the documents-table
    shape described above."""
    # one lexicon for every seed, as the suite's corpus has one word
    # list; the seed draws the documents
    fixed = random.Random(LEXICON)
    words: list[str] = []
    while len(words) < LEXICON - len(STOPWORDS) + 1:
        w = _word(fixed, fixed.randint(1, 2))
        if w not in words and w not in STOPWORDS:
            words.append(w)
    marker = words.pop()
    lexicon = sorted(words) + list(STOPWORDS)
    rng = random.Random(seed * 7919 + 1)
    docs = []
    for doc_id in range(n_docs):
        if docs and rng.random() < COPY_SHARE:
            text = f"{docs[rng.randrange(len(docs))][1]} {marker}"
        else:
            text = " ".join(rng.choice(lexicon) for _ in range(rng.randint(10, 100)))
        r, acc, lang = rng.random(), 0.0, LANGS[-1][0]
        for code, share in LANGS:
            acc += share
            if r < acc:
                lang = code
                break
        docs.append((doc_id, text, lang, f"src{doc_id % 20}", len(text)))
    return docs
