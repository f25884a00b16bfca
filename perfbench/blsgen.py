"""Seeded inputs for the ``bls_pipeline`` workload, and their answers.

The inputs follow FIXTURES.md §1-§4:

- ``pr.data.0.Current``: tab-separated, whitespace-padded headers and cells,
  ~280 ``PRS########`` series over 1995-2025 with ragged coverage, periods
  Q01-Q05 (Q05 is the annual average), some unparseable or NaN values, and
  one series whose two best years tie on their yearly sum;
- ``population_data_YYYYMMDD_HHMMSS.json`` documents (``{"data": [...]}``)
  covering 2013-2023 without 2020, whose 2013-2018 values are the
  reference's, next to decoy names that must never be picked as newest;
- filler ``pr.*`` files so the mirror sync has volume.

``mutate`` derives the second source state: files added, changed and deleted,
and the data file always changed. Every answer the pipeline must give (sync
action counts, Q1-Q3 rows) is computed here in plain Python.
"""

from __future__ import annotations

import json
import math
import os
import random
import statistics
from dataclasses import dataclass
from decimal import Decimal

Q3_SERIES = "PRS30006032"
Q3_PERIOD = "Q01"
PERIODS = ("Q01", "Q02", "Q03", "Q04", "Q05")
GOLDEN_POPULATION = {
    2013: 316128839, 2014: 318857056, 2015: 321418821,
    2016: 323127515, 2017: 325719178, 2018: 327167439,
}
GOLDEN_MEAN, GOLDEN_STD = 322069808.00, 4158441.04
BAD_CELLS = ("-", "(NA)", "", "NaN")
HEADER = "series_id        \tyear\tperiod\t       value\tfootnote_codes\n"
DECOYS = {
    # prefix matches but not the suffix, and a suffix match without the prefix
    "population_data_20991231_235959.csv": b"not json",
    "pop_data_20991231_235959.json": b'{"data": []}',
    "population_latest.json": b'{"data": []}',
}

# Sizes: 48 source files (the data file ~1.6 MB, 40 filler files of 16-96 KB,
# 4 population documents, 3 decoys); the mutation adds 6, changes 6 (data
# file included) and deletes 5; 4 population documents arrive for the report.
N_SERIES = 280
N_FILLER = 40
N_POPULATION = 4
N_ADD, N_CHANGE, N_DELETE = 6, 6, 5
K_ARRIVALS = 2


@dataclass
class SourceState:
    files: dict[str, bytes]


def _series_ids(rng: random.Random) -> list[str]:
    ids = {Q3_SERIES}
    while len(ids) < N_SERIES:
        ids.add(f"PRS{rng.randrange(30000000, 89999999):08d}")
    return sorted(ids)


def _bls_rows(rng: random.Random, extra_year: bool) -> list[tuple[str, int, str, str]]:
    rows = []
    ids = _series_ids(rng)
    tie_series = ids[1]
    for sid in ids:
        first, last = (1995, 2025) if sid == Q3_SERIES else (
            rng.randint(1995, 2008), rng.randint(2014, 2025))
        if extra_year:
            last = max(last, 2025)
        tie_years = (first + 2, first + 5) if sid == tie_series else ()
        for year in range(first, last + 1):
            for period in PERIODS:
                if year in tie_years:
                    cell = "705.0"
                elif rng.random() < 0.02:
                    cell = rng.choice(BAD_CELLS)
                else:
                    cell = f"{rng.randint(-210, 7000) / 10:.1f}"
                rows.append((sid, year, period, cell))
    return rows


def bls_text(rows) -> bytes:
    lines = [HEADER]
    for sid, year, period, cell in rows:
        lines.append(f"{sid:<17}\t{year:>8}\t{period}\t{cell:>12}\t\n")
    return "".join(lines).encode()


def _population_doc(rng: random.Random) -> bytes:
    records = []
    pop = 327167439
    for year in range(2013, 2024):
        if year == 2020:
            continue
        if year in GOLDEN_POPULATION:
            value = GOLDEN_POPULATION[year]
        else:
            pop += rng.randint(500_000, 2_500_000)
            value = pop
        records.append({"Nation ID": "01000US", "Nation": "United States",
                        "Year": year, "Population": value})
    rng.shuffle(records)
    return json.dumps({"data": records, "source": [{"name": "acs_yg_total_population_1"}]}).encode()


def _population_name(rng: random.Random, day: int) -> str:
    return (f"population_data_2025{1 + day // 28:02d}{1 + day % 28:02d}_"
            f"{rng.randrange(24):02d}{rng.randrange(60):02d}{rng.randrange(60):02d}.json")


def _filler_kb(i: int) -> int:
    # Sizes do not depend on the seed, so every seed syncs the same volume.
    return 16 + (i * 29) % 81


def generate(seed: int) -> SourceState:
    """First source state for ``seed``."""
    rng = random.Random(seed)
    files = {"pr.data.0.Current": bls_text(_bls_rows(rng, extra_year=False))}
    for i in range(N_FILLER):
        files[f"pr.part.{i:02d}"] = rng.randbytes(_filler_kb(i) * 1024)
    for day in rng.sample(range(0, 28 * 6), N_POPULATION):
        files[_population_name(rng, day)] = _population_doc(rng)
    files.update(DECOYS)
    return SourceState(files)


def mutate(state: SourceState, seed: int) -> tuple[SourceState, dict[str, int]]:
    """Second source state and the exact sync action counts it must yield."""
    rng = random.Random(seed * 7919 + 1)
    files = dict(state.files)
    keys = sorted(k for k in files if k.startswith("pr.part."))
    rng.shuffle(keys)
    deleted, changed = keys[:N_DELETE], keys[N_DELETE:N_DELETE + N_CHANGE - 1]
    for k in deleted:
        del files[k]
    for k in changed:
        files[k] = rng.randbytes(len(files[k]) + rng.randint(1, 4096))
    files["pr.data.0.Current"] = bls_text(_bls_rows(rng, extra_year=True))
    for i in range(N_ADD - 1):
        files[f"pr.new.{i:02d}"] = rng.randbytes(_filler_kb(N_FILLER + i) * 1024)
    files[_population_name(rng, 28 * 6 + rng.randrange(28 * 5))] = _population_doc(rng)
    counts = {"insert": N_ADD, "update": N_CHANGE,
              "skip": len(state.files) - N_DELETE - N_CHANGE, "delete": N_DELETE}
    return SourceState(files), counts


def arrivals(seed: int) -> dict[str, bytes]:
    """The K population documents that arrive for the report trigger."""
    rng = random.Random(seed * 104729 + 2)
    return {_population_name(rng, day): _population_doc(rng)
            for day in rng.sample(range(0, 28 * 11), K_ARRIVALS)}


def write(files: dict[str, bytes], directory: str) -> None:
    os.makedirs(directory, exist_ok=True)
    for name, body in files.items():
        with open(os.path.join(directory, name), "wb") as f:
            f.write(body)


def newest_population(files: dict[str, bytes]) -> str:
    return max(k for k in files if k.startswith("population_data_") and k.endswith(".json"))


def _parse(cell: str) -> float | None:
    try:
        return float(cell)
    except ValueError:
        return None


def expected_reports(files: dict[str, bytes]) -> dict[str, list[tuple]]:
    """Q1-Q3 rows the report must return for a directory holding ``files``."""
    records = json.loads(files[newest_population(files)])["data"]
    population = {r["Year"]: float(r["Population"]) for r in records}
    window = [population[y] for y in range(2013, 2019) if y in population]
    q1 = [(statistics.fmean(window), statistics.stdev(window), len(window))]

    yearly: dict[tuple[str, int], Decimal] = {}
    q3 = []
    lines = files["pr.data.0.Current"].decode().splitlines()[1:]
    for line in lines:
        sid, year, period, cell, _ = (c.strip() for c in line.split("\t"))
        value = _parse(cell)
        if value is not None and not math.isnan(value):
            key = (sid, int(year))
            yearly[key] = yearly.get(key, Decimal(0)) + Decimal(cell)
        if sid == Q3_SERIES and period == Q3_PERIOD:
            q3.append((sid, int(year), period, value, population.get(int(year))))
    best: dict[str, tuple[float, int]] = {}
    for (sid, year), total in yearly.items():
        cand = (float(total), -year)
        if sid not in best or cand > best[sid]:
            best[sid] = cand
    q2 = [(sid, -ny, v) for sid, (v, ny) in sorted(best.items())]
    return {"population_stats": q1, "best_years": q2,
            "combined_report": sorted(q3, key=lambda r: r[1])}
