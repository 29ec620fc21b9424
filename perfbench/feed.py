"""Seeded generator for the pipeline workloads' input feed.

Writes JSON-lines files shaped like the reference's OWID feed: one
observation per (location, date) for about 200 locations on 6
continents, with monotone cumulative totals.  One file is one epoch.

Event time is simulated: epoch ``k`` reports date ``D0 + k`` and its
rows carry timestamps inside minute ``k`` of ``T0``, so the pipeline's
5-minute windows span five epochs and its 10-minute watermark spans ten.

Every epoch carries fixed counts of injected faults, so the shares below
hold exactly and every epoch costs about the same to process:

- ``SENTINEL_PER_EPOCH`` numeric fields become ``""``/``"null"``/``"NULL"``
  (cleaned to 0.0);
- ``UNCASTABLE_PER_EPOCH`` numeric fields become ``"abc"``/``"12.3.4"``
  (cleaned to NULL);
- ``MALFORMED_PER_EPOCH`` lines are truncated JSON (parsed to an
  all-NULL row);
- ``RESEND_PER_EPOCH`` lines are byte-identical re-sends of a line from
  the same epoch or up to ``RESEND_MAX_BACK`` epochs earlier;
- ``LATE_PER_EPOCH`` rows are revisions of the day ``LATE_EPOCHS`` epochs
  back, stamped with that day's event time, so they arrive more than the
  watermark (plus a window) behind the newest event time.

The same seed gives byte-identical files; nothing reads the clock.
"""

from __future__ import annotations

import datetime as dt
import json
import random

CONTINENTS = ["Africa", "Asia", "Europe", "North America", "South America", "Oceania"]
N_LOCATIONS = 200
T0 = dt.datetime(2021, 3, 1, 8, 0, 0)
D0 = dt.date(2020, 3, 1)
EPOCH_EVENT_SECONDS = 60
#: The pipeline's lateness budget, in epochs of simulated event time.
WATERMARK_EPOCHS = 10
LATE_EPOCHS = 20

SENTINEL_PER_EPOCH = 6
UNCASTABLE_PER_EPOCH = 2
MALFORMED_PER_EPOCH = 2
RESEND_PER_EPOCH = 4
RESEND_MAX_BACK = 3
LATE_PER_EPOCH = 2

NUMERIC_FIELDS = ["total_cases", "new_cases", "total_deaths", "new_deaths", "active_cases", "population"]
SENTINELS = ["", "null", "NULL"]
UNCASTABLE = ["abc", "12.3.4"]
FIELDS = [
    "uuid", "continent", "location", "iso_code", "date", "timestamp",
    "total_cases", "new_cases", "total_deaths", "new_deaths", "active_cases",
    "population", "recovery_rate", "death_rate", "cases_per_million",
    "deaths_per_million", "new_cases_ratio", "cases_to_population_ratio",
    "is_hotspot",
]


def _location_table(rng: random.Random) -> list[dict]:
    locs = []
    for i in range(N_LOCATIONS):
        continent = CONTINENTS[i % len(CONTINENTS)]
        big = rng.random() < 0.1
        locs.append(
            {
                "location": f"{continent.split()[0]}-{i:03d}",
                "continent": continent,
                "iso_code": chr(65 + i // 26 % 26) + chr(65 + i % 26) + chr(65 + i // 676),
                "population": 0 if i % 50 == 7 else rng.randint(100_000, 1_400_000_000),
                "total_cases": rng.randint(0, 2_000_000),
                "total_deaths": 0,
                "daily": rng.randint(8_000, 30_000) if big else rng.randint(0, 3_000),
                "lethality": rng.uniform(0.005, 0.08),
            }
        )
    for loc in locs:
        loc["total_deaths"] = int(loc["total_cases"] * loc["lethality"])
    return locs


def _observation(rng: random.Random, loc: dict, epoch: int) -> dict:
    new_cases = max(0, int(rng.gauss(loc["daily"], loc["daily"] * 0.2 + 1)))
    new_deaths = int(new_cases * loc["lethality"] * rng.uniform(0.5, 1.5))
    loc["total_cases"] += new_cases
    loc["total_deaths"] += new_deaths
    ts = T0 + dt.timedelta(seconds=epoch * EPOCH_EVENT_SECONDS + rng.randrange(EPOCH_EVENT_SECONDS))
    day = D0 + dt.timedelta(days=epoch)
    return {
        "uuid": f"{loc['iso_code']}-{epoch:05d}",
        "continent": loc["continent"],
        "location": loc["location"],
        "iso_code": loc["iso_code"],
        "date": day.isoformat(),
        "timestamp": ts.strftime("%Y-%m-%d %H:%M:%S"),
        "total_cases": str(loc["total_cases"]),
        "new_cases": str(new_cases),
        "total_deaths": str(loc["total_deaths"]),
        "new_deaths": str(new_deaths),
        "active_cases": str(int(loc["total_cases"] * rng.uniform(0.01, 0.2))),
        "population": str(loc["population"]),
        # rate fields are recomputed by the engine; the feed sends stale ones
        "recovery_rate": "0.9",
        "death_rate": "0.01",
        "cases_per_million": "",
        "deaths_per_million": "",
        "new_cases_ratio": "",
        "cases_to_population_ratio": "",
        "is_hotspot": "true" if rng.random() < 0.03 else "false",
    }


def _late(rng: random.Random, loc: dict, epoch: int) -> dict:
    back = dict(loc)
    back["total_cases"] = max(0, loc["total_cases"] - LATE_EPOCHS * loc["daily"])
    back["total_deaths"] = int(back["total_cases"] * loc["lethality"])
    return _observation(rng, back, epoch - LATE_EPOCHS)


def make_feed(seed: int, n_epochs: int) -> list[bytes]:
    """Generate the contents of ``n_epochs`` epoch files from ``seed``."""
    rng = random.Random(seed)
    locs = _location_table(rng)
    files: list[bytes] = []
    sent: list[list[str]] = []
    for k in range(n_epochs):
        rows = [_observation(rng, loc, k) for loc in locs]
        faulty = rng.sample(rows, SENTINEL_PER_EPOCH + UNCASTABLE_PER_EPOCH)
        for row in faulty[:SENTINEL_PER_EPOCH]:
            row[rng.choice(NUMERIC_FIELDS[:5])] = rng.choice(SENTINELS)
        for row in faulty[SENTINEL_PER_EPOCH:]:
            row[rng.choice(NUMERIC_FIELDS[1:5])] = rng.choice(UNCASTABLE)
        rows += [_late(rng, loc, k) for loc in rng.sample(locs, LATE_PER_EPOCH)]
        lines = sorted(json.dumps({f: r[f] for f in FIELDS}, separators=(",", ":")) for r in rows)
        own = list(lines)
        for _ in range(RESEND_PER_EPOCH):
            back = rng.randint(0, min(RESEND_MAX_BACK, k))
            source = own if back == 0 else sent[k - back]
            lines.insert(rng.randrange(len(lines) + 1), rng.choice(source))
        for _ in range(MALFORMED_PER_EPOCH):
            victim = rng.choice(own)
            lines.insert(rng.randrange(len(lines) + 1), victim[: rng.randint(5, len(victim) - 5)])
        sent.append(own)
        files.append(("\n".join(lines) + "\n").encode())
    return files
