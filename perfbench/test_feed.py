"""The feed generator: same seed, same bytes; stated fault shares hold.

Run with ``python3 -m pytest perfbench -q`` (no Spark needed).
"""

from __future__ import annotations

import datetime as dt
import json

import feed

N = 30


def test_same_seed_gives_identical_files():
    assert feed.make_feed(7, N) == feed.make_feed(7, N)


def test_other_seed_gives_other_files():
    assert feed.make_feed(7, N) != feed.make_feed(8, N)


def test_prefix_does_not_depend_on_length():
    assert feed.make_feed(7, 5) == feed.make_feed(7, N)[:5]


def _measure(files: list[bytes]) -> dict[str, int]:
    counts = dict.fromkeys(["lines", "malformed", "resend", "sentinel", "uncastable", "late"], 0)
    seen: set[str] = set()
    newest = None
    lateness = dt.timedelta(seconds=feed.WATERMARK_EPOCHS * feed.EPOCH_EVENT_SECONDS)
    for content in files:
        stamps = []
        for line in content.decode().splitlines():
            counts["lines"] += 1
            try:
                obj = json.loads(line)
            except ValueError:
                counts["malformed"] += 1
                continue
            if line in seen:
                counts["resend"] += 1
                continue
            seen.add(line)
            ts = dt.datetime.fromisoformat(obj["timestamp"])
            stamps.append(ts)
            if newest is not None and ts < newest - lateness:
                counts["late"] += 1
            for f in feed.NUMERIC_FIELDS:
                v = obj[f]
                if v.strip() in feed.SENTINELS:
                    counts["sentinel"] += 1
                else:
                    try:
                        float(v)
                    except ValueError:
                        counts["uncastable"] += 1
        newest = max([newest, *stamps] if newest else stamps)
    return counts


def test_measured_fault_shares_match_stated():
    m = _measure(feed.make_feed(3, N))
    rows = feed.N_LOCATIONS + feed.LATE_PER_EPOCH
    per_epoch = rows + feed.RESEND_PER_EPOCH + feed.MALFORMED_PER_EPOCH
    assert m["lines"] == N * per_epoch
    assert m["malformed"] == N * feed.MALFORMED_PER_EPOCH
    assert m["resend"] == N * feed.RESEND_PER_EPOCH
    assert m["sentinel"] == N * feed.SENTINEL_PER_EPOCH
    assert m["uncastable"] == N * feed.UNCASTABLE_PER_EPOCH
    # the first epoch has no watermark yet, so nothing in it is late
    assert m["late"] == (N - 1) * feed.LATE_PER_EPOCH


def test_one_on_time_observation_per_location_and_date_with_monotone_totals():
    last: dict[str, int] = {}
    keys: set[tuple[str, str]] = set()
    for k, content in enumerate(feed.make_feed(4, N)):
        day = (feed.D0 + dt.timedelta(days=k)).isoformat()
        for line in dict.fromkeys(content.decode().splitlines()):
            try:
                obj = json.loads(line)
            except ValueError:
                continue
            if obj["date"] != day:
                continue
            key = (obj["location"], obj["date"])
            assert key not in keys
            keys.add(key)
            if obj["total_cases"].isdigit():
                assert int(obj["total_cases"]) >= last.get(obj["location"], 0)
                last[obj["location"]] = int(obj["total_cases"])
    assert len(keys) == N * feed.N_LOCATIONS
    assert len({loc.split("-")[0] for loc, _ in keys}) == len({c.split()[0] for c in feed.CONTINENTS})
