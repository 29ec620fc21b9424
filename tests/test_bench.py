"""bench.py against its own recorded run (BENCH_DETAIL_r16.json): the
pure summary, and main() end to end with Spark stubbed out and a fake
clock replaying the recorded timings."""

from __future__ import annotations

import collections
import json
import os
import shutil
import types

import pytest

import bench

ROOT = os.path.abspath(os.path.join(os.path.dirname(__file__), ".."))
RECORDED = os.path.join(ROOT, "BENCH_DETAIL_r16.json")


def _recorded() -> dict:
    with open(RECORDED) as fh:
        return json.load(fh)


def test_summary_reproduces_recorded_run():
    rec = _recorded()
    got = bench.summarize(rec["queries"], rec["drift_probe"]["segments"])
    tier_keys = [k for k in rec if k.startswith("frozen")]
    assert len(tier_keys) == 2 * len(bench.FROZEN_TIERS)
    for key in tier_keys:
        assert got[key] == rec[key], key
    assert got["value"] == rec["value"]
    assert got["n_queries"] == rec["n_queries"]
    for key in ("probe_factor", "probe_spread", "normalized_totals_sec"):
        assert got[key] == rec["drift_probe"][key], key


class _Fake:
    """Absorbs any chained Spark attribute or call; ``save()`` runs
    ``on_save``."""

    def __init__(self, on_save=lambda: None):
        self.on_save = on_save

    def __getattr__(self, _name):
        return self

    def __call__(self, *_a, **_k):
        return self

    def save(self):
        self.on_save()


def test_main_rewrites_recorded_detail_file(tmp_path, monkeypatch, capsys):
    from bigdata_covid19_real_time_spark import session
    from bigdata_covid19_real_time_spark.plans import QUERIES

    rec = _recorded()
    sf_dir = str(tmp_path / "sf0.1")  # the basename gives the recorded sf
    # each query's recorded times at each dir, in the bench's call order
    # (a probe pass at position p runs before headline query p)
    calls = [((s["position"], 0), n, t) for s in rec["drift_probe"]["segments"]
             for n, t in s["timings"].items()]
    calls += [((i, 1), n, t) for i, (n, t) in enumerate(rec["queries"].items())]
    queue = collections.defaultdict(collections.deque)
    for _, n, t in sorted(calls, key=lambda c: c[0]):
        queue[(n, sf_dir)].append(t)
    for n, s in rec["scale"]["queries"].items():
        queue[(n, bench.SCALE_SMALL_DIR)].append(s["small_sec"])

    clock = [0.0]
    current: dict = {}  # (name, dir) -> this run_query call's time

    def fake_query(name):
        def build(_spark, at_dir):
            if at_dir == bench.WARM_DIR:  # a new run_query call starts
                current.clear()
                return _Fake()

            def on_save():
                key = (name, at_dir)
                if key not in current:
                    current[key] = queue[key].popleft()
                clock[0] += current[key]  # a min-of-2 rerun repeats it

            return _Fake(on_save)

        return build

    for name in list(QUERIES):
        monkeypatch.setitem(QUERIES, name, fake_query(name))
    monkeypatch.setattr(session, "get_spark", lambda **_kw: _Fake())
    # the recorded loop order (a later registration must not break this)
    monkeypatch.setattr(bench, "_headline", lambda: list(rec["queries"]))
    monkeypatch.setattr(bench, "time", types.SimpleNamespace(perf_counter=lambda: clock[0]))
    monkeypatch.setattr(bench.os.path, "isdir", lambda _p: True)
    monkeypatch.setenv("SPARK_GRAFT_SF_DIR", sf_dir)
    for name in ("BENCH_r15.json", "BENCH_DETAIL_r15.json"):
        shutil.copy(os.path.join(ROOT, name), tmp_path)
    monkeypatch.setattr(bench, "ROOT", str(tmp_path))

    bench.main()

    assert not any(queue.values())
    # a second timed run exactly for the runs over 3 s
    replayed = [t for _, _, t in calls]
    replayed += [s["small_sec"] for s in rec["scale"]["queries"].values()]
    assert clock[0] == pytest.approx(sum(t * (2 if t > 3.0 else 1) for t in replayed))
    with open(tmp_path / "BENCH_DETAIL_r16.json", "rb") as got, open(RECORDED, "rb") as want:
        assert got.read() == want.read()
    line = json.loads(capsys.readouterr().out)
    assert line["value"] == rec["value"]
    assert line["detail_file"] == "BENCH_DETAIL_r16.json"
    assert len(line["queries"]) == 30
