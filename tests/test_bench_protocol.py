"""bench.py's cross-process reducer, without Spark.

``bench._reduce`` turns per-process probe records into each entry's
reported value and ledger; ``bench._fresh`` launches the probes and tops
up entries short of certified records.  The recorded BENCH_r16 ledger
holds every fresh-process entry's per-process run lists, so feeding
those lists back through the reducer must reproduce the recorded values
and ledgers exactly.
"""

from __future__ import annotations

import json
import os

import bench

_R16 = os.path.join(os.path.dirname(os.path.dirname(__file__)), "BENCH_r16.json")


def _r16():
    parsed = json.load(open(_R16))["parsed"]
    return parsed["queries"], parsed["run_ledger"]


def _records(entry, run_lists):
    return [{"entry": entry, **bench._summary(runs)} for runs in run_lists]


def test_reducer_reproduces_r16_fresh_process_entries():
    queries, ledger = _r16()
    by_protocol = {}
    for name, led in ledger.items():
        by_protocol.setdefault(led.get("protocol"), []).append(name)
    replay = by_protocol["median-of-certified-process-minima"]
    watch = by_protocol["fresh-process-7run"]
    assert sorted(replay) == sorted(bench.REPLAY_FRESH)
    assert sorted(watch) == sorted(bench.WATCHLIST_FRESH)

    got = bench._reduce(
        {e: _records(e, ledger[e]["process_runs"]) for e in replay},
        m=3, runs=None,
    )
    got.update(
        bench._reduce(
            {e: _records(e, [ledger[e]["runs"]]) for e in watch},
            m=1, runs=7,
        )
    )
    assert len(got) == 14
    for name, res in got.items():
        assert res["value"] == queries[name], name
        assert res["ledger"] == ledger[name], name
        assert list(res["ledger"]) == list(ledger[name]), name


def test_uncertified_probe_min_is_ledgered_but_not_reported():
    recs = _records("e", [[1.0, 1.05], [0.5, 1.0], [1.2, 1.3]])
    res = bench._reduce({"e": recs}, m=3, runs=None)["e"]
    assert res["value"] == 1.1
    assert res["ledger"]["process_minima"] == [1.0, 1.2]
    assert res["ledger"]["process_minima_all"] == [0.5, 1.0, 1.2]
    assert res["ledger"]["certified"] and res["ledger"]["n_certified"] == 2


def _fake_launch(monkeypatch, records_for):
    calls = []

    def launch(entries, runs):
        calls.append(list(entries))
        return [
            {"entry": e, **bench._summary(records_for(e, len(calls)))}
            for e in entries
            if records_for(e, len(calls)) is not None
        ]

    monkeypatch.setattr(bench, "_launch", launch)
    return calls


def test_uncertified_entry_is_topped_up_to_the_cap(monkeypatch):
    # "a" never certifies itself (two fastest runs 2x apart); "b" always does
    calls = _fake_launch(
        monkeypatch,
        lambda e, i: [1.0 * i, 2.0 * i] if e == "a" else [1.0, 1.05],
    )
    res = bench._fresh(["a", "b"], m=3, m_cap=6, runs=None)
    assert calls == [["a", "b"]] * 3 + [["a"]] * 3
    a = res["a"]["ledger"]
    assert a["n"] == 6 and a["n_certified"] == 0 and not a["certified"]
    # uncertified: the median is over ALL six process minima
    assert res["a"]["value"] == 3.5
    assert res["b"]["ledger"]["certified"] and res["b"]["ledger"]["n"] == 3


def test_entry_with_too_few_records_falls_back_in_suite(monkeypatch):
    # "c" emits a record from the first probe only: below min(2, m) records
    # it is absent, so the suite measures it in-process
    calls = _fake_launch(
        monkeypatch,
        lambda e, i: [1.0, 1.05] if e != "c" or i == 1 else None,
    )
    res = bench._fresh(["b", "c"], m=3, m_cap=4, runs=None)
    assert calls == [["b", "c"]] * 3 + [["c"]]
    assert "b" in res and "c" not in res


def test_no_probe_record_means_in_suite_fallback(monkeypatch):
    calls = _fake_launch(monkeypatch, lambda e, i: None)
    assert bench._fresh(["x"], m=1, m_cap=1, runs=7) is None
    assert calls == [["x"]]
