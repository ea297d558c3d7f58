"""bench.py: the one comparison against a same-host baseline, the
absolute latency budget, the compact summary line that a tail capture
must still parse, and the timing loop itself.

Pure-Python tests: baselines are written to ``tmp_path``, and the loop
runs fake query specs into a fake ``noop`` sink, so no Spark session
starts here.
"""

from __future__ import annotations

import json
import os
import sys

import pytest

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

import bench  # noqa: E402
from bench import (  # noqa: E402
    LATENCY_BUDGET_S,
    compact_summary,
    compare,
    over_latency_budget,
)

FP = {"nproc": 4, "ram_gb": 16, "spark": "4.1.2", "master": "local[4]"}


def _baseline(tmp_path, queries, fingerprint=FP, sf=0.1):
    doc = {"queries": queries, "sf": sf}
    if fingerprint is not None:
        doc["fingerprint"] = fingerprint
    p = tmp_path / "BENCH_local.json"
    p.write_text(json.dumps(doc))
    return str(p)


def _committed_queries() -> dict:
    with open(os.path.join(REPO, "BENCH_local.json")) as f:
        return json.load(f)["queries"]


# --- the comparison against one baseline -------------------------------------
def test_baseline_vs_itself_is_clean(tmp_path):
    q = _committed_queries()
    out = compare(q, _baseline(tmp_path, q), FP, 0.1)
    assert out["comparable"] is True
    assert out["regressions_vs_prev"] == []
    assert out["n_common_vs_prev"] == len(q)
    assert out["geomean_speedup_vs_prev"] == 1.0
    assert out["n_regressed_gt10pct"] == out["n_improved_gt10pct"] == 0


def test_large_slowdown_flagged(tmp_path):
    p = _baseline(tmp_path, {"fuzzy_name_pairs": 10.0})
    out = compare({"fuzzy_name_pairs": 30.0}, p, FP, 0.1)
    assert out["regressions_vs_prev"] == ["fuzzy_name_pairs"]


def test_subsecond_jitter_not_flagged(tmp_path):
    # 2x a 0.2 s query is warm-up-order noise, not a regression
    p = _baseline(tmp_path, {"q": 0.2})
    assert compare({"q": 0.4}, p, FP, 0.1)["regressions_vs_prev"] == []


def test_new_queries_ignored(tmp_path):
    p = _baseline(tmp_path, {"q": 1.0})
    out = compare({"q": 1.0, "brand_new_query": 99.0}, p, FP, 0.1)
    assert out["regressions_vs_prev"] == []
    assert out["n_common_vs_prev"] == 1


def test_missing_baseline_is_noop():
    assert compare({"q": 9.9}, "/nonexistent.json", FP, 0.1) == {
        "comparable": False
    }


def test_none_baseline_is_noop():
    assert compare({"q": 9.9}, None, FP, 0.1) == {"comparable": False}


def test_fingerprint_mismatch_or_missing_is_not_comparable(tmp_path):
    """A baseline from another host (or one with no fingerprint, like
    every pre-fingerprint round's file) yields no comparison fields,
    however slow this run is."""
    other = dict(FP, nproc=32, master="local[32]")
    for fp in (other, None):
        p = _baseline(tmp_path, {"q": 1.0}, fingerprint=fp)
        assert compare({"q": 50.0}, p, FP, 0.1) == {"comparable": False}


def test_perf_vs_prev_geomean_and_lists(tmp_path):
    p = _baseline(tmp_path, {"a": 2.0, "b": 1.0, "c": 4.0, "gone": 1.0})
    out = compare({"a": 1.0, "b": 2.0, "c": 4.0, "new": 9.0}, p, FP, 0.1)
    assert out["prev_per_query_baseline"] == "BENCH_local.json"
    assert out["n_common_vs_prev"] == 3  # gone/new excluded
    # speedups: a=2.0, b=0.5, c=1.0 → geomean = 1.0
    assert out["geomean_speedup_vs_prev"] == 1.0
    assert out["n_regressed_gt10pct"] == 1
    assert out["n_improved_gt10pct"] == 1
    assert out["top_regressed"] == [{"q": "b", "prev": 1.0, "now": 2.0}]
    # b is 2x (> 1.5x) and 1.0 s (> 0.5 s) slower → flagged
    assert out["regressions_vs_prev"] == ["b"]


def test_perf_vs_prev_sf_mismatch_skipped(tmp_path):
    # an sf1 run against sf0.1 medians would read as the whole suite
    # regressed
    p = _baseline(tmp_path, {"a": 1.0}, sf=0.1)
    assert compare({"a": 50.0}, p, FP, 1.0) == {"comparable": False}


def test_perf_vs_prev_missing_baseline(tmp_path):
    out = compare({"a": 1.0}, str(tmp_path / "absent.json"), FP, 0.1)
    assert out == {"comparable": False}


# --- absolute latency budget --------------------------------------------------
def test_budget_flags_born_slow_query_at_sf01():
    assert over_latency_budget({"new_slow": LATENCY_BUDGET_S + 1}, 0.1) == [
        "new_slow"
    ]


def test_budget_only_applies_at_sf01():
    t = {"new_slow": LATENCY_BUDGET_S + 1}
    assert over_latency_budget(t, 1.0) == []
    assert over_latency_budget(t, 0.01) == []
    assert over_latency_budget(t, None) == []


def test_last_committed_bench_is_within_budget():
    """The checked-in BENCH_local medians must respect the budget. The
    wedge pair (capped in round 5) is allowed to exceed in baselines
    recorded BEFORE the cap landed."""
    p = os.path.join(REPO, "BENCH_local.json")
    with open(p) as f:
        doc = json.load(f)
    timings = (doc.get("parsed") or doc)["queries"]
    pre_cap = {"adamic_adar_topk", "link_prediction_cn"}
    flagged = [
        q
        for q in over_latency_budget(timings, float(doc.get("sf", 0.1)))
        if q not in pre_cap
    ]
    assert flagged == []


# --- the compact last stdout line ---------------------------------------------
def _payload(**extra) -> dict:
    return {
        "metric": "synthetic_query_suite_total",
        "value": 270.361,
        "unit": "sec",
        "queries": {f"q{i}": 0.5 for i in range(315)},
        "sf": 0.1,
        "runs_per_query": 3,
        "fingerprint": dict(FP, cpu="x86_64", java="17.0.20",
                            python="3.11.7", driver_memory="16g"),
        "failed": {},
        "latency_budget_s": 5.0,
        "over_latency_budget": [],
        **extra,
    }


def test_compact_summary_fits_driver_tail_and_parses():
    """The final bench stdout line must survive a 2000-char tail
    capture as ONE complete JSON object: no per-query map, bounded
    name lists, all gate fields present."""
    payload = _payload(
        comparable=True,
        regressions_vs_prev=[f"q{i}" for i in range(40)],  # pathological
        failed={f"q{i}": "x" * 300 for i in range(40)},
    )
    line = json.dumps(compact_summary(payload))
    assert len(line) < 1900, len(line)  # headroom inside the 2000 tail
    parsed = json.loads(line)
    assert "queries" not in parsed  # the unbounded map stays out
    assert parsed["queries_n"] == 315
    assert parsed["value"] == 270.361
    assert parsed["fingerprint"] == payload["fingerprint"]
    # truncated lists still name the overflow; failures by name only
    assert parsed["regressions_vs_prev"][-1] == "...+20 more"
    assert len(parsed["regressions_vs_prev"]) == 21
    assert parsed["failed"][-1] == "...+20 more"


def test_compact_summary_carries_perf_fields_within_tail():
    """With the comparison fields present AND pathological name lists,
    the compact line must still fit the 2000-char tail."""
    payload = _payload(
        comparable=True,
        regressions_vs_prev=[f"q{i}" for i in range(40)],
        prev_per_query_baseline="BENCH_local.json",
        geomean_speedup_vs_prev=1.043,
        n_common_vs_prev=315,
        n_regressed_gt10pct=3,
        n_improved_gt10pct=11,
        top_regressed=[
            {"q": f"some_long_query_name_{i}", "prev": 3.141, "now": 4.253}
            for i in range(5)
        ],
    )
    line = json.dumps(compact_summary(payload))
    assert len(line) < 1900, len(line)
    parsed = json.loads(line)
    assert parsed["comparable"] is True
    assert parsed["geomean_speedup_vs_prev"] == 1.043
    assert len(parsed["top_regressed"]) == 5
    assert "queries" not in parsed


# --- the timing loop, on fake specs and a fake noop sink ----------------------
class _Sink:
    def __init__(self, log: list, name: str):
        self.log, self.name = log, name

    def format(self, fmt: str) -> _Sink:
        assert fmt == "noop"
        return self

    def mode(self, mode: str) -> _Sink:
        return self

    def save(self) -> None:
        self.log.append(self.name)


class _Frame:
    def __init__(self, log: list, name: str):
        self.write = _Sink(log, name)


class _Spec:
    def __init__(self, log: list, name: str, error: str | None = None):
        self.log, self.name, self.error = log, name, error

    def spark(self, spark, sf_dir: str) -> _Frame:
        if self.error:
            raise RuntimeError(self.error)
        return _Frame(self.log, self.name)


class _Conf:
    def get(self, key: str) -> str:
        return "1g"


class _Spark:
    conf = _Conf()


@pytest.fixture
def fake_bench(monkeypatch, tmp_path):
    """bench.main wired to fake queries: returns (ran, released, run)
    where ``ran`` logs each completed noop write, ``released`` counts
    unpersist_all calls and ``run(argv)`` returns (exit, full, compact)."""
    ran: list[str] = []
    released: list[int] = []
    monkeypatch.setattr(
        bench,
        "QUERIES",
        {
            "a": _Spec(ran, "a"),
            "boom": _Spec(ran, "boom", error="ArithmeticException: overflow\nat"),
            "c": _Spec(ran, "c"),
        },
    )
    monkeypatch.setattr(bench, "get_spark", lambda name: _Spark())
    monkeypatch.setattr(bench.host, "fingerprint", lambda spark, settings: FP)
    monkeypatch.setattr(bench, "unpersist_all", lambda s: released.append(1))
    monkeypatch.setattr(bench, "FULL_OUT", str(tmp_path / "full.json"))
    monkeypatch.setattr(bench, "BASELINE", str(tmp_path / "BENCH_local.json"))
    monkeypatch.setenv("SPARK_GRAFT_SF_DIR", str(tmp_path / "sf0.1"))
    monkeypatch.setenv("SPARK_GRAFT_BENCH_RUNS", "3")
    monkeypatch.delenv("SPARK_GRAFT_BENCH_STRICT", raising=False)

    def run(argv, capsys):
        code = bench.main(argv)
        lines = capsys.readouterr().out.strip().splitlines()
        return code, json.loads(lines[-2]), json.loads(lines[-1])

    return ran, released, run


def test_odd_passes_run_in_reverse(fake_bench, capsys):
    ran, released, run = fake_bench
    code, full, _ = run(["a", "c"], capsys)
    assert code == 0
    assert ran == ["a", "c", "c", "a", "a", "c"]
    assert len(released) == 6  # blocks released after every sample
    assert set(full["queries"]) == {"a", "c"}
    assert full["runs_per_query"] == 3


def test_raising_query_recorded_and_loop_keeps_going(fake_bench, capsys):
    ran, released, run = fake_bench
    code, full, compact = run([], capsys)  # no names: every query
    assert code != 0
    assert full["failed"] == {"boom": "ArithmeticException: overflow"}
    assert compact["failed"] == ["boom"]
    # the queries after the failure are still timed, in every pass
    assert ran == ["a", "c", "c", "a", "a", "c"]
    assert set(full["queries"]) == {"a", "c"}
    assert len(released) == 7  # boom's one attempt is released too


def test_run_without_matching_baseline_prints_not_comparable(
    fake_bench, tmp_path, capsys
):
    _, _, run = fake_bench
    other = dict(FP, nproc=32)
    _baseline(tmp_path, {"a": 0.0001, "c": 0.0001}, fingerprint=other)
    code, full, compact = run(["a", "c"], capsys)
    assert code == 0
    for line in (full, compact):
        assert line["comparable"] is False
        assert line["fingerprint"] == FP
        assert "regressions_vs_prev" not in line
        assert "geomean_speedup_vs_prev" not in line
    # a same-host baseline is compared
    _baseline(tmp_path, {"a": 10.0, "c": 10.0})
    _, _, compact = run(["a", "c"], capsys)
    assert compact["comparable"] is True
    assert compact["regressions_vs_prev"] == []


def test_unknown_query_name_rejected(fake_bench):
    assert bench.main(["no_such_query"]) == 2
