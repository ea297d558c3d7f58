"""Query-suite timer: run declared queries at $SPARK_GRAFT_SF_DIR.

    python bench.py [QUERY ...]

Runs the named queries, or every query in ``QUERIES`` when none are
named, for SPARK_GRAFT_BENCH_RUNS (default 3) interleaved passes in one
session. Odd passes run the list in reverse (ABBA), so JVM warm-up and
drift land on both ends of the order instead of on the same queries.
Each sample times ``spec.spark(...)`` plus a ``noop`` write (full
compute, no driver-side collect), then releases the query's persisted
and checkpointed blocks so suite memory stays flat in query count. A
query that raises is recorded under ``failed`` with its error and is
not run again; the loop keeps going. The reported time is the
per-query MEDIAN over the passes.

The run is stamped with the host fingerprint from ``perfbench.host``.
It is compared against ``BENCH_local.json`` only when that file carries
the same fingerprint and scale factor; otherwise the output says
``"comparable": false`` and carries no comparison fields. Numbers from
another host, core count or heap are never rescaled into this one's.

Prints the full JSON line (per-query map included, also written to
``BENCH_latest_full.json``), then ONE final COMPACT JSON line without
the per-query map, sized to survive a ~2000-char stdout tail capture.
Exits non-zero when a query failed, and, with SPARK_GRAFT_BENCH_STRICT
set, also on a regression or a latency-budget breach.
"""

from __future__ import annotations

import json
import math
import os
import statistics
import sys
import time

REPO = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, REPO)

from bikes_data_warehouse_etl_spark.plans import QUERIES  # noqa: E402
from bikes_data_warehouse_etl_spark.session import (  # noqa: E402
    get_spark,
    unpersist_all,
)
from perfbench import host  # noqa: E402

BASELINE = os.path.join(REPO, "BENCH_local.json")
# NOT named BENCH_local.json on purpose: a file overwritten by every run
# must never become the baseline, or each run would compare to itself.
FULL_OUT = os.path.join(REPO, "BENCH_latest_full.json")

# Absolute per-query latency budget. The comparison is RELATIVE, so a
# query born slow never trips it; this flags any query whose sf0.1
# median exceeds the budget. It applies only at sf0.1: at other scale
# factors the absolute numbers mean different work.
LATENCY_BUDGET_S = 5.0


def time_queries(
    spark, names: list[str], sf_dir: str, n_runs: int
) -> tuple[dict[str, float], dict[str, str]]:
    """Per-query median seconds over ``n_runs`` interleaved passes, and
    ``{name: error}`` for the queries that raised."""
    samples: dict[str, list[float]] = {name: [] for name in names}
    failed: dict[str, str] = {}
    for p in range(n_runs):
        for name in names if p % 2 == 0 else names[::-1]:
            if name in failed:
                continue
            t0 = time.perf_counter()
            try:
                df = QUERIES[name].spark(spark, sf_dir)
                df.write.format("noop").mode("overwrite").save()
                samples[name].append(time.perf_counter() - t0)
            except Exception as e:  # noqa: BLE001 — keep timing the rest
                lines = str(e).strip().splitlines()
                failed[name] = (lines[0] if lines else type(e).__name__)[:300]
                print(f"{name}: FAIL {failed[name]}", file=sys.stderr)
            finally:
                unpersist_all(spark)
    timings = {
        name: round(statistics.median(ts), 3)
        for name, ts in samples.items()
        if name not in failed
    }
    return timings, failed


def compare(
    timings: dict[str, float],
    baseline_path: str | None,
    fingerprint: dict,
    sf: float | None,
    threshold: float = 1.5,
) -> dict:
    """This run against one baseline run of the same host and sf.

    A query regresses when it is > ``threshold``× its baseline median
    AND more than 0.5 s slower (sub-second queries jitter with warm-up
    order: 0.2 s → 0.4 s is noise, 5 s → 9 s is not). Queries absent
    from the baseline never count. The aggregate fields are the
    geomean speedup over the common queries and the counts that moved
    by more than 10% either way, with the five worst before/after."""
    if baseline_path is None:
        return {"comparable": False}
    try:
        with open(baseline_path) as f:
            doc = json.load(f)
    except (OSError, json.JSONDecodeError):
        return {"comparable": False}
    if doc.get("fingerprint") != fingerprint or doc.get("sf") != sf:
        return {"comparable": False}
    base = doc.get("queries") or {}
    speedups = {
        q: base[q] / t
        for q, t in timings.items()
        if q in base and t > 0 and base[q] > 0
    }
    slower = sorted(
        (q for q, s in speedups.items() if s < 1 / 1.1),
        key=lambda q: speedups[q],
    )
    out = {
        "comparable": True,
        "prev_per_query_baseline": os.path.basename(baseline_path),
        "regressions_vs_prev": sorted(
            q
            for q, t in timings.items()
            if q in base and t > base[q] * threshold and t - base[q] > 0.5
        ),
        "n_common_vs_prev": len(speedups),
        "n_regressed_gt10pct": len(slower),
        "n_improved_gt10pct": sum(1 for s in speedups.values() if s > 1.1),
        "top_regressed": [
            {"q": q, "prev": base[q], "now": timings[q]} for q in slower[:5]
        ],
    }
    if speedups:
        out["geomean_speedup_vs_prev"] = round(
            math.exp(statistics.fmean(math.log(s) for s in speedups.values())),
            3,
        )
    return out


def over_latency_budget(timings: dict[str, float], sf: float | None) -> list[str]:
    """Queries whose median exceeds the absolute budget at sf0.1."""
    if sf is None or abs(sf - 0.1) > 1e-9:
        return []
    return sorted(name for name, t in timings.items() if t > LATENCY_BUDGET_S)


def compact_summary(payload: dict) -> dict:
    """The final stdout line's content: every gate field, NO per-query
    map, so a ~2000-char tail capture ends with one complete parseable
    JSON object. Name lists are the unbounded fields; a pathological
    run truncates them by count."""
    s = {
        k: payload[k]
        for k in (
            "metric",
            "value",
            "unit",
            "sf",
            "runs_per_query",
            "fingerprint",
            "comparable",
            "failed",
            "regressions_vs_prev",
            "latency_budget_s",
            "over_latency_budget",
            "prev_per_query_baseline",
            "geomean_speedup_vs_prev",
            "n_common_vs_prev",
            "n_regressed_gt10pct",
            "n_improved_gt10pct",
            "top_regressed",
        )
        if k in payload
    }
    if "failed" in s:
        s["failed"] = sorted(s["failed"])
    for k in ("failed", "regressions_vs_prev", "over_latency_budget"):
        if len(s.get(k, [])) > 20:
            s[k] = s[k][:20] + [f"...+{len(s[k]) - 20} more"]
    s["queries_n"] = len(payload.get("queries", {}))
    s["per_query_in"] = os.path.basename(FULL_OUT)
    return s


def main(argv: list[str] | None = None) -> int:
    names = list(sys.argv[1:] if argv is None else argv) or list(QUERIES)
    unknown = [n for n in names if n not in QUERIES]
    if unknown:
        print(f"unknown queries: {unknown}", file=sys.stderr)
        return 2
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    sf = os.path.basename(sf_dir.rstrip("/")).replace("sf", "")
    sf = float(sf) if sf else None
    n_runs = int(os.environ.get("SPARK_GRAFT_BENCH_RUNS", "3"))
    spark = get_spark("bench")
    fp = host.fingerprint(
        spark, {"driver_memory": spark.conf.get("spark.driver.memory")}
    )

    timings, failed = time_queries(spark, names, sf_dir, n_runs)
    over_budget = over_latency_budget(timings, sf)
    payload = {
        "metric": "synthetic_query_suite_total",
        "value": round(sum(timings.values()), 3),
        "unit": "sec",
        "queries": timings,
        "sf": sf,
        "runs_per_query": n_runs,
        "fingerprint": fp,
        "failed": failed,
        "latency_budget_s": LATENCY_BUDGET_S,
        "over_latency_budget": over_budget,
        **compare(timings, BASELINE, fp, sf),
    }
    try:
        with open(FULL_OUT, "w") as f:
            json.dump(payload, f, indent=1)
            f.write("\n")
    except OSError:
        pass  # read-only checkout: the printed lines are still the contract
    print(json.dumps(payload))
    print(json.dumps(compact_summary(payload)))
    if failed:
        return 1
    strict = os.environ.get("SPARK_GRAFT_BENCH_STRICT")
    if strict and (payload.get("regressions_vs_prev") or over_budget):
        return 1
    return 0


if __name__ == "__main__":
    sys.exit(main())
