"""Scale-ladder report: per-query wall time at three scale factors and
the implied scaling exponent, so sub/super-linear behavior is a
checked-in number instead of a docstring claim.

Usage:
    python tools/scaling_report.py SF01_JSON SF1_JSON SF10_JSON [out_md]

Each positional argument may be a COMMA-SEPARATED list of artifacts
for that rung; the per-query time is the MINIMUM across them.
External host contention on this box is strictly ADDITIVE (the same
query measured 29.8 s and 122.0 s back-to-back in one JVM at load
average 27), so the min over repeated sweeps is the consistent
estimator of plan cost — a single-shot sweep inherits whatever
noise window each query happened to land in.

Inputs are ``bench.py`` artifacts (``BENCH_latest_full.json`` copied
aside per run; ``SPARK_GRAFT_SF_DIR`` picks the rung), per-round
``BENCH_r*.json`` files, or the older sweep artifacts under
``scaling_runs/`` — all carry ``queries``.
Data volume steps 10x between adjacent rungs, so the fitted exponent
is ``log10(t_sf10 / t_sf1)``: 1.0 = linear, <1 sub-linear (fixed
overhead amortizing away), >1 super-linear. Queries whose exponent
exceeds ``FLAG_EXPONENT`` *and* whose sf10 time exceeds ``FLAG_SECS``
are listed as scale risks (tiny absolute times produce noisy
exponents; a 0.2 s -> 4 s query is JVM noise, not a design problem).

Writes a markdown table sorted by sf10 time, with the flagged set on
top, to ``SCALING.md`` by default.
"""

from __future__ import annotations

import json
import math
import sys

FLAG_EXPONENT = 1.30  # >10^1.3 ~ 20x wall per 10x data
FLAG_SECS = 20.0  # ignore exponent noise below this absolute sf10 time


def load_times(paths: str, supersede: set[str] | None = None) -> dict[str, float]:
    """Per-query seconds; ``paths`` may be comma-separated — the
    reported time is then the per-query MIN across the artifacts.

    A ``;`` splits the list into OLD and FRESH artifacts: queries in
    ``supersede`` take their min over the FRESH files only (everything
    else mins over all files, fresh included). Use for queries whose
    plan was rewritten mid-round — a min across old-plan and new-plan
    sweeps would attribute the faster measurement to whichever plan
    happened to win the noise, which is not a statement about the
    shipping code."""
    old_part, _, fresh_part = paths.partition(";")
    out: dict[str, float] = {}
    for part, is_fresh in ((old_part, False), (fresh_part, True)):
        if not part:
            continue
        for path in part.split(","):
            with open(path) as f:
                doc = json.load(f)
            doc = doc.get("parsed") or doc
            qs = doc.get("queries") or {}
            for name, v in qs.items():
                if isinstance(v, dict):
                    if "error" in v:
                        continue
                    v = v.get("s")
                if v is None:
                    continue
                if supersede and name in supersede and not is_fresh:
                    continue  # old-plan measurement of a rewritten query
                v = float(v)
                out[name] = min(out.get(name, v), v)
    return out


def main() -> int:
    args = sys.argv[1:]
    supersede: set[str] = set()
    if "--supersede" in args:
        # --supersede a,b: these queries' plans were rewritten after
        # the main sweeps; their times come only from artifacts listed
        # after the ';' in each rung's list (see load_times)
        i = args.index("--supersede")
        supersede = set(args[i + 1].split(","))
        del args[i : i + 2]
    if len(args) < 3:
        print(__doc__)
        return 2
    t01 = load_times(args[0], supersede)
    t1 = load_times(args[1], supersede)
    t10 = load_times(args[2], supersede)
    out_md = args[3] if len(args) > 3 else "SCALING.md"

    rows = []
    for name in sorted(set(t01) | set(t1) | set(t10)):
        a, b, c = t01.get(name), t1.get(name), t10.get(name)
        exp = (
            round(math.log10(c / b), 2)
            if (b and c and b > 0.05)  # sub-50ms base is pure noise
            else None
        )
        flagged = (
            exp is not None and exp > FLAG_EXPONENT and c is not None and c > FLAG_SECS
        )
        rows.append((name, a, b, c, exp, flagged))

    flagged = [r for r in rows if r[5]]
    rows.sort(key=lambda r: -(r[3] or 0.0))

    def fmt(v, nd=2):
        return f"{v:.{nd}f}" if v is not None else "—"

    n_runs = [len(a.replace(";", ",").split(",")) for a in args[0:3]]
    shots = (
        "single-shot"
        if max(n_runs) == 1
        else f"min over {'/'.join(str(n) for n in n_runs)} sweeps — host "
        "contention is additive, so the min estimates plan cost"
    )
    lines = [
        "# SCALING — per-query wall time across a 100x data ladder",
        "",
        f"Columns: seconds at sf0.1 / sf1 / sf10 ({shots}, {len(rows)}",
        "queries), `exp` = log10(t_sf10/t_sf1) — the scaling exponent over",
        "the last 10x step (1.0 = linear). Flag rule: exp > "
        f"{FLAG_EXPONENT} AND sf10 > {FLAG_SECS:.0f}s.",
        "",
        f"**Flagged super-linear at scale: {len(flagged)}**"
        + (
            " — " + ", ".join(r[0] for r in flagged)
            if flagged
            else " (none)"
        ),
        "",
        "| query | sf0.1 s | sf1 s | sf10 s | exp |",
        "|---|---|---|---|---|",
    ]
    for name, a, b, c, exp, fl in rows:
        mark = " ⚠" if fl else ""
        lines.append(
            f"| {name}{mark} | {fmt(a)} | {fmt(b)} | {fmt(c)} | {fmt(exp)} |"
        )
    with open(out_md, "w") as f:
        f.write("\n".join(lines) + "\n")
    print(f"wrote {out_md}: {len(rows)} queries, {len(flagged)} flagged")
    for r in flagged:
        print(f"  FLAG {r[0]}: sf1={r[2]} sf10={r[3]} exp={r[4]}")
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
