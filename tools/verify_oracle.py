"""Local replica of the driver's DuckDB-oracle differential gate.

Runs every ``queries()`` entry in Spark and its ``oracle_sql()`` twin in
DuckDB on the same parquet, then compares row count, column names, and
an order-insensitive value hash (columns sorted by name, rows sorted,
floats rounded to 6dp before hashing to absorb summation-order noise —
queries themselves already round displayed doubles to 2dp).

Usage: python tools/verify_oracle.py [sf_dir] [query ...]
       [--dist-hash a,b] [--count-only a,b] [--oracle-timeout S]
       [--resume LOG [rerun ...]] [--reuse-fail a,b] [--merge]

``--dist-hash`` value-certifies over-budget result sets without ever
materializing them: both engines compute an order-insensitive per-row
md5 fold fully distributed (Spark DECIMAL(38,0) sum / DuckDB HUGEINT
sum) and two scalars are compared — the hash-tier upgrade of the old
count-only path. ``--merge`` (with a query filter) folds the results
into the existing CORRECTNESS artifact for this sf and recomputes its
counters, so a single-query tier upgrade at sf10 does not need a
multi-hour full re-run.

Writes the full per-query matrix to ``CORRECTNESS_local.json`` (repo
root) when run without a query filter, so the verified surface is a
checked-in artifact rather than a claim. Oracle-verified and rows-only
queries are counted separately in the summary — a rows-only "OK?" is a
weaker check and must not inflate the match count.
"""

from __future__ import annotations

import hashlib
import json
import os
import sys

import duckdb
import pandas as pd

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def _null_int_col(s: pd.Series) -> pd.Series:
    """Integral column containing nulls. Below 2^53 every value is
    exact in float64, so the float string form ('5.0', 'nan') pairs
    with the NaN-float column the other engine typically returns for a
    nullable integer. AT OR ABOVE 2^53 a float round-trip collapses
    low bits — 64-bit hash values differing only there would
    false-PASS the gate — so large-magnitude columns use exact
    per-element strings instead (worst case a false FAIL on an exotic
    dtype pairing, never a false PASS).

    Two advisor-r8 hardenings, both vectorized (this path runs on
    60M-row sf10 outputs): (1) the numeric normalization is accepted
    only if coercion introduced NO new NaNs (coerced-NaN count ==
    original null count) — otherwise non-numeric values beyond the
    classifier's sample would silently hash as nulls, a false PASS;
    (2) the 2^53 magnitude trigger is a vectorized ``abs().max()``
    instead of a per-element Python scan. The float trigger is exact
    at the boundary: any true >= 2^53 integer coerces to a float
    >= 2^53 (nearest-even never rounds below it), so the trigger can
    only fire when it should."""
    try:
        # to_numeric handles object series holding pd.NA/None/Decimal
        num = pd.to_numeric(s, errors="coerce")
        coerce_broke = int(num.isna().sum()) != int(s.isna().sum())
    except (TypeError, ValueError, OverflowError):
        num, coerce_broke = None, True
    if coerce_broke:
        # not actually numeric end-to-end: exact per-element strings
        # (false-FAIL direction — the gate's stated worst case)
        return s.map(lambda v: "\0null" if pd.isna(v) else str(v))
    nn = num.dropna()
    big = len(nn) and float(nn.abs().max()) >= float(1 << 53)
    if big:
        return s.map(lambda v: "\0null" if pd.isna(v) else str(int(v)))
    return num.astype("float64").round(6).astype(str)


def _norm_object_col(s: pd.Series) -> pd.Series:
    """Dtype-robust normalization of an object column (ADVICE r7):
    DuckDB returns HUGEINT/DECIMAL results as object columns of Python
    ints/Decimals while Spark's twin is native int64 — the raw
    astype(str) path made identical values hash differently. Integral
    object columns normalize to int64 (same hash as a native int
    column); numeric-with-nulls normalizes through the float64 string
    form (same hash as the classic NaN-float column the other engine
    yields for a nullable numeric); anything else keeps str()."""
    import decimal

    import numpy as np

    nn = s.dropna()
    sample = nn.iloc[:1000]
    if len(sample):
        # bool before int: isinstance(True, int) is True
        if all(isinstance(v, (bool, np.bool_)) for v in sample):
            return s.astype(str)
        is_integral = all(
            isinstance(v, (int, np.integer))
            or (
                isinstance(v, decimal.Decimal)
                and v == v.to_integral_value()
            )
            for v in sample
        )
        if is_integral:
            if not s.isna().any():
                try:
                    return s.map(int).astype("int64")
                except (TypeError, ValueError, OverflowError):
                    pass
            else:
                return _null_int_col(s)
        if all(
            isinstance(
                v, (int, float, decimal.Decimal, np.integer, np.floating)
            )
            for v in sample
        ):
            try:
                return s.astype("float64").round(6).astype(str)
            except (TypeError, ValueError, OverflowError):
                pass
    return s.astype(str)


_HEX15 = "0123456789abcdef"


def _duck_hex15_terms(col: str = "h") -> str:
    """DuckDB SQL parsing a 15-char lowercase hex string as a BIGINT —
    an explicit base-16 polynomial (DuckDB cannot CAST '0x…' strings,
    and its md5_number_* variants are byte-swapped relative to the hex
    form, so the portable meeting point with Spark's ``conv(x, 16, 10)``
    is plain positional arithmetic). 15 hex chars < 2^60: exact in
    BIGINT on both engines."""
    return " + ".join(
        f"(strpos('{_HEX15}', substr({col}, {i + 1}, 1)) - 1)"
        f" * {16 ** (15 - 1 - i)}"
        for i in range(15)
    )


# Spark dtypes whose CAST(… AS STRING) is bit-identical to DuckDB's
# CAST(… AS VARCHAR): integers print the same digits, dates print
# yyyy-MM-dd, booleans print true/false. Decimals/timestamps are
# deliberately NOT here — their text forms differ in trailing
# zeros / precision across engines, and a dist-hash over them would
# false-FAIL (never silently pass). Extend only with a proven pairing.
_DIST_HASH_DTYPES = {"tinyint", "smallint", "int", "bigint",
                     "string", "date", "boolean"}
# Float dtypes canonicalized through an exact FIXED-POINT form instead
# of the engine-divergent text cast: floor(x * 1e6) as a 64-bit int.
# Proven identical on both engines (tests/test_registry_contract.py):
# x * 1e6 is one IEEE-754 double multiply (correctly rounded, so
# bit-identical for identical inputs; FLOAT widens to double exactly),
# floor is exact on both, and the result is an integral double that
# DuckDB's rounding BIGINT cast and Spark's floor→LONG both represent
# exactly below 2^63. NaN maps to a literal sentinel on both engines
# (Spark isnan / DuckDB isnan); ±Infinity overflows the BIGINT cast —
# an engine ERROR, i.e. the false-FAIL direction, never a false PASS.
# Semantics: values are compared at 1e-6 quantization — the same 6dp
# granularity the pandas materialize tier uses (round(6)); a pair
# straddling a floor boundary by <1e-6 can only FAIL, not false-PASS.
_DIST_HASH_FIXEDPOINT = {"float", "double"}


def dist_hash_exprs(
    columns, dtypes: dict[str, str] | None = None
) -> tuple[list, str]:
    """Build the per-row canonical-string → md5 → 15-hex-char →
    integer expressions for BOTH engines over the given column names
    (sorted by the caller). ``dtypes`` maps column name → Spark
    ``simpleString``; columns typed in ``_DIST_HASH_FIXEDPOINT`` take
    the fixed-point float canonicalization, everything else the plain
    engine-identical string cast. Returns (spark Column list for agg,
    duckdb SELECT projecting ``n`` and ``hsum``'s inner canon expr).

    The per-row hash folds with an EXACT commutative sum — Spark
    DECIMAL(38,0), DuckDB HUGEINT; 372M rows × 2^60 ≈ 2^88 « both —
    so two result multisets compare as two scalars with no driver
    materialization. Collision bound: differing multisets collide only
    if their 60-bit-truncated-md5 sums coincide, ~2^-60 per gate for
    non-adversarial corruption. Caveat (documented, not enforceable
    cheaply): a value containing the 0x1F separator or the literal
    sentinel '\\x00null' could alias a neighbor — impossible in these
    tables' data domains."""
    from pyspark.sql import functions as F

    dtypes = dtypes or {}

    def _spark_canon(c: str):
        if dtypes.get(c) in _DIST_HASH_FIXEDPOINT:
            # widen to double EXPLICITLY on both engines: DuckDB types
            # FLOAT * 1e6 as FLOAT (1024.125*1e6 → 1024124992 in
            # float32) while Spark promotes to double (→ 1024125000) —
            # the widening itself is exact, the float32 multiply is not
            col = F.col(c).cast("double")
            fixed = F.when(F.isnan(col), F.lit("nan")).otherwise(
                F.floor(col * F.lit(1000000.0)).cast("string")
            )
            return F.coalesce(fixed, F.lit("\x00null"))
        return F.coalesce(F.col(c).cast("string"), F.lit("\x00null"))

    def _duck_canon(c: str) -> str:
        if dtypes.get(c) in _DIST_HASH_FIXEDPOINT:
            d = f'CAST("{c}" AS DOUBLE)'
            return (
                f"coalesce(CASE WHEN isnan({d}) THEN 'nan' ELSE "
                f"CAST(CAST(floor({d} * 1000000.0) AS BIGINT) AS "
                f"VARCHAR) END, chr(0) || 'null')"
            )
        return f'coalesce(CAST("{c}" AS VARCHAR), chr(0) || \'null\')'

    canon_s = [_spark_canon(c) for c in columns]
    h_s = F.conv(
        F.substring(F.md5(F.concat_ws("\x1f", *canon_s)), 1, 15), 16, 10
    ).cast("decimal(38,0)")
    spark_aggs = [
        F.count(F.lit(1)).alias("n"),
        F.sum(h_s).alias("hsum"),
    ]
    canon_d = ", ".join(_duck_canon(c) for c in columns)
    duck_sql = (
        "SELECT COUNT(*) AS n, "
        f"SUM(CAST({_duck_hex15_terms()} AS HUGEINT)) AS hsum "
        "FROM (SELECT substr(md5(concat_ws(chr(31), "
        f"{canon_d})), 1, 15) AS h FROM ({{oracle}}) t0) t1"
    )
    return spark_aggs, duck_sql


def canonical_hash(df: pd.DataFrame) -> tuple[int, tuple, str]:
    """Order-insensitive value hash: per-row 64-bit hashes (columns in
    sorted-name order), sorted as a uint64 multiset, sha256'd.

    Vectorized end to end — the previous python-level
    ``sorted(map(tuple, ...))`` + ``repr`` canonicalization was
    O(minutes and tens of GB) on the 60M-row sf10 outputs; this path
    hashes the same logical multiset in seconds. Normalization: floats
    round to 6dp then compare by string repr, datetimes by microsecond
    value, integer WIDTH normalized to int64, object columns of
    ints/Decimals normalized to the matching numeric form (see
    ``_norm_object_col``), nullable ints with NA through the float
    string form (the other engine's NaN-float column), bools by str,
    everything else by str()."""
    import numpy as np

    cols = sorted(df.columns)
    row_h = None
    for c in cols:
        s = df[c]
        if s.dtype.kind == "f":
            s = s.round(6).astype(str)
        elif s.dtype.kind in "iu":
            if s.isna().any():
                # pandas nullable Int64 with NA: astype('int64') raises;
                # magnitude-aware normalization (_null_int_col) — float
                # string form below 2^53, exact strings above
                s = _null_int_col(s.astype(object))
            else:
                s = s.astype("int64")
        elif s.dtype.kind == "M":
            # string norm, NOT epoch ints: pandas drops midnight times
            # in str form, which is exactly how a datetime64 DuckDB
            # DATE lines up with Spark's object datetime.date column
            s = s.astype("datetime64[us]").astype(str)
        elif s.dtype.kind == "b":
            # native-bool vs object-bool columns must hash identically
            s = s.astype(str)
        elif s.dtype.kind == "O":
            s = _norm_object_col(s)
        else:
            s = s.astype(str)
        col_h = pd.util.hash_pandas_object(s, index=False).to_numpy(
            dtype="uint64", copy=True
        )
        if row_h is None:
            row_h = col_h
        else:
            # FNV-style mix keeps column order significant
            row_h = row_h * np.uint64(0x100000001B3) ^ col_h
    if row_h is None or len(df) == 0:
        return 0, tuple(cols), hashlib.sha256(b"").hexdigest()[:16]
    row_h.sort()
    h = hashlib.sha256(row_h.tobytes()).hexdigest()[:16]
    return len(df), tuple(cols), h


def main() -> int:
    args = sys.argv[1:]
    resume_log = None
    force_rerun: set[str] = set()
    count_only: set[str] = set()
    oracle_timeout: float | None = None
    if "--count-only" in args:
        # --count-only a,b,c: compare row COUNTS only (Spark .count()
        # vs DuckDB COUNT(*) over the oracle) for queries whose OUTPUT
        # is too large to canonicalize through pandas at this sf (e.g.
        # fuzzy_name_pairs emits 372M pairs at sf10). A count match is
        # a weaker tier than a hash match and is reported separately —
        # these queries stay hash-verified at the largest sf where the
        # output fits (sf1 for all current members).
        i = args.index("--count-only")
        count_only = set(args[i + 1].split(","))
        del args[i : i + 2]
    dist_hash: set[str] = set()
    if "--dist-hash" in args:
        # --dist-hash a,b,c: VALUE-certify queries whose output is too
        # large to canonicalize through pandas (the former count-only
        # tier): both engines compute an order-insensitive per-row
        # md5-fold (see dist_hash_exprs) fully distributed and compare
        # two scalars — (row count, exact commutative hash sum). A
        # dist-hash match is a hash-tier certification, not count-only.
        i = args.index("--dist-hash")
        dist_hash = set(args[i + 1].split(","))
        del args[i : i + 2]
    merge_artifact = "--merge" in args
    if merge_artifact:
        # --merge: with a query filter, update ONLY those entries in
        # the existing CORRECTNESS artifact for this sf (counters
        # recomputed from the merged per-query statuses) instead of
        # requiring a multi-hour full re-run to record one upgrade.
        args.remove("--merge")
    if "--oracle-timeout" in args:
        # --oracle-timeout S: interrupt a DuckDB oracle after S seconds
        # (some declarative oracle formulations — recursive-CTE
        # closures, quadratic pair SQL — are deliberately naive and may
        # be orders slower than the Spark plan at sf10). A timeout is
        # recorded as its own status, never silently dropped.
        i = args.index("--oracle-timeout")
        oracle_timeout = float(args[i + 1])
        del args[i : i + 2]
    reuse_fail: set[str] = set()
    if "--reuse-fail" in args:
        # --reuse-fail a,b: let --resume reuse a recorded FAIL line for
        # exactly these queries (e.g. a DuckDB out-of-memory on an
        # oracle that is infeasible at this sf) instead of re-running
        # it. Opt-in and name-scoped — ordinary FAILs always re-run.
        i = args.index("--reuse-fail")
        reuse_fail = set(args[i + 1].split(","))
        del args[i : i + 2]
    if "--resume" in args:
        # --resume LOG [name ...]: reuse PASS results recorded in a
        # previous run's stdout log (long sf1 runs die to one slow
        # oracle; re-verifying 200 green queries wastes an hour).
        # Names after the log path are re-run even if they PASSed
        # (their code changed since the log was written); FAIL/OK?
        # lines are always re-run.
        i = args.index("--resume")
        resume_log = args[i + 1]
        force_rerun = set(args[i + 2 :])
        args = args[:i]
    sf_dir = args[0] if args else "/root/testdata/sf0.01"
    only = set(args[1:])

    reused: dict[str, dict] = {}
    if resume_log:
        import re as _re

        for line in open(resume_log):
            m = _re.match(r"PASS (\w+): (\d+) rows, hash ([0-9a-f]+)", line)
            if m and m.group(1) not in force_rerun:
                reused[m.group(1)] = {
                    "status": "oracle_match",
                    "rows": int(m.group(2)),
                    "hash": m.group(3),
                }
            m = _re.match(r"PASS-COUNT (\w+): (\d+) rows", line)
            if m and m.group(1) not in force_rerun:
                reused[m.group(1)] = {
                    "status": "count_match",
                    "rows": int(m.group(2)),
                }
            m = _re.match(r"PASS-DIST (\w+): (\d+) rows, fold (\d+)", line)
            if m and m.group(1) not in force_rerun:
                reused[m.group(1)] = {
                    "status": "dist_hash_match",
                    "rows": int(m.group(2)),
                    "fold": m.group(3),
                }
            # a TIMEOUT already spent its full --oracle-timeout budget
            # in the sharded run; the merge pass records it instead of
            # re-spending 30 min per query (FAILs are NOT reused — they
            # must re-run)
            m = _re.match(r"TIMEOUT (\w+): oracle exceeded", line)
            if m and m.group(1) not in force_rerun:
                reused[m.group(1)] = {"status": "oracle_timeout"}
            m = _re.match(r"FAIL (\w+): duckdb error: (.*)", line)
            if m and m.group(1) in reuse_fail:
                reused[m.group(1)] = {
                    "status": "duckdb_error",
                    "error": m.group(2)[:200],
                }

    import __spark_entry__ as e
    from bikes_data_warehouse_etl_spark.session import get_spark
    from bikes_data_warehouse_etl_spark.sources.parquet import TABLES

    spark = get_spark("verify-oracle")
    con = duckdb.connect()
    # cap DuckDB's memory when several verify workers share the box
    # (default is 80% of RAM *per process*)
    duck_mem = os.environ.get("SPARK_GRAFT_DUCK_MEM")
    if duck_mem:
        con.execute(f"SET memory_limit='{duck_mem}'")
    # sharded runs MUST give each worker its own spill dir: concurrent
    # DuckDB processes default to <cwd>/.tmp and clobber each other's
    # temp files (observed as IO errors / aborts in the sf10 shards)
    duck_tmp = os.environ.get("SPARK_GRAFT_DUCK_TMP")
    if duck_tmp:
        os.makedirs(duck_tmp, exist_ok=True)
        con.execute(f"SET temp_directory='{duck_tmp}'")
    for t in TABLES:
        # driver testdata is single-file parquet; Spark-written sets
        # (tools/make_sf1.py) are directories of part files — DuckDB
        # needs the glob form for those
        p = f"{sf_dir}/{t}.parquet"
        if os.path.isdir(p):
            p = f"{p}/*.parquet"
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{p}')"
        )

    qs, oracles = e.queries(), e.oracle_sql()
    failures = []
    timeouts: list[str] = []
    results: dict[str, dict] = {}
    n_oracle = n_rows_only = n_count = 0

    def exec_oracle(sql: str):
        """Run an oracle with the optional interrupt watchdog."""
        if not oracle_timeout:
            return con.execute(sql)
        import threading

        timer = threading.Timer(oracle_timeout, con.interrupt)
        timer.start()
        try:
            return con.execute(sql)
        finally:
            timer.cancel()

    from bikes_data_warehouse_etl_spark.session import unpersist_all

    for name, fn in qs.items():
        if only and name not in only:
            continue
        # release localCheckpoint blocks between queries — a 315-query
        # sf10 run in one JVM otherwise accumulates checkpoint RDDs
        # until the heap dies (same discipline as bench.py)
        unpersist_all(spark)
        if name in reused:
            r = reused[name]
            results[name] = r
            if r["status"] == "count_match":
                n_count += 1
                print(f"PASS-COUNT {name}: {r['rows']} rows (resumed)")
            elif r["status"] == "dist_hash_match":
                print(
                    f"PASS-DIST {name}: {r['rows']} rows, "
                    f"fold {r['fold']} (resumed)"
                )
            elif r["status"] == "oracle_timeout":
                n_oracle += 1
                timeouts.append(name)
                print(f"TIMEOUT {name}: oracle exceeded (resumed)")
            elif r["status"] == "duckdb_error":
                n_oracle += 1
                failures.append(name)
                print(f"FAIL {name}: duckdb error: {r['error']} (resumed)")
            else:
                n_oracle += 1
                print(f"PASS {name}: {r['rows']} rows, "
                      f"hash {r['hash']} (resumed)")
            continue
        if name in dist_hash or name in count_only:
            # a query named in --dist-hash/--count-only exists PRECISELY
            # because its materialized output is too large for the
            # pandas tier: silently falling through to that tier (the
            # pre-r10 behavior when oracle_sql() lacked the name) could
            # attempt to collect hundreds of millions of rows (advisor
            # r9). Fail loudly instead.
            if name not in oracles:
                tier = "dist-hash" if name in dist_hash else "count-only"
                print(
                    f"FAIL {name}: --{tier} requested but the query has "
                    "no oracle_sql() entry — refusing the full-"
                    "materialize fallback"
                )
                failures.append(name)
                results[name] = {"status": "tier_no_oracle"}
                continue
        if name in dist_hash:
            try:
                df = fn(spark, sf_dir)
                ok_dtypes = _DIST_HASH_DTYPES | _DIST_HASH_FIXEDPOINT
                bad = [
                    f"{f.name}:{f.dataType.simpleString()}"
                    for f in df.schema.fields
                    if f.dataType.simpleString() not in ok_dtypes
                ]
                if bad:
                    raise TypeError(
                        f"dist-hash needs engine-identical string casts; "
                        f"unsupported column(s): {bad}"
                    )
                cols = sorted(df.columns)
                dtypes = {
                    f.name: f.dataType.simpleString()
                    for f in df.schema.fields
                }
                aggs, duck_tpl = dist_hash_exprs(cols, dtypes)
                srow = df.agg(*aggs).collect()[0]
                s_n = int(srow["n"])
                s_fold = int(srow["hsum"]) if srow["hsum"] is not None else 0
            except Exception as ex:
                print(f"FAIL {name}: spark error: {ex}")
                failures.append(name)
                results[name] = {
                    "status": "spark_error", "error": str(ex)[:200]
                }
                continue
            try:
                orow = exec_oracle(
                    duck_tpl.format(oracle=oracles[name])
                ).fetchone()
                o_n = int(orow[0])
                o_fold = int(orow[1]) if orow[1] is not None else 0
            except duckdb.InterruptException:
                print(f"TIMEOUT {name}: oracle exceeded {oracle_timeout}s")
                timeouts.append(name)
                results[name] = {
                    "status": "oracle_timeout", "spark_rows": s_n
                }
                continue
            except Exception as ex:
                print(f"FAIL {name}: duckdb error: {ex}")
                failures.append(name)
                results[name] = {
                    "status": "duckdb_error", "error": str(ex)[:200]
                }
                continue
            if (s_n, s_fold) == (o_n, o_fold):
                print(f"PASS-DIST {name}: {s_n} rows, fold {s_fold}")
                results[name] = {
                    "status": "dist_hash_match",
                    "rows": s_n,
                    "fold": str(s_fold),
                }
            else:
                print(
                    f"FAIL {name}: dist-hash spark=({s_n},{s_fold}) "
                    f"duckdb=({o_n},{o_fold})"
                )
                failures.append(name)
                results[name] = {
                    "status": "dist_hash_mismatch",
                    "spark": [s_n, str(s_fold)],
                    "duckdb": [o_n, str(o_fold)],
                }
            continue
        if name in count_only:
            n_count += 1
            try:
                scount = fn(spark, sf_dir).count()
            except Exception as ex:
                print(f"FAIL {name}: spark error: {ex}")
                failures.append(name)
                results[name] = {
                    "status": "spark_error", "error": str(ex)[:200]
                }
                continue
            try:
                ocount = exec_oracle(
                    f"SELECT COUNT(*) AS n FROM ({oracles[name]})"
                ).fetchone()[0]
            except duckdb.InterruptException:
                print(f"TIMEOUT {name}: oracle exceeded {oracle_timeout}s")
                timeouts.append(name)
                results[name] = {
                    "status": "oracle_timeout", "spark_rows": scount
                }
                continue
            except Exception as ex:
                print(f"FAIL {name}: duckdb error: {ex}")
                failures.append(name)
                results[name] = {
                    "status": "duckdb_error", "error": str(ex)[:200]
                }
                continue
            if scount == ocount:
                print(f"PASS-COUNT {name}: {scount} rows")
                results[name] = {"status": "count_match", "rows": scount}
            else:
                print(f"FAIL {name}: count spark={scount} duckdb={ocount}")
                failures.append(name)
                results[name] = {
                    "status": "count_mismatch",
                    "spark_rows": scount,
                    "duckdb_rows": ocount,
                }
            continue
        try:
            sdf = fn(spark, sf_dir).toPandas()
        except Exception as ex:
            print(f"FAIL {name}: spark error: {ex}")
            failures.append(name)
            results[name] = {"status": "spark_error", "error": str(ex)[:200]}
            continue
        if name not in oracles:
            n_rows_only += 1
            print(f"OK?  {name}: rows-only check, {len(sdf)} rows")
            results[name] = {"status": "rows_only", "rows": len(sdf)}
            continue
        n_oracle += 1
        try:
            odf = exec_oracle(oracles[name]).fetch_df()
        except duckdb.InterruptException:
            print(f"TIMEOUT {name}: oracle exceeded {oracle_timeout}s")
            timeouts.append(name)
            results[name] = {"status": "oracle_timeout"}
            continue
        except Exception as ex:
            print(f"FAIL {name}: duckdb error: {ex}")
            failures.append(name)
            results[name] = {"status": "duckdb_error", "error": str(ex)[:200]}
            continue
        sn, sc, sh = canonical_hash(sdf)
        on_, oc, oh = canonical_hash(odf)
        if (sn, sc, sh) == (on_, oc, oh):
            print(f"PASS {name}: {sn} rows, hash {sh}")
            results[name] = {"status": "oracle_match", "rows": sn, "hash": sh}
        else:
            print(f"FAIL {name}: spark=({sn},{sc},{sh}) duckdb=({on_},{oc},{oh})")
            if sn == on_ and sc == oc:
                # show first differing rows for debugging
                s = sdf[sorted(sdf.columns)].astype(str)
                o = odf[sorted(odf.columns)].astype(str)
                srows = sorted(map(tuple, s.itertuples(index=False, name=None)))
                orows = sorted(map(tuple, o.itertuples(index=False, name=None)))
                for a, b in zip(srows, orows):
                    if a != b:
                        print(f"  spark : {a}\n  duckdb: {b}")
                        break
            failures.append(name)
            results[name] = {
                "status": "mismatch",
                "spark": [sn, list(sc), sh],
                "duckdb": [on_, list(oc), oh],
            }
    n_oracle_ok = n_oracle - sum(
        1
        for r in results.values()
        if r["status"] in ("mismatch", "duckdb_error", "oracle_timeout")
    )
    n_dist = sum(
        1 for r in results.values() if r["status"] == "dist_hash_match"
    )
    print(
        f"\n{n_oracle_ok}/{n_oracle} oracle-matched, "
        f"{n_dist} dist-hash, {n_count} count-only, "
        f"{n_rows_only} rows-only, {len(timeouts)} oracle-timeouts, "
        f"{len(failures)} failures"
    )
    # one artifact per scale factor: the driver-gate scale (sf0.01)
    # keeps the canonical name, other sfs get a suffixed file so an
    # sf0.1 confirmation run can't clobber the canonical matrix
    sf_tag = os.path.basename(sf_dir.rstrip("/"))
    fname = (
        "CORRECTNESS_local.json"
        if sf_tag == "sf0.01"
        else f"CORRECTNESS_local_{sf_tag}.json"
    )
    # abspath: a relative __file__ (cd tools && python verify_oracle.py)
    # would otherwise resolve dirname(dirname(...)) to '' and write
    # the artifact into the cwd instead of the repo root
    out = os.path.join(
        os.path.dirname(os.path.dirname(os.path.abspath(__file__))), fname
    )
    if only and merge_artifact and os.path.exists(out):
        # fold this filtered run's results into the existing matrix and
        # recompute every counter from the merged per-query statuses —
        # one tier upgrade (e.g. count-only → dist-hash at sf10) must
        # not require re-running all 315 queries for hours
        with open(out) as f:
            doc = json.load(f)
        doc["queries"].update(results)
        doc.update(_summarize(doc["queries"]))
        with open(out, "w") as f:
            json.dump(doc, f, indent=1, sort_keys=True)
        print(f"merged {sorted(results)} into {out}")
    elif not only:
        with open(out, "w") as f:
            json.dump(
                {"sf_dir": sf_dir, "queries": results,
                 **_summarize(results)},
                f,
                indent=1,
                sort_keys=True,
            )
        print(f"wrote {out}")
    return 1 if failures else 0


def _summarize(results: dict[str, dict]) -> dict:
    """Summary counters derived purely from per-query statuses, so a
    --merge'd artifact and a full-run artifact count identically.
    ``dist_hash_match`` is a VALUE certification (hash tier) and counts
    in n_oracle_matched, reported separately in n_dist_hash;
    ``count_match`` stays the weaker count-only tier."""
    status = {n: r["status"] for n, r in results.items()}
    timeouts = sorted(n for n, s in status.items() if s == "oracle_timeout")
    fail_states = {
        "mismatch", "duckdb_error", "spark_error",
        "count_mismatch", "dist_hash_mismatch", "tier_no_oracle",
    }
    failures = sorted(n for n, s in status.items() if s in fail_states)
    return {
        "n_queries": len(results),
        "n_oracle_matched": sum(
            1 for s in status.values()
            if s in ("oracle_match", "dist_hash_match")
        ),
        "n_dist_hash": sum(
            1 for s in status.values() if s == "dist_hash_match"
        ),
        "n_count_only": sum(
            1 for s in status.values() if s == "count_match"
        ),
        "n_rows_only": sum(1 for s in status.values() if s == "rows_only"),
        "n_oracle_timeouts": len(timeouts),
        "oracle_timeouts": timeouts,
        "n_failures": len(failures),
        "failures": failures,
    }


if __name__ == "__main__":
    raise SystemExit(main())
