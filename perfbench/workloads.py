"""The benchmark workloads.

Each workload generates its inputs from the seed (``make_inputs``) and
runs an untimed warm-up (``warm_up``) in the set-up. It then repeats one
*pass*, its unit of timed work, in a closed loop: one client, each
operation starting after the previous one ends. ``prepare`` readies a
pass's working directory outside the timed region; after the last pass,
``check_after`` verifies its outputs, also outside the timed region,
and returns one ``(name, ok, detail)`` per check.

* ``bikes_refresh``: the warm-up is the day-1 ``BikesPipeline.run()``
  into an empty warehouse; one pass is the day-2 incremental ``run()``
  on a copy of that day-1 state.
* ``iterative_analytics``: the warm-up scans every input table; one
  pass builds every query of the list (``QuerySpec.spark``) and forces
  it with a ``noop`` write, then drains the events, split into flat part
  files, through two streams of ``streaming.pipeline`` builders
  (``windowed_event_counts``, then ``streaming_dedup``) into memory
  sinks with ``availableNow`` and one file per trigger. The check
  collects each query's DataFrame and hash-matches it to its DuckDB
  oracle, and compares each sink with its batch twin.

Only the first pass in a JVM pays class loading and JIT compilation for
its code paths. The day-1 load warms most of the day-2 paths. The query
pass has no such stand-in: an untimed warm-up pass would cost as much as
the cold pass (about twice a warm one on a 4-core host), and a run has
room for one pass, so that pass is timed cold, as a job started by a
scheduler pays it.
"""

from __future__ import annotations

import concurrent.futures
import contextlib
import json
import math
import os
import shutil
import sys
import time

import duckdb
import pyarrow.parquet as pq

from bikes_data_warehouse_etl_spark.plans import QUERIES
from bikes_data_warehouse_etl_spark.plans import bikes_pipeline
from bikes_data_warehouse_etl_spark.plans.bikes_pipeline import BikesPipeline
from bikes_data_warehouse_etl_spark.session import unpersist_all
from bikes_data_warehouse_etl_spark.sources import snapshot
from bikes_data_warehouse_etl_spark.sources.parquet import read_table
from bikes_data_warehouse_etl_spark.streaming import pipeline as streaming
from tools.verify_oracle import canonical_hash

from perfbench import bikes_source, host, star_source
from perfbench.trace import Tracer

QUERY_FAMILY = {
    "neardup_components": "shingle", "theil_sen_trend": "stats",
    "kcore_peel": "graph", "triangle_census": "graph",
    "minhash_accuracy": "shingle", "lsh_candidates_fast": "shingle",
    "link_prediction_cn": "graph", "ivf_topk": "vector",
}
FAMILIES = ("graph", "shingle", "stats", "vector")
# (builder, memory-sink output mode, batch twin), drained in this order
STREAMS = {
    "windowed_event_counts": (streaming.windowed_event_counts, "complete",
                              streaming.windowed_event_counts),
    "streaming_dedup": (streaming.streaming_dedup, "append",
                        lambda events: events.dropDuplicates(["event_id"])),
}
STREAM_FILES = 4

Check = tuple[str, bool, str]
Ops = list[tuple[str, float]]  # (operation, wall seconds)


class IterativeAnalytics:
    """One pass = every query of ``QUERY_FAMILY`` built and forced once,
    then one drain of every stream of ``STREAMS``."""

    name = "iterative_analytics"
    queries = list(QUERY_FAMILY)

    def __init__(self, seed: int, sf: float):
        self.seed, self.sf = seed, sf
        self.in_dir = self.stream_dir = ""
        self.source_rows = self.source_bytes = self.changes = 0
        self.initial_load_s = 0.0
        self.progress: dict[str, list[dict]] = {}  # per stream, timed passes
        self._built: dict = {}  # the last pass's DataFrames, for the check
        self._oracle: concurrent.futures.Future | None = None

    def make_inputs(self, in_dir: str) -> None:
        """Write the inputs and start computing the DuckDB oracle hashes
        in another thread, to overlap the session start."""
        tables = star_source.build_tables(self.seed, self.sf)
        star_source.write_tables(tables, in_dir)
        self.in_dir, self.stream_dir = in_dir, os.path.join(in_dir, "events_stream")
        star_source.write_event_files(tables["events"], self.stream_dir, STREAM_FILES)
        duck = concurrent.futures.ThreadPoolExecutor(1)
        self._oracle = duck.submit(self._oracle_hashes)
        duck.shutdown(wait=False)  # its thread ends with the task

    def warm_up(self, spark, tracer: Tracer) -> None:
        """Scan every input; wait for the oracle so that it shares no CPU
        with a timed pass."""
        for t in star_source.TABLES:
            read_table(spark, self.in_dir, t).count()
        self._oracle.result()

    def prepare(self, work: str) -> None:
        pass

    def run_pass(self, spark, work: str, tracer: Tracer) -> Ops:
        out = []
        for q in self.queries:
            t0 = time.perf_counter()
            with tracer.span(f"query:{q}:build"):
                self._built[q] = QUERIES[q].spark(spark, self.in_dir)
            with tracer.span(f"query:{q}:action"):
                self._built[q].write.format("noop").mode("overwrite").save()
            out.append((q, time.perf_counter() - t0))
        for name, (build, mode, _) in STREAMS.items():
            t0 = time.perf_counter()
            with tracer.span(f"stream:{name}"):
                q = (build(streaming.stream_events(spark, self.stream_dir))
                     .writeStream.format("memory").queryName(f"bench_{name}")
                     .outputMode(mode).trigger(availableNow=True).start())
                q.awaitTermination()
            out.append((f"stream:{name}", time.perf_counter() - t0))
            self.progress.setdefault(name, []).extend(
                json.loads(p.json) for p in q.recentProgress)
        return out

    def _oracle_hashes(self) -> dict[str, tuple]:
        con = duckdb.connect()
        try:
            con.execute(f"SET temp_directory='{self.in_dir}/.duck'")
            for t in star_source.TABLES:
                con.execute(f"CREATE VIEW {t} AS SELECT * FROM "
                            f"read_parquet('{self.in_dir}/{t}.parquet')")
            return {q: canonical_hash(con.execute(QUERIES[q].oracle).fetch_df())
                    for q in self.queries}
        finally:
            con.close()

    def check_after(self, spark, work: str) -> list[Check]:
        """Collect the pass's DataFrames, a few at a time, and hash-match
        each to its DuckDB oracle; then hash each stream's memory sink
        against its batch twin over the ``events`` table."""
        def spark_hash(rows_of) -> str:
            try:
                return canonical_hash(rows_of())
            except Exception as ex:  # a failing query is a failed check
                return f"error: {str(ex)[:200]}"

        def query_rows(q: str):
            """The rows of the pass's DataFrame of ``q``, or of a fresh
            build of ``q`` if that one cannot be collected again (its
            checkpoint blocks may be gone)."""
            try:
                return self._built[q].toPandas()
            except Exception as ex:
                print(f"check {q}: rebuilding; the pass's frame failed: {str(ex)[:200]}",
                      file=sys.stderr, flush=True)
                return QUERIES[q].spark(spark, self.in_dir).toPandas()

        with concurrent.futures.ThreadPoolExecutor(host.nproc()) as pool:
            collects = {q: pool.submit(spark_hash, lambda q=q: query_rows(q))
                        for q in self.queries}
            got = {q: f.result() for q, f in collects.items()}
        want = dict(self._oracle.result())
        self._built.clear()
        unpersist_all(spark)
        for name, (_, _, twin) in STREAMS.items():
            got[name] = spark_hash(lambda: spark.table(f"bench_{name}").toPandas())
            want[name] = spark_hash(
                lambda: twin(read_table(spark, self.in_dir, "events")).toPandas())
        return [(k, got[k] == want[k], f"spark {got[k]} batch twin or duckdb {want[k]}")
                for k in got]


class BikesRefresh:
    """Warm-up = day-1 ``run()`` into a fresh warehouse; one pass = the
    day-2 ``run()`` on a copy of the day-1 state."""

    name = "bikes_refresh"
    queries: list[str] = []

    def __init__(self, seed: int, replicas: int):
        self.seed, self.replicas = seed, replicas
        self.day1 = self.day2 = self.state = ""
        self.source_rows = 0
        self.source_bytes = 0
        self.changes = 0  # ODS rows inserted + updated + expired on day 2
        self.initial_load_s = 0.0
        self.progress: dict[str, list[dict]] = {}

    def make_inputs(self, in_dir: str) -> None:
        src = bikes_source.BikesSource(self.seed, self.replicas)
        self.day1, self.day2 = os.path.join(in_dir, "day1"), os.path.join(in_dir, "day2")
        self.state = os.path.join(in_dir, "day1_state")
        rows1, rows2 = src.day1_rows(), src.day2_rows()
        self.source_rows = (bikes_source.write_extract(rows1, self.day1)
                            + bikes_source.write_extract(rows2, self.day2))
        self.source_bytes = sum(
            os.path.getsize(os.path.join(d, f"{t}.csv"))
            for d in (self.day1, self.day2) for t in bikes_source.TABLES
        )
        self.changes = bikes_source.ods_changes(rows1, rows2)

    def _pipelines(self, spark, wh: str) -> tuple[BikesPipeline, BikesPipeline]:
        return (
            BikesPipeline(spark, self.day1, wh, bikes_source.AS_OF_DAY1,
                          bikes_source.RUN_TS_DAY1),
            BikesPipeline(spark, self.day2, wh, bikes_source.AS_OF_DAY2,
                          bikes_source.RUN_TS_DAY2),
        )

    def warm_up(self, spark, tracer: Tracer) -> None:
        t0 = time.perf_counter()
        with tracer.span("day:initial_load"):
            self._pipelines(spark, self.state)[0].run()
        self.initial_load_s = time.perf_counter() - t0

    def prepare(self, work: str) -> None:
        """The warehouse is symlinks to snapshot directories, relative to
        their table directory, so a copy that keeps them is a warehouse."""
        shutil.copytree(self.state, work, symlinks=True)

    def run_pass(self, spark, work: str, tracer: Tracer) -> Ops:
        t0 = time.perf_counter()
        with tracer.span("day:daily_refresh"):
            self._pipelines(spark, work)[1].run()
        return [("daily_refresh", time.perf_counter() - t0)]

    def _expected(self) -> dict[str, tuple]:
        """DW facts (row counts and measure sums) and the SCD2 product
        history, computed by DuckDB over the two generated extracts."""
        con = duckdb.connect()
        try:
            for day, d in (("1", self.day1), ("2", self.day2)):
                con.execute(f"""
                    CREATE VIEW o{day} AS SELECT DISTINCT * EXCLUDE (PARTNERID)
                    FROM read_csv('{d}/SalesOrder.csv', header=true,
                                  types={{'Date': 'VARCHAR'}});
                    CREATE VIEW i{day} AS SELECT DISTINCT *
                    FROM read_csv('{d}/SalesOrderItems.csv', header=true);
                    CREATE VIEW p{day} AS SELECT DISTINCT *
                    FROM read_csv('{d}/Product.csv', header=true);
                    CREATE VIEW d{day} AS SELECT i.PRODUCTID, o.SalesOrderID,
                      o.customer_id, o.StoreID, o.Date,
                      SUM(i.GROSSAMOUNT) AS amt, SUM(i.QUANTITY) AS qty
                    FROM i{day} i JOIN o{day} o USING (SalesOrderID)
                    GROUP BY ALL;
                """)
            return {
                # incremental facts: day-1 rows, plus day-2 rows of new keys only
                "ordr_sm_fct": con.execute("""
                    SELECT COUNT(*), SUM(GROSSAMOUNT) FROM (
                      SELECT * FROM o1 UNION ALL SELECT * FROM o2
                      WHERE SalesOrderID NOT IN (SELECT SalesOrderID FROM o1))
                """).fetchone(),
                "ordr_dtl_fct": con.execute("""
                    SELECT COUNT(*), SUM(amt) FROM (
                      SELECT * FROM d1 UNION ALL SELECT * FROM d2
                      WHERE (SalesOrderID, PRODUCTID) NOT IN
                            (SELECT (SalesOrderID, PRODUCTID) FROM d1))
                """).fetchone(),
                # full refresh from the day-2 state
                "prdct_sm_fct": con.execute("""
                    SELECT COUNT(*), SUM(amt) FROM (
                      SELECT PRODUCTID, Date, SUM(amt) AS amt FROM d2 GROUP BY ALL)
                """).fetchone(),
                # SCD2: every product current once; each changed one expired once
                "product_scd2": con.execute("""
                    SELECT (SELECT COUNT(*) FROM p2),
                           COUNT(*) FILTER (WHERE p1.PRICE IS DISTINCT FROM p2.PRICE
                             OR p1.PARTNERID IS DISTINCT FROM p2.PARTNERID
                             OR p1.PRODCATEGORYID IS DISTINCT FROM p2.PRODCATEGORYID)
                    FROM p1 JOIN p2 USING (PRODUCTID)
                """).fetchone(),
            }
        finally:
            con.close()

    def check_after(self, spark, work: str) -> list[Check]:
        """The DW facts and the SCD2 product history of the last pass's
        warehouse against ``_expected``; the Spark reads run a few at a
        time, with DuckDB in another thread."""
        import pyspark.sql.functions as F

        p = self._pipelines(spark, work)[1]
        amount = {"ordr_sm_fct": "Ordr_Amt", "ordr_dtl_fct": "Sale_Amt",
                  "prdct_sm_fct": "Sale_Amt"}
        prod = p.read("ods", "product")
        reads = {t: lambda t=t, col=col: p.read("dw", t).agg(
                     F.count(F.lit(1)), F.sum(col)).first()
                 for t, col in amount.items()}
        reads["product_scd2"] = lambda: prod.agg(
            F.count(F.when(F.col("CURRENT_FLAG") == 1, 1)),
            F.count(F.when(F.col("CURRENT_FLAG") == 0, 1))).first()
        with concurrent.futures.ThreadPoolExecutor(host.nproc()) as pool:
            expected = pool.submit(self._expected)
            got = {t: pool.submit(read) for t, read in reads.items()}
            got = {t: tuple(f.result()) for t, f in got.items()}
            want = expected.result()
        # sums of doubles differ in the last bits with the summation order
        return [(t, all(math.isclose(g, w, rel_tol=1e-9) for g, w in zip(got[t], want[t])),
                 f"engine {got[t]} duckdb {want[t]}") for t in want]


@contextlib.contextmanager
def bikes_spans(tracer: Tracer, commits: list[dict]):
    """Wrap the pipeline's layer calls in spans while tracing.

    ``load_ods``/``refresh_dw`` become ``ods``/``dw``; every table write
    becomes ``ods:<table>`` or ``dw:<table>``; ``snapshot.commit_snapshot``
    becomes ``commit:<layer>/<table>`` and appends the layer, the day
    span, and the file count, bytes and parquet rows of the committed
    snapshot to ``commits``. The originals are restored on exit.
    """
    cls = BikesPipeline
    saved = {n: getattr(cls, n) for n in ("load_ods", "refresh_dw", "_write",
                                          "_replace_dir")}
    saved_commit = snapshot.commit_snapshot

    def spanned(fn, name_of):
        def wrapper(self, *a, **kw):
            name = name_of(*a)
            if tracer.current() == name:  # _write → _replace_dir
                return fn(self, *a, **kw)
            with tracer.span(name):
                return fn(self, *a, **kw)
        return wrapper

    def table_of(path: str) -> tuple[str, str]:
        path = path.rstrip("/")
        return os.path.basename(os.path.dirname(path)), os.path.basename(path)

    def commit(path, staged, *a, **kw):
        layer, table = table_of(path)
        with tracer.span(f"commit:{layer}/{table}"):
            saved_commit(path, staged, *a, **kw)
        t0 = time.perf_counter()
        files = [os.path.join(r, f) for r, _, fs in os.walk(staged) for f in fs]
        commits.append({
            "layer": layer,
            "day": tracer.enclosing("day:"),
            "files": len(files),
            "bytes": sum(os.path.getsize(f) for f in files),
            "rows": sum(pq.read_metadata(f).num_rows
                        for f in files if f.endswith(".parquet")),
        })
        tracer.own_s += time.perf_counter() - t0

    cls.load_ods = spanned(saved["load_ods"], lambda: "ods")
    cls.refresh_dw = spanned(saved["refresh_dw"], lambda: "dw")
    cls._write = spanned(saved["_write"], lambda df, layer, table, *r: f"{layer}:{table}")
    cls._replace_dir = spanned(saved["_replace_dir"],
                               lambda df, path, *r: ":".join(table_of(path)))
    snapshot.commit_snapshot = commit
    try:
        yield
    finally:
        for n, fn in saved.items():
            setattr(cls, n, fn)
        snapshot.commit_snapshot = saved_commit


SCD1_ODS = {f"ods:{t}" for _, t, _, _ in bikes_pipeline.SCD1_TABLES}
FACTS = {"dw:prdct_sm_fct", "dw:ordr_sm_fct", "dw:ordr_dtl_fct"}


def bikes_layers(tracer: Tracer, commits: list[dict], wl) -> dict[str, float]:
    """Per-layer numbers of the pipeline layers over the traced day-1
    load and day-2 pass (zero for a workload that does not run the
    pipeline). ``merge.rewrite_ratio`` counts day 2 only."""
    def total(pred) -> float:
        return sum(s for n, s in tracer.spans if pred(n))

    rewritten = sum(c["rows"] for c in commits
                    if c["day"] == "day:daily_refresh" and c["layer"] == "ods")
    written = sum(c["bytes"] for c in commits)
    return {
        "ods.load_s": total(lambda n: n == "ods"),
        "dw.refresh_s": total(lambda n: n == "dw"),
        "ods.scd1.write_s": total(lambda n: n in SCD1_ODS),
        "ods.scd2.write_s": total(lambda n: n == "ods:product"),
        "dw.fact.write_s": total(lambda n: n in FACTS),
        "dw.dim.write_s": total(lambda n: n.startswith("dw:") and n not in FACTS),
        "merge.rewrite_ratio": rewritten / wl.changes if wl.changes else 0.0,
        "snapshot.commit_s": total(lambda n: n.startswith("commit:")),
        "snapshot.commits": len(commits),
        "snapshot.files_written": sum(c["files"] for c in commits),
        "snapshot.bytes_written": written,
        "snapshot.write_amp": written / wl.source_bytes if wl.source_bytes else 0.0,
    }


def stream_layers(progress: dict[str, list[dict]]) -> dict[str, float]:
    """Per-layer numbers of the streams from their ``recentProgress``
    records (zero for a workload without streams): durations summed over
    the micro-batches, state as of each stream's last batch."""
    batches = [b for bs in progress.values() for b in bs]
    last = [op for bs in progress.values() if bs for op in bs[-1]["stateOperators"]]

    def ms(key: str) -> float:
        return sum(b["durationMs"].get(key, 0) for b in batches)

    trigger, add = ms("triggerExecution"), ms("addBatch")
    return {
        "stream.batches": len(batches),
        "stream.add_batch_ms": add,
        "stream.planning_ms": ms("queryPlanning"),
        "stream.get_offsets_ms": ms("latestOffset"),
        "stream.wal_commit_ms": ms("walCommit"),
        "stream.overhead_frac": 1 - add / trigger if trigger else 0.0,
        "stream.state_rows": sum(op["numRowsTotal"] for op in last),
        "stream.state_bytes": sum(op["memoryUsedBytes"] for op in last),
        "stream.late_rows_dropped": sum(op.get("numRowsDroppedByWatermark", 0)
                                        for b in batches for op in b["stateOperators"]),
    }
