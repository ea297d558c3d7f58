"""SparkSession factory with scale-oriented defaults.

The same configuration works from KB (reference bikes CSVs) to 100 TB
(partition counts and input paths are the only knobs): AQE re-plans at
runtime (broadcast conversion, partition coalescing, skew-join
splitting), shuffle partitions default to the local core count but are
overridable via ``SPARK_GRAFT_SHUFFLE_PARTITIONS`` for cluster runs,
and Arrow is enabled for the (rare) pandas-UDF extension points.

Four environment settings shape the session: ``SPARK_GRAFT_CPUS``
(local cores, default: the CPUs this process may run on),
``SPARK_GRAFT_MASTER``, ``SPARK_GRAFT_SHUFFLE_PARTITIONS`` and
``SPARK_GRAFT_DRIVER_MEM``. Any other Spark conf goes through
``get_spark(extra_conf=...)``.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

_EXCLUDED_RULES = "spark.sql.optimizer.excludedRules"
_INFER_FILTERS_FROM_GENERATE = (
    "org.apache.spark.sql.catalyst.optimizer.InferFiltersFromGenerate"
)


def get_spark(
    app_name: str = "bikes-dwh-spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or reuse) a SparkSession tuned for this engine.

    Parameters
    ----------
    master:
        Defaults to ``local[$SPARK_GRAFT_CPUS]`` (env, default: the
        CPUs this process may run on) when no cluster master is
        configured. On a real cluster, pass
        ``None`` and let spark-submit supply the master.
    shuffle_partitions:
        Post-shuffle parallelism. With AQE on, this is the *upper
        bound*; AQE coalesces small partitions down. At 100 TB set this
        to ~2-3x total executor cores via env.
    """
    cpus = os.environ.get("SPARK_GRAFT_CPUS", str(len(os.sched_getaffinity(0))))
    if master is None:
        master = os.environ.get("SPARK_GRAFT_MASTER", f"local[{cpus}]")
    if shuffle_partitions is None:
        shuffle_partitions = int(
            os.environ.get("SPARK_GRAFT_SHUFFLE_PARTITIONS", cpus)
        )

    builder = (
        SparkSession.builder.appName(app_name)
        .master(master)
        # --- Adaptive execution: runtime re-planning at any scale ---
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        # --- Shuffle sizing ---
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        # Pre-coalesce shuffle parallelism (AQE plans every shuffle at
        # this width, then coalesces down to the advisory size). The
        # local default is the CORE COUNT, same as shuffle.partitions,
        # and that is a MEASURED choice, not an omission: an
        # interleaved same-JVM ABBA at sf10 (PERF.md round 5 session 3 — the
        # only trustworthy protocol on this host, where cross-run
        # times for one query swing 92→224 s) showed 256-wide
        # pre-coalesce LOSING on a single 32-core JVM: the shingle
        # self-join ran 3× slower (26/37 s at 32 vs 128/89 s at 256)
        # and nothing won outside noise — in local mode every extra
        # shuffle partition is pure fan-out cost (more sort runs, more
        # block fetches through one memory bus) with no extra machine
        # to recruit. On a REAL cluster pass it through ``extra_conf``
        # at ~2-4× total executor cores so heavy shuffles aren't capped
        # at the static width while AQE still coalesces small stages.
        .config(
            "spark.sql.adaptive.coalescePartitions.initialPartitionNum",
            str(shuffle_partitions),
        )
        # --- Scan sizing: 128 MB splits keep partitions memory-safe ---
        .config("spark.sql.files.maxPartitionBytes", "134217728")
        # --- Arrow for the pandas-UDF extension points ---
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        # --- Parquet TIMESTAMP(NANOS) (events.ts) is unreadable natively;
        #     read as long nanos, converted back in sources.parquet ---
        .config("spark.sql.legacy.parquet.nanosAsLong", "true")
        # --- Deterministic session timezone for date/timestamp logic ---
        .config("spark.sql.session.timeZone", "UTC")
        # Quiet the UI in test/bench loops
        .config("spark.ui.enabled", "false")
        # Heap for the single local JVM. 8g was the round-1 default and
        # became the binding ROBUSTNESS constraint at sf10: 32
        # concurrent tasks share the heap (~250 MB/task), and a
        # round-6 sf10 sweep died with a hard OutOfMemoryError on the
        # graph family (accrued localCheckpoint blocks + a 34-way
        # sort), after GCLocker allocation stalls throughout. 16g
        # (~500 MB/task) completes the same sweep. Chosen for the OOM
        # margin, NOT speed: an interleaved 8g/16g/32g timing A/B on
        # this host was noise-dominated (same query 50/180/41 s across
        # arms — PERF.md round 6), and 32g showed kernel-side page
        # churn (77% system time) with no reliable win. On a real
        # cluster this knob is irrelevant: spark-submit sets executor
        # memory.
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "16g"))
        # The oracle differential gate collects whole result sets
        # (toPandas) — multi-million-row outputs at sf1+ exceed the 1g
        # default; 4g admits the legitimate big collects while still
        # capping a runaway one.
        .config("spark.driver.maxResultSize", "4g")
    )
    if extra_conf:
        for k, v in extra_conf.items():
            builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    # --- Generate-filter inference off (r11) ---
    # InferFiltersFromGenerate adds `size(arr) > 0 AND isnotnull(arr)`
    # below every explode; PushDownPredicates then substitutes the
    # generator child's FULL defining expression into that filter and
    # pushes it to the scan side. For this engine's document
    # pipelines the child is the tokenize+shingle build (regex +
    # 7 nested zip_with per row) — the most expensive row-local
    # expression in the suite — so every shingle/minhash/LSH query
    # evaluated it TWICE per row, and the duplicated copy landed
    # BELOW the widen_scan exchange, pinned to the input's split
    # count (one core on the testdata). The filter is semantically
    # redundant for explode (an empty/null array emits no rows
    # anyway); it only ever saves generator-machinery overhead when
    # arrays are empty AND cheap to compute, which never holds
    # here. Measured (same-JVM ABBA, sf0.1): the exploded-shingle
    # stage 4.9 s → 0.5-1.2 s; dup_span_fraction 5.1-5.9 s →
    # 1.5 s. Results bit-identical by construction (the rule only
    # drops rows explode drops itself); the full DuckDB-oracle
    # matrix re-certified after the change. Appended after
    # getOrCreate so a caller's configured exclusions survive.
    rules = [
        r.strip() for r in spark.conf.get(_EXCLUDED_RULES, "").split(",")
        if r.strip()
    ]
    if _INFER_FILTERS_FROM_GENERATE not in rules:
        spark.conf.set(
            _EXCLUDED_RULES, ",".join(rules + [_INFER_FILTERS_FROM_GENERATE])
        )
    return spark


def unpersist_all(spark) -> int:
    """Release every persisted / localCheckpointed RDD in the context.

    The suite runners execute hundreds of independent queries in one
    JVM; lazily localCheckpointed frames (graph edge sets, LSH
    candidate pipelines) stay registered in the block manager until
    the ContextCleaner happens to GC their driver-side handles, which
    under sustained load lags allocation — a 15-query × 3-pass sf10
    sweep of the graph family OOM'd a 16 GB heap on accumulated
    checkpoint blocks. Explicitly unpersisting between queries makes
    suite memory flat in query count. Returns the RDD count released.
    """
    jmap = spark.sparkContext._jsc.getPersistentRDDs()
    rdds = list(jmap.values())  # py4j exposes the Map as a dict view
    for rdd in rdds:
        rdd.unpersist()
    return len(rdds)
