"""SparkSession factory tuned for this engine.

Local-mode defaults are sized to the host (one JVM, one thread and one
shuffle partition per core the process may use, and at least 32
partitions once a job's input is large: fit_width); on a real cluster the
same settings apply except memory sizing and the shuffle width, which
the deployment sets with --conf.  AQE is on so skewed hosts (the pages
table's Zipf mega-host) get runtime skew-join and partition coalescing
— the optimizer-level complement to the explicit salting in operators
(SURVEY.md §4).  The whole-stage codegen cache holds the engine's
plan working set (CODEGEN_CACHE_ENTRIES), so generated code is compiled
once per session, not once per pass over the queries or jobs.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

# Scan-split size for Arrow-bound stages; see the inline rationale at the
# config site in get_spark.  Overridable per-deployment.
DEFAULT_MAX_PARTITION_BYTES = 16 * 1024 * 1024

# Generated classes the whole-stage codegen cache keeps; sized to the
# engine's plan working set at the config site in get_spark.
CODEGEN_CACHE_ENTRIES = 2048


def max_partition_bytes() -> str:
    """Resolve the scan-split size: SPARK_GRAFT_MAX_PARTITION_BYTES if
    set, else the Arrow-stage-sized 16 MB default."""
    return os.environ.get(
        "SPARK_GRAFT_MAX_PARTITION_BYTES", str(DEFAULT_MAX_PARTITION_BYTES)
    )


def host_cores() -> int:
    """The cores this process may run on: its CPU affinity, which
    follows taskset and cpuset limits, else the machine's count."""
    try:
        return len(os.sched_getaffinity(0))
    except AttributeError:  # no affinity API on this platform
        return os.cpu_count() or 1


def default_cpus() -> int:
    """SPARK_GRAFT_CPUS, else host_cores()."""
    return int(os.environ.get("SPARK_GRAFT_CPUS") or host_cores())


def default_master() -> str:
    """SPARK_GRAFT_MASTER, else local[default_cpus()]."""
    return os.environ.get("SPARK_GRAFT_MASTER") or f"local[{default_cpus()}]"


def shuffle_width(master: str, shuffle_partitions: int | None = None) -> int | None:
    """The spark.sql.shuffle.partitions to set: the explicit argument,
    else SPARK_GRAFT_SHUFFLE, else the core count of a local master
    (local[N] -> N, local[*] -> host_cores(), local -> 1).  A cluster
    master gets None: its cores are not visible here, so the width is
    the deployment's --conf (SCALE.md: ~2-3x total cores).

    Why the core count (measured on a 4-vCPU VM): AQE coalesces
    shuffle reads, but it cannot narrow persisted or localCheckpointed
    frames, so the old fixed 32 ran the curation job's dedup tail as
    32-task stages over kilobytes; sizing the width to the cores cut
    the forced run of a 1k-document curation from ~836 to ~149 tasks.
    On the 32-core host the at-scale records (SCALE.md,
    BENCH/ATSCALE.md) were taken on, the width is 32 as before.  On
    few cores partition size grows as the width shrinks, so the jobs
    raise it for large inputs (fit_width)."""
    if shuffle_partitions:
        return shuffle_partitions
    if os.environ.get("SPARK_GRAFT_SHUFFLE"):
        return int(os.environ["SPARK_GRAFT_SHUFFLE"])
    if master == "local":
        return 1
    if master.startswith("local["):
        n = master[len("local["):].split(",")[0].rstrip("]")
        return host_cores() if n == "*" else int(n)
    return None


# Input size (the optimizer's estimate) from which a local job's
# core-count width is raised to AT_SCALE_WIDTH; see width_for_input.
WIDE_INPUT_BYTES = 256 * 1024 * 1024
AT_SCALE_WIDTH = 32


def width_for_input(master: str, width: int, input_bytes: int) -> int:
    """The shuffle width for a job over ``input_bytes`` of input:
    ``width``, raised to AT_SCALE_WIDTH once the input reaches
    WIDE_INPUT_BYTES, but only while ``width`` is the core count
    shuffle_width gave a local master.  A width set through
    SPARK_GRAFT_SHUFFLE or an explicit shuffle_partitions= other than
    the core count, and a cluster master's --conf, are left alone.

    Why (4-vCPU VM, default 8 GB heap): the 2M-document curation
    (~900 MB of documents) at width 4 died mid-job in 1 of 4 runs and
    was no faster than at 32 when it finished (BENCH/ATSCALE.md); every
    at-scale record was taken at 32.  At ~180 MB of pages (the
    200k-row dedup guard) width 4 was correct and its connected
    components ran faster, so the floor starts above that."""
    default = shuffle_width(master)
    if os.environ.get("SPARK_GRAFT_SHUFFLE") or default is None or width != default:
        return width
    if input_bytes < WIDE_INPUT_BYTES:
        return width
    return max(width, AT_SCALE_WIDTH)


def estimated_bytes(df) -> int:
    """The optimizer's size estimate of ``df`` in bytes — the file
    bytes under a scan, huge for generated frames — read without
    running a job.  The estimate is a private API, pinned by
    tests/test_plans_multimodal.py::test_plan_size_estimate_api."""
    return int(str(df._jdf.queryExecution().optimizedPlan().stats().sizeInBytes()))


def fit_width(df) -> None:
    """Set ``df``'s session to width_for_input over ``df``'s size.
    The size is the optimizer's estimate (the file bytes under a scan),
    so no job runs.  Call it on a job's input before the first
    shuffle."""
    if df.isStreaming:
        return
    spark = df.sparkSession
    width = int(spark.conf.get("spark.sql.shuffle.partitions"))
    fitted = width_for_input(spark.sparkContext.master, width, estimated_bytes(df))
    if fitted != width:
        spark.conf.set("spark.sql.shuffle.partitions", str(fitted))


def get_spark(
    app_name: str = "sequali_spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    master = master or default_master()
    builder = SparkSession.builder.master(master).appName(app_name)
    width = shuffle_width(master, shuffle_partitions)
    if width is not None:
        builder = builder.config("spark.sql.shuffle.partitions", str(width))
    builder = (
        builder
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        # parallelismFirst stays at its DEFAULT (true).  r5 tried false
        # (Spark docs' small-shuffle advice): interleaved A/B at sf0.1
        # showed no wall-clock benefit (tiny-stage latency is
        # scheduler/python-handshake-bound, not partition-count-bound),
        # and at 2M rows the 64MB-advisory coalescing concentrated
        # window sorts into few large partitions whose concurrent sorts
        # exhausted the shared local-mode memory pool
        # (UNABLE_TO_ACQUIRE_MEMORY in the curation job).  Keep
        # parallelism-first sizing; on a real cluster executors own
        # their pools and the advisory knob can be revisited per-job.
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        # Scan-split granularity for Python-heavy stages (r8, measured
        # at 2M docs / local[8]): the default 128 MB splits turned a
        # 900 MB corpus into 10 tasks of ~200k docs each — the bare
        # minhash mapInPandas stage took 341 s (per-doc throughput
        # DEGRADES inside long Arrow tasks: 8 concurrent Python workers
        # over ~230 MB text slices contend for memory bandwidth, and a
        # 10-task stage on 8 cores is one wave plus stragglers).  16 MB
        # splits -> 65 tasks -> 245 s, near-linear with the 500k
        # datapoint, AND the finer granularity load-balances both legs
        # of the scaling ladder (the 10-task shape scaled 2->8 at ~0.35
        # because the 8-core leg ran one ragged wave).  Smaller splits
        # cost only scheduler overhead (~ms/task); at cluster scale
        # this knob is per-job, but the engine's hot stages are
        # Arrow-bound, so the Python-friendly size is the right
        # default.  SPARK_GRAFT_MAX_PARTITION_BYTES overrides.
        .config("spark.sql.files.maxPartitionBytes", max_partition_bytes())
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "10000")
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "8g"))
        # Shuffle/IO codec (r8, two measured regimes): on the BIG text
        # shuffle (paragraph-dedup election, 5M docs/local[32]) zstd
        # cuts bytes 7.8 -> 5.1 GB (-35%) at wall parity (73.1 vs
        # 73.8 s) — the win a network-shuffle deployment wants.  But on
        # the sf0.1 headline's MANY-SMALL-SHUFFLE regime an ABAB A/B
        # read zstd 11.95/11.65 s vs lz4 10.49/10.55 s (~11% tax:
        # per-block codec CPU dominates when shuffles are KBs-MBs).
        # Default stays lz4; set SPARK_GRAFT_IO_CODEC=zstd on jobs
        # whose shuffles actually cross a network.
        .config(
            "spark.io.compression.codec",
            os.environ.get("SPARK_GRAFT_IO_CODEC", "lz4"),
        )
        .config("spark.ui.enabled", "false")
        # Whole-stage codegen cache (static conf: read once, when the
        # session is built).  Spark's default of 100 entries is smaller
        # than the engine's plan working set, so the LRU cache evicted
        # and recompiled on every pass (4-vCPU VM, CodegenMetrics
        # counts): a warmed curation forced+resumed pair recompiled
        # ~235 of its ~250 entries and a corpus-report pass 178 of its
        # 214, and the JIT then compiled each new class again.  A
        # session running the label, curation and report workloads
        # fills 467 entries, so 2048 leaves ~4x headroom; metaspace
        # stayed ~180 MB (jstat) either way.
        .config("spark.sql.codegen.cache.maxEntries", str(CODEGEN_CACHE_ENTRIES))
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        # ObjectHashAggregate (collect_list/collect_set aggs) falls back
        # to SORT-based aggregation once a task's hash map passes this
        # many distinct keys.  r9 first raised this GLOBALLY to 4M on an
        # isolated minhash-bucket ABAB (1.31/1.31 s at 128 vs
        # 1.14/1.05 s at 4M on the 800k-row agg) — and a late-round 2M
        # paragraph-ladder re-run caught the raise REGRESSING the
        # high-cardinality pid-array agg ~20% on the 8-cpu leg (43.5 s
        # at 128 vs 53.3 s at 4M, same window; 2M distinct doc_id
        # groups churn as in-memory array buffers in hash mode, while
        # the sort path streams them).  The knob is therefore
        # per-AGGREGATE, not global: the session default stays at
        # Spark's 128 (which both committed at-scale ladder records
        # ran under), and the minhash pairs path — few distinct
        # bucket keys per task — pins 4M at build time
        # (dedup.minhash_pairs_from_sigs).  The conf is perf-only
        # (never changes results), so build-time scoping is safe.
    )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark


def spread(df, key: str | None = None, bytes_per_task: int | None = None):
    """CPU-spread guard for compute-heavy stages above a scan — Python
    (mapInPandas) stages and expression-heavy JVM stages (regex/char
    batteries, decimal aggregation, array dot products) alike: scan
    bytes != compute cost, so a small-but-CPU-heavy input can arrive as
    a single scan split (sf0.1 documents is ONE 584 KB split) and starve
    the stage down to one core.

    Why it exists (r9, measured): the driver's tables are written as ONE
    parquet row group per file, and a row group is the unit of scan
    splitting — ``maxPartitionBytes`` cannot cut below it, so every
    scan-rooted stage ran on a single core regardless of cluster size
    (doc_char_ratios spent 3.7 s of single-threaded regex at sf1.0 on
    local[32]).  Repartitioning costs one exchange of the input rows
    (~16 MB for the documents table) and buys full-cluster parallelism
    for the expensive stage above it.

    Scale behavior: fires ONLY when the scan under-decomposes (splits <
    target width).  At production scale row-group counts exceed cores
    and this is a no-op — the payload never shuffles on the scale path.

    ``key``: hash-partition on a high-cardinality column instead of
    round-robin.  Round-robin repartition first LOCALLY SORTS its input
    (spark.sql.execution.sortBeforeRepartition, on by default so task
    retries are deterministic) — on the single-task scan this guard
    exists to fix, that sort is itself serial; hashing a unique key
    needs no sort and spreads evenly.

    ``bytes_per_task``: size the width to ~that many input bytes per
    task, for Python stages whose tasks each pay an Arrow handshake;
    without it the width is the session parallelism."""
    if df.isStreaming:  # .rdd is illegal on a streaming frame; micro-
        return df       # batch sizing is the trigger's job, not ours
    target = df.sparkSession.sparkContext.defaultParallelism
    if bytes_per_task is not None:
        # size-aware spread width (r9): a FIXED cap is wrong at both
        # ends — cap=8 left 24 cores idle on the 50k-doc sf1.0 corpus
        # (measured 2.57 s vs 1.49 s uncapped) while uncapped split the
        # 5k-doc sf0.1 corpus into 156-doc tasks whose Arrow handshake
        # dominated (0.73 s vs 0.96 s).  The optimizer's sizeInBytes
        # estimate is available without running a job and scales with
        # the source files, so size the task count to ~bytes_per_task
        # of input each, clamped to session parallelism.  Unknown-size
        # sources (generated frames) estimate huge and clamp to
        # parallelism, which is the right default for them.
        target = min(target, max(1, estimated_bytes(df) // bytes_per_task))
    if df.rdd.getNumPartitions() >= target:
        return df
    if key is not None:
        from pyspark.sql import functions as F

        return df.repartition(target, F.col(key))
    return df.repartition(target)
