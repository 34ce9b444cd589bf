"""SparkSession factory.

Defaults are chosen for the driver harness (local[$SPARK_GRAFT_CPUS],
single JVM) but every setting is the one you would also want on a
1000-executor cluster reading 100 TB:

- AQE on (runtime re-plan, skew-join splitting, partition coalescing)
- shuffle partitions sized to the cluster (here: the local core count)
- Arrow enabled so the few Pandas-UDF operators use vectorized transfer
- UTC session timezone so timestamp semantics are deterministic and match
  the DuckDB oracle
"""

from __future__ import annotations

import gc
import os

from pyspark.sql import SparkSession


def driver_mem_for(sf_dir: str | None) -> str:
    """Heap for the single-JVM harness, derived from the data decade.

    On a cluster this is per-executor memory and a deploy-time setting;
    the local harness is one JVM holding every state-heavy operator's
    working set at once (r10: g9_pagerank's localCheckpoint blocks and
    st_sessionize's session state die at 8 GiB at sf10, complete at
    32 GiB — BASELINE.md "decade → heap").  Rule: 8 GiB per started
    400 MB of sf_dir parquet, clamped to [8, 48] GiB (the machine has
    125 GiB; 48 leaves room for 32 python workers + co-tenants).
    ``SPARK_GRAFT_DRIVER_MEM`` still overrides when set explicitly.
    """
    env = os.environ.get("SPARK_GRAFT_DRIVER_MEM")
    if env:
        return env
    mb = 0
    if sf_dir and os.path.isdir(sf_dir):
        for root, _dirs, files in os.walk(sf_dir):
            for f in files:
                try:
                    mb += os.path.getsize(os.path.join(root, f)) // 2**20
                except OSError:
                    pass
    return f"{min(48, max(8, 8 * ((mb + 399) // 400)))}g"


def get_spark(app_name: str = "openplacereviews-db-spark",
              master: str | None = None,
              shuffle_partitions: int | None = None,
              sf_dir: str | None = None) -> SparkSession:
    """Build (or reuse) a SparkSession with the engine's standard config.

    ``sf_dir`` (optional) sizes the harness heap to the data decade —
    see :func:`driver_mem_for`.  Only effective before the JVM starts.
    ``SPARK_GRAFT_CPUS`` (default 32) sets the local core count and the
    default shuffle partition count; a value that is not a positive
    integer raises.
    """
    env = os.environ.get("SPARK_GRAFT_CPUS")
    try:
        cpus = int(env) if env else 32
    except ValueError:
        cpus = 0
    if cpus <= 0:
        raise ValueError("SPARK_GRAFT_CPUS must be a positive integer "
                         f"core count, got {env!r}")
    builder = (
        SparkSession.builder.appName(app_name)
        .master(master or f"local[{cpus}]")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.shuffle.partitions",
                str(shuffle_partitions or cpus))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        # Shuffle/spill codec is a measured DEPLOY knob, not a free win:
        # r12 A/B'd zstd as the default and reverted — on this engine's
        # dominant traffic (xxhash64 ids, near-incompressible) zstd
        # bought only 12% bytes while costing shuffle-heavy queries
        # 20-40% wall (g11_triangle_count 5.8-6.3 s lz4 vs 7.2-9.2 s
        # zstd, interleaved JVMs).  SPARK_GRAFT_IO_CODEC=zstd remains
        # the right setting for DISK-BOUND at-scale runs (the sf100
        # one-box sessions) and for network-constrained clusters.
        .config("spark.io.compression.codec",
                os.environ.get("SPARK_GRAFT_IO_CODEC", "lz4"))
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        .config("spark.driver.memory", driver_mem_for(sf_dir))
        # off: a 200-query bench session would pay UI bookkeeping for
        # nothing.  Per-stage metrics stay readable from the status
        # store by job group (scripts/ab.py).
        .config("spark.ui.enabled", "false")
        .config("spark.ui.showConsoleProgress", "false")
        # Generated plans here can be enormous (closed-form OLC / name
        # cascade expression trees); retained-execution metadata and
        # plan pretty-printing must be capped or a long many-query
        # session OOMs the driver while *formatting strings*.
        .config("spark.sql.maxPlanStringLength", "100000")
        .config("spark.sql.ui.retainedExecutions", "8")
        .config("spark.ui.retainedJobs", "50")
        .config("spark.ui.retainedStages", "50")
        # The default whole-stage-codegen class cache holds 100 entries;
        # a 100+-query session generates several codegen units per query
        # and thrashes it — recompiling 1-5 s of Janino work per heavy
        # query at unpredictable points (measured: same dedup query
        # 3 s ↔ 18 s across runs).  Compiled classes are small; cache
        # them all.
        .config("spark.sql.codegen.cache.maxEntries", "10000")
        # PySpark's call-site capture (default on) wraps every F.*,
        # Column and DataFrame call with a Python stack walk and four
        # extra py4j round trips to record the caller's file:line for
        # error query contexts.  Plan build here is py4j-bound: with it
        # off, 100 x F.col went 1,300 -> 300 py4j commands (~170 ->
        # ~40 ms) and the geo_tile_report build 1,093 -> 513 commands
        # (~260 -> ~180 ms), warm local[4] session on a 4-core VM at
        # sf0.01.  Errors keep their text and lose only the Python
        # file:line fragment.  A static conf: to debug with call
        # sites, set it to "true" in a local builder.
        .config("spark.python.sql.dataFrameDebugging.enabled", "false")
    )
    return builder.getOrCreate()


def drop_retained_blocks(spark: SparkSession) -> None:
    """Drop every cached and persisted block of finished queries.

    ``clearCache`` only empties the catalog cache; localCheckpoint and
    persist blocks stay in the block manager, and 90+ queries in one JVM
    accumulate heap and GC pressure, so every retained RDD is
    unpersisted explicitly, and a Python GC lets the Py4J proxies of
    the dropped plans go too."""
    spark.catalog.clearCache()
    it = (spark.sparkContext._jsc.sc()
          .getPersistentRDDs().values().iterator())
    while it.hasNext():
        it.next().unpersist(False)
    gc.collect()


def drop_sink_views(spark: SparkSession) -> None:
    """Drop the ``st_sink_*`` temp views that streaming memory sinks
    register, so their rows do not outlive the query."""
    for v in spark.catalog.listTables():
        if v.name.startswith("st_sink_"):
            spark.catalog.dropTempView(v.name)


#: The smallest generated sf, where :func:`warm_up` runs its codegen pass.
WARMUP_SF_DIR = "/root/testdata/sf0.001"


def warm_up(spark: SparkSession, sf_dir: str, queries: dict,
            log=None) -> None:
    """Warm a fresh session so single-run timings measure the query.

    Cold, a single run reads 2-7x slow.  In order:

    - a tiny aggregation JIT-compiles the common codegen path;
    - a ``mapInPandas`` echo with a task on every core pre-forks the
      Python worker pool with numpy, pandas and orjson imported (else
      the first Arrow-kernel query pays one worker spawn per core);
    - one count per input table warms the page cache and the parquet
      footers;
    - every entry of ``queries`` (name -> ``fn(spark, sf_dir)``) runs
      once at ``WARMUP_SF_DIR``, the smallest sf.  Whole-stage codegen
      caches compiled classes by generated source, which depends on
      schema and expressions, not data volume, so this compiles the
      classes the timed run reuses.  Skipped, with a line to ``log``,
      when ``WARMUP_SF_DIR`` is missing or is ``sf_dir`` itself.  A
      failing query is reported to ``log`` (a text file) and skipped.

    Ends with an empty block manager and no memory-sink views.
    """
    import time

    from openplacereviews_db_spark.sources.testdata import TABLES, load_table

    spark.range(1000).selectExpr("sum(id)").collect()

    def _echo(batches):
        import numpy  # noqa: F401  — preload into the worker
        import pandas  # noqa: F401
        try:
            import orjson  # noqa: F401
        except ImportError:
            pass
        yield from batches

    n_cores = spark.sparkContext.defaultParallelism
    (spark.range(0, n_cores * 4, 1, n_cores)
     .mapInPandas(_echo, "id long").count())
    for t in TABLES:
        load_table(spark, t, sf_dir).count()
    warm_dir = WARMUP_SF_DIR
    if not os.path.isdir(warm_dir):
        if log is not None:
            print(f"# warmup pass skipped: {warm_dir} missing", file=log)
    elif os.path.abspath(warm_dir) == os.path.abspath(sf_dir):
        if log is not None:
            print(f"# warmup pass skipped: {warm_dir} is the run's sf",
                  file=log)
    else:
        t0 = time.time()
        for name, fn in queries.items():
            try:
                fn(spark, warm_dir).collect()
            except Exception as ex:  # never let warm-up kill a run
                if log is not None:
                    print(f"# warmup {name} failed: {ex}", file=log)
            # cheap per query; the full drop (with its GC) runs once below
            spark.catalog.clearCache()
        if log is not None:
            print(f"# warmup pass: {time.time() - t0:.1f}s", file=log)
    drop_retained_blocks(spark)
    drop_sink_views(spark)


def blockmgr_bytes(spark: SparkSession) -> int:
    """Bytes currently on disk in THIS JVM's block-manager local dirs
    (shuffle files + disk-persisted blocks)."""
    dirs = (spark.sparkContext._jvm.org.apache.spark.SparkEnv
            .get().blockManager().diskBlockManager().localDirs())
    total = 0
    for d in dirs:
        root = d.getAbsolutePath()
        for base, _subdirs, files in os.walk(root):
            for f in files:
                try:
                    total += os.path.getsize(os.path.join(base, f))
                except OSError:
                    pass
    return total


def release_shuffles(spark: SparkSession, settle_s: float = 20.0,
                     poll_s: float = 0.5) -> int:
    """Free the shuffle files of FINISHED queries inside a live JVM.

    ``clearCache``/``unpersist`` drop cached blocks, but each query's
    shuffle output stays on /tmp until the ContextCleaner sees its
    ShuffleDependency become unreachable — which takes a JVM GC (the
    cleaner is weak-reference driven and only forces its own GC every
    30 min).  A multi-query at-scale session therefore accumulates
    every query's shuffle bytes until ENOSPC (r11: the sf100 wave-2
    session died after 14 kernels).  Callers must drop their Python
    DataFrame references first (Py4J holds the JVM plan alive), then
    this: Python GC → JVM ``System.gc()`` → poll the block-manager
    dirs until the async cleaner thread settles.  Returns bytes freed.

    On a real cluster the same mechanism runs per executor via the
    driver's cleaner RPCs; the single-JVM harness just has to trigger
    it explicitly between queries instead of relying on driver heap
    pressure to GC for us.
    """
    import math
    import time

    drop_retained_blocks(spark)
    before = blockmgr_bytes(spark)
    # two GC rounds minimum: the first collects the Py4J proxies and
    # enqueues the JVM weak refs, the second lets the cleaner thread's
    # unregister actually delete files (measured: round 1 frees 0,
    # round 2 frees everything)
    deadline = time.time() + settle_s
    last = before
    # "settled" = ~3 s of continuous quiet, not 3 polls: with the
    # default 0.5 s poll, 3 flat polls is only 1.5 s, and the async
    # cleaner routinely pauses longer than that mid-drain under load —
    # returning then leaves tens of GB undrained, defeating the ENOSPC
    # protection (r12 ADVICE).  Scale the flat-round requirement with
    # poll_s so the quiet window is time-based.
    flat_needed = max(3, math.ceil(3.0 / poll_s))
    flat_rounds = 0
    while time.time() < deadline:
        gc.collect()
        spark.sparkContext._jvm.System.gc()
        time.sleep(poll_s)
        cur = blockmgr_bytes(spark)
        if cur < last:
            last = cur
            flat_rounds = 0  # draining — go around again
        else:
            flat_rounds += 1
        if cur == 0:
            break  # nothing left to free
        # NOTE: do NOT break early just because something freed — the
        # cleaner unregisters shuffles one RPC at a time, so a single
        # quiet poll mid-drain is normal; only the quiet window
        # (flat_needed consecutive flat polls) or the deadline end the
        # wait (review r12: the early break returned with tens of GB
        # still draining, defeating the ENOSPC protection)
        if flat_rounds >= flat_needed:
            # one final longer sleep + re-check before trusting the
            # quiet window: a cleaner pause can outlast it under load
            time.sleep(min(2.0, max(0.0, deadline - time.time())))
            cur = blockmgr_bytes(spark)
            if cur != last:
                # ANY movement — down (cleaner draining) or UP (a
                # concurrent stage writing while the cleaner drains) —
                # means the block manager is not quiet; returning on
                # growth would leave shuffle bytes undrained (r14
                # ADVICE: `cur < last` alone broke out early on growth)
                last = cur
                flat_rounds = 0  # still moving — keep waiting
            else:
                break
    return before - blockmgr_bytes(spark)
