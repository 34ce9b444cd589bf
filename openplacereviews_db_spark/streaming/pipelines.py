"""Structured Streaming pipelines (SURVEY.md §2.11).

The reference is poll-based but carries streaming semantics that map
1:1 onto Structured Streaming:

- bounded incremental windows with the offset committed atomically with
  the data (``OsmSyncBot.java:354-378`` + bot-state edit in the same op
  log) → file-source streams with checkpointed offsets; ``foreachBatch``
  writes output and offset in the same epoch;
- the 15-min-floor − 3-min-lag alignment (``OsmSyncBot.java:103-107``)
  → an event-time **watermark**: late rows inside the margin are
  integrated, older ones dropped;
- write-path cache invalidation per tile
  (``BaseOprPlaceDataProvider.java:351-392``) → each micro-batch emits
  the set of touched tiles (consumers recompute those);
- session-like grouping (G2 is spatial, but the user-activity analog is
  temporal) → ``session_window`` aggregation.

Everything is expressed on the streaming DataFrame API so the engine's
batch operators (changelog fold, dedup, projections) are reused inside
``foreachBatch`` unchanged — one codebase for both executions.
"""

from __future__ import annotations

from typing import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..sources import staging
from ..functions.dialect import SPARK

#: schema of the driver's events table, as a streaming source
EVENTS_DDL = ("event_id long, ts timestamp, user_id long, "
              "event_type string, value double, props string")


def stream_events(spark: SparkSession, src_dir: str,
                  fmt: str = "json") -> DataFrame:
    """File-source stream of events rows (new files = new data, the
    batch-incremental ingest pattern; offsets live in the checkpoint)."""
    return (spark.readStream.format(fmt).schema(EVENTS_DDL)
            .option("maxFilesPerTrigger", 8).load(src_dir))


def windowed_event_counts(events: DataFrame, window: str = "10 minutes",
                          watermark: str = "3 minutes") -> DataFrame:
    """Per-type tumbling-window counts with a late-data watermark (the
    reference's 3-minute source-lag margin)."""
    return (
        events.withWatermark("ts", watermark)
        .groupBy(F.window("ts", window).alias("w"), "event_type")
        .agg(F.count(F.lit(1)).alias("cnt"),
             F.round(F.sum("value"), 3).alias("sum_value"))
        .select(F.col("w.start").alias("window_start"),
                F.col("w.end").alias("window_end"),
                "event_type", "cnt", "sum_value")
    )


def sessionize_stream(events: DataFrame, gap: str = "30 minutes",
                      watermark: str = "10 minutes") -> DataFrame:
    """Per-user session windows (gap-based), the stateful-grouping
    analog of the reference's G2 clustering for activity streams."""
    return (
        events.withWatermark("ts", watermark)
        .groupBy(F.session_window("ts", gap).alias("s"), "user_id")
        .agg(F.count(F.lit(1)).alias("n_events"),
             F.round(F.sum("value"), 3).alias("session_value"))
        .select("user_id", F.col("s.start").alias("session_start"),
                F.col("s.end").alias("session_end"),
                "n_events", "session_value")
    )


def _read_epoch_marker(dirpath: str) -> int | None:
    """Parse the ``_epoch`` watermark inside a snapshot dir; an absent,
    empty, or torn (unparseable) marker means NOT committed — the file
    is written fsync'd via tmp+rename, so a partial read can only come
    from a pre-fix tear and must degrade to "re-apply", never crash
    every subsequent batch.  A transient IO error (OSError) is NOT
    caught: the folds guarded by this marker are non-idempotent, so
    misreading a committed marker as absent would silently re-apply an
    applied epoch — fail-stop is the correct behavior there."""
    import os

    marker = os.path.join(dirpath, "_epoch")
    if not os.path.isfile(marker):
        return None
    with open(marker) as fh:
        content = fh.read()
    try:
        return int(content.strip())
    except ValueError:
        return None


def _snapshot_swap_preamble(snapshot_dir: str, tmp: str, old: str,
                            epoch: int) -> bool:
    """Torn-swap recovery + committed-epoch check shared by every
    snapshot-swap sink (``apply_changelog_stream``,
    ``scd2_upsert_batch``).  Returns True when the epoch is already
    applied (the caller must no-op).

    The ``_epoch`` file lands only after the staged parquet completes,
    and the live snapshot is renamed away only after that — so a
    missing snapshot means either (a) tmp is fully staged (its marker
    parses): finish the swap, the epoch is committed; or (b) tmp never
    completed but the snapshot was preserved in ``.old``: restore it
    and re-apply.  Without this, a replay would rebuild from EMPTY and
    silently drop all accumulated state."""
    import os
    import shutil

    if not os.path.exists(snapshot_dir):
        if _read_epoch_marker(tmp) is not None:
            os.rename(tmp, snapshot_dir)
            shutil.rmtree(old, ignore_errors=True)
            return True
        if os.path.isdir(old):
            os.rename(old, snapshot_dir)
    committed = _read_epoch_marker(snapshot_dir)
    if committed is not None and committed >= epoch:
        return True  # committed retry: exact no-op
    return False


def _commit_snapshot_swap(snapshot_dir: str, tmp: str, old: str,
                          epoch: int) -> None:
    """Stamp the staged dir's epoch watermark, then swap it live
    (never overwrite the directory being read — stage + rename; on an
    object store / Delta this would be a transactional MERGE).  The
    marker itself is staged (tmp file + fsync + atomic replace) so a
    power-loss tear can never leave a half-written marker that the
    preamble would misread as committed."""
    import os
    import shutil

    marker_tmp = os.path.join(tmp, "._epoch.tmp")
    with open(marker_tmp, "w") as fh:
        fh.write(str(epoch))
        fh.flush()
        os.fsync(fh.fileno())
    os.replace(marker_tmp, os.path.join(tmp, "_epoch"))
    if os.path.exists(snapshot_dir):
        shutil.rmtree(old, ignore_errors=True)
        os.rename(snapshot_dir, old)
    os.rename(tmp, snapshot_dir)
    shutil.rmtree(old, ignore_errors=True)


def apply_changelog_stream(ops_stream: DataFrame, snapshot_dir: str,
                           checkpoint_dir: str,
                           on_batch: Callable[[DataFrame, int], None] | None = None):
    """Incremental M9: fold each micro-batch of changelog rows onto the
    parquet snapshot at ``snapshot_dir`` (read → cogroup-fold → atomic
    overwrite), committing output with the stream's checkpointed offset
    — the reference's same-transaction offset rule.

    Also computes per-batch touched-tile ids (cache-invalidation analog)
    and hands them to ``on_batch`` when provided.
    """
    from ..operators.changelog import apply_operations

    def fold_batch(ops: DataFrame, epoch_id: int) -> None:
        spark = ops.sparkSession
        tmp = snapshot_dir.rstrip("/") + f".epoch-{epoch_id}"
        old = snapshot_dir.rstrip("/") + ".old"
        # committed retries must no-op: the fold is NOT idempotent
        # (appendmany), so it must never re-run on applied state
        if _snapshot_swap_preamble(snapshot_dir, tmp, old, int(epoch_id)):
            return
        try:
            # explicit schema (the snapshot is apply_operations output,
            # written by this body): skips the per-batch
            # schema-inference job of a bare read.parquet
            docs = spark.read.schema("obj_id string, doc string") \
                .parquet(snapshot_dir)
        except Exception:
            docs = spark.createDataFrame([], "obj_id string, doc string")
        apply_operations(docs, ops).write.mode("overwrite").parquet(tmp)
        if on_batch is not None:
            on_batch(ops.select("obj_id").distinct(), epoch_id)
        _commit_snapshot_swap(snapshot_dir, tmp, old, int(epoch_id))

    return (ops_stream.writeStream.foreachBatch(fold_batch)
            .option("checkpointLocation", checkpoint_dir)
            .trigger(availableNow=True))


def stateful_user_totals(events: DataFrame) -> DataFrame:
    """Custom stateful operator via ``applyInPandasWithState``: per-user
    running (count, sum) maintained in the state store across
    micro-batches AND across restarts (state lives in the checkpoint).

    This is the extension point the reference lacks entirely — arbitrary
    per-key state machines over an unbounded stream (the brief's
    "custom stateful operators" bullet).  One row is emitted per key per
    micro-batch with the updated totals.
    """
    import pandas as pd
    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

    out_schema = "user_id long, n_events long, total double"
    state_schema = "n long, total double"

    def fn(key, pdfs, state: GroupState):
        n, total = state.get if state.exists else (0, 0.0)
        for pdf in pdfs:
            n += len(pdf)
            total += float(pdf["value"].sum())
        state.update((n, total))
        yield pd.DataFrame({"user_id": [key[0]], "n_events": [n],
                            "total": [round(total, 3)]})

    return (events.groupBy("user_id").applyInPandasWithState(
        fn, out_schema, state_schema, "update",
        GroupStateTimeout.NoTimeout))


# ---------------------------------------------------------------------------
# availableNow contract runners (driver-checkable streaming)
# ---------------------------------------------------------------------------

#: per-process counter for unique memory-sink table names
_SINK_SEQ = [0]
#: last finished _run_to_memory run's StreamingQueryProgress dict —
#: the query handle is unreachable after the helper returns, and the
#: state-partitions unit test reads the applied sizing from here
_LAST_STREAM_PROGRESS: list = [None]


def _run_to_memory(agg: DataFrame, output_mode: str,
                   state_partitions: int | None = None) -> DataFrame:
    """Execute a streaming aggregate to completion (availableNow) into a
    memory sink and return the materialized result table.

    ``state_partitions`` sizes the STATEFUL operators' shuffle (= the
    number of state stores each micro-batch opens, versions, and
    commits — pinned into the checkpoint at first start).  It is a
    deployment knob, not a semantic one: results are partition-count
    invariant, but per-batch wall carries an O(partitions) store
    open/commit constant, so a small feed wants few stores while a
    1000-executor deployment sizes it to key cardinality ÷ target
    state-per-store.  Measured here (r9 interleaved A/B, sf0.1):
    st_stream_join 8.0 s at 32 stores → 3.1 s at 8, values identical.
    The session conf is restored after start (the started query keeps
    the value it planned with)."""
    spark = agg.sparkSession
    _SINK_SEQ[0] += 1
    name = f"st_sink_{_SINK_SEQ[0]}"
    before = spark.conf.get("spark.sql.shuffle.partitions")
    if state_partitions is not None:
        spark.conf.set("spark.sql.shuffle.partitions",
                       str(state_partitions))
    try:
        q = (agg.writeStream.format("memory").queryName(name)
             .outputMode(output_mode).trigger(availableNow=True).start())
        # the stream snapshots the conf when batch 0 plans, which is
        # AFTER start() returns — restore only once the run finishes
        q.awaitTermination()
    finally:
        if state_partitions is not None:
            spark.conf.set("spark.sql.shuffle.partitions", before)
    # expose the finished run's progress (state-operator partition
    # counts etc.) — the query handle is gone once this returns, and
    # the conf-restore unit pins the applied sizing through this
    _LAST_STREAM_PROGRESS[0] = q.lastProgress
    return spark.table(name)


def _stream_events_parquet(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The events table as a *bounded* stream: the parquet file source
    replays the directory exactly once under availableNow, so a windowed
    aggregate over it equals the batch aggregate — which is what makes
    these streaming queries oracle-able.

    events.ts has shipped both as TIMESTAMP(NANOS) and TIMESTAMP(MICROS)
    across driver testdata generations; a stream needs its schema
    declared up front, so take it from the memoized batch read of the
    same file and route the result through the SAME type-branched
    conversion as the batch loader (sources/testdata.py:normalize_events_ts)
    — the two paths can never diverge again."""
    from ..sources.testdata import load_raw_table, normalize_events_ts

    schema = load_raw_table(spark, "events", sf_dir).schema
    # the file source requires a directory; narrow it to the events file
    src = (spark.readStream.format("parquet").schema(schema)
           .option("pathGlobFilter", "events.parquet").load(sf_dir))
    return normalize_events_ts(src)


def event_rollup_once(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Daily tumbling-window per-type rollup as a finished stream.

    The value sum is over pre-floored millis (exact integer arithmetic),
    so the result is summation-order-independent and hash-comparable
    against the batch oracle.  Complete output mode: the sink holds the
    final state of every window — identical to the batch groupBy.
    """
    ev = _stream_events_parquet(spark, sf_dir)
    agg = (ev.groupBy(F.window("ts", "1 day").alias("w"), "event_type")
           .agg(F.count(F.lit(1)).alias("cnt"),
                F.sum(F.floor(F.col("value") * 1000).cast("bigint"))
                .alias("sum_millis")))
    out = _run_to_memory(agg, "complete", state_partitions=8)
    return out.select(F.col("w.start").alias("window_start"),
                      "event_type", "cnt", "sum_millis")


def sessionize_once(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-user gap sessions (30 min) as a finished stream; session end =
    last event + gap, per ``session_window`` semantics (the oracle
    rebuilds the same islands with a lag/cumsum window)."""
    ev = _stream_events_parquet(spark, sf_dir)
    agg = (ev.groupBy(F.session_window("ts", "30 minutes").alias("s"),
                      "user_id")
           .agg(F.count(F.lit(1)).alias("n_events")))
    out = _run_to_memory(agg, "complete", state_partitions=8)
    return out.select("user_id", F.col("s.start").alias("session_start"),
                      F.col("s.end").alias("session_end"), "n_events")


def user_totals_once(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-user running totals maintained by ``applyInPandasWithState``,
    run to completion over the bounded events stream — the custom
    stateful operator as a driver-checkable query.

    State is (n, total_millis) with the value pre-floored to integer
    millis, so the accumulated total is summation-order-independent and
    the final emission per key equals the batch aggregate exactly —
    which is what makes a stateful stream oracle-able.  Update output
    mode emits one row per key per micro-batch; the LAST emission per
    key is the converged state (max_by on the batch sequence).
    """
    import pandas as pd
    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

    ev = _stream_events_parquet(spark, sf_dir).select(
        "user_id", F.floor(F.col("value") * 1000).cast("bigint")
        .alias("millis"))

    out_schema = "user_id long, n_events long, total_millis long, seq long"
    state_schema = "n long, total long, seq long"

    def fn(key, pdfs, state: GroupState):
        n, total, seq = state.get if state.exists else (0, 0, 0)
        for pdf in pdfs:
            n += len(pdf)
            total += int(pdf["millis"].sum())
        seq += 1
        state.update((n, total, seq))
        yield pd.DataFrame({"user_id": [key[0]], "n_events": [n],
                            "total_millis": [total], "seq": [seq]})

    agg = ev.groupBy("user_id").applyInPandasWithState(
        fn, out_schema, state_schema, "update", GroupStateTimeout.NoTimeout)
    out = _run_to_memory(agg, "update", state_partitions=8)
    last = out.groupBy("user_id").agg(
        F.max_by(F.struct("n_events", "total_millis"), "seq").alias("s"))
    return last.select("user_id", F.col("s.n_events").alias("n_events"),
                       F.col("s.total_millis").alias("total_millis"))


def _stage_time_nsplit(sf_dir: str, prefix: str, n: int) -> tuple[str, str]:
    """Write-once staging of the EVENTS table as ``n`` chronological
    parquet files (equal-count ts ranges, strict ``<`` cuts so equal
    timestamps never straddle a boundary) plus one FLUSH file holding a
    single sentinel event (user_id = -1) at max(ts) + gap + 1 h — the
    production-shaped feed for watermark-bounded session state: each
    micro-batch advances the watermark past the previous batch's
    sessions, and the sentinel closes the final ones so append mode
    emits every session.  Cache keyed on source mtime+size (the s17
    rule); ts pre-normalized to epoch-micros BIGINT like
    ``_stage_time_split``."""
    import os

    src_parquet = os.path.join(sf_dir, "events.parquet")
    st = os.stat(src_parquet)
    tag = (f"v1n{n}_{os.path.basename(os.path.normpath(sf_dir))}"
           f"_{int(st.st_mtime)}_{st.st_size}")
    root = os.path.join(staging.stage_root(), f"{prefix}_{tag}")
    src = os.path.join(root, "src")
    if not _stage_is_complete(root):
        import shutil as _sh
        _sh.rmtree(src, ignore_errors=True)
        import pyarrow as pa
        import pyarrow.compute as pc
        import pyarrow.parquet as pq

        import numpy as np

        t = pq.read_table(src_parquet, columns=["event_id", "user_id", "ts"])
        ts_us = pc.cast(pc.cast(t["ts"], pa.timestamp("us"), safe=False),
                        pa.int64())
        t = t.drop_columns(["ts"]).append_column("ts_us", ts_us)
        # numpy sort, not a python list — the sf100 probe stages 100M
        # timestamps and a pylist sort is minutes + ~8 GB
        sorted_ts = np.sort(ts_us.to_numpy())
        cuts = [int(sorted_ts[(len(sorted_ts) * i) // n])
                for i in range(1, n)]
        cuts = sorted(set(cuts)) + [int(sorted_ts[-1]) + 1]
        os.makedirs(src, exist_ok=True)
        paths, lo = [], None
        for i, hi in enumerate(cuts):
            mask = pc.less(t["ts_us"], hi)
            if lo is not None:
                mask = pc.and_(mask, pc.greater_equal(t["ts_us"], lo))
            p = os.path.join(src, f"{i:05d}_batch.parquet")
            pq.write_table(t.filter(mask), p)
            paths.append(p)
            lo = hi
        flush = pa.table({
            "event_id": pa.array([-1], pa.int64()),
            "user_id": pa.array([-1], pa.int64()),
            "ts_us": pa.array([sorted_ts[-1] + (30 + 60) * 60 * 1_000_000],
                              pa.int64()),
        })
        p = os.path.join(src, f"{len(cuts):05d}_flush.parquet")
        pq.write_table(flush, p)
        paths.append(p)
        _pin_batch_order(*paths)
        _mark_stage_complete(root, tag)
    else:
        _prune_stale_stage(root, tag)  # cache hit: age out leftovers
    return root, src


def sessionize_bounded_once(spark: SparkSession, sf_dir: str,
                            n_batches: int = 4,
                            sink_dir: str | None = None) -> DataFrame:
    """st_sessionize with WATERMARK-BOUNDED per-batch state — the
    production shape of the r10 heap finding (BASELINE: one availableNow
    micro-batch pushed the whole sf10 corpus's ~10M session rows through
    the state stores and GC-killed an 8 GiB JVM; a real feed never sees
    the corpus in one batch).  The events table streams as ``n_batches``
    chronological micro-batches with a 0-second watermark: the strict
    time cuts make nothing late, each batch evicts every session that
    closed before the previous batch's max ts, and the sentinel flush
    batch closes the rest — so APPEND mode emits exactly the sessions of
    the one-shot complete-mode run (pytest-pinned), while state never
    holds more than one time-slice of open sessions.

    ``sink_dir`` routes the emitted sessions to a parquet file sink
    (the at-scale path: a memory sink would re-buffer every session on
    the driver and defeat the bound); default is the memory sink used
    by the other driver-checkable streams."""
    import os
    import shutil

    root, src = _stage_time_nsplit(sf_dir, "sessbnd", n_batches)
    ev = (spark.readStream.format("parquet")
          .schema("event_id long, user_id long, ts_us long")
          .option("maxFilesPerTrigger", 1).load(src)
          .withColumn("ts", F.timestamp_micros("ts_us")))
    agg = (ev.withWatermark("ts", "0 seconds")
           .groupBy(F.session_window("ts", "30 minutes").alias("s"),
                    "user_id")
           .agg(F.count(F.lit(1)).alias("n_events")))
    if sink_dir is None:
        out = _run_to_memory(agg, "append", state_partitions=8)
    else:
        chk = os.path.join(sink_dir, "_chk")
        data = os.path.join(sink_dir, "data")
        for d in (chk, data):
            shutil.rmtree(d, ignore_errors=True)
        before = spark.conf.get("spark.sql.shuffle.partitions")
        spark.conf.set("spark.sql.shuffle.partitions", "8")
        try:
            q = (agg.writeStream.format("parquet")
                 .option("path", data).option("checkpointLocation", chk)
                 .outputMode("append").trigger(availableNow=True).start())
            q.awaitTermination()
        finally:
            spark.conf.set("spark.sql.shuffle.partitions", before)
        _LAST_STREAM_PROGRESS[0] = q.lastProgress
        out = spark.read.parquet(data)
    return (out.where(F.col("user_id") >= 0)
            .select("user_id", F.col("s.start").alias("session_start"),
                    F.col("s.end").alias("session_end"), "n_events"))


def _stage_parity_split(sf_dir: str, prefix: str) -> tuple[str, str]:
    """Write-once staging of the documents corpus as TWO parquet files
    split on doc_id parity (batch_a = even, batch_b = odd), under a
    root whose name embeds the source parquet's mtime+size — driver
    testdata drifts between rounds, and an existence-only cache check
    silently serves stale rows (the s17 lesson, ADVICE r5).  Returns
    ``(root, src)``; pyarrow IO only, so plan construction stays lazy.
    """
    import os

    src_parquet = os.path.join(sf_dir, "documents.parquet")
    st = os.stat(src_parquet)
    # _v2: layout version (sequence-prefixed split names) — keys any
    # cached dir with the old unprefixed names out of reuse
    tag = (f"v2_{os.path.basename(os.path.normpath(sf_dir))}"
           f"_{int(st.st_mtime)}_{st.st_size}")
    root = os.path.join(staging.stage_root(), f"{prefix}_{tag}")
    src = os.path.join(root, "src")
    if not _stage_is_complete(root):
        import shutil as _sh
        _sh.rmtree(src, ignore_errors=True)
        import pyarrow.compute as pc
        import pyarrow.parquet as pq

        t = pq.read_table(src_parquet)
        os.makedirs(src, exist_ok=True)
        even = pc.equal(pc.bit_wise_and(t["doc_id"], 1), 0)
        # Sortable sequence prefix makes the intended batch order
        # structural (lexicographic = ingest order), independent of the
        # mtime pinning below (FileStreamSource itself orders by mtime;
        # the name is the belt, the pinned mtimes are the braces).
        a = os.path.join(src, "00000_batch_a.parquet")
        b = os.path.join(src, "00001_batch_b.parquet")
        pq.write_table(t.filter(even), a)
        pq.write_table(t.filter(pc.invert(even)), b)
        _pin_batch_order(a, b)
        _mark_stage_complete(root, tag)
    else:
        _prune_stale_stage(root, tag)  # cache hit: age out leftovers
    return root, src


def _prune_stale_stage(root: str, tag: str) -> None:
    """Drop superseded write-once split stages: ``root`` is
    ``staging.stage_root()/{prefix}_{tag}`` with ``tag`` ending in the
    source parquet's ``{mtime}_{size}`` fingerprint; a fresh build
    proves every same-prefix sibling with a different fingerprint is a
    stale full copy of the staged feed leaking on /tmp (r12 ADVICE —
    the disk-pressure class release_shuffles exists to fight)."""
    import os

    name = os.path.basename(root)
    fp = "_".join(tag.split("_")[-2:])  # "<mtime>_<size>"
    staging.prune_stale_siblings(
        os.path.dirname(root), name[: len(name) - len(fp)], name)


def _stage_is_complete(root: str) -> bool:
    """Completion-marker check for the write-once split stagers.  A
    file-count guard reads a TORN last parquet (ENOSPC/kill mid-write
    — the at-scale harnesses run at the /tmp disk limit) as a complete
    stage forever; the marker lands only after every split file and
    its mtime pinning are done (r13 review)."""
    import os

    return os.path.isfile(os.path.join(root, "_staged_ok"))


def _mark_stage_complete(root: str, tag: str) -> None:
    """Stamp the marker, then prune superseded-fingerprint siblings
    (callers also prune on cache-hit accesses so an under-age sibling
    still ages out — r13 review)."""
    import os

    with open(os.path.join(root, "_staged_ok"), "w") as fh:
        fh.write("ok")
    _prune_stale_stage(root, tag)


def _pin_batch_order(*paths: str) -> None:
    """FileStreamSource orders files by modification TIME, not name —
    pin explicit mtimes 1 s apart (in argument order) so the batch
    order the closed-form oracles assume can never tie, even on a
    coarse-mtime filesystem (ADVICE r6 hardening)."""
    import os
    import time

    base = time.time()
    for i, p in enumerate(paths):
        os.utime(p, (base + i, base + i))


def _batch_shuffle_partitions(spark: SparkSession, src: str) -> int:
    """Size the per-micro-batch shuffles of a foreachBatch stream to
    the BATCH, not the session: each availableNow micro-batch here is
    one staged file, so the joins/groupBys inside the batch body want
    partitions derived from that file's bytes (~64 MB/partition
    target, floor 8) rather than the session's corpus-sized setting —
    the foreachBatch analog of the r9 state-store sizing
    (``_run_to_memory`` ``state_partitions``; measured r14 interleaved
    A/B at sf0.1: st_neardup_pairs 7.2 -> 6.1 s, values identical).
    ``SPARK_GRAFT_STREAM_SHUFFLE`` overrides for cluster deployments
    where the per-batch volume is known better than a file size; a
    value that is not a positive integer raises."""
    import math
    import os

    env = os.environ.get("SPARK_GRAFT_STREAM_SHUFFLE")
    if env:
        try:
            n = int(env)
        except ValueError:
            n = 0
        if n <= 0:
            raise ValueError(
                "SPARK_GRAFT_STREAM_SHUFFLE must be a positive integer "
                f"partition count, got {env!r}")
        return n
    try:
        biggest = max((os.path.getsize(os.path.join(src, f))
                       for f in os.listdir(src)
                       if not f.startswith((".", "_"))), default=0)
    except OSError:
        biggest = 0
    session = int(spark.conf.get("spark.sql.shuffle.partitions"))
    return max(8, min(session, math.ceil(biggest / (64 * 2 ** 20))))


def neardup_once(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X19 run to completion as a driver-checkable query: the documents
    corpus is staged as TWO parquet files (write-once per sf, split on
    doc_id parity) and streamed one file per micro-batch through
    ``neardup_dedup_stream`` — so the cross-batch index-join path really
    executes — then the accumulated pairs are read back, canonicalized
    to (min, max) id order.

    Why this is oracle-able with the BATCH oracle: for any pair (x, y)
    sharing a band key, either both arrive in one batch (found by the
    batch's self-join) or the later one finds the earlier in the
    persistent index (found by the index join) — so the final pair set
    equals ``dd_minhash_lsh``'s batch LSH output exactly, verify
    threshold and all.  Working dirs are wiped per call so reruns are
    reproducible."""
    import os
    import shutil

    root, src = _stage_parity_split(sf_dir, "neardup")
    index_dir = os.path.join(root, "index")
    chk_dir = os.path.join(root, "chk")
    pairs_dir = os.path.join(root, "pairs")
    for d in (index_dir, chk_dir, pairs_dir):
        shutil.rmtree(d, ignore_errors=True)

    schema = spark.read.parquet(src).schema
    docs = (spark.readStream.format("parquet").schema(schema)
            .option("maxFilesPerTrigger", 1).load(src)
            .where(F.length("text") > 0))
    before = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.set("spark.sql.shuffle.partitions",
                   str(_batch_shuffle_partitions(spark, src)))
    try:
        q = neardup_dedup_stream(
            docs, index_dir, chk_dir, pairs_dir,
            shingle_words=2, num_hashes=16, bands=8,
            min_jaccard=0.1).start()
        # foreachBatch bodies plan per batch with the CURRENT conf —
        # keep the batch-sized setting for the whole run, restore after
        q.awaitTermination()
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", before)
    pairs = spark.read.parquet(pairs_dir)
    lo = F.least("id_a", "id_b")
    hi = F.greatest("id_a", "id_b")
    canon = pairs.select(lo.alias("id_a"), hi.alias("id_b"), "jaccard")
    # pin the readback-dedup exchange to a bytes-derived count: it runs
    # AFTER the batch-sized conf is restored, so a bare dropDuplicates
    # pays session-count task constants on a few thousand pairs (r15
    # item 2; hash(id_a) satisfies the (id_a, id_b) clustering)
    from ..functions.sizing import path_bytes, small_exchange_parts
    parts = small_exchange_parts(spark, path_bytes(pairs_dir))
    if parts:
        canon = canon.repartition(parts, "id_a")
    return canon.dropDuplicates(["id_a", "id_b"])


def neardup_dedup_stream(docs_stream: DataFrame, index_dir: str,
                         checkpoint_dir: str, pairs_dir: str,
                         shingle_words: int = 2, num_hashes: int = 16,
                         bands: int = 8, min_jaccard: float = 0.5):
    """Incremental near-duplicate detection: each micro-batch of incoming
    documents is checked against a persistent MinHash band index (and
    against itself), verified with exact Jaccard, then merged into the
    index — the online form of ``dedup.minhash_lsh_pairs`` for a crawl
    feed.

    State is ONE epoch-partitioned parquet table under ``index_dir`` —
    ``state/epoch=<id>`` rows of (id, bands array, sids array) —
    mirroring the batch operator's lesson (operators/dedup.py):
    candidate lookup explodes the band ARRAYS into an ids-ONLY band
    equi-join (never a corpus scan, and no shingle array ever
    replicates bands× through the band shuffle); only the bounded
    candidate pairs join the sids column for the exact-Jaccard verify.
    The sids hold xxhash64 shingle IDS, not shingle strings — the
    persistent index is ~8 bytes/shingle regardless of shingle text
    length, and the verify intersects bigint arrays; Jaccard over the
    ids equals Jaccard over the strings barring a 64-bit collision
    (probability ~n²/2⁶⁵ — the same argument as
    ``dedup.ngram_jaccard_pairs``), so the batch oracle still applies
    value-for-value.  One table instead of the pre-r14 bands/sets PAIR
    halves the per-batch index write+read jobs AND removes the
    torn-between-two-appends failure mode outright (r13 ADVICE);
    retries follow the ``_exact_dedup_batch`` epoch discipline —
    committed epochs are skipped, the index read prunes to
    ``epoch < current``, so a replayed micro-batch is an exact no-op
    instead of a double-append.  Verified pairs land in
    ``pairs_dir/epoch=<id>`` the same way.
    """
    on_batch = _neardup_batch(index_dir, pairs_dir, shingle_words,
                              num_hashes, bands, min_jaccard)
    return (docs_stream.writeStream.foreachBatch(on_batch)
            .option("checkpointLocation", checkpoint_dir)
            .trigger(availableNow=True))


def _neardup_batch(index_dir: str, pairs_dir: str, shingle_words: int,
                   num_hashes: int, bands: int, min_jaccard: float):
    """The foreachBatch body of :func:`neardup_dedup_stream`, exposed so
    tests can kill-restart the stream around it (the exactly-once
    offset-log replay check, mirroring ``_exact_dedup_batch``)."""
    import os

    from ..functions import hashing as H
    from ..operators.dedup import minhash_state, tiered_jaccard_verify

    state_dir = os.path.join(index_dir, "state")
    # per-stream constants hoisted out of the per-batch body: one
    # parsed band expression (unresolved Columns are reusable across
    # frames) — the r14 construction rule (~5 ms py4j RTT on this box)
    bands_sql = H.lsh_bands(
        SPARK, f"array({', '.join(f'h{i}' for i in range(num_hashes))})",
        bands, num_hashes // bands)

    def verify(cand: DataFrame, sets: DataFrame) -> DataFrame:
        # two-tier exact verify via the shared helper (r14: the int16
        # tier-1 transfer to the whole MinHash family): the persistent
        # sets index is CORPUS-sized, so tier 1 joins only int16
        # projections per candidate and tier 2 ships full int64 sets
        # for survivors + bypasses only; shuffle_hash inside the
        # helper keeps AQE from broadcast-converting either array side
        # (the dd_minhash_lsh sf10 OOM class, operators/dedup.py).
        # parts = the batch-derived session count (r15): takes the
        # helper's tier-2 b-first path, whose first join rides tier
        # 1's output partitioning — one fewer survivor-stream exchange
        # per micro-batch at every scale, values join-order invariant
        spark = cand.sparkSession
        parts = int(spark.conf.get("spark.sql.shuffle.partitions"))
        return tiered_jaccard_verify(cand, sets, sets, min_jaccard,
                                     parts=parts)

    def on_batch(batch: DataFrame, epoch_id: int) -> None:
        spark = batch.sparkSession
        epoch = int(epoch_id)
        state_part = os.path.join(state_dir, f"epoch={epoch}")
        pairs_part = os.path.join(pairs_dir, f"epoch={epoch}")
        if (os.path.isfile(os.path.join(state_part, "_SUCCESS"))
                and os.path.isfile(os.path.join(pairs_part, "_SUCCESS"))):
            return  # retried, already-committed epoch: exact no-op
        # the shared MinHash wiring (operators/dedup.py:minhash_state)
        # — signature + xxhash64 shingle-id set in one aggregation.
        # persist + explicit unpersist, NOT localCheckpoint: checkpoint
        # blocks have no public unpersist handle and accumulate one
        # per-batch shingled copy in the block manager for the
        # stream's lifetime (r13 review; the shared frame feeds band
        # derivation, the self-join and the verify — without it each
        # consumer re-shingles the batch)
        per_doc = minhash_state(batch, "text", "doc_id", shingle_words,
                                num_hashes, with_sids=True).persist()
        try:
            new_state = per_doc.select(
                "id", F.expr(bands_sql).alias("bands"), "sids")
            new_bands = new_state.select(
                "id", F.explode("bands").alias("band"))
            new_sets = per_doc.select("id", "sids")
            # isdir guard, not try/except (the _exact_dedup_batch
            # pattern): a missing first-batch index is expected, and
            # the epoch < current filter is partition PRUNING — a
            # half-written current epoch is never opened, and a torn
            # COMMITTED epoch (the pre-r14 two-table layout could tear
            # between its bands and sets appends, r13 ADVICE) can no
            # longer exist: one table, one write, epoch-overwrite.
            if os.path.isdir(state_dir):
                # explicit schema derived from THIS batch's state frame
                # (+ the epoch partition column): skips the per-batch
                # schema-inference job a bare read.parquet runs
                # (~0.1 s/batch on this box), robust to any id type
                from pyspark.sql import types as T
                st_schema = T.StructType(
                    list(new_state.schema.fields)
                    + [T.StructField("epoch", T.IntegerType())])
                old = (spark.read.schema(st_schema).parquet(state_dir)
                       .where(F.col("epoch") < F.lit(epoch)))
                old_bands = old.select(
                    "id", F.explode("bands").alias("band"))
                old_sets = old.select("id", "sids")
            else:
                old_bands = spark.createDataFrame(
                    [], "id long, band string")
                old_sets = spark.createDataFrame(
                    [], "id long, sids array<bigint>")
            a = new_bands.select(F.col("id").alias("id_a"), "band")
            # new-vs-corpus (any order) + new-vs-new (a < b, once per
            # pair); ids only — shingle sets join in at the verify,
            # once per pair
            vs_old = a.join(old_bands.select(F.col("id").alias("id_b"),
                                             "band"), "band")
            vs_new = (a.join(new_bands.select(F.col("id").alias("id_b"),
                                              "band"), "band")
                      .where(F.col("id_a") < F.col("id_b")))
            # repartition on id_a alone before the dedup: hash(id_a)
            # satisfies the (id_a, id_b) clustering, the agg rides it,
            # and its output partitioning carries straight into the
            # verify's first join (the r15 laundering mechanics,
            # operators/dedup.py tiered_jaccard_verify) — one fewer
            # candidate-stream exchange per micro-batch
            n_parts = int(spark.conf.get("spark.sql.shuffle.partitions"))
            cand = (vs_old.unionByName(vs_new)
                    .select("id_a", "id_b")
                    .repartition(n_parts, "id_a").dropDuplicates())
            pairs = verify(cand, old_sets.unionByName(new_sets))
            # bound the index's file growth: un-coalesced 32-task
            # writes spray 32 files per table per batch, and a
            # long-running stream re-opens every one of them at each
            # index join (wall-clock neutral in the 2-batch A/B at
            # sf0.1; size by target file bytes, not task count, at
            # production batch sizes).  mode=overwrite into the epoch
            # partition: a torn retry is rewritten byte-identically.
            pairs.coalesce(4).write.mode("overwrite").parquet(pairs_part)
            new_state.coalesce(4).write.mode("overwrite") \
                .parquet(state_part)
        finally:
            per_doc.unpersist()

    return on_batch


def exact_dedup_once(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X54 run to completion as a driver-checkable query: the parity
    split corpus streamed one file per micro-batch through
    ``exact_dedup_stream``; the final per-fingerprint state is read
    back as ``(fp, keep_id, n_docs)``.

    Why this is oracle-able: first-SEEN-wins under the deterministic
    batch order (evens then odds) is a closed-form rule — keep the min
    even doc_id of the group if one exists, else the min odd — so the
    oracle recomputes it from the flat corpus, and a regression in the
    cross-batch anti-join (re-keeping an fp batch_b should have
    skipped, or dropping a first-seen) flips keep_id or n_docs and
    fails the driver hash."""
    import os
    import shutil

    root, src = _stage_parity_split(sf_dir, "exactdd")
    index_dir = os.path.join(root, "index")
    counts_dir = os.path.join(root, "counts")
    chk_dir = os.path.join(root, "chk")
    for d in (index_dir, counts_dir, chk_dir):
        shutil.rmtree(d, ignore_errors=True)

    schema = spark.read.parquet(src).schema
    docs = (spark.readStream.format("parquet").schema(schema)
            .option("maxFilesPerTrigger", 1).load(src)
            .where(F.length("text") > 0))
    q = exact_dedup_stream(docs, index_dir, chk_dir, counts_dir).start()
    q.awaitTermination()
    kept = spark.read.parquet(index_dir)
    counts = (spark.read.parquet(counts_dir)
              .groupBy("fp").agg(F.sum("c").alias("n_docs")))
    return kept.join(counts, "fp").select("fp", "keep_id", "n_docs")


def exact_dedup_stream(docs_stream: DataFrame, index_dir: str,
                       checkpoint_dir: str, counts_dir: str):
    """X54 — incremental EXACT dedup of a document feed against a
    persistent fingerprint index (the streaming form of
    ``dedup.exact_dedup``, as ``neardup_dedup_stream`` is for LSH —
    the reference's first-wins dedup call sites, SURVEY §2.4 A7,
    running online over a crawl feed).

    Per micro-batch: collapse the batch per fingerprint (min doc_id —
    in-batch first-wins), anti-join against the seen index so an fp
    first seen in an EARLIER batch is never re-kept, append the
    survivors to the index and the per-batch group sizes to
    ``counts_dir``.  State is ids+fingerprints only (≤ 40 B/distinct
    doc regardless of text size); the anti-join is an equi-join on the
    md5 fingerprint — maximally spread, never quadratic.

    foreachBatch is AT-LEAST-ONCE, so both sinks are idempotent per
    epoch: each batch writes its output to an ``epoch=<id>`` partition
    directory with mode=overwrite (a committed retry is skipped
    outright, a torn one is rewritten), and the seen-index read prunes
    to ``epoch < current`` so a half-written current epoch can never
    feed its own anti-join.  A retried micro-batch therefore recomputes
    byte-identical output instead of double-appending counts."""
    on_batch = _exact_dedup_batch(index_dir, counts_dir)
    return (docs_stream.writeStream.foreachBatch(on_batch)
            .option("checkpointLocation", checkpoint_dir)
            .trigger(availableNow=True))


def _exact_dedup_batch(index_dir: str, counts_dir: str):
    """The foreachBatch body of :func:`exact_dedup_stream`, exposed so
    tests can replay an epoch and assert the retry is a no-op."""
    from ..functions import hashing as H

    def on_batch(batch: DataFrame, epoch_id: int) -> None:
        import os

        epoch = int(epoch_id)
        idx_part = os.path.join(index_dir, f"epoch={epoch}")
        cnt_part = os.path.join(counts_dir, f"epoch={epoch}")
        if (os.path.isfile(os.path.join(idx_part, "_SUCCESS"))
                and os.path.isfile(os.path.join(cnt_part, "_SUCCESS"))):
            return  # retried, already-committed epoch: exact no-op
        spark = batch.sparkSession
        firsts = (batch
                  .select("doc_id",
                          F.expr(H.fingerprint(SPARK, "text")).alias("fp"))
                  .groupBy("fp")
                  .agg(F.min("doc_id").alias("keep_id"),
                       F.count(F.lit(1)).alias("c")))
        # isdir guard, not try/except: a missing first-batch index is
        # expected, and the AnalysisException path logs a full JVM
        # stack trace per run.  The epoch < current filter is partition
        # PRUNING — a torn current-epoch directory is never opened.
        if os.path.isdir(index_dir):
            # explicit schema (fp/keep_id from this batch's agg frame +
            # the epoch partition column): skips the per-batch
            # schema-inference job of a bare read.parquet (~0.1 s)
            from pyspark.sql import types as T
            idx_schema = T.StructType(
                [firsts.schema["fp"], firsts.schema["keep_id"],
                 T.StructField("epoch", T.IntegerType())])
            seen = (spark.read.schema(idx_schema).parquet(index_dir)
                    .where(F.col("epoch") < F.lit(epoch)).select("fp"))
        else:
            seen = spark.createDataFrame([], "fp string")
        # persist: firsts feeds TWO sinks (counts + the anti-joined
        # index append); without it each write re-scans the batch
        # source and re-runs the md5-fingerprint groupBy — a 2x
        # per-batch compute tax, visible as doubled numInputRows in
        # the stream progress (found by the r13 4-batch sf10 harness).
        # persist + explicit unpersist, NOT localCheckpoint: checkpoint
        # blocks have no public unpersist handle and would accumulate
        # one per-batch copy in the block manager for the stream's
        # lifetime (r13 review — the r12 lesson says nothing frees
        # them without explicit GC rounds, impossible mid-stream).
        firsts = firsts.persist()
        try:
            new = (firsts.join(seen, "fp", "left_anti")
                   .select("fp", "keep_id"))
            firsts.select("fp", "c").coalesce(4).write.mode("overwrite") \
                .parquet(cnt_part)
            new.coalesce(4).write.mode("overwrite").parquet(idx_part)
        finally:
            firsts.unpersist()

    return on_batch


def _stage_events_split(sf_dir: str, prefix: str) -> tuple[str, str]:
    """Write-once staging of the EVENTS table as two parquet files
    split on event_id parity — the stream-join feed (views arrive in
    batch 1, clicks in batch 2, so every match is cross-batch).  Cache
    keyed on the source parquet's mtime+size (the CLAUDE.md
    stale-cache rule); pyarrow IO only, plan construction stays lazy."""
    import os

    src_parquet = os.path.join(sf_dir, "events.parquet")
    st = os.stat(src_parquet)
    tag = (f"v2_{os.path.basename(os.path.normpath(sf_dir))}"
           f"_{int(st.st_mtime)}_{st.st_size}")
    root = os.path.join(staging.stage_root(), f"{prefix}_{tag}")
    src = os.path.join(root, "src")
    if not _stage_is_complete(root):
        import shutil as _sh
        _sh.rmtree(src, ignore_errors=True)
        import pyarrow.compute as pc
        import pyarrow.parquet as pq

        t = pq.read_table(src_parquet)
        os.makedirs(src, exist_ok=True)
        even = pc.equal(pc.bit_wise_and(t["event_id"], 1), 0)
        a = os.path.join(src, "00000_batch_a.parquet")
        b = os.path.join(src, "00001_batch_b.parquet")
        pq.write_table(t.filter(even), a)
        pq.write_table(t.filter(pc.invert(even)), b)
        _pin_batch_order(a, b)
        _mark_stage_complete(root, tag)
    else:
        _prune_stale_stage(root, tag)  # cache hit: age out leftovers
    return root, src


def stream_join_once(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X62 — watermarked stream-stream interval join run to
    completion: a views stream (even event_ids) inner-joined to a
    clicks stream (odd event_ids) on user_id with the click inside
    [view_ts, view_ts + 10 min] — the attribution join every event
    pipeline runs online (Spark buffers BOTH sides in the state store
    and matches across micro-batches; the time bound + watermark is
    what lets it evict state at scale).

    Why this is oracle-able: the events are staged as two files split
    on the SAME parity that defines the two sides, so batch 1 carries
    only views and batch 2 only clicks — every match crosses the
    micro-batch boundary through the join state, the hardest path.
    The watermark delay (40 days) exceeds the corpus' 30-day span, so
    no state is evicted before the final batch and the emitted pair
    set equals the batch join EXACTLY; at production the same plan
    runs with a tight delay and state stays bounded.  Timestamps cross
    the driver as epoch micros (the repo's timestamp-asymmetry rule).
    """
    from ..sources.testdata import normalize_events_ts

    root, src = _stage_events_split(sf_dir, "strjoin")

    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    schema = spark.read.parquet(src).schema

    def side(parity: int, id_alias: str, ts_alias: str,
             user_alias: str) -> DataFrame:
        s = (spark.readStream.format("parquet").schema(schema)
             .option("maxFilesPerTrigger", 1).load(src))
        s = normalize_events_ts(s)
        return (s.where(F.col("event_id") % 2 == parity)
                .select(F.col("user_id").alias(user_alias),
                        F.col("event_id").alias(id_alias),
                        F.col("ts").alias(ts_alias))
                .withWatermark(ts_alias, "40 days"))

    views = side(0, "view_id", "view_ts", "v_user")
    clicks = side(1, "click_id", "click_ts", "c_user")
    joined = views.join(
        clicks,
        F.expr("v_user = c_user AND click_ts >= view_ts "
               "AND click_ts <= view_ts + interval 10 minutes"))
    out = joined.select(
        F.col("v_user").alias("user_id"), "view_id", "click_id",
        F.unix_micros("view_ts").alias("view_us"),
        F.unix_micros("click_ts").alias("click_us"))
    # 4 state stores, not the aggregate runners' 8: the symmetric join
    # buffers BOTH sides per store, so each micro-batch pays the
    # open/commit constant twice per partition (r14 interleaved A/B at
    # sf0.1 — 8/4/2 stores: means 5.8/4.0/4.0 s, identical 387 rows;
    # same deployment-knob semantics as _run_to_memory's docstring)
    return _run_to_memory(out, "append", state_partitions=4)


def enrich_stream_once(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X70 — stream-static enrichment join run to completion: the
    events stream joins the STATIC customer dimension (user_id →
    segment) inside the streaming query — the canonical "enrich the
    feed against a slowly-changing dim" pattern.  The static side is
    re-planned per micro-batch (Spark re-reads it each trigger, which
    is what makes dim updates visible mid-stream); with AQE off in
    streaming, the equi-join broadcasts the dim under the default
    threshold.  Aggregated per (segment, event_type) so the result is
    the exact batch join+rollup — the oracle.  Value millis are
    floor-quantized BIGINT (engine-exact summation)."""
    from ..sources.testdata import load_table

    ev = _stream_events_parquet(spark, sf_dir)
    dim = (load_table(spark, "customer", sf_dir)
           .select(F.col("c_custkey").alias("user_id"),
                   F.col("c_mktsegment").alias("segment")))
    joined = ev.join(dim, "user_id")  # stream ⋈ static
    agg = (joined.groupBy("segment", "event_type")
           .agg(F.count(F.lit(1)).alias("n"),
                F.sum(F.floor(F.col("value") * 1000).cast("bigint"))
                .alias("sum_millis")))
    return _run_to_memory(agg, "complete", state_partitions=8)


def hll_stream_once(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X83 run to completion as a driver-checkable query: distinct
    users per event type maintained as STREAMING HyperLogLog registers
    — each micro-batch writes its (grp, bucket, rho_max) partial
    registers to an epoch partition, and the final estimate folds the
    register union.  Because HLL insertion is idempotent and merge is
    register-wise max, the stream lands on the IDENTICAL registers as
    the batch build whatever the batch boundaries — the oracle is the
    direct batch SQL (sk_hll_rollup's proof, now across micro-batches
    and restarts), minus the exact count the register-only state
    deliberately cannot produce.

    Retry safety is the exact_dedup_stream discipline: epoch-keyed
    overwrite partitions, committed epochs skipped outright — and max
    is insensitive to replayed registers anyway (the sketch property
    that makes it the STATE format of choice for streaming distinct
    counts: tiny, mergeable, at-least-once-proof).
    """
    import os
    import shutil

    from ..operators import sketches as SK

    root, src = _stage_events_split(sf_dir, "hllstream")
    regs_dir = os.path.join(root, "regs")
    chk_dir = os.path.join(root, "chk")
    for d in (regs_dir, chk_dir):
        shutil.rmtree(d, ignore_errors=True)

    schema = spark.read.parquet(src).schema

    def on_batch(batch: DataFrame, epoch_id: int) -> None:
        epoch = int(epoch_id)
        part = os.path.join(regs_dir, f"epoch={epoch}")
        if os.path.isfile(os.path.join(part, "_SUCCESS")):
            return  # committed epoch replayed: no-op
        (SK.hll_bucket_rho(batch, "event_type", "user_id")
         .groupBy("grp", "bucket").agg(F.max("rho").alias("rho_max"))
         .coalesce(2).write.mode("overwrite").parquet(part))

    ev = (spark.readStream.format("parquet").schema(schema)
          .option("maxFilesPerTrigger", 1).load(src))
    q = (ev.writeStream.foreachBatch(on_batch)
         .option("checkpointLocation", chk_dir)
         .trigger(availableNow=True).start())
    q.awaitTermination()

    merged = (spark.read.parquet(regs_dir)
              .groupBy("grp", "bucket")
              .agg(F.max("rho_max").alias("rho_max")))
    return SK.hll_finalize(merged)


def _stage_time_split(sf_dir: str, prefix: str) -> tuple[str, str]:
    """Write-once staging of the EVENTS table as two parquet files split
    at the TIME midpoint (batch_a strictly before, batch_b at/after) —
    the CDC-shaped feed for dimension maintenance: micro-batches arrive
    in event-time order, so every version open at the cut must be
    extended or closed by the later batch (the cross-batch MERGE path).

    ``ts`` is pre-normalized to epoch-micros BIGINT (``ts_us``) at
    staging so the streaming schema is immune to the driver's
    NANOS/MICROS drift.  Cache keyed on source mtime+size; sequence-
    prefixed names + pinned mtimes per the split-order discipline."""
    import os

    src_parquet = os.path.join(sf_dir, "events.parquet")
    st = os.stat(src_parquet)
    tag = (f"v2_{os.path.basename(os.path.normpath(sf_dir))}"
           f"_{int(st.st_mtime)}_{st.st_size}")
    root = os.path.join(staging.stage_root(), f"{prefix}_{tag}")
    src = os.path.join(root, "src")
    if not _stage_is_complete(root):
        import shutil as _sh
        _sh.rmtree(src, ignore_errors=True)
        import pyarrow as pa
        import pyarrow.compute as pc
        import pyarrow.parquet as pq

        t = pq.read_table(src_parquet, columns=[
            "event_id", "user_id", "event_type", "ts"])
        # safe=False: a NANOS-grid source (the r3 drift) must TRUNCATE
        # to micros like normalize_events_ts/DuckDB do — the default
        # safe cast would raise ArrowInvalid instead
        ts_us = pc.cast(pc.cast(t["ts"], pa.timestamp("us"), safe=False),
                        pa.int64())
        t = t.drop_columns(["ts"]).append_column("ts_us", ts_us)
        lo = pc.min(t["ts_us"]).as_py()
        hi = pc.max(t["ts_us"]).as_py()
        mid = (lo + hi) // 2
        os.makedirs(src, exist_ok=True)
        early = pc.less(t["ts_us"], mid)
        a = os.path.join(src, "00000_batch_a.parquet")
        b = os.path.join(src, "00001_batch_b.parquet")
        pq.write_table(t.filter(early), a)
        pq.write_table(t.filter(pc.invert(early)), b)
        _pin_batch_order(a, b)
        _mark_stage_complete(root, tag)
    else:
        _prune_stale_stage(root, tag)  # cache hit: age out leftovers
    return root, src


_SCD2_DDL = ("user_id long, version long, event_type string, "
             "eff_from_us long, eff_to_us long, n_events long, "
             "is_current int")


def scd2_upsert_batch(snapshot_dir: str):
    """foreachBatch MERGE for incremental SCD2 maintenance (the
    streaming twin of ``plans/temporal.py:x71_scd2_build``): each
    micro-batch of events upserts the versioned dimension at
    ``snapshot_dir`` —

    - closed versions (``is_current = 0``) pass through untouched;
    - each user's OPEN version re-enters the collapse as a pseudo-run,
      so it EXTENDS (same value: n_events accumulates, eff_from keeps)
      or CLOSES (value changed: eff_to set to the new run's start) —
      the two MERGE arms of warehouse dimension maintenance;
    - the batch's own rows collapse into runs with the identical
      (ts_us, event_id)-ordered lag logic as the batch build.

    Correct for ANY time-ordered feed (each batch's rows at/after the
    previous batches'), which the staged time split guarantees; under
    that contract the final snapshot equals the batch build EXACTLY —
    the driver oracle for ``st_scd2_upsert`` IS x71's direct-build SQL.

    Retry-safe the snapshot-swap way (``apply_changelog_stream``):
    output staged to an epoch-suffixed dir then renamed, with the
    applied-epoch watermark INSIDE the snapshot (``_epoch`` file, an
    underscore name Spark's reader ignores) — a committed-epoch retry
    is a no-op, a torn swap rebuilds from the still-intact previous
    snapshot.  At scale this is one user_id-hash shuffle per batch over
    (open versions ∪ batch rows); closed-version history never
    reshuffles (on a lakehouse the pass-through union becomes a MERGE
    that leaves untouched files alone).
    """
    from pyspark.sql.window import Window

    def on_batch(batch: DataFrame, epoch_id: int) -> None:
        epoch = int(epoch_id)
        spark = batch.sparkSession
        tmp = snapshot_dir.rstrip("/") + f".epoch-{epoch}"
        old = snapshot_dir.rstrip("/") + ".old"
        if _snapshot_swap_preamble(snapshot_dir, tmp, old, epoch):
            return
        try:
            # explicit schema (the snapshot is written by THIS body, so
            # _SCD2_DDL is its schema by construction): skips the
            # per-batch schema-inference job of a bare read.parquet
            prev = spark.read.schema(_SCD2_DDL).parquet(snapshot_dir)
        except Exception:
            prev = spark.createDataFrame([], _SCD2_DDL)
        closed = prev.where(F.col("is_current") == 0)
        open_v = prev.where(F.col("is_current") == 1)

        w_ord = Window.partitionBy("user_id").orderBy("ts_us", "event_id")
        prev_type = F.lag("event_type").over(w_ord)
        chg = F.when(prev_type.isNull()
                     | (prev_type != F.col("event_type")),
                     F.lit(1)).otherwise(F.lit(0))
        runs_new = (batch
                    .withColumn("run", F.sum(chg).over(
                        w_ord.rowsBetween(Window.unboundedPreceding,
                                          Window.currentRow)))
                    .groupBy("user_id", "run", "event_type")
                    .agg(F.min("ts_us").alias("eff_from_us"),
                         F.count(F.lit(1)).alias("n_events"))
                    .select("user_id", "event_type", "eff_from_us",
                            "n_events", F.lit(1).alias("src"), "run"))
        open_runs = open_v.select(
            "user_id", "event_type", "eff_from_us", "n_events",
            F.lit(0).alias("src"), F.lit(0).cast("long").alias("run"))
        base = open_v.select(
            "user_id", (F.col("version") - 1).alias("base"))

        u = open_runs.unionByName(runs_new)
        # ordered by (src, run) — the true sequence — NOT by eff_from:
        # two adjacent runs can share eff_from_us (equal-timestamp rows
        # with alternating values split on event_id), and a tie in the
        # collapse window would make lag() shuffle-order-dependent
        w_seg = Window.partitionBy("user_id").orderBy("src", "run")
        prev_val = F.lag("event_type").over(w_seg)
        seg_chg = F.when(prev_val.isNull()
                         | (prev_val != F.col("event_type")),
                         F.lit(1)).otherwise(F.lit(0))
        merged = (u.withColumn("seg", F.sum(seg_chg).over(
                      w_seg.rowsBetween(Window.unboundedPreceding,
                                        Window.currentRow)))
                  .groupBy("user_id", "seg", "event_type")
                  .agg(F.min("eff_from_us").alias("eff_from_us"),
                       F.sum("n_events").alias("n_events")))
        w_v = Window.partitionBy("user_id").orderBy("seg")
        nxt = F.lead("eff_from_us").over(w_v)
        versions = (merged.join(base, "user_id", "left")
                    .select(
                        "user_id",
                        (F.coalesce("base", F.lit(0).cast("long"))
                         + F.col("seg")).alias("version"),
                        "event_type", "eff_from_us",
                        nxt.alias("eff_to_us"), "n_events",
                        F.when(nxt.isNull(), F.lit(1)).otherwise(F.lit(0))
                        .alias("is_current")))
        out = closed.unionByName(versions)

        out.write.mode("overwrite").parquet(tmp)
        _commit_snapshot_swap(snapshot_dir, tmp, old, epoch)

    return on_batch


def scd2_upsert_once(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X90 run to completion as a driver-checkable query: the events
    table streams in TWO time-ordered micro-batches through
    ``scd2_upsert_batch``, and the final maintained dimension is read
    back — provably equal to ``x71_scd2_build``'s one-shot batch build
    (that query's DuckDB SQL is the oracle), because every version
    open at the time cut exercises the extend-or-close MERGE arm.
    Working dirs are wiped per call so reruns are reproducible."""
    import glob
    import os
    import shutil

    root, src = _stage_time_split(sf_dir, "scd2")
    snap_dir = os.path.join(root, "snapshot")
    chk_dir = os.path.join(root, "chk")
    # also sweep swap residue (.old, epoch-staged dirs) from a killed
    # prior run: the preamble would otherwise ADOPT a stale dir built
    # by old code and skip the epoch — the per-call wipe must cover
    # every dir the swap protocol can leave behind, not just the live
    # snapshot and checkpoint
    stale = [snap_dir, chk_dir, snap_dir + ".old"]
    stale += glob.glob(snap_dir + ".epoch-*")
    for d in stale:
        shutil.rmtree(d, ignore_errors=True)

    events = (spark.readStream.format("parquet")
              .schema("event_id long, user_id long, event_type string, "
                      "ts_us long")
              .option("maxFilesPerTrigger", 1).load(src))
    q = (events.writeStream.foreachBatch(scd2_upsert_batch(snap_dir))
         .option("checkpointLocation", chk_dir)
         .trigger(availableNow=True).start())
    q.awaitTermination()
    return (spark.read.parquet(snap_dir)
            .select("user_id", "version", "event_type", "eff_from_us",
                    "eff_to_us", "n_events", "is_current"))
