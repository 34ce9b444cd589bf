"""Structured Streaming pipeline tests (file sources, availableNow)."""

from __future__ import annotations

import json

from openplacereviews_db_spark.streaming import pipelines as SP


def _write_events(path, rows):
    with open(path, "w") as f:
        for r in rows:
            f.write(json.dumps(r) + "\n")


EVENTS = [
    {"event_id": 1, "ts": "2024-01-01T00:01:00Z", "user_id": 1,
     "event_type": "view", "value": 1.0, "props": "{}"},
    {"event_id": 2, "ts": "2024-01-01T00:05:00Z", "user_id": 1,
     "event_type": "view", "value": 2.0, "props": "{}"},
    {"event_id": 3, "ts": "2024-01-01T00:14:00Z", "user_id": 2,
     "event_type": "buy", "value": 5.0, "props": "{}"},
    {"event_id": 4, "ts": "2024-01-01T01:00:00Z", "user_id": 1,
     "event_type": "view", "value": 3.0, "props": "{}"},
]


def test_windowed_counts(spark, tmp_path):
    src = tmp_path / "src"
    src.mkdir()
    _write_events(src / "a.json", EVENTS)
    stream = SP.stream_events(spark, str(src))
    agg = SP.windowed_event_counts(stream)
    q = (agg.writeStream.format("memory").queryName("wincounts")
         .outputMode("complete")
         .option("checkpointLocation", str(tmp_path / "ck"))
         .trigger(availableNow=True).start())
    q.awaitTermination(120)
    rows = {(str(r["window_start"]), r["event_type"]): r["cnt"]
            for r in spark.sql("SELECT * FROM wincounts").collect()}
    assert rows[("2024-01-01 00:00:00", "view")] == 2
    assert rows[("2024-01-01 00:10:00", "buy")] == 1
    assert rows[("2024-01-01 01:00:00", "view")] == 1


def test_sessionize(spark, tmp_path):
    src = tmp_path / "src"
    src.mkdir()
    _write_events(src / "a.json", EVENTS)
    stream = SP.stream_events(spark, str(src))
    q = (SP.sessionize_stream(stream).writeStream.format("memory")
         .queryName("sessions").outputMode("complete")
         .option("checkpointLocation", str(tmp_path / "ck2"))
         .trigger(availableNow=True).start())
    q.awaitTermination(120)
    rows = sorted([(r["user_id"], r["n_events"])
                   for r in spark.sql("SELECT * FROM sessions").collect()])
    # user 1: events at 00:01/00:05 in one session, 01:00 a new one
    assert rows == [(1, 1), (1, 2), (2, 1)]


def test_apply_changelog_stream(spark, tmp_path):
    ops_dir = tmp_path / "ops"
    ops_dir.mkdir()
    snap = str(tmp_path / "snapshot")
    ck = str(tmp_path / "ck3")
    ops1 = [
        {"obj_id": "p1", "block_id": 1, "op_seq": 0, "action": "create",
         "doc": json.dumps({"v": 1}), "change": None},
        {"obj_id": "p2", "block_id": 1, "op_seq": 1, "action": "create",
         "doc": json.dumps({"v": 5}), "change": None},
    ]
    _write_events(ops_dir / "b1.json", ops1)

    def run():
        ops_stream = (spark.readStream.format("json")
                      .schema("obj_id string, block_id long, op_seq long, "
                              "action string, doc string, change string")
                      .load(str(ops_dir)))
        touched = []
        writer = SP.apply_changelog_stream(
            ops_stream, snap, ck,
            on_batch=lambda df, _e: touched.append(
                sorted(r["obj_id"] for r in df.collect())))
        q = writer.start()
        q.awaitTermination(120)
        return touched

    t1 = run()
    assert t1 == [["p1", "p2"]]
    got = {r["obj_id"]: json.loads(r["doc"])
           for r in spark.read.parquet(snap).collect()}
    assert got == {"p1": {"v": 1}, "p2": {"v": 5}}

    # second increment: edit + delete fold onto the snapshot
    ops2 = [
        {"obj_id": "p1", "block_id": 2, "op_seq": 0, "action": "edit",
         "doc": None, "change": json.dumps({"v": {"set": 2}})},
        {"obj_id": "p2", "block_id": 2, "op_seq": 1, "action": "delete",
         "doc": None, "change": None},
    ]
    _write_events(ops_dir / "b2.json", ops2)
    run()
    got = {r["obj_id"]: json.loads(r["doc"])
           for r in spark.read.parquet(snap).collect()}
    assert got == {"p1": {"v": 2}}


def test_stateful_user_totals(spark, tmp_path):
    src = tmp_path / "src"
    src.mkdir()
    ck = str(tmp_path / "ck4")
    _write_events(src / "a.json", EVENTS[:3])

    def run():
        stream = SP.stream_events(spark, str(src))
        rows = []
        q = (SP.stateful_user_totals(stream).writeStream
             .foreachBatch(lambda df, _e: rows.extend(df.collect()))
             .outputMode("update")
             .option("checkpointLocation", ck)
             .trigger(availableNow=True).start())
        q.awaitTermination(120)
        latest = {}
        for r in rows:  # update mode; last row per user wins
            latest[r["user_id"]] = (r["n_events"], r["total"])
        return latest

    first = run()
    assert first[1] == (2, 3.0) and first[2] == (1, 5.0)
    # state survives into the next incremental run via the checkpoint
    _write_events(src / "b.json", EVENTS[3:])
    second = run()
    assert second[1] == (3, 6.0)


def test_neardup_stream_four_batches(spark, sf_dir, tmp_path):
    """Steady-state profile of the near-dup stream (r5 verdict task 3):
    FOUR micro-batches over the real documents corpus.  Asserts (a) the
    accumulated pair set equals the batch LSH oracle — the cross-batch
    index-join path is exercised three times, against an index that
    grows each batch — (b) the per-batch index file growth is bounded
    by the coalesce(4) cap, i.e. the file count is linear in batches
    with a constant per-batch increment, never task-count-shaped, and
    (c) per-batch wall time does not blow up as the index grows (a
    generous 8x ratio gate — co-tenant noise swings single timings 2-3x,
    so this only catches superlinear behavior, not regressions)."""
    import pyarrow.compute as pc
    import pyarrow.parquet as pq
    from pyspark.sql import functions as F

    from openplacereviews_db_spark.operators.dedup import minhash_lsh_pairs

    src = tmp_path / "docs4"
    src.mkdir()
    t = pq.read_table(f"{sf_dir}/documents.parquet")
    for i in range(4):
        part = t.filter(pc.equal(pc.bit_wise_and(t["doc_id"], 3), i))
        pq.write_table(part, src / f"batch_{i}.parquet")

    schema = spark.read.parquet(str(src)).schema
    docs = (spark.readStream.format("parquet").schema(schema)
            .option("maxFilesPerTrigger", 1).load(str(src))
            .where(F.length("text") > 0))
    q = SP.neardup_dedup_stream(
        docs, index_dir=str(tmp_path / "idx4"),
        checkpoint_dir=str(tmp_path / "ck4"),
        pairs_dir=str(tmp_path / "pairs4"),
        shingle_words=2, num_hashes=16, bands=8, min_jaccard=0.1).start()
    q.awaitTermination(600)
    progress = [p for p in (json.loads(j.json) for j in q.recentProgress)
                if p.get("numInputRows", 0) > 0]
    assert len(progress) == 4, "expected one micro-batch per file"
    durs = [p["durationMs"]["triggerExecution"] / 1000.0 for p in progress]

    got = {(min(r["id_a"], r["id_b"]), max(r["id_a"], r["id_b"]))
           for r in spark.read.parquet(str(tmp_path / "pairs4")).collect()}
    batch_docs = (spark.read.parquet(f"{sf_dir}/documents.parquet")
                  .where(F.length("text") > 0))
    want = {(min(r["id_a"], r["id_b"]), max(r["id_a"], r["id_b"]))
            for r in minhash_lsh_pairs(
                batch_docs, shingle_words=2, num_hashes=16, bands=8,
                min_jaccard=0.1).collect()}
    assert got == want

    import glob
    import os as _os
    epoch_dirs = sorted(glob.glob(str(tmp_path / "idx4" / "state" /
                                      "epoch=*")))
    assert len(epoch_dirs) == 4, epoch_dirs
    for d in epoch_dirs:
        n_files = len(glob.glob(_os.path.join(d, "*.parquet")))
        assert n_files <= 4, (d, n_files)
    # superlinear-blowup gate only (see docstring); print for the record
    print("neardup 4-batch durations (s):",
          [round(d, 2) for d in durs])
    assert max(durs[1:]) <= 8 * max(durs[0], 0.5)


def test_neardup_dedup_stream(spark, tmp_path):
    """Two micro-batches; the batch-2 near-copy of a batch-1 doc must be
    caught against the persistent index, and the in-batch pair too."""
    src = tmp_path / "docs"
    src.mkdir()
    base = "the quick brown fox jumps over the lazy dog again and again"
    batch1 = [
        {"doc_id": 1, "text": base},
        {"doc_id": 2, "text": "completely different words about spark"},
    ]
    batch2 = [
        {"doc_id": 3, "text": base + " tonight"},     # near-dup of 1
        {"doc_id": 4, "text": base + " tonight ok"},  # near-dup of 1 and 3
        {"doc_id": 5, "text": "yet another unrelated document entirely"},
    ]
    with open(src / "a.json", "w") as f:
        for r in batch1:
            f.write(json.dumps(r) + "\n")

    def run():
        stream = (spark.readStream.format("json")
                  .schema("doc_id long, text string")
                  .option("maxFilesPerTrigger", 1).load(str(src)))
        q = SP.neardup_dedup_stream(
            stream, index_dir=str(tmp_path / "idx"),
            checkpoint_dir=str(tmp_path / "ck"),
            pairs_dir=str(tmp_path / "pairs")).start()
        q.awaitTermination(120)

    run()                                  # batch 1: builds the index
    with open(src / "b.json", "w") as f:
        for r in batch2:
            f.write(json.dumps(r) + "\n")
    run()                                  # batch 2: resumes from offset

    pairs = {(min(r["id_a"], r["id_b"]), max(r["id_a"], r["id_b"]))
             for r in spark.read.parquet(str(tmp_path / "pairs")).collect()}
    assert (1, 3) in pairs and (1, 4) in pairs      # cross-batch vs index
    assert (3, 4) in pairs                          # in-batch
    assert not any(2 in p or 5 in p for p in pairs)
    # index grew per-epoch, in its single-table layout (r14): compact
    # band-key ARRAYS + hashed shingle-id sets on one row per doc, the
    # band join exploding ids-only and the sids joined at verify time
    state = spark.read.parquet(str(tmp_path / "idx" / "state"))
    assert state.select("id").distinct().count() == 5
    assert state.count() == 5 and "sids" in state.columns
    assert dict(state.dtypes)["sids"] == "array<bigint>"  # 8 B/shingle
    assert dict(state.dtypes)["bands"] == "array<string>"
    assert sorted(r["epoch"] for r in
                  state.select("epoch").distinct().collect()) == [0, 1]


def test_exact_dedup_stream_cross_batch_first_seen(spark, tmp_path):
    """X54 crafted duplicates across three micro-batches: an fp first
    seen in batch 0 must keep batch 0's min id even when a LATER batch
    carries a smaller doc_id for the same text (first-SEEN-wins, not
    global min), and n_docs must accumulate across every batch."""
    import pandas as pd
    from pyspark.sql import functions as F

    batches = [
        # (doc_id, text)
        [(10, "aaa bbb ccc"), (11, "unique zero")],
        [(2, "aaa  BBB ccc"),  # same fp (normalization) — smaller id
         (20, "xyz qqq")],
        [(1, "aaa bbb ccc"), (21, "xyz  QQQ"), (22, "unique two")],
    ]
    src = tmp_path / "src"
    src.mkdir()
    for i, rows in enumerate(batches):
        pd.DataFrame(rows, columns=["doc_id", "text"]).to_parquet(
            src / f"batch_{i}.parquet")

    docs = (spark.readStream.format("parquet")
            .schema("doc_id long, text string")
            .option("maxFilesPerTrigger", 1).load(str(src))
            .where(F.length("text") > 0))
    q = SP.exact_dedup_stream(
        docs, index_dir=str(tmp_path / "idx"),
        checkpoint_dir=str(tmp_path / "ck"),
        counts_dir=str(tmp_path / "cnt")).start()
    q.awaitTermination(300)

    kept = {r["fp"]: r["keep_id"]
            for r in spark.read.parquet(str(tmp_path / "idx")).collect()}
    counts = (spark.read.parquet(str(tmp_path / "cnt"))
              .groupBy("fp").agg(F.sum("c").alias("n")).collect())
    n_by_fp = {r["fp"]: r["n"] for r in counts}

    from openplacereviews_db_spark.functions.dialect import SPARK
    from openplacereviews_db_spark.functions.hashing import fingerprint
    fp_of = {t: r["fp"] for t, r in zip(
        ["aaa bbb ccc", "unique zero", "xyz qqq", "unique two"],
        spark.createDataFrame(
            [("aaa bbb ccc",), ("unique zero",), ("xyz qqq",),
             ("unique two",)], "text string")
        .select(F.expr(fingerprint(SPARK, "text")).alias("fp")).collect())}

    # first-seen wins: doc 10 (batch 0) beats docs 2 and 1
    assert kept[fp_of["aaa bbb ccc"]] == 10
    # in-batch first-wins: doc 20 beats doc 21 (same fp after norm)
    assert kept[fp_of["xyz qqq"]] == 20
    assert kept[fp_of["unique zero"]] == 11
    assert kept[fp_of["unique two"]] == 22
    assert len(kept) == 4
    # counts accumulate across batches: 3 copies of the aaa text
    assert n_by_fp[fp_of["aaa bbb ccc"]] == 3
    assert n_by_fp[fp_of["xyz qqq"]] == 2


def test_exact_dedup_batch_retry_is_idempotent(spark, tmp_path):
    """foreachBatch is at-least-once: replaying an already-committed
    epoch (same epoch_id, same batch content) must change NOTHING —
    neither the kept index nor the accumulated counts — and a replay
    with the commit marker removed (torn write) must rebuild the same
    state, not double-append."""
    from pyspark.sql import functions as F

    idx, cnt = str(tmp_path / "idx"), str(tmp_path / "cnt")
    on_batch = SP._exact_dedup_batch(idx, cnt)

    b0 = spark.createDataFrame(
        [(10, "aaa bbb"), (11, "unique zero")], "doc_id long, text string")
    b1 = spark.createDataFrame(
        [(2, "aaa  BBB"), (20, "xyz qqq")], "doc_id long, text string")
    on_batch(b0, 0)
    on_batch(b1, 1)

    def state():
        kept = sorted((r["fp"], r["keep_id"]) for r in
                      spark.read.parquet(idx).select("fp", "keep_id")
                      .collect())
        counts = sorted((r["fp"], r["n"]) for r in
                        spark.read.parquet(cnt).groupBy("fp")
                        .agg(F.sum("c").alias("n")).collect())
        return kept, counts

    committed = state()
    on_batch(b1, 1)  # committed retry: exact no-op
    assert state() == committed

    # torn retry: nuke epoch 1's commit markers, replay — the epoch
    # partition is overwritten (not appended) and seen prunes to
    # epoch < 1, so the rebuilt state is identical
    import os
    for d in (idx, cnt):
        os.remove(os.path.join(d, "epoch=1", "_SUCCESS"))
    on_batch(b1, 1)
    assert state() == committed

    # partial commit: only ONE sink's marker survived the tear — the
    # commit test is the AND of both markers, so the replay must
    # rewrite BOTH epoch partitions (overwrite, not append) and land
    # on the identical state again
    os.remove(os.path.join(idx, "epoch=1", "_SUCCESS"))
    assert os.path.isfile(os.path.join(cnt, "epoch=1", "_SUCCESS"))
    on_batch(b1, 1)
    assert state() == committed
    assert os.path.isfile(os.path.join(idx, "epoch=1", "_SUCCESS"))


def test_stream_join_crosses_batches(spark, tmp_path):
    """X62 crafted feed: views arrive in batch 1, clicks in batch 2 —
    the match MUST come out of the buffered join state; clicks outside
    [view_ts, view_ts+10min] or on other users must not pair."""
    import pandas as pd
    from pyspark.sql import functions as F

    src = tmp_path / "src"
    src.mkdir()
    base = pd.Timestamp("2024-01-01 12:00:00")
    views = [(100, base, 1), (102, base, 2)]
    clicks = [
        (101, base + pd.Timedelta(minutes=5), 1),    # in-window, user 1
        (103, base + pd.Timedelta(minutes=11), 1),   # too late
        (105, base - pd.Timedelta(seconds=1), 1),    # before the view
        (107, base + pd.Timedelta(minutes=2), 3),    # other user
    ]
    for name, rows in (("batch_a", views), ("batch_b", clicks)):
        pdf = pd.DataFrame(rows, columns=["event_id", "ts", "user_id"])
        pdf["ts"] = pdf["ts"].astype("datetime64[us]")  # Spark can't
        pdf.to_parquet(src / f"{name}.parquet")  # read NANOS timestamps

    schema = spark.read.parquet(str(src)).schema

    def side(parity, id_alias, ts_alias, user_alias):
        s = (spark.readStream.format("parquet").schema(schema)
             .option("maxFilesPerTrigger", 1).load(str(src)))
        return (s.where(F.col("event_id") % 2 == parity)
                .select(F.col("user_id").alias(user_alias),
                        F.col("event_id").alias(id_alias),
                        # pandas parquet is NTZ; watermarks need LTZ
                        F.col("ts").cast("timestamp").alias(ts_alias))
                .withWatermark(ts_alias, "40 days"))

    joined = side(0, "view_id", "view_ts", "v_user").join(
        side(1, "click_id", "click_ts", "c_user"),
        F.expr("v_user = c_user AND click_ts >= view_ts "
               "AND click_ts <= view_ts + interval 10 minutes"))
    out = SP._run_to_memory(
        joined.select("v_user", "view_id", "click_id"), "append")
    rows = sorted(tuple(r) for r in out.collect())
    assert rows == [(1, 100, 101)], rows


def test_prune_stale_stage_strips_fingerprint(tmp_path):
    """_prune_stale_stage derives the sibling prefix by stripping the
    tag's trailing mtime_size fingerprint — underscores inside the sf
    basename (opr_sf10) or the version tag (v1n4) must not confuse it,
    other families and the kept stage must survive, and the min-age
    live-reader guard must hold for recent siblings."""
    import os
    import time

    from openplacereviews_db_spark.streaming.pipelines import (
        _prune_stale_stage)

    root = tmp_path
    tag = "v1n4_opr_sf10_200_2"
    keep = root / f"sessbnd_{tag}"
    stale = root / "sessbnd_v1n4_opr_sf10_100_1"
    other_n = root / "sessbnd_v1n2_opr_sf10_100_1"   # different split n
    other_fam = root / "neardup_v1n4_opr_sf10_100_1"
    for d in (keep, stale, other_n, other_fam):
        d.mkdir()
    old = time.time() - 7200
    for d in (stale, other_n, other_fam):
        os.utime(d, (old, old))
    _prune_stale_stage(str(keep), tag)
    left = sorted(os.listdir(root))
    assert left == ["neardup_v1n4_opr_sf10_100_1",
                    "sessbnd_v1n2_opr_sf10_100_1",
                    f"sessbnd_{tag}"]
    # a RECENT superseded sibling survives the live-reader guard
    recent = root / "sessbnd_v1n4_opr_sf10_150_9"
    recent.mkdir()
    _prune_stale_stage(str(keep), tag)
    assert recent.is_dir()


def test_parity_split_order_survives_equal_mtimes(spark, tmp_path, monkeypatch):
    """The staged split's ingest order must be structural: file names
    carry a sortable sequence prefix AND _pin_batch_order spaces the
    mtimes 1 s apart in that same order — so even a coarse-mtime
    filesystem (where both writes land on the same second) cannot
    reorder micro-batches.  Stage fresh, force-collide the mtimes, and
    assert the pinning helper restores strict name-order = time-order;
    then assert a real FileStreamSource run ingests batch_a first."""
    import os
    import shutil

    import pandas as pd

    from openplacereviews_db_spark.streaming import pipelines as SP

    # fresh sf_dir copy so staging can't reuse a shared /tmp dir
    sf = tmp_path / "sf"
    sf.mkdir()
    pd.DataFrame({
        "doc_id": range(8),
        "text": [f"doc {i} text" for i in range(8)],
    }).to_parquet(sf / "documents.parquet")
    monkeypatch.setattr(
        "tempfile.gettempdir", lambda: str(tmp_path / "stage"))

    root, src = SP._stage_parity_split(str(sf), "ordercheck")
    names = sorted(os.listdir(src))
    assert names == ["00000_batch_a.parquet", "00001_batch_b.parquet"]
    mtimes = [os.stat(os.path.join(src, n)).st_mtime for n in names]
    assert mtimes[1] >= mtimes[0] + 1.0

    # coarse-clock collision: equal mtimes — re-pinning must re-space
    # them in name order (the staging writer always pins after writing)
    paths = [os.path.join(src, n) for n in names]
    t0 = os.stat(paths[0]).st_mtime
    for p in paths:
        os.utime(p, (t0, t0))
    SP._pin_batch_order(*paths)
    mtimes = [os.stat(p).st_mtime for p in paths]
    assert mtimes[1] >= mtimes[0] + 1.0

    # end to end: one file per micro-batch, batch 0 must be the evens
    seen: list[tuple[int, set]] = []
    schema = spark.read.parquet(src).schema
    stream = (spark.readStream.format("parquet").schema(schema)
              .option("maxFilesPerTrigger", 1).load(src))

    def on_batch(df, epoch):
        seen.append((epoch, {r["doc_id"] for r in df.collect()}))

    chk = str(tmp_path / "chk")
    q = (stream.writeStream.foreachBatch(on_batch)
         .option("checkpointLocation", chk)
         .trigger(availableNow=True).start())
    q.awaitTermination()
    shutil.rmtree(root, ignore_errors=True)
    batches = {e: ids for e, ids in seen if ids}
    assert batches[min(batches)] == {0, 2, 4, 6}
    assert batches[max(batches)] == {1, 3, 5, 7}


def _scd2_state(spark, snap):
    return sorted(
        (r["user_id"], r["version"], r["event_type"], r["eff_from_us"],
         r["eff_to_us"], r["n_events"], r["is_current"])
        for r in spark.read.parquet(snap).collect())


def test_scd2_upsert_merge_arms_and_recovery(spark, tmp_path):
    """Crafted two-batch feed pinning both MERGE arms — user 1's open
    version EXTENDS (same value resumes: n_events accumulates, eff_from
    keeps) then CLOSES (value change: eff_to = the new run's start);
    user 2 is untouched by batch 1 (open version passes through);
    user 3 is born in batch 1 — plus every retry/recovery branch of the
    snapshot swap: committed no-op, finish-the-swap, restore-from-old."""
    import os
    import shutil

    from openplacereviews_db_spark.streaming.pipelines import (
        scd2_upsert_batch)

    snap = str(tmp_path / "snap")
    on_batch = scd2_upsert_batch(snap)
    ddl = "event_id long, user_id long, event_type string, ts_us long"
    b0 = spark.createDataFrame(
        [(1, 1, "A", 100), (2, 1, "A", 200), (3, 1, "B", 300),
         (4, 2, "X", 100)], ddl)
    b1 = spark.createDataFrame(
        [(5, 1, "B", 400), (6, 1, "C", 500), (7, 3, "Z", 450)], ddl)
    on_batch(b0, 0)
    after0 = _scd2_state(spark, snap)
    assert after0 == [
        (1, 1, "A", 100, 300, 2, 0), (1, 2, "B", 300, None, 1, 1),
        (2, 1, "X", 100, None, 1, 1)]
    on_batch(b1, 1)
    committed = _scd2_state(spark, snap)
    assert committed == [
        (1, 1, "A", 100, 300, 2, 0),
        (1, 2, "B", 300, 500, 2, 0),   # extended (1+1 events), closed
        (1, 3, "C", 500, None, 1, 1),
        (2, 1, "X", 100, None, 1, 1),  # untouched pass-through
        (3, 1, "Z", 450, None, 1, 1)]

    # committed retry: exact no-op
    on_batch(b1, 1)
    assert _scd2_state(spark, snap) == committed

    # torn swap, window A: crash between the two renames — snapshot is
    # gone, tmp for the epoch is fully staged.  Replay finishes the swap.
    tmp_dir, old_dir = snap + ".epoch-1", snap + ".old"
    os.rename(snap, old_dir)        # simulate: snapshot renamed away
    shutil.copytree(old_dir, tmp_dir)  # ...and tmp fully staged
    on_batch(b1, 1)
    assert _scd2_state(spark, snap) == committed
    assert not os.path.exists(old_dir) and not os.path.exists(tmp_dir)

    # torn swap, window B: tmp never completed (no _epoch), snapshot
    # preserved in .old — restore and re-apply, same final state.
    os.rename(snap, old_dir)
    os.makedirs(tmp_dir)            # an incomplete staging dir
    # .old holds the PRE-batch state for a replay of epoch 1
    shutil.rmtree(old_dir)
    on_batch(b0, 0)                 # rebuild pre-batch state fresh
    assert _scd2_state(spark, snap) != committed
    shutil.rmtree(tmp_dir)
    os.rename(snap, old_dir)
    on_batch(b1, 1)
    assert _scd2_state(spark, snap) == committed


def test_scd2_upsert_equal_ts_alternating_values(spark, tmp_path):
    """Equal-timestamp rows with alternating values split on event_id
    into adjacent runs SHARING eff_from_us — the collapse must order by
    the run sequence, not eff_from (a tie there would make lag()
    shuffle-order-dependent).  Must match x71 batch semantics: three
    zero-width-boundary versions, then the open one extends."""
    from openplacereviews_db_spark.streaming.pipelines import (
        scd2_upsert_batch)

    snap = str(tmp_path / "snap")
    on_batch = scd2_upsert_batch(snap)
    ddl = "event_id long, user_id long, event_type string, ts_us long"
    on_batch(spark.createDataFrame(
        [(1, 1, "A", 100), (2, 1, "B", 100), (3, 1, "A", 100)], ddl), 0)
    on_batch(spark.createDataFrame([(4, 1, "A", 200)], ddl), 1)
    assert _scd2_state(spark, snap) == [
        (1, 1, "A", 100, 100, 1, 0),
        (1, 2, "B", 100, 100, 1, 0),
        (1, 3, "A", 100, None, 2, 1)]


def _scd2_python_reference(events):
    """Straight single-threaded SCD2 build over (event_id, user_id,
    event_type, ts_us) rows — an independent formulation (global sort +
    linear scan), no Spark, no SQL."""
    out = []
    by_user = {}
    for eid, uid, etype, ts in sorted(events, key=lambda r: (r[1], r[3], r[0])):
        by_user.setdefault(uid, []).append((ts, eid, etype))
    for uid, rows in by_user.items():
        versions = []
        for ts, eid, etype in rows:
            if versions and versions[-1][1] == etype:
                versions[-1][2] += 1
            else:
                versions.append([ts, etype, 1])
        for i, (eff_from, etype, n) in enumerate(versions):
            eff_to = versions[i + 1][0] if i + 1 < len(versions) else None
            out.append((uid, i + 1, etype, eff_from, eff_to, n,
                        1 if eff_to is None else 0))
    return sorted(out)


def test_scd2_upsert_randomized_equivalence(spark, tmp_path):
    """Seeded random event streams, split into 1-4 time-ordered
    micro-batches at random cut points, folded through the incremental
    MERGE — the final dimension must equal an independent Python
    reference build every time (dup timestamps, singleton users, long
    same-value runs and batch-boundary splits all arise by volume)."""
    import random

    from openplacereviews_db_spark.streaming.pipelines import (
        scd2_upsert_batch)

    ddl = "event_id long, user_id long, event_type string, ts_us long"
    for seed in range(5):
        rng = random.Random(seed)
        n = rng.randint(5, 40)
        events = [(i, rng.randint(1, 4), rng.choice("abc"),
                   rng.randint(0, 15)) for i in range(n)]
        events.sort(key=lambda r: (r[3], r[0]))  # time-ordered feed
        n_batches = rng.randint(1, 4)
        cuts = sorted(rng.sample(range(n + 1), min(n_batches - 1, n)))
        chunks = []
        lo = 0
        for c in cuts + [n]:
            chunks.append(events[lo:c])
            lo = c
        # a time-ordered feed means no ts value spans two batches
        # (the staged split's strict-< contract): merge chunks that
        # would tear an equal-ts run apart
        merged = []
        for ch in chunks:
            if merged and ch and merged[-1] and ch[0][3] == merged[-1][-1][3]:
                merged[-1].extend(ch)
            else:
                merged.append(ch)
        snap = str(tmp_path / f"snap{seed}")
        on_batch = scd2_upsert_batch(snap)
        epoch = 0
        for ch in merged:
            if not ch:
                continue
            on_batch(spark.createDataFrame(ch, ddl), epoch)
            epoch += 1
        assert _scd2_state(spark, snap) == _scd2_python_reference(events), \
            (seed, merged)


def test_snapshot_swap_torn_marker_recovery(tmp_path):
    """A torn ``_epoch`` marker (empty / partial write) must read as
    NOT-committed — pre-fix, ``int(fh.read())`` raised ValueError on
    every subsequent batch; and a torn marker inside a staged tmp must
    keep the tmp from being adopted as a finished swap (the preserved
    ``.old`` is restored instead)."""
    import os
    import shutil

    from openplacereviews_db_spark.streaming.pipelines import (
        _read_epoch_marker, _snapshot_swap_preamble)

    snap = str(tmp_path / "snap")
    tmp, old = snap + ".epoch-3", snap + ".old"

    assert _read_epoch_marker(snap) is None  # no dir at all
    os.makedirs(snap)
    assert _read_epoch_marker(snap) is None  # no marker file
    with open(os.path.join(snap, "_epoch"), "w") as fh:
        fh.write("")                         # empty tear
    assert _read_epoch_marker(snap) is None
    with open(os.path.join(snap, "_epoch"), "w") as fh:
        fh.write("\x00garbage")              # partial-write tear
    assert _read_epoch_marker(snap) is None
    with open(os.path.join(snap, "_epoch"), "w") as fh:
        fh.write("2\n")
    assert _read_epoch_marker(snap) == 2

    # torn marker in the LIVE snapshot: degrade to re-apply, not crash
    with open(os.path.join(snap, "_epoch"), "w") as fh:
        fh.write("")
    assert _snapshot_swap_preamble(snap, tmp, old, 3) is False

    # missing snapshot + TORN tmp marker: tmp is NOT adopted; the
    # preserved .old (epoch 2) is restored and epoch 3 re-applies
    shutil.rmtree(snap)
    os.makedirs(tmp)
    with open(os.path.join(tmp, "_epoch"), "w") as fh:
        fh.write("")
    os.makedirs(old)
    with open(os.path.join(old, "_epoch"), "w") as fh:
        fh.write("2")
    assert _snapshot_swap_preamble(snap, tmp, old, 3) is False
    assert _read_epoch_marker(snap) == 2     # .old is live again
    # ...and the same restored snapshot no-ops a committed retry
    assert _snapshot_swap_preamble(snap, tmp, old, 2) is True


def test_commit_snapshot_swap_marker_atomic(tmp_path):
    """The epoch marker lands via tmp-file + fsync + atomic replace —
    after a commit the marker parses to the epoch, no ``._epoch.tmp``
    residue remains, and the staged/old dirs are gone."""
    import os

    from openplacereviews_db_spark.streaming.pipelines import (
        _commit_snapshot_swap, _read_epoch_marker)

    snap = str(tmp_path / "snap")
    tmp, old = snap + ".epoch-7", snap + ".old"
    os.makedirs(tmp)
    with open(os.path.join(tmp, "part-0.parquet"), "w") as fh:
        fh.write("x")
    _commit_snapshot_swap(snap, tmp, old, 7)
    assert _read_epoch_marker(snap) == 7
    assert not os.path.exists(os.path.join(snap, "._epoch.tmp"))
    assert not os.path.exists(tmp) and not os.path.exists(old)


def test_scd2_kill_restart_resumes_from_checkpoint(spark):
    """Kill the STREAM between micro-batches and restart from the same
    checkpoint (r9 verdict item 4 — the torn-swap branches were
    unit-pinned but no test exercised Spark's own offset-log recovery):
    batch 0 commits its snapshot swap, an injected crash kills the
    query before batch 1 applies, and a fresh ``start()`` on the SAME
    checkpoint must replay exactly batch 1 — never batch 0 again — with
    the resumed dimension equal to the one-shot batch build
    ``x71_scd2_build`` (the reference's exactly-once offset-with-data
    analog, ``PlaceOpObjectHelper.java:194-255``)."""
    import glob
    import os
    import shutil

    import pytest
    from pyspark.errors.exceptions.captured import StreamingQueryException

    from openplacereviews_db_spark.plans.temporal import x71_scd2_build
    from openplacereviews_db_spark.streaming import pipelines as SP

    sf = "/root/testdata/sf0.001"
    root, src = SP._stage_time_split(sf, "scd2")
    snap = os.path.join(root, "snapshot_killrestart")
    chk = os.path.join(root, "chk_killrestart")
    for d in [snap, chk, snap + ".old"] + glob.glob(snap + ".epoch-*"):
        shutil.rmtree(d, ignore_errors=True)

    inner = SP.scd2_upsert_batch(snap)
    epochs_run1: list[int] = []
    epochs_run2: list[int] = []

    def crash_before_batch1(df, epoch_id):
        epochs_run1.append(int(epoch_id))
        if int(epoch_id) >= 1:
            raise RuntimeError("injected kill between micro-batches")
        inner(df, epoch_id)

    def resumed(df, epoch_id):
        epochs_run2.append(int(epoch_id))
        inner(df, epoch_id)

    def start(fn):
        ev = (spark.readStream.format("parquet")
              .schema("event_id long, user_id long, event_type string, "
                      "ts_us long")
              .option("maxFilesPerTrigger", 1).load(src))
        return (ev.writeStream.foreachBatch(fn)
                .option("checkpointLocation", chk)
                .trigger(availableNow=True).start())

    q = start(crash_before_batch1)
    with pytest.raises(StreamingQueryException):
        q.awaitTermination()
    assert epochs_run1 == [0, 1]  # batch 0 committed, killed at 1
    mid = _scd2_state(spark, snap)

    q2 = start(resumed)
    q2.awaitTermination()
    # offset-log recovery: ONLY the uncommitted batch replays
    assert epochs_run2 == [1]
    final = _scd2_state(spark, snap)
    assert final != mid  # batch 1 actually applied

    want = sorted(
        (r["user_id"], r["version"], r["event_type"], r["eff_from_us"],
         r["eff_to_us"], r["n_events"], r["is_current"])
        for r in x71_scd2_build(spark, sf).collect())
    assert final == want
    for d in (snap, chk):
        shutil.rmtree(d, ignore_errors=True)


def test_scd2_once_sweeps_stale_swap_dirs(spark):
    """Swap residue from a killed prior run (.old and fully-staged
    .epoch-* dirs, possibly built by OLD code) must be wiped by the
    per-call cleanup — pre-fix, the recovery preamble ADOPTED a stale
    staged dir whose marker claimed the epoch committed and served its
    contents instead of recomputing (r8 ADVICE)."""
    import os

    from openplacereviews_db_spark.streaming import pipelines as SP

    sf = "/root/testdata/sf0.001"
    base = sorted(map(tuple, SP.scd2_upsert_once(spark, sf).collect()))
    root, _ = SP._stage_time_split(sf, "scd2")
    snap = os.path.join(root, "snapshot")
    bogus = spark.createDataFrame(
        [(999999, 1, "ZZZ", 0, None, 999, 1)], SP._SCD2_DDL)
    for stale in (snap + ".epoch-0", snap + ".epoch-1", snap + ".old"):
        bogus.write.mode("overwrite").parquet(stale)
        with open(os.path.join(stale, "_epoch"), "w") as fh:
            fh.write("9")  # claims every epoch already committed
    again = sorted(map(tuple, SP.scd2_upsert_once(spark, sf).collect()))
    assert again == base


def test_run_to_memory_restores_shuffle_conf(spark, tmp_path):
    """state_partitions must apply to the stream's first-batch planning
    and the session conf must come back afterwards — a leaked value
    would silently resize every later batch query's shuffles."""
    from pyspark.sql import functions as F

    from openplacereviews_db_spark.streaming import pipelines as SP

    src = str(tmp_path / "src")
    spark.createDataFrame([(i, i % 3) for i in range(30)],
                          "id long, k long").write.parquet(src)
    before = spark.conf.get("spark.sql.shuffle.partitions")
    assert before != "2"  # the override must be observable
    stream = (spark.readStream.format("parquet").schema("id long, k long")
              .load(src))
    agg = stream.groupBy("k").agg(F.count(F.lit(1)).alias("n"))
    out = SP._run_to_memory(agg, "complete", state_partitions=2)
    assert sorted(tuple(r) for r in out.collect()) == [
        (0, 10), (1, 10), (2, 10)]
    assert spark.conf.get("spark.sql.shuffle.partitions") == before
    # and the stream really PLANNED with 2 state partitions (an early
    # restore — before batch 0 plans — would leave the session default
    # here): the finished run's progress records the state operator
    prog = SP._LAST_STREAM_PROGRESS[0]
    ops = prog["stateOperators"]
    assert ops and all(op["numShufflePartitions"] == 2 for op in ops), ops


def _kill_restart(spark, src, chk, inner, schema=None, text_gate=False):
    """Run the parity-split stream twice on one checkpoint: run 1
    commits batch 0 then dies entering batch 1 (injected), run 2 must
    resume from the offset log and replay EXACTLY batch 1.  Returns
    (epochs_run1, epochs_run2)."""
    import pytest
    from pyspark.errors.exceptions.captured import StreamingQueryException

    epochs1: list[int] = []
    epochs2: list[int] = []

    def crash_before_batch1(df, epoch_id):
        epochs1.append(int(epoch_id))
        if int(epoch_id) >= 1:
            raise RuntimeError("injected kill between micro-batches")
        inner(df, epoch_id)

    def resumed(df, epoch_id):
        epochs2.append(int(epoch_id))
        inner(df, epoch_id)

    def start(fn):
        docs = (spark.readStream.format("parquet")
                .schema(schema or spark.read.parquet(src).schema)
                .option("maxFilesPerTrigger", 1).load(src))
        if text_gate:
            from pyspark.sql import functions as F
            docs = docs.where(F.length("text") > 0)
        return (docs.writeStream.foreachBatch(fn)
                .option("checkpointLocation", chk)
                .trigger(availableNow=True).start())

    q = start(crash_before_batch1)
    with pytest.raises(StreamingQueryException):
        q.awaitTermination()
    q2 = start(resumed)
    q2.awaitTermination()
    return epochs1, epochs2


def test_exact_dedup_kill_restart_resumes_from_checkpoint(spark):
    """r10 verdict item 4: st_exact_dedup maintains a persistent
    fingerprint index whose crash-between-batch behavior was only
    covered by the epoch-marker units — kill the stream between
    micro-batches, restart from the checkpoint, and hash-compare the
    final kept set to the uninterrupted run (itself driver-oracled
    against the closed-form first-seen-wins rule; the reference's
    offset-with-data analog, PlaceOpObjectHelper.java:194-255)."""
    import os
    import shutil

    from pyspark.sql import functions as F

    sf = "/root/testdata/sf0.001"
    root, src = SP._stage_parity_split(sf, "exactdd")
    index_dir = os.path.join(root, "index_killrestart")
    counts_dir = os.path.join(root, "counts_killrestart")
    chk = os.path.join(root, "chk_killrestart")
    for d in (index_dir, counts_dir, chk):
        shutil.rmtree(d, ignore_errors=True)

    inner = SP._exact_dedup_batch(index_dir, counts_dir)
    e1, e2 = _kill_restart(spark, src, chk, inner, text_gate=True)
    assert e1 == [0, 1]   # batch 0 committed, killed entering 1
    assert e2 == [1]      # offset-log recovery replays ONLY batch 1

    kept = spark.read.parquet(index_dir)
    counts = (spark.read.parquet(counts_dir)
              .groupBy("fp").agg(F.sum("c").alias("n_docs")))
    final = sorted((r["fp"], r["keep_id"], r["n_docs"]) for r in
                   kept.join(counts, "fp")
                   .select("fp", "keep_id", "n_docs").collect())
    want = sorted((r["fp"], r["keep_id"], r["n_docs"]) for r in
                  SP.exact_dedup_once(spark, sf).collect())
    assert len(final) > 0 and final == want
    for d in (index_dir, counts_dir, chk):
        shutil.rmtree(d, ignore_errors=True)


def test_neardup_kill_restart_resumes_from_checkpoint(spark):
    """The near-dup twin of the exact-dedup kill-restart: the persistent
    band/sets index is append-only, so a between-batch kill leaves
    exactly batch 0's index; the restarted stream must replay only
    batch 1 and the accumulated pair set must equal the uninterrupted
    run's (itself driver-oracled against dd_minhash_lsh's batch LSH)."""
    import os
    import shutil

    from pyspark.sql import functions as F

    sf = "/root/testdata/sf0.001"
    root, src = SP._stage_parity_split(sf, "neardup")
    index_dir = os.path.join(root, "index_killrestart")
    pairs_dir = os.path.join(root, "pairs_killrestart")
    chk = os.path.join(root, "chk_killrestart")
    for d in (index_dir, pairs_dir, chk):
        shutil.rmtree(d, ignore_errors=True)

    inner = SP._neardup_batch(index_dir, pairs_dir, shingle_words=2,
                              num_hashes=16, bands=8, min_jaccard=0.1)
    e1, e2 = _kill_restart(spark, src, chk, inner, text_gate=True)
    assert e1 == [0, 1] and e2 == [1]

    lo, hi = F.least("id_a", "id_b"), F.greatest("id_a", "id_b")
    final = sorted((r["id_a"], r["id_b"], r["jaccard"]) for r in
                   spark.read.parquet(pairs_dir)
                   .select(lo.alias("id_a"), hi.alias("id_b"), "jaccard")
                   .dropDuplicates(["id_a", "id_b"]).collect())
    want = sorted((r["id_a"], r["id_b"], r["jaccard"]) for r in
                  SP.neardup_once(spark, sf).collect())
    assert len(final) > 0 and final == want
    for d in (index_dir, pairs_dir, chk):
        shutil.rmtree(d, ignore_errors=True)


def test_neardup_batch_epoch_layout_and_replay(spark, tmp_path):
    """The r14 single-state-table layout: each micro-batch writes ONE
    epoch partition (id, bands, sids) — the pre-r14 twin bands/sets
    appends could tear between the two writes (r13 ADVICE; the torn
    state is now unrepresentable) — and a replayed committed epoch is
    an exact no-op (the _exact_dedup_batch discipline), where the old
    append-mode layout double-appended the index."""
    import os

    index_dir = str(tmp_path / "index")
    pairs_dir = str(tmp_path / "pairs")
    inner = SP._neardup_batch(index_dir, pairs_dir, shingle_words=2,
                              num_hashes=16, bands=8, min_jaccard=0.1)
    base = "the quick brown fox jumps over the lazy dog again and again"
    batch0 = spark.createDataFrame(
        [(1, base), (2, base)], "doc_id long, text string")
    batch1 = spark.createDataFrame(
        [(3, base + " tonight")], "doc_id long, text string")

    inner(batch0, 0)
    state0 = os.path.join(index_dir, "state", "epoch=0")
    assert os.path.isfile(os.path.join(state0, "_SUCCESS"))
    assert spark.read.parquet(pairs_dir).count() == 1

    inner(batch1, 1)  # cross-batch pairs against the epoch-0 index
    pairs = {(min(r["id_a"], r["id_b"]), max(r["id_a"], r["id_b"]))
             for r in spark.read.parquet(pairs_dir).collect()}
    assert pairs == {(1, 2), (1, 3), (2, 3)}

    def snapshot() -> dict[str, float]:
        out = {}
        for root in (index_dir, pairs_dir):
            for base, _d, files in os.walk(root):
                for f in files:
                    p = os.path.join(base, f)
                    out[p] = os.path.getmtime(p)
        return out

    before = snapshot()
    inner(batch1, 1)  # committed-epoch replay: exact no-op
    assert snapshot() == before
    assert spark.read.parquet(index_dir + "/state").count() == 3


def test_sessionize_bounded_equals_one_shot(spark):
    """r10 verdict item 5: the watermark-bounded multi-batch harness
    must produce EXACTLY the one-shot complete-mode sessions — proving
    "a real feed never sees the corpus in one batch" with an executed
    run: >2 chronological micro-batches, 0-second watermark (strict
    time cuts make nothing late), sentinel flush closing the tail.
    After the flush batch, the state store must be empty but for the
    sentinel's own open session — per-batch state is time-slice-sized,
    never corpus-sized (the sf10 8 GiB GC-death class)."""
    sf = "/root/testdata/sf0.001"
    cols = ("user_id", "session_start", "session_end", "n_events")
    bounded = sorted(tuple(r[c] for c in cols) for r in
                     SP.sessionize_bounded_once(spark, sf, 4).collect())
    prog = SP._LAST_STREAM_PROGRESS[0]
    assert prog["batchId"] >= 3  # 4 time slices + flush, minus 0-index
    state = prog["stateOperators"][0]
    assert state["numRowsTotal"] <= 2, state  # evicted, not accumulated
    one_shot = sorted(tuple(r[c] for c in cols) for r in
                      SP.sessionize_once(spark, sf).collect())
    assert len(bounded) > 0 and bounded == one_shot


def test_sessionize_bounded_parquet_sink(spark, tmp_path):
    """The at-scale sink path (parquet file sink, driver never buffers
    the emitted sessions) produces the same rows as the memory sink."""
    sf = "/root/testdata/sf0.001"
    cols = ("user_id", "session_start", "session_end", "n_events")
    mem = sorted(tuple(r[c] for c in cols) for r in
                 SP.sessionize_bounded_once(spark, sf, 3).collect())
    fs = sorted(tuple(r[c] for c in cols) for r in
                SP.sessionize_bounded_once(
                    spark, sf, 3, sink_dir=str(tmp_path)).collect())
    assert len(fs) > 0 and fs == mem
