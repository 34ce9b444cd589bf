"""S5 staged raw zone + S4 adaptive split unit checks."""

from __future__ import annotations

from openplacereviews_db_spark.operators import adaptive_split as AS
from openplacereviews_db_spark.sources import staging


def test_cache_id_format():
    # mirrors SyncRequest.getCacheId (OsmSyncBot.java:155-169)
    cid = staging.cache_id("amenity", "2021-06-01T00:00:00",
                           bbox=(-180.0, -90.0, 180.0, 90.0))
    assert cid == "req_amenity/2021-06-01T00_00_00_-90,-180,90,180"
    cid2 = staging.cache_id("amenity", "d1", bbox=(0.0, 0.25, 10.5, 1.0),
                            diff=True, cnt=True, state_date="d0")
    # 0.25 → "0.2": DecimalFormat("0.#") rounds HALF_EVEN, as does %.1f
    assert cid2 == "diff_cnt_amenity/d1-d0_0.2,0,1,10.5"


def test_stage_raw_write_once(spark, tmp_path):
    calls = []

    def fetch():
        calls.append(1)
        return spark.range(5).selectExpr("id", "id * 2 AS v")

    a = staging.stage_raw(spark, fetch, str(tmp_path), "req_x/d_0,0,1,1")
    assert a.count() == 5
    b = staging.stage_raw(spark, fetch, str(tmp_path), "req_x/d_0,0,1,1")
    assert b.count() == 5
    assert len(calls) == 1  # second read served from the staged zone


def _backdate(*paths, age_s: float = 7200.0) -> None:
    import os
    import time

    old = time.time() - age_s
    for p in paths:
        os.utime(p, (old, old))


def test_prune_stale_siblings(tmp_path):
    """A fresh write-once build must drop superseded-fingerprint
    siblings (full staged copies leaking on /tmp, r12 ADVICE) — dirs
    AND files — while never touching other families, the kept entry,
    or anything younger than the min-age guard (a concurrently-live
    session may still scan it, r13 review)."""
    import os

    root = tmp_path / "stage"
    root.mkdir()
    (root / "oplog_sf0.01_100_1").mkdir()  # stale dir
    (root / "oplog_sf0.01_150_9").mkdir()  # superseded but RECENT
    (root / "oplog_sf0.01_200_2").mkdir()  # fresh (keep)
    (root / "oplog_sf0.1_100_1").mkdir()   # other sf — different prefix
    (root / "osm_src_sf0.01_100_1.osm").write_text("old")  # stale file
    (root / "osm_src_sf0.01_200_2.osm").write_text("new")
    _backdate(root / "oplog_sf0.01_100_1", root / "oplog_sf0.1_100_1",
              root / "osm_src_sf0.01_100_1.osm")
    staging.prune_stale_siblings(str(root), "oplog_sf0.01_",
                                 "oplog_sf0.01_200_2")
    staging.prune_stale_siblings(str(root), "osm_src_sf0.01_",
                                 "osm_src_sf0.01_200_2.osm")
    left = sorted(os.listdir(root))
    assert left == ["oplog_sf0.01_150_9", "oplog_sf0.01_200_2",
                    "oplog_sf0.1_100_1", "osm_src_sf0.01_200_2.osm"]
    # the recent sibling falls once it ages past the guard
    _backdate(root / "oplog_sf0.01_150_9")
    staging.prune_stale_siblings(str(root), "oplog_sf0.01_",
                                 "oplog_sf0.01_200_2")
    assert "oplog_sf0.01_150_9" not in os.listdir(root)
    # missing root is a no-op, never a crash
    staging.prune_stale_siblings(str(tmp_path / "nope"), "x_", "x_1")


def test_stage_raw_prunes_superseded_fingerprints(spark, tmp_path):
    """stage_raw(prune_prefix=...) removes the older fingerprint's
    staged copy after a fresh build (once it ages past the live-reader
    guard)."""
    import os

    def fetch():
        return spark.range(3).selectExpr("id")

    staging.stage_raw(spark, fetch, str(tmp_path), "fam_a_100_1",
                      prune_prefix="fam_a_")
    _backdate(tmp_path / "fam_a_100_1")
    staging.stage_raw(spark, fetch, str(tmp_path), "fam_a_200_2",
                      prune_prefix="fam_a_")
    assert sorted(os.listdir(tmp_path)) == ["fam_a_200_2"]


def test_split_factors_schedule():
    # OsmSyncBot.java:505-514: world 36x18, shallow 4x4, deep 2x2
    assert AS.split_factors(0, 360.0, 180.0) == (36, 18)
    assert AS.split_factors(1, 10.0, 10.0) == (4, 4)
    assert AS.split_factors(2, 2.5, 2.5) == (4, 4)
    assert AS.split_factors(3, 0.625, 0.625) == (2, 2)
    assert AS.split_factors(1, 10.0, 10.0, diff=True) == (2, 2)


def test_adaptive_split_leaves(spark):
    # 5000 points in one tiny cluster + 10 spread points: the cluster
    # cell must recurse to the depth cap, the spread resolves at level 1
    rows = [(50.001 + (i % 10) * 1e-5, 7.001 + (i % 7) * 1e-5)
            for i in range(5000)]
    rows += [(float(la), float(lo)) for la, lo in
             [(-40, -120), (10, 60), (70, 150), (-70, -30), (0, 0),
              (20, -170), (-20, 100), (60, -60), (-55, 20), (35, 5)]]
    pts = spark.createDataFrame(rows, "lat double, lon double")
    leaves = AS.adaptive_split_cells(pts, limit=100).collect()
    total = sum(r["cnt"] for r in leaves)
    assert total == len(rows)  # every point in exactly one leaf
    by_level = {}
    for r in leaves:
        by_level.setdefault(r["level"], 0)
        by_level[r["level"]] += r["cnt"]
    # the cluster is denser than the limit even at the cap → the deep
    # leaves hold it; the spread points resolve at level 1
    assert by_level.get(AS.MAX_LEVEL, 0) >= 5000
    assert by_level.get(1, 0) == 10
    # no leaf except at the cap may exceed the limit
    assert all(r["cnt"] < 100 for r in leaves
               if r["level"] < AS.MAX_LEVEL)


def test_global_cumsum_matches_single_window(spark):
    from pyspark.sql import functions as F
    from pyspark.sql.window import Window

    from openplacereviews_db_spark.operators.ordered import (
        global_cumsum, global_row_index)

    df = spark.range(1000).selectExpr(
        "id", "CAST(id % 37 AS LONG) AS v",
        "CAST(id % 13 AS LONG) AS q")
    # total order (q desc, id asc); compare against the 1-task window
    want = {r["id"]: r["c"] for r in df.withColumn(
        "c", F.sum("v").over(
            Window.orderBy(F.desc("q"), F.asc("id"))
            .rowsBetween(Window.unboundedPreceding, 0))).collect()}
    got = {r["id"]: r["c"]
           for r in global_cumsum(df, "v", ["q", "id"], "c",
                                  num_partitions=7,
                                  ascending=[False, True]).collect()}
    assert got == want
    idx = {r["id"]: r["i"]
           for r in global_row_index(df, ["id"], "i",
                                     num_partitions=5).collect()}
    assert idx == {i: i for i in range(1000)}


def _mini_sf_dir(tmp_path, keys):
    """A throwaway sf_dir with just the tables s1/s5 stage from."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    pq.write_table(pa.table({
        "c_custkey": pa.array(keys, pa.int64()),
        "c_name": [f"Customer#{k}" for k in keys],
        "c_acctbal": pa.array([k * 10.25 for k in keys], pa.float64()),
        "c_mktsegment": ["BUILDING" for _ in keys],
    }), str(tmp_path / "customer.parquet"))
    pq.write_table(pa.table({
        "event_id": pa.array(keys, pa.int64()),
        "event_type": ["click" for _ in keys],
        "user_id": pa.array(keys, pa.int64()),
        "ts": pa.array([1_600_000_000_000_000 + k for k in keys],
                       pa.timestamp("us")),
        "value": pa.array([k * 1.5 for k in keys], pa.float64()),
    }), str(tmp_path / "events.parquet"))
    pq.write_table(pa.table({
        "doc_id": pa.array([1, 11] + [10 * k for k in keys], pa.int64()),
        "text": (["alpha beta gamma delta"] * 2
                 + [f"alpha beta gamma delta" if k == keys[0]
                    else f"zeta eta theta iota k{k}" for k in keys]),
        "lang": ["en"] * (2 + len(keys)),
        "source": ["s"] * (2 + len(keys)),
        "n_chars": pa.array([20] * (2 + len(keys)), pa.int64()),
    }), str(tmp_path / "documents.parquet"))
    return str(tmp_path)


def test_staging_rebuilds_on_source_refresh(spark, tmp_path):
    """The CLAUDE.md stale-cache rule: when the driver regenerates a
    source parquet, every write-once stage derived from it must
    rebuild — existence-only keys would serve stale rows while the
    oracle reads fresh data (guaranteed driver FAIL)."""
    import os
    import time

    from openplacereviews_db_spark.plans.sync_plans import (
        s1_osm_xml_roundtrip, s5_staged_scan)

    sf = _mini_sf_dir(tmp_path, [2, 4, 6])
    assert sorted(r["id"] for r in
                  s1_osm_xml_roundtrip(spark, sf).collect()) == [2, 4, 6]
    assert s5_staged_scan(spark, sf).collect()[0]["n"] == 3

    # simulate a driver testdata refresh (mtime and/or size change)
    time.sleep(0.01)
    _mini_sf_dir(tmp_path, [8, 10, 12, 14])
    os.utime(str(tmp_path / "customer.parquet"))
    os.utime(str(tmp_path / "events.parquet"))

    assert sorted(r["id"] for r in
                  s1_osm_xml_roundtrip(spark, sf).collect()) == \
        [8, 10, 12, 14]
    assert s5_staged_scan(spark, sf).collect()[0]["n"] == 4


def test_load_table_rereads_rewritten_file(spark, tmp_path):
    """load_table and the plans memoized on a table serve the memoized
    DataFrame until the source file is rewritten, then read it afresh
    (the memo is stamped with the file's mtime and size)."""
    from openplacereviews_db_spark.sources import places
    from openplacereviews_db_spark.sources.testdata import load_table

    sf = _mini_sf_dir(tmp_path, [2, 4, 6])
    cust = load_table(spark, "customer", sf)
    assert load_table(spark, "customer", sf) is cust
    assert sorted(r["c_custkey"] for r in cust.collect()) == [2, 4, 6]
    assert places.synthetic_places(spark, sf).count() == 3
    ev = load_table(spark, "events", sf)
    assert ev.schema["ts"].dataType.typeName() == "timestamp"

    _mini_sf_dir(tmp_path, [8, 10, 12, 14])

    assert sorted(r["c_custkey"] for r in
                  load_table(spark, "customer", sf).collect()) == \
        [8, 10, 12, 14]
    assert places.synthetic_places(spark, sf).count() == 4
    assert sorted(r["event_id"] for r in
                  load_table(spark, "events", sf).collect()) == \
        [8, 10, 12, 14]


def test_stage_plan_writes_once(spark, tmp_path, monkeypatch):
    """The place corpus is a write-once stored table
    (testdata.stage_plan): the first build writes one stage, a rebuild
    in a fresh memo reads it back and writes nothing, and a rewritten
    customer.parquet gets a new stage holding the new values, equal to
    the closed-form derivation.  Pruning removes only superseded stages
    of the same sources, never an old stage of another sf dir."""
    import os
    import tempfile
    import time

    from openplacereviews_db_spark.sources import places, testdata

    (tmp_path / "tmp").mkdir()
    (tmp_path / "sf").mkdir()
    monkeypatch.setattr(tempfile, "tempdir", str(tmp_path / "tmp"))
    root = staging.stage_root()
    sf = _mini_sf_dir(tmp_path / "sf", [2, 4, 6])

    def rows(df):
        return sorted(map(repr, df.collect()))

    testdata._MEMO.clear()
    first = places.synthetic_places(spark, sf)
    stages = os.listdir(root)
    assert len(stages) == 1 and stages[0].startswith("synthetic_places-")
    assert all(f"/{stages[0]}/" in f for f in first.inputFiles())
    derived = places.synthetic_places.__wrapped__(spark, sf)
    assert rows(first) == rows(derived)
    success = os.path.join(root, stages[0], "_SUCCESS")
    written = os.stat(success).st_mtime_ns

    testdata._MEMO.clear()
    again = places.synthetic_places(spark, sf)
    assert os.listdir(root) == stages
    assert os.stat(success).st_mtime_ns == written
    assert rows(again) == rows(first)

    # an hour-old stage of other sources is not a stale sibling: a
    # session over that sf dir may still scan it
    hour_ago = time.time() - 7200
    os.utime(os.path.join(root, stages[0]), (hour_ago, hour_ago))
    (tmp_path / "sf2").mkdir()
    other = places.synthetic_places(
        spark, _mini_sf_dir(tmp_path / "sf2", [1]))
    assert stages[0] in os.listdir(root)

    _mini_sf_dir(tmp_path / "sf", [8, 10, 12, 14])
    fresh = places.synthetic_places(spark, sf)
    new = sorted(set(os.listdir(root)) - set(stages)
                 - {f.split("/")[-2] for f in other.inputFiles()})
    assert len(new) == 1 and new[0].startswith("synthetic_places-")
    assert all(f"/{new[0]}/" in f for f in fresh.inputFiles())
    assert fresh.count() == 4
    assert rows(fresh) == rows(places.synthetic_places.__wrapped__(spark, sf))
    # the superseded stage of the rewritten source is pruned
    assert stages[0] not in os.listdir(root)


def test_compact_dir_reduces_files_losslessly(spark, tmp_path):
    """X63: compaction must cut the file count to the byte-target
    bound and preserve content exactly (row multiset equality)."""
    import os

    from openplacereviews_db_spark.sources.staging import compact_dir

    src = str(tmp_path / "small")
    dest = str(tmp_path / "packed")
    df = spark.range(10_000).selectExpr(
        "id", "id % 97 AS k", "CAST(id AS STRING) AS s")
    df.repartition(24).write.parquet(src)
    n_small = sum(1 for f in os.listdir(src) if f.endswith(".parquet"))
    assert n_small == 24
    n_packed = compact_dir(spark, src, dest, target_bytes=64 * 1024)
    assert n_packed < n_small
    a = sorted(map(tuple, spark.read.parquet(src).collect()))
    b = sorted(map(tuple, spark.read.parquet(dest).collect()))
    assert a == b


def test_r7_staging_caches_rebuild_on_refresh(spark, tmp_path):
    """The stale-cache rule applied to the round-7 write-once stages:
    the CSV/JSON roundtrip (s18), the day-partitioned layout + sidecar
    (x74), and the near-dup band index (dd_incremental) must all
    rebuild when their source parquet changes."""
    import os
    import time

    from openplacereviews_db_spark.plans.corpus import dd_incremental
    from openplacereviews_db_spark.plans.sync_plans import (
        s18_format_roundtrip, x74_partition_prune)

    sf = _mini_sf_dir(tmp_path, [2, 4, 6])
    assert s18_format_roundtrip(spark, sf).collect()[0]["n"] == 3
    assert x74_partition_prune(spark, sf).collect()[0]["n"] == 3
    # new doc 20 (= 10*first key) duplicates old docs 1 and 11
    pairs = {(r["id_new"], r["id_old"])
             for r in dd_incremental(spark, sf).collect()}
    assert pairs == {(20, 1), (20, 11)}

    time.sleep(0.01)
    _mini_sf_dir(tmp_path, [8, 10, 12, 14])
    for t in ("customer", "events", "documents"):
        os.utime(str(tmp_path / f"{t}.parquet"))

    assert s18_format_roundtrip(spark, sf).collect()[0]["n"] == 4
    assert x74_partition_prune(spark, sf).collect()[0]["n"] == 4
    pairs = {(r["id_new"], r["id_old"])
             for r in dd_incremental(spark, sf).collect()}
    assert pairs == {(80, 1), (80, 11)}


def test_global_prefix_max_matches_single_window(spark):
    """ordered.global_running_prefix_max must be value-identical to the
    single-task window form, strict and inclusive, asc and desc."""
    from pyspark.sql import functions as F
    from pyspark.sql.window import Window

    from openplacereviews_db_spark.operators.ordered import (
        global_running_prefix_max)

    df = spark.createDataFrame(
        [(i, (i * 37) % 101) for i in range(500)], "k long, v long")
    for asc in (True, False):
        for strict in (True, False):
            order = F.col("k") if asc else F.col("k").desc()
            end = -1 if strict else 0
            w = Window.orderBy(order).rowsBetween(
                Window.unboundedPreceding, end)
            want = {r["k"]: r["m"] for r in
                    df.select("k", F.max("v").over(w).alias("m"))
                    .collect()}
            got = {r["k"]: r["pm"] for r in
                   global_running_prefix_max(
                       df, "v", ["k"], "pm", num_partitions=7,
                       ascending=[asc], strict=strict).collect()}
            assert got == want, (asc, strict)


def test_text_format_roundtrips_survive_hostile_strings(spark, tmp_path):
    """Quote-in-field, delimiter-in-field, NEWLINE-in-field and
    non-ASCII must survive every staged text/columnar roundtrip with
    the exact reader options the s18/s20 plans use — the newline case
    is the one the default CSV reader TEARS into two corrupt records
    (multiLine=true is load-bearing, not a nicety)."""
    rows = [(1, "plain", 1.5, "SEG"),
            (2, 'quote " inside', -2.25, "SEG"),
            (3, "comma, semi; pipe|", 0.0, "SEG"),
            (4, "new\nline", 3.5, "SEG"),
            (5, "uni ✓ é", 9.75, "SEG")]
    ddl = ("c_custkey bigint, c_name string, c_acctbal double, "
           "c_mktsegment string")
    df = spark.createDataFrame(rows, ddl)
    want = sorted(rows)

    csv_dir = str(tmp_path / "csv")
    df.write.mode("overwrite").option("header", True).csv(csv_dir)
    got_csv = sorted(tuple(r) for r in
                     spark.read.schema(ddl).option("header", True)
                     .option("multiLine", True).csv(csv_dir).collect())
    assert got_csv == want

    json_dir = str(tmp_path / "json")
    df.write.mode("overwrite").json(json_dir)
    got_json = sorted(tuple(r) for r in
                      spark.read.schema(ddl).json(json_dir).collect())
    assert got_json == want

    orc_dir = str(tmp_path / "orc")
    df.write.mode("overwrite").orc(orc_dir)
    got_orc = sorted(tuple(r) for r in
                     spark.read.schema(ddl).orc(orc_dir).collect())
    assert got_orc == want


def test_dup_group_knobs_single_source(spark, sf_dir, monkeypatch):
    """The staged dup-group mapping's cache id derives from the SAME
    dict that parameterizes the LSH (r8 ADVICE: a hand-maintained key
    string could drift from the kwargs and serve a stale mapping) — a
    knob flip must change the key and therefore restage."""
    import glob
    import os
    import shutil
    import tempfile

    from openplacereviews_db_spark.plans import corpus

    base_frag = corpus._knobs_cid(corpus._DUP_GROUP_KNOBS)
    flipped = dict(corpus._DUP_GROUP_KNOBS, min_jaccard=0.2)
    flip_frag = corpus._knobs_cid(flipped)
    assert flip_frag != base_frag
    # non-lossy encoding (r9 ADVICE): values that stringify alike after
    # dot-stripping, and keys sharing initials, must NOT alias
    assert (corpus._knobs_cid({"min_jaccard": 1.0})
            != corpus._knobs_cid({"min_jaccard": 10}))
    assert (corpus._knobs_cid({"num_hashes": 16})
            != corpus._knobs_cid({"norm_h": 16}))

    stage_root = os.path.join(tempfile.gettempdir(), "opr_spark_stage")
    pattern = os.path.join(stage_root, f"dupgroups_*_{flip_frag}_*")
    for d in glob.glob(pattern):
        shutil.rmtree(d, ignore_errors=True)
    monkeypatch.setattr(corpus, "_DUP_GROUP_KNOBS", flipped)
    out = corpus._staged_dup_groups(spark, sf_dir)
    assert out.columns == ["node", "canonical_id", "group_size"]
    assert out.count() >= 0  # materialize before cleanup
    hits = glob.glob(pattern)
    assert hits, "knob flip did not restage the dup-group mapping"
    for d in hits:
        shutil.rmtree(d, ignore_errors=True)


def test_bench_staged_build_names_exist():
    """bench.py's staged-build prelude skips unknown names silently
    (fn is None -> continue); pin each name to the live query registry
    so a rename can't quietly drop a build from the warm path."""
    import ast
    import os

    import __spark_entry__ as entrymod

    src = open(os.path.join(os.path.dirname(os.path.dirname(
        os.path.abspath(__file__))), "bench.py")).read()
    tree = ast.parse(src)
    names: list[str] = []
    for node in ast.walk(tree):
        if (isinstance(node, ast.Tuple)
                and all(isinstance(e, ast.Constant) for e in node.elts)
                and any(isinstance(e.value, str)
                        and e.value.endswith("_bucketed_lookup")
                        for e in node.elts)):
            names = [e.value for e in node.elts]
    assert names, "staged-build tuple not found in bench.py"
    missing = [n for n in names if n not in entrymod.queries()]
    assert not missing, missing


def test_driver_sample_window_order():
    """The driver samples the FIRST 50 queries() entries; the registry
    must follow _DRIVER_PRIORITY exactly (dict insertion order) and
    every priority name must resolve — a typo'd name silently drops a
    query from its evidence slot."""
    import __spark_entry__ as entrymod

    qs = entrymod.queries()
    pr = entrymod._DRIVER_PRIORITY
    missing = [n for n in pr if n not in qs]
    assert not missing, f"priority names not in queries(): {missing}"
    assert list(qs)[:50] == pr[:50]
    assert len(set(pr)) == len(pr), "duplicate names in _DRIVER_PRIORITY"
