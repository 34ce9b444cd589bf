"""driver_mem_for sizes the single-JVM harness heap to the data decade
(r10: 8 GiB dies at sf10, 32 GiB completes — BASELINE.md decade→heap).
Sparse files keep the big-decade case cheap: getsize reports apparent
size, which is what a parquet dir reports too.
"""
from __future__ import annotations

import os

from openplacereviews_db_spark.session import driver_mem_for


def _mk(dirpath, name, mb):
    p = os.path.join(dirpath, name)
    with open(p, "wb") as f:
        f.truncate(mb * 2**20)


def test_small_decades_stay_at_8g(tmp_path):
    _mk(tmp_path, "a.parquet", 17)  # ~sf0.1
    assert driver_mem_for(str(tmp_path)) == "8g"
    assert driver_mem_for(None) == "8g"
    assert driver_mem_for(str(tmp_path / "missing")) == "8g"


def test_decade_scaling_and_clamp(tmp_path):
    _mk(tmp_path, "a.parquet", 150)  # ~sf1 → still 8g (r10: ran at 8g)
    assert driver_mem_for(str(tmp_path)) == "8g"
    _mk(tmp_path, "b.parquet", 1300)  # ~sf10 total ≈ 1.45 GB → 32g
    assert driver_mem_for(str(tmp_path)) == "32g"
    _mk(tmp_path, "c.parquet", 14000)  # ~sf100 → clamped at 48g
    assert driver_mem_for(str(tmp_path)) == "48g"


def test_env_override_wins(tmp_path, monkeypatch):
    _mk(tmp_path, "a.parquet", 5000)
    monkeypatch.setenv("SPARK_GRAFT_DRIVER_MEM", "12g")
    assert driver_mem_for(str(tmp_path)) == "12g"


def test_release_shuffles_frees_finished_query_files(spark):
    """Shuffle files of finished queries must be reclaimable inside a
    live JVM: unpersist/clearCache leave them on /tmp until a GC lets
    the ContextCleaner unregister the ShuffleDependency, and a
    multi-query at-scale session otherwise accumulates to ENOSPC
    (r11: sf100 wave-2 died after 14 kernels).  release_shuffles runs
    the GC rounds and polls the block-manager dirs; at least 70% of the
    finished query's shuffle bytes must come back."""
    from openplacereviews_db_spark.session import (blockmgr_bytes,
                                                   release_shuffles)

    base = blockmgr_bytes(spark)
    df = (spark.range(0, 2_000_000)
          .selectExpr("id % 1000 AS k", "id AS v")
          .repartition(8, "k"))
    assert df.groupBy("k").count().count() == 1000
    peak = blockmgr_bytes(spark)
    assert peak > base, "test query produced no shuffle files"
    df = None
    freed = release_shuffles(spark)
    after = blockmgr_bytes(spark)
    assert freed >= 0.7 * (peak - base), (base, peak, freed, after)


def test_call_site_capture_is_off(spark):
    """Plan build is py4j-bound; call-site capture about doubles a
    build's py4j commands (session.py)."""
    assert spark.conf.get(
        "spark.python.sql.dataFrameDebugging.enabled") == "false"


def test_bad_cpus_names_the_variable(monkeypatch):
    """SPARK_GRAFT_CPUS is read once, in get_spark, before any session
    is built: a value that is not a positive integer fails there, by
    name, instead of at import or as local[0]."""
    import pytest

    from openplacereviews_db_spark.session import get_spark

    for bad in ("abc", "0", "-2", "2.5"):
        monkeypatch.setenv("SPARK_GRAFT_CPUS", bad)
        with pytest.raises(ValueError, match="SPARK_GRAFT_CPUS"):
            get_spark("bad-cpus")


def test_cpus_sets_the_master(spark):
    """The session fixture passes shuffle_partitions=8 explicitly; its
    core count still comes from SPARK_GRAFT_CPUS (default 32)."""
    cpus = os.environ.get("SPARK_GRAFT_CPUS") or "32"
    assert spark.sparkContext.master == f"local[{cpus}]"
