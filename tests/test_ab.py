"""scripts/ab.py, run in-process on the session fixture at sf0.001: equal
values across variants pass, a changed value is reported, and the
session's conf and the process environment are restored afterwards."""
from __future__ import annotations

import importlib.util
import io
import os
import sys

import pyspark.sql.functions as F

from conftest import REPO

QUERY = "q1_pricing_summary"  # one shuffle on a small group key


def _ab():
    spec = importlib.util.spec_from_file_location(
        "ab", REPO / "scripts" / "ab.py")
    mod = importlib.util.module_from_spec(spec)
    sys.modules["ab"] = mod  # dataclasses resolve annotations through it
    spec.loader.exec_module(mod)
    return mod


def _one_count_bumped(spark, sf_dir):
    """q1 with count_order of the (A, F) group off by one."""
    import __spark_entry__ as entrymod

    df = entrymod.queries()[QUERY](spark, sf_dir)
    hit = (F.col("l_returnflag") == "A") & (F.col("l_linestatus") == "F")
    return df.withColumn("count_order", F.when(
        hit, F.col("count_order") + 1).otherwise(F.col("count_order")))


def test_conf_variants_equal_and_state_restored(spark, sf_dir, tmp_path):
    ab = _ab()
    parts = spark.conf.get("spark.sql.shuffle.partitions")
    env = dict(os.environ)
    out = tmp_path / "samples.jsonl"
    log = io.StringIO()
    res = ab.run(spark, sf_dir, [QUERY], [
        ab.Variant("p1", conf={"spark.sql.shuffle.partitions": "1"},
                   env={"AB_TEST_MARKER": "1"}),
        ab.Variant("p7", conf={"spark.sql.shuffle.partitions": "7"}),
    ], rounds=2, out=str(out), log=log)
    assert res["equal"], res["summary"]
    samples = res["samples"]
    assert [(s["round"], s["variant"]) for s in samples] == [
        (0, "p1"), (0, "p7"), (1, "p7"), (1, "p1")]
    assert len(out.read_text().splitlines()) == 4
    for s in samples:
        assert "error" not in s, s
        assert s["rows"] > 0 and s["build_cmds"] > 0
        assert s["jobs"] >= 1 and s["tasks"] >= 1 and not s["truncated"]
    summary = res["summary"][QUERY]["variants"]
    assert summary["p1"]["wins"] + summary["p7"]["wins"] <= 2
    # the fixture runs at the warm-up sf, so the codegen pass says it
    # was skipped instead of skipping silently
    assert "warmup pass skipped" in log.getvalue()
    assert spark.conf.get("spark.sql.shuffle.partitions") == parts
    assert dict(os.environ) == env


def test_changed_value_is_reported(spark, sf_dir):
    ab = _ab()
    res = ab.run(spark, sf_dir, [QUERY], [
        ab.Variant("registry"),
        ab.Variant("bumped",
                   builds={QUERY: f"{__name__}:_one_count_bumped"}),
    ], rounds=1)
    assert not res["equal"]
    fps = {s["variant"]: s["fp"] for s in res["samples"]}
    assert fps["registry"] != fps["bumped"]
    assert fps["registry"].split(":")[0] == fps["bumped"].split(":")[0]


def test_summarize_tie_counts_for_no_one():
    ab = _ab()

    def smp(r, v, wall):
        return {"query": "q", "round": r, "variant": v, "fp": "f",
                "wall_s": wall, "build_s": 0.1, "build_cmds": 5}

    summary = ab.summarize([smp(0, "a", 1.0), smp(0, "b", 1.0),
                            smp(1, "a", 0.5), smp(1, "b", 0.9)],
                           ["a", "b"], rounds=2)["q"]
    assert summary["equal"]
    assert summary["variants"]["a"]["wins"] == 1
    assert summary["variants"]["b"]["wins"] == 0
