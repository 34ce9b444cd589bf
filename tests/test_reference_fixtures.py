"""Replay the reference's OWN ground-truth artifacts through the engine.

Two fixture families tie the cascade and the changelog path grammar to
actual production data (real unicode names, ``{}``-quotable keys,
tombstone edits) rather than synthetic inputs:

- ``openplacereviews-core/src/test/resources/merge/places.json`` — 10
  (active, closed) pairs the reference bot MUST merge, and
  ``places_not_merge.json`` — pairs it must NOT merge
  (``MergePlaceBotTest.java:39-72``; in each pair element ``i`` is the
  active place and ``i+1`` the deleted one, per ``mergePlaces``'s
  ``(oldObj=places[i+1], placesToMerge=[places[i]])`` call shape).
- ``openplacereviews-boot/src/main/resources/patches/block_*.json`` —
  20 real production patch blocks (registered at
  ``OpenPlaceReviewsDbBoot.java:94-116``) replayed through the
  distributed ``apply_operations`` fold and cross-checked against a
  straight single-threaded Python fold of the same change maps.

The fixtures are read from the read-only reference checkout (override
with ``OPR_REFERENCE_DIR``); tests skip if it is absent so the repo
stays self-contained.
"""

from __future__ import annotations

import glob
import json
import os

import pytest

from pyspark.sql import functions as F

from openplacereviews_db_spark.functions.dialect import SPARK
from openplacereviews_db_spark.operators import changelog
from openplacereviews_db_spark.operators.place_merge import (
    MATCH_EMPTY, match_type,
)

REF_DIR = os.environ.get("OPR_REFERENCE_DIR", "/root/reference")
MERGE_DIR = os.path.join(
    REF_DIR, "openplacereviews-core/src/test/resources/merge")
PATCH_DIR = os.path.join(
    REF_DIR, "openplacereviews-boot/src/main/resources/patches")

pytestmark = pytest.mark.skipif(
    not os.path.isdir(MERGE_DIR), reason="reference checkout not available")


# ---------------------------------------------------------------------------
# merge pair fixtures
# ---------------------------------------------------------------------------

def _main_osm(obj: dict) -> dict | None:
    """MergeUtil.getMainOsmFromList (MergeUtil.java:210-228): first osm
    entry with lat/lon/osm_value and no tombstone; else the first
    tombstoned one."""
    main = None
    for m in obj.get("source", {}).get("osm", []):
        if "lat" in m and "lon" in m and "osm_value" in m:
            if "deleted" not in m:
                return m
            if main is None:
                main = m
    return main


def _tags(obj: dict) -> dict:
    m = _main_osm(obj)
    return (m or {}).get("tags") or {}


def _alt_names(tags: dict) -> list[str]:
    """MergeUtil.getOtherPlaceName: every ``name*`` tag plus old_name."""
    return [v for k, v in tags.items()
            if k.startswith("name") or k == "old_name"]


def _pairs(path: str) -> list[tuple[dict, dict]]:
    arr = json.load(open(path))
    assert len(arr) % 2 == 0
    # (active, closed) per MergePlaceBotTest's (places[i], places[i+1])
    return [(arr[i], arr[i + 1]) for i in range(0, len(arr), 2)]


def _cascade_df(spark, pairs):
    rows = []
    for idx, (active, closed) in enumerate(pairs):
        ta, tc = _tags(active), _tags(closed)
        rows.append((
            idx,
            tc.get("name"), ta.get("name"),
            tc.get("wikidata"), ta.get("wikidata"),
            tc.get("website"), ta.get("website"),
            _alt_names(tc), _alt_names(ta),
        ))
    df = spark.createDataFrame(
        rows,
        "idx int, c_name string, a_name string, c_wikidata string, "
        "a_wikidata string, c_website string, a_website string, "
        "c_alt array<string>, a_alt array<string>")
    return df.select(
        "idx",
        F.expr(match_type(
            SPARK, "c_name", "a_name", "c_wikidata", "a_wikidata",
            "c_website", "a_website", "c_alt", "a_alt",
        )).alias("match_type"))


def test_reference_merge_pairs_all_match(spark):
    pairs = _pairs(os.path.join(MERGE_DIR, "places.json"))
    got = {r["idx"]: r["match_type"]
           for r in _cascade_df(spark, pairs).collect()}
    unmatched = [i for i, mt in sorted(got.items()) if mt is None]
    assert not unmatched, (
        f"pairs the reference bot merges but the cascade missed: "
        f"{[(i, _tags(pairs[i][1]).get('name'), _tags(pairs[i][0]).get('name')) for i in unmatched]}"
    )


def test_reference_not_merge_pairs(spark):
    """places_not_merge.json pinned to the reference's EXECUTABLE
    behavior, not the filename's intent: the main names must fail
    NAME_MATCH (tier 1) — 'Masala'≠'Royal', 'Royal Masala Pub'≠'Royal
    Masala Cafe' under checkNames — but both pairs DO collide at
    OTHER_NAME_MATCH (tier 3) because they share old_name
    'La Gauchita' and getOtherPlaceName includes old_name
    (MergeUtil.java:127-135).  The reference's own testNotMergeByName
    (MergePlaceBotTest.java:64-71) asserts a NON-null merge result and
    reads from the positive array, so tier-3 collision is consistent
    with every executable artifact the reference ships."""
    pairs = _pairs(os.path.join(MERGE_DIR, "places_not_merge.json"))
    got = {r["idx"]: r["match_type"]
           for r in _cascade_df(spark, pairs).collect()}
    assert got == {0: 3, 1: 3}, got

    # and with old_name excluded, the cascade rejects outright —
    # the names alone never merge
    stripped = []
    for active, closed in pairs:
        a2 = json.loads(json.dumps(active))
        c2 = json.loads(json.dumps(closed))
        for o in (a2, c2):
            for m in o["source"]["osm"]:
                m.get("tags", {}).pop("old_name", None)
        stripped.append((a2, c2))
    got2 = {r["idx"]: r["match_type"]
            for r in _cascade_df(spark, stripped).collect()}
    assert got2 == {0: None, 1: None}, got2


# ---------------------------------------------------------------------------
# production patch replay
# ---------------------------------------------------------------------------

def _patch_edits():
    """(block_id, obj_id, change, current) per edit op across all
    block_*.json patch files."""
    out = []
    for path in sorted(glob.glob(os.path.join(PATCH_DIR, "block_*.json"))):
        block_id = int(os.path.basename(path)[len("block_"):-len(".json")])
        for op in json.load(open(path)):
            for edit in op.get("edit", []):
                out.append((block_id, ",".join(edit["id"]),
                            edit["change"], edit.get("current", {})))
    return out


def _seed_doc(current: dict) -> dict:
    """Rebuild the pre-edit document slice from the op's ``current``
    section (the reference stores the previous value of every touched
    path for optimistic concurrency)."""
    doc: dict = {}
    for path, value in current.items():
        changelog.apply_change_op(doc, path, {"set": value})
    return doc


def test_patch_paths_roundtrip():
    edits = _patch_edits()
    assert len(edits) >= 20  # 20 block files, at least one edit each
    n_paths = 0
    for _, _, change, current in edits:
        for path in list(change) + list(current):
            parts = changelog.parse_path(path)
            assert changelog.format_path(parts) == path, path
            n_paths += 1
    assert n_paths > 500  # real corpus, not a trivial sample


def test_patch_replay_matches_python_fold(spark):
    edits = _patch_edits()

    # expected: straight single-threaded fold, one doc per (block, id)
    expected = {}
    doc_rows, op_rows = [], []
    for seq, (block_id, obj_id, change, current) in enumerate(edits):
        key = f"{block_id}:{obj_id}"
        seed = _seed_doc(current)
        folded = changelog.apply_change_map(json.loads(json.dumps(seed)),
                                            change)
        expected[key] = changelog.dumps_sorted(folded)
        doc_rows.append((key, json.dumps(seed, ensure_ascii=False)))
        op_rows.append((key, block_id, seq, "edit", None,
                        json.dumps(change, ensure_ascii=False)))

    docs = spark.createDataFrame(doc_rows, "obj_id string, doc string")
    ops = spark.createDataFrame(
        op_rows,
        "obj_id string, block_id long, op_seq long, action string, "
        "doc string, change string")
    got = {r["obj_id"]: r["doc"]
           for r in changelog.apply_operations(docs, ops).collect()}

    assert set(got) == set(expected)
    mism = [k for k in expected if got[k] != expected[k]]
    assert not mism, (mism[:3], got.get(mism[0]) if mism else None)
