"""The benchmark's workloads: fixed request lists over the engine's
``__spark_entry__.queries()`` callables, one closed-loop client each.

Every request type appears once per pass, so the pooled latencies are a
mixture of equal-weight per-type bands.  A pooled percentile is steady
only when its rank falls inside one type's band, not on the boundary
between two: with five types the median rank sits in the middle of the
third type's block, and ``run.TAIL`` = 3.5/5 in the middle of the fourth
type's block, whatever the pass count.
"""

from __future__ import annotations

from dataclasses import dataclass


@dataclass(frozen=True)
class Workload:
    requests: tuple[str, ...]
    #: untimed passes at the end of set-up.  The first pass in a fresh
    #: JVM is 3-5x slower than later ones, and the passes after it keep
    #: getting faster until JIT settles: a 19-pass places_api run went
    #: 3.9, 4.0, 3.6, 3.3 s, then 2.6-3.4 s with no trend.  A batch_bots
    #: pass takes twice as long, so a second warm pass does not fit the
    #: run's time budget; the median of its three timed passes skips the
    #: first, which is still 10-15 % slow.
    warm_passes: int
    #: requests whose first call builds a write-once staged artifact;
    #: set-up calls each once before the warm passes, so the build lands
    #: in ``sources.stage_s``
    staged: tuple[str, ...] = ()


WORKLOADS: dict[str, Workload] = {
    # Interactive: the public geo / geoall read API.  Driver-side plan
    # build is a large share of the wall; no stream, and only p7 runs
    # Python.
    "places_api": Workload(
        requests=("geo_tile_report", "geoall_area_summary", "g8_zcell_scan",
                  "g13_hex_bin", "p7_review_candidates"),
        warm_passes=3),
    # Batch: a dedup bot (LSH candidate join plus verify), the photo-hash
    # merge bot (Arrow kernel plus connected components), an upsert
    # computed in memory, an aggregate over the compacted event files
    # (staged and compacted once, in set-up), and an availableNow stream
    # writing its sink, checkpoint and state store, the only writes of a
    # timed pass.
    "batch_bots": Workload(
        requests=("dd_minhash_lsh", "mm_phash_groups", "s15_merge_upsert",
                  "x63_compact_roundtrip", "st_event_rollup"),
        warm_passes=1, staged=("x63_compact_roundtrip",)),
}
