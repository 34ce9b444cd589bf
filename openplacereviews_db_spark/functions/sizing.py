"""Bytes-derived per-exchange partition sizing (guide §2.2/§2.4).

The r14 measurement chain (OPTIMIZATION_r14.md "per-partition constant
tail") isolated a real ~1-1.7 s/heavy-query cost at bench scale from
running every exchange at the session partition count (= cores): the
same 19 stages run 400 tasks at 32 partitions vs 157 at 12, each task
paying ~20-30 ms of launch/deserialize constants on sub-MB shuffles
(`evidence/r14_ab_shuffle_parts.json`,
`evidence/r14_stage_attrib_dd_ngram_jaccard.json`).
The empirical optimum is ~8-12 partitions in the tiny-data regime and
~cores at scale (the r13/r14 sf10/sf100 sessions all ran at 32).

:func:`small_exchange_parts` is the batch analog of streaming's
``_batch_shuffle_partitions`` (streaming/pipelines.py): derive the
operator's exchange partition count from its INPUT bytes, floor it for
parallelism, and — decisive for at-scale safety — return ``None`` as
soon as the derived count reaches the session setting, so the operator
keeps today's session-partitioned plan unchanged in every at-scale
regime.  Only the tiny-data regime (where the per-task constants are
the measured cost) gets pinned exchanges.  ``None`` passthrough also
preserves AQE skew-join splitting at scale: a user ``repartition(n)``
shuffle is not skew-splittable (user-specified counts are final), while
the ENSURE_REQUIREMENTS exchanges it would replace are.

NOT a session constant: the count adapts to the data decade via the
source bytes and to the deployment via ``spark.sql.shuffle.partitions``
(cluster-sized on a cluster, ``SPARK_GRAFT_CPUS`` locally), with an
explicit env override for deployments that know better.
"""

from __future__ import annotations

import math
import os

from pyspark.sql import SparkSession


def path_bytes(path: str) -> int | None:
    """On-disk bytes of a file or directory tree (staged parquet dirs,
    scale-corpus table directories); ``None`` when the path does not
    exist, so the caller keeps the unpinned at-scale plan."""
    if not os.path.exists(path):
        return None
    if os.path.isfile(path):
        return os.path.getsize(path)
    total = 0
    for root, _dirs, files in os.walk(path):
        for f in files:
            try:
                total += os.path.getsize(os.path.join(root, f))
            except OSError:
                pass
    return total


def table_bytes(sf_dir: str, table: str) -> int | None:
    """On-disk bytes of ``<sf_dir>/<table>.parquet`` (file or directory
    of part files — the /tmp scale corpora are directories)."""
    return path_bytes(os.path.join(sf_dir, f"{table}.parquet"))


def small_exchange_parts(spark: SparkSession, nbytes: int | None,
                         per_part_bytes: int = 1 << 20,
                         floor: int = 8) -> int | None:
    """Partition count for a small-input operator's exchanges, or
    ``None`` to keep the session-partitioned plan.

    ``nbytes`` is the operator's source bytes (compressed parquet); the
    1 MiB/partition default reaches the session count by ~32 MB of
    source — i.e. pinning engages only in the regime where r14 measured
    task constants dominating (sub-MB shuffle partitions), and every
    at-scale plan (sf10/sf100 sessions, cluster deployments) is
    byte-identical to the unpinned form.  ``nbytes=None`` (source not
    found) keeps the session plan.  ``SPARK_GRAFT_VERIFY_SHUFFLE``
    overrides (0 = never pin); a non-integer value raises."""
    env = os.environ.get("SPARK_GRAFT_VERIFY_SHUFFLE")
    if env is not None and env != "":
        try:
            n = int(env)
        except ValueError:
            raise ValueError(
                "SPARK_GRAFT_VERIFY_SHUFFLE must be an integer partition "
                f"count (0 = never pin), got {env!r}") from None
        return n if n > 0 else None
    if nbytes is None:
        return None
    session = int(spark.conf.get("spark.sql.shuffle.partitions"))
    n = max(floor, math.ceil(nbytes / max(per_part_bytes, 1)))
    return None if n >= session else n
