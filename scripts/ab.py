"""Interleaved A/B of contract queries in ONE Spark session.

Runs the named ``queries()`` entries at one sf dir under each variant,
R rounds.  Within a round each query runs under every variant back to
back, the variant order rotating by one place every round so each
variant runs first, second, ... equally often.  A variant is a label plus
settings, applied around the build and the collect of every sample and
restored afterwards:

    env:NAME=VALUE      set an environment variable
    env:NAME            unset it
    conf:KEY=VALUE      set a runtime Spark conf (a static conf fails as
                        ``spark.conf.set`` makes it fail)
    build:QUERY=MOD:ATTR  build QUERY with ``MOD.ATTR(spark, sf_dir)``
                        instead of the registry entry (old form vs new)

Every sample is appended as one JSON line to ``--out`` when it finishes,
so a killed at-scale session keeps what it ran.  A sample holds the
build wall and the py4j commands the build issued, the collect wall and
row count, the value fingerprint (``perfbench/fingerprint.py``), the
Spark counts of its job group (``perfbench/tracing.SparkProbe``: jobs,
stages, tasks, run/CPU/GC time, shuffle, spill, truncated), and load1,
steal and free space in the temp dir.  Between samples the session's
shuffle files, retained blocks and memory-sink views are released.

The summary gives per query and variant the median wall (build +
collect), its IQR and the rounds the variant won.  The exit status is 1
when a query's fingerprints differ across variants or rounds, or a
sample failed.  With one variant and one round this is the at-scale
session runner.

Usage:
    python scripts/ab.py SF_DIR NAMES [--rounds R] [--out FILE]
                         [--variant LABEL [SETTING ...]] ...

NAMES is a comma-separated list of query names, or ``all``.  Without
``--variant`` there is one variant, ``base``, with no settings.

Examples, with $TD the test-data directory:
    python scripts/ab.py $TD/sf0.1 dd_ngram_jaccard,dd_containment \\
        --rounds 5 --variant p32 conf:spark.sql.shuffle.partitions=32 \\
        --variant p12 conf:spark.sql.shuffle.partitions=12
    python scripts/ab.py $TD/sf0.01 all   # one pass: build py4j commands
"""
from __future__ import annotations

import argparse
import contextlib
import importlib
import json
import os
import shutil
import statistics
import sys
import tempfile
import time
from dataclasses import dataclass, field

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
if REPO not in sys.path:
    sys.path.insert(0, REPO)

from perfbench.fingerprint import fingerprint  # noqa: E402
from perfbench.tracing import (SparkProbe, host_cpu,  # noqa: E402
                               stream_listener)


@dataclass
class Variant:
    """``env`` values of ``None`` unset the variable; ``builds`` maps a
    query name to the ``module:attr`` of its builder."""
    name: str
    env: dict = field(default_factory=dict)
    conf: dict = field(default_factory=dict)
    builds: dict = field(default_factory=dict)


def parse_variant(label: str, settings: list[str]) -> Variant:
    v = Variant(label)
    for s in settings:
        kind, _, rest = s.partition(":")
        key, eq, value = rest.partition("=")
        if kind == "env" and key:
            v.env[key] = value if eq else None
        elif kind == "conf" and key and eq:
            v.conf[key] = value
        elif kind == "build" and key and ":" in value:
            v.builds[key] = value
        else:
            raise SystemExit(f"ab.py: bad setting {s!r} in variant {label}")
    return v


def resolve(builder: str):
    module, _, attr = builder.partition(":")
    obj = importlib.import_module(module)
    for part in attr.split("."):
        obj = getattr(obj, part)
    return obj


@contextlib.contextmanager
def applied(spark, v: Variant):
    """Apply ``v``'s env and conf; restore the previous values on exit,
    also when applying fails part way."""
    undo = []
    try:
        for k, val in v.env.items():
            undo.append((os.environ, k, os.environ.get(k)))
            if val is None:
                os.environ.pop(k, None)
            else:
                os.environ[k] = val
        for k, val in v.conf.items():
            prev = spark.conf.get(k, None)
            spark.conf.set(k, val)
            undo.append((spark.conf, k, prev))
        yield
    finally:
        for target, k, prev in reversed(undo):
            if target is os.environ:
                if prev is None:
                    os.environ.pop(k, None)
                else:
                    os.environ[k] = prev
            elif prev is None:
                spark.conf.unset(k)
            else:
                spark.conf.set(k, prev)


@contextlib.contextmanager
def counting_py4j():
    """Count py4j commands sent from this process while active."""
    import py4j.clientserver as cs
    import py4j.java_gateway as jg

    counter = [0]
    saved = [(cls, cls.send_command)
             for cls in (cs.ClientServerConnection, jg.GatewayConnection)]
    for cls, orig in saved:
        def patched(self, *a, _orig=orig, **k):
            counter[0] += 1
            return _orig(self, *a, **k)
        cls.send_command = patched
    try:
        yield counter
    finally:
        for cls, orig in saved:
            cls.send_command = orig


def _quartiles(xs: list[float]) -> tuple[float, float]:
    if len(xs) < 2:
        return xs[0], xs[0]
    q = statistics.quantiles(xs, n=4, method="inclusive")
    return q[0], q[2]


def summarize(samples: list[dict], variants: list[str],
              rounds: int) -> dict:
    """Per query: equal fingerprints, and per variant the median wall,
    IQR, wins out of ``rounds``, median build commands and build s."""
    out: dict = {}
    for q in dict.fromkeys(s["query"] for s in samples):
        qs = [s for s in samples if s["query"] == q]
        fps = {s.get("fp") for s in qs}
        entry: dict = {"equal": len(fps) == 1 and None not in fps,
                       "variants": {}}
        walls = {(s["round"], s["variant"]): s["wall_s"]
                 for s in qs if "wall_s" in s}
        for v in variants:
            xs = sorted(w for (r, vv), w in walls.items() if vv == v)
            vs = [s for s in qs if s["variant"] == v and "wall_s" in s]
            if not xs:
                entry["variants"][v] = {"n": 0}
                continue
            # a round counts for v only when v is strictly fastest in
            # it; a tie counts for no one
            wins = sum(
                1 for r in range(rounds)
                if (r, v) in walls and all(
                    walls[(r, v)] < w for (rr, vv), w in walls.items()
                    if rr == r and vv != v))
            q1, q3 = _quartiles(xs)
            entry["variants"][v] = {
                "n": len(xs), "median_s": statistics.median(xs),
                "q1_s": q1, "q3_s": q3, "wins": wins,
                "build_s": statistics.median(s["build_s"] for s in vs),
                "build_cmds": statistics.median(s["build_cmds"] for s in vs),
            }
        out[q] = entry
    return out


def run(spark, sf_dir: str, names: list[str], variants: list[Variant],
        rounds: int, out: str | None = None, log=sys.stderr) -> dict:
    """Warm up, then run ``rounds`` interleaved rounds.  Returns
    ``{"samples": [...], "summary": {...}, "equal": bool}``."""
    import __spark_entry__ as entrymod
    from openplacereviews_db_spark.session import (drop_sink_views,
                                                   release_shuffles, warm_up)

    registry = entrymod.queries()
    unknown = [n for n in names if n not in registry]
    if unknown:
        raise KeyError(f"unknown queries: {unknown}")
    builders = {v.name: {q: resolve(v.builds[q]) if q in v.builds
                         else registry[q] for q in names}
                for v in variants}
    for v in variants:
        with applied(spark, v):
            warm_up(spark, sf_dir, builders[v.name], log=log)

    sc = spark.sparkContext
    probe = SparkProbe(spark)
    listener, events = stream_listener(spark)
    samples: list[dict] = []
    sink = open(out, "a", buffering=1) if out else None
    try:
        with counting_py4j() as cmds:
            for r in range(rounds):
                k = r % len(variants)
                for q in names:
                    for v in variants[k:] + variants[:k]:
                        s = sample(spark, sc, probe, events, cmds, v,
                                   builders[v.name][q], sf_dir, q, r,
                                   len(samples))
                        release_shuffles(spark, settle_s=60.0)
                        drop_sink_views(spark)
                        samples.append(s)
                        if sink:
                            sink.write(json.dumps(s) + "\n")
                        print(f"# r{r} {v.name} {q}: "
                              f"{s.get('wall_s', 'ERROR')}s "
                              f"rows={s.get('rows')} fp={s.get('fp')} "
                              f"cmds={s.get('build_cmds')}",
                              file=log, flush=True)
    finally:
        spark.streams.removeListener(listener)
        if sink:
            sink.close()
    summary = summarize(samples, [v.name for v in variants], rounds)
    return {"samples": samples, "summary": summary,
            "equal": all(e["equal"] for e in summary.values())}


def sample(spark, sc, probe, events, cmds, v: Variant, fn, sf_dir: str,
           q: str, r: int, n: int) -> dict:
    """One build + collect of ``q`` under ``v``, with its profile."""
    group = f"ab-{n}"
    rec: dict = {"query": q, "variant": v.name, "round": r}
    probe.drain()
    n_events = len(events)
    steal0, total0 = host_cpu()
    t0 = time.time()
    try:
        with applied(spark, v):
            sc.setJobGroup(group, q)
            try:
                c0, b0 = cmds[0], time.perf_counter()
                df = fn(spark, sf_dir)
                b1, c1 = time.perf_counter(), cmds[0]
                rows = df.collect()
                b2 = time.perf_counter()
                rec.update(build_s=round(b1 - b0, 4), build_cmds=c1 - c0,
                           collect_s=round(b2 - b1, 4),
                           wall_s=round(b2 - b0, 4), rows=len(rows),
                           fp=fingerprint(df.columns, rows))
            finally:
                sc.setJobGroup(None, None)
    except Exception as ex:  # recorded; the run goes on and exits 1
        rec["error"] = f"{type(ex).__name__}: {ex}"[:500]
    df = rows = None
    probe.drain()
    run_ids = {e["run_id"] for e in events[n_events:] if e["kind"] == "start"}
    spark_counts = probe.read({group} | run_ids, t0 * 1e3)
    spark_counts["jobs"] = len(spark_counts["jobs"])
    steal1, total1 = host_cpu()
    rec.update(spark_counts, load1=os.getloadavg()[0],
               steal_pct=round(100.0 * (steal1 - steal0)
                               / max(total1 - total0, 1), 2),
               tmp_free_gb=round(shutil.disk_usage(
                   tempfile.gettempdir()).free / 2**30, 1))
    return rec


def print_summary(summary: dict, variants: list[str], rounds: int) -> None:
    print(f"{'query':28s} {'variant':12s} {'median_s':>9s} "
          f"{'IQR_s':>15s} {'wins':>6s} {'build_s':>8s} {'cmds':>7s}")
    for q, e in summary.items():
        for v in variants:
            d = e["variants"][v]
            if not d["n"]:
                print(f"{q:28s} {v:12s} {'ERROR':>9s}")
                continue
            print(f"{q:28s} {v:12s} {d['median_s']:9.3f} "
                  f"{d['q1_s']:7.3f}-{d['q3_s']:<7.3f} "
                  f"{d['wins']:>3d}/{rounds:<2d} {d['build_s']:8.3f} "
                  f"{d['build_cmds']:7.0f}")
        if not e["equal"]:
            print(f"{q:28s} FINGERPRINTS DIFFER")
    for v in variants:
        ds = [e["variants"][v] for e in summary.values()
              if e["variants"][v]["n"]]
        print(f"# {v}: {len(ds)} queries, summed median wall "
              f"{sum(d['median_s'] for d in ds):.3f} s, summed median "
              f"build cmds {sum(d['build_cmds'] for d in ds):.0f}")


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(
        prog="ab.py", description=__doc__.split("\n\n")[0])
    ap.add_argument("sf_dir")
    ap.add_argument("names", help="comma-separated query names, or all")
    ap.add_argument("--rounds", type=int, default=1)
    ap.add_argument("--out", default=os.path.join(
        tempfile.gettempdir(), "ab_samples.jsonl"),
        help="JSON-lines file the samples are appended to")
    ap.add_argument("--variant", nargs="+", action="append", default=[],
                    metavar=("LABEL", "SETTING"))
    ns = ap.parse_args(argv)
    variants = [parse_variant(v[0], v[1:]) for v in ns.variant] \
        or [Variant("base")]
    if len({v.name for v in variants}) != len(variants):
        raise SystemExit("ab.py: variant labels must differ")

    import __spark_entry__ as entrymod
    from openplacereviews_db_spark.session import get_spark

    names = (list(entrymod.queries()) if ns.names == "all"
             else ns.names.split(","))
    spark = get_spark("ab", sf_dir=ns.sf_dir)
    spark.sparkContext.setLogLevel("ERROR")
    try:
        res = run(spark, ns.sf_dir, names, variants, ns.rounds, out=ns.out)
    finally:
        spark.stop()
    print_summary(res["summary"], [v.name for v in variants], ns.rounds)
    failed = sum("error" in s for s in res["samples"])
    print(f"# samples in {ns.out}; {failed} failed; fingerprints "
          f"{'equal' if res['equal'] else 'DIFFER'}")
    return 0 if res["equal"] and not failed else 1


if __name__ == "__main__":
    sys.exit(main())
