"""Closed-loop benchmark of the engine's three kinds of traffic.

One client with one request in flight drives a ``local[<cpus>]``
session.  A request is ``fn(spark, sf_dir)`` (build) plus ``.collect()``,
and its result must match the fingerprint the DuckDB oracle gives for the
same inputs (``expected.json``).  Each pass runs every request of the
workload once, in an order drawn from ``--seed``; passes repeat until
``--seconds`` have elapsed and at least ``MIN_PASSES`` ran.

    python3 perfbench/run.py --cpus 4 --sf sf0.01 --driver-memory 4g \\
        --workload places_api --seed 1 --seconds 15 --trace 0

The last stdout line is one JSON object.  ``--trace 0`` reports the
end-to-end metrics; ``--trace 1`` runs the same passes with probes around
every request and reports the per-layer metrics instead.  Spans go to
``.perfbench/spans/`` in the checkout.  Every run starts from an empty
work directory, so the program's write-once staging caches are rebuilt
inside set-up on every run.
"""

from __future__ import annotations

import argparse
import gc
import json
import os
import random
import shutil
import statistics
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(ROOT, ".perfbench")

sys.path.insert(0, HERE)
from fingerprint import fingerprint  # noqa: E402
from tracing import (SparkProbe, Tracer, covered, host_cpu,  # noqa: E402
                     proc_sample, stream_listener)
from workloads import WORKLOADS  # noqa: E402

MB = 2 ** 20
#: pooled-latency percentile reported as ``req_tail_s``: with five
#: request types, the middle of the fourth type's block
TAIL = 3.5 / 5
#: timed passes always run, even past ``--seconds``
MIN_PASSES = 3


def fail(msg: str) -> None:
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def percentile(values: list[float], p: float) -> float:
    """Linear interpolation between the order statistics around rank
    ``p * (n - 1)``."""
    xs = sorted(values)
    pos = p * (len(xs) - 1)
    lo = int(pos)
    hi = min(lo + 1, len(xs) - 1)
    return xs[lo] + (xs[hi] - xs[lo]) * (pos - lo)


def pin_environment(args) -> str:
    """Fix the execution shape and keep every file the run writes inside
    the checkout.  Returns the input directory."""
    if not os.path.isfile(os.path.join(ROOT, "__spark_entry__.py")) or \
            not os.path.isdir(os.path.join(ROOT, "openplacereviews_db_spark")):
        fail(f"the program is not in {ROOT}")
    if len(os.sched_getaffinity(0)) < args.cpus:
        fail(f"{len(os.sched_getaffinity(0))} usable cores, the benchmark "
             f"is pinned to {args.cpus}")
    sf_dir = os.path.join(HERE, "data", args.sf)
    if not os.path.isdir(sf_dir):
        fail(f"no inputs at {sf_dir}")

    run_dir = os.path.join(WORK, "run")
    shutil.rmtree(run_dir, ignore_errors=True)
    for d in ("tmp", "local", "warehouse"):
        os.makedirs(os.path.join(run_dir, d))
    os.makedirs(os.path.join(WORK, "spans"), exist_ok=True)

    for k in [k for k in os.environ if k.startswith("SPARK_GRAFT_")]:
        del os.environ[k]
    os.environ["SPARK_GRAFT_CPUS"] = str(args.cpus)
    os.environ["SPARK_GRAFT_DRIVER_MEM"] = args.driver_memory
    tmp = os.path.join(run_dir, "tmp")
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(run_dir, "local")
    os.environ["PYSPARK_SUBMIT_ARGS"] = (
        f"--conf spark.sql.warehouse.dir={os.path.join(run_dir, 'warehouse')}"
        f" --driver-java-options -Djava.io.tmpdir={tmp} pyspark-shell")
    # Python workers import the program from the checkout
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p)
    import tempfile
    tempfile.tempdir = None
    os.chdir(ROOT)
    sys.path.insert(0, ROOT)
    return sf_dir


class Bench:
    def __init__(self, args, sf_dir: str) -> None:
        self.args = args
        self.sf_dir = sf_dir
        self.workload = WORKLOADS[args.workload]
        with open(os.path.join(HERE, "expected.json")) as f:
            expected = json.load(f).get(args.sf, {})
        missing = [n for n in self.workload.requests if n not in expected]
        if missing:
            fail(f"no expected fingerprint for {missing} at {args.sf}")
        self.expected = expected
        self.rng = random.Random(args.seed)
        self.tracer = Tracer()
        self.records: list[dict] = []
        self.attempted = self.failed = 0

    # -- set-up -----------------------------------------------------------

    def setup(self) -> dict:
        from pyspark import SparkContext

        t0 = time.perf_counter()
        from openplacereviews_db_spark.session import get_spark
        import __spark_entry__ as entry
        from openplacereviews_db_spark.sources.testdata import (TABLES,
                                                                load_table)

        self.spark = get_spark("perfbench", sf_dir=self.sf_dir)
        self.spark.sparkContext.setLogLevel("ERROR")
        self.jvm_pid = SparkContext._gateway.proc.pid
        t1 = time.perf_counter()
        for t in TABLES:
            load_table(self.spark, t, self.sf_dir).schema
        t2 = time.perf_counter()
        queries = entry.queries()
        self.fns = {n: queries[n] for n in self.workload.requests}
        for name in self.workload.staged:
            self.fns[name](self.spark, self.sf_dir).collect()
            self.cleanup()
        t3 = time.perf_counter()
        if self.args.trace:
            self.probe = SparkProbe(self.spark)
            # the JVM calls back into this object: keep it referenced
            self.listener, self.stream_events = stream_listener(self.spark)
        for _ in range(self.workload.warm_passes):
            self.run_pass(-1)
        t4 = time.perf_counter()
        return {"session.start_s": t1 - t0, "sources.load_s": t2 - t1,
                "sources.stage_s": t3 - t2, "setup.warm_pass_s": t4 - t3,
                "setup_s": t4 - t0}

    # -- requests ---------------------------------------------------------

    def cleanup(self) -> None:
        spark = self.spark
        spark.catalog.clearCache()
        it = (spark.sparkContext._jsc.sc()
              .getPersistentRDDs().values().iterator())
        while it.hasNext():
            it.next().unpersist(False)
        gc.collect()

    def run_pass(self, pass_no: int) -> None:
        order = list(self.workload.requests)
        self.rng.shuffle(order)
        with self.tracer.span("pass", n=pass_no) as ps:
            for name in order:
                self.run_request(name, ps, timed=pass_no >= 0)

    def run_request(self, name: str, ps: dict, timed: bool) -> None:
        tr, sc = self.tracer, self.spark.sparkContext
        rec = {"request": name, "pass": ps["n"], "ok": False}
        with tr.span("request", ps, request=name) as rs:
            group = f"perfbench-{rs['id']}"
            if self.args.trace:
                with tr.span("trace", rs):
                    self.probe.drain()
                    n_events = len(self.stream_events)
                    before = proc_sample(self.jvm_pid)
            sc.setJobGroup(group, name)
            w0 = time.time()
            try:
                with tr.span("build", rs) as b:
                    df = self.fns[name](self.spark, self.sf_dir)
                w1 = time.time()
                with tr.span("collect", rs) as c:
                    rows = df.collect()
                w2 = time.time()
                got = fingerprint(df.columns, rows)
                rec["ok"] = got == self.expected[name]
                if not rec["ok"]:
                    print(f"perfbench: {name} fingerprint {got}, expected "
                          f"{self.expected[name]}", file=sys.stderr)
                rec.update(build_s=b["end"] - b["start"],
                           collect_s=c["end"] - c["start"])
            except Exception as ex:  # a failed request is counted, not fatal
                print(f"perfbench: {name} failed: {ex!r}", file=sys.stderr)
                w1 = w2 = time.time()
            finally:
                sc.setJobGroup(None, None)
            df = rows = None
            if self.args.trace:
                with tr.span("trace", rs):
                    rec.update(self.probe_request(group, w0, w1, w2, before,
                                                  n_events))
            with tr.span("cleanup", rs) as cl:
                self.cleanup()
            rec["cleanup_s"] = cl["end"] - cl["start"]
        rec["self_s"] = tr.self_time(rs)
        rec["probe_s"] = sum(c["end"] - c["start"] for c in tr.children(rs)
                             if c["name"] == "trace")
        rs.update(rec)
        if timed:
            self.attempted += 1
            self.failed += not rec["ok"]
            self.records.append(rec)

    def probe_request(self, group, w0, w1, w2, before, n_events) -> dict:
        # the listener bus is asynchronous: deliver every event the
        # request caused before reading the store and the stream events
        self.probe.drain()
        events = self.stream_events[n_events:]
        after = proc_sample(self.jvm_pid)
        run_ids = {e["run_id"] for e in events if e["kind"] == "start"}
        if len(run_ids) != sum(e["kind"] == "end" for e in events):
            print(f"perfbench: a stream of {group} did not terminate inside "
                  "the request", file=sys.stderr)
        spark = self.probe.read({group} | run_ids, w0 * 1e3)
        if spark["truncated"]:
            print(f"perfbench: the status store no longer holds every job "
                  f"and stage of {group}", file=sys.stderr)
        jobs = spark.pop("jobs")
        build_jobs = [(a, b) for a, b in jobs if a <= w1 * 1e3]
        progress = [e for e in events if e["kind"] == "progress"]
        trigger_s = sum(e["trigger_ms"] for e in progress) / 1e3
        return {
            **spark, "jobs": len(jobs), "build_jobs": len(build_jobs),
            "build_driver_s": (w1 - w0) - covered(
                build_jobs, w0 * 1e3, w1 * 1e3) / 1e3,
            "py_cpu_s": after["py_cpu_s"] - before["py_cpu_s"],
            "read_b": after["read_b"] - before["read_b"],
            "write_b": after["write_b"] - before["write_b"],
            "batches": len(progress), "trigger_s": trigger_s,
            "commit_s": sum(e["commit_ms"] for e in progress) / 1e3,
            "outside_s": (w2 - w0) - trigger_s if run_ids else 0.0,
        }

    # -- measurement ------------------------------------------------------

    def measure(self) -> int:
        steal0, total0 = host_cpu()
        t0 = time.perf_counter()
        n = 0
        while n < MIN_PASSES or \
                time.perf_counter() - t0 < self.args.seconds:
            self.run_pass(n)
            n += 1
        steal1, total1 = host_cpu()
        self.host = {"host.steal_pct": (100.0 * (steal1 - steal0)
                                        / max(total1 - total0, 1), "%"),
                     "host.load1": (os.getloadavg()[0], "load")}
        return n

    def pass_sums(self, key) -> list[float]:
        """Per timed pass, the sum of ``key(record)`` over its requests."""
        sums: dict[int, float] = {}
        for r in self.records:
            sums[r["pass"]] = sums.get(r["pass"], 0.0) + key(r)
        return list(sums.values())

    def pass_walls(self) -> list[float]:
        """Wall clock of every timed pass, probes included when tracing."""
        return [s["end"] - s["start"] for s in self.tracer.spans
                if s["name"] == "pass" and s["n"] >= 0]

    def end_to_end(self, setup: dict) -> dict:
        lat = [r["build_s"] + r["collect_s"] for r in self.records if r["ok"]]
        if not lat:
            return {}
        return {
            "setup_s": (setup["setup_s"], "s"),
            "pass_s": (statistics.median(self.pass_walls()), "s"),
            "req_p50_s": (statistics.median(lat), "s"),
            "req_tail_s": (percentile(lat, TAIL), "s"),
        }

    def per_layer(self, setup: dict) -> dict:
        def med(key) -> float:
            return statistics.median(self.pass_sums(
                lambda r: r.get(key, 0) if r["ok"] else 0))

        def ratio(num, den) -> float:
            return statistics.median(
                a / b if b else 0.0
                for a, b in zip(self.pass_sums(lambda r: r.get(num, 0)),
                                self.pass_sums(lambda r: r.get(den, 0))))

        m = {
            "plans.build_s": (med("build_s"), "s"),
            "plans.build_driver_s": (med("build_driver_s"), "s"),
            "plans.build_jobs": (med("build_jobs"), "count"),
            "exec.collect_s": (med("collect_s"), "s"),
            "exec.jobs": (med("jobs"), "count"),
            "exec.stages": (med("stages"), "count"),
            "exec.tasks": (med("tasks"), "count"),
            "exec.run_s": (med("run_s"), "s"),
            "exec.cpu_s": (med("cpu_s"), "s"),
            "exec.gc_s": (med("gc_s"), "s"),
            "exec.cpu_per_run": (ratio("cpu_s", "run_s"), "ratio"),
            "exec.shuffle_write_mb": (med("shuffle_write_b") / MB, "MB"),
            "exec.shuffle_read_mb": (med("shuffle_read_b") / MB, "MB"),
            "exec.fetch_wait_s": (med("fetch_wait_s"), "s"),
            "exec.spill_mb": (med("spill_b") / MB, "MB"),
            "operators.py_cpu_s": (med("py_cpu_s"), "s"),
            "streaming.batches": (med("batches"), "count"),
            "streaming.trigger_s": (med("trigger_s"), "s"),
            "streaming.commit_s": (med("commit_s"), "s"),
            "streaming.outside_s": (med("outside_s"), "s"),
            "io.write_mb": (med("write_b") / MB, "MB"),
            "io.read_mb": (med("read_b") / MB, "MB"),
            "io.write_per_input": (ratio("write_b", "input_b"), "ratio"),
            "request.self_s": (med("self_s"), "s"),
            "request.cleanup_s": (med("cleanup_s"), "s"),
            "trace.probe_s": (med("probe_s"), "s"),
            "trace.truncated_requests": (
                sum(r.get("truncated", 0) for r in self.records), "count"),
            "trace.pass_s": (statistics.median(self.pass_walls()), "s"),
        }
        for k in ("session.start_s", "sources.load_s", "sources.stage_s",
                  "setup.warm_pass_s"):
            m[k] = (setup[k], "s")
        m.update(self.host)
        return m

    def stop(self) -> None:
        """Stop the session and the JVM, and wait for the JVM to exit."""
        from pyspark import SparkContext

        gateway = SparkContext._gateway
        self.spark.stop()
        if gateway is not None:
            proc = gateway.proc
            gateway.shutdown()
            proc.stdin.close()
            proc.wait(timeout=60)
        SparkContext._gateway = SparkContext._jvm = None


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--cpus", type=int, required=True)
    ap.add_argument("--sf", required=True)
    ap.add_argument("--driver-memory", required=True)
    args = ap.parse_args(argv)

    sf_dir = pin_environment(args)
    bench = Bench(args, sf_dir)
    try:
        setup = bench.setup()
        passes = bench.measure()
    finally:
        if hasattr(bench, "spark"):
            bench.stop()
    bench.tracer.dump(os.path.join(
        WORK, "spans", f"{args.workload}-seed{args.seed}-trace{args.trace}"
        ".json"))
    metrics = bench.per_layer(setup) if args.trace else bench.end_to_end(setup)
    correct = bench.failed == 0 and bool(metrics)
    print(f"perfbench: {args.workload} passes={passes} "
          f"requests={bench.attempted} tail=p{100 * TAIL:.0f}",
          file=sys.stderr)
    sys.stdout.flush()
    print(json.dumps({
        "correct": correct, "attempted": bench.attempted,
        "failed": bench.failed,
        "metrics": {k: {"value": v, "unit": u}
                    for k, (v, u) in metrics.items()}}))
    return 0


if __name__ == "__main__":
    sys.exit(main())
