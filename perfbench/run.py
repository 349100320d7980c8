"""bcdp_spark benchmark: one workload, one fresh Python + JVM.

Run from the root of a checkout:

    python3 perfbench/run.py --workload olap_fresh --seed 1 --seconds 6 --trace 0

The last line of stdout is one JSON object with the keys ``correct``,
``attempted``, ``failed`` and ``metrics``. ``--trace 0`` reports the
end-to-end metrics; ``--trace 1`` reports the per-layer metrics (see
``perfbench/README.md``). Without ``--workload`` every workload runs,
each in its own child process, and one JSON line is printed per
workload.

Everything the run writes goes under ``.perfbench/`` in the checkout:
the generated inputs and Spark's scratch space are deleted at the end,
the traced run's spans are kept there as JSON.
"""

from __future__ import annotations

import argparse
import json
import os
import random
import shlex
import shutil
import statistics
import subprocess
import sys
import time
import traceback

ROOT = os.getcwd()
sys.path.insert(0, ROOT)

from perfbench import workloads  # noqa: E402
from perfbench.trace import (  # noqa: E402
    JobCounts,
    RssSampler,
    SparkStatus,
    Tracer,
    descendants,
    host_steal_s,
    tree_cpu_s,
    union_length,
)

SETUP_SAMPLES = 3
DRIVER_MEM = "2g"


def isolate(work: str, cores: int) -> None:
    """Point every scratch location of Spark and Python into ``work``;
    must run before the JVM starts."""
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    # no hsperfdata files: HotSpot writes them to /tmp whatever tmpdir says
    java_opts = f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData"
    os.environ.update({
        "SPARK_GRAFT_CPUS": str(cores),
        "SPARK_GRAFT_DRIVER_MEM": DRIVER_MEM,
        "SPARK_GRAFT_WAREHOUSE": os.path.join(work, "warehouse"),
        "SPARK_LOCAL_DIRS": os.path.join(work, "spark"),
        "TMPDIR": tmp,
        "SPARK_LAUNCHER_OPTS": java_opts,
        "PYSPARK_SUBMIT_ARGS": " ".join([
            "--driver-memory", DRIVER_MEM,
            "--driver-java-options", shlex.quote(java_opts),
            "pyspark-shell",
        ]),
    })


def log(msg: str) -> None:
    print(f"perfbench: {msg}", file=sys.stderr, flush=True)


def quiet(spark):
    spark.sparkContext.setLogLevel("ERROR")
    return spark


class Bench:
    def __init__(self, workload: str, seed: int, trace: bool):
        self.wl = workloads.make(workload)
        self.trace = trace
        self.rng = random.Random(seed)
        self.spark = None
        self.status: SparkStatus | None = None
        self.tracer = Tracer()
        self.n_ops = 0
        self.first_counts: dict[str, dict] = {}
        self.mismatches: list[str] = []

    # -- set-up ---------------------------------------------------------

    def setup(self) -> tuple[dict[str, float], list[dict]]:
        """Session start plus first table handles, sampled on fresh
        SparkContexts of one JVM; then one warm-up pass over every op."""
        from pyspark import SparkContext

        from bcdp_spark.session import get_spark

        SparkContext._ensure_initialized()  # JVM launch, outside the samples
        starts, handles = [], []
        for _ in range(SETUP_SAMPLES):
            if self.spark is not None:
                self.spark.stop()
            t0 = time.perf_counter()
            self.spark = quiet(get_spark(f"perfbench_{self.wl.name}"))
            t1 = time.perf_counter()
            self.wl.handles(self.spark)
            t2 = time.perf_counter()
            starts.append(t1 - t0)
            handles.append(t2 - t1)
        self.status = SparkStatus(self.spark)
        t0 = time.perf_counter()
        warm = [self.run_op(key, self.trace)
                for _ in range(1 + self.wl.warm_passes)
                for key in self.cycle_order()]
        warm_s = time.perf_counter() - t0
        log(f"session starts {[round(x, 2) for x in starts]} s, handles "
            f"{[round(x, 2) for x in handles]} s, warm-up {warm_s:.2f} s: "
            + ", ".join(f"{op['key']} {op['op_s']:.2f}" for op in warm))
        return {
            "setup_s": statistics.median(
                s + h for s, h in zip(starts, handles)
            ) + warm_s,
            "session.start_s": statistics.median(starts),
            "tables.handle_s": statistics.median(handles),
        }, warm

    def cycle_order(self) -> list[str]:
        keys = list(self.wl.keys)
        self.rng.shuffle(keys)
        return keys

    # -- one op -----------------------------------------------------------

    def run_op(self, key: str, traced: bool) -> dict:
        self.n_ops += 1
        op_id = f"op{self.n_ops:05d}"
        op = {"id": op_id, "key": key, "error": None, "table": None}
        t0 = time.perf_counter()
        try:
            if traced:
                self._traced(op)
            else:
                op["table"] = self.wl.build(self.spark, key, op_id).toArrow()
        except Exception:  # a failed op is counted, the loop goes on
            op["error"] = traceback.format_exc()
        op["op_s"] = time.perf_counter() - t0
        return op

    def _traced(self, op: dict) -> None:
        """One op under spans: construction, forced planning and collect,
        each with the Spark jobs it started as child spans."""
        tr, st, key = self.tracer, self.status, op["key"]
        with tr.span("op", op["id"]):
            with tr.span("queries.construct") as c_span:
                st.group(f"{op['id']}.construct")
                df = self.wl.build(self.spark, key, op["id"])
            with tr.span("plan.plan") as p_span:
                st.group(f"{op['id']}.plan")
                plan = df._jdf.queryExecution().executedPlan()
                op["plan_nodes"] = len(plan.toString().strip().splitlines())
            with tr.span("collect.toArrow") as x_span:
                st.group(f"{op['id']}.collect")
                op["table"] = table = df.toArrow()
        self.spark.sparkContext.setJobGroup("idle", "idle")
        counts = JobCounts()
        for phase, span in (("construct", c_span), ("plan", p_span),
                            ("collect", x_span)):
            got = st.counts(f"{op['id']}.{phase}")
            for a, b in got.intervals:
                tr.add("operators.job", a, b, op["id"], span)
            op[f"{phase}_jobs"] = got.jobs
            counts += got
        s = tr.spans
        op["construct_s"] = s[c_span]["end"] - s[c_span]["start"]
        op["plan_s"] = s[p_span]["end"] - s[p_span]["start"]
        op["exec_s"] = union_length(counts.intervals)
        op["counts"] = counts
        op["rows"] = table.num_rows
        op["arrow_bytes"] = table.nbytes
        exact = {**counts.exact(), "construct_jobs": op["construct_jobs"],
                 "plan_nodes": op["plan_nodes"], "rows": op["rows"]}
        first = self.first_counts.setdefault(key, exact)
        self.mismatches += [f"{key}.{f}" for f in exact if exact[f] != first[f]]

    # -- the closed loop --------------------------------------------------

    def loop(self, seconds: float, traced: bool) -> tuple[list[dict], float, float]:
        """Whole cycles (every op once, in seeded order) until ``seconds``
        have passed; each op is issued after the previous one returned.
        Returns the ops, the wall seconds and the process tree's CPU
        seconds."""
        ops: list[dict] = []
        cpu0, steal0 = tree_cpu_s(os.getpid()), host_steal_s()
        t0 = time.perf_counter()
        while True:
            for key in self.cycle_order():
                ops.append(self.run_op(key, traced))
            wall = time.perf_counter() - t0
            if wall >= seconds:
                cpu = tree_cpu_s(os.getpid()) - cpu0
                # wall times stretch when the hypervisor takes CPU time
                # from this machine; CPU times barely move
                steal = (host_steal_s() - steal0) / wall / os.cpu_count()
                log(f"loop used {cpu:.1f} CPU s in {wall:.1f} s; host steal {steal:.1%}")
                return ops, wall, cpu

    def check(self, ops: list[dict]) -> int:
        """Check every op's output after the clock has stopped; returns
        the number of ops that raised or whose output was wrong."""
        failed = 0
        for op in ops:
            table = op.pop("table")
            if op["error"] is None:
                try:
                    self.wl.check(op["key"], op["id"], table, self.trace)
                except Exception:
                    op["error"] = traceback.format_exc()
            if op["error"] is not None:
                failed += 1
                print(f"[{op['id']} {op['key']}] {op['error']}", file=sys.stderr)
        return failed

    def close(self) -> None:
        from pyspark import SparkContext

        if self.spark is not None:
            self.spark.stop()
        gw = SparkContext._gateway
        if gw is not None:
            gw.shutdown()
            gw.proc.stdin.close()
            gw.proc.wait(timeout=60)
            SparkContext._gateway = None
            SparkContext._jvm = None
        # Python workers leave once the JVM that forked them is gone
        deadline = time.monotonic() + 30
        while descendants(os.getpid())[1:] and time.monotonic() < deadline:
            time.sleep(0.1)


def end_to_end(ops: list[dict], cpu_s: float, setup: dict, rss_mb: float) -> dict:
    ok = sum(op["error"] is None for op in ops)
    return {
        "setup_s": (setup["setup_s"], "s"),
        "cpu_s_per_op": (cpu_s / ok, "s"),
        "peak_rss_mb": (rss_mb, "MB"),
    }


def per_layer(bench: Bench, ops: list[dict], wall: float, plain: list[dict],
              plain_wall: float, setup: dict) -> dict:
    ops = [op for op in ops if op["error"] is None]
    n = len(ops)
    plain_ok = [op["op_s"] for op in plain if op["error"] is None]
    plain_rate = len(plain_ok) / plain_wall

    def mean(field: str) -> float:
        return sum(op[field] for op in ops) / n

    def total(field: str) -> float:
        return sum(getattr(op["counts"], field) for op in ops)

    op_s = sum(op["op_s"] for op in ops)
    exec_s = sum(op["exec_s"] for op in ops)
    self_s = bench.tracer.self_times({op["id"] for op in ops})
    m = {
        "session.start_s": (setup["session.start_s"], "s"),
        "tables.handle_s": (setup["tables.handle_s"], "s"),
        "queries.construct_s": (mean("construct_s"), "s"),
        "queries.construct_self_s": (self_s["queries.construct"] / n, "s"),
        "queries.construct_share": (sum(op["construct_s"] for op in ops) / op_s, "ratio"),
        "queries.construct_jobs": (mean("construct_jobs"), "count"),
        "plan.plan_s": (mean("plan_s"), "s"),
        "plan.nodes": (mean("plan_nodes"), "count"),
        "operators.exec_s": (exec_s / n, "s"),
        "operators.slot_busy_ratio": (
            total("executor_run_s") / (exec_s * bench.wl.cores), "ratio"),
        "collect.collect_s": (self_s["collect.toArrow"] / n, "s"),
        "collect.rows": (mean("rows"), "count"),
        "collect.arrow_bytes": (mean("arrow_bytes"), "bytes"),
        "loop.ops_per_s": (plain_rate, "1/s"),
        "loop.op_p50_s": (statistics.median(plain_ok), "s"),
        "trace.overhead_ratio": ((n / wall) / plain_rate, "ratio"),
        "trace.count_mismatches": (len(bench.mismatches), "count"),
    }
    for field, unit in (("jobs", "count"), ("stages", "count"), ("tasks", "count"),
                        ("input_bytes", "bytes"), ("shuffle_write_bytes", "bytes"),
                        ("shuffle_read_bytes", "bytes"), ("spill_bytes", "bytes"),
                        ("executor_run_s", "s"), ("executor_cpu_s", "s"),
                        ("gc_s", "s")):
        m[f"operators.{field}"] = (total(field) / n, unit)
    probed = bench.wl.probe(bench.spark, bench.status, ops)
    for name, unit in LAYER_UNITS.items():
        m[name] = (probed.get(name, 0.0), unit)
    return m


# layers that only some workloads reach; 0 where a workload bypasses them
LAYER_UNITS = {
    "sources.scan_s": "s",
    "sources.cells_per_s": "cells/s",
    "sources.chunks_kept": "count",
    "sources.chunks_total": "count",
    **{f"sources.codec.{c}.{k}": u for c in ("lz4", "snappy", "zlib")
       for k, u in (("decode_MBps", "MB/s"), ("decode_share", "ratio"))},
    "ensemble.self_s": "s",
    "sinks.write_s": "s",
    "sinks.bytes_written": "bytes",
    "sinks.write_amplification": "ratio",
    "duckdb.op_s": "s",
}


def run_one(args) -> int:
    if not os.path.isdir(os.path.join(ROOT, "bcdp_spark")):
        print(f"perfbench: no bcdp_spark package in {ROOT}; run from a checkout",
              file=sys.stderr)
        return 2
    out_dir = os.path.join(ROOT, ".perfbench")
    work = os.path.join(out_dir, f"work-{args.workload}-{os.getpid()}")
    bench = Bench(args.workload, args.seed, bool(args.trace))
    isolate(work, bench.wl.cores)
    try:
        with RssSampler() as rss:
            t0 = time.perf_counter()
            bench.wl.prepare(args.seed, work)
            log(f"inputs generated in {time.perf_counter() - t0:.2f} s")
            setup, warm = bench.setup()
            if args.trace:
                plain, plain_wall, _ = bench.loop(args.seconds / 2, traced=False)
                ops, wall, _ = bench.loop(args.seconds / 2, traced=True)
            else:
                ops, wall, cpu_s = bench.loop(args.seconds, traced=False)
                plain = []
        log(f"{len(ops)} ops in {wall:.2f} s: " + ", ".join(
            f"{op['key']} {op['op_s']:.2f}" for op in ops))
        # every op issued, warm-up included, is checked and counted
        issued = warm + plain + ops
        t0 = time.perf_counter()
        failed = bench.check(issued)
        log(f"checked {len(issued)} ops in {time.perf_counter() - t0:.2f} s")
        if args.trace:
            metrics = per_layer(bench, ops, wall, plain, plain_wall, setup)
            bench.tracer.dump(os.path.join(
                out_dir, f"spans-{args.workload}-seed{args.seed}.json"))
            for name in sorted(set(bench.mismatches)):
                print(f"non-exact count: {name}", file=sys.stderr)
        else:
            metrics = end_to_end(ops, cpu_s, setup, rss.peak_mb)
    finally:
        bench.close()
        shutil.rmtree(work, ignore_errors=True)
    leftover = descendants(os.getpid())[1:]
    if leftover:
        print(f"perfbench: child processes still running: {leftover}", file=sys.stderr)
        return 3
    print(json.dumps({
        "correct": failed == 0,
        "attempted": len(issued),
        "failed": failed,
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
    }))
    return 0


def run_all(args) -> int:
    """Every workload in its own child process (fresh Python and JVM)."""
    rc = 0
    for name in workloads.WORKLOADS:
        cmd = [sys.executable, os.path.abspath(__file__), "--workload", name,
               "--seed", str(args.seed), "--seconds", str(args.seconds),
               "--trace", str(args.trace)]
        proc = subprocess.run(cmd, stdout=subprocess.PIPE, text=True)
        lines = proc.stdout.strip().splitlines()
        print(json.dumps({"workload": name, **json.loads(lines[-1])})
              if proc.returncode == 0 and lines else
              json.dumps({"workload": name, "exit_code": proc.returncode}))
        rc = rc or proc.returncode
    return rc


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", choices=workloads.WORKLOADS)
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=6)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()
    return run_one(args) if args.workload else run_all(args)


if __name__ == "__main__":
    sys.exit(main())
