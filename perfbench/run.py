#!/usr/bin/env python3
"""Seeded benchmark of the spark-graft engine.

Run from the root of a checkout:

    python3 perfbench/run.py --workload wordcount_text --seed 1 --seconds 10 --trace 0

One client process generates the workload's inputs from ``--seed``
under ``.perfbench_work/``, starts a ``local[nproc]`` session through
``session.get_spark``, runs one cold pass and then warm passes for
``--seconds`` seconds, checks every output, and prints one JSON object
as its last stdout line. ``--trace 0`` reports the end-to-end metrics;
``--trace 1`` reports the per-layer metrics, read from Spark's event
log and from the benchmark's own spans (see BENCHMARK.json).
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import statistics
import subprocess
import sys
import time
import traceback

HERE = os.path.dirname(os.path.abspath(__file__))
SETUPS = 5  # session set-ups per run; setup_s is their median


def _pin_environment(work: str) -> dict:
    """Pin what the session reads from the environment, keeping every
    file the engine, Spark and the JVM write inside ``work``."""
    from procmon import mem_total_bytes

    cpus = len(os.sched_getaffinity(0))
    mem_gb = max(1, min(4, mem_total_bytes() // (4 << 30)))
    tmp = os.path.join(work, "tmp")
    local = os.path.join(work, "spark-local")
    os.makedirs(tmp)
    os.makedirs(local)
    pins = {
        "SPARK_GRAFT_CPUS": str(cpus),
        "SPARK_GRAFT_DRIVER_MEM": f"{mem_gb}g",
        "SPARK_LOCAL_DIRS": local,
        "TMPDIR": tmp,
        "JAVA_TOOL_OPTIONS": f"-Djava.io.tmpdir={tmp}",
    }
    os.environ.update(pins)
    import tempfile

    tempfile.tempdir = None  # re-read TMPDIR
    return pins


class Client:
    """One benchmark run: sessions, passes, spans and checks."""

    def __init__(self, workload, work: str, cpus: int) -> None:
        from procmon import ProcTree

        self.wl = workload
        self.work = work
        self.cpus = cpus
        self.tree = ProcTree(os.getpid())
        self.spark = None
        self.app_id = None
        self.attempted = 0
        self.failed = 0

    def session(self, event_dir: str | None = None):
        from mapreduce511_spark.session import get_spark

        conf = {"spark.sql.warehouse.dir": os.path.join(self.work, "warehouse")}
        if event_dir:
            conf.update({
                "spark.eventLog.enabled": "true",
                "spark.eventLog.dir": "file://" + event_dir,
                "spark.eventLog.compress": "false",
            })
        t0 = time.perf_counter()
        self.spark = get_spark("perfbench", cpus=self.cpus, extra_conf=conf)
        t1 = time.perf_counter()
        self.spark.sparkContext.setLogLevel("ERROR")
        self.spark.range(1000).selectExpr("sum(id)").collect()
        return time.perf_counter() - t0, t1 - t0

    def run_pass(self, ops, spans: list[dict]) -> dict:
        outs = []
        cpu0, t0 = self.tree.cpu_s(), time.time()
        op_s = []
        for op in ops:
            a = time.time()
            try:
                built = op.build(self.spark)
                b = time.time()
                out = op.execute(built)
                c = time.time()
            except Exception:  # an op that raises is a failed op; keep going
                traceback.print_exc()
                b = c = time.time()
                out = _FAILED
            spans.append({"kind": "op", "name": op.name, "start": a, "end": c})
            spans.append({"kind": "build", "name": op.name, "start": a, "end": b})
            spans.append({"kind": "exec", "name": op.name, "start": b, "end": c})
            op_s.append((op.name, b - a, c - b))
            outs.append(out)
        t1, cpu1 = time.time(), self.tree.cpu_s()
        for op, out in zip(ops, outs):
            self.attempted += 1
            problem = "raised" if out is _FAILED else op.check(out)
            if problem:
                self.failed += 1
                print(f"perfbench: check failed: {op.name}: {problem}", file=sys.stderr)
        return {"start": t0, "end": t1, "wall": t1 - t0, "cpu": cpu1 - cpu0, "ops": op_s}

    def measure(self, seconds: float, sampler=None) -> tuple[list[dict], list[dict]]:
        """Cold pass, then warm passes for ``seconds`` (at least the
        workload's ``min_warm`` of them). Returns ``(passes, spans)``."""
        ops = self.wl.ops(self.spark)
        passes: list[dict] = []
        spans: list[dict] = []
        passes.append(self.run_pass(ops, spans))
        if sampler is not None:
            sampler.reset_peak()  # the peak is taken over warm passes
        begin = time.perf_counter()
        while len(passes) <= self.wl.min_warm or time.perf_counter() - begin < seconds:
            passes.append(self.run_pass(ops, spans))
        return passes, spans

    def stop_session(self) -> None:
        if self.spark is not None:
            self.spark.stop()
            self.spark = None

    def shutdown(self) -> None:
        """Stop the session and the gateway JVM, and wait until every
        process started under this client has ended."""
        from pyspark import SparkContext

        self.stop_session()
        gateway = SparkContext._gateway
        proc = getattr(gateway, "proc", None)
        if gateway is not None:
            gateway.shutdown()
        if proc is not None:
            proc.stdin.close()  # the gateway JVM exits when its stdin closes
            try:
                proc.wait(timeout=30)
            except subprocess.TimeoutExpired:
                proc.kill()
                proc.wait(timeout=10)
        deadline = time.monotonic() + 30
        while self.tree.descendants() and time.monotonic() < deadline:
            time.sleep(0.2)
        for pid in self.tree.descendants():
            try:
                os.kill(pid, signal.SIGKILL)
            except ProcessLookupError:
                pass
        while self.tree.descendants() and time.monotonic() < deadline + 10:
            time.sleep(0.2)


_FAILED = object()


def _op_latencies(warm: list[dict]) -> list[float]:
    return [b + e for p in warm for _, b, e in p["ops"]]


def _end_to_end(setups, passes) -> dict:
    warm = passes[1:]
    metrics = {
        "setup_s": (statistics.median(s for s, _ in setups), "s"),
        "cold_s": (passes[0]["wall"], "s"),
        "warm_s": (statistics.median(p["wall"] for p in warm), "s"),
        "warm_cpu_s": (statistics.median(p["cpu"] for p in warm), "s"),
    }
    per_op = {
        name: [round(b, 3) for b in (passes[0]["ops"][i][1] + passes[0]["ops"][i][2],
                                     statistics.median(p["ops"][i][1] + p["ops"][i][2] for p in warm))]
        for i, (name, _, _) in enumerate(passes[0]["ops"])
    }
    info = {"launch_s": setups[0][0],
            "warm_pass_s": [round(p["wall"], 3) for p in warm],
            "warm_pass_cpu_s": [round(p["cpu"], 2) for p in warm],
            "op_cold_warm_s": per_op}
    return metrics, info


def _per_layer(client, setups, passes_a, passes_b, spans_b, event_dir, monitor_rows,
               peak_pss) -> dict:
    import eventlog

    log = eventlog.EventLog(eventlog.event_files(event_dir, client.app_id))
    warm_b = passes_b[1:]
    rolled = eventlog.rollup(log, warm_b, spans_b, client.cpus)

    def med(key):
        return statistics.median(r[key] for r in rolled)

    def op_sum(p, pred, part=None):
        return sum(
            (b if part == "build" else e if part == "exec" else b + e)
            for name, b, e in p["ops"] if pred(name)
        )

    def warm_med(pred, part=None):
        return statistics.median(op_sum(p, pred, part) for p in warm_b)

    def is_query(name):
        return not name.startswith("plans.") and name != "wordcount"

    warm_s = statistics.median(p["wall"] for p in warm_b)
    build = warm_med(is_query, "build")
    execute = warm_med(is_query, "exec")
    values = {
        "session.launch_s": setups[0][0],
        "session.get_spark_s": statistics.median(g for _, g in setups),
        "queries.build_s": build,
        "queries.exec_s": execute,
        # the cold pass of the untraced session, the first in this JVM
        "queries.cold_build_s": op_sum(passes_a[0], is_query, "build"),
        "queries.build_share": build / (build + execute) if build + execute > 0 else 0.0,
        "plans.lines_s": warm_med(lambda n: n == "plans.lines"),
        "plans.report_write_s": warm_med(lambda n: n.startswith("plans.result_")),
        "plans.charts_s": warm_med(lambda n: n == "plans.charts"),
        "client.op_median_s": statistics.median(_op_latencies(warm_b)),
        "operators.wordcount.tokens_per_s": client.wl.truth.get("tokens", 0) / warm_s,
        "proc.peak_pss_mb": peak_pss / 2**20,
        "trace.overhead_s": warm_s - statistics.median(p["wall"] for p in passes_a[1:]),
        "trace.monitor_samples": monitor_rows,
    }
    values.update({k: med(k) for k in rolled[0]})
    return values


_UNITS = (  # first matching suffix wins
    ("_per_s", "1/s"), ("_s", "s"), ("_mb", "MB"), ("_bytes", "bytes"),
    ("_frac", "fraction"), ("share", "fraction"),
)


def _unit(name: str) -> str:
    for suffix, unit in _UNITS:
        if name.endswith(suffix):
            return unit
    return "count"


def _traced(client, seconds: float, out_dir: str, setups, passes_a) -> dict:
    """Measure again in a fresh session with Spark's event log on and
    the /proc sampler running; return the per-layer metrics."""
    import procmon
    from mapreduce511_spark.plans import parse_monitor_lines
    from mapreduce511_spark.sources.text_logs import read_text_ordered

    event_dir = os.path.join(out_dir, "eventlog")
    os.makedirs(event_dir)
    client.stop_session()
    client.session(event_dir)
    client.app_id = client.spark.sparkContext.applicationId
    sampler = procmon.Sampler(os.getpid())
    sampler.start()
    try:
        passes_b, spans_b = client.measure(seconds, sampler)
    finally:
        sampler.stop()
    monitor = os.path.join(out_dir, "monitor.log")
    sampler.write_monitor_log(monitor)
    monitor_rows = parse_monitor_lines(read_text_ordered(client.spark, monitor)).count()
    client.stop_session()  # flushes the event log
    with open(os.path.join(out_dir, "spans.json"), "w") as fh:
        json.dump({"passes": passes_b, "spans": spans_b}, fh)
    return _per_layer(client, setups, passes_a, passes_b, spans_b, event_dir,
                      monitor_rows, sampler.peak_pss)


def _check_declared(metrics: dict, section: str) -> None:
    """The metrics printed must be exactly those BENCHMARK.json declares."""
    try:
        with open("BENCHMARK.json") as fh:
            declared = {m["name"]: m["unit"] for m in json.load(fh)[section]}
    except FileNotFoundError:
        return
    printed = {k: u for k, (_, u) in metrics.items()}
    if printed != declared:
        raise RuntimeError(f"metrics {printed} differ from BENCHMARK.json {section} {declared}")


def run(args, work: str, out_dir: str) -> dict:
    pins = _pin_environment(work)
    sys.path.insert(0, os.getcwd())
    import procmon
    from workloads import WORKLOADS

    steal0 = procmon.cpu_steal_ticks()
    wl = WORKLOADS[args.workload]()
    t = time.perf_counter()
    wl.prepare(os.path.join(work, "in"), args.seed)
    gen_s = time.perf_counter() - t

    client = Client(wl, work, int(pins["SPARK_GRAFT_CPUS"]))
    try:
        setups = []
        for i in range(SETUPS):
            if i:
                client.stop_session()
            setups.append(client.session())
        passes_a, _ = client.measure(0 if args.trace else args.seconds)
        if args.trace:
            values = _traced(client, args.seconds, out_dir, setups, passes_a)
            metrics = {k: (v, _unit(k)) for k, v in values.items()}
            info = {}
        else:
            metrics, info = _end_to_end(setups, passes_a)
    finally:
        client.shutdown()
    _check_declared(metrics, "per_layer" if args.trace else "end_to_end")
    steal1 = procmon.cpu_steal_ticks()
    import pyspark

    env = dict(pins, spark=pyspark.__version__, python=sys.version.split()[0],
               cpu_steal_frac=(steal1[0] - steal0[0]) / max(1, steal1[1] - steal0[1]),
               generate_s=gen_s, **info)
    print("perfbench-env " + json.dumps(env, sort_keys=True))
    return {
        "correct": client.failed == 0,
        "attempted": client.attempted,
        "failed": client.failed,
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
    }


def main(argv: list[str] | None = None) -> int:
    sys.path.insert(0, HERE)
    from workloads import WORKLOADS

    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = p.parse_args(argv)

    root = os.getcwd()
    if not os.path.isfile(os.path.join(root, "mapreduce511_spark", "session.py")):
        print("perfbench: run from the root of a spark-graft checkout "
              "(no mapreduce511_spark/ here)", file=sys.stderr)
        return 2
    tag = f"{args.workload}-{args.seed}-{os.getpid()}"
    work = os.path.join(root, ".perfbench_work", tag)
    out_dir = os.path.join(root, ".perfbench_out", tag)
    os.makedirs(work)
    try:
        result = run(args, work, out_dir)
    finally:
        shutil.rmtree(work, ignore_errors=True)
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
