#!/usr/bin/env python3
"""blspark benchmark: one closed-loop client drives one blspark session.

    python3 perfbench/run.py --workload NAME --seed N --seconds S --trace 0|1

Run from the repository root. The client sends an operation only after the
previous one returned. A run sets up a session (``blspark.session.get_spark``
on ``local[<cores>]``) and touches every input once, runs each operation once
cold in a fixed order, then repeats warm passes over all operations, each in
an order drawn from the seed, until ``--seconds`` have passed since set-up
ended (at least the workload's ``min_warm_passes``).
Every output is checked; a wrong or failed operation counts in ``failed`` and
the run goes on.

With ``--trace 0`` the last stdout line carries the end-to-end metrics; with
``--trace 1`` warm passes alternate between untraced and traced, and it
carries the per-layer metrics (spans are also written to ``--spans``).
All run state lives in a temporary directory under the working directory,
removed at exit.
"""

from __future__ import annotations

import argparse
import json
import os
import random
import resource
import shutil
import statistics
import sys
import tempfile
import time
import traceback

T_PROCESS = time.perf_counter()
ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)

from perfbench import metrics  # noqa: E402

WORKLOADS = ("queries", "bls_pipeline")


def log(msg: str) -> None:
    print(msg, file=sys.stderr, flush=True)


def parse_args(argv=None):
    p = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    p.add_argument("--workload", required=True, choices=WORKLOADS)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    p.add_argument("--data", default="sf0.01", choices=("sf0.01", "sf0.001"),
                   help="fixed tables for the query workloads (sf0.001: smoke test)")
    p.add_argument("--spans", default=os.path.join(ROOT, "perfbench-spans.json"),
                   help="where the traced run writes its spans as JSON")
    return p.parse_args(argv)


def isolated_conf(run_dir: str) -> dict[str, str]:
    return {
        "spark.sql.warehouse.dir": os.path.join(run_dir, "warehouse"),
        "spark.local.dir": os.path.join(run_dir, "local"),
        "spark.sql.streaming.checkpointLocation": os.path.join(run_dir, "checkpoints"),
        "spark.ui.showConsoleProgress": "false",
    }


def stop_spark(spark) -> None:
    """Stop the session, then the JVM it runs in, and wait for it to exit."""
    from pyspark import SparkContext

    spark.stop()
    gateway = SparkContext._gateway
    if gateway is None:
        return
    gateway.shutdown()
    proc = getattr(gateway, "proc", None)
    if proc is not None:
        proc.stdin.close()
        proc.wait(60)
    SparkContext._gateway = SparkContext._jvm = None


def peak_rss_mb(spark) -> float:
    pid = spark.sparkContext._jvm.java.lang.ProcessHandle.current().pid()
    with open(f"/proc/{pid}/status") as f:
        jvm_kb = next(int(line.split()[1]) for line in f if line.startswith("VmHWM:"))
    return (jvm_kb + resource.getrusage(resource.RUSAGE_SELF).ru_maxrss) / 1024


def median_by_key(records: list[dict[str, float]]) -> dict[str, float]:
    keys = {k for r in records for k in r}
    return {k: statistics.median(r[k] for r in records if k in r) for k in keys}


class Run:
    def __init__(self, args, workload, spark):
        self.args, self.wl, self.spark = args, workload, spark
        self.attempted = self.failed = 0
        # (wall, CPU) seconds per operation
        self.cold: dict[str, tuple[float, float]] = {}
        self.warm: dict[str, list[tuple[float, float]]] = {op: [] for op in workload.ops}
        self.traced: dict[str, list[tuple[float, float]]] = {op: [] for op in workload.ops}
        self.pass_layers: list[dict[str, float]] = []

    def attempt(self, op: str, tracer) -> tuple[float, float] | None:
        self.attempted += 1
        try:
            return self.wl.run(self.spark, op, tracer)
        except Exception:
            self.failed += 1
            log(f"# {op} failed:\n{traceback.format_exc()}")
            return None

    def measure(self, t_ready: float):
        from perfbench.trace import Tracer, unwrap, wrap_layers

        tracer = Tracer(self.spark) if self.args.trace else None
        # The cold pass runs in one fixed order: the first operation of a
        # session pays first-use costs the others share, so a seeded order
        # would move cost between operations from seed to seed.
        for op in self.wl.ops:
            # A frame cached by an earlier operation must not speed up a first run.
            self.spark.catalog.clearCache()
            cost = self.attempt(op, None)
            if cost is not None:
                self.cold[op] = cost
        log(f"# cold pass done at {time.perf_counter() - t_ready:.1f} s")
        rng = random.Random(self.args.seed)
        # A traced run alternates untraced and traced passes; untraced passes on
        # both sides of a traced one keep JIT warm-up out of trace.overhead_frac.
        min_passes = max(3, self.wl.min_warm_passes) if tracer else self.wl.min_warm_passes
        passes = 0
        while passes < min_passes or time.perf_counter() - t_ready < self.args.seconds:
            order = list(self.wl.ops)
            if not self.wl.fixed_order:
                rng.shuffle(order)
            traced = tracer is not None and passes % 2 == 1
            first_span = len(tracer.spans) if traced else 0
            undo = wrap_layers(tracer, self.wl.trace_layers()) if traced else []
            try:
                for op in order:
                    cost = self.attempt(op, tracer if traced else None)
                    if cost is not None:
                        (self.traced if traced else self.warm)[op].append(cost)
            finally:
                unwrap(undo)
            if traced:
                layers = span_layers(tracer, tracer.spans[first_span:])
                for record in self.wl.take_records():
                    for k, v in record.items():
                        layers[k] = layers.get(k, 0) + v
                self.pass_layers.append(layers)
            passes += 1
            log(f"# warm pass {passes} done at {time.perf_counter() - t_ready:.1f} s")
        return tracer

    def cold_sum(self, i: int) -> float:
        """Sum over operations of the cold wall (i=0) or CPU (i=1) seconds."""
        return sum(c[i] for c in self.cold.values())

    @staticmethod
    def warm_sum(samples: dict[str, list[tuple[float, float]]], i: int) -> float:
        """Sum over operations of the median wall (i=0) or CPU (i=1) seconds."""
        return sum(statistics.median(c[i] for c in v) for v in samples.values() if v)


def span_layers(tracer, spans) -> dict[str, float]:
    """Self time and self jobs per layer, and self time per span name."""
    out: dict[str, float] = {}
    own = tracer.self_times(spans)
    for s in spans:
        secs, jobs = own[s.id]
        out[f"{s.layer}.self_s"] = out.get(f"{s.layer}.self_s", 0.0) + secs
        out[f"{s.layer}.jobs"] = out.get(f"{s.layer}.jobs", 0) + jobs
        out[f"{s.name}.self_s"] = out.get(f"{s.name}.self_s", 0.0) + secs
    return out


def per_layer(run: Run, setup: dict[str, float]) -> dict[str, float]:
    """Every per-layer metric; a layer the workload does not run reads 0."""
    values = median_by_key(run.pass_layers)
    values.update({f"{op}_s": statistics.median(c[0] for c in v) for op, v in run.warm.items() if v})
    if "sync.copied_files" in values:
        values["sync.copy_useful_frac"] = values["sync.useful_files"] / values["sync.copied_files"]
        values["sync.apply_s"] = values.get("sync.apply_mirror_fs.self_s", 0.0)
    untraced = run.warm_sum(run.warm, 0)
    values["trace.overhead_frac"] = (run.warm_sum(run.traced, 0) - untraced) / untraced
    values["cold_s"], values["warm_s"] = run.cold_sum(0), untraced
    values["error_rate"] = run.failed / run.attempted
    values.update(setup)
    return {name: values.get(name, 0) for name, _ in metrics.per_layer()}


def main(argv=None) -> int:
    args = parse_args(argv)
    from blspark.session import get_spark  # fails early where blspark is absent

    run_dir = tempfile.mkdtemp(prefix="perfbench-", dir=ROOT)
    # Keep every file the run writes (Spark local dirs, JVM and Python
    # temp files) inside the run directory; both JVMs that spark-submit
    # starts read JAVA_TOOL_OPTIONS.
    os.environ["TMPDIR"] = run_dir
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(run_dir, "local")
    os.environ["JAVA_TOOL_OPTIONS"] = f"-Djava.io.tmpdir={run_dir} -XX:-UsePerfData"
    tempfile.tempdir = run_dir
    # Python workers import blspark from the checkout whatever the working directory.
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p)
    spark = None
    try:
        t_gen = time.perf_counter()
        if args.workload == "bls_pipeline":
            from perfbench.pipeline import PipelineWorkload

            wl = PipelineWorkload(run_dir, args.seed)
        else:
            from perfbench.queries import QueryWorkload

            wl = QueryWorkload(os.path.join(ROOT, "perfbench", "data", args.data))
        gen_s = time.perf_counter() - t_gen
        t0 = time.perf_counter()
        spark = get_spark(app_name="perfbench", master=f"local[{len(os.sched_getaffinity(0))}]",
                          extra_conf=isolated_conf(run_dir))
        t1 = time.perf_counter()
        wl.touch(spark)
        # One generic shuffle and aggregation takes part of the engine's
        # first-use cost (class loading, codegen, JIT) out of the cold pass.
        spark.range(2_000_000).selectExpr("id % 1000 AS k").groupBy("k").count().collect()
        t_ready = time.perf_counter()
        log(f"# set-up: inputs {gen_s:.1f} s, get_spark {t1 - t0:.1f} s, touch {t_ready - t1:.1f} s")
        setup = {"setup_s": t_ready - T_PROCESS - gen_s,
                 "session.get_spark_s": t1 - t0, "catalog.touch_s": t_ready - t1}

        run = Run(args, wl, spark)
        tracer = run.measure(t_ready)
        rss = peak_rss_mb(spark)
        t_verify = time.perf_counter()
        wrong = wl.verify()
        log(f"# verify {time.perf_counter() - t_verify:.1f} s")
        run.failed += sum(wrong.values())

        log(f"# workload={args.workload} seed={args.seed} cold order={wl.ops}")
        log(f"# cold (wall s, CPU s) {json.dumps(run.cold)}")
        log(f"# warm (wall s, CPU s) {json.dumps(run.warm)}")
        log(f"# cold_s {run.cold_sum(0):.3f}, warm_s {run.warm_sum(run.warm, 0):.3f} (wall)")
        log(f"# wrong results per op {wrong}")
        log(f"# error_rate {run.failed / run.attempted:.4f} ({run.failed}/{run.attempted})")
        if args.trace:
            tracer.dump(args.spans)
            values = per_layer(run, {**setup, "peak_rss_mb": rss})
            units = dict(metrics.per_layer())
        else:
            values = {"setup_s": setup["setup_s"], "cold_cpu_s": run.cold_sum(1),
                      "warm_cpu_s": run.warm_sum(run.warm, 1)}
            units = dict(metrics.END_TO_END)
        result = {
            "correct": run.failed == 0,
            "attempted": run.attempted,
            "failed": run.failed,
            "metrics": {k: {"value": v, "unit": units[k]} for k, v in values.items()},
        }
    finally:
        if spark is not None:
            stop_spark(spark)
        shutil.rmtree(run_dir, ignore_errors=True)
    for k, v in result["metrics"].items():
        log(f"# {k:40s} {v['value']:.6g} {v['unit']}")
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
