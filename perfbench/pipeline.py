"""The ``bls_pipeline`` workload: the paper's own sync and report path.

One pass is four steps, always in this order:

- ``sync_full``: ``sync_job`` from the first source state into an empty mirror;
- ``sync_delta``: ``sync_job`` from the mutated source into that mirror;
- ``report``: ``report_job`` over the mirror, with Q1-Q3 collected;
- ``arrival``: ``run_report_on_arrival`` over K arriving population
  documents, timed per arrival.

Every step's output is checked against answers computed in ``blsgen``.
"""

from __future__ import annotations

import hashlib
import os
import shutil
import time

from perfbench import blsgen
from perfbench.queries import canon
from perfbench.trace import Tracer, cpu_seconds

STEPS = ("sync_full", "sync_delta", "report", "arrival")


def _snapshot(directory: str) -> dict[str, tuple[int, int]]:
    return {e.name: (e.stat().st_size, e.stat().st_mtime_ns)
            for e in os.scandir(directory) if e.is_file()}


def _contents(directory: str) -> dict[str, str]:
    out = {}
    for name in os.listdir(directory):
        with open(os.path.join(directory, name), "rb") as f:
            out[name] = hashlib.md5(f.read()).hexdigest()
    return out


def _ignore(_rows) -> None:
    pass


def _same_rows(got: list[tuple], want: list[tuple]) -> bool:
    return [tuple(map(canon, r)) for r in got] == [tuple(map(canon, r)) for r in want]


def _reports_match(out: dict[str, list[tuple]], want: dict[str, list[tuple]]) -> bool:
    (mean, std, n), = out["population_stats"]
    (wmean, wstd, wn), = want["population_stats"]
    return (
        round(mean, 2) == blsgen.GOLDEN_MEAN and round(std, 2) == blsgen.GOLDEN_STD
        and abs(mean - wmean) <= 1e-9 * wmean and abs(std - wstd) <= 1e-9 * wstd and n == wn
        and _same_rows(out["best_years"], want["best_years"])
        and _same_rows(out["combined_report"], want["combined_report"])
    )


class PipelineWorkload:
    # Its steps take 1-3 s each, so one sample per step is too noisy.
    min_warm_passes = 2
    # Each step works on the state the previous one left.
    fixed_order = True

    def __init__(self, run_dir: str, seed: int):
        self.dir = run_dir
        self.v1 = blsgen.generate(seed)
        self.v2, self.delta_counts = blsgen.mutate(self.v1, seed)
        self.arriving = blsgen.arrivals(seed)
        self.arriving["pr.data.0.Current"] = self.v2.files["pr.data.0.Current"]
        self.src1, self.src2 = os.path.join(run_dir, "src1"), os.path.join(run_dir, "src2")
        self.arrival_dir = os.path.join(run_dir, "arrivals")
        blsgen.write(self.v1.files, self.src1)
        blsgen.write(self.v2.files, self.src2)
        blsgen.write(self.arriving, self.arrival_dir)
        self.want_v1 = {k: hashlib.md5(v).hexdigest() for k, v in self.v1.files.items()}
        self.want_v2 = {k: hashlib.md5(v).hexdigest() for k, v in self.v2.files.items()}
        self.want_report = blsgen.expected_reports(self.v2.files)
        self.want_arrival = blsgen.expected_reports(self.arriving)
        self.ops = list(STEPS)
        self.wrong = {op: 0 for op in STEPS}
        self.traced: list[dict[str, float]] = []
        self._pass = 0
        self._mirror = ""

    def touch(self, spark) -> None:
        from blspark.io.manifest import file_manifest
        from blspark.io.readers import read_json_records, read_padded_tsv

        frames = [
            file_manifest(spark, self.src1),
            read_padded_tsv(spark, os.path.join(self.src1, "pr.data.0.Current")),
            read_json_records(spark, os.path.join(self.src1, blsgen.newest_population(self.v1.files))),
        ]
        for df in frames:
            df.write.format("noop").mode("overwrite").save()
        # The mirror sync copies files from Python workers; start them here so
        # the first sync does not pay for it.
        sc = spark.sparkContext
        sc.parallelize(range(sc.defaultParallelism), sc.defaultParallelism).foreachPartition(
            _ignore)

    def run(self, spark, op: str, tracer: Tracer | None) -> tuple[float, float]:
        """Wall and CPU seconds of one run of step ``op``."""
        return getattr(self, "_" + op)(spark, tracer)

    def _timed(self, tracer, name, fn):
        """(result, wall seconds, CPU seconds, span or None) of ``fn()``, under a
        phase when traced."""
        c0 = cpu_seconds()
        if tracer is None:
            t0 = time.perf_counter()
            out = fn()
            wall, span = time.perf_counter() - t0, None
        else:
            with tracer.phase(f"bls.{name}", "jobs") as span:
                out = fn()
            wall = span.end - span.start
        return out, wall, cpu_seconds() - c0, span

    def _sync(self, spark, tracer, op, src, want_counts, want_files):
        from blspark import jobs

        before = _snapshot(self._mirror)
        counts, wall, cpu, span = self._timed(
            tracer, op, lambda: jobs.sync_job(spark, src, self._mirror))
        after = _snapshot(self._mirror)
        if counts != want_counts or _contents(self._mirror) != want_files:
            self.wrong[op] += 1
        if span is not None:
            copied = [k for k, v in after.items() if before.get(k) != v]
            useful = counts.get("insert", 0) + counts.get("update", 0)
            self.traced.append({
                "io.manifest.hashed_mb": tracer.group_stats(span)["input_b"] / 2**20,
                "sync.copied_mb": sum(after[k][0] for k in copied) / 2**20,
                "sync.copied_files": len(copied), "sync.useful_files": useful,
            })
        return wall, cpu

    def _sync_full(self, spark, tracer) -> tuple[float, float]:
        if self._mirror:
            shutil.rmtree(self._mirror)
        self._pass += 1
        self._mirror = os.path.join(self.dir, f"mirror{self._pass}")
        os.makedirs(self._mirror)
        want = {"insert": len(self.v1.files), "update": 0, "skip": 0, "delete": 0}
        return self._sync(spark, tracer, "sync_full", self.src1, want, self.want_v1)

    def _sync_delta(self, spark, tracer) -> tuple[float, float]:
        return self._sync(spark, tracer, "sync_delta", self.src2, self.delta_counts, self.want_v2)

    def _report(self, spark, tracer) -> tuple[float, float]:
        from blspark import jobs

        frames, build_s, build_cpu, _ = self._timed(
            tracer, "report.build", lambda: jobs.report_job(spark, self._mirror))
        out, exec_s, exec_cpu, exe = self._timed(
            tracer, "report.exec", lambda: {k: [tuple(r) for r in df.collect()]
                                            for k, df in frames.items()})
        if not _reports_match(out, self.want_report):
            self.wrong["report"] += 1
        if tracer is not None:
            self.traced.append({
                "jobs.report_job.build_s": build_s, "queries.bls.exec_s": exec_s,
                "queries.bls.jobs": exe.jobs,
            })
        return build_s + exec_s, build_cpu + exec_cpu

    def _arrival(self, spark, tracer) -> tuple[float, float]:
        from blspark import jobs

        checkpoint = os.path.join(self.dir, f"checkpoint{self._pass}")
        sink, seconds, cpu, span = self._timed(
            tracer, "arrival", lambda: jobs.run_report_on_arrival(
                spark, self.arrival_dir, checkpoint))
        k = len(self.arriving) - 1
        last = {name: [tuple(r) for r in df.collect()] for name, df in sink[-1].items()}
        if len(sink) != k or not _reports_match(last, self.want_arrival):
            self.wrong["arrival"] += 1
        if span is not None:
            inside = sum(s.end - s.start for s in tracer.spans
                         if s.name == "jobs.report_job" and span.start <= s.start <= span.end)
            self.traced.append({
                "stream.batches": len(sink), "stream.jobs_per_arrival": span.jobs / k,
                "stream.overhead_s": (seconds - inside) / k,
            })
        shutil.rmtree(checkpoint)
        return seconds / k, cpu / k

    def verify(self) -> dict[str, int]:
        return dict(self.wrong)

    def take_records(self) -> list[dict[str, float]]:
        """Per-layer records made since the last call."""
        records, self.traced = self.traced, []
        return records

    def trace_layers(self) -> dict[str, tuple[str, ...] | None]:
        return {
            "io.manifest": ("file_manifest", "newest_key"),
            "io.readers": ("read_padded_tsv", "read_json_records"),
            "clean": None,
            "queries.bls": ("population_stats", "best_years", "combined_report"),
            "sync": ("classify_mirror", "apply_mirror_fs"),
            "stream": ("file_arrival_stream", "run_available_now"),
            "jobs": ("sync_job", "report_job", "run_report_on_arrival"),
        }
