"""Query workloads: registered blspark queries over the fixed tables in
``perfbench/data``, each result collected and checked against its DuckDB
oracle (or an oracle-confirmed digest where the oracle is slow)."""

from __future__ import annotations

import hashlib
import json
import math
import os
import time

from perfbench import metrics
from perfbench.trace import Tracer, cpu_seconds

HERE = os.path.dirname(os.path.abspath(__file__))
DIGESTS = os.path.join(HERE, "oracle_digests.json")
# Copies of the repository's test tables that the workload's queries read.
TABLES = ("documents", "embeddings")


def canon(v) -> str:
    """Exact value text, as scripts/diffcheck.py compares it."""
    if v is None:
        return "N"
    if isinstance(v, float):
        return "nan" if math.isnan(v) else repr(v)
    return str(v)


def digest(columns: list[str], rows: list[tuple]) -> str:
    """Order-insensitive digest of a result: sorted column names plus the
    sorted multiset of canonical rows."""
    order = sorted(range(len(columns)), key=lambda i: columns[i])
    lines = sorted("|".join(canon(r[i]) for i in order) for r in rows)
    body = "|".join(sorted(columns)) + "\n" + "\n".join(lines)
    return hashlib.sha256(body.encode()).hexdigest()


def oracle_digest(con, sql: str) -> str:
    rel = con.execute(sql)
    return digest([d[0] for d in rel.description], rel.fetchall())


def duck(data_dir: str):
    import duckdb

    con = duckdb.connect()
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{data_dir}/{t}.parquet')")
    return con


class QueryWorkload:
    # One warm pass: a cold and a warm pass of the three operations take
    # 25-45 s on a shared 4-core host, and the run budget allows no more.
    min_warm_passes = 1
    fixed_order = False

    def __init__(self, data_dir: str):
        from blspark.catalog import registry

        self.data_dir = data_dir
        self.ops = list(metrics.QUERY_OPS)
        reg = registry()
        self.queries = {op: reg[op] for op in self.ops}
        self.results: dict[str, list[str]] = {op: [] for op in self.ops}
        self.traced: list[dict[str, float]] = []

    def touch(self, spark) -> None:
        from blspark.catalog import load_table

        for t in TABLES:
            load_table(spark, self.data_dir, t).write.format("noop").mode("overwrite").save()

    def run(self, spark, op: str, tracer: Tracer | None) -> tuple[float, float]:
        """Wall and CPU seconds of one run of ``op``."""
        fn = self.queries[op].spark_fn
        c0 = cpu_seconds()
        if tracer is None:
            t0 = time.perf_counter()
            df = fn(spark, self.data_dir)
            rows = df.collect()
            wall = time.perf_counter() - t0
        else:
            df, rows, wall = self._run_traced(spark, op, fn, tracer)
        cpu = cpu_seconds() - c0
        self.results[op].append(digest(df.columns, rows))
        return wall, cpu

    def _run_traced(self, spark, op, fn, tracer):
        rec = {}
        with tracer.phase(f"{op}.build", "queries") as build:
            df = fn(spark, self.data_dir)
        with tracer.phase(f"{op}.plan", "queries") as plan:
            df._jdf.queryExecution().executedPlan()
        with tracer.phase(f"{op}.exec", "queries") as exe:
            rows = df.collect()
        wall = exe.end - build.start
        totals = {"task_ms": 0.0, "shuffle_write_b": 0.0, "spill_b": 0.0}
        for span, key in ((build, "build"), (plan, "plan"), (exe, "exec")):
            stats = tracer.group_stats(span)
            rec[f"{op}.{key}_s"] = span.end - span.start
            rec[f"{op}.{key}_jobs"] = span.jobs
            for k in totals:
                totals[k] += stats[k]
        rec.pop(f"{op}.plan_jobs")
        rec[f"{op}.shuffle_write_mb"] = totals["shuffle_write_b"] / 2**20
        rec[f"{op}.spill_mb"] = totals["spill_b"] / 2**20
        cores = spark.sparkContext.defaultParallelism
        rec[f"{op}.core_busy_frac"] = totals["task_ms"] / 1000 / (wall * cores)
        self.traced.append(rec)
        return df, rows, wall

    def verify(self) -> dict[str, int]:
        """Wrong results per op, against the DuckDB oracle or the stored
        oracle-confirmed digest."""
        with open(DIGESTS) as f:
            stored = json.load(f).get(os.path.basename(self.data_dir), {})
        con = duck(self.data_dir)
        try:
            wrong = {}
            for op, got in self.results.items():
                want = stored.get(op) or oracle_digest(con, self.queries[op].oracle)
                wrong[op] = sum(d != want for d in got)
            return wrong
        finally:
            con.close()

    def take_records(self) -> list[dict[str, float]]:
        """Per-layer records made since the last call."""
        records, self.traced = self.traced, []
        return records

    def trace_layers(self) -> dict[str, tuple[str, ...] | None]:
        return {m: None for m in metrics.KERNEL_LAYERS}
