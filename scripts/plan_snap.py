#!/usr/bin/env python
"""Snapshot .explain("formatted") output for named queries into
plans/<tag>/<query>_<suffix>.txt — the optimization-round evidence files
(judge checks plan claims against these) — and compare two snapshots.

Usage: python scripts/plan_snap.py <suffix> <query> [query ...]
       python scripts/plan_snap.py --compare BEFORE_DIR AFTER_DIR
Env:   SPARK_GRAFT_SF_DIR (default /root/testdata/sf0.1)
       PLAN_TAG (default r16)

``--compare`` pairs ``<query>_<suffix>.txt`` files by query name (the
suffix must hold no underscore), normalizes the run-to-run ids out of
both plans (``normalize``) and prints the name of every query whose
plans differ or that only one side holds.
"""

from __future__ import annotations

import os
import re
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

# What differs between two sessions planning the same query:
# PySpark's global lambda-variable counter (``x_456#``, shifted by any
# lambda built earlier in the session), expression ids (``#123``),
# exchange ``plan_id``s and ``localCheckpoint`` RDD ids (session
# counters), the ``_p<pid>`` suffix of session-scoped warehouse tables,
# and the checkout's warehouse path.
_VOLATILE = (
    (re.compile(r"\b([A-Za-z]+)_[0-9]+#"), r"\1_#"),
    (re.compile(r"#[0-9]+"), "#"),
    (re.compile(r"plan_id=[0-9]+"), "plan_id="),
    (re.compile(r"RDD\[[0-9]+\]"), "RDD[]"),
    (re.compile(r"_p[0-9]+\b"), "_p"),
    (re.compile(r"file:[^ ]*/spark-warehouse/"), "file:WH/"),
)


def normalize(plan: str) -> str:
    """``plan`` with the run-to-run ids replaced by placeholders."""
    for pattern, repl in _VOLATILE:
        plan = pattern.sub(repl, plan)
    return plan


def _plans(directory: str) -> dict[str, str]:
    out = {}
    for fname in os.listdir(directory):
        if fname.endswith(".txt"):
            with open(os.path.join(directory, fname)) as f:
                out[fname[: -len(".txt")].rsplit("_", 1)[0]] = f.read()
    return out


def compare(before_dir: str, after_dir: str) -> list[str]:
    """Sorted names of the queries whose normalized plans differ
    between the two snapshot directories, or that one side lacks."""
    before, after = _plans(before_dir), _plans(after_dir)
    return sorted(
        q
        for q in before.keys() | after.keys()
        if q not in before
        or q not in after
        or normalize(before[q]) != normalize(after[q])
    )


def snapshot(suffix: str, names: list[str]) -> None:
    from blspark.catalog import registry
    from blspark.session import get_spark

    sf = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    tag = os.environ.get("PLAN_TAG", "r16")
    root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    outdir = os.path.join(root, "plans", tag)
    os.makedirs(outdir, exist_ok=True)
    spark = get_spark(app_name="blspark-plan-snap")
    mode = spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString(
        "formatted"
    )
    reg = registry()
    for name in names:
        df = reg[name].spark_fn(spark, sf)
        plan = df._jdf.queryExecution().explainString(mode)
        path = os.path.join(outdir, f"{name}_{suffix}.txt")
        with open(path, "w") as f:
            f.write(plan)
        print(f"wrote {path}")
    spark.stop()


def main() -> None:
    if sys.argv[1] == "--compare":
        for name in compare(sys.argv[2], sys.argv[3]):
            print(name)
    else:
        snapshot(sys.argv[1], sys.argv[2:])


if __name__ == "__main__":
    main()
