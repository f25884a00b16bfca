"""Mirror-sync classification + local apply (SURVEY.md §2.3 J2-J4),
including the end-to-end binaryFile-manifest path."""

from __future__ import annotations

import os

from blspark.io.manifest import file_manifest, listing_manifest, newest_key
from blspark.sync import apply_mirror_local, classify_mirror


def test_classify_all_four_actions(spark):
    remote = listing_manifest(
        spark, {"new.txt": "aaa", "changed.txt": "bbb", "same.txt": "ccc"}
    )
    mirror = listing_manifest(
        spark, {"changed.txt": "OLD", "same.txt": "ccc", "stale.txt": "ddd"}
    )
    actions = {
        r["key"]: r["action"] for r in classify_mirror(remote, mirror).collect()
    }
    assert actions == {
        "new.txt": "insert",
        "changed.txt": "update",
        "same.txt": "skip",
        "stale.txt": "delete",
    }


def test_mirror_end_to_end_local(spark, tmp_path):
    src = tmp_path / "remote"
    dst = tmp_path / "mirror"
    src.mkdir()
    dst.mkdir()
    (src / "a.txt").write_text("alpha")
    (src / "b.txt").write_text("beta")
    (dst / "b.txt").write_text("BETA-OLD")
    (dst / "c.txt").write_text("gamma")  # no longer on remote -> delete

    remote = file_manifest(spark, str(src))
    mirror = file_manifest(spark, str(dst))
    plan = classify_mirror(remote, mirror)
    counts = apply_mirror_local(plan, str(src), str(dst))
    assert counts == {"insert": 1, "update": 1, "skip": 0, "delete": 1}
    assert (dst / "a.txt").read_text() == "alpha"
    assert (dst / "b.txt").read_text() == "beta"
    assert not (dst / "c.txt").exists()

    # idempotence: a second sync is all skips
    remote2 = file_manifest(spark, str(src))
    mirror2 = file_manifest(spark, str(dst))
    counts2 = apply_mirror_local(classify_mirror(remote2, mirror2), str(src), str(dst))
    assert counts2 == {"insert": 0, "update": 0, "skip": 2, "delete": 0}


def test_merge_manifest_converges_and_matches_apply_path(spark, tmp_path):
    """The declarative MERGE (merge_manifest over manifests) and the
    file-copying apply path (apply_mirror_local over directories) must
    land on the SAME mirror state — and that state is exactly the
    remote manifest (convergence invariant)."""
    from blspark.sync import merge_manifest

    src = tmp_path / "remote"
    dst = tmp_path / "mirror"
    src.mkdir()
    dst.mkdir()
    (src / "a.txt").write_text("alpha")
    (src / "b.txt").write_text("beta")
    (dst / "b.txt").write_text("BETA-OLD")
    (dst / "c.txt").write_text("gamma")

    remote = file_manifest(spark, str(src))
    mirror = file_manifest(spark, str(dst))
    plan = classify_mirror(remote, mirror)

    merged = {
        (r["key"], r["md5"]) for r in merge_manifest(mirror, plan).collect()
    }
    want = {(r["key"], r["md5"]) for r in remote.collect()}
    assert merged == want  # convergence: post-merge manifest == remote

    # and the file-level apply path re-scans to the identical manifest
    apply_mirror_local(plan, str(src), str(dst))
    rescanned = {
        (r["key"], r["md5"]) for r in file_manifest(spark, str(dst)).collect()
    }
    assert rescanned == merged


def test_apply_mirror_fs_uri_scheme(spark, tmp_path):
    """The backend-agnostic apply accepts scheme-ful URIs — the same
    code path a user pointing at ``s3://bucket/prefix`` runs — and
    handles nested keys (directory creation on the destination)."""
    from blspark.sync import apply_mirror_fs

    src = tmp_path / "remote"
    dst = tmp_path / "mirror"
    (src / "sub").mkdir(parents=True)
    dst.mkdir()
    (src / "a.txt").write_text("alpha")
    (src / "sub" / "deep.txt").write_text("nested")
    (dst / "c.txt").write_text("gamma")  # delete

    # listing_manifest for the remote side: file_manifest is flat by
    # design (reference listings are), and the nested key here exercises
    # destination directory creation in the FS apply path.
    remote = listing_manifest(spark, {"a.txt": "m1", "sub/deep.txt": "m2"})
    mirror = file_manifest(spark, str(dst))
    plan = classify_mirror(remote, mirror)
    counts = apply_mirror_fs(plan, f"file://{src}", f"file://{dst}")
    assert counts == {"insert": 2, "update": 0, "skip": 0, "delete": 1}
    assert (dst / "a.txt").read_text() == "alpha"
    assert (dst / "sub" / "deep.txt").read_text() == "nested"
    assert not (dst / "c.txt").exists()


def test_apply_mirror_fs_second_backend(spark, tmp_path):
    """Dependency-injected second filesystem backend: the destination is
    a ``SubTreeFileSystem`` (a distinct pyarrow FileSystem class whose
    paths are relative to its own root — structurally like an object
    store's bucket-rooted namespace). Proves the apply path issues ALL
    mirror mutations through the pyarrow FS interface, not os/shutil."""
    from pyarrow import fs as pafs

    from blspark.sync import apply_mirror_fs

    src = tmp_path / "remote"
    dstroot = tmp_path / "bucket"
    src.mkdir()
    (dstroot / "prefix").mkdir(parents=True)
    (src / "a.txt").write_text("alpha")
    (src / "b.txt").write_text("beta")
    (dstroot / "prefix" / "b.txt").write_text("BETA-OLD")
    (dstroot / "prefix" / "c.txt").write_text("gamma")

    remote = file_manifest(spark, str(src))
    mirror = file_manifest(spark, str(dstroot / "prefix"))
    plan = classify_mirror(remote, mirror)

    subfs = pafs.SubTreeFileSystem(str(dstroot), pafs.LocalFileSystem())
    counts = apply_mirror_fs(plan, str(src), (subfs, "prefix"))
    assert counts == {"insert": 1, "update": 1, "skip": 0, "delete": 1}
    assert (dstroot / "prefix" / "a.txt").read_text() == "alpha"
    assert (dstroot / "prefix" / "b.txt").read_text() == "beta"
    assert not (dstroot / "prefix" / "c.txt").exists()


def test_newest_key_lexicographic(spark):
    df = listing_manifest(
        spark,
        {
            "population_data_20240101_000000.json": "x",
            "population_data_20241231_235959.json": "y",
            "population_data_20240601_120000.json": "z",
            "other_20250101_000000.json": "w",
            "population_data_notjson.txt": "v",
        },
    )
    assert (
        newest_key(df, "population_data_", ".json")
        == "population_data_20241231_235959.json"
    )


def test_listing_manifest_is_local_relation(spark):
    """Built from Arrow: a JVM LocalTableScan, not a Python-RDD scan."""
    df = listing_manifest(spark, {"b.txt": "m2", "a.txt": "m1"})
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "LocalTableScan" in plan and "ExistingRDD" not in plan
    assert [tuple(r) for r in df.collect()] == [("a.txt", "m1"), ("b.txt", "m2")]
    empty = listing_manifest(spark, {})
    assert empty.collect() == [] and empty.columns == ["key", "md5"]


class _FlakyFS:
    """Duck-typed pyarrow-FileSystem wrapper that raises OSError on the
    first N mutating calls per process, then delegates — simulating a
    transient object-store error (the reference retries uploads ×3 with
    linear backoff, sync_and_fetch.py:120-131)."""

    def __init__(self, inner, fail_first: int = 1):
        self._inner = inner
        self._fails_left = fail_first

    def _maybe_fail(self):
        if self._fails_left > 0:
            self._fails_left -= 1
            raise OSError("injected transient failure")

    def create_dir(self, path, recursive=True):
        return self._inner.create_dir(path, recursive=recursive)

    def get_file_info(self, path):
        return self._inner.get_file_info(path)

    def open_input_stream(self, path):
        return self._inner.open_input_stream(path)

    def open_output_stream(self, path):
        self._maybe_fail()
        return self._inner.open_output_stream(path)

    def delete_file(self, path):
        self._maybe_fail()
        return self._inner.delete_file(path)


def test_apply_mirror_fs_retries_transient_errors(spark, tmp_path):
    """A destination filesystem that fails the first mutating call per
    worker still converges: each per-file copy/delete is wrapped in
    with_retries (linear ×3), so one transient error never fails the
    partition. Counts and final mirror state are unchanged vs a healthy
    run."""
    import sys

    from pyspark import cloudpickle

    from blspark.sync import apply_mirror_fs

    # The wrapper class lives in this test module, which executors can't
    # import — serialize it by value instead.
    cloudpickle.register_pickle_by_value(sys.modules[__name__])
    try:
        from pyarrow import fs as pafs

        src = tmp_path / "remote"
        dst = tmp_path / "mirror"
        src.mkdir()
        dst.mkdir()
        (src / "a.txt").write_text("alpha")
        (src / "b.txt").write_text("beta")
        (dst / "b.txt").write_text("BETA-OLD")
        (dst / "c.txt").write_text("gamma")

        remote = file_manifest(spark, str(src))
        mirror = file_manifest(spark, str(dst))
        # single partition so every action hits the SAME flaky instance
        plan = classify_mirror(remote, mirror).coalesce(1)

        flaky = _FlakyFS(pafs.LocalFileSystem(), fail_first=2)
        counts = apply_mirror_fs(
            plan,
            str(src),
            (flaky, str(dst)),
            retry_backoff_s=0.0,
        )
        assert counts == {"insert": 1, "update": 1, "skip": 0, "delete": 1}
        assert (dst / "a.txt").read_text() == "alpha"
        assert (dst / "b.txt").read_text() == "beta"
        assert not (dst / "c.txt").exists()
    finally:
        cloudpickle.unregister_pickle_by_value(sys.modules[__name__])


def test_apply_mirror_fs_relative_path_resolved_on_driver(spark, tmp_path, monkeypatch):
    """A bare relative dst root must be resolved against the DRIVER's
    cwd before the closure ships (ADVICE r7): chdir after building the
    plan, then apply — files must land under the original cwd."""
    from blspark.sync import apply_mirror_fs

    src = tmp_path / "remote"
    dst = tmp_path / "mirror"
    elsewhere = tmp_path / "elsewhere"
    src.mkdir()
    dst.mkdir()
    elsewhere.mkdir()
    (src / "a.txt").write_text("alpha")

    remote = file_manifest(spark, str(src))
    mirror = file_manifest(spark, str(dst))
    plan = classify_mirror(remote, mirror)

    monkeypatch.chdir(tmp_path)
    counts = apply_mirror_fs(plan, str(src), "mirror")
    assert counts["insert"] == 1
    assert (dst / "a.txt").read_text() == "alpha"
    assert not (elsewhere / "a.txt").exists()


def test_apply_mirror_fs_s3_compatible_endpoint(spark, tmp_path):
    """Live-path test for the ``s3://`` scheme through the SAME
    backend-agnostic apply code path (VERDICT r7 item 8). Env-gated:
    set BLSPARK_S3_TEST_ENDPOINT (e.g. a MinIO/localstack URL),
    BLSPARK_S3_TEST_BUCKET, and credentials via the standard
    AWS_ACCESS_KEY_ID / AWS_SECRET_ACCESS_KEY to run it; skipped
    wherever CI provides no stand-in (this container has no network)."""
    import os
    import uuid

    import pytest

    endpoint = os.environ.get("BLSPARK_S3_TEST_ENDPOINT")
    bucket = os.environ.get("BLSPARK_S3_TEST_BUCKET")
    if not endpoint or not bucket:
        pytest.skip("no S3-compatible test endpoint configured "
                    "(BLSPARK_S3_TEST_ENDPOINT / BLSPARK_S3_TEST_BUCKET)")

    from pyarrow import fs as pafs

    from blspark.sync import apply_mirror_fs

    s3 = pafs.S3FileSystem(
        endpoint_override=endpoint, allow_bucket_creation=False
    )
    prefix = f"{bucket}/blspark-test-{uuid.uuid4().hex[:12]}"

    src = tmp_path / "remote"
    src.mkdir()
    (src / "a.txt").write_text("alpha")
    (src / "sub").mkdir()
    (src / "sub" / "deep.txt").write_text("nested")

    remote = listing_manifest(spark, {"a.txt": "m1", "sub/deep.txt": "m2"})
    mirror = listing_manifest(spark, {})  # empty mirror: all inserts
    plan = classify_mirror(remote, mirror)
    try:
        counts = apply_mirror_fs(plan, str(src), (s3, prefix))
        assert counts == {"insert": 2, "update": 0, "skip": 0, "delete": 0}
        with s3.open_input_stream(f"{prefix}/a.txt") as f:
            assert f.read() == b"alpha"
        with s3.open_input_stream(f"{prefix}/sub/deep.txt") as f:
            assert f.read() == b"nested"
        # and the delete path: second plan removes one object
        plan2 = classify_mirror(
            listing_manifest(spark, {"a.txt": "m1"}),
            listing_manifest(spark, {"a.txt": "m1", "sub/deep.txt": "m2"}),
        )
        counts2 = apply_mirror_fs(plan2, str(src), (s3, prefix))
        assert counts2["delete"] == 1
        info = s3.get_file_info(f"{prefix}/sub/deep.txt")
        assert info.type == pafs.FileType.NotFound
    finally:
        try:
            s3.delete_dir_contents(prefix, missing_dir_ok=True)
        except OSError:
            pass


def test_apply_mirror_fs_keeps_caller_cache(spark, tmp_path):
    """A plan the caller persisted stays persisted across the apply, and
    still answers with the classification made before the mirror moved."""
    src = tmp_path / "remote"
    dst = tmp_path / "mirror"
    src.mkdir()
    dst.mkdir()
    (src / "a.txt").write_text("alpha")
    (dst / "c.txt").write_text("gamma")

    plan = classify_mirror(
        file_manifest(spark, str(src)), file_manifest(spark, str(dst))
    ).persist()
    level = plan.storageLevel
    try:
        counts = apply_mirror_local(plan, str(src), str(dst))
        assert counts == {"insert": 1, "update": 0, "skip": 0, "delete": 1}
        assert plan.is_cached and plan.storageLevel == level
        assert {r["key"]: r["action"] for r in plan.collect()} == {
            "a.txt": "insert",
            "c.txt": "delete",
        }
    finally:
        plan.unpersist()


def test_apply_mirror_delta_across_partitions(spark, tmp_path):
    """A delta sync whose updates and deletes fall in several of the 8
    shuffle partitions: the per-task accumulator counts add up exactly
    and the mirror ends equal to the source."""
    from pyspark.sql import functions as F

    src = tmp_path / "remote"
    dst = tmp_path / "mirror"
    src.mkdir()
    dst.mkdir()
    for i in range(60):
        if i % 10 != 9:  # 9, 19, ... exist only in the mirror: deletes
            (src / f"f{i:02d}.txt").write_text(f"v2-{i}")
        if i % 10 != 0:  # 0, 10, ... exist only in the source: inserts
            (dst / f"f{i:02d}.txt").write_text(f"v1-{i}" if i % 3 == 0 else f"v2-{i}")
    want = {p.name: p.read_bytes() for p in src.iterdir()}

    conf = {
        "spark.sql.shuffle.partitions": "8",
        # keep all 8 partitions: AQE would fold this small shuffle into one
        "spark.sql.adaptive.coalescePartitions.enabled": "false",
    }
    old = {k: spark.conf.get(k) for k in conf}
    for k, v in conf.items():
        spark.conf.set(k, v)
    try:
        plan = classify_mirror(
            file_manifest(spark, str(src)), file_manifest(spark, str(dst))
        )
        where = plan.select(F.spark_partition_id().alias("p"), "action").collect()
        for action in ("update", "delete"):
            assert len({r["p"] for r in where if r["action"] == action}) >= 2
        counts = apply_mirror_local(plan, str(src), str(dst))
    finally:
        for k, v in old.items():
            spark.conf.set(k, v)
    # i % 10 == 0 → insert (6); i % 10 == 9 → delete (6); of the rest,
    # i % 3 == 0 → update (16), else skip (32).
    assert counts == {"insert": 6, "update": 16, "skip": 32, "delete": 6}
    assert {p.name: p.read_bytes() for p in dst.iterdir()} == want
