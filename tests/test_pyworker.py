"""blspark.pyworker: Python tasks of a get_spark session run under the
daemon that re-reads a zip archive's directory only when the archive
changed."""

from __future__ import annotations

import os
import subprocess
import sys
import textwrap

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def test_python_tasks_run_under_blspark_daemon(spark):
    def daemon_and_zip_reads(_rows):
        """Runs in a Python worker: the module the daemon was started as,
        and how many zip directories one ``importlib.invalidate_caches()``
        reads (pyspark's worker calls it before every task)."""
        import importlib
        import zipimport

        reads = []
        read_directory = zipimport._read_directory

        def counting(path):
            reads.append(path)
            return read_directory(path)

        zipimport._read_directory = counting
        try:
            importlib.invalidate_caches()
        finally:
            zipimport._read_directory = read_directory
        spec = getattr(sys.modules["__main__"], "__spec__", None)
        return [(spec.name if spec else None, len(reads))]

    sc = spark.sparkContext
    rows = sc.parallelize(range(4), 4).mapPartitions(daemon_and_zip_reads).collect()
    assert rows == [("blspark.pyworker", 0)] * 4


_REWRITE = textwrap.dedent(
    """
    import importlib, sys, zipfile, zipimport

    from blspark.pyworker import install

    install()
    reads = []
    read_directory = zipimport._read_directory
    zipimport._read_directory = lambda p: reads.append(p) or read_directory(p)

    def write(archive, modules):
        with zipfile.ZipFile(archive, "w") as z:
            z.writestr("zpkg/__init__.py", "")
            for name, body in modules.items():
                z.writestr(f"zpkg/{name}.py", body)

    archive = sys.argv[1]
    write(archive, {"a": "X = 1"})
    sys.path.insert(0, archive)
    import zpkg.a

    importlib.invalidate_caches()  # records the archive's stat, as the daemon does
    reads.clear()
    importlib.invalidate_caches()
    unchanged = len(reads)
    write(archive, {"a": "X = 1", "b": "Y = 2"})
    reads.clear()
    importlib.invalidate_caches()
    rewritten = len(reads)
    import zpkg.b

    print(zpkg.a.X + zpkg.b.Y, unchanged, rewritten)
    """
)


def test_rewritten_archive_is_reread(tmp_path):
    """An archive rewritten in place is read again, so a module the
    rewrite added imports; an unchanged one is not read at all. Runs in
    a subprocess because ``install`` patches ``zipimport`` process-wide."""
    out = subprocess.run(
        [sys.executable, "-c", _REWRITE, str(tmp_path / "mods.zip")],
        cwd=REPO,
        capture_output=True,
        text=True,
        timeout=300,
    )
    assert out.returncode == 0, out.stderr
    total, unchanged, rewritten = map(int, out.stdout.split())
    assert total == 3
    if sys.version_info < (3, 13):
        # Two importers cover the archive (its root and zpkg/): one read
        # serves both.
        assert (unchanged, rewritten) == (0, 1)
