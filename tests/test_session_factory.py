"""get_spark's conf choices, checked against a recording builder so no
second JVM starts."""

from __future__ import annotations

import os
from types import SimpleNamespace

import pytest

import blspark.session as session


class _Builder:
    def __init__(self):
        self.conf = {}

    def master(self, master):
        self.conf["master"] = master
        return self

    def appName(self, name):
        return self

    def config(self, key, value):
        self.conf[key] = value
        return self

    def getOrCreate(self):
        return SimpleNamespace(
            sparkContext=SimpleNamespace(setLogLevel=lambda level: None)
        )


MASTERS = [
    ("local", True),
    ("local[4]", True),
    ("local[*]", True),
    ("local-cluster[2,1,1024]", False),
    ("spark://host:7077", False),
    ("yarn", False),
]


def _recorded_conf(monkeypatch, **kwargs) -> dict[str, str]:
    builder = _Builder()
    monkeypatch.setattr(
        session, "SparkSession", SimpleNamespace(builder=builder)
    )
    session.get_spark(**kwargs)
    return builder.conf


@pytest.mark.parametrize("master, local", MASTERS)
def test_local_parallelism_only_on_single_jvm_local_master(
    monkeypatch, master, local
):
    conf = _recorded_conf(monkeypatch, master=master, shuffle_partitions=6)
    assert conf["master"] == master
    assert ("blspark.assign.localParallelism" in conf) == local
    if local:
        assert conf["blspark.assign.localParallelism"] == "6"


@pytest.mark.parametrize("master, local", MASTERS)
def test_worker_daemon_only_on_single_jvm_local_master(monkeypatch, master, local):
    """The zip-cache-keeping daemon and the package root on the worker
    path ride the same single-JVM local gate."""
    conf = _recorded_conf(monkeypatch, master=master)
    assert ("spark.python.daemon.module" in conf) == local
    assert ("spark.executorEnv.PYTHONPATH" in conf) == local
    if local:
        assert conf["spark.python.daemon.module"] == "blspark.pyworker"
        root = conf["spark.executorEnv.PYTHONPATH"]
        assert os.path.isfile(os.path.join(root, "blspark", "pyworker.py"))


def test_extra_conf_applied_last(monkeypatch):
    conf = _recorded_conf(
        monkeypatch,
        master="local[2]",
        extra_conf={
            "spark.python.daemon.module": "pyspark.daemon",
            "spark.executorEnv.PYTHONPATH": "/srv/app/lib",
        },
    )
    assert conf["spark.python.daemon.module"] == "pyspark.daemon"
    assert conf["spark.executorEnv.PYTHONPATH"] == "/srv/app/lib"
