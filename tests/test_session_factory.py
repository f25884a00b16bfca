"""get_spark's conf choices, checked against a recording builder so no
second JVM starts."""

from __future__ import annotations

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


@pytest.mark.parametrize(
    "master, local",
    [
        ("local", True),
        ("local[4]", True),
        ("local[*]", True),
        ("local-cluster[2,1,1024]", False),
        ("spark://host:7077", False),
        ("yarn", False),
    ],
)
def test_local_parallelism_only_on_single_jvm_local_master(
    monkeypatch, master, local
):
    builder = _Builder()
    monkeypatch.setattr(
        session, "SparkSession", SimpleNamespace(builder=builder)
    )
    session.get_spark(master=master, shuffle_partitions=6)
    assert builder.conf["master"] == master
    assert ("blspark.assign.localParallelism" in builder.conf) == local
    if local:
        assert builder.conf["blspark.assign.localParallelism"] == "6"
