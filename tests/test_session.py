"""The engine's driver JVM flags: present in a live session, and kept
when a caller adds its own through ``extra_conf``."""

from __future__ import annotations

from types import SimpleNamespace

import pytest

from syncquill_spark import session
from syncquill_spark.session import JAVA_OPTIONS_KEY

ENGINE_FLAGS = [
    "-XX:ReservedCodeCacheSize=2g",
    "-XX:+UseCodeCacheFlushing",
    "-XX:Tier4InvocationThreshold=50000",
    "-XX:Tier4MinInvocationThreshold=6000",
    "-XX:Tier4CompileThreshold=150000",
    "-XX:Tier4BackEdgeThreshold=400000",
]


def test_session_jvm_runs_with_engine_flags(spark):
    mx = spark.sparkContext._jvm.java.lang.management.ManagementFactory.getRuntimeMXBean()
    args = list(mx.getInputArguments())
    missing = [f for f in ENGINE_FLAGS if f not in args]
    assert not missing, f"driver JVM lacks {missing}; its arguments: {args}"


class _RecordingBuilder:
    """Stands in for ``SparkSession.builder``: records the conf that
    ``get_spark`` sets and starts no JVM."""

    def __init__(self):
        self.conf: dict[str, str] = {}

    def appName(self, name):
        return self

    def master(self, master):
        return self

    def config(self, key, value):
        self.conf[key] = value
        return self

    def getOrCreate(self):
        return self.conf


def _conf_of(monkeypatch, extra_conf):
    monkeypatch.setattr(session, "SparkSession", SimpleNamespace(builder=_RecordingBuilder()))
    return session.get_spark("t", master="local[1]", extra_conf=extra_conf)


@pytest.mark.parametrize("caller_flags, tail", [
    (None, []),
    ("-XX:Tier4InvocationThreshold=7 -Dx=1", ["-XX:Tier4InvocationThreshold=7", "-Dx=1"]),
])
def test_extra_conf_java_options_append_after_engine_flags(monkeypatch, caller_flags, tail):
    extra_conf = {"spark.sql.warehouse.dir": "/w"}
    if caller_flags is not None:
        extra_conf[JAVA_OPTIONS_KEY] = caller_flags
    conf = _conf_of(monkeypatch, extra_conf)
    # every engine flag is kept, and the caller's come last, so HotSpot
    # takes the caller's value
    assert conf[JAVA_OPTIONS_KEY].split() == session.DRIVER_JAVA_OPTIONS.split() + tail
    assert conf["spark.sql.warehouse.dir"] == "/w"
