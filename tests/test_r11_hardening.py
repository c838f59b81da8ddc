"""r11 guard-path pins (ADVICE r10): malformed-env fallback and the
scoped-persist release. No SparkSession needed."""

from __future__ import annotations

from data_pipeline_4_online_retail_spark import session
from data_pipeline_4_online_retail_spark.session import initial_partition_num

SF001 = "/root/testdata/sf0.001"


def test_malformed_init_part_mult_falls_back(monkeypatch):
    """A malformed SPARK_GRAFT_INIT_PART_MULT must not raise (it used to
    fail session construction, ADVICE r10) — the derived path runs
    instead, so the small fixture stays on the 1x fast path."""
    monkeypatch.setenv("SPARK_GRAFT_INIT_PART_MULT", "eight")
    assert initial_partition_num(SF001, 32) == 32


def test_valid_init_part_mult_still_forces(monkeypatch):
    monkeypatch.setenv("SPARK_GRAFT_INIT_PART_MULT", "8")
    assert initial_partition_num(SF001, 32) == 256


class _RaisingHandle:
    def __init__(self, log):
        self._log = log

    def unpersist(self):
        self._log.append("raised")
        raise RuntimeError("stale handle")


class _GoodHandle:
    def __init__(self, log):
        self._log = log

    def unpersist(self):
        self._log.append("ok")


def test_release_scoped_survives_raising_handles(monkeypatch):
    """Every handle is popped and unpersist attempted even when earlier
    handles raise (the stopped-context NPE class) — the registry ends
    empty and later handles still release."""
    calls: list[str] = []
    retained = [_GoodHandle(calls), _RaisingHandle(calls), _GoodHandle(calls)]
    monkeypatch.setattr(session, "_SCOPED", retained)
    session.release_scoped()
    assert retained == []
    assert sorted(calls) == ["ok", "ok", "raised"]
