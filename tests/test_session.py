"""Session factory behaviour that needs no live SparkSession."""

from __future__ import annotations

from types import SimpleNamespace

import pytest

from weather_flink_spark import session


class _Builder:
    """Records what get_spark configures instead of building a session."""

    def __init__(self) -> None:
        self.conf: dict[str, str] = {}

    def appName(self, _name: str) -> "_Builder":
        return self

    def master(self, _master: str) -> "_Builder":
        return self

    def config(self, key: str, value: str) -> "_Builder":
        self.conf[key] = value
        return self

    def getOrCreate(self) -> dict[str, str]:
        return self.conf


def test_explicit_warehouse_skips_tmp_prune(monkeypatch, tmp_path):
    """SPARK_GRAFT_WAREHOUSE is used as given; the default's glob-and-
    prune of /tmp/wfs_* never runs."""

    def prune():
        pytest.fail("default warehouse (and its /tmp prune) evaluated")

    monkeypatch.setenv("SPARK_GRAFT_WAREHOUSE", str(tmp_path))
    monkeypatch.setattr(session, "_default_warehouse", prune)
    monkeypatch.setattr(session, "SparkSession", SimpleNamespace(builder=_Builder()))
    conf = session.get_spark("warehouse-probe")
    assert conf["spark.sql.warehouse.dir"] == str(tmp_path)
