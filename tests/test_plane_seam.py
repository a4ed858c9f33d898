"""The classic/light plane is chosen in ONE place: DeltaLog.light_plane
(planners that run executor-side file scans) and DeltaLog.header
(file-less consumers). Both snapshot shapes come out of one replay core,
so they reach the same versions and fail with the same named errors."""

import ast
import glob
import os

import pytest

from athena_delta_lake_spark.delta.log import DeltaLog, LightSnapshot
from athena_delta_lake_spark.delta.writer import (
    cleanup_log,
    write_checkpoint,
    write_delta,
)

PKG = os.path.join(
    os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
    "athena_delta_lake_spark",
)


def _table(spark, path, commits=1):
    for i in range(commits):
        write_delta(
            spark.createDataFrame(
                [(i * 10 + j, j % 3) for j in range(10)], "id long, k long"
            ),
            path,
            partition_by=["k"],
        )
    DeltaLog.clear_cache()


def test_only_log_module_decides_the_plane():
    """No module but delta/log.py may call light_planning_engaged: every
    other routing site asks light_plane()/header() instead of branching
    on the threshold itself."""
    offenders = []
    for root, _dirs, files in os.walk(PKG):
        for name in files:
            if not name.endswith(".py"):
                continue
            path = os.path.join(root, name)
            rel = os.path.relpath(path, PKG)
            if rel == os.path.join("delta", "log.py"):
                continue
            with open(path, encoding="utf-8") as fh:
                tree = ast.parse(fh.read(), path)
            for node in ast.walk(tree):
                if not isinstance(node, ast.Call):
                    continue
                fn = node.func
                called = (
                    fn.attr if isinstance(fn, ast.Attribute)
                    else fn.id if isinstance(fn, ast.Name) else None
                )
                if called == "light_planning_engaged":
                    offenders.append(f"{rel}:{node.lineno}")
    assert offenders == [], offenders


def test_expired_version_names_its_cause_on_both_planes(spark, tmp_path):
    """A version whose commit JSONs were removed by log cleanup raises the
    same named cause from the classic and the header-only replay."""
    path = str(tmp_path / "expired")
    _table(spark, path, commits=3)
    write_checkpoint(path)
    cleanup_log(path, retention_hours=0)
    DeltaLog.clear_cache()
    log = DeltaLog(path)
    assert not os.path.exists(
        os.path.join(path, "_delta_log", f"{0:020d}.json")
    )
    for replay in (log.snapshot, log.snapshot_light):
        with pytest.raises(ValueError, match="expired by log retention"):
            replay(0)


def test_light_plane_is_none_below_threshold(spark, tmp_path, monkeypatch):
    path = str(tmp_path / "small")
    _table(spark, path)
    write_checkpoint(path)
    monkeypatch.delenv("ADLS_LIGHT_PLANNING_FILES", raising=False)
    DeltaLog.clear_cache()
    assert DeltaLog(path).light_plane(spark=spark) is None


def test_light_plane_is_none_without_a_session(spark, tmp_path, monkeypatch):
    from pyspark.sql import SparkSession

    path = str(tmp_path / "nosession")
    _table(spark, path)
    write_checkpoint(path)
    monkeypatch.setenv("ADLS_LIGHT_PLANNING_FILES", "1")
    DeltaLog.clear_cache()
    log = DeltaLog(path)
    assert isinstance(log.light_plane(), LightSnapshot)  # active session
    monkeypatch.setattr(
        SparkSession, "getActiveSession", classmethod(lambda cls: None)
    )
    assert log.light_plane() is None
    # an explicit session still selects the light plane
    assert isinstance(log.light_plane(spark=spark), LightSnapshot)


def test_light_plane_below_newest_checkpoint(spark, tmp_path, monkeypatch):
    """A target below the newest checkpoint gets the light plane only when
    an older complete checkpoint plus a plain commit tail reaches it."""
    path = str(tmp_path / "older")
    _table(spark, path)  # v0
    write_checkpoint(path)  # cp @ v0
    _table(spark, path)  # v1
    _table(spark, path)  # v2
    write_checkpoint(path)  # cp @ v2 (_last_checkpoint)
    monkeypatch.setenv("ADLS_LIGHT_PLANNING_FILES", "1")
    DeltaLog.clear_cache()
    log = DeltaLog(path)
    light = log.light_plane(1, spark)
    assert isinstance(light, LightSnapshot) and light.version == 1
    assert sorted(f.path for f in light.iter_files_local()) == sorted(
        f.path for f in log.snapshot(1).files
    )
    # without the older checkpoint, v1 is not light-reachable
    for f in glob.glob(
        os.path.join(path, "_delta_log", f"{0:020d}.checkpoint*")
    ):
        os.remove(f)
    DeltaLog.clear_cache()
    assert DeltaLog(path).light_plane(1, spark) is None
    assert isinstance(DeltaLog(path).light_plane(2, spark), LightSnapshot)


def test_header_is_file_less_past_threshold(spark, tmp_path, monkeypatch):
    path = str(tmp_path / "hdr_light")
    _table(spark, path, commits=2)
    write_checkpoint(path)
    monkeypatch.setenv("ADLS_LIGHT_PLANNING_FILES", "1")
    DeltaLog.clear_cache()
    log = DeltaLog(path)
    hdr = log.header()
    assert hdr.files == []
    assert hdr.version == log.latest_version()
    assert hdr.partition_columns == ["k"]
    assert [f.name for f in hdr.schema.fields] == ["id", "k"]


def test_header_below_threshold_is_the_cached_snapshot(
    spark, tmp_path, monkeypatch
):
    path = str(tmp_path / "hdr_classic")
    _table(spark, path, commits=2)
    monkeypatch.delenv("ADLS_LIGHT_PLANNING_FILES", raising=False)
    DeltaLog.clear_cache()
    log = DeltaLog(path)
    assert log.header() is log.snapshot()
    assert log.header(0) is log.snapshot(0)
