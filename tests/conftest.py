import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

SF_DIR = os.environ.get("SPARK_GRAFT_TEST_SF_DIR", "/root/testdata/sf0.001")


@pytest.fixture(scope="session")
def spark():
    from athena_delta_lake_spark import get_spark

    s = get_spark(
        app_name="tests", master="local[8]", shuffle_partitions=8
    )
    yield s
    s.stop()


@pytest.fixture(scope="session")
def sf_dir():
    return SF_DIR


@pytest.fixture(params=["classic", "light"])
def plane(request, monkeypatch):
    """Run a test on BOTH planning planes. 'light' forces the
    light-planning threshold to 1 (0 would DISABLE it — log.py
    light_planning_threshold) so every scan / DML candidate selection at
    or past a checkpoint routes through LightSnapshot instead of the
    classic driver-side replay. Engagement still requires a
    `_last_checkpoint`, so light-plane walks must write one up front —
    use `force_light_engaged(path)` and it asserts the route is live."""
    from athena_delta_lake_spark.delta.log import DeltaLog

    if request.param == "light":
        monkeypatch.setenv("ADLS_LIGHT_PLANNING_FILES", "1")
        DeltaLog.clear_cache()
        yield "light"
        DeltaLog.clear_cache()
    else:
        # an externally-exported threshold (e.g. =1 left over from a perf
        # session) would silently turn this into a second light run — the
        # inverse of the silent-fallback class this fixture guards against
        monkeypatch.delenv("ADLS_LIGHT_PLANNING_FILES", raising=False)
        DeltaLog.clear_cache()
        yield "classic"
        DeltaLog.clear_cache()


def force_light_engaged(path: str) -> None:
    """Checkpoint `path` and assert light planning actually engaged —
    a walk that silently fell back to classic would otherwise 'pass'
    while testing nothing (the round-10 silent-fallback bug class)."""
    from athena_delta_lake_spark.delta.log import DeltaLog
    from athena_delta_lake_spark.delta.writer import write_checkpoint

    write_checkpoint(path)
    DeltaLog.clear_cache()
    assert DeltaLog(path).light_planning_engaged(), (
        f"light planning did not engage on {path} despite forced threshold"
    )


def dv_source_table(spark, path: str, mapped: bool = False) -> str:
    """A 40-row table partitioned by `part`, with deletion vectors from a
    MOR delete and a checkpoint at its tip — the source the classic-vs-
    light clone and row-tracking parity tests share. `mapped=True` adds
    column mapping with a physical-name COLLISION before the delete:
    part->bucket and score->s2 renames, then a new logical `score` whose
    physical name is `col-<uuid>` while physical `score` belongs to
    `s2` — so any key rename applied in the wrong direction, or twice,
    shows up as swapped stats."""
    from pyspark.sql import types as T

    from athena_delta_lake_spark.delta import DeltaLog, DeltaTable, write_delta
    from athena_delta_lake_spark.delta.writer import (
        add_columns,
        enable_column_mapping,
        rename_column,
        write_checkpoint,
    )

    df = spark.createDataFrame(
        [(i, f"u{i % 3}", float(i), i % 2) for i in range(40)],
        "id long, user string, score double, part int",
    )
    write_delta(df, path, partition_by=["part"])
    if mapped:
        enable_column_mapping(path)
        rename_column(path, "part", "bucket")
        rename_column(path, "score", "s2")
        add_columns(path, T.StructType([T.StructField("score", T.LongType())]))
    DeltaTable(spark, path).delete(where="id % 7 = 0", mode="mor")
    write_checkpoint(path)
    DeltaLog.clear_cache()
    return path


def _dv_id(dv: dict | None) -> str | None:
    if not dv:
        return None
    uid = f"{dv['storageType']}{dv['pathOrInlineDv']}"
    return uid if dv.get("offset") is None else f"{uid}@{dv['offset']}"


def protocol_live_files(path: str) -> dict:
    """Reference replay keyed the way the Delta protocol keys files: fold
    every commit JSON of `path` by (path, dvId), dvId = storageType +
    pathOrInlineDv + '@offset'. Reads the JSON commits only and shares no
    code with DeltaLog, so agreement between the two is evidence.
    Returns {(path, dvId): add body} of the live entries."""
    import json
    import re
    from urllib.parse import unquote

    log_dir = os.path.join(path, "_delta_log")
    live: dict = {}
    for name in sorted(os.listdir(log_dir)):
        if not re.fullmatch(r"\d{20}\.json", name):
            continue
        with open(os.path.join(log_dir, name)) as fh:
            actions = [json.loads(line) for line in fh if line.strip()]
        # an entry is added and removed at most once per commit, so the
        # keyed fold is the same in any action order
        for a in actions:
            if "remove" in a:
                r = a["remove"]
                live.pop((unquote(r["path"]), _dv_id(r.get("deletionVector"))), None)
        for a in actions:
            if "add" in a:
                ad = a["add"]
                live[(unquote(ad["path"]), _dv_id(ad.get("deletionVector")))] = ad
    return live


def assert_protocol_replay(path: str) -> None:
    """The protocol-keyed reference replay lists every live path once and
    agrees with DeltaLog.snapshot() on each file's deletion vector."""
    from athena_delta_lake_spark.delta.log import DeltaLog

    ref = sorted(protocol_live_files(path))
    paths = [p for p, _dv in ref]
    assert len(paths) == len(set(paths)), f"a path is live twice: {ref}"
    DeltaLog.clear_cache()
    snap = DeltaLog(path).snapshot()
    got = sorted((f.path, _dv_id(f.deletion_vector)) for f in snap.files)
    assert ref == got
