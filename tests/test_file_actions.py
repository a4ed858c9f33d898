"""One file-action model (delta/log.py): `remove_action` names the entry
it retires by path AND deletion vector, and every reader folds a commit's
removes before its adds (log.fold_commit), whatever their order in the
commit JSON. Checked against conftest.protocol_live_files, a reference
replay that keys files the way the Delta protocol does — by (path, DV
uniqueId) — plus one hand-written commit listing add(p, dv2) before
remove(p, dv1)."""

import json
import os
import time

from conftest import assert_protocol_replay, force_light_engaged

from athena_delta_lake_spark import DeltaTable, write_delta
from athena_delta_lake_spark.delta.cdf import table_changes
from athena_delta_lake_spark.delta.log import DeltaLog, add_action
from athena_delta_lake_spark.delta.writer import (
    _rewrite_commute_conflict,
    commit_rewrite,
    compact_log,
    enable_column_mapping,
    rename_column,
    set_table_properties,
)


def _actions(path: str, v: int) -> list[dict]:
    with open(os.path.join(path, "_delta_log", f"{v:020d}.json")) as fh:
        return [json.loads(line) for line in fh if line.strip()]


def _one_file_table(spark, path: str, plane: str):
    """40 rows in ONE data file, so every MOR DML below touches it."""
    write_delta(
        spark.createDataFrame(
            [(i, i % 4) for i in range(40)], "id long, k long"
        ).coalesce(1),
        path,
    )
    if plane == "light":
        force_light_engaged(path)
    (f,) = DeltaLog(path).snapshot().files
    return DeltaTable(spark, path), f.path


def _entry(path: str, p: str):
    DeltaLog.clear_cache()
    return next(f for f in DeltaLog(path).snapshot().files if f.path == p)


def _changes(spark, path, lo, hi):
    return sorted(
        (r["id"], r["k"], r["_change_type"])
        for r in table_changes(spark, path, lo, hi).collect()
    )


def _stream_changes(spark, path, start, name):
    from athena_delta_lake_spark.sources.deltapond_source import register

    register(spark)
    q = (
        spark.readStream.format("deltapond")
        .option("readChangeFeed", "true")
        .option("startingVersion", start)
        .option("availableNow", "true")
        .load(path)
        .writeStream.format("memory")
        .queryName(name)
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    return spark.table(name)


def test_removes_carry_the_retired_dv_on_both_planes(spark, tmp_path, plane):
    path = str(tmp_path / "t")
    t, p = _one_file_table(spark, path, plane)
    t.delete(where="id = 1", mode="mor")
    v_dv1 = t.version()
    dv1 = _entry(path, p).deletion_vector
    # a second MOR delete of the file: its remove names the first DV
    t.delete(where="id = 2", mode="mor")
    (rem,) = [a["remove"] for a in _actions(path, t.version()) if "remove" in a]
    assert rem["path"] == p and rem["deletionVector"] == dv1
    assert set(rem) == {"path", "deletionTimestamp", "dataChange", "deletionVector"}
    assert_protocol_replay(path)

    t.update({"k": "k + 100"}, where="id = 3", mode="mor")
    assert_protocol_replay(path)
    t.merge(
        spark.createDataFrame([(4, -1), (500, -2)], "id long, k long"),
        ["id"],
        mode="mor",
    )
    assert_protocol_replay(path)

    # RESTORE across a DV change: remove(p, dv_current) + add(p, dv1)
    dv_cur = _entry(path, p).deletion_vector
    t.restore(version=v_dv1)
    acts = _actions(path, t.version())
    assert [a["remove"]["deletionVector"] for a in acts if "remove" in a
            and a["remove"]["path"] == p] == [dv_cur]
    assert [a["add"]["deletionVector"] for a in acts if "add" in a
            and a["add"]["path"] == p] == [dv1]
    assert_protocol_replay(path)
    assert sorted(r["id"] for r in t.to_df().collect()) == [
        i for i in range(40) if i != 1
    ]


def test_add_listed_before_remove_resolves_to_the_add(spark, tmp_path):
    path = str(tmp_path / "t")
    t, p = _one_file_table(spark, path, "classic")
    t.delete(where="id = 1", mode="mor")
    f1 = _entry(path, p)
    t.delete(where="id = 2", mode="mor")  # v2: remove(p, dv1) + add(p, dv2)
    f2 = _entry(path, p)
    assert t.version() == 2
    # v3: back to dv1 through the shared encoders
    commit_rewrite(
        path, "RESTORE", [{"add": add_action(f1, True)}], [f2], base_version=2
    )
    # v4: the v2 change again, written by hand with its add listed FIRST
    acts = _actions(path, 2)
    with open(os.path.join(path, "_delta_log", f"{4:020d}.json"), "w") as fh:
        for a in (
            [{"commitInfo": {"timestamp": int(time.time() * 1000),
                             "operation": "DELETE"}}]
            + [a for a in acts if "add" in a]
            + [a for a in acts if "remove" in a]
        ):
            fh.write(json.dumps(a) + "\n")
    DeltaLog.clear_cache()
    log = DeltaLog(path)
    want = [(p, f2.deletion_vector)]

    assert [(f.path, f.deletion_vector) for f in log.snapshot(4).files] == want
    light = log.snapshot_light(4).files_df(spark, full=True).collect()
    assert [(r["path"], json.loads(r["dv_json"])) for r in light] == want
    assert_protocol_replay(path)

    # v4 changes what v2 changed: row 2 deleted, nothing else
    assert _changes(spark, path, 4, 4) == _changes(spark, path, 2, 2) == [
        (2, 2, "delete")
    ]
    streamed = _stream_changes(spark, path, 4, "add_first_cdf")
    assert sorted(
        (r["id"], r["k"], r["_change_type"], r["_commit_version"])
        for r in streamed.collect()
    ) == [(2, 2, "delete", 4)]

    # commute walk: a rewrite planned on p-with-dv2 at v2 still finds it
    # live and unchanged at v4; one planned on p-with-dv1 conflicts
    assert not _rewrite_commute_conflict(path, 2, 4, [f2])
    assert _rewrite_commute_conflict(path, 1, 4, [f1])

    # replay through the compacted range folds the same way
    compact_log(path, 3, 4)
    DeltaLog.clear_cache()
    assert [(f.path, f.deletion_vector) for f in DeltaLog(path).snapshot(4).files] == want


def test_streaming_cdf_maps_partition_columns_to_logical_names(spark, tmp_path):
    """Streaming readChangeFeed on a column-mapped table whose partition
    column was renamed returns the same rows as table_changes — inserted
    files and cdc files alike carry the partition value under its
    logical name."""
    path = str(tmp_path / "t")
    write_delta(
        spark.createDataFrame([(i, i % 2) for i in range(10)], "id long, part int"),
        path,
        partition_by=["part"],
    )
    enable_column_mapping(path)
    rename_column(path, "part", "bucket")
    set_table_properties(path, {"delta.enableChangeDataFeed": "true"})
    write_delta(
        spark.createDataFrame([(100, 1)], "id long, bucket int"), path, mode="append"
    )
    t = DeltaTable(spark, path)
    assert t.version() == 4
    t.delete(where="id = 2")  # copy-on-write, so its changes are cdc files

    def rows(df):
        return sorted(
            (r["id"], r["bucket"], r["_change_type"], r["_commit_version"])
            for r in df.collect()
        )

    want = rows(table_changes(spark, path, 4, 5))
    assert want == [(2, 0, "delete", 5), (100, 1, "insert", 4)]
    assert rows(_stream_changes(spark, path, 4, "mapped_part_cdf")) == want
