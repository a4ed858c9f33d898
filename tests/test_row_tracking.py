"""Row tracking (Delta writer feature `rowTracking`): every row gets a
STABLE `_row_id` that survives appends, deletion-vector DML, copy-on-write
rewrites and OPTIMIZE. Fresh files answer ids from log metadata
(baseRowId + parquet row index); rewrites MATERIALIZE surviving ids into
hidden parquet columns; readers coalesce the two."""

import pytest
from pyspark.sql import functions as F

from athena_delta_lake_spark.delta import (
    DeltaLog,
    DeltaTable,
    enable_row_tracking,
    write_delta,
)
from athena_delta_lake_spark.delta.dml import (
    compact,
    delete,
    delete_mor,
    merge_upsert,
    update,
)


@pytest.fixture()
def tbl(spark, tmp_path):
    path = str(tmp_path / "rt_tbl")
    df = spark.createDataFrame(
        [(i, i % 3, float(i)) for i in range(30)], "id long, k int, v double"
    ).coalesce(2)
    write_delta(df, path)
    enable_row_tracking(path)
    return path


def _ids(spark, path):
    return {
        r["id"]: (r["_row_id"], r["_row_commit_version"])
        for r in DeltaTable(spark, path).to_df_with_row_ids().collect()
    }


def test_enable_backfills_unique_ids(spark, tbl):
    snap = DeltaLog(tbl).snapshot()
    assert "rowTracking" in (snap.protocol.get("writerFeatures") or [])
    assert all(f.base_row_id is not None for f in snap.files)
    got = _ids(spark, tbl)
    row_ids = [rid for rid, _ in got.values()]
    assert len(set(row_ids)) == 30 and min(row_ids) == 0 and max(row_ids) == 29
    assert enable_row_tracking(tbl) == snap.version  # idempotent


def test_ids_stable_across_append_and_dv_delete(spark, tbl):
    before = _ids(spark, tbl)
    write_delta(
        spark.createDataFrame([(100, 0, 1.0)], "id long, k int, v double"),
        tbl,
        mode="append",
    )
    delete_mor(spark, tbl, where="id = 4")
    after = _ids(spark, tbl)
    assert after[100][0] == 30  # fresh id continues past the high-water mark
    assert 4 not in after
    for i, (rid, _) in before.items():
        if i != 4:
            assert after[i][0] == rid, f"id of row {i} drifted"


def test_ids_survive_cow_update_and_optimize(spark, tbl):
    before = _ids(spark, tbl)
    update(spark, tbl, set={"v": "v + 1000"}, where="k = 1")
    mid = _ids(spark, tbl)
    assert {i: r for i, (r, _) in mid.items()} == {
        i: r for i, (r, _) in before.items()
    }
    # updated rows advance their commit version; untouched files keep it.
    # (the whole candidate file is rewritten, so every row in it moves)
    compact(spark, tbl, target_file_size=1 << 30)
    after = _ids(spark, tbl)
    assert {i: r for i, (r, _) in after.items()} == {
        i: r for i, (r, _) in before.items()
    }


def test_ids_survive_cow_delete_and_merge(spark, tbl):
    before = _ids(spark, tbl)
    delete(spark, tbl, where="id >= 25")  # COW rewrite of survivors
    src = spark.createDataFrame(
        [(3, 9, -1.0), (200, 9, -2.0)], "id long, k int, v double"
    )
    merge_upsert(spark, tbl, src, keys=["id"])
    after = _ids(spark, tbl)
    assert after[3][0] == before[3][0]  # updated row keeps its identity
    for i in range(25):
        if i != 3:
            assert after[i][0] == before[i][0]
    assert 25 not in after and 29 not in after
    new_ids = {rid for rid, _ in after.values()}
    assert after[200][0] not in {rid for rid, _ in before.values()}
    assert len(new_ids) == len(after)  # still globally unique


def test_row_tracking_guards(spark, tbl, tmp_path):
    from athena_delta_lake_spark.delta.writer import set_table_properties

    with pytest.raises(ValueError, match="enable_row_tracking"):
        set_table_properties(tbl, {"delta.enableRowTracking": "true"})
    plain = str(tmp_path / "plain")
    write_delta(spark.createDataFrame([(1,)], "id long"), plain)
    with pytest.raises(ValueError, match="row tracking is not enabled"):
        DeltaTable(spark, plain).to_df_with_row_ids()


def test_row_tracking_with_column_mapping(spark, tmp_path):
    """Both features together: mapped tables stage physical names AND
    materialized ids; ids stay stable through RENAME + COW update +
    OPTIMIZE on a renamed, physically-named layout."""
    from athena_delta_lake_spark.delta.writer import (
        enable_column_mapping,
        rename_column,
    )

    path = str(tmp_path / "rt_cm")
    df = spark.createDataFrame(
        [(i, i % 2, float(i)) for i in range(20)], "id long, k int, v double"
    ).coalesce(1)
    write_delta(df, path, partition_by=["k"])
    enable_column_mapping(path)
    enable_row_tracking(path)
    before = _ids(spark, path)
    rename_column(path, "v", "quality")
    update(spark, path, set={"quality": "quality * 2"}, where="k = 1")
    compact(spark, path, target_file_size=1 << 30)
    write_delta(
        spark.createDataFrame([(50, 0, 9.0)], "id long, k int, quality double"),
        path,
        mode="append",
    )
    after = _ids(spark, path)
    for i, (rid, _) in before.items():
        assert after[i][0] == rid, f"id of row {i} drifted"
    # fresh id continues past the high-water mark (rewrites advance it
    # too — their adds get ranges even though surviving rows answer from
    # materialized ids — so the only guarantees are uniqueness + beyond)
    prior_ids = {rid for rid, _ in before.items()}
    assert after[50][0] > max(rid for rid, _ in before.values())
    assert len({rid for rid, _ in after.values()}) == len(after)
    got = {
        r["id"]: r["quality"]
        for r in DeltaTable(spark, path).to_df().collect()
    }
    assert got[1] == 2.0 and got[50] == 9.0


def test_ids_stable_across_mor_update_and_merge(spark, tbl):
    from athena_delta_lake_spark.delta.dml import merge_upsert_mor, update_mor

    before = _ids(spark, tbl)
    update_mor(spark, tbl, set={"v": "v + 500"}, where="k = 2")
    mid = _ids(spark, tbl)
    assert {i: r for i, (r, _) in mid.items()} == {
        i: r for i, (r, _) in before.items()
    }
    src = spark.createDataFrame(
        [(7, 9, -7.0), (300, 9, -3.0)], "id long, k int, v double"
    )
    merge_upsert_mor(spark, tbl, src, keys=["id"])
    after = _ids(spark, tbl)
    assert after[7][0] == before[7][0]  # MOR-updated row keeps identity
    assert 300 in after
    for i, (rid, _) in before.items():
        assert after[i][0] == rid
    assert len({rid for rid, _ in after.values()}) == len(after)


def test_enable_row_tracking_light_equals_classic(
    spark, tmp_path, monkeypatch
):
    """The classic (driver loop) and light (executor-side prefix sum)
    backfills commit the same add set — paths, physical partition keys,
    stats, DV descriptors, dataChange false — except for the baseRowId
    each file's range starts at, and record the same high-water mark.
    Source: column-mapped with a physical-name collision, DVs, and a
    checkpoint (conftest.dv_source_table)."""
    import json
    import os
    import shutil

    from conftest import dv_source_table

    a = dv_source_table(spark, str(tmp_path / "a"), mapped=True)
    b = str(tmp_path / "b")
    shutil.copytree(a, b)
    DeltaLog.clear_cache()
    v_a = enable_row_tracking(a)
    monkeypatch.setenv("ADLS_LIGHT_PLANNING_FILES", "1")
    assert DeltaLog(b).light_planning_engaged()
    v_b = enable_row_tracking(b)
    monkeypatch.delenv("ADLS_LIGHT_PLANNING_FILES")
    DeltaLog.clear_cache()
    assert v_a == v_b

    def _commit(path, v):
        adds, hwm, ranges = [], None, []
        with open(os.path.join(path, "_delta_log", f"{v:020d}.json")) as f:
            for line in f:
                act = json.loads(line)
                if "add" in act:
                    d = act["add"]
                    ranges.append((d.pop("baseRowId"), d["stats"]))
                    d["stats"] = json.loads(d["stats"])
                    adds.append(d)
                elif "domainMetadata" in act:
                    hwm = act["domainMetadata"]["configuration"]
        return sorted(adds, key=lambda d: d["path"]), hwm, ranges

    adds_a, hwm_a, ranges_a = _commit(a, v_a)
    adds_b, hwm_b, ranges_b = _commit(b, v_b)
    assert len(adds_a) == len(adds_b) > 0
    assert adds_a == adds_b
    assert any("deletionVector" in d for d in adds_b)
    assert all(d["defaultRowCommitVersion"] == v_a for d in adds_b)
    assert hwm_a == hwm_b
    # both ranges exactly tile [0, hwm]
    hwm = json.loads(hwm_a)["rowIdHighWaterMark"]
    for ranges in (ranges_a, ranges_b):
        spans = sorted(
            (base, base + json.loads(st)["numRecords"] - 1)
            for base, st in ranges
        )
        assert spans[0][0] == 0 and spans[-1][1] == hwm
        assert all(x[1] + 1 == y[0] for x, y in zip(spans, spans[1:]))
