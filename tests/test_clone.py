"""SHALLOW / deep CLONE: metadata-only table copies whose add actions
reference the source's files by absolute path (Delta spec). The clone
evolves independently — appends/DML land locally, VACUUM never touches
source bytes — which is the 100 TB dev-snapshot primitive."""

import os
import shutil

import pytest
from pyspark.sql import functions as F

from athena_delta_lake_spark.delta import (
    DeltaLog,
    DeltaTable,
    clone_table,
    write_delta,
)
from athena_delta_lake_spark.delta.dml import delete, delete_mor, update, vacuum


@pytest.fixture()
def src(spark, tmp_path):
    path = str(tmp_path / "src_tbl")
    df = spark.createDataFrame(
        [(i, f"u{i % 3}", float(i), i % 2) for i in range(20)],
        "id long, user string, score double, part int",
    )
    write_delta(df, path, partition_by=["part"])
    return path


def _rows(spark, path):
    return {tuple(r) for r in DeltaTable(spark, path).to_df().collect()}


def test_shallow_clone_is_metadata_only(spark, src, tmp_path):
    dst = str(tmp_path / "clone1")
    v = clone_table(src, dst)
    assert v == 0
    # no data bytes copied into the clone
    data_files = [
        n
        for root, _d, names in os.walk(dst)
        for n in names
        if n.endswith(".parquet") and "_delta_log" not in root
    ]
    assert data_files == []
    assert _rows(spark, dst) == _rows(spark, src)
    # partition pruning on the clone still works (absolute-path files)
    pruned = DeltaTable(spark, dst).to_df(where="part = 1")
    assert {r["id"] % 2 for r in pruned.collect()} == {1}


def test_clone_diverges_independently(spark, src, tmp_path):
    dst = str(tmp_path / "clone2")
    clone_table(src, dst)
    extra = spark.createDataFrame(
        [(100, "u9", 42.0, 0)], "id long, user string, score double, part int"
    )
    write_delta(extra, dst, mode="append")
    delete(spark, dst, where="id < 5")
    update(spark, dst, set={"score": "score * 10"}, where="id = 7")
    got = {r["id"]: r["score"] for r in DeltaTable(spark, dst).to_df().collect()}
    assert 100 in got and got[7] == 70.0 and 0 not in got
    # source untouched
    src_rows = {r["id"]: r["score"] for r in DeltaTable(spark, src).to_df().collect()}
    assert src_rows[7] == 7.0 and 0 in src_rows and 100 not in src_rows


def test_vacuum_on_clone_never_deletes_source(spark, src, tmp_path):
    dst = str(tmp_path / "clone3")
    clone_table(src, dst)
    # rewrite everything clone-side so the cloned references are dropped
    delete(spark, dst, where="id >= 0")
    out = vacuum(dst, retention_hours=0.0)
    # vacuum walked only the clone dir: no source file in the doomed list
    assert all(not p.startswith(src) for p in out["files"])
    assert _rows(spark, src) and len(_rows(spark, src)) == 20


def test_time_travel_clone(spark, src, tmp_path):
    extra = spark.createDataFrame(
        [(200, "u0", 1.0, 0)], "id long, user string, score double, part int"
    )
    write_delta(extra, src, mode="append")  # v1
    dst = str(tmp_path / "clone4")
    clone_table(src, dst, version=0)
    assert len(_rows(spark, dst)) == 20  # pre-append snapshot
    info = DeltaLog(dst).snapshot()
    assert info.version == 0


def test_clone_with_deletion_vectors(spark, tmp_path):
    # single-file layout so a 1-row MOR delete MUST leave survivors -> DV
    # (a layout where the matched file holds only that row is dropped
    # wholesale instead, by design)
    src = str(tmp_path / "src_dv")
    df = spark.createDataFrame(
        [(i, f"u{i % 3}", float(i), i % 2) for i in range(20)],
        "id long, user string, score double, part int",
    ).coalesce(1)
    write_delta(df, src)
    delete_mor(spark, src, where="id = 3")  # DV on the source file
    dst = str(tmp_path / "clone5")
    clone_table(src, dst)
    ids = {r["id"] for r in DeltaTable(spark, dst).to_df().collect()}
    assert 3 not in ids and len(ids) == 19
    dv = [f.deletion_vector for f in DeltaLog(dst).snapshot().files if f.deletion_vector]
    assert dv and dv[0]["storageType"] == "p"
    assert dv[0]["pathOrInlineDv"].startswith("/")


def test_deep_clone_copies_bytes(spark, src, tmp_path):
    dst = str(tmp_path / "clone6")
    clone_table(src, dst, shallow=False)
    assert _rows(spark, dst) == _rows(spark, src)
    # deep clone owns its bytes: removing the source does not break it
    shutil.rmtree(src)
    DeltaLog.clear_cache()
    assert len(_rows(spark, dst)) == 20


def test_clone_guards(spark, src, tmp_path):
    with pytest.raises(ValueError, match="nested"):
        clone_table(src, os.path.join(src, "sub"))
    dst = str(tmp_path / "clone7")
    clone_table(src, dst)
    with pytest.raises(ValueError, match="already a Delta table"):
        clone_table(src, dst)


def test_deltatable_convenience_methods(spark, src, tmp_path):
    from athena_delta_lake_spark.delta import DeltaTable

    t = DeltaTable(spark, src)
    parts = t.partitions()
    assert parts == [{"part": 0}, {"part": 1}]
    c = t.clone(str(tmp_path / "via_method"))
    assert c.count() == t.count()
    t.enable_column_mapping()
    t.rename_column("score", "quality")
    assert "quality" in [f.name for f in t.schema().fields]
    t.drop_column("quality")
    assert [f.name for f in t.schema().fields] == ["id", "user", "part"]


def test_deep_clone_with_deletion_vectors_owns_blobs(spark, tmp_path):
    src = str(tmp_path / "deep_dv_src")
    df = spark.createDataFrame(
        [(i, float(i)) for i in range(30)], "id long, v double"
    ).coalesce(1)
    write_delta(df, src)
    delete_mor(spark, src, where="id = 7")
    dst = str(tmp_path / "deep_dv_clone")
    clone_table(src, dst, shallow=False)
    shutil.rmtree(src)  # deep clone must own its DV blob too
    DeltaLog.clear_cache()
    ids = {r["id"] for r in DeltaTable(spark, dst).to_df().collect()}
    assert 7 not in ids and len(ids) == 29


@pytest.mark.parametrize("mapped", [False, True], ids=["plain", "mapped"])
def test_shallow_clone_stays_light_and_equals_classic(
    spark, tmp_path, monkeypatch, mapped
):
    """Past the light-planning threshold a shallow clone's commit streams
    from LightSnapshot.files_df executor-side (round-10 ask #2): with
    DeltaLog.snapshot POISONED the clone must still land, and its action
    set must be semantically identical to the classic driver-loop clone —
    same paths/partitionValues/sizes/stats/DV descriptors, same header
    minus the freshly-minted table id/timestamps. `mapped` runs it on a
    column-mapped source whose renames make a logical name collide with
    another column's physical name (conftest.dv_source_table)."""
    import json

    from conftest import dv_source_table

    src = dv_source_table(spark, str(tmp_path / "src_big"), mapped=mapped)

    dst_classic = str(tmp_path / "clone_classic")
    clone_table(src, dst_classic)

    monkeypatch.setenv("ADLS_LIGHT_PLANNING_FILES", "1")
    assert DeltaLog(src).light_planning_engaged()
    calls = []
    orig = DeltaLog.snapshot

    def poisoned(self, version=None):
        calls.append((self.table_path, version))
        return orig(self, version)

    monkeypatch.setattr(DeltaLog, "snapshot", poisoned)
    dst_light = str(tmp_path / "clone_light")
    assert clone_table(src, dst_light) == 0
    assert calls == [], f"classic snapshot replayed: {calls}"
    monkeypatch.setattr(DeltaLog, "snapshot", orig)
    monkeypatch.delenv("ADLS_LIGHT_PLANNING_FILES")
    DeltaLog.clear_cache()

    assert _rows(spark, dst_light) == _rows(spark, dst_classic) != set()

    def _actions(path):
        adds, header = [], []
        with open(os.path.join(path, "_delta_log", f"{0:020d}.json")) as f:
            for line in f:
                a = json.loads(line)
                if "add" in a:
                    d = a["add"]
                    d["stats"] = json.loads(d["stats"]) if "stats" in d else None
                    adds.append(d)
                elif "metaData" in a:
                    m = dict(a["metaData"])
                    m.pop("id"), m.pop("createdTime")
                    header.append(
                        "metaData:" + json.dumps(m, sort_keys=True)
                    )
                elif "protocol" in a or "domainMetadata" in a:
                    header.append(json.dumps(a, sort_keys=True))
        return sorted(header), sorted(
            adds, key=lambda d: d["path"]
        )

    h_c, a_c = _actions(dst_classic)
    h_l, a_l = _actions(dst_light)
    assert h_l == h_c
    assert len(a_l) == len(a_c) and len(a_l) > 0
    for dc, dl in zip(a_c, a_l):
        assert dl == dc, (dc, dl)

    # the light clone still evolves independently
    part = "bucket" if mapped else "part"
    DeltaTable(spark, dst_light).delete(where=f"{part} = 1")
    left = DeltaTable(spark, dst_light).to_df().collect()
    assert {r[part] for r in left} == {0}
    assert _rows(spark, src) != set()
