"""The add-action codec in delta/log.py: remap_addfile (the one
partition/stats key rename), addfile_from_files_row (files_df row ->
log-form AddFile) and add_action (log-form AddFile -> `add` body, the
inverse of addfile_from_action). Every re-emitted live file — checkpoint
rows, clone commits, the row-tracking backfill, DV re-adds, RESTORE —
goes through them on both planes, so they are pinned here on the hardest
schema: column mapping with a logical name that equals another column's
physical name."""

import glob
import json
import os
import pathlib

import pyarrow.parquet as pq

from athena_delta_lake_spark.delta import DeltaLog, enable_row_tracking
from athena_delta_lake_spark.delta.log import (
    AddFile,
    add_action,
    addfile_from_action,
    addfile_from_files_row,
    remap_addfile,
)
from athena_delta_lake_spark.delta.types import (
    logical_to_physical,
    physical_to_logical,
)


def _maps(snap):
    cfg = snap.metadata.get("configuration")
    return logical_to_physical(snap.schema, cfg), physical_to_logical(
        snap.schema, cfg
    )


def test_mapped_round_trip_through_add_action(spark, tmp_path):
    """remap(l2p) -> add_action -> addfile_from_action -> remap(p2l)
    gives back the classic-replay AddFile: stats (keys swapped by the
    collision), DV descriptor and row-id range all survive."""
    from conftest import dv_source_table

    path = dv_source_table(spark, str(tmp_path / "t"), mapped=True)
    enable_row_tracking(path)
    snap = DeltaLog(path).snapshot()
    l2p, p2l = _maps(snap)
    assert l2p["s2"] == "score" and l2p["score"].startswith("col-")
    full = [
        f
        for f in snap.files
        if f.stats and f.deletion_vector and f.base_row_id is not None
    ]
    assert full, "fixture lost its DV'd, row-tracked files"
    for f in snap.files:
        back = remap_addfile(
            addfile_from_action(add_action(remap_addfile(f, l2p), False)),
            p2l,
        )
        assert back == f, f.path
    # the collision is really exercised: replay keys stats by LOGICAL
    # name (`s2`; the files predate the new logical `score`), and the
    # re-emit writes that column under its physical name `score`
    logical = full[0].stats["minValues"]
    physical = remap_addfile(full[0], l2p).stats["minValues"]
    assert "s2" in logical and "score" not in logical
    assert physical["score"] == logical["s2"] and "s2" not in physical


def test_files_row_decodes_to_log_form(spark, tmp_path, monkeypatch):
    """addfile_from_files_row on a files_df(full=True) row equals the
    log-form AddFile addfile_from_action yields for that file's own log
    row — checkpoint rows and tail-commit (overlay) rows, as Spark Rows
    and as pandas records (where NULL longs arrive as NaN)."""
    from athena_delta_lake_spark import write_delta

    from conftest import dv_source_table

    path = dv_source_table(spark, str(tmp_path / "t"), mapped=True)
    # a tail commit after the checkpoint: its add reaches files_df
    # through the overlay, not the checkpoint parquet
    write_delta(
        spark.createDataFrame(
            [(100, "u9", 1.5, 1, 7)],
            "id long, user string, s2 double, bucket int, score long",
        ),
        path,
        mode="append",
    )
    DeltaLog.clear_cache()
    log_dir = os.path.join(path, "_delta_log")
    with open(os.path.join(log_dir, "_last_checkpoint")) as fh:
        cp_v = json.load(fh)["version"]
    want: dict[str, AddFile] = {}
    for cp in glob.glob(os.path.join(log_dir, f"{cp_v:020d}.checkpoint*")):
        for row in pq.read_table(cp).to_pylist():
            if row.get("add"):
                f = addfile_from_action(row["add"])
                want[f.path] = f
    for commit in sorted(glob.glob(os.path.join(log_dir, "*.json"))):
        if int(pathlib.Path(commit).stem) <= cp_v:
            continue
        for line in open(commit):
            act = json.loads(line)
            if "add" in act:
                f = addfile_from_action(act["add"])
                want[f.path] = f
    monkeypatch.setenv("ADLS_LIGHT_PLANNING_FILES", "1")
    light = DeltaLog(path).light_plane(spark=spark)
    assert light is not None and light.overlay_adds
    l2p, _ = _maps(light)
    fdf = light.files_df(spark, full=True)
    rows = fdf.collect()
    assert len(rows) == len(want)
    assert any(r["dv_json"] for r in rows)
    for r in rows:
        assert addfile_from_files_row(r, l2p) == want[r["path"]], r["path"]
    for rec in fdf.toPandas().to_dict("records"):
        got = addfile_from_files_row(rec, l2p)
        assert got == want[rec["path"]], rec["path"]


def test_unmapped_remap_is_identity_without_a_parse():
    """No name map: remap_addfile hands back the same object and never
    parses the stats text — the zero-parse passthrough the classic
    checkpoint writer depends on at 10^6 adds — and add_action emits
    that text untouched."""
    raw = '{"numRecords": 3, "minValues": {"a": 1}}'
    f = AddFile(
        path="p=1/a b.parquet",
        partition_values={"p": "1"},
        size=10,
        modification_time=5,
        stats_raw=raw,
    )
    assert remap_addfile(f, None) is f
    assert remap_addfile(f, {}) is f
    add = add_action(f, True)
    assert "_stats_cache" not in f.__dict__
    assert add["stats"] is raw
    assert add["path"] == "p=1/a%20b.parquet"
    assert "baseRowId" not in add and "deletionVector" not in add
    assert addfile_from_action(add) == f


def test_only_remap_addfile_renames_stats_keys():
    """Source guard: the stats-section key rename lives in one place."""
    root = pathlib.Path(__file__).resolve().parents[1]
    pkg = root / "athena_delta_lake_spark"
    hits = [
        str(p.relative_to(pkg))
        for p in pkg.rglob("*.py")
        if 'get("minValues")' in p.read_text()
    ]
    assert hits == [os.path.join("delta", "log.py")], hits


def test_only_remove_action_encodes_removes():
    """Source guard: log.remove_action is the one remove encoder, and the
    CDF change set renames partition keys through remap_addfile alone."""
    root = pathlib.Path(__file__).resolve().parents[1]
    pkg = root / "athena_delta_lake_spark"
    texts = {str(p.relative_to(pkg)): p.read_text() for p in pkg.rglob("*.py")}
    hits = [
        p
        for p, s in texts.items()
        if '"remove": {' in s and p != os.path.join("delta", "log.py")
    ]
    assert hits == [], hits
    assert not [p for p, s in texts.items() if "_rekey_entry" in s]
