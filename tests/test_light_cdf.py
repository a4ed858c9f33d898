"""Driver-light CDF (round-10 ask #1).

`table_changes` and the streaming readChangeFeed planner used to pay a
CLASSIC snapshot per commit-with-adds (`prev_live = snapshot(v-1)`,
delta/cdf.py old :94) — an 8.6 GiB driver replay PER VERSION on a
10^7-file foreign table. The `_RangeTracker` replaces every snapshot
call: one base probe at start-1 (executor-side via
LightSnapshot.files_df past the threshold, cached classic below it),
then each commit's own actions advance a header + watched-path state.
These tests force the threshold low, POISON DeltaLog.snapshot, and
assert the light derivation is row-identical to the unforced run on
every fallback shape: plain appends, COW delete, MOR delete (DV growth),
RESTORE (DV shrink / resurrect), update rewrites, and the cdc-action
fast path.
"""

import pytest
from pyspark.sql import functions as F

from athena_delta_lake_spark import DeltaTable, write_delta
from athena_delta_lake_spark.delta.cdf import table_changes
from athena_delta_lake_spark.delta.log import DeltaLog
from athena_delta_lake_spark.delta.writer import write_checkpoint


def _rows(df):
    return sorted(
        tuple(r) for r in df.collect()
    )


def _mk_history(spark, path, cdc=False):
    """v0 initial write, v1 append, v2 COW delete, v3 MOR delete (DV),
    v4 update — a change feed exercising every reconciliation shape."""
    conf = {"delta.enableChangeDataFeed": "true"} if cdc else None
    df = spark.createDataFrame(
        [(i, i % 4, float(i)) for i in range(80)],
        "id long, part int, v double",
    )
    write_delta(df, path, partition_by=["part"], configuration=conf)
    write_delta(
        spark.createDataFrame(
            [(100 + i, i % 4, -1.0) for i in range(8)],
            "id long, part int, v double",
        ),
        path,
        mode="append",
    )
    t = DeltaTable(spark, path)
    t.delete(where="id >= 100 AND id < 104")  # COW rewrite
    t.delete(where="id % 19 = 3", mode="mor")  # DV growth
    t.update(set={"v": "v + 0.5"}, where="id = 7")  # remove+add


def _poison(monkeypatch):
    calls = []
    orig = DeltaLog.snapshot

    def poisoned(self, version=None):
        calls.append((self.table_path, version))
        return orig(self, version)

    monkeypatch.setattr(DeltaLog, "snapshot", poisoned)
    return calls


@pytest.mark.parametrize("cdc", [False, True])
def test_table_changes_stays_light_and_equals_classic(
    spark, tmp_path, monkeypatch, cdc
):
    path = str(tmp_path / ("cdf_light_cdc" if cdc else "cdf_light"))
    _mk_history(spark, path, cdc=cdc)
    want = _rows(table_changes(spark, path, 1, 4))
    want_ts = table_changes(spark, path, 1, 4, include_timestamp=True)
    assert "_commit_timestamp" in want_ts.columns

    # force the light plane: checkpoint + tiny threshold, then poison
    write_checkpoint(path)
    DeltaLog.clear_cache()
    monkeypatch.setenv("ADLS_LIGHT_PLANNING_FILES", "1")
    assert DeltaLog(path).light_planning_engaged()
    calls = _poison(monkeypatch)
    got = _rows(table_changes(spark, path, 1, 4))
    assert calls == [], f"classic snapshot replayed: {calls}"
    assert got == want and len(got) > 0


def test_table_changes_light_dv_shrink_resurrect(spark, tmp_path, monkeypatch):
    """RESTORE rolling a MOR delete back re-adds the same path with a
    SMALLER DV: the light tracker must detect the bare re-add of an
    already-live path (the old prev_live probe) and emit the resurrected
    rows as inserts — this is exactly the case the per-commit classic
    snapshot existed for."""
    from athena_delta_lake_spark.delta.dml import restore_table

    path = str(tmp_path / "cdf_light_restore")
    df = spark.createDataFrame(
        [(i, float(i)) for i in range(40)], "id long, v double"
    )
    write_delta(df, path)
    t = DeltaTable(spark, path)
    t.delete(where="id % 5 = 0", mode="mor")  # v1: DV grows
    restore_table(path, version=0)  # v2: DV dropped -> resurrect
    want = _rows(table_changes(spark, path, 1, 2))
    # sanity on semantics: v1 deletes the 8 rows, v2 resurrects them
    by_type = {}
    for r in want:
        by_type.setdefault((r[-1], r[-2]), 0)
        by_type[(r[-1], r[-2])] += 1
    assert by_type == {(1, "delete"): 8, (2, "insert"): 8}, by_type

    write_checkpoint(path)
    DeltaLog.clear_cache()
    monkeypatch.setenv("ADLS_LIGHT_PLANNING_FILES", "1")
    calls = _poison(monkeypatch)
    got = _rows(table_changes(spark, path, 1, 2))
    assert calls == [], f"classic snapshot replayed: {calls}"
    assert got == want


def test_table_changes_light_mid_range_schema_change(
    spark, tmp_path, monkeypatch
):
    """A mid-range ADD COLUMN must come from the commit's own metaData
    action (the incremental header), not a per-version snapshot: rows
    after the change carry the new column, rows before read NULL."""
    from athena_delta_lake_spark.delta.writer import add_columns

    path = str(tmp_path / "cdf_light_schema")
    write_delta(
        spark.createDataFrame([(1, 1.0)], "id long, v double"), path
    )
    from pyspark.sql import types as T

    add_columns(path, [T.StructField("extra", T.StringType())])
    write_delta(
        spark.createDataFrame(
            [(2, 2.0, "x")], "id long, v double, extra string"
        ),
        path,
        mode="append",
    )
    want = _rows(table_changes(spark, path, 0, 2))
    write_checkpoint(path)
    DeltaLog.clear_cache()
    monkeypatch.setenv("ADLS_LIGHT_PLANNING_FILES", "1")
    calls = _poison(monkeypatch)
    # starting_version=0: no base probe at all — pure action folding
    got = _rows(table_changes(spark, path, 0, 2))
    assert calls == []
    assert got == want
    extras = {
        r["id"]: r["extra"] for r in table_changes(spark, path, 0, 2).collect()
    }
    assert extras[1] is None and extras[2] == "x"


def test_streaming_readchangefeed_stays_light(spark, tmp_path, monkeypatch):
    """The streaming CDF planner (_cdf_partitions) routes through the
    same tracker: a readChangeFeed microbatch over append + MOR-delete
    commits plans with DeltaLog.snapshot poisoned and matches the
    batch table_changes derivation."""
    import shutil

    from athena_delta_lake_spark.sources.deltapond_source import register

    register(spark)
    path = str(tmp_path / "cdf_light_stream")
    out = str(tmp_path / "out")
    ckpt = str(tmp_path / "ckpt")
    _mk_history(spark, path, cdc=False)
    want = _rows(
        table_changes(spark, path, 0, 4).select(
            "id", "part", "v", "_change_type", "_commit_version"
        )
    )
    write_checkpoint(path)
    DeltaLog.clear_cache()
    monkeypatch.setenv("ADLS_LIGHT_PLANNING_FILES", "1")
    calls = _poison(monkeypatch)
    q = (
        spark.readStream.format("deltapond")
        .option("path", path)
        .option("readChangeFeed", "true")
        .option("startingVersion", "0")
        .load()
        .writeStream.format("parquet")
        .option("path", out)
        .option("checkpointLocation", ckpt)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    got = _rows(
        spark.read.parquet(out).select(
            "id", "part", "v", "_change_type", "_commit_version"
        )
    )
    assert calls == [], f"classic snapshot replayed: {calls}"
    assert got == want and len(got) > 0
    shutil.rmtree(out, ignore_errors=True)


def test_streaming_readchangefeed_second_batch_probe_stays_light(
    spark, tmp_path, monkeypatch
):
    """A SECOND microbatch whose range starts past version 0 needs the
    base probe at lo-1 (its MOR-delete commit remove+re-adds a path whose
    prior state lives before the range) — it must resolve through
    snapshot_light, not a classic replay."""
    import shutil

    from athena_delta_lake_spark.sources.deltapond_source import register

    register(spark)
    path = str(tmp_path / "cdf_light_stream2")
    out = str(tmp_path / "out2")
    ckpt = str(tmp_path / "ckpt2")
    df = spark.createDataFrame(
        [(i, float(i)) for i in range(40)], "id long, v double"
    )
    write_delta(df, path)
    t = DeltaTable(spark, path)
    t.delete(where="id % 5 = 0", mode="mor")
    write_checkpoint(path)
    DeltaLog.clear_cache()
    monkeypatch.setenv("ADLS_LIGHT_PLANNING_FILES", "1")
    calls = _poison(monkeypatch)

    def _drain():
        q = (
            spark.readStream.format("deltapond")
            .option("path", path)
            .option("readChangeFeed", "true")
            .option("startingVersion", "0")
            .load()
            .writeStream.format("parquet")
            .option("path", out)
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(120)

    _drain()
    assert calls == [], f"classic snapshot replayed: {calls}"
    # commits AFTER the stream checkpoint: the next drain plans lo > 0
    t.delete(where="id % 7 = 1", mode="mor")
    write_delta(
        spark.createDataFrame([(999, 9.0)], "id long, v double"),
        path,
        mode="append",
    )
    calls.clear()
    _drain()
    assert calls == [], f"classic snapshot replayed: {calls}"
    got = spark.read.parquet(out)
    assert got.count() > 0
    # the second drain's dv-diff deletes are present
    assert (
        got.filter("_change_type = 'delete' and _commit_version >= 2").count()
        > 0
    )
    shutil.rmtree(out, ignore_errors=True)


def test_table_changes_light_mapped_partition_rename(
    spark, tmp_path, monkeypatch
):
    """Column-mapped PARTITIONED table with the partition column renamed
    mid-range: the tracker stores entries in the log's PHYSICAL key form
    and remaps per era at read time (remap_addfile) — a file added before
    the rename and DV-diffed/removed after it must inject its partition
    value under the era's logical name, exactly as the classic
    per-version snapshot remap did."""
    from athena_delta_lake_spark.delta.writer import (
        enable_column_mapping,
        rename_column,
    )

    path = str(tmp_path / "cdf_light_mapped")
    df = spark.createDataFrame(
        [(i, i % 3, float(i)) for i in range(60)],
        "id long, part int, v double",
    )
    write_delta(df, path, partition_by=["part"])  # v0
    enable_column_mapping(path)  # v1
    rename_column(path, "part", "bucket")  # v2
    write_delta(  # v3: post-rename files (physical key unchanged)
        spark.createDataFrame(
            [(100 + i, i % 3, -1.0) for i in range(6)],
            "id long, bucket int, v double",
        ),
        path,
        mode="append",
    )
    t = DeltaTable(spark, path)
    t.delete(where="id % 7 = 0", mode="mor")  # v4: DVs on pre-rename files
    t.delete(where="id >= 100 AND id < 103")  # v5: COW rewrite
    want = _rows(table_changes(spark, path, 1, 5))
    assert len(want) > 0

    write_checkpoint(path)
    DeltaLog.clear_cache()
    monkeypatch.setenv("ADLS_LIGHT_PLANNING_FILES", "1")
    calls = _poison(monkeypatch)
    got = _rows(table_changes(spark, path, 1, 5))
    assert calls == [], f"classic snapshot replayed: {calls}"
    assert got == want
    # the aligned frame exposes the END name with real partition values
    ch = table_changes(spark, path, 1, 5)
    assert "bucket" in ch.columns and "part" not in ch.columns
    assert ch.filter("bucket IS NULL").count() == 0
