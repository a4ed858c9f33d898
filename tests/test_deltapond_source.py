"""The `deltapond` Python Data Source (sources/deltapond_source.py): the
native Delta engine as a Spark format string — batch read with pushdown
file-skipping, commit-tailing streaming source, ACID batch write, and an
exactly-once streaming sink (reference parity: the connector surface of
DeltaCompositeHandler.scala:5, in-process instead of Lambda RPC)."""

import os
import shutil

import pytest

from athena_delta_lake_spark import DeltaTable, write_delta
from athena_delta_lake_spark.sources.deltapond_source import (
    DeltaPondBatchReader,
    register,
)


@pytest.fixture(scope="module", autouse=True)
def _register(spark):
    register(spark)


@pytest.fixture()
def tbl(spark, tmp_path):
    path = str(tmp_path / "tbl")
    df = spark.range(200).selectExpr(
        "id", "id % 4 as k", "cast(id as double) as v"
    )
    write_delta(df, path, partition_by=["k"])
    return path


def test_batch_read_matches_native(spark, tbl):
    ds = spark.read.format("deltapond").load(tbl)
    native = DeltaTable(spark, tbl).to_df().select(*ds.columns)
    assert ds.count() == 200
    assert ds.exceptAll(native).count() == 0
    assert native.exceptAll(ds).count() == 0


def test_batch_read_version_as_of(spark, tbl):
    write_delta(
        spark.range(500, 510).selectExpr("id", "id % 4 as k", "cast(id as double) as v"),
        tbl,
    )
    assert spark.read.format("deltapond").load(tbl).count() == 210
    v0 = spark.read.format("deltapond").option("versionAsOf", 0).load(tbl)
    assert v0.count() == 200


def test_pushdown_prunes_files(spark, tbl):
    snap = DeltaTable(spark, tbl).snapshot()
    reader = DeltaPondBatchReader({"path": tbl}, snap.schema)
    all_parts = reader.partitions()
    # partition predicate k=1 must drop the other partitions' files
    pruned = DeltaPondBatchReader({"path": tbl}, snap.schema)
    unhandled = list(pruned.pushFilters([_eq("k", 1)]))
    assert len(unhandled) == 1  # every filter handed back for row-level eval
    assert 0 < len(pruned.partitions()) < len(all_parts)
    # and the filtered read is still row-exact
    got = spark.read.format("deltapond").load(tbl).filter("k = 1 and v < 40")
    assert got.count() == 10


def _eq(col, val):
    from pyspark.sql.datasource import EqualTo

    return EqualTo((col,), val)


def test_schema_evolution_reads_null(spark, tmp_path):
    path = str(tmp_path / "evolve")
    write_delta(spark.range(5).selectExpr("id"), path)
    write_delta(
        spark.range(5, 8).selectExpr("id", "id * 2 as extra"),
        path,
        merge_schema=True,
    )
    ds = spark.read.format("deltapond").load(path)
    assert ds.filter("extra is null").count() == 5
    assert ds.filter("extra is not null").count() == 3


def test_stream_source_tails_commits(spark, tmp_path):
    src = str(tmp_path / "src")
    for i in range(3):
        write_delta(spark.range(i * 10, (i + 1) * 10).selectExpr("id"), src)
    q = (
        spark.readStream.format("deltapond")
        .option("startingVersion", 0)
        .load(src)
        .groupBy()
        .count()
        .writeStream.format("memory")
        .queryName("dp_tail")
        .outputMode("complete")
        .start()
    )
    try:
        q.processAllAvailable()
        assert spark.sql("select * from dp_tail").collect()[0][0] == 30
        write_delta(spark.range(100, 107).selectExpr("id"), src)
        q.processAllAvailable()
        assert spark.sql("select * from dp_tail").collect()[0][0] == 37
    finally:
        q.stop()


def test_stream_source_rejects_rewrites_unless_opted_in(spark, tmp_path):
    from athena_delta_lake_spark.delta.dml import delete

    src = str(tmp_path / "src")
    write_delta(spark.range(20).selectExpr("id", "id % 2 as k"), src)
    delete(spark, src, "k = 1")  # copy-on-write remove+add

    def run(extra_opts):
        reader = (
            spark.readStream.format("deltapond").option("startingVersion", 0)
        )
        for k, v in extra_opts.items():
            reader = reader.option(k, v)
        q = (
            reader.load(src)
            .writeStream.format("memory")
            .queryName("dp_rw")
            .outputMode("append")
            .start()
        )
        try:
            q.processAllAvailable()
        finally:
            q.stop()

    from pyspark.errors.exceptions.captured import StreamingQueryException

    with pytest.raises(StreamingQueryException, match="ignoreChanges"):
        run({})
    # a REWRITE (delete with kept-row re-adds) needs ignoreChanges;
    # ignoreDeletes alone must NOT silently re-emit rewritten rows
    with pytest.raises(StreamingQueryException, match="ignoreChanges"):
        run({"ignoreDeletes": "true"})
    run({"ignoreChanges": "true"})  # opted in: streams past the rewrite


def test_stream_ignore_deletes_skips_delete_only_commits(spark, tmp_path):
    """Delta parity: ignoreDeletes covers DELETE-only commits (a
    partition fast-path delete writes removes with no adds) without
    opting into rewrite re-emission."""
    from athena_delta_lake_spark.delta.dml import delete

    src = str(tmp_path / "srcdel")
    write_delta(
        spark.range(20).selectExpr("id", "id % 2 as k"), src,
        partition_by=["k"],
    )
    delete(spark, src, "k = 1")  # metadata-only: removes, no adds

    q = (
        spark.readStream.format("deltapond")
        .option("startingVersion", 0)
        .option("ignoreDeletes", "true")
        .load(src)
        .writeStream.format("memory")
        .queryName("dp_igdel")
        .outputMode("append")
        .start()
    )
    try:
        q.processAllAvailable()
        got = sorted(r["id"] for r in spark.sql("select id from dp_igdel").collect())
        assert got == list(range(20))  # v0 inserts; delete commit skipped
    finally:
        q.stop()


def test_batch_write_roundtrip_and_overwrite(spark, tmp_path):
    path = str(tmp_path / "w")
    df = spark.range(300).selectExpr("id", "id % 3 as k", "cast(id as double) as v")
    df.write.format("deltapond").option("partitionBy", "k").mode("append").save(path)
    t = DeltaTable(spark, path)
    assert t.snapshot().partition_columns == ["k"]
    assert t.to_df().count() == 300
    # stats land in the log -> data-skipping works on the written table
    assert len(t.pruned_files([("v", ">", 1e9)])) == 0
    # appends then logical overwrite; old version stays readable
    df.limit(7).write.format("deltapond").option("partitionBy", "k").mode(
        "append"
    ).save(path)
    assert t.to_df().count() == 307
    df.limit(5).write.format("deltapond").option("partitionBy", "k").mode(
        "overwrite"
    ).save(path)
    assert t.to_df().count() == 5
    assert t.to_df(version=1).count() == 307


def test_batch_write_rejects_remote_scheme(spark, tmp_path):
    """The Python write path stages parquet with os/pyarrow calls, so it
    is local-only (like the documented scan contract). A remote-scheme
    save() must fail fast with a clear error — not os.makedirs a literal
    relative `s3a:/…` dir in each executor's CWD (round-10 verdict)."""
    df = spark.range(5).selectExpr("id")
    with pytest.raises(Exception, match="local paths only"):
        df.write.format("deltapond").mode("append").save(
            "s3a://bucket/prefix/tbl"
        )
    # the streaming sink shares the guard
    from athena_delta_lake_spark.sources.deltapond_source import (
        DeltaPondStreamWriter,
    )

    with pytest.raises(ValueError, match="local paths only"):
        DeltaPondStreamWriter(
            {"path": "hdfs://nn/tbl"}, df.schema, overwrite=False
        )
    # the single-slash URI form Hadoop Path.toString emits must hit the
    # guard too — abspath would otherwise swallow the scheme (review r11)
    with pytest.raises(Exception, match="local paths only"):
        df.write.format("deltapond").mode("append").save("s3a:/bucket/tbl")
    # no junk dir appeared in the CWD
    import os as _os

    assert not _os.path.exists("s3a:")


def test_batch_write_rejects_partition_mismatch(spark, tmp_path):
    path = str(tmp_path / "w")
    df = spark.range(10).selectExpr("id", "id % 3 as k")
    df.write.format("deltapond").option("partitionBy", "k").mode("append").save(path)
    with pytest.raises(Exception, match="partition mismatch"):
        df.write.format("deltapond").mode("append").save(path)


def test_stream_sink_exactly_once(spark, tmp_path):
    src = str(tmp_path / "src")
    sink = str(tmp_path / "sink")
    cp = str(tmp_path / "cp")
    for i in range(2):
        write_delta(
            spark.range(i * 10, (i + 1) * 10).selectExpr("id", "id % 2 as k"),
            src,
        )

    def start():
        return (
            spark.readStream.format("deltapond")
            .option("startingVersion", 0)
            .load(src)
            .writeStream.format("deltapond")
            .option("checkpointLocation", cp)
            .option("partitionBy", "k")
            .start(sink)
        )

    q = start()
    q.processAllAvailable()
    q.stop()
    assert DeltaTable(spark, sink).to_df().count() == 20
    # restart with no new source data: txn idempotence -> no duplicates
    q = start()
    q.processAllAvailable()
    q.stop()
    assert DeltaTable(spark, sink).to_df().count() == 20
    # sink commits carry the txn action for the app id
    log_dir = os.path.join(sink, "_delta_log")
    txns = [
        line
        for f in sorted(os.listdir(log_dir))
        if f.endswith(".json")
        for line in open(os.path.join(log_dir, f))
        if '"txn"' in line
    ]
    assert txns, "streaming sink commits must carry txn actions"


def test_stream_source_max_commits_per_trigger(spark, tmp_path):
    src = str(tmp_path / "src")
    for i in range(5):
        write_delta(spark.range(i * 10, (i + 1) * 10).selectExpr("id"), src)
    q = (
        spark.readStream.format("deltapond")
        .option("startingVersion", 0)
        .option("maxCommitsPerTrigger", 2)
        .load(src)
        .groupBy()
        .count()
        .writeStream.format("memory")
        .queryName("dp_rate")
        .outputMode("complete")
        .start()
    )
    try:
        q.processAllAvailable()
        assert spark.sql("select * from dp_rate").collect()[0][0] == 50
        # the 5 commits must have been consumed in ceil(5/2)=3 microbatches
        n_batches = q.lastProgress["batchId"] + 1
        assert n_batches >= 3
    finally:
        q.stop()


def test_stream_source_cap_survives_restart(spark, tmp_path):
    src = str(tmp_path / "src")
    sink = str(tmp_path / "sink")
    cp = str(tmp_path / "cp")
    for i in range(3):
        write_delta(spark.range(i * 10, (i + 1) * 10).selectExpr("id"), src)

    def start():
        return (
            spark.readStream.format("deltapond")
            .option("startingVersion", 0)
            .option("maxCommitsPerTrigger", 1)
            .load(src)
            .writeStream.format("deltapond")
            .option("checkpointLocation", cp)
            .start(sink)
        )

    q = start()
    q.processAllAvailable()
    q.stop()
    assert DeltaTable(spark, sink).to_df().count() == 30
    write_delta(spark.range(100, 120).selectExpr("id"), src)
    q = start()
    q.processAllAvailable()
    q.stop()
    got = DeltaTable(spark, sink).to_df()
    assert got.count() == 50  # no duplicates, no loss across the restart
    assert got.select("id").distinct().count() == 50


def test_file_uri_path_option(spark, tmp_path):
    """file:/ and file:/// URI forms of the path option resolve to the
    same table (the form SQL-layer plumbing hands through)."""
    from athena_delta_lake_spark import write_delta
    from athena_delta_lake_spark.sources.deltapond_source import (
        register as register_ds,
    )

    register_ds(spark)
    path = str(tmp_path / "uri_tbl")
    write_delta(spark.range(30).selectExpr("id"), path)
    for uri in (f"file:{path}", f"file://{path}", f"file:///{path.lstrip('/')}"):
        df = spark.read.format("deltapond").option("path", uri).load()
        assert df.count() == 30


def test_timestamp_as_of_option(spark, tmp_path):
    import time

    from athena_delta_lake_spark import write_delta
    from athena_delta_lake_spark.sources.deltapond_source import (
        register as register_ds,
    )

    register_ds(spark)
    path = str(tmp_path / "ts_tbl")
    write_delta(spark.range(10).selectExpr("id"), path)  # v0
    time.sleep(0.05)
    t_between = int(time.time() * 1000)
    time.sleep(0.05)
    write_delta(spark.range(10, 30).selectExpr("id"), path)  # v1
    df = (
        spark.read.format("deltapond")
        .option("path", path)
        .option("timestampAsOf", t_between)
        .load()
    )
    assert df.count() == 10


def test_dsv2_write_to_column_mapped_table(spark, tmp_path):
    """df.write.format('deltapond') onto a RENAMEd (column-mapped) table
    must stage physical names — logical-named files would silently read
    as nulls under the physical read schema."""
    from athena_delta_lake_spark.delta import DeltaTable, write_delta
    from athena_delta_lake_spark.delta.writer import (
        enable_column_mapping,
        rename_column,
    )

    path = str(tmp_path / "dsv2_mapped")
    df = spark.createDataFrame(
        [(1, "a", 1.0)], "id long, name string, score double"
    )
    write_delta(df, path)
    enable_column_mapping(path)
    rename_column(path, "score", "quality")
    extra = spark.createDataFrame(
        [(2, "b", 2.5)], "id long, name string, quality double"
    )
    extra.write.format("deltapond").mode("append").option("path", path).save()
    got = {
        (r["id"], r["name"], r["quality"])
        for r in DeltaTable(spark, path).to_df().collect()
    }
    assert got == {(1, "a", 1.0), (2, "b", 2.5)}


# ------------------------------------------- schema-change safety (round 5)


def _start_memory_stream(spark, src, name, **opts):
    reader = (
        spark.readStream.format("deltapond").option("startingVersion", 0)
    )
    for k, v in opts.items():
        reader = reader.option(k, v)
    return (
        reader.load(src)
        .writeStream.format("memory")
        .queryName(name)
        .start()
    )


def test_stream_fails_on_midstream_column_addition(spark, tmp_path):
    from athena_delta_lake_spark.delta.writer import add_columns
    from pyspark.sql import types as T

    src = str(tmp_path / "sc_add")
    write_delta(spark.range(5).selectExpr("id", "id * 2 AS v"), src)
    q = _start_memory_stream(spark, src, "sc_add_out")
    q.processAllAvailable()
    # mid-stream: a writer adds a column and appends data using it
    add_columns(src, [T.StructField("tag", T.StringType())])
    write_delta(
        spark.createDataFrame([(100, 200, "x")], "id long, v long, tag string"), src, mode="append"
    )
    with pytest.raises(Exception, match="allowColumnAddition"):
        q.processAllAvailable()
    q.stop()


def test_stream_allows_addition_with_option(spark, tmp_path):
    from athena_delta_lake_spark.delta.writer import add_columns
    from pyspark.sql import types as T

    src = str(tmp_path / "sc_opt")
    write_delta(spark.range(5).selectExpr("id", "id * 2 AS v"), src)
    q = _start_memory_stream(
        spark, src, "sc_opt_out", allowColumnAddition="true"
    )
    q.processAllAvailable()
    add_columns(src, [T.StructField("tag", T.StringType())])
    write_delta(
        spark.createDataFrame([(100, 200, "x")], "id long, v long, tag string"), src, mode="append"
    )
    q.processAllAvailable()  # tolerated; new column just not projected
    q.stop()
    rows = {r["id"] for r in spark.sql("SELECT * FROM sc_opt_out").collect()}
    assert 100 in rows and len(rows) == 6


def test_stream_fails_on_type_change(spark, tmp_path):
    from athena_delta_lake_spark.delta.writer import alter_column_type

    src = str(tmp_path / "sc_widen")
    write_delta(
        spark.createDataFrame([(1, 1.5)], "id long, v float"), src
    )
    q = _start_memory_stream(spark, src, "sc_widen_out")
    q.processAllAvailable()
    alter_column_type(src, "v", "double")  # mid-stream type change
    write_delta(
        spark.createDataFrame([(2, 2.5)], "id long, v double"), src,
        mode="append",
    )
    with pytest.raises(Exception, match="retypes"):
        q.processAllAvailable()
    q.stop()


def test_stream_backfill_across_historic_addition_ok(spark, tmp_path):
    """startingVersion 0 over a table whose schema grew BEFORE stream
    start: old commits' narrower metaData is additive backfill, not a
    failure; old rows read NULL for the later column."""
    from athena_delta_lake_spark.delta.writer import add_columns
    from pyspark.sql import types as T

    src = str(tmp_path / "sc_backfill")
    write_delta(spark.range(3).selectExpr("id", "id * 2 AS v"), src)  # v0
    add_columns(src, [T.StructField("tag", T.StringType())])  # v1
    write_delta(
        spark.createDataFrame([(100, 200, "x")], "id long, v long, tag string"), src, mode="append"
    )  # v2
    q = _start_memory_stream(spark, src, "sc_backfill_out")
    q.processAllAvailable()
    q.stop()
    rows = {
        (r["id"], r["tag"])
        for r in spark.sql("SELECT id, tag FROM sc_backfill_out").collect()
    }
    assert (100, "x") in rows and (0, None) in rows and len(rows) == 4


def test_stream_source_max_files_splits_large_commit(spark, tmp_path):
    """maxFilesPerTrigger SPLITS one giant backfill commit across
    microbatches (offset = (version, file index)) — one commit no longer
    equals one unbounded microbatch (round-6 ask #4)."""
    src = str(tmp_path / "src")
    # one commit with 12 files (repartition(12)), then a 3-file commit
    write_delta(spark.range(120).selectExpr("id").repartition(12), src)
    write_delta(
        spark.range(120, 150).selectExpr("id").repartition(3), src
    )
    q = (
        spark.readStream.format("deltapond")
        .option("startingVersion", 0)
        .option("maxFilesPerTrigger", 4)
        .load(src)
        .writeStream.format("memory")
        .queryName("dp_maxfiles")
        .outputMode("append")
        .start()
    )
    try:
        q.processAllAvailable()
        got = spark.sql("select id from dp_maxfiles")
        assert got.count() == 150
        assert got.distinct().count() == 150
        # 15 files / 4 per trigger -> at least ceil(15/4)=4 non-empty
        # batches (plus the empty floor batch)
        assert q.lastProgress["batchId"] + 1 >= 4
    finally:
        q.stop()


def test_stream_source_max_bytes_caps_batches(spark, tmp_path):
    """maxBytesPerTrigger admits files until the byte budget is reached,
    always making progress even when one file exceeds the budget."""
    src = str(tmp_path / "src")
    write_delta(spark.range(100).selectExpr("id").repartition(5), src)
    q = (
        spark.readStream.format("deltapond")
        .option("startingVersion", 0)
        .option("maxBytesPerTrigger", 1)  # < any single file
        .load(src)
        .writeStream.format("memory")
        .queryName("dp_maxbytes")
        .outputMode("append")
        .start()
    )
    try:
        q.processAllAvailable()
        got = spark.sql("select id from dp_maxbytes")
        assert got.count() == 100
        assert got.distinct().count() == 100
        # 1-byte budget -> one file per batch -> >= 5 non-empty batches
        assert q.lastProgress["batchId"] + 1 >= 5
    finally:
        q.stop()


def test_stream_source_restart_mid_commit(spark, tmp_path):
    """Checkpoint restart while PARTWAY through a split commit resumes at
    the recorded (version, index) offset: no duplicates, no loss."""
    src = str(tmp_path / "src")
    sink = str(tmp_path / "sink")
    cp = str(tmp_path / "cp")
    # 40 files at 2/trigger: 20 batches — stopping after the FIRST
    # progress is robustly mid-backlog even on a loaded host (the old
    # 8-file/3-per-trigger shape raced the drain under full-suite load,
    # and round 7's non-empty first batch finishes one batch sooner)
    write_delta(spark.range(80).selectExpr("id").repartition(40), src)

    def start(stop_after_first_batch):
        q = (
            spark.readStream.format("deltapond")
            .option("startingVersion", 0)
            .option("maxFilesPerTrigger", 2)
            .load(src)
            .writeStream.format("deltapond")
            .option("checkpointLocation", cp)
            .start(sink)
        )
        if stop_after_first_batch:
            import time

            # wait for SOME progress, then stop mid-backlog
            for _ in range(200):
                lp = q.lastProgress
                if lp is not None and lp["batchId"] >= 0:
                    break
                time.sleep(0.1)
            q.stop()
        return q

    start(stop_after_first_batch=True)
    mid = DeltaTable(spark, sink).to_df().count()
    assert mid < 80  # genuinely stopped partway
    q = start(stop_after_first_batch=False)
    q.processAllAvailable()
    q.stop()
    got = DeltaTable(spark, sink).to_df()
    assert got.count() == 80
    assert got.select("id").distinct().count() == 80


def test_stream_source_available_now_drains_and_stops(spark, tmp_path):
    """trigger(availableNow=True) + the availableNow=true source option:
    the whole backlog drains and the query STOPS on its own. (The Spark
    4.1 Python DataSource API exposes no ReadLimit hook, so per-batch
    caps cannot bound an engine-driven availableNow run — the option
    documents and implements the only correct interop: caps bypassed.)"""
    src = str(tmp_path / "src")
    for i in range(3):
        write_delta(
            spark.range(i * 40, (i + 1) * 40).selectExpr("id").repartition(4),
            src,
        )
    q = (
        spark.readStream.format("deltapond")
        .option("startingVersion", 0)
        .option("maxFilesPerTrigger", 4)
        .option("availableNow", "true")
        .load(src)
        .writeStream.format("memory")
        .queryName("dp_avnow")
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    assert not q.isActive  # self-terminated
    got = spark.sql("select id from dp_avnow")
    assert got.count() == 120
    assert got.distinct().count() == 120


def test_stream_source_bounded_catchup_via_once_triggers(spark, tmp_path):
    """AvailableNow-STYLE bounded catch-up that the Python DS API can
    express: repeated once-triggers against one checkpoint. Each run
    consumes at most maxFilesPerTrigger files (exactly-once via the
    (version, index) offsets), terminates, and the backlog drains over
    several runs."""
    src = str(tmp_path / "src")
    sink = str(tmp_path / "sink")
    cp = str(tmp_path / "cp")
    write_delta(spark.range(90).selectExpr("id").repartition(9), src)

    counts = []
    for _ in range(20):
        q = (
            spark.readStream.format("deltapond")
            .option("startingVersion", 0)
            .option("maxFilesPerTrigger", 3)
            .load(src)
            .writeStream.format("deltapond")
            .option("checkpointLocation", cp)
            .trigger(once=True)
            .start(sink)
        )
        q.awaitTermination(120)
        n = DeltaTable(spark, sink).to_df().count()
        counts.append(n)
        if n == 90:
            break
    assert counts[-1] == 90, counts
    # each once-run advanced by at most the cap (3 of 9 files; round-
    # robin repartition makes files ~10 rows, not exactly 10), never one
    # unbounded batch
    steps = [b - a for a, b in zip([0] + counts, counts)]
    assert max(steps) <= 40, steps
    assert len([s for s in steps if s > 0]) >= 3
    got = DeltaTable(spark, sink).to_df()
    assert got.select("id").distinct().count() == 90


def test_stream_cdf_mode_caps_admit_whole_commits(spark, tmp_path):
    """readChangeFeed + maxFilesPerTrigger: CDF commits are never split
    (one commit's changes derive as a unit) — the cap bounds how many
    COMMITS are admitted per batch instead."""
    src = str(tmp_path / "src")
    for i in range(4):
        write_delta(
            spark.range(i * 20, (i + 1) * 20).selectExpr("id").repartition(2),
            src,
        )
    q = (
        spark.readStream.format("deltapond")
        .option("startingVersion", 0)
        .option("readChangeFeed", "true")
        .option("maxFilesPerTrigger", 2)
        .load(src)
        .writeStream.format("memory")
        .queryName("dp_cdf_cap")
        .outputMode("append")
        .start()
    )
    try:
        q.processAllAvailable()
        got = spark.sql("select * from dp_cdf_cap")
        assert got.count() == 80
        assert got.filter("_change_type = 'insert'").count() == 80
        by_v = dict(
            (r["_commit_version"], r["count"])
            for r in got.groupBy("_commit_version").count().collect()
        )
        assert by_v == {0: 20, 1: 20, 2: 20, 3: 20}
        # 4 commits x 2 files at cap 2 -> at least 4 non-empty batches
        assert q.lastProgress["batchId"] + 1 >= 4
    finally:
        q.stop()


def test_mid_commit_position_with_commit_cap_only_finishes_commit(spark, tmp_path):
    """Finding from round-6 review: a checkpointed mid-commit offset
    (written under file caps) restarted with ONLY maxCommitsPerTrigger
    must FINISH the partial commit, not stall forever returning the same
    offset."""
    from athena_delta_lake_spark.sources.deltapond_source import (
        DeltaPondStreamReader,
    )

    src = str(tmp_path / "src")
    write_delta(spark.range(40).selectExpr("id").repartition(4), src)  # v0
    write_delta(spark.range(40, 50).selectExpr("id"), src)  # v1
    snap = DeltaTable(spark, src).snapshot()
    r = DeltaPondStreamReader(
        {"path": src, "startingVersion": "0", "maxCommitsPerTrigger": "1"},
        snap.schema,
    )
    # simulate checkpoint recovery: engine replays the last planned batch
    r.commit({"version": 0, "index": 2})  # 2 of 4 files of v0 consumed
    off = r.latestOffset()
    assert off == {"version": 0}, off  # finish commit 0 first
    parts = r.partitions({"version": 0, "index": 2}, off)
    assert len(parts) == 2  # exactly the remaining files of v0
    r.commit(off)
    assert r.latestOffset() == {"version": 1}


def _inject_icts(path, base_ms):
    """Deterministic inCommitTimestamps: commit v gets base + v hours."""
    import json

    log_dir = os.path.join(path, "_delta_log")
    for f in sorted(os.listdir(log_dir)):
        if not (f.endswith(".json") and f[0].isdigit()):
            continue
        v = int(f.split(".")[0])
        fp = os.path.join(log_dir, f)
        with open(fp) as fh:
            lines = [json.loads(ln) for ln in fh if ln.strip()]
        cis = [a for a in lines if "commitInfo" in a]
        if cis:
            cis[0]["commitInfo"]["inCommitTimestamp"] = base_ms + v * 3_600_000
        else:
            lines.insert(
                0,
                {"commitInfo": {"inCommitTimestamp": base_ms + v * 3_600_000}},
            )
        with open(fp, "w") as fh:
            for a in lines:
                fh.write(json.dumps(a) + "\n")


def test_stream_starting_timestamp(spark, tmp_path):
    """startingTimestamp (Delta parity): the stream begins at the first
    commit at-or-after the given time (ICT-backed), mutually exclusive
    with startingVersion, and errors when past the latest commit."""
    src = str(tmp_path / "src")
    for i in range(3):
        write_delta(spark.range(i * 10, (i + 1) * 10).selectExpr("id"), src)
    base = 1_700_000_000_000
    _inject_icts(src, base)  # v0=base, v1=+1h, v2=+2h

    def run(ts):
        q = (
            spark.readStream.format("deltapond")
            .option("startingTimestamp", str(ts))
            .load(src)
            .writeStream.format("memory")
            .queryName("dp_sts")
            .outputMode("append")
            .start()
        )
        try:
            q.processAllAvailable()
            return sorted(
                r["id"] for r in spark.sql("select id from dp_sts").collect()
            )
        finally:
            q.stop()

    # between v0 and v1 -> commits 1 and 2
    assert run(base + 1) == list(range(10, 30))
    # exactly v1's timestamp -> at-or-after includes v1
    assert run(base + 3_600_000) == list(range(10, 30))
    # before v0 -> everything
    assert run(base - 5) == list(range(30))
    # after the latest commit -> stream start fails
    from pyspark.errors.exceptions.captured import StreamingQueryException

    with pytest.raises(StreamingQueryException, match="after the latest"):
        run(base + 10 * 3_600_000)
    # mutually exclusive with startingVersion
    with pytest.raises(Exception, match="mutually exclusive"):
        q = (
            spark.readStream.format("deltapond")
            .option("startingVersion", 0)
            .option("startingTimestamp", str(base))
            .load(src)
            .writeStream.format("memory")
            .queryName("dp_sts_x")
            .start()
        )
        try:
            q.processAllAvailable()
        finally:
            q.stop()


def test_stream_skip_change_commits(spark, tmp_path):
    """skipChangeCommits (modern Delta): rewrite commits are silently
    skipped — no error, no row re-emission."""
    from athena_delta_lake_spark.delta.dml import delete, update

    src = str(tmp_path / "srcskip")
    write_delta(spark.range(20).selectExpr("id", "id % 2 as k"), src)  # v0
    update(spark, src, {"k": "k + 10"}, "id < 5")  # v1: rewrite
    delete(spark, src, "id >= 18")  # v2: rewrite
    write_delta(
        spark.range(100, 105).selectExpr("id", "id % 2 as k"), src
    )  # v3: append
    q = (
        spark.readStream.format("deltapond")
        .option("startingVersion", 0)
        .option("skipChangeCommits", "true")
        .load(src)
        .writeStream.format("memory")
        .queryName("dp_skip")
        .outputMode("append")
        .start()
    )
    try:
        q.processAllAvailable()
        got = sorted(r["id"] for r in spark.sql("select id from dp_skip").collect())
        # v0 inserts + v3 appends only; both rewrites skipped wholesale
        assert got == list(range(20)) + list(range(100, 105))
    finally:
        q.stop()


def test_stream_no_default_cap_keeps_available_now_working(spark, tmp_path):
    """Deliberate divergence from delta-spark's default-1000 file cap:
    the Python DS API has no ReadLimit hook, so a default cap would make
    a PLAIN trigger(availableNow=True) stream capture the empty floor
    offset and return zero rows. Uncapped by default; explicit caps (and
    'none'/-1) parse as expected; plain availableNow drains fully."""
    from athena_delta_lake_spark.sources.deltapond_source import (
        DeltaPondStreamReader,
    )

    src = str(tmp_path / "srcrate")
    write_delta(spark.range(40).selectExpr("id").repartition(4), src)
    snap = DeltaTable(spark, src).snapshot()
    r = DeltaPondStreamReader({"path": src, "startingVersion": "0"}, snap.schema)
    assert r._max_files is None  # no silent default
    r2 = DeltaPondStreamReader(
        {"path": src, "startingVersion": "0", "maxFilesPerTrigger": "none"},
        snap.schema,
    )
    assert r2._max_files is None
    # plain availableNow, no options: must drain everything and stop
    q = (
        spark.readStream.format("deltapond")
        .option("startingVersion", 0)
        .load(src)
        .writeStream.format("memory")
        .queryName("dp_avnow_plain")
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    assert not q.isActive
    assert spark.sql("select count(*) from dp_avnow_plain").first()[0] == 40


def test_stream_truncate_and_replace_commits(spark, tmp_path):
    """TRUNCATE is a delete-only commit (ignoreDeletes suffices);
    CREATE OR REPLACE is a remove+add rewrite (needs ignoreChanges, which
    re-emits the replacement rows). Without either option the stream must
    fail fast instead of silently skipping."""
    from athena_delta_lake_spark.catalog import DeltaPond

    root = str(tmp_path / "pond")
    pond = DeltaPond(spark, root)
    pond.sql("CREATE SCHEMA lake")
    src = f"{root}/lake/s"
    write_delta(spark.range(10).selectExpr("id"), src)
    pond.sql("TRUNCATE TABLE lake.s")                           # v1: removes only
    pond.sql("INSERT INTO lake.s SELECT id FROM range(50, 53)")  # v2

    q = (
        spark.readStream.format("deltapond")
        .option("startingVersion", 0)
        .option("ignoreDeletes", "true")
        .load(src)
        .writeStream.format("memory")
        .queryName("dp_trunc")
        .outputMode("append")
        .start()
    )
    try:
        q.processAllAvailable()
        got = sorted(r["id"] for r in spark.sql("select id from dp_trunc").collect())
        assert got == list(range(10)) + [50, 51, 52]
    finally:
        q.stop()

    # REPLACE: remove+add — ignoreDeletes is NOT enough
    pond.sql("CREATE OR REPLACE TABLE lake.s AS SELECT id * 100 AS id FROM range(2)")
    q2 = (
        spark.readStream.format("deltapond")
        .option("startingVersion", 1)
        .option("ignoreDeletes", "true")
        .load(src)
        .writeStream.format("memory")
        .queryName("dp_repl_fail")
        .outputMode("append")
        .start()
    )
    try:
        failed = False
        try:
            q2.processAllAvailable()
        except Exception as e:
            failed = True
            assert "ignoreChanges" in str(e)
        assert failed, "stream over a rewrite commit must fail without ignoreChanges"
    finally:
        q2.stop()

    q3 = (
        spark.readStream.format("deltapond")
        .option("startingVersion", 2)
        .option("ignoreChanges", "true")
        .load(src)
        .writeStream.format("memory")
        .queryName("dp_repl_ok")
        .outputMode("append")
        .start()
    )
    try:
        q3.processAllAvailable()
        got = sorted(r["id"] for r in spark.sql("select id from dp_repl_ok").collect())
        assert got == [0, 50, 51, 52, 100]  # v2 inserts + replacement rows
    finally:
        q3.stop()


@pytest.mark.slow  # 5000-file scale soak (~4 min alone): slow tier
def test_bounded_catchup_drains_5000_file_backlog(spark, tmp_path):
    """Round-7 ask #5: a 5000-file backlog streams in BOUNDED batches
    under plain Trigger.AvailableNow — each run drains exactly one capped
    batch (the first latestOffset now admits a chunk instead of the empty
    floor, so availableNow no longer captures a zero-row terminal), and
    streaming.drain_backlog loops runs until empty with exactly-once
    totals."""
    from athena_delta_lake_spark.streaming import drain_backlog

    src = str(tmp_path / "src")
    sink = str(tmp_path / "sink")
    cp = str(tmp_path / "cp")
    # 5 commits x 1000 files = a 5000-file backlog of 10000 rows
    for i in range(5):
        write_delta(
            spark.range(i * 2000, (i + 1) * 2000)
            .selectExpr("id")
            .repartition(1000),
            src,
        )
    snap = DeltaTable(spark, src).snapshot()
    n_files = len(snap.files)
    assert n_files > 4000  # empty repartition slots write no file

    res = drain_backlog(
        spark,
        src,
        sink,
        cp,
        max_files_per_trigger=1000,
        reader_options={"startingVersion": 0},
    )
    # ~1000 files per run -> ceil(n/1000) productive runs + 1 empty probe
    # (a run may admit slightly more than the cap when it finishes the
    # commit it lands in mid-budget, hence <=)
    assert 2 <= res["runs"] <= -(-n_files // 1000) + 2, (res, n_files)
    assert res["rows"] == 10_000, res
    out = DeltaTable(spark, sink).to_df()
    assert out.count() == 10_000
    assert out.distinct().count() == 10_000  # exactly-once

    # re-invoking against the same checkpoint is a no-op (idempotent)
    res2 = drain_backlog(
        spark, src, sink, cp, max_files_per_trigger=1000,
        reader_options={"startingVersion": 0},
    )
    assert res2 == {"runs": 1, "rows": 0}
    assert DeltaTable(spark, sink).to_df().count() == 10_000


def test_availablenow_with_caps_drains_one_bounded_batch(spark, tmp_path):
    """The round-6 trap is gone: caps + plain availableNow no longer
    silently produce ZERO rows — the run drains exactly one capped
    batch."""
    src = str(tmp_path / "src")
    for i in range(4):
        write_delta(
            spark.range(i * 30, (i + 1) * 30).selectExpr("id").repartition(3),
            src,
        )
    q = (
        spark.readStream.format("deltapond")
        .option("startingVersion", 0)
        .option("maxFilesPerTrigger", 3)
        .load(src)
        .writeStream.format("memory")
        .queryName("an_cap_out")
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    n = spark.sql("SELECT count(*) AS n FROM an_cap_out").first()["n"]
    assert n == 30  # one 3-file commit, not 0 and not the whole backlog


def test_backlog_warning_on_unbounded_first_batch(spark, tmp_path, monkeypatch):
    """Round-8 ask #6: an UNCAPPED fresh start over a backlog of more
    than ADLS_STREAM_BACKLOG_WARN_FILES pending files warns loudly
    (pointing at drain_backlog / maxFilesPerTrigger) instead of silently
    admitting everything — and still admits everything (semantics
    unchanged). Synthesized 20k-file metadata-only log: the probe is
    O(threshold), not O(backlog)."""
    import json as _json
    import os as _os
    import warnings as _w

    from athena_delta_lake_spark.sources.deltapond_source import (
        DeltaPondStreamReader,
    )

    root = str(tmp_path / "backlog")
    log_dir = _os.path.join(root, "_delta_log")
    _os.makedirs(log_dir)
    schema_str = _json.dumps(
        {
            "type": "struct",
            "fields": [
                {"name": "id", "type": "long", "nullable": True, "metadata": {}}
            ],
        }
    )
    per_commit, n_commits = 2000, 10  # 20_000 add actions
    for v in range(n_commits):
        actions = []
        if v == 0:
            actions += [
                {"protocol": {"minReaderVersion": 1, "minWriterVersion": 2}},
                {
                    "metaData": {
                        "id": "backlog",
                        "format": {"provider": "parquet", "options": {}},
                        "schemaString": schema_str,
                        "partitionColumns": [],
                        "configuration": {},
                    }
                },
            ]
        actions += [
            {
                "add": {
                    "path": f"part-{v:03d}-{i:05d}.parquet",
                    "partitionValues": {},
                    "size": 1024,
                    "modificationTime": 1,
                    "dataChange": True,
                }
            }
            for i in range(per_commit)
        ]
        with open(_os.path.join(log_dir, f"{v:020d}.json"), "w") as f:
            for a in actions:
                f.write(_json.dumps(a) + "\n")

    from athena_delta_lake_spark.delta.log import DeltaLog

    DeltaLog.clear_cache()
    schema = DeltaLog(root).snapshot().schema

    r = DeltaPondStreamReader({"path": root, "startingVersion": "0"}, schema)
    # the REAL engine flow populates start offsets first — the warning
    # must survive initialOffset() having set _position (round-8 review
    # finding: gating on _position alone made the feature dead)
    r.initialOffset()
    with pytest.warns(UserWarning, match="drain_backlog"):
        off = r.latestOffset()
    assert off == {"version": n_commits - 1}  # still admits the backlog
    with _w.catch_warnings():  # one-shot: no second warning
        _w.simplefilter("error")
        assert r.latestOffset() == {"version": n_commits - 1}

    # capped readers never warn (admission already bounded)
    rc = DeltaPondStreamReader(
        {"path": root, "startingVersion": "0", "maxFilesPerTrigger": "500"},
        schema,
    )
    with _w.catch_warnings():
        _w.simplefilter("error")
        rc.latestOffset()

    # checkpoint restarts never warn (position known before new offsets)
    rr = DeltaPondStreamReader({"path": root, "startingVersion": "0"}, schema)
    rr.commit({"version": 3})
    with _w.catch_warnings():
        _w.simplefilter("error")
        assert rr.latestOffset() == {"version": n_commits - 1}

    # default startingVersion='latest' has no backlog: no warning
    rl = DeltaPondStreamReader({"path": root}, schema)
    with _w.catch_warnings():
        _w.simplefilter("error")
        rl.latestOffset()


def test_backlog_warning_threshold_env_and_results_unchanged(
    spark, tmp_path, monkeypatch
):
    """With the threshold lowered below a small REAL backlog, the stream
    still drains exactly-once (warning is advisory only)."""
    import warnings as _w

    from athena_delta_lake_spark.sources.deltapond_source import (
        DeltaPondStreamReader,
    )

    src = str(tmp_path / "wsrc")
    write_delta(spark.range(40).selectExpr("id").repartition(8), src)
    write_delta(spark.range(40, 60).selectExpr("id").repartition(4), src)
    monkeypatch.setenv("ADLS_STREAM_BACKLOG_WARN_FILES", "5")
    snap = DeltaTable(spark, src).snapshot()
    r = DeltaPondStreamReader({"path": src, "startingVersion": "0"}, snap.schema)
    r.initialOffset()  # engine populates start offsets first
    with pytest.warns(UserWarning, match="maxFilesPerTrigger"):
        r.latestOffset()

    q = (
        spark.readStream.format("deltapond")
        .option("startingVersion", 0)
        .load(src)
        .writeStream.format("memory")
        .queryName("dp_backlog_warn")
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    assert not q.isActive
    got = spark.sql(
        "select count(*) c, count(distinct id) d from dp_backlog_warn"
    ).first()
    assert (got["c"], got["d"]) == (60, 60)

    monkeypatch.setenv("ADLS_STREAM_BACKLOG_WARN_FILES", "0")  # disable
    r2 = DeltaPondStreamReader({"path": src, "startingVersion": "0"}, snap.schema)
    with _w.catch_warnings():
        _w.simplefilter("error")
        r2.latestOffset()


def test_sink_header_paths_stay_light(spark, tmp_path, monkeypatch):
    """The sink's three header-only needs (column-mapping map, exactly-
    once epoch HWM, schema/partition compatibility) must route through
    the driver-light header past the threshold — on a 10^7-file target
    the classic replay cost 8.6 GiB PER MICROBATCH COMMIT. Proven by
    poisoning DeltaLog.snapshot: append commits and epoch lookups still
    work; batch-overwrite (which genuinely needs prior.files) is the one
    path allowed to call it."""
    from athena_delta_lake_spark.delta.log import DeltaLog
    from athena_delta_lake_spark.delta.writer import write_checkpoint
    from athena_delta_lake_spark.sources import deltapond_source as dps

    path = str(tmp_path / "lightsink")
    write_delta(
        spark.range(100).selectExpr("id", "id % 4 as k"),
        path,
        partition_by=["k"],
    )
    write_checkpoint(path)
    DeltaLog.clear_cache()
    monkeypatch.setenv("ADLS_LIGHT_PLANNING_FILES", "2")
    assert DeltaLog(path).light_planning_engaged()

    calls = []
    orig = DeltaLog.snapshot

    def poisoned(self, version=None):
        calls.append(self.table_path)
        return orig(self, version)

    monkeypatch.setattr(DeltaLog, "snapshot", poisoned)

    # header helpers never touch the classic snapshot
    assert dps._target_l2p(path) is None  # not column-mapped
    assert DeltaLog(path).header().schema is not None
    # an append commit through the sink plumbing stays light
    v = dps._commit_adds(
        path,
        spark.read.format("deltapond").load(path).schema,
        ["k"],
        adds=[],
        overwrite=False,
        operation="STREAMING UPDATE",
    )
    assert v >= 1
    assert calls == [], calls
    DeltaLog.clear_cache()
    assert DeltaTable(spark, path).to_df().count() == 100
