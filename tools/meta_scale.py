"""Metadata-plane scale measurement: log replay, pruning, and checkpoint
I/O at 10^5–10^6 add actions (round-6 ask #1).

Synthesizes a Delta log DIRECTLY as JSON (no data files — metadata-plane
only), then measures wall time + driver RSS for:

  1. cold replay from commit JSONs           (DeltaLog.snapshot)
  2. checkpoint write                        (write_checkpoint, multi-part)
  3. cold replay from the checkpoint
  4. driver-side Python prune                (stats.prune_files)
  5. distributed Spark prune                 (stats.prune_files_distributed)
  6. files_df build + count                  (SnapshotState.files_df)

and asserts the two prune paths return identical file lists. The
reference's one known scalability bug was exactly metadata-plane
(O(partitions x files) split generation, DeltaMetadataHandler.scala:
159-182); this proves the rebuild's driver has measured, bounded
behavior at the 100 TB file-count regime instead of asserting it.

Usage: python tools/meta_scale.py [n_files] [adds_per_commit]
       python tools/meta_scale.py [n_files] [adds_per_commit] --light
       python tools/meta_scale.py [n_files] [adds_per_commit] --plan [--check-classic]
       python tools/meta_scale.py [n_files] [adds_per_commit] --merge [--check-classic]
       python tools/meta_scale.py [n_files] [adds_per_commit] --checkpoint [--check-classic]
       python tools/meta_scale.py [n_files] [adds_per_commit] --maintain
       python tools/meta_scale.py [n_files] [adds_per_commit] --conflict [--check-classic]
       python tools/meta_scale.py [n_files] [adds_per_commit] --restore
       python tools/meta_scale.py [n_files] [adds_per_commit] --cdf [--check-classic]
       python tools/meta_scale.py [n_files] [adds_per_commit] --clone [--check-classic]
       python tools/meta_scale.py [n_files] [adds_per_commit] --truncate [--check-classic]
       python tools/meta_scale.py [n_files] [adds_per_commit] --rowtracking
       python tools/meta_scale.py [n_files] [adds_per_commit] --lifecycle [--check-classic]
Prints one JSON line with the measurements (recorded in PERF_TRIAGE_r6).

--lifecycle (round-10 verdict #6): every prior light mode is a ONE-SHOT
op in a fresh process, which structurally cannot catch cross-op
driver-state accumulation (snapshot caches, spool files, staged tmp
dirs). This mode chains append -> MOR delete -> OPTIMIZE -> checkpoint
-> CDF tail -> RESTORE -> VACUUM against the prepared table in ONE
process and asserts VmHWM < 2 GiB END-TO-END, with per-step wall times
and RSS samples in the output. The test commits, checkpoint files and
materialized parquet are removed afterwards so the table stays reusable.

--light (round-7 ask #6): measure the DRIVER-LIGHT snapshot path
(DeltaLog.snapshot_light + LightSnapshot.files_df/prune_df) in a FRESH
process against a table prepared by a prior normal run — peak RSS then
reflects only the light path, which holds no AddFiles: O(header + tail)
driver memory at ANY file count. The classic path measured 8.6 GiB RSS
at 10^7 adds; the light path's bar is < 2 GiB.

--plan (round-8 ask #3): measure the AUTO-ROUTED light planning wiring in
a fresh process — ordinary DeltaTable.to_df predicate planning
(_planning_snapshot) and a partition-predicate DELETE, both served by
collect_pruned_add_files past the ADLS_LIGHT_PLANNING_FILES threshold —
asserting driver RSS stays under 2 GiB at any file count. The DELETE's
commit is removed afterwards so the prepared table stays reusable.
--check-classic additionally loads the CLASSIC snapshot (expensive:
~270 s / 8.6 GiB at 10^7) and asserts the light survivors are identical;
run it at 10^6 where the classic path is cheap.

--checkpoint (round-8 verdict ask #5): measure the DISTRIBUTED checkpoint
write in a fresh process — add actions stream from LightSnapshot.files_df
executor-side into the checkpoint part files; the driver never folds an
AddFile. Asserts peak RSS < 2 GiB at any file count and that a light
replay of the NEW checkpoint reproduces the file count.
--check-classic additionally replays the new checkpoint CLASSICALLY and
compares the full path set + a sampled AddFile's stats against the light
frame; run it at 10^6 where the classic replay is cheap.

--maintain: measure UNSCOPED OPTIMIZE victim selection (executor-side
small-file/group pruning over LightSnapshot.files_df — the synthetic
files all sit at the 128 MiB target, so selection returns zero groups
and no data I/O happens) and a light VACUUM dry run, asserting peak
driver RSS < 2 GiB at any file count.

--merge (round-9 ask #1): measure a KEYED MERGE upsert whose candidate
selection routes through the light plane — one REAL parquet data file is
materialized for the single candidate the source's key range intersects,
the merge runs end-to-end (probe, rewrite, commit), and driver RSS is
asserted under 2 GiB at any file count. The merge commit + staged files
are removed afterwards so the prepared table stays reusable.
--check-classic re-runs the SAME merge through the classic snapshot and
asserts identical affected rows + removed files; run it at 10^6.
"""

from __future__ import annotations

import json
import os
import shutil
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

SCHEMA_STR = json.dumps(
    {
        "type": "struct",
        "fields": [
            {"name": "id", "type": "long", "nullable": True, "metadata": {}},
            {"name": "v", "type": "double", "nullable": True, "metadata": {}},
            {"name": "day", "type": "date", "nullable": True, "metadata": {}},
        ],
    }
)


def rss_mib() -> float:
    with open("/proc/self/status") as f:
        for line in f:
            if line.startswith("VmRSS:"):
                return int(line.split()[1]) / 1024.0
    return float("nan")


def hwm_mib() -> float:
    """PEAK RSS (VmHWM) — the honest memory bar. A transient allocation
    freed before a point sample (python arenas are munmap'd when empty)
    is invisible to VmRSS: round 9 found the commit path's classic
    snapshot replay (8.5 GiB at 10^7 adds) hiding exactly this way
    behind a 213 MiB post-hoc sample."""
    with open("/proc/self/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024.0
    return float("nan")


def build_log(root: str, n_files: int, per_commit: int) -> str:
    """Write a synthetic partitioned log: n_files adds across
    ceil(n/per_commit) commits, hive layout day=YYYY-MM-DD, per-file
    min/max stats on id and v."""
    import datetime

    path = os.path.join(root, "meta_scale_tbl")
    shutil.rmtree(path, ignore_errors=True)
    log_dir = os.path.join(path, "_delta_log")
    os.makedirs(log_dir)
    base_day = datetime.date(2024, 1, 1)
    rows_per_file = 100_000
    fidx = 0
    version = 0
    while fidx < n_files:
        actions = []
        if version == 0:
            actions.append(
                {"protocol": {"minReaderVersion": 1, "minWriterVersion": 2}}
            )
            actions.append(
                {
                    "metaData": {
                        "id": "meta-scale",
                        "format": {"provider": "parquet", "options": {}},
                        "schemaString": SCHEMA_STR,
                        "partitionColumns": ["day"],
                        "configuration": {},
                    }
                }
            )
        count = min(per_commit, n_files - fidx)
        lines = []
        for _ in range(count):
            day = base_day + datetime.timedelta(days=fidx % 365)
            lo = fidx * rows_per_file
            hi = lo + rows_per_file - 1
            lines.append(
                {
                    "add": {
                        "path": f"day={day.isoformat()}/part-{fidx:07d}.parquet",
                        "partitionValues": {"day": day.isoformat()},
                        "size": 128 * 1024 * 1024,
                        "modificationTime": 1700000000000 + fidx,
                        "dataChange": True,
                        "stats": json.dumps(
                            {
                                "numRecords": rows_per_file,
                                "minValues": {"id": lo, "v": lo / 7.0},
                                "maxValues": {"id": hi, "v": hi / 7.0},
                                "nullCount": {"id": 0, "v": 3},
                            }
                        ),
                    }
                }
            )
            fidx += 1
        with open(os.path.join(log_dir, f"{version:020d}.json"), "w") as f:
            for a in actions + lines:
                f.write(json.dumps(a) + "\n")
        version += 1
    return path


def main() -> int:
    args = [a for a in sys.argv[1:] if not a.startswith("--")]
    light_mode = "--light" in sys.argv
    n_files = int(args[0]) if args else 100_000
    per_commit = int(args[1]) if len(args) > 1 else 2_000
    out: dict = {"n_files": n_files, "adds_per_commit": per_commit}

    root = os.environ.get("ADLS_META_SCALE_ROOT", "/tmp/adls_meta_scale")
    if light_mode:
        return light_main(root, n_files, out)
    if "--plan" in sys.argv:
        return plan_main(root, n_files, out, "--check-classic" in sys.argv)
    if "--merge" in sys.argv:
        return merge_main(root, n_files, out, "--check-classic" in sys.argv)
    if "--checkpoint" in sys.argv:
        return checkpoint_main(
            root, n_files, out, "--check-classic" in sys.argv
        )
    if "--maintain" in sys.argv:
        return maintain_main(root, n_files, out)
    if "--conflict" in sys.argv:
        return conflict_main(root, n_files, out, "--check-classic" in sys.argv)
    if "--restore" in sys.argv:
        return restore_main(root, n_files, out)
    if "--cdf" in sys.argv:
        return cdf_main(root, n_files, out, "--check-classic" in sys.argv)
    if "--clone" in sys.argv:
        return clone_main(root, n_files, out, "--check-classic" in sys.argv)
    if "--truncate" in sys.argv:
        return truncate_main(root, n_files, out, "--check-classic" in sys.argv)
    if "--rowtracking" in sys.argv:
        return rowtracking_main(root, n_files, out)
    if "--lifecycle" in sys.argv:
        return lifecycle_main(
            root, n_files, out, "--check-classic" in sys.argv
        )
    if "--connector" in sys.argv:
        return connector_main(
            root, n_files, out, "--check-classic" in sys.argv
        )
    t0 = time.time()
    path = build_log(root, n_files, per_commit)
    out["build_log_s"] = round(time.time() - t0, 2)

    from athena_delta_lake_spark.delta.log import DeltaLog
    from athena_delta_lake_spark.delta.stats import (
        prune_files,
        prune_files_distributed,
    )
    from athena_delta_lake_spark.delta.writer import write_checkpoint

    out["rss_before_replay_mib"] = round(rss_mib(), 1)
    t0 = time.time()
    log = DeltaLog(path)
    snap = log.snapshot()
    out["replay_json_s"] = round(time.time() - t0, 2)
    out["rss_after_replay_mib"] = round(rss_mib(), 1)
    assert snap.num_files == n_files, snap.num_files

    t0 = time.time()
    parts = max(1, n_files // 50_000)
    write_checkpoint(path, parts=parts)
    out["checkpoint_write_s"] = round(time.time() - t0, 2)
    out["checkpoint_parts"] = parts

    DeltaLog.clear_cache()  # the (path, version) snapshot cache is global
    t0 = time.time()
    snap2 = DeltaLog(path).snapshot()
    out["replay_checkpoint_s"] = round(time.time() - t0, 2)
    out["rss_after_ckpt_replay_mib"] = round(rss_mib(), 1)
    assert snap2.num_files == n_files

    preds = [
        ("day", ">=", "2024-03-01"),
        ("day", "<", "2024-04-01"),
        ("id", ">=", 1_000_000_000),
    ]
    t0 = time.time()
    py = prune_files(snap, preds)
    out["prune_python_s"] = round(time.time() - t0, 2)
    out["pruned_survivors"] = len(py)

    from athena_delta_lake_spark import get_spark

    spark = get_spark(
        master=f"local[{os.environ.get('SPARK_GRAFT_CPUS', '8')}]",
        shuffle_partitions=16,
    )
    t0 = time.time()
    dist = prune_files_distributed(spark, snap, preds)
    out["prune_distributed_s"] = round(time.time() - t0, 2)
    assert [f.path for f in dist] == [f.path for f in py], "prune mismatch"
    # second run without the first-job warmup overhead
    t0 = time.time()
    dist2 = prune_files_distributed(spark, snap, preds)
    out["prune_distributed_warm_s"] = round(time.time() - t0, 2)
    assert len(dist2) == len(py)

    t0 = time.time()
    fdf_count = snap.files_df(spark).count()
    out["files_df_s"] = round(time.time() - t0, 2)
    assert fdf_count == n_files
    out["rss_final_mib"] = round(rss_mib(), 1)
    spark.stop()
    print(json.dumps(out))
    return 0


def light_main(root: str, n_files: int, out: dict) -> int:
    """Measure snapshot_light + files_df + prune_df against the table a
    prior normal run prepared (checkpoint included) — fresh process, so
    RSS is the light path's own footprint."""
    from athena_delta_lake_spark import get_spark
    from athena_delta_lake_spark.delta.log import DeltaLog

    path = os.path.join(root, "meta_scale_tbl")
    if not os.path.isdir(os.path.join(path, "_delta_log")):
        print(
            json.dumps({"error": "run the normal mode first to build the "
                        "table + checkpoint"}),
        )
        return 1
    out["mode"] = "light"
    out["rss_before_mib"] = round(rss_mib(), 1)
    t0 = time.time()
    light = DeltaLog(path).snapshot_light()
    out["snapshot_light_s"] = round(time.time() - t0, 2)
    out["rss_after_light_mib"] = round(rss_mib(), 1)
    out["overlay_adds"] = len(light.overlay_adds)
    out["checkpoint_parts"] = len(light.checkpoint_paths)

    spark = get_spark(
        master=f"local[{os.environ.get('SPARK_GRAFT_CPUS', '8')}]",
        shuffle_partitions=16,
    )
    t0 = time.time()
    n = light.files_df(spark).count()
    out["files_df_count_s"] = round(time.time() - t0, 2)
    assert n == n_files, (n, n_files)
    preds = [
        ("day", ">=", "2024-03-01"),
        ("day", "<", "2024-04-01"),
        ("id", ">=", 1_000_000_000),
    ]
    t0 = time.time()
    out["prune_df_survivors"] = light.prune_df(spark, preds).count()
    out["prune_df_s"] = round(time.time() - t0, 2)
    out["rss_final_mib"] = round(rss_mib(), 1)
    spark.stop()
    print(json.dumps(out))
    return 0


def plan_main(root: str, n_files: int, out: dict, check_classic: bool) -> int:
    """Measure the auto-routed light PLANNING wiring (to_df +
    predicate DELETE) against the prepared table — fresh process, RSS
    asserted < 2 GiB regardless of file count."""
    from athena_delta_lake_spark import DeltaTable, get_spark
    from athena_delta_lake_spark.delta.log import DeltaLog

    path = os.path.join(root, "meta_scale_tbl")
    if not os.path.isdir(os.path.join(path, "_delta_log")):
        print(
            json.dumps({"error": "run the normal mode first to build the "
                        "table + checkpoint"}),
        )
        return 1
    out["mode"] = "plan"
    os.environ.setdefault("ADLS_LIGHT_PLANNING_FILES", "1000000")
    out["rss_before_mib"] = round(rss_mib(), 1)
    spark = get_spark(
        master=f"local[{os.environ.get('SPARK_GRAFT_CPUS', '8')}]",
        shuffle_partitions=16,
    )
    t = DeltaTable(spark, path)
    out["light_engaged"] = bool(t.log.light_planning_engaged())

    # ordinary to_df predicate planning: exactly what to_df(where=...)
    # executes before the scan itself (the scan reads only survivors, so
    # planning is the driver-memory-bearing part at 10^7 files)
    preds = [("day", "=", "2024-03-15"), ("id", ">=", 1_000_000_000)]
    t0 = time.time()
    snap = t._planning_snapshot(preds)
    out["to_df_planning_s"] = round(time.time() - t0, 2)
    out["planning_survivors"] = len(snap.files)
    out["rss_after_plan_mib"] = round(rss_mib(), 1)

    # predicate DELETE: partition-only -> metadata-only commit (no data
    # I/O, which is what lets this run on a synthetic metadata-only log)
    v_before = DeltaLog(path).latest_version()
    t0 = time.time()
    res = t.delete(where="day = '2024-06-01'")
    out["delete_s"] = round(time.time() - t0, 2)
    out["delete_files_removed"] = res["files_removed"]
    out["delete_files_added"] = res["files_added"]
    out["rss_after_delete_mib"] = round(rss_mib(), 1)
    peak = round(hwm_mib(), 1)  # PEAK, not a point sample
    out["rss_peak_mib"] = peak
    out["rss_under_2gib"] = bool(peak < 2048)
    assert out["light_engaged"], "light planning did not engage"
    assert res["files_added"] == 0, "partition delete must be metadata-only"
    assert peak < 2048, f"driver RSS {peak} MiB breaches the 2 GiB bar"

    # leave the prepared table unchanged for later runs
    os.remove(
        os.path.join(path, "_delta_log", f"{v_before + 1:020d}.json")
    )
    DeltaLog.clear_cache()

    if check_classic:
        from athena_delta_lake_spark.delta.stats import prune_files

        t0 = time.time()
        classic = DeltaLog(path).snapshot()
        out["classic_replay_s"] = round(time.time() - t0, 2)
        want = sorted(f.path for f in prune_files(classic, preds))
        got = sorted(f.path for f in snap.files)
        assert got == want, (
            f"light planning survivors diverge from classic: "
            f"{len(got)} vs {len(want)}"
        )
        out["classic_equality"] = "identical"
        out["rss_after_classic_mib"] = round(rss_mib(), 1)
    spark.stop()
    print(json.dumps(out))
    return 0


def connector_main(
    root: str, n_files: int, out: dict, check_classic: bool
) -> int:
    """Measure the Python DataSource connector's scan PLANNING against
    the prepared table — NO SparkSession at all, exactly like the
    DataSource planning worker the real partitions() call runs in.

    Two measurements, pruned first so its HWM is attributable:
    - a pushed-filter plan (one day partition + an id stats bound):
      streams iter_files_local and keeps only survivors — asserted under
      the 2 GiB bar at any n_files (this is the realistic scan shape);
    - the UNPRUNED plan: the full partition list the DataSource API
      requires as a driver-side Python list — recorded, not asserted
      (O(files) is inherent to the API; what this mode proves is that
      the 8.6 GiB classic snapshot replay is GONE from both shapes)."""
    from athena_delta_lake_spark.delta.log import DeltaLog
    from athena_delta_lake_spark.sources.deltapond_source import (
        DeltaPondBatchReader,
    )

    path = os.path.join(root, "meta_scale_tbl")
    if not os.path.isdir(os.path.join(path, "_delta_log")):
        print(
            json.dumps({"error": "run the normal mode first to build the "
                        "table + checkpoint"}),
        )
        return 1
    out["mode"] = "connector"
    out["rss_before_mib"] = round(rss_mib(), 1)
    schema = DeltaLog(path).snapshot_light().schema
    out["rss_after_schema_mib"] = round(rss_mib(), 1)

    preds = [
        ("day", "=", "2024-03-15"),
        ("id", ">=", 1_000_000_000),
    ]
    r = DeltaPondBatchReader({"path": path}, schema)
    r._preds = preds
    t0 = time.time()
    pruned = r.partitions()
    out["pruned_plan_s"] = round(time.time() - t0, 2)
    out["pruned_survivors"] = len(pruned)
    peak = round(hwm_mib(), 1)
    out["pruned_plan_peak_mib"] = peak
    out["pruned_under_2gib"] = bool(peak < 2048)
    assert peak < 2048, (
        f"pruned connector plan peaked at {peak} MiB (> 2 GiB)"
    )

    if check_classic:
        from athena_delta_lake_spark.delta.stats import prune_files

        classic = DeltaLog(path).snapshot()
        want = sorted(
            os.path.join(path, f.path) for f in prune_files(classic, preds)
        )
        got = sorted(p.file_path for p in pruned)
        assert got == want, (
            f"connector plan diverges from classic: {len(got)} vs "
            f"{len(want)} survivors"
        )
        want_all = sorted(os.path.join(path, f.path) for f in classic.files)
        DeltaLog.clear_cache()
        out["classic_equality"] = "identical"
    del pruned

    t0 = time.time()
    r2 = DeltaPondBatchReader({"path": path}, schema)
    full = r2.partitions()
    out["full_plan_s"] = round(time.time() - t0, 2)
    out["full_plan_files"] = len(full)
    assert len(full) == n_files, (len(full), n_files)
    if check_classic:
        assert sorted(p.file_path for p in full) == want_all
        out["classic_equality_full"] = "identical"
    out["full_plan_peak_mib"] = round(hwm_mib(), 1)
    out["rss_final_mib"] = round(rss_mib(), 1)
    print(json.dumps(out))
    return 0


def checkpoint_main(
    root: str, n_files: int, out: dict, check_classic: bool
) -> int:
    """Measure the DISTRIBUTED checkpoint write against the prepared table
    — fresh process, peak RSS asserted < 2 GiB at any file count, light
    replay-equality on the new checkpoint."""
    from athena_delta_lake_spark import get_spark
    from athena_delta_lake_spark.delta.log import DeltaLog
    from athena_delta_lake_spark.delta.writer import write_checkpoint

    path = os.path.join(root, "meta_scale_tbl")
    if not os.path.isdir(os.path.join(path, "_delta_log")):
        print(
            json.dumps({"error": "run the normal mode first to build the "
                        "table + checkpoint"}),
        )
        return 1
    out["mode"] = "checkpoint"
    os.environ.setdefault("ADLS_LIGHT_PLANNING_FILES", "1000000")
    out["rss_before_mib"] = round(rss_mib(), 1)
    spark = get_spark(
        master=f"local[{os.environ.get('SPARK_GRAFT_CPUS', '8')}]",
        shuffle_partitions=16,
    )
    out["light_engaged"] = bool(DeltaLog(path).light_planning_engaged())
    t0 = time.time()
    v = write_checkpoint(path, spark=spark)
    out["checkpoint_write_s"] = round(time.time() - t0, 2)
    log_dir = os.path.join(path, "_delta_log")
    out["checkpoint_parts"] = len(
        [
            f
            for f in os.listdir(log_dir)
            if f.startswith(f"{v:020d}.checkpoint.")
        ]
    )
    with open(os.path.join(log_dir, "_last_checkpoint")) as f:
        out["last_checkpoint_size"] = json.load(f).get("size")
    out["rss_after_write_mib"] = round(rss_mib(), 1)

    # replay-equality, light: the NEW checkpoint must reproduce the count
    DeltaLog.clear_cache()
    t0 = time.time()
    light = DeltaLog(path).snapshot_light()
    n = light.files_df(spark).count()
    out["light_replay_count_s"] = round(time.time() - t0, 2)
    assert n == n_files, (n, n_files)
    peak = round(hwm_mib(), 1)  # PEAK, not a point sample
    out["rss_peak_mib"] = peak
    out["rss_under_2gib"] = bool(peak < 2048)
    assert out["light_engaged"], "light planning did not engage"
    assert peak < 2048, f"driver RSS {peak} MiB breaches the 2 GiB bar"

    if check_classic:
        t0 = time.time()
        snap = DeltaLog(path).snapshot()  # classic replay of NEW checkpoint
        out["classic_replay_s"] = round(time.time() - t0, 2)
        assert snap.num_files == n_files
        light_paths = sorted(
            r["path"] for r in light.files_df(spark).select("path").collect()
        )
        assert sorted(f.path for f in snap.files) == light_paths
        # sampled AddFile: stats survived the executor-side writer intact
        probe = snap.files[n_files // 2]
        st = probe.stats
        assert st["numRecords"] == 100_000, st
        assert set(st["minValues"]) == {"id", "v"}, st
        out["classic_equality"] = "identical"
        out["rss_after_classic_mib"] = round(rss_mib(), 1)
    spark.stop()
    print(json.dumps(out))
    return 0


def maintain_main(root: str, n_files: int, out: dict) -> int:
    """Measure unscoped OPTIMIZE victim selection + light VACUUM dry run
    against the prepared table — fresh process, peak RSS < 2 GiB bar."""
    from athena_delta_lake_spark import get_spark
    from athena_delta_lake_spark.delta import dml
    from athena_delta_lake_spark.delta.log import DeltaLog

    path = os.path.join(root, "meta_scale_tbl")
    if not os.path.isdir(os.path.join(path, "_delta_log")):
        print(
            json.dumps({"error": "run the normal mode first to build the "
                        "table + checkpoint"}),
        )
        return 1
    out["mode"] = "maintain"
    os.environ.setdefault("ADLS_LIGHT_PLANNING_FILES", "1000000")
    out["rss_before_mib"] = round(rss_mib(), 1)
    spark = get_spark(
        master=f"local[{os.environ.get('SPARK_GRAFT_CPUS', '8')}]",
        shuffle_partitions=16,
    )
    out["light_engaged"] = bool(DeltaLog(path).light_planning_engaged())

    # unscoped OPTIMIZE: every synthetic file sits exactly at the 128 MiB
    # target, so the executor-side selection proves 0 groups with no data
    # I/O — the selection IS the scale-bearing phase at 10^7 files
    t0 = time.time()
    res = dml.compact(spark, path, target_file_size=128 * 1024 * 1024)
    out["optimize_select_s"] = round(time.time() - t0, 2)
    out["optimize_planning"] = res.get("planning")
    out["optimize_groups"] = res["groups"]
    assert res.get("planning") == "light", res
    assert res["groups"] == 0, res
    out["rss_after_optimize_mib"] = round(rss_mib(), 1)

    # light VACUUM dry run (the listing is metadata-only here; the
    # anti-join + executor-side delete fan-out are correctness-tested in
    # tests/test_light_vacuum.py)
    t0 = time.time()
    vres = dml.vacuum(path, retention_hours=0, dry_run=True, spark=spark)
    out["vacuum_dry_s"] = round(time.time() - t0, 2)
    out["vacuum_planning"] = vres.get("planning")
    out["vacuum_files_count"] = vres.get("files_count")
    assert vres.get("planning") == "light", vres

    peak = round(hwm_mib(), 1)
    out["rss_peak_mib"] = peak
    out["rss_under_2gib"] = bool(peak < 2048)
    assert out["light_engaged"], "light planning did not engage"
    assert peak < 2048, f"driver RSS {peak} MiB breaches the 2 GiB bar"
    spark.stop()
    print(json.dumps(out))
    return 0


def _materialize_candidate_file(path: str, i: int) -> tuple[str, int, int]:
    """Write REAL parquet bytes for synthetic add #i (the file the merge
    source's key range intersects) so the probe/rewrite can scan it.
    Returns (relpath, lo_id, hi_id)."""
    import datetime

    import pyarrow as pa
    import pyarrow.parquet as pq

    rows_per_file = 100_000
    day = datetime.date(2024, 1, 1) + datetime.timedelta(days=i % 365)
    lo = i * rows_per_file
    rel = f"day={day.isoformat()}/part-{i:07d}.parquet"
    full = os.path.join(path, rel)
    os.makedirs(os.path.dirname(full), exist_ok=True)
    ids = list(range(lo, lo + rows_per_file))
    pq.write_table(
        pa.table({"id": pa.array(ids, pa.int64()),
                  "v": pa.array([x / 7.0 for x in ids], pa.float64())}),
        full,
    )
    return rel, lo, lo + rows_per_file - 1


def merge_main(root: str, n_files: int, out: dict, check_classic: bool) -> int:
    """Keyed MERGE upsert through the auto-routed light plane against the
    prepared table — fresh process, RSS asserted < 2 GiB at any file
    count. The table is metadata-only, so the ONE candidate file the
    source's key range intersects is materialized as real parquet first;
    the merge then probes/rewrites exactly that file."""
    import datetime

    from athena_delta_lake_spark import DeltaTable, get_spark
    from athena_delta_lake_spark.delta.log import DeltaLog

    path = os.path.join(root, "meta_scale_tbl")
    if not os.path.isdir(os.path.join(path, "_delta_log")):
        print(
            json.dumps({"error": "run the normal mode first to build the "
                        "table + checkpoint"}),
        )
        return 1
    out["mode"] = "merge"
    os.environ.setdefault("ADLS_LIGHT_PLANNING_FILES", "1000000")
    out["rss_before_mib"] = round(rss_mib(), 1)
    spark = get_spark(
        master=f"local[{os.environ.get('SPARK_GRAFT_CPUS', '8')}]",
        shuffle_partitions=16,
    )
    i = n_files // 2
    rel, lo, hi = _materialize_candidate_file(path, i)
    day = datetime.date(2024, 1, 1) + datetime.timedelta(days=i % 365)
    t = DeltaTable(spark, path)
    out["light_engaged"] = bool(t.log.light_planning_engaged())
    v_before = DeltaLog(path).latest_version()

    # keys inside ONE file's recorded id range: the bounds prune to that
    # file alone (an id far outside would widen the range to half the
    # table and legitimately fall back past the collect cap)
    src = spark.createDataFrame(
        [(lo + 5, -1.0, day), (lo + 7, -2.0, day)],
        "id long, v double, day date",
    )
    t0 = time.time()
    res = t.merge(src, keys=["id"])
    out["merge_s"] = round(time.time() - t0, 2)
    out["merge_planning"] = res.get("planning")
    out["merge_files_removed"] = res["files_removed"]
    out["merge_files_added"] = res["files_added"]
    out["rss_after_merge_mib"] = round(rss_mib(), 1)
    peak = round(hwm_mib(), 1)  # PEAK, not a point sample
    out["rss_peak_mib"] = peak
    out["rss_under_2gib"] = bool(peak < 2048)
    assert out["light_engaged"], "light planning did not engage"
    assert res.get("planning") == "light", res
    assert res["files_removed"] == 1, res  # exactly the candidate file

    # affected-range state for the classic-equality check
    affected = sorted(
        (r["id"], r["v"])
        for r in t.to_df(where=[("id", ">=", lo), ("id", "<=", hi)])
        .collect()
    ) if check_classic else None

    def _revert(v_target: int) -> None:
        """Drop the merge commit + its staged files; restore the table."""
        log_dir = os.path.join(path, "_delta_log")
        cpath = os.path.join(log_dir, f"{v_target:020d}.json")
        with open(cpath) as f:
            for line in f:
                a = json.loads(line)
                if "add" in a:
                    fp = os.path.join(path, a["add"]["path"])
                    if os.path.exists(fp):
                        os.remove(fp)
        os.remove(cpath)
        DeltaLog.clear_cache()

    _revert(v_before + 1)

    if check_classic:
        prev = os.environ.get("ADLS_LIGHT_PLANNING_FILES")
        os.environ["ADLS_LIGHT_PLANNING_FILES"] = "0"
        try:
            t0 = time.time()
            res_c = DeltaTable(spark, path).merge(src, keys=["id"])
            out["merge_classic_s"] = round(time.time() - t0, 2)
            assert res_c.get("planning") == "classic", res_c
            assert res_c["files_removed"] == res["files_removed"]
            affected_c = sorted(
                (r["id"], r["v"])
                for r in DeltaTable(spark, path)
                .to_df(where=[("id", ">=", lo), ("id", "<=", hi)])
                .collect()
            )
            assert affected_c == affected, "light/classic merge rows diverge"
            out["classic_equality"] = "identical"
            out["rss_after_classic_mib"] = round(rss_mib(), 1)
        finally:
            os.environ["ADLS_LIGHT_PLANNING_FILES"] = prev or "1000000"
            _revert(v_before + 1)

    # remove the materialized candidate parquet (metadata-only table again)
    os.remove(os.path.join(path, rel))
    assert peak < 2048, f"driver RSS {peak} MiB breaches the 2 GiB bar"
    spark.stop()
    print(json.dumps(out))
    return 0


def conflict_main(root: str, n_files: int, out: dict, check_classic: bool) -> int:
    """Measure the RACED-rewrite conflict check against the prepared
    table: a rewrite planned against a stale snapshot must validate its
    removed files against every interleaved commit before it commutes.
    The classic form replayed the whole snapshot (8.6 GiB / 187 s at
    10^7 adds); the incremental form (writer._rewrite_commute_conflict)
    reads only the interleaved commit JSONs — pure driver-side Python,
    no Spark session at all. Fresh process, peak RSS < 2 GiB bar.

    Leaves the prepared table unchanged (the test commits are removed)."""
    from athena_delta_lake_spark.delta.log import DeltaLog, addfile_from_action
    from athena_delta_lake_spark.delta.writer import (
        ConcurrentWriteError,
        commit_rewrite,
    )

    path = os.path.join(root, "meta_scale_tbl")
    log_dir = os.path.join(path, "_delta_log")
    if not os.path.isdir(log_dir):
        print(
            json.dumps({"error": "run the normal mode first to build the "
                        "table + checkpoint"}),
        )
        return 1
    out["mode"] = "conflict"
    os.environ.setdefault("ADLS_LIGHT_PLANNING_FILES", "1000000")
    out["rss_before_mib"] = round(rss_mib(), 1)
    log = DeltaLog(path)
    out["light_engaged"] = bool(log.light_planning_engaged())
    base = log.latest_version()

    # two live files straight out of the newest commit's adds — no
    # snapshot, no listing beyond one JSON read
    tail_adds = [
        addfile_from_action(a["add"])
        for a in log.commit_actions(base)
        if "add" in a
    ]
    assert len(tail_adds) >= 2, "prepared tail commit too small"
    victim, bystander = tail_adds[0], tail_adds[1]

    # the interleaved commit: some other writer drops the bystander
    commit_rewrite(path, "DELETE", adds=[], removes=[bystander])

    # raced COMMUTING rewrite: planned at `base`, committing at base+2
    t0 = time.time()
    v_commute = commit_rewrite(
        path,
        "DELETE",
        adds=[],
        removes=[victim],
        base_version=base,
    )
    out["raced_commute_s"] = round(time.time() - t0, 3)
    assert v_commute == base + 2, v_commute

    # raced CONFLICTING rewrite: same plan again — the victim is now dead
    t0 = time.time()
    try:
        commit_rewrite(
            path,
            "DELETE",
            adds=[],
            removes=[victim],
            base_version=base,
        )
        raise AssertionError("expected ConcurrentWriteError")
    except ConcurrentWriteError:
        out["raced_conflict_s"] = round(time.time() - t0, 3)
    out["rss_after_mib"] = round(rss_mib(), 1)
    peak = round(hwm_mib(), 1)
    out["rss_peak_mib"] = peak
    out["rss_under_2gib"] = bool(peak < 2048)

    if check_classic:
        # classic-equality at the check scale: the full-snapshot
        # comparison must reach the same two verdicts
        from athena_delta_lake_spark.delta.writer import file_fingerprint

        t0 = time.time()
        now_files = {f.path: f for f in DeltaLog(path).snapshot().files}
        out["classic_replay_s"] = round(time.time() - t0, 2)
        assert victim.path not in now_files, "classic disagrees: victim live"
        assert bystander.path not in now_files
        out["classic_equality"] = "identical"
        out["rss_after_classic_mib"] = round(rss_mib(), 1)

    # restore the prepared table (both test commits removed)
    for v in (base + 1, base + 2):
        os.remove(os.path.join(log_dir, f"{v:020d}.json"))
    DeltaLog.clear_cache()
    assert peak < 2048, f"driver RSS {peak} MiB breaches the 2 GiB bar"
    print(json.dumps(out))
    return 0


def cdf_main(root: str, n_files: int, out: dict, check_classic: bool) -> int:
    """Measure driver-light `table_changes` (round-10 ask #1) against the
    prepared table: a 2-commit tail (adds, an in-range remove, and a
    remove of a BASE-table file — the case that previously paid a classic
    `snapshot(v-1)` per commit, 8.6 GiB at 10^7 adds) derives its change
    feed through the cdf._RangeTracker: one executor-side base probe over
    LightSnapshot.files_df plus incremental action folding. Fresh
    process; peak driver RSS asserted < 2 GiB at any file count.

    --check-classic re-derives the SAME range with the light plane
    disabled (base probe through the classic snapshot) and asserts the
    per-(change_type, version) row counts and id-sums are identical; run
    it at 10^6 where the classic replay is cheap. Leaves the prepared
    table unchanged (test commits + materialized parquet removed)."""
    from athena_delta_lake_spark import get_spark
    from athena_delta_lake_spark.delta.cdf import table_changes
    from athena_delta_lake_spark.delta.log import DeltaLog

    path = os.path.join(root, "meta_scale_tbl")
    log_dir = os.path.join(path, "_delta_log")
    if not os.path.isdir(log_dir):
        print(
            json.dumps({"error": "run the normal mode first to build the "
                        "table + checkpoint"}),
        )
        return 1
    out["mode"] = "cdf"
    os.environ.setdefault("ADLS_LIGHT_PLANNING_FILES", "1000000")
    out["rss_before_mib"] = round(rss_mib(), 1)
    log = DeltaLog(path)
    out["light_engaged"] = bool(log.light_planning_engaged())
    base = log.latest_version()

    # materialize real parquet for every file the range READS: two fresh
    # adds, one more add that is removed in-range, and one BASE-table
    # victim (its delete rows are read from the pre-range state — the
    # probe the classic path replayed a full snapshot for)
    new_idx = [n_files + 1, n_files + 2, n_files + 3]
    materialized = [_materialize_candidate_file(path, i) for i in new_idx]
    victim_rel = next(
        a["add"]["path"] for a in log.commit_actions(base) if "add" in a
    )
    victim_idx = int(victim_rel.rsplit("part-", 1)[1].split(".")[0])
    materialized.append(_materialize_candidate_file(path, victim_idx))

    def _add_action(rel_lo_hi, i):
        import datetime

        rel, lo, hi = rel_lo_hi
        day = (
            datetime.date(2024, 1, 1) + datetime.timedelta(days=i % 365)
        ).isoformat()
        return {
            "add": {
                "path": rel,
                "partitionValues": {"day": day},
                "size": 800_000,
                "modificationTime": 1700000000000 + i,
                "dataChange": True,
                "stats": json.dumps(
                    {
                        "numRecords": 100_000,
                        "minValues": {"id": lo, "v": lo / 7.0},
                        "maxValues": {"id": hi, "v": hi / 7.0},
                        "nullCount": {"id": 0, "v": 0},
                    }
                ),
            }
        }

    with open(os.path.join(log_dir, f"{base + 1:020d}.json"), "w") as f:
        for rlh, i in zip(materialized[:3], new_idx):
            f.write(json.dumps(_add_action(rlh, i)) + "\n")
    with open(os.path.join(log_dir, f"{base + 2:020d}.json"), "w") as f:
        for rel in (materialized[2][0], victim_rel):
            f.write(
                json.dumps(
                    {
                        "remove": {
                            "path": rel,
                            "dataChange": True,
                            "deletionTimestamp": 1700000000001,
                        }
                    }
                )
                + "\n"
            )

    spark = get_spark(
        master=f"local[{os.environ.get('SPARK_GRAFT_CPUS', '8')}]",
        shuffle_partitions=16,
    )

    def _summary():
        from pyspark.sql import functions as F

        ch = table_changes(spark, path, base + 1, base + 2)
        rows = (
            ch.groupBy("_change_type", "_commit_version")
            .agg(F.count("*").alias("n"), F.sum("id").alias("id_sum"))
            .collect()
        )
        return sorted(
            (r["_change_type"], r["_commit_version"], r["n"], r["id_sum"])
            for r in rows
        )

    try:
        t0 = time.time()
        light = _summary()
        out["table_changes_s"] = round(time.time() - t0, 2)
        out["change_rows"] = sum(r[2] for r in light)
        # 3 inserts at base+1, 2 deletes at base+2, 100k rows each
        assert out["change_rows"] == 500_000, light
        peak = round(hwm_mib(), 1)
        out["rss_peak_mib"] = peak
        out["rss_under_2gib"] = bool(peak < 2048)

        if check_classic:
            prev = os.environ.get("ADLS_LIGHT_PLANNING_FILES")
            os.environ["ADLS_LIGHT_PLANNING_FILES"] = "0"
            DeltaLog.clear_cache()
            try:
                t0 = time.time()
                classic = _summary()
                out["table_changes_classic_s"] = round(time.time() - t0, 2)
                assert classic == light, (classic, light)
                out["classic_equality"] = "identical"
                out["rss_after_classic_mib"] = round(rss_mib(), 1)
            finally:
                os.environ["ADLS_LIGHT_PLANNING_FILES"] = prev or "1000000"

        assert out["light_engaged"], "light planning did not engage"
        assert peak < 2048, f"driver RSS {peak} MiB breaches the 2 GiB bar"
    finally:
        for v in (base + 1, base + 2):
            p = os.path.join(log_dir, f"{v:020d}.json")
            if os.path.exists(p):
                os.remove(p)
        for rel, _lo, _hi in materialized:
            fp = os.path.join(path, rel)
            if os.path.exists(fp):
                os.remove(fp)
        DeltaLog.clear_cache()
        spark.stop()
    print(json.dumps(out))
    return 0


def clone_main(root: str, n_files: int, out: dict, check_classic: bool) -> int:
    """Measure the driver-light SHALLOW CLONE (round-10 ask #2) against
    the prepared table: the version-0 clone commit streams from
    LightSnapshot.files_df executor-side through staged text parts and a
    chunked concatenation (fs.create_atomic_stream) — the classic path
    materialized the full snapshot AND the whole action list driver-side.
    Fresh process; peak RSS asserted < 2 GiB at any file count.

    --check-classic re-clones with the light plane disabled and asserts
    the two commits carry IDENTICAL add-action sets (path-sorted,
    stats-parsed); run it at 10^6 where the classic replay is cheap.
    Clone dirs are removed afterwards."""
    import hashlib

    from athena_delta_lake_spark import get_spark
    from athena_delta_lake_spark.delta.log import DeltaLog
    from athena_delta_lake_spark.delta.writer import clone_table

    path = os.path.join(root, "meta_scale_tbl")
    if not os.path.isdir(os.path.join(path, "_delta_log")):
        print(
            json.dumps({"error": "run the normal mode first to build the "
                        "table + checkpoint"}),
        )
        return 1
    out["mode"] = "clone"
    os.environ.setdefault("ADLS_LIGHT_PLANNING_FILES", "1000000")
    out["rss_before_mib"] = round(rss_mib(), 1)
    out["light_engaged"] = bool(DeltaLog(path).light_planning_engaged())
    spark = get_spark(
        master=f"local[{os.environ.get('SPARK_GRAFT_CPUS', '8')}]",
        shuffle_partitions=16,
    )

    def _commit_digest(dst: str) -> tuple[int, str]:
        """(add_count, order-independent digest of normalized add lines) —
        streaming, no driver list."""
        n, acc = 0, 0
        with open(os.path.join(dst, "_delta_log", f"{0:020d}.json")) as f:
            for line in f:
                a = json.loads(line)
                if "add" not in a:
                    continue
                n += 1
                d = a["add"]
                if "stats" in d:
                    d["stats"] = json.dumps(
                        json.loads(d["stats"]), sort_keys=True
                    )
                h = hashlib.md5(
                    json.dumps(d, sort_keys=True).encode()
                ).hexdigest()
                acc ^= int(h, 16)
        return n, f"{acc:032x}"

    dst_light = os.path.join(root, "clone_light")
    shutil.rmtree(dst_light, ignore_errors=True)
    try:
        t0 = time.time()
        v = clone_table(path, dst_light)
        out["clone_s"] = round(time.time() - t0, 2)
        assert v == 0
        peak = round(hwm_mib(), 1)
        out["rss_peak_mib"] = peak
        out["rss_under_2gib"] = bool(peak < 2048)
        out["clone_commit_mib"] = round(
            os.path.getsize(
                os.path.join(dst_light, "_delta_log", f"{0:020d}.json")
            )
            / 1048576.0,
            1,
        )
        n_light, dig_light = _commit_digest(dst_light)
        out["clone_adds"] = n_light
        assert n_light == n_files, (n_light, n_files)

        if check_classic:
            prev = os.environ.get("ADLS_LIGHT_PLANNING_FILES")
            os.environ["ADLS_LIGHT_PLANNING_FILES"] = "0"
            DeltaLog.clear_cache()
            dst_classic = os.path.join(root, "clone_classic")
            shutil.rmtree(dst_classic, ignore_errors=True)
            try:
                t0 = time.time()
                clone_table(path, dst_classic)
                out["clone_classic_s"] = round(time.time() - t0, 2)
                n_c, dig_c = _commit_digest(dst_classic)
                assert (n_c, dig_c) == (n_light, dig_light), (
                    n_c,
                    n_light,
                )
                out["classic_equality"] = "identical"
                out["rss_after_classic_mib"] = round(rss_mib(), 1)
            finally:
                os.environ["ADLS_LIGHT_PLANNING_FILES"] = prev or "1000000"
                shutil.rmtree(dst_classic, ignore_errors=True)

        assert out["light_engaged"], "light planning did not engage"
        assert peak < 2048, f"driver RSS {peak} MiB breaches the 2 GiB bar"
    finally:
        shutil.rmtree(dst_light, ignore_errors=True)
        DeltaLog.clear_cache()
        spark.stop()
    print(json.dumps(out))
    return 0


def truncate_main(root: str, n_files: int, out: dict, check_classic: bool) -> int:
    """Measure the driver-light TRUNCATE (round-10 ask #3) against the
    prepared table: the remove-every-live-file commit streams from
    LightSnapshot.files_df executor-side (writer.commit_streamed_removes)
    instead of materializing the classic snapshot + a 10^7-entry remove
    list + fingerprint map driver-side. Fresh process; peak RSS asserted
    < 2 GiB at any file count. The truncate commit is removed afterwards
    so the prepared table stays reusable.

    --check-classic re-runs the SAME truncate with the light plane
    disabled and asserts both commits carry an identical remove-path
    digest; run it at 10^6 where the classic replay is cheap."""
    import hashlib

    from athena_delta_lake_spark import get_spark
    from athena_delta_lake_spark.delta.dml import truncate_table
    from athena_delta_lake_spark.delta.log import DeltaLog

    path = os.path.join(root, "meta_scale_tbl")
    log_dir = os.path.join(path, "_delta_log")
    if not os.path.isdir(log_dir):
        print(
            json.dumps({"error": "run the normal mode first to build the "
                        "table + checkpoint"}),
        )
        return 1
    out["mode"] = "truncate"
    os.environ.setdefault("ADLS_LIGHT_PLANNING_FILES", "1000000")
    out["rss_before_mib"] = round(rss_mib(), 1)
    log = DeltaLog(path)
    out["light_engaged"] = bool(log.light_planning_engaged())
    base = log.latest_version()
    spark = get_spark(
        master=f"local[{os.environ.get('SPARK_GRAFT_CPUS', '8')}]",
        shuffle_partitions=16,
    )

    def _remove_digest(v: int) -> tuple[int, str]:
        """(remove_count, order-independent digest) — streaming."""
        n, acc = 0, 0
        with open(os.path.join(log_dir, f"{v:020d}.json")) as f:
            for line in f:
                a = json.loads(line)
                if "remove" not in a:
                    continue
                n += 1
                h = hashlib.md5(a["remove"]["path"].encode()).hexdigest()
                acc ^= int(h, 16)
        return n, f"{acc:032x}"

    def _revert(v: int) -> None:
        p = os.path.join(log_dir, f"{v:020d}.json")
        if os.path.exists(p):
            os.remove(p)
        DeltaLog.clear_cache()

    try:
        t0 = time.time()
        res = truncate_table(path)
        out["truncate_s"] = round(time.time() - t0, 2)
        out["files_removed"] = res["files_removed"]
        assert res["files_removed"] == n_files, res
        peak = round(hwm_mib(), 1)
        out["rss_peak_mib"] = peak
        out["rss_under_2gib"] = bool(peak < 2048)
        n_l, dig_l = _remove_digest(base + 1)
        assert n_l == n_files

        if check_classic:
            _revert(base + 1)
            prev = os.environ.get("ADLS_LIGHT_PLANNING_FILES")
            os.environ["ADLS_LIGHT_PLANNING_FILES"] = "0"
            try:
                t0 = time.time()
                res_c = truncate_table(path)
                out["truncate_classic_s"] = round(time.time() - t0, 2)
                assert res_c == res, (res_c, res)
                n_c, dig_c = _remove_digest(base + 1)
                assert (n_c, dig_c) == (n_l, dig_l), (n_c, n_l)
                out["classic_equality"] = "identical"
                out["rss_after_classic_mib"] = round(rss_mib(), 1)
            finally:
                os.environ["ADLS_LIGHT_PLANNING_FILES"] = prev or "1000000"

        assert out["light_engaged"], "light planning did not engage"
        assert peak < 2048, f"driver RSS {peak} MiB breaches the 2 GiB bar"
    finally:
        _revert(base + 1)
        spark.stop()
    print(json.dumps(out))
    return 0


def rowtracking_main(root: str, n_files: int, out: dict) -> int:
    """Measure the driver-light enable_row_tracking backfill (round-10
    ask #4) against the prepared table: id ranges come from a distributed
    prefix sum over files_df and the re-add lines stream into the commit
    — the classic path walked the full snapshot driver-side. Fresh
    process; peak RSS < 2 GiB at any file count. The backfill commit is
    removed afterwards so the prepared table stays reusable."""
    from athena_delta_lake_spark import get_spark
    from athena_delta_lake_spark.delta.log import DeltaLog
    from athena_delta_lake_spark.delta.writer import enable_row_tracking

    path = os.path.join(root, "meta_scale_tbl")
    log_dir = os.path.join(path, "_delta_log")
    if not os.path.isdir(log_dir):
        print(
            json.dumps({"error": "run the normal mode first to build the "
                        "table + checkpoint"}),
        )
        return 1
    out["mode"] = "rowtracking"
    os.environ.setdefault("ADLS_LIGHT_PLANNING_FILES", "1000000")
    out["rss_before_mib"] = round(rss_mib(), 1)
    log = DeltaLog(path)
    out["light_engaged"] = bool(log.light_planning_engaged())
    base = log.latest_version()
    spark = get_spark(
        master=f"local[{os.environ.get('SPARK_GRAFT_CPUS', '8')}]",
        shuffle_partitions=16,
    )
    try:
        t0 = time.time()
        v = enable_row_tracking(path)
        out["backfill_s"] = round(time.time() - t0, 2)
        assert v == base + 1, v
        peak = round(hwm_mib(), 1)
        out["rss_peak_mib"] = peak
        out["rss_under_2gib"] = bool(peak < 2048)
        # the recorded high-water mark must cover exactly every row: the
        # synthetic table is n_files x 100k rows
        n_adds, hwm_rec = 0, None
        with open(os.path.join(log_dir, f"{base + 1:020d}.json")) as f:
            for line in f:
                a = json.loads(line)
                if "add" in a:
                    n_adds += 1
                elif "domainMetadata" in a:
                    dm = a["domainMetadata"]
                    if dm["domain"] == "delta.rowTracking":
                        hwm_rec = json.loads(dm["configuration"])[
                            "rowIdHighWaterMark"
                        ]
        out["backfill_adds"] = n_adds
        out["row_id_hwm"] = hwm_rec
        assert n_adds == n_files, n_adds
        assert hwm_rec == n_files * 100_000 - 1, hwm_rec
        assert out["light_engaged"], "light planning did not engage"
        assert peak < 2048, f"driver RSS {peak} MiB breaches the 2 GiB bar"
    finally:
        p = os.path.join(log_dir, f"{base + 1:020d}.json")
        if os.path.exists(p):
            os.remove(p)
        DeltaLog.clear_cache()
        spark.stop()
    print(json.dumps(out))
    return 0


def restore_main(root: str, n_files: int, out: dict) -> int:
    """Measure light-planned RESTORE against the prepared table: a file
    is dropped at version base+1, then RESTORE back to base must re-add
    exactly that file. Classic planning materialized BOTH snapshots
    driver-side (2 x 8.6 GiB at 10^7 adds); the light plan computes the
    diff executor-side and collects only it. Leaves the table unchanged
    (test commits + the dummy data file removed)."""
    from athena_delta_lake_spark import get_spark
    from athena_delta_lake_spark.delta.dml import restore_table
    from athena_delta_lake_spark.delta.log import DeltaLog, addfile_from_action
    from athena_delta_lake_spark.delta.writer import commit_rewrite

    path = os.path.join(root, "meta_scale_tbl")
    log_dir = os.path.join(path, "_delta_log")
    if not os.path.isdir(log_dir):
        print(
            json.dumps({"error": "run the normal mode first to build the "
                        "table + checkpoint"}),
        )
        return 1
    out["mode"] = "restore"
    os.environ.setdefault("ADLS_LIGHT_PLANNING_FILES", "1000000")
    out["rss_before_mib"] = round(rss_mib(), 1)
    log = DeltaLog(path)
    out["light_engaged"] = bool(log.light_planning_engaged())
    base = log.latest_version()
    victim = next(
        addfile_from_action(a["add"])
        for a in log.commit_actions(base)
        if "add" in a
    )
    # the re-add path must exist on disk (restore's vacuumed-file check)
    victim_abs = os.path.join(path, victim.path)
    os.makedirs(os.path.dirname(victim_abs), exist_ok=True)
    with open(victim_abs, "wb") as fh:
        fh.write(b"\x00")
    commit_rewrite(path, "DELETE", adds=[], removes=[victim])

    spark = get_spark(
        master=f"local[{os.environ.get('SPARK_GRAFT_CPUS', '8')}]",
        shuffle_partitions=16,
    )
    try:
        t0 = time.time()
        res = restore_table(path, version=base)
        out["restore_s"] = round(time.time() - t0, 2)
        out["files_added"] = res["files_added"]
        out["files_removed"] = res["files_removed"]
        assert res["files_added"] == 1 and res["files_removed"] == 0, res
        peak = round(hwm_mib(), 1)
        out["rss_peak_mib"] = peak
        out["rss_under_2gib"] = bool(peak < 2048)
        assert out["light_engaged"], "light planning did not engage"
        assert peak < 2048, f"driver RSS {peak} MiB breaches the 2 GiB bar"
    finally:
        # ALWAYS restore the prepared table — a failed assert must not
        # pollute the multi-hour 10^7 fixture with stray commits
        for v in (base + 1, base + 2):
            p = os.path.join(log_dir, f"{v:020d}.json")
            if os.path.exists(p):
                os.remove(p)
        if os.path.exists(victim_abs):
            os.remove(victim_abs)
        DeltaLog.clear_cache()
        spark.stop()
    print(json.dumps(out))
    return 0


def lifecycle_main(
    root: str, n_files: int, out: dict, check_classic: bool = False
) -> int:
    """Chain append -> MOR delete -> OPTIMIZE -> checkpoint -> CDF tail
    -> RESTORE -> VACUUM against the prepared table in ONE process
    (round-10 verdict #6). Every per-op light mode above runs one-shot in
    a fresh process, so driver state that ACCUMULATES across operations —
    the (path, version) snapshot cache, staged .tmp spool dirs, light
    frame lineage — is invisible to them; this mode is the end-to-end
    VmHWM bar (< 2 GiB at any file count). Reverts the table afterwards:
    commits > base, checkpoint files > base, _last_checkpoint bytes and
    every materialized data file are restored/removed.

    --check-classic re-runs the SAME chain with the light plane disabled
    (threshold 0) after reverting, and asserts an identical end-state
    digest (CDF rows, restore diff, vacuum count, optimize groups, final
    live path-set xor-digest) — run it at 10^5/10^6 where the classic
    snapshots are cheap."""
    import datetime
    import glob as _glob
    import hashlib as _hashlib

    from athena_delta_lake_spark import get_spark
    from athena_delta_lake_spark.delta import dml
    from athena_delta_lake_spark.delta.cdf import table_changes
    from athena_delta_lake_spark.delta.log import DeltaLog
    from athena_delta_lake_spark.delta.writer import (
        write_checkpoint,
        write_delta,
    )

    path = os.path.join(root, "meta_scale_tbl")
    log_dir = os.path.join(path, "_delta_log")
    if not os.path.isdir(log_dir):
        print(
            json.dumps({"error": "run the normal mode first to build the "
                        "table + checkpoint"}),
        )
        return 1
    out["mode"] = "lifecycle"
    os.environ.setdefault("ADLS_LIGHT_PLANNING_FILES", "1000000")
    out["rss_before_mib"] = round(rss_mib(), 1)
    log = DeltaLog(path)
    out["light_engaged"] = bool(log.light_planning_engaged())
    base = log.latest_version()
    last_cp_path = os.path.join(log_dir, "_last_checkpoint")
    with open(last_cp_path, "rb") as fh:
        last_cp_bytes = fh.read()
    pre_files = {
        p
        for p in _glob.glob(os.path.join(path, "**", "*"), recursive=True)
        if os.path.isfile(p) and not p.startswith(log_dir)
    }
    spark = get_spark(
        master=f"local[{os.environ.get('SPARK_GRAFT_CPUS', '8')}]",
        shuffle_partitions=16,
    )

    def _revert() -> None:
        """Commits/checkpoints past base, _last_checkpoint bytes, and
        every data file a chain materialized."""
        for p in _glob.glob(os.path.join(log_dir, "*")):
            name = os.path.basename(p)
            ver = name.split(".")[0]
            if ver.isdigit() and int(ver) > base:
                os.remove(p)
        with open(last_cp_path, "wb") as fh:
            fh.write(last_cp_bytes)
        for p in _glob.glob(os.path.join(path, "**", "*"), recursive=True):
            if (
                os.path.isfile(p)
                and not p.startswith(log_dir)
                and p not in pre_files
            ):
                os.remove(p)
        DeltaLog.clear_cache()

    def _live_digest() -> tuple:
        """End-state digest replayed from the raw commit JSONs past base
        — spec-level ground truth, only used on the --check-classic legs.
        Physical file NAMES carry fresh UUIDs per chain, so the digest
        uses chain-invariant features: live/dead counts, total live rows
        (from add stats), and an xor-digest of the DETERMINISTIC paths
        (the synthetic `part-NNNNNNN` fixture names the two chains
        touch identically — e.g. the restore-re-added candidate)."""
        import re as _re

        det = _re.compile(r"part-\d{7}\.parquet$")
        live: dict[str, int] = {}
        dead: set[str] = set()
        vmax = DeltaLog(path).latest_version()
        for v in range(base + 1, vmax + 1):
            with open(os.path.join(log_dir, f"{v:020d}.json")) as f:
                for line in f:
                    a = json.loads(line)
                    if "add" in a:
                        p = a["add"]["path"]
                        live[p] = json.loads(
                            a["add"].get("stats") or "{}"
                        ).get("numRecords", 0)
                        dead.discard(p)
                    elif "remove" in a:
                        dead.add(a["remove"]["path"])
                        live.pop(a["remove"]["path"], None)
        acc = 0
        for p in list(live) + [f"dead:{d}" for d in sorted(dead)]:
            if det.search(p):
                acc ^= int(_hashlib.md5(p.encode()).hexdigest(), 16)
        return (
            len(live),
            sum(live.values()),
            len(dead),
            f"{acc:032x}",
        )

    def _chain(expect_plane: str, rec: dict, steps: dict) -> dict:
        """Run the 7-op chain; fill rec/steps; return the equality
        digest. Asserts planning == expect_plane where surfaced."""

        def _timed(name, fn):
            t0 = time.time()
            r = fn()
            steps[name] = round(time.time() - t0, 2)
            rec[f"rss_after_{name}_mib"] = round(rss_mib(), 1)
            # VmHWM is monotone, so the step where it JUMPS is the
            # culprit — the per-op fresh-process modes can't see which
            # op in a chain pays, this can
            rec[f"hwm_after_{name}_mib"] = round(hwm_mib(), 1)
            return r

        # 1. blind append of a real small file in a fresh partition
        new_day = datetime.date(2026, 6, 1)
        _timed(
            "append",
            lambda: write_delta(
                spark.createDataFrame(
                    [(10**13 + i, float(i), new_day) for i in range(100)],
                    "id long, v double, day date",
                ),
                path,
                mode="append",
            ),
        )
        # 2. MOR delete pruned by stats to ONE materialized candidate
        i = n_files // 3
        rel, lo, hi = _materialize_candidate_file(path, i)
        res_del = _timed(
            "delete_mor",
            lambda: dml.delete_mor(
                spark, path, f"id >= {lo + 10} AND id <= {lo + 19}"
            ),
        )
        # delete_mor does not surface a planning key (_plan_candidates
        # routes internally); the end-to-end VmHWM bar is the proof — a
        # classic plan pays 8.6 GiB at 10^7 and would breach it
        assert res_del.get("rows_deleted") == 10, res_del
        assert res_del.get("dv_files_written") == 1, res_del
        # 3. unscoped OPTIMIZE: only the real small files are candidates
        # (every synthetic add sits exactly at the 128 MiB target)
        res_opt = _timed(
            "optimize",
            lambda: dml.compact(
                spark, path, target_file_size=128 * 1024 * 1024
            ),
        )
        rec["optimize_planning"] = res_opt.get("planning")
        assert res_opt.get("planning") == expect_plane, res_opt
        # 4. checkpoint at the current version (distributed add stream)
        _timed("checkpoint", lambda: write_checkpoint(path))
        # 5. CDF tail over the lifecycle's own commits
        n_changes = _timed(
            "cdf_tail",
            lambda: table_changes(
                spark, path, base + 1, DeltaLog(path).latest_version()
            ).count(),
        )
        rec["cdf_change_rows"] = n_changes
        # 100 inserts + 10 deletes (OPTIMIZE is dataChange=false)
        assert n_changes == 110, n_changes
        # 6. RESTORE to base rewinds the whole chain — the target sits
        # BELOW the checkpoint step 4 just wrote (the round-11 residue)
        res_rest = _timed(
            "restore", lambda: dml.restore_table(path, version=base)
        )
        rec["restore_files"] = (
            res_rest["files_added"],
            res_rest["files_removed"],
        )
        # 7. VACUUM reaps the now-unreferenced lifecycle files
        res_vac = _timed(
            "vacuum",
            lambda: dml.vacuum(
                path, retention_hours=0, dry_run=False, spark=spark
            ),
        )
        rec["vacuum_planning"] = res_vac.get("planning")
        rec["vacuum_files_deleted"] = res_vac.get("files_count")
        assert res_vac.get("planning") == expect_plane, res_vac
        assert res_vac.get("deleted") is True, res_vac
        # the lifecycle's unreferenced leftovers (compaction outputs, DV
        # blob) were real files — vacuum must have found work
        assert res_vac.get("files_count", 0) >= 1, res_vac
        digest = {
            "cdf_change_rows": n_changes,
            "restore_files": rec["restore_files"],
            "vacuum_files": res_vac.get("files_count"),
            "optimize_groups": res_opt.get("groups"),
            "delete_rows": res_del.get("rows_deleted"),
        }
        if check_classic:
            digest["live"] = _live_digest()
        return digest

    steps: dict[str, float] = {}
    try:
        digest_light = _chain("light", out, steps)
        out["steps_s"] = steps
        peak = round(hwm_mib(), 1)
        out["rss_peak_mib"] = peak
        out["rss_under_2gib"] = bool(peak < 2048)
        assert out["light_engaged"], "light planning did not engage"
        assert peak < 2048, f"driver RSS {peak} MiB breaches the 2 GiB bar"

        if check_classic:
            _revert()
            prev = os.environ.get("ADLS_LIGHT_PLANNING_FILES")
            os.environ["ADLS_LIGHT_PLANNING_FILES"] = "0"
            DeltaLog.clear_cache()
            try:
                c_rec: dict = {}
                c_steps: dict = {}
                t0 = time.time()
                digest_classic = _chain("classic", c_rec, c_steps)
                out["classic_chain_s"] = round(time.time() - t0, 2)
                out["classic_steps_s"] = c_steps
                assert digest_classic == digest_light, (
                    digest_classic,
                    digest_light,
                )
                out["classic_equality"] = "identical"
                out["rss_after_classic_mib"] = round(rss_mib(), 1)
            finally:
                os.environ["ADLS_LIGHT_PLANNING_FILES"] = prev or "1000000"
    except BaseException:
        # print what we measured before dying — the per-step trace is the
        # diagnosis when the end-to-end bar fails
        out["steps_s"] = steps
        out["rss_peak_mib"] = round(hwm_mib(), 1)
        print(json.dumps(out))
        raise
    finally:
        # ALWAYS revert, even on a failed assert — a failure must not
        # pollute the multi-hour 10^7 fixture
        _revert()
        spark.stop()
    print(json.dumps(out))
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
