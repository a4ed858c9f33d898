"""commit_rewrite's OCC conflict check replays only the INTERLEAVED
commits (writer._rewrite_commute_conflict), never the full classic
snapshot — the last O(table)-driver-memory path in the commit plane
(PERF_TRIAGE_r9's known residue). These tests poison DeltaLog.snapshot
during the commit to PROVE the classic replay never runs, and pin the
incremental check to the exact semantics the classic comparison had:

- untouched remove set        -> commutes
- interleaved remove of ours  -> ConcurrentWriteError
- re-add with changed bytes/DV-> ConcurrentWriteError (write-write)
- re-add with IDENTICAL
  fingerprint                 -> commutes (classic parity: still live,
                                 fingerprint matches)
- interleaved commit JSON
  cleaned away                -> classic-snapshot fallback, same answer
- serializable read-set check
  past the light threshold    -> probed executor-side on the base
                                 LightSnapshot, no classic base replay
"""

import os

import pytest

from athena_delta_lake_spark import DeltaTable, write_delta
from athena_delta_lake_spark.delta.log import DeltaLog
from athena_delta_lake_spark.delta.writer import (
    ConcurrentWriteError,
    commit_rewrite,
    write_checkpoint,
)


def _mk(spark, path: str, monkeypatch=None) -> None:
    """Two files via two appends: f0 holds id 0..9, f1 holds id 10..19.
    With `monkeypatch`, also engage light planning (checkpoint +
    threshold=1) so the snapshot-poisoned tests run in the 10^7-file
    regime the incremental check exists for — commit_rewrite's header
    lookup goes header-only and the ONLY classic replay left would be
    the conflict check itself."""
    write_delta(
        spark.createDataFrame([(i, float(i)) for i in range(10)], "id long, v double"),
        path,
    )
    write_delta(
        spark.createDataFrame(
            [(i, float(i)) for i in range(10, 20)], "id long, v double"
        ),
        path,
        mode="append",
    )
    if monkeypatch is not None:
        monkeypatch.setenv("ADLS_LIGHT_PLANNING_FILES", "1")
        write_checkpoint(path)
        DeltaLog.clear_cache()
        assert DeltaLog(path).light_planning_engaged(None)


def _poison_snapshot(monkeypatch):
    def boom(self, version=None):
        raise AssertionError(
            "classic snapshot replayed during the incremental conflict check"
        )

    monkeypatch.setattr(DeltaLog, "snapshot", boom)


def _planned_remove(path: str):
    snap = DeltaLog(path).snapshot()
    f = sorted(snap.files, key=lambda x: x.path)[0]
    return snap.version, f


def _raw_add(path: str, file_path: str) -> dict:
    """The file's own add action verbatim from the log (for an
    identical-fingerprint re-add)."""
    log = DeltaLog(path)
    for v in range(log.snapshot().version + 1):
        for a in log.commit_actions(v):
            add = a.get("add")
            if add is not None and add["path"] == file_path:
                return {"add": add}
    raise AssertionError(f"no add action for {file_path}")


def test_untouched_interleave_commutes_without_classic_replay(
    spark, tmp_path, monkeypatch
):
    path = str(tmp_path / "t")
    _mk(spark, path, monkeypatch)
    base, f = _planned_remove(path)
    # interleaved commit that does NOT touch the planned file
    write_delta(
        spark.createDataFrame([(99, 9.9)], "id long, v double"),
        path,
        mode="append",
    )
    _poison_snapshot(monkeypatch)
    v = commit_rewrite(
        path,
        "DELETE",
        adds=[],
        removes=[f],
        base_version=base,
    )
    monkeypatch.undo()
    assert v == base + 2
    live = {x.path for x in DeltaLog(path).snapshot().files}
    assert f.path not in live


def test_interleaved_remove_conflicts_without_classic_replay(
    spark, tmp_path, monkeypatch
):
    path = str(tmp_path / "t")
    _mk(spark, path, monkeypatch)
    base, f = _planned_remove(path)
    # the winner removes the same file first
    commit_rewrite(
        path,
        "DELETE",
        adds=[],
        removes=[f],
        base_version=base,
    )
    _poison_snapshot(monkeypatch)
    with pytest.raises(ConcurrentWriteError, match="same files"):
        commit_rewrite(
            path,
            "DELETE",
            adds=[],
            removes=[f],
            base_version=base,
        )


def test_readd_with_changed_fingerprint_conflicts(spark, tmp_path, monkeypatch):
    """A concurrent MOR-style remove+re-add of the same path (e.g. a grown
    deletion vector) changes the fingerprint: write-write conflict."""
    path = str(tmp_path / "t")
    _mk(spark, path, monkeypatch)
    base, f = _planned_remove(path)
    mutated = _raw_add(path, f.path)
    mutated = {"add": {**mutated["add"], "size": mutated["add"]["size"] + 1}}
    commit_rewrite(
        path,
        "DELETE",
        adds=[mutated],
        removes=[f],
        base_version=base,
    )
    _poison_snapshot(monkeypatch)
    with pytest.raises(ConcurrentWriteError, match="same files"):
        commit_rewrite(
            path,
            "DELETE",
            adds=[],
            removes=[f],
            base_version=base,
        )


def test_identical_readd_commutes(spark, tmp_path, monkeypatch):
    """Classic parity: a re-add with an IDENTICAL fingerprint leaves the
    file live and unchanged, so the planned rewrite still commutes."""
    path = str(tmp_path / "t")
    _mk(spark, path, monkeypatch)
    base, f = _planned_remove(path)
    verbatim = _raw_add(path, f.path)
    commit_rewrite(
        path,
        "RESTORE",
        adds=[verbatim],
        removes=[f],
        base_version=base,
    )
    _poison_snapshot(monkeypatch)
    v = commit_rewrite(
        path,
        "DELETE",
        adds=[],
        removes=[f],
        base_version=base,
    )
    monkeypatch.undo()
    assert v == base + 2
    assert f.path not in {x.path for x in DeltaLog(path).snapshot().files}


def test_cleaned_interleave_falls_back_to_classic(spark, tmp_path):
    """Metadata cleanup can delete interleaved commit JSONs out from under
    the incremental scan; the check must fall back to the classic snapshot
    comparison (replay from the checkpoint) and reach the same answer."""
    path = str(tmp_path / "t")
    _mk(spark, path)
    base, f = _planned_remove(path)
    write_delta(
        spark.createDataFrame([(99, 9.9)], "id long, v double"),
        path,
        mode="append",
    )
    write_checkpoint(path)
    # simulate log cleanup: the interleaved JSONs are gone, only the
    # checkpoint remains
    log_dir = os.path.join(path, "_delta_log")
    for v in range(base + 2):
        os.remove(os.path.join(log_dir, f"{v:020d}.json"))
    DeltaLog.clear_cache()
    v = commit_rewrite(
        path,
        "DELETE",
        adds=[],
        removes=[f],
        base_version=base,
    )
    assert v == base + 2
    assert f.path not in {x.path for x in DeltaLog(path).snapshot().files}


def test_serializable_readset_probe_is_light_past_threshold(
    spark, tmp_path, monkeypatch
):
    """Under serializable isolation, the concurrent-REMOVE read-set check
    used to replay the BASE snapshot classically; past the light-planning
    threshold it must probe the base LightSnapshot executor-side instead.
    Both outcomes pinned: an overlapping removed file conflicts, a
    non-overlapping one commutes — with DeltaLog.snapshot poisoned."""
    import json

    monkeypatch.setenv("ADLS_LIGHT_PLANNING_FILES", "2")
    path = str(tmp_path / "t")
    # three files: id 0..9 / 10..19 / 20..29
    for lo in (0, 10, 20):
        write_delta(
            spark.createDataFrame(
                [(i, float(i)) for i in range(lo, lo + 10)], "id long, v double"
            ).coalesce(1),
            path,
            mode="append" if lo else "overwrite",
        )
    write_checkpoint(path)
    DeltaLog.clear_cache()
    assert DeltaLog(path).light_planning_engaged(None)
    snap = DeltaLog(path).snapshot()
    base = snap.version

    def _file_with_min(lo):
        for f in snap.files:
            st = json.loads(f.stats_raw) if isinstance(f.stats_raw, str) else f.stats_raw
            if st and st.get("minValues", {}).get("id") == lo:
                return f
        raise AssertionError(f"no file with min id {lo}")

    target = _file_with_min(20)  # the file our rewrite removes
    # interleaved REMOVE-only commit (partition fast-path DELETE shape):
    # drops the whole id 0..9 file without adding anything
    commit_rewrite(
        path,
        "DELETE",
        adds=[],
        removes=[_file_with_min(0)],
        base_version=base,
    )
    DeltaLog.clear_cache()

    _poison_snapshot(monkeypatch)
    # read predicate overlaps the removed file's range -> write skew
    with pytest.raises(ConcurrentWriteError, match="read predicate"):
        commit_rewrite(
            path,
            "DELETE",
            adds=[],
            removes=[target],
            base_version=base,
            isolation="serializable",
            read_predicates=[("id", "<", 5)],
        )
    # read predicate misses the removed file entirely -> commutes
    v = commit_rewrite(
        path,
        "DELETE",
        adds=[],
        removes=[target],
        base_version=base,
        isolation="serializable",
        read_predicates=[("id", ">=", 25)],
    )
    monkeypatch.undo()
    assert v >= base + 2


def test_serializable_cleaned_interleave_refuses(spark, tmp_path):
    """Under serializable isolation the read-set walk NEEDS the
    interleaved commit actions; when log cleanup removed them the commit
    must refuse with ConcurrentWriteError (re-plan and retry), not crash
    with FileNotFoundError."""
    path = str(tmp_path / "t")
    _mk(spark, path)
    base, f = _planned_remove(path)
    write_delta(
        spark.createDataFrame([(99, 9.9)], "id long, v double"),
        path,
        mode="append",
    )
    write_checkpoint(path)
    log_dir = os.path.join(path, "_delta_log")
    for v in range(base + 2):
        os.remove(os.path.join(log_dir, f"{v:020d}.json"))
    DeltaLog.clear_cache()
    with pytest.raises(ConcurrentWriteError, match="log cleanup"):
        commit_rewrite(
            path,
            "DELETE",
            adds=[],
            removes=[f],
            base_version=base,
            isolation="serializable",
            read_predicates=[("id", "<", 5)],
        )
