"""Delta Lake write path: Parquet data files + JSON log commits + checkpoints.

The reference is read-only (delta-standalone 0.2.0; SURVEY §2.C "no writes,
no transactions"). The rebuild adds the write path, which also powers the
streaming `foreachBatch` Delta-append sink and the test fixtures:

- data files written by Spark's parquet writer (vectorized, partitioned
  `k=v` layout) into a staging dir, then moved into the table root;
- per-file stats (numRecords/minValues/maxValues/nullCount) computed from
  Parquet footer metadata — so the data-skipping reader (stats.py) has real
  stats to prune on;
- a JSON commit appended at the next version (`add` actions; `remove`
  actions for overwrite), `metaData`/`protocol` on first commit or schema
  change;
- optional Parquet checkpoint + `_last_checkpoint` (checkpoint()).

Commit semantics: an atomic put-if-absent create of the next version file
— O_EXCL locally; write-to-temp + FileContext.rename(Options.Rename.NONE)
through the Hadoop connectors (FileSystem.rename is NOT safe here: on
RawLocalFileSystem it is POSIX rename(2) and silently replaces); a
registered conditional-PUT hook on object stores (fs.register_put_if_absent;
the built-in S3 If-None-Match hook is OPT-IN — registered only when
ADLS_S3_CONDITIONAL_PUT=1 and boto3 is importable, never automatically,
because boto3's endpoint/credential chain need not match the fs.s3a.*
configuration the Spark connectors use). That is exactly
Delta's optimistic-concurrency primitive: concurrent writers race on the
version file; the loser gets FileExistsError and retries with a fresh
snapshot. Capability matrix + non-atomic-rename warn/refuse policy: fs.py
module docstring.

Every filesystem touch goes through the fs.py facade, so the whole write
path — commits, staged-file promotion, checkpoints, clones, VACUUM — works
against any scheme the Spark runtime has a connector for (hdfs://,
abfss://, s3a://, ...), matching the reference's object-store habitat.
Local paths keep the plain-os fast path via LocalFS.
"""

from __future__ import annotations

import json
import os
import shutil
import time
import uuid
from dataclasses import replace
from typing import Iterable

from pyspark.sql import DataFrame
from pyspark.sql import types as T

from .fs import get_fs, is_uri, normalize_table_path, strip_file_scheme
from .log import (
    AddFile,
    DeltaLog,
    add_action,
    addfile_from_files_row,
    remap_addfile,
    remove_action,
)
from .types import logical_to_physical, struct_to_schema_string

_STATS_SAFE_TYPES = (
    T.StringType,
    T.IntegerType,
    T.LongType,
    T.ShortType,
    T.ByteType,
    T.DoubleType,
    T.FloatType,
    T.DateType,
    T.TimestampType,
    T.BooleanType,
)


def _json_safe(v):
    import datetime
    import decimal

    if isinstance(v, bytes):
        return None
    if isinstance(v, datetime.datetime):
        return v.isoformat(sep=" ", timespec="microseconds")
    if isinstance(v, datetime.date):
        return v.isoformat()
    if isinstance(v, decimal.Decimal):
        return str(v)
    if isinstance(v, float) and (v != v or v in (float("inf"), float("-inf"))):
        return None
    return v


def _data_skipping_cols(
    data_schema: T.StructType, config: dict | None
) -> set[str] | None:
    """Columns whose per-file stats go in the log — Delta's
    `delta.dataSkippingStatsColumns` (explicit list) else
    `delta.dataSkippingNumIndexedCols` (first N schema columns, default
    32, -1 = all). None = no restriction. The point at scale: a 500-column
    table at 10^6 files writes ~1.5 GB of stats JSON per indexed column
    family; capping to the columns queries actually filter on keeps log
    replay and checkpoint size bounded."""
    cfg = config or {}
    explicit = cfg.get("delta.dataSkippingStatsColumns")
    if explicit:
        return {c.strip(" `") for c in str(explicit).split(",") if c.strip()}
    try:
        n = int(cfg.get("delta.dataSkippingNumIndexedCols", 32))
    except (TypeError, ValueError):
        n = 32
    if n < 0 or n >= len(data_schema.fields):
        return None
    return {f.name for f in data_schema.fields[:n]}


def _file_stats(
    local_path: str,
    data_schema: T.StructType,
    allowed: set[str] | None = None,
) -> dict:
    """Aggregate Parquet row-group footer stats into Delta stats JSON.
    `allowed` (from _data_skipping_cols) restricts which columns get
    min/max/nullCount; numRecords is always recorded."""
    import pyarrow.parquet as pq

    stats_cols = {f.name for f in data_schema.fields if isinstance(f.dataType, _STATS_SAFE_TYPES)}
    if allowed is not None:
        stats_cols &= allowed
    md = pq.ParquetFile(local_path).metadata
    mins: dict = {}
    maxs: dict = {}
    nulls: dict = {}
    for rg in range(md.num_row_groups):
        group = md.row_group(rg)
        for ci in range(group.num_columns):
            col = group.column(ci)
            name = col.path_in_schema
            if name not in stats_cols or col.statistics is None:
                continue
            st = col.statistics
            if st.has_null_count:
                nulls[name] = nulls.get(name, 0) + st.null_count
            if st.has_min_max:
                mn, mx = _json_safe(st.min), _json_safe(st.max)
                if mn is not None and (name not in mins or mn < mins[name]):
                    mins[name] = mn
                if mx is not None and (name not in maxs or mx > maxs[name]):
                    maxs[name] = mx
    return {
        "numRecords": md.num_rows,
        "minValues": mins,
        "maxValues": maxs,
        "nullCount": nulls,
    }


def _partition_values_from_relpath(relpath: str, partition_columns: list[str]) -> dict:
    segs = dict(seg.split("=", 1) for seg in relpath.split("/")[:-1] if "=" in seg)
    from urllib.parse import unquote

    out = {}
    for c in partition_columns:
        raw = segs.get(c)
        out[c] = None if raw is None or raw == "__HIVE_DEFAULT_PARTITION__" else unquote(raw)
    return out


def _next_version(table_path: str) -> int:
    try:
        return DeltaLog(table_path).latest_version() + 1
    except (FileNotFoundError, ValueError):
        return 0


def _ict_enabled(config: dict | None) -> bool:
    return (config or {}).get(
        "delta.enableInCommitTimestamps", ""
    ).lower() == "true"


def _stamp_ict(
    actions: list[dict], log_dir: str, version: int, config: dict | None
) -> None:
    """In-commit timestamps (writer feature `inCommitTimestamp`): when the
    table configuration enables them, the FIRST action's commitInfo carries
    `inCommitTimestamp`, strictly monotonic across versions (max(now,
    prev+1)) — the commit's authoritative timestamp, immune to file-mtime
    drift from log copies/restores. Readers resolve timestamp time travel
    from it (log.py:commit_timestamp)."""
    if not _ict_enabled(config):
        return
    if not actions or "commitInfo" not in actions[0]:
        return
    now = int(time.time() * 1000)
    if version > 0:
        fs = get_fs(log_dir)
        prev_path = os.path.join(log_dir, f"{version - 1:020d}.json")
        try:
            for line in fs.read_text(prev_path).splitlines():
                if not line.strip():
                    continue
                a = json.loads(line)
                ci = a.get("commitInfo")
                if ci and "inCommitTimestamp" in ci:
                    now = max(now, int(ci["inCommitTimestamp"]) + 1)
                break
        except FileNotFoundError:
            # checkpoint-cleaned predecessor: the wall clock alone could
            # step BACKWARDS past earlier ICTs — clamp against the last
            # ICT the checkpoint recorded and the enablement timestamp.
            floor = 0
            try:
                floor = int(
                    json.loads(
                        fs.read_text(os.path.join(log_dir, "_last_checkpoint"))
                    ).get("lastInCommitTimestamp", 0)
                )
            except (FileNotFoundError, ValueError, json.JSONDecodeError):
                pass
            enab = (config or {}).get("delta.inCommitTimestampEnablementTimestamp")
            if enab is not None:
                floor = max(floor, int(enab))
            now = max(now, floor + 1)
    actions[0]["commitInfo"]["inCommitTimestamp"] = now


_IDENTITY_START = "delta.identity.start"
_IDENTITY_STEP = "delta.identity.step"
_IDENTITY_HW = "delta.identity.highWaterMark"


def _identity_fields(schema: T.StructType) -> dict[str, dict]:
    return {
        f.name: dict(f.metadata)
        for f in schema.fields
        if f.metadata and _IDENTITY_START in f.metadata
    }


def _assign_identity(df: DataFrame, name: str, base: int, step: int):
    """Assign GENERATED ALWAYS AS IDENTITY values distributedly: per-Spark-
    partition counts become cumulative offsets (a tiny driver map — one int
    per task), and each row's id = base + step * (offset + local rank). No
    global window, no single-partition funnel; ids are unique and
    monotonically increasing in (partition, row) order, with gaps allowed
    across retries — exactly Delta's identity contract.

    Returns (df_with_column, new_high_water_mark)."""
    from pyspark.sql import Window as W
    from pyspark.sql import functions as F

    d = df.localCheckpoint(eager=True)  # pin partitioning between count & write
    d = d.withColumn("_pid", F.spark_partition_id()).withColumn(
        "_mid", F.monotonically_increasing_id()
    )
    counts = {
        r["_pid"]: r["cnt"]
        for r in d.groupBy("_pid").agg(F.count("*").alias("cnt")).collect()
    }
    total = sum(counts.values())
    offsets, acc = {}, 0
    for pid in sorted(counts):
        offsets[pid] = acc
        acc += counts[pid]
    spark = df.sparkSession
    off_df = F.broadcast(
        spark.createDataFrame(
            [(p, o) for p, o in sorted(offsets.items())] or [(0, 0)],
            "_pid int, _off long",
        )
    )
    w = W.partitionBy("_pid").orderBy("_mid")
    out = (
        d.join(off_df, "_pid", "left")
        .withColumn(
            name,
            F.lit(base).cast("long")
            + F.lit(step).cast("long")
            * (F.coalesce(F.col("_off"), F.lit(0)) + F.row_number().over(w)),
        )
        .drop("_pid", "_mid", "_off")
    )
    return out, base + step * total


def _with_identity_metadata(
    schema: T.StructType, params: dict[str, dict]
) -> T.StructType:
    """Return `schema` with identity field metadata substituted/attached."""
    fields = []
    for f in schema.fields:
        if f.name in params:
            fields.append(
                T.StructField(f.name, T.LongType(), False, params[f.name])
            )
        else:
            fields.append(f)
    return T.StructType(fields)


def _maybe_auto_checkpoint(table_path: str, version: int, config: dict | None) -> None:
    """Honor delta.checkpointInterval: write a checkpoint every N commits.
    Best-effort (a checkpoint failure must not fail the committed write —
    replay just keeps reading more JSON commits)."""
    raw = (config or {}).get("delta.checkpointInterval")
    if not raw:
        return
    try:
        interval = int(raw)
    except ValueError:
        return
    if interval <= 0 or version == 0 or version % interval:
        return
    try:
        write_checkpoint(table_path)
    except Exception:
        pass


def _check_append_only(config: dict | None, operation: str) -> None:
    """delta.appendOnly=true forbids any commit that removes live data
    (DELETE/UPDATE/MERGE/overwrite); compaction (dataChange=false) and
    blind appends stay legal."""
    if (config or {}).get("delta.appendOnly", "").lower() == "true":
        raise ValueError(
            f"table is append-only (delta.appendOnly=true): {operation} "
            "would remove or rewrite existing rows"
        )


def _atomic_commit(log_dir: str, version: int, actions: Iterable[dict]) -> None:
    if version > 0:
        # spec Writer Requirements: NO commit may land on a table whose
        # CURRENT protocol demands writer features this engine lacks —
        # every mutator funnels through here, so the gate holds for DDL
        # and maintenance commits too, not just data writes
        table_path = os.path.dirname(log_dir.rstrip("/"))
        try:
            # latest_protocol (not snapshot) on purpose: snapshot() raises
            # ValueError precisely when the protocol is reader-unsupported,
            # and swallowing that would let a blind commit land on a table
            # demanding features this engine lacks.
            proto = DeltaLog(table_path).latest_protocol()
        except FileNotFoundError:
            proto = None  # brand-new table: no protocol to honor yet
        _check_write_protocol(proto, table_path)
    fs = get_fs(log_dir)
    fs.mkdirs(log_dir)
    path = os.path.join(log_dir, f"{version:020d}.json")
    # put-if-absent: the Delta optimistic-concurrency commit primitive
    # (O_EXCL locally; FileSystem.create(path, false) via Hadoop).
    data = "".join(
        json.dumps(a, separators=(",", ":")) + "\n" for a in actions
    )
    fs.create_atomic(path, data.encode("utf-8"))


def _schema_type_features(st: T.StructType) -> set[str]:
    """Delta table features implied by the TYPES in a schema (each is
    reader+writer per spec): `variantType` for VARIANT columns,
    `timestampNtz` for TIMESTAMP_NTZ — found at any nesting depth."""
    feats: set[str] = set()

    def walk(dt: T.DataType) -> None:
        if isinstance(dt, T.VariantType):
            feats.add("variantType")
        elif isinstance(dt, T.TimestampNTZType):
            feats.add("timestampNtz")
        elif isinstance(dt, T.StructType):
            for f in dt.fields:
                walk(f.dataType)
        elif isinstance(dt, T.ArrayType):
            walk(dt.elementType)
        elif isinstance(dt, T.MapType):
            walk(dt.keyType)
            walk(dt.valueType)

    walk(st)
    return feats


def stage_data_files(
    df: DataFrame,
    table_path: str,
    partition_by: list[str],
    data_schema: T.StructType,
    collect_stats: bool = True,
    l2p: dict[str, str] | None = None,
    config: dict | None = None,
    full_schema: T.StructType | None = None,
) -> list[dict]:
    """Write `df` as new parquet data files under `table_path` (hive layout
    when partitioned) and return the corresponding `add` actions — NOT yet
    committed. Shared by append/overwrite (write_delta) and the DML
    rewriters (dml.py).

    `l2p` (from logical_to_physical) activates the column-mapping write
    convention: data files, hive partition dirs, `partitionValues` keys and
    stats keys all use PHYSICAL column names (the log replayer normalizes
    them back to logical at read time, log.py).

    `config` (table configuration) bounds which columns get stats
    (delta.dataSkippingStatsColumns / NumIndexedCols — see
    _data_skipping_cols)."""
    # resolve the stats-column cap against LOGICAL names and the FULL
    # table schema (Delta's NumIndexedCols counts partition columns in
    # schema order too), then map to physical (the user configures
    # logical names; stats keys are physical)
    allowed = _data_skipping_cols(full_schema or data_schema, config)
    if allowed is not None and l2p:
        allowed = {l2p.get(c, c) for c in allowed}
    if l2p:
        df = df.toDF(*[l2p.get(c, c) for c in df.columns])
        partition_by = [l2p.get(c, c) for c in partition_by]
        data_schema = T.StructType(
            [
                T.StructField(
                    l2p.get(f.name, f.name), f.dataType, f.nullable, f.metadata
                )
                for f in data_schema.fields
            ]
        )
    fs = get_fs(table_path, df.sparkSession)
    staging = os.path.join(
        os.path.dirname(table_path), f".staging-{uuid.uuid4().hex}"
    )
    writer = df.write.mode("overwrite")
    if partition_by:
        writer = writer.partitionBy(*partition_by)
    writer.parquet(staging)

    # Per-file stats: local tables read parquet FOOTERS via pyarrow (no
    # data scan). Two cases read them through ONE Spark job over the
    # staging dir instead — numRecords + min/max/nullCount per file via a
    # _metadata.file_path groupBy: (a) VARIANT columns, whose parquet
    # logical type this container's pyarrow (16.x) cannot even open the
    # footer of, and (b) URI tables (hdfs://, s3a://, ...), whose footers
    # live where only the executors' connectors can read. Basenames are
    # unique across hive subdirs.
    spark_stats: dict[str, dict] | None = None
    if collect_stats and (
        is_uri(table_path)
        or "variantType" in _schema_type_features(data_schema)
    ):
        spark_stats = _spark_staging_stats(
            df.sparkSession, staging, data_schema, partition_by, allowed
        )

    now = int(time.time() * 1000)
    adds = []
    from urllib.parse import quote

    for rel_src, size, _mt in fs.walk_files(staging):
        name = rel_src.split("/")[-1]
        if not name.endswith(".parquet"):
            continue
        rel_dir = "/".join(rel_src.split("/")[:-1])
        fname = f"part-{uuid.uuid4().hex}.snappy.parquet"
        rel_path = f"{rel_dir}/{fname}" if rel_dir else fname
        src = os.path.join(staging, rel_src)
        dst = os.path.join(table_path, rel_path)
        fs.mkdirs(os.path.dirname(dst))
        if spark_stats is not None:
            stats = spark_stats.get(rel_src) or {
                "numRecords": 0,
                "minValues": {},
                "maxValues": {},
                "nullCount": {},
            }
        else:
            stats = (
                _file_stats(strip_file_scheme(src), data_schema, allowed)
                if collect_stats
                else None
            )
        fs.move(src, dst)
        # Delta spec: add.path is URL-encoded relative to the table root;
        # the replayer (log.py:_decode_path) unquotes it back to the
        # physical (possibly hive-escaped) file name.
        add = {
            "path": quote(rel_path, safe="/="),
            "partitionValues": _partition_values_from_relpath(
                rel_path, partition_by
            ),
            "size": size,
            "modificationTime": now,
            "dataChange": True,
        }
        if stats is not None:
            add["stats"] = json.dumps(stats, separators=(",", ":"))
        adds.append({"add": add})
    try:
        fs.delete(staging, recursive=True)
    except (OSError, FileNotFoundError):
        pass
    return adds


def _spark_staging_stats(
    spark,
    staging: str,
    data_schema: T.StructType,
    partition_by: list[str],
    allowed: set[str] | None,
) -> dict[str, dict]:
    """Per-file stats for every stats-safe non-partition column of the
    staged parquet files, computed executor-side in ONE grouped job —
    used where the driver can't read footers (URI tables) or pyarrow
    can't parse them (VARIANT logical type).

    Keys are paths RELATIVE to `staging`, never basenames: Spark's
    partitioned writer reuses one task's part-file basename across every
    `k=v` subdirectory it writes, so basename keys collide and silently
    attribute one partition's min/max to another file — which poisons
    pruning and turns later DML into wrong answers (caught by the round-7
    Hadoop-facade cycle test)."""
    from pyspark.sql import functions as F

    from .reader import _strip_scheme_py

    # the same scheme-strip is applied to the job's file_path values below
    # (Spark reports _metadata.file_path as file:/x — single slash)
    base = _strip_scheme_py(staging).rstrip("/")
    safe = [
        f.name
        for f in data_schema.fields
        if isinstance(f.dataType, _STATS_SAFE_TYPES)
        and f.name not in partition_by
        and (allowed is None or f.name in allowed)
    ]
    aggs = [F.count(F.lit(1)).alias("__n")]
    for c in safe:
        aggs += [
            F.min(c).alias(f"__min_{c}"),
            F.max(c).alias(f"__max_{c}"),
            F.sum(F.col(c).isNull().cast("long")).alias(f"__null_{c}"),
        ]
    out: dict[str, dict] = {}
    for r in (
        spark.read.parquet(staging)
        .groupBy(F.col("_metadata.file_path").alias("__f"))
        .agg(*aggs)
        .collect()
    ):
        p = _strip_scheme_py(r["__f"])
        rel_key = p[len(base) + 1 :] if p.startswith(base + "/") else p
        out[rel_key] = {
            "numRecords": int(r["__n"]),
            "minValues": {
                c: _json_safe(r[f"__min_{c}"])
                for c in safe
                if r[f"__min_{c}"] is not None
            },
            "maxValues": {
                c: _json_safe(r[f"__max_{c}"])
                for c in safe
                if r[f"__max_{c}"] is not None
            },
            "nullCount": {c: int(r[f"__null_{c}"]) for c in safe},
        }
    return out


#: reserved CDF column stored INSIDE change data files (spec: Change Data
#: Files). `_commit_version`/`_commit_timestamp` are generated at read time.
CDF_TYPE_COL = "_change_type"
#: directory under the table root holding change data files (spec name)
CDF_DIR = "_change_data"


def stage_cdc_files(
    df: DataFrame,
    table_path: str,
    partition_by: list[str],
    l2p: dict[str, str] | None = None,
) -> list[dict]:
    """Write `df` (data columns + `_change_type`) as Change Data Files
    under `<table>/_change_data/` and return the `cdc` actions — NOT yet
    committed. Spec: Add CDC File; emitted by DML on tables with
    `delta.enableChangeDataFeed=true` so readers get exact per-row changes
    with `update_preimage`/`update_postimage` labels instead of deriving
    whole-file delete+insert churn from add/remove reconciliation.

    Same physical conventions as stage_data_files: hive layout when
    partitioned, URL-encoded relative paths, PHYSICAL column names under
    column mapping — except `_change_type` itself, which the spec stores
    literally (it is metadata, never column-mapped), and stats, which cdc
    actions do not carry (`dataChange` is always false: these files never
    join the snapshot)."""
    if CDF_TYPE_COL not in df.columns:
        raise ValueError(f"stage_cdc_files requires a {CDF_TYPE_COL} column")
    if l2p:
        df = df.toDF(*[l2p.get(c, c) for c in df.columns])
        partition_by = [l2p.get(c, c) for c in partition_by]
    fs = get_fs(table_path, df.sparkSession)
    staging = os.path.join(
        os.path.dirname(table_path), f".staging-cdc-{uuid.uuid4().hex}"
    )
    writer = df.write.mode("overwrite")
    if partition_by:
        writer = writer.partitionBy(*partition_by)
    writer.parquet(staging)

    from urllib.parse import quote

    now = int(time.time() * 1000)
    cdcs = []
    for rel_src, size, _mt in fs.walk_files(staging):
        name = rel_src.split("/")[-1]
        if not name.endswith(".parquet"):
            continue
        rel_dir = "/".join(rel_src.split("/")[:-1])
        fname = f"cdc-{uuid.uuid4().hex}.snappy.parquet"
        rel_path = (
            f"{CDF_DIR}/{rel_dir}/{fname}" if rel_dir else f"{CDF_DIR}/{fname}"
        )
        src = os.path.join(staging, rel_src)
        dst = os.path.join(table_path, rel_path)
        fs.mkdirs(os.path.dirname(dst))
        fs.move(src, dst)
        cdcs.append(
            {
                "cdc": {
                    "path": quote(rel_path, safe="/="),
                    "partitionValues": _partition_values_from_relpath(
                        f"{rel_dir}/{fname}" if rel_dir else fname,
                        partition_by,
                    ),
                    "size": size,
                    "modificationTime": now,
                    "dataChange": False,
                }
            }
        )
    try:
        fs.delete(staging, recursive=True)
    except (OSError, FileNotFoundError):
        pass
    return cdcs


def _rewrite_commute_conflict(
    table_path: str,
    base_version: int,
    committed_version: int,
    removes: list,
    actions_by_version: dict | None = None,
) -> bool:
    """The commit_rewrite liveness/fingerprint conflict check evaluated
    INCREMENTALLY: file states change exclusively through add/remove
    actions, so folding only the interleaved commits
    (base_version, committed_version] on top of the removed files is
    exactly equivalent to comparing against a full current snapshot —
    O(interleaved commits), not O(table). The classic form replayed the
    whole snapshot (8.6 GiB / 187 s at 10^7 adds, tools/meta_scale.py)
    to inspect a handful of touched paths; this was the last
    O(table)-driver-memory path in the commit plane (PERF_TRIAGE_r9's
    known residue).

    Contract (all dml.py callers satisfy it by construction): `removes`
    are live AddFiles of the base_version snapshot, so a path no
    interleaved commit touches is still live with its base fingerprint.

    The interleaved commits go through log.fold_commit, the same fold
    replay uses (removes before adds within a commit). Conflict iff a
    removed file is no longer live after the fold (an interleaved
    remove of any kind, including dataChange=false OPTIMIZE moves), or
    is live with a different fingerprint (e.g. a concurrent
    merge-on-read DELETE re-adding it with a grown deletion vector). A
    re-add with an IDENTICAL fingerprint commutes, exactly as the
    classic comparison concluded.

    Raises FileNotFoundError when an interleaved commit JSON is gone
    (concurrent metadata cleanup) — the caller falls back to the classic
    snapshot comparison. `actions_by_version` injects pre-read commit
    actions so commit_rewrite reads each interleaved JSON ONCE for both
    this check and the serializable read-set walk."""
    from .log import DeltaLog, fold_commit

    if not removes:
        return False
    log = DeltaLog(table_path)
    live = {f.path: f for f in removes}
    for v in range(base_version + 1, committed_version + 1):
        fold_commit(
            live,
            actions_by_version[v]
            if actions_by_version is not None
            else log.commit_actions(v),
        )
    return any(
        (now := live.get(f.path)) is None
        or file_fingerprint(now) != file_fingerprint(f)
        for f in removes
    )


def _serializable_read_conflict(
    table_path: str,
    base_version: int,
    now_snap,
    read_predicates: list | None,
    actions_by_version: dict | None = None,
) -> bool:
    """True when any commit in (base_version, now] ADDED dataChange files
    that can match `read_predicates` — the Serializable read-set
    stability check (a concurrent append racing a MERGE's NOT-MATCHED
    scan is the canonical write-skew). Walks the interleaved commits'
    raw actions so dataChange=false rewrites (OPTIMIZE) never conflict;
    partitionValues/stats keys are remapped physical->logical under
    column mapping, mirroring log replay, before the same prune logic
    that planned the DML's read decides overlap. O(interleaved adds) —
    bounded by what landed during the race window."""
    from .log import DeltaLog, SnapshotState, fold_commit, remap_addfile
    from .stats import prune_files
    from .types import physical_to_logical

    log = DeltaLog(table_path)
    p2l = physical_to_logical(
        now_snap.schema, now_snap.metadata.get("configuration")
    )
    # fold the interleave's dataChange actions: `added` is what it left
    # live, `removed` what it took away (a MOR rewrite's remove+re-add of
    # one path folds to a re-add, not a read-set deletion)
    added: dict = {}
    removed: dict = {}
    for v in range(base_version + 1, now_snap.version + 1):
        acts = (
            actions_by_version[v]
            if actions_by_version is not None and v in actions_by_version
            else log.commit_actions(v)
        )
        fold_commit(
            added,
            [
                a
                for a in acts
                if (a.get("add") or a.get("remove") or {}).get(
                    "dataChange", True
                )
            ],
            removed,
        )
    new_adds = [remap_addfile(f, p2l) for f in added.values()]
    removed_paths = {p for p, _dv in removed} - set(added)
    if not new_adds and not removed_paths:
        return False
    if not read_predicates:
        # the DML read the whole table: any concurrent row change is skew
        return bool(new_adds or removed_paths)
    probe = SnapshotState(
        version=now_snap.version,
        metadata=now_snap.metadata,
        protocol=now_snap.protocol,
        schema=now_snap.schema,
        partition_columns=now_snap.partition_columns,
        files=new_adds,
        table_path=table_path,
    )
    if prune_files(probe, read_predicates):
        return True
    if removed_paths:
        # concurrent REMOVE-only commits (e.g. a partition fast-path
        # DELETE) delete rows out of the DML's read set without touching
        # its rewritten files — serializability requires refusing those
        # too (delta-spark's ConcurrentDeleteReadException analogue):
        # conflict iff a removed file could have matched the read
        # predicate in the BASE snapshot the DML planned against. Past
        # the light-planning threshold the base read set is probed
        # executor-side, restricted to the (interleave-bounded) removed
        # paths — no base-snapshot file list ever reaches the driver.
        light = log.light_plane(base_version)
        if light is not None:
            from pyspark.sql import SparkSession
            from pyspark.sql import functions as F

            hit = (
                light.prune_df(SparkSession.active(), read_predicates)
                .where(F.col("path").isin(sorted(removed_paths)))
                .head(1)
            )
            return bool(hit)
        base_snap = log.snapshot(base_version)
        read_set = {f.path for f in prune_files(base_snap, read_predicates)}
        return bool(removed_paths & read_set)
    return False


def cdf_enabled(config: dict | None) -> bool:
    """delta.enableChangeDataFeed=true on the table configuration."""
    return (
        str((config or {}).get("delta.enableChangeDataFeed", "")).lower()
        == "true"
    )


def commit_rewrite(
    table_path: str,
    operation: str,
    adds: list[dict],
    removes: list,
    data_change: bool = True,
    operation_parameters: dict | None = None,
    extra_actions: list[dict] | None = None,
    base_version: int | None = None,
    require_serial: bool = False,
    isolation: str = "write_serializable",
    read_predicates: list | None = None,
    ict_config: dict | None = None,
    operation_metrics: dict | None = None,
) -> int:
    """Commit a file-rewrite transaction: `remove` the replaced files and
    `add` their rewrites in ONE atomic version — the commit shape shared
    by DELETE/UPDATE/MERGE/OPTIMIZE/RESTORE (dml.py). `removes` are the
    live AddFiles the rewrite retires, as the planning snapshot listed
    them; each is encoded by log.remove_action, so a merge-on-read
    re-add's remove carries the deletion vector it retires. Untouched
    files are never referenced, so the commit is O(touched files).
    `extra_actions` (e.g. a reinstated metaData for RESTORE) are written
    right after commitInfo.

    `base_version` is the snapshot version the rewrite was PLANNED against.
    Whenever the version about to be committed is not base_version+1 —
    whether because a concurrent commit landed before our FIRST attempt
    (the version counter already moved; no FileExistsError would ever
    fire) or because we lost the race mid-loop — the conflict check below
    must run. Without the first-attempt check, a rewrite planned against a
    stale snapshot could silently resurrect rows a faster writer deleted
    (caught by the concurrent-writer fuzz: an OPTIMIZE re-adding rows a
    racing DELETE had just removed).

    The rewrite only commutes if every removed file is still live AND
    has the fingerprint the planning snapshot gave it — a same-path
    re-add by the winner (e.g. a concurrent merge-on-read DELETE growing
    the file's deletion vector) is a write-write conflict the plain
    liveness check would miss, silently dropping the winner's deletions.

    `isolation`: the default `write_serializable` admits commuting
    rewrites whose removed files are untouched (delta-spark's default).
    `serializable` ADDITIONALLY refuses when any interleaved commit
    ADDED dataChange files that can match `read_predicates` (the file-
    prune triples of the DML's read) — the write-skew delta-spark
    refuses under Serializable: a concurrent append slipping rows past a
    running MERGE's NOT-MATCHED scan. `read_predicates=None` under
    serializable means the DML read the WHOLE table: any concurrent
    dataChange add conflicts. dataChange=false adds (OPTIMIZE) never
    conflict — they move bytes, not rows."""
    if isolation not in ("write_serializable", "serializable"):
        # a typo silently downgrading a correctness switch would be the
        # worst failure mode — refuse unknown literals loudly
        raise ValueError(
            f"unknown isolation level {isolation!r}; use "
            "'write_serializable' (default) or 'serializable'"
        )
    now = int(time.time() * 1000)
    commit_info: dict = {
        "timestamp": now,
        "operation": operation,
        "operationParameters": operation_parameters or {},
        "engineInfo": "athena_delta_lake_spark",
    }
    if operation_metrics:
        # Delta convention: operationMetrics values are strings; None
        # values mean "not derivable for this commit" and are omitted
        commit_info["operationMetrics"] = {
            k: str(v) for k, v in operation_metrics.items() if v is not None
        }
    actions: list[dict] = [{"commitInfo": commit_info}]
    actions.extend(extra_actions or [])
    actions.extend(
        {"remove": remove_action(f, data_change, now)} for f in removes
    )
    version = _next_version(table_path)
    snap_now = DeltaLog(table_path).header()
    _check_write_protocol(snap_now.protocol, table_path)
    table_config = snap_now.metadata.get("configuration")
    row_tracking = _row_tracking_enabled(table_config)
    if row_tracking and adds:
        # fresh files need fresh id ranges even in a rewrite (surviving
        # rows' ids live in the MATERIALIZED columns the rewriter carried;
        # the base ids only serve rows appended without materialized ids)
        hwm = _row_id_hwm(snap_now.domain_metadata)
        _, rt_domain = _assign_row_ids(adds, hwm, version)
        actions.append(rt_domain)
    for a in adds:
        if not data_change:
            a = {"add": {**a["add"], "dataChange": False}}
        actions.append(a)
    log_dir = os.path.join(table_path, "_delta_log")
    if data_change and removes:
        _check_append_only(table_config, operation)
    for _attempt in range(_MAX_COMMIT_RETRIES + 1):
        if (
            (require_serial or (row_tracking and adds))
            and base_version is not None
            and version != base_version + 1
        ):
            # values were sized against the planning snapshot's high-water
            # mark (row-tracking id ranges / identity assignments) — any
            # interleaved commit may have moved it, so blind retry would
            # double-assign; the caller must re-plan
            raise ConcurrentWriteError(
                f"{operation} raced a concurrent commit on {table_path}; "
                "re-run against the new snapshot"
            ) from None
        if base_version is not None and version != base_version + 1:
            # commits landed since the rewrite was planned (seen either via
            # a moved version counter before the first attempt, or via a
            # lost race below): the rewrite is still valid iff every file
            # it removes is STILL live and byte/DV-identical (no
            # write-write conflict on the same files) — then it commutes.
            # Evaluated over only the interleaved commits (O(interleaved), never a
            # full snapshot replay); a concurrently-cleaned interleaved
            # commit JSON falls back to the classic comparison. A commit
            # landing between _next_version and this scan is covered by
            # the FileExistsError retry, which re-runs the check.
            # read the interleaved commits ONCE for both the commute check
            # and (under serializable) the read-set walk — and not at all
            # when neither needs them (an insert-only MERGE passes no
            # removes: its raced retry must not pay O(interleave)
            # commit reads for a check that is vacuously clean)
            needs_actions = bool(removes or isolation == "serializable")
            interleaved: dict | None = None
            if needs_actions:
                try:
                    log0 = DeltaLog(table_path)
                    interleaved = {
                        v: log0.commit_actions(v)
                        for v in range(base_version + 1, version)
                    }
                except FileNotFoundError:
                    # concurrent metadata cleanup removed an interleaved
                    # JSON
                    interleaved = None
            if not needs_actions:
                conflict = False
            elif interleaved is not None:
                conflict = _rewrite_commute_conflict(
                    table_path,
                    base_version,
                    version - 1,
                    removes,
                    actions_by_version=interleaved,
                )
            else:
                now_files = {
                    f.path: f for f in DeltaLog(table_path).snapshot().files
                }
                conflict = any(
                    (now := now_files.get(f.path)) is None
                    or file_fingerprint(now) != file_fingerprint(f)
                    for f in removes
                )
            if conflict:
                raise ConcurrentWriteError(
                    f"{operation} conflicts with a concurrent commit that "
                    "touched the same files; re-run against the new snapshot"
                ) from None
            if isolation == "serializable" and interleaved is None:
                # the read-set walk NEEDS the interleaved actions; with
                # them cleaned away, read-set stability cannot be proven —
                # refuse so the caller re-plans against the new snapshot
                # (after which there is no interleave to verify)
                raise ConcurrentWriteError(
                    f"{operation} (isolation=serializable) raced log "
                    "cleanup of the interleaved commits; re-run against "
                    "the new snapshot"
                ) from None
            if isolation == "serializable" and _serializable_read_conflict(
                table_path,
                base_version,
                DeltaLog(table_path).header(version - 1),
                read_predicates,
                actions_by_version=interleaved,
            ):
                raise ConcurrentWriteError(
                    f"{operation} (isolation=serializable) conflicts with a "
                    "concurrent commit that added rows matching its read "
                    "predicate; re-run against the new snapshot"
                ) from None
        try:
            # ict_config: a commit that REINSTATES an ICT-enabled
            # configuration (RESTORE) must itself carry the in-commit
            # timestamp its refreshed enablement markers promise
            _stamp_ict(
                actions,
                log_dir,
                version,
                table_config if ict_config is None else ict_config,
            )
            _atomic_commit(log_dir, version, actions)
            DeltaLog.clear_cache()
            _maybe_auto_checkpoint(table_path, version, table_config)
            return version
        except FileExistsError:
            DeltaLog.clear_cache()
            if row_tracking and adds:
                raise ConcurrentWriteError(
                    f"{operation} raced a concurrent commit on a "
                    "row-tracking table; re-run against the new snapshot"
                ) from None
            version = _next_version(table_path)
    raise ConcurrentWriteError(
        f"gave up after {_MAX_COMMIT_RETRIES} commit retries on {table_path}"
    )


_CONSTRAINT_PREFIX = "delta.constraints."


_GENERATION_KEY = "delta.generationExpression"


def _generation_expressions(schema: T.StructType) -> dict[str, str]:
    return {
        f.name: f.metadata[_GENERATION_KEY]
        for f in schema.fields
        if f.metadata and _GENERATION_KEY in f.metadata
    }


def _apply_generated_columns(
    df: DataFrame, table_schema: T.StructType
) -> DataFrame:
    """Generated columns (delta.generationExpression field metadata): absent
    columns are computed from their expression; provided ones are VERIFIED
    against it (the Delta spec requires writers to enforce, not trust).
    UPDATE recomputes generated columns whose base columns it touches
    (dml._generated_recompute); MERGE routes its staged rows back through
    this verification."""
    from pyspark.sql import functions as F

    gens = _generation_expressions(table_schema)
    for name, expr in gens.items():
        target = table_schema[name].dataType
        gen = F.expr(expr).cast(target)
        if name not in df.columns:
            df = df.withColumn(name, gen)
        else:
            bad = df.filter(~F.col(name).eqNullSafe(gen)).count()
            if bad:
                raise ValueError(
                    f"generated column '{name}' has {bad} row(s) not "
                    f"matching its expression {expr!r}"
                )
    return df


def _invariant_exprs(metadata: dict | None) -> dict[str, str]:
    """Column invariants from schema field metadata (Delta `invariants`
    writer feature, legacy minWriterVersion 2): field metadata key
    `delta.invariants` holds {"expression": {"expression": "<sql>"}}."""
    out: dict[str, str] = {}
    ss = (metadata or {}).get("schemaString")
    if not ss:
        return out
    for f in json.loads(ss).get("fields", []):
        inv = (f.get("metadata") or {}).get("delta.invariants")
        if not inv:
            continue
        if isinstance(inv, str):
            inv = json.loads(inv)
        expr = (inv.get("expression") or {}).get("expression")
        if expr:
            out[f["name"]] = expr
    return out


def _enforce_constraints(df: DataFrame, metadata: dict | None) -> None:
    """CHECK-constraint + column-invariant enforcement: reject the write
    if any incoming row evaluates a `delta.constraints.<name>` expression
    (metaData.configuration) or a `delta.invariants` field-metadata
    expression to FALSE (NULL passes for CHECK, fails for invariants per
    the Delta spec). One short-circuit limit(1) scan per expression.

    `metadata` is the full metaData action dict; a bare configuration
    dict is also accepted for constraint-only validation."""
    from pyspark.sql import functions as F

    if metadata is not None and (
        "schemaString" in metadata or "configuration" in metadata
    ):
        configuration = metadata.get("configuration")
        invariants = _invariant_exprs(metadata)
    else:  # legacy shape: the configuration dict itself
        configuration = metadata
        invariants = {}
    for key, expr in (configuration or {}).items():
        if not key.startswith(_CONSTRAINT_PREFIX):
            continue
        name = key[len(_CONSTRAINT_PREFIX):]
        violating = df.filter(
            ~F.coalesce(F.expr(expr).cast("boolean"), F.lit(True))
        ).limit(1)
        bad = violating.collect()
        if bad:
            raise ValueError(
                f"CHECK constraint {name} ({expr}) violated by row: {bad[0].asDict()}"
            )
    for col, expr in invariants.items():
        if col not in df.columns:
            continue
        bad = df.filter(
            ~F.coalesce(F.expr(expr).cast("boolean"), F.lit(False))
        ).limit(1).collect()
        if bad:
            raise ValueError(
                f"column invariant on {col} ({expr}) violated by row: "
                f"{bad[0].asDict()}"
            )


def add_check_constraint(
    spark, table_path: str, name: str, expr: str
) -> int:
    """ALTER TABLE ... ADD CONSTRAINT name CHECK (expr): validates ALL
    existing rows, then commits an updated metaData with the constraint in
    `configuration` — subsequent write_delta / DML calls enforce it.

    The validation SCAN routes through DeltaTable.to_df (light-planned
    past the threshold — the full-table read is inherent, the classic
    driver-resident file list is not); the commit uses the header only.
    A header state must NEVER feed read_snapshot here: its empty file
    list would validate zero rows and accept a violated constraint
    (caught by test_light_planning.test_metadata_ddl_stays_light)."""
    table_path = normalize_table_path(table_path)
    snap = DeltaLog(table_path).header()
    key = f"{_CONSTRAINT_PREFIX}{name}"
    if key in (snap.metadata.get("configuration") or {}):
        raise ValueError(f"constraint already exists: {name}")
    from .table import DeltaTable  # local: table.py imports this module

    _enforce_constraints(
        DeltaTable(spark, table_path).to_df(),
        {"configuration": {key: expr}},
    )
    md = dict(snap.metadata)
    md["configuration"] = {**(md.get("configuration") or {}), key: expr}
    # spec: CHECK constraints are a writer concern — legacy minWriterVersion
    # 3 (or the checkConstraints table feature) so a pre-constraint writer
    # stops cleanly instead of inserting unvalidated rows
    proto = snap.protocol or {}
    extra = None
    if proto.get("writerFeatures") is not None:
        extra = _protocol_upgrade_action(
            proto, writer_features=("checkConstraints",)
        )
    elif int(proto.get("minWriterVersion", 1)) < 3:
        extra = {
            "protocol": {
                "minReaderVersion": int(proto.get("minReaderVersion", 1)),
                "minWriterVersion": 3,
            }
        }
    return _commit_metadata_change(
        table_path,
        "ADD CONSTRAINT",
        {"name": name, "expr": expr},
        md,
        snap.version + 1,
        extra_actions=[extra] if extra else None, protocol=snap.protocol)


def drop_check_constraint(table_path: str, name: str) -> int:
    """ALTER TABLE ... DROP CONSTRAINT name."""
    table_path = normalize_table_path(table_path)
    snap = DeltaLog(table_path).header()
    key = f"{_CONSTRAINT_PREFIX}{name}"
    config = dict(snap.metadata.get("configuration") or {})
    if key not in config:
        raise ValueError(f"no such constraint: {name}")
    del config[key]
    md = {**snap.metadata, "configuration": config}
    return _commit_metadata_change(
        table_path, "DROP CONSTRAINT", {"name": name}, md, snap.version + 1, protocol=snap.protocol)


def zorder_dataframe(
    df: DataFrame,
    zorder_by: list[str],
    bits: int = 8,
    n_partitions: int | None = None,
) -> DataFrame:
    """Range-partition + sort `df` by a bit-interleaved Z-value over
    `zorder_by` (width-bucketed to `bits` per column between min and max;
    one tiny agg job, no global windows). Shared by write_delta(zorder_by=)
    and compact(zorder_by=) — the OPTIMIZE ZORDER rewrite."""
    from pyspark.sql import functions as F

    bounds = df.agg(
        *[F.min(c).alias(f"_lo_{c}") for c in zorder_by],
        *[F.max(c).alias(f"_hi_{c}") for c in zorder_by],
    ).first()
    z = F.lit(0).cast("long")
    for i, c in enumerate(zorder_by):
        lo, hi = bounds[f"_lo_{c}"], bounds[f"_hi_{c}"]
        if lo is None or hi is None or lo == hi:
            bucket = F.lit(0).cast("long")
        else:
            bucket = (
                F.width_bucket(
                    F.col(c).cast("double"),
                    F.lit(float(lo)),
                    F.lit(float(hi)),
                    F.lit((1 << bits) - 1),
                )
                - 1
            ).cast("long")
            bucket = F.greatest(
                F.lit(0).cast("long"),
                F.least(bucket, F.lit((1 << bits) - 1).cast("long")),
            )
        for b in range(bits):
            z = z.bitwiseOR(
                F.shiftleft(
                    F.shiftright(bucket, b).bitwiseAND(F.lit(1)),
                    b * len(zorder_by) + i,
                )
            )
    n_part = n_partitions or df.rdd.getNumPartitions()
    return (
        df.withColumn("_z", z)
        .repartitionByRange(n_part, "_z")
        .sortWithinPartitions("_z")
        .drop("_z")
    )


def write_delta(
    df: DataFrame,
    table_path: str,
    mode: str = "append",
    partition_by: list[str] | None = None,
    collect_stats: bool = True,
    merge_schema: bool = False,
    cluster_by: list[str] | None = None,
    zorder_by: list[str] | None = None,
    txn_app_id: str | None = None,
    txn_version: int | None = None,
    configuration: dict[str, str] | None = None,
    liquid_cluster_by: list[str] | None = None,
    identity_columns: dict[str, tuple[int, int]] | None = None,
    replace_where: str | list | None = None,
    replace_table: bool = False,
    description: str | None = None,
) -> int:
    """Write `df` to a Delta table at `table_path`. Returns committed version.

    replace_where (with mode='overwrite'): SELECTIVE overwrite — replace
    only the rows matching the predicate (Delta's `replaceWhere`), the
    most common batch-pipeline write pattern ("repair just
    ds=2026-08-14"). Every incoming row must satisfy the predicate
    (rejected otherwise, per Delta semantics). Files are scoped by the
    same driver-side pruning the scan uses (stats.prune_files): a
    partition-only predicate removes exactly the matching partitions'
    files with NO data I/O; an arbitrary predicate additionally rewrites
    the boundary files without their matching rows. Untouched files are
    never referenced, so the commit is O(replaced partition), not
    O(table) — the piece the reference's users get from Athena-side
    INSERT OVERWRITE (hive-layout repair the connector then re-reads,
    DeltaMetadataHandler.scala:33-38).

    identity_columns (table creation / overwrite only): {name: (start,
    step)} adds GENERATED ALWAYS AS IDENTITY columns — the engine assigns
    values distributedly (no global window; see _assign_identity) and
    tracks the high-water mark in the field metadata; later appends must
    NOT supply the column, and each assigning commit advances the mark in
    an updated metaData action. Writer protocol version 6 (identity
    columns), as in Delta.

    liquid_cluster_by: cluster the data like zorder_by AND persist the
    clustering columns as `delta.clustering` domainMetadata — subsequent
    `compact()` calls re-cluster using the stored state (liquid-clustering
    semantics: the table remembers its own layout policy).

    configuration: table properties to set/merge into the metaData action
    (e.g. {"delta.enableInCommitTimestamps": "true"}). Enabling in-commit
    timestamps upgrades the protocol to writer feature `inCommitTimestamp`
    and records the spec's enablement version/timestamp properties when
    turned on after table creation.

    mode: 'append' adds files; 'overwrite' adds files and removes all prior
    live files in the same commit (Delta logical overwrite — old files stay
    on disk for time travel).

    merge_schema: on append, allow `df` to carry columns the table lacks —
    the commit includes an updated metaData action with the union schema;
    existing files read as NULL for the new columns (Delta schema
    evolution). Type changes / dropped columns still raise.

    cluster_by: range-partition + sort the data by these columns before
    writing (lexicographic clustering): each file covers a narrow value
    range, so per-file min/max stats make data-skipping scans on those
    columns prune most files. Orthogonal to partition_by.

    txn_app_id/txn_version: idempotent writes (Delta SetTransaction).
    When the table's snapshot already records this appId at a version >=
    txn_version, the write is a NO-OP returning the current table version
    — a crashed-and-retried batch job cannot double-append. The commit
    records the txn action so the guarantee survives restarts and
    checkpoints.

    zorder_by: MULTI-dimensional clustering by a bit-interleaved Z-value
    (true OPTIMIZE ZORDER): each column is width-bucketed to 8 bits
    between its min and max (one tiny agg job — no global windows, so no
    single-partition bottleneck at scale), the bucket bits are
    interleaved, and files are range-partitioned + sorted by that
    Z-value. Unlike lexicographic cluster_by, min/max stats then prune on
    EVERY listed column, not just the leading one.
    """
    if mode not in {"append", "overwrite"}:
        raise ValueError(f"unsupported mode: {mode}")
    if replace_where is not None and mode != "overwrite":
        raise ValueError("replace_where requires mode='overwrite'")
    if replace_table and mode != "overwrite":
        raise ValueError("replace_table requires mode='overwrite'")
    if (txn_app_id is None) != (txn_version is None):
        raise ValueError("txn_app_id and txn_version go together")
    table_path = normalize_table_path(table_path)

    prior = None
    light_overwrite = None  # LightSnapshot when overwrite removes stream
    try:
        log0 = DeltaLog(table_path)
        if mode == "append":
            # plain appends never consume prior.files (only overwrite /
            # replaceWhere build remove lists): header-only light replay
            # past the threshold, so tailing a 10^7-file table costs
            # O(header), not 8.5 GiB
            prior = log0.header()
        else:
            if replace_where is None:
                # plain overwrite: the removes stream from files_df at
                # commit time (commit_streamed_removes, round-10 ask #3)
                # — the header-only prior serves every schema/config/
                # identity check
                light_overwrite = log0.light_plane(spark=df.sparkSession)
            prior = (
                light_overwrite.to_snapshot_state([])
                if light_overwrite is not None
                else log0.snapshot()
            )
    except FileNotFoundError:
        pass
    except ValueError:
        # snapshot() can fail for reasons a WRITER gate must see through
        # (reader-unsupported protocol). Check the writer protocol via the
        # validation-free tail read before treating the table as absent —
        # otherwise an append to a table demanding writer features this
        # engine lacks would land a blind commit.
        try:
            _check_write_protocol(DeltaLog(table_path).latest_protocol(), table_path)
        except FileNotFoundError:
            pass
    if prior is not None:
        _check_write_protocol(prior.protocol, table_path)

    if (
        txn_app_id is not None
        and prior is not None
        and prior.txns.get(txn_app_id, -1) >= txn_version
    ):
        return prior.version  # already applied: idempotent no-op
    if (
        partition_by is None
        and prior is not None
        and (mode == "append" or replace_where is not None)
    ):
        # inherit the table's existing partition spec on append and on
        # selective overwrite (replaceWhere keeps the table layout)
        partition_by = list(prior.partition_columns)
    partition_by = list(partition_by or [])
    if replace_where is not None and prior is not None:
        if {f.name for f in df.schema.fields} != {
            f.name for f in prior.schema.fields
        }:
            raise ValueError(
                "replace_where requires the incoming schema to match the "
                "table schema (selective overwrite cannot evolve the schema)"
            )
        if list(prior.partition_columns) != partition_by:
            raise ValueError(
                f"partition mismatch: table has {prior.partition_columns}, "
                f"got {partition_by}"
            )

    # identity columns: GENERATED ALWAYS — the writer assigns, callers may
    # never supply values. identity_params carries the post-commit field
    # metadata (start/step/new high-water mark) for the metaData action.
    identity_params: dict[str, dict] = {}
    if identity_columns:
        if prior is not None and mode == "append":
            raise ValueError(
                "identity_columns can only be declared at table creation "
                "or overwrite"
            )
        for name, (start, step) in identity_columns.items():
            if step == 0:
                raise ValueError(f"identity step must be non-zero: {name}")
            if name in df.columns:
                raise ValueError(
                    f"identity column {name} is GENERATED ALWAYS; do not "
                    "supply values"
                )
            if name in partition_by:
                raise ValueError(f"identity column cannot be a partition key: {name}")
            df, hw = _assign_identity(df, name, int(start) - int(step), int(step))
            identity_params[name] = {
                _IDENTITY_START: int(start),
                _IDENTITY_STEP: int(step),
                _IDENTITY_HW: hw,
            }
    elif prior is not None and mode in ("append", "overwrite"):
        # identity survives overwrite too (Delta keeps identity metadata
        # unless the schema is explicitly replaced): values keep advancing
        # from the prior high-water mark, and the GENERATED ALWAYS contract
        # holds — an overwrite that silently dropped the field metadata
        # would accept caller-supplied ids on the next append.
        for name, meta in _identity_fields(prior.schema).items():
            if name in df.columns:
                raise ValueError(
                    f"identity column {name} is GENERATED ALWAYS; do not "
                    "supply values"
                )
            step = int(meta.get(_IDENTITY_STEP, 1))
            base = int(
                meta.get(_IDENTITY_HW, int(meta[_IDENTITY_START]) - step)
            )
            df, hw = _assign_identity(df, name, base, step)
            identity_params[name] = {**meta, _IDENTITY_HW: hw}

    # generated columns derive from the governing schema: the table's on
    # append (so an appender may omit them entirely), the incoming df's on
    # first write / overwrite (which rewrites metaData from df.schema)
    gen_schema = (
        prior.schema if (prior is not None and mode == "append") else df.schema
    )
    df = _apply_generated_columns(df, gen_schema)

    schema_changed = False
    if prior is not None and mode == "append":
        prior_names = {f.name for f in prior.schema.fields}
        new_fields = [f for f in df.schema.fields if f.name not in prior_names]
        changed = [
            f.name
            for f in df.schema.fields
            if f.name in prior_names
            and prior.schema[f.name].dataType != f.dataType
        ]
        if changed:
            raise ValueError(f"type change not allowed on append: {changed}")
        missing = prior_names - {f.name for f in df.schema.fields}
        if new_fields or missing:
            if not merge_schema:
                raise ValueError(
                    f"schema mismatch on append (new={[f.name for f in new_fields]}, "
                    f"missing={sorted(missing)}); pass merge_schema=True to evolve"
                )
            # union schema: table columns first (original order), then new
            from pyspark.sql import functions as F

            for name in sorted(missing):
                df = df.withColumn(
                    name, F.lit(None).cast(prior.schema[name].dataType)
                )
            # evolved columns MUST be nullable: every pre-existing file
            # reads NULL for them regardless of the incoming df's flag
            new_fields = [
                T.StructField(f.name, f.dataType, True, f.metadata)
                for f in new_fields
            ]
            evolved = T.StructType(
                list(prior.schema.fields) + new_fields
            )
            df = df.select(*[f.name for f in evolved.fields])
            schema_changed = bool(new_fields)

    schema = evolved if schema_changed else df.schema

    # column mapping: appends keep reading names from the PRIOR schema's
    # field metadata; overwrite must not silently strip the mapping (the
    # configuration still says mode=name), so it either preserves the
    # mapped schema verbatim or demands the metadata-only DDL instead.
    mapping_l2p = (
        logical_to_physical(
            prior.schema, prior.metadata.get("configuration")
        )
        if prior is not None
        else None
    )
    if mapping_l2p is not None:
        if mode == "overwrite":
            prior_types = {f.name: f.dataType for f in prior.schema.fields}
            df_types = {f.name: f.dataType for f in df.schema.fields}
            if prior_types != df_types:
                raise ValueError(
                    "overwrite of a column-mapped table must keep the table "
                    "schema; use add_columns / rename_column / drop_column "
                    "for schema changes"
                )
            df = df.select(*[f.name for f in prior.schema.fields])
            schema = prior.schema  # keep ids/physicalNames in metaData
        elif schema_changed:
            # merge_schema evolution on a mapped table: new columns get
            # fresh ids and uuid physical names (Delta spec for mode=name)
            max_id = int(
                (prior.metadata.get("configuration") or {}).get(
                    "delta.columnMapping.maxColumnId", 0
                )
            )
            prior_names = {f.name for f in prior.schema.fields}
            out_fields = []
            for f in schema.fields:
                if f.name in prior_names:
                    out_fields.append(f)
                else:
                    max_id += 1
                    out_fields.append(
                        T.StructField(
                            f.name,
                            f.dataType,
                            f.nullable,
                            {
                                **(f.metadata or {}),
                                "delta.columnMapping.id": max_id,
                                "delta.columnMapping.physicalName": f"col-{uuid.uuid4()}",
                            },
                        )
                    )
            schema = T.StructType(out_fields)
            configuration = {
                **(configuration or {}),
                "delta.columnMapping.maxColumnId": str(max_id),
            }
            mapping_l2p = logical_to_physical(
                schema, prior.metadata.get("configuration")
            )
    data_schema = T.StructType([f for f in schema.fields if f.name not in partition_by])

    if prior is not None and mode == "append" and prior.partition_columns != partition_by:
        raise ValueError(
            f"partition mismatch: table has {prior.partition_columns}, got {partition_by}"
        )

    if sum(x is not None and x != [] for x in (cluster_by, zorder_by, liquid_cluster_by)) > 1:
        raise ValueError(
            "cluster_by, zorder_by, and liquid_cluster_by are mutually exclusive"
        )
    if liquid_cluster_by:
        # liquid-style clustering: the LAYOUT is the z-order write; the
        # CLUSTERING STATE persists as domainMetadata so later OPTIMIZE
        # calls re-cluster without being told the columns (dml.compact
        # reads delta.clustering when no zorder_by is passed)
        zorder_by = list(liquid_cluster_by)
    if cluster_by:
        n_part = df.rdd.getNumPartitions()
        df = df.repartitionByRange(n_part, *cluster_by).sortWithinPartitions(
            *cluster_by
        )
    if zorder_by:
        df = zorder_dataframe(df, zorder_by)

    if prior is not None and not replace_table:
        # REPLACE TABLE resets constraints with the rest of the prior
        # configuration — the old CHECK may reference columns the new
        # schema does not even have
        _enforce_constraints(df, prior.metadata)

    # replaceWhere scoping: which files does this overwrite actually
    # replace, and which boundary rows must survive via a rewrite
    rw_candidates = None
    prior_md = prior.metadata if prior is not None else {}
    prior_config = dict(prior_md.get("configuration") or {})
    # REPLACE TABLE (delta-spark parity): properties, constraints and
    # identity/CDF switches not re-specified in the REPLACE do NOT
    # survive — start from the given configuration alone, and prior
    # metadata domains (clustering policy, row-id high-water mark) get
    # tombstones unless this commit re-creates them — a stale
    # delta.clustering naming dropped columns would crash the next
    # OPTIMIZE and ghost-render in SHOW CREATE TABLE
    effective_config = (
        dict(configuration or {})
        if replace_table
        else {**prior_config, **(configuration or {})}
    )

    rw_survivor_adds: list[dict] = []
    if replace_where is not None:
        from pyspark.sql import functions as F

        from .dml import _normalize_where, _partition_only, _read_cow
        from .stats import prune_files_auto

        preds, rw_cond, fully_parsed = _normalize_where(replace_where)
        # incoming rows must satisfy the predicate even on a table's FIRST
        # write (Delta semantics) — otherwise the same pipeline behaves
        # differently on its first vs subsequent runs
        bad = (
            df.filter(~F.coalesce(rw_cond, F.lit(False))).limit(1).count()
        )
        if bad:
            raise ValueError(
                "replace_where: incoming data contains rows that do not "
                f"satisfy the predicate {replace_where!r}"
            )
    if replace_where is not None and prior is not None:
        rw_candidates = (
            prune_files_auto(df.sparkSession, prior, preds)
            if preds
            else list(prior.files)
        )
        if rw_candidates and not (fully_parsed and _partition_only(preds, prior)):
            # boundary files may hold rows OUTSIDE the predicate: rewrite
            # them keeping only the non-matching rows (NULL predicate
            # keeps, matching DELETE semantics); partition-only predicates
            # skip this — every row of a pruned-in file matches, so the
            # removes alone are exact and the overwrite is metadata+append
            survivors = _read_cow(df.sparkSession, prior, rw_candidates).filter(
                ~F.coalesce(rw_cond, F.lit(False))
            )
            rw_survivor_adds = stage_data_files(
                survivors,
                table_path,
                partition_by,
                data_schema,
                collect_stats,
                l2p=mapping_l2p,
                config=effective_config,
                full_schema=schema,
            )

    adds = stage_data_files(
        df, table_path, partition_by, data_schema, collect_stats,
        l2p=mapping_l2p, config=effective_config, full_schema=schema,
    )
    now = int(time.time() * 1000)

    version = _next_version(table_path)
    actions: list[dict] = [
        {
            "commitInfo": {
                "timestamp": now,
                "operation": "WRITE",
                "operationParameters": {"mode": mode.upper()},
                "engineInfo": "athena_delta_lake_spark",
            }
        }
    ]
    if txn_app_id is not None:
        actions.append({"txn": {"appId": txn_app_id, "version": int(txn_version)}})
    # domainMetadata actions require the `domainMetadata` writer feature
    # (minWriterVersion 7) — declared in this commit's protocol action so an
    # external writer that predates the feature stops cleanly instead of
    # replaying state it doesn't understand.
    needed_writer_features: set[str] = set()
    if liquid_cluster_by:
        needed_writer_features.add("domainMetadata")
        actions.append(
            {
                "domainMetadata": {
                    "domain": "delta.clustering",
                    "configuration": json.dumps(
                        {"clusteringColumns": list(liquid_cluster_by)},
                        separators=(",", ":"),
                    ),
                    "removed": False,
                }
            }
        )
    if replace_table and prior is not None:
        # REPLACE TABLE: prior metadata domains die unless this commit
        # re-creates them — a stale delta.clustering naming dropped
        # columns would crash the next OPTIMIZE and ghost-render in
        # SHOW CREATE TABLE; a stale row-id high-water mark belongs to
        # the replaced data
        recreated = {"delta.clustering"} if liquid_cluster_by else set()
        if _row_tracking_enabled(effective_config):
            recreated.add("delta.rowTracking")
        doomed = sorted(set(prior.domain_metadata) - recreated)
        if doomed:
            needed_writer_features.add("domainMetadata")
        for domain in doomed:
            actions.append(
                {"domainMetadata": {"domain": domain, "removed": True}}
            )

    ict_newly_enabled = _ict_enabled(effective_config) and not _ict_enabled(
        prior_config
    )
    if ict_newly_enabled and version > 0:
        # spec: record when ICT took effect so pre-enablement commits keep
        # resolving by file timestamp
        effective_config["delta.inCommitTimestampEnablementVersion"] = str(version)
        effective_config["delta.inCommitTimestampEnablementTimestamp"] = str(now)
    config_changed = effective_config != prior_config

    # type-implied reader+writer features (variantType, timestampNtz):
    # a reader predating them must stop cleanly, so they gate
    # minReaderVersion 3 in the same commit that first writes the type
    type_feats = _schema_type_features(schema)
    protocol_upgraded = None
    if version == 0:
        # legacy writer-version features: generated columns = 4,
        # identity columns = 6
        min_writer = 4 if _generation_expressions(schema) else 2
        if cdf_enabled(effective_config):
            min_writer = max(min_writer, 4)  # legacy CDF writer version
        if identity_params:
            min_writer = max(min_writer, 6)
        proto: dict = {"minReaderVersion": 1, "minWriterVersion": min_writer}
        feats0 = set(needed_writer_features)
        if _ict_enabled(effective_config):
            feats0.add("inCommitTimestamp")
        if feats0 or type_feats:
            # table-features protocol: enumerate the legacy-implied
            # features alongside the named ones
            if identity_params:
                feats0.add("identityColumns")
            if _generation_expressions(schema):
                feats0.add("generatedColumns")
            if cdf_enabled(effective_config):
                feats0.add("changeDataFeed")
            proto = {
                "minReaderVersion": 3 if type_feats else 1,
                "minWriterVersion": 7,
                **(
                    {"readerFeatures": sorted(type_feats)}
                    if type_feats
                    else {}
                ),
                "writerFeatures": sorted(feats0 | type_feats),
            }
        actions.append({"protocol": proto})
    else:
        upgrade_feats = set(needed_writer_features)
        if ict_newly_enabled:
            upgrade_feats.add("inCommitTimestamp")
        if cdf_enabled(effective_config) and not cdf_enabled(prior_config):
            upgrade_feats.add("changeDataFeed")
        protocol_upgraded = _protocol_upgrade_action(
            prior.protocol if prior is not None else None,
            reader_features=tuple(sorted(type_feats)),
            writer_features=tuple(sorted(upgrade_feats)),
        ) if (upgrade_feats or type_feats) else None
        if protocol_upgraded is not None:
            actions.append(protocol_upgraded)
    if (
        version == 0
        or mode == "overwrite"
        or schema_changed
        or config_changed
        or identity_params
    ):
        # table identity + configuration (incl. CHECK constraints) survive
        # overwrites and schema evolution; only the schema string changes.
        # identity assignments advance the high-water mark here.
        md_schema = (
            _with_identity_metadata(schema, identity_params)
            if identity_params
            else schema
        )
        # the table comment: an explicit `description` wins; otherwise a
        # prior comment survives schema/config-changing commits (REPLACE
        # resets it like the rest of the unspecified metadata)
        desc = description
        if desc is None and not replace_table:
            desc = prior_md.get("description")
        actions.append(
            {
                "metaData": {
                    "id": prior_md.get("id") or str(uuid.uuid4()),
                    "format": {"provider": "parquet", "options": {}},
                    "schemaString": struct_to_schema_string(md_schema),
                    "partitionColumns": partition_by,
                    "configuration": effective_config,
                    **({"description": desc} if desc is not None else {}),
                    "createdTime": prior_md.get("createdTime", now),
                }
            }
        )
    if mode == "overwrite" and prior is not None:
        # replaceWhere removes ONLY the predicate-scoped files (plus their
        # survivor rewrites added below); a plain overwrite removes all —
        # streamed at commit time past the light threshold (prior.files is
        # the EMPTY to_snapshot_state shell then; see light_overwrite)
        to_remove = prior.files if rw_candidates is None else rw_candidates
        if to_remove or (
            light_overwrite is not None
            # probe the table's emptiness ONLY when appendOnly is set —
            # _check_append_only cannot fire otherwise, and the common
            # case must not pay a Spark job for a no-op gate (r10 review)
            and str(
                effective_config.get("delta.appendOnly", "")
            ).lower() == "true"
            and light_overwrite.files_df(df.sparkSession).limit(1).count()
        ):
            _check_append_only(effective_config, "overwrite")
        actions.extend(
            {"remove": remove_action(f, True, now)} for f in to_remove
        )
        adds = rw_survivor_adds + adds
        if rw_survivor_adds and cdf_enabled(effective_config):
            # boundary-file rewrite under replaceWhere: add/remove
            # derivation would misreport the surviving rows as churn, so
            # the commit carries exact cdc — deletes of the matched rows,
            # inserts of the incoming batch (spec: a commit WITH cdc
            # actions describes its changes by those alone)
            from pyspark.sql import functions as F

            from .dml import _read_cow

            matched = _read_cow(df.sparkSession, prior, rw_candidates).filter(
                F.coalesce(rw_cond, F.lit(False))
            )
            cols = [f.name for f in schema.fields]
            cdc_df = matched.select(*cols).withColumn(
                CDF_TYPE_COL, F.lit("delete")
            ).unionByName(
                df.select(*cols).withColumn(CDF_TYPE_COL, F.lit("insert"))
            )
            actions.extend(
                stage_cdc_files(cdc_df, table_path, partition_by, l2p=mapping_l2p)
            )
    row_tracking = _row_tracking_enabled(effective_config)
    if row_tracking and adds:
        hwm = _row_id_hwm(prior.domain_metadata if prior is not None else {})
        _, rt_domain = _assign_row_ids(adds, hwm, version)
        actions.append(rt_domain)
    actions.extend(adds)
    log_dir = os.path.join(table_path, "_delta_log")
    expected_next = (prior.version + 1) if prior is not None else 0
    if light_overwrite is not None:
        # overwrite past the light threshold: the prior live files were
        # never materialized — their removes stream from files_df into the
        # commit. Strict version-watermark OCC (a raced full-table rewrite
        # re-plans; see commit_streamed_removes). ICT is stamped inside.
        if version != expected_next:
            raise ConcurrentWriteError(
                f"version {expected_next} of {table_path} was committed "
                "concurrently; re-run against the new snapshot"
            ) from None
        v_out, _n = commit_streamed_removes(
            df.sparkSession,
            table_path,
            "OVERWRITE",
            actions,
            light_overwrite,
            expected_version=expected_next,
            ict_config=effective_config,
        )
        return v_out
    for _attempt in range(_MAX_COMMIT_RETRIES + 1):
        if version != expected_next:
            # concurrent commits landed since this write was planned —
            # either noticed before the FIRST attempt (the version counter
            # already moved past the planning snapshot; no FileExistsError
            # would ever fire) or after losing the race below. Blind
            # appends commute with other appends; anything else needs the
            # caller to re-plan against the new snapshot.
            # identity appends do NOT commute: both racers would extend
            # from the same high-water mark and mint duplicate ids.
            # config-carrying appends don't either: their metaData action
            # was built from the PRE-race configuration, so a blind retry
            # would clobber whatever the race winner committed (e.g. a
            # concurrently-added CHECK constraint) and re-stamp a stale
            # delta.inCommitTimestampEnablementVersion.
            if (
                mode != "append"
                or prior is None
                or schema_changed
                or config_changed
                or ict_newly_enabled
                or protocol_upgraded is not None
                or identity_params
                # row-tracking appends do NOT commute: both racers would
                # extend the same high-water mark and mint duplicate ids
                or (row_tracking and adds)
            ):
                raise ConcurrentWriteError(
                    f"version {expected_next} of {table_path} was committed "
                    "concurrently; re-run against the new snapshot"
                ) from None
            # header-only: the retry checks txn HWM, schema names,
            # partition columns, and constraints — never the file list
            current = DeltaLog(table_path).header()
            if (
                txn_app_id is not None
                and current.txns.get(txn_app_id, -1) >= txn_version
            ):
                # the concurrent commit WAS this transaction (a twin of a
                # retried idempotent job): already applied, do not duplicate
                return current.version
            if (
                {f.name for f in current.schema.fields}
                != {f.name for f in schema.fields}
                or list(current.partition_columns) != partition_by
            ):
                raise ConcurrentWriteError(
                    "concurrent schema/partition change during append"
                ) from None
            _enforce_constraints(df, current.metadata)
        try:
            _stamp_ict(actions, log_dir, version, effective_config)
            _atomic_commit(log_dir, version, actions)
            DeltaLog.clear_cache()
            _maybe_auto_checkpoint(table_path, version, effective_config)
            return version
        except FileExistsError:
            DeltaLog.clear_cache()
            version = _next_version(table_path)
    raise ConcurrentWriteError(
        f"gave up after {_MAX_COMMIT_RETRIES} commit retries on {table_path}"
    )


_MAX_COMMIT_RETRIES = 10


# Delta spec: a writer MUST refuse to write a table whose protocol lists
# writer features it does not implement — committing anyway can corrupt
# the invariants those features encode (e.g. an icebergCompat table's
# mirrored metadata). Everything this engine implements and enforces:
_SUPPORTED_WRITER_FEATURES = {
    "appendOnly",
    "invariants",  # enforced in _enforce_constraints via field metadata
    "checkConstraints",
    "generatedColumns",
    "identityColumns",
    "changeDataFeed",
    "columnMapping",
    "deletionVectors",
    "rowTracking",
    "domainMetadata",
    "inCommitTimestamp",
    "typeWidening",
    "timestampNtz",
    "variantType",
    "v2Checkpoint",
    "vacuumProtocolCheck",
    "clustering",
    "allowColumnDefaults",  # column DEFAULT values (sqldml CREATE TABLE)
    # Delta 4.0 reader-feature drops without history truncation: this
    # writer honors the obligation by construction — cleanup_log only
    # deletes commits below an existing checkpoint and never deletes or
    # rewrites checkpoints (delta/features.py:drop_feature)
    "checkpointProtection",
}
_MAX_WRITER_VERSION = 7


def _check_write_protocol(protocol: dict | None, table_path: str) -> None:
    """Refuse to write when the table's protocol demands writer behavior
    this engine does not implement (spec: Writer Requirements)."""
    if not protocol:
        return
    mwv = int(protocol.get("minWriterVersion", 1))
    if mwv > _MAX_WRITER_VERSION:
        raise ValueError(
            f"cannot write {table_path}: requires minWriterVersion {mwv} "
            f"(this writer supports up to {_MAX_WRITER_VERSION})"
        )
    unsupported = set(protocol.get("writerFeatures") or []) - _SUPPORTED_WRITER_FEATURES
    if unsupported:
        raise ValueError(
            f"cannot write {table_path}: unsupported writer features "
            f"{sorted(unsupported)} (supported: "
            f"{sorted(_SUPPORTED_WRITER_FEATURES)})"
        )


# Delta spec: upgrading a LEGACY protocol to table features (v7) must
# enumerate what the old minWriterVersion implied, or external writers
# stop honoring those invariants.
_LEGACY_WRITER_IMPLIED = {
    2: ("appendOnly", "invariants"),
    3: ("checkConstraints",),
    4: ("changeDataFeed", "generatedColumns"),
    5: ("columnMapping",),
    6: ("identityColumns",),
}

# Same for the READER side: a legacy minReaderVersion=2 protocol implies
# columnMapping; once the table moves to minReaderVersion=3 (explicit
# readerFeatures list) that implication must be enumerated or
# spec-compliant readers stop honoring column mapping and misread
# physical column names.
_LEGACY_READER_IMPLIED = {
    2: ("columnMapping",),
}


def _protocol_upgrade_action(
    prior_protocol: dict | None,
    reader_features: tuple[str, ...] = (),
    writer_features: tuple[str, ...] = (),
) -> dict | None:
    """A `protocol` action adding the given table features, or None when the
    protocol already carries them. Mirrors the inCommitTimestamp upgrade
    path: minWriterVersion 7 (table features), minReaderVersion 3 whenever
    any reader feature is in play, existing features preserved — and when
    the prior protocol was LEGACY (no writerFeatures list), the features
    its minWriterVersion implied are enumerated so they survive v7."""
    cur = prior_protocol or {}
    have_r = set(cur.get("readerFeatures") or [])
    have_w = set(cur.get("writerFeatures") or [])
    if set(reader_features) <= have_r and set(writer_features) <= have_w:
        return None
    implied: set[str] = set()
    if cur.get("writerFeatures") is None:
        for v, feats in _LEGACY_WRITER_IMPLIED.items():
            if int(cur.get("minWriterVersion", 1)) >= v:
                implied |= set(feats)
    implied_r: set[str] = set()
    if cur.get("readerFeatures") is None:
        for v, feats in _LEGACY_READER_IMPLIED.items():
            if int(cur.get("minReaderVersion", 1)) >= v:
                implied_r |= set(feats)
    new_r = have_r | set(reader_features)
    if new_r:  # moving to (or already at) an explicit readerFeatures list
        new_r |= implied_r
    new_w = have_w | implied | set(writer_features) | new_r
    return {
        "protocol": {
            "minReaderVersion": 3 if new_r else int(cur.get("minReaderVersion", 1)),
            "minWriterVersion": 7,
            **({"readerFeatures": sorted(new_r)} if new_r else {}),
            "writerFeatures": sorted(new_w),
        }
    }


def file_fingerprint(f) -> tuple:
    """Identity of a live file version for conflict detection: path, bytes,
    mtime, and its deletion-vector descriptor (a DV change re-adds the same
    path — still a write-write conflict)."""
    dv = f.deletion_vector or {}
    return (
        f.path,
        f.size,
        f.modification_time,
        dv.get("pathOrInlineDv"),
        dv.get("offset"),
        dv.get("cardinality"),
    )


class ConcurrentWriteError(RuntimeError):
    """Optimistic-concurrency conflict: another writer committed the version
    this transaction targeted, and the transactions do not commute."""


def _write_parquet_table(fs, table, dst: str) -> int:
    """pq.write_table through the facade: straight to disk for LocalFS;
    local temp + single upload for Hadoop-served paths (checkpoints are
    metadata-sized — bounded by add-action rows, not data). Returns the
    written size in bytes."""
    import pyarrow.parquet as pq

    from .fs import LocalFS

    if isinstance(fs, LocalFS):
        p = strip_file_scheme(dst)
        pq.write_table(table, p)
        return os.path.getsize(p)
    import tempfile

    with tempfile.NamedTemporaryFile(suffix=".parquet") as tmp:
        pq.write_table(table, tmp.name)
        data = open(tmp.name, "rb").read()
    fs.write_bytes(dst, data)
    return len(data)


def _cp_arrow_schema():
    """Classic Delta checkpoint arrow schema: one nullable action-struct
    per column; string->string maps for partitionValues/configuration/
    options. Module-level so the executor-side light-checkpoint writers
    (_write_checkpoint_light) build files byte-shape-identical to the
    classic driver-side path."""
    import pyarrow as pa

    str_map = pa.map_(pa.string(), pa.string())
    return pa.schema(
        [
            pa.field(
                "protocol",
                pa.struct(
                    [
                        pa.field("minReaderVersion", pa.int32()),
                        pa.field("minWriterVersion", pa.int32()),
                        pa.field("readerFeatures", pa.list_(pa.string())),
                        pa.field("writerFeatures", pa.list_(pa.string())),
                    ]
                ),
            ),
            pa.field(
                "txn",
                pa.struct(
                    [
                        pa.field("appId", pa.string()),
                        pa.field("version", pa.int64()),
                    ]
                ),
            ),
            pa.field(
                "metaData",
                pa.struct(
                    [
                        pa.field("id", pa.string()),
                        pa.field("name", pa.string()),
                        pa.field("description", pa.string()),
                        pa.field(
                            "format",
                            pa.struct(
                                [
                                    pa.field("provider", pa.string()),
                                    pa.field("options", str_map),
                                ]
                            ),
                        ),
                        pa.field("schemaString", pa.string()),
                        pa.field("partitionColumns", pa.list_(pa.string())),
                        pa.field("configuration", str_map),
                        pa.field("createdTime", pa.int64()),
                    ]
                ),
            ),
            pa.field(
                "domainMetadata",
                pa.struct(
                    [
                        pa.field("domain", pa.string()),
                        pa.field("configuration", pa.string()),
                        pa.field("removed", pa.bool_()),
                    ]
                ),
            ),
            pa.field(
                "add",
                pa.struct(
                    [
                        pa.field("path", pa.string()),
                        pa.field("partitionValues", str_map),
                        pa.field("size", pa.int64()),
                        pa.field("modificationTime", pa.int64()),
                        pa.field("dataChange", pa.bool_()),
                        pa.field("stats", pa.string()),
                        pa.field(
                            "deletionVector",
                            pa.struct(
                                [
                                    pa.field("storageType", pa.string()),
                                    pa.field("pathOrInlineDv", pa.string()),
                                    pa.field("offset", pa.int32()),
                                    pa.field("sizeInBytes", pa.int32()),
                                    pa.field("cardinality", pa.int64()),
                                ]
                            ),
                        ),
                        pa.field("baseRowId", pa.int64()),
                        pa.field("defaultRowCommitVersion", pa.int64()),
                    ]
                ),
            ),
        ]
    )


def _checkpoint_meta_rows(snap) -> list[dict]:
    """The checkpoint's non-add action rows (protocol, metaData, txn,
    domainMetadata) in _cp_arrow_schema row shape. `snap` is either a
    classic SnapshotState or a LightSnapshot — both expose the header."""
    rows = [
        {"protocol": snap.protocol, "txn": None, "metaData": None, "add": None},
        {
            "protocol": None,
            "txn": None,
            "metaData": _checkpoint_metadata(snap.metadata),
            "add": None,
        },
    ]
    for app_id, v in sorted(snap.txns.items()):
        rows.append(
            {
                "protocol": None,
                "txn": {"appId": app_id, "version": int(v)},
                "metaData": None,
                "add": None,
            }
        )
    for domain, cfg in sorted(snap.domain_metadata.items()):
        rows.append(
            {
                "protocol": None,
                "txn": None,
                "metaData": None,
                "add": None,
                "domainMetadata": {
                    "domain": domain,
                    "configuration": cfg,
                    "removed": False,
                },
            }
        )
    return rows


def _cp_sidecar_schema():
    """V2 sidecar arrow schema: the spec says sidecar files carry add AND
    remove columns; a checkpoint holds only live files, so remove is
    all-null."""
    import pyarrow as pa

    return pa.schema(
        [
            _cp_arrow_schema().field("add"),
            pa.field(
                "remove",
                pa.struct(
                    [
                        pa.field("path", pa.string()),
                        pa.field("deletionTimestamp", pa.int64()),
                        pa.field("dataChange", pa.bool_()),
                    ]
                ),
            ),
        ]
    )


def _cp_manifest_schema():
    """V2 manifest arrow schema: header actions + checkpointMetadata +
    sidecar pointers."""
    import pyarrow as pa

    cp_schema = _cp_arrow_schema()
    return pa.schema(
        [
            cp_schema.field("protocol"),
            cp_schema.field("txn"),
            cp_schema.field("metaData"),
            cp_schema.field("domainMetadata"),
            pa.field(
                "checkpointMetadata",
                pa.struct([pa.field("version", pa.int64())]),
            ),
            pa.field(
                "sidecar",
                pa.struct(
                    [
                        pa.field("path", pa.string()),
                        pa.field("sizeInBytes", pa.int64()),
                        pa.field("modificationTime", pa.int64()),
                    ]
                ),
            ),
        ]
    )


def _batch_files(pdf, l2p: dict | None):
    """The log-form AddFiles of one LightSnapshot.files_df(full=True)
    pandas batch (addfile_from_files_row per row). Runs EXECUTOR-side
    under mapInPandas: the light checkpoint, clone and row-tracking
    writers all read their files through it."""
    return (addfile_from_files_row(r, l2p) for r in pdf.to_dict("records"))


def _checkpoint_add_batches(batches, l2p: dict | None):
    """files_df(full=True) pandas batches -> lists of checkpoint `add`
    dicts (add_action, dataChange false), empty batches skipped — the
    same rows the classic writer folds driver-side."""
    for pdf in batches:
        adds = [add_action(f, False) for f in _batch_files(pdf, l2p)]
        if adds:
            yield adds


def _stream_parquet(dst: str, schema, tables) -> int:
    """Stream arrow tables into ONE parquet file at `dst` with bounded
    memory: pq.ParquetWriter over a temp file, then an atomic rename
    (LocalFS — a task retry never interleaves with a half-written file)
    or a single facade upload (remote schemes). Always writes the file,
    even for an empty iterator (multi-part checkpoints need every named
    part present). Returns the written size in bytes."""
    import tempfile

    import pyarrow.parquet as pq

    from .fs import LocalFS

    fs = get_fs(dst)
    if isinstance(fs, LocalFS):
        final = strip_file_scheme(dst)
        tmp = f"{final}.tmp-{uuid.uuid4().hex}"
        try:
            with pq.ParquetWriter(tmp, schema) as w:
                for t in tables:
                    w.write_table(t)
            os.replace(tmp, final)
        except BaseException:
            try:
                os.unlink(tmp)
            except OSError:
                pass
            raise
        return os.path.getsize(final)
    fd, tmp = tempfile.mkstemp(suffix=".parquet")
    os.close(fd)
    try:
        with pq.ParquetWriter(tmp, schema) as w:
            for t in tables:
                w.write_table(t)
        with open(tmp, "rb") as f:
            data = f.read()
        fs.write_bytes(dst, data)
        return len(data)
    finally:
        os.unlink(tmp)


def _sidecar_part_writer(sidecar_dir: str, l2p: dict):
    """mapInPandas fn: stream one files_df partition into one uuid-named
    V2 sidecar parquet, yielding its (path, sizeInBytes, modificationTime,
    adds) manifest row. Empty partitions yield nothing (sidecars are
    uuid-named — no fixed count to honor)."""

    def fn(batches):
        import itertools

        import pandas as pd
        import pyarrow as pa

        sc_schema = _cp_sidecar_schema()
        it = _checkpoint_add_batches(batches, l2p)
        first = next(it, None)
        if first is None:
            return
        n = 0

        def row_tables():
            nonlocal n
            for rows in itertools.chain([first], it):
                n += len(rows)
                yield pa.Table.from_pylist(
                    [{"add": a} for a in rows], schema=sc_schema
                )

        name = f"{uuid.uuid4()}.parquet"
        size = _stream_parquet(
            os.path.join(sidecar_dir, name), sc_schema, row_tables()
        )
        yield pd.DataFrame(
            {
                "path": [name],
                "sizeInBytes": [size],
                "modificationTime": [int(time.time() * 1000)],
                "adds": [n],
            }
        )

    return fn


def _classic_part_writer(
    log_dir: str, version: int, n_parts: int, l2p: dict, meta_rows: list[dict]
):
    """mapInPandas fn: stream one files_df partition into the classic
    checkpoint part file its TASK PARTITION ID names (pid 0 additionally
    carries the header rows), yielding (part, adds). Every partition —
    including empty ones — writes its named part: the multi-part layout
    requires all N files present."""

    def fn(batches):
        import pandas as pd
        import pyarrow as pa
        from pyspark import TaskContext

        pid = TaskContext.get().partitionId()
        cp_schema = _cp_arrow_schema()
        if n_parts <= 1:
            name = f"{version:020d}.checkpoint.parquet"
        else:
            name = (
                f"{version:020d}.checkpoint."
                f"{pid + 1:010d}.{n_parts:010d}.parquet"
            )
        n = 0

        def row_tables():
            nonlocal n
            if pid == 0:
                yield pa.Table.from_pylist(meta_rows, schema=cp_schema)
            for rows in _checkpoint_add_batches(batches, l2p):
                n += len(rows)
                yield pa.Table.from_pylist(
                    [{"add": a} for a in rows], schema=cp_schema
                )

        _stream_parquet(os.path.join(log_dir, name), cp_schema, row_tables())
        yield pd.DataFrame({"part": [pid], "adds": [n]})

    return fn


def _spark_cp_schema(arrow_schema):
    """The checkpoint arrow schema as a Spark StructType, for routing
    action rows through Spark's NATIVE parquet writer (the remote-scheme
    staging path below)."""
    from pyspark.sql.pandas.types import from_arrow_schema

    return from_arrow_schema(arrow_schema)


def _staged_classic_rows(l2p, meta_rows, cols):
    """mapInPandas fn for the REMOTE-scheme light checkpoint (round-9
    review): emit full checkpoint action rows — task partition 0 carries
    the header — and let Spark's own FileFormatWriter land them on the
    destination scheme executor-side. The posix part writers above call
    get_fs() inside tasks, which cannot construct HadoopFS in a Python
    worker (the py4j gateway lives on the driver), so s3a://hdfs://...
    checkpoints stage through the JVM writer instead."""

    def fn(batches):
        import pandas as pd
        from pyspark import TaskContext

        pid = TaskContext.get().partitionId()
        if pid == 0 and meta_rows:
            yield pd.DataFrame(
                [{c: r.get(c) for c in cols} for r in meta_rows],
                columns=cols,
            )
        for rows in _checkpoint_add_batches(batches, l2p):
            yield pd.DataFrame(
                [dict.fromkeys(cols) | {"add": a} for a in rows],
                columns=cols,
            )

    return fn


def _staged_sidecar_rows(l2p, cols):
    """mapInPandas fn: V2 sidecar rows for the remote-scheme staging path
    (see _staged_classic_rows); header rows live in the manifest, so this
    emits adds only."""

    def fn(batches):
        import pandas as pd

        for rows in _checkpoint_add_batches(batches, l2p):
            yield pd.DataFrame(
                [{"add": a, "remove": None} for a in rows], columns=cols
            )

    return fn


from contextlib import contextmanager as _contextmanager


@_contextmanager
def _staged_tmp_dir(cp_fs, log_dir: str, prefix: str):
    """A uuid-named scratch dir under `_delta_log/.tmp` for the staged
    (remote-scheme) checkpoint writers, deleted on exit NO MATTER WHAT —
    a crashed attempt must not force the next writer (or VACUUM's
    eventual .tmp sweep) to inherit stray parts."""
    stage = os.path.join(log_dir, ".tmp", f"{prefix}-{uuid.uuid4().hex}")
    try:
        yield stage
    finally:
        try:
            cp_fs.delete(stage, recursive=True)
        except Exception:
            pass


def _collect_staged_parts(cp_fs, stage: str) -> list:
    """The parquet part files Spark's writer left in the stage dir,
    name-sorted (skips _SUCCESS and hidden .crc entries)."""
    return sorted(
        (
            fi
            for fi in cp_fs.listdir(stage)
            if fi.name.endswith(".parquet") and not fi.name.startswith(".")
        ),
        key=lambda fi: fi.name,
    )


def _light_part_count(table_path: str) -> int:
    """Task partitions for an executor-side pass over every live file of
    a light-planned table: ~ADLS_CHECKPOINT_PART_ROWS actions each
    (default 10^6), at most 256, sized from the PREVIOUS checkpoint's
    action count in `_last_checkpoint` (the light-planning gate
    guarantees one exists) — no counting job. Shared by the distributed
    checkpoint and the light row-tracking backfill."""
    from .log import _read_last_checkpoint

    per_part = max(
        1, int(os.environ.get("ADLS_CHECKPOINT_PART_ROWS", "1000000"))
    )
    log_dir = os.path.join(table_path, "_delta_log")
    prev = _read_last_checkpoint(get_fs(log_dir), log_dir) or {}
    approx = max(1, int(prev.get("size") or 0))
    return max(1, min(256, -(-approx // per_part)))


def _write_checkpoint_light(
    spark, light, parts: int | None = None, v2: bool = False
) -> int:
    """Distributed checkpoint write for the 10^7-file regime (round-8
    verdict ask #5): add actions stream from LightSnapshot.files_df
    EXECUTOR-side into the checkpoint parquet — V2 sidecars, or classic
    part files named by task partition id — while the driver holds only
    the header rows and one (name, size, count) row per part. The classic
    path folds every AddFile through pyarrow driver-side: measured
    8.5 GiB RSS / 186 s at 10^7 adds (tools/meta_scale.py); this path is
    O(header). Each row is add_action of the file's log-form AddFile
    (addfile_from_files_row), the encoder the classic writer uses too, in
    the same _cp_arrow_schema — replay-equality-tested in
    tests/test_checkpoint_light.py.

    Two executor-side write strategies, picked by executor_fs_safe:
    local tables stream pyarrow parquet straight to posix paths; REMOTE
    tables (s3a://, hdfs://...) stage the same rows through Spark's
    native parquet writer into `_delta_log/.tmp/` and the driver renames
    the staged parts into place — a bare Python worker cannot construct
    HadoopFS (no py4j gateway), so get_fs() must never run in a task for
    those schemes (round-9 review)."""
    table_path = light.table_path
    version = light.version
    log_dir = os.path.join(table_path, "_delta_log")
    cp_fs = get_fs(table_path)
    meta_rows = _checkpoint_meta_rows(light)
    l2p = logical_to_physical(
        light.schema, light.metadata.get("configuration")
    ) or {}
    n_parts = _light_part_count(table_path) if parts is None else max(1, parts)
    fdf = light.files_df(spark, full=True).repartition(n_parts)
    from .fs import executor_fs_safe

    exec_safe = executor_fs_safe(table_path)
    if not exec_safe:
        # the staged (Spark-native) writers below can't report per-part
        # add counts the way the pyarrow writers do — count once up front
        total_adds = fdf.count()
    if v2:
        sidecar_dir = os.path.join(log_dir, "_sidecars")
        cp_fs.mkdirs(sidecar_dir)
        if exec_safe:
            results = fdf.mapInPandas(
                _sidecar_part_writer(sidecar_dir, l2p),
                schema=(
                    "path string, sizeInBytes long, "
                    "modificationTime long, adds long"
                ),
            ).collect()
            total_adds = sum(r["adds"] for r in results)
        else:
            sc_schema = _cp_sidecar_schema()
            results = []
            with _staged_tmp_dir(cp_fs, log_dir, "sidecars") as stage:
                fdf.mapInPandas(
                    _staged_sidecar_rows(l2p, list(sc_schema.names)),
                    schema=_spark_cp_schema(sc_schema),
                ).write.mode("overwrite").parquet(stage)
                now_ms = int(time.time() * 1000)
                for fi in _collect_staged_parts(cp_fs, stage):
                    name = f"{uuid.uuid4()}.parquet"
                    cp_fs.move(
                        os.path.join(stage, fi.name),
                        os.path.join(sidecar_dir, name),
                    )
                    results.append(
                        {
                            "path": name,
                            "sizeInBytes": fi.size,
                            "modificationTime": now_ms,
                        }
                    )
        _write_v2_manifest(
            cp_fs,
            log_dir,
            version,
            meta_rows,
            [
                {
                    "path": r["path"],
                    "sizeInBytes": r["sizeInBytes"],
                    "modificationTime": r["modificationTime"],
                }
                for r in results
            ],
        )
        last = {"version": version, "size": len(meta_rows) + total_adds}
    else:
        if exec_safe:
            results = fdf.mapInPandas(
                _classic_part_writer(
                    log_dir, version, n_parts, l2p, meta_rows
                ),
                schema="part long, adds long",
            ).collect()
            if len(results) != n_parts:
                raise RuntimeError(
                    f"checkpoint wrote {len(results)} of {n_parts} parts"
                )
            total_adds = sum(r["adds"] for r in results)
            n_written = n_parts
        else:
            cp_schema = _cp_arrow_schema()
            with _staged_tmp_dir(cp_fs, log_dir, "checkpoint") as stage:
                fdf.mapInPandas(
                    _staged_classic_rows(
                        l2p, meta_rows, list(cp_schema.names)
                    ),
                    schema=_spark_cp_schema(cp_schema),
                ).write.mode("overwrite").parquet(stage)
                staged = _collect_staged_parts(cp_fs, stage)
                if not staged:
                    raise RuntimeError(
                        "staged checkpoint wrote no part files"
                    )
                # empty partitions write nothing under FileFormatWriter,
                # so the multi-part numbering is assigned POST-HOC over
                # the parts that exist — contiguous i-of-k by construction
                n_written = len(staged)
                for i, fi in enumerate(staged):
                    if n_written == 1:
                        dstn = f"{version:020d}.checkpoint.parquet"
                    else:
                        dstn = (
                            f"{version:020d}.checkpoint."
                            f"{i + 1:010d}.{n_written:010d}.parquet"
                        )
                    dst = os.path.join(log_dir, dstn)
                    # re-checkpointing the same version must OVERWRITE,
                    # matching the posix path's os.replace — Hadoop
                    # rename refuses an existing destination
                    if cp_fs.exists(dst):
                        cp_fs.delete(dst)
                    cp_fs.move(os.path.join(stage, fi.name), dst)
        last = {"version": version, "size": len(meta_rows) + total_adds}
        if n_written > 1:
            last["parts"] = n_written
    _publish_last_checkpoint(cp_fs, log_dir, last)
    return version


def _write_v2_manifest(
    cp_fs, log_dir: str, version: int, meta_rows: list, sidecars: list
) -> None:
    """Write a V2 checkpoint manifest `NNN.checkpoint.<uuid>.parquet`:
    the header rows (protocol/txn/metaData/domainMetadata), one
    checkpointMetadata row, then one `sidecar` pointer per sidecar file
    ({path, sizeInBytes, modificationTime}) — shared by the driver-side
    and the distributed checkpoint writers."""
    import pyarrow as pa

    header = ("protocol", "txn", "metaData", "domainMetadata")
    empty = dict.fromkeys(header + ("checkpointMetadata", "sidecar"))
    mrows = [empty | {k: r.get(k) for k in header} for r in meta_rows]
    mrows.append(empty | {"checkpointMetadata": {"version": version}})
    mrows += [empty | {"sidecar": sc} for sc in sidecars]
    manifest = f"{version:020d}.checkpoint.{uuid.uuid4()}.parquet"
    _write_parquet_table(
        cp_fs,
        pa.Table.from_pylist(mrows, schema=_cp_manifest_schema()),
        os.path.join(log_dir, manifest),
    )


def _publish_last_checkpoint(cp_fs, log_dir: str, last: dict) -> None:
    """Write `_last_checkpoint` — the pointer readers start replay from —
    as the LAST step of a checkpoint write. Persists the checkpointed
    commit's inCommitTimestamp: once cleanup_log deletes the predecessor
    JSONs, _stamp_ict clamps against this instead of trusting the wall
    clock alone (a clock step backwards would otherwise mint a
    non-monotonic ICT and break timestamp time travel)."""
    ict = _commit_ict(log_dir, last["version"])
    if ict is not None:
        last["lastInCommitTimestamp"] = ict
    cp_fs.write_bytes(
        os.path.join(log_dir, "_last_checkpoint"),
        json.dumps(last).encode("utf-8"),
    )


def _ensure_v2_checkpoint_protocol(table_path: str) -> None:
    """uuid-named checkpoints require the v2Checkpoint reader+writer
    feature (minReaderVersion 3): after cleanup_log a classic reader would
    otherwise chase a _last_checkpoint entry whose file it cannot parse and
    fail undetectably — the protocol gate turns that into a clean
    "unsupported reader feature" error up front. Commits the upgrade if
    missing (optimistic retry loop). The protocol is read from
    DeltaLog.header, so a 10^7-file table never pays a classic replay just
    to check two protocol integers."""
    if (
        _protocol_upgrade_action(
            DeltaLog(table_path).header().protocol,
            reader_features=("v2Checkpoint",),
        )
        is None
    ):
        return
    log_dir0 = os.path.join(table_path, "_delta_log")
    for _attempt in range(_MAX_COMMIT_RETRIES + 1):
        v = _next_version(table_path)
        cur = DeltaLog(table_path).header()
        upgrade = _protocol_upgrade_action(
            cur.protocol, reader_features=("v2Checkpoint",)
        )
        if upgrade is None:
            return  # a concurrent writer upgraded for us
        actions = [
            {
                "commitInfo": {
                    "timestamp": int(time.time() * 1000),
                    "operation": "UPGRADE PROTOCOL",
                    "operationParameters": {"feature": "v2Checkpoint"},
                    "engineInfo": "athena_delta_lake_spark",
                }
            },
            upgrade,
        ]
        try:
            _stamp_ict(actions, log_dir0, v, cur.metadata.get("configuration"))
            _atomic_commit(log_dir0, v, actions)
            DeltaLog.clear_cache()
            return
        except FileExistsError:
            DeltaLog.clear_cache()
    raise ConcurrentWriteError(
        f"gave up upgrading protocol for v2 checkpoint on {table_path}"
    )


def write_checkpoint(
    table_path: str,
    parts: int | None = None,
    v2: bool = False,
    spark=None,
) -> int:
    """Write a Parquet checkpoint of the latest snapshot + `_last_checkpoint`.

    Checkpoint rows carry one non-null action column each
    (protocol | txn | metaData | add), matching the classic Delta
    checkpoint shape the replayer (log.py:_read_checkpoint) consumes.

    `parts`: write a MULTI-PART checkpoint
    (NNN.checkpoint.0000000001.0000000XYZ.parquet x parts) — the layout
    Delta uses when one checkpoint file would be too large; a 100 TB table
    can carry millions of add rows, and parts let both the write and the
    replay proceed file-by-file with bounded memory.

    `v2`: write a V2 (uuid-named) checkpoint instead — a small manifest
    `NNN.checkpoint.<uuid>.parquet` holding protocol/metaData/txn/
    checkpointMetadata plus `sidecar` pointers, with the file actions in
    Parquet sidecars under `_delta_log/_sidecars/` (`parts` controls the
    sidecar count). This is the modern Delta layout: the constant-size
    manifest is re-readable without scanning millions of add rows, and
    sidecars are shareable across checkpoints. Replayed by
    log.py:_read_v2_checkpoint.

    When DeltaLog.light_plane picks the driver-light plane (past the
    light-planning threshold, with `spark` or an active session) the
    write is DISTRIBUTED (round-8 verdict ask #5): add rows
    stream from LightSnapshot.files_df executor-side straight into the
    checkpoint parquet, and the driver holds only the header. The classic
    driver-side fold below measured 8.5 GiB RSS at 10^7 adds; the light
    path is O(header + one row per part). Layout and row shape are
    identical either way: the same _cp_arrow_schema, every add row built
    by log.add_action."""
    import pyarrow as pa

    if v2:
        _ensure_v2_checkpoint_protocol(table_path)
    log = DeltaLog(table_path)
    light = log.light_plane(spark=spark)
    if light is not None:
        from pyspark.sql import SparkSession

        return _write_checkpoint_light(
            spark or SparkSession.active(), light, parts=parts, v2=v2
        )
    snap = log.snapshot()
    meta_rows = _checkpoint_meta_rows(snap)
    # column-mapped tables: the snapshot normalized partitionValues/stats
    # keys to LOGICAL names at replay; the checkpoint stores them back
    # under PHYSICAL names (spec — external readers key off physical).
    # Unmapped tables pass the raw stats text through unparsed (at 10^6
    # adds parse+re-dump dominated the write, tools/meta_scale.py)
    cp_l2p = logical_to_physical(
        snap.schema, snap.metadata.get("configuration")
    )
    add_rows = [
        add_action(remap_addfile(f, cp_l2p), False) for f in snap.files
    ]
    log_dir = os.path.join(table_path, "_delta_log")
    cp_fs = get_fs(table_path)
    last = {"version": snap.version, "size": len(meta_rows) + len(add_rows)}
    if v2:
        sidecar_schema = _cp_sidecar_schema()
        sidecar_dir = os.path.join(log_dir, "_sidecars")
        cp_fs.mkdirs(sidecar_dir)
        n_parts = max(1, parts or 1)
        chunk = -(-max(len(add_rows), 1) // n_parts)
        sidecar_actions = []
        for i in range(n_parts):
            piece = add_rows[i * chunk : (i + 1) * chunk]
            if i > 0 and not piece:
                break
            name = f"{uuid.uuid4()}.parquet"
            sc_size = _write_parquet_table(
                cp_fs,
                pa.Table.from_pylist(
                    [{"add": a} for a in piece], schema=sidecar_schema
                ),
                os.path.join(sidecar_dir, name),
            )
            sidecar_actions.append(
                {
                    "path": name,
                    "sizeInBytes": sc_size,
                    "modificationTime": int(time.time() * 1000),
                }
            )
        _write_v2_manifest(
            cp_fs, log_dir, snap.version, meta_rows, sidecar_actions
        )
    else:
        cp_schema = _cp_arrow_schema()
        rows = meta_rows + [{"add": a} for a in add_rows]
        n_parts = max(1, parts or 1)
        chunk = -(-len(rows) // n_parts)
        for i in range(n_parts):
            name = (
                f"{snap.version:020d}.checkpoint.parquet"
                if n_parts == 1
                else f"{snap.version:020d}.checkpoint."
                f"{i + 1:010d}.{n_parts:010d}.parquet"
            )
            _write_parquet_table(
                cp_fs,
                pa.Table.from_pylist(
                    rows[i * chunk : (i + 1) * chunk], schema=cp_schema
                ),
                os.path.join(log_dir, name),
            )
        if n_parts > 1:
            last["parts"] = n_parts
    _publish_last_checkpoint(cp_fs, log_dir, last)
    return snap.version


def _commit_ict(log_dir: str, version: int) -> int | None:
    """inCommitTimestamp of a commit JSON, or None (absent file / no ICT)."""
    try:
        text = get_fs(log_dir).read_text(
            os.path.join(log_dir, f"{version:020d}.json")
        )
        for line in text.splitlines():
            if not line.strip():
                continue
            ci = json.loads(line).get("commitInfo")
            return int(ci["inCommitTimestamp"]) if ci and "inCommitTimestamp" in ci else None
    except (FileNotFoundError, ValueError):
        return None
    return None


def _checkpoint_metadata(md: dict) -> dict:
    keep = {
        "id",
        "name",
        "description",
        "format",
        "schemaString",
        "partitionColumns",
        "configuration",
        "createdTime",
    }
    return {k: v for k, v in md.items() if k in keep}


def convert_to_delta(
    spark,
    dir_path: str,
    partition_by: list[str] | None = None,
    collect_stats: bool = True,
) -> int:
    """CONVERT TO DELTA: create a transaction log over an existing parquet
    directory IN PLACE (no data copied or moved). Schema (data + typed
    partition columns) comes from Spark's parquet/partition discovery; each
    existing file becomes an `add` with footer-derived stats, so data
    skipping works immediately.

    `partition_by=None` auto-detects hive-style `k=v` directory segments.
    The directory must not already be a Delta table."""
    table_path = normalize_table_path(dir_path)
    fs = get_fs(table_path, spark)
    log_dir = os.path.join(table_path, "_delta_log")
    if fs.is_dir(log_dir) and fs.listdir(log_dir):
        raise ValueError(f"already a Delta table: {table_path}")

    sizes: dict[str, int] = {}
    for rel, size, _mt in fs.walk_files(table_path):
        if rel.endswith(".parquet"):
            sizes[rel] = size
    rel_files = list(sizes)
    if not rel_files:
        raise ValueError(f"no parquet files under {table_path}")

    if partition_by is None:
        partition_by = [
            seg.split("=", 1)[0]
            for seg in rel_files[0].split("/")[:-1]
            if "=" in seg
        ]

    # Spark's own discovery supplies the authoritative schema: merged data
    # fields + partition columns typed by value inference — the behavior the
    # reference hard-coded to int year/month/day regexes
    # (/root/reference/DeltaMetadataHandler.scala:33-38).
    schema = spark.read.option("basePath", table_path).parquet(table_path).schema
    data_schema = T.StructType(
        [f for f in schema.fields if f.name not in partition_by]
    )

    now = int(time.time() * 1000)
    from urllib.parse import quote

    # URI directories: footer stats come from ONE grouped Spark job (the
    # driver can't open remote footers with pyarrow), keyed by the path
    # relative to the table root (basenames need not be unique in a
    # foreign layout).
    spark_stats: dict[str, dict] | None = None
    if collect_stats and is_uri(table_path):
        # same grouped executor-side job as staged writes use — keys are
        # paths relative to the table root (rel_files' form)
        spark_stats = _spark_staging_stats(
            spark, table_path, data_schema, partition_by, None
        )

    adds = []
    for rel in sorted(rel_files):
        full = os.path.join(table_path, rel)
        add = {
            "path": quote(rel, safe="/="),
            "partitionValues": _partition_values_from_relpath(rel, partition_by),
            "size": sizes[rel],
            "modificationTime": (
                now
                if is_uri(table_path)
                else int(os.path.getmtime(full) * 1000)
            ),
            "dataChange": True,
        }
        if collect_stats:
            st = (
                spark_stats.get(rel)
                if spark_stats is not None
                else _file_stats(full, data_schema)
            )
            if st is not None:
                add["stats"] = json.dumps(st, separators=(",", ":"))
        adds.append({"add": add})

    actions: list[dict] = [
        {
            "commitInfo": {
                "timestamp": now,
                "operation": "CONVERT",
                "operationParameters": {"numFiles": str(len(adds))},
                "engineInfo": "athena_delta_lake_spark",
            }
        },
        {"protocol": {"minReaderVersion": 1, "minWriterVersion": 2}},
        {
            "metaData": {
                "id": str(uuid.uuid4()),
                "format": {"provider": "parquet", "options": {}},
                "schemaString": struct_to_schema_string(schema),
                "partitionColumns": partition_by,
                "configuration": {},
                "createdTime": now,
            }
        },
    ]
    actions.extend(adds)
    _atomic_commit(log_dir, 0, actions)
    DeltaLog.clear_cache()
    return 0


def evolve_schema_metadata(
    snap, columns: T.StructType | list
) -> tuple[T.StructType, dict]:
    """(evolved schema, updated metaData action) for appending nullable
    `columns` to a snapshot's schema — the shared widening step of ALTER
    TABLE ADD COLUMNS and MERGE WITH SCHEMA EVOLUTION. Column-mapped
    tables stamp fresh ids + uuid physical names on the new fields (Delta
    spec for mode=name) and advance maxColumnId."""
    existing = {f.name for f in snap.schema.fields}
    new_fields = (
        list(columns.fields) if isinstance(columns, T.StructType) else list(columns)
    )
    for f in new_fields:
        if f.name in existing:
            raise ValueError(f"column already exists: {f.name}")
    md = dict(snap.metadata)
    config = dict(md.get("configuration") or {})
    if config.get("delta.columnMapping.mode", "none") != "none":
        # mapped tables: new columns get fresh ids + uuid physical names
        max_id = int(config.get("delta.columnMapping.maxColumnId", 0))
        stamped = []
        for f in new_fields:
            max_id += 1
            stamped.append(
                T.StructField(
                    f.name,
                    f.dataType,
                    True,
                    {
                        **(f.metadata or {}),
                        "delta.columnMapping.id": max_id,
                        "delta.columnMapping.physicalName": f"col-{uuid.uuid4()}",
                    },
                )
            )
        new_fields = stamped
        config["delta.columnMapping.maxColumnId"] = str(max_id)
        md["configuration"] = config
    else:
        new_fields = [
            T.StructField(f.name, f.dataType, True, f.metadata)
            for f in new_fields
        ]
    evolved = T.StructType(list(snap.schema.fields) + new_fields)
    md["schemaString"] = struct_to_schema_string(evolved)
    return evolved, md


def add_columns(
    table_path: str,
    columns: T.StructType | list,
    positions: list[tuple[str, str | None]] | None = None,
) -> int:
    """ALTER TABLE ... ADD COLUMNS: append nullable fields to the schema in
    a metadata-only commit — zero data I/O; existing files read NULL for
    the new columns (the same replay semantics as merge_schema appends,
    without writing any rows).

    `positions`: (column, after|None-for-FIRST) pairs folded into the SAME
    commit, so a positioned ADD COLUMNS is atomic — no intermediate
    appended-at-end schema for concurrent readers or the streaming
    schema-change guard to trip on."""
    snap = DeltaLog(table_path).header()
    now = int(time.time() * 1000)
    evolved, md = evolve_schema_metadata(snap, columns)
    new_fields = evolved.fields[len(snap.schema.fields):]
    if positions:
        order = [f.name for f in evolved.fields]
        for col, after in positions:
            if col not in order or (after is not None and after not in order):
                raise ValueError(
                    f"ADD COLUMNS position references unknown column: "
                    f"{after if col in order else col}"
                )
            order.remove(col)
            idx = 0 if after is None else order.index(after) + 1
            order.insert(idx, col)
        by_name = {f.name: f for f in evolved.fields}
        md = dict(md)
        md["schemaString"] = struct_to_schema_string(
            T.StructType([by_name[n] for n in order])
        )
    version = snap.version + 1
    log_dir = os.path.join(table_path, "_delta_log")
    actions = [
        {
            "commitInfo": {
                "timestamp": now,
                "operation": "ADD COLUMNS",
                "operationParameters": {
                    "columns": [f.name for f in new_fields]
                },
                "engineInfo": "athena_delta_lake_spark",
            }
        },
        {"metaData": md},
    ]
    config = md.get("configuration")
    for _attempt in range(_MAX_COMMIT_RETRIES + 1):
        try:
            _stamp_ict(actions, log_dir, version, config)
            _atomic_commit(log_dir, version, actions)
            DeltaLog.clear_cache()
            return version
        except FileExistsError:
            # schema changes must re-validate against the winner's schema
            DeltaLog.clear_cache()
            raise ConcurrentWriteError(
                f"version {version} of {table_path} was committed "
                "concurrently; re-run ADD COLUMNS against the new snapshot"
            ) from None
    raise ConcurrentWriteError(
        f"gave up after {_MAX_COMMIT_RETRIES} commit retries on {table_path}"
    )


def commit_streamed_removes(
    spark,
    table_path: str,
    operation: str,
    header_actions: list[dict],
    light,
    expected_version: int | None = None,
    data_change: bool = True,
    ict_config: dict | None = None,
) -> tuple[int, int]:
    """Commit `header_actions` (commitInfo first; any metaData/txn/add
    actions — all DRIVER-BOUNDED) plus a `remove` action for EVERY live
    file of `light` (a LightSnapshot), the removes streamed EXECUTOR-side
    from files_df through staged text parts and a chunked concatenation —
    the full-table-rewrite commit (TRUNCATE / INSERT OVERWRITE / sink
    overwrite) is O(table) in bytes by spec but no longer in driver RSS
    (round-10 ask #3; the `_write_checkpoint_light`/light-CLONE staging
    pattern applied to remove lists). Returns (version, files_removed).

    OCC is a strict VERSION WATERMARK instead of the per-file fingerprint
    map: the commit must land exactly at expected_version (default
    light.version + 1) — any interleaved commit raises
    ConcurrentWriteError for a re-plan. A full-table rewrite conflicts
    with any concurrent data change anyway, and 10^7 removed AddFiles
    held for the per-file check are precisely the driver allocation this
    path exists to avoid. (Classic sub-threshold paths keep the per-file
    commute check and still let blind appends slide past a TRUNCATE —
    past the threshold a raced full rewrite re-plans instead.)"""
    now = int(time.time() * 1000)
    if expected_version is None:
        expected_version = light.version + 1
    # ict_config: a commit that CHANGES the configuration (overwrite with
    # new properties) must stamp/checkpoint under the POST-commit config
    table_config = (
        ict_config
        if ict_config is not None
        else light.metadata.get("configuration")
    )

    def gen(batches):
        import json as _j

        import pandas as _pd

        for pdf in batches:
            yield _pd.DataFrame(
                {
                    "line": [
                        _j.dumps(
                            {"remove": remove_action(f, data_change, now)},
                            separators=(",", ":"),
                        )
                        for f in _batch_files(pdf, None)
                    ]
                }
            )

    lines_df = light.files_df(spark, full=True).mapInPandas(
        gen, schema="line string"
    )
    return _stream_commit(
        table_path, operation, header_actions, lines_df,
        expected_version, table_config,
    )


def _stream_commit(
    table_path: str,
    operation: str,
    header_actions: list[dict],
    lines_df,
    expected_version: int,
    table_config: dict | None,
) -> tuple[int, int]:
    """Land a commit whose BULK actions arrive as a DataFrame of
    pre-serialized JSON lines: stage them through Spark's native text
    writer, then concatenate header + parts chunk-by-chunk into the
    commit file via fs.create_atomic_stream. Strict version-watermark
    OCC (any race -> ConcurrentWriteError). Returns
    (version, streamed_line_count). Shared by commit_streamed_removes
    and the light row-tracking backfill."""
    log_dir = os.path.join(table_path, "_delta_log")
    fs = get_fs(table_path)
    commit_path = os.path.join(log_dir, f"{expected_version:020d}.json")
    if expected_version > 0:
        # the same writer-feature gate _atomic_commit applies to
        # version>0 commits (this path bypasses it) — EVERY streaming
        # caller gets it, not just the remove path (round-10 review)
        _check_write_protocol(
            DeltaLog(table_path).latest_protocol(), table_path
        )
    with _staged_tmp_dir(fs, log_dir, "stream-commit") as stage:
        lines_df.write.mode("overwrite").text(stage)
        parts = _list_staged_text_parts(fs, stage)
        # the staging job takes real time — re-check the watermark as
        # late as possible; the O_EXCL commit still decides the race
        if _next_version(table_path) != expected_version:
            raise ConcurrentWriteError(
                f"{operation} raced a concurrent commit on {table_path}; "
                "re-run against the new snapshot"
            )
        _stamp_ict(header_actions, log_dir, expected_version, table_config)
        counted = [0]
        try:
            fs.create_atomic_stream(
                commit_path,
                _staged_commit_chunks(
                    fs, table_path, stage, parts, header_actions, counted
                ),
            )
        except FileExistsError:
            DeltaLog.clear_cache()
            raise ConcurrentWriteError(
                f"{operation} raced a concurrent commit on {table_path}; "
                "re-run against the new snapshot"
            ) from None
        n_lines = counted[0]
    DeltaLog.clear_cache()
    _maybe_auto_checkpoint(table_path, expected_version, table_config)
    return expected_version, n_lines


def _list_staged_text_parts(fs, stage: str) -> list:
    """The .txt part files Spark's text writer left in the stage dir,
    name-sorted (skips _SUCCESS and hidden .crc entries)."""
    return sorted(
        (
            fi
            for fi in fs.listdir(stage)
            if fi.name.endswith(".txt") and not fi.name.startswith(".")
        ),
        key=lambda fi: fi.name,
    )


def _staged_commit_chunks(
    fs, base_path: str, stage: str, parts, header_actions, counted=None
):
    """Yield the serialized header actions, then each staged part's bytes
    — 8 MiB blocks through local file IO, whole parts via fs.read_bytes on
    remote schemes — counting streamed newlines into counted[0] when a
    counter is given. The single chunk source for every streamed commit
    (_stream_commit, light CLONE), so torn-commit/cleanup fixes apply
    once."""
    from .fs import is_remote, strip_file_scheme

    yield "".join(
        json.dumps(a, separators=(",", ":")) + "\n" for a in header_actions
    ).encode("utf-8")
    remote = is_remote(base_path)
    for fi in parts:
        p = os.path.join(stage, fi.name)
        if remote:
            block = fs.read_bytes(p)  # O(one part)
            if counted is not None:
                counted[0] += block.count(b"\n")
            yield block
            continue
        with open(strip_file_scheme(p), "rb") as fh:
            while True:
                block = fh.read(8 * 1024 * 1024)
                if not block:
                    break
                if counted is not None:
                    counted[0] += block.count(b"\n")
                yield block


def _add_lines(l2p: dict | None, transform):
    """mapInPandas fn: LightSnapshot.files_df(full=True) batches -> one
    `add` action JSON line per live file, EXECUTOR-side. `transform`
    turns the file's log-form AddFile (_batch_files) into the add dict
    the operation re-emits — add_action of the file as the operation
    lists it — so the stats text rides along unparsed."""

    def gen(batches):
        import pandas as pd

        for pdf in batches:
            yield pd.DataFrame(
                {
                    "line": [
                        json.dumps(
                            {"add": transform(f)}, separators=(",", ":")
                        )
                        for f in _batch_files(pdf, l2p)
                    ]
                }
            )

    return gen


def _shallow_clone_file(f: AddFile, src_path: str) -> AddFile:
    """A source file as a shallow clone lists it: a relative data path
    joined to the source root (the spec allows absolute add paths), and a
    relative (`u`) DV descriptor rewritten to an absolute `p` one so the
    clone resolves the source's DV blob."""
    from .deletion_vectors import dv_absolute_path

    path = f.path
    if not (path.startswith("/") or is_uri(path)):
        path = f"{src_path.rstrip('/')}/{path}"
    dv = f.deletion_vector
    if dv and dv.get("storageType") == "u":
        dv = {
            **dv,
            "storageType": "p",
            "pathOrInlineDv": dv_absolute_path(src_path, dv),
        }
    return replace(f, path=path, deletion_vector=dv)


def _deep_clone_file(fs, f: AddFile, src_path: str, dst_path: str) -> AddFile:
    """Copy one source file (and its DV blob) under a deep clone and
    return the file as the clone lists it: relative paths and stats kept,
    an absolute DV path re-pointed at the clone's copy."""
    from .deletion_vectors import dv_absolute_path

    dv = f.deletion_vector
    if f.path.startswith("/") or is_uri(f.path):
        # deep-cloning a table that itself holds absolute add paths
        # (e.g. a shallow clone): materialize the bytes under the
        # clone with a generated RELATIVE path — joining an absolute
        # path would resolve to the source file itself (copy onto
        # itself) and leave the clone non-isolated
        src_file = f.path
        path = f"part-{uuid.uuid4().hex}-{os.path.basename(f.path)}"
    else:
        src_file = os.path.join(src_path, f.path)
        path = f.path
    dst_file = os.path.join(dst_path, path)
    fs.mkdirs(os.path.dirname(dst_file))
    fs.copy(src_file, dst_file)
    if dv and dv.get("storageType") in ("u", "p"):
        dv_src = dv_absolute_path(src_path, dv)
        if dv_src.startswith(src_path.rstrip("/") + "/"):
            # preserve the relative layout (uuid descriptors may
            # carry a random dir prefix that resolution re-appends)
            rel = dv_src[len(src_path.rstrip("/")) + 1 :]
            dv_dst = os.path.join(dst_path, rel)
            fs.mkdirs(os.path.dirname(dv_dst))
            fs.copy(dv_src, dv_dst)
            if dv.get("storageType") == "p":
                dv = {**dv, "pathOrInlineDv": dv_dst}
        # an absolute "p" outside the source dir stays shared
    return replace(f, path=path, deletion_vector=dv)


def _clone_header(snap, src_path: str, shallow: bool) -> list[dict]:
    """The clone commit's leading actions — commitInfo, the source's
    protocol, its metaData under a fresh table id, and its domain
    metadata. `snap` is a SnapshotState or a LightSnapshot. Domain
    metadata travels with the clone above all for the rowTracking
    high-water mark: without it the clone's first append restarts id
    allocation at -1 and mints ids that collide with materialized ids
    carried inside copied rewritten files."""
    now = int(time.time() * 1000)
    header: list[dict] = [
        {
            "commitInfo": {
                "timestamp": now,
                "operation": "CLONE",
                "operationParameters": {
                    "source": src_path,
                    "sourceVersion": snap.version,
                    "isShallow": shallow,
                },
                "engineInfo": "athena_delta_lake_spark",
            }
        }
    ]
    if snap.protocol:
        header.append({"protocol": snap.protocol})
    header.append(
        {
            "metaData": {
                **snap.metadata,
                "id": str(uuid.uuid4()),
                "createdTime": now,
            }
        }
    )
    for domain, cfg in sorted(snap.domain_metadata.items()):
        header.append(
            {
                "domainMetadata": {
                    "domain": domain,
                    "configuration": cfg,
                    "removed": False,
                }
            }
        )
    return header


def _clone_table_light(spark, fs, light, dst_path: str) -> int:
    """Driver-light SHALLOW clone (round-10 ask #2): the clone commit is
    O(table) in BYTES by spec — every add must be listed — but not in
    driver RSS. The classic path materialized the full classic snapshot
    and built every add action in a driver list (8.6 GiB + the action
    list at 10^7 adds); here the add lines stream from
    LightSnapshot.files_df through Spark's native text writer into a
    staged dir, and the driver CONCATENATES the parts chunk-by-chunk into
    the single version-0 commit through fs.create_atomic_stream — the
    `_write_checkpoint_light` staging pattern applied to a JSON commit.
    Driver memory: O(header + one I/O chunk). The header (_clone_header)
    and the per-file transform (_shallow_clone_file + add_action) are the
    classic clone's; only the file source and the commit sink differ."""
    src_path = light.table_path
    l2p = logical_to_physical(
        light.schema, light.metadata.get("configuration")
    )
    header = _clone_header(light, src_path, True)
    dst_log = os.path.join(dst_path, "_delta_log")
    fs.mkdirs(dst_log)
    _stamp_ict(header, dst_log, 0, light.metadata.get("configuration"))
    lines_df = light.files_df(spark, full=True).mapInPandas(
        _add_lines(
            l2p,
            lambda f: add_action(_shallow_clone_file(f, src_path), True),
        ),
        schema="line string",
    )
    commit_path = os.path.join(dst_log, f"{0:020d}.json")
    with _staged_tmp_dir(fs, dst_log, "clone") as stage:
        lines_df.write.mode("overwrite").text(stage)
        parts = _list_staged_text_parts(fs, stage)
        fs.create_atomic_stream(
            commit_path,
            _staged_commit_chunks(fs, dst_path, stage, parts, header),
        )
    DeltaLog.clear_cache()
    return 0


def clone_table(
    src_path: str,
    dst_path: str,
    version: int | None = None,
    shallow: bool = True,
) -> int:
    """CREATE TABLE dst [SHALLOW] CLONE src [VERSION AS OF v].

    Shallow clone is METADATA-ONLY at any table size — the new log's add
    actions reference the source's data files by ABSOLUTE path (Delta spec
    allows absolute add paths), so cloning a 100 TB table costs one commit.
    The clone then evolves independently: appends/DML land as local
    relative files, removes only drop log references, and VACUUM on the
    clone walks only the clone's directory so source bytes are never
    deleted. Deletion-vector descriptors are rewritten to absolute
    (`storageType: p`) so the clone resolves the source's DV blobs.

    `version` clones a historical snapshot (time-travel clone). Deep clone
    (shallow=False) additionally copies every data file + DV blob into the
    clone, keeping relative paths/stats byte-identical — storage-level
    isolation when the source may be vacuumed away.

    A shallow clone streams its add lines executor-side
    (_clone_table_light) when DeltaLog.light_plane picks the driver-light
    plane at `version` (past the light-planning threshold, with an active
    session).
    """
    src_path = normalize_table_path(src_path)
    dst_path = normalize_table_path(dst_path)
    fs = get_fs(dst_path)
    norm_src, norm_dst = src_path.rstrip("/") + "/", dst_path.rstrip("/") + "/"
    if norm_src.startswith(norm_dst) or norm_dst.startswith(norm_src):
        raise ValueError("clone source and destination must not be nested")
    if fs.is_dir(os.path.join(dst_path, "_delta_log")):
        raise ValueError(f"destination is already a Delta table: {dst_path}")
    if shallow:
        # past the light-planning threshold the clone commit streams from
        # files_df executor-side (see _clone_table_light); deep clone
        # stays classic — it copies every data file anyway, so the
        # driver-side action loop is not its bottleneck
        light = DeltaLog(src_path).light_plane(version)
        if light is not None:
            from pyspark.sql import SparkSession

            return _clone_table_light(
                SparkSession.active(), fs, light, dst_path
            )
    snap = DeltaLog(src_path).snapshot(version)
    l2p = logical_to_physical(snap.schema, snap.metadata.get("configuration"))
    actions = _clone_header(snap, src_path, shallow)
    for f in snap.files:
        f = remap_addfile(f, l2p)
        f = (
            _shallow_clone_file(f, src_path)
            if shallow
            else _deep_clone_file(fs, f, src_path, dst_path)
        )
        # dataChange true; a file's row-id range travels with it (a
        # cloned file is the SAME rows — never-rewritten files would
        # otherwise read NULL _row_id on the clone side)
        actions.append({"add": add_action(f, True)})
    dst_log = os.path.join(dst_path, "_delta_log")
    fs.mkdirs(dst_log)
    _stamp_ict(actions, dst_log, 0, snap.metadata.get("configuration"))
    _atomic_commit(dst_log, 0, actions)
    DeltaLog.clear_cache()
    return 0


def _refs_column(expr: str, col: str) -> bool:
    """Whether a SQL expression string references `col` as an identifier
    (word-boundary match, case-insensitive, backtick-aware)."""
    import re as _re

    return (
        _re.search(
            rf"(?i)(?<![A-Za-z0-9_]){_re.escape(col)}(?![A-Za-z0-9_])", expr
        )
        is not None
    )


def _column_references(snap, col: str) -> list[str]:
    """Every CHECK constraint / generated-column expression that mentions
    `col` — these pin a column against rename/drop."""
    hits = []
    config = snap.metadata.get("configuration") or {}
    for key, expr in config.items():
        if key.startswith(_CONSTRAINT_PREFIX) and _refs_column(expr, col):
            hits.append(f"constraint {key[len(_CONSTRAINT_PREFIX):]}: {expr}")
    for name, expr in _generation_expressions(snap.schema).items():
        if name != col and _refs_column(expr, col):
            hits.append(f"generated column {name}: {expr}")
    return hits


def _stamp_mapping_ids(dt: T.DataType, next_id: list[int]) -> T.DataType:
    """Recursively assign `delta.columnMapping.id` + physicalName (= the
    current name, so already-written files stay readable) to every struct
    field, including nested ones."""
    if isinstance(dt, T.StructType):
        fields = []
        for f in dt.fields:
            next_id[0] += 1
            fields.append(
                T.StructField(
                    f.name,
                    _stamp_mapping_ids(f.dataType, next_id),
                    f.nullable,
                    {
                        **(f.metadata or {}),
                        "delta.columnMapping.id": next_id[0],
                        "delta.columnMapping.physicalName": f.name,
                    },
                )
            )
        return T.StructType(fields)
    if isinstance(dt, T.ArrayType):
        return T.ArrayType(
            _stamp_mapping_ids(dt.elementType, next_id), dt.containsNull
        )
    if isinstance(dt, T.MapType):
        return T.MapType(
            _stamp_mapping_ids(dt.keyType, next_id),
            _stamp_mapping_ids(dt.valueType, next_id),
            dt.valueContainsNull,
        )
    return dt


def _commit_metadata_change(
    table_path: str,
    operation: str,
    params: dict,
    md: dict,
    version: int,
    extra_actions: list[dict] | None = None,
    protocol: dict | None = None,
) -> int:
    """Shared metadata-only commit, pinned to the version AFTER the
    snapshot `md` was derived from: no blind retry, and no TOCTOU window —
    if anything committed since that snapshot, the O_EXCL create loses and
    the caller re-runs against the new state (a retry or late version
    re-allocation would silently clobber the winner's metaData).
    `extra_actions` (e.g. a protocol feature upgrade) land between the
    commitInfo and the metaData. `protocol`: the caller's already-read
    snapshot protocol — passing it saves a SECOND header replay per DDL
    (every caller just derived `md` from a snapshot that carries it)."""
    if protocol is None:
        protocol = DeltaLog(table_path).header().protocol
    _check_write_protocol(protocol, table_path)
    log_dir = os.path.join(table_path, "_delta_log")
    actions = [
        {
            "commitInfo": {
                "timestamp": int(time.time() * 1000),
                "operation": operation,
                "operationParameters": params,
                "engineInfo": "athena_delta_lake_spark",
            }
        },
        *(extra_actions or []),
        {"metaData": md},
    ]
    try:
        _stamp_ict(actions, log_dir, version, md.get("configuration"))
        _atomic_commit(log_dir, version, actions)
    except FileExistsError:
        DeltaLog.clear_cache()
        raise ConcurrentWriteError(
            f"version {version} of {table_path} was committed concurrently; "
            f"re-run {operation} against the new snapshot"
        ) from None
    DeltaLog.clear_cache()
    return version


_ROW_TRACKING_DOMAIN = "delta.rowTracking"
# fixed materialized-column names (the spec allows any name recorded in the
# table configuration; rewritten files carry these hidden parquet columns)
MATERIALIZED_ROW_ID_COL = "_row_id_materialized"
MATERIALIZED_RCV_COL = "_row_commit_version_materialized"


def _row_tracking_enabled(config: dict | None) -> bool:
    return (config or {}).get("delta.enableRowTracking", "").lower() == "true"


def _row_id_hwm(domains: dict) -> int:
    raw = domains.get(_ROW_TRACKING_DOMAIN)
    if not raw:
        return -1
    try:
        return int(json.loads(raw).get("rowIdHighWaterMark", -1))
    except (ValueError, TypeError):
        return -1


def _assign_row_ids(
    adds: list[dict], hwm: int, version: int
) -> tuple[int, dict]:
    """Stamp baseRowId/defaultRowCommitVersion onto fresh add actions and
    return (new high-water mark, the domainMetadata action recording it).
    Every add must carry numRecords stats (the id range is sized by it)."""
    for a in adds:
        if a["add"].get("baseRowId") is not None:
            continue  # re-added existing file (e.g. a DV update): keep range
        stats = a["add"].get("stats")
        n = None
        if stats:
            n = json.loads(stats).get("numRecords")
        if n is None:
            raise ValueError(
                "row tracking requires numRecords stats on every new file "
                "(collect_stats must stay enabled)"
            )
        a["add"]["baseRowId"] = hwm + 1
        a["add"]["defaultRowCommitVersion"] = int(version)
        hwm += int(n)
    return hwm, _row_id_hwm_action(hwm)


def _row_id_hwm_action(hwm: int) -> dict:
    """The domainMetadata action recording the row-id high-water mark."""
    return {
        "domainMetadata": {
            "domain": _ROW_TRACKING_DOMAIN,
            "configuration": json.dumps(
                {"rowIdHighWaterMark": hwm}, separators=(",", ":")
            ),
            "removed": False,
        }
    }


def _row_tracking_header(snap, hwm: int) -> tuple[list[dict], dict]:
    """The enable-row-tracking commit's leading actions — commitInfo, the
    rowTracking + domainMetadata protocol upgrade when missing, metaData
    with the row-tracking configuration, the new high-water mark — and
    that configuration. `snap` is a SnapshotState or a LightSnapshot."""
    config = dict(snap.metadata.get("configuration") or {})
    config["delta.enableRowTracking"] = "true"
    config["delta.rowTracking.materializedRowIdColumnName"] = (
        MATERIALIZED_ROW_ID_COL
    )
    config["delta.rowTracking.materializedRowCommitVersionColumnName"] = (
        MATERIALIZED_RCV_COL
    )
    header: list[dict] = [
        {
            "commitInfo": {
                "timestamp": int(time.time() * 1000),
                "operation": "SET TBLPROPERTIES",
                "operationParameters": {"delta.enableRowTracking": "true"},
                "engineInfo": "athena_delta_lake_spark",
            }
        }
    ]
    upgrade = _protocol_upgrade_action(
        snap.protocol, writer_features=("rowTracking", "domainMetadata")
    )
    if upgrade is not None:
        header.append(upgrade)
    header.append({"metaData": {**snap.metadata, "configuration": config}})
    header.append(_row_id_hwm_action(hwm))
    return header, config


def _enable_row_tracking_light(spark, light) -> int:
    """enable_row_tracking past the light-planning threshold (round-10
    ask #4): the backfill — every live add re-committed with a fresh
    baseRowId — runs EXECUTOR-side. Id ranges come from a distributed
    two-phase prefix sum over files_df's numRecords (per-partition
    cumulative sums + a collected O(partitions) offset map; the frame is
    persisted between the offset job and the line job so range-partition
    sampling cannot reshuffle rows between them and double-assign ids),
    written into the frame's base_row_id/default_rcv columns, and the add
    lines (add_action of each file) stream into the commit through
    _stream_commit. Ids differ from the classic replay ORDER but satisfy
    the same contract: disjoint ranges exactly covering [0, hwm]. EVERY
    live file gets a fresh range, as in the classic backfill — keeping
    pre-existing ids while starting fresh ones at 0 would overlap ranges
    and understate the high-water mark (round-10 review). The header
    (_row_tracking_header) is the classic backfill's."""
    from pyspark.sql import Window
    from pyspark.sql import functions as F

    if _row_tracking_enabled(light.metadata.get("configuration")):
        return light.version
    version = light.version + 1
    l2p = logical_to_physical(
        light.schema, light.metadata.get("configuration")
    )

    fdf = light.files_df(spark, full=True).withColumn(
        "_n", F.get_json_object("stats", "$.numRecords").cast("long")
    )
    bad = fdf.filter(F.col("_n").isNull()).select("path").limit(1).collect()
    if bad:
        raise ValueError(
            f"cannot enable row tracking: {bad[0]['path']} has no "
            "numRecords stats to size its id range"
        )
    staged = (
        fdf.repartitionByRange(_light_part_count(light.table_path), "path")
        .withColumn("_pid", F.spark_partition_id())
        .persist()
    )
    try:
        w = Window.partitionBy("_pid").orderBy("path")
        staged2 = staged.withColumn(
            "_excl", F.sum("_n").over(w) - F.col("_n")
        )
        per_pid = sorted(
            (r["_pid"], r["t"] or 0)
            for r in staged.groupBy("_pid")
            .agg(F.sum("_n").alias("t"))
            .collect()  # O(partitions)
        )
        offsets: dict[int, int] = {}
        # seed ABOVE any prior enablement's high-water mark, mirroring
        # the classic backfill: stale MATERIALIZED ids (<= old hwm) in
        # files rewritten under the old enablement win over baseRowId
        # via coalesce, so fresh ranges must sit past them
        acc = _row_id_hwm(light.domain_metadata) + 1
        for pid, t in per_pid:
            offsets[pid] = acc
            acc += int(t)
        off_expr = F.create_map(
            *[F.lit(x) for kv in offsets.items() for x in kv]
        )
        staged2 = staged2.withColumn(
            "base_row_id", off_expr[F.col("_pid")] + F.col("_excl")
        ).withColumn("default_rcv", F.lit(int(version)))
        lines_df = staged2.mapInPandas(
            _add_lines(l2p, lambda f: add_action(f, False)),
            schema="line string",
        )
        header, config = _row_tracking_header(light, acc - 1)
        v_out, _n_lines = _stream_commit(
            light.table_path,
            "SET TBLPROPERTIES",
            header,
            lines_df,
            version,
            config,
        )
        return v_out
    finally:
        staged.unpersist()


def enable_row_tracking(table_path: str) -> int:
    """ALTER TABLE ... SET TBLPROPERTIES (delta.enableRowTracking=true):
    give every row a STABLE id that survives appends, deletion-vector
    DML, copy-on-write rewrites and OPTIMIZE.

    Metadata-only backfill: every live add is re-committed with a fresh
    `baseRowId` (fresh ids = baseRowId + physical row index; no data
    I/O — file row counts come from numRecords stats). Later rewrites
    MATERIALIZE surviving rows' ids into the rewritten files (hidden
    parquet columns named in the table configuration), and readers
    coalesce(materialized, baseRowId + row_index) — so ids stay stable
    across OPTIMIZE/UPDATE/MERGE while fresh files stay cheap. The
    protocol gains the rowTracking + domainMetadata writer features.
    Past the light-planning threshold the backfill streams executor-side
    (_enable_row_tracking_light) instead of walking the classic snapshot.
    """
    table_path = normalize_table_path(table_path)
    log = DeltaLog(table_path)
    light = log.light_plane()
    if light is not None:
        from pyspark.sql import SparkSession

        return _enable_row_tracking_light(SparkSession.active(), light)
    snap = log.snapshot()
    if _row_tracking_enabled(snap.metadata.get("configuration")):
        return snap.version
    version = snap.version + 1
    l2p = logical_to_physical(snap.schema, snap.metadata.get("configuration"))
    # seed ABOVE any prior enablement's high-water mark (the rowTracking
    # domain survives a property unset): files rewritten under the old
    # enablement carry MATERIALIZED old ids that win over baseRowId via
    # coalesce — fresh ranges restarting at 0 would collide with them
    # (round-10 review). Old materialized ids are mutually disjoint and
    # <= old hwm; fresh ranges above it keep table-wide id uniqueness.
    hwm = _row_id_hwm(snap.domain_metadata)
    backfill: list[dict] = []
    for f in snap.files:
        n = (f.stats or {}).get("numRecords")
        if n is None:
            raise ValueError(
                f"cannot enable row tracking: {f.path} has no numRecords "
                "stats to size its id range"
            )
        # every live file gets a FRESH range, replacing any range it
        # kept from an earlier enablement
        f = replace(
            remap_addfile(f, l2p),
            base_row_id=hwm + 1,
            default_row_commit_version=version,
        )
        backfill.append({"add": add_action(f, False)})
        hwm += int(n)
    header, config = _row_tracking_header(snap, hwm)
    actions = header + backfill
    log_dir = os.path.join(table_path, "_delta_log")
    try:
        _stamp_ict(actions, log_dir, version, config)
        _atomic_commit(log_dir, version, actions)
    except FileExistsError:
        DeltaLog.clear_cache()
        raise ConcurrentWriteError(
            f"version {version} of {table_path} was committed concurrently; "
            "re-run enable_row_tracking against the new snapshot"
        ) from None
    DeltaLog.clear_cache()
    return version


def set_table_comment(table_path: str, comment: str | None) -> int:
    """COMMENT ON TABLE: set/clear `metaData.description` (the Delta
    spec's table-comment field) as a metadata-only commit."""
    table_path = normalize_table_path(table_path)
    snap = DeltaLog(table_path).header()
    md = dict(snap.metadata)
    if comment:
        md["description"] = comment
    else:
        md.pop("description", None)
    return _commit_metadata_change(
        table_path,
        "COMMENT ON TABLE",
        {"comment": comment or ""},
        md,
        snap.version + 1, protocol=snap.protocol)


def set_table_properties(
    table_path: str, properties: dict[str, str]
) -> int:
    """ALTER TABLE ... SET TBLPROPERTIES: metadata-only property merge.

    Mirrors write_delta's configuration handling without requiring a data
    write: enabling in-commit timestamps stamps the enablement version/
    timestamp and upgrades the protocol (inCommitTimestamp writer
    feature), exactly like the write path. delta.columnMapping.mode is
    routed to enable_column_mapping (it must stamp field ids)."""
    if properties.get("delta.columnMapping.mode") not in (None, "none"):
        raise ValueError(
            "use enable_column_mapping() to turn on column mapping "
            "(field ids/physical names must be stamped)"
        )
    if str(properties.get("delta.enableRowTracking", "")).lower() == "true":
        raise ValueError(
            "use enable_row_tracking() to turn on row tracking (live files "
            "must be backfilled with baseRowId ranges)"
        )
    table_path = normalize_table_path(table_path)
    snap = DeltaLog(table_path).header()
    prior_config = dict(snap.metadata.get("configuration") or {})
    config = {**prior_config, **{k: str(v) for k, v in properties.items()}}
    now = int(time.time() * 1000)
    version = snap.version + 1
    if _ict_enabled(config) and not _ict_enabled(prior_config):
        config["delta.inCommitTimestampEnablementVersion"] = str(version)
        config["delta.inCommitTimestampEnablementTimestamp"] = str(now)
    if config == prior_config:
        return snap.version  # idempotent no-op
    md = dict(snap.metadata)
    md["configuration"] = config
    log_dir = os.path.join(table_path, "_delta_log")
    actions: list[dict] = [
        {
            "commitInfo": {
                "timestamp": now,
                "operation": "SET TBLPROPERTIES",
                "operationParameters": {
                    "properties": json.dumps(
                        {k: str(v) for k, v in properties.items()},
                        separators=(",", ":"),
                    )
                },
                "engineInfo": "athena_delta_lake_spark",
            }
        }
    ]
    upgrade_feats: list[str] = []
    if _ict_enabled(config) and not _ict_enabled(prior_config):
        upgrade_feats.append("inCommitTimestamp")
    if cdf_enabled(config) and not cdf_enabled(prior_config):
        upgrade_feats.append("changeDataFeed")
    if upgrade_feats:
        upgrade = _protocol_upgrade_action(
            snap.protocol, writer_features=tuple(upgrade_feats)
        )
        if upgrade is not None:
            actions.append(upgrade)
    actions.append({"metaData": md})
    try:
        _stamp_ict(actions, log_dir, version, config)
        _atomic_commit(log_dir, version, actions)
    except FileExistsError:
        DeltaLog.clear_cache()
        raise ConcurrentWriteError(
            f"version {version} of {table_path} was committed concurrently; "
            "re-run SET TBLPROPERTIES against the new snapshot"
        ) from None
    DeltaLog.clear_cache()
    return version


def unset_table_properties(table_path: str, keys: list[str]) -> int:
    """ALTER TABLE ... UNSET TBLPROPERTIES (IF EXISTS semantics)."""
    table_path = normalize_table_path(table_path)
    snap = DeltaLog(table_path).header()
    config = dict(snap.metadata.get("configuration") or {})
    dropped = [k for k in keys if k in config]
    if not dropped:
        return snap.version
    for k in dropped:
        del config[k]
    md = dict(snap.metadata)
    md["configuration"] = config
    return _commit_metadata_change(
        table_path,
        "UNSET TBLPROPERTIES",
        {"properties": json.dumps(dropped, separators=(",", ":"))},
        md,
        snap.version + 1, protocol=snap.protocol)


def enable_column_mapping(table_path: str) -> int:
    """ALTER TABLE ... SET TBLPROPERTIES (delta.columnMapping.mode=name):
    upgrade an existing table to column-mapping mode.

    Metadata-only: every field (nested included) gets a stable
    `delta.columnMapping.id` and a physicalName equal to its CURRENT name,
    so all previously-written parquet files remain exactly correct; only
    columns added/renamed afterwards diverge physical-from-logical. The
    protocol gains the `columnMapping` reader+writer feature so mapping-
    unaware engines stop at a clean protocol error instead of mis-reading
    renamed columns. Idempotent: returns the current version when mapping
    is already on.

    This is the prerequisite for rename_column / drop_column — both are
    then pure metadata operations at any table size (no data rewrite),
    which is the only viable shape for a 100 TB table.
    """
    table_path = normalize_table_path(table_path)
    snap = DeltaLog(table_path).header()
    config = dict(snap.metadata.get("configuration") or {})
    if config.get("delta.columnMapping.mode", "none") != "none":
        return snap.version
    next_id = [0]
    stamped = _stamp_mapping_ids(snap.schema, next_id)
    config["delta.columnMapping.mode"] = "name"
    config["delta.columnMapping.maxColumnId"] = str(next_id[0])
    md = dict(snap.metadata)
    md["schemaString"] = struct_to_schema_string(stamped)
    md["configuration"] = config
    version = snap.version + 1
    log_dir = os.path.join(table_path, "_delta_log")
    actions = [
        {
            "commitInfo": {
                "timestamp": int(time.time() * 1000),
                "operation": "SET TBLPROPERTIES",
                "operationParameters": {"delta.columnMapping.mode": "name"},
                "engineInfo": "athena_delta_lake_spark",
            }
        }
    ]
    upgrade = _protocol_upgrade_action(
        snap.protocol, reader_features=("columnMapping",)
    )
    if upgrade is not None:
        actions.append(upgrade)
    actions.append({"metaData": md})
    try:
        _stamp_ict(actions, log_dir, version, config)
        _atomic_commit(log_dir, version, actions)
    except FileExistsError:
        DeltaLog.clear_cache()
        raise ConcurrentWriteError(
            f"version {version} of {table_path} was committed concurrently; "
            "re-run enable_column_mapping against the new snapshot"
        ) from None
    DeltaLog.clear_cache()
    return version


def rename_column(table_path: str, old: str, new: str) -> int:
    """ALTER TABLE ... RENAME COLUMN old TO new — metadata-only (requires
    column mapping; call enable_column_mapping first). The field keeps its
    id and physicalName, so no data file is touched: existing files keep
    storing the physical name and the reader maps it to the new logical
    name. Works for partition columns too (partitionColumns metadata is
    logical; partition dirs/values stay physical)."""
    table_path = normalize_table_path(table_path)
    snap = DeltaLog(table_path).header()
    config = snap.metadata.get("configuration") or {}
    if config.get("delta.columnMapping.mode", "none") == "none":
        raise ValueError(
            "rename_column requires column mapping; call "
            "enable_column_mapping(table_path) first"
        )
    names = [f.name for f in snap.schema.fields]
    if old not in names:
        raise ValueError(f"no such column: {old}")
    if new.lower() in {n.lower() for n in names}:
        raise ValueError(f"column already exists: {new}")
    refs = _column_references(snap, old)
    if refs:
        raise ValueError(
            f"cannot rename {old}: referenced by " + "; ".join(refs)
        )
    fields = [
        T.StructField(new, f.dataType, f.nullable, f.metadata)
        if f.name == old
        else f
        for f in snap.schema.fields
    ]
    md = dict(snap.metadata)
    md["schemaString"] = struct_to_schema_string(T.StructType(fields))
    md["partitionColumns"] = [
        new if c == old else c for c in (md.get("partitionColumns") or [])
    ]
    return _commit_metadata_change(
        table_path, "RENAME COLUMN", {"from": old, "to": new}, md,
        snap.version + 1, protocol=snap.protocol)


# Legal widenings per the Delta typeWidening table feature (numeric set;
# every pair is a promotion Spark 4's parquet readers perform natively, so
# existing files need no rewrite and stats stay comparable).
_INT_DIGITS = {"byte": 3, "short": 5, "integer": 10, "long": 20}
_WIDENINGS = {
    ("byte", "short"), ("byte", "integer"), ("byte", "long"),
    ("short", "integer"), ("short", "long"),
    ("integer", "long"),
    ("float", "double"),
    ("byte", "double"), ("short", "double"), ("integer", "double"),
}


_SIMPLE_TYPES = {
    "byte": T.ByteType, "tinyint": T.ByteType,
    "short": T.ShortType, "smallint": T.ShortType,
    "int": T.IntegerType, "integer": T.IntegerType,
    "long": T.LongType, "bigint": T.LongType,
    "float": T.FloatType, "real": T.FloatType,
    "double": T.DoubleType,
}


def _parse_simple_type(s: str) -> T.DataType:
    """Session-free parser for the numeric DDL names widening accepts."""
    import re as _re

    low = s.strip().lower()
    if low in _SIMPLE_TYPES:
        return _SIMPLE_TYPES[low]()
    m = _re.fullmatch(r"decimal\s*\(\s*(\d+)\s*,\s*(\d+)\s*\)", low)
    if m:
        return T.DecimalType(int(m.group(1)), int(m.group(2)))
    raise ValueError(f"unsupported type for widening: {s!r}")


def _is_widening(src: T.DataType, dst: T.DataType) -> bool:
    if (src.typeName(), dst.typeName()) in _WIDENINGS:
        return True
    if isinstance(dst, T.DecimalType):
        if isinstance(src, T.DecimalType):
            return (
                dst.scale >= src.scale
                and dst.precision - dst.scale >= src.precision - src.scale
                and (dst.precision, dst.scale) != (src.precision, src.scale)
            )
        digits = _INT_DIGITS.get(src.typeName())
        return digits is not None and dst.precision - dst.scale >= digits
    return False


def alter_column_type(table_path: str, column: str, new_type) -> int:
    """ALTER TABLE ... ALTER COLUMN col TYPE wider — the Delta
    typeWidening table feature: a metadata-only schema change (zero data
    I/O) recording the transition in the field's `delta.typeChanges`
    metadata, with the typeWidening reader+writer feature added to the
    protocol. Existing files keep their narrow physical type; readers
    promote at scan time (verified native in Spark 4's parquet readers),
    and any later rewrite materializes the wide type. Only lossless
    numeric widenings are accepted (byte<short<int<long, float->double,
    int-family->double/decimal, decimal precision growth)."""
    table_path = normalize_table_path(table_path)
    if isinstance(new_type, str):
        new_type = _parse_simple_type(new_type)
    snap = DeltaLog(table_path).header()
    field = next((f for f in snap.schema.fields if f.name == column), None)
    if field is None:
        raise ValueError(f"no such column: {column}")
    if not _is_widening(field.dataType, new_type):
        raise ValueError(
            f"not a supported widening: {field.dataType.simpleString()} "
            f"-> {new_type.simpleString()}"
        )
    if column in (snap.partition_columns or []):
        raise ValueError(f"cannot widen partition column: {column}")
    refs = _column_references(snap, column)
    if refs:
        raise ValueError(
            f"cannot widen {column}: referenced by " + "; ".join(refs)
        )
    version = snap.version + 1
    meta = dict(field.metadata or {})
    changes = list(meta.get("delta.typeChanges") or [])
    from .types import spark_type_to_delta

    changes.append(
        {
            # Delta type names ("integer", not Spark's "int") per the
            # typeWidening spec's typeChanges entries
            "fromType": spark_type_to_delta(field.dataType),
            "toType": spark_type_to_delta(new_type),
            "tableVersion": version,
        }
    )
    meta["delta.typeChanges"] = changes
    fields = [
        T.StructField(f.name, new_type, f.nullable, meta)
        if f.name == column
        else f
        for f in snap.schema.fields
    ]
    md = dict(snap.metadata)
    md["schemaString"] = struct_to_schema_string(T.StructType(fields))
    upgrade = _protocol_upgrade_action(
        snap.protocol, reader_features=("typeWidening",)
    )
    return _commit_metadata_change(
        table_path,
        "ALTER COLUMN",
        {
            "column": column,
            "fromType": field.dataType.simpleString(),
            "toType": new_type.simpleString(),
        },
        md,
        version,
        extra_actions=[upgrade] if upgrade else None, protocol=snap.protocol)


def drop_column(table_path: str, name: str) -> int:
    """ALTER TABLE ... DROP COLUMN — metadata-only (requires column
    mapping). The column's data stays in the files but is no longer part
    of the schema, so scans never read it; a later add_columns with the
    same logical name gets a FRESH id + physical name and reads NULL from
    old files (never the dropped column's bytes), per the Delta spec."""
    table_path = normalize_table_path(table_path)
    snap = DeltaLog(table_path).header()
    config = snap.metadata.get("configuration") or {}
    if config.get("delta.columnMapping.mode", "none") == "none":
        raise ValueError(
            "drop_column requires column mapping; call "
            "enable_column_mapping(table_path) first"
        )
    names = [f.name for f in snap.schema.fields]
    if name not in names:
        raise ValueError(f"no such column: {name}")
    if len(names) == 1:
        raise ValueError("cannot drop the only column")
    if name in (snap.partition_columns or []):
        raise ValueError(f"cannot drop partition column: {name}")
    refs = _column_references(snap, name)
    if refs:
        raise ValueError(
            f"cannot drop {name}: referenced by " + "; ".join(refs)
        )
    md = dict(snap.metadata)
    md["schemaString"] = struct_to_schema_string(
        T.StructType([f for f in snap.schema.fields if f.name != name])
    )
    return _commit_metadata_change(
        table_path, "DROP COLUMN", {"column": name}, md, snap.version + 1, protocol=snap.protocol)


def set_domain_metadata(
    table_path: str,
    domain: str,
    configuration: str | None = None,
    removed: bool = False,
) -> int:
    """Commit a `domainMetadata` action: named, engine-scoped metadata that
    rides the log transactionally (Delta writer feature `domainMetadata` —
    what clustering implementations use for their state). Last writer wins
    per domain; removed=True drops the domain. Replay exposes the live set
    as `SnapshotState.domain_metadata`; checkpoints carry it."""
    now = int(time.time() * 1000)
    version = _next_version(table_path)
    log_dir = os.path.join(table_path, "_delta_log")
    for _attempt in range(_MAX_COMMIT_RETRIES + 1):
        # rebuilt per attempt: the protocol upgrade (if any) must come from
        # the CURRENT snapshot, or a retry after losing a race would clobber
        # features a concurrent writer just added
        snap = DeltaLog(table_path).header()
        actions = [
            {
                "commitInfo": {
                    "timestamp": now,
                    "operation": "SET DOMAIN METADATA",
                    "operationParameters": {"domain": domain},
                    "engineInfo": "athena_delta_lake_spark",
                }
            },
            {
                "domainMetadata": {
                    "domain": domain,
                    "configuration": configuration,
                    "removed": bool(removed),
                }
            },
        ]
        # first domainMetadata on this table: declare the writer feature so
        # feature-unaware external writers stop cleanly (Delta spec:
        # domainMetadata requires minWriterVersion 7 + the named feature)
        upgrade = _protocol_upgrade_action(
            snap.protocol, writer_features=("domainMetadata",)
        )
        if upgrade is not None:
            actions.insert(1, upgrade)
        config = snap.metadata.get("configuration")
        try:
            _stamp_ict(actions, log_dir, version, config)
            _atomic_commit(log_dir, version, actions)
            DeltaLog.clear_cache()
            return version
        except FileExistsError:
            DeltaLog.clear_cache()
            version = _next_version(table_path)  # domain write commutes
    raise ConcurrentWriteError(
        f"gave up after {_MAX_COMMIT_RETRIES} commit retries on {table_path}"
    )


def compact_log(table_path: str, start: int, end: int) -> str:
    """Minor log compaction (delta-spark >= 3.0 layout): write
    `<start>.<end>.compacted.json` holding the RECONCILED actions of the
    inclusive commit range — the final protocol/metaData, net add actions
    (added in range and not re-removed), remove tombstones, the latest txn
    per appId, and live domainMetadata. Replay (log.py) prefers the
    compacted file over the per-commit JSONs whenever the range fits, and
    keeps working after third-party maintenance deletes those commits.
    commitInfo/cdc actions are dropped (they carry no snapshot state).
    Each commit goes through log.fold_commit; a tombstone survives unless
    the live add has its exact (path, DV uniqueId), so the remove(p, dv1)
    of a merge-on-read re-add add(p, dv2) is kept for readers that key
    files by that pair."""
    from .log import DeltaLog, dv_unique_id, fold_commit

    if not 0 <= start <= end:
        raise ValueError(f"bad compaction range [{start}, {end}]")
    log = DeltaLog(table_path)
    if end > log.latest_version():
        raise ValueError(
            f"compaction range end {end} exceeds latest version "
            f"{log.latest_version()}"
        )
    adds: dict[str, dict] = {}
    removes: dict[tuple, dict] = {}
    metadata = None
    protocol = None
    txns: dict[str, dict] = {}
    domains: dict[str, dict] = {}
    for v in range(start, end + 1):
        acts = log.commit_actions(v)
        fold_commit(adds, acts, removes, decode=lambda add: add)
        for a in acts:
            if "metaData" in a:
                metadata = a
            elif "protocol" in a:
                protocol = a
            elif "txn" in a:
                txns[a["txn"].get("appId", "")] = a
            elif "domainMetadata" in a:
                domains[a["domainMetadata"]["domain"]] = a
    out = os.path.join(
        table_path, "_delta_log", f"{start:020d}.{end:020d}.compacted.json"
    )
    data = "".join(
        json.dumps(a, separators=(",", ":")) + "\n"
        for a in (
            ([protocol] if protocol else [])
            + ([metadata] if metadata else [])
            + list(txns.values())
            + list(domains.values())
            + [
                {"remove": r}
                for (p, dv), r in removes.items()
                if p not in adds
                or dv_unique_id(adds[p].get("deletionVector")) != dv
            ]
            + [{"add": a} for a in adds.values()]
        )
    )
    # write-to-temp + rename so concurrent replayers never observe a torn
    # compacted file (rename is atomic on POSIX/HDFS/ABFS; on S3A the
    # worst case is a brief copy window, and replay falls back to the
    # per-commit JSONs when the file is unreadable)
    fs = get_fs(table_path)
    tmp = out + ".tmp"
    fs.write_bytes(tmp, data.encode("utf-8"))
    try:
        fs.move(tmp, out)
    except OSError:
        # Hadoop rename refuses an existing destination: re-compactions
        # of the same range are idempotent, so replace via delete+rename
        fs.delete(out)
        fs.move(tmp, out)
    return out


def cleanup_log(table_path: str, retention_hours: float | None = None) -> dict:
    """Delete commit JSONs already covered by a checkpoint and older than
    the retention window. When `retention_hours` is None the table's
    `delta.logRetentionDuration` property applies, else the 7-day default.
    The snapshot keeps replaying from the checkpoint; time travel to
    cleaned versions is gone — same contract as Delta's metadata cleanup.
    Never touches the checkpoint itself, `_last_checkpoint`, or
    post-checkpoint commits."""
    table_path = normalize_table_path(table_path)
    fs = get_fs(table_path)
    log_dir = os.path.join(table_path, "_delta_log")
    if retention_hours is None:
        from .dml import retention_hours_from_interval

        try:
            # configuration is a header fact — never replay the file list
            # to read one retention key
            cfg = DeltaLog(table_path).header().metadata.get("configuration")
        except (FileNotFoundError, ValueError):
            cfg = None
        retention_hours = retention_hours_from_interval(
            (cfg or {}).get("delta.logRetentionDuration")
        )
        if retention_hours is None:
            retention_hours = 168.0
    entries = fs.listdir(log_dir)
    last_cp = -1
    for fi in entries:
        if ".checkpoint" in fi.name and fi.name.endswith(".parquet"):
            last_cp = max(last_cp, int(fi.name.split(".")[0]))
    if last_cp < 0:
        return {"removed": [], "checkpoint": None}
    cutoff_ms = (time.time() - retention_hours * 3600.0) * 1000.0
    removed = []
    for fi in entries:
        m = __import__("re").match(r"^(\d{20})\.json$", fi.name)
        if not m or int(m.group(1)) >= last_cp:
            continue
        if fi.mtime_ms >= cutoff_ms:
            continue
        fs.delete(os.path.join(log_dir, fi.name))
        removed.append(fi.name)
    DeltaLog.clear_cache()
    return {"removed": removed, "checkpoint": last_cp}
