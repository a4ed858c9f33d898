"""Native Delta Lake transaction-log replay -> Snapshot.

This is the engine core the reference delegated to the `delta-standalone`
library (`DeltaLog.forTable(conf, path).snapshot`,
/root/reference/DeltaMetadataHandler.scala:99,117,150; dep build.sbt:37).
Rebuilt natively: read `_delta_log/NNNNNNNNNNNNNNNNNNNN.json` commit files
(newline-delimited JSON actions) plus the optional Parquet checkpoint
referenced by `_last_checkpoint`, and reconcile `add`/`remove` actions into
the live snapshot: (schema, partition columns, live data files with typed
partition values and per-file stats, version).

Improvements over the reference (SURVEY §2.C):
- snapshot caching keyed by (path, version) — the reference re-replayed the
  log on every request;
- time travel (`version=` parameter);
- per-file min/max/nullCount stats retained for data skipping — the
  reference ignored them;
- O(files) replay — the reference's split generation was O(partitions*files).

Scale posture: commit JSON files are small and bounded per commit; the
checkpoint Parquet is read via pyarrow in streaming batches. File metadata is
held as a list of dataclasses on the driver — the same choice Delta's own
Spark implementation makes for planning (an InMemoryLogReplay); for tables
whose *metadata* exceeds driver memory, `Snapshot.files_df` exposes the file
list as a distributed DataFrame.
"""

from __future__ import annotations

import json
import os
import re
import time
from dataclasses import dataclass, field
from urllib.parse import quote as _quote

from pyspark.sql import types as T

from .fs import get_fs
from .types import (
    cast_partition_value,
    logical_to_physical,
    physical_to_logical,
    schema_string_to_struct,
)

_COMMIT_RE = re.compile(r"^(\d{20})\.json$")
# minor log compaction (delta-spark >= 3.0): one file holding the
# RECONCILED actions of the inclusive commit range [start, end]
_COMPACTED_RE = re.compile(r"^(\d{20})\.(\d{20})\.compacted\.json$")
_CHECKPOINT_RE = re.compile(r"^(\d{20})\.checkpoint(\.\d+\.\d+)?\.parquet$")
# V2 ("uuid-named") checkpoint manifest: NNN.checkpoint.<uuid>.{json|parquet}.
# The single non-numeric middle segment distinguishes it from both classic
# forms (no middle segment / two numeric part segments).
_CHECKPOINT_V2_RE = re.compile(
    r"^(\d{20})\.checkpoint\.(?!\d+\.\d+\.parquet$)([^.]+)\.(json|parquet)$"
)


def _join(*parts: str) -> str:
    """URI-safe join (os.path.join would misbehave on absolute segments)."""
    return "/".join(p.rstrip("/") for p in parts)


@dataclass(frozen=True)
class AddFile:
    """A live data file in a snapshot (Delta `add` action).

    `stats_raw` holds the stats JSON *unparsed* (string) straight from the
    log; `.stats` parses lazily on first touch and caches. At 10^6 files
    eager parsing was ~40% of replay wall-time and most of the driver RSS
    (measured, tools/meta_scale.py) — a partition-pruned scan never needs
    the data-column stats of the files it skips."""

    path: str  # relative to the table root (URL-decoded)
    partition_values: dict[str, str | None]
    size: int
    modification_time: int
    stats_raw: str | dict | None = None  # raw stats JSON (or pre-parsed dict)
    deletion_vector: dict | None = None  # DV descriptor (deletionVectors feature)
    base_row_id: int | None = None  # rowTracking: first fresh row id of the file
    default_row_commit_version: int | None = None  # rowTracking

    @property
    def stats(self) -> dict | None:
        """Parsed stats (numRecords/minValues/maxValues/nullCount), lazily
        decoded from stats_raw and cached per instance."""
        d = self.__dict__
        if "_stats_cache" not in d:
            object.__setattr__(self, "_stats_cache", _parse_stats(self.stats_raw))
        return d["_stats_cache"]

    def stats_json(self) -> str | None:
        """Stats as a compact JSON string (None when absent or empty) —
        zero-parse passthrough when replay kept the original log text
        (checkpoint writes, distributed pruning)."""
        raw = self.stats_raw
        if not raw or isinstance(raw, str):
            return raw or None
        return json.dumps(raw, separators=(",", ":"))


@dataclass
class SnapshotState:
    version: int
    metadata: dict  # raw metaData action
    protocol: dict
    schema: T.StructType
    partition_columns: list[str]
    files: list[AddFile]
    table_path: str
    txns: dict = field(default_factory=dict)  # appId -> last committed txn version
    domain_metadata: dict = field(default_factory=dict)  # domain -> configuration

    @property
    def num_files(self) -> int:
        return len(self.files)

    def files_df(self, spark):
        """The live-file metadata as a DataFrame — for tables whose file
        COUNT strains the driver (audits, file-size histograms, partition
        skew checks run distributed instead of in a Python loop).

        numRecords comes from a regex over the RAW stats text (the spec
        types it as an integer literal) so a million-file audit never
        json-parses a million stats blobs driver-side."""
        from pyspark.sql import types as T

        schema = T.StructType(
            [
                T.StructField("path", T.StringType(), False),
                T.StructField(
                    "partition_values",
                    T.MapType(T.StringType(), T.StringType(), True),
                    False,
                ),
                T.StructField("size", T.LongType(), False),
                T.StructField("modification_time", T.LongType(), False),
                T.StructField("num_records", T.LongType(), True),
                T.StructField("dv_cardinality", T.LongType(), True),
            ]
        )
        fs = self.files
        try:
            # arrow path: ~2x the pickled row path at 10^6 files
            import pandas as pd

            pdf = pd.DataFrame(
                {
                    "path": [f.path for f in fs],
                    "partition_values": [f.partition_values or {} for f in fs],
                    "size": pd.Series([f.size for f in fs], dtype="int64"),
                    "modification_time": pd.Series(
                        [f.modification_time for f in fs], dtype="int64"
                    ),
                    "num_records": pd.Series(
                        [_fast_num_records(f) for f in fs], dtype="Int64"
                    ),
                    "dv_cardinality": pd.Series(
                        [
                            int(f.deletion_vector["cardinality"])
                            if f.deletion_vector
                            and "cardinality" in f.deletion_vector
                            else None
                            for f in fs
                        ],
                        dtype="Int64",
                    ),
                }
            )
            return spark.createDataFrame(pdf, schema)
        except Exception:
            pass  # fall back to the row path (exotic values)
        rows = [
            (
                f.path,
                f.partition_values or {},
                f.size,
                f.modification_time,
                _fast_num_records(f),
                int(f.deletion_vector["cardinality"])
                if f.deletion_vector and "cardinality" in f.deletion_vector
                else None,
            )
            for f in self.files
        ]
        return spark.createDataFrame(rows, schema)


def remap_addfile(f: AddFile, name_map: dict[str, str] | None) -> AddFile:
    """Rename one AddFile's column keys through `name_map`: its
    partitionValues keys and its stats minValues/maxValues/nullCount keys.
    This is the package's only such rename, used in both directions on
    column-mapped tables — physical->logical (`physical_to_logical`) when
    replay or a pruned collect normalizes log-form adds, logical->physical
    (`logical_to_physical`) before add_action re-emits a live file. With
    no map it returns `f` itself: no copy and no stats parse, so unmapped
    tables pass the log's stats text through untouched."""
    if not name_map:
        return f

    def _remap(d):
        if not d:
            return d
        return {name_map.get(k, k): v for k, v in d.items()}

    stats = f.stats
    if stats:
        stats = {
            **stats,
            "minValues": _remap(stats.get("minValues")),
            "maxValues": _remap(stats.get("maxValues")),
            "nullCount": _remap(stats.get("nullCount")),
        }
    # the constructor, not dataclasses.replace: this runs once per add
    # in every replay of a mapped table
    return AddFile(
        path=f.path,
        partition_values=_remap(f.partition_values) or {},
        size=f.size,
        modification_time=f.modification_time,
        stats_raw=stats,
        deletion_vector=f.deletion_vector,
        base_row_id=f.base_row_id,
        default_row_commit_version=f.default_row_commit_version,
    )


def _null(x):
    """None for a SQL NULL as Spark Rows and mapInPandas batches hand it
    over: None, NaN (nullable longs arrive as float64) or pd.NA."""
    if x is None:
        return None
    try:
        return None if x != x else x
    except TypeError:  # pd.NA has no truth value
        return None


def _opt_int(x) -> int | None:
    x = _null(x)
    return None if x is None else int(x)


def addfile_from_files_row(r, l2p: dict[str, str] | None = None) -> AddFile:
    """One `LightSnapshot.files_df(full=True)` row — a Spark Row or a
    pandas record dict — as a LOG-FORM AddFile, the same shape
    addfile_from_action yields for the file's commit or checkpoint row:
    partition keys mapped back to physical names with `l2p` (files_df
    exposes them logical), the raw stats text kept as is (it is already
    physical), the DV descriptor decoded from its JSON column."""
    pv = dict(_null(r["partition_values"]) or {})
    if l2p:
        pv = {l2p.get(k, k): v for k, v in pv.items()}
    dvj = _null(r["dv_json"])
    return AddFile(
        path=r["path"],
        partition_values=pv,
        size=_opt_int(r["size"]),
        modification_time=_opt_int(r["modification_time"]),
        stats_raw=_null(r["stats"]) or None,
        deletion_vector=json.loads(dvj) if dvj else None,
        base_row_id=_opt_int(r["base_row_id"]),
        default_row_commit_version=_opt_int(r["default_rcv"]),
    )


def add_action(f: AddFile, data_change: bool) -> dict:
    """The `add` action body for a LOG-FORM AddFile — the inverse of
    addfile_from_action, and the one encoder for every live file the
    package re-emits (checkpoint rows, clone commits, the row-tracking
    backfill, DV re-adds, RESTORE). The path is percent-encoded as commit
    JSONs store it, stats_json() passes the stats text through untouched,
    and absent optional fields are left out: commit JSON omits them and
    a checkpoint's pa.Table.from_pylist fills them with null. A file
    carrying a row-id range emits baseRowId and defaultRowCommitVersion
    together."""
    add = {
        "path": _quote(f.path, safe="/="),
        "partitionValues": f.partition_values or {},
        "size": f.size,
        "modificationTime": f.modification_time,
        "dataChange": data_change,
    }
    stats = f.stats_json()
    if stats:
        add["stats"] = stats
    if f.deletion_vector:
        add["deletionVector"] = f.deletion_vector
    if f.base_row_id is not None:
        add["baseRowId"] = f.base_row_id
    if f.base_row_id is not None or f.default_row_commit_version is not None:
        add["defaultRowCommitVersion"] = f.default_row_commit_version
    return add


def remove_action(f: AddFile, data_change: bool, ts: int) -> dict:
    """The `remove` body retiring the live entry `f` — the one remove
    encoder, next to add_action. It names the entry by its protocol
    identity, the path plus the deletion vector it carries, so a reader
    that keys files by (path, DV uniqueId) retires exactly that entry.
    partitionValues, size and extendedFileMetadata are optional in the
    protocol and no reader here uses them; leaving them out keeps
    copy-on-write removes to path, deletionTimestamp and dataChange."""
    rem = {
        "path": _quote(f.path, safe="/="),
        "deletionTimestamp": ts,
        "dataChange": data_change,
    }
    if f.deletion_vector:
        rem["deletionVector"] = f.deletion_vector
    return rem


def dv_unique_id(dv: dict | None) -> str | None:
    """A deletion vector's uniqueId as the protocol defines it:
    storageType + pathOrInlineDv, with '@offset' appended when the DV
    has an offset. None for a file without a DV."""
    if not dv:
        return None
    uid = f"{dv.get('storageType')}{dv.get('pathOrInlineDv')}"
    off = dv.get("offset")
    return uid if off is None else f"{uid}@{off}"


@dataclass
class LightSnapshot:
    """DRIVER-LIGHT snapshot for the 10^7+ file regime (round-7 ask #6),
    chosen automatically by DeltaLog.light_plane()/header(): the header
    (metadata/protocol/schema/txns/domains) is replayed driver-side
    WITHOUT materializing a single checkpoint AddFile — file metadata
    stays in the checkpoint parquet, read by EXECUTORS on demand.
    Post-checkpoint tail commits form a small
    overlay (new adds + dead paths). files_df() is the consumption
    surface: the same columns audits and the distributed prune use,
    equality-tested against the classic snapshot.

    Driver memory: O(header + tail-commit volume), independent of table
    file count — the classic snapshot measured 8.6 GiB RSS at 10^7 adds
    (PERF_TRIAGE_r6); this path holds none of them.
    """

    version: int
    metadata: dict
    protocol: dict
    schema: T.StructType
    partition_columns: list[str]
    table_path: str
    txns: dict
    domain_metadata: dict
    checkpoint_paths: list[str]  # absolute parquet paths (parts/sidecars)
    overlay_adds: list  # AddFile list from tail commits (mapped-normalized)
    dead_paths: set  # removed-or-replaced since the checkpoint
    # overlay stats in their ORIGINAL (physical-keyed) log form: files_df
    # exposes stats under PHYSICAL column names uniformly — checkpoint
    # rows are stored that way, and rewriting 10^7 JSON blobs
    # executor-side to rename keys would defeat the point. prune_df maps
    # logical predicate columns to physical stats keys instead.
    overlay_raw_stats: list = None

    def files_df(self, spark, full: bool = False):
        """Live-file metadata as a DataFrame: checkpoint adds read
        executor-side, minus the dead overlay, plus the tail adds —
        columns (path, partition_values, size, modification_time, stats,
        dv_cardinality), partition keys normalized to LOGICAL names.

        `full=True` appends the columns needed to reconstruct COMPLETE
        AddFiles driver-side (collect_pruned_add_files): the whole
        deletion-vector descriptor as JSON plus the row-tracking fields —
        kept off the default projection so audits and the distributed
        prune never pay for them."""
        from pyspark.sql import functions as F
        from pyspark.sql import types as ST

        out_fields = [
            ST.StructField("path", ST.StringType(), False),
            ST.StructField(
                "partition_values",
                ST.MapType(ST.StringType(), ST.StringType(), True),
                True,
            ),
            ST.StructField("size", ST.LongType(), True),
            ST.StructField("modification_time", ST.LongType(), True),
            ST.StructField("stats", ST.StringType(), True),
            ST.StructField("dv_cardinality", ST.LongType(), True),
        ]
        if full:
            out_fields += [
                ST.StructField("dv_json", ST.StringType(), True),
                ST.StructField("base_row_id", ST.LongType(), True),
                ST.StructField("default_rcv", ST.LongType(), True),
            ]
        out_schema = ST.StructType(out_fields)
        pieces = []
        if self.checkpoint_paths:
            cp = spark.read.parquet(*self.checkpoint_paths)
            add_fields = {
                f.name for f in cp.schema["add"].dataType.fields
            }

            def _af(name, cast=None):
                if name in add_fields:
                    c = F.col(f"add.{name}")
                    return c.cast(cast) if cast else c
                return F.lit(None).cast(cast or "string")

            cols = [
                # url_decode is form-decoding ('+' -> space); log paths
                # are percent-encoded with literal '+' allowed — shield it
                F.url_decode(
                    F.regexp_replace(F.col("add.path"), r"\+", "%2B")
                ).alias("path"),
                _af("partitionValues").alias("partition_values"),
                _af("size", "long").alias("size"),
                _af("modificationTime", "long").alias("modification_time"),
                _af("stats").alias("stats"),
                (
                    F.col("add.deletionVector.cardinality").cast("long")
                    if "deletionVector" in add_fields
                    else F.lit(None).cast("long")
                ).alias("dv_cardinality"),
            ]
            if full:
                cols += [
                    (
                        F.to_json(F.col("add.deletionVector"))
                        if "deletionVector" in add_fields
                        else F.lit(None).cast("string")
                    ).alias("dv_json"),
                    _af("baseRowId", "long").alias("base_row_id"),
                    _af("defaultRowCommitVersion", "long").alias(
                        "default_rcv"
                    ),
                ]
            df = cp.where(F.col("add").isNotNull()).select(*cols)
            p2l = self._physical_to_logical()
            if p2l:
                m = F.create_map(
                    *[F.lit(x) for kv in p2l.items() for x in kv]
                )
                df = df.withColumn(
                    "partition_values",
                    F.transform_keys(
                        "partition_values",
                        lambda k, _v: F.coalesce(m[k], k),
                    ),
                )
            if self.dead_paths:
                dead = spark.createDataFrame(
                    [(p,) for p in sorted(self.dead_paths)], "path string"
                )
                df = df.join(F.broadcast(dead), "path", "left_anti")
            pieces.append(df)
        if self.overlay_adds:
            raw = self.overlay_raw_stats or [
                f.stats_json() for f in self.overlay_adds
            ]
            rows = [
                (
                    f.path,
                    f.partition_values or {},
                    f.size,
                    f.modification_time,
                    raw[i],
                    int(f.deletion_vector["cardinality"])
                    if f.deletion_vector
                    and "cardinality" in f.deletion_vector
                    else None,
                )
                + (
                    (
                        json.dumps(f.deletion_vector)
                        if f.deletion_vector
                        else None,
                        f.base_row_id,
                        f.default_row_commit_version,
                    )
                    if full
                    else ()
                )
                for i, f in enumerate(self.overlay_adds)
            ]
            pieces.append(spark.createDataFrame(rows, out_schema))
        if not pieces:
            return spark.createDataFrame([], out_schema)
        out = pieces[0]
        for p in pieces[1:]:
            out = out.unionByName(p)
        return out

    def _physical_to_logical(self) -> dict[str, str] | None:
        return physical_to_logical(
            self.schema, self.metadata.get("configuration")
        )

    def iter_files_local(self, fs=None):
        """Stream the snapshot's live AddFiles in THIS process, no Spark:
        checkpoint parquet read via pyarrow in bounded RecordBatches
        (dead overlay paths dropped, column-mapped names normalized),
        then the tail overlay. Peak memory is O(batch + overlay), never
        O(table) — the consumption surface for planners that cannot run
        Spark jobs, i.e. the Python DataSource planning worker
        (deltapond_source.partitions()), where the classic snapshot's
        10^7-add replay cost 8.6 GiB of process RSS (PERF_TRIAGE_r6).

        Consumers must not retain yielded AddFiles beyond what they keep
        on purpose (the point is that the full list never materializes
        unless the caller builds one)."""
        if fs is None:
            from .fs import get_fs

            fs = get_fs(self.table_path)
        p2l = self._physical_to_logical()
        if self.checkpoint_paths:
            reader = getattr(fs, "read_checkpoint_batches", None)
            if reader is None:
                raise NotImplementedError(
                    "iter_files_local needs a pyarrow-readable (local) "
                    "checkpoint; remote-scheme tables plan through "
                    "files_df/prune_df executor-side"
                )
            dead = self.dead_paths
            for batch in reader(self.checkpoint_paths, ["add"]):
                for f in _iter_batch_adds(batch):
                    if f.path in dead:
                        continue
                    yield remap_addfile(f, p2l)
        yield from self.overlay_adds

    def prune_df(self, spark, predicates, full: bool = False):
        """files_df filtered by data-skipping predicates, evaluated
        ENTIRELY executor-side (stats.prune_condition over partition
        values + raw stats JSON) — no file list ever reaches the driver.
        Returns the filtered files_df."""
        from pyspark.sql import functions as F

        from .stats import _derive_generated_preds, prune_condition

        preds = list(predicates or [])
        if not preds:
            return self.files_df(spark, full=full)
        # same derivation both classic prune paths apply: a base-column
        # predicate implies a partition predicate through a monotone
        # generation expression (CAST(ts AS DATE) layouts) — without it
        # the light path would stats-scan every partition exactly in the
        # 10^7-file regime it exists for (widening-only, so skipping it
        # would be slow, not wrong)
        preds = preds + _derive_generated_preds(self, preds, spark)
        # stats keys are PHYSICAL (the log's own form; see files_df)
        cond = prune_condition(
            self,
            preds,
            lambda c: F.col("partition_values")[c],
            F.col("stats"),
            logical_to_physical(
                self.schema, self.metadata.get("configuration")
            ),
        )
        return self.files_df(spark, full=full).filter(cond)

    def collect_pruned_add_files(
        self, spark, predicates=None, cap: int | None = None, full_df=None
    ):
        """The bridge from executor-side pruning back to classic planning:
        prune_df's SURVIVORS materialized driver-side as complete AddFile
        objects (stats, DV descriptor, row-tracking fields — remapped to
        logical names on mapped tables, byte-equivalent to classic-replay
        AddFiles). Returns None once more than `cap` survivors appear,
        signalling the caller to fall back to the classic snapshot rather
        than flood the driver. `full_df` overrides the pruned frame
        (callers that already filtered a full=True prune_df further, e.g.
        the stat-less remainder of a metadata count).

        The CAPPED path collects as ONE parallel job (limit(cap+1) —
        CollectLimit scans partition batches in parallel rounds, the
        driver holds at most cap+1 rows): round-9 found the previous
        toLocalIterator scheduling one SEQUENTIAL job per checkpoint
        partition, 4x the wall of a parallel pass at 10^7 files. The
        UNcapped path (callers about to hold every row anyway, e.g. the
        wholesale by-source remove list) keeps the streaming iterator so
        Row objects never double the AddFile footprint."""
        if full_df is None:
            full_df = self.prune_df(spark, predicates, full=True)
        l2p = logical_to_physical(
            self.schema, self.metadata.get("configuration")
        )
        p2l = self._physical_to_logical()

        def _to_add(r) -> AddFile:
            return remap_addfile(addfile_from_files_row(r, l2p), p2l)

        if cap is not None:
            rows = full_df.limit(cap + 1).collect()
            if len(rows) > cap:
                return None
            # consume the Row list DESTRUCTIVELY: near the cap, holding
            # all Rows (stats JSON strings included) AND all AddFiles
            # doubles the very peak this cap exists to bound
            rows.reverse()
            out: list[AddFile] = []
            while rows:
                out.append(_to_add(rows.pop()))
            return out
        return [_to_add(r) for r in full_df.toLocalIterator()]

    def to_snapshot_state(self, files) -> "SnapshotState":
        """A classic-shaped SnapshotState over an EXPLICIT file list
        (normally collect_pruned_add_files survivors): every downstream
        consumer — read_files, the DML rewriters, commit construction —
        plans against it exactly as against a full classic snapshot,
        driver memory bounded by the survivor count."""
        return SnapshotState(
            version=self.version,
            metadata=self.metadata,
            protocol=self.protocol,
            schema=self.schema,
            partition_columns=list(self.partition_columns),
            files=list(files),
            table_path=self.table_path,
            txns=dict(self.txns),
            domain_metadata=dict(self.domain_metadata),
        )


@dataclass
class _Replay:
    """What DeltaLog._replay hands snapshot()/snapshot_light(): the
    header fields both snapshot shapes share, the replayed adds (every
    live file, or only the tail overlay for a header-only replay) in
    LOGICAL names, their original stats text (header-only replays only),
    the remove tombstones of the tail (header-only replays only), and
    the checkpoint files folded."""

    header: dict
    adds: list
    raw_stats: list | None
    removed: dict | None
    checkpoint_paths: list


@dataclass
class _ReplayAccumulator:
    """Replay state: commits folded in version order, each through
    fold_commit. `removed` collects the remove tombstones when a caller
    needs them (the header-only replay's dead paths)."""

    metadata: dict | None = None
    protocol: dict | None = None
    adds: dict[str, AddFile] = field(default_factory=dict)
    removed: dict | None = None
    txns: dict = field(default_factory=dict)
    domains: dict = field(default_factory=dict)


def _log_dir(table_path: str) -> str:
    return _join(table_path, "_delta_log")


# Reader features this engine actually implements. Anything else in a
# table's protocol MUST fail the read (Delta spec: readers that do not
# understand a readerFeature must not read the table) — the alternative is
# silently wrong results, e.g. resurrected rows on a deletionVectors table
# read by a DV-unaware engine (which is what the reference would do:
# delta-standalone 0.2.0, /root/reference/build.sbt:37, predates DVs).
_SUPPORTED_READER_FEATURES = {
    "deletionVectors",
    "columnMapping",
    "timestampNtz",
    "vacuumProtocolCheck",
    "v2Checkpoint",  # classic-compat tables; pure v2 checkpoints rejected
    "typeWidening",  # readers promote narrow files at scan time
    "variantType",  # VARIANT columns; Spark reads the parquet shredding
}
_MAX_READER_VERSION = 3


def _check_protocol(protocol: dict | None, table_path: str) -> None:
    if not protocol:
        return
    mrv = int(protocol.get("minReaderVersion", 1))
    if mrv > _MAX_READER_VERSION:
        raise ValueError(
            f"unsupported Delta protocol at {table_path}: minReaderVersion="
            f"{mrv} > {_MAX_READER_VERSION}"
        )
    features = set(protocol.get("readerFeatures") or [])
    unsupported = features - _SUPPORTED_READER_FEATURES
    if unsupported:
        raise ValueError(
            f"unsupported Delta reader features at {table_path}: "
            f"{sorted(unsupported)} (supported: "
            f"{sorted(_SUPPORTED_READER_FEATURES)})"
        )


def _parse_stats(raw) -> dict | None:
    if not raw:
        return None
    if isinstance(raw, dict):
        return raw
    try:
        return json.loads(raw)
    except (ValueError, TypeError):
        return None


_NUM_RECORDS_RE = re.compile(r'"numRecords"\s*:\s*(\d+)')


def _fast_num_records(f: "AddFile"):
    """numRecords without a full stats JSON parse: a regex over the raw
    text (spec: an integer literal) — ~10x cheaper per file, and the
    cached parsed dict is used when some consumer already paid for it."""
    raw = f.stats_raw
    if raw is None:
        return None
    if not isinstance(raw, str) or "_stats_cache" in f.__dict__:
        st = f.stats
        return None if st is None else st.get("numRecords")
    # the regex is only unambiguous when the key appears once — a data
    # column literally named numRecords would surface inside
    # minValues/maxValues/nullCount too; fall back to the real parse then
    if raw.count('"numRecords"') != 1:
        st = f.stats
        return None if st is None else st.get("numRecords")
    m = _NUM_RECORDS_RE.search(raw)
    if m is None:
        return None
    # the single occurrence must also be TOP-LEVEL: stats with no real
    # numRecords but a data column literally named numRecords inside
    # exactly one nested section (say, only nullCount) would otherwise
    # return that column's stat as the file row count. Top-level keys
    # precede the first nested object's '{'; a match at or past it is
    # nested — use the real parse.
    first_nested = raw.find("{", 1)
    if first_nested != -1 and m.start() > first_nested:
        st = f.stats
        return None if st is None else st.get("numRecords")
    return int(m.group(1))


def _decode_path(p: str) -> str:
    if "%" not in p:  # overwhelmingly common; unquote costs ~4.5s/10^6 paths
        return p
    from urllib.parse import unquote

    return unquote(p)


def addfile_from_action(a: dict) -> AddFile:
    """An AddFile parsed straight from one `add` action dict (commit JSON
    or checkpoint row) — partition values stay in the log's own key form
    (PHYSICAL names on column-mapped tables; callers remap per era).
    Shared by snapshot replay and the CDF range tracker so both parse the
    pyarrow-map/None-field round-trip shapes identically."""
    path = _decode_path(a["path"])
    pv = a.get("partitionValues") or {}
    if isinstance(pv, list):  # pyarrow map type materializes as [(k, v), ...]
        pv = dict(pv)
    return AddFile(
        path=path,
        partition_values=pv,
        size=int(a.get("size", 0)),
        modification_time=int(a.get("modificationTime", 0)),
        stats_raw=a.get("stats") or None,
        deletion_vector=a.get("deletionVector") or None,
        base_row_id=(
            int(a["baseRowId"]) if a.get("baseRowId") is not None else None
        ),
        default_row_commit_version=(
            int(a["defaultRowCommitVersion"])
            if a.get("defaultRowCommitVersion") is not None
            else None
        ),
    )


def _apply_action(acc: _ReplayAccumulator, action: dict) -> None:
    if "metaData" in action:
        # normalize the checkpoint-parquet round-trip representation so a
        # metaData folded from arrow compares equal to one parsed from
        # commit JSON: None-valued optional fields dropped, map types
        # (materialized as [(k, v), ...]) back to dicts
        md = {k: v for k, v in action["metaData"].items() if v is not None}
        cfg = md.get("configuration")
        if isinstance(cfg, list):  # pyarrow map type -> [(k, v), ...]
            md["configuration"] = dict(cfg)
        fmt = md.get("format")
        if isinstance(fmt, dict) and isinstance(fmt.get("options"), list):
            md["format"] = {**fmt, "options": dict(fmt["options"])}
        acc.metadata = md
    elif "protocol" in action:
        # same round-trip normalization: checkpoint parquet materializes
        # absent readerFeatures/writerFeatures as None
        acc.protocol = {
            k: v for k, v in action["protocol"].items() if v is not None
        }
    elif "txn" in action:
        t = action["txn"]
        if t.get("appId") is not None and t.get("version") is not None:
            acc.txns[t["appId"]] = max(
                int(t["version"]), acc.txns.get(t["appId"], -1)
            )
    elif "domainMetadata" in action:
        # last-writer-wins per domain; removed=true drops the domain
        dm = action["domainMetadata"]
        if dm.get("removed"):
            acc.domains.pop(dm["domain"], None)
        else:
            acc.domains[dm["domain"]] = dm.get("configuration")
    # add / remove go through fold_commit; commitInfo / cdc are no-ops
    # for snapshot state


def fold_commit(
    live: dict, actions, removed: dict | None = None, decode=addfile_from_action
) -> None:
    """THE commit fold behind every add/remove walker (snapshot replay,
    the CDF range tracker, log compaction, both commit-conflict walks):
    apply one commit's file actions to `live` (path -> decode(add body)),
    every remove before any add, whatever their order in the commit.
    The protocol allows at most one action per (path, DV uniqueId) in a
    version, so a remove and an add of one path in one commit always
    mean "replace": remove(p, dv1) + add(p, dv2) as merge-on-read DML
    and RESTORE commit it, in either order. `live` stays keyed by path
    alone: tables written before removes carried their DV hold
    remove(p) with no DV next to add(p, dv2), and a (path, DV) key
    would keep both entries. `removed`, when given, collects each
    remove body keyed by (path, DV uniqueId). Other actions are
    ignored."""
    adds = []
    for a in actions:
        rem = a.get("remove")
        if rem is not None:
            p = _decode_path(rem["path"])
            live.pop(p, None)
            if removed is not None:
                removed[(p, dv_unique_id(rem.get("deletionVector")))] = rem
        elif (add := a.get("add")) is not None:
            adds.append(add)
    for add in adds:
        live[_decode_path(add["path"])] = decode(add)


def _apply_actions(acc: _ReplayAccumulator, actions) -> None:
    """Fold one commit (or one reconciled checkpoint row) into the
    replay accumulator."""
    for a in actions:
        _apply_action(acc, a)
    fold_commit(acc.adds, actions, acc.removed)


def _iter_batch_adds(batch):
    """Yield one AddFile per non-null `add` row of a checkpoint
    RecordBatch, unpacked FIELD-WISE (one to_pylist per flat subcolumn)
    instead of one nested dict per row — the difference between
    O(rows x schema-width) Python dict churn and a handful of flat list
    conversions. Shared by the replay fold and the local streaming
    iterator (LightSnapshot.iter_files_local)."""
    names = batch.schema.names
    if "add" not in names:
        return
    arr = batch.column(names.index("add"))
    if arr.null_count == len(arr):
        return
    valid = arr.drop_null()
    sub = {f.name for f in valid.type}

    def _field(name, default=None):
        if name in sub:
            return valid.field(name).to_pylist()
        return [default] * len(valid)

    paths = _field("path")
    pvs = _field("partitionValues")
    sizes = _field("size")
    mts = _field("modificationTime")
    stats = _field("stats")
    dvs = _field("deletionVector")
    brs = _field("baseRowId")
    dcvs = _field("defaultRowCommitVersion")
    for i in range(len(paths)):
        pv = pvs[i] or {}
        if isinstance(pv, list):  # pyarrow map type -> [(k, v), ...]
            pv = dict(pv)
        yield AddFile(
            path=_decode_path(paths[i]),
            partition_values=pv,
            size=int(sizes[i] or 0),
            modification_time=int(mts[i] or 0),
            stats_raw=stats[i] or None,
            deletion_vector=dvs[i] or None,
            base_row_id=int(brs[i]) if brs[i] is not None else None,
            default_row_commit_version=(
                int(dcvs[i]) if dcvs[i] is not None else None
            ),
        )


def _fold_checkpoint_batch(batch, acc: _ReplayAccumulator) -> None:
    """Fold one pyarrow RecordBatch of checkpoint actions, columnar.

    Rare action columns (metaData/protocol/txn/remove/domainMetadata) are
    drop_null()'d then folded row-wise; the dense `add` column streams
    through _iter_batch_adds. Safe to reorder across action kinds: a
    checkpoint is reconciled, so one path appears in at most one action."""
    names = batch.schema.names
    for col in ("metaData", "protocol", "txn", "domainMetadata", "remove"):
        if col not in names:
            continue
        arr = batch.column(names.index(col))
        if arr.null_count == len(arr):
            continue
        for v in arr.drop_null().to_pylist():
            _apply_actions(acc, [{col: v}])
    adds = acc.adds
    for f in _iter_batch_adds(batch):
        adds[f.path] = f


def _read_checkpoint(
    fs,
    log_dir: str,
    parts: list[str],
    acc: _ReplayAccumulator,
    include_files: bool = True,
) -> None:
    """Fold a (possibly multi-part) Parquet checkpoint into the accumulator.

    Checkpoint rows have one non-null column among add/remove/metaData/
    protocol/txn. Local: pyarrow record batches folded COLUMNAR (bounded
    memory, no per-row dicts for the dense add column); remote: read
    through Spark (see fs.HadoopFS.read_checkpoint_rows).

    include_files=False skips the dense add/remove columns entirely — the
    HEADER-ONLY fold behind snapshot_light(): at 10^7 adds the driver
    reads a few metadata rows instead of materializing 10^7 AddFiles.
    """
    paths = [_join(log_dir, part) for part in parts]
    cols = ["add", "remove", "metaData", "protocol", "txn", "domainMetadata"]
    if not include_files:
        cols = ["metaData", "protocol", "txn", "domainMetadata"]
    reader = getattr(fs, "read_checkpoint_batches", None)
    if reader is not None:
        for batch in reader(paths, cols):
            _fold_checkpoint_batch(batch, acc)
        return
    # remote row path: header-only folds push the all-null filter into
    # the Spark read (a 10^7-row checkpoint has ~5 header rows)
    for row in fs.read_checkpoint_rows(
        paths, cols, drop_all_null=not include_files
    ):
        action = {k: v for k, v in row.items() if v is not None}
        if action:
            _apply_actions(acc, [action])


def _read_v2_checkpoint(
    fs,
    log_dir: str,
    manifest: str,
    acc: _ReplayAccumulator,
    include_files: bool = True,
) -> list[str]:
    """Fold a V2 checkpoint (manifest + sidecars) into the accumulator.

    V2 layout (Delta `v2Checkpoint` table feature): the manifest
    `NNN.checkpoint.<uuid>.{json|parquet}` holds protocol/metaData/txn plus
    `sidecar` actions; file actions (add/remove) live in Parquet sidecar
    files under `_delta_log/_sidecars/`. The reference's delta-standalone
    0.2.0 (build.sbt:37) predates this layout entirely.
    """
    sidecars: list[str] = []

    def _fold(action: dict) -> None:
        sc = action.get("sidecar")
        if sc:
            sidecars.append(sc["path"])
        else:
            _apply_actions(acc, [action])

    mpath = _join(log_dir, manifest)
    if manifest.endswith(".json"):
        for line in fs.read_text(mpath).splitlines():
            line = line.strip()
            if line:
                _fold(json.loads(line))
    else:
        mcols = (
            ["add", "remove", "metaData", "protocol", "txn", "sidecar", "domainMetadata"]
            if include_files
            else ["metaData", "protocol", "txn", "sidecar", "domainMetadata"]
        )
        for row in fs.read_checkpoint_rows([mpath], mcols):
            action = {k: v for k, v in row.items() if v is not None}
            if action:
                _fold(action)

    # Sidecar `path` is relative to _delta_log/_sidecars/ (absolute URIs
    # are also legal per spec).
    paths = [
        p if "://" in p or p.startswith("/") else _join(log_dir, "_sidecars", p)
        for p in sidecars
    ]
    if paths and include_files:
        reader = getattr(fs, "read_checkpoint_batches", None)
        if reader is not None:  # columnar fold, same as classic checkpoints
            for batch in reader(paths, ["add", "remove"]):
                _fold_checkpoint_batch(batch, acc)
            return paths
        for row in fs.read_checkpoint_rows(paths, ["add", "remove"]):
            action = {k: v for k, v in row.items() if v is not None}
            if action:
                _apply_actions(acc, [action])
    return paths


def light_planning_threshold() -> int:
    """File count past which ordinary planning (to_df / DML candidate
    selection) auto-routes through the driver-light snapshot instead of
    materializing every AddFile driver-side. 0 disables. The default sits
    where the classic snapshot's measured cost curve turns hostile
    (~0.9 GiB driver RSS at 10^6 adds, 8.6 GiB at 10^7 — PERF_TRIAGE_r6/7)."""
    import os

    return int(os.environ.get("ADLS_LIGHT_PLANNING_FILES", "1000000"))


def light_collect_cap() -> int:
    """Max pruned survivors the light planning path will materialize
    driver-side before falling back to the classic snapshot (a predicate
    this unselective gains nothing from light planning)."""
    import os

    return int(os.environ.get("ADLS_LIGHT_COLLECT_CAP", "2000000"))


def _newest_complete_checkpoint(log_files: list[str], version: int) -> int:
    """The newest checkpoint version <= `version` that is actually
    SERVABLE — complete classic parts (_checkpoint_parts) or a V2
    manifest. Taking the bare max would let a torn multi-part checkpoint
    shadow an older complete one and silently degrade the replay to the
    full commit tail (round-11 second review pass); -1 when none."""
    best = -1
    for f in log_files:
        m = _CHECKPOINT_RE.match(f) or _CHECKPOINT_V2_RE.match(f)
        if m and best < int(m.group(1)) <= version:
            cand = int(m.group(1))
            if _checkpoint_parts(log_files, cand) or any(
                (m2 := _CHECKPOINT_V2_RE.match(f2))
                and int(m2.group(1)) == cand
                for f2 in log_files
            ):
                best = cand
    return best


def _read_last_checkpoint(fs, log_dir: str) -> dict | None:
    p = _join(log_dir, "_last_checkpoint")
    if not fs.exists(p):
        return None
    return json.loads(fs.read_text(p))


def _checkpoint_parts(log_files: list[str], version: int) -> list[str]:
    """The part files of ONE complete classic checkpoint at `version`.

    Multi-part names are grouped by their DENOMINATOR and only a COMPLETE
    group (all numerators 1..N present) is returned: a checkpoint
    re-written at the same version with a different part count (the
    distributed writer sizes parts from ADLS_CHECKPOINT_PART_ROWS) leaves
    both layouts on disk, and a naive sorted() of every match would replay
    duplicate adds. Any complete group encodes the same snapshot, so the
    largest N wins deterministically; torn (incomplete) groups are never
    replayed."""
    pat_single = f"{version:020d}.checkpoint.parquet"
    if pat_single in log_files:
        return [pat_single]
    groups: dict[int, dict[int, str]] = {}
    for f in log_files:
        m = re.match(
            rf"^{version:020d}\.checkpoint\.(\d+)\.(\d+)\.parquet$", f
        )
        if m:
            groups.setdefault(int(m.group(2)), {})[int(m.group(1))] = f
    for n in sorted(groups, reverse=True):
        g = groups[n]
        if len(g) == n and set(g) == set(range(1, n + 1)):
            return [g[i] for i in range(1, n + 1)]
    return []


class DeltaLog:
    """Replays a table's `_delta_log` into SnapshotState, with caching.

    `table_path` may be a bare local path or any URI whose scheme the Spark
    runtime has a Hadoop connector for (s3a://, gs://, abfs://, hdfs://);
    pass `spark` (or have an active session) for non-local schemes.
    """

    _cache: dict[tuple[str, int], SnapshotState] = {}

    def __init__(self, table_path: str, spark=None):
        self.table_path = table_path.rstrip("/")
        self.log_dir = _log_dir(self.table_path)
        self._fs = get_fs(self.table_path, spark)

    def _list_log_files(self) -> list[str]:
        try:
            return [f.name for f in self._fs.listdir(self.log_dir)]
        except FileNotFoundError:
            raise FileNotFoundError(
                f"not a Delta table (no _delta_log): {self.table_path}"
            ) from None
        except Exception as e:  # py4j wraps Hadoop FileNotFoundException
            if "FileNotFound" in str(e):
                raise FileNotFoundError(
                    f"not a Delta table (no _delta_log): {self.table_path}"
                ) from None
            raise

    def latest_version(self) -> int:
        log_files = self._list_log_files()
        versions = [
            int(m.group(1)) for f in log_files if (m := _COMMIT_RE.match(f))
        ]
        compacted_ends = [
            int(m.group(2)) for f in log_files if (m := _COMPACTED_RE.match(f))
        ]
        if not versions:
            # checkpoint-only / compacted-only logs (expired commits)
            cps = [
                int(m.group(1))
                for f in log_files
                if (m := _CHECKPOINT_RE.match(f)) or (m := _CHECKPOINT_V2_RE.match(f))
            ] + compacted_ends
            if not cps:
                raise ValueError(f"empty _delta_log at {self.log_dir}")
            return max(cps)
        # a compacted range can outlive its per-commit JSONs (third-party
        # maintenance): the table's tip is whichever reaches further
        return max(max(versions), max(compacted_ends, default=-1))

    def _replay(self, version: int, include_files: bool) -> _Replay:
        """THE log replay behind snapshot() and snapshot_light(): pick the
        newest servable checkpoint at or below `version`, fold it (file
        columns only when `include_files`), walk the commit tail in
        version order, and normalize column-mapped adds to LOGICAL names.

        Minor-compaction files (`<s>.<e>.compacted.json`, delta-spark >=
        3.0) carrying the RECONCILED actions of a commit range are
        preferred whenever one starts at the next needed version and fits
        inside the target — one read replaces e-s+1, and replay still
        works when third-party maintenance already removed the per-commit
        JSONs in the range. A missing commit is a named error: a gap in
        the log, or a version expired by log retention cleanup."""
        log_files = self._list_log_files()
        acc = _ReplayAccumulator(removed=None if include_files else {})

        # Pick the newest checkpoint at or below the requested version.
        cp_version = -1
        last_cp = _read_last_checkpoint(self._fs, self.log_dir)
        if last_cp and last_cp.get("version", -1) <= version:
            cp_version = int(last_cp["version"])
        else:
            cp_version = _newest_complete_checkpoint(log_files, version)

        checkpoint_paths: list[str] = []
        if cp_version >= 0:
            parts = _checkpoint_parts(log_files, cp_version)
            v2_manifests = sorted(
                f
                for f in log_files
                if (m := _CHECKPOINT_V2_RE.match(f)) and int(m.group(1)) == cp_version
            )
            if parts:
                _read_checkpoint(
                    self._fs, self.log_dir, parts, acc, include_files
                )
                checkpoint_paths = [_join(self.log_dir, p) for p in parts]
            elif v2_manifests:
                # Any one manifest at a version is a complete checkpoint.
                checkpoint_paths = _read_v2_checkpoint(
                    self._fs, self.log_dir, v2_manifests[0], acc, include_files
                )
            else:
                cp_version = -1  # stale _last_checkpoint; fall back to full replay

        commit_by_v = {
            int(m.group(1)): f
            for f in log_files
            if (m := _COMMIT_RE.match(f))
        }
        compacted_by_start: dict[int, tuple[int, str]] = {}
        for f in log_files:
            m = _COMPACTED_RE.match(f)
            if m:
                s, e = int(m.group(1)), int(m.group(2))
                cur = compacted_by_start.get(s)
                if cur is None or e > cur[0]:
                    compacted_by_start[s] = (e, f)

        def _apply_file(fname: str) -> None:
            text = self._fs.read_text(_join(self.log_dir, fname))
            _apply_actions(
                acc, [json.loads(l) for l in text.splitlines() if l.strip()]
            )

        replayed = cp_version
        while replayed < version:
            nxt = replayed + 1
            comp = compacted_by_start.get(nxt)
            if comp is not None and comp[0] <= version:
                _apply_file(comp[1])
                replayed = comp[0]
            elif nxt in commit_by_v:
                _apply_file(commit_by_v[nxt])
                replayed = nxt
            else:
                later = [v for v in commit_by_v if nxt < v <= version]
                if later:
                    raise ValueError(
                        f"gap in _delta_log: expected version {nxt}, "
                        f"found {min(later)}"
                    )
                break
        if replayed != version:
            if replayed < 0:
                raise ValueError(
                    f"version {version} of {self.table_path} is no longer "
                    "replayable: its commit JSONs predate the earliest "
                    "checkpoint (expired by log retention cleanup)"
                )
            raise ValueError(f"requested version {version} not present (max {replayed})")

        if acc.metadata is None:
            raise ValueError(f"no metaData action found in log at {self.log_dir}")
        schema = schema_string_to_struct(acc.metadata["schemaString"])
        _check_protocol(acc.protocol, self.table_path)

        # Column mapping (delta.columnMapping.mode=name|id): the log keys
        # partitionValues and stats by PHYSICAL column names. Normalize to
        # logical names here so pruning/scan planning downstream is purely
        # logical; only the parquet read itself needs physical names
        # (reader.py builds the physical read schema from field metadata).
        adds = list(acc.adds.values())
        raw_stats = None if include_files else [f.stats_json() for f in adds]
        p2l = physical_to_logical(schema, acc.metadata.get("configuration"))
        if p2l:
            adds = [remap_addfile(f, p2l) for f in adds]
        return _Replay(
            header=dict(
                version=version,
                metadata=acc.metadata,
                protocol=acc.protocol
                or {"minReaderVersion": 1, "minWriterVersion": 2},
                schema=schema,
                partition_columns=list(acc.metadata.get("partitionColumns") or []),
                table_path=self.table_path,
                txns=dict(acc.txns),
                domain_metadata=dict(acc.domains),
            ),
            adds=adds,
            raw_stats=raw_stats,
            removed=acc.removed,
            checkpoint_paths=checkpoint_paths,
        )

    def snapshot(self, version: int | None = None) -> SnapshotState:
        """Snapshot at `version` (default: latest). Cached per (path, version)."""
        if version is None:
            version = self.latest_version()
        key = (self.table_path, version)
        cached = self._cache.get(key)
        if cached is not None:
            return cached
        r = self._replay(version, include_files=True)
        state = SnapshotState(**r.header, files=r.adds)
        self._cache[key] = state
        return state

    def snapshot_light(self, version: int | None = None) -> LightSnapshot:
        """Driver-light snapshot (see LightSnapshot): header-only replay —
        the checkpoint's add/remove columns are never read driver-side;
        file metadata is consumed through files_df()/prune_df() where
        EXECUTORS read the checkpoint parquet, or streamed in-process by
        iter_files_local() (the session-less DataSource planning worker).
        Planners reach it through light_plane()/header(), which decide
        when the table's file count calls for it.

        Same replay as snapshot() (_replay), so the same versions are
        reachable and an unreachable one raises the same named error."""
        if version is None:
            version = self.latest_version()
        r = self._replay(version, include_files=False)
        return LightSnapshot(
            **r.header,
            checkpoint_paths=r.checkpoint_paths,
            overlay_adds=r.adds,
            dead_paths={p for p, _dv in r.removed} | {f.path for f in r.adds},
            overlay_raw_stats=r.raw_stats,
        )

    def light_plane(
        self, version: int | None = None, spark=None
    ) -> LightSnapshot | None:
        """THE plane decision for planners: the driver-light snapshot at
        `version` when light planning is engaged there
        (light_planning_engaged) and a SparkSession is available to run
        its executor-side file scans — `spark`, else the active session.
        None means plan classically (snapshot()). Every planner routes
        through here or header(); no other module branches on the
        threshold."""
        if not self.light_planning_engaged(version):
            return None
        if spark is None:
            from pyspark.sql import SparkSession

            if SparkSession.getActiveSession() is None:
                return None
        return self.snapshot_light(version)

    def header(self, version: int | None = None) -> SnapshotState:
        """Header-only state at `version` (schema/metadata/protocol/txns/
        domain metadata) for consumers that never enumerate files —
        metadata-only DDL, protocol checks, schema resolution. Past the
        light-planning threshold it is FILE-LESS (the light replay, no
        AddFile materialized: the classic replay cost 8.6 GiB / 187 s at
        10^7 adds to change one JSON field); below it, the cached classic
        snapshot itself. Needs no session."""
        if self.light_planning_engaged(version):
            return self.snapshot_light(version).to_snapshot_state([])
        return self.snapshot(version)

    def light_planning_engaged(self, version: int | None = None) -> bool:
        """True when planning should route through the driver-light
        snapshot: `_last_checkpoint` reports more actions than
        ADLS_LIGHT_PLANNING_FILES (default 10^6) and the requested version
        is at or past that checkpoint (the shape snapshot_light replays as
        header + small JSON tail). One tiny file read — no listing, no
        replay — so the check is free on every query."""
        thr = light_planning_threshold()
        if thr <= 0:
            return False
        try:
            last_cp = _read_last_checkpoint(self._fs, self.log_dir)
        except Exception:
            return False
        if not last_cp or int(last_cp.get("size") or 0) < thr:
            return False
        if version is None or version >= int(last_cp.get("version", -1)):
            return True
        # a version BELOW the newest checkpoint (time travel / RESTORE
        # target after a newer checkpoint landed): engage iff the version
        # is reachable as an OLDER complete checkpoint + plain-commit
        # tail — exactly the shape snapshot_light's fallback replays.
        # Found by meta_scale --lifecycle at 10^7 (round 11): checkpoint
        # -> RESTORE to a pre-checkpoint version silently planned
        # classic, 18.7 GiB / 602 s where light is 190 MiB. Name-level
        # only (one listing), paid only for explicit version targets;
        # ignoring compacted-commit substitutes can under-engage, which
        # falls back to classic — safe, never wrong.
        try:
            log_files = self._list_log_files()
        except Exception:
            return False
        cp_version = _newest_complete_checkpoint(log_files, version)
        if cp_version < 0:
            return False
        commits = {
            int(m.group(1))
            for f in log_files
            if (m := _COMMIT_RE.match(f))
        }
        return all(
            v in commits for v in range(cp_version + 1, version + 1)
        )

    def latest_protocol(self) -> dict | None:
        """The table's CURRENT protocol action, read WITHOUT reader-side
        validation. `snapshot()` raises ValueError exactly when the protocol
        is reader-unsupported, so writer gates that need to inspect the
        protocol (to refuse unsupported WRITER features) must not go through
        it — swallowing that ValueError would let a blind commit land on a
        table whose features this engine cannot honor.

        Walks commit JSONs newest-first (protocol changes are rare; the
        common case reads one file), stopping at the newest checkpoint,
        whose protocol row is the fallback. Raises FileNotFoundError when
        the table does not exist; returns None for a log with no protocol
        action (legal only transiently)."""
        log_files = self._list_log_files()
        commit_versions = sorted(
            (int(m.group(1)) for f in log_files if (m := _COMMIT_RE.match(f))),
            reverse=True,
        )
        cp_version = -1
        for f in log_files:
            m = _CHECKPOINT_RE.match(f) or _CHECKPOINT_V2_RE.match(f)
            if m:
                cp_version = max(cp_version, int(m.group(1)))
        for v in commit_versions:
            if v <= cp_version:
                break
            for line in self._fs.read_text(
                _join(self.log_dir, f"{v:020d}.json")
            ).splitlines():
                line = line.strip()
                if line:
                    action = json.loads(line)
                    if "protocol" in action:
                        return action["protocol"]
        # compacted ranges may outlive the per-commit JSONs they replace
        compacted = sorted(
            (
                (int(m.group(2)), f)
                for f in log_files
                if (m := _COMPACTED_RE.match(f))
            ),
            reverse=True,
        )
        for e, f in compacted:
            if e <= cp_version:
                break
            for line in self._fs.read_text(_join(self.log_dir, f)).splitlines():
                line = line.strip()
                if line and "protocol" in (action := json.loads(line)):
                    return action["protocol"]
        if cp_version >= 0:
            parts = _checkpoint_parts(log_files, cp_version)
            v2_manifests = sorted(
                f
                for f in log_files
                if (m := _CHECKPOINT_V2_RE.match(f)) and int(m.group(1)) == cp_version
            )
            if parts:
                # column-pruned scan: only the protocol struct is read
                paths = [_join(self.log_dir, p) for p in parts]
                for row in self._fs.read_checkpoint_rows(paths, ["protocol"]):
                    if row.get("protocol") is not None:
                        return row["protocol"]
            elif v2_manifests:
                mpath = _join(self.log_dir, v2_manifests[0])
                if v2_manifests[0].endswith(".json"):
                    for line in self._fs.read_text(mpath).splitlines():
                        line = line.strip()
                        if line and "protocol" in (action := json.loads(line)):
                            return action["protocol"]
                else:
                    for row in self._fs.read_checkpoint_rows([mpath], ["protocol"]):
                        if row.get("protocol") is not None:
                            return row["protocol"]
        return None

    def commit_actions(self, version: int) -> list[dict]:
        """Raw actions of ONE commit version (for incremental/streaming
        consumers: each action dict has exactly one of add/remove/metaData/
        protocol/commitInfo/txn as its key)."""
        path = _join(self.log_dir, f"{version:020d}.json")
        if not self._fs.exists(path):
            raise FileNotFoundError(f"no commit {version} at {self.log_dir}")
        return [
            json.loads(line)
            for line in self._fs.read_text(path).splitlines()
            if line.strip()
        ]

    def commit_timestamp(self, version: int) -> int:
        """The commit's authoritative timestamp (millis): its commitInfo
        `inCommitTimestamp` when present (inCommitTimestamp writer feature
        — immune to file-mtime drift from log copies/restores), else the
        commit file's modification time (classic Delta semantics)."""
        path = _join(self.log_dir, f"{version:020d}.json")
        if not self._fs.exists(path):
            raise FileNotFoundError(f"no commit {version} at {self.log_dir}")
        for line in self._fs.read_text(path).splitlines():
            if not line.strip():
                continue
            ci = json.loads(line).get("commitInfo")
            if ci and "inCommitTimestamp" in ci:
                return int(ci["inCommitTimestamp"])
        for fi in self._fs.listdir(self.log_dir):
            if fi.name == f"{version:020d}.json":
                return fi.mtime_ms
        raise FileNotFoundError(f"no commit {version} at {self.log_dir}")

    def version_as_of_timestamp(self, ts_millis: int) -> int:
        """The last commit version at or before `ts_millis` — the
        resolution step of timestamp time travel, WITHOUT materializing a
        snapshot (callers route the version through their own planning
        path; pond.sql TIMESTAMP AS OF goes through _planning_snapshot so
        a past-threshold table never pays the classic replay just to
        resolve a timestamp). The ICT-enablement config check reads the
        header-only light snapshot when light planning is engaged.

        When the table uses in-commit timestamps, each commit resolves by
        its recorded inCommitTimestamp (pre-enablement commits fall back to
        file mtime per spec); otherwise by commit-file mtime."""
        use_ict = (self.header().metadata.get("configuration") or {}).get(
            "delta.enableInCommitTimestamps", ""
        ).lower() == "true"
        best = None
        for fi in self._fs.listdir(self.log_dir):
            m = _COMMIT_RE.match(fi.name)
            if not m:
                continue
            v = int(m.group(1))
            t = self.commit_timestamp(v) if use_ict else fi.mtime_ms
            if t <= ts_millis:
                best = v if best is None else max(best, v)
        if best is None:
            raise ValueError(f"no commit at or before {ts_millis}")
        return best

    def snapshot_as_of_timestamp(self, ts_millis: int) -> SnapshotState:
        """Time travel to the last commit at or before `ts_millis` (see
        version_as_of_timestamp for the resolution semantics)."""
        return self.snapshot(self.version_as_of_timestamp(ts_millis))

    @classmethod
    def clear_cache(cls) -> None:
        cls._cache.clear()


def typed_partition_values(f: AddFile, schema: T.StructType, partition_columns: list[str]):
    """Typed (python-value) partition tuple for a file, schema-driven."""
    by_name = {sf.name: sf.dataType for sf in schema.fields}
    return tuple(
        cast_partition_value(f.partition_values.get(c), by_name[c]) for c in partition_columns
    )


__all__ = [
    "AddFile",
    "DeltaLog",
    "LightSnapshot",
    "SnapshotState",
    "typed_partition_values",
]
