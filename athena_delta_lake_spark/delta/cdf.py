"""Change Data Feed (CDF): row-level changes between commit versions.

The reference cannot do this (read-only latest-snapshot connector,
DeltaMetadataHandler.scala:99 — `snapshot` is always current). Two sources
of truth, exactly as the Delta spec's Change Data Files section orders
them:

1. **`cdc` actions** (spec-conformant, written by this engine's DML on
   tables with `delta.enableChangeDataFeed=true`, and by external Delta
   writers): a commit carrying any `cdc` action describes ALL its changes
   through the referenced `_change_data/` files, whose stored
   `_change_type` column distinguishes `insert` / `delete` /
   `update_preimage` / `update_postimage`. add/remove actions of such a
   commit are IGNORED for change derivation.
2. **add/remove reconciliation** (the fallback for commits without cdc
   actions — blind appends, metadata-only deletes, legacy tables):
   - `add` with dataChange=true in commit v  -> its rows were INSERTED at v
   - `remove` with dataChange=true at v      -> its rows were DELETED at v
   - same-path remove+add with a changed deletion vector -> exactly the
     newly-DV'd rows were DELETED (merge-on-read DML)
   - OPTIMIZE/compaction commits (dataChange=false) produce NO changes.

Scale: the whole derivation is DRIVER-LIGHT (round-10 ask #1 — the
previous shape paid a CLASSIC snapshot per commit-with-adds, an 8.6 GiB
driver replay per version on a 10^7-file foreign table). A single
`_RangeTracker` replays the range incrementally: ONE base probe at
`starting_version - 1` resolves the prior state of exactly the paths the
range touches (executor-side through `LightSnapshot.files_df` past the
light-planning threshold, the cached classic snapshot below it), then
each commit's OWN actions advance a header (schema/protocol) and a
watched-path file-state dict. Driver memory is O(range action volume),
independent of table file count; data reading touches only the files
those commits added/removed/changed — O(changed data), never a snapshot
diff. Files VACUUMed out from under the requested range fail fast with an
error naming the offending version (DELTA_CHANGE_DATA_FILE_NOT_FOUND
analogue) instead of surfacing an opaque scan failure."""

from __future__ import annotations

import copy

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from .log import (
    AddFile,
    DeltaLog,
    SnapshotState,
    _apply_action,
    _decode_path,
    _ReplayAccumulator,
    addfile_from_action,
)
from .reader import read_files
from .types import logical_to_physical, physical_to_logical


class _HeaderTracker:
    """Schema/protocol/metadata header advanced INCREMENTALLY across a
    commit range — the DeltaLog.header idea applied to a
    version WALK: one base header, then each commit's own metaData /
    protocol actions, so per-version schema lookups never replay a
    snapshot. `apply` funnels through log._apply_action so the
    pyarrow-map / None-field round-trip normalization stays identical to
    snapshot replay."""

    def __init__(self, metadata: dict | None, protocol: dict | None, table_path: str):
        self.table_path = table_path
        self.metadata: dict | None = None
        self.schema: T.StructType | None = None
        self.partition_columns: list[str] = []
        self.protocol = protocol or {"minReaderVersion": 1, "minWriterVersion": 2}
        if metadata is not None:
            self._set_metadata(metadata)

    @classmethod
    def from_snapshot(cls, snap) -> "_HeaderTracker":
        # works for SnapshotState and LightSnapshot alike (same attrs)
        return cls(snap.metadata, snap.protocol, snap.table_path)

    def _set_metadata(self, md: dict) -> None:
        from .types import schema_string_to_struct

        self.metadata = md
        self.schema = schema_string_to_struct(md["schemaString"])
        self.partition_columns = list(md.get("partitionColumns") or [])

    def apply(self, action: dict) -> None:
        if "metaData" not in action and "protocol" not in action:
            return
        acc = _ReplayAccumulator()
        acc.metadata, acc.protocol = self.metadata, self.protocol
        _apply_action(acc, action)
        if acc.metadata is not None and acc.metadata is not self.metadata:
            self._set_metadata(acc.metadata)
        if acc.protocol is not None and acc.protocol is not self.protocol:
            from .log import _check_protocol

            self.protocol = acc.protocol
            # classic replay gated the reader features at every
            # snapshot(v); an in-range protocol upgrade must still refuse
            _check_protocol(self.protocol, self.table_path)

    def freeze(self) -> "_HeaderTracker":
        """A stable copy for deferred era references: `apply` REPLACES the
        attribute objects, so a shallow copy pins this era's header even
        as the tracker advances."""
        return copy.copy(self)

    def p2l(self) -> dict[str, str] | None:
        """physical -> logical column-name map (None when unmapped)."""
        return physical_to_logical(
            self.schema, (self.metadata or {}).get("configuration")
        )

    def l2p(self) -> dict[str, str] | None:
        """logical -> physical column-name map (None when unmapped)."""
        return logical_to_physical(
            self.schema, (self.metadata or {}).get("configuration")
        )

    def require_schema(self, v: int) -> T.StructType:
        if self.schema is None:
            raise ValueError(
                f"no metaData action found in the log of {self.table_path} "
                f"at or before version {v}"
            )
        return self.schema

    def snapshot_state(self, version: int, files: list[AddFile]) -> SnapshotState:
        """A classic-shaped SnapshotState over an explicit file list —
        read_files/_read_with_meta consume only schema / partition
        columns / metadata config / table_path from it."""
        self.require_schema(version)
        return SnapshotState(
            version=version,
            metadata=self.metadata,
            protocol=self.protocol,
            schema=self.schema,
            partition_columns=list(self.partition_columns),
            files=list(files),
            table_path=self.table_path,
        )


def _rekey_entry(f: AddFile, key_map: dict[str, str] | None) -> AddFile:
    """Remap an AddFile's partition-value KEYS through `key_map`
    (physical<->logical on column-mapped tables; None = identity). The
    tracker stores entries in the log's own PHYSICAL form — a file added
    before a mid-range RENAME COLUMN and read after it must resolve
    partition values by the era it is READ in, exactly as the classic
    per-version snapshot remap did. Stats keys are left untouched: no CDF
    read path consumes them."""
    if not key_map or not f.partition_values:
        return f
    return AddFile(
        path=f.path,
        partition_values={
            key_map.get(k, k): v for k, v in f.partition_values.items()
        },
        size=f.size,
        modification_time=f.modification_time,
        stats_raw=f.stats_raw,
        deletion_vector=f.deletion_vector,
        base_row_id=f.base_row_id,
        default_row_commit_version=f.default_row_commit_version,
    )


class _RangeTracker:
    """Incremental header + watched-file state over commits [start, end].

    `state` maps path -> AddFile for the LIVE files the range touches
    (log-form/physical partition keys), seeded by ONE base probe at
    start-1 and advanced by folding each commit's own actions — the
    interleaved-replay idea that closed the OCC residue
    (writer._rewrite_commute_conflict), applied to CDF. commitInfo
    payloads (the bulky operationParameters blobs) are dropped at cache
    time; everything else is O(range action volume) driver memory."""

    def __init__(
        self,
        log: DeltaLog,
        start: int,
        end: int,
        spark: SparkSession | None = None,
    ):
        self.log = log
        self.actions: dict[int, list[dict]] = {
            v: [a for a in log.commit_actions(v) if "commitInfo" not in a]
            for v in range(start, end + 1)
        }
        watched: set[str] = set()
        for acts in self.actions.values():
            for a in acts:
                if "add" in a:
                    watched.add(_decode_path(a["add"]["path"]))
                elif "remove" in a:
                    watched.add(_decode_path(a["remove"]["path"]))
        self.state: dict[str, AddFile] = {}
        self.base_version = start - 1
        if start > 0:
            try:
                self._init_base(log, start - 1, watched, spark)
            except ValueError:
                # start-1 predates the earliest checkpoint (TRUNCATE
                # HISTORY / log retention cleanup). Seed from the earliest
                # checkpointed version INSIDE the range instead: re-folding
                # commits at or below it is idempotent (last-writer-wins,
                # same order as replay), and versions at or below it raise
                # lazily IF their derivation needs pre-state — exactly when
                # the classic per-version snapshot(v-1) raised.
                c = self._earliest_checkpoint_in(log, start, end)
                if c is None:
                    raise
                self._init_base(log, c, watched, spark)
                self.base_version = c
        else:
            self.header = _HeaderTracker(None, None, log.table_path)

    @staticmethod
    def _earliest_checkpoint_in(log: DeltaLog, start: int, end: int) -> int | None:
        from .log import _CHECKPOINT_RE, _CHECKPOINT_V2_RE

        versions = {
            int(m.group(1))
            for f in log._list_log_files()
            if (m := (_CHECKPOINT_RE.match(f) or _CHECKPOINT_V2_RE.match(f)))
        }
        return min((v for v in versions if start <= v <= end), default=None)

    def _init_base(
        self,
        log: DeltaLog,
        base_v: int,
        watched: set[str],
        spark: SparkSession | None,
    ) -> None:
        # gate on the TABLE-level plane, not the plane at base_v: a range
        # starting before the newest checkpoint still routes light —
        # snapshot_light picks any older checkpoint at/below base_v (or
        # replays the JSON tail header-only when none exists, exactly the
        # work classic replay would have paid driver-side anyway)
        light = log.light_plane(spark=spark)
        if light is not None:
            spark = spark or SparkSession.active()
            snap_l = (
                light if light.version == base_v else log.snapshot_light(base_v)
            )
            self.header = _HeaderTracker.from_snapshot(snap_l)
            if watched:
                w = spark.createDataFrame(
                    [(p,) for p in sorted(watched)], "path string"
                )
                fdf = snap_l.files_df(spark, full=True).join(
                    F.broadcast(w), "path", "semi"
                )
                # survivor count is bounded by |watched| (the semi join),
                # which already sits in driver memory — no cap needed
                adds = snap_l.collect_pruned_add_files(spark, full_df=fdf)
                l2p = self.header.l2p()
                # collect_pruned_add_files hands back LOGICAL-keyed
                # entries (base era); canonicalize to the log's physical
                # form the per-commit adds arrive in
                self.state = {f.path: _rekey_entry(f, l2p) for f in adds}
            return
        snap = log.snapshot(base_v)  # sub-threshold: cached, one replay
        self.header = _HeaderTracker.from_snapshot(snap)
        l2p = self.header.l2p()
        self.state = {
            f.path: _rekey_entry(f, l2p)
            for f in snap.files
            if f.path in watched
        }

    def fold(self, v: int) -> None:
        """Advance header + live-file state past commit v — ALL adds and
        removes count (an OPTIMIZE's dataChange=false rewrites still move
        files), in action order (same-commit add-then-remove nets out,
        remove-then-re-add survives — last-writer-wins like replay)."""
        for a in self.actions[v]:
            if "add" in a:
                f = addfile_from_action(a["add"])
                self.state[f.path] = f
            elif "remove" in a:
                self.state.pop(_decode_path(a["remove"]["path"]), None)
            else:
                self.header.apply(a)


def table_changes(
    spark: SparkSession,
    table_path: str,
    starting_version: int = 0,
    ending_version: int | None = None,
    include_timestamp: bool = False,
) -> DataFrame:
    """Rows changed in commits [starting_version, ending_version], with
    `_change_type` and `_commit_version` columns — the `table_changes(...)`
    TVF shape. `include_timestamp` adds `_commit_timestamp` (each commit's
    authoritative time — inCommitTimestamp when present, else file mtime —
    as a session-timezone value, matching real CDF's third metadata
    column; opt-in to keep the long-standing two-column shape stable).

    Driver-light end to end: ZERO DeltaLog.snapshot() calls — the range
    tracker's one base probe plus incremental action folding replaces the
    per-commit classic replays (see module docstring)."""
    log = DeltaLog(table_path)
    end = log.latest_version() if ending_version is None else ending_version
    tracker = _RangeTracker(log, starting_version, end, spark)
    # pieces carry the schema FIELDS of the era they were read with, so a
    # mid-range RENAME COLUMN (column mapping: logical name changes,
    # physical identity doesn't) aligns to the ending snapshot's names
    # before the union — without this, rows from the old-name era union
    # into a separate NULL-filled column (found by the round-6 DML fuzz:
    # RESTORE across a rename boundary over-deleted in the change feed).
    pieces: list[tuple[DataFrame, list]] = []
    for v in range(starting_version, end + 1):
        actions = tracker.actions[v]
        cdc_actions = [a["cdc"] for a in actions if "cdc" in a]
        # path sets only — inserts and DV diffs read from the tracker's
        # pre/post entries, so retaining full add-action dicts per commit
        # here would be wasted memory on wide commits
        add_paths: set[str] = set()
        remove_paths: set[str] = set()
        for a in actions:
            if "add" in a and a["add"].get("dataChange", True):
                add_paths.add(_decode_path(a["add"]["path"]))
            elif "remove" in a and a["remove"].get("dataChange", True):
                remove_paths.add(_decode_path(a["remove"]["path"]))
        # versions at or below a FALLBACK base (seeded past a truncated
        # history) have no derivable pre-state: raise exactly when the
        # classic path's snapshot(v-1) / snapshot(v) would have. A
        # cdc-bearing commit AT the base itself is fine — the spec ignores
        # its add/remove actions for change derivation and the cdc read
        # needs only the base-era header the seed provides (round-10
        # review: it also carries dataChange adds/removes, so testing
        # those alone falsely refused a derivable commit).
        if 0 < v <= tracker.base_version and (
            (not cdc_actions and (add_paths or remove_paths))
            or (cdc_actions and v < tracker.base_version)
        ):
            raise ValueError(
                f"version {v - 1} of {table_path} is no longer replayable: "
                "its commit JSONs predate the earliest checkpoint (expired "
                "by log retention cleanup)"
            )
        # pre-commit era: header + the touched paths' live entries at v-1
        pre_header = tracker.header.freeze()
        pre_entries = {
            p: tracker.state[p]
            for p in (add_paths | remove_paths)
            if p in tracker.state
        }
        tracker.fold(v)
        post_header = tracker.header.freeze()
        if cdc_actions:
            # spec: a commit WITH cdc actions is described by them ALONE
            # (the fold above still advanced the file state — its
            # add/remove actions change TABLE state, just not the feed)
            piece = _read_cdc_files(
                spark, log, v, cdc_actions, post_header.snapshot_state(v, [])
            )
            if piece is not None:
                pieces.append(
                    (
                        piece.withColumn("_commit_version", F.lit(v)),
                        post_header.require_schema(v).fields,
                    )
                )
            continue
        post_entries = {
            p: tracker.state[p] for p in add_paths if p in tracker.state
        }
        # merge-on-read commits remove+re-add the SAME path with a changed
        # deletion vector: the true change set is the newly-DV'd rows only
        # (emitting whole-file delete+insert would be wrong granularity).
        # A bare re-add of an ALREADY-LIVE path (RESTORE dropping a DV —
        # last-writer-wins replay replaces the entry without a remove) is
        # the same case: diff the DVs, never re-insert the whole file.
        common = add_paths & (remove_paths | set(pre_entries))
        if common and v > 0:
            pairs = [
                (p, pre_entries.get(p), post_entries.get(p))
                for p in sorted(common)
            ]
            dv_piece = _dv_diff_rows(
                spark, log, v, pairs, pre_header, post_header
            )
            if dv_piece is not None:
                pieces.append(
                    (
                        dv_piece.withColumn("_change_type", F.lit("delete"))
                        .withColumn("_commit_version", F.lit(v)),
                        pre_header.require_schema(v - 1).fields,
                    )
                )
            # a SHRINKING deletion vector (RESTORE rolling a MOR delete
            # back) RESURRECTS rows: old-DV minus new-DV positions are
            # inserts, readable from the new snapshot where they are live
            res_piece = _dv_diff_rows(
                spark, log, v, pairs, pre_header, post_header, resurrect=True
            )
            if res_piece is not None:
                pieces.append(
                    (
                        res_piece.withColumn("_change_type", F.lit("insert"))
                        .withColumn("_commit_version", F.lit(v)),
                        post_header.require_schema(v).fields,
                    )
                )
            add_paths -= common
            remove_paths -= common
        if add_paths:
            p2l = post_header.p2l()
            files = [
                _rekey_entry(post_entries[p], p2l)
                for p in sorted(add_paths)
                if p in post_entries  # added-and-removed in-commit: no row
            ]
            if files:
                _require_present(log, v, [f.path for f in files])
                snap = post_header.snapshot_state(v, files)
                pieces.append(
                    (
                        read_files(spark, snap, files)
                        .withColumn("_change_type", F.lit("insert"))
                        .withColumn("_commit_version", F.lit(v)),
                        post_header.require_schema(v).fields,
                    )
                )
        if remove_paths and v > 0:
            p2l = pre_header.p2l()
            files = [
                _rekey_entry(pre_entries[p], p2l)
                for p in sorted(remove_paths)
                if p in pre_entries  # unknown to the prior state: no row
            ]
            if files:
                _require_present(log, v, [f.path for f in files])
                prev = pre_header.snapshot_state(v - 1, files)
                pieces.append(
                    (
                        read_files(spark, prev, files)
                        .withColumn("_change_type", F.lit("delete"))
                        .withColumn("_commit_version", F.lit(v)),
                        pre_header.require_schema(v - 1).fields,
                    )
                )
    end_fields = tracker.header.require_schema(end).fields
    if not pieces:
        schema = tracker.header.require_schema(end)
        empty = spark.createDataFrame([], schema)
        out = empty.withColumn(
            "_change_type", F.lit("").cast("string")
        ).withColumn("_commit_version", F.lit(0).cast("int")).limit(0)
        if include_timestamp:
            out = out.withColumn(
                "_commit_timestamp", F.lit(None).cast("timestamp")
            )
        return out
    aligned = [
        _align_piece_names(p, fields, end_fields) for p, fields in pieces
    ]
    out = aligned[0]
    for p in aligned[1:]:
        # allowMissingColumns: columns genuinely ADDED/DROPPED mid-range
        # read NULL outside their era (renames were aligned above)
        out = out.unionByName(p, allowMissingColumns=True)
    if include_timestamp:
        # one tiny broadcast map version -> authoritative commit time
        # (session-tz naive, what a Spark timestamp column expects);
        # versions whose commit JSON is gone (compacted/cleaned) read NULL
        from ..sqldml import _millis_to_naive_ts

        ts_rows = []
        for v in range(starting_version, end + 1):
            try:
                ts_rows.append(
                    (v, _millis_to_naive_ts(spark, log.commit_timestamp(v)))
                )
            except FileNotFoundError:
                continue
        cols = list(out.columns)
        ts_df = spark.createDataFrame(
            ts_rows or [(None, None)],
            "_commit_version int, _commit_timestamp timestamp",
        ).filter(F.col("_commit_version").isNotNull())
        out = out.join(F.broadcast(ts_df), "_commit_version", "left").select(
            *cols, "_commit_timestamp"
        )
    return out


def _phys_name(f) -> str:
    return (f.metadata or {}).get("delta.columnMapping.physicalName", f.name)


def _align_piece_names(df: DataFrame, era_fields: list, end_fields: list):
    """Rename a change-feed piece's data columns from its ERA's logical
    names to the ENDING snapshot's, matched through the column-mapping
    PHYSICAL identity (a RENAME COLUMN changes only the logical name).
    Columns whose physical identity no longer exists at the end keep
    their era name (the union NULL-fills — genuine drops, not renames)."""
    end_by_phys = {_phys_name(f): f.name for f in end_fields}
    renames = [
        (f.name, tgt)
        for f in era_fields
        if (tgt := end_by_phys.get(_phys_name(f))) is not None
        and tgt != f.name
    ]
    if not renames:
        return df
    # a column DROPPED by the end of the range whose name collides with a
    # rename target (DROP COLUMN b; RENAME a TO b) would duplicate the
    # name after renaming — drop the dead column: its physical identity
    # has no representation under the end schema, and keeping it would
    # fail the whole union (COLUMN_ALREADY_EXISTS)
    targets = {tgt for _src, tgt in renames}
    dead_collisions = [
        f.name
        for f in era_fields
        if _phys_name(f) not in end_by_phys and f.name in targets
    ]
    if dead_collisions:
        df = df.drop(*dead_collisions)
    # two-phase through temp names: a simultaneous swap (a->b, b->a)
    # must not clobber mid-sequence
    for i, (src, _tgt) in enumerate(renames):
        df = df.withColumnRenamed(src, f"__cdf_align_{i}")
    for i, (_src, tgt) in enumerate(renames):
        df = df.withColumnRenamed(f"__cdf_align_{i}", tgt)
    return df


def _require_present(log: DeltaLog, version: int, rel_paths: list[str]) -> None:
    """Fail fast with a spec-style error when a file the change feed must
    read has been VACUUMed away (DELTA_CHANGE_DATA_FILE_NOT_FOUND
    analogue) — naming the version, instead of an opaque mid-scan error."""
    for p in rel_paths:
        from .log import _join

        if not log._fs.exists(_join(log.table_path, p)):
            raise FileNotFoundError(
                f"DELTA_CHANGE_DATA_FILE_NOT_FOUND: {p} referenced by the "
                f"change feed of version {version} of {log.table_path} no "
                "longer exists (removed by VACUUM?). Narrow the version "
                "range past the vacuumed commits."
            )


def _read_cdc_files(
    spark: SparkSession,
    log: DeltaLog,
    v: int,
    cdc_actions: list[dict],
    snap: SnapshotState,
) -> DataFrame | None:
    """Read a commit's Change Data Files: stored `_change_type` column +
    data columns (PHYSICAL names under column mapping), partition columns
    injected from each action's partitionValues — the same conventions as
    data files (spec: Change Data Files). `snap` is a header-only
    SnapshotState at v (schema/partition columns/config — no file list),
    built by the range tracker so this path never replays a snapshot."""
    from .log import _join
    from .types import cast_partition_value

    schema = snap.schema
    part_cols = snap.partition_columns
    l2p = logical_to_physical(schema, snap.metadata.get("configuration"))
    data_fields = [f for f in schema.fields if f.name not in part_cols]
    if l2p:
        from .reader import _physical_rename

        read_fields = [
            T.StructField(
                l2p[f.name], _physical_rename(f.dataType), f.nullable
            )
            for f in data_fields
        ]
        p2l_part = {p: n for n, p in l2p.items()}
    else:
        read_fields = list(data_fields)
        p2l_part = {f.name: f.name for f in schema.fields}
    read_schema = T.StructType(
        read_fields + [T.StructField("_change_type", T.StringType(), True)]
    )
    type_by_name = {f.name: f.dataType for f in schema.fields}

    _require_present(log, v, [_decode_path(a["path"]) for a in cdc_actions])
    by_part: dict[tuple, list[str]] = {}
    for a in cdc_actions:
        pv_raw = a.get("partitionValues") or {}
        if isinstance(pv_raw, list):  # pyarrow map shape
            pv_raw = dict(pv_raw)
        pv = {p2l_part.get(k, k): val for k, val in pv_raw.items()}
        key = tuple(
            cast_partition_value(pv.get(c), type_by_name[c]) for c in part_cols
        )
        by_part.setdefault(key, []).append(
            _join(log.table_path, _decode_path(a["path"]))
        )
    pieces = []
    for pvals, paths in by_part.items():
        piece = spark.read.schema(read_schema).parquet(*paths)
        if l2p:
            cols = [
                F.col(pf.name).cast(lf.dataType).alias(lf.name)
                for pf, lf in zip(read_fields, data_fields)
            ]
            piece = piece.select(*cols, "_change_type")
        for c, val in zip(part_cols, pvals):
            piece = piece.withColumn(c, F.lit(val).cast(type_by_name[c]))
        pieces.append(
            piece.select(*[f.name for f in schema.fields], "_change_type")
        )
    if not pieces:
        return None
    out = pieces[0]
    for p in pieces[1:]:
        out = out.unionByName(p)
    return out


def _dv_diff_rows(
    spark: SparkSession,
    log: DeltaLog,
    v: int,
    pairs: list[tuple[str, AddFile | None, AddFile | None]],
    pre_header: _HeaderTracker,
    post_header: _HeaderTracker,
    resurrect: bool = False,
) -> DataFrame | None:
    """Rows whose deletion-vector membership CHANGED in commit v for
    same-path remove+add pairs, keyed by (file, row_index). `pairs` holds
    (path, live entry at v-1, live entry at v) straight from the range
    tracker — no snapshot lookups.

    Default (deletes): positions in the new DV minus the old one — rows a
    merge-on-read DML newly deleted — read from the PREVIOUS era, whose
    scan still shows them. `resurrect=True` (inserts): old minus new
    — rows a RESTORE un-deleted by rolling the DV back — read from the NEW
    era, where they are live again.

    Scale: only the tiny DV *descriptors* route through the driver; the
    bitmaps are parsed and diffed EXECUTOR-side via `mapInPandas` (one
    task per file batch, mirroring reader._deleted_positions_df and the DV
    write path dml.py `_build_dvs`), so `table_changes` over a third-party
    MOR table with 10^8 newly-DV'd rows never materializes a row-index
    list on the driver. Driver-side work is O(candidate files): a
    descriptor-equality prefilter skips files whose DV did not change."""
    import json as _json

    from .reader import _join_path, _strip_scheme, read_files_with_index

    era = post_header if resurrect else pre_header
    key_map = era.p2l()

    desc_rows: list[tuple[str, str, str]] = []
    read_targets = []
    for p, pf, nf in pairs:
        if pf is None or nf is None:
            continue
        od, nd = pf.deletion_vector, nf.deletion_vector
        if od == nd:
            continue  # identical descriptor -> identical bitmap -> no diff
        # set-difference direction makes one side provably empty without
        # touching any bitmap: old - new needs old nonempty, new - old
        # needs new nonempty
        if resurrect and od is None:
            continue
        if not resurrect and nd is None:
            continue
        full = _join_path(log.table_path, p)
        if "://" not in full:
            import os as _os

            full = _os.path.abspath(full)
        desc_rows.append(
            (
                full,
                _json.dumps(od) if od else "null",
                _json.dumps(nd) if nd else "null",
            )
        )
        read_targets.append(_rekey_entry(nf if resurrect else pf, key_map))
    if not desc_rows:
        return None
    # missing read targets (VACUUMed): only an error if this DIRECTION
    # actually contributes rows — a descriptor change with an empty diff
    # (e.g. the delete direction of a pure DV shrink) must not fail the
    # range. Deciding that needs the bitmaps; parse them driver-side for
    # the MISSING files only (bounded by the exceptional case).
    from .deletion_vectors import read_dv_positions
    from .log import _join as _ljoin

    keep_idx = []
    for i, f in enumerate(read_targets):
        if log._fs.exists(_ljoin(log.table_path, f.path)):
            keep_idx.append(i)
            continue
        try:
            old = (
                set(read_dv_positions(log.table_path, _json.loads(desc_rows[i][1])))
                if desc_rows[i][1] != "null"
                else set()
            )
            new = (
                set(read_dv_positions(log.table_path, _json.loads(desc_rows[i][2])))
                if desc_rows[i][2] != "null"
                else set()
            )
        except FileNotFoundError:
            _require_present(log, v, [f.path])  # DV blob gone too: error
            raise
        if (old - new) if resurrect else (new - old):
            _require_present(log, v, [f.path])  # raises with context
        # provably-empty direction: skip the vacuumed file silently
    if not keep_idx:
        return None
    desc_rows = [desc_rows[i] for i in keep_idx]
    read_targets = [read_targets[i] for i in keep_idx]
    desc = spark.createDataFrame(desc_rows, "full string, old string, new string")
    if len(desc_rows) > 1:
        desc = desc.repartition(min(len(desc_rows), 64))
    tp = log.table_path.rstrip("/")
    want_old_minus_new = resurrect

    def diff(batches):
        import json as _j

        import pandas as _pd

        from athena_delta_lake_spark.delta.deletion_vectors import (
            read_dv_positions,
        )

        def _pos(s: str) -> set[int]:
            d = _j.loads(s)
            return set(read_dv_positions(tp, d)) if d else set()

        for pdf in batches:
            for full, o, n in zip(pdf["full"], pdf["old"], pdf["new"]):
                old, new = _pos(o), _pos(n)
                changed = old - new if want_old_minus_new else new - old
                yield _pd.DataFrame(
                    {
                        "_file": _pd.Series([full] * len(changed)),
                        "_row_idx": _pd.Series(sorted(changed), dtype="int64"),
                    }
                )

    pos_df = desc.mapInPandas(diff, "_file string, _row_idx long").withColumn(
        "_file", _strip_scheme(F.col("_file"))
    )
    era_snap = era.snapshot_state(v if resurrect else v - 1, read_targets)
    base = read_files_with_index(spark, era_snap, read_targets)
    return base.join(pos_df, ["_file", "_row_idx"]).drop("_file", "_row_idx")
