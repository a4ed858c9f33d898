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
     newly-DV'd rows were DELETED (merge-on-read DML), and rows a shrunk
     DV un-deletes were INSERTED (RESTORE)
   - OPTIMIZE/compaction commits (dataChange=false) produce NO changes.

`_RangeTracker.change_sets` derives each commit's change set once (the
cdc files, the DV-diff pairs, the inserted and deleted files, each in its
era's logical names); `table_changes` and the streaming source
(sources/deltapond_source.py) only turn it into rows.

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
from dataclasses import dataclass, field

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
    fold_commit,
    remap_addfile,
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


@dataclass
class _ChangeSet:
    """One commit's changes as _RangeTracker.change_sets derives them.
    Every file is in its era's LOGICAL names (remap_addfile): `cdc` and
    `inserted` and the second entry of a DV pair in the commit's own
    era, `deleted` and the first entry of a pair in the era before it.
    A commit with cdc files is described by them alone, so its other
    lists are empty."""

    version: int
    pre: "_HeaderTracker"  # header at version - 1
    post: "_HeaderTracker"  # header at version
    cdc: list = field(default_factory=list)  # change data files
    # same-path (entry at v-1, entry at v) whose deletion vector changed
    dv_pairs: list = field(default_factory=list)
    inserted: list = field(default_factory=list)
    deleted: list = field(default_factory=list)


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
        self.start, self.end = start, end
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
                # checkpointed version INSIDE the range instead: folding
                # the commits up to it again ends at its own state (each
                # touched path takes its last action, as in replay), and
                # versions at or below it raise lazily IF their derivation
                # needs pre-state — exactly when the classic per-version
                # snapshot(v-1) raised.
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
                self.state = {f.path: remap_addfile(f, l2p) for f in adds}
            return
        snap = log.snapshot(base_v)  # sub-threshold: cached, one replay
        self.header = _HeaderTracker.from_snapshot(snap)
        l2p = self.header.l2p()
        self.state = {
            f.path: remap_addfile(f, l2p)
            for f in snap.files
            if f.path in watched
        }

    def fold(self, v: int) -> None:
        """Advance header + live-file state past commit v through
        log.fold_commit — ALL adds and removes count (an OPTIMIZE's
        dataChange=false rewrites still move files)."""
        acts = self.actions[v]
        for a in acts:
            self.header.apply(a)
        fold_commit(self.state, acts)

    def change_sets(self):
        """Yield each commit's _ChangeSet, start to end, folding the
        tracker past it. dataChange adds are inserts and dataChange
        removes are deletes, except on a path the commit both adds and
        removes (or re-adds while live — RESTORE on tables written before
        it paired a remove): that is one file whose deletion vector may
        have changed, a DV-diff pair, never a whole-file delete+insert.

        A version at or below a FALLBACK base (seeded past a truncated
        history) has no derivable pre-state: it raises exactly when the
        classic path's snapshot(v-1) / snapshot(v) would have. A
        cdc-bearing commit AT the base itself is fine — the spec ignores
        its add/remove actions for change derivation and the cdc read
        needs only the base-era header the seed provides (round-10
        review: it also carries dataChange adds/removes, so testing those
        alone falsely refused a derivable commit)."""
        for v in range(self.start, self.end + 1):
            actions = self.actions[v]
            cdc = [a["cdc"] for a in actions if "cdc" in a]
            added = {
                _decode_path(a["add"]["path"])
                for a in actions
                if "add" in a and a["add"].get("dataChange", True)
            }
            removed = {
                _decode_path(a["remove"]["path"])
                for a in actions
                if "remove" in a and a["remove"].get("dataChange", True)
            }
            if 0 < v <= self.base_version and (
                (not cdc and (added or removed))
                or (cdc and v < self.base_version)
            ):
                raise ValueError(
                    f"version {v - 1} of {self.log.table_path} is no longer "
                    "replayable: its commit JSONs predate the earliest "
                    "checkpoint (expired by log retention cleanup)"
                )
            pre = self.header.freeze()
            # version 0 has no prior state, whatever a fallback seed holds
            before = {
                p: self.state[p]
                for p in (added | removed)
                if v > 0 and p in self.state
            }
            self.fold(v)
            cs = _ChangeSet(v, pre, self.header.freeze())
            if cdc:
                p2l = cs.post.p2l()
                cs.cdc = [remap_addfile(addfile_from_action(a), p2l) for a in cdc]
                yield cs
                continue
            pre_p2l, post_p2l = pre.p2l(), cs.post.p2l()
            common = added & (removed | set(before))
            cs.dv_pairs = [
                (
                    remap_addfile(before[p], pre_p2l),
                    remap_addfile(self.state[p], post_p2l),
                )
                for p in sorted(common)
                if p in before
                and self.state[p].deletion_vector != before[p].deletion_vector
            ]
            cs.inserted = [
                remap_addfile(self.state[p], post_p2l)
                for p in sorted(added - common)
            ]
            cs.deleted = [
                remap_addfile(before[p], pre_p2l)
                for p in sorted(removed - common)
                if p in before  # unknown to the prior state: no row
            ]
            yield cs


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

    def _piece(df, change_type, v, era: _HeaderTracker, era_v: int):
        if change_type is not None:
            df = df.withColumn("_change_type", F.lit(change_type))
        pieces.append(
            (
                df.withColumn("_commit_version", F.lit(v)),
                era.require_schema(era_v).fields,
            )
        )

    for cs in tracker.change_sets():
        v = cs.version
        if cs.cdc:
            # spec: a commit WITH cdc actions is described by them ALONE
            piece = _read_cdc_files(
                spark, log, v, cs.cdc, cs.post.snapshot_state(v, [])
            )
            if piece is not None:
                _piece(piece, None, v, cs.post, v)
        if cs.dv_pairs:
            dv_piece = _dv_diff_rows(spark, log, v, cs.dv_pairs, cs.pre, cs.post)
            if dv_piece is not None:
                _piece(dv_piece, "delete", v, cs.pre, v - 1)
            # a SHRINKING deletion vector (RESTORE rolling a MOR delete
            # back) RESURRECTS rows: old-DV minus new-DV positions are
            # inserts, readable from the new snapshot where they are live
            res_piece = _dv_diff_rows(
                spark, log, v, cs.dv_pairs, cs.pre, cs.post, resurrect=True
            )
            if res_piece is not None:
                _piece(res_piece, "insert", v, cs.post, v)
        if cs.inserted:
            _require_present(log, v, [f.path for f in cs.inserted])
            snap = cs.post.snapshot_state(v, cs.inserted)
            _piece(read_files(spark, snap, cs.inserted), "insert", v, cs.post, v)
        if cs.deleted:
            _require_present(log, v, [f.path for f in cs.deleted])
            prev = cs.pre.snapshot_state(v - 1, cs.deleted)
            _piece(read_files(spark, prev, cs.deleted), "delete", v, cs.pre, v - 1)
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
    cdc_files: list[AddFile],
    snap: SnapshotState,
) -> DataFrame | None:
    """Read a commit's Change Data Files: stored `_change_type` column +
    data columns (PHYSICAL names under column mapping), partition columns
    injected from each file's (logical) partition values — the same
    conventions as data files (spec: Change Data Files). `snap` is a
    header-only SnapshotState at v (schema/partition columns/config — no
    file list), built by the range tracker so this path never replays a
    snapshot."""
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
    else:
        read_fields = list(data_fields)
    read_schema = T.StructType(
        read_fields + [T.StructField("_change_type", T.StringType(), True)]
    )
    type_by_name = {f.name: f.dataType for f in schema.fields}

    _require_present(log, v, [f.path for f in cdc_files])
    by_part: dict[tuple, list[str]] = {}
    for f in cdc_files:
        key = tuple(
            cast_partition_value(f.partition_values.get(c), type_by_name[c])
            for c in part_cols
        )
        by_part.setdefault(key, []).append(_join(log.table_path, f.path))
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
    pairs: list[tuple[AddFile, AddFile]],
    pre_header: _HeaderTracker,
    post_header: _HeaderTracker,
    resurrect: bool = False,
) -> DataFrame | None:
    """Rows whose deletion-vector membership CHANGED in commit v for
    same-path remove+add pairs, keyed by (file, row_index). `pairs` holds
    (live entry at v-1, live entry at v), each in its era's names,
    straight from the commit's _ChangeSet — no snapshot lookups.

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
    list on the driver. Driver-side work is O(candidate files)."""
    import json as _json

    from .reader import _join_path, _strip_scheme, read_files_with_index

    era = post_header if resurrect else pre_header

    desc_rows: list[tuple[str, str, str]] = []
    read_targets = []
    for pf, nf in pairs:
        od, nd = pf.deletion_vector, nf.deletion_vector
        # set-difference direction makes one side provably empty without
        # touching any bitmap: old - new needs old nonempty, new - old
        # needs new nonempty
        if resurrect and od is None:
            continue
        if not resurrect and nd is None:
            continue
        full = _join_path(log.table_path, pf.path)
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
        read_targets.append(nf if resurrect else pf)
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
