"""`deltapond`: the native Delta engine exposed as a first-class Spark data
source through the public Python Data Source API (pyspark.sql.datasource,
Spark 4).

    from athena_delta_lake_spark.sources.deltapond_source import register
    register(spark)

    spark.read.format("deltapond").load(path)                  # batch scan
    spark.readStream.format("deltapond") \
         .option("startingVersion", 0).load(path)              # commit tail
    df.write.format("deltapond").mode("append").save(path)     # ACID write
    df.writeStream.format("deltapond") \
         .option("checkpointLocation", cp).start(path)         # exactly-once

Reference parity: this is the surface the reference exposed to Athena as a
federated connector (DeltaCompositeHandler.scala:5 — catalog/metadata +
record handlers over a Lambda RPC boundary). Here the "connector" is an
in-process Spark data source: `schema()` replaces GetTableResponse
(DeltaMetadataHandler.scala:90-107), `partitions()` + `pushFilters`
replace GetTableLayout/GetSplits partition pruning (:109-185), `read()`
replaces readWithConstraint (DeltaRecordHandler.scala:116-155), and the
write/streaming halves have no reference analog (read-only connector).

Role in THIS engine: `delta/reader.py` (pruned file list fed straight to
Spark's JVM-vectorized parquet scan) remains the primary batch path — it
keeps whole-stage codegen and row-group pushdown. The data source is the
*integration* surface for places that need a format string — most
importantly STREAMING reads (tail a Delta table's commits as microbatches,
which plain `readStream.parquet` cannot do safely) and streaming writes
with per-epoch transactional idempotence. Batch rows flow through Python
workers as Arrow record batches (pyarrow scan), so prefer the JVM path
when a DataFrame API is available.

Scale notes: splits are one per live data file (same granularity the
reference used, DeltaMetadataHandler.scala:173-181) and carry only
(path, partitionValues) — file lists never ride the data plane. Filter
pushdown prunes files driver-side via partition values + per-file min/max
stats before tasks launch; every pushed filter is also re-applied by Spark
row-level (we report them unsupported), so pruning is pure speedup, never
a correctness dependence. Local paths only on the Python scan path; remote
schemes go through the JVM reader.
"""

from __future__ import annotations

import json
import os
import re
import time
import uuid
from dataclasses import dataclass, field
from typing import Iterator

from pyspark.sql import types as T
from pyspark.sql.datasource import (
    DataSource,
    DataSourceArrowWriter,
    DataSourceReader,
    DataSourceStreamArrowWriter,
    DataSourceStreamReader,
    EqualTo,
    GreaterThan,
    GreaterThanOrEqual,
    InputPartition,
    LessThan,
    LessThanOrEqual,
    WriterCommitMessage,
)

from ..delta.log import DeltaLog, remove_action
from ..delta.stats import make_file_filter
from ..delta.types import (
    cast_partition_value,
    logical_to_physical,
    physical_to_logical,
)
from ..delta.writer import _atomic_commit, _file_stats, _next_version

_PUSHABLE = {
    EqualTo: "=",
    GreaterThan: ">",
    GreaterThanOrEqual: ">=",
    LessThan: "<",
    LessThanOrEqual: "<=",
}


# Readers get the table schema from DataSource.schema() but not the
# table configuration: its field metadata came from the table header, so
# a field's physicalName (the logical name when absent) is authoritative.
_SCHEMA_MAPPED = {"delta.columnMapping.mode": "name"}

# a scheme of 2+ chars followed by ':/' — matches s3a:/b and s3a://b but
# not a relative path with a bare colon ('weird:name') or 'file:'
# (stripped in _table_path before this is consulted)
_REMOTE_URI_RE = re.compile(r"^[A-Za-z][A-Za-z0-9+.\-]+:/")


def _table_path(options) -> str:
    path = options.get("path")
    if not path:
        raise ValueError("deltapond requires a path (load(path)/save(path))")
    # SQL DDL (CREATE TABLE ... USING deltapond) hands the option through
    # as a URI (file:/x or file:///x); normalize to a bare local path.
    # Non-file schemes (s3a://, hdfs://...) pass through untouched —
    # abspath would prepend the cwd to them.
    if path.startswith("file:"):
        rest = path[len("file:"):]
        while rest.startswith("//"):
            rest = rest[1:]
        path = rest
    if _REMOTE_URI_RE.match(path):
        # any scheme-prefixed path (s3a://…, and the single-slash s3a:/…
        # form Hadoop Path.toString emits for authority-less URIs) passes
        # through untouched — abspath would prepend the cwd to it and
        # silently defeat the remote-scheme write guard below
        return path.rstrip("/")
    return os.path.abspath(path)


def _require_local_write_path(path: str) -> None:
    """The Python deltapond WRITE path stages parquet with executor-side
    os/pyarrow calls, so it is local-path-only (mirroring the scan path's
    documented contract above). Refuse remote schemes up front: without
    this, `save("s3a://…")` would os.makedirs a literal relative
    `s3a:/…` directory in each executor's CWD and fail confusingly.
    Remote tables go through the DataFrame write path
    (delta.writer.write_delta), which stages via the fs facade."""
    if _REMOTE_URI_RE.match(path):
        raise ValueError(
            f"deltapond Python writer supports local paths only, got {path!r}; "
            "write remote tables with athena_delta_lake_spark.delta.writer."
            "write_delta (fs-facade staging) instead"
        )


@dataclass
class DeltaScanPartition(InputPartition):
    """One split == one live data file (+ its partition values and, for
    files with deletion vectors, the DV descriptor to apply)."""

    file_path: str
    partition_values: dict = field(default_factory=dict)
    dv: dict | None = None
    table_path: str | None = None
    # change-feed reads: label + version literals; dv_diff=True emits ONLY
    # the rows in positions(dv) - positions(dv_old) (a merge-on-read delete)
    change_type: str | None = None
    commit_version: int | None = None
    dv_old: dict | None = None
    dv_diff: bool = False
    # spec-conformant change data file: `_change_type` is a STORED column
    # in the file (insert/delete/update_preimage/update_postimage), not a
    # per-partition literal
    cdc_file: bool = False


def _read_file_batches(
    file_path: str,
    partition_values: dict,
    schema: T.StructType,
    dv: dict | None = None,
    table_path: str | None = None,
    dv_old: dict | None = None,
    dv_diff: bool = False,
    literals: dict | None = None,
) -> Iterator:
    """Read one data file as Arrow batches in `schema` order: partition
    columns injected as typed literals (reference: getLiteralExtractor,
    DeltaRecordHandler.scala:109-114 — generalized to any type), columns
    missing from the file (schema evolution) read as NULL."""
    import pyarrow as pa
    import pyarrow.parquet as pq
    from pyspark.sql.pandas.types import to_arrow_schema

    target = to_arrow_schema(schema)
    part_cols = set(partition_values)
    # column mapping: files store PHYSICAL names (field metadata carries
    # the logical->physical map); identity for unmapped tables
    phys = logical_to_physical(schema, _SCHEMA_MAPPED)
    want = [phys[f.name] for f in schema.fields if f.name not in part_cols]
    pf = pq.ParquetFile(file_path)
    present = [c for c in want if c in pf.schema_arrow.names]
    tbl = pf.read(columns=present)
    n = tbl.num_rows
    cols = []
    for f in schema.fields:
        at = target.field(f.name).type
        if f.name in part_cols:
            v = cast_partition_value(partition_values.get(f.name), f.dataType)
            if v is None:
                cols.append(pa.nulls(n, type=at))
            else:
                cols.append(pa.array([v] * n).cast(at))
        elif phys[f.name] in present:
            cols.append(_to_target_type(tbl.column(phys[f.name]), at))
        else:
            cols.append(pa.nulls(n, type=at))
    out = pa.table(cols, schema=target)
    if dv_diff:
        # change-feed delete rows of a merge-on-read commit: keep ONLY the
        # newly-DV'd positions (new minus old)
        import numpy as np

        from ..delta.deletion_vectors import read_dv_positions

        new_pos = set(read_dv_positions(table_path, dv)) if dv else set()
        old_pos = set(read_dv_positions(table_path, dv_old)) if dv_old else set()
        keep = np.zeros(n, dtype=bool)
        keep[[i for i in sorted(new_pos - old_pos) if i < n]] = True
        out = out.filter(pa.array(keep))
    elif dv:
        # deletion vector: drop the file's deleted row positions (executor
        # side; positions are global row indices within this file)
        import numpy as np

        from ..delta.deletion_vectors import read_dv_positions

        deleted = read_dv_positions(table_path, dv)
        keep = np.ones(n, dtype=bool)
        keep[[i for i in deleted if i < n]] = False
        out = out.filter(pa.array(keep))
    if literals:
        for name, (val, pa_type) in literals.items():
            out = out.append_column(
                pa.field(name, pa_type), pa.array([val] * out.num_rows, pa_type)
            )
    yield from out.to_batches(max_chunksize=1 << 16)


def _with_target_names(src, tgt):
    """Arrow type = src's physical layout with tgt's (logical) field names —
    the zero-copy rename a column-mapped nested struct needs before a
    value cast (Arrow cannot cast structs whose field names differ)."""
    import pyarrow as pa

    if (
        pa.types.is_struct(src)
        and pa.types.is_struct(tgt)
        and src.num_fields == tgt.num_fields
    ):
        return pa.struct(
            [
                pa.field(
                    tgt.field(i).name,
                    _with_target_names(src.field(i).type, tgt.field(i).type),
                    src.field(i).nullable,
                )
                for i in range(src.num_fields)
            ]
        )
    if pa.types.is_list(src) and pa.types.is_list(tgt):
        return pa.list_(_with_target_names(src.value_type, tgt.value_type))
    if pa.types.is_map(src) and pa.types.is_map(tgt):
        return pa.map_(
            _with_target_names(src.key_type, tgt.key_type),
            _with_target_names(src.item_type, tgt.item_type),
        )
    return src


def _to_target_type(c, at):
    """ChunkedArray -> target type: zero-copy field-name view first, then a
    value cast only if layouts still differ."""
    import pyarrow as pa

    if c.type == at:
        return c
    named = _with_target_names(c.type, at)
    if named != c.type:
        c = pa.chunked_array(
            [ch.view(named) for ch in c.chunks], type=named
        )
    return c if c.type == at else c.cast(at)


class DeltaPondBatchReader(DataSourceReader):
    def __init__(self, options, schema: T.StructType):
        self._path = _table_path(options)
        self._schema = schema
        v = options.get("versionAsOf")
        self._version = int(v) if v is not None else None
        ts = options.get("timestampAsOf")
        self._ts_millis = int(ts) if ts is not None else None
        self._preds: list[tuple] = []

    def pushFilters(self, filters):
        """Translate pushable single-column comparisons into file-skip
        predicates (partition values exact, data columns via min/max
        stats). ALL filters are yielded back as unsupported: skipping is
        file-level, Spark keeps the row-level evaluation."""
        for f in filters:
            op = _PUSHABLE.get(type(f))
            attr = getattr(f, "attribute", None)
            if op is not None and attr and len(attr) == 1:
                self._preds.append((attr[0], op, f.value))
            yield f

    def _resolve_version(self) -> int | None:
        if self._version is not None:
            return self._version
        if self._ts_millis is not None:
            # version_as_of_timestamp is a binary search over commit
            # timestamps — resolving through snapshot_as_of_timestamp
            # materialized a full CLASSIC snapshot just to read .version
            return DeltaLog(self._path).version_as_of_timestamp(
                self._ts_millis
            )
        return None

    def partitions(self):
        """Scan planning, driver-light at ANY table size: this runs in
        the Python DataSource planning worker, which has no SparkSession,
        so the classic fix (route big tables through LightSnapshot's
        executor-side files_df) is unavailable — at 10^7 adds the classic
        snapshot replay here cost 8.6 GiB of planning-worker RSS. Instead
        the file list STREAMS through LightSnapshot.iter_files_local
        (pyarrow checkpoint batches + tail overlay, O(batch) memory) with
        pushed-filter pruning applied per file as it flows, so only the
        PRUNED partition list — which the DataSource API requires as a
        driver-side list regardless — ever materializes."""
        log = DeltaLog(self._path)
        light = log.snapshot_light(self._resolve_version())
        keep = make_file_filter(light, self._preds or None)
        part_cols = light.partition_columns
        return [
            DeltaScanPartition(
                file_path=os.path.join(self._path, f.path),
                partition_values={
                    c: f.partition_values.get(c) for c in part_cols
                },
                dv=f.deletion_vector,
                table_path=self._path,
            )
            for f in light.iter_files_local(log._fs)
            if keep is None or keep(f)
        ]

    def read(self, partition: DeltaScanPartition):
        return _read_file_batches(
            partition.file_path,
            partition.partition_values,
            self._schema,
            partition.dv,
            partition.table_path,
        )


class DeltaPondStreamReader(DataSourceStreamReader):
    """Tail a Delta table's transaction log as microbatches.

    Offsets are commit versions: {"version": v} == "commits <= v consumed".
    Each microbatch reads the `add` files of the commits in (start, end] —
    i.e. appended data. `startingVersion` (default "latest") replays
    history from a given commit; commits containing `remove` actions with
    dataChange=true (DELETE/UPDATE/overwrite) raise unless
    `ignoreChanges`/`ignoreDeletes` is set — matching the contract users
    expect from a Delta streaming source."""

    def __init__(self, options, schema: T.StructType):
        self._path = _table_path(options)
        self._schema = schema
        self._warned_backlog = False
        # engine-driven progress BEFORE the first new offset is asked for
        # == checkpoint recovery (fresh starts ask latestOffset first);
        # this, not _position, gates the backlog warning — initialOffset
        # also sets _position on genuinely fresh starts
        self._engine_recovered = False
        # initialOffset() ran in THIS process == genuinely fresh stream.
        # A checkpoint restart whose last batch fully committed before
        # shutdown replays nothing — its first engine call is
        # latestOffset(), so _engine_recovered alone cannot identify it
        # and the backlog warning must also gate on this flag (round-8
        # ADVICE: the floor-based probe re-counted the whole log and
        # warned spuriously on every such restart).
        self._fresh_started = False
        self._starting = str(options.get("startingVersion", "latest"))
        # startingTimestamp (Delta parity): begin at the first commit
        # whose authoritative timestamp (inCommitTimestamp when present,
        # else file mtime) is >= the given time. Accepts epoch millis or
        # an ISO string interpreted as UTC (the worker process has no
        # SparkSession to read a session timezone from).
        st = options.get("startingTimestamp")
        if st is not None and "startingVersion" in options:
            raise ValueError(
                "startingVersion and startingTimestamp are mutually exclusive"
            )
        self._starting_ts: int | None = None
        if st is not None:
            s = str(st)
            if s.lstrip("-").isdigit():
                self._starting_ts = int(s)
            else:
                import datetime as _dt

                d = _dt.datetime.fromisoformat(s)
                if d.tzinfo is None:
                    d = d.replace(tzinfo=_dt.timezone.utc)
                self._starting_ts = int(d.timestamp() * 1000)
        # Delta distinguishes these: ignoreDeletes skips DELETE-only
        # commits (removes, no adds); ignoreChanges additionally streams
        # past rewrites (UPDATE/MERGE/partial DELETE), RE-EMITTING the
        # rewritten files' rows. Conflating them would silently duplicate
        # update rows for users who only opted into deletes.
        self._ignore_changes = (
            str(options.get("ignoreChanges", "false")).lower() == "true"
        )
        self._ignore_deletes = self._ignore_changes or (
            str(options.get("ignoreDeletes", "false")).lower() == "true"
        )
        # change-feed mode: emit (row, _change_type, _commit_version) for
        # every data-changing commit instead of raising on rewrites
        self._cdf = str(options.get("readChangeFeed", "false")).lower() == "true"
        self._data_schema = T.StructType(
            [
                f
                for f in schema.fields
                if f.name not in ("_change_type", "_commit_version")
            ]
        )
        # admission control: cap what one microbatch consumes, so a
        # backfill from an old startingVersion (or one giant backfill
        # commit) proceeds in bounded increments instead of one unbounded
        # first batch.
        #   maxCommitsPerTrigger — whole commits per batch
        #   maxFilesPerTrigger / maxBytesPerTrigger — Delta parity: add-
        #     file / byte caps that SPLIT a large commit across batches
        #     (offset = {"version": v, "index": files-of-v-consumed};
        #     file order within a commit is the stable action order of
        #     the commit JSON, so restarts mid-commit replay exactly-once)
        mcpt = options.get("maxCommitsPerTrigger")
        self._max_commits = int(mcpt) if mcpt is not None else None
        # NO default file cap, deliberately diverging from delta-spark's
        # default-1000: its engine exposes ReadLimit/availableNow APIs
        # that let a capped source still drain fully under
        # Trigger.AvailableNow; the Python DataSource API does not (the
        # engine calls latestOffset ONCE per availableNow run and
        # captures it as the terminal — verified empirically, round 7),
        # so a default cap would turn plain availableNow into
        # one-capped-batch-per-run. Since round 7 that batch is NON-EMPTY
        # (the fresh-start latestOffset admits a chunk instead of the
        # bare floor), and streaming.drain_backlog loops capped
        # availableNow runs for bounded, checkpointed, exactly-once
        # catch-up over huge backlogs. Explicit caps remain the
        # recommended backfill posture.
        mfpt = options.get("maxFilesPerTrigger")
        self._max_files = (
            None
            if mfpt is None or str(mfpt).lower() in ("none", "-1")
            else int(mfpt)
        )
        mbpt = options.get("maxBytesPerTrigger")
        self._max_bytes = int(mbpt) if mbpt is not None else None
        # skipChangeCommits (modern Delta): silently SKIP any commit that
        # rewrites/deletes data instead of erroring or re-emitting —
        # supersedes ignoreChanges' duplication semantics
        self._skip_change_commits = (
            str(options.get("skipChangeCommits", "false")).lower() == "true"
        )
        self._add_sizes_cache: dict[int, tuple[list[int], bool]] = {}
        # Trigger.AvailableNow interop: the engine captures ONE
        # latestOffset() (before initialOffset) as the terminal target and
        # never asks again — the Python DataSource API (Spark 4.1) exposes
        # no ReadLimit/prepareForTriggerAvailableNow hook, so per-batch
        # caps CANNOT chunk a single engine-driven availableNow drain.
        # With caps, each availableNow run drains exactly ONE capped
        # batch (non-empty since round 7); streaming.drain_backlog loops
        # such runs until empty for bounded exactly-once catch-up. Set
        # availableNow=true alongside .trigger(availableNow=True) to
        # bypass the caps for a run (whole backlog, one batch, clean
        # self-termination).
        self._available_now = (
            str(options.get("availableNow", "false")).lower() == "true"
        )
        # schema-change safety: a mid-stream metaData action whose schema
        # diverges from the one this stream reads with FAILS the stream
        # (silent NULL-fill was the round-4 wrong-answer risk). Columns
        # ADDED after stream start may be tolerated via this option (the
        # stream's output schema simply never shows them).
        self._allow_addition = (
            str(options.get("allowColumnAddition", "false")).lower() == "true"
        )
        # furthest offset this reader KNOWS the engine has reached (from
        # initialOffset/partitions/commit), as (version, files_consumed)
        # with files_consumed=None meaning "version fully consumed". None
        # after a checkpoint restart until the engine tells us — then the
        # cap is skipped for one trigger rather than ever moving an
        # offset backward.
        self._position: tuple[int, int | None] | None = None

    def _trace(self, msg: str) -> None:
        import os as _os

        if _os.environ.get("SPARK_DP_DEBUG"):
            with open("/tmp/dp_calls.log", "a") as f:
                f.write(f"pid={_os.getpid()} id={id(self)} {msg}\n")

    @staticmethod
    def _off_key(pos: tuple[int, int | None]) -> tuple[int, float]:
        v, i = pos
        return (v, float("inf") if i is None else i)

    @staticmethod
    def _parse_offset(off: dict) -> tuple[int, int | None]:
        return (int(off["version"]), None) if "index" not in off else (
            int(off["version"]),
            int(off["index"]),
        )

    @staticmethod
    def _to_offset(pos: tuple[int, int | None]) -> dict:
        v, i = pos
        return {"version": v} if i is None else {"version": v, "index": i}

    def _advance(self, pos: tuple[int, int | None]) -> None:
        if self._position is None or self._off_key(pos) > self._off_key(
            self._position
        ):
            self._position = pos

    def _commit_admission(self, log: DeltaLog, v: int) -> tuple[list[int], bool]:
        """(sizes of commit v's dataChange add files in the STABLE action
        order of the commit JSON — the unit the file/byte caps admit,
        whether the commit carries dataChange removes). The remove flag
        lets the admission walk treat commits that partitions() will skip
        wholesale (skipChangeCommits) as zero-cost, so a trigger's budget
        is never consumed by rows that are never emitted. Tiny per-trigger
        cache; pruned so it never outlives the window."""
        if v not in self._add_sizes_cache:
            if len(self._add_sizes_cache) > 64:
                self._add_sizes_cache.clear()
            sizes = []
            has_dc_removes = False
            for a in log.commit_actions(v):
                if "add" in a and a["add"].get("dataChange", True):
                    sizes.append(int(a["add"].get("size", 0)))
                elif "remove" in a and a["remove"].get("dataChange", True):
                    has_dc_removes = True
            self._add_sizes_cache[v] = (sizes, has_dc_removes)
        return self._add_sizes_cache[v]

    def _commit_add_sizes(self, log: DeltaLog, v: int) -> list[int]:
        return self._commit_admission(log, v)[0]

    def _floor_version(self, log: DeltaLog) -> int:
        """The version v such that this stream emits commits > v."""
        if self._starting_ts is not None:
            latest = log.latest_version()
            if log.commit_timestamp(latest) < self._starting_ts:
                raise ValueError(
                    f"startingTimestamp {self._starting_ts} is after the "
                    f"latest commit of {self._path} (v{latest}); use "
                    "startingVersion='latest' to tail only new commits"
                )
            lo, hi = 0, latest  # commit timestamps are non-decreasing
            while lo < hi:
                mid = (lo + hi) // 2
                if log.commit_timestamp(mid) >= self._starting_ts:
                    hi = mid
                else:
                    lo = mid + 1
            return lo - 1
        if self._starting == "latest":
            return log.latest_version()
        return int(self._starting) - 1

    def initialOffset(self) -> dict:
        self._fresh_started = True
        v = self._floor_version(DeltaLog(self._path))
        self._advance((v, None))
        self._trace(f"initialOffset -> {v}")
        return {"version": v}

    def _warn_unbounded_backlog(self, log: DeltaLog, latest: int) -> None:
        """Loud one-shot warning when an UNCAPPED fresh start is about to
        admit a huge backlog as one batch (round-8 ask #6): counting
        stops at the threshold (ADLS_STREAM_BACKLOG_WARN_FILES, default
        10^4; 0 disables), so the probe costs O(threshold) even on a
        million-file backlog. Checkpoint restarts never warn: a restart
        with uncommitted batches replays partitions()/commit() first
        (setting _engine_recovered), and a restart whose last batch was
        fully COMMITTED before shutdown replays nothing — its first call
        is latestOffset() with no initialOffset() in this process, so the
        warning additionally requires _fresh_started (round-8 ADVICE: the
        _floor_version fallback probe both warned spuriously and paid
        O(threshold) commit reads on every committed restart). The
        suppressed path does NOT consume the one-shot: under availableNow
        the engine captures one latestOffset before initialOffset, and a
        later post-initialization call may still legitimately warn."""
        if self._warned_backlog or self._engine_recovered:
            return
        if not self._fresh_started:
            return
        self._warned_backlog = True
        thr = int(
            os.environ.get("ADLS_STREAM_BACKLOG_WARN_FILES", "10000")
        )
        if thr <= 0:
            return
        files = 0
        floor = (
            self._position[0]
            if self._position is not None
            else self._floor_version(log)
        )
        for v in range(floor + 1, latest + 1):
            sizes, _ = self._commit_admission(log, v)
            files += len(sizes)
            if files > thr:
                import warnings

                warnings.warn(
                    f"deltapond stream over {self._path} starts with an "
                    f"unbounded first batch of more than {thr} files and "
                    "no admission cap — one microbatch will process the "
                    "entire backlog. Set maxFilesPerTrigger/"
                    "maxBytesPerTrigger (bounded batches), or catch up "
                    "via streaming.drain_backlog (bounded exactly-once "
                    "availableNow runs). Raise/disable this check with "
                    "ADLS_STREAM_BACKLOG_WARN_FILES.",
                    stacklevel=2,
                )
                self._trace(f"backlog warn: >{thr} files pending")
                return

    def latestOffset(self) -> dict:
        log = DeltaLog(self._path)
        latest = log.latest_version()
        capped = (
            self._max_commits is not None
            or self._max_files is not None
            or self._max_bytes is not None
        ) and not self._available_now
        if not capped:
            self._warn_unbounded_backlog(log, latest)
            return {"version": latest}
        if self._position is None:
            # First call of a FRESH start (this API gives latestOffset no
            # start offset, and it can run before initialOffset): anchor
            # at the stream's floor and fall through to the admission
            # walk, so the FIRST offset already admits one capped chunk.
            # Returning the bare floor here (as before round 7) made
            # Trigger.AvailableNow capture an EMPTY terminal offset and
            # drain zero rows silently — now each availableNow run drains
            # exactly one bounded batch (see streaming.drain_backlog for
            # the loop-until-empty catch-up). On checkpoint RESTARTS the
            # engine calls partitions()/commit() during recovery before
            # ever asking for a new offset (verified empirically), so
            # position is known and this branch cannot move offsets
            # backward.
            floor = self._floor_version(log)
            self._advance((floor, None))
            self._trace(f"latestOffset fresh floor {floor}, admitting")
        v0, i0 = self._position
        max_v = latest
        if self._max_commits is not None:
            # a partially-consumed commit counts toward the commit budget
            max_v = min(latest, v0 + self._max_commits - (1 if i0 is not None else 0))
            max_v = max(max_v, v0)  # never move backward
        if self._max_files is None and self._max_bytes is None:
            # a mid-commit position (checkpointed under file/byte caps,
            # restarted with only a commit cap) must still FINISH its
            # partial commit — (v0, None) — or the stream stalls forever
            # when max_v == v0
            if max_v > v0 or i0 is not None:
                out = (max_v, None)
            else:
                out = (v0, i0)
            self._trace(f"latestOffset capped pos={self._position} -> {out}")
            return self._to_offset(out)
        # file/byte admission: walk add lists in order, splitting a large
        # commit at the cap. Always admit at least one file per trigger
        # (a single file bigger than maxBytes still makes progress). In
        # CDF mode commits are never split (one commit's changes are
        # derived as a unit) — caps bound how MANY commits are admitted.
        files = 0
        bytes_ = 0
        end = (v0, i0)
        start_v = v0 if i0 is not None else v0 + 1
        for v in range(start_v, max_v + 1):
            sizes, has_dc_removes = self._commit_admission(log, v)
            if (
                not self._cdf
                and self._skip_change_commits
                and has_dc_removes
            ):
                # partitions() will skip this commit entirely — admit it
                # as a zero-cost whole commit so the trigger's budget is
                # spent on rows that are actually emitted
                end = (v, None)
                continue
            skip = i0 if (v == v0 and i0 is not None) else 0
            pending = sizes[skip:]
            if self._cdf:
                if files > 0 and (
                    (self._max_files is not None and files + len(pending) > self._max_files)
                    or (self._max_bytes is not None and bytes_ + sum(pending) > self._max_bytes)
                ):
                    break
                files += len(pending)
                bytes_ += sum(pending)
                end = (v, None)
                if (self._max_files is not None and files >= self._max_files) or (
                    self._max_bytes is not None and bytes_ >= self._max_bytes
                ):
                    break
                continue
            taken = 0
            for sz in pending:
                if files > 0 and (
                    (self._max_files is not None and files >= self._max_files)
                    or (self._max_bytes is not None and bytes_ >= self._max_bytes)
                ):
                    break
                files += 1
                bytes_ += sz
                taken += 1
            if taken == len(pending):
                end = (v, None)
            else:
                end = (v, skip + taken)
                break
            if (self._max_files is not None and files >= self._max_files) or (
                self._max_bytes is not None and bytes_ >= self._max_bytes
            ):
                break
        self._trace(f"latestOffset capped pos={self._position} -> {end}")
        return self._to_offset(end)

    def _check_schema_change(self, md: dict, v: int) -> None:
        """Fail fast (with a restart message) when commit v's metaData
        declares a schema this stream cannot read faithfully.

        Safe: identical schema; a HISTORICAL narrower schema the declared
        one extends additively (backfill over pre-evolution commits — old
        files read NULL for the later columns, which is correct because
        those rows predate them). Unsafe: renamed / dropped / type-changed
        columns (silent NULL-fill or miscast), and columns ADDED after
        stream start (the output schema can never show them) unless the
        user opted in via allowColumnAddition."""
        from ..delta.types import schema_string_to_struct

        new = schema_string_to_struct(md["schemaString"])
        base = self._data_schema if self._cdf else self._schema
        declared = {f.name: f.dataType.simpleString() for f in base.fields}
        commit_s = {f.name: f.dataType.simpleString() for f in new.fields}
        if commit_s == declared:
            return
        declared_extends_commit = all(
            declared.get(n) == t for n, t in commit_s.items()
        )
        if declared_extends_commit:
            return  # historical narrower schema: additive backfill, safe
        commit_extends_declared = all(
            commit_s.get(n) == t for n, t in declared.items()
        )
        if commit_extends_declared and self._allow_addition:
            return  # new columns tolerated by explicit option
        kind = (
            "adds columns (set allowColumnAddition=true to stream on "
            "without them)"
            if commit_extends_declared
            else "renames, drops or retypes columns"
        )
        raise RuntimeError(
            f"deltapond stream: commit {v} of {self._path} changes the "
            f"table schema ({kind}). Reading on would silently NULL-fill "
            "or miscast — restart the stream to pick up the new schema."
        )

    def partitions(self, start: dict, end: dict):
        sv, si = self._parse_offset(start)
        ev, ei = self._parse_offset(end)
        self._advance((ev, ei))
        self._engine_recovered = True
        log = DeltaLog(self._path)
        # versions this batch touches: a partially-consumed start version
        # is re-entered (from its recorded file index); a partial end
        # version is entered up to its index
        first_v = sv if si is not None else sv + 1
        for v in range(first_v, ev + 1):
            for action in log.commit_actions(v):
                if "metaData" in action:
                    self._check_schema_change(action["metaData"], v)
        if self._cdf:
            return self._cdf_partitions(log, first_v, ev)
        # column mapping: raw add actions key partitionValues physically
        p2l = physical_to_logical(self._schema, _SCHEMA_MAPPED)
        parts = []
        for v in range(first_v, ev + 1):
            adds = []
            has_removes = False
            for action in log.commit_actions(v):
                if "add" in action:
                    a = action["add"]
                    if a.get("dataChange", True):
                        adds.append(a)
                elif "remove" in action:
                    if action["remove"].get("dataChange", True):
                        has_removes = True
            if has_removes and self._skip_change_commits:
                continue  # change commits silently skipped by opt-in
            if has_removes and not self._ignore_changes:
                if self._ignore_deletes and not adds:
                    continue  # pure delete: skipped by explicit opt-in
                raise RuntimeError(
                    f"commit {v} {'rewrites' if adds else 'deletes'} data; "
                    + (
                        "set ignoreChanges to stream past rewrites "
                        "(rewritten files' rows are re-emitted)"
                        if adds
                        else "set ignoreDeletes (or ignoreChanges) to "
                        "stream past delete-only commits"
                    )
                )
            # slice the stable-ordered add list to this batch's window
            # (exactly-once across restarts: the same offsets always
            # reproduce the same slice)
            lo = si if (v == sv and si is not None) else 0
            hi = ei if (v == ev and ei is not None) else len(adds)
            for a in adds[lo:hi]:
                from ..delta.log import _decode_path

                pv = {
                    p2l.get(k, k): val
                    for k, val in (a.get("partitionValues") or {}).items()
                }
                parts.append(
                    DeltaScanPartition(
                        file_path=os.path.join(
                            self._path, _decode_path(a["path"])
                        ),
                        partition_values=dict(pv),
                        dv=a.get("deletionVector") or None,
                        table_path=self._path,
                    )
                )
        return parts

    def _cdf_partitions(self, log, lo: int, hi: int):
        """Change-feed partitions for commits [lo, hi]: one per file of
        each commit's cdf._ChangeSet, the change set table_changes reads
        too — cdc files, inserted and deleted files, and for same-path
        pairs with a changed deletion vector exactly the newly-DV'd (or
        un-deleted) rows.

        Driver-light (round-10 ask #1, streaming side): the previous shape
        replayed a CLASSIC snapshot per commit (`log.snapshot(v - 1)`) —
        8.6 GiB of driver RSS PER MICROBATCH VERSION when readChangeFeed
        tails a 10^7-file foreign table. The cdf._RangeTracker replaces
        it: one base probe at lo-1 (executor-side through
        LightSnapshot.files_df past the light-planning threshold — the
        active session is available here because partitions() runs in the
        driver process), then each commit's own actions advance the
        watched-path state."""
        from ..delta.cdf import _RangeTracker

        def _part(f, v, **kw):
            return DeltaScanPartition(
                file_path=os.path.join(self._path, f.path),
                partition_values=dict(f.partition_values),
                table_path=self._path,
                commit_version=v,
                **kw,
            )

        parts = []
        for cs in _RangeTracker(log, lo, hi).change_sets():
            # spec: a commit WITH cdc actions describes ALL its changes
            # through the change data files (its other lists are empty)
            v = cs.version
            parts += [_part(f, v, cdc_file=True) for f in cs.cdc]
            for pf, nf in cs.dv_pairs:
                # newly DV'd rows are deletes; a SHRINKING deletion vector
                # (RESTORE rolling back a MOR delete) resurrects rows:
                # old minus new positions are INSERTS — same diff read
                # with the DVs swapped
                parts.append(
                    _part(
                        nf,
                        v,
                        dv=nf.deletion_vector,
                        dv_old=pf.deletion_vector,
                        dv_diff=True,
                        change_type="delete",
                    )
                )
                parts.append(
                    _part(
                        nf,
                        v,
                        dv=pf.deletion_vector,
                        dv_old=nf.deletion_vector,
                        dv_diff=True,
                        change_type="insert",
                    )
                )
            parts += [
                _part(f, v, dv=f.deletion_vector, change_type="insert")
                for f in cs.inserted
            ]
            parts += [
                _part(f, v, dv=f.deletion_vector, change_type="delete")
                for f in cs.deleted
            ]
        return parts

    def read(self, partition: DeltaScanPartition):
        import pyarrow as pa

        if partition.cdc_file:
            # change data file: `_change_type` is read FROM the file; only
            # `_commit_version` is a literal
            schema = T.StructType(
                list(self._data_schema.fields)
                + [T.StructField("_change_type", T.StringType(), True)]
            )
            return _read_file_batches(
                partition.file_path,
                partition.partition_values,
                schema,
                table_path=partition.table_path,
                literals={
                    "_commit_version": (partition.commit_version, pa.int64())
                },
            )
        literals = None
        if partition.change_type is not None:
            literals = {
                "_change_type": (partition.change_type, pa.string()),
                "_commit_version": (partition.commit_version, pa.int64()),
            }
        return _read_file_batches(
            partition.file_path,
            partition.partition_values,
            self._data_schema if self._cdf else self._schema,
            partition.dv,
            partition.table_path,
            dv_old=partition.dv_old,
            dv_diff=partition.dv_diff,
            literals=literals,
        )

    def commit(self, end: dict) -> None:
        self._engine_recovered = True
        self._advance(self._parse_offset(end))


# --------------------------------------------------------------- write path


@dataclass
class _AddsMessage(WriterCommitMessage):
    adds: list = field(default_factory=list)


def _target_l2p(table_path: str) -> dict | None:
    """logical->physical map of an EXISTING column-mapped target (else
    None) — resolved driver-side at writer construction and shipped in the
    writer closure, so executor tasks never replay the log."""
    try:
        snap = DeltaLog(table_path).header()
    except (FileNotFoundError, ValueError):
        return None
    return logical_to_physical(snap.schema, snap.metadata.get("configuration"))


def _hive_seg(col: str, value) -> str:
    from urllib.parse import quote

    if value is None:
        return f"{col}=__HIVE_DEFAULT_PARTITION__"
    return f"{col}={quote(str(value), safe='')}"


def _write_task_files(
    batches: Iterator,
    schema: T.StructType,
    table_path: str,
    partition_by: list[str],
    l2p: dict | None = None,
) -> list[dict]:
    """Executor-side: write this task's Arrow batches as parquet file(s)
    under `table_path` (hive layout when partitioned) and return their
    UNCOMMITTED `add` actions. One file per partition-value combination
    per task; the driver's commit() makes them visible atomically.

    `l2p` (column-mapped target): files, hive dirs, partitionValues and
    stats are written under PHYSICAL column names, same convention as
    writer.stage_data_files."""
    import pyarrow as pa
    import pyarrow.compute as pc
    import pyarrow.parquet as pq
    from pyspark.sql.pandas.types import to_arrow_schema

    arrow_schema = to_arrow_schema(schema)
    blist = list(batches)
    if not blist:
        return []
    tbl = pa.Table.from_batches(blist, schema=arrow_schema)
    if tbl.num_rows == 0:
        return []
    if l2p:
        tbl = tbl.rename_columns([l2p.get(n, n) for n in tbl.column_names])
        partition_by = [l2p.get(c, c) for c in partition_by]
        schema = T.StructType(
            [
                T.StructField(
                    l2p.get(f.name, f.name), f.dataType, f.nullable, f.metadata
                )
                for f in schema.fields
            ]
        )
    data_schema = T.StructType(
        [f for f in schema.fields if f.name not in partition_by]
    )

    groups: list[tuple[dict, "pa.Table"]] = []
    if not partition_by:
        groups.append(({}, tbl))
    else:
        combos = tbl.select(partition_by).group_by(partition_by).aggregate([])
        for combo in combos.to_pylist():
            mask = None
            for c, v in combo.items():
                m = pc.is_null(tbl[c]) if v is None else pc.equal(tbl[c], v)
                mask = m if mask is None else pc.and_(mask, m)
            part = tbl.filter(mask).drop_columns(partition_by)
            groups.append((combo, part))

    now = int(time.time() * 1000)
    adds = []
    from urllib.parse import quote

    for combo, part in groups:
        rel_dir = "/".join(_hive_seg(c, combo[c]) for c in partition_by)
        fname = f"part-{uuid.uuid4().hex}.snappy.parquet"
        rel_path = f"{rel_dir}/{fname}" if rel_dir else fname
        dst = os.path.join(table_path, rel_path)
        os.makedirs(os.path.dirname(dst), exist_ok=True)
        pq.write_table(part, dst, compression="snappy")
        add = {
            "path": quote(rel_path, safe="/="),
            "partitionValues": {
                c: (None if combo[c] is None else str(combo[c]))
                for c in partition_by
            },
            "size": os.path.getsize(dst),
            "modificationTime": now,
            "dataChange": True,
            "stats": json.dumps(
                _file_stats(dst, data_schema), separators=(",", ":")
            ),
        }
        adds.append({"add": add})
    return adds


def _commit_adds(
    table_path: str,
    schema: T.StructType,
    partition_by: list[str],
    adds: list[dict],
    overwrite: bool,
    operation: str,
    extra_actions: list[dict] | None = None,
) -> int:
    """Driver-side: one atomic commit making this write's files visible
    (plus removes of the prior snapshot on overwrite). Mirrors
    writer.write_delta's commit shape so tables are interchangeable
    between the DataFrame API and the data source."""
    from ..delta.types import struct_to_schema_string

    version = _next_version(table_path)
    now = int(time.time() * 1000)
    actions: list[dict] = [
        {
            "commitInfo": {
                "timestamp": now,
                "operation": operation,
                "operationParameters": {"partitionBy": json.dumps(partition_by)},
                "engineInfo": "athena_delta_lake_spark/deltapond-source",
            }
        }
    ]
    actions.extend(extra_actions or [])
    prior = None
    light_overwrite = None  # LightSnapshot when overwrite removes stream
    if version > 0:
        # append commits need only the HEADER (schema/partitions/config/
        # row-id domain); overwrite enumerates prior.files for its removes
        # — CLASSIC below the light threshold, STREAMED from files_df past
        # it (writer.commit_streamed_removes, round-10 ask #3: the
        # deliberate O(table) driver enumeration this comment used to
        # document)
        log0 = DeltaLog(table_path)
        if overwrite:
            light_overwrite = log0.light_plane()
            prior = (
                light_overwrite.to_snapshot_state([])
                if light_overwrite is not None
                else log0.snapshot()
            )
        else:
            prior = log0.header()
        prior_names = {f.name for f in prior.schema.fields}
        if {f.name for f in schema.fields} != prior_names:
            raise ValueError(
                "schema mismatch with existing table (use the write_delta "
                "API with merge_schema=True to evolve)"
            )
        if list(prior.partition_columns) != list(partition_by):
            raise ValueError(
                f"partition mismatch: table has {prior.partition_columns}, "
                f"got {partition_by}"
            )
    if version == 0:
        actions.append(
            {"protocol": {"minReaderVersion": 1, "minWriterVersion": 2}}
        )
        actions.append(
            {
                "metaData": {
                    "id": str(uuid.uuid4()),
                    "format": {"provider": "parquet", "options": {}},
                    "schemaString": struct_to_schema_string(
                        T.StructType(
                            [f for f in schema.fields if f.name not in partition_by]
                            + [f for f in schema.fields if f.name in partition_by]
                        )
                    ),
                    "partitionColumns": partition_by,
                    "configuration": {},
                    "createdTime": now,
                }
            }
        )
    if overwrite and prior is not None:
        actions.extend(
            {"remove": remove_action(f, True, now)} for f in prior.files
        )
    if prior is not None:
        # row tracking: DSv2 writes to an enableRowTracking table must
        # allocate id ranges like every other writer, or the appended rows
        # read NULL _row_id and the table invariant breaks
        from ..delta.writer import (
            _assign_row_ids,
            _row_id_hwm,
            _row_tracking_enabled,
        )

        if _row_tracking_enabled(prior.metadata.get("configuration")) and adds:
            hwm = _row_id_hwm(prior.domain_metadata)
            _, rt_domain = _assign_row_ids(adds, hwm, version)
            actions.append(rt_domain)
    actions.extend(adds)
    if light_overwrite is not None:
        from pyspark.sql import SparkSession as _SS

        from ..delta.writer import commit_streamed_removes

        v_out, _n = commit_streamed_removes(
            _SS.active(),
            table_path,
            operation,
            actions,
            light_overwrite,
            expected_version=version,
        )
        return v_out
    _atomic_commit(os.path.join(table_path, "_delta_log"), version, actions)
    DeltaLog.clear_cache()
    return version


def _abort_adds(table_path: str, messages) -> None:
    from ..delta.log import _decode_path

    for msg in messages or []:
        if msg is None:
            continue
        for a in getattr(msg, "adds", []):
            p = os.path.join(table_path, _decode_path(a["add"]["path"]))
            try:
                os.remove(p)
            except OSError:
                pass


def _partition_by_option(options) -> list[str]:
    raw = options.get("partitionBy", "") or ""
    return [c.strip() for c in raw.split(",") if c.strip()]


class DeltaPondBatchWriter(DataSourceArrowWriter):
    def __init__(self, options, schema: T.StructType, overwrite: bool):
        self._path = _table_path(options)
        _require_local_write_path(self._path)
        self._schema = schema
        self._overwrite = overwrite
        self._partition_by = _partition_by_option(options)
        self._l2p = _target_l2p(self._path)

    def write(self, iterator) -> _AddsMessage:
        return _AddsMessage(
            adds=_write_task_files(
                iterator, self._schema, self._path, self._partition_by,
                l2p=self._l2p,
            )
        )

    def commit(self, messages) -> None:
        adds = [a for m in messages if m is not None for a in m.adds]
        _commit_adds(
            self._path,
            self._schema,
            self._partition_by,
            adds,
            self._overwrite,
            "WRITE" if not self._overwrite else "OVERWRITE",
        )

    def abort(self, messages) -> None:
        _abort_adds(self._path, messages)


class DeltaPondStreamWriter(DataSourceStreamArrowWriter):
    """Streaming sink with per-epoch transactional idempotence: each epoch
    commits one Delta version carrying a `txn` action {appId, version=
    epochId}; a replayed epoch (driver restart) sees txn.version >= epochId
    already in the log and commits nothing, so the sink is exactly-once at
    file granularity — strictly stronger than the foreachBatch pattern,
    which re-appends on replay."""

    def __init__(self, options, schema: T.StructType, overwrite: bool):
        if overwrite:
            raise ValueError("deltapond streaming sink supports append mode only")
        self._path = _table_path(options)
        _require_local_write_path(self._path)
        self._schema = schema
        self._partition_by = _partition_by_option(options)
        self._app_id = options.get("txnAppId", "deltapond-stream")
        self._l2p = _target_l2p(self._path)

    def _last_committed_epoch(self) -> int:
        try:
            snap = DeltaLog(self._path).header()
        except (FileNotFoundError, ValueError):
            return -1
        # snapshot replay tracks SetTransaction high-water marks (and the
        # checkpoint persists them), so this is O(1) instead of rescanning
        # every commit JSON — and survives commit-file cleanup; the
        # header-only route keeps it O(1) DRIVER MEMORY too on 10^7-file
        # sink targets
        return int(snap.txns.get(self._app_id, -1))

    def write(self, iterator) -> _AddsMessage:
        return _AddsMessage(
            adds=_write_task_files(
                iterator, self._schema, self._path, self._partition_by,
                l2p=self._l2p,
            )
        )

    def commit(self, messages, batchId: int) -> None:
        if batchId <= self._last_committed_epoch():
            _abort_adds(self._path, messages)  # replayed epoch: drop its files
            return
        adds = [a for m in messages if m is not None for a in m.adds]
        _commit_adds(
            self._path,
            self._schema,
            self._partition_by,
            adds,
            overwrite=False,
            operation="STREAMING UPDATE",
            extra_actions=[
                {"txn": {"appId": self._app_id, "version": int(batchId)}}
            ],
        )

    def abort(self, messages, batchId: int) -> None:
        _abort_adds(self._path, messages)


class DeltaPondDataSource(DataSource):
    @classmethod
    def name(cls) -> str:
        return "deltapond"

    def schema(self) -> T.StructType:
        path = _table_path(self.options)
        v = self.options.get("versionAsOf")
        # header-only replay: schema resolution must not pay the classic
        # full-file replay (this hook runs in the planning worker too)
        schema = DeltaLog(path).snapshot_light(
            int(v) if v is not None else None
        ).schema
        if str(self.options.get("readChangeFeed", "false")).lower() == "true":
            schema = T.StructType(
                list(schema.fields)
                + [
                    T.StructField("_change_type", T.StringType()),
                    T.StructField("_commit_version", T.LongType()),
                ]
            )
        return schema

    def reader(self, schema: T.StructType) -> DeltaPondBatchReader:
        return DeltaPondBatchReader(self.options, schema)

    def streamReader(self, schema: T.StructType) -> DeltaPondStreamReader:
        return DeltaPondStreamReader(self.options, schema)

    def writer(self, schema: T.StructType, overwrite: bool) -> DeltaPondBatchWriter:
        return DeltaPondBatchWriter(self.options, schema, overwrite)

    def streamWriter(self, schema: T.StructType, overwrite: bool) -> DeltaPondStreamWriter:
        return DeltaPondStreamWriter(self.options, schema, overwrite)


def register(spark) -> None:
    """Register the `deltapond` format on a SparkSession (idempotent)."""
    spark.dataSource.register(DeltaPondDataSource)
