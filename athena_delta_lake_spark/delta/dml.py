"""Delta DML: copy-on-write DELETE / UPDATE / MERGE, file compaction
(OPTIMIZE bin-packing) and VACUUM.

The reference is strictly read-only (delta-standalone 0.2.0,
/root/reference/build.sbt:37; SURVEY §2.C "no writes, no transactions") —
these operators complete the system capability the reference's users get
from the Athena side plus table maintenance no part of the reference offers.

Design for scale (copy-on-write):
- Only *candidate* files are ever read or rewritten. Candidates come from
  the same driver-side pruning the scan uses (stats.prune_files: partition
  values exact, min/max stats conservative), so a DELETE with a partition
  predicate touches only that partition's files and a MERGE touches only
  files that provably contain matched keys.
- Rewrites are Spark jobs (vectorized parquet in/out), never driver loops;
  the driver handles O(metadata) only: file lists and commit JSON.
- The commit is a single atomic version containing `remove`(old) +
  `add`(new) — readers at the prior version still see a consistent
  snapshot (time travel keeps working across DML).
- Row counts are taken from the per-file stats already being computed for
  data skipping, not from extra count() jobs.
"""

from __future__ import annotations

import json
import os
import time
from dataclasses import replace
from typing import Any

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from .fs import get_fs, normalize_table_path
from .log import (
    AddFile,
    DeltaLog,
    SnapshotState,
    add_action,
    dv_unique_id,
    remap_addfile,
)
from .reader import read_files
from .stats import Predicate, prune_files_auto
from .types import logical_to_physical
from .writer import commit_rewrite, file_fingerprint, stage_data_files


# --------------------------------------------------------------- predicates


def _normalize_where(where) -> tuple[list[Predicate], "F.Column", bool]:
    """-> (pruning predicates, row-level condition, fully_parsed).

    `fully_parsed` is True when the pruning predicates are EXACTLY the row
    condition (every conjunct captured) — the precondition for the
    no-rewrite fast path on partition-only predicates.
    """
    from .table import _parse_where_full

    if isinstance(where, str):
        # single source of truth for the fully-parsed flag (a hand-rolled
        # conjunct recount disagreed with it on OR expressions: both see
        # zero preds, but 0 == 0 read as "fully parsed" — harmless only
        # while every consumer also required non-empty preds)
        preds, fully = _parse_where_full(where)
        return preds, F.expr(where), fully
    preds = list(where or [])
    cond = F.lit(True)
    for col, op, val in preds:
        c = F.col(col)
        if op in {"=", "=="}:
            part = c.eqNullSafe(val) if val is None else (c == val)
        elif op == "!=":
            part = c != val
        elif op == "<":
            part = c < val
        elif op == "<=":
            part = c <= val
        elif op == ">":
            part = c > val
        elif op == ">=":
            part = c >= val
        elif op == "in":
            part = c.isin(list(val))
        else:
            raise ValueError(f"unsupported op: {op!r}")
        cond = cond & part
    return preds, cond, True


def _num_records(files: list[AddFile]) -> int | None:
    total = 0
    for f in files:
        n = (f.stats or {}).get("numRecords")
        if n is None:
            return None
        total += n
        if f.deletion_vector:  # stats count physical rows; DV'd ones are gone
            total -= int(f.deletion_vector.get("cardinality", 0))
    return total


def _adds_num_records(adds: list[dict]) -> int | None:
    import json

    total = 0
    for a in adds:
        s = a["add"].get("stats")
        if s is None:
            return None
        total += json.loads(s)["numRecords"]
    return total


def _partition_only(preds: list[Predicate], snap: SnapshotState) -> bool:
    pc = set(snap.partition_columns)
    return bool(preds) and all(p[0] in pc for p in preds)


# --------------------------------------------------------------------- DELETE


def _light_planning_candidates(spark, table_path: str, preds):
    """(snapshot, candidates) via the DRIVER-LIGHT planning path, or None
    to plan classically. Engages past log.light_planning_threshold
    (`_last_checkpoint` size, default 10^6 files): candidate selection
    runs executor-side over the checkpoint parquet (LightSnapshot.
    prune_df) and only the survivors are materialized as AddFiles, so a
    predicate DELETE/UPDATE on a 10^7-file table never builds the classic
    driver-resident snapshot. Declines (returns None) when any predicate
    column's type or op is outside the executor-prune's exact domain —
    partition predicates must prune EXACTLY there (the metadata-only
    DELETE fast path removes every candidate wholesale), and e.g.
    DecimalType coercion differs between the two evaluators — or when
    survivors exceed log.light_collect_cap (an unselective predicate
    gains nothing from light planning)."""
    from .stats import _OPS, _SAFE_PRUNE_TYPES

    if not preds:
        return None
    light = DeltaLog(table_path).light_plane(spark=spark)
    if light is None:
        return None
    types = {f.name: f.dataType for f in light.schema.fields}
    for col, op, _val in preds:
        dt = types.get(col)
        if (
            op not in _OPS
            or dt is None
            or not isinstance(dt, _SAFE_PRUNE_TYPES)
        ):
            return None
    from .log import light_collect_cap

    files = light.collect_pruned_add_files(
        spark, preds, cap=light_collect_cap()
    )
    if files is None:
        return None
    return light.to_snapshot_state(files), files


def _plan_candidates(spark, table_path: str, preds):
    """(snapshot, candidate files) — THE candidate-selection entry every
    DML rewriter uses: driver-light past the threshold
    (_light_planning_candidates), classic snapshot + prune otherwise."""
    light = _light_planning_candidates(spark, table_path, preds)
    if light is not None:
        return light
    snap = DeltaLog(table_path).snapshot()
    return snap, (
        prune_files_auto(spark, snap, preds) if preds else list(snap.files)
    )


def _light_compact_candidates(
    spark, table_path: str, target_file_size: int, zorder_by, dv_only
):
    """(snapshot, victims, effective_zorder, capped) via the driver-light
    plane for UNSCOPED OPTIMIZE / REORG APPLY (PURGE), or None to plan
    classically. Victim selection — small files, DV carriers, everything
    under ZORDER — is a predicate over FILE METADATA, so it runs
    executor-side over LightSnapshot.files_df (size / dv_json columns +
    a per-partition group count), and only the victims come back as
    AddFiles: an unscoped OPTIMIZE of a 10^7-file table no longer builds
    the classic driver-resident snapshot just to find its small files.

    Victims past log.light_collect_cap come back as a path-ordered PREFIX
    (group-contiguous under hive layouts) with capped=True: the run
    compacts that batch and reports partial — re-run until groups=0, the
    delta-spark OPTIMIZE batching idiom."""
    from .log import light_collect_cap

    light = DeltaLog(table_path).light_plane(spark=spark)
    if light is None:
        return None
    if zorder_by is None:
        # liquid-clustering policy lives in the header's domain metadata —
        # resolvable without any file materialization (compact re-clusters
        # by it on a plain OPTIMIZE; REORG PURGE re-clusters its rewrites)
        dm = light.domain_metadata.get("delta.clustering")
        if dm:
            try:
                cols = json.loads(dm).get("clusteringColumns")
            except (ValueError, TypeError):
                cols = None
            if cols:
                zorder_by = list(cols)
    fdf = light.files_df(spark, full=True)
    full_cols = [f.name for f in fdf.schema.fields]
    is_dv = F.col("dv_json").isNotNull()
    if dv_only:
        vdf = fdf.filter(is_dv)
    elif zorder_by:
        vdf = fdf
    else:
        vdf = fdf.filter(
            (F.col("size") < F.lit(int(target_file_size))) | is_dv
        )
    part_cols = list(light.partition_columns)
    if part_cols and not (zorder_by or dv_only):
        # executor-side group pruning: only partitions that can merge
        # (>= 2 victims) or carry a DV survive — exactly the driver-side
        # to_compact filter, applied before anything is collected
        keys = [f"__k{i}" for i in range(len(part_cols))]
        key_cols = [
            F.coalesce(
                F.col("partition_values").getItem(c), F.lit("\x00")
            ).alias(k)
            for c, k in zip(part_cols, keys)
        ]
        grp = (
            vdf.select(*key_cols, is_dv.cast("int").alias("__dv"))
            .groupBy(*keys)
            .agg(
                F.count("*").alias("__n"), F.max("__dv").alias("__anydv")
            )
            .filter("(__n >= 2) OR (__anydv = 1)")
            .select(*keys)
        )
        vdf = (
            vdf.select(*full_cols, *key_cols)
            .join(grp, keys, "inner")
            .select(*full_cols)
        )
    cap = light_collect_cap()
    files = light.collect_pruned_add_files(spark, full_df=vdf, cap=cap)
    capped = False
    if files is None:
        files = light.collect_pruned_add_files(
            spark, full_df=vdf.orderBy("path").limit(cap)
        )
        capped = True
    return light.to_snapshot_state(files), files, zorder_by, capped


def delete(
    spark: SparkSession,
    table_path: str,
    where,
    isolation: str = "write_serializable",
) -> dict:
    """DELETE FROM table WHERE ... (rows where the condition is TRUE).

    Fast path: when the whole condition is partition predicates, matching
    files are removed with NO data I/O (metadata-only commit). Otherwise
    candidate files (stats-pruned) are rewritten without the matching rows.
    """
    if where is None or where == []:
        raise ValueError(
            "delete() requires a condition; use where='true' to delete all"
        )
    table_path = normalize_table_path(table_path)
    preds, cond, fully_parsed = _normalize_where(where)
    snap, candidates = _plan_candidates(spark, table_path, preds)
    if not candidates:
        return {"files_removed": 0, "files_added": 0, "rows_deleted": 0}

    part_cols = snap.partition_columns
    if fully_parsed and _partition_only(preds, snap):
        # every row in every candidate file matches: metadata-only delete
        commit_rewrite(
            table_path,
            "DELETE",
            [],
            candidates,
            operation_parameters={"predicate": str(where)},
            base_version=snap.version,
            isolation=isolation,
            read_predicates=preds or None,
            operation_metrics={
                "numRemovedFiles": len(candidates),
                "numAddedFiles": 0,
                "numDeletedRows": _num_records(candidates),
                "numCopiedRows": 0,
            },
        )
        return {
            "files_removed": len(candidates),
            "files_added": 0,
            "rows_deleted": _num_records(candidates),
        }

    df = _read_cow(spark, snap, candidates)
    kept = df.filter(~F.coalesce(cond, F.lit(False)))  # NULL predicate keeps
    data_schema = _data_schema(snap)
    adds = stage_data_files(
        kept, table_path, part_cols, data_schema, l2p=_l2p(snap),
        config=snap.metadata.get("configuration"), full_schema=snap.schema,
    )
    cdc = None
    if _cdf_on(snap):
        # partial-file rewrite: derivation from add/remove would emit
        # kept-row churn — record exactly the deleted rows
        cdc = _stage_cdc(
            spark, snap, table_path,
            [(df.filter(F.coalesce(cond, F.lit(False))), "delete")],
        )
    before, after = _num_records(candidates), _adds_num_records(adds)
    deleted = None if before is None or after is None else before - after
    commit_rewrite(
        table_path,
        "DELETE",
        adds,
        candidates,
        operation_parameters={"predicate": str(where)},
        extra_actions=cdc,
        base_version=snap.version,
        isolation=isolation,
        read_predicates=preds or None,
        operation_metrics={
            "numRemovedFiles": len(candidates),
            "numAddedFiles": len(adds),
            "numDeletedRows": deleted,
            "numCopiedRows": after,
        },
    )
    return {
        "files_removed": len(candidates),
        "files_added": len(adds),
        "rows_deleted": deleted,
    }


def delete_mor(
    spark: SparkSession,
    table_path: str,
    where,
    isolation: str = "write_serializable",
) -> dict:
    """Merge-on-read DELETE: write deletion vectors instead of rewriting
    files. Cost is O(matched rows) — a delete of 100 rows from a 1 GB file
    writes a ~few-hundred-byte DV blob, not a new 1 GB file; the physical
    rows disappear at the next OPTIMIZE (which purges DVs).

    Touched files within one task share ONE .bin blob (descriptors at
    offsets). Files whose every remaining row matches are dropped outright
    (remove-only). Upgrades the table protocol to the deletionVectors
    feature on first use. The DV bitmaps are built and written
    EXECUTOR-SIDE (_stage_dvs) — the driver only ever holds one
    descriptor per touched file, so a delete matching 10^9 rows costs the
    driver O(files), not O(rows).
    """
    from .reader import read_files_with_index

    if where is None or where == []:
        raise ValueError(
            "delete_mor() requires a condition; use where='true' to delete all"
        )
    table_path = normalize_table_path(table_path)
    preds, cond, _fully_parsed = _normalize_where(where)
    snap, candidates = _plan_candidates(spark, table_path, preds)
    if not candidates:
        return {"files_removed": 0, "files_added": 0, "rows_deleted": 0}

    dfm = read_files_with_index(spark, snap, candidates)
    matched = dfm.filter(F.coalesce(cond, F.lit(False)))
    cdf = _cdf_on(snap)
    if cdf:
        # the matched rows feed both the DV build and the cdc files —
        # pin them so the two sides can never diverge
        matched = matched.localCheckpoint(eager=True)
    try:
        staged = _stage_dvs(
            spark,
            table_path,
            matched.select("_file", "_row_idx"),
            candidates,
        )
        if not staged:
            return {"files_removed": 0, "files_added": 0, "rows_deleted": 0}

        pieces = _dv_pieces(table_path, snap, staged)
        extra = list(pieces.protocol_extra or [])
        if cdf:
            extra += _stage_cdc(spark, snap, table_path, [(matched, "delete")])
        commit_rewrite(
            table_path,
            "DELETE",
            pieces.adds,
            [f for f, _idx in pieces.touched],
            operation_parameters={"predicate": str(where), "mode": "merge-on-read"},
            extra_actions=extra or None,
            isolation=isolation,
            read_predicates=preds or None,
            base_version=snap.version,
            operation_metrics={
                "numRemovedFiles": len(pieces.full_files),
                "numAddedFiles": len(pieces.adds),
                "numDeletedRows": pieces.rows_newly_deleted,
                "numDeletionVectorsAdded": pieces.dv_files_written,
            },
        )
        return {
            "files_removed": len(pieces.full_files),
            "files_added": len(pieces.adds),
            "rows_deleted": pieces.rows_newly_deleted,
            "dv_files_written": pieces.dv_files_written,
        }
    finally:
        if cdf:  # matched is only materialized under CDF
            _release_materialized(matched)


class _DvPieces:
    """Assembled merge-on-read commit parts (see _dv_pieces)."""

    __slots__ = (
        "touched", "adds", "full_files", "protocol_extra",
        "rows_newly_deleted", "dv_files_written",
    )


def _stage_dvs(
    spark: SparkSession,
    table_path: str,
    dv_rows: DataFrame,
    candidates: list[AddFile],
) -> list[tuple[AddFile, dict]]:
    """Build deletion-vector blobs EXECUTOR-SIDE from a DataFrame of
    matched (_file, _row_idx) rows; returns one (AddFile, new descriptor)
    per touched file.

    The matched row indexes NEVER reach the driver: rows hash-shuffle on
    `_file` (every file's indexes co-locate in one task), each task
    serializes its files' roaring bitmaps and writes ONE shared .bin blob
    (write_dv_file_multi — descriptors at offsets, so a delete touching n
    files creates O(tasks) storage objects, not n), and the driver
    collects only the per-file DESCRIPTOR rows — O(touched files)
    metadata, where the previous collect_list(_row_idx).collect() held
    O(matched rows) Python ints and OOM'd the driver on a 10^9-row MOR
    DELETE. Existing DV positions merge in executor-side too (a second
    MOR pass accumulates, never resets). A retried task leaves an orphan
    blob that VACUUM collects; only the winning attempt's descriptors are
    collected, so correctness is unaffected."""
    from pyspark.sql import types as T

    from .deletion_vectors import read_dv_positions, write_dv_file_multi

    by_file = {f.path: f for f in candidates}
    existing = {
        f.path: f.deletion_vector for f in candidates if f.deletion_vector
    }
    tp = table_path
    out_schema = T.StructType(
        [
            T.StructField("file", T.StringType(), False),
            T.StructField("desc", T.StringType(), False),
        ]
    )

    def _build(iterator):
        import json as _j
        import os as _os

        import pandas as _pd

        from .reader import _strip_scheme_py

        # `_file` is scheme-stripped (reader._strip_scheme); strip the
        # table path the same way so relpath works on URI tables
        base = _strip_scheme_py(tp)
        rows_by_file: dict[str, set[int]] = {}
        for pdf in iterator:
            for fp, idx in zip(pdf["_file"], pdf["_row_idx"]):
                rel = _os.path.relpath(fp, base).replace(_os.sep, "/")
                rows_by_file.setdefault(rel, set()).add(int(idx))
        if not rows_by_file:
            return
        files = sorted(rows_by_file)
        pos_lists = []
        for rel in files:
            pos = rows_by_file[rel]
            ex = existing.get(rel)
            if ex:
                pos |= set(read_dv_positions(tp, ex))
            pos_lists.append(sorted(pos))
        descs = write_dv_file_multi(tp, pos_lists)
        yield _pd.DataFrame(
            {
                "file": files,
                "desc": [_j.dumps(d, separators=(",", ":")) for d in descs],
            }
        )

    rows = (
        dv_rows.repartition("_file").mapInPandas(_build, out_schema).collect()
    )
    return [(by_file[r["file"]], json.loads(r["desc"])) for r in rows]


def _dv_pieces(
    table_path: str,
    snap: SnapshotState,
    staged: list[tuple[AddFile, dict]],
) -> _DvPieces:
    """Turn staged per-file DV descriptors (_stage_dvs) into the commit
    parts every merge-on-read operator shares: re-`add` actions carrying
    the new deletion vectors, wholesale drops for files left with zero
    live rows, the deletionVectors protocol upgrade on first use, and
    bookkeeping counts."""
    touched = staged

    # files left with zero live rows: drop instead of keeping an all-ones DV
    # (the blob section those descriptors point at just goes unreferenced)
    full_files = [
        f
        for f, desc in touched
        if (f.stats or {}).get("numRecords") is not None
        and int(desc["cardinality"]) == f.stats["numRecords"]
    ]
    full_set = {f.path for f in full_files}
    dv_targets = [(f, d) for f, d in touched if f.path not in full_set]

    # re-add each file in the log's physical-keyed form with its new DV;
    # its row-id range travels with it (same rows, ids never re-assigned)
    l2p = _l2p(snap)
    adds = [
        {
            "add": add_action(
                replace(remap_addfile(f, l2p), deletion_vector=desc), True
            )
        }
        for f, desc in dv_targets
    ]

    extra = None
    features = set(snap.protocol.get("readerFeatures") or [])
    if "deletionVectors" not in features:
        # _protocol_upgrade_action (not a hand-rolled dict): a LEGACY
        # protocol's implied features (e.g. changeDataFeed at
        # minWriterVersion 4) must be enumerated when moving to the
        # table-features form, or external writers stop honoring them
        from .writer import _protocol_upgrade_action

        up = _protocol_upgrade_action(
            snap.protocol, reader_features=("deletionVectors",)
        )
        extra = [up] if up else None

    out = _DvPieces()
    out.touched = touched
    out.adds = adds
    out.full_files = full_files
    out.protocol_extra = extra
    prior_dv = sum(
        int((f.deletion_vector or {}).get("cardinality", 0)) for f, _ in touched
    )
    out.rows_newly_deleted = (
        sum(int(d["cardinality"]) for _f, d in touched) - prior_dv
    )
    out.dv_files_written = len(
        {d["pathOrInlineDv"] for _f, d in dv_targets}
    )
    return out


# --------------------------------------------------------------------- UPDATE


def update(
    spark: SparkSession,
    table_path: str,
    set: dict[str, str],
    where=None,
    isolation: str = "write_serializable",
) -> dict:
    """UPDATE table SET col = <sql expr> [, ...] WHERE ... .

    Candidate files (stats-pruned by the WHERE) are rewritten with each SET
    column conditionally replaced; rows where the condition is not TRUE pass
    through unchanged. Updating a partition column moves rows between
    partition directories automatically (the staged write re-partitions).
    """
    table_path = normalize_table_path(table_path)
    preds, cond, _ = _normalize_where(where) if where is not None else ([], F.lit(True), True)
    snap, candidates = _plan_candidates(spark, table_path, preds)
    if not candidates:
        return {"files_removed": 0, "files_added": 0, "rows_updated": 0}

    df0 = _read_cow(spark, snap, candidates)
    field_types = {f.name: f.dataType for f in snap.schema.fields}
    hit = F.coalesce(cond, F.lit(False))
    for col in set:
        if col not in field_types:
            raise ValueError(f"unknown column: {col}")
    recompute = _generated_recompute(snap.schema, set)
    # ONE select, not sequential withColumn: SQL UPDATE evaluates every SET
    # expression AND the WHERE against the ORIGINAL row — `SET a = b,
    # b = a` swaps, and a SET that falsifies the predicate must not stop
    # later SET columns from applying (caught by the round-5 cdc work).
    # Materialized row-id columns from _read_cow ride along untouched.
    df = df0.select(
        *[
            (
                F.when(
                    hit, F.expr(set[f.name]).cast(f.dataType)
                ).otherwise(F.col(f.name))
                if f.name in set
                else F.col(f.name)
            ).alias(f.name)
            for f in snap.schema.fields
        ],
        *[c for c in df0.columns if c not in field_types],
        hit.cast("long").alias("__upd_hit"),
    )
    # generated columns whose expression references a SET column are
    # RECOMPUTED from the updated row (Delta semantics; the generation
    # invariant also feeds partition pruning, so staleness is corruption)
    df = _apply_recompute(df, snap.schema, recompute)
    from pyspark.sql import Observation

    from .writer import _enforce_constraints

    _enforce_constraints(df, snap.metadata)
    # operationMetrics ride the staging write job for free (CollectMetrics
    # node). Attached AFTER the constraint probes above — their limit(1)
    # actions would otherwise complete the observation with partial counts.
    obs = Observation()
    df = df.observe(
        obs,
        F.sum("__upd_hit").alias("updated"),
        F.count(F.lit(1)).alias("total"),
    ).drop("__upd_hit")
    adds = stage_data_files(
        df, table_path, snap.partition_columns, _data_schema(snap),
        l2p=_l2p(snap), config=snap.metadata.get("configuration"), full_schema=snap.schema,
    )
    cdc = None
    if _cdf_on(snap):
        # exact pre/post images of the hit rows — the labels real CDF
        # consumers key on (spec: Change Data Files). Post images re-apply
        # the SET expressions to the PRE-image rows: filtering the updated
        # frame by `hit` would re-evaluate the predicate against the NEW
        # values and miss rows whose update falsified it.
        pre = df0.filter(hit)
        post = pre.select(
            *[
                (
                    F.expr(set[f.name]).cast(f.dataType)
                    if f.name in set
                    else F.col(f.name)
                ).alias(f.name)
                for f in snap.schema.fields
            ]
        )
        post = _apply_recompute(post, snap.schema, recompute)
        cdc = _stage_cdc(
            spark, snap, table_path,
            [(pre, "update_preimage"), (post, "update_postimage")],
        )
    try:  # filled by the staging job's CollectMetrics node
        updated = int(obs.get["updated"] or 0)
        copied = int(obs.get["total"]) - updated
    except Exception:
        updated = copied = None
    commit_rewrite(
        table_path,
        "UPDATE",
        adds,
        candidates,
        operation_parameters={"predicate": str(where)},
        extra_actions=cdc,
        base_version=snap.version,
        isolation=isolation,
        read_predicates=preds or None,
        operation_metrics={
            "numRemovedFiles": len(candidates),
            "numAddedFiles": len(adds),
            "numUpdatedRows": updated,
            "numCopiedRows": copied,
        },
    )
    return {
        "files_removed": len(candidates),
        "files_added": len(adds),
        "rows_updated": updated,
    }


def update_mor(
    spark: SparkSession,
    table_path: str,
    set: dict[str, str],
    where=None,
    isolation: str = "write_serializable",
) -> dict:
    """Merge-on-read UPDATE: deletion-vector the OLD version of every
    matched row and append the updated versions as new files — one commit.
    Cost is O(matched rows), not O(candidate-file bytes): updating 100 rows
    spread over N x 1 GB files writes a few-hundred-byte DV blob plus one
    small file of new rows, where copy-on-write rewrites all N files.
    The physical old rows disappear at the next OPTIMIZE (which purges
    DVs). Same DV/protocol mechanics as delete_mor (shared `_dv_pieces`)."""
    from .reader import read_files_with_index

    table_path = normalize_table_path(table_path)
    preds, cond, _ = (
        _normalize_where(where) if where is not None else ([], F.lit(True), True)
    )
    snap, candidates = _plan_candidates(spark, table_path, preds)
    if not candidates:
        return {"files_removed": 0, "files_added": 0, "rows_updated": 0}

    rt = _rt_on(snap)
    dfm = read_files_with_index(
        spark, snap, candidates,
        extra_fields=_rt_extra_fields() if rt else None,
    )
    hit = F.coalesce(cond, F.lit(False))
    matched_rows = dfm.filter(hit)
    if rt:
        matched_rows = _resolve_row_ids(spark, snap, candidates, matched_rows)
    matched_rows = matched_rows.localCheckpoint(eager=True)

    try:
        staged = _stage_dvs(
            spark, table_path, matched_rows.select("_file", "_row_idx"), candidates
        )
        if not staged:
            return {"files_removed": 0, "files_added": 0, "rows_updated": 0}

        field_types = {f.name: f.dataType for f in snap.schema.fields}
        for col in set:
            if col not in field_types:
                raise ValueError(f"unknown column: {col}")
        recompute = _generated_recompute(snap.schema, set)
        pre_rows = matched_rows.drop("_file", "_row_idx")
        extra_carried = [c for c in pre_rows.columns if c not in field_types]
        # simultaneous SET evaluation against the original row (SQL UPDATE
        # semantics — same rule as the copy-on-write path above)
        new_rows = pre_rows.select(
            *[
                (
                    F.expr(set[f.name]).cast(f.dataType)
                    if f.name in set
                    else F.col(f.name)
                ).alias(f.name)
                for f in snap.schema.fields
            ],
            *extra_carried,
        )
        new_rows = _apply_recompute(new_rows, snap.schema, recompute)
        from .writer import _enforce_constraints

        _enforce_constraints(new_rows, snap.metadata)
        new_adds = stage_data_files(
            new_rows, table_path, snap.partition_columns, _data_schema(snap),
            l2p=_l2p(snap), config=snap.metadata.get("configuration"), full_schema=snap.schema,
        )

        pieces = _dv_pieces(table_path, snap, staged)
        extra = list(pieces.protocol_extra or [])
        if _cdf_on(snap):
            extra += _stage_cdc(
                spark, snap, table_path,
                [(pre_rows, "update_preimage"), (new_rows, "update_postimage")],
            )
        commit_rewrite(
            table_path,
            "UPDATE",
            pieces.adds + new_adds,
            [f for f, _idx in pieces.touched],
            operation_parameters={"predicate": str(where), "mode": "merge-on-read"},
            extra_actions=extra or None,
            isolation=isolation,
            read_predicates=preds or None,
            base_version=snap.version,
            operation_metrics={
                "numRemovedFiles": len(pieces.full_files),
                "numAddedFiles": len(pieces.adds) + len(new_adds),
                "numUpdatedRows": pieces.rows_newly_deleted,
                "numDeletionVectorsAdded": pieces.dv_files_written,
            },
        )
        return {
            "files_removed": len(pieces.full_files),
            "files_added": len(pieces.adds) + len(new_adds),
            "rows_updated": pieces.rows_newly_deleted,
            "dv_files_written": pieces.dv_files_written,
        }
    finally:
        # free the pinned matched rows even when validation/commit raises
        _release_materialized(matched_rows)


def _generated_recompute(schema, set_cols) -> dict[str, str]:
    """Generated columns an UPDATE must RECOMPUTE: those whose
    `delta.generationExpression` references any SET column. Explicitly
    SETting a generated column is refused outright — Delta semantics
    (GENERATED ALWAYS AS), and the generation invariant feeds partition
    pruning, so a divergent value would be silent corruption."""
    import re as _re

    from .writer import _generation_expressions

    gens = _generation_expressions(schema)
    for col in set_cols:
        if col in gens:
            raise ValueError(
                f"cannot UPDATE generated column {col} (GENERATED ALWAYS "
                f"AS ({gens[col]})); update its base columns instead"
            )
    return {
        g: e
        for g, e in gens.items()
        if any(_re.search(rf"\b{_re.escape(c)}\b", e) for c in set_cols)
    }


def _apply_recompute(df: DataFrame, schema, recompute: dict[str, str]) -> DataFrame:
    """Re-derive the given generated columns from the (already updated)
    row — a second SELECT so the expressions see the new base values."""
    if not recompute:
        return df
    types = {f.name: f.dataType for f in schema.fields}
    return df.select(
        *[
            (
                F.expr(recompute[c]).cast(types[c]).alias(c)
                if c in recompute
                else F.col(c)
            )
            for c in df.columns
        ]
    )


# ---------------------------------------------------------------------- MERGE


def _plan_merge_schema(
    snap: SnapshotState,
    source: DataFrame,
    schema_evolution: bool,
    allowed_missing: set[str] = frozenset(),
):
    """-> (schema, metadata, extra metaData actions | None, src_missing).

    Without evolution: the target schema, and a hard error when the source
    lacks target columns (the pre-round-5 contract; `allowed_missing` —
    identity columns, which the WRITER assigns — are exempt). WITH SCHEMA
    EVOLUTION: source-only columns WIDEN the target schema in the SAME
    commit (the returned metaData action rides the merge's extra_actions;
    old files read NULL for the new columns at scan time), and
    `src_missing` lists target columns the source lacks — updates keep the
    target's value for them, inserts write NULL."""
    from pyspark.sql import types as T

    tcols = {f.name for f in snap.schema.fields}
    missing = [f.name for f in snap.schema.fields if f.name not in source.columns]
    if not schema_evolution and [c for c in missing if c not in allowed_missing]:
        raise ValueError(
            "source is missing target columns: "
            f"{[c for c in missing if c not in allowed_missing]}"
        )
    new_fields = [
        T.StructField(f.name, f.dataType, True)
        for f in source.schema.fields
        if f.name not in tcols
    ]
    if not schema_evolution or not new_fields:
        return snap.schema, snap.metadata, None, set(missing)
    from .writer import evolve_schema_metadata

    schema, md = evolve_schema_metadata(snap, new_fields)
    return schema, md, [{"metaData": md}], set(missing)


def _merge_identity_plan(
    snap: SnapshotState, source: DataFrame, keys, when_not_matched
) -> tuple[dict, set[str]]:
    """Identity columns under MERGE (GENERATED ALWAYS AS IDENTITY): the
    source must NOT supply them (the writer assigns on insert; updates
    keep the target row's id). Joining ON an identity column is legal for
    matched-only merges (the source carries EXISTING ids), but INSERT
    through an identity key would require caller-chosen ids — refused,
    same contract as write_delta. -> (identity fields, treat-as-missing)."""
    from .writer import _identity_fields

    ident = _identity_fields(snap.schema)
    if not ident:
        return {}, set()
    for name in ident:
        if name in keys:
            if when_not_matched == "insert":
                raise ValueError(
                    f"identity column {name} is a merge key: WHEN NOT "
                    "MATCHED INSERT would need caller-chosen ids "
                    "(GENERATED ALWAYS); drop the insert clause or merge "
                    "on a natural key"
                )
        elif name in source.columns:
            raise ValueError(
                f"identity column {name} is GENERATED ALWAYS; do not "
                "supply values"
            )
    return ident, {n for n in ident if n not in keys}


def _assign_merge_identity(
    ins: DataFrame, schema, ident: dict, keys
) -> tuple[DataFrame, dict]:
    """Fresh identity values for a merge's INSERT rows, advancing each
    column's high-water mark; -> (frame in schema order, identity params
    for the metaData stamp)."""
    from .writer import (
        _IDENTITY_HW,
        _IDENTITY_START,
        _IDENTITY_STEP,
        _assign_identity,
    )

    params: dict[str, dict] = {}
    for name, meta in ident.items():
        if name in keys:
            continue
        step = int(meta.get(_IDENTITY_STEP, 1))
        base = int(meta.get(_IDENTITY_HW, int(meta[_IDENTITY_START]) - step))
        ins, hw = _assign_identity(ins.drop(name), name, base, step)
        params[name] = {**meta, _IDENTITY_HW: hw}
    if params:
        ins = ins.select(*[f.name for f in schema.fields])
    return ins, params


def _identity_md_action(meta: dict, schema, params: dict) -> dict:
    """metaData action stamping advanced identity high-water marks into
    the (possibly evolved) schema — rides the merge commit so a crash
    between assign and commit never reuses ids."""
    from .types import struct_to_schema_string
    from .writer import _with_identity_metadata

    md = dict(meta)
    md["schemaString"] = struct_to_schema_string(
        _with_identity_metadata(schema, params)
    )
    return {"metaData": md}


def _null_fill(df: DataFrame, schema) -> DataFrame:
    """Add NULL columns for schema fields the frame lacks (old target rows
    read under an evolved schema)."""
    for f in schema.fields:
        if f.name not in df.columns:
            df = df.withColumn(f.name, F.lit(None).cast(f.dataType))
    return df


def _normalize_nmbs(
    action: str | None, condition: str | None, assigns: dict | None
) -> tuple[str | None, str | None, dict | None]:
    """Validate the WHEN NOT MATCHED BY SOURCE clause triple (round-9):
    action 'delete' | 'update' | None, optional SQL condition over
    `t.<col>` ONLY (these target rows have no source row — `s.` cannot
    resolve), and for 'update' the required per-column assignments
    (`SET col = expr`, expressions over t.<col>; Delta disallows
    UPDATE SET * here for the same no-source-row reason)."""
    if action not in (None, "delete", "update"):
        raise ValueError(
            "not_matched_by_source must be 'delete', 'update' or None"
        )
    if action is None:
        if condition is not None or assigns:
            raise ValueError(
                "not_matched_by_source_condition/assigns need a "
                "not_matched_by_source action"
            )
        return None, None, None
    if action == "update":
        if not assigns:
            raise ValueError(
                "NOT MATCHED BY SOURCE UPDATE needs per-column assignments "
                "(there is no source row to copy from)"
            )
    elif assigns:
        raise ValueError(
            "not_matched_by_source_assigns only applies to 'update'"
        )
    return action, condition, dict(assigns) if assigns else None


def _validate_nmbs_assign_cols(nmbs_assigns: dict | None, schema) -> None:
    """Reject SET on a column the merged target schema lacks — UP FRONT,
    not only when the probe touched a file (review finding: a merge whose
    condition reached no candidate rows used to silently accept a typo'd
    assignment column, then start raising once data existed in range)."""
    if not nmbs_assigns:
        return
    known = {f.name for f in schema.fields}
    for col_ in nmbs_assigns:
        if col_ not in known:
            raise ValueError(f"SET on unknown column: {col_}")


def _nmbs_assigned_select(frame, schema, nmbs_assigns: dict, carried_cols):
    """Assigned row versions for NOT MATCHED BY SOURCE UPDATE over a
    `t`-aliased frame: SET columns evaluate their expressions cast to
    the target type, every other column keeps the target row's value,
    and row-tracking/identity columns carry through untouched. Shared by
    the COW and MOR paths (round-9 review: the twin selects would drift
    under any future assignment-semantics fix). Column names are
    validated up front by _validate_nmbs_assign_cols."""
    return frame.select(
        *[
            F.expr(nmbs_assigns[f.name]).cast(f.dataType).alias(f.name)
            if f.name in nmbs_assigns
            else F.col(f"t.{f.name}").alias(f.name)
            for f in schema.fields
        ],
        *carried_cols,
    )


def _resolve_merge_planning(
    spark, log, light, src, keys, nmbs, nmbs_cond, table_path, snap
):
    """(planning, snap, light): route MERGE candidate selection through
    the light plane when engaged, else fall back to the classic snapshot
    — refusing (ConcurrentWriteError) when the table version moved
    during planning, so a schema planned against one header era never
    mixes with another era's files. Shared by the COW and MOR paths
    (round-9 review: the twin copies had already begun to drift)."""
    if light is None:
        return "classic", snap, None
    planned = _light_merge_plan(spark, light, src, keys, nmbs, nmbs_cond)
    if planned is None:
        lv = light.version
        snap = log.snapshot()
        if snap.version != lv:
            # the header this merge planned its schema against is stale —
            # a concurrent commit landed mid-plan; retry against the new
            # snapshot rather than mixing eras
            from .writer import ConcurrentWriteError

            raise ConcurrentWriteError(
                f"version of {table_path} moved during MERGE "
                "planning; re-run against the new snapshot"
            )
        return "classic", snap, None
    return "light", light.to_snapshot_state(planned), light


def _nmbs_parsed_preds(condition: str | None) -> list:
    """Best-effort pruning predicates a NOT MATCHED BY SOURCE condition
    implies: its parseable `t.<col> op literal` conjuncts with the t.
    qualifier stripped (outside string literals). Empty when nothing
    parses — dropping a conjunct only WIDENS the candidate set, and
    pruning never decides rows (the row-level filter downstream does)."""
    if condition is None:
        return []
    try:
        from ..sqldml import _sub_outside_quotes
        from .table import _parse_where

        bare = _sub_outside_quotes(condition, r"\bt\s*\.\s*(?=\w)", "")
        return _parse_where(bare)
    except Exception:
        return []


def _nmbs_candidate_files(spark, snap, condition: str | None):
    """Live files that MAY hold an unmatched target row passing the
    NOT MATCHED BY SOURCE condition — the conservative rewrite-set
    extension for conditional/update by-source clauses. The condition's
    parseable conjuncts drive the same stats prune scans use (a retention
    merge `t.ts < X THEN DELETE` rewrites only the old files); anything
    unparseable widens to every live file."""
    preds = _nmbs_parsed_preds(condition)
    if not preds:
        return list(snap.files)
    return prune_files_auto(spark, snap, preds)


def _light_merge_plan(spark, light, src, keys, nmbs, nmbs_cond):
    """MERGE candidate selection through the DRIVER-LIGHT plane (round-9
    ask #1): the source's key min/max bounds feed LightSnapshot.prune_df
    EXECUTOR-side over the checkpoint parquet, and only the intersecting
    candidates materialize as AddFiles — a keyed upsert into a 10^7-file
    table plans in O(intersecting files) driver memory instead of the
    8.6 GiB classic snapshot. Returns the candidate list, or None to fall
    back to classic planning:

    - no key yields a usable bound (the probe would need every file);
    - survivors exceed log.light_collect_cap (unselective source);
    - an UNCONDITIONAL by-source UPDATE (every live file rewrites);
    - a CONDITIONAL by-source clause whose condition parses no pruning
      predicate (its reach is every live file).

    An UNCONDITIONAL by-source DELETE stays light: the probe only needs
    the key candidates, and the wholesale remove list is built by a
    second metadata-only pass over files_df (_light_all_live_files) —
    never a classic replay. A conditional by-source clause extends the
    candidates by the files its parsed predicates can reach."""
    from .log import light_collect_cap

    if nmbs == "update" and nmbs_cond is None:
        return None
    bounds = _source_key_bound_preds(spark, light.schema, src, keys)
    if not bounds:
        return None
    cap = light_collect_cap()
    cands = light.collect_pruned_add_files(spark, bounds, cap=cap)
    if cands is None:
        return None
    if nmbs is not None and nmbs_cond is not None:
        preds = _nmbs_parsed_preds(nmbs_cond)
        if not preds:
            return None
        extra = light.collect_pruned_add_files(spark, preds, cap=cap)
        if extra is None:
            return None
        cands = _union_files(cands, extra)
    return cands


def _light_all_live_files(spark, light):
    """Second metadata-only pass over files_df: EVERY live AddFile,
    streamed from the executor-side frame (toLocalIterator, no classic
    replay). Used by the wholesale NOT-MATCHED-BY-SOURCE DELETE under
    light planning, whose commit must carry one remove action per live
    file regardless — the driver list is bounded by the commit it is
    about to write, not by planning overhead."""
    return light.collect_pruned_add_files(spark, None, cap=None)


def _union_files(a: list, b: list) -> list:
    have = {f.path for f in a}
    return list(a) + [f for f in b if f.path not in have]


def _normalize_matched_clauses(
    when_matched: str,
    matched_condition: str | None,
    matched_clauses,
) -> tuple[list[tuple[str | None, str]], list[dict | None]]:
    """-> (ordered [(condition|None, 'update'|'delete'), ...],
    parallel [assignments|None, ...]) with first-match-wins semantics.

    A matched_clauses entry may be (condition, action) — UPDATE SET * /
    DELETE — or (condition, 'update', {col: sql_expr}) for per-column
    `UPDATE SET col = expr` (round 7): assigned expressions see t./s.
    aliases, unassigned columns keep the TARGET row's value.
    `matched_clauses` and the legacy single-clause args are mutually
    exclusive."""
    if matched_clauses is not None:
        if matched_condition is not None:
            raise ValueError(
                "pass conditions inside matched_clauses, not matched_condition"
            )
        entries = [tuple(c) for c in matched_clauses]
    else:
        entries = [(matched_condition, when_matched)]
    clauses: list[tuple[str | None, str]] = []
    assigns: list[dict | None] = []
    for e in entries:
        if len(e) == 2:
            cond_s, act = e
            a = None
        elif len(e) == 3:
            cond_s, act, a = e
            if a is not None and act != "update":
                raise ValueError(
                    "assignments only apply to 'update' matched clauses"
                )
        else:
            raise ValueError(f"bad matched clause shape: {e!r}")
        if act not in ("update", "delete"):
            raise ValueError(f"matched clause action must be update|delete: {act!r}")
        clauses.append((cond_s, act))
        assigns.append(dict(a) if a else None)
    # every clause after an UNconditional one is dead (first match wins)
    for cond_s, _act in clauses[:-1]:
        if cond_s is None:
            raise ValueError(
                "only the last matched clause may be unconditional "
                "(earlier clauses would shadow everything after them)"
            )
    return clauses, assigns


def _assignment_allowed_missing(
    snap, source, clauses, clause_assigns, when_not_matched
) -> set[str]:
    """Target columns a NARROW source may omit: only when every matched
    clause is DELETE or a per-column SET and nothing inserts (whole
    source rows are then never copied). Columns the SET expressions
    reference as `s.<col>` stay REQUIRED — backfilling them as NULL
    would silently null the assigned values (round-7 review finding)."""
    import re as _re

    if when_not_matched == "insert" or not clauses:
        return set()
    if any(
        a != "delete" and clause_assigns[i] is None
        for i, (_c, a) in enumerate(clauses)
    ):
        return set()
    referenced: set[str] = set()
    for assigns in clause_assigns:
        for expr in (assigns or {}).values():
            referenced |= set(_re.findall(r"\bs\s*\.\s*(\w+)", expr))
    return {
        f.name
        for f in snap.schema.fields
        if f.name not in source.columns and f.name not in referenced
    }


def _insert_only_merge(
    spark, snap, table_path: str, src, keys,
    schema=None, meta=None, extra_actions=None, ident=None,
    isolation: str = "write_serializable",
    on_condition: str | None = None,
    not_matched_condition: str | None = None,
) -> dict:
    """Delta's insert-only MERGE fast path (no matched-action clause):
    target files are never read-modified-rewritten — source rows whose
    keys are absent from the target simply append. Duplicate matched
    source keys are allowed (nothing updates, so there is no ambiguity),
    and the only target read is the column-pruned key scan feeding the
    anti-join. Like any blind append, a concurrent writer inserting the
    same key between plan and commit is not detected."""
    n_source_rows = None  # counted lazily at commit (Delta convention:
    # numSourceRows is the FULL source, not the post-condition survivors)
    if not_matched_condition is not None:
        n_source_rows = src.count()
        src = src.alias("s").filter(
            F.coalesce(F.expr(not_matched_condition), F.lit(False))
        )
    # source-key-range pruning, exactly as in the full-merge probe: a
    # pruned-out file provably contains no source key (disjoint min/max),
    # so BOTH anti-join branches are exact over the candidates alone —
    # the equi-key form directly, and the residual-ON form because
    # _pair_condition still conjoins the equi-keys. This turns the
    # dominant cost of a bulk-append MERGE into a key-clustered 100 TB
    # table from an O(table) key scan into O(intersecting files).
    live = _merge_key_range_candidates(spark, snap, src, keys)
    if live and on_condition is None:
        tgt_keys = _read_cow(spark, snap, live).select(*keys).distinct()
        ins = src.join(tgt_keys, keys, "left_anti")
    elif live:
        # residual ON conjuncts: match on the FULL pair condition (the
        # residual may reference any target column, so no key-only scan)
        ins = src.alias("s").join(
            _read_cow(spark, snap, live).alias("t"),
            _pair_condition(keys, on_condition),
            "left_anti",
        )
    else:
        ins = src
    schema = schema if schema is not None else snap.schema
    meta = meta if meta is not None else snap.metadata
    # coerce to the table schema (other merge paths coerce implicitly by
    # unioning with target rows; here the source is staged directly)
    ins = ins.select(
        *[F.col(f.name).cast(f.dataType) for f in schema.fields]
    )
    ident_params: dict = {}
    if ident:
        ins, ident_params = _assign_merge_identity(ins, schema, ident, keys)
    from .writer import (
        _apply_generated_columns,
        _enforce_constraints,
        _generation_expressions,
    )

    if _generation_expressions(schema):
        ins = _apply_generated_columns(ins, schema)
    _enforce_constraints(ins, meta)
    adds = stage_data_files(
        ins,
        table_path,
        snap.partition_columns,
        T.StructType(
            [f for f in schema.fields if f.name not in snap.partition_columns]
        ),
        l2p=logical_to_physical(schema, meta.get("configuration")),
        config=meta.get("configuration"),
        full_schema=schema,
    )
    # no cdc files here even when CDF is on: an insert-only commit is
    # EXACTLY derivable from its add actions (spec-allowed omission), so
    # writing change files would double the write for nothing
    extra = list(extra_actions or [])
    if ident_params:
        extra = [_identity_md_action(meta, schema, ident_params)]
    inserted = _adds_num_records(adds)
    commit_rewrite(
        table_path,
        "MERGE",
        adds,
        [],
        operation_parameters={"insertOnly": True},
        extra_actions=extra or None,
        base_version=snap.version,
        isolation=isolation,
        read_predicates=None,
        operation_metrics={
            "numTargetFilesRemoved": 0,
            "numTargetFilesAdded": len(adds),
            "numSourceRows": (
                n_source_rows if n_source_rows is not None else src.count()
            ),
            "numTargetRowsInserted": inserted,
            "numTargetRowsUpdated": 0,
            "numTargetRowsDeleted": 0,
        },
    )
    return {"files_removed": 0, "files_added": len(adds), "source_rows": None}


# Touched-file detection holds O(touched files) path strings on the driver —
# the same planning-metadata class Delta's own implementation keeps. The
# cap bounds that: a MERGE touching more files than this almost certainly
# means mis-specified join keys, and the driver should fail fast instead
# of accumulating millions of path strings first.
_MERGE_TOUCHED_FILES_CAP = int(
    os.environ.get("ADLS_MERGE_TOUCHED_FILES_CAP", "1000000")
)


def _live_files_by_path(snap) -> dict:
    """Live AddFiles keyed by scheme-stripped ABSOLUTE path — the same
    normalization the scan applies to `_metadata.file_path` (reader's
    `_strip_scheme` / `_base_ids_df`), so scan-time `__file` values map
    back 1:1. Never key by basename: foreign writers (Spark's own
    dynamic-partition staging included) legitimately reuse one part-file
    basename across every `k=v` subdirectory, and a basename map
    last-wins — a MERGE would resolve the matched file to a *different
    partition's* file, skip the rewrite, and insert its source rows as
    "not matched", silently duplicating keys."""
    from .reader import _join_path, _strip_scheme_py

    return {
        _strip_scheme_py(_join_path(snap.table_path, f.path)): f
        for f in snap.files
    }


def _touched_paths(files_df: DataFrame, by_path: dict) -> set[str]:
    """Scheme-stripped paths of the (distinct) files in `files_df.__file`,
    streamed via toLocalIterator (never one monolithic collect), failing
    fast once the cap is exceeded. `_metadata.file_path` percent-encodes
    special characters; AddFile paths are stored decoded — fall back to
    the unquoted form when the raw one misses."""
    from urllib.parse import unquote

    out: set[str] = set()
    for r in files_df.toLocalIterator():
        if len(out) >= _MERGE_TOUCHED_FILES_CAP:
            raise RuntimeError(
                f"MERGE touches more than {_MERGE_TOUCHED_FILES_CAP} data "
                "files; refusing to hold the file list on the driver. "
                "Check the merge keys, or raise "
                "ADLS_MERGE_TOUCHED_FILES_CAP."
            )
        p = r["__file"]
        if p not in by_path:
            p = unquote(p)
        out.add(p)
    return out


def _release_materialized(df: DataFrame) -> None:
    """Free the executor storage blocks of a localCheckpoint'd DataFrame.
    PySpark exposes no unpersist counterpart for checkpoints — without
    this, every MERGE leaves one materialized copy of its source in
    executor MEMORY_AND_DISK until driver GC + ContextCleaner get around
    to it, which under sustained foreachBatch merges fills storage memory
    and evicts useful cache. The LogicalRDD backing the checkpoint is
    reachable from the plan; unpersisting it drops the blocks
    immediately (verified against getRDDStorageInfo). Best-effort: an
    unmaterialized or already-collected checkpoint is a no-op."""
    try:
        df._jdf.queryExecution().optimizedPlan().rdd().unpersist(False)
    except Exception:
        pass


def _matched_clause_index(clauses: list[tuple[str | None, str]]):
    """Column: index of the FIRST clause whose condition is TRUE for this
    matched (target, source) row pair, or -1 when none applies (the
    target row survives unchanged). Null conditions count as false."""
    whens = [
        F.when(
            F.coalesce(F.expr(c), F.lit(False)) if c is not None else F.lit(True),
            F.lit(i),
        )
        for i, (c, _a) in enumerate(clauses)
    ]
    return F.coalesce(*whens, F.lit(-1))


def _apply_source_keys(
    source: DataFrame, keys: list[str], source_keys: list[str] | None
) -> DataFrame:
    """Differently-named equi-keys (`ON t.id = s.src_id`): rename the
    source's key columns to the TARGET names up front, so every
    downstream join/semi/anti plans on one uniform key list. Refuses the
    genuinely ambiguous case where the source carries BOTH the mapped
    key and a different column already named like the target key."""
    if source_keys is None:
        return source
    if len(source_keys) != len(keys):
        raise ValueError(
            f"source_keys ({source_keys}) must pair 1:1 with keys ({keys})"
        )
    ren = {sk: tk for sk, tk in zip(source_keys, keys) if sk != tk}
    if not ren:
        return source
    for sk, tk in ren.items():
        if sk not in source.columns:
            raise ValueError(f"merge source key not in source: {sk}")
        if tk in source.columns:
            raise ValueError(
                f"ambiguous MERGE source: ON maps {sk} onto target key "
                f"{tk}, but the source also has its own column {tk} — "
                "rename or drop one of them"
            )
    return source.select(
        *[F.col(c).alias(ren.get(c, c)) for c in source.columns]
    )


def _merge_key_range_candidates(spark, snap, src: DataFrame, keys: list[str]):
    """The snapshot's live files pruned by the SOURCE's key min/max —
    delta-spark's merge touched-file pruning. The probe semi-join then
    scans only files whose per-file stats ranges intersect the source's
    key ranges, instead of every live file: a MERGE of one day's upserts
    into a 100 TB key-clustered table reads that day's files, not the
    table. Conservative by construction: pruning is min/max-stats based
    (files lacking stats always survive), equi-match on ALL keys requires
    intersecting EVERY key's range, and the residual ON form still
    conjoins the equi-keys (_pair_condition) — so the returned list is
    always a superset of the truly-touched files, and the exact semi-join
    downstream decides membership. One tiny agg job over the
    already-materialized source; bails to the full live list when no key
    type is prunable or no key yields a usable bound (all-NULL).

    Float caveat (silent-wrong-answer class, caught in review): Spark's
    max() returns NaN whenever any source key is NaN (NaN sorts largest),
    and the driver prune compares with IEEE semantics where `x <= NaN` is
    FALSE — a naive `<= NaN` bound would prune EVERY stats-bearing file
    and turn matched rows into duplicate inserts. Non-finite bounds are
    therefore dropped PER BOUND: the remaining finite bound stays safe
    because files containing NaN/inf rows have those stats entries
    dropped at write (writer._json_safe) and missing stats always
    conservatively survive.

    TimestampType keys PRUNE (round-9): the writer records aware-UTC
    isoformat stats for TIMESTAMP_MICROS parquet (session.py pins the
    output type; _json_safe renders pyarrow's tz-aware footer min/max
    with its offset), and the source bounds are aggregated as
    unix_micros JVM-side and rebuilt as aware-UTC datetimes driver-side
    — never collected as naive datetimes, whose rendering depends on
    the driver OS timezone rather than the session timezone. Files
    whose stats are naive strings (foreign writers) or absent (legacy
    INT96 data) compare aware-vs-naive, which both evaluators treat
    conservatively (driver loop: TypeError -> keep; Spark expression:
    session-local cast, instant-correct). TimestampNTZType stays
    excluded: NTZ stats comparability across writers is unproven."""
    from .stats import prune_files_auto

    live = list(snap.files)
    if len(live) <= 4:
        return live
    preds = _source_key_bound_preds(spark, snap.schema, src, keys)
    if not preds:
        return live
    return prune_files_auto(spark, snap, preds)


def _source_key_bound_preds(spark, schema, src: DataFrame, keys: list[str]):
    """The source's per-key min/max as pruning predicates, or None when no
    key yields a usable bound — the shared core of merge key-range
    pruning (see _merge_key_range_candidates for semantics + caveats;
    the light MERGE planner feeds the same bounds to LightSnapshot.
    prune_df executor-side)."""
    from .stats import _SAFE_PRUNE_TYPES

    types = {f.name: f.dataType for f in schema.fields}
    prunable = [
        k
        for k in keys
        if isinstance(types.get(k), _SAFE_PRUNE_TYPES)
        and not isinstance(types.get(k), T.TimestampNTZType)
    ]
    if not prunable:
        return None
    aggs = []
    for k in prunable:
        if isinstance(types.get(k), T.TimestampType):
            # collect timestamp bounds as ABSOLUTE epoch micros, never as
            # Python datetimes: collect() renders TimestampType through
            # datetime.fromtimestamp, i.e. the DRIVER OS timezone — when
            # that differs from spark.sql.session.timeZone, re-attaching
            # the session tz driver-side shifts the bound by the offset
            # delta and prunes files that DO contain matching rows
            # (silent duplicate inserts / lost updates). unix_micros is
            # tz-independent by construction.
            aggs += [
                F.unix_micros(F.min(k)).alias(f"__mn_{k}"),
                F.unix_micros(F.max(k)).alias(f"__mx_{k}"),
            ]
        else:
            aggs += [F.min(k).alias(f"__mn_{k}"), F.max(k).alias(f"__mx_{k}")]
    r = src.agg(*aggs).first()
    import datetime
    import decimal
    import math

    scalar = (int, float, str, bool, datetime.date, datetime.datetime,
              decimal.Decimal)

    def _usable(v) -> bool:
        # non-scalar bounds can only appear when a caller bypasses the
        # source coercion (merge casts src to target types first) —
        # conservative skip, never a crash
        if not isinstance(v, scalar):
            return False
        if isinstance(v, float) and not math.isfinite(v):
            return False
        return True

    _EPOCH = datetime.datetime(1970, 1, 1, tzinfo=datetime.timezone.utc)

    def _from_micros(v):
        # epoch micros -> aware UTC datetime, the domain the writer's
        # stats isoformats parse back into (no OS/session tz involved)
        if v is None:
            return None
        return _EPOCH + datetime.timedelta(microseconds=int(v))

    preds = []
    for k in prunable:
        mn, mx = r[f"__mn_{k}"], r[f"__mx_{k}"]
        if isinstance(types.get(k), T.TimestampType):
            mn, mx = _from_micros(mn), _from_micros(mx)
        if _usable(mn):
            preds.append((k, ">=", mn))
        if _usable(mx):
            preds.append((k, "<=", mx))
    return preds or None


def _pair_condition(keys: list[str], on_condition: str | None):
    """Join condition over frames aliased `t` (target) and `s` (source):
    the equi-keys AND the residual ON conjuncts (arbitrary SQL over
    t.<col>/s.<col> — range bounds, partition pins, expressions)."""
    cond = None
    for k in keys:
        eq = F.col(f"t.{k}") == F.col(f"s.{k}")
        cond = eq if cond is None else (cond & eq)
    if on_condition:
        resid = F.expr(on_condition)
        cond = resid if cond is None else (cond & resid)
    return cond


def merge_upsert(
    spark: SparkSession,
    table_path: str,
    source: DataFrame,
    keys: list[str],
    broadcast_keys: bool = True,
    when_matched: str = "update",
    when_not_matched: str | None = "insert",
    not_matched_by_source: str | None = None,
    matched_condition: str | None = None,
    matched_clauses: list[tuple[str | None, str]] | None = None,
    schema_evolution: bool = False,
    isolation: str = "write_serializable",
    source_keys: list[str] | None = None,
    on_condition: str | None = None,
    not_matched_condition: str | None = None,
    not_matched_by_source_condition: str | None = None,
    not_matched_by_source_assigns: dict[str, str] | None = None,
) -> dict:
    """MERGE INTO table USING source ON keys — full clause semantics:

    - when_matched: 'update' (replace matched target rows with the source
      version) or 'delete' (drop them);
    - matched_condition: optional SQL predicate over `s.<col>` (source) and
      `t.<col>` (target) gating the matched clause — Delta's
      `WHEN MATCHED AND <cond> THEN UPDATE/DELETE`. Matched rows failing
      (or null-ing) the condition keep the TARGET version. This is the
      streaming-upsert idiom: `s.ts > t.ts` keeps the newest row per key
      regardless of microbatch arrival order. Requires the source to be
      key-unique (reduce per-batch first), as in Delta's MERGE.
    - matched_clauses: the MULTI-clause form — an ordered list of
      (condition|None, 'update'|'delete') evaluated FIRST-MATCH-WINS per
      target row, Delta's `WHEN MATCHED AND c1 THEN DELETE / WHEN MATCHED
      THEN UPDATE` chains (the standard CDC-apply shape: tombstone rows
      delete, everything else upserts). Rows matching no clause keep the
      target version. Mutually exclusive with matched_condition.
    - when_not_matched: 'insert' (add source rows whose keys are absent
      from the target) or None (ignore them); not_matched_condition
      optionally gates the insert (`WHEN NOT MATCHED AND <cond> THEN
      INSERT`, SQL over `s.<col>` — unmatched source rows failing it are
      simply dropped);
    - not_matched_by_source: None (keep target rows no source key matches
      — the default), 'delete' (drop them: full-sync semantics) or
      'update' (rewrite them per not_matched_by_source_assigns — `WHEN
      NOT MATCHED BY SOURCE THEN UPDATE SET col = expr`, expressions over
      `t.<col>` only: these rows have no source row).
      not_matched_by_source_condition optionally gates either action
      (`AND t.ts < X`, again t.-only — the retention-merge idiom).
      UNCONDITIONAL delete keeps the metadata fast path: files with NO
      matched key are removed wholesale with zero data I/O. A condition
      (or update) instead extends the rewrite set by the files the
      condition can reach (stats-pruned conservative superset,
      _nmbs_candidate_files), so a time-bounded retention clause rewrites
      only the old files, not the table.

    Touched-file detection is a semi-join of the target scan (tagged with
    its physical file) against the distinct source keys — only files that
    actually contain a matched key are rewritten; a merge into a 100 TB
    table whose keys all land in one partition rewrites one partition.
    `broadcast_keys` hints the key set broadcast-able (the common case:
    source << target); set False to let AQE choose for huge sources.

    source_keys: differently-named equi-keys — source_keys[i] in the
    source matches keys[i] in the target (`ON t.id = s.src_id`); the
    source is renamed to target names up front (_apply_source_keys).

    on_condition: residual ON conjuncts beyond the equi-keys (`AND t.ds
    BETWEEN s.lo AND s.hi`), arbitrary SQL over t.<col>/s.<col>. TRUE ON
    semantics, not a matched-clause filter: a (target, source) pair is
    matched only when equi-keys AND residual hold, so a source row whose
    key exists but whose residual fails is NOT MATCHED and inserts.
    Matched-pair work then plans on the full pair condition (the
    equi-keys still drive the hash join; the residual evaluates as a
    post-join filter, exactly how Spark executes mixed equi/non-equi
    joins).
    """
    clauses, clause_assigns = _normalize_matched_clauses(
        when_matched, matched_condition, matched_clauses
    )
    if when_not_matched not in ("insert", None):
        raise ValueError("when_not_matched must be 'insert' or None")
    nmbs, nmbs_cond, nmbs_assigns = _normalize_nmbs(
        not_matched_by_source,
        not_matched_by_source_condition,
        not_matched_by_source_assigns,
    )
    # unconditional DELETE is the only by-source shape where untouched
    # files can be dropped wholesale without reading them
    nmbs_wholesale = nmbs == "delete" and nmbs_cond is None
    source = _apply_source_keys(source, keys, source_keys)
    table_path = normalize_table_path(table_path)
    log = DeltaLog(table_path)
    # past the light-planning threshold: header-only replay now (schema/
    # identity/CDF planning never touches files); the candidate files
    # resolve through the light plane once the source is materialized
    light = log.light_plane(spark=spark)
    snap = light.to_snapshot_state([]) if light is not None else log.snapshot()
    ident, ident_missing = _merge_identity_plan(
        snap, source, keys, when_not_matched
    )
    if not_matched_condition is not None and when_not_matched != "insert":
        raise ValueError(
            "not_matched_condition requires when_not_matched='insert' "
            "(the condition gates inserts; without them it would be "
            "silently dead)"
        )
    # assignment-only merges never copy whole source rows — a NARROW
    # source carrying just the keys + referenced columns is the natural
    # shape ("flag these ids"); see _assignment_allowed_missing
    allowed_missing = set(ident_missing) | _assignment_allowed_missing(
        snap, source, clauses, clause_assigns, when_not_matched
    )
    schema, meta, evolved_md, src_missing = _plan_merge_schema(
        snap, source, schema_evolution, allowed_missing=allowed_missing
    )
    _validate_nmbs_assign_cols(nmbs_assigns, schema)
    src_missing |= ident_missing  # updates keep the target row's identity
    target_cols = [f.name for f in schema.fields]
    # coerce the source to the TARGET schema up front (Delta's implicit
    # source-to-target casting): every staged piece then matches the
    # table's physical types even when no target rows join the union
    # (e.g. a merge touching zero files would otherwise write the
    # source's own literal types). Under schema evolution, columns the
    # source lacks read as NULL (used only for inserts — updates keep the
    # target's value for them, Delta's UPDATE SET * rule).
    src = source.select(
        *[
            F.col(f.name).cast(f.dataType)
            if f.name in source.columns
            else F.lit(None).cast(f.dataType).alias(f.name)
            for f in schema.fields
        ]
    )
    # the residual may reference source-only columns (`s.lo`, `s.hi` of a
    # range merge): keep them alongside the coerced schema columns for
    # the pair joins; every staged piece selects schema columns
    # explicitly, so the extras never reach the written files
    extra_src = (
        [c for c in source.columns if c not in target_cols]
        if on_condition
        else []
    )
    src_pair = (
        source.select(
            *[
                F.col(f.name).cast(f.dataType)
                if f.name in source.columns
                else F.lit(None).cast(f.dataType).alias(f.name)
                for f in schema.fields
            ],
            *[F.col(c) for c in extra_src],
        )
        if extra_src
        else src
    )
    # Materialize the coerced source ONCE (lazy localCheckpoint: computed
    # at the first action, reused by every later one — no extra job).
    # MERGE evaluates the source in several independent actions (key
    # probe, ambiguity check, staged pieces, numSourceRows); a
    # non-deterministic source — rand(), LIMIT without ORDER, a view over
    # concurrently-changing data — would otherwise be re-evaluated per
    # action and could yield internally inconsistent pieces (a row
    # counted matched but never rewritten). Same rationale as
    # delta-spark's materializeSource.
    src_pair = src_pair.localCheckpoint(eager=False)
    src = src_pair.select(*target_cols) if extra_src else src_pair
    try:
        for k in keys:
            if k not in target_cols or k in src_missing:
                raise ValueError(f"merge key not in table schema: {k}")

        planning, snap, light = _resolve_merge_planning(
            spark, log, light, src, keys, nmbs, nmbs_cond, table_path, snap
        )

        if not clauses and nmbs is None:
            if when_not_matched != "insert":
                raise ValueError("MERGE with no action clauses")
            res = _insert_only_merge(
                spark, snap, table_path, src_pair, keys,
                schema=schema, meta=meta, extra_actions=evolved_md, ident=ident,
                isolation=isolation, on_condition=on_condition,
                not_matched_condition=not_matched_condition,
            )
            res["planning"] = planning
            return res

        pair = _pair_condition(keys, on_condition) if on_condition else None
        src_keys = src.select(*keys).distinct()
        if broadcast_keys:
            src_keys = F.broadcast(src_keys)

        live = list(snap.files)
        by_path = _live_files_by_path(snap)
        touched_names = set()
        if live:
            # Tag rows with their source file AT SCAN TIME (_metadata.file_path
            # via read_files_with_index). input_file_name() is NOT usable here:
            # it returns '' for rows that crossed the deletion-vector anti-join,
            # so merges touching DV'd files silently missed them — the target
            # rows survived unrewritten while the source rows inserted,
            # duplicating keys (caught by the randomized DML state machine).
            from .reader import read_files_with_index

            # source-key-range pruning: the probe scans only candidate
            # files whose stats intersect the source's key min/max
            cands = _merge_key_range_candidates(spark, snap, src, keys)
            if pair is None:
                probe = read_files_with_index(spark, snap, cands).select(
                    *keys, F.col("_file").alias("__file")
                )
                hit_files = probe.join(src_keys, keys, "left_semi")
            else:
                # the residual may reference any target column: keep the full
                # row (Catalyst prunes the scan to the referenced columns)
                probe = read_files_with_index(spark, snap, cands).withColumnRenamed(
                    "_file", "__file"
                )
                hit_files = probe.alias("t").join(
                    F.broadcast(src_pair.alias("s"))
                    if broadcast_keys
                    else src_pair.alias("s"),
                    pair,
                    "left_semi",
                )
            touched_names = _touched_paths(
                hit_files.select("__file").distinct(), by_path
            )
        touched = [by_path[n] for n in touched_names if n in by_path]
        if nmbs is not None and not nmbs_wholesale and live:
            # conditional delete / update by source: unmatched rows in
            # files the probe never matched may still change — extend the
            # rewrite set by the files the condition can reach
            touched = _union_files(
                touched, _nmbs_candidate_files(spark, snap, nmbs_cond)
            )

        remove_files = list(touched)
        if nmbs_wholesale:
            # untouched files hold ONLY unmatched rows: remove them wholesale,
            # no data I/O (the metadata fast path). Under light planning
            # `live` holds only the key candidates — the full remove list
            # streams from files_df (second metadata-only pass)
            remove_files = (
                list(live)
                if light is None
                else _light_all_live_files(spark, light)
            )

        pieces = []
        piece_kinds: list[str] = []  # parallel: 'copied' | 'updated' | 'inserted'
        nmbs_updated = None  # by-source UPDATE rows (assigned versions)
        nmbs_deleted = None  # by-source rows leaving the table (CDF)
        if touched:
            target_rows = _null_fill(_read_cow(spark, snap, touched), schema)
            unmatched = (
                target_rows.join(src_keys, keys, "left_anti")
                if pair is None
                else target_rows.alias("t").join(
                    src_pair.alias("s"), pair, "left_anti"
                )
            )
            if nmbs is None:
                # unmatched target rows survive the rewrite
                pieces.append(unmatched)
                piece_kinds.append("copied")
            elif nmbs == "delete":
                if nmbs_cond is not None:
                    # conditional delete: unmatched rows FAILING (or
                    # null-ing) the condition survive; the rest vanish
                    um = unmatched.alias("t")
                    ct = F.coalesce(F.expr(nmbs_cond), F.lit(False))
                    pieces.append(um.filter(~ct))
                    piece_kinds.append("copied")
                    nmbs_deleted = um.filter(ct)
                else:
                    nmbs_deleted = unmatched
                # unconditional: every unmatched row of a rewritten file
                # is dropped by not re-adding it
            else:  # 'update': assigned versions keep the row's identity
                um = unmatched.alias("t")
                ct = (
                    F.coalesce(F.expr(nmbs_cond), F.lit(False))
                    if nmbs_cond is not None
                    else F.lit(True)
                )
                pieces.append(um.filter(~ct))
                piece_kinds.append("copied")
                carried_nmbs = [
                    c for c in target_rows.columns
                    if c not in {f.name for f in schema.fields}
                ]
                nmbs_updated = um.filter(ct)
                assigned_nmbs = _nmbs_assigned_select(
                    nmbs_updated,
                    schema,
                    nmbs_assigns,
                    [F.col(f"t.{c}").alias(c) for c in carried_nmbs],
                )
                pieces.append(assigned_nmbs)
                piece_kinds.append("updated")
            matched_keys = (
                target_rows.select(*keys).join(src_keys, keys, "left_semi").distinct()
            )
        else:
            matched_keys = src.select(*keys).limit(0)
        needs_per_row = any(a == "update" for _c, a in clauses) or any(
            c is not None for c, _a in clauses
        )
        if touched and needs_per_row:
            # multiple source rows hitting one target key would update the same
            # target row several ways (or both keep and delete it, for a
            # conditional clause) — nondeterministic. Delta raises here
            # (DELTA_MULTIPLE_SOURCE_ROW_MATCHING_TARGET_ROW_IN_MERGE); so do we.
            if pair is None:
                ambiguous = (
                    src.join(matched_keys, keys, "left_semi")
                    .groupBy(*keys)
                    .count()
                    .filter(F.col("count") > 1)
                    .limit(1)
                    .count()
                )
            else:
                # pair-accurate under a residual: two source rows sharing a
                # key may legitimately match DISJOINT target rows (range
                # bucketing) — count matching source rows per target ROW, not
                # per key. The monotonic tag is consistent within one action.
                ambiguous = (
                    target_rows.withColumn(
                        "__tid", F.monotonically_increasing_id()
                    )
                    .alias("t")
                    .join(src_pair.alias("s"), pair, "inner")
                    .groupBy("__tid")
                    .count()
                    .filter(F.col("count") > 1)
                    .limit(1)
                    .count()
                )
            if ambiguous:
                raise ValueError(
                    "MERGE: multiple source rows match the same target "
                    + ("row" if pair is not None else "key")
                    + "; the update would be nondeterministic"
                )
        from .writer import MATERIALIZED_RCV_COL, MATERIALIZED_ROW_ID_COL

        rt_extras = (
            [MATERIALIZED_ROW_ID_COL, MATERIALIZED_RCV_COL]
            if (touched and _rt_on(snap))
            else []
        )
        cdf = _cdf_on(snap)
        cdc_frames: list[tuple[DataFrame, str]] = []
        if touched and not clauses:
            # no matched-action clause (reachable only under a NOT MATCHED
            # BY SOURCE action): matched target rows keep the target
            # version; only unmatched rows delete/update
            pieces.append(
                target_rows.join(src_keys, keys, "left_semi")
                if pair is None
                else target_rows.alias("t").join(
                    src_pair.alias("s"), pair, "left_semi"
                )
            )
            piece_kinds.append("copied")
        if cdf and touched and clauses and not needs_per_row:
            # the single unconditional DELETE clause: matched rows vanish
            cdc_frames.append(
                (
                    target_rows.join(src_keys, keys, "left_semi")
                    if pair is None
                    else target_rows.alias("t").join(
                        src_pair.alias("s"), pair, "left_semi"
                    ),
                    "delete",
                )
            )
        if touched and needs_per_row:
            # per-TARGET-ROW, first-match-wins clause application: each matched
            # (target, source) pair gets the index of the first clause whose
            # condition holds; update-clause rows take the SOURCE's values but
            # keep the TARGET row's identity (row tracking: same id, new commit
            # version), delete-clause rows vanish, no-clause rows keep the
            # TARGET version. (Duplicate target keys each resolve independently
            # — a per-source-key semi-join would silently collapse them.)
            non_keys = [c for c in target_cols if c not in keys]
            if pair is None:
                joined = target_rows.alias("t").join(src.alias("s"), keys, "inner")
                tgt_keys_sel = [F.col(k) for k in keys]
                src_keys_sel = [F.col(k) for k in keys]
            else:
                # expression join keeps BOTH sides' key columns: qualify them
                joined = target_rows.alias("t").join(
                    src_pair.alias("s"), pair, "inner"
                )
                tgt_keys_sel = [F.col(f"t.{k}").alias(k) for k in keys]
                src_keys_sel = [F.col(f"s.{k}").alias(k) for k in keys]
            applied = joined.withColumn("__clause", _matched_clause_index(clauses))
            carried = [F.col(f"t.{c}").alias(c) for c in rt_extras]
            tgt_version = tgt_keys_sel + [
                F.col(f"t.{c}").alias(c) for c in non_keys
            ] + carried
            src_version = src_keys_sel + [
                # UPDATE SET * assigns only source-present columns; under
                # schema evolution a target column the source lacks keeps
                # the TARGET row's value
                (
                    F.col(f"t.{c}").alias(c)
                    if c in src_missing
                    else F.col(f"s.{c}").alias(c)
                )
                for c in non_keys
            ] + carried
            field_types2 = {f.name: f.dataType for f in schema.fields}

            def _assigned_version(a: dict):
                # per-column UPDATE SET col = expr: assigned expressions see
                # t./s.; every unassigned column keeps the TARGET row's value
                for col_ in a:
                    if col_ not in field_types2:
                        raise ValueError(f"SET on unknown column: {col_}")
                out = []
                for k_, base in zip(keys, tgt_keys_sel):
                    out.append(
                        F.expr(a[k_]).cast(field_types2[k_]).alias(k_)
                        if k_ in a
                        else base
                    )
                for c in non_keys:
                    out.append(
                        F.expr(a[c]).cast(field_types2[c]).alias(c)
                        if c in a
                        else F.col(f"t.{c}").alias(c)
                    )
                return out + carried

            pieces.append(
                applied.filter(F.col("__clause") == -1).select(*tgt_version)
            )
            piece_kinds.append("copied")
            update_idx = [
                i
                for i, (_c, a) in enumerate(clauses)
                if a == "update" and clause_assigns[i] is None
            ]
            assigned_idx = [
                i
                for i, (_c, a) in enumerate(clauses)
                if a == "update" and clause_assigns[i] is not None
            ]
            if update_idx:
                pieces.append(
                    applied.filter(F.col("__clause").isin(update_idx)).select(
                        *src_version
                    )
                )
                piece_kinds.append("updated")
            for i in assigned_idx:
                pieces.append(
                    applied.filter(F.col("__clause") == i).select(
                        *_assigned_version(clause_assigns[i])
                    )
                )
                piece_kinds.append("updated")
            if cdf:
                delete_idx = [
                    i for i, (_c, a) in enumerate(clauses) if a == "delete"
                ]
                if delete_idx:
                    cdc_frames.append(
                        (
                            applied.filter(F.col("__clause").isin(delete_idx))
                            .select(*tgt_version),
                            "delete",
                        )
                    )
                if update_idx:
                    upd = applied.filter(F.col("__clause").isin(update_idx))
                    cdc_frames.append(
                        (upd.select(*tgt_version), "update_preimage")
                    )
                    cdc_frames.append(
                        (upd.select(*src_version), "update_postimage")
                    )
                for i in assigned_idx:
                    upd = applied.filter(F.col("__clause") == i)
                    cdc_frames.append(
                        (upd.select(*tgt_version), "update_preimage")
                    )
                    cdc_frames.append(
                        (
                            upd.select(*_assigned_version(clause_assigns[i])),
                            "update_postimage",
                        )
                    )
        # else: the single unconditional DELETE clause — matched rows simply
        # vanish, no join needed (the anti-join survivor piece above covers
        # unmatched target rows)
        if cdf and touched and nmbs_deleted is not None:
            # by-source-deleted rows of REWRITTEN files vanish by not
            # being re-added — record them as deletes
            cdc_frames.append((nmbs_deleted, "delete"))
        if cdf and touched and nmbs_updated is not None:
            sel_cols = [f.name for f in schema.fields]
            cdc_frames.append(
                (nmbs_updated.select(*sel_cols), "update_preimage")
            )
            cdc_frames.append(
                (assigned_nmbs.select(*sel_cols), "update_postimage")
            )
        ident_params: dict = {}
        if when_not_matched == "insert":
            if pair is None:
                ins = src.join(matched_keys, keys, "left_anti")
            elif touched:
                # TRUE ON semantics: a source row inserts unless some target
                # row matches it under the FULL pair condition (key equal AND
                # residual true). Touched files hold every such target row.
                ins = src_pair.alias("s").join(
                    target_rows.alias("t"), pair, "left_anti"
                ).select(*[F.col(f.name) for f in schema.fields])
            else:
                ins = src
            if not_matched_condition is not None:
                # conditional insert: the condition sees only the source row
                ins = ins.alias("s").filter(
                    F.coalesce(F.expr(not_matched_condition), F.lit(False))
                )
            if ident:
                ins, ident_params = _assign_merge_identity(ins, schema, ident, keys)
            if cdf:
                cdc_frames.append((ins, "insert"))
            for c in rt_extras:  # inserts are NEW rows: fresh ids from the add
                ins = ins.withColumn(c, F.lit(None).cast("long"))
            pieces.append(ins)
            piece_kinds.append("inserted")
        _MOP = {"copied": 0, "updated": 1, "inserted": 2}
        if pieces:
            tagged_pieces = [
                p.withColumn("__mop", F.lit(_MOP[k]))
                for p, k in zip(pieces, piece_kinds)
            ]
            new_data = tagged_pieces[0]
            for piece in tagged_pieces[1:]:
                new_data = new_data.unionByName(piece)
        else:
            new_data = src.limit(0).withColumn("__mop", F.lit(0))
        from .writer import _enforce_constraints

        from .writer import _apply_generated_columns, _generation_expressions

        if _generation_expressions(schema):
            # spec: writers ENFORCE generation expressions — a source feeding
            # inconsistent values into matched/inserted rows must be rejected,
            # not trusted (the invariant also backs partition pruning)
            new_data = _apply_generated_columns(new_data, schema)
        _enforce_constraints(new_data, meta)
        # operationMetrics ride the staging write (CollectMetrics node) —
        # attached AFTER the constraint probes, whose limit(1) actions would
        # otherwise complete the observation with partial counts
        from pyspark.sql import Observation

        m_obs = Observation()
        new_data = new_data.observe(
            m_obs,
            F.sum((F.col("__mop") == 1).cast("long")).alias("updated"),
            F.sum((F.col("__mop") == 2).cast("long")).alias("inserted"),
            F.count(F.lit(1)).alias("total"),
        ).drop("__mop")
        merge_l2p = logical_to_physical(schema, meta.get("configuration"))
        adds = stage_data_files(
            new_data,
            table_path,
            snap.partition_columns,
            T.StructType(
                [f for f in schema.fields if f.name not in snap.partition_columns]
            ),
            l2p=merge_l2p,
            config=meta.get("configuration"),
            full_schema=schema,
        )
        cdc = None
        if cdf:
            if nmbs_wholesale:
                # untouched files removed wholesale: a commit WITH cdc actions
                # must describe ALL its changes through them, so their rows
                # join the change set too (remove_files == all live here)
                touched_set = {f.path for f in touched}
                untouched = [f for f in remove_files if f.path not in touched_set]
                if untouched:
                    cdc_frames.append(
                        (_read_cow(spark, snap, untouched), "delete")
                    )
            cdc = _stage_cdc(spark, snap, table_path, cdc_frames, schema=schema) or None
        md_actions = list(evolved_md or [])
        if ident_params:
            # a single final metaData wins over the evolution one (last-writer
            # within the commit): evolved schema + advanced identity HWMs
            md_actions = [_identity_md_action(meta, schema, ident_params)]
        try:  # filled by the staging job's CollectMetrics node
            m = m_obs.get
            n_updated = int(m["updated"] or 0)
            n_inserted = int(m["inserted"] or 0)
            n_copied = int(m["total"]) - n_updated - n_inserted
        except Exception:
            n_updated = n_inserted = n_copied = None
        live_removed = _num_records(remove_files)
        n_deleted = (
            live_removed - n_copied - n_updated
            if live_removed is not None
            and n_copied is not None
            and n_updated is not None
            else None
        )
        n_source = src.count()  # Delta reports it; sources are the small side
        commit_rewrite(
            table_path,
            "MERGE",
            adds,
            remove_files,
            operation_parameters={
                "matchedPredicate": " AND ".join(keys)
                + (f" AND {on_condition}" if on_condition else "")
            },
            extra_actions=md_actions + (cdc or []) or None,
            base_version=snap.version,
            isolation=isolation,
            read_predicates=None,
            operation_metrics={
                "numTargetFilesRemoved": len(remove_files),
                "numTargetFilesAdded": len(adds),
                "numSourceRows": n_source,
                "numTargetRowsInserted": n_inserted,
                "numTargetRowsUpdated": n_updated,
                "numTargetRowsDeleted": n_deleted,
                "numTargetRowsCopied": n_copied,
            },
        )
        return {
            "files_removed": len(remove_files),
            "files_added": len(adds),
            "source_rows": n_source,
            "planning": planning,
        }
    finally:
        # free the materialized source blocks (localCheckpoint has no
        # public unpersist; see _release_materialized)
        _release_materialized(src_pair)


def merge_upsert_mor(
    spark: SparkSession,
    table_path: str,
    source: DataFrame,
    keys: list[str],
    broadcast_keys: bool = True,
    when_matched: str = "update",
    when_not_matched: str | None = "insert",
    not_matched_by_source: str | None = None,
    matched_condition: str | None = None,
    matched_clauses: list[tuple[str | None, str]] | None = None,
    schema_evolution: bool = False,
    isolation: str = "write_serializable",
    source_keys: list[str] | None = None,
    on_condition: str | None = None,
    not_matched_condition: str | None = None,
    not_matched_by_source_condition: str | None = None,
    not_matched_by_source_assigns: dict[str, str] | None = None,
) -> dict:
    """Merge-on-read MERGE: same clause semantics as merge_upsert
    (including ordered multi-clause `matched_clauses`), but matched target
    rows are deletion-vectored in place and only the NEW row versions
    (source updates + inserts) are written — no target file is
    rewritten. Cost is O(matched rows + source rows); copy-on-write merge
    rewrites every touched file wholesale. Files whose every row is
    consumed (and, under not_matched_by_source='delete', files with no
    matched key at all) are dropped as metadata-only removes. DV/protocol
    mechanics shared with delete_mor via `_dv_pieces`."""
    from .reader import read_files_with_index

    clauses, clause_assigns = _normalize_matched_clauses(
        when_matched, matched_condition, matched_clauses
    )
    if when_not_matched not in ("insert", None):
        raise ValueError("when_not_matched must be 'insert' or None")
    nmbs, nmbs_cond, nmbs_assigns = _normalize_nmbs(
        not_matched_by_source,
        not_matched_by_source_condition,
        not_matched_by_source_assigns,
    )
    nmbs_wholesale = nmbs == "delete" and nmbs_cond is None
    if on_condition is not None:
        raise ValueError(
            "merge-on-read MERGE does not support residual ON conjuncts "
            "yet; use merge_upsert (copy-on-write), which plans the full "
            "pair condition"
        )
    source = _apply_source_keys(source, keys, source_keys)
    table_path = normalize_table_path(table_path)
    log = DeltaLog(table_path)
    # light planning, exactly as in merge_upsert: header-only replay for
    # schema planning, candidates through the light plane post-materialize
    light = log.light_plane(spark=spark)
    snap = light.to_snapshot_state([]) if light is not None else log.snapshot()
    ident, ident_missing = _merge_identity_plan(
        snap, source, keys, when_not_matched
    )
    if not_matched_condition is not None and when_not_matched != "insert":
        raise ValueError(
            "not_matched_condition requires when_not_matched='insert' "
            "(the condition gates inserts; without them it would be "
            "silently dead)"
        )
    allowed_missing = set(ident_missing) | _assignment_allowed_missing(
        snap, source, clauses, clause_assigns, when_not_matched
    )
    schema, meta, evolved_md, src_missing = _plan_merge_schema(
        snap, source, schema_evolution, allowed_missing=allowed_missing
    )
    _validate_nmbs_assign_cols(nmbs_assigns, schema)
    src_missing |= ident_missing  # updates keep the target row's identity
    target_cols = [f.name for f in schema.fields]
    # coerce the source to the TARGET schema up front (Delta's implicit
    # source-to-target casting); evolution semantics as in merge_upsert
    src = source.select(
        *[
            F.col(f.name).cast(f.dataType)
            if f.name in source.columns
            else F.lit(None).cast(f.dataType).alias(f.name)
            for f in schema.fields
        ]
    )
    # materialize once — same non-deterministic-source rationale as
    # merge_upsert (lazy localCheckpoint, reused by every action)
    src = src.localCheckpoint(eager=False)
    pinned = [src]  # every materialized frame to free in the finally
    try:
        for k in keys:
            if k not in target_cols or k in src_missing:
                raise ValueError(f"merge key not in table schema: {k}")

        planning, snap, light = _resolve_merge_planning(
            spark, log, light, src, keys, nmbs, nmbs_cond, table_path, snap
        )

        if not clauses:
            if nmbs is not None:
                raise ValueError(
                    "merge-on-read MERGE with only a NOT MATCHED BY SOURCE "
                    "clause is unsupported; use merge_upsert (copy-on-write)"
                )
            if when_not_matched != "insert":
                raise ValueError("MERGE with no action clauses")
            res = _insert_only_merge(
                spark, snap, table_path, src, keys,
                schema=schema, meta=meta, extra_actions=evolved_md, ident=ident,
                isolation=isolation,
                not_matched_condition=not_matched_condition,
            )
            res["planning"] = planning
            return res

        src_keys = src.select(*keys).distinct()
        if broadcast_keys:
            src_keys = F.broadcast(src_keys)

        live = list(snap.files)
        by_path = _live_files_by_path(snap)
        touched_names: set[str] = set()
        if live:
            # source-key-range pruning, as in the copy-on-write probe
            cands = _merge_key_range_candidates(spark, snap, src, keys)
            probe = read_files_with_index(spark, snap, cands).select(
                *keys, F.col("_file").alias("__file")
            )
            touched_names = _touched_paths(
                probe.join(src_keys, keys, "left_semi").select("__file").distinct(),
                by_path,
            )
        touched = [by_path[n] for n in touched_names if n in by_path]
        if nmbs is not None and not nmbs_wholesale and live:
            # conditional delete / update by source: unmatched rows in
            # files the probe never matched may also change — extend the
            # DV'd/read set by the files the condition can reach
            touched = _union_files(
                touched, _nmbs_candidate_files(spark, snap, nmbs_cond)
            )

        needs_per_row = any(a == "update" for _c, a in clauses) or any(
            c is not None for c, _a in clauses
        )
        if touched and needs_per_row:
            tgt_keys = (
                read_files_with_index(spark, snap, touched).select(*keys).distinct()
            )
            ambiguous = (
                src.join(tgt_keys, keys, "left_semi")
                .groupBy(*keys)
                .count()
                .filter(F.col("count") > 1)
                .limit(1)
                .count()
            )
            if ambiguous:
                raise ValueError(
                    "MERGE: multiple source rows match the same target key; "
                    "the update would be nondeterministic"
                )

        non_keys = [c for c in target_cols if c not in keys]

        pieces_new: list[DataFrame] = []
        staged: list = []
        matched_keys = None
        cdf = _cdf_on(snap)
        cdc_frames: list[tuple[DataFrame, str]] = []
        if touched:
            rt_mor = _rt_on(snap)
            tagged = read_files_with_index(
                spark, snap, touched,
                extra_fields=_rt_extra_fields() if rt_mor else None,
            )
            if rt_mor:
                tagged = _resolve_row_ids(spark, snap, touched, tagged)
            tagged = _null_fill(tagged, schema).localCheckpoint(eager=True)
            pinned.append(tagged)
            joined = tagged.alias("t").join(src.alias("s"), keys, "inner")
            # first-match-wins clause index per (target, source) pair: ANY
            # applying clause deletion-vectors the old row version; update
            # clauses additionally append the source version below
            applied = joined.withColumn("__clause", _matched_clause_index(clauses))
            clause_rows = applied.filter(F.col("__clause") != -1)
            dv_rows = clause_rows.select("_file", "_row_idx")
            nmbs_hit = None  # by-source rows a clause consumes (old versions)
            if nmbs is not None:
                unmatched_mor = tagged.join(src_keys, keys, "left_anti").alias(
                    "t"
                )
                ct_mor = (
                    F.coalesce(F.expr(nmbs_cond), F.lit(False))
                    if nmbs_cond is not None
                    else F.lit(True)
                )
                nmbs_hit = unmatched_mor.filter(ct_mor)
                dv_rows = dv_rows.unionByName(
                    nmbs_hit.select("_file", "_row_idx")
                )
            staged = _stage_dvs(spark, table_path, dv_rows, touched)
            update_idx = [
                i
                for i, (_c, a) in enumerate(clauses)
                if a == "update" and clause_assigns[i] is None
            ]
            assigned_idx = [
                i
                for i, (_c, a) in enumerate(clauses)
                if a == "update" and clause_assigns[i] is not None
            ]
            field_types2 = {f.name: f.dataType for f in schema.fields}

            def _assigned_version_mor(a: dict, carried_cols):
                for col_ in a:
                    if col_ not in field_types2:
                        raise ValueError(f"SET on unknown column: {col_}")
                out = []
                for k_ in keys:
                    out.append(
                        F.expr(a[k_]).cast(field_types2[k_]).alias(k_)
                        if k_ in a
                        else F.col(k_)
                    )
                for c in non_keys:
                    out.append(
                        F.expr(a[c]).cast(field_types2[c]).alias(c)
                        if c in a
                        else F.col(f"t.{c}").alias(c)
                    )
                return out + carried_cols
            if cdf:
                tgt_version_cdc = [F.col(k) for k in keys] + [
                    F.col(f"t.{c}").alias(c) for c in non_keys
                ]
                src_version_cdc = [F.col(k) for k in keys] + [
                    (
                        F.col(f"t.{c}").alias(c)
                        if c in src_missing
                        else F.col(f"s.{c}").alias(c)
                    )
                    for c in non_keys
                ]
                delete_idx = [
                    i for i, (_c, a) in enumerate(clauses) if a == "delete"
                ]
                if delete_idx:
                    cdc_frames.append(
                        (
                            applied.filter(F.col("__clause").isin(delete_idx))
                            .select(*tgt_version_cdc),
                            "delete",
                        )
                    )
                if update_idx:
                    upd = applied.filter(F.col("__clause").isin(update_idx))
                    cdc_frames.append(
                        (upd.select(*tgt_version_cdc), "update_preimage")
                    )
                    cdc_frames.append(
                        (upd.select(*src_version_cdc), "update_postimage")
                    )
                for i in assigned_idx:
                    upd = applied.filter(F.col("__clause") == i)
                    cdc_frames.append(
                        (upd.select(*tgt_version_cdc), "update_preimage")
                    )
                    cdc_frames.append(
                        (
                            upd.select(
                                *_assigned_version_mor(clause_assigns[i], [])
                            ),
                            "update_postimage",
                        )
                    )
                if nmbs == "delete" and nmbs_hit is not None:
                    cdc_frames.append((nmbs_hit, "delete"))
            if update_idx:
                src_version = [F.col(k) for k in keys] + [
                    (
                        F.col(f"t.{c}").alias(c)
                        if c in src_missing
                        else F.col(f"s.{c}").alias(c)
                    )
                    for c in non_keys
                ]
                if rt_mor:
                    from .writer import (
                        MATERIALIZED_RCV_COL,
                        MATERIALIZED_ROW_ID_COL,
                    )

                    # updated rows keep the TARGET row's identity
                    src_version += [
                        F.col(f"t.{c}").alias(c)
                        for c in (MATERIALIZED_ROW_ID_COL, MATERIALIZED_RCV_COL)
                    ]
                pieces_new.append(
                    applied.filter(F.col("__clause").isin(update_idx))
                    .select(*src_version)
                    .withColumn("__mop", F.lit(1))
                )
            for i in assigned_idx:
                carried_mor = []
                if rt_mor:
                    from .writer import (
                        MATERIALIZED_RCV_COL,
                        MATERIALIZED_ROW_ID_COL,
                    )

                    carried_mor = [
                        F.col(f"t.{c}").alias(c)
                        for c in (MATERIALIZED_ROW_ID_COL, MATERIALIZED_RCV_COL)
                    ]
                pieces_new.append(
                    applied.filter(F.col("__clause") == i)
                    .select(*_assigned_version_mor(clause_assigns[i], carried_mor))
                    .withColumn("__mop", F.lit(1))
                )
            if nmbs == "update" and nmbs_hit is not None:
                # by-source UPDATE: the DV above consumed the old row
                # versions; append the assigned versions (same identity)
                carried_nmbs = []
                if rt_mor:
                    from .writer import (
                        MATERIALIZED_RCV_COL,
                        MATERIALIZED_ROW_ID_COL,
                    )

                    carried_nmbs = [
                        F.col(f"t.{c}").alias(c)
                        for c in (MATERIALIZED_ROW_ID_COL, MATERIALIZED_RCV_COL)
                    ]
                assigned_nmbs_mor = _nmbs_assigned_select(
                    nmbs_hit, schema, nmbs_assigns, carried_nmbs
                )
                pieces_new.append(
                    assigned_nmbs_mor.withColumn("__mop", F.lit(1))
                )
                if cdf:
                    sel = [f.name for f in schema.fields]
                    cdc_frames.append(
                        (nmbs_hit.select(*sel), "update_preimage")
                    )
                    cdc_frames.append(
                        (assigned_nmbs_mor.select(*sel), "update_postimage")
                    )
            matched_keys = (
                tagged.select(*keys).join(src_keys, keys, "left_semi").distinct()
            )
        ident_params: dict = {}
        if when_not_matched == "insert":
            ins = (
                src.join(matched_keys, keys, "left_anti")
                if matched_keys is not None
                else src
            )
            if not_matched_condition is not None:
                ins = ins.alias("s").filter(
                    F.coalesce(F.expr(not_matched_condition), F.lit(False))
                )
            if ident:
                ins, ident_params = _assign_merge_identity(ins, schema, ident, keys)
            if cdf:
                cdc_frames.append((ins, "insert"))
            if touched and _rt_on(snap):
                from .writer import MATERIALIZED_RCV_COL, MATERIALIZED_ROW_ID_COL

                for c in (MATERIALIZED_ROW_ID_COL, MATERIALIZED_RCV_COL):
                    ins = ins.withColumn(c, F.lit(None).cast("long"))
            pieces_new.append(ins.withColumn("__mop", F.lit(2)))

        new_data = None
        for p in pieces_new:
            new_data = p if new_data is None else new_data.unionByName(p)
        from .writer import _enforce_constraints

        new_adds: list[dict] = []
        m_obs = None
        if new_data is not None:
            from pyspark.sql import Observation

            from .writer import _apply_generated_columns, _generation_expressions

            if _generation_expressions(schema):
                new_data = _apply_generated_columns(new_data, schema)
            _enforce_constraints(new_data, meta)
            # metrics ride the staging write; attached after the constraint
            # probes (their limit(1) actions would fill partial counts)
            m_obs = Observation()
            new_data = new_data.observe(
                m_obs,
                F.sum((F.col("__mop") == 1).cast("long")).alias("updated"),
                F.sum((F.col("__mop") == 2).cast("long")).alias("inserted"),
            ).drop("__mop")
            new_adds = stage_data_files(
                new_data,
                table_path,
                snap.partition_columns,
                T.StructType(
                    [
                        f
                        for f in schema.fields
                        if f.name not in snap.partition_columns
                    ]
                ),
                l2p=logical_to_physical(schema, meta.get("configuration")),
                config=meta.get("configuration"),
                full_schema=schema,
            )

        pieces = None
        removes: list[AddFile] = []
        dv_adds: list[dict] = []
        extra = None
        if staged:
            pieces = _dv_pieces(table_path, snap, staged)
            removes = [f for f, _idx in pieces.touched]
            dv_adds = pieces.adds
            extra = pieces.protocol_extra
        untouched_live: int | None = 0
        if nmbs_wholesale:
            # untouched files hold ONLY unmatched rows: metadata-only
            # removal. Under light planning `live` holds only the key
            # candidates — stream the full list from files_df instead
            all_live = (
                live if light is None else _light_all_live_files(spark, light)
            )
            touched_set = {f.path for f in touched}
            untouched = [f for f in all_live if f.path not in touched_set]
            removes = removes + untouched
            untouched_live = _num_records(untouched)
            if cdf and untouched:
                cdc_frames.append((_read_cow(spark, snap, untouched), "delete"))

        if not removes and not dv_adds and not new_adds:
            return {
                "files_removed": 0,
                "files_added": 0,
                "source_rows": None,
                "planning": planning,
            }
        if cdf and cdc_frames:
            extra = list(extra or []) + _stage_cdc(
                spark, snap, table_path, cdc_frames, schema=schema
            )
        md_actions = list(evolved_md or [])
        if ident_params:
            md_actions = [_identity_md_action(meta, schema, ident_params)]
        if md_actions:
            extra = md_actions + list(extra or [])
        # no new-row pieces (delete-only merge) means ZERO updates/inserts —
        # known, not unknown; the observation refines the counts otherwise
        n_updated = n_inserted = 0 if m_obs is None else None
        if m_obs is not None:
            try:
                m = m_obs.get
                n_updated = int(m["updated"] or 0)
                n_inserted = int(m["inserted"] or 0)
            except Exception:
                pass
        # DV'd rows cover delete-clause hits, update preimages and by-source
        # deletes in touched files; true deletes = those minus the updated
        # rows' old versions, plus the live rows of wholesale-removed
        # untouched files (by-source delete's metadata fast path)
        dv_rows = pieces.rows_newly_deleted if pieces else 0
        n_deleted = (
            dv_rows - n_updated + untouched_live
            if n_updated is not None and untouched_live is not None
            else None
        )
        n_source = src.count()
        commit_rewrite(
            table_path,
            "MERGE",
            dv_adds + new_adds,
            removes,
            operation_parameters={
                "matchedPredicate": " AND ".join(keys),
                "mode": "merge-on-read",
            },
            extra_actions=extra,
            base_version=snap.version,
            isolation=isolation,
            read_predicates=None,
            operation_metrics={
                "numTargetFilesRemoved": len(removes) - len(dv_adds),
                "numTargetFilesAdded": len(dv_adds) + len(new_adds),
                "numSourceRows": n_source,
                "numTargetRowsInserted": n_inserted,
                "numTargetRowsUpdated": n_updated,
                "numTargetRowsDeleted": n_deleted,
                "numDeletionVectorsAdded": (
                    pieces.dv_files_written if pieces else 0
                ),
            },
        )
        return {
            "files_removed": len(removes) - len(dv_adds),
            "files_added": len(dv_adds) + len(new_adds),
            "source_rows": n_source,
            "dv_files_written": pieces.dv_files_written if pieces else 0,
            "planning": planning,
        }
    finally:
        # free the materialized frames (localCheckpoint has no public
        # unpersist; see _release_materialized)
        for _df in pinned:
            _release_materialized(_df)


# ------------------------------------------------------------------- OPTIMIZE


def compact(
    spark: SparkSession,
    table_path: str,
    target_file_size: int = 128 * 1024 * 1024,
    predicates: list[Predicate] | None = None,
    zorder_by: list[str] | None = None,
    dv_only: bool = False,
    operation: str = "OPTIMIZE",
    operation_parameters: dict | None = None,
) -> dict:
    """OPTIMIZE (bin-packing): merge small files within each partition.

    Partitions (or the whole table when unpartitioned) holding >= 2 files
    under `target_file_size` get those files rewritten into
    ceil(total/target) files. Commits with dataChange=false — streaming /
    incremental readers know no rows changed. Optional `predicates` scope
    the compaction (e.g. one hot partition).

    zorder_by: OPTIMIZE ZORDER — every candidate file (regardless of size)
    is rewritten with the victims laid out by the bit-interleaved Z-value
    (writer.zorder_dataframe), so min/max stats prune on every listed
    column afterwards."""
    table_path = normalize_table_path(table_path)
    # predicate-scoped AND unscoped OPTIMIZE/REORG on a past-threshold
    # table select their candidates through the driver-light path (one
    # hot partition — or the whole small-file population — of a
    # 10^7-file table compacts without the classic snapshot)
    planning = "classic"
    partial = False
    lightsel = (
        None
        if predicates
        else _light_compact_candidates(
            spark, table_path, target_file_size, zorder_by, dv_only
        )
    )
    if lightsel is not None:
        snap, files, zorder_by, partial = lightsel
        planning = "light"
    else:
        snap, files = _plan_candidates(spark, table_path, predicates)
    if zorder_by is None and planning == "classic":
        # liquid-clustering semantics: a table written with
        # liquid_cluster_by remembers its layout policy in the
        # delta.clustering domain; a plain OPTIMIZE re-clusters by it
        # (the light path resolved this from the header already)
        dm = snap.domain_metadata.get("delta.clustering")
        if dm:
            try:
                cols = json.loads(dm).get("clusteringColumns")
            except (ValueError, TypeError):
                cols = None
            if cols:
                zorder_by = list(cols)

    groups: dict[tuple, list[AddFile]] = {}
    for f in files:
        # DV'd files are always victims regardless of size: rewriting them
        # materializes the deletion vector (read_files applies DVs), i.e.
        # OPTIMIZE doubles as REORG ... APPLY (PURGE); a ZORDER rewrite
        # re-clusters everything it scopes
        # dv_only (REORG … APPLY (PURGE)): victims are EXACTLY the
        # DV-carrying files — no small-file merging, minimal I/O
        if dv_only:
            if not f.deletion_vector:
                continue
        elif not (f.size < target_file_size or f.deletion_vector or zorder_by):
            continue
        key = tuple(sorted((f.partition_values or {}).items()))
        groups.setdefault(key, []).append(f)
    to_compact = {
        k: v
        for k, v in groups.items()
        if len(v) >= 2
        or zorder_by
        or dv_only
        or any(f.deletion_vector for f in v)
    }
    if not to_compact:
        return {
            "groups": 0,
            "files_removed": 0,
            "files_added": 0,
            "planning": planning,
            "partial": partial,
        }

    victims = [f for v in to_compact.values() for f in v]
    df = _read_cow(spark, snap, victims)
    part_cols = snap.partition_columns
    if zorder_by:
        from .writer import zorder_dataframe

        # output file count sized by data volume, not the scan's (possibly
        # coalesced) input partitioning
        total = sum(f.size for f in victims)
        n_out = max(1, -(-total // target_file_size))
        df = zorder_dataframe(df, zorder_by, n_partitions=n_out)
    elif part_cols:
        # one task per partition value -> one output file per partition
        df = df.repartition(len(to_compact), *[F.col(c) for c in part_cols])
    else:
        total = sum(f.size for f in victims)
        df = df.coalesce(max(1, -(-total // target_file_size)))
    adds = stage_data_files(
        df, table_path, part_cols, _data_schema(snap), l2p=_l2p(snap),
        config=snap.metadata.get("configuration"), full_schema=snap.schema,
    )
    commit_rewrite(
        table_path,
        operation,
        adds,
        victims,
        data_change=False,
        operation_parameters=(
            operation_parameters
            if operation_parameters is not None
            else {"targetSize": str(target_file_size)}
        ),
        base_version=snap.version,
    )
    return {
        "groups": len(to_compact),
        "files_removed": len(victims),
        "files_added": len(adds),
        "planning": planning,
        "partial": partial,
    }


def reorg_purge(
    spark: SparkSession,
    table_path: str,
    predicates: list[Predicate] | None = None,
) -> dict:
    """REORG TABLE … [WHERE pred] APPLY (PURGE): rewrite ONLY the files
    carrying deletion vectors (optionally scoped by `predicates`),
    materializing soft-deleted rows into clean parquet (after which
    VACUUM can reap the DV blobs). Unlike OPTIMIZE it never touches
    DV-free files — the minimal-I/O way to get a MOR-heavy table back to
    pure parquet for readers without DV support. dataChange=false: no
    logical rows change, streams skip the commit. Shares compact's
    rewrite machinery (one copy of the row-id-carrying copy-on-write
    recipe), differing only in victim selection."""
    res = compact(
        spark,
        table_path,
        predicates=predicates,
        dv_only=True,
        operation="REORG",
        operation_parameters={"applyPurge": "true"},
    )
    return {
        "files_removed": res["files_removed"],
        "files_added": res["files_added"],
    }


# -------------------------------------------------------------------- RESTORE


def _light_restore_plan(log, version):
    """RESTORE planning via the light plane, or None to plan classically.
    The classic path materializes BOTH the target and current snapshots
    driver-side (2 x 8.6 GiB at 10^7 adds) to compute a diff that is
    normally tiny; here the diff is computed executor-side by joining
    the two versions' files_df on path + fingerprint, and only the diff
    rows come back (capped — an over-cap diff means the restore commit
    itself is O(table), where classic planning costs proportionally
    little extra). The re-add and remove sides run as two passes over
    the two frames rather than one cached full-outer join: caching a
    10^7-row join to save one scan would reintroduce exactly the memory
    footprint this path exists to avoid. Returns (target_hdr,
    current_hdr, to_add AddFiles, to_remove AddFiles, tgt_has_dv)."""
    from pyspark.sql import SparkSession
    from pyspark.sql import functions as F

    from .log import light_collect_cap

    lt = log.light_plane(version)
    if lt is None:
        return None
    # the plane engaged at the target implies it is engaged at the tip
    lc = log.snapshot_light()
    spark = SparkSession.active()
    cap = light_collect_cap()
    tdf = lt.files_df(spark, full=True)
    cur = lc.files_df(spark, full=True)

    def _dv(key, cast=None):
        c = F.get_json_object("dv_json", f"$.{key}")
        return c.cast(cast) if cast else c

    cur_fp = cur.select(
        F.col("path").alias("c_path"),
        F.col("size").alias("c_size"),
        F.col("modification_time").alias("c_mtime"),
        _dv("pathOrInlineDv").alias("c_dv_path"),
        _dv("offset", "long").alias("c_dv_off"),
        _dv("cardinality", "long").alias("c_dv_card"),
    )
    # re-adds: target files absent from current OR with a different
    # fingerprint (same path, grown DV / rewritten bytes) — null-safe on
    # the DV fields, which are null for undeleted files
    joined = tdf.join(cur_fp, tdf["path"] == cur_fp["c_path"], "left")
    # eqNullSafe THROUGHOUT: third-party checkpoints may omit size or
    # modificationTime (files_df emits NULL for absent add-struct
    # fields), and a null-unsafe == would make `same` NULL, `~same`
    # NULL, and silently drop the row from the diff — a file the
    # classic tuple-compare plane re-adds
    same = (
        F.col("c_path").isNotNull()
        & F.col("size").eqNullSafe(F.col("c_size"))
        & F.col("modification_time").eqNullSafe(F.col("c_mtime"))
        & F.col("c_dv_path").eqNullSafe(_dv("pathOrInlineDv"))
        & F.col("c_dv_off").eqNullSafe(_dv("offset", "long"))
        & F.col("c_dv_card").eqNullSafe(_dv("cardinality", "long"))
    )
    diff_df = joined.where(~same).select(*[F.col(c) for c in tdf.columns])
    to_add = lt.collect_pruned_add_files(spark, full_df=diff_df, cap=cap)
    if to_add is None:
        return None
    # removes: the current entry of every path the target lacks or
    # re-adds under another deletion vector (DV uniqueId: storage type,
    # path or inline bitmap, offset)
    t_dv = tdf.select(
        F.col("path").alias("t_path"),
        *[_dv(k).alias(f"t_{k}") for k in ("storageType", "pathOrInlineDv", "offset")],
    )
    same_dv = F.lit(True)
    for k in ("storageType", "pathOrInlineDv", "offset"):
        same_dv = same_dv & _dv(k).eqNullSafe(F.col(f"t_{k}"))
    rem_df = (
        cur.join(t_dv, cur["path"] == t_dv["t_path"], "left")
        .where(F.col("t_path").isNull() | ~same_dv)
        .select(*[F.col(c) for c in cur.columns])
    )
    to_remove = lc.collect_pruned_add_files(spark, full_df=rem_df, cap=cap)
    if to_remove is None:
        return None
    # the DV probe's only consumer is the protocol-upgrade check, which
    # discards the answer whenever the feature is already declared — the
    # common case; only pay the scan when it could change the commit
    from .features import _explicit_feature_sets

    have_r, _ = _explicit_feature_sets(lc.protocol)
    tgt_has_dv = "deletionVectors" not in have_r and bool(
        tdf.where(F.col("dv_json").isNotNull()).head(1)
    )
    return (
        lt.to_snapshot_state([]),
        lc.to_snapshot_state([]),
        to_add,
        to_remove,
        tgt_has_dv,
    )


def restore_table(
    table_path: str,
    version: int | None = None,
    timestamp_millis: int | None = None,
) -> dict:
    """RESTORE the table to an earlier version (or timestamp) as a NEW
    commit: re-`add` files live then but not now (or live now in another
    state), `remove` files live now but not then, and reinstate that
    version's metaData if it changed.

    Metadata-only — no data file is read, copied, or deleted (the old
    files still exist unless VACUUMed; restore fails fast listing any
    that are gone). History is preserved: the restore itself is just
    another version, so it can in turn be restored away.
    """
    if (version is None) == (timestamp_millis is None):
        raise ValueError("provide exactly one of version / timestamp_millis")
    table_path = normalize_table_path(table_path)
    log = DeltaLog(table_path)
    if version is None:
        # resolve ONCE — both planes and the classic fallback share it
        version = log.version_as_of_timestamp(timestamp_millis)
    # Diff by file STATE, not just path: a path live in both versions can
    # still differ (a deletion vector grown by a later MOR delete, or a
    # same-path rewrite) — those must be re-added with the TARGET's
    # descriptor or post-target deletions survive the restore (caught by
    # the randomized DML fuzz). A re-add under another deletion vector
    # also removes the current entry: the protocol keys a file by
    # (path, DV uniqueId), and a bare re-add would leave both entries
    # live for a reader that keys files that way.
    plan = _light_restore_plan(log, version)
    if plan is not None:
        target, current, to_add, to_remove, tgt_has_dv = plan
    else:
        target = log.snapshot(version)
        current = log.snapshot()
        cur = {f.path: f for f in current.files}
        tgt = {f.path: f for f in target.files}
        to_add = [
            f
            for p, f in tgt.items()
            if p not in cur or file_fingerprint(cur[p]) != file_fingerprint(f)
        ]
        to_remove = [
            f
            for p, f in cur.items()
            if p not in tgt
            or dv_unique_id(f.deletion_vector)
            != dv_unique_id(tgt[p].deletion_vector)
        ]
        tgt_has_dv = None  # classic passes target.files to the feature scan

    # through the fs facade — os.path.exists on a URI table path
    # (file://…, s3a://…) is always False and would falsely refuse every
    # RESTORE as "vacuumed" (round-11 review sweep); to_add is the diff,
    # so the per-file probes stay O(diff)
    _res_fs = get_fs(table_path)
    missing = [
        f.path
        for f in to_add
        if not _res_fs.exists(os.path.join(table_path, f.path))
    ]
    if missing:
        raise FileNotFoundError(
            f"cannot RESTORE {table_path} to version {target.version}: "
            f"{len(missing)} required data file(s) were vacuumed, e.g. "
            + missing[0]
        )

    # the restored metadata is the TARGET's, so physical names come from
    # the target snapshot's mapping; DVs and row-id ranges are re-added
    # verbatim (the same rows)
    tgt_l2p = logical_to_physical(
        target.schema, target.metadata.get("configuration")
    )
    adds = [
        {"add": add_action(remap_addfile(f, tgt_l2p), True)}
        for f in sorted(to_add, key=lambda f: f.path)
    ]

    from .writer import _ict_enabled

    restored_md = target.metadata
    ict_config = None
    tgt_cfg = target.metadata.get("configuration") or {}
    cur_cfg = current.metadata.get("configuration") or {}
    if _ict_enabled(tgt_cfg) and not _ict_enabled(cur_cfg):
        # re-enabling in-commit timestamps: the reinstated enablement
        # markers must point at THIS commit (commits made while ICT was
        # off carry none), and the restore commit itself must be stamped
        cfg = dict(tgt_cfg)
        cfg["delta.inCommitTimestampEnablementVersion"] = str(
            current.version + 1
        )
        cfg["delta.inCommitTimestampEnablementTimestamp"] = str(
            int(__import__("time").time() * 1000)
        )
        restored_md = {**target.metadata, "configuration": cfg}
        ict_config = cfg
    extra = (
        [{"metaData": restored_md}]
        if restored_md != current.metadata
        else None
    )
    # reinstating the target metaData can re-enable features a DROP
    # FEATURE removed from the protocol since (delta.enableChangeDataFeed,
    # a mapped schema, re-added DV'd files): the restore commit must
    # re-declare them or later writers silently maintain undeclared state
    from .features import _explicit_feature_sets, metadata_implied_features
    from .writer import _protocol_upgrade_action

    need_r, need_w = metadata_implied_features(
        target.metadata,
        target.files if plan is None else None,
        has_deletion_vectors=tgt_has_dv,
    )
    have_r, have_w = _explicit_feature_sets(current.protocol)
    need_r -= have_r
    need_w -= have_w
    if need_r or need_w:
        upgrade = _protocol_upgrade_action(
            current.protocol,
            reader_features=tuple(sorted(need_r)),
            writer_features=tuple(sorted(need_w)),
        )
        if upgrade is not None:
            extra = [upgrade] + (extra or [])
    # row tracking: a restore that brings the feature back must also bring
    # back the id high-water-mark domain (a dropped domain would restart
    # baseRowId assignment at 0, colliding with the restored files' ids)
    if (
        "delta.rowTracking" in target.domain_metadata
        and "delta.rowTracking" not in current.domain_metadata
    ):
        extra = (extra or []) + [
            {
                "domainMetadata": {
                    "domain": "delta.rowTracking",
                    "configuration": target.domain_metadata[
                        "delta.rowTracking"
                    ],
                    "removed": False,
                }
            }
        ]
    new_version = commit_rewrite(
        table_path,
        "RESTORE",
        adds,
        sorted(to_remove, key=lambda f: f.path),
        operation_parameters={"version": str(target.version)},
        extra_actions=extra,
        base_version=current.version,
        ict_config=ict_config,
    )
    return {
        "restored_to": target.version,
        "committed_version": new_version,
        "files_added": len(adds),
        "files_removed": len(to_remove),
        "metadata_restored": extra is not None,
    }


# --------------------------------------------------------------------- VACUUM


def retention_hours_from_interval(raw: str | None) -> float | None:
    """Delta interval table properties ('interval 7 days', 'interval 168
    hours', 'interval 2 weeks') -> hours, or None when absent/unparsable."""
    import re as _re

    if not raw:
        return None
    m = _re.match(
        r"(?i)^\s*interval\s+(\d+(?:\.\d+)?)\s+"
        r"(minute|hour|day|week)s?\s*$",
        str(raw),
    )
    if not m:
        return None
    n = float(m.group(1))
    return n * {"minute": 1 / 60, "hour": 1.0, "day": 24.0, "week": 168.0}[
        m.group(2).lower()
    ]


def vacuum(
    table_path: str,
    retention_hours: float | None = None,
    dry_run: bool = False,
    spark=None,
) -> dict:
    """Physically delete data files no longer referenced by the CURRENT
    snapshot and older than the retention window — the window protects
    in-flight readers and time travel within it. When `retention_hours`
    is None, the table's `delta.deletedFileRetentionDuration` property
    applies, else the spec default of 7 days.

    Returns {"files": [... up to log.light_collect_cap ...],
    "files_count": N, "truncated": bool, "deleted": bool,
    "planning": "classic"|"light"}. Metadata-only: walks the storage
    listing against the live-file set; never reads data.

    When DeltaLog.light_plane picks the driver-light plane (past the
    light-planning threshold, with `spark` or an active session), the
    live-set/listing anti-join and the deletes run EXECUTOR-side
    (_vacuum_light): the driver streams the expired listing
    to a local spool and never holds the 10^7-path live set the classic
    path builds (measured 8.6 GiB RSS at 10^7 adds)."""
    from .deletion_vectors import dv_absolute_path
    from .fs import get_fs, normalize_table_path, strip_file_scheme

    table_path = normalize_table_path(table_path)
    log = DeltaLog(table_path)
    light = log.light_plane(spark=spark)
    if light is not None:
        return _vacuum_light(
            spark or SparkSession.active(), light, retention_hours, dry_run
        )
    fs = get_fs(table_path)
    snap = log.snapshot()
    if retention_hours is None:
        retention_hours = retention_hours_from_interval(
            (snap.metadata.get("configuration") or {}).get(
                "delta.deletedFileRetentionDuration"
            )
        )
        if retention_hours is None:
            retention_hours = 168.0
    # AddFile.path is already URL-decoded by replay — it IS the physical
    # relative path; unquoting again would mis-key any name containing a
    # literal %xx (e.g. hive-escaped `grp=a%3Db/`) and vacuum live files.
    live = {f.path for f in snap.files}
    # DV blobs referenced by the current snapshot are live too
    base = strip_file_scheme(table_path).rstrip("/")
    for f in snap.files:
        if f.deletion_vector:
            p = dv_absolute_path(table_path, f.deletion_vector)
            if p:
                p = strip_file_scheme(p)
                rel = p[len(base) + 1 :] if p.startswith(base + "/") else p
                live.add(rel.replace(os.sep, "/"))
    cutoff_ms = (time.time() - retention_hours * 3600.0) * 1000.0

    # .tmp scratch has no live-set protection, only this mtime window —
    # floor it at one hour so a retention-0 VACUUM can't reap the stage
    # dir of a checkpoint/vacuum that is mid-write RIGHT NOW
    tmp_cutoff_ms = min(cutoff_ms, (time.time() - 3600.0) * 1000.0)
    doomed: list[str] = []
    seen_dirs: set[str] = set()
    for rel, _size, mtime_ms in fs.walk_files(table_path):
        if rel.startswith("_delta_log/"):
            # _delta_log is off-limits EXCEPT .tmp: staging scratch
            # (remote checkpoint parts, vacuum spools) from crashed
            # attempts is unreferenced by construction — sweep it once
            # expired, any extension (round-9 review: nothing else ever
            # cleaned these up)
            if not rel.startswith("_delta_log/.tmp/"):
                continue
            if mtime_ms < tmp_cutoff_ms:
                doomed.append(rel)
                if "/" in rel:
                    parts = rel.split("/")[:-1]
                    for i in range(2, len(parts) + 1):
                        seen_dirs.add("/".join(parts[:i]))
            continue
        if "/" in rel:
            # the full ancestor chain, so bottom-up pruning reaches
            # every directory left empty by the deletes
            parts = rel.split("/")[:-1]
            for i in range(1, len(parts) + 1):
                seen_dirs.add("/".join(parts[:i]))
        name = rel.rsplit("/", 1)[-1]
        is_dv = name.startswith("deletion_vector_") and name.endswith(".bin")
        if not name.endswith(".parquet") and not is_dv:
            continue
        if rel in live:
            continue
        if mtime_ms >= cutoff_ms:
            continue
        doomed.append(rel)
    if not dry_run:
        for rel in doomed:
            fs.delete(os.path.join(table_path, rel))
        # prune now-empty partition dirs, deepest first (object stores
        # have no real dirs — delete is a no-op there; local/HDFS get a
        # clean tree)
        still_live_dirs = {
            r.rsplit("/", 1)[0]
            for r, _s, _m in fs.walk_files(table_path)
            if "/" in r
        }
        for d in sorted(seen_dirs, key=lambda s: -s.count("/")):
            if d.startswith("_delta_log") and not (
                d == "_delta_log/.tmp" or d.startswith("_delta_log/.tmp/")
            ):
                continue
            if d not in still_live_dirs and not any(
                other.startswith(d + "/") for other in still_live_dirs
            ):
                try:
                    fs.delete(os.path.join(table_path, d))
                except Exception:
                    # best-effort: HadoopFS raises Py4JJavaError (not
                    # OSError) for a non-empty dir; empty-dir pruning must
                    # never fail a VACUUM whose deletes already happened
                    pass
    return {
        "files": sorted(doomed),
        "files_count": len(doomed),
        "truncated": False,
        "deleted": not dry_run,
        "planning": "classic",
    }


def _vacuum_light(
    spark, light, retention_hours: float | None, dry_run: bool
) -> dict:
    """VACUUM through the driver-light plane: the expired storage listing
    is spooled to a temp file (driver streams it — constant memory, disk
    bounded by GARBAGE count, not table size), the live set comes from
    LightSnapshot.files_df plus executor-derived DV blob paths, and the
    unreferenced-file anti-join runs as a Spark job. Where the spool
    lives and who deletes depends on executor_fs_safe: local tables keep
    a driver-local spool and fan deletes out over executors through the
    posix facade (idempotent — a task retry re-deleting a path is a
    no-op); REMOTE tables (s3a://, hdfs://...) stage the spool into
    `_delta_log/.tmp/` so executors can read it, and run the network
    deletes from a driver thread pool — HadoopFS rides the py4j gateway,
    which does not exist inside executor Python workers (round-9 review:
    the fan-out used to call get_fs() in tasks and hard-failed on any
    remote scheme). The driver never materializes the live set: the
    classic path's 10^7-path set measured 8.6 GiB RSS. Returned `files`
    is capped at log.light_collect_cap (`files_count` carries the true
    total, `truncated` flags the cap)."""
    import tempfile
    import uuid as _uuid

    from .deletion_vectors import dv_absolute_path
    from .fs import executor_fs_safe, get_fs, strip_file_scheme
    from .log import light_collect_cap

    table_path = light.table_path
    fs = get_fs(table_path)
    exec_safe = executor_fs_safe(table_path)
    spool_dir_uri: str | None = None
    if retention_hours is None:
        retention_hours = retention_hours_from_interval(
            (light.metadata.get("configuration") or {}).get(
                "delta.deletedFileRetentionDuration"
            )
        )
        if retention_hours is None:
            retention_hours = 168.0
    cutoff_ms = (time.time() - retention_hours * 3600.0) * 1000.0
    base = strip_file_scheme(table_path).rstrip("/")

    seen_dirs: set[str] = set()
    n_cand = 0
    spool = tempfile.NamedTemporaryFile(
        "w", suffix=".jsonl", delete=False, encoding="utf-8"
    )
    try:
        tmp_cutoff_ms = min(cutoff_ms, (time.time() - 3600.0) * 1000.0)
        with spool:
            for rel, _size, mtime_ms in fs.walk_files(table_path):
                if rel.startswith("_delta_log/"):
                    # sweep expired .tmp staging scratch (same rule +
                    # 1-hour floor as the classic walk — a concurrent
                    # writer's mid-write stage dir must survive a
                    # retention-0 VACUUM); the spool this run stages
                    # there is written AFTER this walk, so it never
                    # lists itself
                    if (
                        rel.startswith("_delta_log/.tmp/")
                        and mtime_ms < tmp_cutoff_ms
                    ):
                        spool.write(json.dumps({"rel": rel}) + "\n")
                        n_cand += 1
                        if "/" in rel:
                            parts = rel.split("/")[:-1]
                            for i in range(2, len(parts) + 1):
                                seen_dirs.add("/".join(parts[:i]))
                    continue
                if "/" in rel:
                    parts = rel.split("/")[:-1]
                    for i in range(1, len(parts) + 1):
                        seen_dirs.add("/".join(parts[:i]))
                name = rel.rsplit("/", 1)[-1]
                is_dv = name.startswith("deletion_vector_") and name.endswith(
                    ".bin"
                )
                if not name.endswith(".parquet") and not is_dv:
                    continue
                if mtime_ms >= cutoff_ms:
                    continue
                spool.write(json.dumps({"rel": rel}) + "\n")
                n_cand += 1

        cap = light_collect_cap()
        doomed: list[str] = []
        n_doomed = 0
        if n_cand:
            if exec_safe:
                cand_src = spool.name
            else:
                # executors cannot read the driver's /tmp — stage the
                # spool into table storage in bounded chunks (memory is
                # O(chunk), the listing already streamed once)
                spool_dir_uri = os.path.join(
                    table_path,
                    "_delta_log",
                    ".tmp",
                    f"vacuum-{_uuid.uuid4().hex}",
                )
                fs.mkdirs(spool_dir_uri)
                chunk_bytes = 48 * 1024 * 1024
                part_i = 0
                buf: list[bytes] = []
                buf_sz = 0
                with open(spool.name, "rb") as fsrc:
                    for line in fsrc:
                        buf.append(line)
                        buf_sz += len(line)
                        if buf_sz >= chunk_bytes:
                            fs.write_bytes(
                                os.path.join(
                                    spool_dir_uri, f"{part_i:05d}.jsonl"
                                ),
                                b"".join(buf),
                            )
                            part_i += 1
                            buf, buf_sz = [], 0
                if buf or part_i == 0:
                    fs.write_bytes(
                        os.path.join(spool_dir_uri, f"{part_i:05d}.jsonl"),
                        b"".join(buf),
                    )
                cand_src = spool_dir_uri
            cand = spark.read.json(cand_src, schema="rel string")
            fdf = light.files_df(spark, full=True)
            live = fdf.select(F.col("path").alias("rel"))

            def _dv_rels(batches):
                import pandas as pd

                for pdf in batches:
                    rels = []
                    for dvj in pdf["dv_json"]:
                        if not isinstance(dvj, str) or not dvj:
                            continue
                        p = dv_absolute_path(table_path, json.loads(dvj))
                        if not p:
                            continue
                        p = strip_file_scheme(p)
                        r = (
                            p[len(base) + 1 :]
                            if p.startswith(base + "/")
                            else p
                        )
                        rels.append(r.replace(os.sep, "/"))
                    yield pd.DataFrame(
                        {"rel": pd.Series(rels, dtype="object")}
                    )

            dv_live = (
                fdf.filter(F.col("dv_json").isNotNull())
                .select("dv_json")
                .mapInPandas(_dv_rels, schema="rel string")
            )
            doomed_df = cand.join(
                live.union(dv_live), "rel", "left_anti"
            )
            doomed = sorted(
                r["rel"] for r in doomed_df.limit(cap).collect()
            )
            # under the cap the capped collect IS the exact count — no
            # second listing/anti-join job, dry run or not
            if len(doomed) >= cap:
                n_doomed = doomed_df.count()
            else:
                n_doomed = len(doomed)
            if not dry_run and n_doomed:
                if exec_safe:

                    def _delete_part(batches):
                        import pandas as pd

                        fs2 = get_fs(table_path)
                        c = 0
                        for pdf in batches:
                            for rel in pdf["rel"]:
                                fs2.delete(os.path.join(table_path, rel))
                                c += 1
                        yield pd.DataFrame({"n": [c]})

                    n_parts = max(8, spark.sparkContext.defaultParallelism)
                    deleted = sum(
                        r["n"]
                        for r in doomed_df.repartition(n_parts)
                        .mapInPandas(_delete_part, schema="n long")
                        .collect()
                    )
                else:
                    # remote scheme: the facade needs the driver JVM, so
                    # stream the doomed list back (toLocalIterator —
                    # constant memory) and parallelize the network
                    # deletes with threads; bounded batches keep the
                    # in-flight future count O(batch), not O(garbage)
                    import itertools
                    from concurrent.futures import ThreadPoolExecutor

                    def _del_one(rel: str) -> int:
                        fs.delete(os.path.join(table_path, rel))
                        return 1

                    it = (r["rel"] for r in doomed_df.toLocalIterator())
                    deleted = 0
                    with ThreadPoolExecutor(max_workers=16) as pool:
                        while True:
                            batch = list(itertools.islice(it, 8192))
                            if not batch:
                                break
                            deleted += sum(pool.map(_del_one, batch))
                n_doomed = deleted
    finally:
        try:
            os.unlink(spool.name)
        except OSError:
            pass
        if spool_dir_uri is not None:
            try:
                fs.delete(spool_dir_uri, recursive=True)
            except Exception:
                pass  # scratch cleanup must never fail a finished VACUUM

    if not dry_run:
        # empty-dir pruning, deepest first (dir count is bounded by the
        # partition layout, not the file count — driver-side is fine)
        still_live_dirs = {
            r.rsplit("/", 1)[0]
            for r, _s, _m in fs.walk_files(table_path)
            if "/" in r
        }
        for d in sorted(seen_dirs, key=lambda s: -s.count("/")):
            if d.startswith("_delta_log") and not (
                d == "_delta_log/.tmp" or d.startswith("_delta_log/.tmp/")
            ):
                continue
            if d not in still_live_dirs and not any(
                other.startswith(d + "/") for other in still_live_dirs
            ):
                try:
                    fs.delete(os.path.join(table_path, d))
                except Exception:
                    pass  # best-effort, as in the classic path
    return {
        "files": doomed,
        "files_count": n_doomed,
        "truncated": n_doomed > len(doomed),
        "deleted": not dry_run,
        "planning": "light",
    }


def _cdf_on(snap: SnapshotState) -> bool:
    from .writer import cdf_enabled

    return cdf_enabled(snap.metadata.get("configuration"))


def _stage_cdc(
    spark: SparkSession,
    snap: SnapshotState,
    table_path: str,
    frames: list[tuple[DataFrame, str]],
    schema=None,
) -> list[dict]:
    """Stage Change Data Files for a DML commit on a CDF-enabled table:
    each (DataFrame, change_type) pair contributes rows labeled with that
    `_change_type` ('insert' | 'delete' | 'update_preimage' |
    'update_postimage'); returns the `cdc` actions to ride the commit's
    extra_actions. Frames may carry extra plumbing columns (_file,
    _row_idx, materialized row ids) — only the table schema is kept."""
    from .writer import CDF_TYPE_COL, stage_cdc_files

    sch = schema if schema is not None else snap.schema
    cols = [f.name for f in sch.fields]
    l2p = logical_to_physical(sch, snap.metadata.get("configuration"))
    out = None
    for df, ct in frames:
        piece = _null_fill(df, sch).select(*cols).withColumn(
            CDF_TYPE_COL, F.lit(ct)
        )
        out = piece if out is None else out.unionByName(piece)
    if out is None:
        return []
    acts = stage_cdc_files(
        out, table_path, list(snap.partition_columns), l2p=l2p
    )
    if not acts:
        # zero change rows, but the commit still rewrites files (e.g. a
        # MERGE whose matched rows all hit no clause): the commit MUST
        # carry a cdc action anyway — spec readers treat a cdc-less commit
        # as derivable from add/remove, which would misreport the rewrite
        # churn as changes. A single empty (schema-only) cdc file marks
        # "this commit changed nothing".
        acts = stage_cdc_files(out.limit(0), table_path, [], l2p=l2p)
    return acts


def _rt_on(snap: SnapshotState) -> bool:
    from .writer import _row_tracking_enabled

    return _row_tracking_enabled(snap.metadata.get("configuration"))


def _rt_extra_fields():
    from pyspark.sql import types as T

    from .writer import MATERIALIZED_RCV_COL, MATERIALIZED_ROW_ID_COL

    return [
        T.StructField(MATERIALIZED_ROW_ID_COL, T.LongType(), True),
        T.StructField(MATERIALIZED_RCV_COL, T.LongType(), True),
    ]


def _resolve_row_ids(spark, snap, files, df_meta):
    """Fill the materialized id columns on a (_file, _row_idx)-bearing df:
    coalesce(what the file already materialized, baseRowId + row index) —
    MOR rewrites then stage the surviving rows' identities."""
    from .reader import _base_ids_df
    from .writer import MATERIALIZED_RCV_COL, MATERIALIZED_ROW_ID_COL

    base = _base_ids_df(spark, snap, files)
    return (
        df_meta.join(
            F.broadcast(base), df_meta["_file"] == base["_rt_fp"], "left"
        )
        .withColumn(
            MATERIALIZED_ROW_ID_COL,
            F.coalesce(
                F.col(MATERIALIZED_ROW_ID_COL),
                F.col("_rt_base") + F.col("_row_idx"),
            ),
        )
        .withColumn(
            MATERIALIZED_RCV_COL,
            F.coalesce(F.col(MATERIALIZED_RCV_COL), F.col("_rt_dcv")),
        )
        .drop("_rt_fp", "_rt_base", "_rt_dcv")
    )


def _read_cow(spark: SparkSession, snap: SnapshotState, files):
    """Rewrite-side read: carries materialized row ids when row tracking
    is on, so COW DML / OPTIMIZE keep every surviving row's id."""
    if _rt_on(snap):
        from .reader import read_files_preserving_row_ids

        return read_files_preserving_row_ids(spark, snap, files)
    return read_files(spark, snap, files)


def _l2p(snap: SnapshotState):
    """logical->physical name map for column-mapped tables (else None) —
    every DML rewrite must stage files with physical names."""
    return logical_to_physical(snap.schema, snap.metadata.get("configuration"))


def _data_schema(snap: SnapshotState):
    from pyspark.sql import types as T

    return T.StructType(
        [f for f in snap.schema.fields if f.name not in snap.partition_columns]
    )


def truncate_table(table_path: str) -> dict:
    """TRUNCATE TABLE: remove every live file in one metadata-only commit
    — zero data I/O at any table size (the file contents are never read;
    VACUUM reaps them after retention). Schema, partitioning, properties
    and history are untouched; with CDF enabled the remove-only commit is
    exactly derivable (spec-allowed omission of change files).

    Past the light-planning threshold the remove list never materializes
    driver-side (round-10 ask #3): remove actions stream from
    LightSnapshot.files_df executor-side into the commit
    (writer.commit_streamed_removes), with a strict version-watermark OCC
    — a raced light truncate re-plans instead of paying a 10^7-entry
    fingerprint map. Sub-threshold keeps the classic per-file commute
    check."""
    import time as _time

    from pyspark.sql import SparkSession as _SS

    from .writer import commit_streamed_removes

    table_path = normalize_table_path(table_path)
    log = DeltaLog(table_path)
    light = log.light_plane()
    if light is not None:
        from .writer import ConcurrentWriteError, _check_append_only

        spark = _SS.active()

        # one bounded re-plan on a lost watermark race: a benign blind
        # append interleaving with a light TRUNCATE would otherwise
        # hard-fail where the sub-threshold commute check retried.
        # Re-planning is trivially safe HERE (the header is pure
        # commitInfo; truncate-after-append is a serializable outcome) —
        # OVERWRITE keeps the hard-fail because its staged actions carry
        # prior-state row-id ranges/metaData that a blind retry would
        # stale-commit; its re-plan is the caller re-running the write.
        for attempt in range(2):
            # emptiness probe only — the removed-file count comes from
            # the streamed commit's line tally, so a full checkpoint
            # count here would be a wasted second scan (round-10 review)
            if light.files_df(spark).limit(1).count() == 0:
                return {"files_removed": 0}
            _check_append_only(
                light.metadata.get("configuration"), "TRUNCATE"
            )
            header = [
                {
                    "commitInfo": {
                        "timestamp": int(_time.time() * 1000),
                        "operation": "TRUNCATE",
                        "operationParameters": {},
                        "engineInfo": "athena_delta_lake_spark",
                    }
                }
            ]
            try:
                _v, n = commit_streamed_removes(
                    spark, table_path, "TRUNCATE", header, light
                )
            except ConcurrentWriteError:
                if attempt == 1:
                    raise
                DeltaLog.clear_cache()
                light = log.snapshot_light()  # re-plan at the new tip
                continue
            return {"files_removed": n}
    snap = log.snapshot()
    if not snap.files:
        return {"files_removed": 0}
    commit_rewrite(
        table_path,
        "TRUNCATE",
        [],
        snap.files,
        data_change=True,
        base_version=snap.version,
    )
    return {"files_removed": len(snap.files)}
