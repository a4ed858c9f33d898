"""ALTER TABLE ... DROP FEATURE: protocol downgrade with trace checks.

Mirrors delta-spark's ``ALTER TABLE t DROP FEATURE f [TRUNCATE HISTORY]``:
a feature can only leave the protocol once the table carries no trace of
it, because a reader/writer that does not implement the feature must be
able to handle every retained version correctly afterwards.

Three trace planes, checked in order:

1. **Current snapshot** — e.g. live deletion vectors, CHECK constraints,
   generated/identity columns, a non-trivial column-mapping layout. These
   BLOCK the drop with an actionable message (``REORG ... APPLY (PURGE)``,
   ``DROP CONSTRAINT``, ...); we never silently rewrite data here.
2. **Controlling table properties** — ``delta.enableDeletionVectors`` and
   friends. These are the documented pre-downgrade step: the drop commit
   itself strips them (delta-spark does the same in its pre-downgrade
   transaction).
3. **Retained history** — for reader+writer features only. Old commits /
   checkpoints that carry the feature (a DV descriptor in a remove action,
   a mapped schemaString, ...) still need it for time travel and CDF, so
   the drop is refused unless ``TRUNCATE HISTORY`` is given, which
   checkpoints the drop commit and deletes everything before it.
   Divergence from delta-spark (documented, deterministic): delta-spark
   gates this on a 24 h retention clock; we gate on the *actual traces* in
   the retained log — no wall-clock wait, same safety property.

Writer-only features drop immediately (after plane 1+2) — a pure reader
never needed them. The resulting protocol is normalized: back to a legacy
(minReaderVersion, minWriterVersion) pair when the remaining feature set
exactly matches what that legacy version implies, else the explicit
table-features form with the feature removed.

Reference parity: the reference connector is a read-only POC
(README.md:3,8) with no protocol management; this surface exists for
delta-spark interop completeness.
"""

from __future__ import annotations

import json
import os
import re

from .log import DeltaLog, SnapshotState
from .writer import (
    _commit_metadata_change,
    _LEGACY_READER_IMPLIED,
    _LEGACY_WRITER_IMPLIED,
    write_checkpoint,
)

_CONSTRAINT_PREFIX = "delta.constraints."

# Properties whose ONLY purpose is switching a feature on: stripped by the
# drop commit (pre-downgrade step).
_CONTROLLING_PROPS: dict[str, tuple[str, ...]] = {
    "appendOnly": ("delta.appendOnly",),
    "changeDataFeed": ("delta.enableChangeDataFeed",),
    "deletionVectors": ("delta.enableDeletionVectors",),
    "rowTracking": ("delta.enableRowTracking",),
    "inCommitTimestamp": (
        "delta.enableInCommitTimestamps",
        "delta.inCommitTimestampEnablementVersion",
        "delta.inCommitTimestampEnablementTimestamp",
    ),
    # removable ONLY with TRUNCATE HISTORY (enforced in drop_feature)
    "checkpointProtection": (
        "delta.requireCheckpointProtectionBeforeVersion",
    ),
}

# Reader+writer features: dropping them changes what READERS of retained
# history must implement, so historical traces matter (plane 3).
_READER_WRITER = {
    "columnMapping",
    "deletionVectors",
    "timestampNtz",
    "typeWidening",
    "v2Checkpoint",
    "vacuumProtocolCheck",
    "variantType",
}

_DROPPABLE = _READER_WRITER | set(_CONTROLLING_PROPS) | {
    "checkConstraints",
    "generatedColumns",
    "identityColumns",
    "allowColumnDefaults",
    "invariants",
    "domainMetadata",
    "clustering",
}


def _walk_fields(schema_obj: dict):
    """Yield every field dict in a Delta schemaString JSON, nested structs
    (and array/map element structs) included."""
    stack = [schema_obj]
    while stack:
        node = stack.pop()
        if not isinstance(node, dict):
            continue
        for f in node.get("fields") or []:
            yield f
            stack.append(f.get("type"))
        # array elementType / map key+valueType may themselves be structs
        for key in ("elementType", "keyType", "valueType"):
            if key in node:
                stack.append(node[key])


def _type_names(schema_obj: dict):
    """Every primitive type-name string appearing in the schema JSON."""
    stack = [schema_obj]
    while stack:
        node = stack.pop()
        if isinstance(node, str):
            yield node
        elif isinstance(node, dict):
            for key in ("type", "elementType", "keyType", "valueType"):
                if key in node:
                    stack.append(node[key])
            for f in node.get("fields") or []:
                stack.append(f)


def _snapshot_blockers(
    feature: str, snap: SnapshotState, dv_count: int | None = None
) -> list[str]:
    """Traces of `feature` in the CURRENT snapshot that the user must
    remove before the drop (plane 1). Empty list = clear. Every check is
    header-only except the deletionVectors live-DV count — `dv_count`
    overrides the snap.files walk so the light route (drop_feature past
    the threshold) can supply it from an executor-side files_df scan."""
    config = snap.metadata.get("configuration") or {}
    schema_obj = json.loads(snap.metadata.get("schemaString") or "{}")
    out: list[str] = []
    if feature == "deletionVectors":
        n = (
            dv_count
            if dv_count is not None
            else sum(1 for f in snap.files if f.deletion_vector)
        )
        if n:
            out.append(
                f"{n} live file(s) carry deletion vectors — run "
                "REORG TABLE ... APPLY (PURGE) first"
            )
    elif feature == "checkConstraints":
        names = [
            k[len(_CONSTRAINT_PREFIX):]
            for k in config
            if k.startswith(_CONSTRAINT_PREFIX)
        ]
        if names:
            out.append(
                f"CHECK constraints exist ({', '.join(sorted(names))}) — "
                "ALTER TABLE ... DROP CONSTRAINT first"
            )
    elif feature == "generatedColumns":
        cols = [
            f["name"]
            for f in _walk_fields(schema_obj)
            if "delta.generationExpression" in (f.get("metadata") or {})
        ]
        if cols:
            out.append(f"generated column(s) exist: {', '.join(cols)}")
    elif feature == "identityColumns":
        cols = [
            f["name"]
            for f in _walk_fields(schema_obj)
            if any(
                k.startswith("delta.identity.")
                for k in (f.get("metadata") or {})
            )
        ]
        if cols:
            out.append(f"identity column(s) exist: {', '.join(cols)}")
    elif feature == "allowColumnDefaults":
        cols = [
            f["name"]
            for f in _walk_fields(schema_obj)
            if "CURRENT_DEFAULT" in (f.get("metadata") or {})
        ]
        if cols:
            out.append(
                f"column(s) with DEFAULT exist: {', '.join(cols)} — "
                "ALTER COLUMN ... DROP DEFAULT first"
            )
    elif feature == "invariants":
        cols = [
            f["name"]
            for f in _walk_fields(schema_obj)
            if "delta.invariants" in (f.get("metadata") or {})
        ]
        if cols:
            out.append(f"column invariant(s) exist on: {', '.join(cols)}")
    elif feature == "typeWidening":
        cols = [
            f["name"]
            for f in _walk_fields(schema_obj)
            if "delta.typeChanges" in (f.get("metadata") or {})
        ]
        if cols:
            out.append(
                f"widened column(s) exist ({', '.join(cols)}): data files "
                "written before the widening carry the narrower physical "
                "type, which a typeWidening-unaware reader would misread"
            )
    elif feature == "variantType":
        if any(t == "variant" for t in _type_names(schema_obj)):
            out.append("schema contains VARIANT column(s)")
    elif feature == "timestampNtz":
        if any(t == "timestamp_ntz" for t in _type_names(schema_obj)):
            out.append("schema contains TIMESTAMP_NTZ column(s)")
    elif feature == "columnMapping":
        mode = config.get("delta.columnMapping.mode", "none")
        if mode != "none":
            diverged = [
                f["name"]
                for f in _walk_fields(schema_obj)
                if (f.get("metadata") or {}).get(
                    "delta.columnMapping.physicalName", f["name"]
                )
                != f["name"]
            ]
            if diverged:
                out.append(
                    "column(s) were renamed/added under column mapping — "
                    f"physical names diverge from logical for: "
                    f"{', '.join(diverged)}; the parquet layout needs "
                    "those physical names to be read"
                )
    elif feature == "domainMetadata":
        live = [d for d in snap.domain_metadata if not d.startswith("delta.")]
        if live:
            out.append(f"live metadata domain(s) exist: {', '.join(sorted(live))}")
        dependents = {"rowTracking", "clustering"} & (
            set(snap.protocol.get("writerFeatures") or [])
            | set(snap.protocol.get("readerFeatures") or [])
        )
        if dependents:
            out.append(
                f"feature(s) {sorted(dependents)} depend on domainMetadata "
                "— drop them first"
            )
    return out


def _strip_schema_metadata(schema_obj: dict, pred) -> bool:
    """Remove field-metadata keys matching `pred` everywhere; return
    whether anything changed."""
    changed = False
    for f in _walk_fields(schema_obj):
        meta = f.get("metadata") or {}
        doomed = [k for k in meta if pred(k)]
        for k in doomed:
            del meta[k]
            changed = True
    return changed


def _stripped_metadata(feature: str, snap: SnapshotState) -> dict:
    """The drop commit's metaData: controlling properties (plane 2) and
    feature-owned schema metadata removed."""
    md = dict(snap.metadata)
    config = dict(md.get("configuration") or {})
    for key in _CONTROLLING_PROPS.get(feature, ()):
        config.pop(key, None)
    schema_obj = json.loads(md.get("schemaString") or "{}")
    schema_changed = False
    if feature == "columnMapping":
        # only reachable when physical == logical everywhere (plane 1):
        # the mapping metadata is then pure decoration and can go.
        for key in list(config):
            if key.startswith("delta.columnMapping."):
                del config[key]
        schema_changed = _strip_schema_metadata(
            schema_obj, lambda k: k.startswith("delta.columnMapping.")
        )
    if schema_changed:
        md["schemaString"] = json.dumps(schema_obj, separators=(",", ":"))
    md["configuration"] = config
    return md


_JSON_NAME_RE = re.compile(r"^(\d{20})\.json$")
_COMPACTED_RE = re.compile(r"^(\d{20})\.(\d{20})\.compacted\.json$")
_CHECKPOINT_RE = re.compile(r"^(\d{20})\.checkpoint(\.|$)")

# Substrings whose presence in a retained commit JSON means a reader of
# that version needs the feature. CRITICAL ENCODING DETAIL: schema traces
# live inside metaData.schemaString, which is an escaped JSON string in
# the commit file — on disk the text is \"timestamp_ntz\" (backslash
# before each quote), so each schema-level marker needs BOTH the escaped
# form (our writer, every spec-compliant one-line writer) and the plain
# form (defensive, e.g. a pretty-printing third-party log).
# `deletionVector` is a top-level action field — plain form only.
_HISTORY_MARKERS: dict[str, tuple[str, ...]] = {
    "deletionVectors": ('"deletionVector"',),
    "variantType": ('\\"variant\\"', '"variant"'),
    "timestampNtz": ('\\"timestamp_ntz\\"', '"timestamp_ntz"'),
    "typeWidening": ('\\"delta.typeChanges\\"', '"delta.typeChanges"'),
    # columnMapping: the mode key (any mode — 'id' counts, delta spec has
    # two mapping modes) plus the per-field physicalName stamp inside the
    # escaped schemaString; the mode hit is value-checked below so
    # mode=none does not force truncation
    "columnMapping": (
        "delta.columnMapping.physicalName",
        "delta.columnMapping.mode",
    ),
}


def _mapping_mode_traced(text: str) -> bool:
    """True when any metaData line in `text` carries a non-'none' column
    mapping mode (unparseable lines count as traced — safe direction)."""
    for line in text.splitlines():
        if "delta.columnMapping.mode" not in line:
            continue
        try:
            md = json.loads(line).get("metaData") or {}
        except ValueError:
            return True
        if (md.get("configuration") or {}).get(
            "delta.columnMapping.mode", "none"
        ) != "none":
            return True
    return False


def _history_traces(feature: str, log_dir: str) -> list[str]:
    """Retained log entries BEFORE the drop commit that carry `feature`
    (plane 3). Scans commit / compacted JSON textually (the markers are
    exact spec field names, quoted; a user string VALUE echoed into
    min/max stats could in principle collide, which only errs toward
    requiring TRUNCATE HISTORY — the safe direction) and checkpoint
    parquet for live DV descriptors."""
    from .fs import get_fs

    fs = get_fs(log_dir)
    hits: list[str] = []
    markers = _HISTORY_MARKERS.get(feature, ())
    names = (
        [fi.name for fi in fs.listdir(log_dir)] if fs.is_dir(log_dir) else []
    )
    for name in names:
        m = _JSON_NAME_RE.match(name) or _COMPACTED_RE.match(name)
        if m and markers:
            text = fs.read_text(os.path.join(log_dir, name))
            if feature == "columnMapping":
                if "delta.columnMapping.physicalName" in text or (
                    "delta.columnMapping.mode" in text
                    and _mapping_mode_traced(text)
                ):
                    hits.append(name)
            elif any(mk in text for mk in markers):
                hits.append(name)
            continue
        cm = _CHECKPOINT_RE.match(name)
        if cm and name.endswith(".parquet"):
            if feature == "v2Checkpoint" and ".checkpoint." in name and not re.match(
                r"^\d{20}\.checkpoint(\.\d{10}\.\d{10})?\.parquet$", name
            ):
                hits.append(name)  # uuid-named v2 manifest
            elif feature == "deletionVectors":
                import io

                import pyarrow.parquet as pq

                from .fs import LocalFS, strip_file_scheme

                try:
                    # LocalFS: memory-mapped, column-pruned read — never
                    # slurp a GB-scale checkpoint just to inspect one
                    # column; remote paths pay the byte read (rare op)
                    full = os.path.join(log_dir, name)
                    pf = pq.ParquetFile(
                        strip_file_scheme(full)
                        if isinstance(fs, LocalFS)
                        else io.BytesIO(fs.read_bytes(full))
                    )
                    if any(c.name == "add" for c in pf.schema_arrow):
                        tbl = pf.read(columns=["add"]).flatten()
                        dv = [
                            c
                            for c in tbl.column_names
                            if c == "add.deletionVector"
                        ]
                        if dv and tbl.column(dv[0]).null_count < len(tbl):
                            hits.append(name)
                except (OSError, ValueError):
                    hits.append(name)  # unreadable: assume traces
    if feature == "v2Checkpoint" and fs.is_dir(
        os.path.join(log_dir, "_sidecars")
    ):
        # sidecars are only ever referenced by v2 manifests
        if fs.listdir(os.path.join(log_dir, "_sidecars")):
            hits.append("_sidecars/")
    return hits


def _truncate_history(table_path: str, keep_version: int) -> list[str]:
    """TRUNCATE HISTORY: checkpoint `keep_version` (just committed), then
    delete every log entry strictly before it — commit JSONs, compacted
    ranges, old checkpoints, v2 manifests and their sidecars. Time travel
    to earlier versions is gone; that is the point (their actions may
    carry the dropped feature)."""
    from .fs import get_fs

    write_checkpoint(table_path)  # classic checkpoint at latest == keep_version
    log_dir = os.path.join(table_path, "_delta_log")
    fs = get_fs(log_dir)
    removed: list[str] = []
    for name in [fi.name for fi in fs.listdir(log_dir)]:
        doomed = False
        m = _JSON_NAME_RE.match(name)
        if m and int(m.group(1)) < keep_version:
            doomed = True
        m = _COMPACTED_RE.match(name)
        if m and int(m.group(2)) < keep_version:
            doomed = True
        m = _CHECKPOINT_RE.match(name)
        if m and int(m.group(1)) < keep_version:
            doomed = True
        # uuid-named v2 manifests at ANY version: the fresh classic
        # checkpoint supersedes them and their sidecars go below
        if ".checkpoint." in name and name.endswith(".parquet") and not re.match(
            r"^\d{20}\.checkpoint(\.\d{10}\.\d{10})?\.parquet$", name
        ):
            doomed = True
        if doomed:
            fs.delete(os.path.join(log_dir, name))
            removed.append(name)
    sidecars = os.path.join(log_dir, "_sidecars")
    if fs.is_dir(sidecars):
        for fi in fs.listdir(sidecars):
            fs.delete(os.path.join(sidecars, fi.name))
            removed.append(f"_sidecars/{fi.name}")
        fs.delete(sidecars)
    DeltaLog.clear_cache()
    return removed


def _explicit_feature_sets(protocol: dict) -> tuple[set[str], set[str]]:
    """(readerFeatures, writerFeatures) with legacy implications
    enumerated — what the protocol MEANS, independent of form."""
    proto = protocol or {}
    r = set(proto.get("readerFeatures") or [])
    w = set(proto.get("writerFeatures") or [])
    if proto.get("writerFeatures") is None:
        for v, feats in _LEGACY_WRITER_IMPLIED.items():
            if int(proto.get("minWriterVersion", 1)) >= v:
                w |= set(feats)
    if proto.get("readerFeatures") is None:
        for v, feats in _LEGACY_READER_IMPLIED.items():
            if int(proto.get("minReaderVersion", 1)) >= v:
                r |= set(feats)
    return r, w


def _normalized_protocol(reader: set[str], writer: set[str]) -> dict:
    """Smallest spec-valid protocol carrying exactly these feature sets:
    a legacy (minReaderVersion, minWriterVersion) pair when some legacy
    writer version implies exactly `writer` (delta-spark normalizes the
    same way after a drop), else the explicit table-features form."""
    cumulative: set[str] = set()
    legacy: dict[int, set[str]] = {1: set()}
    for v in sorted(_LEGACY_WRITER_IMPLIED):
        cumulative |= set(_LEGACY_WRITER_IMPLIED[v])
        legacy[v] = set(cumulative)
    for v in sorted(legacy):
        if writer == legacy[v]:
            implied_r = {
                f
                for rv, feats in _LEGACY_READER_IMPLIED.items()
                for f in feats
                if f in writer
            }
            if reader == implied_r:
                mrv = 2 if implied_r else 1
                return {"minReaderVersion": mrv, "minWriterVersion": v}
    out: dict = {
        "minReaderVersion": 3 if reader else 1,
        "minWriterVersion": 7,
        "writerFeatures": sorted(writer | reader),
    }
    if reader:
        out["readerFeatures"] = sorted(reader)
    return out


def drop_feature(
    table_path: str,
    feature: str,
    truncate_history: bool = False,
    spark=None,
) -> dict:
    """ALTER TABLE ... DROP FEATURE `feature` [TRUNCATE HISTORY].

    Dropping a reader+writer feature whose retained history still carries
    it follows the public Delta 4.0 `checkpointProtection` path when
    TRUNCATE HISTORY is not given: the drop commit removes the feature,
    adds the `checkpointProtection` writer feature plus
    `delta.requireCheckpointProtectionBeforeVersion = <drop version>`,
    and a PROTECTING CHECKPOINT is written at the drop version — current
    readers replay from it and never touch pre-drop actions, while time
    travel below the boundary keeps working through the retained commits
    (whose per-version protocol still declares the feature). History
    survives; nothing is deleted. Metadata cleanup stays compliant
    because cleanup_log only ever deletes commits below an EXISTING
    checkpoint and never deletes checkpoints themselves.

    TRUNCATE HISTORY keeps the destructive pre-4.0 path: checkpoint the
    drop, then delete every earlier log entry.

    Returns {"version", "protocol", "truncated": [...],
    "checkpoint_protection": <boundary version | None>}. Raises
    ValueError when the feature is absent, not removable, or blocked by
    live snapshot state (with the concrete blockers in the message)."""
    from .fs import normalize_table_path

    table_path = normalize_table_path(table_path)
    log = DeltaLog(table_path)
    # every drop check is header-only except the deletionVectors live-DV
    # count: past the light threshold the header replays driver-light and
    # the count runs executor-side over files_df (full=True, so descriptor
    # PRESENCE — not a possibly-absent cardinality field — decides),
    # closing the last known O(table)-driver admin path
    dv_count: int | None = None
    # callers with a session in hand pass it (pond routes, DeltaTable):
    # the active session is only the bare-path fallback and is None on
    # worker threads, which would silently degrade to the classic replay
    light = log.light_plane(spark=spark)
    snap = light.to_snapshot_state([]) if light is not None else log.snapshot()
    reader, writer = _explicit_feature_sets(snap.protocol)
    if feature not in reader | writer:
        raise ValueError(
            f"feature {feature!r} is not on {table_path}'s protocol "
            f"(features: {sorted(reader | writer)})"
        )
    if feature not in _DROPPABLE:
        raise ValueError(f"feature {feature!r} is not removable")
    if feature == "checkpointProtection" and not truncate_history:
        raise ValueError(
            "checkpointProtection can only be dropped with TRUNCATE "
            "HISTORY (spec: the protection must hold while protected "
            "checkpoints may still be replayed from)"
        )
    if light is not None and feature == "deletionVectors":
        # the one non-header blocker, counted AFTER the cheap
        # validations so an invalid request never pays the metadata scan
        from pyspark.sql import SparkSession
        from pyspark.sql import functions as _F

        dv_count = (
            light.files_df(spark or SparkSession.active(), full=True)
            .filter(_F.col("dv_json").isNotNull())
            .count()
        )
    blockers = _snapshot_blockers(feature, snap, dv_count=dv_count)
    if blockers:
        raise ValueError(
            f"cannot drop feature {feature!r}: " + "; ".join(blockers)
        )
    log_dir = os.path.join(table_path, "_delta_log")
    protect_at: int | None = None
    if feature in _READER_WRITER and not truncate_history:
        if _history_traces(feature, log_dir):
            protect_at = snap.version + 1  # the drop commit itself
    md = _stripped_metadata(feature, snap)
    new_writer = writer - {feature}
    if protect_at is not None:
        new_writer |= {"checkpointProtection"}
        config = dict(md.get("configuration") or {})
        config["delta.requireCheckpointProtectionBeforeVersion"] = str(
            protect_at
        )
        md["configuration"] = config
    new_proto = _normalized_protocol(reader - {feature}, new_writer)
    extra = [{"protocol": new_proto}]
    # feature-owned domains die with the feature (tombstones, so replay
    # from any base drops them too)
    for domain in {"rowTracking": ["delta.rowTracking"], "clustering": ["delta.clustering"]}.get(
        feature, []
    ):
        if domain in snap.domain_metadata:
            extra.append({"domainMetadata": {"domain": domain, "removed": True}})
    version = _commit_metadata_change(
        table_path,
        "DROP FEATURE",
        {"featureName": feature, "truncateHistory": str(bool(truncate_history)).lower()},
        md,
        snap.version + 1,
        extra_actions=extra,
    )
    truncated: list[str] = []
    if truncate_history:
        truncated = _truncate_history(table_path, version)
    elif protect_at is not None:
        write_checkpoint(table_path)  # the protecting checkpoint
    return {
        "version": version,
        "protocol": new_proto,
        "truncated": truncated,
        "checkpoint_protection": protect_at,
    }


def metadata_implied_features(
    metadata: dict, files=None, has_deletion_vectors: bool | None = None
) -> tuple[set[str], set[str]]:
    """(reader_features, writer_features) a table with this metaData (and
    optionally these live files) REQUIRES writers/readers to implement.
    Used by RESTORE: reinstating an old metaData can re-enable a feature
    (delta.enableChangeDataFeed=true, a mapped schema, ...) that a DROP
    FEATURE removed from the protocol since — the restore commit must
    re-declare it, or subsequent writers maintain feature state the
    protocol never announced."""
    config = metadata.get("configuration") or {}
    schema_obj = json.loads(metadata.get("schemaString") or "{}")
    r: set[str] = set()
    w: set[str] = set()
    def _on(key):  # str(): third-party logs may carry JSON booleans
        return str(config.get(key, "")).lower() == "true"

    if _on("delta.enableChangeDataFeed"):
        w.add("changeDataFeed")
    if _on("delta.enableDeletionVectors"):
        r.add("deletionVectors")
    if _on("delta.enableRowTracking"):
        w |= {"rowTracking", "domainMetadata"}
    if _on("delta.enableInCommitTimestamps"):
        w.add("inCommitTimestamp")
    if str(config.get("delta.columnMapping.mode", "none")) != "none":
        r.add("columnMapping")
    if _on("delta.appendOnly"):
        w.add("appendOnly")
    if any(k.startswith(_CONSTRAINT_PREFIX) for k in config):
        w.add("checkConstraints")
    for f in _walk_fields(schema_obj):
        meta = f.get("metadata") or {}
        if "delta.generationExpression" in meta:
            w.add("generatedColumns")
        if any(k.startswith("delta.identity.") for k in meta):
            w.add("identityColumns")
        if "CURRENT_DEFAULT" in meta:
            w.add("allowColumnDefaults")
        if "delta.invariants" in meta:
            w.add("invariants")
        if "delta.typeChanges" in meta:
            r.add("typeWidening")
    types = set(_type_names(schema_obj))
    if "variant" in types:
        r.add("variantType")
    if "timestamp_ntz" in types:
        r.add("timestampNtz")
    if has_deletion_vectors or (
        files is not None
        and any(getattr(f, "deletion_vector", None) for f in files)
    ):
        # has_deletion_vectors: the light RESTORE plan answers "any DV
        # among the target's live files" with one executor-side probe
        # instead of materializing the file list
        r.add("deletionVectors")
    return r, w | r
