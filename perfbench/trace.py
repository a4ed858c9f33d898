"""Span tracing for the traced benchmark run, recorded from outside the package.

The tracer wraps the package's public entry points (catalog, SQL routing, log
replay, pruning, the reader, the writer, DML, the filesystem facade) and
records one span per call: name, start, end, parent and statement id. Spans
stay in memory; per-layer metrics are computed from them once the measured
phase ends, and `dump` writes them out. Spark work is attributed to spans through the job-group local
property: every non-fs span sets it to its own id, so each Spark job carries
the id of the innermost span that launched it, and the jobs and stages are
read back from Spark's status store at the end of the run. (The job
description would not do: Spark's parallel file listing overwrites it.)

An untraced run uses `NullTracer`, which patches nothing.
"""

from __future__ import annotations

import contextlib
import functools
import json
import re
import sys
import time
from dataclasses import dataclass, field

_COMMIT_RE = re.compile(r"_delta_log/\d{20}\.json$")
_GROUP_PROP = "spark.jobGroup.id"
_GROUP_PREFIX = "perfbench:"


@dataclass
class Span:
    sid: int
    name: str
    start: float
    parent: int | None
    stmt: int | None
    end: float = 0.0
    child_s: float = 0.0
    attrs: dict = field(default_factory=dict)

    @property
    def layer(self) -> str:
        return self.name.split(".", 1)[0]

    @property
    def self_s(self) -> float:
        return self.end - self.start - self.child_s


class NullTracer:
    """Tracing off: spans cost one no-op context manager."""

    def span(self, name: str, **attrs):
        return contextlib.nullcontext()

    def statement(self, kind: str):
        return contextlib.nullcontext()

    def install(self) -> None:
        pass

    def uninstall(self) -> None:
        pass


class Tracer:
    def __init__(self, spark):
        self._sc = spark.sparkContext
        self.spans: list[Span] = []
        self._stack: list[Span] = []
        self._stmt: int | None = None
        self._n_stmt = 0
        self._undo: list[tuple[object, str, object]] = []
        self.t_start_ms = 0
        self.t_end_ms = 0
        self.installed = False

    # ------------------------------------------------------------ spans

    def span(self, name: str, **attrs):
        """A span while the tracer is installed (the measured phase); outside
        it, set-up and warm-up record nothing."""
        return self._span(name, attrs) if self.installed else contextlib.nullcontext()

    @contextlib.contextmanager
    def _span(self, name: str, attrs: dict):
        parent = self._stack[-1] if self._stack else None
        sp = Span(len(self.spans), name, 0.0,
                  parent.sid if parent else None, self._stmt, attrs=attrs)
        self.spans.append(sp)
        self._stack.append(sp)
        tags_jobs = not name.startswith("fs.")
        if tags_jobs:
            self._sc.setLocalProperty(_GROUP_PROP, f"{_GROUP_PREFIX}{sp.sid}")
        sp.start = time.perf_counter()
        try:
            yield sp
        except BaseException:
            sp.attrs["failed"] = True
            raise
        finally:
            sp.end = time.perf_counter()
            self._stack.pop()
            if parent is not None:
                parent.child_s += sp.end - sp.start
            if tags_jobs:
                # restore the innermost enclosing job-tagging span
                outer = next(
                    (s for s in reversed(self._stack) if not s.name.startswith("fs.")),
                    None,
                )
                self._sc.setLocalProperty(
                    _GROUP_PROP, f"{_GROUP_PREFIX}{outer.sid}" if outer else None)

    def statement(self, kind: str):
        """A statement's root span; its id is shared by every span under it."""
        return self._statement(kind) if self.installed else contextlib.nullcontext()

    @contextlib.contextmanager
    def _statement(self, kind: str):
        self._stmt = self._n_stmt
        self._n_stmt += 1
        try:
            with self.span(f"stmt.{kind}"):
                yield
        finally:
            self._stmt = None

    def ancestors(self, sp: Span):
        while sp.parent is not None:
            sp = self.spans[sp.parent]
            yield sp

    # -------------------------------------------------------- patching

    def _wrap(self, fn, name, on_return=None, before=None):
        tracer = self

        @functools.wraps(fn)
        def wrapper(*a, **kw):
            with tracer.span(name) as sp:
                if before is not None:
                    a, kw = before(sp, a, kw)
                out = fn(*a, **kw)
                if on_return is not None:
                    on_return(sp, a, kw, out)
                return out

        return wrapper

    def _patch_attr(self, owner, attr: str, new) -> None:
        self._undo.append((owner, attr, getattr(owner, attr)))
        setattr(owner, attr, new)

    def _patch_function(self, fn, name, **hooks) -> None:
        """Replace `fn` under every name a package module bound it to, so
        `from .x import fn` call sites are traced too."""
        wrapped = self._wrap(fn, name, **hooks)
        for mod_name, mod in list(sys.modules.items()):
            if not mod_name.startswith("athena_delta_lake_spark") or mod is None:
                continue
            for attr, val in list(vars(mod).items()):
                if val is fn:
                    self._patch_attr(mod, attr, wrapped)

    def _patch_method(self, cls, meth: str, name, **hooks) -> None:
        self._patch_attr(cls, meth, self._wrap(getattr(cls, meth), name, **hooks))

    def install(self) -> None:
        from athena_delta_lake_spark import catalog, sqldml
        from athena_delta_lake_spark.delta import dml, fs, log, reader, stats, writer

        self.t_start_ms = int(time.time() * 1000)
        self.installed = True
        self._patch_method(catalog.DeltaPond, "sql", "catalog.sql")
        self._patch_method(catalog.DeltaPond, "read", "catalog.read")
        self._patch_function(sqldml.route_statement, "sqldml.route")
        self._patch_method(log.DeltaLog, "latest_version", "log.latest_version")

        def snap_before(sp, a, kw):
            sp.attrs["cached"] = {id(s) for s in log.DeltaLog._cache.values()}
            return a, kw

        def snap_after(sp, a, kw, out):
            sp.attrs["hit"] = id(out) in sp.attrs.pop("cached")

        self._patch_method(log.DeltaLog, "snapshot", "log.snapshot",
                           before=snap_before, on_return=snap_after)

        def prune_after(sp, a, kw, out):
            snapshot = a[1] if len(a) > 1 else kw["snapshot"]
            sp.attrs["files_in"] = len(snapshot.files)
            sp.attrs["files_out"] = len(out)

        self._patch_function(stats.prune_files_auto, "prune", on_return=prune_after)
        self._patch_function(reader.read_snapshot, "reader.read_snapshot")

        def read_files_after(sp, a, kw, out):
            files = a[2] if len(a) > 2 else kw["files"]
            sp.attrs["paths"] = len(files)

        self._patch_function(reader.read_files, "reader.read_files",
                             on_return=read_files_after)
        self._patch_function(writer.write_delta, "writer.commit")
        self._patch_function(writer.write_checkpoint, "writer.checkpoint")
        self._patch_function(dml.merge_upsert, "dml.merge")
        self._patch_function(dml.delete, "dml.delete")
        self._patch_function(dml.compact, "dml.compact")

        def vacuum_after(sp, a, kw, out):
            sp.attrs["files_vacuumed"] = int(out.get("files_count", 0))

        self._patch_function(dml.vacuum, "dml.vacuum", on_return=vacuum_after)
        self._patch_fs(fs.LocalFS)

    def _patch_fs(self, cls) -> None:
        def path_arg(sp, a, kw):
            sp.attrs["path"] = str(a[1] if len(a) > 1 else kw.get("path", ""))
            return a, kw

        def record_write(sp, data: bytes) -> None:
            sp.attrs["bytes_out"] = len(data)
            if _COMMIT_RE.search(sp.attrs["path"]):
                sp.attrs["commit"] = data

        def write_before(sp, a, kw):
            a, kw = path_arg(sp, a, kw)
            record_write(sp, a[2] if len(a) > 2 else kw["data"])
            return a, kw

        def stream_before(sp, a, kw):
            a, kw = path_arg(sp, a, kw)
            chunks = [bytes(c) for c in (a[2] if len(a) > 2 else kw["chunks"])]
            record_write(sp, b"".join(chunks))
            return (a[0], a[1], chunks), {}

        def read_after(sp, a, kw, out):
            sp.attrs["bytes_in"] = len(out)

        def checkpoint_before(sp, a, kw):
            paths = a[1] if len(a) > 1 else kw["paths"]
            sp.attrs["checkpoint_files"] = len(paths)
            return a, kw

        for meth in ("listdir", "walk_files", "exists", "is_dir", "getsize", "mkdirs",
                     "delete", "move", "copy"):
            self._patch_method(cls, meth, f"fs.{meth}")
        hooks = {
            "read_text": {"before": path_arg, "on_return": read_after},
            "read_bytes": {"before": path_arg, "on_return": read_after},
            "read_checkpoint_rows": {"before": checkpoint_before},
            "read_checkpoint_batches": {"before": checkpoint_before},
            "create_atomic": {"before": write_before},
            "create_atomic_stream": {"before": stream_before},
            "write_bytes": {"before": write_before},
        }
        for meth, h in hooks.items():
            self._patch_method(cls, meth, f"fs.{meth}", **h)

    def uninstall(self) -> None:
        self.t_end_ms = int(time.time() * 1000)
        self.installed = False
        for owner, attr, old in reversed(self._undo):
            setattr(owner, attr, old)
        self._undo.clear()
        self._sc.setLocalProperty(_GROUP_PROP, None)

    def dump(self, path: str) -> None:
        """Write every span as one JSON line (times in ms from the first span)."""
        t0 = self.spans[0].start if self.spans else 0.0
        with open(path, "w") as f:
            for sp in self.spans:
                attrs = {k: v for k, v in sp.attrs.items()
                         if isinstance(v, (bool, int, float, str))}
                f.write(json.dumps({
                    "id": sp.sid, "name": sp.name, "parent": sp.parent, "stmt": sp.stmt,
                    "start_ms": (sp.start - t0) * 1000.0, "end_ms": (sp.end - t0) * 1000.0,
                    "self_ms": sp.self_s * 1000.0, **attrs}) + "\n")

    # ------------------------------------------------------ spark jobs

    def spark_jobs(self) -> list[dict]:
        """Jobs submitted while tracing was installed, each with its
        attributed span id and the summed metrics of the stages it ran."""
        jsc = self._sc._jsc.sc()
        jsc.listenerBus().waitUntilEmpty()
        store = jsc.statusStore()
        jobs = store.jobsList(None)
        stage_owner: dict[int, int] = {}
        out: dict[int, dict] = {}
        for i in range(jobs.size()):
            j = jobs.apply(i)
            sub = j.submissionTime()
            if not sub.isDefined():
                continue
            sub_ms = sub.get().getTime()
            if not self.t_start_ms <= sub_ms <= self.t_end_ms:
                continue
            group = j.jobGroup()
            group = group.get() if group.isDefined() else ""
            done = j.completionTime()
            end_ms = done.get().getTime() if done.isDefined() else sub_ms
            jid = j.jobId()
            out[jid] = {
                "span": (int(group[len(_GROUP_PREFIX):])
                         if group.startswith(_GROUP_PREFIX) else None),
                "ms": end_ms - sub_ms,
                "tasks": 0, "input_bytes": 0, "shuffle_write_bytes": 0, "spill_bytes": 0,
            }
            ids = j.stageIds()
            for k in range(ids.size()):
                sid = ids.apply(k)
                stage_owner[sid] = min(stage_owner.get(sid, jid), jid)
        stages = store.stageList(None, False, False, getattr(store, "stageList$default$4")(), None)
        for i in range(stages.size()):
            s = stages.apply(i)
            owner = stage_owner.get(s.stageId())
            if owner is None or str(s.status()) != "COMPLETE":
                continue
            job = out[owner]
            job["tasks"] += s.numCompleteTasks()
            job["input_bytes"] += s.inputBytes()
            job["shuffle_write_bytes"] += s.shuffleWriteBytes()
            job["spill_bytes"] += s.memoryBytesSpilled() + s.diskBytesSpilled()
        return list(out.values())


# span name -> per-layer time metric (self time, ms per measured unit)
_TIME_METRICS = {
    "catalog.sql": "catalog.resolve_ms",
    "catalog.read": "catalog.resolve_ms",
    "sqldml.route": "sqldml.route_ms",
    "log.latest_version": "log.latest_version_ms",
    "log.snapshot": "log.snapshot_ms",
    "prune": "prune.ms",
    "reader.read_snapshot": "reader.plan_ms",
    "reader.read_files": "reader.plan_ms",
    "writer.commit": "writer.commit_ms",
    "writer.checkpoint": "writer.checkpoint_ms",
    "dml.merge": "dml.merge_ms",
    "dml.delete": "dml.delete_ms",
    "dml.compact": "dml.compact_ms",
    "dml.vacuum": "dml.vacuum_ms",
    "exec.collect": "exec.ms",
}
_FS_LIST = {"fs.listdir", "fs.walk_files"}
_FS_READ = {"fs.read_text", "fs.read_bytes", "fs.read_checkpoint_rows",
            "fs.read_checkpoint_batches"}
_FS_WRITE = {"fs.create_atomic", "fs.create_atomic_stream", "fs.write_bytes"}
QUERY_SHORT = ("d03", "d04", "x06", "w11")


def per_layer_names() -> list[tuple[str, str]]:
    """Every per-layer metric the traced run emits, with its unit."""
    names = [(m, "ms") for m in dict.fromkeys(_TIME_METRICS.values())]
    names += [("fs.ms", "ms")]
    for q in QUERY_SHORT:
        names += [(f"queries.{q}.build_ms", "ms"), (f"queries.{q}.exec_ms", "ms")]
    names += [
        ("catalog.tables_bound", "count"), ("catalog.fs_ops", "count"),
        ("log.snapshot_calls", "count"), ("log.cache_hit_ratio", "ratio"),
        ("log.commits_replayed", "count"), ("log.checkpoint_reads", "count"),
        ("prune.files_in", "count"), ("prune.files_out", "count"),
        ("prune.kept_ratio", "ratio"),
        ("reader.paths", "count"), ("reader.plan_jobs", "count"),
        ("reader.plan_tasks", "count"),
        ("writer.files_added", "count"), ("writer.bytes_added", "bytes"),
        ("writer.log_bytes", "bytes"), ("writer.checkpoints", "count"),
        ("writer.commit_retries", "count"),
        ("dml.files_rewritten", "count"), ("dml.rows_rewritten", "count"),
        ("dml.rewrite_amp", "ratio"), ("dml.eager_jobs", "count"),
        ("dml.files_vacuumed", "count"),
        ("fs.list_calls", "count"), ("fs.read_calls", "count"),
        ("fs.read_bytes", "bytes"), ("fs.write_calls", "count"),
        ("fs.write_bytes", "bytes"),
        ("operators.eager_jobs", "count"), ("operators.shuffle_write_bytes", "bytes"),
        ("operators.tasks", "count"),
        ("exec.jobs", "count"), ("exec.job_ms", "ms"), ("exec.tasks", "count"),
        ("exec.input_bytes", "bytes"), ("exec.shuffle_write_bytes", "bytes"),
        ("exec.spill_bytes", "bytes"), ("exec.rows_out", "count"),
        ("trace.spans", "count"), ("trace.p50_ms", "ms"),
    ]
    return names


def layer_metrics(tracer: Tracer, units: int, p50_ms: float) -> dict:
    """Per-layer metrics of the measured phase. Times are self time in ms per
    measured unit; counts and bytes are totals over the measured phase."""
    v = {name: 0 for name, _ in per_layer_names()}
    spans = tracer.spans
    for sp in spans:
        ms = sp.self_s * 1000.0 / units
        if sp.name in _TIME_METRICS:
            v[_TIME_METRICS[sp.name]] += ms
        elif sp.name.startswith("fs."):
            v["fs.ms"] += ms
        elif sp.name.startswith("queries."):
            _, q, part = sp.name.split(".")
            v[f"queries.{q}.{part}_ms"] += ms

    def nearest(sp, pred):
        return next((a for a in tracer.ancestors(sp) if pred(a)), None)

    hits = 0
    cleanup = []
    for sp in spans:
        a = sp.attrs
        n = sp.name
        if n == "catalog.read":
            v["catalog.tables_bound"] += 1
        elif n == "log.snapshot":
            v["log.snapshot_calls"] += 1
            hits += bool(a.get("hit"))
        elif n == "prune":
            v["prune.files_in"] += a.get("files_in", 0)
            v["prune.files_out"] += a.get("files_out", 0)
        elif n == "reader.read_files":
            if nearest(sp, lambda s: s.name == "reader.read_files") is None:
                v["reader.paths"] += a.get("paths", 0)
        elif n == "writer.checkpoint":
            v["writer.checkpoints"] += 1
        elif n == "dml.vacuum":
            v["dml.files_vacuumed"] += a.get("files_vacuumed", 0)
        v["exec.rows_out"] += a.get("rows", 0)
        if not n.startswith("fs."):
            continue
        owner = nearest(sp, lambda s: not s.name.startswith("fs."))
        if owner is not None and owner.layer == "catalog":
            v["catalog.fs_ops"] += 1
        if n in _FS_LIST:
            v["fs.list_calls"] += 1
        elif n in _FS_READ:
            v["fs.read_calls"] += 1
            v["fs.read_bytes"] += a.get("bytes_in", 0)
            in_log = nearest(sp, lambda s: s.name == "log.snapshot") is not None
            if in_log and n == "fs.read_text" and _COMMIT_RE.search(a.get("path", "")):
                v["log.commits_replayed"] += 1
            if in_log and "checkpoint_files" in a:
                v["log.checkpoint_reads"] += a["checkpoint_files"]
        elif n in _FS_WRITE:
            v["fs.write_calls"] += 1
            v["fs.write_bytes"] += a.get("bytes_out", 0)
            if "commit" in a:
                cleanup.append((sp, a.pop("commit")))
    rows_changed = 0
    for sp, data in cleanup:
        if sp.attrs.get("failed"):
            continue
        v["writer.log_bytes"] += len(data)
        actions = [json.loads(ln) for ln in data.decode().splitlines() if ln.strip()]
        adds = [x["add"] for x in actions if "add" in x]
        v["writer.files_added"] += len(adds)
        v["writer.bytes_added"] += sum(int(x.get("size", 0)) for x in adds)
        dml_span = nearest(sp, lambda s: s.name in ("dml.merge", "dml.delete"))
        if dml_span is None:
            continue
        v["dml.files_rewritten"] += sum(1 for x in actions if "remove" in x)
        info = next((x["commitInfo"] for x in actions if "commitInfo" in x), {})
        m = {k: int(val) for k, val in (info.get("operationMetrics") or {}).items()
             if str(val).lstrip("-").isdigit()}
        v["dml.rows_rewritten"] += (
            m.get("numTargetRowsInserted", 0) + m.get("numTargetRowsUpdated", 0)
            + m.get("numTargetRowsCopied", 0) + m.get("numCopiedRows", 0)
        )
        rows_changed += (
            m.get("numTargetRowsInserted", 0) + m.get("numTargetRowsUpdated", 0)
            + m.get("numTargetRowsDeleted", 0) + m.get("numDeletedRows", 0)
        )
    v["writer.commit_retries"] = sum(
        1 for sp in spans
        if sp.name in _FS_WRITE and sp.attrs.get("failed")
        and _COMMIT_RE.search(sp.attrs.get("path", ""))
    )
    calls = v["log.snapshot_calls"]
    v["log.cache_hit_ratio"] = hits / calls if calls else 0.0
    v["prune.kept_ratio"] = (
        v["prune.files_out"] / v["prune.files_in"] if v["prune.files_in"] else 0.0
    )
    v["dml.rewrite_amp"] = v["dml.rows_rewritten"] / rows_changed if rows_changed else 0.0

    for job in tracer.spark_jobs():
        v["exec.jobs"] += 1
        v["exec.job_ms"] += job["ms"] / units
        for k in ("tasks", "input_bytes", "shuffle_write_bytes", "spill_bytes"):
            v[f"exec.{k}"] += job[k]
        if job["span"] is None:
            continue
        owner = spans[job["span"]]
        if owner.layer == "reader":
            v["reader.plan_jobs"] += 1
            v["reader.plan_tasks"] += job["tasks"]
        elif owner.layer == "dml":
            v["dml.eager_jobs"] += 1
        elif owner.layer == "queries":
            v["operators.tasks"] += job["tasks"]
            v["operators.shuffle_write_bytes"] += job["shuffle_write_bytes"]
            if owner.name.endswith(".build"):
                v["operators.eager_jobs"] += 1
    v["trace.spans"] = len(spans)
    v["trace.p50_ms"] = p50_ms
    return v
