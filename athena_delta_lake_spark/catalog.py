"""Storage-layout catalog: metastore-less schema/table discovery.

The reference discovers databases by listing S3 keys with the EMR
`_$folder$` marker suffix (unpaginated, single bucket —
/root/reference/DeltaMetadataHandler.scala:24,42-55; Config.scala:4) and
tables as second-level folders (:79-88). The rebuild discovers REAL
directories through the filesystem facade (delta/fs.py) — local paths or
any Hadoop-connector scheme (s3a://, gs://, abfs://, hdfs://) — with no
marker objects and no 1000-key truncation; identifies Delta tables by the
presence of `_delta_log/`, bare-parquet tables otherwise, and registers
them as temp views so plain `spark.sql` works over the whole catalog.

Layout convention (same two-level shape the reference mandates):
    <root>/<database>/<table>/{_delta_log/ | *.parquet}
plus a flat mode for fixture dirs that are just `<root>/<table>.parquet`.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession

from .delta.fs import get_fs
from .delta.table import DeltaTable


def _join(*parts: str) -> str:
    return "/".join(p.rstrip("/") for p in parts)


def _earliest_commit_version(table_path: str) -> int:
    """Smallest version with a retained commit JSON — after log-retention
    cleanup or DROP FEATURE ... TRUNCATE HISTORY, versions below it have
    no commit file (and so no commit timestamp)."""
    import re as _re

    from .delta.fs import get_fs

    log_dir = os.path.join(table_path, "_delta_log")
    versions = [
        int(m.group(1))
        for fi in get_fs(table_path).listdir(log_dir)
        if (m := _re.match(r"^(\d{20})\.json$", fi.name))
    ]
    if not versions:
        raise FileNotFoundError(f"no commit JSON in {log_dir}")
    return min(versions)


def _parse_byte_conf(raw: str) -> int:
    """Spark size-conf values: '10485760', '10m', '10MB', '1g', '-1'."""
    s = str(raw).strip().lower()
    mult = 1
    for suffix, m in (("kb", 1 << 10), ("mb", 1 << 20), ("gb", 1 << 30),
                      ("tb", 1 << 40), ("k", 1 << 10), ("m", 1 << 20),
                      ("g", 1 << 30), ("t", 1 << 40), ("b", 1)):
        if s.endswith(suffix):
            s, mult = s[: -len(suffix)], m
            break
    return int(float(s) * mult)


class DeltaPond:
    """In-process catalog facade (reference entry point analogue,
    DeltaCompositeHandler.scala:5 — but a Python object, not a Lambda)."""

    def __init__(self, spark: SparkSession, root: str):
        self.spark = spark
        self.root = root.rstrip("/")
        self._fs = get_fs(self.root, spark)
        # Bare-name temp views WE bound to pond tables. A temp view pins
        # the Delta snapshot's file list at bind time, so these must be
        # re-bound on every sql() call or a routed INSERT/UPDATE/DELETE
        # followed by SELECT on the same name reads pre-DML data. Names
        # NOT in this set that exist as temp views are the user's — those
        # keep shadowing the pond (read-side precedence).
        self._pond_bare_views: set[str] = set()
        # view names currently being expanded (cycle guard, see sql())
        self._view_stack: set[str] = set()

    def _is_delta_dir(self, path: str) -> bool:
        return self._fs.is_dir(_join(path, "_delta_log"))

    def _has_parquet(self, path: str) -> bool:
        if path.endswith(".parquet") and self._fs.exists(path):
            return True
        if not self._fs.is_dir(path):
            return False
        for fi in self._fs.listdir(path):
            if fi.name.endswith(".parquet") or "=" in fi.name:
                return True
        return False

    # reference: doListSchemaNames (DeltaMetadataHandler.scala:74-77)
    def list_schemas(self) -> list[str]:
        return sorted(
            fi.name
            for fi in self._fs.listdir(self.root)
            if self._fs.is_dir(_join(self.root, fi.name))
            and not fi.name.startswith((".", "_"))
        )

    # reference: doListTables (DeltaMetadataHandler.scala:79-88)
    def list_tables(self, schema: str) -> list[str]:
        base = _join(self.root, schema)
        out = []
        for fi in sorted(self._fs.listdir(base), key=lambda f: f.name):
            p = _join(base, fi.name)
            if fi.name.startswith((".", "_")):
                continue
            if self._is_delta_dir(p) or self._has_parquet(p):
                out.append(fi.name.removesuffix(".parquet"))
        return out

    def table_path(self, schema: str, table: str) -> str:
        p = _join(self.root, schema, table)
        if self._fs.exists(p):
            return p
        if self._fs.exists(p + ".parquet"):
            return p + ".parquet"
        raise FileNotFoundError(f"no such table: {schema}.{table}")

    def table(self, schema: str, table: str) -> DeltaTable:
        p = self.table_path(schema, table)
        if not self._is_delta_dir(p):
            raise ValueError(f"{schema}.{table} is not a Delta table (use read())")
        return DeltaTable(self.spark, p)

    def read(self, schema: str, table: str) -> DataFrame:
        """Read any table: Delta via native snapshot, else plain parquet."""
        p = self.table_path(schema, table)
        if self._is_delta_dir(p):
            dt = DeltaTable(self.spark, p)
            return self._maybe_broadcast_hint(dt, dt.to_df())
        return self.spark.read.parquet(p)

    def _maybe_broadcast_hint(self, dt: DeltaTable, df: DataFrame) -> DataFrame:
        """Deterministic stats-driven broadcast planning: a table the user
        has `ANALYZE TABLE … COMPUTE STATISTICS`'d (pond.stats.* in its
        configuration) gets a broadcast hint when its CURRENT snapshot's
        LIVE bytes fit under spark.sql.autoBroadcastJoinThreshold —
        physical file bytes (what Catalyst's estimate sees) scaled by the
        live-row fraction the LOG knows and Catalyst cannot: a
        merge-on-read dim whose rows are mostly deletion-vector'd keeps
        its large physical files, so Spark's native estimate refuses to
        broadcast exactly the dims that have shrunk below the threshold.
        Stats come fresh from the current snapshot (staleness-proof);
        ANALYZE is the opt-in switch. The hint on a standalone scan is a
        no-op."""
        try:
            # header fields only (configuration + version): the
            # header-light state past the threshold, classic below —
            # this bind runs on EVERY pond table read, so it must never
            # pay a classic file-list replay just to check for a stats
            # property (and a 10^6+-file table is no broadcast candidate
            # anyway)
            snap = dt.log.header()
            cfg = snap.metadata.get("configuration") or {}
            if "pond.stats.sizeInBytes" not in cfg:
                return df
            thr = _parse_byte_conf(
                self.spark.conf.get(
                    "spark.sql.autoBroadcastJoinThreshold", "10485760"
                )
            )
            if thr <= 0:
                return df  # -1 disables broadcast; honor it
            av = cfg.get("pond.stats.analyzedVersion")
            if av is None:
                return df
            if int(av) != snap.version and not self._stats_still_fresh(
                dt, int(av), snap.version
            ):
                # STALE stats never drive planning (a grown table must
                # not broadcast on old numbers), and the bind must not
                # pay an O(files) sweep either — the user re-ANALYZEs
                # (zero-scan, log-only) to re-enable the hint.
                return df
            factor = float(
                self.spark.conf.get(
                    "spark.sql.sources.fileCompressionFactor", "1.0"
                )
            )
            live_bytes = int(
                cfg.get("pond.stats.liveBytes", cfg["pond.stats.sizeInBytes"])
            )
            if live_bytes * factor <= thr:
                return df.hint("broadcast")
        except Exception:
            pass  # stats are advisory; never fail a read over them
        return df

    @staticmethod
    def _stats_still_fresh(dt: DeltaTable, analyzed_v: int, cur_v: int) -> bool:
        """ANALYZE's own SET TBLPROPERTIES commit (and any other
        metadata-only commit — COMMENT, protocol upgrade) bumps the
        version without changing data, so `analyzedVersion == snapshot
        version` can never literally hold. Fresh = no dataChange
        add/remove landed since ANALYZE, verified by reading the (few)
        intervening commit JSONs — capped so a long-drifted table costs
        O(1), not O(commits), per bind."""
        if cur_v - analyzed_v > 5:
            return False
        from .delta.log import DeltaLog

        log = DeltaLog(dt.path)
        for v in range(analyzed_v + 1, cur_v + 1):
            for a in log.commit_actions(v):
                add = a.get("add")
                if add is not None and add.get("dataChange", True):
                    return False
                rem = a.get("remove")
                if rem is not None and rem.get("dataChange", True):
                    return False
        return True

    def create_schema(self, schema: str) -> None:
        """Storage-layout catalog: a schema IS a top-level directory."""
        self._fs.mkdirs(_join(self.root, schema))

    def create_table(
        self,
        schema: str,
        table: str,
        df: DataFrame,
        mode: str = "append",
        partition_by: list[str] | None = None,
    ) -> DeltaTable:
        """Write `df` as a Delta table under <root>/<schema>/<table> — the
        catalog CRUD the read-only reference lacked (its tables had to be
        created by an external writer)."""
        from .delta.writer import write_delta

        if schema not in self.list_schemas():
            raise ValueError(f"no such schema: {schema}")
        path = _join(self.root, schema, table)
        self._fs.mkdirs(path)
        write_delta(df, path, mode=mode, partition_by=partition_by)
        return DeltaTable(self.spark, path)

    # ------------------------------------------------------------- views
    #
    # Named views over pond tables — what Athena gave the reference's
    # users for free (views live in the engine, reference README.md:38
    # usage; SURVEY §2.B). Definitions persist as SQL TEXT in
    # `<root>/_pond_views.json` (the storage layout IS the catalog, same
    # as schemas/tables), and are re-resolved through pond.sql on every
    # reference, so a view always reads the CURRENT table snapshot —
    # never a pinned file list.

    def _views_file(self) -> str:
        return _join(self.root, "_pond_views.json")

    def _load_views(self) -> dict[str, str]:
        import json

        try:
            with open(self._views_file()) as f:
                return json.load(f)
        except (FileNotFoundError, NotADirectoryError):
            return {}

    def _save_views(self, views: dict[str, str]) -> None:
        import json

        tmp = self._views_file() + ".tmp"
        with open(tmp, "w") as f:
            json.dump(views, f, indent=1, sort_keys=True)
        os.replace(tmp, self._views_file())

    def _views_lock(self):
        """Exclusive flock over the view catalog for the read-modify-write
        in create/drop — two concurrent writers must not lose an update.
        (Like create_schema/drop_table, the WRITE side of the storage-
        layout catalog assumes a local/NFS-like root; reads stay
        scheme-generic.)"""
        import fcntl
        from contextlib import contextmanager

        @contextmanager
        def lock():
            with open(self._views_file() + ".lock", "w") as lf:
                fcntl.flock(lf, fcntl.LOCK_EX)
                yield

        return lock()

    def create_view(
        self,
        name: str,
        query: str,
        replace: bool = False,
        if_not_exists: bool = False,
    ) -> None:
        """CREATE [OR REPLACE] VIEW name AS query. `name` is bare or
        `schema.view` (the schema must exist). The defining query is
        validated eagerly (parse + analyze through pond.sql) but rows are
        never materialized."""
        parts = name.split(".")
        if len(parts) == 2 and parts[0] not in self.list_schemas():
            raise FileNotFoundError(f"no such schema: {parts[0]}")
        if len(parts) > 2:
            raise ValueError(f"bad view name: {name!r}")
        # refuse table/view name collisions: the view would permanently
        # shadow the table on the read side
        if len(parts) == 2 and parts[1] in self.list_tables(parts[0]):
            raise ValueError(f"a table named {name} already exists")
        if len(parts) == 1 and any(
            name in self.list_tables(s) for s in self.list_schemas()
        ):
            raise ValueError(f"a table named {name} already exists")
        # refuse hijacking an existing SESSION temp view's name: pond views
        # yield to user temp views at read time (sql() precedence), so the
        # new view would be silently unreachable this session
        if (
            len(parts) == 1
            and name not in self._pond_bare_views
            and self.spark.catalog.tableExists(name)
        ):
            raise ValueError(
                f"a session temp view named {name} already exists; drop it "
                "first or pick another view name"
            )
        self.sql(query).schema  # analyze now: broken views fail at CREATE
        with self._views_lock():
            views = self._load_views()
            if name in views and not replace:
                if if_not_exists:
                    return
                raise ValueError(f"view {name} already exists")
            views[name] = query
            self._save_views(views)

    def drop_view(self, name: str, if_exists: bool = False) -> None:
        with self._views_lock():
            views = self._load_views()
            if name not in views:
                if if_exists:
                    return
                raise FileNotFoundError(f"no such view: {name}")
            del views[name]
            self._save_views(views)

    def list_views(self) -> dict[str, str]:
        """view name -> defining SQL text."""
        return self._load_views()

    def drop_table(self, schema: str, table: str) -> None:
        """Remove the table directory (storage-layout catalog: dropping a
        table IS deleting its folder) — through the fs facade, so URI
        pond roots (file:///…, s3a://…) drop as well as they create
        (round-11 review: raw shutil made them creatable but
        undroppable)."""
        from .delta.log import DeltaLog

        self._fs.delete(self.table_path(schema, table), recursive=True)
        DeltaLog.clear_cache()

    def register_all(self, schema: str, prefix: str = "") -> list[str]:
        """Register every table in `schema` as a temp view -> spark.sql works."""
        names = []
        for t in self.list_tables(schema):
            self.read(schema, t).createOrReplaceTempView(prefix + t)
            if not prefix:  # prefixed names can't be re-resolved to a table
                self._pond_bare_views.add(t)
            names.append(prefix + t)
        return names

    def _missing_relation(self, exc) -> str | None:
        """The unresolved relation name an AnalysisException complains
        about, or None when the error is something else."""
        try:
            if exc.getErrorClass() != "TABLE_OR_VIEW_NOT_FOUND":
                return None
            raw = exc.getMessageParameters().get("relationName", "")
        except Exception:
            return None
        return raw.replace("`", "") or None

    def _schema_for(self, table: str) -> str:
        hits = [s for s in self.list_schemas() if table in self.list_tables(s)]
        if not hits:
            raise FileNotFoundError(f"no pond table named {table!r}")
        if len(hits) > 1:
            raise ValueError(
                f"table {table!r} exists in several schemas {hits}; "
                f"qualify it as <schema>.{table}"
            )
        return hits[0]

    def _relation_spans(
        self, query: str, jplan=None
    ) -> list[tuple[list[str], int, int, tuple | None]]:
        """Parse `query` with the session's SQL parser and return every
        UnresolvedRelation as (identifier parts, start char, stop char,
        time_travel) where time_travel is None, ('version', N) or
        ('timestamp', Expression) for `VERSION/TIMESTAMP AS OF` relations
        (the span then covers the whole `name AS OF ...` clause).

        Analyzer-grounded: relation references come from the parsed logical
        plan (including inside subquery expressions and CTE bodies), so a
        string LITERAL containing 'schema.table' text, or an identifier
        inside a comment, is never mistaken for a table reference — the
        failure mode of the old regex text rewrite."""
        if jplan is None:
            jparser = self.spark._jsparkSession.sessionState().sqlParser()
            jplan = jparser.parsePlan(query)
        out: list[tuple[list[str], int, int, tuple | None]] = []

        def emit(rel, stop_override: int | None, travel: tuple | None) -> None:
            ident = rel.multipartIdentifier()
            parts = [ident.apply(i) for i in range(ident.size())]
            o = rel.origin()
            si, pi = o.startIndex(), o.stopIndex()
            if si.isDefined() and pi.isDefined():
                stop = stop_override if stop_override is not None else pi.get()
                out.append((parts, si.get(), stop, travel))

        def walk_plan(node) -> None:
            cls = node.getClass().getName()
            if cls.endswith(".UnresolvedRelation"):
                emit(node, None, None)
            elif cls.endswith(".UnresolvedTableValuedFunction"):
                fname = [node.name().apply(i) for i in range(node.name().size())]
                if len(fname) == 1 and fname[0].lower() == "table_changes":
                    o = node.origin()
                    si = o.startIndex()
                    args = [
                        node.functionArgs().apply(i).sql()
                        for i in range(node.functionArgs().size())
                    ]
                    if si.isDefined():
                        # The origin span can include a trailing alias;
                        # the call itself ends at the balanced ')'.
                        stop = _matching_paren(query, si.get())
                        if stop is not None:
                            out.append((args, si.get(), stop, ("cdf",)))
                return  # TVF args are not relations
            elif cls.endswith(".RelationTimeTravel"):
                rel = node.relation()  # LeafNode: child hidden from children()
                if rel.getClass().getName().endswith(".UnresolvedRelation"):
                    o = node.origin()
                    stop = o.stopIndex().get() if o.stopIndex().isDefined() else None
                    ver = node.version()
                    trv = (
                        ("version", int(ver.get()))
                        if ver.isDefined()
                        else ("timestamp", node.timestamp().get())
                    )
                    emit(rel, stop, trv)
                return
            kids = node.children()
            for i in range(kids.size()):
                walk_plan(kids.apply(i))
            try:  # CTE bodies (UnresolvedWith) are not in children()
                ctes = node.cteRelations()
                for i in range(ctes.size()):
                    walk_plan(ctes.apply(i)._2())
            except Exception:
                pass
            try:
                exprs = node.expressions()
            except Exception:
                return
            for i in range(exprs.size()):
                walk_expr(exprs.apply(i))

        def walk_expr(e) -> None:
            try:
                walk_plan(e.plan())  # SubqueryExpression (EXISTS/IN/scalar)
            except Exception:
                pass
            kids = e.children()
            for i in range(kids.size()):
                walk_expr(kids.apply(i))

        walk_plan(jplan)
        return out

    def _read_as_of(self, schema: str, table: str, travel: tuple):
        """Time-traveled read for `VERSION/TIMESTAMP AS OF` relations:
        -> (DataFrame of that snapshot, view-name tag)."""
        from .delta.reader import read_snapshot

        p = self.table_path(schema, table)
        if not self._is_delta_dir(p):
            raise ValueError(
                f"{schema}.{table} is not a Delta table; time travel "
                "requires a transaction log"
            )
        dt = DeltaTable(self.spark, p)
        kind, val = travel
        if kind == "version":
            return dt.to_df(version=val), f"v{val}"
        # timestamp: a literal expression from the parser
        cls = val.getClass().getName()
        if not cls.endswith(".Literal"):
            raise ValueError(
                "TIMESTAMP AS OF supports literal timestamps only"
            )
        import datetime

        text = val.sql().strip("'\"")
        for fmt in (
            "%Y-%m-%d %H:%M:%S.%f",
            "%Y-%m-%d %H:%M:%S",
            "%Y-%m-%d",
        ):
            try:
                ts = datetime.datetime.strptime(text, fmt)
                break
            except ValueError:
                continue
        else:
            raise ValueError(f"cannot parse TIMESTAMP AS OF {text!r}")
        # naive literal -> session-timezone semantics (Spark/Delta rule;
        # pinning UTC would shift time travel on non-UTC sessions)
        from .sqldml import _naive_ts_to_millis

        millis = _naive_ts_to_millis(self.spark, ts)
        # resolve the VERSION only, then scan through to_df's
        # _planning_snapshot — a TIMESTAMP AS OF query on a
        # past-threshold table plans driver-light exactly like an
        # ordinary read (round-9: this used to force the classic replay)
        v = dt.log.version_as_of_timestamp(millis)
        return dt.to_df(version=v), f"ts{millis}"

    def _bind_table_changes(self, arg_sqls: list[str]) -> str:
        """`table_changes('schema.table', start [, end])` TVF: bind the
        change-data-feed rows for that commit range as a view — with ALL
        THREE Delta TVF metadata columns (`_change_type`,
        `_commit_version`, `_commit_timestamp`), matching the delta-spark
        `table_changes` contract so ported CDC jobs that select
        `_commit_timestamp` work on day one. (The Python-level
        `DeltaTable.table_changes` keeps `include_timestamp` opt-in for
        shape stability; the SQL surface is where the contract lives.)"""
        from .delta.cdf import table_changes

        if not 2 <= len(arg_sqls) <= 3:
            raise ValueError(
                "table_changes(table, starting_version [, ending_version])"
            )
        name = arg_sqls[0].strip().strip("'\"")
        parts = name.split(".")
        if len(parts) == 1:
            schema, table = self._schema_for(parts[0]), parts[0]
        elif len(parts) == 2:
            schema, table = parts
        else:
            raise ValueError(f"bad table name in table_changes: {name!r}")
        path = self.table_path(schema, table)
        start = self._cdf_version_bound(path, arg_sqls[1], is_start=True)
        end = (
            self._cdf_version_bound(path, arg_sqls[2], is_start=False)
            if len(arg_sqls) == 3
            else None
        )
        df = table_changes(
            self.spark,
            path,
            start,
            end,
            include_timestamp=True,
        )
        view = f"__pond_cdf__{schema}__{table}__{start}_{end}"
        df.createOrReplaceTempView(view)
        return view

    def _cdf_version_bound(self, path: str, raw: str, is_start: bool) -> int:
        """A table_changes bound: an unquoted integer is a version; a
        quoted value is a timestamp (delta-spark contract), resolved
        against each commit's authoritative time (inCommitTimestamp when
        present, else file mtime; commit times are non-decreasing, so a
        binary search suffices). Start = first commit at-or-after the
        time; end = last commit at-or-before it."""
        from .delta.log import DeltaLog
        from .sqldml import _naive_ts_to_millis

        s = raw.strip()
        if s[:1] not in "'\"":
            return int(s)
        body = s.strip("'\"").strip()
        import datetime as _dt

        try:
            ts = _naive_ts_to_millis(self.spark, _dt.datetime.fromisoformat(body))
        except ValueError:
            raise ValueError(
                f"table_changes bound {body!r} is neither a version "
                "(unquoted integer) nor a timestamp string"
            ) from None
        log = DeltaLog(path)
        latest = log.latest_version()
        earliest = _earliest_commit_version(path)
        if is_start:
            if log.commit_timestamp(latest) < ts:
                raise ValueError(
                    f"starting timestamp {body!r} is after the latest "
                    f"commit of {path} (v{latest})"
                )
            lo, hi = earliest, latest
            while lo < hi:
                mid = (lo + hi) // 2
                if log.commit_timestamp(mid) >= ts:
                    hi = mid
                else:
                    lo = mid + 1
            return lo
        if log.commit_timestamp(earliest) > ts:
            raise ValueError(
                f"ending timestamp {body!r} is before the earliest "
                f"retained commit of {path} (v{earliest})"
            )
        lo, hi = earliest, latest
        while lo < hi:
            mid = (lo + hi + 1) // 2
            if log.commit_timestamp(mid) <= ts:
                lo = mid
            else:
                hi = mid - 1
        return lo

    def sql(self, query: str, _max_resolves: int = 20) -> DataFrame:
        """Plain SQL over the pond with tables resolved lazily AT
        NAME-LOOKUP TIME — the reference's headline capability ("query
        DeltaLake tables ... without having to register those tables on AWS
        Glue (or any other Metastore)", reference README.md:5-6): no
        registration step, no metastore. The query is parsed once; every
        relation the plan references that lives in the pond triggers
        storage-layout lookup + Delta log replay (the doGetTable analogue,
        DeltaMetadataHandler.scala:90-107) and binds a view. Bare names
        search every schema; `schema.table` names bind through a mangled
        view (Spark temp views cannot be dotted) and the reference is
        spliced at its exact parse-origin character span — string literals
        and comments containing look-alike text are untouched.

        Resolution work happens only on first touch (views persist in the
        session; snapshot cache keeps log replay O(1) when unchanged).

        `VERSION AS OF n` / `TIMESTAMP AS OF ts` relations bind a view of
        that snapshot (log replay at the requested version), so several
        versions of the same table can appear in one query.

        DML/DDL statements (INSERT / CTAS / DELETE / UPDATE / MERGE /
        TRUNCATE / DROP TABLE / CREATE SCHEMA) route to the native Delta
        write layer — see sqldml.route_statement."""
        from pyspark.errors import AnalysisException

        from .sqldml import route_statement

        # parse ONCE; the plan feeds both statement routing and the
        # relation-span walk (a ParseException here defers to spark.sql,
        # which reports it properly)
        try:
            jplan = (
                self.spark._jsparkSession.sessionState().sqlParser().parsePlan(query)
            )
        except Exception:
            jplan = None

        # routed even when jplan is None: DESCRIBE HISTORY is Delta-only
        # syntax Spark's parser may reject, matched by text in the router
        routed = route_statement(self, query, jplan)
        if routed is not None:
            return routed

        spans = self._relation_spans(query, jplan) if jplan is not None else []

        schemas = set(self.list_schemas())
        views = self._load_views() if spans else {}
        splices: list[tuple[int, int, str]] = []
        for parts, start, stop, travel in spans:
            if travel == ("cdf",):
                view = self._bind_table_changes(parts)
                splices.append((start, stop, view))
                continue
            key = ".".join(parts)
            if travel is None and key in views:
                if (
                    len(parts) == 1
                    and parts[0] not in self._pond_bare_views
                    and self.spark.catalog.tableExists(parts[0])
                ):
                    continue  # user temp view wins — same rule as pond tables
                # named pond view: re-resolve its defining SQL NOW (fresh
                # snapshots), bind under a mangled name, splice
                if key in self._view_stack:
                    raise ValueError(f"circular view reference: {key}")
                vname = "__pond_view__" + key.replace(".", "__")
                self._view_stack.add(key)
                try:
                    self.sql(views[key]).createOrReplaceTempView(vname)
                finally:
                    self._view_stack.discard(key)
                splices.append((start, stop, vname))
                continue
            if len(parts) == 2 and parts[0] in schemas:
                schema, table = parts
            elif len(parts) == 1:
                if (
                    travel is None
                    and parts[0] not in self._pond_bare_views
                    and self.spark.catalog.tableExists(parts[0])
                ):
                    continue  # user temp view wins; pond-bound views refresh
                try:
                    schema = self._schema_for(parts[0])
                except FileNotFoundError:
                    continue  # CTE name / not ours -> analyzer's problem
                table = parts[0]
            else:
                continue
            if table not in self.list_tables(schema):
                raise FileNotFoundError(f"no pond table named {schema}.{table}")
            if travel is None:
                if len(parts) == 1:
                    self.read(schema, table).createOrReplaceTempView(table)
                    self._pond_bare_views.add(table)
                    continue
                view = f"__pond__{schema}__{table}"
                self.read(schema, table).createOrReplaceTempView(view)
            else:
                df, tag = self._read_as_of(schema, table, travel)
                view = f"__pond__{schema}__{table}__{tag}"
                df.createOrReplaceTempView(view)
            splices.append((start, stop, view))

        q = query
        for start, stop, view in sorted(splices, reverse=True):
            q = q[:start] + view + q[stop + 1:]

        # Fallback loop for anything the parse walk could not see
        # (e.g. IDENTIFIER() clauses resolved only at analysis time).
        for _ in range(_max_resolves):
            try:
                return self.spark.sql(q)
            except AnalysisException as e:
                name = self._missing_relation(e)
                if name is None or "." in name:
                    raise
                schema = self._schema_for(name)
                self.read(schema, name).createOrReplaceTempView(name)
                self._pond_bare_views.add(name)
        raise RuntimeError(f"gave up resolving relations after {_max_resolves} passes")


def _matching_paren(text: str, start: int) -> int | None:
    """Index of the ')' closing the first '(' at/after `start`,
    respecting single-quoted strings. None if unbalanced."""
    depth = 0
    in_str = False
    for i in range(start, len(text)):
        ch = text[i]
        if in_str:
            if ch == "'":
                in_str = False
        elif ch == "'":
            in_str = True
        elif ch == "(":
            depth += 1
        elif ch == ")":
            depth -= 1
            if depth == 0:
                return i
    return None


def register_flat_dir(spark: SparkSession, sf_dir: str) -> list[str]:
    """Register a fixture dir of `<name>.parquet` files as temp views."""
    names = []
    for f in sorted(os.listdir(sf_dir)):
        if f.endswith(".parquet"):
            name = f.removesuffix(".parquet")
            spark.read.parquet(os.path.join(sf_dir, f)).createOrReplaceTempView(name)
            names.append(name)
    return names
