"""SQL DML routing for the metastore-less pond catalog.

`DeltaPond.sql` accepts not just queries but the write-side statements a
warehouse user expects — INSERT INTO / INSERT OVERWRITE (incl. static
PARTITION specs), CREATE TABLE AS SELECT, DELETE, UPDATE, MERGE INTO,
TRUNCATE, DROP TABLE, CREATE/DROP SCHEMA — routed to the native Delta
write/DML layer. The reference connector is read-only (its users run DML
through Athena itself, README.md:5-8); here the same statements execute
against the pond directly.

Statements are classified from the PARSED logical plan (never regex over
query text): target tables come from the statement's UnresolvedRelation /
UnresolvedIdentifier nodes, source queries are re-executed from their
exact parse-origin character spans through `pond.sql` (so pond names
resolve inside subqueries too), and conditions are rendered with
`Expression.sql()` after stripping/normalizing the statement's aliases.

Scale notes: every routed statement lands on the engine's existing
scale-safe primitives — INSERT OVERWRITE PARTITION uses replaceWhere
(O(replaced partitions)), DELETE/UPDATE use stats-pruned rewrites with a
metadata-only fast path, MERGE uses the semi-join touched-file planner,
TRUNCATE is a pure metadata commit.
"""

from __future__ import annotations

import json
import os
import re

from pyspark.sql import DataFrame, Row

from .delta.fs import normalize_table_path
from .delta.log import DeltaLog
from .delta.stats import _session_tzinfo as _stats_session_tzinfo
from pyspark.sql import functions as F


# ------------------------------------------------------------- py4j helpers


def _cls(node) -> str:
    return node.getClass().getName().rsplit(".", 1)[-1].replace("$", "")


def _seq(s) -> list:
    return [s.apply(i) for i in range(s.size())]


def _opt(o):
    return o.get() if o.isDefined() else None


def _span(node, text: str) -> str | None:
    """Source text of a parsed query subtree. The TOP node's origin alone
    is not enough: for `SELECT ... GROUP BY k` the Aggregate's origin
    starts at 'GROUP', for `... ORDER BY k` the Sort's at 'ORDER', and no
    plan node at all carries the SELECT keyword of an aggregate-only query
    (the select list lives in expression origins). So: min(start)/
    max(stop) over plan nodes AND their expressions, then extend the start
    back to the query-introducing keyword when the fragment doesn't
    already begin with one."""
    lo = hi = None
    stack = [node]
    while stack:
        n = stack.pop()
        o = n.origin()
        si, pi = o.startIndex(), o.stopIndex()
        if si.isDefined() and pi.isDefined():
            s, p = si.get(), pi.get()
            lo = s if lo is None or s < lo else lo
            hi = p if hi is None or p > hi else hi
        kids = n.children()
        for i in range(kids.size()):
            stack.append(kids.apply(i))
        try:
            exprs = n.expressions()
            for i in range(exprs.size()):
                stack.append(exprs.apply(i))
        except Exception:
            pass  # expression-less node shapes
    if lo is None:
        return None
    frag = text[lo : hi + 1]
    if not re.match(r"(?is)^\s*(SELECT|WITH|VALUES|TABLE|FROM|\()", frag):
        last = None
        for km in re.finditer(
            r"(?is)\b(SELECT|WITH|VALUES|TABLE)\b",
            _mask_comments_and_strings(text[:lo]),
        ):
            last = km
        if last is not None:
            lo = last.start()
    return text[lo : hi + 1]


def _mask_comments_and_strings(text: str) -> str:
    """Same-length copy with /*...*/ and -- comments and '...' literals
    blanked, so keyword scans never anchor inside them."""
    out = list(text)
    i, n = 0, len(text)
    while i < n:
        ch = text[i]
        if ch == "'":
            j = i + 1
            while j < n:
                if text[j] == "\\":
                    j += 2
                    continue
                if text[j] == "'":
                    break
                j += 1
            for k in range(i + 1, min(j, n)):
                out[k] = " "
            i = j + 1
        elif text.startswith("/*", i):
            j = text.find("*/", i + 2)
            j = n if j < 0 else j + 2
            for k in range(i, j):
                out[k] = " "
            i = j
        elif text.startswith("--", i):
            j = text.find("\n", i)
            j = n if j < 0 else j
            for k in range(i, j):
                out[k] = " "
            i = j
        else:
            i += 1
    return "".join(out)


def _unalias(node) -> tuple[str | None, object]:
    """Peel a SubqueryAlias, returning (alias name or None, child)."""
    if _cls(node) == "SubqueryAlias":
        return node.alias(), node.child()
    return None, node


def _sub_outside_quotes(sql: str, pattern: str, repl: str) -> str:
    """re.sub applied only OUTSIDE single-quoted string literals, so an
    alias prefix inside a literal ('x.y') is never rewritten. Handles
    Catalyst's backslash escapes (\\' inside a literal does not end it)."""
    pat = re.compile(pattern)
    out: list[str] = []
    seg_start = 0
    i = 0
    in_str = False
    while i < len(sql):
        ch = sql[i]
        if in_str:
            if ch == "\\":
                i += 2
                continue
            if ch == "'":
                out.append(sql[seg_start : i + 1])  # literal, verbatim
                seg_start = i + 1
                in_str = False
        elif ch == "'":
            out.append(pat.sub(repl, sql[seg_start:i]))
            seg_start = i
            in_str = True
        i += 1
    tail = sql[seg_start:]
    out.append(tail if in_str else pat.sub(repl, tail))
    return "".join(out)


def _strip_alias(sql: str, *aliases: str | None) -> str:
    """Drop `alias.` qualifiers from a rendered condition."""
    for a in aliases:
        if a:
            sql = _sub_outside_quotes(
                sql, r"\b" + re.escape(a) + r"\s*\.\s*", ""
            )
    return sql


def _norm_alias(sql: str, alias: str | None, to: str) -> str:
    if alias and alias != to:
        sql = _sub_outside_quotes(
            sql, r"\b" + re.escape(alias) + r"\s*\.\s*", to + "."
        )
    return sql


def _session_tz(spark):
    """The session timezone (`spark.sql.session.timeZone`) as a tzinfo.
    Spark interprets NAIVE datetime values in this zone, so every
    epoch-millis <-> naive-datetime conversion that feeds or reads a Spark
    timestamp column must go through it — pinning UTC shifts DESCRIBE
    HISTORY / TIMESTAMP AS OF by the tz offset on non-UTC sessions.
    Delegates to the ONE zone parser (stats.parse_tz_name — IANA ids plus
    Spark's offset forms; a silent UTC fallback used to live here and its
    twin in stats.py, round-9 review)."""
    return _stats_session_tzinfo(spark)


def _naive_ts_to_millis(spark, ts) -> int:
    """Naive datetime (session-tz semantics) -> epoch millis."""
    if ts.tzinfo is None:
        ts = ts.replace(tzinfo=_session_tz(spark))
    return int(ts.timestamp() * 1000)


def _millis_to_naive_ts(spark, millis: int):
    """Epoch millis -> naive datetime carrying session-tz semantics (what
    spark.createDataFrame expects for a timestamp column)."""
    import datetime as _dt

    return _dt.datetime.fromtimestamp(
        millis / 1000.0, _session_tz(spark)
    ).replace(tzinfo=None)


def _metrics_df(spark, metrics: dict) -> DataFrame:
    row = {
        k: (int(v) if isinstance(v, (int, bool)) and not isinstance(v, str) else str(v))
        for k, v in metrics.items()
    }
    return spark.createDataFrame([Row(**row)])


# ---------------------------------------------------------- name resolution


class _NotPond(Exception):
    """The statement's target is not a pond table (unknown schema /
    3-part name / unknown bare name): fall through to spark.sql, which
    may resolve it against temp views or the session catalog."""


def _target(pond, parts: list[str], must_exist: bool = True) -> str:
    # a pond VIEW shadows a same-named table on the read side, so a DML
    # statement naming it must not silently write the underlying table
    if len(parts) <= 2 and ".".join(parts) in pond.list_views():
        raise ValueError(
            f"{'.'.join(parts)} is a view; DML targets must be tables"
        )
    if len(parts) == 1:
        # Read-side precedence: a USER temp view shadowing the bare name
        # wins (catalog.sql skips binding it), so DML must defer to
        # spark.sql too — otherwise `INSERT INTO events` writes the pond
        # table while `SELECT * FROM events` reads the shadowing view.
        # Views the pond itself bound are NOT shadows; they alias the
        # pond table and DML proceeds.
        if parts[0] not in getattr(
            pond, "_pond_bare_views", ()
        ) and pond.spark.catalog.tableExists(parts[0]):
            raise _NotPond(parts[0])
        try:
            schema = pond._schema_for(parts[0])
        except FileNotFoundError:
            raise _NotPond(parts[0]) from None
        return pond.table_path(schema, parts[0])
    if len(parts) == 2:
        if parts[0] not in pond.list_schemas():
            raise _NotPond(parts[0])
        if must_exist and parts[1] not in pond.list_tables(parts[0]):
            raise FileNotFoundError(
                f"no pond table named {parts[0]}.{parts[1]}"
            )
        return pond.table_path(parts[0], parts[1])
    raise _NotPond(".".join(parts))


def _relation_parts(rel) -> list[str]:
    return _seq(rel.multipartIdentifier())


def _dv_mode(path: str) -> bool:
    """Delta semantics: DML uses merge-on-read (deletion vectors) when
    the table sets delta.enableDeletionVectors=true, else copy-on-write."""
    cfg = DeltaLog(normalize_table_path(path)).header().metadata.get(
        "configuration"
    ) or {}
    return str(cfg.get("delta.enableDeletionVectors", "")).lower() == "true"


# ------------------------------------------------------------- INSERT INTO


def _route_insert(pond, p, text: str) -> DataFrame:
    from .delta.writer import write_delta

    parts = _relation_parts(p.table())
    path = _target(pond, parts)
    qtext = _span(p.query(), text)
    if qtext is None:
        raise ValueError("cannot recover the INSERT source query text")
    df = pond.sql(qtext)

    # static PARTITION (k='v') values become literal columns; with
    # OVERWRITE they scope the replacement via replaceWhere.
    spec = p.partitionSpec()
    static: dict[str, str] = {}
    for k in _seq(spec.keys().toList()):
        v = _opt(spec.get(k).get())  # Map.get -> Option[Option[String]]
        if v is not None:
            static[k] = v

    from .delta.writer import (
        _generation_expressions,
        _identity_fields,
    )

    snap = DeltaLog(normalize_table_path(path)).header()
    fields = {f.name: f for f in snap.schema.fields}
    target_cols = [f.name for f in snap.schema.fields]
    # engine-assigned columns (GENERATED ALWAYS AS IDENTITY / (expr)) are
    # OMITTED from the staged frame when not provided — write_delta
    # assigns/computes them (and rejects explicit identity values)
    auto = set(_identity_fields(snap.schema)) | set(
        _generation_expressions(snap.schema)
    )
    user_cols = _seq(p.userSpecifiedCols())
    recv = [c for c in target_cols if c not in static and c not in auto]

    if user_cols:
        missing = [c for c in user_cols if c not in fields]
        if missing:
            raise ValueError(f"INSERT columns not in table: {missing}")
        if len(df.columns) != len(user_cols):
            raise ValueError(
                f"INSERT column list has {len(user_cols)} columns, "
                f"query produced {len(df.columns)}"
            )
        df = df.toDF(*user_cols)
        for c in recv:
            if c not in user_cols:
                dflt = (fields[c].metadata or {}).get("CURRENT_DEFAULT")
                fill = F.expr(dflt) if dflt is not None else F.lit(None)
                df = df.withColumn(c, fill.cast(fields[c].dataType))
    elif p.byName():
        for c in recv:
            if c not in df.columns:
                dflt = (fields[c].metadata or {}).get("CURRENT_DEFAULT")
                if dflt is None:
                    raise ValueError(f"INSERT BY NAME missing column: {c}")
                df = df.withColumn(c, F.expr(dflt).cast(fields[c].dataType))
    else:
        if len(df.columns) != len(recv):
            raise ValueError(
                f"INSERT expects {len(recv)} columns "
                f"({recv}), query produced {len(df.columns)}"
            )
        df = df.toDF(*recv)

    for k, v in static.items():
        if k not in fields:
            raise ValueError(f"PARTITION column not in table: {k}")
        df = df.withColumn(k, F.lit(v).cast(fields[k].dataType))
    staged = [
        c for c in target_cols if c in df.columns
    ]  # auto columns absent unless explicitly provided
    # INSERT-time schema evolution (Delta's autoMerge conf): INSERT BY NAME
    # with columns the table lacks widens the schema on append instead of
    # silently dropping them
    auto_merge = (
        str(
            pond.spark.conf.get(
                "spark.databricks.delta.schema.autoMerge.enabled", "false"
            )
        ).lower()
        == "true"
    )
    extras = (
        [c for c in df.columns if c not in fields]
        if auto_merge and p.byName() and not p.overwrite()
        else []
    )
    df = df.select(
        *[F.col(c).cast(fields[c].dataType) for c in staged], *extras
    )

    if p.overwrite():
        rw = (
            " AND ".join(
                "{} = '{}'".format(k, v.replace("\\", "\\\\").replace("'", "\\'"))
                for k, v in static.items()
            )
            if static
            else None
        )
        version = write_delta(df, path, mode="overwrite", replace_where=rw)
        op = "insert_overwrite"
    else:
        version = write_delta(
            df, path, mode="append", merge_schema=bool(extras)
        )
        op = "insert_into"
    return _metrics_df(
        pond.spark, {"operation": op, "version": version, "table": ".".join(parts)}
    )


# ------------------------------------------------------------------- CTAS


def _partition_and_cluster_cols(p) -> tuple[list[str], list[str]]:
    """Split a CREATE TABLE plan's partitioning() transforms into
    PARTITIONED BY identity columns and CLUSTER BY (liquid clustering)
    columns — Spark 4 parses both into the same transform list."""
    part_cols: list[str] = []
    cluster_cols: list[str] = []
    for t in _seq(p.partitioning()):
        s = t.toString()
        m = re.fullmatch(r"identity\((.+)\)", s)
        if m:
            part_cols.append(m.group(1))
            continue
        m = re.fullmatch(r"cluster_by\((.+)\)", s)
        if m:
            cluster_cols.extend(c.strip(" `") for c in m.group(1).split(","))
            continue
        raise ValueError(f"unsupported partition transform: {s}")
    return part_cols, cluster_cols



def _table_spec_props(p) -> tuple[dict | None, str | None, list]:
    """(TBLPROPERTIES, COMMENT, post_create_steps) from a CREATE/REPLACE
    TABLE plan's tableSpec (previously silently dropped).

    Feature-bearing properties cannot ride write_delta's plain
    configuration — they need their dedicated DDL paths (protocol
    feature declaration, field-id stamping, row-id backfill, existing-row
    validation), exactly like SET TBLPROPERTIES routes them — so they
    come back as post-create callables. The CREATE is therefore 1+N
    commits for N such properties (documented divergence from
    delta-spark's single commit; a crash in between leaves the property
    un-applied, never an undeclared feature)."""
    ts = p.tableSpec()
    jmap = ts.properties()
    props = {
        str(k): str(jmap.get(k).get()) for k in _seq(jmap.keys().toList())
    }
    steps = []
    mode = props.pop("delta.columnMapping.mode", None)
    if mode is not None and mode != "none":
        if mode != "name":
            raise ValueError(
                f"delta.columnMapping.mode={mode!r} unsupported "
                "('name' is the only supported mapping mode)"
            )

        def _enable_mapping(pond, path):
            from .delta.writer import enable_column_mapping

            return enable_column_mapping(path)

        steps.append(_enable_mapping)
    if str(props.get("delta.enableRowTracking", "")).lower() == "true":
        props.pop("delta.enableRowTracking")

        def _enable_rt(pond, path):
            from .delta.writer import enable_row_tracking

            return enable_row_tracking(path)

        steps.append(_enable_rt)
    constraint_keys = [k for k in props if k.startswith("delta.constraints.")]
    for key in constraint_keys:
        cname, cexpr = key[len("delta.constraints."):], props.pop(key)

        def _add_con(pond, path, _n=cname, _e=cexpr):
            from .delta.writer import add_check_constraint

            return add_check_constraint(pond.spark, path, _n, _e)

        steps.append(_add_con)
    comment = _opt(ts.comment())
    return (
        (props or None),
        (str(comment) if comment is not None else None),
        steps,
    )


def _mk_table_dir(pond, schema: str, table: str) -> str:
    """Create (and return) the table directory through the pond's fs
    facade — NEVER raw os.makedirs: with a URI pond root (file:///…,
    s3a://…) the raw call creates a literal relative `./file:/…` junk
    tree in the driver CWD (round-10 verdict #1)."""
    path = os.path.join(pond.root, schema, table)
    pond._fs.mkdirs(path)
    return path


def _route_ctas(pond, p, text: str, replace: bool = False) -> DataFrame:
    from .delta.writer import write_delta

    parts = _seq(p.name().nameParts())
    if len(parts) != 2:
        # 1-part / 3-part names can't be pond targets: let spark.sql
        # handle session-catalog CTAS (e.g. CREATE TABLE t AS ... USING parquet)
        raise _NotPond(".".join(parts))
    schema, table = parts[0], parts[1]
    if schema not in pond.list_schemas():
        raise _NotPond(schema)
    if f"{schema}.{table}" in pond.list_views() or table in pond.list_views():
        raise ValueError(f"a view named {schema}.{table} already exists")
    exists = table in pond.list_tables(schema)
    if exists and not replace:
        if p.ignoreIfExists():
            return _metrics_df(
                pond.spark,
                {"operation": "ctas_skipped", "table": f"{schema}.{table}"},
            )
        raise ValueError(f"table {schema}.{table} already exists")
    if replace and not exists and not p.orCreate():
        raise ValueError(
            f"table {schema}.{table} does not exist "
            "(REPLACE TABLE without OR CREATE)"
        )

    provider = _opt(p.tableSpec().provider())
    if provider is not None and provider.lower() not in ("delta", "deltapond"):
        raise ValueError(f"CTAS USING {provider} unsupported (delta only)")

    part_cols, cluster_cols = _partition_and_cluster_cols(p)

    qtext = _span(p.query(), text)
    if qtext is None:
        raise ValueError("cannot recover the CTAS source query text")
    df = pond.sql(qtext)
    path = _mk_table_dir(pond, schema, table)
    props, comment, steps = _table_spec_props(p)
    version = write_delta(
        df,
        path,
        mode="overwrite" if (replace and exists) else "append",
        partition_by=part_cols or None,
        liquid_cluster_by=cluster_cols or None,
        replace_table=replace and exists,
        configuration=props,
        description=comment,
    )
    for step in steps:
        version = step(pond, path)
    return _metrics_df(
        pond.spark,
        {
            "operation": "replace_table_as_select" if replace else "ctas",
            "version": version,
            "table": f"{schema}.{table}",
        },
    )


def _route_replace_ctas(pond, p, text: str) -> DataFrame:
    """[CREATE OR] REPLACE TABLE t AS SELECT ...: Delta's canonical
    full-table rewrite — new schema/partitioning/data in ONE commit, old
    versions still time-travelable (write_delta overwrite keeps history)."""
    return _route_ctas(pond, p, text, replace=True)


def _route_create_table(pond, p, text: str, replace: bool = False) -> DataFrame:
    """CREATE TABLE name (cols...) [PARTITIONED BY ...]: an empty Delta
    table committing just the schema (commit 0 has metaData, no adds).
    replace=True ([CREATE OR] REPLACE TABLE): the declared schema and an
    empty file set overwrite the existing table in one commit."""
    from pyspark.sql import types as T

    from .delta.writer import write_delta

    parts = _seq(p.name().nameParts())
    if len(parts) != 2:
        # not a pond-shaped name: defer to spark.sql (session catalog)
        raise _NotPond(".".join(parts))
    schema, table = parts
    if schema not in pond.list_schemas():
        raise _NotPond(schema)
    if f"{schema}.{table}" in pond.list_views() or table in pond.list_views():
        raise ValueError(f"a view named {schema}.{table} already exists")
    exists = table in pond.list_tables(schema)
    if exists and not replace:
        if p.ignoreIfExists():
            return _metrics_df(
                pond.spark,
                {"operation": "create_skipped", "table": f"{schema}.{table}"},
            )
        raise ValueError(f"table {schema}.{table} already exists")
    if replace and not exists and not p.orCreate():
        raise ValueError(
            f"table {schema}.{table} does not exist "
            "(REPLACE TABLE without OR CREATE)"
        )
    provider = _opt(p.tableSpec().provider())
    if provider is not None and provider.lower() not in ("delta", "deltapond"):
        raise ValueError(f"CREATE TABLE USING {provider} unsupported (delta only)")
    part_cols, cluster_cols = _partition_and_cluster_cols(p)
    fields = ", ".join(
        f"{c.name()} {c.dataType().sql()}" for c in _seq(p.columns())
    )
    st = T.StructType.fromDDL(fields)
    # honor NOT NULL, GENERATED ALWAYS AS (expr), and IDENTITY specs
    nn = set()
    gen: dict[str, str] = {}
    identity: dict[str, tuple[int, int]] = {}
    defaults: dict[str, str] = {}
    for c in _seq(p.columns()):
        if not c.nullable():
            nn.add(c.name())
        g = c.generationExpression()
        if g.isDefined():
            gen[c.name()] = g.get()  # SQL text
        ident = _opt(c.identityColumnSpec())
        if ident is not None:
            if ident.isAllowExplicitInsert():
                raise ValueError(
                    "GENERATED BY DEFAULT AS IDENTITY is unsupported "
                    "(only GENERATED ALWAYS; the writer always assigns)"
                )
            identity[c.name()] = (int(ident.getStart()), int(ident.getStep()))
        d = _opt(c.defaultValue())
        if d is not None:
            defaults[c.name()] = d.originalSQL()

    def _meta(f):
        m = dict(f.metadata or {})
        if f.name in gen:
            m["delta.generationExpression"] = gen[f.name]
        if f.name in defaults:
            # Spark/Delta's standard default-value metadata keys
            m["CURRENT_DEFAULT"] = defaults[f.name]
            m["EXISTS_DEFAULT"] = defaults[f.name]
        return m

    st = T.StructType(
        [
            T.StructField(f.name, f.dataType, f.name not in nn, _meta(f))
            for f in st.fields
        ]
    )
    path = _mk_table_dir(pond, schema, table)
    declared = [f.name for f in st.fields]
    # the writer appends identity columns itself (callers never supply
    # them) — drop them from the staged frame, then restore the declared
    # column order with a metadata-only commit if it differs
    empty = pond.spark.createDataFrame(
        [], T.StructType([f for f in st.fields if f.name not in identity])
    )
    props, comment, steps = _table_spec_props(p)
    version = write_delta(
        empty,
        path,
        mode="overwrite" if (replace and exists) else "append",
        partition_by=part_cols or None,
        liquid_cluster_by=cluster_cols or None,
        identity_columns=identity or None,
        replace_table=replace and exists,
        configuration=props,
        description=comment,
    )
    for step in steps:
        version = step(pond, path)
    if identity or defaults:
        from .delta.types import struct_to_schema_string
        from .delta.writer import (
            _commit_metadata_change,
            _protocol_upgrade_action,
        )

        snap = DeltaLog(normalize_table_path(path)).header()
        order_wrong = [f.name for f in snap.schema.fields] != declared
        upgrade = (
            _protocol_upgrade_action(
                snap.protocol, writer_features=("allowColumnDefaults",)
            )
            if defaults
            else None
        )
        if order_wrong or upgrade:
            by_name = {f.name: f for f in snap.schema.fields}
            md = dict(snap.metadata)
            md["schemaString"] = struct_to_schema_string(
                T.StructType([by_name[n] for n in declared])
            )
            version = _commit_metadata_change(
                path,
                "CHANGE COLUMN ORDER",
                {},
                md,
                snap.version + 1,
                extra_actions=[upgrade] if upgrade else None, protocol=snap.protocol)
    return _metrics_df(
        pond.spark,
        {
            "operation": "replace_table" if replace else "create_table",
            "version": version,
            "table": f"{schema}.{table}",
        },
    )


def _route_replace_table(pond, p, text: str) -> DataFrame:
    return _route_create_table(pond, p, text, replace=True)


def _constraint_table(node):
    """Descend wrapper nodes (Filter over the check scan) to the
    UnresolvedTable/UnresolvedRelation target."""
    n = node
    for _ in range(8):
        if _cls(n) in ("UnresolvedTable", "UnresolvedRelation"):
            return n
        kids = n.children()
        if kids.size() == 0:
            break
        n = kids.apply(0)
    raise ValueError("cannot find constraint target table")


def _route_add_constraint(pond, p, text: str) -> DataFrame:
    from .delta.writer import add_check_constraint

    rel = _constraint_table(p.child())
    path = _target(pond, _relation_parts(rel))
    cc = p.checkConstraint()
    version = add_check_constraint(pond.spark, path, cc.name(), cc.condition())
    return _metrics_df(
        pond.spark,
        {"operation": "add_constraint", "name": cc.name(), "version": version},
    )


def _route_drop_constraint(pond, p, text: str) -> DataFrame:
    from .delta.writer import drop_check_constraint

    path = _target(pond, _relation_parts(p.child()))
    try:
        version = drop_check_constraint(path, p.name())
    except ValueError:
        if p.ifExists():
            return _metrics_df(
                pond.spark, {"operation": "drop_constraint_skipped", "name": p.name()}
            )
        raise
    return _metrics_df(
        pond.spark,
        {"operation": "drop_constraint", "name": p.name(), "version": version},
    )


def _route_overwrite_by_expr(pond, p, text: str) -> DataFrame:
    """INSERT INTO ... REPLACE WHERE cond SELECT ... -> replaceWhere."""
    from .delta.writer import write_delta

    parts = _relation_parts(p.table())
    path = _target(pond, parts)
    qtext = _span(p.query(), text)
    if qtext is None:
        raise ValueError("cannot recover the REPLACE WHERE source query text")
    df = pond.sql(qtext)
    snap = DeltaLog(normalize_table_path(path)).header()
    fields = {f.name: f for f in snap.schema.fields}
    target_cols = [f.name for f in snap.schema.fields]
    if len(df.columns) != len(target_cols):
        raise ValueError(
            f"REPLACE WHERE expects {len(target_cols)} columns, "
            f"query produced {len(df.columns)}"
        )
    df = df.toDF(*target_cols).select(
        *[F.col(c).cast(fields[c].dataType) for c in target_cols]
    )
    version = write_delta(
        df, path, mode="overwrite", replace_where=p.deleteExpr().sql()
    )
    return _metrics_df(
        pond.spark,
        {"operation": "replace_where", "version": version, "table": ".".join(parts)},
    )


# -------------------------------------------------------- DELETE / UPDATE


def _route_delete(pond, p, text: str) -> DataFrame:
    from .delta import dml

    alias, rel = _unalias(p.table())
    path = _target(pond, _relation_parts(rel))
    cond = p.condition()
    where = "true" if cond is None else _strip_alias(cond.sql(), alias)
    fn = dml.delete_mor if _dv_mode(path) else dml.delete
    m = fn(pond.spark, path, where=where)
    return _metrics_df(pond.spark, {"operation": "delete", **m})


def _route_update(pond, p, text: str) -> DataFrame:
    from .delta import dml

    alias, rel = _unalias(p.table())
    path = _target(pond, _relation_parts(rel))
    sets = {}
    for a in _seq(p.assignments()):
        key = _strip_alias(a.key().sql(), alias).strip("`")
        sets[key] = _strip_alias(a.value().sql(), alias)
    cond = _opt(p.condition())
    where = None if cond is None else _strip_alias(cond.sql(), alias)
    fn = dml.update_mor if _dv_mode(path) else dml.update
    m = fn(pond.spark, path, set=sets, where=where)
    return _metrics_df(pond.spark, {"operation": "update", **m})


def _route_truncate(pond, p, text: str) -> DataFrame:
    """TRUNCATE TABLE t: one remove-only commit dropping every live file
    — zero data I/O at any table size (was delete(where='true'), which
    REWROTE the whole table; schema/history/properties untouched)."""
    from .delta import dml

    alias, rel = _unalias(p.table())
    path = _target(pond, _relation_parts(rel))
    m = dml.truncate_table(path)
    return _metrics_df(pond.spark, {"operation": "truncate", **m})


# ------------------------------------------------------------------- MERGE


def _merge_on(
    cond, t_quals: set[str], s_quals: set[str]
) -> tuple[list[str], list[str], list]:
    """Decompose the ON condition into (target keys, source keys,
    residual conjunct nodes).

    An AND-ed `t.a = s.b` column equality oriented by its qualifiers
    (alias or table name) becomes the key pair (a, b) — differently-named
    keys included. EVERY other conjunct — non-equality comparisons, range
    bounds, expressions, literals, unorientable equalities — lands in the
    residual list, handed to the merge engine's full pair condition
    (merge_upsert on_condition). At least one key pair is required
    downstream: the touched-file planner hash-joins on it."""
    kind = _cls(cond)
    if kind == "And":
        k1, s1, r1 = _merge_on(cond.left(), t_quals, s_quals)
        k2, s2, r2 = _merge_on(cond.right(), t_quals, s_quals)
        return k1 + k2, s1 + s2, r1 + r2
    if kind == "EqualTo":
        sides = [cond.left(), cond.right()]
        if all(_cls(x) == "UnresolvedAttribute" for x in sides):
            info = []
            for side in sides:
                parts = _seq(side.nameParts())
                info.append(
                    (parts[-1], parts[-2] if len(parts) > 1 else None)
                )
            (n0, q0), (n1, q1) = info

            def owner(q):
                if q is None:
                    return None
                if q in t_quals:
                    return "t"
                if q in s_quals:
                    return "s"
                return None

            o0, o1 = owner(q0), owner(q1)
            if o0 == "t" and o1 == "s":
                return [n0], [n1], []
            if o0 == "s" and o1 == "t":
                return [n1], [n0], []
            # same-name equality without two opposing resolvable
            # qualifiers: the classic `ON t.k = s.k` / bare `ON k = k`
            # shapes (orientation is irrelevant when the names agree)
            if n0 == n1 and not (o0 == o1 == "t") and not (o0 == o1 == "s"):
                return [n0], [n1], []
    return [], [], [cond]


def _route_merge(pond, p, text: str) -> DataFrame:
    from .delta import dml

    talias, tgt_rel = _unalias(p.targetTable())
    salias, src_node = _unalias(p.sourceTable())
    path = _target(pond, _relation_parts(tgt_rel))

    if _cls(src_node) == "UnresolvedRelation":
        source = pond.sql(
            "SELECT * FROM " + ".".join(_relation_parts(src_node))
        )
    else:
        stext = _span(src_node, text)
        if stext is None:
            raise ValueError("cannot recover the MERGE source query text")
        stext = stext.strip()
        if stext.startswith("(") and stext.endswith(")"):
            stext = stext[1:-1]  # exactly the outer subquery parens
        source = pond.sql(stext)

    t_quals = {q for q in (talias, _relation_parts(tgt_rel)[-1]) if q}
    s_quals = {q for q in [salias] if q}
    if _cls(src_node) == "UnresolvedRelation":
        s_quals.add(_relation_parts(src_node)[-1])
    keys, source_keys, residual_nodes = _merge_on(
        p.mergeCondition(), t_quals, s_quals
    )
    if not keys:
        raise ValueError(
            "MERGE ON needs at least one t.<col> = s.<col> equality "
            "(the touched-file planner hash-joins on it); residual "
            f"conjuncts alone cannot key a merge: "
            f"{p.mergeCondition().sql()}"
        )
    dup = [k for k in set(keys) if keys.count(k) > 1]
    if dup:
        raise ValueError(f"MERGE ON maps target key(s) twice: {dup}")

    def _norm(sql: str) -> str:
        sql = _norm_alias(sql, talias, "t")
        sql = _norm_alias(sql, salias, "s")
        for q in t_quals:
            sql = _norm_alias(sql, q, "t")
        for q in s_quals:
            sql = _norm_alias(sql, q, "s")
        # differently-named source keys were renamed to the TARGET name
        # before the engine sees the source frame — rewrite references
        for sk, tk in zip(source_keys, keys):
            if sk != tk:
                sql = _sub_outside_quotes(
                    sql, r"\bs\s*\.\s*" + re.escape(sk) + r"\b", f"s.{tk}"
                )
        return sql

    on_condition = (
        " AND ".join(f"({_norm(c.sql())})" for c in residual_nodes) or None
    )

    def _cond_sql(opt_cond) -> str | None:
        c = _opt(opt_cond)
        if c is None:
            return None
        return _norm(c.sql())

    clauses: list[tuple] = []
    for a in _seq(p.matchedActions()):
        kind = _cls(a)
        if kind == "UpdateStarAction":
            clauses.append((_cond_sql(a.condition()), "update"))
        elif kind == "DeleteAction":
            clauses.append((_cond_sql(a.condition()), "delete"))
        elif kind == "UpdateAction":
            # per-column `UPDATE SET col = expr` (round 7): assignment
            # expressions normalized to t./s. aliases; unassigned columns
            # keep the target row's value (engine semantics)
            assigns: dict[str, str] = {}
            for asg in _seq(a.assignments()):
                key_parts = (
                    _seq(asg.key().nameParts())
                    if _cls(asg.key()) == "UnresolvedAttribute"
                    else [asg.key().sql().strip("`")]
                )
                assigns[key_parts[-1]] = _norm(asg.value().sql())
            clauses.append((_cond_sql(a.condition()), "update", assigns))
        else:
            raise ValueError(
                f"unsupported WHEN MATCHED action {kind} "
                "(UPDATE SET */SET col = expr and DELETE are supported)"
            )

    when_not_matched = None
    not_matched_condition = None
    nm_conds: list[str | None] = []
    for a in _seq(p.notMatchedActions()):
        if _cls(a) != "InsertStarAction":
            raise ValueError(
                "unsupported WHEN NOT MATCHED action (INSERT * only)"
            )
        when_not_matched = "insert"
        nm_conds.append(_cond_sql(a.condition()))
    if nm_conds:
        # Every clause inserts the SAME row (INSERT *), so first-match
        # semantics over N clauses reduce exactly to OR-ing their
        # conditions; one unconditional clause makes the insert
        # unconditional.
        not_matched_condition = (
            None
            if any(c is None for c in nm_conds)
            else " OR ".join(f"({c})" for c in nm_conds)
        )

    by_source = None
    by_source_cond = None
    by_source_assigns = None
    nmbs_actions = _seq(p.notMatchedBySourceActions())
    if len(nmbs_actions) > 1:
        raise ValueError(
            "at most one WHEN NOT MATCHED BY SOURCE clause is supported"
        )
    for a in nmbs_actions:
        kind = _cls(a)
        by_source_cond = _cond_sql(a.condition())
        if kind == "DeleteAction":
            by_source = "delete"
        elif kind == "UpdateAction":
            by_source = "update"
            by_source_assigns = {}
            for asg in _seq(a.assignments()):
                key_parts = (
                    _seq(asg.key().nameParts())
                    if _cls(asg.key()) == "UnresolvedAttribute"
                    else [asg.key().sql().strip("`")]
                )
                by_source_assigns[key_parts[-1]] = _norm(asg.value().sql())
        else:
            # UpdateStarAction (SET *) is meaningless here — these target
            # rows have NO source row to copy from (Delta rejects it too)
            raise ValueError(
                f"unsupported WHEN NOT MATCHED BY SOURCE action {kind} "
                "(DELETE and UPDATE SET col = expr are supported)"
            )
        for sqltxt in [by_source_cond or ""] + list(
            (by_source_assigns or {}).values()
        ):
            # quote-masked scan: a string LITERAL containing "s." is fine
            if _sub_outside_quotes(sqltxt, r"\bs\s*\.\s*(?=\w)", "\0") != sqltxt:
                raise ValueError(
                    "WHEN NOT MATCHED BY SOURCE expressions cannot "
                    "reference the source (no source row matches): "
                    f"{sqltxt}"
                )

    merge_fn = (
        dml.merge_upsert_mor
        if _dv_mode(path)
        and (clauses or by_source is None)
        and on_condition is None  # residual ON plans through the COW path
        else dml.merge_upsert
    )
    m = merge_fn(
        pond.spark,
        path,
        source,
        keys,
        source_keys=source_keys,
        on_condition=on_condition,
        not_matched_condition=not_matched_condition,
        matched_clauses=clauses,  # [] = no matched action (insert-only
        # fast path / by-source keep-matched semantics in dml)
        when_not_matched=when_not_matched,
        not_matched_by_source=by_source,
        not_matched_by_source_condition=by_source_cond,
        not_matched_by_source_assigns=by_source_assigns,
        # MERGE WITH SCHEMA EVOLUTION (Spark 4 grammar): source-only
        # columns widen the target schema in the same commit
        schema_evolution=bool(p.withSchemaEvolution()),
    )
    return _metrics_df(pond.spark, {"operation": "merge", **m})


# --------------------------------------------------------------- DDL bits


def _route_drop_table(pond, p, text: str) -> DataFrame:
    child = p.child()
    parts = (
        _seq(child.nameParts())
        if _cls(child) == "UnresolvedIdentifier"
        else _relation_parts(child)
    )
    try:
        path = _target(pond, parts)
    except FileNotFoundError:
        if p.ifExists():
            return _metrics_df(
                pond.spark, {"operation": "drop_skipped", "table": ".".join(parts)}
            )
        raise
    schema = parts[0] if len(parts) == 2 else pond._schema_for(parts[0])
    table = parts[-1]
    pond.drop_table(schema, table)
    return _metrics_df(
        pond.spark, {"operation": "drop_table", "table": f"{schema}.{table}"}
    )


def _lit_val(e):
    """Python value of a literal (or named) CALL argument."""
    if _cls(e) == "NamedArgumentExpression":
        return _lit_val(e.value())
    if _cls(e) == "UnaryMinus":
        return -_lit_val(e.child())
    sql = e.sql()
    if sql.startswith("'") and sql.endswith("'"):
        return sql[1:-1].replace("\\'", "'").replace("\\\\", "\\")
    if sql.lower() in ("true", "false"):
        return sql.lower() == "true"
    # Catalyst renders typed numeric literals with a suffix (0.0BD, 3L...)
    num = re.sub(r"(BD|[LSYDF])$", "", sql, flags=re.IGNORECASE)
    try:
        return int(num)
    except ValueError:
        return float(num)


def _route_call(pond, p, text: str) -> DataFrame:
    """CALL <proc>(table, ...): the table-maintenance procedures Delta
    users run as SQL — optimize, vacuum, restore, checkpoint,
    cleanup_log. First argument (positional or `tbl =>`) names the pond
    table; remaining arguments map onto the engine function's keywords."""
    from .delta import dml
    from .delta.writer import write_checkpoint

    proc = p.procedure()
    pname = ".".join(_seq(proc.nameParts())).lower()
    if pname.startswith("pond."):
        pname = pname[5:]
    pos: list = []
    kw: dict = {}
    for a in _seq(p.args()):
        if _cls(a) == "NamedArgumentExpression":
            kw[a.key().lower()] = _lit_val(a)
        else:
            pos.append(_lit_val(a))
    tbl = kw.pop("tbl", kw.pop("table", None))
    if tbl is None:
        if not pos:
            raise ValueError(f"CALL {pname}: missing table argument")
        tbl = pos.pop(0)
    path = _target(pond, str(tbl).split("."))

    def take(key, default=None):
        # named wins; a positional for the same slot is a CONFLICT, not
        # silently discarded
        if key in kw:
            if pos:
                raise ValueError(
                    f"CALL {pname}: positional and named value for {key!r}"
                )
            return kw.pop(key)
        return pos.pop(0) if pos else default

    if pname == "optimize":
        zo = kw.pop("zorder_by", None)
        if zo is not None:
            zo = [c.strip() for c in str(zo).split(",")]
        size = take("target_file_size", 128 * 1024 * 1024)
        m = dml.compact(pond.spark, path, target_file_size=int(size), zorder_by=zo)
    elif pname == "vacuum":
        hours = take("retention_hours")
        m = dml.vacuum(
            path,
            retention_hours=None if hours is None else float(hours),
            dry_run=bool(kw.pop("dry_run", False)),
            spark=pond.spark,
        )
    elif pname == "restore":
        m = dml.restore_table(
            path,
            version=take("version"),
            timestamp_millis=kw.pop("timestamp_millis", None),
        )
    elif pname == "reorg_purge":
        m = dml.reorg_purge(pond.spark, path)
    elif pname == "checkpoint":
        v = write_checkpoint(
            path, v2=bool(kw.pop("v2", False)), spark=pond.spark
        )
        m = {"checkpoint_version": v}
    elif pname == "cleanup_log":
        from .delta.writer import cleanup_log

        h = kw.pop("retention_hours", None)
        m = cleanup_log(path, retention_hours=None if h is None else float(h))
    elif pname == "compact_log":
        from .delta.writer import compact_log

        start = take("start_version")
        end = take("end_version")
        if start is None or end is None:
            raise ValueError(
                "CALL compact_log: start_version and end_version required"
            )
        out = compact_log(path, int(start), int(end))
        m = {"compacted": os.path.basename(out)}
    else:
        raise ValueError(
            f"unknown procedure {pname!r} (optimize, vacuum, restore, "
            "reorg_purge, checkpoint, cleanup_log, compact_log)"
        )
    if kw or pos:
        raise ValueError(f"CALL {pname}: unused arguments {pos} {kw}")
    return _metrics_df(pond.spark, {"operation": pname, **{k: v for k, v in m.items() if not isinstance(v, (list, dict))}})


def _route_drop_namespace(pond, p, text: str) -> DataFrame:
    parts = _seq(p.namespace().multipartIdentifier())
    if len(parts) != 1 or parts[0] not in pond.list_schemas():
        raise _NotPond(".".join(parts))  # maybe a session-catalog database
    tables = pond.list_tables(parts[0])
    if tables and not p.cascade():
        raise ValueError(
            f"schema {parts[0]} is not empty ({tables}); use CASCADE"
        )
    # fs facade, not shutil: a URI pond root (file:///…, s3a://…) is not
    # an OS path (same class as the CREATE-route fix, round-11 review)
    pond._fs.delete(os.path.join(pond.root, parts[0]), recursive=True)

    DeltaLog.clear_cache()
    return _metrics_df(
        pond.spark, {"operation": "drop_schema", "schema": parts[0]}
    )


def _route_create_namespace(pond, p, text: str) -> DataFrame:
    parts = _seq(p.name().multipartIdentifier())
    if len(parts) != 1:
        raise ValueError("pond schemas are single-level")
    try:
        existing = pond.list_schemas()
    except FileNotFoundError:
        existing = []  # fresh pond: root dir not created yet
    if parts[0] in existing:
        if p.ifNotExists():
            return _metrics_df(
                pond.spark, {"operation": "schema_exists", "schema": parts[0]}
            )
        raise ValueError(f"schema {parts[0]} already exists")
    pond.create_schema(parts[0])
    return _metrics_df(
        pond.spark, {"operation": "create_schema", "schema": parts[0]}
    )


# ----------------------------------------------------- ALTER TABLE family


def _field_name(fn) -> str:
    parts = _seq(fn.name())
    if len(parts) != 1:
        raise ValueError(
            f"nested field DDL unsupported: {'.'.join(parts)}"
        )
    return parts[0]


def _route_add_columns(pond, p, text: str) -> DataFrame:
    from pyspark.sql import types as T

    from .delta.writer import add_columns

    path = _target(pond, _relation_parts(p.table()))
    fields = []
    positions: list[tuple[str, str | None]] = []  # (col, after|None=FIRST)
    for c in _seq(p.columnsToAdd()):
        name = _seq(c.name())
        if len(name) != 1:
            raise ValueError("nested ADD COLUMNS unsupported")
        fields.append(f"{name[0]} {c.dataType().sql()}")
        pos = c.position()
        if pos.isDefined():
            inner = pos.get().position()
            positions.append(
                (
                    name[0],
                    inner.column()
                    if inner.getClass().getSimpleName() == "After"
                    else None,
                )
            )
    version = add_columns(
        path,
        T.StructType.fromDDL(", ".join(fields)),
        positions=positions or None,
    )
    return _metrics_df(
        pond.spark, {"operation": "add_columns", "version": version}
    )


def _route_rename_column(pond, p, text: str) -> DataFrame:
    from .delta.writer import rename_column

    path = _target(pond, _relation_parts(p.table()))
    version = rename_column(path, _field_name(p.column()), p.newName())
    return _metrics_df(
        pond.spark, {"operation": "rename_column", "version": version}
    )


def _route_drop_columns(pond, p, text: str) -> DataFrame:
    from .delta.writer import drop_column

    path = _target(pond, _relation_parts(p.table()))
    version = None
    for c in _seq(p.columnsToDrop()):
        version = drop_column(path, _field_name(c))
    return _metrics_df(
        pond.spark, {"operation": "drop_columns", "version": version}
    )


def _route_alter_columns(pond, p, text: str) -> DataFrame:
    """ALTER TABLE t ALTER COLUMN c TYPE wider | COMMENT 'txt' |
    SET/DROP NOT NULL | SET/DROP DEFAULT expr — one spec per column."""
    from .delta.writer import alter_column_type

    path = _target(pond, _relation_parts(p.table()))
    version = None
    op = "alter_column"
    for spec in _seq(p.specs()):
        col = _field_name(spec.column())
        nd = spec.newDataType()
        if nd.isDefined():
            version = alter_column_type(path, col, nd.get().sql())
            op = "alter_column_type"
            continue
        nc = spec.newComment()
        if nc.isDefined():
            version = _alter_field_metadata(
                path, col, {"comment": nc.get()}, "CHANGE COLUMN COMMENT"
            )
            op = "alter_column_comment"
            continue
        nn = spec.newNullability()
        if nn.isDefined():
            version = _alter_column_nullability(pond, path, col, bool(nn.get()))
            op = "alter_column_nullability"
            continue
        if spec.dropDefault():
            version = _alter_field_metadata(
                path, col, {"CURRENT_DEFAULT": None}, "DROP DEFAULT"
            )
            op = "alter_column_drop_default"
            continue
        de = spec.newDefaultExpression()
        if de.isDefined():
            version = _alter_column_set_default(
                pond, path, col, de.get().originalSQL()
            )
            op = "alter_column_set_default"
            continue
        np = spec.newPosition()
        if np.isDefined():
            inner = np.get().position()
            after = (
                inner.column()
                if inner.getClass().getSimpleName() == "After"
                else None  # First
            )
            version = _alter_column_position(path, col, after)
            op = "alter_column_position"
            continue
        raise ValueError(f"unsupported ALTER COLUMN spec on {col}")
    return _metrics_df(pond.spark, {"operation": op, "version": version})


def _alter_field_metadata(
    path: str, col: str, updates: dict, operation: str
) -> int:
    """Metadata-only commit mutating one top-level field's metadata keys
    (None value = remove the key)."""
    from .delta.writer import _commit_metadata_change

    snap = DeltaLog(path).header()
    if col not in {f.name for f in snap.schema.fields}:
        raise ValueError(f"no such column: {col}")
    schema_obj = json.loads(snap.metadata["schemaString"])
    for f in schema_obj["fields"]:
        if f["name"] == col:
            meta = dict(f.get("metadata") or {})
            for k, v in updates.items():
                if v is None:
                    meta.pop(k, None)
                else:
                    meta[k] = v
            f["metadata"] = meta
    md = dict(snap.metadata)
    md["schemaString"] = json.dumps(schema_obj, separators=(",", ":"))
    return _commit_metadata_change(
        path, operation, {"column": col}, md, snap.version + 1, protocol=snap.protocol)


def _alter_column_position(path: str, col: str, after: str | None) -> int:
    """ALTER COLUMN c FIRST | AFTER x: reorder top-level columns —
    metadata-only (readers project by name; parquet layout is untouched,
    which is why this is safe at any table size)."""
    from .delta.writer import _commit_metadata_change

    snap = DeltaLog(path).header()
    names = [f.name for f in snap.schema.fields]
    if col not in names:
        raise ValueError(f"no such column: {col}")
    if after is not None and after not in names:
        raise ValueError(f"no such column: {after}")
    if after == col:
        raise ValueError(f"cannot position {col} after itself")
    schema_obj = json.loads(snap.metadata["schemaString"])
    by_name = {f["name"]: f for f in schema_obj["fields"]}
    order = [n for n in names if n != col]
    idx = 0 if after is None else order.index(after) + 1
    order.insert(idx, col)
    schema_obj["fields"] = [by_name[n] for n in order]
    md = dict(snap.metadata)
    md["schemaString"] = json.dumps(schema_obj, separators=(",", ":"))
    return _commit_metadata_change(
        path,
        "CHANGE COLUMN POSITION",
        {"column": col, "position": "FIRST" if after is None else f"AFTER {after}"},
        md,
        snap.version + 1, protocol=snap.protocol)


def _alter_column_nullability(pond, path: str, col: str, nullable: bool) -> int:
    """DROP NOT NULL (relax — always safe) / SET NOT NULL (tighten —
    must prove no existing NULLs first, one limit(1) probe)."""
    from .delta.table import DeltaTable
    from .delta.writer import _commit_metadata_change

    snap = DeltaLog(path).header()
    if col not in {f.name for f in snap.schema.fields}:
        raise ValueError(f"no such column: {col}")
    if not nullable:
        from pyspark.sql import functions as F

        # the probe reads DATA, so it must go through the light-planned
        # DeltaTable read — a header state fed to read_snapshot would
        # scan zero rows and accept NULL-holding columns (the
        # add_check_constraint lesson, writer.py:1177)
        bad = (
            DeltaTable(pond.spark, path)
            .to_df()
            .filter(F.col(col).isNull())
            .limit(1)
            .collect()
        )
        if bad:
            raise ValueError(
                f"cannot SET NOT NULL on {col}: existing rows hold NULL"
            )
    schema_obj = json.loads(snap.metadata["schemaString"])
    for f in schema_obj["fields"]:
        if f["name"] == col:
            f["nullable"] = nullable
    md = dict(snap.metadata)
    md["schemaString"] = json.dumps(schema_obj, separators=(",", ":"))
    return _commit_metadata_change(
        path,
        "SET NOT NULL" if not nullable else "DROP NOT NULL",
        {"column": col},
        md,
        snap.version + 1, protocol=snap.protocol)


def _alter_column_set_default(pond, path: str, col: str, sql_text: str) -> int:
    """SET DEFAULT expr: stamps CURRENT_DEFAULT (governs future inserts;
    EXISTS_DEFAULT is untouched — it only describes rows written before
    the column existed) and declares the allowColumnDefaults feature."""
    from .delta.writer import (
        _commit_metadata_change,
        _protocol_upgrade_action,
    )

    snap = DeltaLog(path).header()
    if col not in {f.name for f in snap.schema.fields}:
        raise ValueError(f"no such column: {col}")
    # the default must evaluate (and be constant-foldable) up front
    pond.spark.sql(f"SELECT {sql_text}").collect()
    schema_obj = json.loads(snap.metadata["schemaString"])
    for f in schema_obj["fields"]:
        if f["name"] == col:
            meta = dict(f.get("metadata") or {})
            meta["CURRENT_DEFAULT"] = sql_text
            f["metadata"] = meta
    md = dict(snap.metadata)
    md["schemaString"] = json.dumps(schema_obj, separators=(",", ":"))
    upgrade = _protocol_upgrade_action(
        snap.protocol, writer_features=("allowColumnDefaults",)
    )
    return _commit_metadata_change(
        path,
        "SET DEFAULT",
        {"column": col, "default": sql_text},
        md,
        snap.version + 1,
        extra_actions=[upgrade] if upgrade else None, protocol=snap.protocol)


def _route_cluster_by(pond, p, text: str) -> DataFrame:
    """ALTER TABLE t CLUSTER BY (cols) | NONE: change (or retire) the
    liquid-clustering policy — pure domain-metadata commit; the layout
    actually changes at the next OPTIMIZE, which reads the policy."""
    from .delta.writer import set_domain_metadata

    path = _target(pond, _relation_parts(p.table()))
    spec = p.clusterBySpec()
    if spec.isDefined():
        names = [c.toString() for c in _seq(spec.get().columnNames())]
        snap = DeltaLog(path).header()
        known = {f.name for f in snap.schema.fields}
        missing = [n for n in names if n not in known]
        if missing:
            raise ValueError(
                f"CLUSTER BY column(s) not in schema: {', '.join(missing)}"
            )
        version = set_domain_metadata(
            path,
            "delta.clustering",
            json.dumps({"clusteringColumns": names}, separators=(",", ":")),
        )
        shown = ", ".join(names)
    else:
        version = set_domain_metadata(
            path, "delta.clustering", None, removed=True
        )
        shown = "NONE"
    return _metrics_df(
        pond.spark,
        {"operation": "cluster_by", "columns": shown, "version": version},
    )


def _route_set_props(pond, p, text: str) -> DataFrame:
    from .delta.writer import enable_column_mapping, set_table_properties

    path = _target(pond, _relation_parts(p.table()))
    jmap = p.properties()
    props = {
        k: jmap.get(k).get() for k in _seq(jmap.keys().toList())
    }
    version = None
    # Delta's documented way to turn on column mapping IS this statement:
    # it needs the dedicated path (field ids/physical names get stamped).
    if "delta.columnMapping.mode" in props:
        mode = props.pop("delta.columnMapping.mode")
        if mode == "name":
            version = enable_column_mapping(path)
        else:
            raise ValueError(
                f"delta.columnMapping.mode={mode!r} unsupported "
                "('name' is the only supported mapping mode)"
            )
    if props:
        version = set_table_properties(path, props)
    return _metrics_df(
        pond.spark, {"operation": "set_tblproperties", "version": version}
    )


def _route_unset_props(pond, p, text: str) -> DataFrame:
    from .delta.writer import unset_table_properties

    path = _target(pond, _relation_parts(p.table()))
    version = unset_table_properties(path, _seq(p.propertyKeys()))
    return _metrics_df(
        pond.spark, {"operation": "unset_tblproperties", "version": version}
    )


# --------------------------------------------------------- inspection bits


def _route_show_tables(pond, p, text: str) -> DataFrame:
    # plain `SHOW TABLES` parses its namespace as CurrentNamespace (no
    # identifier parts); `SHOW TABLES IN x` as UnresolvedNamespace
    try:
        ns = _seq(p.namespace().multipartIdentifier())
    except Exception:
        ns = []
    pond_schemas = pond.list_schemas()
    if ns and (len(ns) != 1 or ns[0] not in pond_schemas):
        # SHOW TABLES IN <session-catalog db>: not ours — fall through to
        # spark.sql instead of raising FileNotFoundError from listdir
        raise _NotPond(".".join(ns))
    schemas = [ns[0]] if ns else pond_schemas
    rows = [
        Row(namespace=s, tableName=t)
        for s in schemas
        for t in pond.list_tables(s)
    ]
    if not ns:
        # plain SHOW TABLES: session temp views / tables are visible too
        pond_bound = getattr(pond, "_pond_bare_views", set())
        for r in pond.spark.sql("SHOW TABLES").collect():
            n = str(r.tableName)
            if not n.startswith("__pond") and n not in pond_bound:
                rows.append(Row(namespace=r.namespace, tableName=n))
    schema = "namespace string, tableName string"
    return pond.spark.createDataFrame(rows, schema)


def _route_describe(pond, p, text: str) -> DataFrame:
    path = _target(pond, _relation_parts(p.relation()))
    from .delta.table import DeltaTable

    if pond._is_delta_dir(path):
        fields = DeltaTable(pond.spark, path).schema().fields
    else:
        fields = pond.spark.read.parquet(path).schema.fields
    rows = [
        Row(col_name=f.name, data_type=f.dataType.simpleString(), comment=None)
        for f in fields
    ]
    return pond.spark.createDataFrame(
        rows, "col_name string, data_type string, comment string"
    )


def _route_show_tblproperties(pond, p, text: str) -> DataFrame:
    path = _target(pond, _relation_parts(p.table()))
    cfg = DeltaLog(normalize_table_path(path)).header().metadata.get(
        "configuration"
    ) or {}
    key = _opt(p.propertyKey())
    if key is not None:
        cfg = {str(key): cfg.get(str(key))}
        if cfg[str(key)] is None:
            cfg = {}
    rows = [Row(key=k, value=str(v)) for k, v in sorted(cfg.items())]
    return pond.spark.createDataFrame(rows, "key string, value string")


def _route_create_table_like(pond, p, text: str) -> DataFrame:
    """CREATE TABLE t2 LIKE t1: empty table with the source's schema,
    partition columns and table properties — no data."""
    from .delta.writer import write_delta

    def _ti_parts(ti) -> list[str]:
        db = _opt(ti.database())
        return ([str(db)] if db is not None else []) + [str(ti.table())]

    tgt = _ti_parts(p.targetTable())
    if len(tgt) != 2 or tgt[0] not in pond.list_schemas():
        raise _NotPond(".".join(tgt))
    schema, table = tgt
    if f"{schema}.{table}" in pond.list_views() or table in pond.list_views():
        raise ValueError(f"a view named {schema}.{table} already exists")
    if table in pond.list_tables(schema):
        if p.ifNotExists():
            return _metrics_df(
                pond.spark,
                {"operation": "create_like_skipped", "table": f"{schema}.{table}"},
            )
        raise ValueError(f"table {schema}.{table} already exists")
    src_path = _target(pond, _ti_parts(p.sourceTable()))
    if pond._is_delta_dir(src_path):
        snap = DeltaLog(normalize_table_path(src_path)).header()
        st, part_cols = snap.schema, list(snap.partition_columns)
        config = dict(snap.metadata.get("configuration") or {})
    else:  # plain-parquet source: schema only
        st, part_cols, config = (
            pond.spark.read.parquet(src_path).schema,
            [],
            {},
        )
    path = _mk_table_dir(pond, schema, table)
    empty = pond.spark.createDataFrame([], st)
    version = write_delta(
        empty, path, partition_by=part_cols or None,
        configuration=config or None,
    )
    return _metrics_df(
        pond.spark,
        {"operation": "create_like", "version": version, "table": f"{schema}.{table}"},
    )


def _route_rename_table(pond, p, text: str) -> DataFrame:
    """ALTER TABLE t RENAME TO t2: in the storage-layout catalog a table
    IS its directory, so rename = one atomic directory move (any table
    size; the Delta log travels with it because add paths are relative)."""
    src_parts = _relation_parts(p.child())
    src_name = ".".join(src_parts)
    dst_parts0 = _seq(p.newName())
    # ALTER VIEW v RENAME TO v2 parses to the same node: pond views rename
    # in the view catalog (key move), not on disk
    if src_name in pond.list_views():
        new_name = ".".join(dst_parts0)
        # all existence/collision checks INSIDE the critical section: a
        # concurrent DROP VIEW of src or CREATE VIEW of new_name between
        # check and move must surface, not corrupt the catalog
        with pond._views_lock():
            views = pond._load_views()
            if src_name not in views:
                raise FileNotFoundError(f"no such view: {src_name}")
            if new_name in views:
                raise ValueError(f"view {new_name} already exists")
            np_ = new_name.split(".")
            if len(np_) == 2 and np_[0] not in pond.list_schemas():
                raise FileNotFoundError(f"no such schema: {np_[0]}")
            # same table-name collision rule create_view enforces
            if (len(np_) == 2 and np_[1] in pond.list_tables(np_[0])) or (
                len(np_) == 1
                and any(
                    new_name in pond.list_tables(s) for s in pond.list_schemas()
                )
            ):
                raise ValueError(f"a table named {new_name} already exists")
            views[new_name] = views.pop(src_name)
            pond._save_views(views)
        return _metrics_df(
            pond.spark, {"operation": "rename_view", "view": new_name}
        )
    path = _target(pond, src_parts)
    dst_parts = dst_parts0
    if len(dst_parts) == 1:
        schema = os.path.basename(os.path.dirname(path))
        dst_parts = [schema, dst_parts[0]]
    if len(dst_parts) != 2 or dst_parts[0] not in pond.list_schemas():
        raise _NotPond(".".join(dst_parts))
    d_schema, d_table = dst_parts
    if d_table in pond.list_tables(d_schema):
        raise ValueError(f"table {d_schema}.{d_table} already exists")
    if f"{d_schema}.{d_table}" in pond.list_views() or d_table in pond.list_views():
        raise ValueError(f"a view named {d_schema}.{d_table} already exists")
    dst = os.path.join(pond.root, d_schema, d_table)
    # fs facade, not shutil (URI pond roots; round-11 review)
    pond._fs.move(path, dst)
    DeltaLog.clear_cache()
    # a stale pond-bound bare view for the old name must not linger
    old_bare = src_parts[-1]
    if old_bare in getattr(pond, "_pond_bare_views", set()):
        pond.spark.catalog.dropTempView(old_bare)
        pond._pond_bare_views.discard(old_bare)
    return _metrics_df(
        pond.spark,
        {"operation": "rename_table", "table": f"{d_schema}.{d_table}"},
    )


def _route_alter_view_as(pond, p, text: str) -> DataFrame:
    """ALTER VIEW v AS query: replace a pond view's defining SQL (session
    temp views fall through to spark.sql)."""
    parts = _seq(p.child().multipartIdentifier())
    name = ".".join(parts)
    if name not in pond.list_views():
        raise _NotPond(name)
    qtext = str(p.originalText())
    pond.create_view(name, qtext, replace=True)
    return _metrics_df(pond.spark, {"operation": "alter_view", "view": name})


def _route_show_create_table(pond, p, text: str) -> DataFrame:
    """SHOW CREATE TABLE: render re-runnable DDL from the snapshot —
    columns (with NOT NULL and comments), partitioning, properties and
    the table comment."""
    parts = _relation_parts(p.child())
    path = _target(pond, parts)
    name = ".".join(parts) if len(parts) == 2 else parts[0]
    if pond._is_delta_dir(path):
        snap = DeltaLog(normalize_table_path(path)).header()
        st, part_cols = snap.schema, list(snap.partition_columns)
        md = snap.metadata
        config = dict(md.get("configuration") or {})
        comment = md.get("description")
        using = "delta"
    else:
        st = pond.spark.read.parquet(path).schema
        part_cols, config, comment, using = [], {}, None, "parquet"
    cols = []
    for f in st.fields:
        c = f"  {f.name} {f.dataType.simpleString().upper()}"
        if not f.nullable:
            c += " NOT NULL"
        meta = f.metadata or {}
        gen = meta.get("delta.generationExpression")
        if gen:
            c += f" GENERATED ALWAYS AS ({gen})"
        elif "delta.identity.start" in meta:
            c += (
                " GENERATED ALWAYS AS IDENTITY (START WITH "
                f"{meta['delta.identity.start']} INCREMENT BY "
                f"{meta.get('delta.identity.step', 1)})"
            )
        dflt = meta.get("CURRENT_DEFAULT")
        if dflt:
            c += f" DEFAULT {dflt}"
        fc = meta.get("comment")
        if fc:
            c += f" COMMENT '{fc}'"
        cols.append(c)
    ddl = f"CREATE TABLE {name} (\n" + ",\n".join(cols) + f"\n)\nUSING {using}"
    if part_cols:
        ddl += f"\nPARTITIONED BY ({', '.join(part_cols)})"
    if pond._is_delta_dir(path):
        dm = snap.domain_metadata.get("delta.clustering")
        if dm:
            try:
                cc = _json_loads_cols(dm)
            except ValueError:
                cc = None
            if cc:
                ddl += f"\nCLUSTER BY ({', '.join(cc)})"
    if comment:
        ddl += f"\nCOMMENT '{comment}'"
    shown = {k: v for k, v in sorted(config.items())}
    if shown:
        props = ", ".join(f"'{k}' = '{v}'" for k, v in shown.items())
        ddl += f"\nTBLPROPERTIES ({props})"
    return pond.spark.createDataFrame(
        [Row(createtab_stmt=ddl)], "createtab_stmt string"
    )


def _json_loads_cols(dm: str) -> list[str] | None:
    cols = json.loads(dm).get("clusteringColumns")
    return list(cols) if cols else None


def _route_comment_on_table(pond, p, text: str) -> DataFrame:
    """COMMENT ON TABLE t IS 'txt' | NULL -> metaData.description (the
    Delta spec's table-comment field)."""
    from .delta.writer import set_table_comment

    path = _target(pond, _seq(p.child().multipartIdentifier()))
    comment = str(p.comment()) or None  # parser renders IS NULL as ""
    version = set_table_comment(path, comment)
    return _metrics_df(
        pond.spark, {"operation": "comment_on_table", "version": version}
    )


def _route_show_columns(pond, p, text: str) -> DataFrame:
    from .delta.table import DeltaTable

    path = _target(pond, _relation_parts(p.child()))
    if pond._is_delta_dir(path):
        fields = DeltaTable(pond.spark, path).schema().fields
    else:
        fields = pond.spark.read.parquet(path).schema.fields
    return pond.spark.createDataFrame(
        [Row(col_name=f.name) for f in fields], "col_name string"
    )


def _route_show_partitions(pond, p, text: str) -> DataFrame:
    from .delta.table import DeltaTable

    path = _target(pond, _relation_parts(p.table()))
    parts = DeltaTable(pond.spark, path).partitions()
    rows = [
        Row(partition="/".join(f"{k}={v}" for k, v in sorted(pv.items())))
        for pv in parts
    ]
    return pond.spark.createDataFrame(rows, "partition string")


def _route_create_view(pond, p, text: str) -> DataFrame:
    """CREATE [OR REPLACE] VIEW [IF NOT EXISTS] name AS query — stored as
    SQL text in the pond's storage-layout catalog and re-resolved on
    every reference (catalog.create_view). Explicit TEMP[ORARY] views
    parse to CreateViewCommand and never reach this route."""
    parts = _seq(p.child().nameParts())
    if len(parts) > 2 or (
        len(parts) == 2 and parts[0] not in pond.list_schemas()
    ):
        raise _NotPond(".".join(parts))
    qtext = _opt(p.originalText())
    if qtext is None:
        raise ValueError("cannot recover the view's defining query text")
    name = ".".join(parts)
    pond.create_view(
        name,
        qtext,
        replace=bool(p.replace()),
        if_not_exists=bool(p.allowExisting()),
    )
    return _metrics_df(pond.spark, {"operation": "create_view", "view": name})


def _route_drop_view(pond, p, text: str) -> DataFrame:
    parts = _seq(p.child().nameParts())
    name = ".".join(parts)
    if name not in pond.list_views():
        # a session temp view (or unknown): spark.sql handles/reports it
        raise _NotPond(name)
    pond.drop_view(name, if_exists=bool(p.ifExists()))
    return _metrics_df(pond.spark, {"operation": "drop_view", "view": name})


def _route_show_views(pond, p, text: str) -> DataFrame:
    try:
        ns = _seq(p.namespace().multipartIdentifier())
    except Exception:
        ns = []
    if ns and (len(ns) != 1 or ns[0] not in pond.list_schemas()):
        raise _NotPond(".".join(ns))
    rows = []
    for name in sorted(pond.list_views()):
        parts = name.split(".")
        schema = parts[0] if len(parts) == 2 else ""
        if ns and schema != ns[0]:
            continue
        rows.append(Row(namespace=schema, viewName=parts[-1]))
    if not ns:
        pond_bound = getattr(pond, "_pond_bare_views", set())
        for r in pond.spark.sql("SHOW VIEWS").collect():
            n = str(r.viewName)
            # same filter as _route_show_tables: pond-bound bare aliases
            # are internal plumbing, not session views
            if not n.startswith("__pond") and n not in pond_bound:
                rows.append(Row(namespace=str(r.namespace), viewName=n))
    return pond.spark.createDataFrame(
        rows, "namespace string, viewName string"
    )


_DESCRIBE_HISTORY_RE = re.compile(
    r"(?is)^\s*DESC(?:RIBE)?\s+HISTORY\s+([\w.`]+)\s*;?\s*$"
)

# Delta-SQL maintenance sugar Spark's parser rejects outright — matched by
# text like DESCRIBE HISTORY, routed onto the same engine functions the
# CALL procedures use (optimize/vacuum/restore are what a warehouse user
# types most after DML)
_DESCRIBE_DETAIL_RE = re.compile(
    r"(?is)^\s*DESC(?:RIBE)?\s+DETAIL\s+([\w.`]+)\s*;?\s*$"
)
_OPTIMIZE_RE = re.compile(
    r"(?is)^\s*OPTIMIZE\s+([\w.`]+)"
    r"(?:\s+WHERE\s+(.+?))?"
    r"(?:\s+ZORDER\s+BY\s*\(\s*([\w`,\s]+?)\s*\))?\s*;?\s*$"
)
_REORG_RE = re.compile(
    r"(?is)^\s*REORG\s+TABLE\s+([\w.`]+)"
    r"(?:\s+WHERE\s+(.+?))?"
    r"\s+APPLY\s*\(\s*PURGE\s*\)\s*;?\s*$"
)
_DROP_FEATURE_RE = re.compile(
    r"(?is)^\s*ALTER\s+TABLE\s+([\w.`]+)\s+DROP\s+FEATURE\s+`?(\w+)`?"
    r"(\s+TRUNCATE\s+HISTORY)?\s*;?\s*$"
)
_ANALYZE_RE = re.compile(
    r"(?is)^\s*ANALYZE\s+TABLE\s+([\w.`]+)\s+COMPUTE\s+STATISTICS"
    r"(\s+NOSCAN)?"
    r"(?:\s+FOR\s+(ALL\s+COLUMNS|COLUMNS\s+[\w`,\s]+?))?\s*;?\s*$"
)
_VACUUM_RE = re.compile(
    r"(?is)^\s*VACUUM\s+([\w.`]+)"
    r"(?:\s+RETAIN\s+(\d+(?:\.\d+)?)\s+HOURS?)?(\s+DRY\s+RUN)?\s*;?\s*$"
)
_RESTORE_RE = re.compile(
    r"(?is)^\s*RESTORE\s+(?:TABLE\s+)?([\w.`]+)\s+TO\s+"
    r"(?:VERSION\s+AS\s+OF\s+(\d+)|TIMESTAMP\s+AS\s+OF\s+'([^']+)')\s*;?\s*$"
)
_CONVERT_RE = re.compile(
    r"(?is)^\s*CONVERT\s+TO\s+DELTA\s+"
    r"(?:parquet\s*\.\s*`([^`]+)`|([\w.`]+))"
    r"(?:\s+PARTITIONED\s+BY\s*\(\s*([^)]*?)\s*\))?\s*;?\s*$"
)
# Delta CLONE statement (Spark's parser rejects it — text-routed):
# CREATE [OR REPLACE] TABLE [IF NOT EXISTS] dst [SHALLOW|DEEP] CLONE src
#   [VERSION AS OF n | TIMESTAMP AS OF 'ts']
_CLONE_RE = re.compile(
    r"(?is)^\s*CREATE\s+(OR\s+REPLACE\s+)?TABLE\s+(IF\s+NOT\s+EXISTS\s+)?"
    r"([\w.`]+)\s+(?:(SHALLOW|DEEP)\s+)?CLONE\s+([\w.`]+)"
    r"(?:\s+VERSION\s+AS\s+OF\s+(\d+)|\s+TIMESTAMP\s+AS\s+OF\s+'([^']+)')?"
    r"\s*;?\s*$"
)


def _route_clone(pond, m) -> DataFrame:
    """CREATE TABLE dst [SHALLOW|DEEP] CLONE src [VERSION AS OF n]: routed
    onto clone_table (delta/writer.py) — the last Delta-SQL statement that
    previously required dropping to the Python API. Default (no keyword)
    is DEEP, matching Delta's CLONE semantics; SHALLOW is the
    metadata-only variant."""
    from .delta.writer import clone_table

    or_replace = m.group(1) is not None
    if_not_exists = m.group(2) is not None
    dst_parts = [p for p in m.group(3).replace("`", "").split(".") if p]
    shallow = (m.group(4) or "").strip().lower() == "shallow"
    src_parts = [p for p in m.group(5).replace("`", "").split(".") if p]
    src_path = _target(pond, src_parts)  # must exist (FileNotFoundError)
    version = int(m.group(6)) if m.group(6) is not None else None
    if m.group(7) is not None:
        import datetime as _dt

        ts = _dt.datetime.fromisoformat(m.group(7))
        version = DeltaLog(src_path).snapshot_as_of_timestamp(
            _naive_ts_to_millis(pond.spark, ts)
        ).version
    if len(dst_parts) != 2 or dst_parts[0] not in pond.list_schemas():
        raise _NotPond(".".join(dst_parts))
    d_schema, d_table = dst_parts
    # same collision rules as CREATE TABLE: refuse view names outright
    if (
        f"{d_schema}.{d_table}" in pond.list_views()
        or d_table in pond.list_views()
    ):
        raise ValueError(f"a view named {d_schema}.{d_table} already exists")
    if d_table in pond.list_tables(d_schema):
        if if_not_exists:
            return _metrics_df(
                pond.spark,
                {"operation": "clone", "table": f"{d_schema}.{d_table}",
                 "skipped": "exists"},
            )
        if not or_replace:
            raise ValueError(f"table {d_schema}.{d_table} already exists")
        # fs facade, not shutil (URI pond roots; round-11 review)
        pond._fs.delete(pond.table_path(d_schema, d_table), recursive=True)
        DeltaLog.clear_cache()
    dst_path = os.path.join(pond.root, d_schema, d_table)
    new_version = clone_table(
        src_path, dst_path, version=version, shallow=shallow
    )
    return _metrics_df(
        pond.spark,
        {
            "operation": "clone",
            "table": f"{d_schema}.{d_table}",
            "mode": "shallow" if shallow else "deep",
            "source_version": (
                version
                if version is not None
                else DeltaLog(src_path).latest_version()
            ),
            "version": new_version,
        },
    )


def _route_describe_detail(pond, name: str) -> DataFrame:
    """DESCRIBE DETAIL <table>: one row of snapshot facts, no data I/O."""
    import json as _json

    from .delta.table import DeltaTable

    parts = [p for p in name.replace("`", "").split(".") if p]
    path = _target(pond, parts)
    d = DeltaTable(pond.spark, path).detail()
    row = Row(
        format=str(d["format"]),
        id=d["id"],
        location=str(d["location"]),
        partitionColumns=list(d["partitionColumns"]),
        numFiles=int(d["numFiles"]),
        sizeInBytes=int(d["sizeInBytes"]),
        properties=_json.dumps(d["properties"], sort_keys=True),
        minReaderVersion=int(d["minReaderVersion"] or 1),
        minWriterVersion=int(d["minWriterVersion"] or 1),
        tableFeatures=list(d["tableFeatures"]),
        clusteringColumns=list(d["clusteringColumns"]),
        version=int(d["version"]),
    )
    return pond.spark.createDataFrame(
        [row],
        "format string, id string, location string, "
        "partitionColumns array<string>, numFiles long, sizeInBytes long, "
        "properties string, minReaderVersion int, minWriterVersion int, "
        "tableFeatures array<string>, clusteringColumns array<string>, "
        "version long",
    )


def _route_maintenance_sugar(pond, query: str) -> DataFrame | None:
    """OPTIMIZE / VACUUM / RESTORE / CLONE / DESCRIBE DETAIL statements."""
    from .delta import dml as _dml

    m = _DESCRIBE_DETAIL_RE.match(query)
    if m:
        return _route_describe_detail(pond, m.group(1))
    m = _CLONE_RE.match(query)
    if m:
        return _route_clone(pond, m)
    m = _OPTIMIZE_RE.match(query)
    if m:
        path = _target(pond, m.group(1).replace("`", "").split("."))
        preds = None
        if m.group(2):
            # OPTIMIZE ... WHERE <pred>: scope compaction to the matching
            # files (partition predicates exact, stats conservative)
            from .delta.dml import _normalize_where

            preds, _cond, fully = _normalize_where(m.group(2).strip())
            if not fully or not preds:
                raise ValueError(
                    "OPTIMIZE WHERE supports simple AND-ed comparisons on "
                    f"table columns; cannot use {m.group(2).strip()!r}"
                )
        zo = (
            [c.strip(" `") for c in m.group(3).split(",")]
            if m.group(3)
            else None
        )
        res = _dml.compact(pond.spark, path, predicates=preds, zorder_by=zo)
        return _metrics_df(pond.spark, {"operation": "optimize", **res})
    m = _REORG_RE.match(query)
    if m:
        path = _target(pond, m.group(1).replace("`", "").split("."))
        preds = None
        if m.group(2):
            from .delta.dml import _normalize_where

            preds, _cond, fully = _normalize_where(m.group(2).strip())
            if not fully or not preds:
                raise ValueError(
                    "REORG ... WHERE supports simple AND-ed comparisons on "
                    f"table columns; cannot use {m.group(2).strip()!r}"
                )
        res = _dml.reorg_purge(pond.spark, path, predicates=preds)
        return _metrics_df(pond.spark, {"operation": "reorg_purge", **res})
    m = _DROP_FEATURE_RE.match(query)
    if m:
        from .delta.features import drop_feature

        path = _target(pond, m.group(1).replace("`", "").split("."))
        res = drop_feature(
            path,
            m.group(2),
            truncate_history=bool(m.group(3)),
            spark=pond.spark,
        )
        return _metrics_df(
            pond.spark,
            {
                "operation": "drop_feature",
                "feature": m.group(2),
                "version": res["version"],
                "protocol": json.dumps(res["protocol"]),
                "truncated_entries": len(res["truncated"]),
                **(
                    {"checkpoint_protection": res["checkpoint_protection"]}
                    if res.get("checkpoint_protection") is not None
                    else {}
                ),
            },
        )
    m = _ANALYZE_RE.match(query)
    if m:
        if m.group(3):
            if m.group(2):
                raise ValueError(
                    "NOSCAN cannot be combined with FOR COLUMNS "
                    "(column statistics require reading the column)"
                )
            path = _target(pond, m.group(1).replace("`", "").split("."))
            return _route_analyze_columns(pond, path, m.group(3))
        return _route_analyze(pond, m)
    m = _VACUUM_RE.match(query)
    if m:
        path = _target(pond, m.group(1).replace("`", "").split("."))
        hours = float(m.group(2)) if m.group(2) else None
        res = _dml.vacuum(
            path,
            retention_hours=hours,
            dry_run=bool(m.group(3)),
            spark=pond.spark,
        )
        return _metrics_df(
            pond.spark,
            {
                "operation": "vacuum",
                "numFiles": res.get("files_count", len(res["files"])),
                "deleted": bool(res["deleted"]),
            },
        )
    m = _CONVERT_RE.match(query)
    if m:
        from .delta.writer import convert_to_delta

        if m.group(1):  # CONVERT TO DELTA parquet.`/abs/path`
            path = m.group(1)
        else:  # a pond name pointing at a plain-parquet table dir
            path = _target(pond, m.group(2).replace("`", "").split("."))
        part_cols = None
        if m.group(3):
            # "col type, col2 type" or bare names: keep the names
            part_cols = [
                c.strip().split()[0].strip("`")
                for c in m.group(3).split(",")
                if c.strip()
            ]
        version = convert_to_delta(pond.spark, path, partition_by=part_cols)
        return _metrics_df(
            pond.spark,
            {"operation": "convert_to_delta", "version": version, "location": path},
        )
    m = _RESTORE_RE.match(query)
    if m:
        path = _target(pond, m.group(1).replace("`", "").split("."))
        if m.group(2) is not None:
            res = _dml.restore_table(path, version=int(m.group(2)))
        else:
            import datetime as _dt

            ts = _dt.datetime.fromisoformat(m.group(3))
            res = _dml.restore_table(
                path, timestamp_millis=_naive_ts_to_millis(pond.spark, ts)
            )
        return _metrics_df(pond.spark, {"operation": "restore", **res})
    return None


def _route_analyze(pond, m) -> DataFrame:
    """ANALYZE TABLE t COMPUTE STATISTICS [NOSCAN]: store rowCount /
    sizeInBytes as table properties (`pond.stats.*`) so pond.sql's table
    binding can make DETERMINISTIC broadcast decisions (catalog.py
    _maybe_broadcast_hint) instead of relying on Catalyst's estimate —
    which degrades to 'unknown/huge' the moment a scan carries a DV
    anti-join or a multi-piece union, exactly the dims that should
    broadcast. Both numbers come straight from the transaction log
    (per-file size + numRecords stats): ZERO data scan; the scan
    fallback runs only when some file lacks numRecords and NOSCAN was
    not given."""
    from .delta.log import _fast_num_records
    from .delta.writer import set_table_properties

    path = _target(pond, m.group(1).replace("`", "").split("."))
    log = DeltaLog(path)
    light = log.light_plane(spark=pond.spark)
    if light is not None:
        # the fold is pure file-metadata arithmetic: one executor-side
        # pass over files_df (size + stats numRecords + DV cardinality)
        # — ANALYZE of a 10^7-file table never builds the classic
        # driver-resident file list
        from pyspark.sql import functions as F

        row = (
            light.files_df(pond.spark)
            .select(
                "size",
                F.get_json_object("stats", "$.numRecords")
                .cast("long")
                .alias("nr"),
                F.coalesce("dv_cardinality", F.lit(0)).alias("dvc"),
            )
            .agg(
                F.coalesce(F.sum("size"), F.lit(0)).alias("size"),
                F.coalesce(F.sum("nr"), F.lit(0)).alias("rows"),
                F.count(F.when(F.col("nr").isNull(), 1)).alias("missing"),
                F.coalesce(F.sum("dvc"), F.lit(0)).alias("dv"),
            )
            .collect()[0]
        )
        size = int(row["size"])
        total_rows = int(row["rows"])
        dv_removed = int(row["dv"])
        counts_complete = int(row["missing"]) == 0
        snap_version = light.version
    else:
        snap = log.snapshot()
        size = sum(f.size for f in snap.files)
        total_rows = 0
        dv_removed = 0
        counts_complete = True  # every live file yielded numRecords
        for f in snap.files:
            nr = _fast_num_records(f)
            if nr is None:
                counts_complete = False
                break
            total_rows += int(nr)
            if f.deletion_vector:
                dv_removed += int(f.deletion_vector.get("cardinality") or 0)
        snap_version = snap.version
    n_rows: int | None
    if counts_complete:
        n_rows = total_rows - dv_removed
    elif not m.group(2):  # no per-file counts and not NOSCAN: count once
        from .delta.table import DeltaTable

        # the light-planned read — counting must not rebuild the classic
        # snapshot either
        n_rows = DeltaTable(pond.spark, path).to_df().count()
    else:
        n_rows = None
    # LIVE bytes: physical bytes scaled by the live-row fraction — the
    # number the broadcast hint plans with (a MOR-shrunk dim keeps big
    # physical files; the log knows the live table is tiny). The fraction
    # is only meaningful when the per-file loop COMPLETED: on an early
    # break total_rows/dv_removed cover only a prefix of the files, and
    # applying that partial fraction to the FULL physical size could
    # drastically underestimate live bytes and mis-fire the broadcast
    # hint on a genuinely large table — fall back to physical size.
    live_frac = (
        (total_rows - dv_removed) / total_rows
        if total_rows and counts_complete
        else 1.0
    )
    props = {
        "pond.stats.sizeInBytes": str(size),
        "pond.stats.liveBytes": str(int(size * live_frac)),
        "pond.stats.analyzedVersion": str(snap_version),
    }
    if n_rows is not None:
        props["pond.stats.numRows"] = str(n_rows)
    version = set_table_properties(path, props)
    metrics = {
        "operation": "analyze_table",
        "version": version,
        "sizeInBytes": size,
    }
    if n_rows is not None:  # never render a literal string "None"
        metrics["numRows"] = n_rows
    return _metrics_df(pond.spark, metrics)


def _route_analyze_columns(pond, path: str, cols_clause: str) -> DataFrame:
    """ANALYZE TABLE t COMPUTE STATISTICS FOR [ALL] COLUMNS c1, c2:
    per-column min / max / nullCount / distinctCount stored as
    `pond.stats.col.<name>` table properties (Spark's catalog-stats
    analog for pond tables).

    Scale design: min/max/nullCount come from the transaction log's
    per-file stats whenever they are PROVABLE (every live file carries
    stats for the column, none has a deletion vector that could have
    removed the extreme/null rows, and the type's footer stats are exact
    — numeric/temporal; partition columns are exact by construction).
    Only distinctCount — never derivable from per-file stats — and the
    unprovable columns run a SINGLE column-pruned aggregate scan, so a
    100 TB ANALYZE reads exactly the requested columns once."""
    from pyspark.sql import functions as F
    from pyspark.sql import types as T

    from .delta.log import typed_partition_values
    from .delta.reader import read_snapshot
    from .delta.stats import _coerce, _stats_value
    from .delta.writer import set_table_properties

    log = DeltaLog(path)
    # past the light threshold the per-file stats FOLD (provability walk,
    # min/max/nullCount) runs executor-side over LightSnapshot.files_df —
    # the classic driver loop below is O(table) RSS at 10^7 files
    light = log.light_plane(spark=pond.spark)
    if light is not None:
        schema = light.schema
        snap = None
        snap_version = light.version
    else:
        snap = log.snapshot()
        schema = snap.schema
        snap_version = snap.version
    field_names = [f.name for f in schema.fields]
    if re.match(r"(?is)^ALL\s+COLUMNS$", cols_clause.strip()):
        cols = field_names
    else:
        cols = [
            c.strip(" `")
            for c in re.sub(r"(?is)^COLUMNS\s+", "", cols_clause.strip()).split(",")
        ]
        missing = [c for c in cols if c not in field_names]
        if missing:
            raise ValueError(f"no such column(s): {', '.join(missing)}")

    _EXACT_STATS_TYPES = (
        T.ByteType, T.ShortType, T.IntegerType, T.LongType,
        T.FloatType, T.DoubleType, T.DecimalType, T.DateType,
        T.TimestampType, T.TimestampNTZType,
    )
    out: dict[str, dict] = {c: {} for c in cols}
    scan_minmax: list[str] = []
    if light is not None:
        out, scan_minmax = _fold_log_stats_light(
            pond.spark, light, cols, _EXACT_STATS_TYPES
        )
    for c in cols if light is None else []:
        dt = snap.schema[c].dataType
        if isinstance(dt, (T.TimestampType, T.TimestampNTZType)):
            # timestamps fold zone-free from stats strings but the LIGHT
            # plane can only surface executor-side bounds through a
            # collect() (driver-OS-zone render — the round-9 tz-coherence
            # class): both planes route them through the scan instead,
            # which runs for distinctCount anyway, so the stored strings
            # are identical by construction
            scan_minmax.append(c)
            continue
        if c in snap.partition_columns:
            # A file is excluded as fully-dead only when its DV
            # cardinality PROVABLY equals its row count. A DV-carrying
            # file with no numRecords stat is unprovable either way —
            # its partition value may have zero live rows, so the
            # log-derived extreme can't be trusted: route the column
            # through the scan fallback instead.
            unprovable = any(
                f.deletion_vector and _fast_num_records_safe(f) is None
                for f in snap.files
            )
            if unprovable:
                scan_minmax.append(c)
                continue
            vals = [
                typed_partition_values(f, snap.schema, [c])[0]
                for f in snap.files
                if not (
                    f.deletion_vector
                    and str(f.deletion_vector.get("cardinality"))
                    == str(_fast_num_records_safe(f))
                )
            ]
            nn = [v for v in vals if v is not None]
            out[c]["min"] = min(nn) if nn else None
            out[c]["max"] = max(nn) if nn else None
            # a NULL partition's null count is per-file row counts — only
            # provable with numRecords everywhere; else scan
            if any(v is None for v in vals):
                scan_minmax.append(c)  # recompute nullCount in the scan
            else:
                out[c]["nullCount"] = 0
            continue
        provable = isinstance(dt, _EXACT_STATS_TYPES) and snap.files and all(
            not f.deletion_vector
            and _stats_value(f.stats, "minValues", c) is not None
            and _stats_value(f.stats, "maxValues", c) is not None
            and _stats_value(f.stats, "nullCount", c) is not None
            for f in snap.files
        )
        if provable:
            out[c]["min"] = min(
                _coerce(_stats_value(f.stats, "minValues", c), dt)
                for f in snap.files
            )
            out[c]["max"] = max(
                _coerce(_stats_value(f.stats, "maxValues", c), dt)
                for f in snap.files
            )
            out[c]["nullCount"] = sum(
                int(_stats_value(f.stats, "nullCount", c)) for f in snap.files
            )
        else:
            scan_minmax.append(c)

    # ONE aggregate job: ndv for every column + min/max/nullCount for the
    # unprovable ones, over a scan pruned to exactly `cols`
    aggs = [
        F.approx_count_distinct(c).alias(f"__ndv__{i}")
        for i, c in enumerate(cols)
    ]
    for i, c in enumerate(cols):
        if c in scan_minmax:
            # TimestampType bounds are CAST TO STRING executor-side: the
            # cast renders in the SESSION zone deterministically, while
            # collecting a raw timestamp renders through the driver OS
            # zone (datetime.fromtimestamp) — host-dependent stored stats
            # (round-10 review; TimestampNTZ/date are zone-free already)
            mn_c, mx_c = F.min(c), F.max(c)
            if isinstance(schema[c].dataType, T.TimestampType):
                mn_c, mx_c = mn_c.cast("string"), mx_c.cast("string")
            aggs += [
                mn_c.alias(f"__mn__{i}"),
                mx_c.alias(f"__mx__{i}"),
                F.sum(F.col(c).isNull().cast("long")).alias(f"__nc__{i}"),
            ]
    if light is not None:
        # the ndv/fallback scan reads the SAME pinned light version as
        # the fold (a concurrent commit must not make distinctCount and
        # the folded min/max describe different tables). Planning
        # collects STATS-STRIPPED AddFiles from files_df — read_files
        # never consumes stats, and the stats JSON dominates AddFile
        # bytes (the 8.6 GiB classic replay is mostly stats strings), so
        # the driver holds only path/partition/DV descriptors; no capped
        # to_df() fallback that would silently re-pay the classic replay
        # at exactly the scale this route exists for
        from .delta.reader import read_files as _read_files

        fdf_scan = light.files_df(pond.spark, full=True).withColumn(
            "stats", F.lit(None).cast("string")
        )
        # a cap far above any real file count (but inside Java int —
        # DataFrame.limit's bound) keeps the ONE-parallel-job
        # CollectLimit path — uncapped means one SEQUENTIAL job per
        # checkpoint partition (4x wall at 10^7, log.py:425). The driver
        # holds stats-stripped AddFiles: O(files) with a small constant,
        # inherent to planning a full-table scan through the reader.
        files_scan = light.collect_pruned_add_files(
            pond.spark, full_df=fdf_scan, cap=2_000_000_000
        )
        scan_df = _read_files(
            pond.spark, light.to_snapshot_state(files_scan), files_scan
        )
    else:
        scan_df = read_snapshot(pond.spark, snap)
    row = scan_df.select(*cols).agg(*aggs).first()
    for i, c in enumerate(cols):
        out[c]["distinctCount"] = int(row[f"__ndv__{i}"] or 0)
        if c in scan_minmax:
            out[c]["min"] = row[f"__mn__{i}"]
            out[c]["max"] = row[f"__mx__{i}"]
            out[c]["nullCount"] = int(row[f"__nc__{i}"] or 0)

    props = {
        f"pond.stats.col.{c}": json.dumps(out[c], default=str, sort_keys=True)
        for c in cols
    }
    props["pond.stats.analyzedVersion"] = str(snap_version)
    set_table_properties(path, props)
    rows = [
        Row(
            col_name=c,
            min=None if out[c]["min"] is None else str(out[c]["min"]),
            max=None if out[c]["max"] is None else str(out[c]["max"]),
            null_count=int(out[c]["nullCount"]),
            distinct_count=int(out[c]["distinctCount"]),
        )
        for c in cols
    ]
    return pond.spark.createDataFrame(
        rows,
        "col_name string, min string, max string, "
        "null_count long, distinct_count long",
    )


def _fast_num_records_safe(f):
    from .delta.log import _fast_num_records

    try:
        return _fast_num_records(f)
    except (ValueError, TypeError):
        return None


def _fold_log_stats_light(spark, light, cols: list, exact_types) -> tuple:
    """The ANALYZE ... FOR COLUMNS per-file stats fold, EXECUTOR-side
    (round-10: the classic loop walks every AddFile driver-side — the
    last O(table)-RSS route in the SQL surface). ONE aggregate job over
    LightSnapshot.files_df(full=True) computes, per requested column,
    the provability counters and the provable min/max/nullCount the
    classic loop derives; unprovable columns land in `scan_minmax`
    exactly as classic. Returns (out, scan_minmax).

    Parity notes vs the classic fold: timestamp-typed columns route to
    the scan unconditionally — the fold would surface bounds through a
    collect(), which renders via the driver OS zone while the classic
    fold parses the stats ISO strings zone-free (the round-9
    tz-coherence class; the scan's collect behaves identically on both
    routes, so parity holds there). Columns whose PHYSICAL name is not
    a plain identifier also route to the scan: the JSON-path extraction
    the executors use cannot address them, while the classic dict
    lookup could."""
    from pyspark.sql import functions as F
    from pyspark.sql import types as T

    from .delta.types import logical_to_physical

    schema = light.schema
    part_cols = set(light.partition_columns)
    l2p = logical_to_physical(
        light.schema, light.metadata.get("configuration")
    ) or {}
    fdf = light.files_df(spark, full=True)
    has_dv = F.col("dv_json").isNotNull()
    nr = F.get_json_object("stats", "$.numRecords").cast("long")

    out: dict[str, dict] = {c: {} for c in cols}
    scan_minmax: list[str] = []
    aggs = [F.count(F.lit(1)).alias("__nf")]
    folded: dict[str, bool] = {}  # col -> is_partition
    for i, c in enumerate(cols):
        dt = schema[c].dataType
        if isinstance(dt, (T.TimestampType, T.TimestampNTZType)):
            # zone-coherence: executor-side bounds surface through a
            # collect() (OS-zone render) — both planes use the scan
            scan_minmax.append(c)
            continue
        if c in part_cols:
            pv = F.when(
                F.col("partition_values")[c] == "__HIVE_DEFAULT_PARTITION__",
                F.lit(None),
            ).otherwise(F.col("partition_values")[c])
            val = pv.cast(dt)
            fully_dead = F.coalesce(
                has_dv & (F.col("dv_cardinality") == nr), F.lit(False)
            )
            alive = ~fully_dead
            aggs += [
                F.sum((has_dv & nr.isNull()).cast("long")).alias(f"__up_{i}"),
                F.min(F.when(alive, val)).alias(f"__mn_{i}"),
                F.max(F.when(alive, val)).alias(f"__mx_{i}"),
                F.sum((alive & val.isNull()).cast("long")).alias(f"__nv_{i}"),
            ]
            folded[c] = True
            continue
        pc = l2p.get(c, c)
        if not isinstance(dt, exact_types) or not re.fullmatch(
            r"[A-Za-z0-9_]+", pc
        ):
            scan_minmax.append(c)
            continue
        mn_raw = F.get_json_object("stats", f"$.minValues.{pc}")
        mx_raw = F.get_json_object("stats", f"$.maxValues.{pc}")
        nc_raw = F.get_json_object("stats", f"$.nullCount.{pc}")
        mn, mx = mn_raw.cast(dt), mx_raw.cast(dt)
        nc = nc_raw.cast("long")
        bad = (
            has_dv
            | mn_raw.isNull()
            | mx_raw.isNull()
            | nc_raw.isNull()
            | mn.isNull()
            | mx.isNull()
            | nc.isNull()
        )
        aggs += [
            F.sum(bad.cast("long")).alias(f"__up_{i}"),
            F.min(mn).alias(f"__mn_{i}"),
            F.max(mx).alias(f"__mx_{i}"),
            F.sum(nc).alias(f"__nv_{i}"),
        ]
        folded[c] = False
    if not folded:
        return out, scan_minmax
    row = fdf.agg(*aggs).first()
    nf = int(row["__nf"] or 0)
    for i, c in enumerate(cols):
        if c not in folded:
            continue
        is_part = folded[c]
        unprov = int(row[f"__up_{i}"] or 0)
        if is_part:
            if unprov:
                scan_minmax.append(c)
                continue
            if int(row[f"__nv_{i}"] or 0):
                # NULL partition values: nullCount (and min/max) come
                # from the scan, matching the classic fallback
                scan_minmax.append(c)
                continue
            out[c]["min"] = row[f"__mn_{i}"]
            out[c]["max"] = row[f"__mx_{i}"]
            out[c]["nullCount"] = 0
        else:
            if nf == 0 or unprov:
                scan_minmax.append(c)
                continue
            out[c]["min"] = row[f"__mn_{i}"]
            out[c]["max"] = row[f"__mx_{i}"]
            out[c]["nullCount"] = int(row[f"__nv_{i}"] or 0)
    return out, scan_minmax


def _route_describe_history(pond, name: str) -> DataFrame:
    """DESCRIBE HISTORY <table>: one row per commit, newest first —
    the warehouse user's first audit query (Delta-specific syntax, so it
    is recognized BEFORE Spark's parser, which cannot parse it)."""
    import json as _json

    from .delta.table import DeltaTable

    parts = [p for p in name.replace("`", "").split(".") if p]
    path = _target(pond, parts)
    rows = []
    for c in DeltaTable(pond.spark, path).history():
        ts = c.get("timestamp")
        rows.append(
            Row(
                version=int(c["version"]),
                timestamp=(
                    None if ts is None else _millis_to_naive_ts(pond.spark, ts)
                ),
                operation=str(c.get("operation", "")),
                operationParameters=_json.dumps(
                    c.get("operationParameters") or {}, sort_keys=True
                ),
                operationMetrics=_json.dumps(
                    c.get("operationMetrics") or {}, sort_keys=True
                ),
                readVersion=(
                    int(c["readVersion"]) if c.get("readVersion") is not None else None
                ),
            )
        )
    return pond.spark.createDataFrame(
        rows,
        "version long, timestamp timestamp, operation string, "
        "operationParameters string, operationMetrics string, "
        "readVersion long",
    )


_ROUTES = {
    "InsertIntoStatement": _route_insert,
    "OverwriteByExpression": _route_overwrite_by_expr,
    "CreateTableAsSelect": _route_ctas,
    "CreateTable": _route_create_table,
    "AddCheckConstraint": _route_add_constraint,
    "DropConstraint": _route_drop_constraint,
    "DeleteFromTable": _route_delete,
    "UpdateTable": _route_update,
    "TruncateTable": _route_truncate,
    "MergeIntoTable": _route_merge,
    "DropTable": _route_drop_table,
    "CreateNamespace": _route_create_namespace,
    "DropNamespace": _route_drop_namespace,
    "Call": _route_call,
    "AddColumns": _route_add_columns,
    "AlterColumns": _route_alter_columns,
    "RenameColumn": _route_rename_column,
    "DropColumns": _route_drop_columns,
    "SetTableProperties": _route_set_props,
    "UnsetTableProperties": _route_unset_props,
    "ShowTables": _route_show_tables,
    "DescribeRelation": _route_describe,
    "ShowPartitions": _route_show_partitions,
    "ShowTableProperties": _route_show_tblproperties,
    "ShowColumns": _route_show_columns,
    "CommentOnTable": _route_comment_on_table,
    "CreateTableLikeCommand": _route_create_table_like,
    "AlterTableClusterBy": _route_cluster_by,
    "ReplaceTableAsSelect": _route_replace_ctas,
    "ReplaceTable": _route_replace_table,
    "ShowCreateTable": _route_show_create_table,
    "AlterViewAs": _route_alter_view_as,
    "RenameTable": _route_rename_table,
    "CreateView": _route_create_view,
    "DropView": _route_drop_view,
    "ShowViews": _route_show_views,
}


def route_statement(pond, query: str, jplan=None) -> DataFrame | None:
    """Execute `query` if it is a DML/DDL statement targeting the pond;
    return None for plain queries (the SELECT path handles those).
    `jplan` lets the caller pass an already-parsed plan (pond.sql parses
    once and shares it with relation-span collection)."""
    # Delta-only syntax Spark's parser rejects (DESCRIBE HISTORY/DETAIL,
    # OPTIMIZE, VACUUM, RESTORE) — the statements matched by TEXT, before
    # plan classification
    m = _DESCRIBE_HISTORY_RE.match(query)
    if m is not None:
        try:
            return _route_describe_history(pond, m.group(1))
        except _NotPond:
            return None
    try:
        routed = _route_maintenance_sugar(pond, query)
        if routed is not None:
            return routed
    except _NotPond:
        return None
    try:
        if jplan is None:
            jplan = (
                pond.spark._jsparkSession.sessionState().sqlParser().parsePlan(query)
            )
        kind = _cls(jplan)
    except Exception:
        return None  # let the SELECT path surface the parse error
    handler = _ROUTES.get(kind)
    if handler is None:
        return None
    try:
        return handler(pond, jplan, query)
    except _NotPond:
        return None  # not ours: spark.sql may know this relation
