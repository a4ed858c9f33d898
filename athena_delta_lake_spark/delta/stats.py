"""Driver-side file pruning: partition predicates + Delta min/max stats.

The reference's only optimization was partition pruning via constraint-checked
block writes (/root/reference/DeltaMetadataHandler.scala:125-137); it ignored
the per-file `stats` JSON carried by `add` actions (SURVEY §2.C). Here both
run BEFORE `spark.read`, so skipped files never appear in the scan plan —
cheaper than a Catalyst rule and effective at any scale (pruning work is
O(candidate files) driver-side metadata, no cluster I/O).

Predicates are simple conjunctive triples `(column, op, value)` with
op in {=, !=, <, <=, >, >=, in}. This is deliberately the same shape as
Spark DataSource pushdown filters; anything not expressible stays in the
Catalyst Filter that still runs on the scan output (double-filtering is
harmless, skipping is monotone-safe: a file is dropped only when it
PROVABLY contains no matching row).
"""

from __future__ import annotations

import re as _re
from typing import Any, Iterable, Sequence

from pyspark.sql import types as T

from .log import AddFile, SnapshotState
from .types import cast_partition_value

Predicate = tuple[str, str, Any]

_OPS = {"=", "==", "!=", "<", "<=", ">", ">=", "in"}


def _coerce(value: Any, dt: T.DataType) -> Any:
    """Coerce a predicate literal to the column's python-value domain."""
    import datetime

    if value is None:
        return None
    if (
        isinstance(dt, T.TimestampNTZType)
        and isinstance(value, datetime.datetime)
        and value.tzinfo is not None
    ):
        # fail fast in EVERY evaluator (python stats/partition, both
        # Spark expression builders route values through here): an
        # absolute instant has no defined order against a zoneless wall
        # clock, and the paths used to disagree (conservative keep vs
        # TypeError vs OS-zone literal)
        raise ValueError(
            "aware datetime predicate on a TIMESTAMP_NTZ column is "
            "ill-defined; pass a naive wall-clock value"
        )
    if isinstance(dt, (T.DateType,)) and isinstance(value, str):
        return datetime.date.fromisoformat(value)
    if isinstance(dt, (T.TimestampType, T.TimestampNTZType)) and isinstance(value, str):
        return datetime.datetime.fromisoformat(value)
    if isinstance(dt, (T.IntegerType, T.LongType, T.ShortType, T.ByteType)):
        return int(value)
    if isinstance(dt, (T.DoubleType, T.FloatType)):
        return float(value)
    if isinstance(dt, T.DecimalType) and not isinstance(value, bool):
        # a float pred value against a DECIMAL partition value compared
        # unequal (float 0.1 != Decimal('0.1')): lift numerics through the
        # shortest-repr string, which recovers the original decimal text
        # exactly for every value the parser's round-trip guard admits
        # (table._parse_literal rejects literals float() cannot
        # represent), and string values through Decimal directly (exact).
        # bool is excluded (an int subclass, but Decimal('True') raises;
        # the numeric fallthrough compares Decimal('1.00') == True fine).
        # Known corner outside the exact domain: Spark evaluates an
        # UNsuffixed literal against a decimal column in the DOUBLE
        # domain, which diverges from this decimal-domain compare only
        # for partition values beyond ~15 significant digits.
        import decimal

        try:
            if isinstance(value, (int, float)):
                return decimal.Decimal(str(value))
            if isinstance(value, str):
                return decimal.Decimal(value)
        except decimal.InvalidOperation:
            return value
    return value


def _stats_value(stats: dict | None, section: str, column: str) -> Any:
    if not stats:
        return None
    sec = stats.get(section)
    if not isinstance(sec, dict):
        return None
    return sec.get(column)


def _file_matches_partition(
    f: AddFile,
    schema_types: dict[str, T.DataType],
    pred: Predicate,
    tz=None,
) -> bool:
    """False only when the file's partition value provably fails `pred`.
    `tz`: resolved session tzinfo from the enclosing prune pass (per-file
    resolution would cost a py4j conf roundtrip per comparison)."""
    col, op, val = pred
    raw = f.partition_values.get(col)
    dt = schema_types[col]
    pv = cast_partition_value(raw, dt)

    def _align_ts(a, b):
        # partition wall clocks parse naive; a user's AWARE predicate
        # value must compare on the instant line — lift the naive side
        # into the session zone (matching the distributed evaluator's
        # session-zone cast) instead of raising or silently mismatching
        import datetime

        if (
            isinstance(dt, T.TimestampType)
            and isinstance(a, datetime.datetime)
            and isinstance(b, datetime.datetime)
            and (a.tzinfo is None) != (b.tzinfo is None)
        ):
            z = tz or _session_tzinfo()
            a = a.replace(tzinfo=z) if a.tzinfo is None else a
            b = b.replace(tzinfo=z) if b.tzinfo is None else b
        return a, b

    if op == "in":
        # NULL IN (...) is never TRUE under SQL three-valued logic, so a
        # NULL-partition file provably holds no matching row — exact, not
        # just conservative (metadata-only count()/min_max() rely on this).
        if pv is None:
            return False
        for v in val:
            a, b = _align_ts(pv, _coerce(v, dt))
            if a == b:
                return True
        return False
    cv = _coerce(val, dt)
    pv, cv = _align_ts(pv, cv)
    if cv is None:
        # ('col', '=', None) is the null-safe IS NULL predicate
        # (dml._normalize_where builds eqNullSafe for it); every other op
        # compared to NULL yields NULL -> no row matches.
        return op in {"=", "=="} and pv is None
    if pv is None:
        # NULL <op> literal is NULL for every comparison op including !=
        # (SQL 3VL): the file provably contains no matching row.
        return False
    if op in {"=", "=="}:
        return pv == cv
    if op == "!=":
        return pv != cv
    if op == "<":
        return pv < cv
    if op == "<=":
        return pv <= cv
    if op == ">":
        return pv > cv
    if op == ">=":
        return pv >= cv
    return True


# java.time.ZoneId.SHORT_IDS — Spark resolves these legacy three-letter
# ids through this exact public mapping, so a session configured with
# 'JST'/'PST'/... is legal and must not raise (round-9 third review)
_JAVA_SHORT_IDS = {
    "ACT": "Australia/Darwin",
    "AET": "Australia/Sydney",
    "AGT": "America/Argentina/Buenos_Aires",
    "ART": "Africa/Cairo",
    "AST": "America/Anchorage",
    "BET": "America/Sao_Paulo",
    "BST": "Asia/Dhaka",
    "CAT": "Africa/Harare",
    "CNT": "America/St_Johns",
    "CST": "America/Chicago",
    "CTT": "Asia/Shanghai",
    "EAT": "Africa/Addis_Ababa",
    "ECT": "Europe/Paris",
    "IET": "America/Indiana/Indianapolis",
    "IST": "Asia/Kolkata",
    "JST": "Asia/Tokyo",
    "MIT": "Pacific/Apia",
    "NET": "Asia/Yerevan",
    "NST": "Pacific/Auckland",
    "PLT": "Asia/Karachi",
    "PNT": "America/Phoenix",
    "PRT": "America/Puerto_Rico",
    "PST": "America/Los_Angeles",
    "SST": "Pacific/Guadalcanal",
    "VST": "Asia/Ho_Chi_Minh",
    "EST": "-05:00",
    "MST": "-07:00",
    "HST": "-10:00",
}

# strict offset grammar: hours alone, colon-separated pairs, or exactly
# HHMM — a sloppier `\d{1,2}:?` regex accepted '+05300' as +00:53:00 via
# backtracking (round-9 third review), silently shifting every naive
# timestamp by the difference from the intended zone
_TZ_OFFSET_RES = (
    _re.compile(r"([+-])(\d{1,2})"),
    _re.compile(r"([+-])(\d{1,2}):(\d{2})(?::(\d{2}))?"),
    _re.compile(r"([+-])(\d{2})(\d{2})"),
)


def _parse_tz_uncached(name: str):
    import datetime

    from zoneinfo import ZoneInfo

    try:
        return ZoneInfo(name)
    except Exception:
        pass
    s = name.strip()
    short = _JAVA_SHORT_IDS.get(s)
    if short is not None:
        return _parse_tz_uncached(short)
    if s.upper() in ("GMT", "UTC", "Z", "GMT0", "GREENWICH", "UT"):
        return datetime.timezone.utc
    body = _re.sub(r"(?i)^(?:GMT|UTC|UT)\s*", "", s)
    for rx in _TZ_OFFSET_RES:
        m = rx.fullmatch(body)
        if not m:
            continue
        g = m.groups()
        sign = 1 if g[0] == "+" else -1
        h = int(g[1])
        mnt = int(g[2]) if len(g) > 2 and g[2] else 0
        sec = int(g[3]) if len(g) > 3 and g[3] else 0
        if h > 18 or mnt > 59 or sec > 59:  # java.time.ZoneOffset limits
            break
        return datetime.timezone(
            sign * datetime.timedelta(hours=h, minutes=mnt, seconds=sec)
        )
    raise ValueError(
        f"cannot interpret spark.sql.session.timeZone={name!r}; "
        "set an IANA zone id, a Java short id, or a GMT/UTC offset form"
    )


import functools as _functools


@_functools.lru_cache(maxsize=64)
def parse_tz_name(name: str):
    """tzinfo for a Spark/Java timezone id: IANA names via ZoneInfo,
    java.time.ZoneId.SHORT_IDS (JST, PST, ...), and the fixed-offset
    forms Spark also accepts but ZoneInfo cannot parse (GMT+08:00,
    UTC+05:30, UT+8, +0830). Raises on anything else — a SILENT UTC
    fallback here means every naive timestamp predicate is interpreted
    in the wrong zone (round-9 review: the original fallback did exactly
    that for legal offset-form session zones). lru_cached — the prune
    loop resolves the zone once per distinct id."""
    return _parse_tz_uncached(name)


def _session_tzinfo(spark=None):
    """spark.sql.session.timeZone as a tzinfo (given session, else the
    active one, else UTC — session.get_spark pins UTC). Naive timestamp
    predicate values are interpreted as SESSION-local wall clock, exactly
    how Spark SQL reads a naive timestamp literal — never through the
    driver OS zone, which is what pyspark's own F.lit(naive datetime)
    would silently use."""
    import datetime

    if spark is None:
        from pyspark.sql import SparkSession

        spark = SparkSession.getActiveSession()
    if spark is None:
        return datetime.timezone.utc
    return parse_tz_name(spark.conf.get("spark.sql.session.timeZone", "UTC"))


def _to_session_wall(v, tz=None):
    """AWARE datetime -> the session zone's naive wall clock. Generated-
    partition derivation runs in the WALL-CLOCK domain: `CAST(ts AS
    DATE)` partition values are session-local dates, so deriving the UTC
    calendar date of an aware bound (e.g. a merge key range) would prune
    the wrong partition on any non-UTC session (round-9 review). Pass
    the resolved tz when a loop calls this per value — resolution costs
    a py4j conf roundtrip."""
    import datetime

    if isinstance(v, datetime.datetime) and v.tzinfo is not None:
        return v.astimezone(tz or _session_tzinfo()).replace(tzinfo=None)
    return v


def _ts_session_aware(v, dt, tz=None):
    """Naive datetime predicate value on a TimestampType column -> aware
    in the session zone (the writer's stats parse back aware-UTC, so the
    python evaluator needs both sides on the instant line). TimestampNTZ
    and already-aware values pass through untouched. Pass the resolved
    tz from per-file loops (see _to_session_wall)."""
    import datetime

    if (
        isinstance(dt, T.TimestampType)
        and not isinstance(dt, T.TimestampNTZType)
        and isinstance(v, datetime.datetime)
        and v.tzinfo is None
    ):
        return v.replace(tzinfo=tz or _session_tzinfo())
    return v


def _typed_lit(v, dt):
    """OS-independent Spark literal for a predicate value. Timestamps are
    the trap: F.lit(naive datetime) converts through the driver OS
    timezone (TimestampType.toInternal -> time.mktime), so the same
    predicate prunes differently depending on the host's /etc/localtime.
    TimestampType: naive -> a string literal cast to timestamp
    (SESSION-zone semantics, same as a SQL literal); aware -> absolute
    epoch micros (integer arithmetic — float total_seconds() drifts ±1µs
    past ~year 2255). TimestampNTZ: naive -> string cast (pure wall
    clock, zone-free); aware is rejected — an absolute instant has no
    defined order against a zoneless wall clock."""
    import datetime

    from pyspark.sql import functions as F

    if isinstance(v, datetime.datetime):
        if isinstance(dt, T.TimestampNTZType):
            if v.tzinfo is not None:
                raise ValueError(
                    "aware datetime predicate on a TIMESTAMP_NTZ column "
                    "is ill-defined; pass a naive wall-clock value"
                )
            return F.lit(v.isoformat(sep=" ")).cast(dt)
        if isinstance(dt, T.TimestampType):
            if v.tzinfo is None:
                return F.lit(v.isoformat(sep=" ")).cast(dt)
            epoch = datetime.datetime(
                1970, 1, 1, tzinfo=datetime.timezone.utc
            )
            micros = (v - epoch) // datetime.timedelta(microseconds=1)
            return F.timestamp_micros(F.lit(micros))
    return F.lit(v)


def _nonfinite_to_none(v):
    """Non-finite parsed stats bounds prove NOTHING: IEEE comparisons
    against NaN are all-false, so a foreign-written file whose stats
    record NaN min/max (this writer drops them — writer._json_safe) would
    be PRUNED while it can contain matching rows (NaN == NaN in Spark
    joins/sorts). Treat NaN and ±inf as missing stats — the file
    conservatively survives (round-8 ADVICE)."""
    import math

    return None if isinstance(v, float) and not math.isfinite(v) else v


def _file_matches_stats(
    f: AddFile,
    schema_types: dict[str, T.DataType],
    pred: Predicate,
    tz=None,
) -> bool:
    """False only when min/max/nullCount stats PROVE no row matches.
    `tz` as in _file_matches_partition."""
    col, op, val = pred
    dt = schema_types[col]
    if isinstance(dt, T.DecimalType):
        # decimal stats bounds reach here as json-parsed FLOATS — a bound
        # beyond float precision (> 17 significant digits) rounds, so a
        # "provably outside the range" verdict is not a proof. Keep the
        # file (the distributed and light prunes already exclude decimals
        # via _SAFE_PRUNE_TYPES; partition matching stays exact — the
        # partition VALUE is schema-cast from its original text).
        return True
    mn = _nonfinite_to_none(_coerce(_stats_value(f.stats, "minValues", col), dt))
    mx = _nonfinite_to_none(_coerce(_stats_value(f.stats, "maxValues", col), dt))
    if op == "in":
        if mn is None or mx is None:
            return True
        vals = [_ts_session_aware(_coerce(v, dt), dt, tz) for v in val]
        try:
            return any(v is not None and mn <= v <= mx for v in vals)
        except TypeError:
            return True  # incomparable (e.g. aware stats vs naive value)
    cv = _ts_session_aware(_coerce(val, dt), dt, tz)
    if cv is None or mn is None or mx is None:
        return True  # can't prove anything
    try:
        if op in {"=", "=="}:
            return mn <= cv <= mx
        if op == "<":
            return mn < cv
        if op == "<=":
            return mn <= cv
        if op == ">":
            return mx > cv
        if op == ">=":
            return mx >= cv
    except TypeError:
        return True  # incomparable types: keep the file
    return True  # != can't be proven false by min/max alone (unless mn==mx==cv)


# supported delta.generationExpression forms for partition-filter
# derivation — each is MONOTONE non-decreasing in its base column, so a
# range/equality predicate on the base column implies one on the
# generated partition column (delta-spark's generated-column partition
# filter optimization; the commonest timestamp-partitioned layouts)
_GEN_CAST_DATE = _re.compile(r"(?i)^\s*CAST\s*\(\s*(\w+)\s+AS\s+DATE\s*\)\s*$")
_GEN_TO_DATE = _re.compile(r"(?i)^\s*to_date\s*\(\s*(\w+)\s*\)\s*$")
_GEN_DATE_TRUNC = _re.compile(
    r"(?i)^\s*date_trunc\s*\(\s*'(year|month|day|hour)'\s*,\s*(\w+)\s*\)\s*$"
)
_GEN_YEAR = _re.compile(r"(?i)^\s*year\s*\(\s*(\w+)\s*\)\s*$")


def _trunc(unit: str):
    import datetime

    def g(v):
        if isinstance(v, datetime.datetime):
            pass
        elif isinstance(v, datetime.date):
            v = datetime.datetime(v.year, v.month, v.day)
        else:
            return None
        u = unit.lower()
        if u == "hour":
            return v.replace(minute=0, second=0, microsecond=0)
        if u == "day":
            return v.replace(hour=0, minute=0, second=0, microsecond=0)
        if u == "month":
            return v.replace(day=1, hour=0, minute=0, second=0, microsecond=0)
        return v.replace(
            month=1, day=1, hour=0, minute=0, second=0, microsecond=0
        )

    return g


def _to_date(v):
    import datetime

    if isinstance(v, datetime.datetime):
        return v.date()
    if isinstance(v, datetime.date):
        return v
    return None


def _year(v):
    import datetime

    return v.year if isinstance(v, (datetime.date, datetime.datetime)) else None


def generated_partition_derivations(snapshot: SnapshotState):
    """base column -> [(generated partition column, value mapper)] for the
    supported monotone `delta.generationExpression` forms. A predicate on
    the base column then implies one on the partition column, so the
    commonest layout — a table partitioned by `CAST(ts AS DATE)` or
    `date_trunc('day', ts)` and queried by `ts` ranges — partition-prunes
    instead of scanning everything."""
    out: dict[str, list] = {}
    part_cols = set(snapshot.partition_columns)
    for f in snapshot.schema.fields:
        if f.name not in part_cols or not f.metadata:
            continue
        expr = f.metadata.get("delta.generationExpression")
        if not expr:
            continue
        for rx, g in (
            (_GEN_CAST_DATE, _to_date),
            (_GEN_TO_DATE, _to_date),
            (_GEN_YEAR, _year),
        ):
            m = rx.match(expr)
            if m:
                out.setdefault(m.group(1), []).append((f.name, g))
                break
        else:
            m = _GEN_DATE_TRUNC.match(expr)
            if m:
                out.setdefault(m.group(2), []).append(
                    (f.name, _trunc(m.group(1)))
                )
    return out


def _derive_generated_preds(
    snapshot: SnapshotState, preds: Sequence[Predicate], spark=None
) -> list[Predicate]:
    """Extra partition predicates implied by base-column predicates through
    monotone generation expressions. `=`/`in` map exactly; `<`/`<=` relax
    to `<=` and `>`/`>=` to `>=` on the truncated value (conservative and
    correct for non-decreasing mappers); `!=` derives nothing."""
    derivs = generated_partition_derivations(snapshot)
    if not derivs:
        return []
    types = {f.name: f.dataType for f in snapshot.schema.fields}
    # derivation runs in the session's WALL-CLOCK domain (partition
    # values of CAST(ts AS DATE)/date_trunc are session-local): aware
    # bounds — e.g. merge key ranges — convert to the session wall clock
    # first, or the derived date is the UTC calendar date and prunes the
    # neighboring partition on non-UTC sessions. The tz resolves from
    # the CALLER's session when given (a multi-session driver's active
    # session may carry a different spark.sql.session.timeZone).
    tz = None

    def _gv(g, col, v):
        nonlocal tz
        if tz is None:
            tz = _session_tzinfo(spark)
        return g(_to_session_wall(_coerce(v, types[col]), tz))

    extra: list[Predicate] = []
    for col, op, val in preds:
        for pcol, g in derivs.get(col, ()):
            if op in {"=", "=="}:
                gv = _gv(g, col, val)
                if gv is not None:
                    extra.append((pcol, "=", gv))
            elif op in {"<", "<="}:
                gv = _gv(g, col, val)
                if gv is not None:
                    extra.append((pcol, "<=", gv))
            elif op in {">", ">="}:
                gv = _gv(g, col, val)
                if gv is not None:
                    extra.append((pcol, ">=", gv))
            elif op == "in":
                gvs = [_gv(g, col, v) for v in val]
                if gvs and all(v is not None for v in gvs):
                    extra.append((pcol, "in", sorted(set(gvs))))
    return extra


class UnsupportedDistributedPrune(Exception):
    """A predicate this engine can only evaluate driver-side (exotic
    column type / non-identifier column name) — callers fall back to the
    Python prune loop."""


# column types whose string->type Spark cast provably agrees with
# cast_partition_value / _coerce on well-formed Delta metadata values.
# DecimalType is deliberately EXCLUDED: _coerce passes string literals
# through untouched, so the Python path's Decimal-vs-str comparison
# semantics differ from Spark's cast-coercing comparison — decimal
# predicates fall back to the driver loop.
_SAFE_PRUNE_TYPES = (
    T.StringType,
    T.IntegerType,
    T.LongType,
    T.ShortType,
    T.ByteType,
    T.DoubleType,
    T.FloatType,
    T.BooleanType,
    T.DateType,
    T.TimestampType,
    T.TimestampNTZType,
)

_IDENT_RE = _re.compile(r"[A-Za-z0-9_]+")


def distributed_prune_threshold() -> int:
    """File count above which read_snapshot routes pruning through Spark
    instead of the driver-side Python loop (env-tunable; the Python loop
    is faster below ~1e5 files because it skips a job round-trip)."""
    import os

    return int(os.environ.get("ADLS_DISTRIBUTED_PRUNE_FILES", "100000"))


def prune_files_auto(
    spark, snapshot: SnapshotState, predicates: Iterable[Predicate] | None
) -> list[AddFile]:
    """prune_files, routed through the DISTRIBUTED path when the file
    count crosses distributed_prune_threshold() — the metadata-plane
    scale valve: a million-file table evaluates its predicate matrix as
    one vectorized Spark filter over the file-metadata DataFrame instead
    of an O(files × predicates) driver loop. Falls back to the Python
    loop for predicate shapes the Spark path cannot express exactly."""
    preds = list(predicates or [])
    if (
        spark is not None
        and preds
        and len(snapshot.files) >= distributed_prune_threshold()
    ):
        try:
            return prune_files_distributed(spark, snapshot, preds)
        except UnsupportedDistributedPrune:
            pass
    return prune_files(snapshot, preds, spark)


def _part_match_expr(pv, dt: T.DataType, op: str, val):
    """Spark expression mirroring _file_matches_partition (EXACT 3VL)."""
    from pyspark.sql import functions as F

    if op == "in":
        vals = [v for v in (_coerce(x, dt) for x in val) if v is not None]
        if not vals:
            return F.lit(False)
        if isinstance(dt, (T.TimestampType, T.TimestampNTZType)):
            # never let datetimes ride through isin/lit (OS-tz
            # toInternal) — NTZ included: F.lit(naive) builds an OS-zone
            # TimestampType literal there too (round-9 third review)
            inner = F.lit(False)
            for v in vals:
                inner = inner | (pv == _typed_lit(v, dt))
            return F.coalesce(inner, F.lit(False))
        return F.coalesce(pv.isin(vals), F.lit(False))
    cv = _coerce(val, dt)
    if cv is None:
        return pv.isNull() if op in {"=", "=="} else F.lit(False)
    lit = _typed_lit(cv, dt)
    core = {
        "=": pv == lit,
        "==": pv == lit,
        "!=": pv != lit,
        "<": pv < lit,
        "<=": pv <= lit,
        ">": pv > lit,
        ">=": pv >= lit,
    }[op]
    return F.coalesce(core, F.lit(False))


def _stats_match_expr(stats_col, col: str, dt: T.DataType, op: str, val):
    """Spark expression mirroring _file_matches_stats (CONSERVATIVE:
    missing/unparseable stats keep the file)."""
    from pyspark.sql import functions as F

    mn = F.get_json_object(stats_col, f"$.minValues.{col}").cast(dt)
    mx = F.get_json_object(stats_col, f"$.maxValues.{col}").cast(dt)
    if isinstance(dt, (T.DoubleType, T.FloatType)):
        # same rule as _nonfinite_to_none: Spark sorts NaN LARGEST and
        # compares it unlike IEEE (`NaN <= x` is false, `x <= NaN` true),
        # so a NaN bound from a foreign writer would prune files that can
        # match — null out non-finite bounds (missing stats keep the file)
        inf = F.lit(float("inf"))
        mn = F.when(F.isnan(mn) | (F.abs(mn) == inf), F.lit(None)).otherwise(mn)
        mx = F.when(F.isnan(mx) | (F.abs(mx) == inf), F.lit(None)).otherwise(mx)
    no_stats = mn.isNull() | mx.isNull()
    if op == "in":
        vals = [v for v in (_coerce(x, dt) for x in val) if v is not None]
        inner = F.lit(False)
        for v in vals:
            tv = _typed_lit(v, dt)
            inner = inner | ((mn <= tv) & (tv <= mx))
        return F.when(no_stats, F.lit(True)).otherwise(
            F.coalesce(inner, F.lit(False))
        )
    cv = _coerce(val, dt)
    if cv is None or op == "!=":
        return F.lit(True)
    lit = _typed_lit(cv, dt)
    core = {
        "=": (mn <= lit) & (lit <= mx),
        "==": (mn <= lit) & (lit <= mx),
        "<": mn < lit,
        "<=": mn <= lit,
        ">": mx > lit,
        ">=": mx >= lit,
    }[op]
    return F.when(no_stats, F.lit(True)).otherwise(
        F.coalesce(core, F.lit(True))
    )


def prune_condition(snapshot, preds, part_value, stats_col, stats_keys=None):
    """THE data-skipping predicate compiler behind both executor-side
    prunes — prune_files_distributed over a classic snapshot's file list
    and LightSnapshot.prune_df over the checkpoint parquet: one Spark
    boolean over partition-value strings and raw stats JSON mirroring
    prune_files (EXACT 3VL on partition columns, CONSERVATIVE on stats:
    missing/unparseable stats keep the file). Predicates on columns
    outside the schema or of a type outside _SAFE_PRUNE_TYPES keep every
    file. `part_value(col)` is the partition-value string Column of
    `col`; `stats_keys` maps a logical column to its stats-JSON key (the
    physical name on column-mapped tables)."""
    from pyspark.sql import functions as F

    schema_types = {f.name: f.dataType for f in snapshot.schema.fields}
    part_cols = set(snapshot.partition_columns)
    cond = F.lit(True)
    for col, op, val in preds:
        if op not in _OPS:
            raise ValueError(f"unsupported predicate op: {op!r}")
        dt = schema_types.get(col)
        if not isinstance(dt, _SAFE_PRUNE_TYPES):
            continue  # conservative: keep the file
        if col in part_cols:
            pv = part_value(col)
            pv = F.when(
                pv == "__HIVE_DEFAULT_PARTITION__", F.lit(None)
            ).otherwise(pv)
            cond = cond & _part_match_expr(pv.cast(dt), dt, op, val)
        else:
            key = (stats_keys or {}).get(col, col)
            cond = cond & _stats_match_expr(stats_col, key, dt, op, val)
    return cond


def prune_files_distributed(
    spark, snapshot: SnapshotState, predicates: Iterable[Predicate] | None
) -> list[AddFile]:
    """prune_files evaluated as ONE Spark filter over a file-metadata
    DataFrame (arrow-built from the snapshot: index, predicate-relevant
    partition-value strings, raw stats JSON) — same answers as the Python
    loop (equality-tested), but the per-file predicate work runs
    vectorized across executors and only SURVIVOR indexes return to the
    driver. This is the prune half of the metadata-plane scale story; the
    replay half stays pyarrow-batched in log.py."""
    import pandas as pd
    from pyspark.sql import functions as F

    preds: Sequence[Predicate] = list(predicates or [])
    preds = preds + _derive_generated_preds(snapshot, preds, spark)
    for col, op, _ in preds:
        if op not in _OPS:
            raise ValueError(f"unsupported predicate op: {op!r}")
    if not preds or not snapshot.files:
        return snapshot.files
    schema_types = {f.name: f.dataType for f in snapshot.schema.fields}
    part_cols = set(snapshot.partition_columns)
    live = [(c, op, v) for c, op, v in preds if c in schema_types]
    for col, _, _ in live:
        dt = schema_types[col]
        if not isinstance(dt, _SAFE_PRUNE_TYPES) or not _IDENT_RE.fullmatch(col):
            raise UnsupportedDistributedPrune(col)
    if not live:
        return snapshot.files

    files = snapshot.files
    need_pv = sorted({c for c, _, _ in live if c in part_cols})
    need_stats = any(c not in part_cols for c, _, _ in live)
    data: dict[str, list] = {"_idx": list(range(len(files)))}
    fields = [T.StructField("_idx", T.LongType(), False)]
    for c in need_pv:
        data[f"_pv_{c}"] = [f.partition_values.get(c) for f in files]
        fields.append(T.StructField(f"_pv_{c}", T.StringType(), True))
    if need_stats:
        # raw log text straight through — the driver never parses stats
        # here; get_json_object extracts min/max executor-side
        data["_stats"] = [f.stats_json() for f in files]
        fields.append(T.StructField("_stats", T.StringType(), True))
    meta = spark.createDataFrame(pd.DataFrame(data), T.StructType(fields))
    cond = prune_condition(
        snapshot, live, lambda c: F.col(f"_pv_{c}"), F.col("_stats")
    )
    keep = sorted(
        r["_idx"] for r in meta.filter(cond).select("_idx").collect()
    )
    return [files[i] for i in keep]


def make_file_filter(snapshot, predicates, spark=None):
    """Per-file keep/skip callable implementing prune_files' exact
    semantics over any snapshot-shaped header (SnapshotState or
    LightSnapshot: .schema / .partition_columns / .metadata), for callers
    that STREAM the file list instead of holding it (the Python
    DataSource planning worker iterating LightSnapshot.iter_files_local).
    Returns None when there is nothing to filter on (pass everything)."""
    preds: Sequence[Predicate] = list(predicates or [])
    preds = preds + _derive_generated_preds(snapshot, preds, spark)
    for col, op, _ in preds:
        if op not in _OPS:
            raise ValueError(f"unsupported predicate op: {op!r}")
    if not preds:
        return None
    schema_types = {f.name: f.dataType for f in snapshot.schema.fields}
    part_cols = set(snapshot.partition_columns)
    # resolve the session zone ONCE per prune — only when some predicate
    # can need it (a py4j conf.get per FILE dominated 10^5-file prunes)
    import datetime as _dt

    tz = None
    if any(
        isinstance(schema_types.get(c), T.TimestampType)
        or isinstance(v, _dt.datetime)
        or (
            op_ == "in"
            and any(isinstance(x, _dt.datetime) for x in (v or ()))
        )
        for c, op_, v in preds
        if c in schema_types
    ):
        tz = _session_tzinfo(spark)

    def keep(f: AddFile) -> bool:
        for pred in preds:
            col = pred[0]
            if col not in schema_types:
                continue
            if col in part_cols:
                if not _file_matches_partition(f, schema_types, pred, tz):
                    return False
            else:
                if not _file_matches_stats(f, schema_types, pred, tz):
                    return False
        return True

    return keep


def prune_files(
    snapshot: SnapshotState,
    predicates: Iterable[Predicate] | None,
    spark=None,
) -> list[AddFile]:
    """Return the subset of live files that can possibly match all predicates.

    Partition-column predicates prune on `partitionValues` (exact);
    data-column predicates prune on per-file min/max stats (conservative);
    predicates on the BASE column of a generated partition column derive
    partition predicates (generated_partition_derivations). `spark` pins
    the session whose timeZone interprets naive timestamp values
    (defaults to the active one)."""
    keep = make_file_filter(snapshot, predicates, spark)
    if keep is None:
        return snapshot.files
    return [f for f in snapshot.files if keep(f)]
