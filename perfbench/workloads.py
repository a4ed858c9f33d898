"""The benchmark's three workloads, each a closed loop with one client.

* lake-point: repeated `DeltaPond.sql` SELECT aggregates over one
  checkpointed, partitioned Delta table that never changes, so the snapshot
  cache always hits and planning (catalog, pruning, the reader's file index)
  dominates. Answers are checked against the generator's closed form.
* lake-churn: a fixed seeded cycle INSERT, MERGE, DELETE, SELECT through
  `DeltaPond.sql` on a keyed, bucket-partitioned table, with compaction and
  vacuum every few cycles. Every statement moves the version, so the snapshot
  cache always misses. SELECTs are checked against an in-memory model of the
  live rows.
* ops-dedup: repeated passes over four dedup/text/window queries on a
  generated parquet fixture. Operator execution dominates; each result is
  checked against the DuckDB oracle answer computed once in set-up.

Each workload runs a fixed statement sequence per seed, so counts repeat
exactly across runs of one seed. Statement timers stop before the answer is
checked.
"""

from __future__ import annotations

import json
import os
import random
import subprocess
import sys
import time
import traceback
from dataclasses import dataclass, field

import numpy as np

from athena_delta_lake_spark import DeltaPond
from athena_delta_lake_spark.delta import dml, writer
from athena_delta_lake_spark.delta.log import DeltaLog

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

# Sizes: "full" is the measured benchmark, "tiny" the harness self-test.
# Measured counts (*_queries, *_cycles, *_passes) are floors; run.py raises
# them with --seconds. A churn run has three maintenance rounds: one ending
# the warm-up and two in the five measured cycles. Warm-up runs two units
# because the JIT keeps speeding up MERGE and the d03/d04 passes until then.
SIZES = {
    "full": {
        "point_rows": 1_000_000, "point_files": 500, "point_parts": 25,
        "point_warmup": 3, "point_queries": 9,
        "churn_base": 20_000, "churn_insert": 2_000, "churn_merge": 1_000,
        "churn_delete": 2_000, "churn_buckets": 8, "churn_warmup": 2,
        "churn_cycles": 5, "churn_maint_every": 2,
        "dedup_sf": 0.1, "dedup_warmup": 2, "dedup_passes": 2,
    },
    "tiny": {
        "point_rows": 40_000, "point_files": 40, "point_parts": 4,
        "point_warmup": 1, "point_queries": 3,
        "churn_base": 2_000, "churn_insert": 200, "churn_merge": 100,
        "churn_delete": 200, "churn_buckets": 4, "churn_warmup": 1,
        "churn_cycles": 3, "churn_maint_every": 3,
        "dedup_sf": 0.001, "dedup_warmup": 1, "dedup_passes": 1,
    },
}

DEDUP_QUERIES = {
    "d03": "d03_ngram_jaccard_pairs",
    "d04": "d04_minhash_lsh_pairs",
    "x06": "x06_tfidf_top_terms",
    "w11": "w11_funnel_stages",
}


@dataclass
class Outcome:
    """What one measured phase produced."""

    unit: str  # the statement (or composite) whose latency is p50_ms
    unit_ms: list[float] = field(default_factory=list)
    by_kind: dict[str, list[float]] = field(default_factory=dict)
    attempted: int = 0
    failed: int = 0
    wall_s: float = 0.0
    space_amp: float | None = None


class Loop:
    """Runs measured statements one after another (closed loop, one client)
    and records latency and correctness for each."""

    def __init__(self, tracer, outcome: Outcome, wrong_answers: bool = False):
        self.tracer = tracer
        self.out = outcome
        self.wrong_answers = wrong_answers

    def run(self, kind: str, stmt, check) -> tuple[float, object]:
        """Time `stmt()`, then check its result outside the timer. Returns
        the latency in ms and the result; a failed or wrong statement counts
        as failed."""
        self.out.attempted += 1
        result, ok = None, True
        with self.tracer.statement(kind):
            t = time.perf_counter()
            try:
                result = stmt()
            except Exception:
                traceback.print_exc()
                ok = False
            ms = (time.perf_counter() - t) * 1000.0
        if ok:
            ok = bool(check(result)) and not self.wrong_answers
            if not ok:
                print(f"wrong answer: {kind}", flush=True)
        if not ok:
            self.out.failed += 1
        self.out.by_kind.setdefault(kind, []).append(ms)
        return ms, result


def collect(tracer, df, span: str = "exec.collect"):
    with tracer.span(span) as sp:
        rows = df.collect()
        if sp is not None:
            sp.attrs["rows"] = len(rows)
        return rows


def space_amp(table_path: str) -> float:
    """Bytes under the table root / bytes of live data files."""
    total = sum(
        os.path.getsize(os.path.join(d, f))
        for d, _, files in os.walk(table_path) for f in files
    )
    live = sum(f.size for f in DeltaLog(table_path).snapshot().files)
    return total / live


# ---------------------------------------------------------------- lake-point


def lake_point(ctx) -> Outcome:
    spark, size, rng = ctx.spark, ctx.size, random.Random(ctx.seed)
    n, n_files, n_parts = size["point_rows"], size["point_files"], size["point_parts"]
    per_file = n // n_files
    mul, add = rng.randrange(1, 1009), rng.randrange(1009)

    from pyspark.sql import functions as F

    root = os.path.join(ctx.work, "pond")
    path = os.path.join(root, "lake", "points")
    os.makedirs(path)
    df = (
        spark.range(n).withColumnRenamed("id", "k")
        .withColumn("p", ((F.col("k") / per_file).cast("long") % n_parts).cast("int"))
        .withColumn("v", (F.col("k") * mul + add) % 1009)
        .repartition(n_parts, "p").sortWithinPartitions("p", "k")
    )
    spark.conf.set("spark.sql.files.maxRecordsPerFile", str(per_file))
    writer.write_delta(df, path, partition_by=["p"])
    spark.conf.unset("spark.sql.files.maxRecordsPerFile")
    writer.write_checkpoint(path)
    pond = DeltaPond(spark, root)

    keys = np.arange(n, dtype=np.int64)
    parts = (keys // per_file) % n_parts
    vals = (keys * mul + add) % 1009

    def query():
        p, lo = rng.randrange(n_parts), rng.randrange(n // 2)
        sql = f"SELECT count(*) AS n, sum(v) AS s FROM lake.points WHERE p = {p} AND k >= {lo}"
        mask = (parts == p) & (keys >= lo)
        return sql, (int(mask.sum()), int(vals[mask].sum()))

    def check(expect):
        return lambda rows: (rows[0]["n"], rows[0]["s"]) == expect

    for _ in range(size["point_warmup"]):
        sql, expect = query()
        if not check(expect)(pond.sql(sql).collect()):
            raise RuntimeError(f"warm-up answer wrong: {sql}")

    out = Outcome(unit="select")
    loop = Loop(ctx.tracer, out, ctx.wrong_answers)
    ctx.start_measuring()
    t = time.perf_counter()
    for _ in range(size["point_queries"]):
        sql, expect = query()
        ms, _ = loop.run("select", lambda: collect(ctx.tracer, pond.sql(sql)), check(expect))
        out.unit_ms.append(ms)
    out.wall_s = time.perf_counter() - t
    ctx.stop_measuring()
    out.space_amp = space_amp(path)
    return out


# ---------------------------------------------------------------- lake-churn


class ChurnModel:
    """The live rows of the churn table, as the statements should leave them."""

    def __init__(self, buckets: int):
        self.rows: dict[int, int] = {}
        self.buckets = buckets

    def upsert(self, lo: int, hi: int, value) -> None:
        for k in range(lo, hi):
            self.rows[k] = value(k)

    def delete(self, lo: int, hi: int) -> None:
        for k in range(lo, hi):
            self.rows.pop(k, None)

    def bucket(self, b: int) -> tuple[int, int | None]:
        vs = [v for k, v in self.rows.items() if k % self.buckets == b]
        return len(vs), (sum(vs) if vs else None)


def lake_churn(ctx) -> Outcome:
    spark, size, rng = ctx.spark, ctx.size, random.Random(ctx.seed)
    nb = size["churn_buckets"]
    root = os.path.join(ctx.work, "pond")
    os.makedirs(os.path.join(root, "lake"))
    path = os.path.join(root, "lake", "churn")
    pond = DeltaPond(spark, root)
    model = ChurnModel(nb)
    mult = rng.randrange(3, 1000)

    def rows_sql(lo, hi, v_expr):
        return (f"SELECT id AS k, CAST(id % {nb} AS INT) AS b, {v_expr} AS v "
                f"FROM range({lo}, {hi})")

    pond.sql(
        "CREATE TABLE lake.churn (k BIGINT, b INT, v BIGINT) USING delta "
        "PARTITIONED BY (b) TBLPROPERTIES ('delta.checkpointInterval' = '10')"
    )
    base = size["churn_base"]
    pond.sql(f"INSERT INTO lake.churn {rows_sql(0, base, f'id * {mult}')}").collect()
    model.upsert(0, base, lambda k: k * mult)
    state = {"next": base, "cycle": 0}

    def cycle(loop: Loop, maintain: bool) -> float:
        c = state["cycle"] = state["cycle"] + 1
        total = 0.0

        def sql(kind, text, check=lambda _: True):
            nonlocal total
            total += loop.run(kind, lambda: collect(ctx.tracer, pond.sql(text)), check)[0]

        lo = state["next"]
        hi = state["next"] = lo + size["churn_insert"]
        sql("insert", f"INSERT INTO lake.churn {rows_sql(lo, hi, f'id * {mult}')}")
        model.upsert(lo, hi, lambda k: k * mult)

        # starts below the newest key, so part of the batch matches
        m_lo = hi - rng.randrange(size["churn_merge"] // 4, 3 * size["churn_merge"] // 4)
        m_hi = state["next"] = m_lo + size["churn_merge"]
        sql("merge", f"MERGE INTO lake.churn t USING ({rows_sql(m_lo, m_hi, f'id + {c}')}) s "
                     "ON t.k = s.k WHEN MATCHED THEN UPDATE SET * WHEN NOT MATCHED THEN INSERT *")
        model.upsert(m_lo, m_hi, lambda k: k + c)

        d_lo = rng.randrange(0, state["next"] - size["churn_delete"])
        d_hi = d_lo + size["churn_delete"]
        sql("delete", f"DELETE FROM lake.churn WHERE k >= {d_lo} AND k < {d_hi}")
        model.delete(d_lo, d_hi)

        b = rng.randrange(nb)
        expect = model.bucket(b)
        sql("select", f"SELECT count(*) AS n, sum(v) AS s FROM lake.churn WHERE b = {b}",
            lambda rows: (rows[0]["n"], rows[0]["s"]) == expect)
        if maintain:
            # timed as statements of their own, outside the cycle latency,
            # so every cycle sample has the same four-statement shape
            loop.run("compact", lambda: dml.compact(spark, path), lambda _: True)
            loop.run("vacuum", lambda: dml.vacuum(path, retention_hours=0), lambda _: True)
        return total

    warm = Outcome(unit="cycle")
    warm_loop = Loop(ctx.tracer, warm)
    for i in range(size["churn_warmup"]):
        cycle(warm_loop, maintain=i == size["churn_warmup"] - 1)
    if warm.failed:
        raise RuntimeError("warm-up statements failed")

    out = Outcome(unit="cycle")
    loop = Loop(ctx.tracer, out, ctx.wrong_answers)
    ctx.start_measuring()
    t = time.perf_counter()
    every = size["churn_maint_every"]
    for i in range(size["churn_cycles"]):
        out.unit_ms.append(cycle(loop, maintain=(i + 1) % every == 0))
    out.wall_s = time.perf_counter() - t
    ctx.stop_measuring()
    out.space_amp = space_amp(path)
    return out


# ----------------------------------------------------------------- ops-dedup


def ops_dedup(ctx) -> Outcome:
    from athena_delta_lake_spark.queries import registry

    from perfbench.fixture import load_tool

    size = ctx.size
    sf = size["dedup_sf"]
    root = os.path.join(ctx.work, "fixture")
    gen = subprocess.run(
        [sys.executable, os.path.join(REPO, "perfbench", "fixture.py"), root, str(sf),
         str(ctx.seed), *DEDUP_QUERIES.values()],
        stdout=subprocess.PIPE, text=True, check=True)
    oracle = json.loads(gen.stdout.strip().splitlines()[-1])
    expected = {short: oracle[name] for short, name in DEDUP_QUERIES.items()}
    sf_dir = os.path.join(root, f"sf{sf:g}")
    table_hash = load_tool("check_oracle").table_hash
    reg = registry()

    def run_query(short):
        qd = reg[DEDUP_QUERIES[short]]
        with ctx.tracer.span(f"queries.{short}.build"):
            df = qd.fn(ctx.spark, sf_dir)
        return df.columns, collect(ctx.tracer, df, f"queries.{short}.exec")

    def check(short):
        return lambda res: table_hash(res[0], [tuple(r) for r in res[1]]) == expected[short]

    warm = Outcome(unit="pass")
    warm_loop = Loop(ctx.tracer, warm)
    for _ in range(size["dedup_warmup"]):
        for short in DEDUP_QUERIES:
            warm_loop.run(short, lambda: run_query(short), check(short))
    if warm.failed:
        raise RuntimeError("warm-up queries failed or disagreed with the oracle")

    out = Outcome(unit="pass")
    loop = Loop(ctx.tracer, out, ctx.wrong_answers)
    ctx.start_measuring()
    t = time.perf_counter()
    for _ in range(size["dedup_passes"]):
        total = 0.0
        for short in DEDUP_QUERIES:
            total += loop.run(short, lambda: run_query(short), check(short))[0]
        out.unit_ms.append(total)
    out.wall_s = time.perf_counter() - t
    ctx.stop_measuring()
    return out


WORKLOADS = {"lake-point": lake_point, "lake-churn": lake_churn, "ops-dedup": ops_dedup}
