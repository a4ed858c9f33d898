"""Delta-core query surface: the reference's actual engine work (catalog →
snapshot → pruned scan; SURVEY §2.A A2-A7) exercised end-to-end through the
graded gate.

Each query materializes a Delta table under /tmp from the parquet fixture
(once per sf; idempotent), then answers through the NATIVE path — log
replay, partition/stats pruning, time travel, DeltaPond catalog — so the
DuckDB oracle (same SQL over the raw parquet) checks the whole engine core,
not just Spark SQL.

Reference parity: doGetTable/getPartitions/doGetSplits/readWithConstraint
(/root/reference/DeltaMetadataHandler.scala:90-185,
DeltaRecordHandler.scala:116-155), rebuilt without the Lambda boundaries.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..catalog import DeltaPond
from ..delta.table import DeltaTable
from ..delta.writer import write_checkpoint, write_delta
from .base import load, register

_ROOT = "/tmp/adls_delta_fixtures"


def _fixture_root(sf_dir: str) -> str:
    tag = os.path.basename(sf_dir.rstrip("/"))
    return os.path.join(_ROOT, tag)


def _ensure_lineitem_delta(spark: SparkSession, sf_dir: str) -> str:
    """lineitem as a Delta table partitioned by l_returnflag (3 partitions),
    with per-file stats for data skipping. Built once per sf."""
    path = os.path.join(_fixture_root(sf_dir), "lake", "delta_lineitem")
    if not os.path.isdir(os.path.join(path, "_delta_log")):
        li = load(spark, sf_dir, "lineitem")
        write_delta(
            li.repartitionByRange(8, "l_orderkey"),
            path,
            partition_by=["l_returnflag"],
        )
        write_checkpoint(path)
    return path


def _ensure_orders_delta(spark: SparkSession, sf_dir: str) -> str:
    """orders as a 2-version Delta table: v0 = orders with totalprice <
    100000, v1 = append of the rest. Latest == full table; v0 is a proper
    historical snapshot for the time-travel query."""
    path = os.path.join(_fixture_root(sf_dir), "lake", "delta_orders")
    if not os.path.isdir(os.path.join(path, "_delta_log")):
        o = load(spark, sf_dir, "orders")
        write_delta(
            o.filter(F.col("o_totalprice") < 100000), path, partition_by=[]
        )
        write_delta(o.filter(F.col("o_totalprice") >= 100000), path)
    return path


@register(
    "l01_delta_pruned_scan",
    "delta-core",
    """
    SELECT l_linestatus,
           count(*) AS n,
           round(sum(l_extendedprice), 2) AS revenue
    FROM lineitem
    WHERE l_returnflag = 'R' AND l_quantity >= 30
    GROUP BY l_linestatus
    """,
    "native Delta scan with partition pruning (l_returnflag) + stats-based "
    "file skipping (l_quantity) feeding a Spark aggregate",
)
def l01(spark: SparkSession, sf_dir: str) -> DataFrame:
    path = _ensure_lineitem_delta(spark, sf_dir)
    t = DeltaTable(spark, path)
    df = t.to_df(
        predicates=[("l_returnflag", "=", "R"), ("l_quantity", ">=", 30)]
    )
    # predicates prune FILES; exact row filtering stays in Catalyst
    return (
        df.filter((F.col("l_returnflag") == "R") & (F.col("l_quantity") >= 30))
        .groupBy("l_linestatus")
        .agg(
            F.count("*").alias("n"),
            F.round(F.sum("l_extendedprice"), 2).alias("revenue"),
        )
    )


@register(
    "l02_delta_time_travel",
    "delta-core",
    """
    SELECT count(*) AS n, round(sum(o_totalprice), 2) AS total
    FROM orders
    WHERE o_totalprice < 100000
    """,
    "time travel: version-0 snapshot (pre-append) == the filtered oracle",
)
def l02(spark: SparkSession, sf_dir: str) -> DataFrame:
    path = _ensure_orders_delta(spark, sf_dir)
    t = DeltaTable(spark, path)
    v0 = t.to_df(version=0)
    return v0.agg(
        F.count("*").alias("n"),
        F.round(F.sum("o_totalprice"), 2).alias("total"),
    )


@register(
    "b02_sql_lazy_catalog",
    "delta-core",
    """
    SELECT l_returnflag,
           count(*) AS n,
           round(sum(l_extendedprice), 2) AS revenue
    FROM lineitem
    WHERE l_quantity > 10
    GROUP BY l_returnflag
    """,
    "metastore-less SQL: pond.sql resolves tables lazily at name-lookup "
    "time (no registration step), the reference's headline capability",
)
def b02(spark: SparkSession, sf_dir: str) -> DataFrame:
    _ensure_lineitem_delta(spark, sf_dir)
    # drop any pre-registered views so the resolution is provably lazy:
    # the ONLY way this query can work is the pond resolving `lake.
    # delta_lineitem` from the storage layout during analysis
    spark.catalog.dropTempView("__pond__lake__delta_lineitem")
    pond = DeltaPond(spark, _fixture_root(sf_dir))
    return pond.sql(
        "SELECT l_returnflag, count(*) AS n, "
        "round(sum(l_extendedprice), 2) AS revenue "
        "FROM lake.delta_lineitem WHERE l_quantity > 10 GROUP BY l_returnflag"
    )


@register(
    "l03_delta_catalog_sql",
    "delta-core",
    """
    SELECT o_orderstatus, count(*) AS n
    FROM orders
    GROUP BY o_orderstatus
    """,
    "catalog discovery (DeltaPond list/register) -> plain spark.sql over the "
    "registered Delta view (reference: doListSchemaNames/doListTables)",
)
def l03(spark: SparkSession, sf_dir: str) -> DataFrame:
    _ensure_orders_delta(spark, sf_dir)
    pond = DeltaPond(spark, _fixture_root(sf_dir))
    assert "lake" in pond.list_schemas()
    assert "delta_orders" in pond.list_tables("lake")
    pond.register_all("lake", prefix="pond_")
    return spark.sql(
        "SELECT o_orderstatus, count(*) AS n FROM pond_delta_orders "
        "GROUP BY o_orderstatus"
    )


def _ensure_dml_customer(spark: SparkSession, sf_dir: str) -> str:
    """customer copy taken through the full DML cycle: DELETE (partition
    fast path + rewrite), UPDATE, MERGE upsert, then OPTIMIZE. Built once
    per sf; every step is deterministic so the oracle below can mirror the
    final state with plain SQL over the pristine parquet."""
    path = os.path.join(_fixture_root(sf_dir), "lake", "dml_customer")
    if not os.path.isdir(os.path.join(path, "_delta_log")):
        c = load(spark, sf_dir, "customer")
        write_delta(c, path, partition_by=["c_mktsegment"])
        t = DeltaTable(spark, path)
        # partition-only DELETE: metadata commit, no data I/O
        t.delete(where=[("c_mktsegment", "=", "BUILDING")])
        # predicate DELETE: rewrites only candidate files
        t.delete(where="c_acctbal < 0")
        # UPDATE: conditional column rewrite
        t.update({"c_acctbal": "c_acctbal + 100"}, where="c_nationkey = 7")
        # MERGE upsert: flip ONE existing row deterministically
        src = (
            t.to_df()
            .orderBy("c_custkey")
            .limit(1)
            .withColumn("c_acctbal", F.lit(99999.0))
        )
        t.merge(src, keys=["c_custkey"])
        t.compact()
    return path


@register(
    "l04_delta_dml",
    "delta-core",
    """
    WITH after_dml AS (
        SELECT c_custkey, c_mktsegment, c_nationkey,
               CASE WHEN c_nationkey = 7 THEN c_acctbal + 100
                    ELSE c_acctbal END AS bal
        FROM customer
        WHERE c_mktsegment <> 'BUILDING' AND c_acctbal >= 0
    ), merged AS (
        SELECT c_mktsegment,
               CASE WHEN c_custkey = (SELECT min(c_custkey) FROM after_dml)
                    THEN 99999.0 ELSE bal END AS bal
        FROM after_dml
    )
    SELECT c_mktsegment, count(*) AS n, round(sum(bal), 2) AS total_bal
    FROM merged GROUP BY c_mktsegment
    """,
    "DELETE (partition fast path + stats-pruned rewrite) -> UPDATE -> MERGE "
    "upsert -> OPTIMIZE, verified against the oracle replaying the same "
    "mutations as SQL over the pristine parquet",
)
def l04(spark: SparkSession, sf_dir: str) -> DataFrame:
    path = _ensure_dml_customer(spark, sf_dir)
    t = DeltaTable(spark, path)
    return (
        t.to_df()
        .groupBy("c_mktsegment")
        .agg(
            F.count("*").alias("n"),
            F.round(F.sum("c_acctbal"), 2).alias("total_bal"),
        )
    )


@register(
    "l05_delta_stream_tail",
    "delta-core",
    """
    SELECT l_returnflag, count(*) AS n,
           CAST(sum(floor(l_extendedprice)) AS BIGINT) AS total_price
    FROM lineitem GROUP BY 1
    """,
    "deltapond streaming source: tail the Delta lineitem table's commit log "
    "from version 0 as microbatches (Python Data Source API), aggregate == "
    "batch over the same rows",
)
def l05(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..sources.deltapond_source import register as register_ds
    from ..streaming import run_to_memory

    register_ds(spark)
    path = _ensure_lineitem_delta(spark, sf_dir)
    stream = (
        spark.readStream.format("deltapond")
        .option("startingVersion", 0)
        .load(path)
    )
    agg = stream.groupBy("l_returnflag").agg(
        F.count("*").alias("n"),
        F.sum(F.floor("l_extendedprice")).cast("long").alias("total_price"),
    )
    return run_to_memory(agg, "l05_out", "complete")


def _ensure_restore_orders(spark: SparkSession, sf_dir: str) -> str:
    """orders copy mutated (predicate DELETE, junk append) then RESTOREd to
    v0 — the final snapshot must be byte-identical to the pristine parquet,
    which is exactly what the oracle checks."""
    path = os.path.join(_fixture_root(sf_dir), "lake", "restore_orders")
    if not os.path.isdir(os.path.join(path, "_delta_log")):
        o = load(spark, sf_dir, "orders")
        write_delta(o, path)  # v0
        t = DeltaTable(spark, path)
        t.delete(where="o_orderstatus = 'F'")  # v1
        junk = o.orderBy("o_orderkey").limit(7).withColumn(
            "o_orderkey", F.col("o_orderkey") + F.lit(10_000_000)
        )
        write_delta(junk, path, mode="append")  # v2
        t.restore(version=0)  # v3: undo everything
    return path


@register(
    "l06_delta_restore",
    "delta-core",
    """
    SELECT o_orderstatus, count(*) AS n,
           CAST(sum(floor(o_totalprice)) AS BIGINT) AS total
    FROM orders GROUP BY 1
    """,
    "RESTORE to v0 after DELETE + append: metadata-only undo, final state "
    "== pristine table (oracle is plain SQL over the untouched parquet)",
)
def l06(spark: SparkSession, sf_dir: str) -> DataFrame:
    path = _ensure_restore_orders(spark, sf_dir)
    t = DeltaTable(spark, path)
    return (
        t.to_df()
        .groupBy("o_orderstatus")
        .agg(
            F.count("*").alias("n"),
            F.sum(F.floor("o_totalprice")).cast("long").alias("total"),
        )
    )


def _ensure_cdf_orders(spark: SparkSession, sf_dir: str) -> str:
    """orders copy with a merge-on-read DELETE at v1 — the change feed for
    (1,1) must be EXACTLY the deleted rows (DV diff granularity)."""
    path = os.path.join(_fixture_root(sf_dir), "lake", "cdf_orders")
    if not os.path.isdir(os.path.join(path, "_delta_log")):
        write_delta(load(spark, sf_dir, "orders"), path)  # v0
    t = DeltaTable(spark, path)
    if t.version() < 1:  # heal a half-built fixture (v0 only)
        t.delete(where="o_orderstatus = 'P'", mode="mor")  # v1
    return path


@register(
    "l07_delta_change_feed",
    "delta-core",
    """
    SELECT 'delete' AS _change_type, count(*) AS n,
           CAST(sum(o_orderkey) AS BIGINT) AS key_sum,
           CAST(sum(floor(o_totalprice)) AS BIGINT) AS price_sum
    FROM orders WHERE o_orderstatus = 'P'
    """,
    "change data feed: MOR delete surfaces as exactly the deleted rows "
    "(DV-diff), matched against the pristine-parquet oracle",
)
def l07(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..delta.cdf import table_changes

    path = _ensure_cdf_orders(spark, sf_dir)
    ch = table_changes(spark, path, 1, 1)
    return ch.groupBy("_change_type").agg(
        F.count("*").alias("n"),
        F.sum("o_orderkey").cast("long").alias("key_sum"),
        F.sum(F.floor("o_totalprice")).cast("long").alias("price_sum"),
    )


def _ensure_v2cp_supplier(spark: SparkSession, sf_dir: str) -> str:
    """supplier as a Delta table exercising the MODERN protocol features in
    the graded path: in-commit timestamps on every commit, a V2
    (manifest + sidecar) checkpoint, and commit JSONs REMOVED past the
    checkpoint — replay must come from the v2 manifest alone."""
    path = os.path.join(_fixture_root(sf_dir), "lake", "delta_supplier_v2cp")
    if not os.path.isdir(os.path.join(path, "_delta_log")):
        from ..delta.writer import cleanup_log

        s = load(spark, sf_dir, "supplier")
        write_delta(
            s.filter(F.col("s_suppkey") % 2 == 0),
            path,
            configuration={"delta.enableInCommitTimestamps": "true"},
        )
        write_delta(s.filter(F.col("s_suppkey") % 2 == 1), path, mode="append")
        write_checkpoint(path, parts=2, v2=True)
        cleanup_log(path, retention_hours=0.0)
    return path


@register(
    "l08_delta_v2_checkpoint_scan",
    "delta-core",
    """
    SELECT s_nationkey,
           count(*) AS n,
           CAST(sum(floor(s_acctbal * 100)) AS BIGINT) AS bal_cents
    FROM supplier GROUP BY 1
    """,
    "scan a table whose log survives ONLY as a V2 manifest + sidecars "
    "(ICT-stamped commits, cleaned JSONs); replay must equal raw parquet",
)
def l08(spark: SparkSession, sf_dir: str) -> DataFrame:
    path = _ensure_v2cp_supplier(spark, sf_dir)
    t = DeltaTable(spark, path)
    return (
        t.to_df()
        .groupBy("s_nationkey")
        .agg(
            F.count("*").alias("n"),
            F.sum(F.floor(F.col("s_acctbal") * 100)).cast("long").alias("bal_cents"),
        )
    )


def _ensure_mapped_part(spark: SparkSession, sf_dir: str) -> str:
    """part as a Delta table driven through the column-mapping DDL story:
    create -> enable_column_mapping (metadata-only upgrade) -> RENAME
    p_retailprice TO price -> DROP p_type -> append the second half under
    the NEW schema (files staged with physical names) -> checkpoint (adds
    re-keyed physical). The scan must reconcile pre-DDL files, post-DDL
    files and the checkpoint into one logical table."""
    path = os.path.join(_fixture_root(sf_dir), "lake", "delta_part_mapped")
    if not os.path.isdir(os.path.join(path, "_delta_log")):
        from ..delta.writer import (
            drop_column,
            enable_column_mapping,
            rename_column,
        )

        p = load(spark, sf_dir, "part")
        write_delta(
            p.filter(F.col("p_partkey") % 2 == 0),
            path,
            partition_by=["p_brand"],
        )
        enable_column_mapping(path)
        rename_column(path, "p_retailprice", "price")
        drop_column(path, "p_type")
        batch = (
            p.filter(F.col("p_partkey") % 2 == 1)
            .withColumnRenamed("p_retailprice", "price")
            .drop("p_type")
        )
        write_delta(batch, path, mode="append")
        write_checkpoint(path)
    return path


@register(
    "l09_column_mapping_ddl",
    "delta-core",
    """
    SELECT p_brand,
           count(*) AS n,
           round(sum(p_retailprice), 2) AS brand_value,
           CAST(max(p_size) AS INT) AS max_size
    FROM part GROUP BY 1
    """,
    "scan across metadata-only RENAME + DROP COLUMN (column mapping): "
    "pre-DDL files, post-DDL appends (physical-named) and a checkpoint "
    "must reconcile; result equals the raw parquet under original names",
)
def l09(spark: SparkSession, sf_dir: str) -> DataFrame:
    path = _ensure_mapped_part(spark, sf_dir)
    t = DeltaTable(spark, path)
    return (
        t.to_df()
        .groupBy("p_brand")
        .agg(
            F.count("*").alias("n"),
            F.round(F.sum("price"), 2).alias("brand_value"),
            F.max("p_size").alias("max_size"),
        )
    )


def _ensure_cloned_lineitem(spark: SparkSession, sf_dir: str) -> str:
    """A SHALLOW CLONE of the lineitem Delta table that then DIVERGES: the
    clone deletes its high-quantity rows, all while its
    data files still point into the source table by absolute path. The
    scan must merge cloned references + local files; the source remains
    byte-identical (l01 keeps grading it)."""
    path = os.path.join(_fixture_root(sf_dir), "lake", "delta_lineitem_clone")
    if not os.path.isdir(os.path.join(path, "_delta_log")):
        from ..delta.dml import delete
        from ..delta.writer import clone_table

        src = _ensure_lineitem_delta(spark, sf_dir)
        clone_table(src, path)
        delete(spark, path, where="l_quantity >= 45")
    return path


@register(
    "l10_shallow_clone_scan",
    "delta-core",
    """
    SELECT l_returnflag,
           count(*) AS n,
           round(sum(l_extendedprice * (1 - l_discount)), 2) AS revenue
    FROM lineitem
    WHERE l_quantity < 45
    GROUP BY 1
    """,
    "scan a metadata-only SHALLOW CLONE that diverged from its source "
    "(absolute-path file references + a local DELETE rewrite); equals the "
    "raw table minus the deleted rows, source untouched",
)
def l10(spark: SparkSession, sf_dir: str) -> DataFrame:
    path = _ensure_cloned_lineitem(spark, sf_dir)
    t = DeltaTable(spark, path)
    return (
        t.to_df()
        .groupBy("l_returnflag")
        .agg(
            F.count("*").alias("n"),
            F.round(
                F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2
            ).alias("revenue"),
        )
    )


@register(
    "l11_metadata_count",
    "delta-core",
    """
    SELECT CAST((SELECT count(*) FROM lineitem) AS BIGINT) AS n_all,
           CAST((SELECT count(*) FROM lineitem WHERE l_returnflag = 'R') AS BIGINT) AS n_r,
           CAST((SELECT count(*) FROM lineitem WHERE l_returnflag IN ('A', 'N')) AS BIGINT) AS n_an
    """,
    "metadata-only COUNT from log stats: total and partition-scoped counts "
    "answered from numRecords sums over the (exactly) pruned file set — "
    "zero data I/O at any table size",
)
def l11(spark: SparkSession, sf_dir: str) -> DataFrame:
    path = _ensure_lineitem_delta(spark, sf_dir)
    t = DeltaTable(spark, path)
    row = (
        t.count(),
        t.count(where="l_returnflag = 'R'"),
        t.count(where=[("l_returnflag", "in", ["A", "N"])]),
    )
    return spark.createDataFrame([row], "n_all long, n_r long, n_an long")


@register(
    "l12_metadata_minmax",
    "delta-core",
    """
    SELECT CAST(min(l_quantity) AS DOUBLE) AS q_min,
           CAST(max(l_quantity) AS DOUBLE) AS q_max,
           CAST(min(CASE WHEN l_returnflag = 'R' THEN l_extendedprice END) AS DOUBLE) AS r_price_min,
           CAST(max(CASE WHEN l_returnflag = 'R' THEN l_extendedprice END) AS DOUBLE) AS r_price_max
    FROM lineitem
    """,
    "metadata-only MIN/MAX from per-file log stats: table-wide and "
    "partition-scoped extremes with zero data I/O (falls back to a scan "
    "only when stats cannot PROVE the answer)",
)
def l12(spark: SparkSession, sf_dir: str) -> DataFrame:
    path = _ensure_lineitem_delta(spark, sf_dir)
    t = DeltaTable(spark, path)
    q_min, q_max = t.min_max("l_quantity")
    r_min, r_max = t.min_max("l_extendedprice", where="l_returnflag = 'R'")
    return spark.createDataFrame(
        [(float(q_min), float(q_max), float(r_min), float(r_max))],
        "q_min double, q_max double, r_price_min double, r_price_max double",
    )


def _ensure_row_tracked_supplier(spark: SparkSession, sf_dir: str) -> str:
    """supplier copy driven through the row-tracking story: enable (backfill
    ids), snapshot the (s_suppkey -> _row_id) mapping to a side parquet,
    then COW-delete a slice and OPTIMIZE — both rewrite files, so only the
    materialized-id path can keep the mapping intact."""
    path = os.path.join(_fixture_root(sf_dir), "lake", "delta_supplier_rt")
    if not os.path.isdir(os.path.join(path, "_delta_log")):
        from ..delta.dml import compact, delete
        from ..delta.writer import enable_row_tracking

        s = load(spark, sf_dir, "supplier")
        write_delta(s.coalesce(2), path)
        enable_row_tracking(path)
        DeltaTable(spark, path).to_df_with_row_ids().select(
            "s_suppkey", F.col("_row_id").alias("expected_row_id")
        ).write.mode("overwrite").parquet(path + "_expected_ids")
        delete(spark, path, where="s_suppkey % 7 = 3")
        compact(spark, path, target_file_size=1 << 30)
    return path


@register(
    "l13_row_tracking_stability",
    "delta-core",
    """
    SELECT CAST(count(*) AS BIGINT) AS n_rows,
           CAST(count(*) AS BIGINT) AS n_distinct_ids,
           CAST(0 AS BIGINT) AS drifted
    FROM supplier WHERE s_suppkey % 7 <> 3
    """,
    "row tracking: stable _row_id through a COW DELETE + OPTIMIZE (both "
    "rewrite files) — ids must match the pre-rewrite mapping exactly, "
    "stay distinct, and zero rows may drift",
)
def l13(spark: SparkSession, sf_dir: str) -> DataFrame:
    path = _ensure_row_tracked_supplier(spark, sf_dir)
    ids = DeltaTable(spark, path).to_df_with_row_ids().select(
        "s_suppkey", "_row_id"
    )
    expected = spark.read.parquet(path + "_expected_ids")
    joined = ids.join(expected, "s_suppkey", "left")
    return joined.agg(
        F.count("*").alias("n_rows"),
        F.countDistinct("_row_id").alias("n_distinct_ids"),
        F.sum(
            F.when(
                F.col("_row_id") != F.col("expected_row_id"), 1
            ).otherwise(0)
        ).cast("long").alias("drifted"),
    )


def _ensure_replace_where_nation(spark: SparkSession, sf_dir: str) -> str:
    """nation as a Delta table partitioned by n_regionkey, with partition
    2 selectively overwritten via replaceWhere (same rows, n_nationkey
    shifted by +100) — the batch-pipeline partition-repair pattern."""
    path = os.path.join(_fixture_root(sf_dir), "lake", "delta_nation_rw")
    if not os.path.isdir(os.path.join(path, "_delta_log")):
        n = load(spark, sf_dir, "nation")
        write_delta(n, path, partition_by=["n_regionkey"])
        repl = n.filter("n_regionkey = 2").withColumn(
            "n_nationkey", F.col("n_nationkey") + 100
        )
        write_delta(repl, path, mode="overwrite", replace_where="n_regionkey = 2")
    return path


@register(
    "b11_replace_where",
    "delta-core",
    """
    SELECT CAST(n_regionkey AS INT) AS rk,
           count(*) AS n,
           CAST(sum(CASE WHEN n_regionkey = 2 THEN n_nationkey + 100
                         ELSE n_nationkey END) AS BIGINT) AS key_sum
    FROM nation GROUP BY 1
    """,
    "replaceWhere selective overwrite (writer.write_delta replace_where=): "
    "partition-scoped replace removes exactly the matching partition's "
    "files with no data I/O on the rest; oracle = raw parquet with the "
    "replacement applied arithmetically",
)
def b11(spark: SparkSession, sf_dir: str) -> DataFrame:
    path = _ensure_replace_where_nation(spark, sf_dir)
    t = DeltaTable(spark, path)
    return (
        t.to_df()
        .groupBy(F.col("n_regionkey").cast("int").alias("rk"))
        .agg(
            F.count("*").alias("n"),
            F.sum("n_nationkey").cast("long").alias("key_sum"),
        )
    )


def _ensure_sqldml_nation(spark: SparkSession, sf_dir: str) -> DeltaPond:
    """A nation-derived Delta table built ENTIRELY through pond.sql DML
    statements (CTAS -> INSERT -> UPDATE -> DELETE -> multi-clause MERGE)
    — the write-side SQL surface the read-only reference delegates to
    Athena (README.md:5-8), executed natively here. Built once per sf."""
    root = os.path.join(_fixture_root(sf_dir), "pond_sqldml")
    pond = DeltaPond(spark, root)
    path = os.path.join(root, "lake", "nation_dml")
    if not os.path.isdir(os.path.join(path, "_delta_log")):
        load(spark, sf_dir, "nation").createOrReplaceTempView("nation_src")
        pond.sql("CREATE SCHEMA IF NOT EXISTS lake")
        pond.sql(
            "CREATE TABLE lake.nation_dml PARTITIONED BY (n_regionkey) AS "
            "SELECT n_nationkey, n_name, n_regionkey FROM nation_src"
        )
        pond.sql(
            "INSERT INTO lake.nation_dml SELECT n_nationkey + 1000, "
            "concat(n_name, '_X'), n_regionkey FROM nation_src "
            "WHERE n_regionkey = 0"
        )
        pond.sql(
            "UPDATE lake.nation_dml SET n_regionkey = n_regionkey + 10 "
            "WHERE n_nationkey >= 1000"
        )
        pond.sql("DELETE FROM lake.nation_dml WHERE n_regionkey = 4")
        pond.sql(
            "MERGE INTO lake.nation_dml AS t USING "
            "(SELECT n_nationkey, concat(n_name, '_M') AS n_name, "
            "n_regionkey FROM nation_src WHERE n_regionkey = 1) AS s "
            "ON t.n_nationkey = s.n_nationkey "
            "WHEN MATCHED THEN UPDATE SET * "
            "WHEN NOT MATCHED THEN INSERT *"
        )
    return pond


@register(
    "b13_sql_dml",
    "delta-core",
    """
    WITH base AS (
      SELECT n_nationkey,
             CASE WHEN n_regionkey = 1 THEN n_name || '_M' ELSE n_name END AS n_name,
             n_regionkey
      FROM nation WHERE n_regionkey <> 4
    ), ins AS (
      SELECT n_nationkey + 1000 AS n_nationkey, n_name || '_X' AS n_name,
             n_regionkey + 10 AS n_regionkey
      FROM nation WHERE n_regionkey = 0
    ), final AS (
      SELECT * FROM base UNION ALL SELECT * FROM ins
    )
    SELECT CAST(n_regionkey AS INT) AS rk, count(*) AS n,
           CAST(sum(n_nationkey) AS BIGINT) AS key_sum,
           CAST(sum(length(n_name)) AS BIGINT) AS name_len
    FROM final GROUP BY 1
    """,
    "SQL DML endpoint (sqldml.route_statement): CTAS + INSERT + UPDATE + "
    "DELETE + multi-clause MERGE through pond.sql, all parse-plan-routed "
    "onto the native Delta write layer; oracle reproduces the final state "
    "arithmetically from raw parquet",
)
def b13(spark: SparkSession, sf_dir: str) -> DataFrame:
    pond = _ensure_sqldml_nation(spark, sf_dir)
    return pond.sql(
        """
        SELECT CAST(n_regionkey AS INT) AS rk, count(*) AS n,
               CAST(sum(n_nationkey) AS BIGINT) AS key_sum,
               CAST(sum(length(n_name)) AS BIGINT) AS name_len
        FROM lake.nation_dml GROUP BY 1
        """
    )


# --------------------------------------------------- g01/g02: views + history


def _ensure_view_pond(spark: SparkSession, sf_dir: str) -> DeltaPond:
    """Pond with a nation-derived Delta table, a persisted NAMED VIEW over
    it, and post-CREATE-VIEW DML — so the gate proves the view re-resolves
    its defining SQL against the CURRENT snapshot (never a file list
    pinned at CREATE time). Built once per sf. Reference analogue: Athena
    gives the connector's users engine-side views for free (README.md:38,
    SURVEY §2.B); here they live in the pond's storage-layout catalog."""
    root = os.path.join(_fixture_root(sf_dir), "pond_views")
    pond = DeltaPond(spark, root)
    path = os.path.join(root, "lake", "nation_vw")
    if not os.path.isdir(os.path.join(path, "_delta_log")):
        load(spark, sf_dir, "nation").createOrReplaceTempView("nation_vsrc")
        pond.sql("CREATE SCHEMA IF NOT EXISTS lake")
        pond.sql(
            "CREATE TABLE lake.nation_vw AS "
            "SELECT n_nationkey, n_name, n_regionkey FROM nation_vsrc"
        )
        pond.sql(
            "CREATE VIEW lake.low_nations AS "
            "SELECT n_nationkey, n_name, n_regionkey "
            "FROM lake.nation_vw WHERE n_regionkey <= 2"
        )
        # DML AFTER the view exists: the view must see both
        pond.sql(
            "INSERT INTO lake.nation_vw SELECT n_nationkey + 500, "
            "concat(n_name, '_V'), n_regionkey FROM nation_vsrc "
            "WHERE n_regionkey = 2"
        )
        pond.sql("DELETE FROM lake.nation_vw WHERE n_regionkey = 1")
    return pond


@register(
    "g01_named_view",
    "delta-core",
    """
    WITH cur AS (
      SELECT n_nationkey, n_name, n_regionkey FROM nation
      UNION ALL
      SELECT n_nationkey + 500, n_name || '_V', n_regionkey
      FROM nation WHERE n_regionkey = 2
    )
    SELECT CAST(n_regionkey AS INT) AS rk, count(*) AS n,
           CAST(sum(n_nationkey) AS BIGINT) AS key_sum
    FROM cur
    WHERE n_regionkey <= 2 AND n_regionkey <> 1
    GROUP BY 1
    """,
    "named persisted view (CREATE VIEW via pond.sql, stored as SQL text in "
    "the storage-layout catalog) queried AFTER INSERT+DELETE on the base "
    "table — proves view references re-resolve to the current snapshot",
)
def g01(spark: SparkSession, sf_dir: str) -> DataFrame:
    pond = _ensure_view_pond(spark, sf_dir)
    return pond.sql(
        """
        SELECT CAST(n_regionkey AS INT) AS rk, count(*) AS n,
               CAST(sum(n_nationkey) AS BIGINT) AS key_sum
        FROM lake.low_nations GROUP BY 1
        """
    )


@register(
    "g02_describe_history",
    "delta-core",
    """
    SELECT * FROM (VALUES (2, 'DELETE'), (1, 'WRITE'), (0, 'WRITE'))
      AS t(version, operation)
    ORDER BY version DESC
    """,
    "DESCRIBE HISTORY via pond.sql (Delta-specific syntax routed by text "
    "before Spark's parser): commitInfo per version, newest first; the "
    "deterministic (version, operation) projection is hash-checked",
)
def g02(spark: SparkSession, sf_dir: str) -> DataFrame:
    pond = _ensure_view_pond(spark, sf_dir)
    return (
        pond.sql("DESCRIBE HISTORY lake.nation_vw")
        .selectExpr("CAST(version AS INT) AS version", "operation")
        .orderBy(F.desc("version"))
    )


# ------------------------------------------------ g03: variant Delta columns


def _ensure_variant_events(spark: SparkSession, sf_dir: str) -> str:
    """events with `props` stored as a true VARIANT column in a Delta
    table — the `variantType` reader+writer feature is stamped by
    write_delta, numRecords stats come from the Spark-side path (this
    container's pyarrow cannot open VARIANT-annotated footers), and the
    snapshot reads the parquet shredding back as variant."""
    path = os.path.join(_fixture_root(sf_dir), "lake", "events_variant")
    if not os.path.isdir(os.path.join(path, "_delta_log")):
        ev = load(spark, sf_dir, "events").select(
            "event_id",
            "event_type",
            "value",
            F.parse_json("props").alias("props"),
        )
        write_delta(ev.repartition(4), path)
    return path


@register(
    "g03_variant_column",
    "delta-core",
    """
    SELECT event_type,
           count(*) AS n,
           CAST(sum(CAST(props ->> '$.k' AS BIGINT)) AS BIGINT) AS k_sum,
           CAST(max(CAST(props ->> '$.k' AS BIGINT)) AS BIGINT) AS k_max
    FROM events
    GROUP BY event_type
    """,
    "VARIANT column round-tripped through a native Delta table "
    "(variantType feature, parquet shredding) and extracted with typed "
    "variant_get — oracle extracts the same values from the raw JSON",
)
def g03(spark: SparkSession, sf_dir: str) -> DataFrame:
    path = _ensure_variant_events(spark, sf_dir)
    df = DeltaTable(spark, path).to_df()
    return df.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(F.variant_get("props", "$.k", "bigint")).alias("k_sum"),
        F.max(F.variant_get("props", "$.k", "bigint")).alias("k_max"),
    )


# ------------------------------------------- g05: maintenance SQL statements


def _ensure_maintenance_pond(spark: SparkSession, sf_dir: str) -> DeltaPond:
    """region copied through the maintenance-SQL lifecycle: CTAS, three
    small INSERTs, OPTIMIZE (bin-packing via the text-routed statement),
    a RESTORE round trip (to v0 and back via DESCRIBE HISTORY's count),
    and a VACUUM DRY RUN — data must survive byte-exact."""
    root = os.path.join(_fixture_root(sf_dir), "pond_maint")
    pond = DeltaPond(spark, root)
    path = os.path.join(root, "lake", "region_m")
    if not os.path.isdir(os.path.join(path, "_delta_log")):
        load(spark, sf_dir, "region").createOrReplaceTempView("region_msrc")
        pond.sql("CREATE SCHEMA IF NOT EXISTS lake")
        pond.sql(
            "CREATE TABLE lake.region_m AS "
            "SELECT r_regionkey, r_name FROM region_msrc"
        )
        for i in range(3):
            pond.sql(
                f"INSERT INTO lake.region_m SELECT r_regionkey + {10 * (i + 1)}, "
                "concat(r_name, '_X') FROM region_msrc"
            )
        pond.sql("OPTIMIZE lake.region_m")
        pond.sql("VACUUM lake.region_m RETAIN 168 HOURS DRY RUN")
        # restore away the third insert, then restore forward again: the
        # final state must still carry ALL inserts (restore is just
        # another version)
        pond.sql("RESTORE lake.region_m TO VERSION AS OF 2")
        pond.sql("RESTORE lake.region_m TO VERSION AS OF 4")
    return pond


@register(
    "g05_maintenance_sql",
    "delta-core",
    """
    WITH ins AS (
      SELECT r_regionkey + 10 * g AS k, r_name || '_X' AS name
      FROM region CROSS JOIN (VALUES (1), (2), (3)) AS t(g)
      UNION ALL
      SELECT r_regionkey, r_name FROM region
    )
    SELECT count(*) AS n,
           CAST(sum(k) AS BIGINT) AS key_sum,
           CAST(sum(length(name)) AS BIGINT) AS name_len
    FROM ins
    """,
    "maintenance statements end-to-end (OPTIMIZE, VACUUM DRY RUN, RESTORE "
    "to an old version and forward again, all text-routed through "
    "pond.sql): compaction and restore must preserve the data exactly",
)
def g05(spark: SparkSession, sf_dir: str) -> DataFrame:
    pond = _ensure_maintenance_pond(spark, sf_dir)
    return pond.sql(
        """
        SELECT count(*) AS n,
               CAST(sum(r_regionkey) AS BIGINT) AS key_sum,
               CAST(sum(length(r_name)) AS BIGINT) AS name_len
        FROM lake.region_m
        """
    )


# ------------------------------------ g06: spec-conformant change data feed


def _ensure_cdc_customer(spark: SparkSession, sf_dir: str) -> str:
    """customer copied into a CDF-enabled Delta table, then an UPDATE and a
    MERGE: the commits carry spec `cdc` actions + `_change_data/` files, so
    the change feed returns labeled `update_preimage`/`update_postimage`
    pairs and exact inserts — never derived whole-file churn."""
    from ..delta.dml import merge_upsert, update

    path = os.path.join(_fixture_root(sf_dir), "lake", "cdc_customer")
    if not os.path.isdir(os.path.join(path, "_delta_log")):
        write_delta(
            load(spark, sf_dir, "customer"),
            path,
            configuration={"delta.enableChangeDataFeed": "true"},
        )
    t = DeltaTable(spark, path)
    if t.version() < 1:  # heal half-built fixtures version by version
        update(
            spark, path, {"c_acctbal": "c_acctbal + 100"},
            "c_mktsegment = 'BUILDING'",
        )
    if t.version() < 2:
        c = load(spark, sf_dir, "customer")
        src = c.filter("c_custkey % 10 = 0").withColumn(
            "c_acctbal", F.col("c_acctbal") * 2
        ).unionByName(
            c.filter("c_custkey % 10 = 3").withColumn(
                "c_custkey", F.col("c_custkey") + 1000000
            )
        )
        merge_upsert(spark, path, src, ["c_custkey"])
    return path


@register(
    "g06_cdc_change_feed",
    "delta-core",
    """
    WITH pre1 AS (
      SELECT 1 AS v, 'update_preimage' AS ct, c_custkey AS k, c_acctbal AS bal
      FROM customer WHERE c_mktsegment = 'BUILDING'
    ), post1 AS (
      SELECT 1, 'update_postimage', c_custkey, c_acctbal + 100
      FROM customer WHERE c_mktsegment = 'BUILDING'
    ), pre2 AS (
      SELECT 2, 'update_preimage', c_custkey,
             CASE WHEN c_mktsegment = 'BUILDING' THEN c_acctbal + 100
                  ELSE c_acctbal END
      FROM customer WHERE c_custkey % 10 = 0
    ), post2 AS (
      SELECT 2, 'update_postimage', c_custkey, c_acctbal * 2
      FROM customer WHERE c_custkey % 10 = 0
    ), ins2 AS (
      SELECT 2, 'insert', c_custkey + 1000000, c_acctbal
      FROM customer WHERE c_custkey % 10 = 3
    ), chg AS (
      SELECT * FROM pre1 UNION ALL SELECT * FROM post1 UNION ALL
      SELECT * FROM pre2 UNION ALL SELECT * FROM post2 UNION ALL
      SELECT * FROM ins2
    )
    SELECT CAST(v AS INT) AS _commit_version, ct AS _change_type,
           count(*) AS n, CAST(sum(k) AS BIGINT) AS key_sum,
           CAST(sum(floor(bal * 100)) AS BIGINT) AS cents
    FROM chg GROUP BY 1, 2
    """,
    "spec-conformant CDF: UPDATE + MERGE on a delta.enableChangeDataFeed "
    "table emit cdc actions / _change_data files; the feed's labeled "
    "pre/post images and inserts hash-match the oracle's reconstruction",
)
def g06(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..delta.cdf import table_changes

    path = _ensure_cdc_customer(spark, sf_dir)
    ch = table_changes(spark, path, 1, 2)
    return ch.groupBy(
        F.col("_commit_version").cast("int").alias("_commit_version"),
        "_change_type",
    ).agg(
        F.count("*").alias("n"),
        F.sum("c_custkey").cast("long").alias("key_sum"),
        F.sum(F.floor(F.col("c_acctbal") * 100)).cast("long").alias("cents"),
    )


# ------------------------- g10: CDF TVF three-column metadata contract


def _ensure_cdf_ts_pond(spark: SparkSession, sf_dir: str) -> DeltaPond:
    """supplier with delta.enableChangeDataFeed, DML'd through pond.sql,
    then DETERMINISTIC inCommitTimestamps injected into each commit's
    commitInfo (exactly what a writer with the inCommitTimestamp feature
    records, and what log.commit_timestamp prefers over file mtime) — so
    the TVF's `_commit_timestamp` column is oracle-checkable to the
    second instead of being wall-clock noise."""
    import json

    root = os.path.join(_fixture_root(sf_dir), "pond_cdfts")
    pond = DeltaPond(spark, root)
    path = os.path.join(root, "lake", "sup_ts")
    if not os.path.isdir(os.path.join(path, "_delta_log")):
        write_delta(
            load(spark, sf_dir, "supplier").select(
                "s_suppkey", "s_nationkey", "s_acctbal"
            ),
            path,
            configuration={"delta.enableChangeDataFeed": "true"},
        )
    t = DeltaTable(spark, path)
    if t.version() < 1:  # heal half-built fixtures version by version
        pond.sql("DELETE FROM lake.sup_ts WHERE s_nationkey < 10")
    if t.version() < 2:
        pond.sql(
            "UPDATE lake.sup_ts SET s_acctbal = s_acctbal + 50 "
            "WHERE s_suppkey % 7 = 0"
        )
    base = 1_700_000_000_000  # 2023-11-14T22:13:20Z; no DST boundary nearby
    log_dir = os.path.join(path, "_delta_log")
    for v in range(3):
        want = base + v * 86_400_000
        fp = os.path.join(log_dir, f"{v:020d}.json")
        with open(fp) as f:
            lines = [json.loads(ln) for ln in f if ln.strip()]
        cis = [a for a in lines if "commitInfo" in a]
        if cis and cis[0]["commitInfo"].get("inCommitTimestamp") == want:
            continue  # already injected (idempotent re-runs)
        if cis:
            cis[0]["commitInfo"]["inCommitTimestamp"] = want
        else:
            lines.insert(0, {"commitInfo": {"inCommitTimestamp": want}})
        with open(fp, "w") as f:
            for a in lines:
                f.write(json.dumps(a) + "\n")
    return pond


@register(
    "g10_cdf_commit_timestamp",
    "delta-core",
    """
    WITH del AS (
      SELECT 1 AS v, 'delete' AS ct, s_suppkey AS k
      FROM supplier WHERE s_nationkey < 10
    ), pre AS (
      SELECT 2 AS v, 'update_preimage' AS ct, s_suppkey AS k
      FROM supplier WHERE s_nationkey >= 10 AND s_suppkey % 7 = 0
    ), post AS (
      SELECT 2 AS v, 'update_postimage' AS ct, s_suppkey AS k
      FROM supplier WHERE s_nationkey >= 10 AND s_suppkey % 7 = 0
    ), chg AS (
      SELECT * FROM del UNION ALL SELECT * FROM pre
      UNION ALL SELECT * FROM post
    )
    SELECT CAST(v AS INT) AS v, ct AS _change_type, count(*) AS n,
           CAST(sum(k) AS BIGINT) AS key_sum,
           CAST(1700000000 + v * 86400 AS BIGINT) AS ts_epoch,
           CAST(1 AS INT) AS n_ts
    FROM chg GROUP BY v, ct
    """,
    "table_changes(...) via pond.sql emits the full three-column Delta CDF "
    "metadata contract (_change_type, _commit_version, _commit_timestamp); "
    "the inCommitTimestamp-backed timestamp hash-matches the oracle's "
    "reconstruction from commit metadata (unix_timestamp round-trips the "
    "session-timezone rendering, so the check is timezone-proof)",
)
def g10(spark: SparkSession, sf_dir: str) -> DataFrame:
    pond = _ensure_cdf_ts_pond(spark, sf_dir)
    return pond.sql(
        """
        SELECT CAST(_commit_version AS INT) AS v, _change_type,
               count(*) AS n, CAST(sum(s_suppkey) AS BIGINT) AS key_sum,
               CAST(max(unix_timestamp(_commit_timestamp)) AS BIGINT)
                 AS ts_epoch,
               CAST(count(DISTINCT _commit_timestamp) AS INT) AS n_ts
        FROM table_changes('lake.sup_ts', 1, 2)
        GROUP BY 1, 2
        """
    )


# ------------------- g11: ANALYZE TABLE stats + broadcast-hinted join


def _ensure_analyze_pond(spark: SparkSession, sf_dir: str) -> DeltaPond:
    """orders shrunk to a tiny live set by a merge-on-read DELETE (files
    keep their physical size; only the log knows the live row count),
    then ANALYZE TABLE — the table binding applies a broadcast hint from
    log-derived live bytes (catalog._maybe_broadcast_hint), which
    Catalyst's physical-bytes estimate cannot do."""
    root = os.path.join(_fixture_root(sf_dir), "pond_analyze")
    pond = DeltaPond(spark, root)
    path = os.path.join(root, "lake", "an_ord")
    if not os.path.isdir(os.path.join(path, "_delta_log")):
        from ..delta.dml import delete_mor

        write_delta(load(spark, sf_dir, "orders"), path)
        delete_mor(spark, path, "o_orderkey % 97 != 0")
        pond.sql("ANALYZE TABLE lake.an_ord COMPUTE STATISTICS")
    return pond


@register(
    "g11_analyze_broadcast",
    "delta-core",
    """
    SELECT c.c_mktsegment AS seg, count(*) AS n,
           CAST(sum(floor(o.o_totalprice)) AS BIGINT) AS tot
    FROM customer c JOIN orders o ON o.o_custkey = c.c_custkey
    WHERE o.o_orderkey % 97 = 0
    GROUP BY seg
    """,
    "ANALYZE TABLE … COMPUTE STATISTICS stores log-derived rowCount/"
    "sizeInBytes (zero scan; DV-aware) and pond.sql binds the analyzed "
    "MOR-shrunk dim with a broadcast hint — the joined result "
    "hash-matches the oracle's reconstruction",
)
def g11(spark: SparkSession, sf_dir: str) -> DataFrame:
    pond = _ensure_analyze_pond(spark, sf_dir)
    load(spark, sf_dir, "customer").createOrReplaceTempView("an_cust")
    return pond.sql(
        """
        SELECT c.c_mktsegment AS seg, count(*) AS n,
               CAST(sum(floor(o.o_totalprice)) AS BIGINT) AS tot
        FROM an_cust c JOIN lake.an_ord o ON o.o_custkey = c.c_custkey
        GROUP BY seg
        """
    )


# ---------------------- g12: REORG TABLE APPLY (PURGE) content stability


def _ensure_reorg_pond(spark: SparkSession, sf_dir: str) -> DeltaPond:
    """part table: MOR delete (deletion vectors), then REORG TABLE …
    APPLY (PURGE) via pond.sql — the DV'd files rewrite to clean parquet
    with zero logical change, and no DV descriptors remain."""
    root = os.path.join(_fixture_root(sf_dir), "pond_reorg")
    pond = DeltaPond(spark, root)
    path = os.path.join(root, "lake", "part_rg")
    if not os.path.isdir(os.path.join(path, "_delta_log")):
        from ..delta.dml import delete_mor

        write_delta(load(spark, sf_dir, "part"), path)
        delete_mor(spark, path, "p_size > 40")
        pond.sql("REORG TABLE lake.part_rg APPLY (PURGE)")
    return pond


@register(
    "g12_reorg_purge",
    "delta-core",
    """
    SELECT p_brand, count(*) AS n,
           CAST(sum(p_partkey) AS BIGINT) AS key_sum,
           CAST(sum(p_size) AS BIGINT) AS size_sum
    FROM part WHERE p_size <= 40
    GROUP BY p_brand
    """,
    "REORG TABLE … APPLY (PURGE) materializes deletion-vector'd rows "
    "into clean parquet with ZERO logical change (dataChange=false) and "
    "leaves no DVs behind; post-REORG content hash-matches the oracle",
)
def g12(spark: SparkSession, sf_dir: str) -> DataFrame:
    pond = _ensure_reorg_pond(spark, sf_dir)
    path = os.path.join(_fixture_root(sf_dir), "pond_reorg", "lake", "part_rg")
    snap = DeltaTable(spark, path).snapshot()
    assert not any(f.deletion_vector for f in snap.files), (
        "REORG left deletion vectors behind"
    )
    return pond.sql(
        """
        SELECT p_brand, count(*) AS n,
               CAST(sum(p_partkey) AS BIGINT) AS key_sum,
               CAST(sum(p_size) AS BIGINT) AS size_sum
        FROM lake.part_rg GROUP BY p_brand
        """
    )


# ----------------------------------- g08: SQL CLONE (diverged, time-travel)


def _ensure_sql_clone_pond(spark: SparkSession, sf_dir: str) -> DeltaPond:
    """supplier through the SQL CLONE lifecycle, all text-routed via
    pond.sql: CTAS + INSERT on the source, a SHALLOW CLONE pinned to
    VERSION AS OF 0, then DML divergence on the clone (DELETE + INSERT).
    The clone must read v0-of-source minus/plus its own DML; the source
    keeps its insert."""
    root = os.path.join(_fixture_root(sf_dir), "pond_clone")
    pond = DeltaPond(spark, root)
    path = os.path.join(root, "lake", "sup_cl")
    if not os.path.isdir(os.path.join(path, "_delta_log")):
        load(spark, sf_dir, "supplier").createOrReplaceTempView("sup_clsrc")
        pond.sql("CREATE SCHEMA IF NOT EXISTS lake")
        pond.sql("CREATE TABLE lake.sup_src AS SELECT * FROM sup_clsrc")
        pond.sql(
            "INSERT INTO lake.sup_src SELECT s_suppkey + 100000, s_name, "
            "s_nationkey, s_acctbal FROM sup_clsrc WHERE s_suppkey % 3 = 0"
        )
        pond.sql(
            "CREATE TABLE lake.sup_cl SHALLOW CLONE lake.sup_src "
            "VERSION AS OF 0"
        )
        pond.sql("DELETE FROM lake.sup_cl WHERE s_nationkey < 5")
        pond.sql(
            "INSERT INTO lake.sup_cl SELECT s_suppkey + 500000, s_name, "
            "s_nationkey, s_acctbal FROM sup_clsrc WHERE s_nationkey >= 20"
        )
    return pond


@register(
    "g08_sql_clone",
    "delta-core",
    """
    WITH clone_rows AS (
      SELECT s_suppkey, s_nationkey, s_acctbal
      FROM supplier WHERE s_nationkey >= 5
      UNION ALL
      SELECT s_suppkey + 500000, s_nationkey, s_acctbal
      FROM supplier WHERE s_nationkey >= 20
    ), src_n AS (
      SELECT count(*) AS n FROM supplier
    )
    SELECT CAST(count(*) AS BIGINT) AS n_clone,
           CAST(sum(s_suppkey) AS BIGINT) AS key_sum,
           CAST(sum(floor(s_acctbal * 100)) AS BIGINT) AS bal_cents,
           CAST((SELECT n + (SELECT count(*) FROM supplier
                             WHERE s_suppkey % 3 = 0) FROM src_n) AS BIGINT)
             AS n_source
    FROM clone_rows
    """,
    "SQL CLONE end-to-end: SHALLOW CLONE VERSION AS OF 0 via pond.sql, "
    "diverged with DELETE+INSERT; clone state and untouched-source count "
    "both hash-match the oracle's reconstruction",
)
def g08(spark: SparkSession, sf_dir: str) -> DataFrame:
    pond = _ensure_sql_clone_pond(spark, sf_dir)
    return pond.sql(
        """
        SELECT CAST(count(*) AS BIGINT) AS n_clone,
               CAST(sum(s_suppkey) AS BIGINT) AS key_sum,
               CAST(sum(floor(s_acctbal * 100)) AS BIGINT) AS bal_cents,
               (SELECT count(*) FROM lake.sup_src) AS n_source
        FROM lake.sup_cl
        """
    )


# ------------------------------------ g07: MERGE WITH SCHEMA EVOLUTION


def _ensure_se_nation(spark: SparkSession, sf_dir: str) -> DeltaPond:
    """nation through MERGE WITH SCHEMA EVOLUTION, text-routed via
    pond.sql: the source carries a column the target lacks (region_code),
    so the merge widens the schema IN ITS OWN COMMIT — matched rows take
    the source values, unmatched old rows read NULL for the new column,
    and the inserts land with it populated."""
    root = os.path.join(_fixture_root(sf_dir), "pond_se")
    pond = DeltaPond(spark, root)
    path = os.path.join(root, "lake", "nation_se")
    if not os.path.isdir(os.path.join(path, "_delta_log")):
        load(spark, sf_dir, "nation").createOrReplaceTempView("nation_sesrc")
        pond.sql("CREATE SCHEMA IF NOT EXISTS lake")
        pond.sql("CREATE TABLE lake.nation_se AS SELECT * FROM nation_sesrc")
        spark.sql(
            """
            SELECT n_nationkey, n_name, n_regionkey,
                   n_regionkey * 100 + n_nationkey AS region_code
            FROM nation_sesrc WHERE n_nationkey % 2 = 0
            UNION ALL
            SELECT n_nationkey + 1000, concat(n_name, '_NEW'), n_regionkey,
                   -1 AS region_code
            FROM nation_sesrc WHERE n_nationkey % 5 = 0
            """
        ).createOrReplaceTempView("nation_semerge")
        pond.sql(
            "MERGE WITH SCHEMA EVOLUTION INTO lake.nation_se AS t "
            "USING nation_semerge AS s ON t.n_nationkey = s.n_nationkey "
            "WHEN MATCHED THEN UPDATE SET * "
            "WHEN NOT MATCHED THEN INSERT *"
        )
    return pond


@register(
    "g07_merge_schema_evolution",
    "delta-core",
    """
    WITH merged AS (
      SELECT n_nationkey, n_name, n_regionkey,
             CASE WHEN n_nationkey % 2 = 0
                  THEN n_regionkey * 100 + n_nationkey END AS region_code
      FROM nation
      UNION ALL
      SELECT n_nationkey + 1000, n_name || '_NEW', n_regionkey, -1
      FROM nation WHERE n_nationkey % 5 = 0
    )
    SELECT CAST(count(*) AS BIGINT) AS n,
           CAST(count(region_code) AS BIGINT) AS n_coded,
           CAST(sum(n_nationkey) AS BIGINT) AS key_sum,
           CAST(coalesce(sum(region_code), 0) AS BIGINT) AS code_sum,
           CAST(sum(length(n_name)) AS BIGINT) AS name_len
    FROM merged
    """,
    "MERGE WITH SCHEMA EVOLUTION end-to-end through pond.sql: the source's "
    "new column widens the target in the merge's own commit; old rows read "
    "NULL, matched rows take source values, inserts populate it",
)
def g07(spark: SparkSession, sf_dir: str) -> DataFrame:
    pond = _ensure_se_nation(spark, sf_dir)
    return pond.sql(
        """
        SELECT CAST(count(*) AS BIGINT) AS n,
               CAST(count(region_code) AS BIGINT) AS n_coded,
               CAST(sum(n_nationkey) AS BIGINT) AS key_sum,
               CAST(coalesce(sum(region_code), 0) AS BIGINT) AS code_sum,
               CAST(sum(length(n_name)) AS BIGINT) AS name_len
        FROM lake.nation_se
        """
    )


# --------------------------- g09: generated-column partition-filter pruning


def _ensure_events_generated(spark: SparkSession, sf_dir: str) -> str:
    """events as a Delta table partitioned by a GENERATED column
    (event_date = CAST(ts AS DATE), delta.generationExpression in the
    field metadata) — the commonest timestamp-partitioned warehouse
    layout. The builder asserts the round-5 derivation actually prunes:
    a `ts` range predicate must shrink the file list via the generated
    partition column, or the fixture refuses to build."""
    path = os.path.join(_fixture_root(sf_dir), "lake", "events_gen")
    if not os.path.isdir(os.path.join(path, "_delta_log")):
        ev = load(spark, sf_dir, "events")
        with_date = ev.select(
            "*",
            F.to_date("ts").alias(
                "event_date",
                metadata={"delta.generationExpression": "CAST(ts AS DATE)"},
            ),
        )
        write_delta(with_date, path, partition_by=["event_date"])
    from ..delta.log import DeltaLog
    from ..delta.stats import prune_files

    snap = DeltaLog(path).snapshot()
    pruned = prune_files(
        snap, [("ts", ">=", "2024-01-10 06:00:00"), ("ts", "<", "2024-01-13 18:00:00")]
    )
    if not (0 < len(pruned) < len(snap.files)):
        raise AssertionError(
            "generated-column derivation failed to prune the file list: "
            f"{len(pruned)} of {len(snap.files)} files survive"
        )
    return path


@register(
    "g09_generated_partition_pruning",
    "delta-core",
    """
    SELECT event_type,
           CAST(count(*) AS BIGINT) AS n,
           CAST(sum(event_id) AS BIGINT) AS id_sum,
           CAST(sum(floor(value * 100)) AS BIGINT) AS value_cents
    FROM events
    WHERE ts >= TIMESTAMP '2024-01-10 06:00:00'
      AND ts < TIMESTAMP '2024-01-13 18:00:00'
    GROUP BY 1
    """,
    "timestamp-range query over a table partitioned by a GENERATED date "
    "column: the ts predicate derives a partition predicate "
    "(delta.generationExpression), pruning files before the scan; results "
    "hash-match the raw-parquet oracle",
)
def g09(spark: SparkSession, sf_dir: str) -> DataFrame:
    path = _ensure_events_generated(spark, sf_dir)
    t = DeltaTable(spark, path)
    df = t.to_df(
        predicates=[
            ("ts", ">=", "2024-01-10 06:00:00"),
            ("ts", "<", "2024-01-13 18:00:00"),
        ]
    ).filter(
        "ts >= TIMESTAMP '2024-01-10 06:00:00' "
        "AND ts < TIMESTAMP '2024-01-13 18:00:00'"
    )
    return df.groupBy("event_type").agg(
        F.count("*").alias("n"),
        F.sum("event_id").cast("long").alias("id_sum"),
        F.sum(F.floor(F.col("value") * 100)).cast("long").alias("value_cents"),
    )


# ------------- g13: DROP FEATURE protocol downgrade, content stability


def _ensure_drop_feature_pond(spark: SparkSession, sf_dir: str) -> DeltaPond:
    """orders table through the full feature-retirement lifecycle, all
    text-routed via pond.sql: created with CDF on (legacy minWriterVersion
    4), MOR DELETE (deletionVectors reader+writer feature), REORG … APPLY
    (PURGE), DROP FEATURE changeDataFeed (writer-only: immediate), DROP
    FEATURE deletionVectors TRUNCATE HISTORY (reader+writer: checkpoints
    the drop commit and deletes the DV-tainted history). The surviving
    rows must hash-match the oracle and the protocol must carry neither
    feature."""
    root = os.path.join(_fixture_root(sf_dir), "pond_dropfeat")
    pond = DeltaPond(spark, root)
    path = os.path.join(root, "lake", "ord_df")
    if not os.path.isdir(os.path.join(path, "_delta_log")):
        from ..delta.dml import delete_mor

        write_delta(
            load(spark, sf_dir, "orders"),
            path,
            configuration={"delta.enableChangeDataFeed": "true"},
        )
        delete_mor(spark, path, "o_orderstatus = 'F'")
        pond.sql("REORG TABLE lake.ord_df APPLY (PURGE)")
        pond.sql("ALTER TABLE lake.ord_df DROP FEATURE changeDataFeed")
        pond.sql(
            "ALTER TABLE lake.ord_df DROP FEATURE deletionVectors "
            "TRUNCATE HISTORY"
        )
    return pond


@register(
    "g13_drop_feature",
    "delta-core",
    """
    SELECT o_orderpriority, count(*) AS n,
           CAST(sum(o_orderkey) AS BIGINT) AS key_sum,
           CAST(round(sum(o_totalprice) * 100) AS BIGINT) AS price_cents
    FROM orders WHERE o_orderstatus <> 'F'
    GROUP BY o_orderpriority
    """,
    "ALTER TABLE … DROP FEATURE retires changeDataFeed (writer-only, "
    "immediate) and deletionVectors (reader+writer, TRUNCATE HISTORY) "
    "with ZERO content change: the downgraded protocol names neither "
    "feature, no retained log entry carries a DV descriptor, and the "
    "post-downgrade scan hash-matches the oracle",
)
def g13(spark: SparkSession, sf_dir: str) -> DataFrame:
    pond = _ensure_drop_feature_pond(spark, sf_dir)
    path = os.path.join(
        _fixture_root(sf_dir), "pond_dropfeat", "lake", "ord_df"
    )
    proto = DeltaTable(spark, path).snapshot().protocol
    feats = set(proto.get("readerFeatures") or []) | set(
        proto.get("writerFeatures") or []
    )
    assert not ({"changeDataFeed", "deletionVectors"} & feats), (
        f"DROP FEATURE left features on the protocol: {sorted(feats)}"
    )
    return pond.sql(
        """
        SELECT o_orderpriority, count(*) AS n,
               CAST(sum(o_orderkey) AS BIGINT) AS key_sum,
               CAST(round(sum(o_totalprice) * 100) AS BIGINT) AS price_cents
        FROM lake.ord_df GROUP BY o_orderpriority
        """
    )


# ---------------- g14: ALTER-surface DDL lifecycle, content stability


def _ensure_ddl_pond(spark: SparkSession, sf_dir: str) -> DeltaPond:
    """customer through the round-6 ALTER surface, all text-routed:
    ADD COLUMNS with AFTER/FIRST positions, SET DEFAULT (applied to a
    by-name INSERT), ADD/enforce CHECK CONSTRAINT, COMMENT, SET NOT NULL
    and column reorder — every step a metadata-only commit except the
    default-bearing insert."""
    root = os.path.join(_fixture_root(sf_dir), "pond_ddl")
    pond = DeltaPond(spark, root)
    path = os.path.join(root, "lake", "cust_ddl")
    if not os.path.isdir(os.path.join(path, "_delta_log")):
        load(spark, sf_dir, "customer").createOrReplaceTempView("cust_src")
        pond.sql("CREATE SCHEMA IF NOT EXISTS lake")
        pond.sql(
            "CREATE TABLE lake.cust_ddl AS SELECT c_custkey, c_name, "
            "c_nationkey, c_acctbal FROM cust_src"
        )
        pond.sql(
            "ALTER TABLE lake.cust_ddl ADD COLUMNS "
            "(segment STRING AFTER c_name)"
        )
        pond.sql(
            "ALTER TABLE lake.cust_ddl ALTER COLUMN segment "
            "SET DEFAULT 'GENERAL'"
        )
        pond.sql(
            "INSERT INTO lake.cust_ddl (c_custkey, c_name, c_nationkey, "
            "c_acctbal) SELECT c_custkey + 1000000, c_name, c_nationkey, "
            "c_acctbal FROM cust_src WHERE c_custkey % 100 = 0"
        )
        pond.sql(
            "ALTER TABLE lake.cust_ddl ADD CONSTRAINT bal_floor "
            "CHECK (c_acctbal > -100000)"
        )
        pond.sql(
            "ALTER TABLE lake.cust_ddl ALTER COLUMN c_acctbal "
            "COMMENT 'account balance'"
        )
        pond.sql("ALTER TABLE lake.cust_ddl ALTER COLUMN c_custkey SET NOT NULL")
        pond.sql("ALTER TABLE lake.cust_ddl ALTER COLUMN c_nationkey FIRST")
    return pond


@register(
    "g14_ddl_lifecycle",
    "delta-core",
    """
    SELECT coalesce(segment, 'NONE') AS seg, count(*) AS n,
           CAST(sum(c_custkey) AS BIGINT) AS key_sum,
           CAST(round(sum(c_acctbal) * 100) AS BIGINT) AS bal_cents
    FROM (
      SELECT c_custkey, CAST(NULL AS VARCHAR) AS segment, c_acctbal
      FROM customer
      UNION ALL
      SELECT c_custkey + 1000000, 'GENERAL', c_acctbal
      FROM customer WHERE c_custkey % 100 = 0
    ) GROUP BY 1
    """,
    "the SQL ALTER surface (positioned ADD COLUMNS, SET DEFAULT driving "
    "a by-name INSERT, CHECK constraint, COMMENT, SET NOT NULL, column "
    "reorder) leaves content exactly derivable: pre-existing rows read "
    "NULL for the added column, defaulted inserts read 'GENERAL', and "
    "the final scan hash-matches the oracle reconstruction",
)
def g14(spark: SparkSession, sf_dir: str) -> DataFrame:
    pond = _ensure_ddl_pond(spark, sf_dir)
    path = os.path.join(_fixture_root(sf_dir), "pond_ddl", "lake", "cust_ddl")
    fields = DeltaTable(spark, path).snapshot().schema.fields
    assert [f.name for f in fields] == [
        "c_nationkey", "c_custkey", "c_name", "segment", "c_acctbal",
    ], "column reorder not reflected in the schema"
    assert not next(f for f in fields if f.name == "c_custkey").nullable
    assert (
        next(f for f in fields if f.name == "c_acctbal").metadata.get("comment")
        == "account balance"
    )
    return pond.sql(
        """
        SELECT coalesce(segment, 'NONE') AS seg, count(*) AS n,
               CAST(sum(c_custkey) AS BIGINT) AS key_sum,
               CAST(round(sum(c_acctbal) * 100) AS BIGINT) AS bal_cents
        FROM lake.cust_ddl GROUP BY coalesce(segment, 'NONE')
        """
    )


# ------------- g15: REPLACE TABLE / TRUNCATE lifecycle, time-travel exact


def _ensure_replace_pond(spark: SparkSession, sf_dir: str) -> DeltaPond:
    """supplier through CREATE OR REPLACE TABLE and TRUNCATE, text-routed:
    v0 CTAS (full supplier), v1 TRUNCATE (remove-only commit), v2 refill
    with a filtered subset, v3 CREATE OR REPLACE swapping to an aggregated
    shape (schema replaced in the same commit). Every prior version stays
    time-travelable."""
    root = os.path.join(_fixture_root(sf_dir), "pond_replace")
    pond = DeltaPond(spark, root)
    path = os.path.join(root, "lake", "sup_rp")
    if not os.path.isdir(os.path.join(path, "_delta_log")):
        load(spark, sf_dir, "supplier").createOrReplaceTempView("sup_rpsrc")
        pond.sql("CREATE SCHEMA IF NOT EXISTS lake")
        pond.sql("CREATE TABLE lake.sup_rp AS SELECT * FROM sup_rpsrc")
        pond.sql("TRUNCATE TABLE lake.sup_rp")
        pond.sql(
            "INSERT INTO lake.sup_rp SELECT * FROM sup_rpsrc "
            "WHERE s_nationkey < 10"
        )
        pond.sql(
            "CREATE OR REPLACE TABLE lake.sup_rp AS "
            "SELECT s_nationkey, count(*) AS n_sup, "
            "CAST(round(sum(s_acctbal) * 100) AS BIGINT) AS bal_cents "
            "FROM lake.sup_rp GROUP BY s_nationkey"
        )
    return pond


@register(
    "g15_replace_truncate",
    "delta-core",
    """
    SELECT s_nationkey, count(*) AS n_sup,
           CAST(round(sum(s_acctbal) * 100) AS BIGINT) AS bal_cents
    FROM supplier WHERE s_nationkey < 10
    GROUP BY s_nationkey
    """,
    "TRUNCATE is a remove-only commit and CREATE OR REPLACE TABLE swaps "
    "schema+data in one commit with history preserved: the final "
    "aggregated table hash-matches the oracle over the refilled subset, "
    "and versions 0-2 still time-travel to their exact row counts",
)
def g15(spark: SparkSession, sf_dir: str) -> DataFrame:
    pond = _ensure_replace_pond(spark, sf_dir)
    path = os.path.join(_fixture_root(sf_dir), "pond_replace", "lake", "sup_rp")
    t = DeltaTable(spark, path)
    full = load(spark, sf_dir, "supplier").count()
    assert t.to_df(version=0).count() == full          # pre-truncate
    assert t.to_df(version=1).count() == 0             # truncated
    sub = t.to_df(version=2).count()
    assert 0 < sub < full                              # refilled subset
    assert [f.name for f in t.schema().fields] == [
        "s_nationkey", "n_sup", "bal_cents",
    ]
    return pond.sql("SELECT * FROM lake.sup_rp")


# ------------------- g16: ANALYZE ... FOR COLUMNS column-level statistics


@register(
    "g16_analyze_columns",
    "delta-core",
    """
    SELECT col_name,
           CAST(mn AS BIGINT) AS min_val, CAST(mx AS BIGINT) AS max_val,
           null_count
    FROM (
      SELECT 'p_partkey' AS col_name, min(p_partkey) AS mn,
             max(p_partkey) AS mx,
             CAST(sum(CASE WHEN p_partkey IS NULL THEN 1 ELSE 0 END) AS BIGINT)
               AS null_count
      FROM part
      UNION ALL
      SELECT 'p_size', min(p_size), max(p_size),
             CAST(sum(CASE WHEN p_size IS NULL THEN 1 ELSE 0 END) AS BIGINT)
      FROM part
    )
    """,
    "ANALYZE TABLE ... FOR COLUMNS derives min/max/nullCount from the "
    "transaction log's per-file stats (zero data scan for provable "
    "columns) and hash-matches the oracle's full-scan aggregates",
)
def g16(spark: SparkSession, sf_dir: str) -> DataFrame:
    root = os.path.join(_fixture_root(sf_dir), "pond_analyze_cols")
    pond = DeltaPond(spark, root)
    path = os.path.join(root, "lake", "part_ac")
    if not os.path.isdir(os.path.join(path, "_delta_log")):
        write_delta(load(spark, sf_dir, "part"), path)
    out = pond.sql(
        "ANALYZE TABLE lake.part_ac COMPUTE STATISTICS "
        "FOR COLUMNS p_partkey, p_size"
    )
    return out.selectExpr(
        "col_name",
        "CAST(min AS BIGINT) AS min_val",
        "CAST(max AS BIGINT) AS max_val",
        "null_count",
    )


# ------- g17: full mutator lifecycle through the Hadoop filesystem facade


def _ensure_hadoop_fs_table(spark: SparkSession, sf_dir: str) -> str:
    """customer through the whole WRITE surface with every filesystem
    touch routed through the JVM Hadoop connector path (fs.HadoopFS,
    forced onto file:// by ADLS_FORCE_HADOOP_FS — the same code path
    hdfs:// / abfss:// / s3a:// take in production): write_delta (v0),
    merge-on-read DELETE with an executor-written DV blob (v1), append
    (v2), Parquet checkpoint + _last_checkpoint, OPTIMIZE (v3), VACUUM of
    the pre-OPTIMIZE bytes. The reference's native habitat is exactly
    this boundary (an S3 bucket: /root/reference/.../Config.scala:4,
    build.sbt hadoop-aws) — round 7 makes the engine WRITE there too,
    where rounds 1-6 only read."""
    from ..delta.log import DeltaLog

    local = os.path.join(_fixture_root(sf_dir), "hfs", "cust_hfs")
    uri = "file://" + local
    if os.path.isdir(os.path.join(local, "_delta_log")):
        return uri
    prev = os.environ.get("ADLS_FORCE_HADOOP_FS")
    os.environ["ADLS_FORCE_HADOOP_FS"] = "1"
    DeltaLog.clear_cache()
    try:
        cust = load(spark, sf_dir, "customer")
        write_delta(cust.repartition(4), uri)  # v0
        t = DeltaTable(spark, uri)
        t.delete(where="c_acctbal < 0", mode="mor")  # v1: DV blobs
        write_delta(  # v2: append through the facade
            cust.selectExpr(
                "c_custkey + 1000000 AS c_custkey",
                "c_name",
                "c_nationkey",
                "c_acctbal",
                "c_mktsegment",
            ).where("c_nationkey < 5"),
            uri,
        )
        write_checkpoint(uri)
        t.compact()  # v3: OPTIMIZE purges the DVs
        t.vacuum(retention_hours=0.0)  # reap pre-OPTIMIZE parquet + blobs
    finally:
        if prev is None:
            os.environ.pop("ADLS_FORCE_HADOOP_FS", None)
        else:
            os.environ["ADLS_FORCE_HADOOP_FS"] = prev
        DeltaLog.clear_cache()
    return uri


@register(
    "g17_hadoop_fs_write_cycle",
    "delta-core",
    """
    WITH final_rows AS (
      SELECT c_custkey, c_nationkey, c_acctbal
      FROM customer WHERE c_acctbal >= 0
      UNION ALL
      SELECT c_custkey + 1000000, c_nationkey, c_acctbal
      FROM customer WHERE c_nationkey < 5
    )
    SELECT c_nationkey, count(*) AS n,
           CAST(sum(c_custkey) AS BIGINT) AS key_sum
    FROM final_rows GROUP BY c_nationkey
    """,
    "write_delta -> MOR DELETE -> append -> checkpoint -> OPTIMIZE -> "
    "VACUUM, every filesystem touch through the Hadoop-connector facade "
    "(file:// forced onto HadoopFS), then read back and hash-matched",
)
def g17(spark: SparkSession, sf_dir: str) -> DataFrame:
    uri = _ensure_hadoop_fs_table(spark, sf_dir)
    t = DeltaTable(spark, uri)
    snap = t.snapshot()
    assert not any(f.deletion_vector for f in snap.files), (
        "OPTIMIZE through the facade left deletion vectors behind"
    )
    return (
        t.to_df()
        .groupBy("c_nationkey")
        .agg(
            F.count("*").alias("n"),
            F.sum("c_custkey").cast("bigint").alias("key_sum"),
        )
    )


# ------ g18: arbitrary MERGE ON — renamed equi-key + target-side residual


def _ensure_merge_on_pond(spark: SparkSession, sf_dir: str) -> DeltaPond:
    """orders through a MERGE whose ON clause exercises both round-7
    generalizations at once: a DIFFERENTLY-NAMED equi-key
    (`t.o_orderkey = s.ord_id`) and a residual range conjunct on the
    TARGET side (`t.o_totalprice < 150000`). True ON semantics: a source
    row whose key exists but whose target row fails the residual is NOT
    matched — the target row stays and the source row INSERTS."""
    root = os.path.join(_fixture_root(sf_dir), "pond_merge_on")
    pond = DeltaPond(spark, root)
    path = os.path.join(root, "lake", "ord_mo")
    if not os.path.isdir(os.path.join(path, "_delta_log")):
        load(spark, sf_dir, "orders").createOrReplaceTempView("mo_orders")
        pond.sql("CREATE SCHEMA IF NOT EXISTS lake")
        pond.sql("CREATE TABLE lake.ord_mo AS SELECT * FROM mo_orders")
        pond.sql(
            """
            MERGE INTO lake.ord_mo t USING (
              SELECT o_orderkey AS ord_id, o_custkey,
                     'X' AS o_orderstatus, o_totalprice * 2 AS o_totalprice,
                     o_orderdate, o_orderpriority
              FROM mo_orders WHERE o_orderkey % 10 = 0
            ) s
            ON t.o_orderkey = s.ord_id AND t.o_totalprice < 150000
            WHEN MATCHED THEN UPDATE SET *
            WHEN NOT MATCHED THEN INSERT *
            """
        )
    return pond


@register(
    "g18_merge_arbitrary_on",
    "delta-core",
    """
    WITH sel AS (SELECT o_orderkey, o_totalprice FROM orders
                 WHERE o_orderkey % 10 = 0),
    final AS (
      SELECT o_orderkey,
             CASE WHEN o_orderkey % 10 = 0 AND o_totalprice < 150000
                  THEN 'X' ELSE o_orderstatus END AS o_orderstatus
      FROM orders
      UNION ALL
      SELECT o_orderkey, 'X' FROM sel WHERE o_totalprice >= 150000
    )
    SELECT o_orderstatus, count(*) AS n,
           CAST(sum(o_orderkey) AS BIGINT) AS key_sum
    FROM final GROUP BY o_orderstatus
    """,
    "MERGE with differently-named equi-key (t.o_orderkey = s.ord_id) and "
    "a residual target-side range conjunct in ON — true ON semantics "
    "(failing pairs keep the target row AND insert the source row), "
    "hash-matched against the oracle's reconstruction",
)
def g18(spark: SparkSession, sf_dir: str) -> DataFrame:
    pond = _ensure_merge_on_pond(spark, sf_dir)
    return pond.sql(
        """
        SELECT o_orderstatus, count(*) AS n,
               CAST(sum(o_orderkey) AS BIGINT) AS key_sum
        FROM lake.ord_mo GROUP BY o_orderstatus
        """
    )


# -------- g19: checkpointProtection DROP FEATURE (no history truncation)


def _ensure_cp_protection_pond(spark: SparkSession, sf_dir: str) -> str:
    """supplier through the Delta 4.0 checkpointProtection drop: enable
    columnMapping (clean layout, physical == logical), append under it,
    then DROP FEATURE columnMapping WITHOUT TRUNCATE HISTORY — the drop
    commit adds the checkpointProtection writer feature + the
    requireCheckpointProtectionBeforeVersion boundary and writes the
    protecting checkpoint; every earlier commit survives, so time travel
    works on BOTH sides of the boundary (below it the per-version
    protocol still declares columnMapping)."""
    from ..delta.features import drop_feature
    from ..delta.writer import enable_column_mapping

    root = os.path.join(_fixture_root(sf_dir), "pond_cpp")
    path = os.path.join(root, "lake", "sup_cp")
    if not os.path.isdir(os.path.join(path, "_delta_log")):
        sup = load(spark, sf_dir, "supplier")
        os.makedirs(os.path.join(root, "lake"), exist_ok=True)
        write_delta(sup, path)  # v0
        enable_column_mapping(path)  # v1 (reader+writer feature on)
        write_delta(  # v2: append THROUGH the mapped layout
            sup.selectExpr(
                "s_suppkey + 100000 AS s_suppkey",
                "s_name",
                "s_nationkey",
                "s_acctbal",
            ).where("s_nationkey < 10"),
            path,
        )
        res = drop_feature(path, "columnMapping")  # v3: protected drop
        assert res["checkpoint_protection"] == 3, res
        assert res["truncated"] == [], "history must survive"
    return path


@register(
    "g19_checkpoint_protection_drop",
    "delta-core",
    """
    WITH below AS (
      SELECT 'v0' AS side, s_nationkey, s_suppkey FROM supplier
    ), above AS (
      SELECT 'now' AS side, s_nationkey, s_suppkey FROM supplier
      UNION ALL
      SELECT 'now', s_nationkey, s_suppkey + 100000 FROM supplier
      WHERE s_nationkey < 10
    )
    SELECT side, s_nationkey, count(*) AS n,
           CAST(sum(s_suppkey) AS BIGINT) AS key_sum
    FROM (SELECT * FROM below UNION ALL SELECT * FROM above)
    GROUP BY side, s_nationkey
    """,
    "DROP FEATURE columnMapping WITHOUT TRUNCATE HISTORY via the Delta "
    "4.0 checkpointProtection path: time travel below the protection "
    "boundary (v0, mapped-era protocol) and the current snapshot both "
    "hash-match the oracle's reconstruction",
)
def g19(spark: SparkSession, sf_dir: str) -> DataFrame:
    path = _ensure_cp_protection_pond(spark, sf_dir)
    t = DeltaTable(spark, path)
    snap = t.snapshot()
    cfg = snap.metadata.get("configuration") or {}
    assert cfg.get("delta.requireCheckpointProtectionBeforeVersion") == "3"
    feats = set((snap.protocol or {}).get("writerFeatures") or [])
    assert "checkpointProtection" in feats and "columnMapping" not in feats
    below = t.to_df(version=0).selectExpr(
        "'v0' AS side", "s_nationkey", "s_suppkey"
    )
    above = t.to_df().selectExpr("'now' AS side", "s_nationkey", "s_suppkey")
    return (
        below.unionByName(above)
        .groupBy("side", "s_nationkey")
        .agg(
            F.count("*").alias("n"),
            F.sum("s_suppkey").cast("bigint").alias("key_sum"),
        )
    )


# ------- g20: auto-routed driver-light planning (scan + DML candidates)


def _ensure_light_planned_table(spark: SparkSession, sf_dir: str) -> str:
    """orders through the light-planning lifecycle (round-8 ask #3):
    write (v0) -> checkpoint -> tail append (v1, the post-checkpoint
    overlay) -> predicate DELETE (v2) whose candidate selection runs
    through LightSnapshot.prune_df with ADLS_LIGHT_PLANNING_FILES forced
    to 1 — the same auto-routing a 10^7-file table takes at the default
    10^6 threshold (driver RSS measured: 227 MiB vs 8.6 GiB classic,
    tools/meta_scale.py --plan)."""
    from ..delta.log import DeltaLog

    path = os.path.join(_fixture_root(sf_dir), "lake", "ord_light")
    if not os.path.isdir(os.path.join(path, "_delta_log")):
        o = load(spark, sf_dir, "orders")
        write_delta(o.repartition(8), path)  # v0
        write_checkpoint(path)
        write_delta(  # v1: post-checkpoint overlay commit
            o.where("o_orderkey % 7 = 0").selectExpr(
                "o_orderkey + 10000000 AS o_orderkey",
                "o_custkey",
                "o_orderstatus",
                "o_totalprice",
                "o_orderdate",
                "o_orderpriority",
            ),
            path,
        )
        prev = os.environ.get("ADLS_LIGHT_PLANNING_FILES")
        os.environ["ADLS_LIGHT_PLANNING_FILES"] = "1"
        try:
            t = DeltaTable(spark, path)
            assert t.log.light_plane(spark=spark) is not None
            t.delete(where="o_totalprice < 10000")  # v2: light-planned
        finally:
            if prev is None:
                os.environ.pop("ADLS_LIGHT_PLANNING_FILES", None)
            else:
                os.environ["ADLS_LIGHT_PLANNING_FILES"] = prev
            DeltaLog.clear_cache()
    return path


@register(
    "g20_light_planning",
    "delta-core",
    """
    WITH live AS (
      SELECT o_orderkey, o_orderpriority, o_orderdate, o_totalprice
      FROM orders
      UNION ALL
      SELECT o_orderkey + 10000000, o_orderpriority, o_orderdate,
             o_totalprice
      FROM orders WHERE o_orderkey % 7 = 0
    )
    SELECT o_orderpriority, count(*) AS n,
           CAST(sum(o_orderkey) AS BIGINT) AS key_sum
    FROM live
    WHERE o_totalprice >= 10000 AND o_orderdate >= DATE '1995-01-01'
    GROUP BY o_orderpriority
    """,
    "to_df(where=...) and a predicate DELETE auto-routed through the "
    "driver-light snapshot (executor-side prune over the checkpoint "
    "parquet + tail overlay, survivors-only AddFile materialization), "
    "hash-matched against the oracle's reconstruction",
)
def g20(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..delta.log import DeltaLog

    path = _ensure_light_planned_table(spark, sf_dir)
    prev = os.environ.get("ADLS_LIGHT_PLANNING_FILES")
    os.environ["ADLS_LIGHT_PLANNING_FILES"] = "1"
    try:
        t = DeltaTable(spark, path)
        assert t.log.light_plane(spark=spark) is not None
        df = (
            t.to_df(where="o_orderdate >= '1995-01-01'")
            .groupBy("o_orderpriority")
            .agg(
                F.count("*").alias("n"),
                F.sum("o_orderkey").cast("bigint").alias("key_sum"),
            )
        )
        # force plan construction through the light path BEFORE the env
        # is restored (to_df plans eagerly; execution is lazy and no
        # longer consults the threshold)
        return df
    finally:
        if prev is None:
            os.environ.pop("ADLS_LIGHT_PLANNING_FILES", None)
        else:
            os.environ["ADLS_LIGHT_PLANNING_FILES"] = prev
        DeltaLog.clear_cache()


# ------- g21: MERGE candidate selection through the driver-light plane


def _ensure_light_merged_table(spark: SparkSession, sf_dir: str) -> str:
    """orders through the light-planned MERGE lifecycle (round-9 ask #1):
    write (v0) -> checkpoint -> tail append (v1, the overlay) -> keyed
    MERGE (v2) whose candidate selection runs through LightSnapshot.
    prune_df on the SOURCE's key bounds with ADLS_LIGHT_PLANNING_FILES
    forced to 1 — the same auto-routing a 10^7-file table takes at the
    default threshold (driver RSS measured by tools/meta_scale.py
    --merge)."""
    from ..delta.log import DeltaLog

    path = os.path.join(_fixture_root(sf_dir), "lake", "ord_light_merge")
    if not os.path.isdir(os.path.join(path, "_delta_log")):
        o = load(spark, sf_dir, "orders").select(
            "o_orderkey", "o_totalprice", "o_orderdate"
        )
        write_delta(o.repartitionByRange(8, "o_orderkey"), path)  # v0
        write_checkpoint(path)
        write_delta(  # v1: post-checkpoint overlay commit
            o.where("o_orderkey % 7 = 0").selectExpr(
                "o_orderkey + 10000000 AS o_orderkey",
                "o_totalprice",
                "o_orderdate",
            ),
            path,
        )
        o.createOrReplaceTempView("orders_src_g21")
        src = spark.sql(
            "SELECT o_orderkey, CAST(-1.0 AS DOUBLE) AS o_totalprice, "
            "o_orderdate FROM orders_src_g21 WHERE o_orderkey % 97 = 0 "
            "UNION ALL "
            "SELECT o_orderkey + 20000000, CAST(-2.0 AS DOUBLE), "
            "o_orderdate FROM orders_src_g21 WHERE o_orderkey % 101 = 0"
        )
        prev = os.environ.get("ADLS_LIGHT_PLANNING_FILES")
        os.environ["ADLS_LIGHT_PLANNING_FILES"] = "1"
        try:
            t = DeltaTable(spark, path)
            assert t.log.light_plane(spark=spark) is not None
            res = t.merge(src, keys=["o_orderkey"])  # v2: light-planned
            assert res["planning"] == "light", res
        finally:
            if prev is None:
                os.environ.pop("ADLS_LIGHT_PLANNING_FILES", None)
            else:
                os.environ["ADLS_LIGHT_PLANNING_FILES"] = prev
            DeltaLog.clear_cache()
    return path


@register(
    "g21_light_planned_merge",
    "delta-core",
    """
    WITH live AS (
      SELECT o_orderkey, o_totalprice, o_orderdate FROM orders
      UNION ALL
      SELECT o_orderkey + 10000000, o_totalprice, o_orderdate
      FROM orders WHERE o_orderkey % 7 = 0
    ), merged AS (
      SELECT o_orderkey,
             CASE WHEN o_orderkey % 97 = 0 AND o_orderkey < 10000000
                  THEN -1.0 ELSE o_totalprice END AS p,
             o_orderdate
      FROM live
      UNION ALL
      SELECT o_orderkey + 20000000, -2.0, o_orderdate
      FROM orders WHERE o_orderkey % 101 = 0
    )
    SELECT CAST(year(o_orderdate) AS INT) AS yr, count(*) AS n,
           CAST(sum(o_orderkey) AS BIGINT) AS key_sum,
           round(sum(p), 2) AS price_sum
    FROM merged GROUP BY 1
    """,
    "keyed MERGE (update + insert) auto-routed through the driver-light "
    "snapshot: source key bounds prune the checkpoint parquet "
    "executor-side, only intersecting candidates materialize, results "
    "hash-match the oracle's reconstruction",
)
def g21(spark: SparkSession, sf_dir: str) -> DataFrame:
    path = _ensure_light_merged_table(spark, sf_dir)
    t = DeltaTable(spark, path)
    return (
        t.to_df()
        .groupBy(F.year("o_orderdate").cast("int").alias("yr"))
        .agg(
            F.count("*").alias("n"),
            F.sum("o_orderkey").cast("bigint").alias("key_sum"),
            F.round(F.sum("o_totalprice"), 2).alias("price_sum"),
        )
    )


# ------- g22: WHEN NOT MATCHED BY SOURCE with conditions + UPDATE


def _ensure_nmbs_pond(spark: SparkSession, sf_dir: str) -> DeltaPond:
    """orders through two SQL MERGEs exercising the round-9 NOT MATCHED BY
    SOURCE surface: a conditional retention DELETE (`AND t.o_orderdate <
    X THEN DELETE` — the shape a delta-spark user ports first), then a
    conditional by-source UPDATE SET. Built once per sf."""
    root = os.path.join(_fixture_root(sf_dir), "pond_nmbs")
    pond = DeltaPond(spark, root)
    path = os.path.join(root, "lake", "ord_nmbs")
    if not os.path.isdir(os.path.join(path, "_delta_log")):
        load(spark, sf_dir, "orders").createOrReplaceTempView("orders_src9")
        pond.sql("CREATE SCHEMA IF NOT EXISTS lake")
        pond.sql(
            "CREATE TABLE lake.ord_nmbs AS SELECT o_orderkey, "
            "o_totalprice, o_orderdate FROM orders_src9"
        )
        pond.sql(
            "MERGE INTO lake.ord_nmbs AS t USING "
            "(SELECT o_orderkey FROM orders_src9 WHERE o_orderkey % 13 = 0) "
            "AS s ON t.o_orderkey = s.o_orderkey "
            "WHEN MATCHED THEN UPDATE SET o_totalprice = -1.0 "
            "WHEN NOT MATCHED BY SOURCE "
            "AND t.o_orderdate < DATE '1994-01-01' THEN DELETE"
        )
        pond.sql(
            "MERGE INTO lake.ord_nmbs AS t USING "
            "(SELECT o_orderkey FROM orders_src9 WHERE o_orderkey % 7 = 0) "
            "AS s ON t.o_orderkey = s.o_orderkey "
            "WHEN MATCHED THEN UPDATE SET "
            "o_totalprice = t.o_totalprice + 1.0 "
            "WHEN NOT MATCHED BY SOURCE "
            "AND t.o_orderdate >= DATE '1997-01-01' "
            "THEN UPDATE SET o_totalprice = 0.0"
        )
    return pond


@register(
    "g22_merge_not_matched_by_source",
    "delta-core",
    """
    WITH s1 AS (
      SELECT o_orderkey,
             CASE WHEN o_orderkey % 13 = 0 THEN -1.0
                  ELSE o_totalprice END AS p,
             o_orderdate
      FROM orders
      WHERE o_orderkey % 13 = 0 OR o_orderdate >= DATE '1994-01-01'
    ), s2 AS (
      SELECT o_orderkey,
             CASE WHEN o_orderkey % 7 = 0 THEN p + 1.0
                  WHEN o_orderdate >= DATE '1997-01-01' THEN 0.0
                  ELSE p END AS p,
             o_orderdate
      FROM s1
    )
    SELECT CAST(year(o_orderdate) AS INT) AS yr, count(*) AS n,
           CAST(sum(o_orderkey) AS BIGINT) AS key_sum,
           round(sum(p), 2) AS price_sum
    FROM s2 GROUP BY 1
    """,
    "WHEN NOT MATCHED BY SOURCE with conditions, both actions, through "
    "the SQL route: conditional retention DELETE (matched rows kept, "
    "old unmatched rows dropped row-wise) then conditional by-source "
    "UPDATE SET; oracle reconstructs both merges arithmetically",
)
def g22(spark: SparkSession, sf_dir: str) -> DataFrame:
    pond = _ensure_nmbs_pond(spark, sf_dir)
    return pond.sql(
        """
        SELECT CAST(year(o_orderdate) AS INT) AS yr, count(*) AS n,
               CAST(sum(o_orderkey) AS BIGINT) AS key_sum,
               round(sum(o_totalprice), 2) AS price_sum
        FROM lake.ord_nmbs GROUP BY 1
        """
    )


# ------- g23: DISTRIBUTED (driver-light) checkpoint writing


def _ensure_light_checkpointed_table(spark: SparkSession, sf_dir: str) -> str:
    """orders through the distributed checkpoint lifecycle (round-8
    verdict ask #5): write (v0) -> classic checkpoint -> tail append (v1)
    -> DISTRIBUTED checkpoint at v1 with ADLS_LIGHT_PLANNING_FILES forced
    to 1 (add actions stream from LightSnapshot.files_df executor-side
    into multi-part files; the driver folds no AddFile — measured at 10^7
    adds by tools/meta_scale.py --checkpoint) -> cleanup_log, so every
    later replay is served by the EXECUTOR-WRITTEN checkpoint alone."""
    from ..delta.log import DeltaLog
    from ..delta.writer import cleanup_log

    path = os.path.join(_fixture_root(sf_dir), "lake", "ord_light_ckpt")
    if not os.path.isdir(os.path.join(path, "_delta_log")):
        o = load(spark, sf_dir, "orders").select(
            "o_orderkey", "o_orderpriority", "o_totalprice", "o_orderdate"
        )
        write_delta(o.repartition(8), path)  # v0
        write_checkpoint(path)
        write_delta(  # v1: post-checkpoint overlay commit
            o.where("o_orderkey % 5 = 0").selectExpr(
                "o_orderkey + 10000000 AS o_orderkey",
                "o_orderpriority",
                "o_totalprice",
                "o_orderdate",
            ),
            path,
        )
        prev = {
            k: os.environ.get(k)
            for k in ("ADLS_LIGHT_PLANNING_FILES", "ADLS_CHECKPOINT_PART_ROWS")
        }
        os.environ["ADLS_LIGHT_PLANNING_FILES"] = "1"
        os.environ["ADLS_CHECKPOINT_PART_ROWS"] = "3"
        try:
            t = DeltaTable(spark, path)
            assert t.log.light_plane(spark=spark) is not None
            v = t.checkpoint()  # distributed, multi-part
            multi = [
                f
                for f in os.listdir(os.path.join(path, "_delta_log"))
                if f.startswith(f"{v:020d}.checkpoint.0")
            ]
            assert len(multi) > 1, "distributed checkpoint did not engage"
        finally:
            for k, p in prev.items():
                if p is None:
                    os.environ.pop(k, None)
                else:
                    os.environ[k] = p
            DeltaLog.clear_cache()
        cleanup_log(path, retention_hours=0)
        DeltaLog.clear_cache()
    return path


@register(
    "g23_light_checkpoint",
    "delta-core",
    """
    WITH live AS (
      SELECT o_orderkey, o_orderpriority, o_totalprice FROM orders
      UNION ALL
      SELECT o_orderkey + 10000000, o_orderpriority, o_totalprice
      FROM orders WHERE o_orderkey % 5 = 0
    )
    SELECT o_orderpriority, count(*) AS n,
           CAST(sum(o_orderkey) AS BIGINT) AS key_sum,
           round(sum(o_totalprice), 2) AS price_sum
    FROM live GROUP BY o_orderpriority
    """,
    "checkpoint written DISTRIBUTED (add actions stream executor-side "
    "from LightSnapshot.files_df into multi-part files, driver holds only "
    "the header), then cleanup_log: the scan replays from the "
    "executor-written checkpoint alone and hash-matches the oracle's "
    "reconstruction",
)
def g23(spark: SparkSession, sf_dir: str) -> DataFrame:
    path = _ensure_light_checkpointed_table(spark, sf_dir)
    t = DeltaTable(spark, path)
    return t.to_df().groupBy("o_orderpriority").agg(
        F.count("*").alias("n"),
        F.sum("o_orderkey").cast("bigint").alias("key_sum"),
        F.round(F.sum("o_totalprice"), 2).alias("price_sum"),
    )


# ------- g24: UNSCOPED OPTIMIZE + VACUUM through the driver-light plane


def _ensure_light_maintained_table(spark: SparkSession, sf_dir: str) -> str:
    """orders through the light MAINTENANCE lifecycle (round-8 "What's
    missing #1" residue): small-file writes -> COW delete (garbage) ->
    checkpoint -> tail append -> with ADLS_LIGHT_PLANNING_FILES forced to
    1, an UNSCOPED OPTIMIZE whose victim selection runs executor-side
    over LightSnapshot.files_df and a VACUUM whose live-set anti-join +
    deletes fan out over executors — neither materializes the classic
    driver-resident snapshot (peak-RSS measured by tools/meta_scale.py
    --maintain)."""
    from ..delta import dml
    from ..delta.log import DeltaLog

    path = os.path.join(_fixture_root(sf_dir), "lake", "ord_light_maint")
    if not os.path.isdir(os.path.join(path, "_delta_log")):
        o = load(spark, sf_dir, "orders").select(
            "o_orderkey", "o_orderpriority", "o_totalprice", "o_orderdate"
        )
        write_delta(o.repartition(6), path)  # v0: six smallish files
        t = DeltaTable(spark, path)
        t.delete(where="o_orderkey % 3 = 0")  # v1: COW -> old files garbage
        write_checkpoint(path)
        write_delta(  # v2: post-checkpoint overlay
            o.where("o_orderkey % 9 = 0").selectExpr(
                "o_orderkey + 10000000 AS o_orderkey",
                "o_orderpriority",
                "o_totalprice",
                "o_orderdate",
            ).repartition(2),
            path,
        )
        prev = os.environ.get("ADLS_LIGHT_PLANNING_FILES")
        os.environ["ADLS_LIGHT_PLANNING_FILES"] = "1"
        try:
            t = DeltaTable(spark, path)
            assert t.log.light_plane(spark=spark) is not None
            res = dml.compact(spark, path, target_file_size=1 << 30)
            assert res["planning"] == "light", res
            assert res["files_removed"] > 0, res
            vres = dml.vacuum(path, retention_hours=0, spark=spark)
            assert vres["planning"] == "light", vres
            assert vres["files_count"] > 0, vres
        finally:
            if prev is None:
                os.environ.pop("ADLS_LIGHT_PLANNING_FILES", None)
            else:
                os.environ["ADLS_LIGHT_PLANNING_FILES"] = prev
            DeltaLog.clear_cache()
    return path


@register(
    "g24_light_optimize_vacuum",
    "delta-core",
    """
    WITH live AS (
      SELECT o_orderkey, o_orderpriority, o_totalprice FROM orders
      WHERE o_orderkey % 3 <> 0
      UNION ALL
      SELECT o_orderkey + 10000000, o_orderpriority, o_totalprice
      FROM orders WHERE o_orderkey % 9 = 0
    )
    SELECT o_orderpriority, count(*) AS n,
           CAST(sum(o_orderkey) AS BIGINT) AS key_sum,
           round(sum(o_totalprice), 2) AS price_sum
    FROM live GROUP BY o_orderpriority
    """,
    "unscoped OPTIMIZE (executor-side small-file victim selection over "
    "the light files_df) + VACUUM (executor-side live-set anti-join and "
    "delete fan-out) on a past-threshold table; the compacted, vacuumed "
    "table hash-matches the oracle's reconstruction",
)
def g24(spark: SparkSession, sf_dir: str) -> DataFrame:
    path = _ensure_light_maintained_table(spark, sf_dir)
    t = DeltaTable(spark, path)
    return t.to_df().groupBy("o_orderpriority").agg(
        F.count("*").alias("n"),
        F.sum("o_orderkey").cast("bigint").alias("key_sum"),
        F.round(F.sum("o_totalprice"), 2).alias("price_sum"),
    )


def _ensure_light_cdf_table(spark: SparkSession, sf_dir: str) -> str:
    """orders through the light CHANGE-FEED lifecycle (round-10 ask #1):
    v0 base write -> checkpoint -> v1 append -> v2 merge-on-read DELETE
    (DV growth). table_changes over [1, 2] then derives with
    ADLS_LIGHT_PLANNING_FILES forced to 1, so the range tracker's base
    probe at v0 runs executor-side over LightSnapshot.files_df and the
    DV diff takes the same-path remove+re-add route — never a classic
    per-version snapshot (peak-RSS measured by tools/meta_scale.py
    --cdf; snapshot-poisoned equality in tests/test_light_cdf.py).
    The MOR delete makes the feed LAYOUT-INDEPENDENT: exactly the
    newly-DV'd rows are emitted, so the oracle can reconstruct it from
    the predicates alone."""
    path = os.path.join(_fixture_root(sf_dir), "lake", "ord_light_cdf")
    if not os.path.isdir(os.path.join(path, "_delta_log")):
        o = load(spark, sf_dir, "orders").select(
            "o_orderkey", "o_orderpriority", "o_totalprice"
        )
        write_delta(o.where("o_orderkey % 4 = 1").repartition(4), path)
        write_checkpoint(path)
        write_delta(o.where("o_orderkey % 4 = 2").repartition(2), path)
        DeltaTable(spark, path).delete(
            where="o_orderkey % 5 = 0", mode="mor"
        )
    return path


@register(
    "g25_light_change_feed",
    "delta-core",
    """
    WITH base AS (
      SELECT o_orderkey FROM orders WHERE o_orderkey % 4 IN (1, 2)
    ),
    ins AS (SELECT o_orderkey FROM orders WHERE o_orderkey % 4 = 2),
    del AS (SELECT o_orderkey FROM base WHERE o_orderkey % 5 = 0)
    SELECT 'insert' AS change_type, 1 AS commit_version,
           count(*) AS n, CAST(sum(o_orderkey) AS BIGINT) AS key_sum
    FROM ins
    UNION ALL
    SELECT 'delete', 2, count(*), CAST(sum(o_orderkey) AS BIGINT)
    FROM del
    """,
    "table_changes over an append + merge-on-read delete derived through "
    "the light range tracker (forced threshold): the base probe at v0 "
    "runs executor-side and the DV diff emits exactly the newly-deleted "
    "rows; per-(change_type, version) counts and key sums hash-match the "
    "oracle's predicate reconstruction",
)
def g25(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..delta.cdf import table_changes
    from ..delta.log import DeltaLog

    path = _ensure_light_cdf_table(spark, sf_dir)
    prev = os.environ.get("ADLS_LIGHT_PLANNING_FILES")
    os.environ["ADLS_LIGHT_PLANNING_FILES"] = "1"
    try:
        assert DeltaLog(path).light_plane(spark=spark) is not None
        ch = table_changes(spark, path, 1, 2)
        out = (
            ch.groupBy(
                F.col("_change_type").alias("change_type"),
                F.col("_commit_version").alias("commit_version"),
            )
            .agg(
                F.count("*").alias("n"),
                F.sum("o_orderkey").cast("bigint").alias("key_sum"),
            )
            .localCheckpoint()  # materialize under the forced threshold
        )
    finally:
        if prev is None:
            os.environ.pop("ADLS_LIGHT_PLANNING_FILES", None)
        else:
            os.environ["ADLS_LIGHT_PLANNING_FILES"] = prev
        DeltaLog.clear_cache()
    return out


def _ensure_light_rewrite_tables(spark: SparkSession, sf_dir: str) -> tuple:
    """orders through the light FULL-REWRITE lifecycle (round-10 asks
    #2/#3): v0 base write -> checkpoint -> with the threshold forced,
    INSERT OVERWRITE (removes streamed from files_df,
    writer.commit_streamed_removes), SHALLOW CLONE (add lines streamed
    through fs.create_atomic_stream), then TRUNCATE of the original.
    Returns (original_path, clone_path)."""
    from ..delta.dml import truncate_table
    from ..delta.log import DeltaLog
    from ..delta.writer import clone_table

    path = os.path.join(_fixture_root(sf_dir), "lake", "ord_light_rw")
    clone = os.path.join(_fixture_root(sf_dir), "lake", "ord_light_rw_clone")
    if not os.path.isdir(os.path.join(path, "_delta_log")):
        o = load(spark, sf_dir, "orders").select(
            "o_orderkey", "o_orderpriority", "o_totalprice"
        )
        write_delta(o.where("o_orderkey % 4 = 3").repartition(4), path)
        write_checkpoint(path)
        prev = os.environ.get("ADLS_LIGHT_PLANNING_FILES")
        os.environ["ADLS_LIGHT_PLANNING_FILES"] = "1"
        try:
            assert DeltaLog(path).light_plane(spark=spark) is not None
            write_delta(  # light overwrite: removes stream executor-side
                o.where("o_orderkey % 6 = 0").repartition(3),
                path,
                mode="overwrite",
            )
            write_checkpoint(path)
            DeltaLog.clear_cache()
            clone_table(path, clone)  # light shallow clone
            truncate_table(path)  # light truncate
        finally:
            if prev is None:
                os.environ.pop("ADLS_LIGHT_PLANNING_FILES", None)
            else:
                os.environ["ADLS_LIGHT_PLANNING_FILES"] = prev
            DeltaLog.clear_cache()
    return path, clone


@register(
    "g26_light_truncate_overwrite_clone",
    "delta-core",
    """
    SELECT 'clone' AS src, count(*) AS n,
           CAST(sum(o_orderkey) AS BIGINT) AS key_sum
    FROM orders WHERE o_orderkey % 6 = 0
    UNION ALL
    SELECT 'truncated', 0, CAST(NULL AS BIGINT)
    """,
    "the light full-rewrite lifecycle on a forced-threshold table: "
    "INSERT OVERWRITE with streamed removes, a shallow CLONE whose "
    "version-0 commit streamed through fs.create_atomic_stream, then "
    "TRUNCATE of the original — the clone preserves exactly the "
    "overwritten rows and the original reads empty",
)
def g26(spark: SparkSession, sf_dir: str) -> DataFrame:
    path, clone = _ensure_light_rewrite_tables(spark, sf_dir)
    c = DeltaTable(spark, clone).to_df().agg(
        F.count("*").alias("n"),
        F.sum("o_orderkey").cast("bigint").alias("key_sum"),
    ).select(F.lit("clone").alias("src"), "n", "key_sum")
    t = DeltaTable(spark, path).to_df().agg(
        F.count("*").alias("n"),
        F.sum("o_orderkey").cast("bigint").alias("key_sum"),
    ).select(F.lit("truncated").alias("src"), "n", "key_sum")
    return c.unionByName(t)


def _ensure_light_restore_table(spark: SparkSession, sf_dir: str) -> str:
    """orders through the BELOW-NEWEST-CHECKPOINT light restore shape
    (round-11, found by meta_scale --lifecycle): v0 base -> OLD
    checkpoint -> v1 append -> NEW checkpoint -> v2 append; then with the
    threshold forced, RESTORE to v1 — a target below the newest
    checkpoint that the version-aware engagement must serve from the old
    checkpoint + commit tail instead of a classic replay."""
    from ..delta.dml import restore_table
    from ..delta.log import DeltaLog

    path = os.path.join(_fixture_root(sf_dir), "lake", "ord_light_restore")
    if not os.path.isdir(os.path.join(path, "_delta_log")):
        o = load(spark, sf_dir, "orders").select(
            "o_orderkey", "o_orderpriority", "o_totalprice"
        )
        write_delta(o.where("o_orderkey % 4 = 0").repartition(4), path)
        write_checkpoint(path)  # OLD checkpoint @ v0
        write_delta(o.where("o_orderkey % 4 = 1").repartition(2), path)
        write_checkpoint(path)  # NEW checkpoint @ v1
        write_delta(o.where("o_orderkey % 4 = 2").repartition(2), path)
        prev = os.environ.get("ADLS_LIGHT_PLANNING_FILES")
        os.environ["ADLS_LIGHT_PLANNING_FILES"] = "1"
        try:
            log = DeltaLog(path)
            assert log.light_plane(1, spark) is not None, (
                "below-checkpoint target did not engage light"
            )
            restore_table(path, version=1)  # light pre-checkpoint restore
        finally:
            if prev is None:
                os.environ.pop("ADLS_LIGHT_PLANNING_FILES", None)
            else:
                os.environ["ADLS_LIGHT_PLANNING_FILES"] = prev
            DeltaLog.clear_cache()
    return path


@register(
    "g27_light_restore_below_checkpoint",
    "delta-core",
    """
    SELECT 'restored' AS src, count(*) AS n,
           CAST(sum(o_orderkey) AS BIGINT) AS key_sum
    FROM orders WHERE o_orderkey % 4 IN (0, 1)
    UNION ALL
    SELECT 'tt_v0', count(*), CAST(sum(o_orderkey) AS BIGINT)
    FROM orders WHERE o_orderkey % 4 = 0
    """,
    "RESTORE to a version BELOW the newest checkpoint planned through "
    "the version-aware light engagement (old checkpoint + commit tail, "
    "no classic replay — the 18.7 GiB residue meta_scale --lifecycle "
    "caught at 10^7), plus a time-travel read at v0 served the same "
    "way; both hash-match the oracle's predicate reconstruction",
)
def g27(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..delta.log import DeltaLog

    path = _ensure_light_restore_table(spark, sf_dir)
    prev = os.environ.get("ADLS_LIGHT_PLANNING_FILES")
    os.environ["ADLS_LIGHT_PLANNING_FILES"] = "1"
    try:
        restored = DeltaTable(spark, path).to_df().agg(
            F.count("*").alias("n"),
            F.sum("o_orderkey").cast("bigint").alias("key_sum"),
        ).select(F.lit("restored").alias("src"), "n", "key_sum")
        tt = DeltaTable(spark, path).to_df(version=0).agg(
            F.count("*").alias("n"),
            F.sum("o_orderkey").cast("bigint").alias("key_sum"),
        ).select(F.lit("tt_v0").alias("src"), "n", "key_sum")
        out = restored.unionByName(tt).localCheckpoint()
    finally:
        if prev is None:
            os.environ.pop("ADLS_LIGHT_PLANNING_FILES", None)
        else:
            os.environ["ADLS_LIGHT_PLANNING_FILES"] = prev
        DeltaLog.clear_cache()
    return out
