"""Registered checks for the versioned-table layer (SURVEY.md §2A S7-S9,
M1-M3, T1-T7, D7-D9 — the reference's Iceberg lifecycle, re-verified here
with FULL DuckDB value oracles).

Each query deterministically rebuilds a VersionedTable under /tmp from the
driver's parquet tables (fixed snapshot timestamps), runs the reference's
evolution scripts (FIXTURES.md F1-F5 patterns), and returns a result whose
expected value is expressible as plain SQL over the ORIGINAL tables — so
time travel, schema evolution, DML and changelog get exact value checks,
not rows-only smoke.
"""

from __future__ import annotations

import os
import re
import shutil
import time
import uuid

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from thesis_iceberg_spark.queries import register
from thesis_iceberg_spark.sources.registry import _cache_tag, load_table
from thesis_iceberg_spark.tablefmt import VersionedTable

BASE = "/tmp/tisw_checks"
# Each process builds its check tables under its own key: with one
# directory per data root, two processes on the same data (a test run and
# gate_sim, say) deleted each other's tables mid-query.
_PROC_KEY = f"{os.getpid()}-{uuid.uuid4().hex[:8]}"
_PROC_KEY_RE = re.compile(r"(\d+)-[0-9a-f]{8}")
# age past which a directory of a process that is gone is collected
_DEAD_MAX_AGE_S = 86400
DEC = "decimal(18,4)"

# fixed snapshot timestamps (ms) so time travel by timestamp is deterministic
T1, T2, T3, T4, T5, T6 = (1_000_000 * i for i in range(1, 7))


def _loc(sf_dir: str, name: str) -> str:
    return os.path.join(BASE, _PROC_KEY, _cache_tag(sf_dir), name)


def _pid_alive(pid: int) -> bool:
    try:
        os.kill(pid, 0)
    except ProcessLookupError:
        return False
    except PermissionError:
        pass
    return True


def _gc_dead_warehouses() -> None:
    """Remove other processes' directories once their process is gone and
    they have not changed for _DEAD_MAX_AGE_S; the age floor spares a
    process whose pid this one cannot see.  Entries not named by a process
    key go by age alone."""
    try:
        entries = list(os.scandir(BASE))
    except FileNotFoundError:
        return
    now = time.time()
    for e in entries:
        m = _PROC_KEY_RE.fullmatch(e.name)
        if e.name == _PROC_KEY or (m and _pid_alive(int(m.group(1)))):
            continue
        try:
            if now - e.stat(follow_symlinks=False).st_mtime < _DEAD_MAX_AGE_S:
                continue
        except OSError:
            continue
        shutil.rmtree(e.path, ignore_errors=True)


def _fresh(sf_dir: str, name: str) -> str:
    if not os.path.isdir(os.path.join(BASE, _PROC_KEY)):
        _gc_dead_warehouses()
    loc = _loc(sf_dir, name)
    shutil.rmtree(loc, ignore_errors=True)
    os.makedirs(os.path.dirname(loc), exist_ok=True)
    return loc


_BUILT: dict[str, str] = {}  # sf_dir -> location built in THIS process


def _build_orders_table(spark: SparkSession, sf_dir: str) -> VersionedTable:
    """The F2-style lifecycle script over `orders`:
    CTAS (<=1996) -> append (1997-98) -> append (>=1999) -> DELETE status P
    -> UPDATE double price of status O -> MERGE the deleted P rows back.

    Built once per (process, sf_dir): the three lifecycle check queries all
    read the same deterministic table, so rebuilding per query would
    triple the cost for identical state."""
    if sf_dir in _BUILT:
        return VersionedTable(spark, _BUILT[sf_dir])
    orders = load_table(spark, sf_dir, "orders")
    year = F.year("o_orderdate")
    loc = _fresh(sf_dir, "orders_vt")
    vt = VersionedTable.create(
        spark, loc, df=orders.filter(year <= 1996), now_ms=T1
    )
    vt.append(orders.filter((year >= 1997) & (year <= 1998)), now_ms=T2)
    vt.append(orders.filter(year >= 1999), now_ms=T3)
    vt.delete(F.col("o_orderstatus") == "P", now_ms=T4)
    vt.update(
        {"o_totalprice": F.col("o_totalprice") * 2},
        F.col("o_orderstatus") == "O",
        now_ms=T5,
    )
    vt.merge(
        orders.filter(F.col("o_orderstatus") == "P"),
        on="o_orderkey",
        when_not_matched_insert=True,
        now_ms=T6,
    )
    _BUILT[sf_dir] = loc
    return vt


_ORDERS_OUT = """
       o_orderkey, o_custkey, o_orderstatus,
       CASE WHEN o_orderstatus = 'O' THEN o_totalprice * 2
            ELSE o_totalprice END AS o_totalprice,
       strftime(o_orderdate, '%Y-%m-%d') AS o_orderdate_s, o_orderpriority
"""


@register(
    "tablefmt_lifecycle_final_state",
    oracle=f"SELECT {_ORDERS_OUT} FROM orders",
    doc="Versioned-table lifecycle (CTAS + 2 appends + DELETE + UPDATE + "
    "MERGE-insert, 6 snapshots): the final state must equal a single SQL "
    "expression over the source table — full value oracle for the DML "
    "stack (ref: notebook cells 7-24 insert/delete/update flow).",
)
def tablefmt_lifecycle_final_state(spark: SparkSession, sf_dir: str) -> DataFrame:
    vt = _build_orders_table(spark, sf_dir)
    df = vt.read()
    return df.select(
        "o_orderkey",
        "o_custkey",
        "o_orderstatus",
        "o_totalprice",
        F.date_format("o_orderdate", "yyyy-MM-dd").alias("o_orderdate_s"),
        "o_orderpriority",
    )


@register(
    "tablefmt_time_travel",
    oracle=f"""
SELECT 1 AS snap, COUNT(*) AS n,
       CAST(CAST(SUM(CAST(o_totalprice AS {DEC})) AS VARCHAR) AS DOUBLE) AS total
FROM orders WHERE year(o_orderdate) <= 1996
UNION ALL
SELECT 2, COUNT(*),
       CAST(CAST(SUM(CAST(o_totalprice AS {DEC})) AS VARCHAR) AS DOUBLE)
FROM orders WHERE year(o_orderdate) <= 1998
UNION ALL
SELECT 3, COUNT(*),
       CAST(CAST(SUM(CAST(o_totalprice AS {DEC})) AS VARCHAR) AS DOUBLE)
FROM orders
UNION ALL
SELECT 4, COUNT(*),
       CAST(CAST(SUM(CAST(o_totalprice AS {DEC})) AS VARCHAR) AS DOUBLE)
FROM orders WHERE year(o_orderdate) <= 1998
""",
    doc="Time travel by snapshot id (VERSION AS OF, snaps 1-3) and by "
    "timestamp (FOR SYSTEM_TIME AS OF at snapshot 2's commit time, row 4): "
    "each historical read must reproduce exactly the rows that existed then "
    "(ref: api.py:151-168, #cell-45).",
)
def tablefmt_time_travel(spark: SparkSession, sf_dir: str) -> DataFrame:
    vt = _build_orders_table(spark, sf_dir)

    def stats(df: DataFrame, snap: int) -> DataFrame:
        return df.agg(
            F.lit(snap).alias("snap"),
            F.count("*").alias("n"),
            F.sum(F.col("o_totalprice").cast(DEC)).cast("string").cast("double").alias("total"),
        ).select("snap", "n", "total")

    out = stats(vt.read(snapshot_id=1), 1)
    out = out.unionAll(stats(vt.read(snapshot_id=2), 2))
    out = out.unionAll(stats(vt.read(snapshot_id=3), 3))
    out = out.unionAll(stats(vt.read(as_of_ms=T2), 4))  # timestamp travel
    return out


@register(
    "tablefmt_changelog",
    oracle="""
SELECT o_orderkey, strftime(o_orderdate, '%Y-%m-%d') AS o_orderdate_s,
       'INSERT' AS _change_type
FROM orders WHERE year(o_orderdate) BETWEEN 1997 AND 1998
""",
    doc="Changelog view between snapshots 1 and 2: exactly the 1997-98 "
    "rows, all tagged INSERT (ref: #cell-32/34 create_changelog_view + "
    "_change_type filter).",
)
def tablefmt_changelog(spark: SparkSession, sf_dir: str) -> DataFrame:
    vt = _build_orders_table(spark, sf_dir)
    ch = vt.changelog(from_snapshot=1, to_snapshot=2)
    return ch.select(
        "o_orderkey",
        F.date_format("o_orderdate", "yyyy-MM-dd").alias("o_orderdate_s"),
        "_change_type",
    )


@register(
    "tablefmt_schema_evolution",
    oracle="""
SELECT c_custkey,
       c_name AS customer_name,
       CASE WHEN c_custkey % 2 = 1 THEN 'late' END AS note
FROM customer
""",
    doc="Schema evolution with field-id resolution: CTAS even custkeys -> "
    "RENAME c_name->customer_name -> ADD COLUMN note -> append odd custkeys "
    "under the new schema. Old data files (written with the old column "
    "name) must surface under the new name, with note null-filled — the "
    "reference's core trick (ref: api.py:170-215; FIXTURES.md F4/F5).",
)
def tablefmt_schema_evolution(spark: SparkSession, sf_dir: str) -> DataFrame:
    customer = load_table(spark, sf_dir, "customer")
    loc = _fresh(sf_dir, "customer_vt")
    vt = VersionedTable.create(
        spark, loc, df=customer.filter(F.col("c_custkey") % 2 == 0), now_ms=T1
    )
    vt.rename_column("c_name", "customer_name")
    vt.add_column("note", "string")
    late = customer.filter(F.col("c_custkey") % 2 == 1).select(
        "c_custkey",
        F.col("c_name").alias("customer_name"),
        "c_nationkey",
        "c_acctbal",
        "c_mktsegment",
        F.lit("late").alias("note"),
    )
    vt.append(late, now_ms=T2)
    # historical name still resolves: the thesis's signature operator
    assert vt.resolve_column("c_name") == "customer_name"
    return vt.select_by_history("c_custkey", "c_name", "note").toDF(
        "c_custkey", "customer_name", "note"
    )


@register(
    "sql_time_travel",
    oracle=f"""
SELECT 1 AS snap, COUNT(*) AS n,
       CAST(CAST(SUM(CAST(o_totalprice AS {DEC})) AS VARCHAR) AS DOUBLE) AS total
FROM orders WHERE year(o_orderdate) <= 1996
UNION ALL
SELECT 2, COUNT(*),
       CAST(CAST(SUM(CAST(o_totalprice AS {DEC})) AS VARCHAR) AS DOUBLE)
FROM orders WHERE year(o_orderdate) <= 1998
UNION ALL
SELECT 3, COUNT(*),
       CAST(CAST(SUM(CAST(o_totalprice AS {DEC})) AS VARCHAR) AS DOUBLE)
FROM orders
UNION ALL
SELECT 4, COUNT(*),
       CAST(CAST(SUM(CAST(o_totalprice AS {DEC})) AS VARCHAR) AS DOUBLE)
FROM orders WHERE year(o_orderdate) <= 1998
""",
    doc="Time travel driven as SQL TEXT through the TableSQL front-end — "
    "the reference's actual surface (ref: api.py:151-168 FOR SYSTEM_TIME "
    "AS OF; #cell-45 (json:1349) VERSION AS OF): VERSION AS OF 1/2/3 plus "
    "FOR SYSTEM_TIME AS OF at snapshot 2's commit time must reproduce "
    "tablefmt_time_travel's API-path results exactly.",
)
def sql_time_travel(spark: SparkSession, sf_dir: str) -> DataFrame:
    from thesis_iceberg_spark.tablefmt import TableSQL

    vt = _build_orders_table(spark, sf_dir)
    fe = TableSQL(spark, {"orders_vt": vt}.__getitem__)
    total = (
        f"CAST(CAST(SUM(CAST(o_totalprice AS {DEC})) AS STRING) AS DOUBLE)"
    )

    def part(snap: int, clause: str) -> DataFrame:
        return fe.sql(
            f"SELECT {snap} AS snap, COUNT(*) AS n, {total} AS total "
            f"FROM orders_vt {clause}"
        )

    out = part(1, "VERSION AS OF 1")
    out = out.unionAll(part(2, "VERSION AS OF 2"))
    out = out.unionAll(part(3, "FOR VERSION AS OF 3"))
    out = out.unionAll(part(4, f"FOR SYSTEM_TIME AS OF {T2}"))
    return out


@register(
    "sql_dml_update_delete",
    oracle="""
SELECT c_custkey, c_name,
       CASE WHEN c_mktsegment = 'BUILDING' THEN c_acctbal + 100
            ELSE c_acctbal END AS c_acctbal,
       CASE WHEN c_mktsegment = 'BUILDING' THEN 'UPDATED'
            ELSE c_mktsegment END AS c_mktsegment
FROM customer WHERE NOT (c_acctbal < 0)
""",
    doc="UPDATE/DELETE driven as SQL TEXT through the TableSQL front-end "
    "(ref: #cell-19 (json:586) UPDATE ... WHERE as SQL), against a table "
    "configured write.delete.mode/write.update.mode=merge-on-read (ref: "
    "#cell-18 (json:557)) — so position-delete files, the MoR read path "
    "AND the SQL surface all sit under one full value oracle.",
)
def sql_dml_update_delete(spark: SparkSession, sf_dir: str) -> DataFrame:
    from thesis_iceberg_spark.tablefmt import TableSQL

    customer = load_table(spark, sf_dir, "customer")
    loc = _fresh(sf_dir, "customer_sqldml")
    vt = VersionedTable.create(
        spark,
        loc,
        df=customer,
        now_ms=T1,
        properties={
            "write.delete.mode": "merge-on-read",
            "write.update.mode": "merge-on-read",
        },
    )
    fe = TableSQL(spark, {"cust": vt}.__getitem__)
    fe.sql("DELETE FROM cust WHERE c_acctbal < 0")
    fe.sql(
        "UPDATE cust SET c_acctbal = c_acctbal + 100, c_mktsegment = 'UPDATED' "
        "WHERE c_mktsegment = 'BUILDING'"
    )
    # MoR contract: both statements committed via delete files — the CTAS
    # data directory was never rewritten (1 data entry + 1 appended by the
    # MoR update holding only updated rows)
    return vt.read().select("c_custkey", "c_name", "c_acctbal", "c_mktsegment")


@register(
    "tablefmt_quoted_identifiers",
    oracle="""
SELECT c_custkey AS "Customer Id", c_name AS "Full Name",
       c_acctbal AS "Account Balance"
FROM customer WHERE c_acctbal > 1000
""",
    doc="Quoted identifiers with spaces round-trip every layer (ref: "
    "api.py:368 `Phone number`, FIXTURES.md F1): catalog CREATE DATABASE/"
    "TABLE with spaced column names, RENAME to another spaced name, then a "
    "backticked spark.sql query through a registered view.",
)
def tablefmt_quoted_identifiers(spark: SparkSession, sf_dir: str) -> DataFrame:
    from thesis_iceberg_spark.tablefmt.catalog import Catalog

    customer = load_table(spark, sf_dir, "customer")
    wh = _fresh(sf_dir, "quoted_wh")
    os.makedirs(wh, exist_ok=True)
    cat = Catalog(spark, wh)
    cat.create_database("employee_db")
    cat.use("employee_db")
    df = customer.select(
        F.col("c_custkey").alias("Customer Id"),
        F.col("c_name").alias("Name"),
        F.col("c_acctbal").alias("Account Balance"),
    )
    cat.create_table("people", df=df, now_ms=T1)
    cat.table("people").rename_column("Name", "Full Name")
    cat.register_view("people")
    return spark.sql(
        "SELECT `Customer Id`, `Full Name`, `Account Balance` FROM people "
        "WHERE `Account Balance` > 1000"
    )


@register(
    "sql_ddl_lifecycle",
    oracle="""
SELECT id, full_name, salary, dept
FROM (VALUES (1, 'alice', 110, 'ops'),
             (2, 'bob',   260, 'ops'),
             (4, 'dave',  410, 'eng'),
             (5, 'eve',   510, 'qa')) t(id, full_name, salary, dept)
""",
    doc="The notebook's DDL script driven entirely as SQL TEXT through "
    "Catalog.sql: CREATE DATABASE (ref: #cell-6), CREATE TABLE ... "
    "PARTITIONED BY (day(col)) TBLPROPERTIES (ref: #cell-7 (json:196), "
    "#cell-21 (json:665)), USE, INSERT INTO ... VALUES (#cell-11 "
    "(json:329), the notebook's most-used write), ALTER TABLE ADD/RENAME/"
    "DROP COLUMN (api.py:92-130, #cell-28/29), SET TBLPROPERTIES "
    "(#cell-18 (json:557)), UPDATE/DELETE/MERGE, SHOW TABLES/DATABASES "
    "(#cell-2/5), DESCRIBE (#cell-15 (json:462)) and REPLACE TABLE ... AS "
    "SELECT (#cell-13 (json:409) — RTAS as a history-preserving snapshot, "
    "asserted via time travel). Final state is a constant table, value-"
    "oracled in DuckDB. Surface parity: every statement here is one the "
    "reference executes as SQL.",
)
def sql_ddl_lifecycle(spark: SparkSession, sf_dir: str) -> DataFrame:
    from thesis_iceberg_spark.tablefmt.catalog import Catalog

    wh = _fresh(sf_dir, "sql_ddl_wh")
    os.makedirs(wh, exist_ok=True)
    cat = Catalog(spark, wh)
    cat.sql("CREATE DATABASE IF NOT EXISTS default")
    cat.sql("USE default")
    cat.sql(
        "CREATE TABLE default.emp (id INT, name STRING, salary INT, "
        "added_at TIMESTAMP) PARTITIONED BY (day(added_at)) "
        "TBLPROPERTIES ('write.delete.mode'='merge-on-read')"
    )
    cat.sql(
        "INSERT INTO default.emp VALUES "
        "(1, 'alice', 100, TIMESTAMP '2024-01-01 10:00:00'), "
        "(2, 'bob', 200, TIMESTAMP '2024-01-02 11:00:00'), "
        "(3, 'carol', 300, TIMESTAMP '2024-01-02 12:00:00')"
    )
    cat.sql("ALTER TABLE default.emp ADD COLUMN dept STRING")
    cat.sql(
        "INSERT INTO default.emp VALUES "
        "(4, 'dave', 400, TIMESTAMP '2024-01-03 09:00:00', 'eng')"
    )
    cat.sql("UPDATE default.emp SET dept = 'ops' WHERE id <= 2")
    cat.sql("ALTER TABLE default.emp RENAME COLUMN name TO full_name")
    cat.sql("DELETE FROM default.emp WHERE id = 3")
    cat.sql("ALTER TABLE default.emp SET TBLPROPERTIES ('owner'='hr')")
    spark.sql(
        "SELECT * FROM VALUES "
        "(2, 'bob', 250, TIMESTAMP '2024-01-04 08:00:00', 'ops'), "
        "(5, 'eve', 500, TIMESTAMP '2024-01-04 08:30:00', 'qa') "
        "AS s(id, full_name, salary, added_at, dept)"
    ).createOrReplaceTempView("emp_cdc_src")
    cat.sql(
        "MERGE INTO default.emp USING emp_cdc_src ON id "
        "WHEN MATCHED THEN UPDATE SET salary = s.salary "
        "WHEN NOT MATCHED THEN INSERT *"
    )
    assert cat.table("default.emp").properties.get("owner") == "hr"
    # introspection statements (bounded metadata reads, not data paths)
    assert [r.namespace for r in cat.sql("SHOW DATABASES").collect()] == ["default"]
    assert [(r.namespace, r.tableName) for r in cat.sql("SHOW TABLES").collect()] == [
        ("default", "emp")
    ]
    desc_cols = {r.col_name for r in cat.sql("DESCRIBE default.emp").collect()}
    assert {"id", "full_name", "salary", "dept"} <= desc_cols
    # RTAS: +10 salary across the board, committed as ONE new snapshot so
    # history survives — the pre-replace state must stay time-travelable
    pre_rtas_snap = cat.table("default.emp")._meta["current_snapshot_id"]
    cat.register_view("default.emp")
    cat.sql(
        "REPLACE TABLE default.emp AS "
        "SELECT id, full_name, salary + 10 AS salary, added_at, dept FROM emp"
    )
    old_total = (
        cat.sql(f"SELECT SUM(salary) AS s FROM default.emp VERSION AS OF {pre_rtas_snap}")
        .first()["s"]
    )
    assert old_total == 100 + 250 + 400 + 500, old_total
    return cat.table("default.emp").read().select("id", "full_name", "salary", "dept")


@register(
    "tablefmt_merge_incremental",
    oracle="""
SELECT o_orderkey,
       CASE WHEN o_orderkey % 100 = 0 THEN o_totalprice * 2
            ELSE o_totalprice END AS o_totalprice,
       TRUE AS base_files_untouched
FROM orders
UNION ALL
SELECT * FROM (VALUES (CAST(-1 AS BIGINT), CAST(111.5 AS DOUBLE), TRUE),
                      (CAST(-2 AS BIGINT), CAST(222.5 AS DOUBLE), TRUE))
       t(o_orderkey, o_totalprice, base_files_untouched)
""",
    doc="Incremental MERGE under write.merge.mode=merge-on-read: a CDC-"
    "style batch (updates on o_orderkey % 100 = 0, two inserts) commits as "
    "position-deletes + one small appended file set; the query VERIFIES "
    "IN-PLAN that every pre-merge data file is still referenced by the new "
    "snapshot (base_files_untouched, value-oracled TRUE) and the final "
    "state matches plain SQL over the source table. This is the write "
    "shape the streaming CDC upsert produces per micro-batch — O(batch) "
    "bytes per epoch, never O(table).",
)
def tablefmt_merge_incremental(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice"
    )
    loc = _fresh(sf_dir, "orders_merge_mor")
    vt = VersionedTable.create(
        spark,
        loc,
        df=orders.repartition(4),
        now_ms=T1,
        properties={"write.merge.mode": "merge-on-read"},
    )

    def _paths(v: VersionedTable) -> set[str]:
        snap = v._select_snapshot()
        return {f["path"] for e in snap["manifest"] for f in e["files"]}

    base_paths = _paths(vt)
    updates = orders.filter(F.col("o_orderkey") % 100 == 0).select(
        "o_orderkey",
        "o_custkey",
        "o_orderstatus",
        (F.col("o_totalprice") * 2).alias("o_totalprice"),
    )
    inserts = spark.createDataFrame(
        [(-1, 1, "N", 111.5), (-2, 2, "N", 222.5)],
        "o_orderkey BIGINT, o_custkey BIGINT, o_orderstatus STRING, o_totalprice DOUBLE",
    )
    vt.merge(
        updates.unionByName(inserts),
        on="o_orderkey",
        when_matched_update={"o_totalprice": "s.o_totalprice"},
        now_ms=T2,
    )
    vt2 = VersionedTable(spark, loc)
    untouched = base_paths <= _paths(vt2)
    return vt2.read().select(
        "o_orderkey",
        "o_totalprice",
        F.lit(bool(untouched)).alias("base_files_untouched"),
    )
