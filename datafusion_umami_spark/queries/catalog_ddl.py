"""Catalog / DDL / introspection surface: SHOW TABLES, DESCRIBE,
EXPLAIN, SET, information-schema views.

Covers SURVEY.md §2.10's DML/DDL row (reference
datafusion/sql/src/statement.rs Statement::* arms) and the catalog +
information_schema hierarchy (catalog/src/lib.rs,
catalog/src/information_schema.rs), plus EXPLAIN
(physical-plan/src/explain.rs:40).

Most introspection specs return engine-specific metadata shapes, so
they are rows-only checks (no DuckDB oracle) — but that is NOT this
module's blanket convention (r13 review: the old header claimed only
catalog_information_schema carried an oracle): the specs whose output
is engine-independent data (prepared_statement_params,
repartition_coalesce_roundtrip, ddl_create_database_ctas,
cache_table_scan, ddl_schema_evolution, table_fingerprint_orders,
layout_zorder_tiles, catalog_information_schema) are all hash-checked
against DuckDB per the CLAUDE.md first rule — oracle=None ONLY for
genuinely engine-specific output.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from datafusion_umami_spark.registry import register, register_sql
from datafusion_umami_spark.streaming.runner import scratch_root
from datafusion_umami_spark.tables import TABLE_NAMES, register_views

from datafusion_umami_spark.queries.hashing import DUCK_H64, SPARK_H64


def _fresh_scratch_location(spark: SparkSession, table: str) -> None:
    """Prepare `dus_scratch.<table>` for re-creation.  The database
    lives under the application's scratch root, not the warehouse, so
    its tables go when the process exits; a rerun in the same
    application drops the table first.  DROP-after-use is not an
    option: Spark uncaches/invalidates plans of dropped tables."""
    location = f"{scratch_root(spark)}/dus_scratch.db"
    spark.sql(f"CREATE DATABASE IF NOT EXISTS dus_scratch LOCATION '{location}'")
    spark.sql(f"DROP TABLE IF EXISTS dus_scratch.{table}")



@register("ddl_show_tables", oracle=None, tags=("ddl", "catalog", "show"))
def ddl_show_tables(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SHOW TABLES over the registered star schema (catalog listing,
    reference catalog/src/lib.rs)."""
    register_views(spark, sf_dir)
    return spark.sql("SHOW TABLES").filter(F.col("tableName").isin(*TABLE_NAMES))


@register("ddl_describe_table", oracle=None, tags=("ddl", "catalog", "describe"))
def ddl_describe_table(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DESCRIBE TABLE — schema introspection."""
    register_views(spark, sf_dir)
    return spark.sql("DESCRIBE TABLE lineitem")


@register("ddl_explain_query", oracle=None, tags=("ddl", "explain"))
def ddl_explain_query(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXPLAIN of a join-agg query (reference ExplainExec, explain.rs:40;
    Spark's formatted mode is the analog of the reference's tree
    format)."""
    register_views(spark, sf_dir)
    return spark.sql(
        """
        EXPLAIN FORMATTED
        SELECT n_name, count(*) AS cnt
        FROM supplier JOIN nation ON s_nationkey = n_nationkey
        GROUP BY n_name
        """
    )


@register("ddl_set_show_conf", oracle=None, tags=("ddl", "set"))
def ddl_set_show_conf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SET / SHOW of a session config knob (reference `SET x.*` config
    extension, common/src/config.rs:897-927).  The prior value is
    RESTORED before returning (r13 review: the session is shared by
    every spec in a sweep — under an AQE-off environment like the
    hostile-config leg, leaving adaptive.enabled flipped on would
    contaminate every later plan in session order).  The SHOW rows are
    collected while the SET is live so the returned frame is stable."""
    try:
        prior = spark.conf.get("spark.sql.adaptive.enabled")
    except Exception:
        prior = None
    spark.sql("SET spark.sql.adaptive.enabled=true")
    rows = spark.sql("SET spark.sql.adaptive.enabled").collect()
    if prior is not None:
        spark.conf.set("spark.sql.adaptive.enabled", prior)
    return spark.createDataFrame(rows)


@register(
    "catalog_information_schema",
    oracle="""
    SELECT column_name, data_type
    FROM information_schema.columns
    WHERE table_name = 'nation'
    """,
    tags=("catalog", "information-schema"),
)
def catalog_information_schema(spark: SparkSession, sf_dir: str) -> DataFrame:
    """information_schema.columns parity for one table: Spark's catalog
    listing mapped onto DuckDB's type names (both read the same parquet,
    so the logical column/type inventory must agree)."""
    register_views(spark, sf_dir)
    spark_to_ansi = {
        "bigint": "BIGINT",
        "int": "INTEGER",
        "double": "DOUBLE",
        "string": "VARCHAR",
        "date": "DATE",
        "binary": "BLOB",
        "boolean": "BOOLEAN",
    }
    cols = [
        (f.name, spark_to_ansi.get(f.dataType.simpleString(), f.dataType.simpleString()))
        for f in spark.table("nation").schema.fields
    ]
    return spark.createDataFrame(cols, "column_name string, data_type string")


@register("ddl_explain_cost", oracle=None, tags=("ddl", "explain", "statistics"))
def ddl_explain_cost(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXPLAIN COST — optimized plan with CBO statistics (the analog of
    the reference's EXPLAIN with statistics display, explain.rs +
    AnalyzeExec's stats output)."""
    register_views(spark, sf_dir)
    return spark.sql(
        "EXPLAIN COST SELECT o_orderstatus, count(*) FROM orders GROUP BY o_orderstatus"
    )


@register(
    "prepared_statement_params",
    oracle="""
    SELECT o_orderstatus, COUNT(*) AS n,
           CAST(SUM(CAST(o_totalprice AS DECIMAL(12,2))) AS DOUBLE) AS total
    FROM orders
    WHERE o_orderdate >= TIMESTAMP '1995-01-01 00:00:00'
      AND o_totalprice < 200000.0
    GROUP BY o_orderstatus
    """,
    tags=("ddl", "prepare", "parameters"),
)
def prepared_statement_params(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PREPARE / EXECUTE parity (reference sql/src/statement.rs:706-723
    plans PREPARE/EXECUTE/DEALLOCATE with typed placeholders): Spark's
    named-parameter binding `spark.sql(text, args=...)` is the same
    plan-once-bind-later surface; the oracle runs the bound equivalent."""
    import datetime

    register_views(spark, sf_dir)
    return spark.sql(
        """
        SELECT o_orderstatus, COUNT(*) AS n,
               CAST(SUM(CAST(o_totalprice AS DECIMAL(12,2))) AS DOUBLE) AS total
        FROM orders
        WHERE o_orderdate >= :start_ts AND o_totalprice < :cap
        GROUP BY o_orderstatus
        """,
        args={"start_ts": datetime.datetime(1995, 1, 1), "cap": 200000.0},
    )


@register("ddl_explain_analyze", oracle=None, tags=("ddl", "explain", "analyze", "metrics"))
def ddl_explain_analyze(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXPLAIN ANALYZE analog (reference physical-plan/src/analyze.rs:42
    executes the child and reports runtime metrics): run the query with
    an attached Observation (observable metrics), then surface the
    post-execution AQE-final physical plan plus the observed row/value
    metrics as rows."""
    from pyspark.sql import Observation

    register_views(spark, sf_dir)
    obs = Observation("analyze")
    df = (
        spark.table("orders")
        .filter(F.col("o_totalprice") > 0)
        .observe(
            obs,
            F.count(F.lit(1)).alias("rows_scanned"),
            F.sum(F.round(F.col("o_totalprice") * 100).cast("bigint")).alias(
                "price_cents_total"
            ),
        )
        .groupBy("o_orderstatus")
        .count()
    )
    df.collect()  # execute: metrics only exist after the action
    final_plan = df._jdf.queryExecution().executedPlan().toString()
    metrics = obs.get
    rows = [("final_plan_head", final_plan.splitlines()[0].strip())] + [
        (k, str(v)) for k, v in sorted(metrics.items())
    ]
    return spark.createDataFrame(rows, "metric string, value string")


@register(
    "repartition_coalesce_roundtrip",
    oracle="""
    SELECT l_returnflag,
           COUNT(*) AS cnt,
           CAST(SUM(CAST(round(l_extendedprice * 100) AS BIGINT)) AS BIGINT) AS cents,
           MIN(l_shipdate) AS first_ship
    FROM lineitem
    GROUP BY l_returnflag
    """,
    tags=("repartition", "coalesce", "partial-sort"),
)
def repartition_coalesce_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """User-visible RepartitionExec(Hash) + PartialSort + CoalescePartitions
    (reference repartition/mod.rs:471, sorts/partial_sort.rs:80,
    coalesce_partitions.rs:40): hash-repartition on the group key, sort
    within partitions, aggregate (shuffle-free — data already co-located),
    then coalesce to one partition.  Results must be identical to the
    direct plan; the oracle checks exactly that."""
    from datafusion_umami_spark.tables import table
    from pyspark.sql import functions as F

    li = table(spark, sf_dir, "lineitem")
    return (
        li.repartition(8, "l_returnflag")
        .sortWithinPartitions("l_returnflag", "l_shipdate")
        .groupBy("l_returnflag")
        .agg(
            F.count("*").alias("cnt"),
            F.sum(F.round(F.col("l_extendedprice") * 100).cast("bigint")).alias("cents"),
            F.min("l_shipdate").alias("first_ship"),
        )
        .coalesce(1)
    )


@register(
    "ddl_create_database_ctas",
    oracle="""
    SELECT r_name, COUNT(*) AS nations
    FROM nation JOIN region ON n_regionkey = r_regionkey
    GROUP BY r_name
    """,
    tags=("ddl", "catalog", "create-database", "ctas"),
)
def ddl_create_database_ctas(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Catalog lifecycle: CREATE DATABASE, CTAS a managed table into it,
    query it fully qualified, DROP — the reference's CREATE EXTERNAL
    TABLE / CTAS statement arms (sql/src/statement.rs CreateTable) over
    Spark's warehouse catalog. The oracle runs the same aggregate on the
    source tables, proving the CTAS materialization is lossless."""
    register_views(spark, sf_dir)
    _fresh_scratch_location(spark, "region_counts")
    spark.sql(
        """
        CREATE TABLE dus_scratch.region_counts AS
        SELECT r_name, COUNT(*) AS nations
        FROM nation JOIN region ON n_regionkey = r_regionkey
        GROUP BY r_name
        """
    )
    return spark.table("dus_scratch.region_counts")


@register(
    "cache_table_scan",
    oracle="""
    SELECT c_mktsegment, COUNT(*) AS n,
           CAST(SUM(CAST(c_acctbal AS DECIMAL(12,2))) AS DOUBLE) AS bal
    FROM customer
    GROUP BY c_mktsegment
    """,
    tags=("catalog", "cache", "in-memory"),
)
def cache_table_scan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CACHE TABLE: the second scan must come from the columnar
    InMemoryRelation, not parquet (Spark's materialized cache layer —
    the reference's ListingTable has no analog; at scale this is the
    hot-dimension pin). Plan containment is asserted here because the
    cache is the semantic point of the query."""
    register_views(spark, sf_dir)
    spark.sql("CACHE TABLE customer")
    try:
        df = spark.sql(
            """
            SELECT c_mktsegment, COUNT(*) AS n,
                   CAST(SUM(CAST(c_acctbal AS DECIMAL(12,2))) AS DOUBLE) AS bal
            FROM customer
            GROUP BY c_mktsegment
            """
        )
        plan = df._jdf.queryExecution().executedPlan().toString()
        if "InMemory" not in plan:  # explicit raise: assert dies under -O
            raise AssertionError("CACHE TABLE did not produce an in-memory scan")
        # materialize WHILE the cache is live (r13 review): the old code
        # returned the lazy frame and uncached in `finally`, so the
        # execution the harness actually compared ran AFTER the uncache —
        # it silently recomputed from parquet (and re-persisted orphaned
        # cache buffers), never exercising cache serving at execution
        # time.  The compared rows now come from the in-memory scan.
        rows = df.collect()
        return spark.createDataFrame(rows, df.schema)
    finally:
        spark.sql("UNCACHE TABLE IF EXISTS customer")


@register("ddl_analyze_table_stats", oracle=None, tags=("ddl", "statistics", "cbo"))
def ddl_analyze_table_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ANALYZE TABLE ... COMPUTE STATISTICS [FOR COLUMNS]: the stats
    lifecycle feeding the cost-based optimizer (the reference computes
    per-file statistics at listing time and exposes them to its
    optimizer; Spark persists them in the catalog). Surfaces the
    collected table + column stats via DESCRIBE EXTENDED."""
    register_views(spark, sf_dir)
    _fresh_scratch_location(spark, "nation_stats")
    spark.sql("CREATE TABLE dus_scratch.nation_stats AS SELECT * FROM nation")
    spark.sql("ANALYZE TABLE dus_scratch.nation_stats COMPUTE STATISTICS")
    spark.sql(
        "ANALYZE TABLE dus_scratch.nation_stats "
        "COMPUTE STATISTICS FOR COLUMNS n_nationkey, n_name"
    )
    desc = spark.sql("DESCRIBE TABLE EXTENDED dus_scratch.nation_stats n_nationkey")
    return desc.filter(F.col("info_name").isin("min", "max", "distinct_count", "num_nulls"))


@register("ddl_show_partitions", oracle=None, tags=("ddl", "catalog", "partitions"))
def ddl_show_partitions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SHOW PARTITIONS over a hive-partitioned managed table (the
    reference's ListingTable partition discovery, table.rs:922, exposed
    as a catalog listing)."""
    register_views(spark, sf_dir)
    _fresh_scratch_location(spark, "orders_parts")
    spark.sql(
        """
        CREATE TABLE dus_scratch.orders_parts
        USING parquet PARTITIONED BY (o_orderstatus) AS
        SELECT o_orderkey, o_totalprice, o_orderstatus FROM orders
        """
    )
    return spark.sql("SHOW PARTITIONS dus_scratch.orders_parts")


@register(
    "ddl_schema_evolution",
    oracle="""
    SELECT * FROM (VALUES
      (CAST(1 AS BIGINT), 'new',  CAST(NULL AS BIGINT)),
      (CAST(2 AS BIGINT), 'new',  CAST(NULL AS BIGINT)),
      (CAST(3 AS BIGINT), 'done', CAST(10 AS BIGINT)),
      (CAST(4 AS BIGINT), 'new',  CAST(20 AS BIGINT)))
      AS t(id, status, score)
    """,
    tags=("ddl", "schema-evolution", "default-columns", "alter-table"),
)
def ddl_schema_evolution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Schema evolution lifecycle: CREATE TABLE with a column DEFAULT,
    INSERT omitting that column (default fills), ALTER TABLE ADD COLUMN
    (old rows read NULL for the new column — parquet schema merging),
    INSERT into the widened schema, and INSERT relying on the default
    again. The oracle is the expected literal relation."""
    _fresh_scratch_location(spark, "evolution")
    spark.sql(
        "CREATE TABLE dus_scratch.evolution "
        "(id BIGINT, status STRING DEFAULT 'new') USING parquet"
    )
    spark.sql("INSERT INTO dus_scratch.evolution (id) VALUES (1), (2)")
    spark.sql("ALTER TABLE dus_scratch.evolution ADD COLUMN score BIGINT")
    spark.sql("INSERT INTO dus_scratch.evolution VALUES (3, 'done', 10)")
    spark.sql("INSERT INTO dus_scratch.evolution (id, score) VALUES (4, 20)")
    return spark.table("dus_scratch.evolution")


@register("ddl_show_functions", oracle=None, tags=("ddl", "catalog", "functions"))
def ddl_show_functions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SHOW FUNCTIONS — the function-registry listing (the reference
    exposes its registry through information_schema.routines,
    catalog/src/information_schema.rs); filtered to a stable sample of
    names every build ships."""
    return spark.sql("SHOW FUNCTIONS").filter(
        F.col("function").isin("sum", "avg", "concat", "array_sort", "percentile")
    )


# --- order-independent table fingerprint -----------------------------------
# The cross-cluster data-validation primitive a 100 TB migration runs on
# both sides of a copy: per-row 60-bit hashes of a canonical string
# encoding, combined with COUNT + SUM (+ min/max) — all commutative, so
# the fingerprint is independent of partitioning, file order and engine.
# One linear scan, one scalar aggregate; compare two engines' rows and
# you have verified a copy without moving data.  The hash sum
# accumulates in 128-bit exact integers (DECIMAL(38,0) / HUGEINT):
# ~2^60 per row × 10^12 rows ≈ 10^30 stays far under the 10^38 ceiling,
# where a BIGINT sum would overflow (ANSI mode rejects it).
# built from the shared 60-bit hash pair (queries/hashing.py) — the
# r13 review found this was the last inline copy of the convention;
# the .format() output is byte-identical to the old text (the row
# encoding lives in {s}), so the proven fingerprint is unchanged.
_FP_ROW_SP = """concat_ws('|',
                 CAST(o_orderkey AS STRING), CAST(o_custkey AS STRING),
                 o_orderstatus,
                 CAST(CAST(round(o_totalprice * 100) AS BIGINT) AS STRING),
                 o_orderpriority)"""
_FP_ROW_DU = """concat_ws('|',
                 CAST(o_orderkey AS VARCHAR), CAST(o_custkey AS VARCHAR),
                 o_orderstatus,
                 CAST(CAST(round(o_totalprice * 100) AS BIGINT) AS VARCHAR),
                 o_orderpriority)"""

register_sql(
    "table_fingerprint_orders",
    f"""
    WITH h AS (
      SELECT {SPARK_H64.format(s=_FP_ROW_SP)} AS rh
      FROM orders)
    SELECT CAST(COUNT(*) AS BIGINT) AS n_rows,
           CAST(SUM(CAST(rh AS DECIMAL(38, 0))) AS STRING) AS hash_sum,
           CAST(MIN(rh) AS BIGINT) AS hash_min,
           CAST(MAX(rh) AS BIGINT) AS hash_max
    FROM h
    """,
    oracle=f"""
    WITH h AS (
      SELECT {DUCK_H64.format(s=_FP_ROW_DU)} AS rh
      FROM orders)
    SELECT CAST(COUNT(*) AS BIGINT) AS n_rows,
           CAST(CAST(SUM(rh) AS HUGEINT) AS VARCHAR) AS hash_sum,
           CAST(MIN(rh) AS BIGINT) AS hash_min,
           CAST(MAX(rh) AS BIGINT) AS hash_max
    FROM h
    """,
    tags=("validation", "fingerprint", "migration"),
)


# --- Z-order (Morton) clustering key --------------------------------------
# The data-layout primitive for multi-dimensional locality at 100 TB:
# interleaving the bits of two keys makes every 2^k x 2^k aligned tile a
# SINGLE contiguous z-range, so sorting files by z turns a 2-D range
# fence into a handful of contiguous scans (min/max row-group pruning
# works on BOTH keys at once).  The query computes the interleave in
# pure portable integer arithmetic (floor-div/mod, exact on both
# engines) and emits per-tile z-ranges; z_range_in_tile_band proves the
# layout property that makes z-sorting useful: every 16x16 aligned tile
# maps into ONE contiguous 256-slot z band (the flag is 1 for every
# tile, checked by the oracle on both engines).
register_sql(
    "layout_zorder_tiles",
    """
    WITH keys AS (
      SELECT DISTINCT l_partkey % 256 AS pk, l_suppkey % 256 AS sk
      FROM lineitem),
    z AS (
      SELECT pk, sk,
             (CAST(floor(pk / 1.0) AS BIGINT) % 2) * 1
             + (CAST(floor(sk / 1.0) AS BIGINT) % 2) * 2
             + (CAST(floor(pk / 2.0) AS BIGINT) % 2) * 4
             + (CAST(floor(sk / 2.0) AS BIGINT) % 2) * 8
             + (CAST(floor(pk / 4.0) AS BIGINT) % 2) * 16
             + (CAST(floor(sk / 4.0) AS BIGINT) % 2) * 32
             + (CAST(floor(pk / 8.0) AS BIGINT) % 2) * 64
             + (CAST(floor(sk / 8.0) AS BIGINT) % 2) * 128
             + (CAST(floor(pk / 16.0) AS BIGINT) % 2) * 256
             + (CAST(floor(sk / 16.0) AS BIGINT) % 2) * 512
             + (CAST(floor(pk / 32.0) AS BIGINT) % 2) * 1024
             + (CAST(floor(sk / 32.0) AS BIGINT) % 2) * 2048
             + (CAST(floor(pk / 64.0) AS BIGINT) % 2) * 4096
             + (CAST(floor(sk / 64.0) AS BIGINT) % 2) * 8192
             + (CAST(floor(pk / 128.0) AS BIGINT) % 2) * 16384
             + (CAST(floor(sk / 128.0) AS BIGINT) % 2) * 32768
               AS zval
      FROM keys),
    tiles AS (
      SELECT CAST(floor(pk / 16.0) AS BIGINT) AS tile_p,
             CAST(floor(sk / 16.0) AS BIGINT) AS tile_s,
             CAST(MIN(zval) AS BIGINT) AS z_lo,
             CAST(MAX(zval) AS BIGINT) AS z_hi,
             CAST(COUNT(*) AS BIGINT) AS n_keys
      FROM z GROUP BY CAST(floor(pk / 16.0) AS BIGINT),
                      CAST(floor(sk / 16.0) AS BIGINT)),
    banded AS (
      -- tile z-band base computed ONCE (the 4-bit interleave of the
      -- tile coordinates); both bound checks read the same expression
      SELECT t.*,
             256 * ((CAST(floor(tile_p / 1.0) AS BIGINT) % 2) * 1
                  + (CAST(floor(tile_s / 1.0) AS BIGINT) % 2) * 2
                  + (CAST(floor(tile_p / 2.0) AS BIGINT) % 2) * 4
                  + (CAST(floor(tile_s / 2.0) AS BIGINT) % 2) * 8
                  + (CAST(floor(tile_p / 4.0) AS BIGINT) % 2) * 16
                  + (CAST(floor(tile_s / 4.0) AS BIGINT) % 2) * 32
                  + (CAST(floor(tile_p / 8.0) AS BIGINT) % 2) * 64
                  + (CAST(floor(tile_s / 8.0) AS BIGINT) % 2) * 128)
               AS tile_z_base
      FROM tiles t)
    SELECT tile_p, tile_s, z_lo, z_hi, n_keys,
           CAST(CASE WHEN z_lo >= tile_z_base
                      AND z_hi <= tile_z_base + 255
                     THEN 1 ELSE 0 END AS BIGINT) AS z_range_in_tile_band
    FROM banded
    ORDER BY tile_p, tile_s
    LIMIT 1000
    """,
    tags=("layout", "zorder", "clustering"),
)
