"""Sources & sinks: CSV / NDJSON / Arrow-IPC scans, file-format writers,
hive-partitioned layout + partition pruning, INSERT INTO, CTAS views.

Covers SURVEY.md §2.1: CSV scan (reference
datafusion/datasource-csv/src/file_format.rs:137), NDJSON scan
(datasource-json/src/file_format.rs:136), Arrow IPC scan
(core/src/datasource/file_format/arrow.rs:112), `ListingTable` hive-style
partition columns (core/src/datasource/listing/table.rs:922), and
`DataSinkExec` + format writers for INSERT INTO / COPY TO
(datasource/src/sink.rs:48,83, datasource/src/write/).

Correctness strategy: every sink query WRITES a dataset derived from the
driver's parquet tables, READS it back through the target format, and
returns an aggregate whose oracle runs on the ORIGINAL table — so the
DuckDB hash-match proves the roundtrip was lossless, not just that the
write "didn't crash".  Exact-typed columns (ints, strings, dates,
decimals) are used so text formats roundtrip bit-exactly.

Scale notes (100 TB): all writers here are executor-parallel
(`df.write` fans out one file per partition); the hive-partitioned
variant is the layout a real deployment would use (partition pruning at
the scan, `PartitionFilters` in the plan).  Only the Arrow-IPC reader is
driver-side (pyarrow → createDataFrame) — Spark has no native IPC
source; documented as the low-priority gap SURVEY §2.1 calls out.
"""

from __future__ import annotations

import os
import shutil

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from datafusion_umami_spark.registry import register
from datafusion_umami_spark.streaming.runner import scratch_root
from datafusion_umami_spark.tables import table


def _sink_dir(sf_dir: str, name: str) -> str:
    """Deterministic per-(scale-factor, query) path under the active
    application's scratch root."""
    sf_tag = os.path.basename(os.path.normpath(sf_dir)) or "sf"
    return os.path.join(scratch_root(SparkSession.active()), "sinks", sf_tag, name)


# --- CSV: write with header → read with explicit schema → aggregate --------
@register(
    "csv_scan_roundtrip",
    oracle="""
    SELECT o_orderstatus,
           COUNT(*) AS cnt,
           CAST(SUM(CAST(o_totalprice AS DECIMAL(12,2))) AS DOUBLE) AS total,
           MIN(o_orderdate) AS first_order
    FROM orders
    GROUP BY o_orderstatus
    """,
    tags=("source", "sink", "csv"),
)
def csv_scan_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    path = _sink_dir(sf_dir, "orders_csv")
    (
        table(spark, sf_dir, "orders")
        .select(
            "o_orderkey",
            "o_custkey",
            "o_orderstatus",
            "o_orderdate",
            F.col("o_totalprice").cast("decimal(12,2)").alias("o_totalprice"),
        )
        .write.mode("overwrite")
        .option("header", True)
        .csv(path)
    )
    back = spark.read.schema(
        "o_orderkey bigint, o_custkey bigint, o_orderstatus string, "
        "o_orderdate date, o_totalprice decimal(12,2)"
    ).option("header", True).csv(path)
    return back.groupBy("o_orderstatus").agg(
        F.count("*").alias("cnt"),
        F.sum("o_totalprice").cast("double").alias("total"),
        F.min("o_orderdate").alias("first_order"),
    )


# --- CSV schema inference (reference infers at scan time) ------------------
@register(
    "csv_scan_inferred",
    oracle="""
    SELECT n_regionkey, COUNT(*) AS nations, MIN(n_name) AS first_name
    FROM nation GROUP BY n_regionkey
    """,
    tags=("source", "csv", "schema-inference"),
)
def csv_scan_inferred(spark: SparkSession, sf_dir: str) -> DataFrame:
    path = _sink_dir(sf_dir, "nation_csv")
    table(spark, sf_dir, "nation").write.mode("overwrite").option("header", True).csv(path)
    back = spark.read.option("header", True).option("inferSchema", True).csv(path)
    return back.groupBy("n_regionkey").agg(
        F.count("*").alias("nations"), F.min("n_name").alias("first_name")
    )


# --- NDJSON: write → read (schema inference) → join-shaped aggregate -------
@register(
    "json_scan_roundtrip",
    oracle="""
    SELECT c_mktsegment,
           COUNT(*) AS cnt,
           CAST(SUM(CAST(c_acctbal AS DECIMAL(12,2))) AS DOUBLE) AS bal_total
    FROM customer
    GROUP BY c_mktsegment
    """,
    tags=("source", "sink", "json", "ndjson"),
)
def json_scan_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    path = _sink_dir(sf_dir, "customer_json")
    (
        table(spark, sf_dir, "customer")
        .select(
            "c_custkey",
            "c_mktsegment",
            F.col("c_acctbal").cast("decimal(12,2)").alias("c_acctbal"),
        )
        .write.mode("overwrite")
        .json(path)
    )
    back = spark.read.schema(
        "c_custkey bigint, c_mktsegment string, c_acctbal decimal(12,2)"
    ).json(path)
    return back.groupBy("c_mktsegment").agg(
        F.count("*").alias("cnt"),
        F.sum("c_acctbal").cast("double").alias("bal_total"),
    )


# --- Arrow IPC: pyarrow writer → pandas → createDataFrame ------------------
@register(
    "arrow_ipc_scan",
    oracle="""
    SELECT s_nationkey, COUNT(*) AS suppliers,
           CAST(SUM(CAST(s_acctbal AS DECIMAL(12,2))) AS DOUBLE) AS bal
    FROM supplier GROUP BY s_nationkey
    """,
    tags=("source", "arrow-ipc"),
)
def arrow_ipc_scan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Arrow IPC file scan. Spark has no native IPC reader (SURVEY §2.1) —
    the file is decoded driver-side with pyarrow and parallelized via
    createDataFrame (Arrow-accelerated). Fine for dimension-sized data;
    a 100 TB deployment would convert IPC → parquet upstream instead."""
    import pyarrow as pa
    import pyarrow.ipc
    import pyarrow.parquet as pq

    root = _sink_dir(sf_dir, "supplier_ipc")
    os.makedirs(root, exist_ok=True)
    ipc_path = f"{root}/supplier.arrow"
    tbl = pq.read_table(f"{sf_dir}/supplier.parquet")
    with pa.ipc.new_file(ipc_path, tbl.schema) as w:
        w.write_table(tbl)
    with pa.ipc.open_file(ipc_path) as r:
        pdf = r.read_all().to_pandas()
    df = spark.createDataFrame(pdf)
    return df.groupBy("s_nationkey").agg(
        F.count("*").alias("suppliers"),
        F.sum(F.col("s_acctbal").cast("decimal(12,2)")).cast("double").alias("bal"),
    )


# --- Avro scan: container-file roundtrip through the pure-Python shim ------
@register(
    "avro_scan_roundtrip",
    oracle="""
    SELECT p_brand,
           COUNT(*) AS parts,
           CAST(SUM(CAST(p_retailprice AS DECIMAL(12,2))) AS DOUBLE) AS retail,
           MIN(p_name) AS first_part
    FROM part
    GROUP BY p_brand
    """,
    tags=("source", "sink", "avro"),
)
def avro_scan_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Avro scan (reference datasource-avro/src/file_format.rs:90): the
    part table is written to an Avro Object Container File and read back
    through `sources.avro_io` (pure-Python Avro 1.11 encoding — no
    spark-avro jar / fastavro offline), then aggregated; the oracle runs
    on the ORIGINAL parquet so the hash-match proves the roundtrip was
    lossless. Driver-side like the Arrow-IPC shim; a cluster deployment
    would swap in the spark-avro datasource with the query unchanged."""
    import pyarrow.parquet as pq

    from datafusion_umami_spark.sources.avro_io import read_avro, write_avro

    root = _sink_dir(sf_dir, "part_avro")
    os.makedirs(root, exist_ok=True)
    path = f"{root}/part.avro"
    cols = ["p_partkey", "p_name", "p_brand", "p_retailprice"]
    tbl = pq.read_table(f"{sf_dir}/part.parquet", columns=cols)
    write_avro(
        path,
        [
            ("p_partkey", "long"),
            ("p_name", "string"),
            ("p_brand", "string"),
            ("p_retailprice", "double"),
        ],
        zip(*[tbl.column(c).to_pylist() for c in cols]),
    )
    _, rows = read_avro(path)
    df = spark.createDataFrame(
        rows, "p_partkey long, p_name string, p_brand string, p_retailprice double"
    )
    return df.groupBy("p_brand").agg(
        F.count("*").alias("parts"),
        F.sum(F.col("p_retailprice").cast("decimal(12,2)")).cast("double").alias("retail"),
        F.min("p_name").alias("first_part"),
    )


# --- Parquet sink: COPY-TO analog — write a query result, read it back -----
@register(
    "parquet_sink_roundtrip",
    oracle="""
    SELECT n_name,
           CAST(SUM(CAST(l_extendedprice AS DECIMAL(12,2))
                    * (CAST(1 AS DECIMAL(12,2)) - CAST(l_discount AS DECIMAL(12,2)))) AS DOUBLE)
             AS revenue
    FROM lineitem
    JOIN orders   ON l_orderkey = o_orderkey
    JOIN customer ON o_custkey = c_custkey
    JOIN nation   ON c_nationkey = n_nationkey
    GROUP BY n_name
    """,
    tags=("sink", "parquet", "copy-to"),
)
def parquet_sink_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    path = _sink_dir(sf_dir, "revenue_parquet")
    revenue = (
        table(spark, sf_dir, "lineitem")
        .join(table(spark, sf_dir, "orders"), F.col("l_orderkey") == F.col("o_orderkey"))
        .join(table(spark, sf_dir, "customer"), F.col("o_custkey") == F.col("c_custkey"))
        .join(
            F.broadcast(table(spark, sf_dir, "nation")),
            F.col("c_nationkey") == F.col("n_nationkey"),
        )
        .groupBy("n_name")
        .agg(
            F.sum(
                F.col("l_extendedprice").cast("decimal(12,2)")
                * (F.lit(1).cast("decimal(12,2)") - F.col("l_discount").cast("decimal(12,2)"))
            )
            .cast("double")
            .alias("revenue")
        )
    )
    revenue.write.mode("overwrite").parquet(path)
    return spark.read.parquet(path)


# --- Hive-partitioned write + partition-pruned scan (ListingTable parity) --
@register(
    "partitioned_write_pruned_scan",
    oracle="""
    SELECT l_linestatus,
           COUNT(*) AS cnt,
           CAST(SUM(CAST(l_quantity AS DECIMAL(12,2))) AS DOUBLE) AS qty
    FROM lineitem
    WHERE l_returnflag = 'R'
    GROUP BY l_linestatus
    """,
    tags=("source", "sink", "partitioning", "partition-pruning", "listing-table"),
)
def partitioned_write_pruned_scan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hive-style partitioned directory layout (reference ListingTable,
    core/src/datasource/listing/table.rs:922): write lineitem partitioned
    by l_returnflag, read the directory back, filter on the partition
    column.  Catalyst prunes to the single `l_returnflag=R/` subtree —
    at 100 TB this is the difference between scanning one partition and
    the whole table (PartitionFilters in the scan node)."""
    path = _sink_dir(sf_dir, "lineitem_by_flag")
    (
        table(spark, sf_dir, "lineitem")
        .select(
            "l_orderkey",
            "l_linenumber",
            "l_returnflag",
            "l_linestatus",
            F.col("l_quantity").cast("decimal(12,2)").alias("l_quantity"),
        )
        .write.mode("overwrite")
        .partitionBy("l_returnflag")
        .parquet(path)
    )
    back = spark.read.parquet(path)
    return (
        back.filter(F.col("l_returnflag") == "R")
        .groupBy("l_linestatus")
        .agg(
            F.count("*").alias("cnt"),
            F.sum("l_quantity").cast("double").alias("qty"),
        )
    )


# --- INSERT INTO a catalog table (DataSinkExec parity) ----------------------
@register(
    "insert_into_table",
    oracle="""
    SELECT src, COUNT(*) AS cnt, CAST(SUM(CAST(o_totalprice AS DECIMAL(12,2))) AS DOUBLE) AS total
    FROM (
      SELECT 'lo' AS src, o_totalprice FROM orders WHERE o_orderkey % 10 = 0
      UNION ALL
      SELECT 'hi' AS src, o_totalprice FROM orders WHERE o_orderkey % 10 = 1
    )
    GROUP BY src
    """,
    tags=("sink", "insert-into", "ddl"),
)
def insert_into_table(spark: SparkSession, sf_dir: str) -> DataFrame:
    """INSERT INTO … SELECT against an external parquet table: first an
    INSERT OVERWRITE (idempotent seed), then an appending INSERT INTO —
    the two write modes of the reference's DataSinkExec
    (datasource/src/sink.rs:48,83)."""
    path = _sink_dir(sf_dir, "orders_slices_tbl")
    spark.sql("DROP TABLE IF EXISTS orders_slices")
    shutil.rmtree(path, ignore_errors=True)
    spark.sql(
        "CREATE TABLE orders_slices (src STRING, o_totalprice DECIMAL(12,2)) "
        f"USING PARQUET LOCATION '{path}'"
    )
    orders = table(spark, sf_dir, "orders").select(
        "o_orderkey", F.col("o_totalprice").cast("decimal(12,2)").alias("o_totalprice")
    )
    orders.createOrReplaceTempView("_orders_src")
    spark.sql(
        "INSERT OVERWRITE orders_slices "
        "SELECT 'lo', o_totalprice FROM _orders_src WHERE o_orderkey % 10 = 0"
    )
    spark.sql(
        "INSERT INTO orders_slices "
        "SELECT 'hi', o_totalprice FROM _orders_src WHERE o_orderkey % 10 = 1"
    )
    return spark.sql(
        "SELECT src, COUNT(*) AS cnt, CAST(SUM(o_totalprice) AS DOUBLE) AS total "
        "FROM orders_slices GROUP BY src"
    )


# --- CTAS temp view (CREATE VIEW / MemTable parity) -------------------------
@register(
    "ctas_temp_view",
    oracle="""
    WITH top_parts AS (
      SELECT l_partkey, COUNT(*) AS uses
      FROM lineitem GROUP BY l_partkey HAVING COUNT(*) >= 2
    )
    SELECT p_brand, COUNT(*) AS n_parts, CAST(SUM(uses) AS BIGINT) AS total_uses
    FROM top_parts JOIN part ON l_partkey = p_partkey
    GROUP BY p_brand
    """,
    tags=("ddl", "view", "ctas"),
)
def ctas_temp_view(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CREATE OR REPLACE TEMP VIEW AS SELECT — the reference's ViewTable
    (catalog/src/view.rs:36) / MemTable CTAS path."""
    from datafusion_umami_spark.tables import register_views

    register_views(spark, sf_dir)
    spark.sql(
        "CREATE OR REPLACE TEMP VIEW top_parts AS "
        "SELECT l_partkey, COUNT(*) AS uses FROM lineitem "
        "GROUP BY l_partkey HAVING COUNT(*) >= 2"
    )
    return spark.sql(
        "SELECT p_brand, COUNT(*) AS n_parts, CAST(SUM(uses) AS BIGINT) AS total_uses "
        "FROM top_parts JOIN part ON l_partkey = p_partkey GROUP BY p_brand"
    )


# --- dynamic partition overwrite (INSERT OVERWRITE one partition) -----------
@register(
    "dynamic_partition_overwrite",
    oracle="""
    SELECT o_orderstatus,
           COUNT(*) AS cnt,
           CAST(SUM(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT) AS cents
    FROM (
      SELECT o_orderstatus, o_totalprice * 2 AS o_totalprice
      FROM orders WHERE o_orderstatus = 'F'
      UNION ALL
      SELECT o_orderstatus, o_totalprice
      FROM orders WHERE o_orderstatus <> 'F')
    GROUP BY o_orderstatus
    """,
    tags=("sink", "partitioning", "insert-overwrite", "dynamic-overwrite"),
)
def dynamic_partition_overwrite(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dynamic partition overwrite: rewrite ONE hive partition in place
    while sibling partitions stay intact (partitionOverwriteMode=dynamic
    — the INSERT OVERWRITE ... PARTITION behavior a warehouse needs; the
    static default would wipe the whole table). The 'F' partition is
    rewritten with doubled prices, then the whole table is re-read: the
    oracle shows doubled cents for 'F' and untouched values elsewhere."""
    path = _sink_dir(sf_dir, "orders_by_status")
    o = table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_totalprice", "o_orderstatus"
    )
    o.write.mode("overwrite").partitionBy("o_orderstatus").parquet(path)
    saved = spark.conf.get("spark.sql.sources.partitionOverwriteMode", "static")
    spark.conf.set("spark.sql.sources.partitionOverwriteMode", "dynamic")
    try:
        (
            o.filter(F.col("o_orderstatus") == "F")
            .withColumn("o_totalprice", F.col("o_totalprice") * 2)
            .write.mode("overwrite")
            .partitionBy("o_orderstatus")
            .parquet(path)
        )
    finally:
        spark.conf.set("spark.sql.sources.partitionOverwriteMode", saved)
    back = spark.read.parquet(path)
    return back.groupBy("o_orderstatus").agg(
        F.count("*").alias("cnt"),
        F.sum(F.round(F.col("o_totalprice") * 100).cast("bigint")).alias("cents"),
    )


# --- CSV corrupt-record handling modes --------------------------------------
@register(
    "csv_malformed_modes",
    oracle="""
    SELECT 'permissive' AS mode, CAST(3 AS BIGINT) AS n_rows,
           CAST(1 AS BIGINT) AS n_corrupt
    UNION ALL
    SELECT 'dropmalformed', CAST(2 AS BIGINT), CAST(0 AS BIGINT)
    """,
    tags=("source", "csv", "malformed", "error-handling"),
)
def csv_malformed_modes(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CSV reader error-handling modes (reference csv scan rejects or
    null-fills bad rows; Spark: PERMISSIVE captures the raw line in
    _corrupt_record, DROPMALFORMED discards it). A fixture with one
    malformed row is read under both modes; counts are the contract."""
    root = _sink_dir(sf_dir, "csv_malformed")
    os.makedirs(root, exist_ok=True)
    p = f"{root}/bad.csv"
    with open(p, "w") as f:
        f.write("1,alpha,10.5\n2,beta,not_a_number\n3,gamma,7.25\n")
    schema = "id INT, name STRING, score DOUBLE, _corrupt_record STRING"
    perm = (
        spark.read.schema(schema)
        .option("mode", "PERMISSIVE")
        .option("columnNameOfCorruptRecord", "_corrupt_record")
        .csv(p)
        .cache()
    )
    n_perm = perm.count()
    n_corrupt = perm.filter(F.col("_corrupt_record").isNotNull()).count()
    perm.unpersist()  # both counts taken; don't leak a session cache entry
    drop = (
        spark.read.schema("id INT, name STRING, score DOUBLE")
        .option("mode", "DROPMALFORMED")
        .csv(p)
    )
    # collect() forces every column to parse; a bare count() would prune
    # all columns, skip type conversion, and never detect the bad row.
    # limit() bounds the driver transfer: the demo file is 3 rows, so a
    # misconfigured path can't flood the driver
    n_drop = len(drop.limit(1000).collect())
    return spark.createDataFrame(
        [("permissive", n_perm, n_corrupt), ("dropmalformed", n_drop, 0)],
        "mode string, n_rows long, n_corrupt long",
    )


# --- ORC: write → typed read → aggregate ------------------------------------
@register(
    "orc_scan_roundtrip",
    oracle="""
    SELECT l_returnflag,
           COUNT(*) AS cnt,
           CAST(SUM(CAST(l_quantity AS BIGINT)) AS BIGINT) AS qty,
           CAST(SUM(CAST(round(l_extendedprice * 100) AS BIGINT)) AS BIGINT)
               AS price_cents
    FROM lineitem
    GROUP BY l_returnflag
    ORDER BY l_returnflag
    """,
    tags=("source", "sink", "orc"),
)
def orc_scan_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ORC write→read roundtrip — a columnar format Spark supports
    natively that the reference lacks entirely (its datasource crates
    cover parquet/csv/json/avro/arrow only): capability-superset
    evidence, and the second-most-common lake format at 100 TB.
    Predicate pushdown and column pruning work through the ORC reader
    exactly as for parquet."""
    path = _sink_dir(sf_dir, "lineitem_orc")
    (
        table(spark, sf_dir, "lineitem")
        .select("l_orderkey", "l_returnflag", "l_quantity", "l_extendedprice")
        .write.mode("overwrite")
        .orc(path)
    )
    back = spark.read.orc(path)
    return (
        back.groupBy("l_returnflag")
        .agg(
            F.count("*").alias("cnt"),
            F.sum(F.col("l_quantity").cast("bigint")).alias("qty"),
            F.sum(F.round(F.col("l_extendedprice") * 100).cast("bigint")).alias(
                "price_cents"
            ),
        )
        .orderBy("l_returnflag")
    )


# --- CSV dialect torture: custom delimiter, quotes, embedded specials ------
@register(
    "csv_custom_delim_quote",
    # The oracle rebuilds the same decorated strings directly — if any
    # write/read option (sep, quote, escape, nullValue) mangled a value
    # with embedded delimiters/quotes/newlines, the min-string or count
    # diverges.
    oracle="""
    SELECT c_mktsegment,
           COUNT(*) AS cnt,
           MIN(concat(c_name, '|tricky, "quoted" value')) AS first_decorated,
           CAST(SUM(CASE WHEN c_acctbal < 0 THEN 1 ELSE 0 END) AS BIGINT)
             AS n_null_bal
    FROM customer
    GROUP BY c_mktsegment
    ORDER BY c_mktsegment
    """,
    tags=("source", "sink", "csv", "dialect"),
)
def csv_custom_delim_quote(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Reference CSV options parity (datasource-csv/src/file_format.rs:
    delimiter/quote/escape/null handling): pipe-delimited files whose
    values embed the delimiter, commas and double quotes, plus a custom
    nullValue token — written and read back with the same dialect.
    Negative balances are nulled on write (nullValue '\\\\N') and
    counted after the roundtrip, proving null tokens survive."""
    path = _sink_dir(sf_dir, "customer_dialect_csv")
    src = table(spark, sf_dir, "customer").select(
        "c_custkey",
        F.concat(F.col("c_name"), F.lit('|tricky, "quoted" value')).alias(
            "decorated"
        ),
        "c_mktsegment",
        F.when(F.col("c_acctbal") < 0, None)
        .otherwise(F.col("c_acctbal").cast("decimal(12,2)"))
        .alias("bal_or_null"),
    )
    (
        src.write.mode("overwrite")
        .option("header", True)
        .option("sep", "|")
        .option("quote", '"')
        .option("escape", '"')
        .option("nullValue", "\\N")
        .csv(path)
    )
    back = (
        spark.read.schema(
            "c_custkey bigint, decorated string, c_mktsegment string, "
            "bal_or_null decimal(12,2)"
        )
        .option("header", True)
        .option("sep", "|")
        .option("quote", '"')
        .option("escape", '"')
        .option("nullValue", "\\N")
        .csv(path)
    )
    return (
        back.groupBy("c_mktsegment")
        .agg(
            F.count("*").alias("cnt"),
            F.min("decorated").alias("first_decorated"),
            F.sum(
                F.when(F.col("bal_or_null").isNull(), 1).otherwise(0)
            ).cast("bigint").alias("n_null_bal"),
        )
        .orderBy("c_mktsegment")
    )


# --- parquet compression codecs round-trip ---------------------------------
@register(
    "parquet_codec_roundtrip",
    oracle="""
    SELECT l_returnflag,
           CAST(COUNT(*) AS BIGINT) AS cnt,
           CAST(SUM(CAST(round(l_extendedprice * 100) AS BIGINT)) AS BIGINT)
             AS price_cents
    FROM lineitem
    GROUP BY l_returnflag
    ORDER BY l_returnflag
    """,
    tags=("source", "sink", "parquet", "codec"),
)
def parquet_codec_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Codec coverage (reference datasource-parquet compression options):
    the same slice written with zstd AND snappy, read back and unioned —
    identical aggregates prove codec choice never alters data.  At
    100 TB codec selection is a real throughput/size lever (zstd for
    cold storage, snappy/lz4 for hot shuffle-adjacent tables); this
    pins the invariant that it is ONLY a lever, never a semantic."""
    # cents are computed BEFORE the write with the oracle's exact
    # formula (round(x*100) -> BIGINT), so the two texts share one
    # algorithm (r13 review: the old decimal-cast-then-multiply path
    # was a REFORMULATED oracle — CLAUDE.md requires a pin for those —
    # and decimal rounding of x can differ from round(fl(x*100)) on
    # >2dp inputs).  The decimal column is still written and compared
    # across codecs so decimal page encoding stays covered.
    src = table(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_linenumber", "l_returnflag",
        F.col("l_extendedprice").cast("decimal(12,2)").alias("price"),
        F.round(F.col("l_extendedprice") * 100).cast("bigint").alias(
            "price_cents_raw"
        ),
    )
    paths = {}
    for codec in ("zstd", "snappy"):
        p = _sink_dir(sf_dir, f"lineitem_{codec}")
        src.write.mode("overwrite").option("compression", codec).parquet(p)
        paths[codec] = p
    z = spark.read.parquet(paths["zstd"])
    sn = spark.read.parquet(paths["snappy"])
    agg = lambda df: df.groupBy("l_returnflag").agg(  # noqa: E731
        F.count("*").alias("cnt"),
        F.sum("price_cents_raw").cast("bigint").alias("price_cents"),
        F.sum("price").alias("dec_sum"),  # decimal fidelity, check-only
    )
    # collected-set comparison, not an inner join (r13 review): a join
    # on l_returnflag silently DROPS a flag group one codec lost — the
    # exact data-loss class this spec exists to catch; and an explicit
    # raise, not `assert`, so `python -O` cannot strip the check.  The
    # per-flag aggregate is a handful of rows, and rebuilding the
    # returned frame from them avoids re-executing the zstd scan when
    # the harness collects the result.
    za_rows = sorted(agg(z).collect(), key=lambda r: r.l_returnflag)
    sa_rows = sorted(agg(sn).collect(), key=lambda r: r.l_returnflag)
    if za_rows != sa_rows:
        raise AssertionError(
            f"codec changed data: zstd={za_rows} snappy={sa_rows}"
        )
    return spark.createDataFrame(
        [(r.l_returnflag, r.cnt, r.price_cents) for r in za_rows],
        "l_returnflag string, cnt bigint, price_cents bigint",
    )
