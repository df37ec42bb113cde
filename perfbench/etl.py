"""The fact half of the ``batch`` workload — the reference's
computational model: line items of one ship year enriched by three
first-wins broadcast lookups (orders → customer → nation) with
cell-level DQ rules, written by dynamic partition overwrite with its
``_dq`` shadow, and checked against a DuckDB recomputation over the
same input parquet."""

from __future__ import annotations

from pyspark.sql import functions as F
from pyspark.sql import types as T

from perfbench import gen
from perfbench.harness import Run

from sqltask_spark.dq import Category, Priority, Source, dq_issue, with_dq
from sqltask_spark.operators.lookup import lookup_join
from sqltask_spark.table import column

FACT_SCHEMA = T.StructType([
    column("ship_year", T.IntegerType(), primary_key=True),
    column("etl_timestamp", T.TimestampType(), nullable=False),
    column("l_orderkey", T.LongType(), primary_key=True),
    column("l_linenumber", T.IntegerType(), primary_key=True),
    column("l_quantity", T.DoubleType()),
    column("l_discount", T.DoubleType()),
    column("revenue", T.DoubleType()),
    column("o_orderdate", T.DateType()),
    column("o_orderpriority", T.StringType()),
    column("c_custkey", T.LongType()),
    column("c_mktsegment", T.StringType()),
    column("n_name", T.StringType()),
])

#: DQ rule → shadow-table column_name; the DuckDB oracle below mirrors
#: each condition.
DQ_COLUMNS = ("o_orderdate", "c_mktsegment", "n_name", "l_quantity",
              "l_discount")


def fact_output(run: Run, inputs: gen.EtlInputs, year: int):
    """The fact transform for one ship year: line items enriched by
    three first-wins broadcast lookups, with the DQ issue column."""
    spark = run.spark
    with run.span("lookup.join", "lookup"):
        df = spark.read.parquet(inputs.lineitem).filter(
            F.year("l_shipdate") == year)
        orders = spark.read.parquet(inputs.orders).select(
            F.col("o_orderkey").alias("l_orderkey"), "o_custkey",
            "o_orderdate", "o_orderpriority")
        df = lookup_join(df, orders, keys=["l_orderkey"])
        cust = spark.read.parquet(inputs.customer).select(
            F.col("c_custkey").alias("o_custkey"), "c_nationkey",
            "c_mktsegment")
        df = lookup_join(df, cust, keys=["o_custkey"])
        nation = spark.read.parquet(inputs.nation).select(
            F.col("n_nationkey").alias("c_nationkey"), "n_name")
        df = lookup_join(df, nation, keys=["c_nationkey"])
    df = df.withColumn(
        "revenue", F.col("l_extendedprice") * (1 - F.col("l_discount"))
    ).withColumn("c_custkey", F.when(
        F.col("c_mktsegment").isNotNull(), F.col("o_custkey")))
    with run.span("dq.rules", "dq"):
        issues = [
            dq_issue(F.col("o_orderdate").isNull(), "o_orderdate",
                     Category.MISSING, Priority.HIGH, Source.LOOKUP,
                     F.concat(F.lit("order not found: "),
                              F.col("l_orderkey"))),
            dq_issue(F.col("o_orderdate").isNotNull()
                     & F.col("c_mktsegment").isNull(), "c_mktsegment",
                     Category.MISSING, Priority.MEDIUM, Source.LOOKUP,
                     "customer not found"),
            dq_issue(F.col("c_mktsegment").isNotNull()
                     & F.col("n_name").isNull(), "n_name",
                     Category.MISSING, Priority.LOW, Source.LOOKUP,
                     "nation not found"),
            dq_issue(F.col("l_quantity") <= 0, "l_quantity",
                     Category.INCORRECT, Priority.HIGH, Source.SOURCE,
                     "non-positive quantity"),
            dq_issue(F.col("l_discount") > 0.10, "l_discount",
                     Category.INCORRECT, Priority.MEDIUM, Source.SOURCE,
                     "discount above 10%"),
        ]
        return with_dq(df, issues)


def oracle(inputs: gen.EtlInputs) -> dict[int, dict]:
    """DuckDB recomputation of every year's fact rows, revenue sum and
    DQ issue counts from the input parquet (first-wins lookups by file
    row order)."""
    import duckdb

    con = duckdb.connect()
    q = f"""
    WITH o AS (
      SELECT * FROM read_parquet('{inputs.orders}', file_row_number=true)
      QUALIFY row_number() OVER (PARTITION BY o_orderkey
                                 ORDER BY file_row_number) = 1),
    c AS (
      SELECT * FROM read_parquet('{inputs.customer}', file_row_number=true)
      QUALIFY row_number() OVER (PARTITION BY c_custkey
                                 ORDER BY file_row_number) = 1),
    n AS (SELECT * FROM read_parquet('{inputs.nation}')),
    f AS (
      SELECT year(l.l_shipdate) AS y,
             l.l_extendedprice * (1 - l.l_discount) AS revenue,
             o.o_orderdate, c.c_mktsegment, n.n_name,
             l.l_quantity, l.l_discount
      FROM read_parquet('{inputs.lineitem}') l
      LEFT JOIN o ON o.o_orderkey = l.l_orderkey
      LEFT JOIN c ON c.c_custkey = o.o_custkey
      LEFT JOIN n ON n.n_nationkey = c.c_nationkey)
    SELECT y, count(*), sum(revenue),
      count(*) FILTER (WHERE o_orderdate IS NULL),
      count(*) FILTER (WHERE o_orderdate IS NOT NULL
                       AND c_mktsegment IS NULL),
      count(*) FILTER (WHERE c_mktsegment IS NOT NULL AND n_name IS NULL),
      count(*) FILTER (WHERE l_quantity <= 0),
      count(*) FILTER (WHERE l_discount > 0.10)
    FROM f GROUP BY y"""
    out = {}
    for row in con.execute(q).fetchall():
        out[int(row[0])] = {
            "rows": row[1], "revenue": row[2],
            "dq": dict(zip(DQ_COLUMNS, row[3:])),
        }
    con.close()
    return out


def written(out_dir: str) -> dict[int, dict]:
    """The same figures read back (by DuckDB) from what the engine
    wrote."""
    import duckdb

    con = duckdb.connect()
    fact = f"{out_dir}/fact_lineitem/*/*.parquet"
    dq = f"{out_dir}/fact_lineitem_dq/*/*.parquet"
    out: dict[int, dict] = {}
    for y, n, n_keys, rev in con.execute(f"""
        SELECT ship_year, count(*),
               count(DISTINCT (l_orderkey, l_linenumber)), sum(revenue)
        FROM read_parquet('{fact}', hive_partitioning=true)
        GROUP BY ship_year""").fetchall():
        out[int(y)] = {"rows": n, "keys": n_keys, "revenue": rev,
                       "dq": {c: 0 for c in DQ_COLUMNS}}
    for y, col, n in con.execute(f"""
        SELECT ship_year, column_name, count(*)
        FROM read_parquet('{dq}', hive_partitioning=true)
        GROUP BY ship_year, column_name""").fetchall():
        out.setdefault(int(y), {"rows": 0, "keys": 0, "revenue": 0.0,
                                "dq": {c: 0 for c in DQ_COLUMNS}})
        out[int(y)]["dq"][col] = n
    con.close()
    return out
