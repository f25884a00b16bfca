"""Core parity queries over the driver's star-schema tables.

Each query re-expresses a SURVEY.md §2 operator (reference file:line in
each docstring) against /root/testdata tables, and pairs with a DuckDB
oracle. Aggregated doubles follow the decimal-sum stability convention
(see blspark.catalog).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from blspark.catalog import (
    davg,
    dstd,
    dsum,
    load_table,
    o_davg,
    o_dstd,
    o_dsum,
    register,
)
from blspark.clean import drop_null_rows

# --------------------------------------------------------------------------
# Q1 analog — global mean + SAMPLE stddev over a range-filtered slice
# (reference report_processor.py:99-116; operators A1 A2 A3 P6 P8).
# --------------------------------------------------------------------------


@register(
    "q1_population_stats",
    oracle=f"""
    SELECT {o_davg('o_totalprice')} AS mean_value,
           {o_dstd('o_totalprice')} AS stddev_value,
           COUNT(o_totalprice) AS n_rows
    FROM orders
    WHERE o_orderdate >= TIMESTAMP '1995-01-01'
      AND o_orderdate < TIMESTAMP '1998-01-01'
      AND o_totalprice IS NOT NULL
    """,
    doc="Q1: mean + sample stddev (ddof=1) over a year-range slice. "
    "Ref report_processor.py:99-116 (A1/A2/A3/P6/P8). The year range "
    "is written as sargable timestamp bounds, NOT year(col) BETWEEN: "
    "a function over the column defeats parquet predicate pushdown "
    "(only IsNotNull reached the scan), while the range form pushes "
    "down and prunes row groups by min/max — the difference between "
    "scanning 3 years and scanning everything at 100 TB.",
    bench=True,
)
def q1_population_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load_table(spark, sf_dir, "orders")
    filtered = orders.filter(
        (F.col("o_orderdate") >= F.lit("1995-01-01").cast("timestamp"))
        & (F.col("o_orderdate") < F.lit("1998-01-01").cast("timestamp"))
        & F.col("o_totalprice").isNotNull()
    )
    return filtered.agg(
        davg("o_totalprice").alias("mean_value"),
        dstd("o_totalprice").alias("stddev_value"),
        F.count("o_totalprice").alias("n_rows"),
    )


# --------------------------------------------------------------------------
# Q2 analog (FLAGSHIP) — best year per series: grouped sum + per-group
# argmax with earliest-year tie-break
# (reference report_processor.py:158-169; operators A5 A6 O1 P8).
# --------------------------------------------------------------------------

Q2_ORACLE = f"""
WITH yearly AS (
  SELECT l_suppkey AS series_key,
         CAST(EXTRACT(year FROM l_shipdate) AS INT) AS year,
         {o_dsum('l_extendedprice')} AS total_value
  FROM lineitem
  WHERE l_suppkey IS NOT NULL AND l_shipdate IS NOT NULL
    AND l_extendedprice IS NOT NULL
  GROUP BY 1, 2
)
SELECT series_key, year, total_value FROM (
  SELECT *, ROW_NUMBER() OVER (
      PARTITION BY series_key ORDER BY total_value DESC, year ASC) AS rn
  FROM yearly
) t WHERE rn = 1
ORDER BY series_key
"""


@register(
    "q2_best_year",
    oracle=Q2_ORACLE,
    doc="Q2 flagship: per-series best year by summed value, ties -> "
    "earliest year (pandas idxmax parity). Ref report_processor.py:158-169 "
    "(A5/A6/O1). Two partial-aggregatable hash aggs — (series, year) sum, "
    "then per-series argmax via max(struct(value, -year)) — no window "
    "sort, no skew sensitivity to large series (3.4x the window plan).",
    bench=True,
)
def q2_best_year(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    yearly = (
        li.filter(
            F.col("l_suppkey").isNotNull()
            & F.col("l_shipdate").isNotNull()
            & F.col("l_extendedprice").isNotNull()
        )
        .select(
            F.col("l_suppkey").alias("series_key"),
            F.year("l_shipdate").alias("year"),
            F.col("l_extendedprice"),
        )
        .groupBy("series_key", "year")
        .agg(dsum("l_extendedprice").alias("total_value"))
    )
    # argmax by (total_value DESC, year ASC) == max of (total_value, -year):
    # struct max compares fields lexicographically, so ties on value fall
    # through to max(-year) = earliest year (pandas idxmax parity).
    best = F.max(F.struct(F.col("total_value"), (-F.col("year")).alias("ny")))
    return (
        yearly.groupBy("series_key")
        .agg(best.alias("b"))
        .select(
            "series_key",
            (-F.col("b.ny")).cast("int").alias("year"),
            F.col("b.total_value").alias("total_value"),
        )
        .orderBy("series_key")
    )


# --------------------------------------------------------------------------
# Q3 analog — filtered fact slice LEFT JOIN small per-year dim; unmatched
# years keep nulls; dim side broadcast
# (reference report_processor.py:204-251; operators J1 P5 P7 O2).
# --------------------------------------------------------------------------


@register(
    "q3_combined_report",
    oracle=f"""
    WITH slice AS (
      SELECT l_orderkey, l_linenumber,
             CAST(EXTRACT(year FROM l_shipdate) AS INT) AS year,
             l_extendedprice AS value
      FROM lineitem
      WHERE TRIM(l_returnflag) = 'R' AND TRIM(l_linestatus) = 'F'
    ), pop AS (
      SELECT CAST(EXTRACT(year FROM o_orderdate) AS INT) AS year,
             {o_dsum('o_totalprice')} AS population
      FROM orders
      WHERE EXTRACT(year FROM o_orderdate) <= 1998
      GROUP BY 1
    )
    SELECT s.l_orderkey, s.l_linenumber, s.year, s.value, p.population
    FROM slice s LEFT JOIN pop p USING (year)
    """,
    doc="Q3: equality-conjunction slice (trim inside predicate) LEFT JOIN "
    "a tiny per-year dim; unmatched years -> null. Ref "
    "report_processor.py:204-251 (J1/P5/P7). Dim is broadcast: fact side "
    "never shuffles.",
    bench=True,
)
def q3_combined_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    orders = load_table(spark, sf_dir, "orders")
    slice_df = li.filter(
        (F.trim("l_returnflag") == "R") & (F.trim("l_linestatus") == "F")
    ).select(
        "l_orderkey",
        "l_linenumber",
        F.year("l_shipdate").alias("year"),
        F.col("l_extendedprice").alias("value"),
    )
    pop = (
        orders.filter(F.year("o_orderdate") <= 1998)
        .groupBy(F.year("o_orderdate").alias("year"))
        .agg(dsum("o_totalprice").alias("population"))
    )
    return slice_df.join(F.broadcast(pop), on="year", how="left").select(
        "l_orderkey", "l_linenumber", "year", "value", "population"
    )


@register(
    "q_orders_left_join_customer",
    oracle="""
    SELECT o.o_orderkey, o.o_totalprice, c.c_name, c.c_mktsegment
    FROM orders o
    LEFT JOIN (SELECT * FROM customer WHERE c_mktsegment = 'BUILDING') c
      ON o.o_custkey = c.c_custkey
    WHERE o.o_orderpriority = '1-URGENT'
    """,
    doc="Broadcast LEFT equi-join preserving unmatched left rows (J1). "
    "Ref report_processor.py:239-243.",
)
def q_orders_left_join_customer(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load_table(spark, sf_dir, "orders")
    cust = load_table(spark, sf_dir, "customer").filter(
        F.col("c_mktsegment") == "BUILDING"
    )
    return (
        orders.filter(F.col("o_orderpriority") == "1-URGENT")
        .join(F.broadcast(cust), orders.o_custkey == cust.c_custkey, "left")
        .select("o_orderkey", "o_totalprice", "c_name", "c_mktsegment")
    )


# --------------------------------------------------------------------------
# Grouped aggregation sweep — TPC-H Q1 shape (A5 + derived expressions).
# --------------------------------------------------------------------------


@register(
    "q_grouped_agg_pricing",
    oracle=f"""
    SELECT l_returnflag, l_linestatus,
           {o_dsum('l_quantity')} AS sum_qty,
           {o_dsum('l_extendedprice')} AS sum_base_price,
           {o_dsum('l_extendedprice * (1 - l_discount)')} AS sum_disc_price,
           {o_davg('l_quantity')} AS avg_qty,
           COUNT(*) AS count_order
    FROM lineitem
    WHERE l_shipdate <= TIMESTAMP '1998-09-02 00:00:00'
    GROUP BY l_returnflag, l_linestatus
    ORDER BY l_returnflag, l_linestatus
    """,
    doc="TPC-H-Q1-shaped grouped aggregation: partial+final hash agg, "
    "map-side combine (A5). Ref report_processor.py:161.",
    bench=True,
)
def q_grouped_agg_pricing(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    return (
        li.filter(F.col("l_shipdate") <= F.lit("1998-09-02").cast("timestamp"))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            dsum("l_quantity").alias("sum_qty"),
            dsum("l_extendedprice").alias("sum_base_price"),
            dsum(F.col("l_extendedprice") * (1 - F.col("l_discount"))).alias(
                "sum_disc_price"
            ),
            davg("l_quantity").alias("avg_qty"),
            F.count("*").alias("count_order"),
        )
        .orderBy("l_returnflag", "l_linestatus")
    )


# --------------------------------------------------------------------------
# Filters / projections / casts (P1 P4 P6 P9, F7).
# --------------------------------------------------------------------------


@register(
    "q_filter_range_projection",
    oracle="""
    SELECT l_orderkey, l_linenumber, l_quantity, l_extendedprice
    FROM lineitem
    WHERE l_quantity BETWEEN 10 AND 20
      AND l_shipdate BETWEEN TIMESTAMP '1996-01-01' AND TIMESTAMP '1996-12-31'
    """,
    doc="Range predicate + column projection; both push into the parquet "
    "scan (P1/P6). Ref report_processor.py:100-103,158.",
)
def q_filter_range_projection(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    return li.filter(
        F.col("l_quantity").between(10, 20)
        & F.col("l_shipdate").between(
            F.lit("1996-01-01").cast("timestamp"), F.lit("1996-12-31").cast("timestamp")
        )
    ).select("l_orderkey", "l_linenumber", "l_quantity", "l_extendedprice")


@register(
    "q_filter_string_predicates",
    oracle="""
    SELECT p_partkey, p_name, p_brand, p_type
    FROM part
    WHERE (p_name LIKE 'red %' OR contains(p_name, 'widget'))
      AND p_type LIKE '%ECONOMY%'
    """,
    doc="startswith/contains/endswith key filters (P9/F3). Ref "
    "report_processor.py:61,66,307.",
)
def q_filter_string_predicates(spark: SparkSession, sf_dir: str) -> DataFrame:
    part = load_table(spark, sf_dir, "part")
    return part.filter(
        (F.col("p_name").startswith("red ") | F.col("p_name").contains("widget"))
        & F.col("p_type").contains("ECONOMY")
    ).select("p_partkey", "p_name", "p_brand", "p_type")


@register(
    "q_project_cast_json",
    oracle="""
    SELECT event_id,
           TRY_CAST(json_extract_string(props, '$.k') AS BIGINT) AS k_value,
           TRY_CAST(event_type AS DOUBLE) AS coerced_type,
           CAST(EXTRACT(year FROM ts) AS INT) AS ts_year
    FROM events
    """,
    doc="JSON field extraction (F7) + null-on-bad-input numeric coercion "
    "(P4, pd.to_numeric errors='coerce' parity) + int cast (P5). Ref "
    "report_processor.py:39, notebook 419d6a47.",
)
def q_project_cast_json(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    return ev.select(
        "event_id",
        F.get_json_object("props", "$.k").try_cast("bigint").alias("k_value"),
        F.col("event_type").try_cast("double").alias("coerced_type"),
        F.year("ts").cast("int").alias("ts_year"),
    )


@register(
    "q_null_drop",
    oracle="""
    SELECT event_id, user_id, value,
           TRY_CAST(json_extract_string(props, '$.missing') AS DOUBLE) AS m
    FROM events
    WHERE event_id IS NOT NULL AND user_id IS NOT NULL AND value IS NOT NULL
      AND TRY_CAST(json_extract_string(props, '$.missing') AS DOUBLE) IS NOT NULL
    """,
    doc="dropna over a projected subset (P8) — rows with any null in the "
    "subset are removed (here the coerced column is always null, so the "
    "result is empty: the oracle verifies empty-set parity). Ref "
    "report_processor.py:158.",
)
def q_null_drop(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    projected = ev.select(
        "event_id",
        "user_id",
        "value",
        F.get_json_object("props", "$.missing").try_cast("double").alias("m"),
    )
    return drop_null_rows(projected, ["event_id", "user_id", "value", "m"])


# --------------------------------------------------------------------------
# Distinct / max-key / sort-limit (A4 A7 O1-O5, S10).
# --------------------------------------------------------------------------


@register(
    "q_distinct_sorted",
    oracle="""
    SELECT DISTINCT CAST(EXTRACT(year FROM o_orderdate) AS INT) AS year
    FROM orders ORDER BY year
    """,
    doc="Sorted distinct values (A4). Ref report_processor.py:121.",
)
def q_distinct_sorted(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load_table(spark, sf_dir, "orders")
    return (
        orders.select(F.year("o_orderdate").cast("int").alias("year"))
        .distinct()
        .orderBy("year")
    )


@register(
    "q_newest_key",
    oracle="""
    SELECT MAX(source) AS newest_key
    FROM documents
    WHERE source LIKE 'src1%'
    """,
    doc="Newest-file selection: lexicographic max over prefix-filtered "
    "keys (S10/A7/O5). Ref report_processor.py:66-67.",
)
def q_newest_key(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    return docs.filter(F.col("source").startswith("src1")).agg(
        F.max("source").alias("newest_key")
    )


@register(
    "q_topk_orders",
    oracle="""
    SELECT o_orderkey, o_totalprice, o_orderpriority
    FROM orders
    ORDER BY o_totalprice DESC, o_orderkey ASC
    LIMIT 10
    """,
    doc="Global top-k by sort + limit (O4/O5): Spark TakeOrderedAndProject "
    "— no full sort at scale. Deterministic tie-break on key.",
)
def q_topk_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load_table(spark, sf_dir, "orders")
    return (
        orders.orderBy(F.desc("o_totalprice"), F.asc("o_orderkey"))
        .select("o_orderkey", "o_totalprice", "o_orderpriority")
        .limit(10)
    )


# --------------------------------------------------------------------------
# Anti/semi joins + set ops (J2 J4, §2.7).
# --------------------------------------------------------------------------


@register(
    "q_join_anti",
    oracle="""
    SELECT c_custkey, c_name
    FROM customer c
    WHERE NOT EXISTS (
      SELECT 1 FROM orders o
      WHERE o.o_custkey = c.c_custkey AND o.o_orderpriority = '1-URGENT'
    )
    """,
    doc="Left anti join — 'files on remote but not in S3' sync "
    "classification (J2). Ref sync_and_fetch.py:155-164.",
)
def q_join_anti(spark: SparkSession, sf_dir: str) -> DataFrame:
    cust = load_table(spark, sf_dir, "customer")
    urgent = load_table(spark, sf_dir, "orders").filter(
        F.col("o_orderpriority") == "1-URGENT"
    )
    return cust.join(
        urgent, cust.c_custkey == urgent.o_custkey, "left_anti"
    ).select("c_custkey", "c_name")


@register(
    "q_join_semi",
    oracle="""
    SELECT c_custkey, c_name
    FROM customer c
    WHERE EXISTS (
      SELECT 1 FROM orders o
      WHERE o.o_custkey = c.c_custkey AND o.o_totalprice > 400000
    )
    """,
    doc="Left semi join (EXISTS) — membership without duplication.",
)
def q_join_semi(spark: SparkSession, sf_dir: str) -> DataFrame:
    cust = load_table(spark, sf_dir, "customer")
    big = load_table(spark, sf_dir, "orders").filter(F.col("o_totalprice") > 400000)
    return cust.join(big, cust.c_custkey == big.o_custkey, "left_semi").select(
        "c_custkey", "c_name"
    )


@register(
    "q_set_except",
    oracle="""
    SELECT c_custkey FROM customer
    EXCEPT
    SELECT o_custkey AS c_custkey FROM orders WHERE o_orderpriority = '1-URGENT'
    """,
    doc="Set difference — sync delete classification (J4). Ref "
    "sync_and_fetch.py:149-150,185.",
)
def q_set_except(spark: SparkSession, sf_dir: str) -> DataFrame:
    cust = load_table(spark, sf_dir, "customer").select("c_custkey")
    urgent = (
        load_table(spark, sf_dir, "orders")
        .filter(F.col("o_orderpriority") == "1-URGENT")
        .select(F.col("o_custkey").alias("c_custkey"))
    )
    return cust.distinct().exceptAll(urgent.distinct())


@register(
    "q_set_union_intersect",
    oracle="""
    WITH u AS (
      SELECT o_custkey AS k FROM orders WHERE o_orderpriority = '1-URGENT'
      INTERSECT
      SELECT o_custkey AS k FROM orders WHERE o_orderpriority = '2-HIGH'
    )
    SELECT COUNT(*) AS n_both FROM u
    """,
    doc="Intersect of key sets (§2.7 extension; unions/intersects are "
    "free Spark built-ins).",
)
def q_set_union_intersect(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load_table(spark, sf_dir, "orders")
    urgent = orders.filter(F.col("o_orderpriority") == "1-URGENT").select(
        F.col("o_custkey").alias("k")
    )
    high = orders.filter(F.col("o_orderpriority") == "2-HIGH").select(
        F.col("o_custkey").alias("k")
    )
    return urgent.intersect(high).agg(F.count("*").alias("n_both"))


# --------------------------------------------------------------------------
# Scalar function sweep (F1-F8).
# --------------------------------------------------------------------------


@register(
    "q_scalar_string_funcs",
    oracle="""
    SELECT c_custkey,
           LOWER(TRIM(c_name)) AS name_lc,
           CONCAT_WS('/', c_mktsegment, c_name) AS seg_path,
           SUBSTR(c_name, 1, 8) AS name_prefix,
           LENGTH(c_name) AS name_len
    FROM customer
    """,
    doc="trim/lower/concat_ws/substr/length (F1/F2/F5). Ref "
    "report_processor.py:89-90,142; sync_and_fetch.py:154.",
)
def q_scalar_string_funcs(spark: SparkSession, sf_dir: str) -> DataFrame:
    cust = load_table(spark, sf_dir, "customer")
    return cust.select(
        "c_custkey",
        F.lower(F.trim("c_name")).alias("name_lc"),
        F.concat_ws("/", "c_mktsegment", "c_name").alias("seg_path"),
        F.substring("c_name", 1, 8).alias("name_prefix"),
        F.length("c_name").alias("name_len"),
    )


@register(
    "q_scalar_md5",
    oracle="SELECT doc_id, md5(text) AS text_md5 FROM documents",
    doc="MD5 hex digest — the sync path's change detector (F4). Ref "
    "sync_and_fetch.py:101-107.",
)
def q_scalar_md5(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    return docs.select("doc_id", F.md5(F.col("text").cast("binary")).alias("text_md5"))


@register(
    "q_scalar_date_format",
    oracle="""
    SELECT o_orderkey, strftime(o_orderdate, '%Y%m%d_%H%M%S') AS stamp
    FROM orders WHERE o_orderkey < 100
    """,
    doc="timestamp -> 'yyyyMMdd_HHmmss' formatting — the reference's "
    "timestamped upload names (F6). Ref sync_and_fetch.py:236.",
)
def q_scalar_date_format(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load_table(spark, sf_dir, "orders")
    return orders.filter(F.col("o_orderkey") < 100).select(
        "o_orderkey",
        F.date_format("o_orderdate", "yyyyMMdd_HHmmss").alias("stamp"),
    )
