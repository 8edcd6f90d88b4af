"""Relational operator surface — Q11–Q23 (SURVEY §2.5, all [EXT]).

The reference has **no** relational operators (SURVEY §2.4): no joins,
windows, sorts-as-operator, set ops, distinct, rollup, or scalar function
library. These queries are the north-star extension surface, expressed
purely with Spark built-ins so Catalyst plans them (predicate pushdown,
column pruning, broadcast selection, AQE) with zero custom planner work —
per SURVEY §4.2 "Custom Catalyst work needed: none".

Cross-engine determinism notes (the driver value-hashes against DuckDB):

- Raw column passthrough (doubles, timestamps) is bit-exact in parquet, so
  projections/filters/top-k compare exactly.
- SUM/AVG over doubles is order-dependent; every aggregated money/quantity
  column is cast to DECIMAL **before** aggregation, making the sum exact
  and engine-order-independent.
- AVG is computed as ``CAST(CAST(sum AS DOUBLE)/count AS DECIMAL)`` on both
  sides: identical IEEE division on identical inputs, then identical
  rounding.
- **Terminal outputs are canonicalization-stable**: the driver compares via
  pandas, where Spark DECIMAL surfaces as ``Decimal`` objects but DuckDB
  DECIMAL/HUGEINT surface as float64 — numerically equal, hash-different.
  So every DECIMAL output column is cast to DOUBLE *after* the exact
  decimal aggregation (the same exact value, correctly rounded once, on
  both engines), and DuckDB integer SUMs are wrapped in CAST(.. AS BIGINT)
  to match Spark's LongType. tools/driver_check.py verifies this class.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from mapreduce_framework_spark.catalog import table
from mapreduce_framework_spark.functions.text import tokenize, tokenize_duckdb
from mapreduce_framework_spark.registry import register

DEC = "decimal(38,6)"


@register(
    "q11_filter_project",
    oracle="""
    SELECT l_orderkey, l_linenumber, l_quantity, l_extendedprice
    FROM lineitem
    WHERE l_shipdate >= TIMESTAMP '1997-01-01' AND l_shipdate < TIMESTAMP '1998-01-01'
    ORDER BY l_orderkey, l_linenumber
    """,
    tags=("ext", "scan"),
)
def q11_filter_project(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Filter + project with full pushdown: the parquet scan must show
    PushedFilters on l_shipdate and a 5-column ReadSchema (verified in
    tests/test_plans.py)."""
    li = table(spark, "lineitem", sf_dir)
    return (
        li.where(
            (F.col("l_shipdate") >= F.lit("1997-01-01").cast("timestamp"))
            & (F.col("l_shipdate") < F.lit("1998-01-01").cast("timestamp"))
        )
        .select("l_orderkey", "l_linenumber", "l_quantity", "l_extendedprice")
        .orderBy("l_orderkey", "l_linenumber")
    )


@register(
    "q12_join_revenue_per_nation",
    oracle=f"""
    SELECT n.n_name,
           CAST(SUM(CAST(l.l_extendedprice * (1 - l.l_discount) AS {DEC})) AS DOUBLE) AS revenue,
           COUNT(*) AS n_items
    FROM customer c
    JOIN orders o ON c.c_custkey = o.o_custkey
    JOIN lineitem l ON o.o_orderkey = l.l_orderkey
    JOIN nation n ON c.c_nationkey = n.n_nationkey
    GROUP BY n.n_name ORDER BY n.n_name
    """,
    tags=("ext", "join"),
)
def q12_join_revenue_per_nation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multi-way equi-join + agg (TPC-H Q5 shape). nation (25 rows) and
    customer are broadcast by AQE/size automatically; the lineitem⋈orders
    join shuffles on the order key — the only unavoidable shuffle."""
    c = table(spark, "customer", sf_dir)
    o = table(spark, "orders", sf_dir)
    li = table(spark, "lineitem", sf_dir)
    n = table(spark, "nation", sf_dir)
    return (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .join(c, o.o_custkey == c.c_custkey)
        .join(F.broadcast(n), c.c_nationkey == n.n_nationkey)
        .groupBy("n_name")
        .agg(
            F.sum((F.col("l_extendedprice") * (1 - F.col("l_discount"))).cast(DEC))
            .cast("double")
            .alias("revenue"),
            F.count(F.lit(1)).alias("n_items"),
        )
        .orderBy("n_name")
    )


@register(
    "q13_broadcast_join",
    oracle=f"""
    SELECT p.p_partkey,
           COUNT(*) AS n_items,
           CAST(SUM(CAST(l.l_quantity AS {DEC})) AS DOUBLE) AS sum_qty
    FROM lineitem l
    JOIN part p ON l.l_partkey = p.p_partkey
    WHERE p.p_size <= 5
    GROUP BY p.p_partkey ORDER BY p.p_partkey
    """,
    tags=("ext", "join", "broadcast"),
)
def q13_broadcast_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Explicit broadcast of the small filtered dim (reference has no joins;
    this is the 100 TB pattern: never shuffle the fact table for a dim that
    fits in memory)."""
    li = table(spark, "lineitem", sf_dir)
    p = table(spark, "part", sf_dir).where(F.col("p_size") <= 5)
    return (
        li.join(F.broadcast(p), li.l_partkey == p.p_partkey)
        .groupBy("p_partkey")
        .agg(
            F.count(F.lit(1)).alias("n_items"),
            F.sum(F.col("l_quantity").cast(DEC)).cast("double").alias("sum_qty"),
        )
        .orderBy("p_partkey")
    )


@register(
    "q14_semi_join",
    oracle="""
    SELECT c_custkey, c_name FROM customer
    WHERE c_custkey IN (SELECT o_custkey FROM orders)
    ORDER BY c_custkey
    """,
    tags=("ext", "join", "semi"),
)
def q14_semi_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Left-semi join: customers with ≥1 order."""
    c = table(spark, "customer", sf_dir)
    o = table(spark, "orders", sf_dir)
    return (
        c.join(o, c.c_custkey == o.o_custkey, "left_semi")
        .select("c_custkey", "c_name")
        .orderBy("c_custkey")
    )


@register(
    "q14_anti_join",
    oracle="""
    SELECT c_custkey, c_name FROM customer
    WHERE c_custkey NOT IN (SELECT o_custkey FROM orders)
    ORDER BY c_custkey
    """,
    tags=("ext", "join", "anti"),
)
def q14_anti_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Left-anti join: customers with no orders."""
    c = table(spark, "customer", sf_dir)
    o = table(spark, "orders", sf_dir)
    return (
        c.join(o, c.c_custkey == o.o_custkey, "left_anti")
        .select("c_custkey", "c_name")
        .orderBy("c_custkey")
    )


@register(
    "q15_tpch_q1_shape",
    oracle=f"""
    SELECT l_returnflag, l_linestatus,
           CAST(SUM(CAST(l_quantity AS {DEC})) AS DOUBLE) AS sum_qty,
           CAST(SUM(CAST(l_extendedprice AS {DEC})) AS DOUBLE) AS sum_base_price,
           CAST(SUM(CAST(l_extendedprice * (1 - l_discount) AS {DEC})) AS DOUBLE) AS sum_disc_price,
           CAST(SUM(CAST(l_extendedprice * (1 - l_discount) * (1 + l_tax) AS {DEC})) AS DOUBLE) AS sum_charge,
           CAST(CAST(CAST(SUM(CAST(l_quantity AS {DEC})) AS DOUBLE) / COUNT(*) AS DECIMAL(18,6)) AS DOUBLE) AS avg_qty,
           COUNT(*) AS count_order
    FROM lineitem
    WHERE l_shipdate <= TIMESTAMP '2001-09-01'
    GROUP BY l_returnflag, l_linestatus
    ORDER BY l_returnflag, l_linestatus
    """,
    tags=("ext", "agg"),
)
def q15_tpch_q1_shape(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q1 pricing summary. All sums over DECIMAL for cross-engine
    exactness; map-side partial aggregation keeps the shuffle tiny (6 groups)."""
    li = table(spark, "lineitem", sf_dir)
    agg = (
        li.where(F.col("l_shipdate") <= F.lit("2001-09-01").cast("timestamp"))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            F.sum(F.col("l_quantity").cast(DEC)).alias("sum_qty"),
            F.sum(F.col("l_extendedprice").cast(DEC)).alias("sum_base_price"),
            F.sum((F.col("l_extendedprice") * (1 - F.col("l_discount"))).cast(DEC)).alias("sum_disc_price"),
            F.sum(
                (
                    F.col("l_extendedprice")
                    * (1 - F.col("l_discount"))
                    * (1 + F.col("l_tax"))
                ).cast(DEC)
            ).alias("sum_charge"),
            F.count(F.lit(1)).alias("count_order"),
        )
    )
    return agg.select(
        "l_returnflag",
        "l_linestatus",
        F.col("sum_qty").cast("double").alias("sum_qty"),
        F.col("sum_base_price").cast("double").alias("sum_base_price"),
        F.col("sum_disc_price").cast("double").alias("sum_disc_price"),
        F.col("sum_charge").cast("double").alias("sum_charge"),
        (F.col("sum_qty").cast("double") / F.col("count_order"))
        .cast("decimal(18,6)")
        .cast("double")
        .alias("avg_qty"),
        "count_order",
    ).orderBy("l_returnflag", "l_linestatus")


@register(
    "q16_count_distinct",
    oracle="""
    SELECT o_orderpriority, COUNT(DISTINCT o_custkey) AS n_custs, COUNT(*) AS n_orders
    FROM orders GROUP BY o_orderpriority ORDER BY o_orderpriority
    """,
    tags=("ext", "agg", "distinct"),
)
def q16_count_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact COUNT(DISTINCT) — Spark plans expand+two-phase agg; the approx
    variant is q29."""
    o = table(spark, "orders", sf_dir)
    return (
        o.groupBy("o_orderpriority")
        .agg(
            F.count_distinct("o_custkey").alias("n_custs"),
            F.count(F.lit(1)).alias("n_orders"),
        )
        .orderBy("o_orderpriority")
    )


@register(
    "q17_rollup",
    oracle=f"""
    SELECT n.n_name, o.o_orderpriority,
           CAST(SUM(CAST(o.o_totalprice AS {DEC})) AS DOUBLE) AS total,
           COUNT(*) AS n_orders
    FROM orders o
    JOIN customer c ON o.o_custkey = c.c_custkey
    JOIN nation n ON c.c_nationkey = n.n_nationkey
    GROUP BY ROLLUP(n.n_name, o.o_orderpriority)
    ORDER BY n_name NULLS LAST, o_orderpriority NULLS LAST
    """,
    tags=("ext", "agg", "rollup"),
)
def q17_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hierarchical totals: (nation, priority) → nation subtotal → grand
    total. Spark's rollup is one shuffle with an Expand node, not three
    passes over the fact table."""
    o = table(spark, "orders", sf_dir)
    c = table(spark, "customer", sf_dir)
    n = table(spark, "nation", sf_dir)
    return (
        o.join(c, o.o_custkey == c.c_custkey)
        .join(F.broadcast(n), c.c_nationkey == n.n_nationkey)
        .rollup("n_name", "o_orderpriority")
        .agg(
            F.sum(F.col("o_totalprice").cast(DEC)).cast("double").alias("total"),
            F.count(F.lit(1)).alias("n_orders"),
        )
        .orderBy(
            F.col("n_name").asc_nulls_last(), F.col("o_orderpriority").asc_nulls_last()
        )
    )


@register(
    "q18_window_topk_per_group",
    oracle="""
    SELECT o_custkey, o_orderkey, o_totalprice, rn FROM (
      SELECT o_custkey, o_orderkey, o_totalprice,
             ROW_NUMBER() OVER (PARTITION BY o_custkey
                                ORDER BY o_totalprice DESC, o_orderkey) AS rn
      FROM orders
    ) WHERE rn <= 3
    ORDER BY o_custkey, rn
    """,
    tags=("ext", "window"),
)
def q18_window_topk_per_group(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-3 orders per customer via row_number. Catalyst inserts a window
    group limit (rank pushdown) before the shuffle on recent Spark versions."""
    o = table(spark, "orders", sf_dir)
    w = Window.partitionBy("o_custkey").orderBy(
        F.col("o_totalprice").desc(), F.col("o_orderkey")
    )
    return (
        o.select(
            "o_custkey", "o_orderkey", "o_totalprice", F.row_number().over(w).alias("rn")
        )
        .where(F.col("rn") <= 3)
        .orderBy("o_custkey", "rn")
    )


@register(
    "q19_window_running_sum",
    oracle="""
    SELECT o_custkey, o_orderkey, o_orderdate,
           CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) OVER (
             PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS DOUBLE) AS running_total
    FROM orders ORDER BY o_custkey, o_orderdate, o_orderkey
    """,
    tags=("ext", "window"),
)
def q19_window_running_sum(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Running per-customer total with an explicit ROWS frame. Decimal so the
    prefix sums are exact (window sum over double is engine-order-dependent)."""
    o = table(spark, "orders", sf_dir)
    w = (
        Window.partitionBy("o_custkey")
        .orderBy("o_orderdate", "o_orderkey")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return o.select(
        "o_custkey",
        "o_orderkey",
        "o_orderdate",
        F.sum(F.col("o_totalprice").cast("decimal(18,2)")).over(w).cast("double").alias("running_total"),
    ).orderBy("o_custkey", "o_orderdate", "o_orderkey")


@register(
    "q20_global_topk",
    oracle="""
    SELECT l_orderkey, l_linenumber, l_extendedprice
    FROM lineitem
    ORDER BY l_extendedprice DESC, l_orderkey, l_linenumber
    LIMIT 20
    """,
    tags=("ext", "topk"),
)
def q20_global_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Global top-20 with deterministic tie-breaks. Spark plans TakeOrderedAndProject:
    per-partition heap + driver merge of 20 rows — no global sort at any scale."""
    li = table(spark, "lineitem", sf_dir)
    return (
        li.select("l_orderkey", "l_linenumber", "l_extendedprice")
        .orderBy(F.col("l_extendedprice").desc(), "l_orderkey", "l_linenumber")
        .limit(20)
    )


@register(
    "q21_set_ops",
    oracle="""
    WITH a AS (SELECT c_custkey FROM customer WHERE c_custkey < 1000),
         b AS (SELECT c_custkey FROM customer WHERE c_custkey >= 500)
    SELECT 'union_all' AS op, count(*) AS cnt FROM (SELECT * FROM a UNION ALL SELECT * FROM b)
    UNION ALL
    SELECT 'intersect', count(*) FROM (SELECT * FROM a INTERSECT SELECT * FROM b)
    UNION ALL
    SELECT 'except', count(*) FROM (SELECT * FROM a EXCEPT SELECT * FROM b)
    ORDER BY op
    """,
    tags=("ext", "setop"),
)
def q21_set_ops(spark: SparkSession, sf_dir: str) -> DataFrame:
    """UNION ALL / INTERSECT / EXCEPT over two key ranges, as labeled counts."""
    c = table(spark, "customer", sf_dir)
    a = c.where(F.col("c_custkey") < 1000).select("c_custkey")
    b = c.where(F.col("c_custkey") >= 500).select("c_custkey")
    spark_rows = [
        a.unionAll(b).agg(F.count(F.lit(1)).alias("cnt")).select(F.lit("union_all").alias("op"), "cnt"),
        a.intersect(b).agg(F.count(F.lit(1)).alias("cnt")).select(F.lit("intersect").alias("op"), "cnt"),
        a.subtract(b).agg(F.count(F.lit(1)).alias("cnt")).select(F.lit("except").alias("op"), "cnt"),
    ]
    out = spark_rows[0]
    for part in spark_rows[1:]:
        out = out.unionAll(part)
    return out.orderBy("op")


@register(
    "q22_scalar_battery",
    oracle="""
    SELECT o_orderkey,
           substr(o_orderpriority, 1, 1) AS prio_code,
           upper(o_orderstatus) AS status_u,
           length(o_orderpriority) AS prio_len,
           o_orderstatus || '/' || o_orderpriority AS status_prio,
           CAST(year(o_orderdate) AS INT) AS yr,
           CAST(month(o_orderdate) AS INT) AS mo,
           CAST(datediff('day', DATE '1995-01-01', CAST(o_orderdate AS DATE)) AS INT) AS days_since,
           CAST(round(CAST(o_totalprice AS DECIMAL(18,2)), 1) AS DOUBLE) AS price_r1,
           abs(o_custkey - 750) AS key_dist,
           o_orderkey % 7 AS key_mod
    FROM orders ORDER BY o_orderkey
    """,
    tags=("ext", "scalar"),
)
def q22_scalar_battery(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Scalar function battery: string, date, math — all whole-stage-codegen
    built-ins (the reference's apps use raw Go stdlib for this, SURVEY §2.4)."""
    o = table(spark, "orders", sf_dir)
    return o.select(
        "o_orderkey",
        F.substring("o_orderpriority", 1, 1).alias("prio_code"),
        F.upper("o_orderstatus").alias("status_u"),
        F.length("o_orderpriority").alias("prio_len"),
        F.concat_ws("/", "o_orderstatus", "o_orderpriority").alias("status_prio"),
        F.year("o_orderdate").cast("int").alias("yr"),
        F.month("o_orderdate").cast("int").alias("mo"),
        F.datediff(F.col("o_orderdate").cast("date"), F.lit("1995-01-01").cast("date"))
        .cast("int")
        .alias("days_since"),
        F.round(F.col("o_totalprice").cast("decimal(18,2)"), 1).cast("double").alias("price_r1"),
        F.abs(F.col("o_custkey") - 750).alias("key_dist"),
        (F.col("o_orderkey") % 7).alias("key_mod"),
    ).orderBy("o_orderkey")


@register(
    "q23_array_functions",
    oracle=f"""
    WITH t AS (
      SELECT doc_id,
             {tokenize_duckdb("text")} AS toks
      FROM documents
    )
    SELECT doc_id,
           len(toks) AS n_tokens,
           len(list_distinct(toks)) AS n_distinct,
           list_contains(toks, 'data') AS has_data,
           array_to_string(list_sort(list_distinct(toks))[1:3], ',') AS first3
    FROM t ORDER BY doc_id
    """,
    tags=("ext", "array"),
)
def q23_array_functions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Array function battery over tokenized documents: size, distinct,
    contains, sort+slice+join."""
    docs = table(spark, "documents", sf_dir)
    toks = tokenize("text")
    return docs.select(
        "doc_id",
        F.size(toks).alias("n_tokens"),
        F.size(F.array_distinct(toks)).alias("n_distinct"),
        F.array_contains(toks, "data").alias("has_data"),
        F.array_join(F.slice(F.array_sort(F.array_distinct(toks)), 1, 3), ",").alias("first3"),
    ).orderBy("doc_id")


def q29_approx_count_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HyperLogLog++ approximate distinct customers per priority
    (rsd=0.05). RETIRED round 12 (registry.py RETIRED) to fund
    q109_multimodal_phash_neardup: as a rows-only sketch it was a
    permanent `err: no_oracle` driver row, while its *hard* exact gate
    q74_hll_error_bound — which encodes the tolerance as an exact
    boolean oracle — stays registered. The builder stays per retirement
    policy item 4; tests/test_probes.py::test_q29_within_rsd_bound keeps
    checking it against the exact q16 within tolerance every run. At
    100 TB this replaces q16's exact expand+shuffle with a fixed-size
    sketch."""
    o = table(spark, "orders", sf_dir)
    return (
        o.groupBy("o_orderpriority")
        .agg(F.approx_count_distinct("o_custkey", 0.05).alias("n_custs_approx"))
        .orderBy("o_orderpriority")
    )


@register(
    "q44_map_functions",
    oracle="""
    WITH m AS (
      SELECT doc_id,
             map(['lang', 'source'], [lang, source]) AS meta,
             map_from_entries([('chars', n_chars), ('id', doc_id)]) AS nums
      FROM documents
    )
    SELECT doc_id,
           meta['lang'][1] AS meta_lang,
           meta['source'][1] AS meta_source,
           nums['chars'][1] AS meta_chars,
           CAST(cardinality(meta) AS INT) AS meta_size
    FROM m ORDER BY doc_id
    """,
    tags=("ext", "map"),
)
def q44_map_functions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Map-type function battery: map_from_arrays / map_from_entries
    construction, element_at extraction, map_size — scalar outputs so the
    cross-engine comparison is type-stable (DuckDB map extraction returns
    lists; its oracle indexes [1])."""
    d = table(spark, "documents", sf_dir)
    meta = F.map_from_arrays(
        F.array(F.lit("lang"), F.lit("source")), F.array("lang", "source")
    )
    nums = F.map_from_entries(
        F.array(
            F.struct(F.lit("chars").alias("k"), F.col("n_chars").alias("v")),
            F.struct(F.lit("id").alias("k"), F.col("doc_id").alias("v")),
        )
    )
    return d.select(
        "doc_id",
        F.element_at(meta, "lang").alias("meta_lang"),
        F.element_at(meta, "source").alias("meta_source"),
        F.element_at(nums, "chars").alias("meta_chars"),
        F.size(meta).cast("int").alias("meta_size"),
    ).orderBy("doc_id")


@register(
    "q45_cube",
    oracle=f"""
    SELECT o_orderstatus, o_orderpriority,
           CAST(SUM(CAST(o_totalprice AS {DEC})) AS DOUBLE) AS total,
           COUNT(*) AS n_orders
    FROM orders
    GROUP BY CUBE(o_orderstatus, o_orderpriority)
    ORDER BY o_orderstatus NULLS LAST, o_orderpriority NULLS LAST
    """,
    tags=("ext", "agg", "cube"),
)
def q45_cube(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CUBE over (status, priority): all 4 grouping-set combinations in one
    Expand+aggregate pass (completes the grouping-sets family with q17's
    rollup)."""
    o = table(spark, "orders", sf_dir)
    return (
        o.cube("o_orderstatus", "o_orderpriority")
        .agg(
            F.sum(F.col("o_totalprice").cast(DEC)).cast("double").alias("total"),
            F.count(F.lit(1)).alias("n_orders"),
        )
        .orderBy(
            F.col("o_orderstatus").asc_nulls_last(),
            F.col("o_orderpriority").asc_nulls_last(),
        )
    )


@register(
    "q68_merge_upsert",
    oracle="""
    WITH changes AS (
      SELECT user_id * 8 AS c_custkey,
             SUM(CAST(value AS DECIMAL(38,6))) AS new_bal
      FROM events WHERE event_type = 'purchase' GROUP BY user_id
    )
    SELECT COALESCE(b.c_custkey, ch.c_custkey) AS c_custkey,
           COALESCE(b.c_name, 'NEW#' || CAST(ch.c_custkey AS VARCHAR)) AS c_name,
           CAST(CASE WHEN ch.c_custkey IS NOT NULL THEN CAST(ch.new_bal AS DECIMAL(18,2))
                ELSE CAST(b.c_acctbal AS DECIMAL(18,2)) END AS DOUBLE) AS c_acctbal,
           CASE WHEN b.c_custkey IS NULL THEN 'insert'
                WHEN ch.c_custkey IS NULL THEN 'keep'
                ELSE 'update' END AS action
    FROM customer b FULL OUTER JOIN changes ch ON b.c_custkey = ch.c_custkey
    ORDER BY c_custkey
    """,
    tags=("ext", "merge", "upsert"),
)
def q68_merge_upsert(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MERGE/upsert as a full-outer join + coalesce: apply a changes table
    (per-user purchase totals, keys deliberately straddling the existing
    range so both updates and inserts occur) onto the customer base —
    matched rows update, unmatched-source rows insert, unmatched-target
    rows keep. The lakehouse MERGE INTO pattern without a table format."""
    ev = table(spark, "events", sf_dir)
    base = table(spark, "customer", sf_dir)
    changes = (
        ev.where(F.col("event_type") == "purchase")
        .groupBy((F.col("user_id") * 8).alias("ch_key"))
        .agg(F.sum(F.col("value").cast("decimal(38,6)")).alias("new_bal"))
    )
    j = base.join(changes, base.c_custkey == changes.ch_key, "full_outer")
    return j.select(
        F.coalesce("c_custkey", "ch_key").alias("c_custkey"),
        F.coalesce(
            "c_name", F.concat(F.lit("NEW#"), F.col("ch_key").cast("string"))
        ).alias("c_name"),
        F.when(
            F.col("ch_key").isNotNull(), F.col("new_bal").cast("decimal(18,2)")
        )
        .otherwise(F.col("c_acctbal").cast("decimal(18,2)"))
        .cast("double")
        .alias("c_acctbal"),
        F.when(F.col("c_custkey").isNull(), "insert")
        .when(F.col("ch_key").isNull(), "keep")
        .otherwise("update")
        .alias("action"),
    ).orderBy("c_custkey")


@register(
    "q69_approx_percentiles",
    oracle=None,  # sketch-based; bounds asserted in tests/test_probes.py
    tags=("ext", "agg", "approx", "percentile"),
)
def q69_approx_percentiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """approx_percentile (Greenwald-Khanna sketch): the 100 TB replacement
    for q54's exact per-group sort — fixed-memory, mergeable. Emitted as
    two scalar columns (not one ARRAY column): the driver's rows-only
    canonicalizer sorts cell values and dies on unhashable lists. The hard
    driver gate for this sketch is q75_percentile_sketch_bound."""
    li = table(spark, "lineitem", sf_dir)
    return (
        li.groupBy("l_returnflag")
        .agg(
            F.expr("approx_percentile(l_extendedprice, 0.5, 1000)").alias("p50"),
            F.expr("approx_percentile(l_extendedprice, 0.99, 1000)").alias("p99"),
        )
        .orderBy("l_returnflag")
    )


@register(
    "q74_hll_error_bound",
    # The tolerance gate is computed Spark-side as a boolean; the oracle
    # pins the exact counts and asserts the boolean is TRUE — giving the
    # approximate-aggregate family a *hard* driver correctness row instead
    # of a rows-only check (the driver cannot express numeric tolerance).
    oracle="""
    SELECT o_orderpriority,
           COUNT(DISTINCT o_custkey) AS n_custs,
           TRUE AS hll_within_15pct
    FROM orders GROUP BY o_orderpriority ORDER BY o_orderpriority
    """,
    tags=("ext", "agg", "approx", "sketch-bound"),
)
def q74_hll_error_bound(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HyperLogLog++ validity gate: exact COUNT(DISTINCT) next to a boolean
    asserting the rsd=0.05 sketch landed within 15% of it. If the sketch
    ever drifts outside the bound the boolean flips and the driver's hash
    check fails — tolerance checking expressed in exact arithmetic."""
    o = table(spark, "orders", sf_dir)
    return (
        o.groupBy("o_orderpriority")
        .agg(
            F.count_distinct("o_custkey").alias("n_custs"),
            (
                F.abs(
                    F.approx_count_distinct("o_custkey", 0.05)
                    - F.count_distinct("o_custkey")
                )
                <= F.count_distinct("o_custkey") * 0.15
            ).alias("hll_within_15pct"),
        )
        .orderBy("o_orderpriority")
    )


# q75 margin constants. RECOVERY PATH if the driver hash for q75 ever
# fails (a Spark version changing approx_percentile internals, or
# regenerated testdata with a rougher distribution, can flip a boolean):
# widen these margins — the gate is "sketch within margin", and the margin
# is a documented engineering tolerance, not a semantic constant. The
# actual-vs-allowed error is printed by
# tests/test_scale_patterns.py::test_q75_margin_headroom so a flip is
# diagnosable before it reaches the driver (GK guarantees rank error
# <= 1/accuracy = 0.1% of rows for any merge order; the margins below hold
# ~10-100x headroom over that on the current data).
Q75_ACCURACY = 1000  # GK accuracy parameter: rank error <= N/1000
Q75_P99_MARGIN = 0.05  # |approx_p99 - exact_p99| <= margin * exact_p99


@register(
    "q75_percentile_sketch_bound",
    oracle="""
    SELECT l_returnflag,
           TRUE AS p50_in_iqr,
           TRUE AS p99_within_5pct
    FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag
    """,
    tags=("ext", "agg", "approx", "percentile", "sketch-bound"),
)
def q75_percentile_sketch_bound(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Greenwald-Khanna sketch validity gate (q69's driver-checkable twin):
    booleans asserting the approximate p50 lies inside the exact IQR and
    the approximate p99 is within Q75_P99_MARGIN of the exact p99. Both
    percentiles (exact and sketch) are computed in the same single
    aggregation pass.

    Determinism: GK sketch merge order varies with shuffle arrival, but
    the algorithm's invariant bounds rank error at N/Q75_ACCURACY = 0.1%
    for ANY valid merge — orders of magnitude inside both margins here
    (the full IQR for p50; Q75_P99_MARGIN of value for p99 on this smooth
    distribution). The booleans therefore cannot flip across runs; if the
    environment ever changes underneath them, see the RECOVERY PATH note
    at the margin constants above."""
    li = table(spark, "lineitem", sf_dir)
    return (
        li.groupBy("l_returnflag")
        .agg(
            F.expr(
                f"approx_percentile(l_extendedprice, 0.5, {Q75_ACCURACY}) "
                "BETWEEN percentile(l_extendedprice, 0.25) "
                "AND percentile(l_extendedprice, 0.75)"
            ).alias("p50_in_iqr"),
            F.expr(
                f"abs(approx_percentile(l_extendedprice, 0.99, {Q75_ACCURACY}) "
                "- percentile(l_extendedprice, 0.99)) "
                f"<= {Q75_P99_MARGIN} * percentile(l_extendedprice, 0.99)"
            ).alias("p99_within_5pct"),
        )
        .orderBy("l_returnflag")
    )
