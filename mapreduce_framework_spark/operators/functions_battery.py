"""Extended function coverage — window analytics battery, pivot,
vectorized pandas UDF path, and null-handling semantics (all [EXT];
the reference's scalar surface is raw Go stdlib inside map/reduce fns,
SURVEY §2.4).
"""

from __future__ import annotations

from collections.abc import Iterator

import pandas as pd
from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from mapreduce_framework_spark.catalog import table
from mapreduce_framework_spark.functions.text import tokenize, tokenize_duckdb
from mapreduce_framework_spark.registry import register


@register(
    "q50_window_battery",
    oracle="""
    SELECT o_custkey, o_orderkey,
           lag(o_orderkey) OVER w AS prev_order,
           lead(o_orderkey) OVER w AS next_order,
           first_value(o_orderkey) OVER w AS first_order,
           CAST(ntile(4) OVER w AS INT) AS quartile,
           CAST(count(*) OVER (PARTITION BY o_custkey) AS BIGINT) AS n_orders
    FROM orders
    WINDOW w AS (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey)
    ORDER BY o_custkey, o_orderdate, o_orderkey
    """,
    tags=("ext", "window"),
)
def q50_window_battery(spark: SparkSession, sf_dir: str) -> DataFrame:
    """lag/lead/first_value/ntile/partition-count in one windowed pass."""
    o = table(spark, "orders", sf_dir)
    w = Window.partitionBy("o_custkey").orderBy("o_orderdate", "o_orderkey")
    return o.select(
        "o_custkey",
        "o_orderkey",
        F.lag("o_orderkey").over(w).alias("prev_order"),
        F.lead("o_orderkey").over(w).alias("next_order"),
        F.first("o_orderkey").over(w).alias("first_order"),
        F.ntile(4).over(w).cast("int").alias("quartile"),
        F.count(F.lit(1)).over(Window.partitionBy("o_custkey")).alias("n_orders"),
    ).orderBy("o_custkey", "o_orderdate", "o_orderkey")


@register(
    "q51_pivot",
    oracle="""
    SELECT user_id,
           CAST(SUM(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END) AS BIGINT) AS click,
           CAST(SUM(CASE WHEN event_type = 'error' THEN 1 ELSE 0 END) AS BIGINT) AS error,
           CAST(SUM(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) AS BIGINT) AS purchase,
           CAST(SUM(CASE WHEN event_type = 'signup' THEN 1 ELSE 0 END) AS BIGINT) AS signup,
           CAST(SUM(CASE WHEN event_type = 'view' THEN 1 ELSE 0 END) AS BIGINT) AS view
    FROM events GROUP BY user_id ORDER BY user_id
    """,
    tags=("ext", "pivot"),
)
def q51_pivot(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pivot event counts to one column per type. With explicit pivot values
    Spark skips the extra distinct-values job — at 100 TB always pass the
    value list."""
    ev = table(spark, "events", sf_dir)
    types = ["click", "error", "purchase", "signup", "view"]
    out = (
        ev.groupBy("user_id")
        .pivot("event_type", types)
        .agg(F.count(F.lit(1)))
    )
    # pivot yields nulls for absent combos; the CASE oracle yields 0
    return out.select(
        "user_id", *[F.coalesce(F.col(t), F.lit(0)).alias(t) for t in types]
    ).orderBy("user_id")


def _zscore_batches(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
    """Deterministic per-row transform in vectorized Python: scaled price.
    (Stateless — safe to run per Arrow batch.)"""
    for pdf in batches:
        out = pdf[["o_orderkey"]].copy()
        out["price_scaled"] = (pdf["o_totalprice"] * 100.0).astype("int64")
        yield out


@register(
    "q52_pandas_udf_path",
    oracle="""
    SELECT o_orderkey,
           CAST(trunc(o_totalprice * 100.0) AS BIGINT) AS price_scaled
    FROM orders ORDER BY o_orderkey
    """,
    tags=("ext", "udf", "arrow"),
)
def q52_pandas_udf_path(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The sanctioned Python escape hatch: Arrow-batched mapInPandas doing a
    vectorized numpy transform, oracle-checked against the equivalent SQL.
    (int64 cast of double*100 == SQL trunc: both truncate toward zero on
    identical IEEE products.)"""
    from mapreduce_framework_spark.deploy import ensure_package_on_executors

    ensure_package_on_executors(spark)
    o = table(spark, "orders", sf_dir).select("o_orderkey", "o_totalprice")
    return o.mapInPandas(
        _zscore_batches, schema="o_orderkey long, price_scaled long"
    ).orderBy("o_orderkey")


@register(
    "q53_null_handling",
    oracle="""
    WITH j AS (
      SELECT c.c_custkey, c.c_acctbal, o.o_orderkey, o.o_totalprice
      FROM customer c
      LEFT JOIN (SELECT * FROM orders WHERE o_totalprice > 400000) o
        ON c.c_custkey = o.o_custkey
    )
    SELECT c_custkey,
           coalesce(o_orderkey, -1) AS order_or_default,
           (o_orderkey IS NULL) AS has_no_big_order,
           CAST(nullif(CAST(c_acctbal AS DECIMAL(18,2)), 0.00) AS DOUBLE) AS bal_nullable,
           CASE WHEN o_totalprice IS NULL THEN 'none' ELSE 'big' END AS bucket
    FROM j ORDER BY c_custkey, order_or_default
    """,
    tags=("ext", "nulls"),
)
def q53_null_handling(spark: SparkSession, sf_dir: str) -> DataFrame:
    """NULL semantics battery over an outer join: coalesce, IS NULL,
    nullif, CASE on nullable columns."""
    c = table(spark, "customer", sf_dir)
    o = table(spark, "orders", sf_dir).where(F.col("o_totalprice") > 400000)
    j = c.join(o, c.c_custkey == o.o_custkey, "left")
    return j.select(
        "c_custkey",
        F.coalesce("o_orderkey", F.lit(-1)).alias("order_or_default"),
        F.col("o_orderkey").isNull().alias("has_no_big_order"),
        F.nullif(F.col("c_acctbal").cast("decimal(18,2)"), F.lit(0.00).cast("decimal(18,2)"))
        .cast("double")
        .alias("bal_nullable"),
        F.when(F.col("o_totalprice").isNull(), "none").otherwise("big").alias("bucket"),
    ).orderBy("c_custkey", "order_or_default")


@register(
    "q54_percentiles",
    oracle="""
    SELECT l_returnflag,
           quantile_cont(l_quantity, 0.5) AS median_qty,
           quantile_cont(l_extendedprice, 0.25) AS p25_price,
           quantile_cont(l_extendedprice, 0.75) AS p75_price,
           quantile_cont(l_extendedprice, 0.99) AS p99_price
    FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag
    """,
    tags=("ext", "agg", "percentile"),
)
def q54_percentiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact percentiles with linear interpolation (Spark `percentile` ==
    DuckDB `quantile_cont`, verified bit-exact). At 100 TB swap for
    approx_percentile (t-digest) — exact percentile sorts each group."""
    li = table(spark, "lineitem", sf_dir)
    return (
        li.groupBy("l_returnflag")
        .agg(
            F.expr("percentile(l_quantity, 0.5)").alias("median_qty"),
            F.expr("percentile(l_extendedprice, 0.25)").alias("p25_price"),
            F.expr("percentile(l_extendedprice, 0.75)").alias("p75_price"),
            F.expr("percentile(l_extendedprice, 0.99)").alias("p99_price"),
        )
        .orderBy("l_returnflag")
    )


@register(
    "q59_string_battery",
    oracle="""
    SELECT c_custkey,
           levenshtein(c_mktsegment, 'MACHINERY') AS seg_dist,
           lpad(CAST(c_custkey AS VARCHAR), 8, '0') AS key_padded,
           rpad(c_mktsegment, 12, '.') AS seg_padded,
           translate(c_mktsegment, 'AEIOU', 'aeiou') AS seg_lowervowel,
           repeat('*', CAST(c_custkey % 4 AS INT)) AS stars,
           reverse(c_mktsegment) AS seg_rev,
           split_part(c_name, '#', 2) AS name_num,
           trim(concat(' ', c_mktsegment, ' ')) AS seg_trim
    FROM customer ORDER BY c_custkey
    """,
    tags=("ext", "scalar", "string"),
)
def q59_string_battery(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Second string battery: edit distance, padding, translate, repeat,
    reverse, split_part, trim — all codegen'd built-ins."""
    c = table(spark, "customer", sf_dir)
    return c.select(
        "c_custkey",
        F.levenshtein("c_mktsegment", F.lit("MACHINERY")).alias("seg_dist"),
        F.lpad(F.col("c_custkey").cast("string"), 8, "0").alias("key_padded"),
        F.rpad("c_mktsegment", 12, ".").alias("seg_padded"),
        F.translate("c_mktsegment", "AEIOU", "aeiou").alias("seg_lowervowel"),
        F.repeat(F.lit("*"), (F.col("c_custkey") % 4).cast("int")).alias("stars"),
        F.reverse("c_mktsegment").alias("seg_rev"),
        F.split_part("c_name", F.lit("#"), F.lit(2)).alias("name_num"),
        F.trim(F.concat(F.lit(" "), F.col("c_mktsegment"), F.lit(" "))).alias("seg_trim"),
    ).orderBy("c_custkey")


@register(
    "q60_grouping_sets",
    oracle="""
    SELECT o_orderstatus, o_orderpriority, COUNT(*) AS n
    FROM orders
    GROUP BY GROUPING SETS ((o_orderstatus), (o_orderpriority), ())
    ORDER BY o_orderstatus NULLS LAST, o_orderpriority NULLS LAST
    """,
    tags=("ext", "agg", "grouping-sets"),
)
def q60_grouping_sets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Explicit GROUPING SETS (neither pure rollup nor cube): per-status,
    per-priority, and grand total in one Expand pass."""
    from mapreduce_framework_spark.catalog import register_views

    register_views(spark, sf_dir)
    return spark.sql(
        """
        SELECT o_orderstatus, o_orderpriority, COUNT(*) AS n
        FROM orders
        GROUP BY GROUPING SETS ((o_orderstatus), (o_orderpriority), ())
        ORDER BY o_orderstatus NULLS LAST, o_orderpriority NULLS LAST
        """
    )


@register(
    "q61_correlated_subqueries",
    oracle="""
    SELECT c_custkey, c_name FROM customer c
    WHERE EXISTS (SELECT 1 FROM orders o
                  WHERE o.o_custkey = c.c_custkey AND o.o_totalprice > 450000)
      AND c_acctbal > (SELECT AVG(c_acctbal) FROM customer)
    ORDER BY c_custkey
    """,
    tags=("ext", "sql", "subquery"),
)
def q61_correlated_subqueries(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Correlated EXISTS + scalar subquery — Catalyst decorrelates to a
    semi-join + broadcast scalar, no per-row re-execution."""
    from mapreduce_framework_spark.catalog import register_views

    register_views(spark, sf_dir)
    return spark.sql(
        """
        SELECT c_custkey, c_name FROM customer c
        WHERE EXISTS (SELECT 1 FROM orders o
                      WHERE o.o_custkey = c.c_custkey AND o.o_totalprice > 450000)
          AND c_acctbal > (SELECT AVG(c_acctbal) FROM customer)
        ORDER BY c_custkey
        """
    )


# RETIRED from the registry in round 10 (registry.py policy item 4; its
# slot funded q107_decontaminating_admission — q63's positional-explode
# surface is subsumed by q23's array battery). Builder + oracle stay
# permanently; dedicated differential:
# tests/test_queries_oracle.py::test_retired_q63_matches_oracle.
_Q63_POSEXPLODE_ORACLE = f"""
    WITH t AS (
      SELECT doc_id,
             {tokenize_duckdb("text")} AS toks
      FROM documents WHERE doc_id < 20
    ),
    p AS (
      SELECT doc_id,
             unnest(list_transform(range(1, len(toks) + 1),
                                   i -> {{'pos': i - 1, 'word': toks[i]}})) AS u
      FROM t
    )
    SELECT doc_id, CAST(u.pos AS INT) AS pos, u.word AS word
    FROM p ORDER BY doc_id, pos
    """


def q63_posexplode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Positional explode (lateral view): token with its 0-based position
    (oracle builds {pos, word} structs and unnests — this DuckDB build has
    no WITH ORDINALITY)."""
    docs = table(spark, "documents", sf_dir).where(F.col("doc_id") < 20)
    return (
        docs.select("doc_id", F.posexplode(tokenize("text")).alias("pos", "word"))
        .select("doc_id", F.col("pos").cast("int"), "word")
        .orderBy("doc_id", "pos")
    )


@register(
    "q64_summary_stats",
    oracle="""
    WITH s AS (
      SELECT l_returnflag,
             COUNT(*) AS n,
             SUM(CAST(l_quantity AS DECIMAL(38,6))) AS sx,
             SUM(CAST(l_quantity AS DECIMAL(38,6)) * CAST(l_quantity AS DECIMAL(38,6))) AS sxx,
             MIN(l_quantity) AS min_qty,
             MAX(l_quantity) AS max_qty
      FROM lineitem GROUP BY l_returnflag
    )
    SELECT l_returnflag, n, min_qty, max_qty,
           CAST(CAST((CAST(sxx AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE) / n)
                / (n - 1) AS DECIMAL(18,6)) AS DOUBLE) AS var_qty
    FROM s ORDER BY l_returnflag
    """,
    tags=("ext", "agg", "stats"),
)
def q64_summary_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Summary statistics with a cross-engine-exact variance: decimal sums
    of x and x² (order-independent), variance assembled in identical IEEE
    double ops — the pattern for any moment-based statistic where naive
    stddev_samp would be engine-order-dependent."""
    li = table(spark, "lineitem", sf_dir)
    dec = F.col("l_quantity").cast("decimal(38,6)")
    s = li.groupBy("l_returnflag").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(dec).alias("sx"),
        F.sum(dec * dec).alias("sxx"),
        F.min("l_quantity").alias("min_qty"),
        F.max("l_quantity").alias("max_qty"),
    )
    var = (
        (F.col("sxx").cast("double") - F.col("sx").cast("double") * F.col("sx").cast("double") / F.col("n"))
        / (F.col("n") - 1)
    ).cast("decimal(18,6)").cast("double")
    return s.select(
        "l_returnflag", "n", "min_qty", "max_qty", var.alias("var_qty")
    ).orderBy("l_returnflag")


@register(
    "q66_json_functions",
    oracle="""
    SELECT event_type,
           COUNT(*) AS n,
           CAST(SUM(CAST(json_extract_string(props, '$.k') AS BIGINT)) AS BIGINT) AS sum_k,
           MIN(CAST(json_extract_string(props, '$.k') AS BIGINT)) AS min_k,
           MAX(CAST(json_extract_string(props, '$.k') AS BIGINT)) AS max_k
    FROM events GROUP BY event_type ORDER BY event_type
    """,
    tags=("ext", "json"),
)
def q66_json_functions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Semi-structured JSON column handling: extract a field from the
    `props` JSON payload and aggregate it (integer path ⇒ exact)."""
    ev = table(spark, "events", sf_dir)
    k = F.get_json_object("props", "$.k").cast("bigint")
    return (
        ev.groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(k).alias("sum_k"),
            F.min(k).alias("min_k"),
            F.max(k).alias("max_k"),
        )
        .orderBy("event_type")
    )


@register(
    "q67_multiset_ops",
    oracle="""
    WITH a AS (SELECT user_id % 20 AS k FROM events WHERE event_type = 'click'),
         b AS (SELECT user_id % 20 AS k FROM events WHERE event_type = 'view')
    SELECT 'union_all' AS op, count(*) AS cnt FROM (SELECT * FROM a UNION ALL SELECT * FROM b)
    UNION ALL
    SELECT 'intersect_all', count(*) FROM (SELECT * FROM a INTERSECT ALL SELECT * FROM b)
    UNION ALL
    SELECT 'except_all', count(*) FROM (SELECT * FROM a EXCEPT ALL SELECT * FROM b)
    ORDER BY op
    """,
    tags=("ext", "setop", "multiset"),
)
def q67_multiset_ops(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bag (multiset) semantics: INTERSECT ALL / EXCEPT ALL preserve
    duplicate multiplicities (q21 covered the distinct-set forms)."""
    ev = table(spark, "events", sf_dir)
    a = ev.where(F.col("event_type") == "click").select((F.col("user_id") % 20).alias("k"))
    b = ev.where(F.col("event_type") == "view").select((F.col("user_id") % 20).alias("k"))
    parts = [
        a.unionAll(b).agg(F.count(F.lit(1)).alias("cnt")).select(F.lit("union_all").alias("op"), "cnt"),
        a.intersectAll(b).agg(F.count(F.lit(1)).alias("cnt")).select(F.lit("intersect_all").alias("op"), "cnt"),
        a.exceptAll(b).agg(F.count(F.lit(1)).alias("cnt")).select(F.lit("except_all").alias("op"), "cnt"),
    ]
    out = parts[0]
    for p in parts[1:]:
        out = out.unionAll(p)
    return out.orderBy("op")


@register(
    "q70_grouped_agg_pandas_udf",
    oracle="""
    SELECT l_returnflag,
           CAST(CAST(CAST(SUM(CAST(round(l_extendedprice * 100) AS BIGINT) * CAST(l_quantity AS BIGINT)) AS DOUBLE)
                / SUM(CAST(l_quantity AS BIGINT)) AS DECIMAL(18,4)) AS DOUBLE) AS wavg_price_cents
    FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag
    """,
    tags=("ext", "udf", "udaf", "arrow"),
)
def q70_grouped_agg_pandas_udf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Custom aggregate (UDAF) as a GROUPED_AGG pandas UDF: quantity-
    weighted average price in integer cents. Completes the Python UDF
    taxonomy (scalar mapInPandas=q52, grouped-map applyInPandas=q28,
    grouped-agg=this). Integer accumulation in numpy ⇒ engine-exact; the
    final division is one IEEE op on identical ints."""
    import pandas as pd  # noqa: F401  (pandas_udf type resolution)
    from pyspark.sql.functions import pandas_udf

    from mapreduce_framework_spark.deploy import ensure_package_on_executors

    ensure_package_on_executors(spark)

    @pandas_udf("double")
    def wavg_cents(price: pd.Series, qty: pd.Series) -> float:
        cents = (price * 100).round().astype("int64")
        q = qty.astype("int64")
        return float((cents * q).sum()) / float(q.sum())

    li = table(spark, "lineitem", sf_dir)
    return (
        li.groupBy("l_returnflag")
        .agg(
            wavg_cents("l_extendedprice", "l_quantity")
            .cast("decimal(18,4)")
            .cast("double")
            .alias("wavg_price_cents")
        )
        .orderBy("l_returnflag")
    )
